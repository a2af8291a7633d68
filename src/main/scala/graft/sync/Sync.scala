package graft.sync

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.embed.Embedder
import graft.ingest.{Ingest, SyncState}
import graft.sources.ExportClient

/** Parquet-backed highlight store with atomic replace (SURVEY.md §7.4:
  * plain-parquet overwrite is not transactional). Versioned layout: data
  * lands in immutable `v-<nanos>` directories and a `CURRENT` pointer file
  * names the live one; the commit is ONE atomic file rename, so readers
  * always resolve a complete version — there is no window with no store
  * and a crash mid-commit leaves the previous version live (the
  * single-file rendition of a Delta/Iceberg manifest pointer).
  *
  * All pointer/listing IO goes through the Hadoop FileSystem API, so the
  * store root can be any cluster URI (`hdfs://…`, `s3a://…`); the commit
  * rename goes through [[FsUtil.atomicReplace]] — java.nio ATOMIC_MOVE on
  * local filesystems (where Hadoop's own overwrite-rename degrades to
  * delete+rename), FileContext OVERWRITE rename on HDFS. */
object HighlightStore {
  import org.apache.hadoop.fs.{FileSystem, Path => HPath}

  private def fsFor(spark: SparkSession, p: HPath): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readString(fs: FileSystem, p: HPath): String =
    scala.util.Using.resource(fs.open(p)) { in =>
      new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    }

  private def resolveCurrent(fs: FileSystem, root: HPath): Option[HPath] = {
    val ptr = new HPath(root, "CURRENT")
    if (fs.exists(ptr)) {
      val name = readString(fs, ptr).trim
      Some(new HPath(root, name)).filter(fs.exists)
    } else {
      // pre-pointer layout compatibility
      Some(new HPath(root, "current")).filter(fs.exists)
    }
  }

  /** Read the live store version. A store written with `fp16 = true` is
    * decoded transparently: the at-rest `emb16` BINARY column surfaces as
    * `embedding ARRAY<FLOAT>` with `fp16_decode` in the plan, so
    * [[graft.functions.FuseFp16Cosine]] rewrites a downstream
    * `cosine_distance` into the one-pass `fp16_cosine_distance` kernel —
    * callers (search, upsert-merge) are storage-layout agnostic. */
  def read(spark: SparkSession, dir: String): Option[DataFrame] = {
    val root = new HPath(dir)
    val fs = fsFor(spark, root)
    if (!fs.exists(root)) None
    else resolveCurrent(fs, root).map(p => widen(spark.read.parquet(p.toString)))
  }

  /** Time-travel read (the `VERSION AS OF` shape on the pointer layout):
    * `stepsBack = 0` is the live version, 1 its retained predecessor.
    * Anchored at the CURRENT pointer, not the newest directory — a crash
    * between version write and pointer swap leaves a newer orphan that
    * was never live and must not count as history. Retention keeps the
    * newest 2 versions, so history reaches one step by default; None
    * beyond what's retained. Uses: pre-migration readback, incident
    * diffing (`CorpusPrep.snapshotDiff(old, new, …)`), grace-window
    * readers. */
  def readVersion(spark: SparkSession, dir: String,
      stepsBack: Int): Option[DataFrame] = {
    require(stepsBack >= 0, s"stepsBack must be >= 0, got $stepsBack")
    val root = new HPath(dir)
    val fs = fsFor(spark, root)
    if (!fs.exists(root)) return None
    resolveCurrent(fs, root).flatMap { cur =>
      val versions = fs.listStatus(root).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("v-")).sortBy(_.getName)
      val at = versions.indexWhere(_.getName == cur.getName)
      val i = (if (at >= 0) at else versions.size - 1) - stepsBack
      if (i < 0) None
      else Some(widen(spark.read.parquet(versions(i).toString)))
    }
  }

  /** At-rest name of the half-precision-encoded embedding column. */
  val Emb16Col = "emb16"

  /** Whether the live store version is half-precision at rest. */
  def isFp16(spark: SparkSession, dir: String): Boolean = {
    val root = new HPath(dir)
    val fs = fsFor(spark, root)
    fs.exists(root) && resolveCurrent(fs, root).exists(p =>
      spark.read.parquet(p.toString).columns.contains(Emb16Col))
  }

  /** [[warm]] + decode over the SAME resolved version — a serving process
    * must not resolve the pointer twice (a sync commit between the two
    * resolutions would pin one version in cache while the gateway plans
    * over another, and retention eventually deletes the unpinned one
    * under the long-lived reader). */
  def readWarm(spark: SparkSession, dir: String): Option[DataFrame] =
    warm(spark, dir).map(widen)

  /** The pinned serving view of one resolved store version: the cached
    * AT-REST relation (held so it can be released on reload) and the
    * widened frame requests plan over. */
  final case class WarmStore(atRest: DataFrame, serving: DataFrame)

  /** [[readWarm]] behind a generation check ([[Reloading]] — the store's
    * `CURRENT` pointer is the fingerprint): a long-lived serving process
    * follows sync/refresh commits instead of pinning the boot-time
    * version forever, and each swap releases the superseded version's
    * cache (soft — in-flight requests recompute transparently). */
  def reloadingWarm(spark: SparkSession, dir: String,
      minCheckIntervalMs: Long = 0L): Reloading[WarmStore] =
    Reloading.withEvict(spark, dir, Nil, minCheckIntervalMs) {
      warm(spark, dir).map(at => WarmStore(at, widen(at)))
        .getOrElse(throw new IllegalStateException(s"no store at $dir"))
    } (old => { old.atRest.unpersist(); () })

  /** Surface an fp16 store's at-rest `emb16` as `embedding` (no-op for
    * fp32 stores). */
  private def widen(df: DataFrame): DataFrame =
    if (df.columns.contains(Emb16Col) && !df.columns.contains("embedding"))
      df.withColumn("embedding",
        graft.functions.fp16_decode(col(Emb16Col))).drop(Emb16Col)
    else df

  /** Pin the live version's AT-REST relation in the session cache and
    * return it. Serving plans built via [[read]] hit this as a subplan
    * (CacheManager matches the scan under the decode), so an fp16 store
    * is scored by the fused kernel straight from the cached 2 B/dim
    * bytes — half the resident footprint of caching decoded fp32, and no
    * per-request parquet decode. */
  def warm(spark: SparkSession, dir: String): Option[DataFrame] = {
    val root = new HPath(dir)
    val fs = fsFor(spark, root)
    if (!fs.exists(root)) None
    else resolveCurrent(fs, root).map { p =>
      val df = spark.read.parquet(p.toString).cache()
      df.count()
      df
    }
  }

  /** Write `df` as the new store state (single-rename pointer commit).
    *
    * `partitionBy` lays the store out hive-style (e.g. by `source_type`,
    * SURVEY.md §4 partitioning row) so filtered searches prune whole
    * partitions at plan time instead of scanning them.
    *
    * `fp16 = true` stores `embedding` half-precision (2 B/dim BINARY
    * `emb16` column) — the reference's at-rest layout (HALFVEC(3072),
    * models/highlight.py:24-26) at half the fp32 parquet bytes; [[read]]
    * widens it back, so the mode is invisible above the store boundary. */
  def writeAtomic(df: DataFrame, dir: String,
      partitionBy: Seq[String] = Nil, fp16: Boolean = false): Unit = {
    val spark = df.sparkSession
    val root = new HPath(dir)
    val fs = fsFor(spark, root)
    fs.mkdirs(root)
    val encoded =
      if (fp16 && df.columns.contains("embedding"))
        df.withColumn(Emb16Col, graft.functions.fp16_encode(col("embedding")))
          .drop("embedding")
      else df
    // zero-padded so lexicographic order == creation order for retention
    val versionName = f"v-${System.nanoTime()}%019d"
    val writer = if (partitionBy.nonEmpty)
      encoded.write.partitionBy(partitionBy: _*) else encoded.write
    writer.mode("overwrite").parquet(new HPath(root, versionName).toString)
    val ptrTmp = new HPath(root, s".CURRENT.tmp-${System.nanoTime()}")
    scala.util.Using.resource(fs.create(ptrTmp, true))(
      _.write(versionName.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    FsUtil.atomicReplace(fs, spark.sparkContext.hadoopConfiguration,
      ptrTmp, new HPath(root, "CURRENT"))
    // retention: keep the newest 2 versions — the just-superseded one stays
    // on disk as a grace period for readers that resolved it before the
    // swap and scan lazily (parquet actions run after read() returns);
    // older generations are deleted best-effort
    fs.listStatus(root).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith("v-"))
      .sortBy(_.getName)
      .dropRight(2)
      .foreach(p => try { fs.delete(p, true); () } catch { case _: Exception => () })
  }

  /** Schema-evolution migration — the alembic add-column/backfill story
    * (reference: alembic/versions/6e900a582819_create_initial_tables.py
    * and successors), versioned-store form: read the LIVE version's
    * AT-REST relation verbatim (an fp16 store's `emb16` blob stays
    * encoded — storage layout is not the migration's concern), apply
    * `evolve`, and commit the result as a brand-new version through the
    * same single-rename pointer swap as [[writeAtomic]].
    *
    * Nothing is rewritten in place: readers that resolved the pointer
    * BEFORE the swap keep scanning the old version directory (it
    * survives retention's two-version grace window), and a crash
    * mid-migration leaves the old pointer live. Re-layout
    * (`partitionBy`) composes with the schema change — one migration can
    * both add the column and repartition by it.
    *
    * Returns false when no store exists at `dir` (nothing to migrate). */
  def migrate(spark: SparkSession, dir: String,
      evolve: DataFrame => DataFrame,
      partitionBy: Seq[String] = Nil): Boolean = {
    val root = new HPath(dir)
    val fs = fsFor(spark, root)
    if (!fs.exists(root)) false
    else resolveCurrent(fs, root) match {
      case None => false
      case Some(live) =>
        writeAtomic(evolve(spark.read.parquet(live.toString)), dir,
          partitionBy)
        true
    }
  }

  /** Add-column convenience over [[migrate]]: every existing row
    * backfills with `default` (a literal or any expression over the
    * existing columns). Fails fast if the column already exists — a
    * silent re-run would mask a naming collision; idempotent re-runs
    * belong to the caller's migration ledger, not this primitive. */
  def addColumn(spark: SparkSession, dir: String, name: String,
      default: org.apache.spark.sql.Column,
      partitionBy: Seq[String] = Nil): Boolean =
    migrate(spark, dir, { df =>
      require(!df.columns.contains(name),
        s"addColumn: column '$name' already exists in the store at $dir")
      df.withColumn(name, default)
    }, partitionBy)

  /** Delete rows matching `cond` — the takedown/right-to-erasure path
    * over the versioned store: the new version simply omits them behind
    * the pointer swap (NULL-safe: rows where `cond` is null are KEPT,
    * like SQL DELETE's WHERE). The superseded version — still holding
    * the bytes — falls out of retention on the next commit; call
    * [[writeAtomic]]-producing ops or a follow-up no-op migration
    * promptly when physical erasure, not just invisibility, is the
    * requirement. Returns false when no store exists. */
  def deleteWhere(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column,
      partitionBy: Seq[String] = Nil): Boolean =
    migrate(spark, dir,
      _.filter(!org.apache.spark.sql.functions.coalesce(
        cond, org.apache.spark.sql.functions.lit(false))), partitionBy)
}

/** Backfill + incremental sync jobs (reference: jobs/backfill.py:17-66,
  * jobs/incremental.py:22-79). Pipeline per run: fetch export pages
  * (driver, paced) → flatten/parse on the cluster → embed `text` → keyed
  * newest-wins upsert → advance the `syncstate` watermark once at the end.
  *
  * At-least-once + idempotent: a failed run never advances the watermark,
  * and reprocessing re-upserts the same keys (Ingest.upsert). The
  * reference's incremental path embeds `"{text} {note}"` with swapped args
  * — a latent bug (incremental.py:57-59 vs embedding.py:44); we embed
  * `text` in both paths (SURVEY.md §2.8 ST1, documented divergence).
  */
object Sync {
  val ServiceName = "readwise"

  /** Write export pages into `spoolDir` through the Hadoop FileSystem API
    * — the spool can live on any cluster filesystem (`hdfs://…`,
    * `s3a://…`, plain local paths resolve against the default FS), which
    * is what makes the landing zone readable by executors on a real
    * cluster. One file per page, atomic temp+rename, zero-padded names so
    * filename order == page order (the contract the micro-batch source's
    * name-watermark offsets rely on). Numbering CONTINUES past any pages
    * already in the directory — a reused `spoolDir` (the documented way
    * to keep a landing zone the streaming source tails) must append with
    * names that sort ABOVE the stream's watermark, never overwrite.
    * Returns the name watermark BEFORE this run's pages (the highest
    * pre-existing `.json` name, None for a fresh directory) — callers pass
    * it as the DSv2 `startafter` option so the parse covers exactly this
    * run's pages. */
  private def spoolPages(spark: SparkSession, pages: Iterator[String],
      spoolDir: String): Option[String] = {
    val dir = new org.apache.hadoop.fs.Path(spoolDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val existing = fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(_.endsWith(".json")).toSeq
    val PageName = raw"page-(\d{6})\.json".r
    var next = existing.collect { case PageName(idx) => idx.toInt + 1 }
      .maxOption.getOrElse(0)
    pages.foreach { body =>
      // %06d is a fixed-width namespace: page 1,000,000 would emit 7 digits,
      // breaking both lexicographic-order == page-order and the PageName
      // numbering scan above (which would restart at 0 and overwrite) —
      // refuse rather than corrupt the landing zone's ordering contract
      if (next > 999999)
        throw new IllegalStateException(
          s"spool page namespace exhausted at page-999999 in $spoolDir; " +
            "start a fresh spool directory")
      val tmp = new org.apache.hadoop.fs.Path(dir, f".page-$next%06d.tmp")
      val out = fs.create(tmp, true)
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(dir, f"page-$next%06d.json")))
        throw new java.io.IOException(s"spool rename failed for page $next")
      next += 1
    }
    existing.maxOption
  }

  private def deleteSpool(spark: SparkSession, spoolDir: String): Unit =
    try {
      val dir = new org.apache.hadoop.fs.Path(spoolDir)
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(dir, true)
      ()
    } catch { case _: Exception => () }

  /** Spool the page walk, then parse on EXECUTORS via the `graft-export`
    * DSv2 source (one input partition per page, column-pruned JSON parse)
    * and embed. Driver memory stays O(1 page) for an arbitrarily large
    * export; the paced HTTP client remains driver-side because the cursor
    * chain is inherently sequential. Used by BOTH backfill and
    * incremental, so the two ingest paths parse identically.
    *
    * On a REUSED `spoolDir` only THIS run's pages are read (`startafter`
    * the pre-existing high name): prior runs' pages were already upserted
    * under their own version, and restamping them with this run's version
    * would let a stale copy of an id tie with — or beat — the newer copy
    * already in the store. */
  private def spooledHighlights(spark: SparkSession, pages: Iterator[String],
      spool: String, embedder: Embedder, version: Long,
      pooledChunkWords: Option[Int] = None): DataFrame = {
    val beforeRun = spoolPages(spark, pages, spool)
    val reader = spark.read.format("graft-export")
    val parsed = beforeRun.fold(reader)(n =>
        reader.option(graft.sources.ExportOptions.StartAfter, n))
      .load(spool)
    // --pooled: long documents ingest through chunk → embed → DECIMAL
    // mean-pool → renormalize (Pooling, the q147 operator) instead of
    // the single embed whose input cap silently drops the tail — the
    // reference hard-truncates at 8191 tokens (core/embedding.py:49-54)
    // and this is the repo's documented answer. Pooled vectors live on
    // the same unit sphere at the same dim, so the store schema, fp16
    // encode, and every serving path compose unchanged.
    val withEmb = pooledChunkWords match {
      case Some(cw) =>
        val pooled = graft.embed.Pooling
          .pooledEmbedding(parsed, "text", "id", cw, embedder)
          .select(col("id"),
            expr("transform(v, x -> CAST(x AS FLOAT))").as("embedding"))
        // a doc that produces ZERO chunks (empty/whitespace text) has no
        // pooled row — fall back to the plain embed so the pooled path
        // never ingests NULL-embedding rows the dense serving paths
        // would silently drop (the unpooled path always embeds)
        parsed.join(pooled, Seq("id"), "left")
          .withColumn("embedding", coalesce(col("embedding"),
            Embedder.embedUdf(embedder)(col("text"))))
      case None =>
        parsed.withColumn("embedding", Embedder.embedUdf(embedder)(col("text")))
    }
    withEmb.withColumn("version", lit(version))
  }

  /** Full backfill (ST2): cursor walk → spool → executor-side parse →
    * keyed upsert → watermark. An auto-created spool is deleted whether
    * the run succeeds or fails (a failed export walk must not leak
    * landing directories); pass `spoolDir` to keep the landing zone (it
    * is the same layout the micro-batch streaming source tails). */
  def backfill(spark: SparkSession, client: ExportClient, storeDir: String,
      checkpointDir: String, embedder: Embedder = Embedder.Default,
      now: () => Instant = () => Instant.now(),
      spoolDir: Option[String] = None, fp16: Boolean = false,
      pooledChunkWords: Option[Int] = None): Long =
    timed {
      val spool = spoolDir.getOrElse(
        s"$checkpointDir/backfill-spool-${System.nanoTime()}")
      try {
        val fresh = spooledHighlights(spark, client.export(None), spool,
          embedder, version = now().toEpochMilli, pooledChunkWords).cache()
        try {
          val merged = HighlightStore.read(spark, storeDir) match {
            case Some(existing) => Ingest.upsert(existing, fresh, "id", "version")
            case None => fresh
          }
          // the at-rest mode is a property of the STORE, not of one run:
          // an fp16 store stays fp16 even when a later sync omits the flag
          HighlightStore.writeAtomic(merged, storeDir,
            fp16 = fp16 || HighlightStore.isFp16(spark, storeDir))
          SyncState.write(checkpointDir, ServiceName, now())
          val n = fresh.count()
          graft.serve.Metrics.counter("rows_synced_total").inc(n)
          n
        } finally fresh.unpersist()
      } finally if (spoolDir.isEmpty) deleteSpool(spark, spool)
    }

  /** Sync metrics (reference: rows_synced_total / error_rate counters +
    * sync_duration_seconds histogram, api/routes.py:224-247). */
  private def timed[T](f: => T): T =
    try graft.serve.Metrics.timer("sync_duration_seconds").time(f)
    catch {
      case e: Throwable =>
        graft.serve.Metrics.counter("sync_errors_total").inc()
        throw e
    }

  /** Full-export reconciliation through [[CorpusRefresh]] — the nightly
    * re-sync loop (reference: jobs/incremental.py's scheduled shape)
    * upgraded from upsert-only to true reconciliation: walk the ENTIRE
    * export as the new corpus snapshot, diff it against the live store,
    * and apply the delta to the store and any maintained index roots —
    * so deletions propagate (an upsert sync can never remove a
    * highlight deleted upstream), changed docs re-index under
    * sequence-scoped tombstones, and the unchanged bulk never moves.
    * Advances the watermark like a backfill (the export walk saw
    * everything). Returns (added, changed, removed, metadata) counts —
    * `metadata` rows changed only stored columns other than the text
    * (a retag, a new note). */
  def refresh(spark: SparkSession, client: ExportClient, storeDir: String,
      checkpointDir: String,
      lexIndexDir: Option[String] = None,
      ivfIndexDir: Option[String] = None,
      embedder: Embedder = Embedder.Default,
      now: () => Instant = () => Instant.now(),
      spoolDir: Option[String] = None,
      pooledChunkWords: Option[Int] = None): Map[String, Long] =
    timed {
      val spool = spoolDir.getOrElse(
        s"$checkpointDir/refresh-spool-${System.nanoTime()}")
      try {
        val snapshot = spooledHighlights(spark, client.export(None), spool,
          embedder, version = now().toEpochMilli, pooledChunkWords)
        val delta = CorpusRefresh.refresh(spark, snapshot, "text", "id",
          storeDir, lexIndexDir = lexIndexDir, ivfIndexDir = ivfIndexDir)
        val counts = delta.groupBy(col("status")).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        delta.unpersist()
        SyncState.write(checkpointDir, ServiceName, now())
        val n = Seq("added", "changed", "metadata")
          .map(counts.getOrElse(_, 0L)).sum
        graft.serve.Metrics.counter("rows_synced_total").inc(n)
        Map("added" -> 0L, "changed" -> 0L, "removed" -> 0L,
          "metadata" -> 0L) ++ counts
      } finally if (spoolDir.isEmpty) deleteSpool(spark, spool)
    }

  /** Incremental sync (ST1): `since` defaults to the stored watermark;
    * no watermark and no explicit since → nothing to do (reference returns
    * with a "run a backfill first" message, incremental.py:42-47).
    *
    * Routes through the same spool + DSv2 path as [[backfill]]: deltas
    * are usually small, but a long-idle watermark makes an increment as
    * large as a backfill, and the shared path keeps driver memory
    * O(1 page) and the two parsers identical. */
  def incremental(spark: SparkSession, client: ExportClient, storeDir: String,
      checkpointDir: String, since: Option[Instant] = None,
      embedder: Embedder = Embedder.Default,
      now: () => Instant = () => Instant.now(),
      spoolDir: Option[String] = None, fp16: Boolean = false,
      pooledChunkWords: Option[Int] = None): Option[Long] = {
    val effectiveSince = since.orElse(SyncState.read(checkpointDir, ServiceName))
    effectiveSince.map { s =>
      timed {
        val spool = spoolDir.getOrElse(
          s"$checkpointDir/incremental-spool-${System.nanoTime()}")
        try {
          val fresh = spooledHighlights(spark, client.export(Some(s.toString)),
            spool, embedder, version = now().toEpochMilli,
            pooledChunkWords).cache()
          try {
            val merged = HighlightStore.read(spark, storeDir) match {
              case Some(existing) => Ingest.upsert(existing, fresh, "id", "version")
              case None => fresh
            }
            // sticky at-rest mode (see backfill)
            HighlightStore.writeAtomic(merged, storeDir,
              fp16 = fp16 || HighlightStore.isFp16(spark, storeDir))
            val n = fresh.count()
            // advance once, at the end (at-least-once; incremental.py:78)
            SyncState.write(checkpointDir, ServiceName, now())
            graft.serve.Metrics.counter("rows_synced_total").inc(n)
            n
          } finally fresh.unpersist()
        } finally if (spoolDir.isEmpty) deleteSpool(spark, spool)
      }
    }
  }
}
