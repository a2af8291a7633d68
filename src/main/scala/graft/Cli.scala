package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.serve.{Health, HttpApi, Json, McpServer, SearchGateway, SearchParams}
import graft.sources.{ExportClient, Page}
import graft.sync.{HighlightStore, Sync}

/** CLI entry point (reference: readwise_vector_db/main.py:15-76 — `rwv sync
  * --backfill|--since` and `rwv search QUERY --k N`). Zero-egress transport:
  * `--pages-dir` holds export pages as one JSON file per page, consumed in
  * filename order through the same paginated-client path a live HTTP
  * transport would use.
  *
  *   graft.Cli sync --backfill --pages-dir D --store S --ckpt C [--pooled [--chunk-words N]]
  *   graft.Cli sync --since 2024-01-01T00:00:00Z --pages-dir D --store S --ckpt C
  *   graft.Cli refresh --pages-dir D --store S --ckpt C [--lex-index L]
  *     [--ivf-index I] [--graph-index G[,G2,...]
  *      [--graph-entry-ivf I[,I2,...]]]
  *   graft.Cli index --store S --out D
  *     [--type ivf|ivfpq|graph|graph-codes|lexical]
  *     [--cells 64] [--fp16 true] [--attrs c1,c2] [--graph-k 5] [--buckets N]
  *     [--shards N|auto]   (graph: one-call sharded gateway + MANIFEST)
  *   graft.Cli export --store S --out D [--shard-tokens 2048]
  *   graft.Cli curate --docs D.parquet --out O [--quality 0.6] [--lm-threshold -6.0]
  *     [--lm-store L] [--mix-alpha A --mix-frac F] [--shard-tokens 2048] [--report-only]
  *   graft.Cli search "query text" --k 5 --store S [--source-type T] [--hybrid true] [--mmr 0.3]
  *   graft.Cli serve --store S [--ivf-index I [--pq-refine 64]
  *     | --graph-index G[,G2,...] [--graph-entry-ivf I[,I2,...]] [--graph-ef 20]]
  *     [--nprobe 4]
  *     (--ivf-index serves ADC + fp16 refine when I is an IVFADC layout
  *      from `index --type ivfpq`, the fp16 probe otherwise;
  *      --graph-index always serves the resident code walk: one dir with
  *      its code sidecar, a comma-separated shard list, or a MANIFEST root)
  *   graft.Cli health
  */
object Cli {

  private def flags(args: Seq[String]): Map[String, String] =
    args.sliding(2).collect {
      case Seq(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.stripPrefix("--") -> v
    }.toMap

  /** A command line carrying a flag its subcommand does not read — the
    * refusal message naming it. An unread flag is a misspelling or a
    * removed option; ignoring it would run something the user did not
    * ask for (a removed serving mode falling back to the store scan). */
  private object UnreadFlag {
    def unapply(args: Seq[String]): Option[String] = args match {
      case cmd +: rest if GraftConfig.readFlags.contains(cmd) =>
        // search's query text is positional, never a flag
        (if (cmd == "search") rest.drop(1) else rest)
          .find(a => a.startsWith("--") &&
            !GraftConfig.readFlags(cmd)(a.stripPrefix("--")))
          .map(a => s"$a is not a $cmd option")
      case _ => None
    }
  }

  /** Pages-from-directory transport: file N is page N; the "cursor" is the
    * next file index, mirroring nextPageCursor chaining. */
  private[graft] def dirClient(dir: String): ExportClient = {
    val files = scala.util.Using.resource(Files.list(Paths.get(dir))) {
      _.iterator().asScala.toSeq
        .filter(_.toString.endsWith(".json")).sortBy(_.getFileName.toString)
    }
    new ExportClient(
      fetchPage = (_, params) => {
        if (files.isEmpty) Page("""{"results":[]}""", None) // empty export
        else {
          val idx = params.get("pageCursor").map(_.toInt).getOrElse(0)
          val next = if (idx + 1 < files.length) Some((idx + 1).toString) else None
          Page(Files.readString(files(idx)), next)
        }
      },
      sleep = _ => ()) // no politeness needed against the local filesystem
  }

  /** Fail fast when the store's vector width disagrees with the
    * configured embedder: the dot product TRUNCATES to the shorter
    * operand, so a mismatch produces silently meaningless rankings, not
    * an error. One first-row probe at startup; empty stores pass. */
  private def dimMismatch(df: org.apache.spark.sql.DataFrame,
      dim: Int): Option[String] =
    // probe a non-null vector: size(NULL) is NULL (sizeOfNull=false), and
    // a store whose first row carries a null embedding must probe past
    // it, not NPE on getInt
    df.filter(org.apache.spark.sql.functions.col("embedding").isNotNull)
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("embedding")).as("d"))
      .limit(1).collect().headOption.map(_.getInt(0))
      .filter(_ != dim)
      .map(d => s"store embeddings are $d-dim but the configured embedder " +
        s"is $dim-dim; pass --embed-dim $d (or GRAFT_EMBEDDER_DIM=$d)")

  /** The dense index `serve` routes requests through, behind a
    * generation-checked handle that follows rebuilds and refreshes, or
    * None for the store scan. Left = the exit code of a start-up
    * refusal, already explained on stderr. Two modes:
    *  - `--ivf-index`: the IVF cell layout, served by its payload. An
    *    IVFADC layout (`index --type ivfpq`) serves IVFADC codes + exact
    *    fp16 refine at `--pq-refine`, cosine-scored (the default-mode
    *    promotion of SCALE.md §r11); an fp16 layout serves the fp16
    *    probe, one pruned job a request. Filtered requests stay on the
    *    index when its cells carry the referenced attr columns, else
    *    fall back to the store scan;
    *  - `--graph-index`: the resident code walk — topology and codes
    *    held in memory, one exact re-rank job a request (SCALE.md §r13).
    *    One dir serves through [[graft.similarity.Knn.ResidentGraphIndex]];
    *    a comma-separated shard list, or a root carrying a sharded
    *    gateway MANIFEST (`index --type graph --shards N`), through the
    *    fan-and-merge [[graft.similarity.Knn.ShardedResidentIndex]].
    *    `--graph-entry-ivf` pairs with the listed dirs positionally. */
  private[graft] def denseIndex(spark: SparkSession, cfg: GraftConfig)
      : Either[Int, Option[() => graft.similarity.Knn.DenseIndex]] = {
    import graft.similarity.Knn
    def refuse(code: Int, msg: String) = { System.err.println(msg); Left(code) }
    // the store check's counterpart for the index: a query embedded at
    // another width would be scored by a truncated dot product
    def widthRefusal(d: String, dim: Int) =
      refuse(2, s"index at $d holds $dim-dim vectors but the configured " +
        s"embedder is ${cfg.embedderDim}-dim; pass --embed-dim $dim (or " +
        s"GRAFT_EMBEDDER_DIM=$dim) or rebuild the index")
    def split(csv: String) = csv.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    // graph node ids are the store's numeric string ids cast long at
    // build; idOf maps winners back so rehydration joins on the store's
    // own key type
    val idOf = (id: Long) => id.toString
    (cfg.graphIndexDir, cfg.ivfIndexDir) match {
      case (Some(g), _) =>
        val manifest =
          if (g.contains(',')) None
          else Knn.ShardedResidentIndex.loadManifest(spark, g)
        val dirs = manifest.fold(split(g))(_.map(_._1))
        val entries: Seq[Option[String]] = manifest.map(_.map(_._2))
          .getOrElse(cfg.graphEntryIvfDir.fold(
            Seq.fill(dirs.length)(Option.empty[String]))(
            split(_).map(Some(_))))
        if (entries.length != dirs.length)
          return refuse(2, s"--graph-entry-ivf lists ${entries.length} " +
            s"IVF dirs for ${dirs.length} graph dirs — entry IVFs pair " +
            "with --graph-index positionally")
        dirs.zip(entries).foreach { case (d, e) =>
          if (!Knn.graphIndexReady(d))
            return refuse(1, s"no adjacency index at $d (build one with " +
              "`graft.Cli index --type graph` or drop --graph-index)")
          if (!Knn.graphCodesReady(d))
            return refuse(1, s"no pq-code sidecar at $d/pqcodes for " +
              "--graph-index (build with `graft.Cli index --type graph " +
              "--codes true`, or `--type graph-codes` over the existing " +
              "layout)")
          e.filterNot(Knn.ivfIndexReady).foreach { ivf =>
            return refuse(1, s"no IVF index at $ivf for --graph-entry-ivf " +
              "(build one with `graft.Cli index` or drop the flag)")
          }
        }
        if (dirs.length == 1) {
          val h = Knn.ResidentGraphIndex.reloading(spark, dirs.head,
            entries.head, cfg.graphEf, idOf = idOf)
          Right(Some(() => h.get))
        } else {
          val h = Knn.ShardedResidentIndex.reloading(spark,
            dirs.zip(entries), cfg.graphEf, idOf = idOf)
          Right(Some(() => h.get))
        }
      case (_, Some(d)) =>
        if (!Knn.ivfIndexReady(d))
          return refuse(1, s"no IVF index at $d (build one with " +
            "`graft.Cli index --type ivf|ivfpq` or drop --ivf-index)")
        val h = Knn.IvfIndex.reloading(spark, d)
        val idx = h.get
        if (idx.hasCodes) {
          // checked here, against the layout: ambient GRAFT_PQ_REFINE
          // garbage never refuses a config that does not use it
          if (cfg.pqRefine < 2)
            return refuse(2, "PQ_REFINE (--pq-refine / GRAFT_PQ_REFINE) " +
              "must be >= 2 (serving the IVFADC index at " + d +
              s" re-ranks refine·k rows), got ${cfg.pqRefine}")
          if (!idx.hasRefine)
            return refuse(1, s"IVFADC index at $d has no refine payload — " +
              "rebuild with ivfPqBuildIndex(refine=true)")
        }
        if (idx.dim != cfg.embedderDim) return widthRefusal(d, idx.dim)
        // the view follows rebuilds: a later generation without the
        // refine payload fails its requests with asDense's refusal
        Right(Some(() => h.get.asDense(cfg.pqRefine)))
      case _ => Right(None)
    }
  }

  def run(args: Array[String], spark: SparkSession,
      env: Map[String, String] = sys.env): Int = args.toSeq match {
    case UnreadFlag(msg) =>
      System.err.println(msg)
      2

    case Seq("health", _*) =>
      println(Json.write(Health.check(spark)))
      0

    case "sync" +: rest =>
      val f = flags(rest)
      // --fp16: persist embeddings half-precision (the reference's HALFVEC
      // at-rest layout); reads widen transparently, searches stay fused.
      // All knobs validate through GraftConfig before any Spark work;
      // flags layer over GRAFT_* env vars (flag wins), reference-style.
      // The mode-dependent --since checks merge into the SAME error
      // report — all violations at once.
      val backfill = rest.contains("--backfill")
      // --pooled [--chunk-words N]: long documents ingest chunk→embed→
      // mean-pool (Pooling) instead of one capped embed — the tail of a
      // document longer than the embedder's input contributes to its
      // stored vector (the reference truncates it away)
      val resolved = GraftConfig.resolve(f, env, GraftConfig.Command.Sync,
        fp16Flag = rest.contains("--fp16"),
        pooledFlag = rest.contains("--pooled"))
      // --since belongs to incremental mode only: with --backfill it was
      // previously ignored silently — reject the conflict instead
      val sinceParsed: Either[String, Option[java.time.Instant]] =
        f.get("since") match {
          case None => Right(None)
          case Some(_) if backfill =>
            Left("--since conflicts with --backfill (backfill always " +
              "replays everything); drop one of them")
          case Some(v) =>
            try Right(Some(java.time.Instant.parse(v)))
            catch { case _: java.time.format.DateTimeParseException =>
              Left(s"--since must be an ISO-8601 instant " +
                s"(e.g. 2024-01-01T00:00:00Z), got '$v'")
            }
        }
      val errs = resolved.left.getOrElse(Nil) ++ sinceParsed.left.toSeq
      if (errs.nonEmpty) {
        errs.foreach(System.err.println)
        2
      } else {
        val cfg = resolved.toOption.get
        if (backfill) {
          val n = Sync.backfill(spark, dirClient(cfg.pagesDir.get),
            cfg.storeDir, cfg.checkpointDir.get, embedder = cfg.embedder,
            fp16 = cfg.fp16, pooledChunkWords = cfg.pooledChunkWords)
          println(Json.write(Map("synced" -> n, "mode" -> "backfill")))
          0
        } else {
          Sync.incremental(spark, dirClient(cfg.pagesDir.get), cfg.storeDir,
              cfg.checkpointDir.get, sinceParsed.toOption.get,
              embedder = cfg.embedder, fp16 = cfg.fp16,
              pooledChunkWords = cfg.pooledChunkWords) match {
            case Some(n) =>
              println(Json.write(Map("synced" -> n, "mode" -> "incremental")))
              0
            case None =>
              System.err.println(
                "no sync watermark found; run --backfill first or pass --since")
              1
          }
        }
      }

    // full-export reconciliation: walk the whole export as a snapshot,
    // delta it against the store, propagate deletes/changes/adds to the
    // store and any maintained index roots (Sync.refresh / CorpusRefresh)
    case "refresh" +: rest =>
      val f = flags(rest)
      val resolved = GraftConfig.resolve(
        f -- Seq("lex-index", "ivf-index", "graph-index", "graph-entry-ivf"),
        env, GraftConfig.Command.Sync,
        pooledFlag = rest.contains("--pooled"))
      resolved match {
        case Left(errs) => errs.foreach(System.err.println); 2
        case Right(cfg) =>
          if (HighlightStore.read(spark, cfg.storeDir).isEmpty) {
            System.err.println(s"no highlight store at ${cfg.storeDir}; " +
              "run sync --backfill first (refresh reconciles an existing store)")
            1
          } else {
            // --graph-index a,b,... (shard order!) routes the delta by
            // the build's pmod rule and refreshes each touched shard —
            // the maintenance half of `serve --graph-index a,b`.
            // --graph-entry-ivf pairs positionally
            // (each shard's entry IVF follows its shard's slice).
            val graphArg = f.get("graph-index").toSeq
              .flatMap(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
            // a single dir carrying a sharded-gateway MANIFEST expands
            // to its shard list + entry IVFs — the maintenance half of
            // `index --type graph --shards N` under one flag
            val manifest = graphArg match {
              case Seq(root) => graft.similarity.Knn.ShardedResidentIndex
                .loadManifest(spark, root)
              case _ => None
            }
            val graphDirs = manifest.map(_.map(_._1)).getOrElse(graphArg)
            val entryIvfs = manifest.map(_.flatMap(_._2)).getOrElse(
              f.get("graph-entry-ivf").toSeq
                .flatMap(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)))
            if (entryIvfs.nonEmpty && entryIvfs.length != graphDirs.length) {
              System.err.println(s"--graph-entry-ivf lists " +
                s"${entryIvfs.length} IVF dirs for ${graphDirs.length} " +
                "graph dirs — entry IVFs pair with --graph-index " +
                "positionally")
              return 2
            }
            // a single dir WITH an entry IVF routes through the shard
            // path too (pmod(key, 1) keeps every key): same adjacency
            // cycle, plus the entry IVF maintained — dropping the flag
            // silently would let entries drift from the live set
            val counts = Sync.refresh(spark, dirClient(cfg.pagesDir.get),
              cfg.storeDir, cfg.checkpointDir.get,
              lexIndexDir = f.get("lex-index"),
              ivfIndexDir = f.get("ivf-index"),
              graphIndexDir = graphDirs match {
                case Seq(one) if entryIvfs.isEmpty && manifest.isEmpty =>
                  Some(one)
                case _ => None
              },
              graphShardDirs = manifest.getOrElse(
                if (graphDirs.length > 1 || entryIvfs.nonEmpty) {
                  val es: Seq[Option[String]] =
                    if (entryIvfs.isEmpty)
                      Seq.fill(graphDirs.length)(None)
                    else entryIvfs.map(Some(_))
                  graphDirs.zip(es)
                } else Nil),
              embedder = cfg.embedder,
              pooledChunkWords = cfg.pooledChunkWords)
            println(Json.write(counts.map { case (k, v) => k -> v } +
              ("mode" -> "refresh")))
            0
          }
      }

    case "search" +: query +: rest =>
      val f = flags(rest)
      // Command.Search scoping: ambient sync/serve env (GRAFT_PAGES_DIR,
      // GRAFT_HTTP_PORT junk) can't stop a read-only command, while an
      // explicit out-of-scope flag is rejected with a message
      val cfg = GraftConfig.resolve(f, env, GraftConfig.Command.Search) match {
        case Left(errs) => errs.foreach(System.err.println); return 2
        case Right(c)   => c
      }
      val k = f.get("k") match {
        case None => SearchParams.DefaultK
        case Some(v) => v.toIntOption.getOrElse {
          System.err.println(s"--k must be an integer, got '$v'"); return 2
        }
      }
      HighlightStore.read(spark, cfg.storeDir) match {
        case None =>
          System.err.println(s"no highlight store at ${cfg.storeDir}"); 1
        case Some(df) =>
          dimMismatch(df, cfg.embedder.dim).foreach { msg =>
            System.err.println(msg); return 2
          }
          SearchParams.fromHttp(
            query = query,
            k = k,
            sourceType = f.get("source-type"),
            author = f.get("author"),
            tagsCsv = f.get("tags"),
            fromDate = f.get("from"),
            toDate = f.get("to"),
            // value-style like every flag here: `--hybrid true`,
            // `--mmr 0.3`; junk/out-of-range values fall back to the
            // dense default per SearchParams' lenient-parse contract
            hybrid = f.get("hybrid"),
            mmr = f.get("mmr")) match {
            case Left(err) => System.err.println(err); 2
            case Right(params) =>
              // the gateway must embed queries at the dimensionality the
              // store was synced with — cfg.embedder, not the default
              new SearchGateway(df, cfg.embedder).search(params)
                .foreach(row => println(Json.write(row)))
              0
          }
      }

    // build a persistent IVF index over the store — the reference
    // creates its pgvector ivfflat index as migration DDL
    // (`CREATE INDEX … USING ivfflat (embedding vector_cosine_ops)
    // WITH (lists=…)`, alembic); here index creation is the same
    // explicit lifecycle step, over the same store relation the server
    // scans, with the lists knob as --cells. --attrs carries filterable
    // store columns into the cells so `serve --ivf-index` can keep
    // FILTERED queries on the probe (q132's contract); --fp16 halves
    // the at-rest cells.
    //   graft.Cli index --store S --out D
    //     [--type ivf|ivfpq|graph|graph-codes|lexical]
    //     ivf:     [--cells 64] [--iters 2] [--train-every 5] [--fp16 true]
    //              [--attrs col1,col2,…]
    //     ivfpq:   [--cells 64] [--iters 2] [--train-every 5] [--pq-m 8]
    //              [--pq-ksub 256] [--opq-sweeps 0] [--attrs col1,col2,…]
    //              (IVFADC with the fp16 refine payload `serve
    //               --ivf-index` requires of it; --opq-sweeps > 0 learns
    //               the OPQ rotation and builds in rotated space)
    //     graph:   [--graph-k 5] [--cells 64] [--nprobe 2] [--buckets 64]
    //              [--fp16 true]
    //              [--shards N|auto [--codec pq|int8] [--attrs c1,c2]]
    //                (pmod-split sharded gateway: per-shard adjacency +
    //                 codes + entry IVF under one root MANIFEST that
    //                 `serve --graph-index <root>` and
    //                 `refresh --graph-index <root>` consume)
    //              [--codes true [--codec pq|int8] [--pq-m 64]
    //               [--pq-ksub 256]] (+the code sidecar `serve
    //                 --graph-index` needs)
    //     graph-codes: [--codec pq|int8] [--pq-m 64] [--pq-ksub 256]
    //                    (sidecar-only rebuild over an existing layout)
    //     lexical: [--buckets 64]
    case "index" +: rest =>
      val f = flags(rest)
      (f.get("store"), f.get("out")) match {
        case (Some(storeDir), Some(out)) =>
          val typ = f.getOrElse("type", "ivf")
          if (!Seq("ivf", "ivfpq", "graph", "graph-codes", "lexical")
              .contains(typ)) {
            System.err.println(s"--type must be ivf, ivfpq, graph, " +
              s"graph-codes or lexical, got '$typ'")
            return 2
          }
          val badInts = Seq("cells", "iters", "train-every", "graph-k",
              "nprobe", "buckets", "pq-m", "pq-ksub")
            .flatMap(k => f.get(k).filter(_.toIntOption.forall(_ <= 0))
              .map(v => s"--$k must be a positive integer, got '$v'"))
          if (badInts.nonEmpty) { badInts.foreach(System.err.println); return 2 }
          def intOf(k: String, d: Int) = f.get(k).flatMap(_.toIntOption)
            .getOrElse(d)
          val cells = intOf("cells", 64)
          val fp16 = f.get("fp16").contains("true")
          HighlightStore.read(spark, storeDir) match {
            case None =>
              System.err.println(s"no highlight store at $storeDir"); 1
            case Some(df) =>
              import org.apache.spark.sql.functions.{col, crc32, sum, when,
                coalesce, lit}
              // the graph family keys nodes by LONG ids; the store's ids
              // are numeric strings (Readwise highlight ids), so the cast
              // round-trips — verified here in one aggregate, because a
              // non-numeric id would otherwise vanish into a NULL node
              // silently
              def numericIdsOk(): Boolean = {
                // try_cast (ANSI cast throws on 'h1') + null-safe compare
                // (NULL =!= 'h1' is NULL, not true — <=> catches it)
                // coalesce: SUM over zero rows (empty store / all-null
                // ids) is NULL — getLong would NPE instead of passing
                // the empty store through to the builder's own error
                val bad = df.filter(col("id").isNotNull)
                  .agg(coalesce(sum(when(col("id").try_cast("long")
                    .cast("string") <=> col("id"), 0).otherwise(1)),
                    lit(0L)))
                  .head().getLong(0)
                if (bad > 0) System.err.println(s"--type $typ needs numeric " +
                  s"store ids (graph nodes key by long); $bad ids do not " +
                  "round-trip through CAST(id AS LONG)")
                bad == 0
              }
              typ match {
                case "ivf" =>
                  val every = intOf("train-every", 5)
                  val attrs = f.get("attrs").toSeq.flatMap(_.split(","))
                    .map(_.trim).filter(_.nonEmpty)
                  val missing = attrs.filterNot(df.columns.contains)
                  if (missing.nonEmpty) {
                    System.err.println("--attrs name(s) not in the store: " +
                      missing.mkString(", "))
                    return 2
                  }
                  graft.similarity.Knn.ivfBuildIndex(df, "embedding", "id",
                    out, k = cells, iters = intOf("iters", 2),
                    trainFilter = crc32(col("id")) % every === 0,
                    fp16 = fp16, attrCols = attrs)
                  println(Json.write(Map("indexed" -> out, "type" -> "ivf",
                    "cells" -> cells, "attrs" -> attrs.mkString(","))))
                  0
                case "ivfpq" =>
                  val every = intOf("train-every", 5)
                  val attrs = f.get("attrs").toSeq.flatMap(_.split(","))
                    .map(_.trim).filter(_.nonEmpty)
                  val missing = attrs.filterNot(df.columns.contains)
                  if (missing.nonEmpty) {
                    System.err.println("--attrs name(s) not in the store: " +
                      missing.mkString(", "))
                    return 2
                  }
                  val pm = intOf("pq-m", 8)
                  val dims = df.filter(col("embedding").isNotNull)
                    .select(org.apache.spark.sql.functions
                      .size(col("embedding"))).head().getInt(0)
                  if (dims % pm != 0) {
                    System.err.println(s"--pq-m $pm must divide the " +
                      s"embedding dimension $dims")
                    return 2
                  }
                  val sweeps = f.get("opq-sweeps").flatMap(_.toIntOption)
                    .getOrElse(0)
                  if (sweeps < 0 ||
                      f.get("opq-sweeps").exists(_.toIntOption.isEmpty)) {
                    System.err.println("--opq-sweeps must be a " +
                      "non-negative integer, got '" +
                      f("opq-sweeps") + "'")
                    return 2
                  }
                  // refine is always on: `serve --ivf-index` re-ranks an
                  // IVFADC layout against the fp16 payload and refuses a
                  // payload-less one — a CLI build that serving rejects
                  // would be a trap
                  graft.similarity.Knn.ivfPqBuildIndex(df, "embedding",
                    "id", out, cells = cells, m = pm,
                    ksub = intOf("pq-ksub", 256),
                    iters = intOf("iters", 2),
                    trainFilter = crc32(col("id")) % every === 0,
                    pqTrainFilter = crc32(col("id")) % every === 0,
                    refine = true, attrCols = attrs, opqSweeps = sweeps)
                  println(Json.write(Map("indexed" -> out,
                    "type" -> "ivfpq", "cells" -> cells, "m" -> pm,
                    "opq_sweeps" -> sweeps,
                    "attrs" -> attrs.mkString(","))))
                  0
                case "graph" =>
                  if (!numericIdsOk()) return 2
                  val gk = intOf("graph-k", 5)
                  val nprobe = intOf("nprobe", 2)
                  // --shards N|auto: the ONE-CALL sharded deployment a
                  // corpus past the per-replica residency budget needs
                  // (the ResidentGraphIndex.load refusal points here) —
                  // pmod-split shards, each with adjacency + code
                  // sidecar + entry IVF, plus the root MANIFEST that
                  // `serve --graph-index <root>` consumes. `auto` sizes the shard count from the
                  // live corpus against the resident budget.
                  f.get("shards").foreach { sv =>
                    val live = df.filter(col("embedding").isNotNull).count()
                    val shards = sv match {
                      case "auto" => math.max(1L, (live +
                        graft.similarity.Knn.ResidentGraphIndex
                          .DefaultMaxResidentNodes - 1) /
                        graft.similarity.Knn.ResidentGraphIndex
                          .DefaultMaxResidentNodes).toInt
                      case v => v.toIntOption.filter(_ >= 1).getOrElse {
                        System.err.println("--shards must be a positive " +
                          s"integer or 'auto', got '$v'")
                        return 2
                      }
                    }
                    val codecV = f.getOrElse("codec", "int8")
                    if (!Seq("pq", "int8").contains(codecV)) {
                      System.err.println(
                        s"--codec must be pq or int8, got '$codecV'")
                      return 2
                    }
                    val attrs = f.get("attrs").toSeq.flatMap(_.split(","))
                      .map(_.trim).filter(_.nonEmpty)
                    val missingA = attrs.filterNot(df.columns.contains)
                    if (missingA.nonEmpty) {
                      System.err.println("--attrs name(s) not in the " +
                        "store: " + missingA.mkString(", "))
                      return 2
                    }
                    val corpus = df.filter(col("embedding").isNotNull)
                      .select(col("id").cast("long").as("id") +:
                        col("embedding") +: attrs.map(col): _*)
                    val dirs = graft.similarity.Knn.ShardedResidentIndex
                      .build(corpus, "embedding", "id", out,
                        shards = shards, topK = gk,
                        iters = intOf("iters", 2), nprobe = nprobe,
                        codec = codecV, entryCells = cells,
                        attrCols = attrs)
                    println(Json.write(Map("indexed" -> out,
                      "type" -> "graph", "shards" -> shards,
                      "graph_k" -> gk, "codec" -> codecV,
                      "attrs" -> attrs.mkString(","),
                      "manifest" -> s"$out/MANIFEST",
                      "shard_dirs" -> dirs.map(_._1).mkString(","))))
                    return 0
                  }
                  // the 100-TB construction: neighbors searched inside
                  // k-means cells (cellKnnGraph — the nprobe dial buys
                  // recall linearly), never the O(n²) exact pair join.
                  // Cells clamp to corpus size so small stores degrade
                  // to the exact graph instead of starving k-means.
                  val n = df.count()
                  val c = math.max(1, math.min(cells, (n / 4).toInt))
                  val corpus = df.filter(col("embedding").isNotNull)
                    .select(col("id").cast("long").as("id"), col("embedding"))
                  val edges = graft.similarity.Knn.cellKnnGraph(corpus,
                      "embedding", "id", topK = gk, cells = c,
                      iters = intOf("iters", 2),
                      nprobe = math.min(nprobe, c))
                    .select(col("id_a"), col("id_b"))
                  // --buckets absent → the measured density dial (~50 k
                  // adjacency rows per bucket, Knn.bucketsFor): bucket
                  // count never adds probe tasks but bounds what each
                  // task scans, and 64-at-any-n served 1.5× slower than
                  // density-sized at the 2 M edge (SCALE.md §r15)
                  val gbuckets = f.get("buckets").map(_.toInt).getOrElse(
                    graft.similarity.Knn.bucketsFor(n * (gk + 1L)))
                  graft.similarity.Knn.buildAdjacencyIndex(edges, corpus,
                    "embedding", "id", out, buckets = gbuckets,
                    fp16 = fp16)
                  // --codes true: also build the pq-code sidecar that
                  // `serve --graph-index` needs (one narrow pass;
                  // rebuild after refresh/append — the resident load
                  // refuses a sidecar that no longer covers the live set)
                  val codes = f.get("codes").contains("true")
                  if (codes) {
                    val codecV = f.getOrElse("codec", "pq")
                    if (!Seq("pq", "int8").contains(codecV)) {
                      System.err.println(
                        s"--codec must be pq or int8, got '$codecV'")
                      return 2
                    }
                    val pm = intOf("pq-m", 64)
                    val dims = df.filter(col("embedding").isNotNull)
                      .select(org.apache.spark.sql.functions
                        .size(col("embedding"))).head().getInt(0)
                    if (codecV == "pq" && dims % pm != 0) {
                      System.err.println(s"--pq-m $pm must divide the " +
                        s"embedding dim $dims")
                      return 2
                    }
                    graft.similarity.Knn.buildGraphCodes(spark, out,
                      m = pm, ksub = intOf("pq-ksub", 256), codec = codecV)
                  }
                  println(Json.write(Map("indexed" -> out, "type" -> "graph",
                    "graph_k" -> gk, "cells" -> c, "codes" -> codes,
                    "buckets" -> gbuckets)))
                  0
                case "graph-codes" =>
                  // sidecar-only (re)build over an EXISTING adjacency
                  // layout — the maintenance verb after append/refresh
                  // (the resident load refuses a sidecar that no longer
                  // covers the live set; this one pass re-covers it)
                  if (!graft.similarity.Knn.graphIndexReady(out)) {
                    System.err.println(s"no adjacency index at $out — " +
                      "--type graph-codes rebuilds the code sidecar of " +
                      "an existing graph index (build one with --type graph)")
                    return 1
                  }
                  val codecV = f.getOrElse("codec", "pq")
                  if (!Seq("pq", "int8").contains(codecV)) {
                    System.err.println(
                      s"--codec must be pq or int8, got '$codecV'")
                    return 2
                  }
                  val pm = intOf("pq-m", 64)
                  val dims = df.filter(col("embedding").isNotNull)
                    .select(org.apache.spark.sql.functions
                      .size(col("embedding"))).head().getInt(0)
                  if (codecV == "pq" && dims % pm != 0) {
                    System.err.println(s"--pq-m $pm must divide the " +
                      s"embedding dim $dims")
                    return 2
                  }
                  graft.similarity.Knn.buildGraphCodes(spark, out,
                    m = pm, ksub = intOf("pq-ksub", 256), codec = codecV)
                  println(Json.write(Map("indexed" -> out,
                    "type" -> "graph-codes", "codec" -> codecV,
                    "pq_m" -> pm, "pq_ksub" -> intOf("pq-ksub", 256))))
                  0
                case "lexical" =>
                  graft.text.TextRank.buildLexicalIndex(df, "text", "id",
                    out, buckets = intOf("buckets", 64))
                  println(Json.write(Map(
                    "indexed" -> out, "type" -> "lexical")))
                  0
              }
          }
        case _ =>
          System.err.println("index requires --store and --out"); 2
      }

    // export the store's text as training shards + verifiable manifest
    // (CorpusPrep.exportShards): the curation pipeline's last mile from
    // the CLI — one parquet directory per ~shard-tokens window, manifest
    // printed as JSON lines (shard_id, n_docs, shard_tokens, digest)
    //   graft.Cli export --store S --out D [--shard-tokens 2048]
    case "export" +: rest =>
      val f = flags(rest)
      (f.get("store"), f.get("out")) match {
        case (Some(storeDir), Some(out)) =>
          val st = f.get("shard-tokens")
          if (st.exists(_.toIntOption.forall(_ <= 0))) {
            System.err.println(
              s"--shard-tokens must be a positive integer, got '${st.get}'")
            return 2
          }
          HighlightStore.read(spark, storeDir) match {
            case None =>
              System.err.println(s"no highlight store at $storeDir"); 1
            case Some(df) =>
              // the store keys highlights by STRING id; the packer's
              // two-level prefix sum needs a numeric total order, so
              // assign a rank surrogate ordered by the store id. The
              // single-partition window is fine at highlight-store
              // scale; a 100 TB corpus export keys by its own numeric
              // id and calls exportShards directly
              import org.apache.spark.sql.functions.{col, row_number}
              val ordered = df.withColumn("__sid",
                row_number().over(org.apache.spark.sql.expressions.Window
                  .orderBy(col("id"))).cast("long"))
              graft.text.CorpusPrep.exportShards(ordered, "text", "__sid",
                  out, st.flatMap(_.toIntOption).getOrElse(2048))
                .orderBy(col("shard_id"))
                .collect()
                .foreach(r => println(Json.write(Map(
                  "shard_id" -> r.getLong(0), "n_docs" -> r.getLong(1),
                  "shard_tokens" -> r.getLong(2),
                  "digest" -> r.getLong(3)))))
              0
          }
        case _ =>
          System.err.println("export requires --store and --out"); 2
      }

    // the full curation pipeline as ONE command (the q140 cascade run
    // for real): language-ID → quality → LM filter → exact dedup, the
    // per-stage report printed first (JSON rows, row-identical to
    // q140's gated output on the same table), then the kept docs —
    // optionally temperature-remixed across sources — packed into
    // verifiable shard directories with their manifest printed last.
    //   graft.Cli curate --docs D.parquet --out DIR [--shard-tokens N]
    //     [--quality 0.6] [--lm-threshold -6.0] [--lm-store DIR]
    //     [--mix-alpha A --mix-frac F] [--report-only]
    case "curate" +: rest =>
      val f = flags(rest)
      (f.get("docs"), f.get("out")) match {
        case (Some(docsPath), outOpt)
            if outOpt.isDefined || rest.contains("--report-only") =>
          def num(flag: String, default: Double): Either[String, Double] =
            f.get(flag) match {
              case None => Right(default)
              case Some(v) => v.toDoubleOption.toRight(
                s"--$flag must be a number, got '$v'")
            }
          val parsed = for {
            q <- num("quality", 0.6)
            lmThr <- num("lm-threshold", -6.0)
            st <- f.get("shard-tokens").fold(
                Right(2048): Either[String, Int])(v =>
              v.toIntOption.filter(_ > 0).toRight(
                s"--shard-tokens must be a positive integer, got '$v'"))
            mix <- (f.get("mix-alpha"), f.get("mix-frac")) match {
              case (None, None) => Right(None)
              case (Some(a), Some(fr)) =>
                (a.toDoubleOption, fr.toDoubleOption) match {
                  case (Some(av), Some(fv)) => Right(Some((av, fv)))
                  case _ => Left("--mix-alpha and --mix-frac must be numbers")
                }
              case _ => Left("--mix-alpha and --mix-frac go together " +
                "(temperature mixture needs both the exponent and the " +
                "target fraction)")
            }
          } yield (q, lmThr, st, mix)
          parsed match {
            case Left(e) => System.err.println(e); 2
            case Right((quality, lmThr, shardTokens, mix)) =>
              val docs = spark.read.parquet(docsPath)
              val missing = Seq("doc_id", "text", "source")
                .filterNot(docs.columns.contains)
              if (missing.nonEmpty) {
                System.err.println("curate needs columns doc_id, text, " +
                  s"source; $docsPath is missing ${missing.mkString(", ")}")
                return 2
              }
              import org.apache.spark.sql.functions.col
              // LM leg: a persistent LmStore when given (score against
              // the maintained counts), else q140's in-line training on
              // the %10<8 split
              val lm = f.get("lm-store") match {
                case Some(d) =>
                  graft.text.LmStore.score(docs, "text", "doc_id", d)
                    .select(col("doc_id"), col("avg_logprob"))
                case None =>
                  graft.text.TextAnalysis.ngramLmScore(docs, "text",
                      "doc_id", trainFilter = col("doc_id") % 10 < 8)
                    .select(col("doc_id"), col("avg_logprob"))
              }
              val (tagged, report) = graft.text.CorpusPrep.curationCascade(
                docs, "text", "doc_id", "source", lm, quality, lmThr)
              val taggedP = tagged.persist()
              try {
                report.collect().foreach(r => println(Json.write(Map(
                  "source" -> r.getString(0), "reason" -> r.getString(1),
                  "n" -> r.getLong(2)))))
                if (rest.contains("--report-only")) 0
                else {
                  val kept = docs.join(
                    taggedP.filter(col("reason") === "keep")
                      .select(col("doc_id")), Seq("doc_id"), "left_semi")
                  val mixed = mix.fold(kept) { case (a, fr) =>
                    graft.text.CorpusPrep.temperatureMixture(
                      kept, "text", "source", a, fr)
                  }
                  graft.text.CorpusPrep.exportShards(
                      mixed.select(col("doc_id"), col("text")), "text",
                      "doc_id", outOpt.get, shardTokens)
                    .orderBy(col("shard_id")).collect()
                    .foreach(r => println(Json.write(Map(
                      "shard_id" -> r.getLong(0), "n_docs" -> r.getLong(1),
                      "shard_tokens" -> r.getLong(2),
                      "digest" -> r.getLong(3)))))
                  0
                }
              } finally { taggedP.unpersist(); () }
          }
        case _ =>
          System.err.println(
            "curate requires --docs and (--out or --report-only)"); 2
      }

    case "serve" +: rest =>
      val f = flags(rest)
      val cfg = GraftConfig.resolve(f, env, GraftConfig.Command.Serve) match {
        case Left(errs) => errs.foreach(System.err.println); return 2
        case Right(c)   => c
      }
      HighlightStore.read(spark, cfg.storeDir) match {
        case None =>
          System.err.println(s"no highlight store at ${cfg.storeDir}"); 1
        case Some(df) =>
          dimMismatch(df, cfg.embedder.dim).foreach { msg =>
            System.err.println(msg); return 2
          }
          val denseOpt = denseIndex(spark, cfg) match {
            case Left(code) => return code
            case Right(d)   => d
          }
          // the reloading warm handle pins the AT-REST relation (encoded
          // bytes for an fp16 store) per resolved version — request plans
          // hit the cache as a subplan — and follows sync/refresh commits
          // live, releasing the superseded version's cache on swap
          val storeHandle = HighlightStore.reloadingWarm(spark, cfg.storeDir)
          val gw = new SearchGateway(() => storeHandle.get.serving,
            cfg.embedder, denseOpt, cfg.nprobe)
          val http = new HttpApi(gw.search, () => Health.check(spark),
            port = cfg.httpPort).start()
          val mcp = new McpServer(gw.search, port = cfg.mcpPort).start()
          println(Json.write(Map(
            "http_port" -> http.boundPort, "mcp_port" -> mcp.boundPort)))
          sys.addShutdownHook { http.shutdown(); mcp.shutdown(1000) }
          // block until killed (the reference's server entrypoints do the same)
          Thread.currentThread().join()
          0
      }

    case _ =>
      System.err.println(
        "usage: graft.Cli sync|refresh|search|serve|index|export|curate|health ...")
      2
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    spark.sparkContext.setLogLevel("WARN")
    val code = run(args, spark)
    spark.stop()
    if (code != 0) sys.exit(code)
  }
}
