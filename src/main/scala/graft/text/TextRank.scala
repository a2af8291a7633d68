package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lexical retrieval and hybrid rank fusion — the "sparse" half of the
  * hybrid search a retrieval stack runs next to the engine's dense
  * vector top-k (the reference serves dense-only search;
  * readwise_vector_db/core/search.py:44-122 ranks purely by pgvector
  * cosine). BM25 is the standard lexical scorer; reciprocal-rank fusion
  * is the standard way to combine it with a dense list without score
  * calibration. (100-TB extension surface.)
  */
object TextRank {

  /** BM25 top-k retrieval for a fixed bag of query terms.
    *
    * IDF is the RAW RATIO `(N - df + 0.5) / (df + 0.5)` — the same
    * no-logarithm policy as [[TextAnalysis.tfIdfTopTerms]]: an integer
    * ratio evaluated in one IEEE double expression is bit-identical
    * across engines (`ln` is not guaranteed to be), and the correctness
    * gate is hash-exact. Per-term idf ordering is unchanged; multi-term
    * totals weight rare terms more sharply than the log form, which is
    * the documented semantic of this variant.
    *
    * Scale shape: the per-document length `dl` is computed BEFORE the
    * explode and travels with each token row, so the score needs no
    * corpus-sized join back to the document table; the explode is
    * filtered to the query terms at the generator, so the one exchange
    * (tf groupBy) carries only query-term hits — at 100 TB that is
    * O(matching postings), never the corpus. The df table is |terms|
    * rows (broadcast), corpus stats are one row (broadcast), and the
    * final top-k is `TakeOrderedAndProject`. Per-document totals are
    * assembled by conditional aggregation in FIXED term order — never a
    * float `sum()` whose partial-aggregation order could differ between
    * engines.
    *
    * Returns (id, score), score descending, ties broken on id. */
  /** Positional PHRASE match — the capability term-frequency retrieval
    * ([[bm25TopK]], the lexical index) cannot express: a document
    * matches only where the phrase's words occur CONSECUTIVELY. Word
    * positions come from one `posexplode` filtered to the phrase's
    * terms at the generator (same posture as BM25's term filter: the
    * exchange carries matching positions only, never the corpus); the
    * phrase is then an equi-join per subsequent term on
    * (id, anchor-relative position) — each surviving row is one start
    * position, so the per-doc count is exact occurrence count.
    * A positional lexical index (postings carrying position arrays in
    * the existing term-bucket layout) would serve this without the
    * scan; the join shape is identical either way.
    *
    * Returns (keyCol, n_matches), matching docs only. */
  def phraseMatch(df: DataFrame, textCol: String, keyCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseMatch: phrase must be non-empty")
    val pos = df.select(col(keyCol).as("id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))
      .filter(col("w").isin(phrase: _*))
    val anchors = pos.filter(col("w") === phrase.head)
      .select(col("id"), col("pos"))
    val matches = phrase.zipWithIndex.tail
      .foldLeft(anchors) { case (acc, (t, i)) =>
        acc.join(pos.filter(col("w") === t)
            .select(col("id"), (col("pos") - i).as("pos")),
          Seq("id", "pos"))
      }
    matches.groupBy(col("id"))
      .agg(count(lit(1)).as("n_matches"))
      .withColumnRenamed("id", keyCol)
  }

  /** Build a persistent POSITIONAL index — [[phraseMatch]] without the
    * corpus scan: postings `(term, id, positions)` carry every word
    * position (sorted int array), written PARTITIONED BY `term_bucket =
    * polyHash(term) % buckets` under the same [[graft.sync.SegmentedIndex]]
    * pointer discipline as the lexical index (immutable segments, atomic
    * commit, O(batch) appends via [[appendPositionalIndex]]). A phrase
    * query probes only its terms' buckets. */
  def buildPositionalIndex(df: DataFrame, textCol: String, keyCol: String,
      indexDir: String, buckets: Int = 64): Unit = {
    require(buckets >= 1, s"buildPositionalIndex: buckets must be >= 1")
    val seg = graft.sync.SegmentedIndex.newSegmentName()
    writePositionalSegment(df, textCol, keyCol, s"$indexDir/$seg", buckets)
    graft.sync.SegmentedIndex.commit(df.sparkSession, indexDir, Seq(seg))
  }

  /** One new immutable segment + pointer commit; same contract as
    * [[appendLexicalIndex]] (matching `buckets`, fresh doc ids). */
  def appendPositionalIndex(batch: DataFrame, textCol: String,
      keyCol: String, indexDir: String, buckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    val existing = graft.sync.SegmentedIndex.resolve(spark, indexDir)
      .getOrElse(throw new IllegalStateException(
        s"appendPositionalIndex: no segmented index at $indexDir (build first)"))
    val seg = graft.sync.SegmentedIndex.newSegmentName()
    writePositionalSegment(batch, textCol, keyCol, s"$indexDir/$seg", buckets)
    graft.sync.SegmentedIndex.commit(spark, indexDir, existing :+ seg)
  }

  private def writePositionalSegment(df: DataFrame, textCol: String,
      keyCol: String, segDir: String, buckets: Int): Unit =
    df.select(col(keyCol).as("id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "term")))
      .groupBy(col("id"), col("term"))
      // collect_list order is partition-dependent; sort_array pins it
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("term_bucket",
        pmod(TextAnalysis.polyHash(col("term")), lit(buckets.toLong)))
      .repartition(col("term_bucket")) // one file per bucket per segment
      .write.partitionBy("term_bucket")
      .mode("overwrite").parquet(s"$segDir/postings")

  /** Serve a phrase query from a [[buildPositionalIndex]] index: probe
    * the phrase's term buckets (PartitionFilter per segment — un-probed
    * buckets are never listed or read), explode positions back to
    * (id, pos) rows for the matched terms only, and run the same
    * anchor-relative equi-join as [[phraseMatch]]. Tombstoned docs
    * (segments named `del-*` carrying `ids`) are anti-joined out.
    * Returns (id, n_matches), matching docs only — row-identical to
    * [[phraseMatch]] over the indexed corpus. */
  def searchPhraseIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, phrase: Seq[String], buckets: Int = 64): DataFrame = {
    require(phrase.nonEmpty, "searchPhraseIndex: phrase must be non-empty")
    import org.apache.spark.unsafe.types.UTF8String
    val probedBuckets = phrase.distinct
      .map(t => TextMath.polyHash(UTF8String.fromString(t)) % buckets)
      .distinct
    val list = graft.sync.SegmentedIndex.resolve(spark, indexDir)
      .getOrElse(throw new IllegalStateException(
        s"searchPhraseIndex: no segmented index at $indexDir"))
    val postings = graft.sync.SegmentedIndex.tombstoneScopes(list)
      .map { case (data, tombs) =>
        val p = readUnion(spark, data.map(s => s"$indexDir/$s/postings"))
        if (tombs.isEmpty) p
        else p.join(
          readUnion(spark, tombs.map(s => s"$indexDir/$s/ids")),
          Seq("id"), "left_anti")
      }.reduce(_ unionByName _)
    val inList: Seq[Any] = postings.schema("term_bucket").dataType match {
      case org.apache.spark.sql.types.IntegerType => probedBuckets.map(_.toInt)
      case org.apache.spark.sql.types.LongType => probedBuckets
      case _ => probedBuckets.map(_.toString)
    }
    val pos = postings
      .filter(col("term_bucket").isin(inList: _*))
      .filter(col("term").isin(phrase.map(x => x: Any): _*))
      .select(col("id"), col("term"), explode(col("positions")).as("pos"))
    val anchors = pos.filter(col("term") === phrase.head)
      .select(col("id"), col("pos"))
    val matches = phrase.zipWithIndex.tail
      .foldLeft(anchors) { case (acc, (t, i)) =>
        acc.join(pos.filter(col("term") === t)
            .select(col("id"), (col("pos") - i).as("pos")),
          Seq("id", "pos"))
      }
    matches.groupBy(col("id")).agg(count(lit(1)).as("n_matches"))
  }

  def bm25TopK(df: DataFrame, textCol: String, keyCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: queryTerms must be non-empty")
    require(queryTerms.distinct == queryTerms,
      "bm25TopK: queryTerms must be distinct (a repeated term would double-count)")
    val docs = df
      .select(col(keyCol).as("id"), split(col(textCol), " ").as("w"))
      .select(col("id"), col("w"), size(col("w")).cast("long").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n"), sum(col("dl")).as("total_dl"))
    val toks = docs
      .select(col("id"), col("dl"), explode(col("w")).as("term"))
      .filter(col("term").isin(queryTerms.map(x => x: Any): _*))
    val tf = toks.groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    scoreBm25(tf.crossJoin(stats), queryTerms, k,
      col("n"), col("total_dl"), k1, b)
  }

  /** The per-(doc, term) BM25 contribution expression — ONE fixed float
    * tree shared by every entry point (in-memory, index scan, serving
    * handle; the DuckDB oracle mirrors it token for token), so the
    * paths can never drift no matter where `doc_freq`/stats come from
    * (aggregated columns or plan literals — same values, same tree,
    * same doubles). */
  private def bm25Contrib(dfCol: Column, nCol: Column, totalDlCol: Column,
      k1: Double, b: Double): Column = {
    val lenNorm = col("tf").cast("double") +
      lit(k1) * (lit(1.0 - b) + lit(b) *
        ((col("dl").cast("double") * nCol.cast("double")) /
          totalDlCol.cast("double")))
    val idf = (nCol.cast("double") - dfCol.cast("double") + lit(0.5)) /
      (dfCol.cast("double") + lit(0.5))
    idf * ((col("tf").cast("double") * lit(k1 + 1.0)) / lenNorm)
  }

  /** Per-document totals in FIXED term order over a `(id, term, contrib)`
    * frame — never a float `sum()` whose partial-aggregation order could
    * differ between engines. */
  private def totalsTopK(contrib: DataFrame, queryTerms: Seq[String],
      k: Int): DataFrame = {
    val perTerm = queryTerms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("contrib"))).as(s"s$i") }
    contrib.groupBy(col("id"))
      .agg(perTerm.head, perTerm.tail: _*)
      .select(col("id"),
        queryTerms.indices.map(i => coalesce(col(s"s$i"), lit(0.0)))
          .reduceLeft(_ + _).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** The shared BM25 scoring tail over a `(id, dl, term, tf)` frame of
    * matching postings (+ whatever carries the corpus stats — a
    * crossJoined one-row frame or plan literals via `nCol`/`totalDlCol`).
    * Document frequency aggregates from the postings and attaches by
    * broadcast join. */
  private def scoreBm25(tf: DataFrame, queryTerms: Seq[String], k: Int,
      nCol: Column, totalDlCol: Column, k1: Double, b: Double): DataFrame = {
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("doc_freq"))
    val contrib = tf.join(broadcast(dfreq), Seq("term"))
      .select(col("id"), col("term"),
        bm25Contrib(col("doc_freq"), nCol, totalDlCol, k1, b).as("contrib"))
    totalsTopK(contrib, queryTerms, k)
  }

  /** Segments are separate parquet ROOTS (each hive-partitioned by
    * term_bucket), so they read individually and union — one multi-path
    * read would reject the "conflicting" per-segment partition trees.
    * Filter pushdown crosses Union, so each segment's scan still prunes
    * to the probed buckets. */
  private def readUnion(spark: org.apache.spark.sql.SparkSession,
      dirs: Seq[String]): DataFrame =
    dirs.map(spark.read.parquet(_)).reduce(_ unionByName _)

  /** The index's LIVE relations: postings with tombstoned ids
    * anti-joined away under SEQUENCE scope — a tombstone masks only
    * segments committed before it, so a doc re-appended after its
    * delete (the CDC changed-doc shape) is served; one anti-join per
    * distinct tombstone scope, and the steady-state plan (no
    * tombstones) carries no join at all. Stats come from EVERY live
    * entry — tombstone segments carry NEGATIVE correction rows, so
    * plain integer summation stays exact after deletes. Falls back to
    * the pre-segment flat layout. */
  private def liveRelations(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): (DataFrame, Seq[String]) =
    graft.sync.SegmentedIndex.resolve(spark, indexDir) match {
      case Some(list) =>
        val posts = graft.sync.SegmentedIndex.tombstoneScopes(list)
          .map { case (data, tombs) =>
            val p = readUnion(spark, data.map(s => s"$indexDir/$s/postings"))
            if (tombs.isEmpty) p
            else p.join(
              readUnion(spark, tombs.map(s => s"$indexDir/$s/ids")),
              Seq("id"), "left_anti")
          }.reduce(_ unionByName _)
        (posts, list.map(s => s"$indexDir/$s/stats"))
      case None =>
        (spark.read.parquet(s"$indexDir/postings"), Seq(s"$indexDir/stats"))
    }

  /** Delete documents from a lexical index WITHOUT rewriting it — the
    * takedown/right-to-erasure path: one tombstone segment carrying the
    * deleted ids plus a NEGATIVE corpus-stats correction row (−count,
    * −Σdl over the docs actually present and not already tombstoned, so
    * re-deleting is an exact no-op), committed with the same atomic
    * pointer replace as an append. Every read path anti-joins the
    * tombstones and sums the corrected stats, so served BM25 is
    * BIT-IDENTICAL to an index rebuilt without those documents; the
    * bytes are physically erased at the next [[compactLexicalIndex]]
    * (which materializes the subtraction and drops the tombstones) —
    * run it promptly when erasure, not just invisibility, is the
    * requirement. */
  def deleteFromLexicalIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, ids: DataFrame, idCol: String): Unit = {
    val existing = graft.sync.SegmentedIndex.resolve(spark, indexDir)
      .getOrElse(throw new IllegalStateException(
        s"deleteFromLexicalIndex: no segmented index at $indexDir"))
    val (livePosts, _) = liveRelations(spark, indexDir)
    val del = ids.select(col(idCol).as("id")).distinct()
    // stats correction from docs actually live in the index: one row per
    // affected doc (a doc's dl repeats on every posting row)
    val affected = livePosts.join(del, Seq("id"), "left_semi")
      .select(col("id"), col("dl")).distinct()
    val seg = graft.sync.SegmentedIndex.newTombstoneName()
    affected
      .agg((-count(lit(1))).as("n"),
        (-coalesce(sum(col("dl")), lit(0L))).as("total_dl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/$seg/stats")
    del.coalesce(1).write.mode("overwrite").parquet(s"$indexDir/$seg/ids")
    graft.sync.SegmentedIndex.commit(spark, indexDir, existing :+ seg)
  }

  /** One complete, immutable lexical segment: bucketed postings + a
    * one-row stats sidecar. Shared by build and append — a segment is
    * self-describing, so the search path needs no global dictionary. */
  private def writeLexicalSegment(df: DataFrame, textCol: String,
      keyCol: String, segDir: String, buckets: Int): Unit = {
    val docs = df
      .select(col(keyCol).as("id"), split(col(textCol), " ").as("w"))
      .select(col("id"), col("w"), size(col("w")).cast("long").as("dl"))
    docs.agg(count(lit(1)).as("n"), sum(col("dl")).as("total_dl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$segDir/stats")
    docs.select(col("id"), col("dl"), explode(col("w")).as("term"))
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("term_bucket",
        pmod(TextAnalysis.polyHash(col("term")), lit(buckets.toLong)))
      // cluster by bucket before the partitioned write: without this,
      // every writer task leaves a sliver file in every bucket dir
      // (tasks × buckets tiny files) and a 3-bucket probe schedules ~100
      // scan tasks of pure overhead — measured 5× the serving latency.
      // One file per bucket per segment; a bucket outgrowing one task's
      // write is the signal to raise `buckets`, which keeps per-probe
      // scan size bounded too
      .repartition(col("term_bucket"))
      .write.partitionBy("term_bucket")
      .mode("overwrite").parquet(s"$segDir/postings")
  }

  /** Build a persistent lexical index — the sparse mirror of the IVF
    * layout decision ([[graft.similarity.Knn.ivfBuildIndex]]): postings
    * `(term, id, tf, dl)` are written PARTITIONED BY `term_bucket =
    * polyHash(term) % buckets`, so a query's scan carries
    * `term_bucket IN (…)` as a PartitionFilter and un-probed buckets are
    * never listed, opened, or read. A term's entire posting list lives in
    * exactly one bucket (within each segment), so document frequency is
    * computable from the probed partitions alone; corpus-level stats
    * (N, total_dl) go to a one-row sidecar per segment. At 100 TB the
    * index is the corpus re-sorted once at write time; each query then
    * touches terms/buckets of it.
    *
    * Layout: one initial segment + a `CURRENT` segment-list pointer
    * ([[graft.sync.SegmentedIndex]]), so production batches extend the
    * index via [[appendLexicalIndex]] at O(batch) cost instead of
    * rebuilding the world. */
  def buildLexicalIndex(df: DataFrame, textCol: String, keyCol: String,
      indexDir: String, buckets: Int = 64): Unit = {
    require(buckets >= 1, s"buildLexicalIndex: buckets must be >= 1")
    val seg = graft.sync.SegmentedIndex.newSegmentName()
    writeLexicalSegment(df, textCol, keyCol, s"$indexDir/$seg", buckets)
    graft.sync.SegmentedIndex.commit(df.sparkSession, indexDir, Seq(seg))
  }

  /** Append a batch to an existing lexical index: ONE new segment
    * (bucketed exactly like the base — the probe's PartitionFilter
    * applies per segment) + one atomic pointer commit. Cost scales with
    * the batch; existing segments are never touched, so a reader that
    * resolved the pointer pre-commit still scans a complete, consistent
    * index. `buckets` must match the build (same polyHash modulus, or a
    * term's postings would split across bucket ids and df would
    * double-count); batch doc ids must be new to the index — run the
    * dedup/decontamination pass first, the same contract as the IVF
    * append. foreachBatch-ready: call per micro-batch. */
  def appendLexicalIndex(batch: DataFrame, textCol: String, keyCol: String,
      indexDir: String, buckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    val existing = graft.sync.SegmentedIndex.resolve(spark, indexDir)
      .getOrElse(throw new IllegalStateException(
        s"appendLexicalIndex: no segmented index at $indexDir (build first)"))
    val seg = graft.sync.SegmentedIndex.newSegmentName()
    writeLexicalSegment(batch, textCol, keyCol, s"$indexDir/$seg", buckets)
    graft.sync.SegmentedIndex.commit(spark, indexDir, existing :+ seg)
  }

  /** [[appendLexicalIndex]] as a Structured Streaming sink — the
    * steady-state "documents keep arriving, the search index keeps
    * serving" loop: each micro-batch becomes one immutable segment + one
    * pointer commit (`foreachBatch`, same rationale as
    * [[graft.dedup.Dedup.incrementalDeduplicateStream]]: the index is
    * far too large for the state store and lives naturally as the sink).
    * The first micro-batch builds the index if none exists. Caller
    * supplies `.option("checkpointLocation", ...)` and `.start()`.
    * At-least-once caveat: a replayed batch appends its postings twice —
    * run the dedup pass upstream (its replay IS self-healing) or compact
    * with the duplicate-merging [[compactLexicalIndex]] after recovery. */
  def appendLexicalIndexStream(batches: DataFrame, textCol: String,
      keyCol: String, indexDir: String, buckets: Int = 64)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batches.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        if (graft.sync.SegmentedIndex.resolve(spark, indexDir).isEmpty)
          buildLexicalIndex(batch, textCol, keyCol, indexDir, buckets)
        else appendLexicalIndex(batch, textCol, keyCol, indexDir, buckets)
      }
    }

  /** Merge all live segments into one (read the tombstone-subtracted
    * postings union — never the original text — re-group, write, swap
    * the pointer): the LSM compaction that bounds per-query segment
    * fan-out after many appends, and the step that PHYSICALLY erases
    * tombstoned documents (the swept tombstone/data segments are
    * deleted by the commit's retention pass). Per-(id, term) tf rows
    * merge by SUM and dl by MAX (ids are expected unique across
    * segments, making both a plain carry; the merge rule keeps
    * compaction total even if that contract was violated upstream). */
  def compactLexicalIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, buckets: Int = 64): Unit = {
    val existing = graft.sync.SegmentedIndex.resolve(spark, indexDir)
      .getOrElse(throw new IllegalStateException(
        s"compactLexicalIndex: no segmented index at $indexDir"))
    if (existing.size <= 1) return
    val seg = graft.sync.SegmentedIndex.newSegmentName()
    val segDir = s"$indexDir/$seg"
    val (postings, statDirs) = liveRelations(spark, indexDir)
    readUnion(spark, statDirs)
      .agg(sum(col("n")).as("n"), sum(col("total_dl")).as("total_dl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$segDir/stats")
    postings.groupBy(col("id"), col("term"), col("term_bucket"))
      .agg(max(col("dl")).as("dl"), sum(col("tf")).as("tf"))
      .select(col("id"), col("dl"), col("term"), col("tf"), col("term_bucket"))
      .repartition(col("term_bucket"))
      .write.partitionBy("term_bucket")
      .mode("overwrite").parquet(s"$segDir/postings")
    graft.sync.SegmentedIndex.commit(spark, indexDir, Seq(seg))
  }

  /** BM25 top-k served from a [[buildLexicalIndex]] layout (segmented —
    * the postings scan unions all live segments, pruning each to the
    * probed buckets — with fallback to the pre-segment flat layout).
    * The probed buckets are computed on the driver from the query terms
    * (the same polyHash the writer used — query-plan state, like a query
    * vector), and the postings scan prunes to them at plan time; df
    * comes from the probed postings themselves, so no global term
    * dictionary is read; corpus stats are the integer SUM of the
    * segment sidecars (exact — order-free). Identical results to
    * [[bm25TopK]] over the same corpus — same ratio idf, same
    * fixed-order totals, whether the corpus arrived in one build or
    * build + appends. */
  def searchLexicalIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queryTerms: Seq[String], k: Int,
      buckets: Int = 64, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
      "searchLexicalIndex: queryTerms must be non-empty and distinct")
    import org.apache.spark.unsafe.types.UTF8String
    val probedBuckets = queryTerms
      .map(t => TextMath.polyHash(UTF8String.fromString(t)) % buckets)
      .distinct
    val (postings, statDirs) = liveRelations(spark, indexDir)
    val inList: Seq[Any] = postings.schema("term_bucket").dataType match {
      case org.apache.spark.sql.types.IntegerType => probedBuckets.map(_.toInt)
      case org.apache.spark.sql.types.LongType => probedBuckets
      case _ => probedBuckets.map(_.toString)
    }
    val stats = readUnion(spark, statDirs)
      .agg(sum(col("n")).as("n"), sum(col("total_dl")).as("total_dl"))
    val tf = postings
      .filter(col("term_bucket").isin(inList: _*))
      .filter(col("term").isin(queryTerms.map(x => x: Any): _*))
      .select(col("id"), col("dl"), col("term"), col("tf"))
    scoreBm25(tf.crossJoin(broadcast(stats)), queryTerms, k,
      col("n"), col("total_dl"), k1, b)
  }

  /** Serving handle over a persistent lexical index — the sparse mirror
    * of [[graft.similarity.Knn.IvfIndex]]'s Catalyst probe: the segment
    * list and corpus stats resolve ONCE at load (stats become plan
    * literals — no per-request sidecar scan), the postings relation is
    * held so file listings are never repeated per request, and each
    * search builds one bucket-pruned plan over it.
    *
    * Per-term document frequencies are CACHED across requests: df is a
    * property of the index, not the query, so the first request for a
    * term pays one tiny counting job and every later request folds the
    * cached value in as a literal — the steady-state scoring plan is a
    * single pruned scan → one hash aggregation → TakeOrdered (one
    * shuffle, no df sub-aggregation, no broadcast build per request).
    * That is what makes the hybrid serving gate's sparse leg cheap.
    * Appends committed after load serve through a re-load (df cache
    * included — stale df would mis-rank). Identical scores to
    * [[searchLexicalIndex]] — same fixed expression tree, same df
    * values. Thread-safe: the cache is a concurrent map. */
  final class LexIndex private (
      postings: DataFrame, n: Long, totalDl: Long, buckets: Int,
      k1: Double, b: Double) {

    private val dfCache = scala.collection.concurrent.TrieMap.empty[String, Long]

    private def pruned(queryTerms: Seq[String]): DataFrame = {
      import org.apache.spark.unsafe.types.UTF8String
      val probedBuckets = queryTerms
        .map(t => TextMath.polyHash(UTF8String.fromString(t)) % buckets)
        .distinct
      val inList: Seq[Any] = postings.schema("term_bucket").dataType match {
        case org.apache.spark.sql.types.IntegerType => probedBuckets.map(_.toInt)
        case org.apache.spark.sql.types.LongType => probedBuckets
        case _ => probedBuckets.map(_.toString)
      }
      postings
        .filter(col("term_bucket").isin(inList: _*))
        .filter(col("term").isin(queryTerms.map(x => x: Any): _*))
        .select(col("id"), col("dl"), col("term"), col("tf"))
    }

    def search(queryTerms: Seq[String], k: Int): DataFrame = {
      require(queryTerms.nonEmpty && queryTerms.distinct == queryTerms,
        "LexIndex.search: queryTerms must be non-empty and distinct")
      val missing = queryTerms.filterNot(dfCache.contains)
      if (missing.nonEmpty) {
        pruned(missing).groupBy(col("term"))
          .agg(count(lit(1)).as("doc_freq")).collect()
          .foreach(r => dfCache.put(r.getString(0), r.getLong(1)))
        missing.foreach(t => dfCache.putIfAbsent(t, 0L)) // absent term
      }
      // df as a literal CASE over the (few) query terms — every scanned
      // row matches one of them, so the otherwise-branch never fires
      val dfCol = queryTerms.tail.foldLeft(
        when(col("term") === queryTerms.head, lit(dfCache(queryTerms.head)))) {
        (acc, t) => acc.when(col("term") === t, lit(dfCache(t)))
      }
      val contrib = pruned(queryTerms)
        .select(col("id"), col("term"),
          bm25Contrib(dfCol, lit(n), lit(totalDl), k1, b).as("contrib"))
      totalsTopK(contrib, queryTerms, k)
    }
  }

  object LexIndex {
    def load(spark: org.apache.spark.sql.SparkSession, indexDir: String,
        buckets: Int = 64, k1: Double = 1.2, b: Double = 0.75): LexIndex = {
      // tombstones resolve at load like everything else: a tombstoned
      // index serves through an anti-join per request until compaction
      // restores the join-free steady-state plan
      val (postings, statDirs) = liveRelations(spark, indexDir)
      val stats = readUnion(spark, statDirs)
        .agg(sum(col("n")).as("n"), sum(col("total_dl")).as("total_dl"))
        .head()
      new LexIndex(postings, stats.getLong(0), stats.getLong(1),
        buckets, k1, b)
    }

    /** [[load]] behind a per-request generation check
      * ([[graft.sync.Reloading]]): the pointer content covers appends /
      * deletes / compactions, and a reload also refreshes the corpus
      * stats and df cache the load-once handle bakes into plan literals. */
    def reloading(spark: org.apache.spark.sql.SparkSession, indexDir: String,
        buckets: Int = 64, k1: Double = 1.2, b: Double = 0.75,
        minCheckIntervalMs: Long = 0L): graft.sync.Reloading[LexIndex] =
      graft.sync.Reloading(spark, indexDir, Nil, minCheckIntervalMs)(
        load(spark, indexDir, buckets, k1, b))
  }

  /** Reciprocal-rank fusion of two ranked lists keyed by `id` (each with
    * an integer `rank` column, 1-based): `rrf = 1/(kRrf + rank_a) +
    * 1/(kRrf + rank_b)`, absent-from-a-list contributing 0. Rank is the
    * only thing that crosses the lists, so the dense and sparse scorers
    * need no score calibration — the standard hybrid-search combiner
    * (Cormack et al.'s RRF, kRrf = 60 by convention).
    *
    * Scale shape: both inputs are top-N lists (N rows total, not
    * corpora) — the full-outer join broadcasts; the division is exact
    * IEEE from integer ranks, and the two contributions add in fixed
    * order, so fused scores are engine-portable. Returns
    * (id, rank_a, rank_b, rrf), rrf descending, ties on id. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, kRrf: Int = 60): DataFrame = {
    val fa = a.select(col("id"), col("rank").as("rank_a"))
    val fb = b.select(col("id"), col("rank").as("rank_b"))
    fa.join(fb, Seq("id"), "full_outer")
      .select(col("id"), col("rank_a"), col("rank_b"),
        (coalesce(lit(1.0) / (lit(kRrf) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("rank_b")), lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col("id").asc)
      .limit(k)
  }

  /** [[rrfFuse]] for ALREADY-COLLECTED top-N id lists (1-based rank =
    * list position) — the serving-edge form: the two lists are ≤ k rows
    * each, so fusing them is driver arithmetic, not a third Spark job
    * per request. Same formula, same tie-break (rrf desc, id asc);
    * contributions add in fixed (a then b) order so scores match the
    * distributed form bit-for-bit. */
  def rrfFuseLocal[K](a: Seq[K], b: Seq[K], k: Int, kRrf: Int = 60)(
      implicit ord: Ordering[K]): Seq[(K, Double)] = {
    val ra = a.zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
    val rb = b.zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
    (ra.keySet ++ rb.keySet).toSeq
      .map { id =>
        val sa = ra.get(id).map(r => 1.0 / (kRrf + r)).getOrElse(0.0)
        val sb = rb.get(id).map(r => 1.0 / (kRrf + r)).getOrElse(0.0)
        (id, sa + sb)
      }
      .sortBy { case (id, rrf) => (-rrf, id) }(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, ord))
      .take(k)
  }
}
