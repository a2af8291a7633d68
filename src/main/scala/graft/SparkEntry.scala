package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.cosine_distance
import graft.dedup.Dedup
import graft.ingest.Ingest
import graft.similarity.Knn
import graft.streaming.Events
import graft.text.{CorpusPrep, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Conventions shared by every (query, oracle) pair so the driver's
  * column-sorted value-hash compare is byte-stable:
  *  - deterministic total ORDER BY (unique tiebreaker columns included);
  *  - integer aggregates CAST to BIGINT on the DuckDB side (its SUM(int)
  *    widens to HUGEINT, Spark's stays LongType);
  *  - floating sums go through DECIMAL(25,6) and back to DOUBLE on BOTH
  *    sides — exact decimal accumulation makes the doubles bit-identical
  *    regardless of partitioning/aggregation order;
  *  - timestamps leave the plan as formatted strings or epoch-micro longs
  *    (no timezone-representation ambiguity between engines);
  *  - cosine scores are computed with the same sequential double
  *    accumulation in both engines (see functions.VectorMath), so even
  *    those match exactly.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    GraftSession.init(s)
    GraftSession.table(s, dir, name)
  }

  /** Exact (order-independent) double sum: decimal accumulate → double. */
  /** Exactly 30 words, SQL-quote-safe — the planted boilerplate block for
    * the window-dedup fixture (q81): one full 30-word window, so the
    * plant aligns with the chunk grid on both engine and oracle. */
  private val Boiler30: String =
    (0 until 30).map(i => f"boiler$i%02d").mkString(" ")

  private def dsum(c: Column): Column =
    sum(c.cast("decimal(25,6)")).cast("double")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * top-10 cosine-nearest English documents for a probe vector, the
    * reference's core search shape (filters + score + top-k) with a join. */
  def entry(spark: SparkSession): DataFrame =
    queries("q16_search_docs")(spark, "/root/testdata/sf0.001")

  // ====================================================================
  // Queries — one per implemented operator family from SURVEY.md §2.
  // ====================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- aggregation / scan / filter (S10, P1–P7, A-class) ----
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q02_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").between(lit("1996-01-01"), lit("1996-12-31"))
          && col("l_quantity") >= 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"), col("l_extendedprice"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- joins (J-class): shuffled fact joins + top-k.
    //      Aggregate-then-join: revenue per custkey is reduced on the two
    //      fact tables first, top-10 taken via TakeOrdered, and only those
    //      10 keys join (broadcast) against customer — the wide customer
    //      table never shuffles and the join input is k rows, not |orders|.
    //      (c_custkey is unique, so grouping by it alone is equivalent to
    //      the oracle's GROUP BY c_custkey, c_name.) ----
    "q03_top_customers" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01")
          && col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val top = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_custkey"))
        .limit(10)
      broadcast(top)
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
    }),

    // ---- broadcast dimension joins ----
    "q04_region_stats" -> ((s, dir) => {
      val r = t(s, dir, "region")
      val n = t(s, dir, "nation")
      val sup = t(s, dir, "supplier")
      sup.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          count(lit(1)).as("n_suppliers"),
          countDistinct(col("n_nationkey")).as("n_nations"),
          (dsum(col("s_acctbal")) / count(lit(1))).as("avg_acctbal"))
        .orderBy(col("r_name"))
    }),

    // ---- top-k (T1): TakeOrderedAndProject ----
    "q05_topk_orders" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(15)
    }),

    // ---- semi join (EXISTS) ----
    "q06_exists" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- anti join (NOT EXISTS) ----
    "q07_not_exists" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // ---- set operations (§2.6) ----
    "q08_intersect" -> ((s, dir) => {
      val open = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("custkey")).distinct()
      val rich = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("custkey"))
      open.intersect(rich).orderBy(col("custkey"))
    }),

    "q09_except" -> ((s, dir) => {
      val rich = t(s, dir, "customer").filter(col("c_acctbal") > 8000)
        .select(col("c_custkey").as("custkey"))
      val withF = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey"))
      rich.except(withF).orderBy(col("custkey"))
    }),

    // ---- window / analytic functions ----
    "q10_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_custkey") < 200)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    "q11_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .filter(col("l_suppkey") < 20)
        .withColumn("running_revenue",
          sum(col("l_extendedprice").cast("decimal(25,6)")).over(w).cast("double"))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("running_revenue"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- rollup / grouping sets ----
    "q12_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sum_qty"))
        .select(col("gid"), col("l_returnflag"), col("l_linestatus"),
          col("n"), col("sum_qty"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- distinct aggregation ----
    "q13_distinct_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- semantic search: the reference's core query (T1 + P2/P3) ----
    "q14_search_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      e.crossJoin(broadcast(q))
        .select(col("vec_id"),
          cosine_distance(col("embedding"), col("qv")).as("score"))
        .orderBy(col("score"), col("vec_id"))
        .limit(20)
    }),

    "q15_search_filtered" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      e.filter(col("label") === 3 && col("vec_id") >= 10)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"),
          cosine_distance(col("embedding"), col("qv")).as("score"))
        .orderBy(col("score"), col("vec_id"))
        .limit(15)
    }),

    "q16_search_docs" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val d = t(s, dir, "documents").filter(col("lang") === "en")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      d.join(e, col("doc_id") === col("vec_id"))
        .crossJoin(broadcast(q))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          cosine_distance(col("embedding"), col("qv")).as("score"))
        .orderBy(col("score"), col("doc_id"))
        .limit(10)
    }),

    // ---- array-overlap predicate (P4: tags && query_tags) ----
    "q17_tags_overlap" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(arrays_overlap(TextAnalysis.words(col("text")),
          lit(Array("spark", "vector", "join"))))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"))
    }),

    // ---- k-NN join (multi-query similarity search) ----
    "q18_knn_join" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Knn.knnJoin(
          e.filter(col("vec_id") < 5), e,
          queryVec = "embedding", queryKey = "vec_id",
          corpusVec = "embedding", corpusKey = "vec_id", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- IVF-style ANN (cell-pruned search) ----
    "q19_ivf_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 8)
      val assigned = Knn.ivfAssign(e, "embedding", "vec_id",
        cents, "embedding", "vec_id")
      // the probe vector is vec 0 → its cell is centroid 0 (self-distance 0)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      assigned.filter(col("centroid_id") === 0)
        .crossJoin(broadcast(q))
        .select(col("id"), col("centroid_id"),
          cosine_distance(col("v"), col("qv")).as("score"))
        .orderBy(col("score"), col("id"))
        .limit(10)
    }),

    // ---- dedup: exact (hash-groupBy on digest) ----
    "q20_dedup_exact" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dup = d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      Dedup.exactGroups(d.unionByName(dup), "text", "doc_id")
        .orderBy(col("keeper"))
    }),

    // ---- dedup: n-gram Jaccard all-pairs (bounded verification set) ----
    "q21_dedup_jaccard" -> ((s, dir) => {
      Dedup.jaccardPairs(
          t(s, dir, "documents").filter(col("doc_id") < 200),
          "text", "doc_id", threshold = 0.02)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup: MinHash signatures ----
    "q22_minhash_sigs" -> ((s, dir) => {
      Dedup.minHashSignatures(
          t(s, dir, "documents").filter(col("doc_id") < 100), "text", "doc_id")
        .orderBy(col("id"))
    }),

    // ---- dedup: MinHash-LSH candidate pairs (banded equi-join) ----
    "q23_lsh_pairs" -> ((s, dir) => {
      Dedup.minHashLshPairs(
          t(s, dir, "documents").filter(col("doc_id") < 200), "text", "doc_id")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup: SimHash fingerprints ----
    "q24_simhash" -> ((s, dir) => {
      Dedup.simHashTable(
          t(s, dir, "documents").filter(col("doc_id") < 200), "text", "doc_id")
        .orderBy(col("id"))
    }),

    // ---- dedup: embedding-cosine near-duplicates ----
    "q25_dedup_embedding" -> ((s, dir) => {
      Dedup.embeddingNearDupPairs(
          t(s, dir, "embeddings").filter(col("vec_id") < 300),
          "embedding", "vec_id", maxDistance = 0.7)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- text analysis: token/char/quality stats ----
    "q26_text_stats" -> ((s, dir) => {
      val txt = col("text")
      t(s, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.tokenCount(txt).as("n_tokens"),
          TextAnalysis.charCount(txt).as("len_chars"),
          TextAnalysis.avgWordLen(txt).as("avg_word_len"),
          TextAnalysis.stopwordRatio(txt).as("stop_ratio"),
          TextAnalysis.qualityScore(txt).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // ---- text analysis: language ID (marker heuristic, staged tokenize) ----
    "q27_langid" -> ((s, dir) => {
      TextAnalysis.withLangId(t(s, dir, "documents"), "text", "lang_pred")
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred"))
    }),

    // ---- text analysis: rolling-hash fingerprint ----
    "q28_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"),
          TextAnalysis.charCount(col("text")).as("len_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- text analysis: regex (BPE-ish) token count ----
    "q29_regex_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.regexTokenCount(col("text")).as("n_regex_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ---- streaming analogs (batch form; see streaming specs for the
    //      Structured Streaming runs of the same column logic) ----
    "q30_events_hourly" -> ((s, dir) => {
      Events.tumblingHourly(t(s, dir, "events"))
        .orderBy(col("hour"), col("event_type"))
    }),

    "q31_sessions" -> ((s, dir) => {
      Events.sessionize(t(s, dir, "events"), gapMinutes = 30)
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("sum_value"), col("start_us"), col("end_us"), col("duration_us"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    "q32_sliding_windows" -> ((s, dir) => {
      Events.slidingHourBy30m(t(s, dir, "events"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    // ---- keyed newest-wins upsert (S6/S7 ON CONFLICT semantics) ----
    "q33_upsert" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val base = d.select(col("doc_id"), col("text"), lit(1L).as("version"))
      val updates = d.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), upper(col("text")).as("text"), lit(2L).as("version"))
      Ingest.upsert(base, updates, "doc_id", "version")
        .select(col("doc_id"), col("version"), md5(col("text")).as("h"))
        .orderBy(col("doc_id"))
    }),

    // ---- ingest: export flatten + parse (S2/S4/S5, F4–F7, J1) ----
    "q34_ingest_flatten" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // build export-shaped nested pages (book → highlights) from documents
      val books = d.groupBy(col("source")).agg(
        collect_list(struct(
          col("doc_id").as("id"), col("text").as("text"),
          lit(null).cast("string").as("url"), col("lang").as("note"),
          col("n_chars").as("location"),
          array(struct(col("lang").as("name")),
            struct(col("source").as("name"))).as("tags"),
          lit("2024-01-15T10:00:00Z").as("highlighted_at"),
          lit("not-a-date").as("updated_at"))).as("highlights"),
        first(col("source")).as("title"))
      // one export page per book (no global single-row collect — a page is
      // a bounded API response, not the whole corpus)
      val pages = books.select(array(struct(
          col("title"), concat(lit("auth-"), col("title")).as("author"),
          lit("book").as("category"),
          concat(lit("https://x/"), col("title")).as("source_url"),
          col("highlights"))).as("results"))
      val parsed = Ingest.parseHighlights(Ingest.flattenExport(pages))
      parsed.select(col("id"), col("text"), col("source_type"),
          col("source_author"), col("source_title"), col("source_url"),
          col("category"), col("note"), col("location"),
          date_format(col("highlighted_at"), "yyyy-MM-dd HH:mm:ss").as("highlighted_at"),
          date_format(col("updated_at"), "yyyy-MM-dd HH:mm:ss").as("updated_at"),
          array_join(col("tags"), ",").as("tags"))
        .orderBy(col("id"))
    }),

    // ---- embed + search end-to-end (F10 + T1): query text → deterministic
    //      hash-ngram embedding → cosine top-k over freshly embedded docs ----
    "q35_embed_search" -> ((s, dir) => {
      val emb = graft.embed.Embedder.embedUdf()
      val qv = graft.embed.Embedder.Default.embed(EmbedProbeText)
      t(s, dir, "documents")
        .select(col("doc_id"),
          cosine_distance(emb(col("text")), typedLit(qv)).as("score"))
        .orderBy(col("score"), col("doc_id"))
        .limit(20)
    }),

    // ---- multimodal: binary payload columns + typed metadata ----
    "q36_blob_meta" -> ((s, dir) => {
      val d = graft.multimodal.Multimodal.attachBlob(
        t(s, dir, "documents"), frameBytes = 64)
      d.select(col("doc_id"),
          col("media_meta.n_bytes").cast("long").as("n_bytes"),
          md5(col("blob")).as("digest"),
          graft.multimodal.Multimodal.frameCount(col("blob"), 64).as("n_frames"))
        .orderBy(col("doc_id"))
    }),

    // ---- multimodal: frame sampling (every 2nd 64-byte frame) + per-frame
    //      digest — the explode-a-video-into-frames shape ----
    "q37_frame_sample" -> ((s, dir) => {
      val d = graft.multimodal.Multimodal.attachBlob(
        t(s, dir, "documents").filter(col("doc_id") < 100), frameBytes = 64)
      d.select(col("doc_id"),
          posexplode(graft.multimodal.Multimodal.sampleFrames(col("blob"), 64, every = 2)))
        .select(col("doc_id"), col("pos").cast("long").as("frame_idx"),
          md5(col("col")).as("frame_digest"),
          octet_length(col("col")).cast("long").as("frame_bytes"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // ---- exact quantiles (sort-based aggregate with interpolation) ----
    // exact per-group percentiles for the gate; at corpus scale swap in
    // percentile_approx (bounded mergeable sketch, rank error
    // <= 1/accuracy) — divergence pinned in CorpusPrepSpec's trimByLength
    // test, which exercises the same pair of aggregates
    "q45_quantiles" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          percentile(col("l_extendedprice"), lit(0.5)).as("median_price"),
          percentile(col("l_extendedprice"), lit(0.95)).as("p95_price"),
          percentile(col("l_quantity"), lit(0.25)).as("q1_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- interval/range join (binned equi-join shape): clicks assigned
    //      to their containing session, counted per session ----
    "q44_interval_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val sessions = Events.sessionize(ev, gapMinutes = 30)
        .select(col("user_id").as("su"), col("session_id"),
          col("start_us"), col("end_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), unix_micros(col("ts")).as("cus"),
          col("event_id"))
      graft.temporal.RangeJoin.intervalJoin(clicks, sessions,
          pointKey = "cu", intervalKey = "su", pointTime = "cus",
          startCol = "start_us", endCol = "end_us",
          binWidth = 30L * 60L * 1000000L)
        .groupBy(col("su").as("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_clicks"),
          min(col("cus")).as("first_click_us"),
          max(col("cus")).as("last_click_us"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // ---- correlated scalar subquery via the SQL front-end: orders more
    //      than 2× their customer's average (Catalyst decorrelates the
    //      subquery into an aggregate + join — no per-row re-execution) ----
    "q43_correlated" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT o1.o_orderkey, o1.o_custkey, o1.o_totalprice
          |FROM orders_v o1
          |WHERE o1.o_totalprice > 2 * (
          |  SELECT AVG(o2.o_totalprice) FROM orders_v o2
          |  WHERE o2.o_custkey = o1.o_custkey)
          |ORDER BY o1.o_orderkey""".stripMargin)
    }),

    // ---- as-of join (point-in-time): each click's most recent prior view
    //      per user — union + one window pass, not a range join ----
    "q42_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("us"))
      // unique (key, time) per side: collapse exact-time duplicates
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("cu"), col("us").as("click_us"))
        .agg(max(col("event_id")).as("click_id"),
          max(col("value")).as("click_value"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id").as("vu"), col("us").as("view_us"))
        .agg(max(col("event_id")).as("view_id"),
          max(col("value")).as("view_value"))
      graft.temporal.AsOfJoin.asofBackward(clicks, views,
          leftKey = "cu", rightKey = "vu",
          leftTime = "click_us", rightTime = "view_us")
        .select(col("cu").as("user_id"), col("click_us"), col("click_id"),
          col("view_us"), col("view_id"), col("view_value"))
        .orderBy(col("user_id"), col("click_us"), col("click_id"))
    }),

    // ---- pivot (wide aggregation): order counts per status × priority ----
    "q41_pivot" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        // absent (status, priority) combos pivot to null; the oracle's
        // COUNT FILTER yields 0 — normalize
        .select(col("o_orderstatus"),
          coalesce(col("1-URGENT"), lit(0L)).as("p1"),
          coalesce(col("2-HIGH"), lit(0L)).as("p2"),
          coalesce(col("3-MEDIUM"), lit(0L)).as("p3"),
          coalesce(col("4-NOT SPECIFIED"), lit(0L)).as("p4"),
          coalesce(col("5-LOW"), lit(0L)).as("p5"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- corpus profiling: token counts + type/token ratios per lang ----
    "q40_token_profile" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"), explode(TextAnalysis.words(col("text"))).as("tok"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("n_distinct_tokens"),
          (count(lit(1)).cast("double") / countDistinct(col("tok")))
            .as("tokens_per_type"))
        .orderBy(col("lang"))
    }),

    // ---- dedup: LSH-bucketed embedding near-dup (scale path of q25) ----
    "q39_embedding_lsh" -> ((s, dir) => {
      Dedup.embeddingLshPairs(
          t(s, dir, "embeddings"), "embedding", "vec_id",
          maxDistance = 0.8, nBits = 8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- multimodal: batched per-partition decode stub (mapPartitions) ----
    "q38_blob_features" -> ((s, dir) => {
      val d = graft.multimodal.Multimodal.attachBlob(t(s, dir, "documents"))
      val f = graft.multimodal.FrameDecoder.extractFeatures(d, "doc_id", "blob")
      val cols = col("doc_id") +: (0 until graft.multimodal.FrameDecoder.Stripes)
        .map(i => element_at(col("features"), i + 1).as(s"f$i"))
      f.select(cols: _*).orderBy(col("doc_id"))
    }),

    // ---- IVF training (2 Lloyd iterations on a fixed slice): exercises
    //      the collect-per-generation centroid loop end-to-end; means are
    //      decimal-exact so the components are oracle-replicable ----
    "q46_ivf_train" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 256)
      Knn.trainCentroids(e, "embedding", "vec_id", k = 4, iters = 2)
        .select(col("centroid_id"), posexplode(col("cvec")))
        .select(col("centroid_id"), col("pos").cast("long").as("pos"),
          col("col").cast("double").as("comp"))
        .orderBy(col("centroid_id"), col("pos"))
    }),

    // ---- IVF search with nprobe=2 (the recall dial): the two cells
    //      nearest the probe vector are scanned, everything else pruned ----
    "q47_ivf_probes" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      val assigned = Knn.ivfAssign(e, "embedding", "vec_id",
        cents, "cvec", "centroid_id")
      // one probe vector collected driver-side (the serving contract:
      // queries arrive as literals, like the reference's query embedding)
      val q = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      Knn.ivfTopKProbes(assigned, cents, "cvec", "centroid_id",
          q, k = 10, nprobe = 2)
        .orderBy(col("score"), col("id"))
    }),

    // ---- reference-dimensionality vector search: 3072-dim embeddings
    //      (HALFVEC(3072) parity — highlight.py:24-26) stored fp16-encoded
    //      (2 bytes/dim BINARY) in a MATERIALIZED parquet corpus, so the
    //      measured work is scan → fused decode+cosine → top-k — the shape
    //      a real encoded store serves — not in-plan fixture synthesis.
    //      Corpus size scales with the SF (count²/20: 12.5k vectors at
    //      sf0.01 where the DuckDB oracle must replicate every fp16
    //      rounding; 200k at sf0.1 where only the bench runs) ----
    "q48_fp16_search" -> ((s, dir) => {
      import graft.functions.fp16_decode
      import graft.fixtures.Fp16Corpus
      val cnt = t(s, dir, "embeddings").count()
      val corpus = Fp16Corpus.prepared(s, dir, cnt * cnt / 20)
      corpus.select(col("vec_id"),
          cosine_distance(fp16_decode(col("emb16")),
            typedLit(Fp16Corpus.probe)).as("score"))
        .orderBy(col("score"), col("vec_id"))
        .limit(20)
    }),

    // ---- the serving store end-to-end in fp16 mode: embeddings written
    //      through HighlightStore.writeAtomic(fp16=true) (2 B/dim BINARY
    //      at rest, versioned pointer commit), read back through the
    //      transparent decode, searched via SemanticSearch — the
    //      reference's HALFVEC store lifecycle, with FuseFp16Cosine
    //      keeping the scored path allocation-free ----
    "q49_fp16_store_search" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // dir keyed by row count so regenerated testdata invalidates the
      // prepared store instead of being silently reused
      val storeDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/fp16store-${new java.io.File(dir).getName}-c${e.count()}"
      if (!new java.io.File(storeDir, "CURRENT").isFile)
        graft.sync.HighlightStore.writeAtomic(e, storeDir, fp16 = true)
      val store = graft.sync.HighlightStore.read(s, storeDir).get
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.search.SemanticSearch.search(store,
          graft.search.SearchRequest(q, k = 20), keyCol = "vec_id")
        .select(col("vec_id"), col("score"))
    }),

    // ---- IVF end-to-end: train on a deterministic 20% sample (id%5=0 —
    //      the oracle-replicable stand-in for .sample() at scale), write
    //      the assigned corpus partitioned by centroid_id, probe nprobe=2
    //      cells via PLAN-TIME partition pruning, and flag each hit's
    //      membership in the exact brute-force top-k (recall@k evidence) ----
    "q50_ivf_e2e" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val indexDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/ivfindex-${new java.io.File(dir).getName}-c${e.count()}"
      if (!Knn.ivfIndexReady(indexDir))
        Knn.ivfBuildIndex(e, "embedding", "vec_id", indexDir, k = 4,
          iters = 2, trainFilter = col("vec_id") % 5 === 0)
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val probe = Knn.IvfIndex.load(s, indexDir)
        .search(qv, k = 10, nprobe = 2)
      val exact = Knn.topK(e, "embedding", qv, 10, "vec_id")
        .select(col("vec_id").as("id"), lit(true).as("in_exact"))
      probe.join(exact, Seq("id"), "left")
        .na.fill(value = false, Seq("in_exact"))
        .select(col("id"), col("centroid_id"), col("score"), col("in_exact"))
        .orderBy(col("score"), col("id"))
    }),

    // ---- the IVF drift monitor over q50's index: per-cell fill + the
    //      DECIMAL-exact mean cosine residual to the cell centroid — the
    //      measurable signal that fires a geometry re-train. Oracle
    //      replays the training chain and aggregates the same residuals ----
    "q126_cell_stats" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val indexDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/ivfindex-${new java.io.File(dir).getName}-c${e.count()}"
      if (!Knn.ivfIndexReady(indexDir))
        Knn.ivfBuildIndex(e, "embedding", "vec_id", indexDir, k = 4,
          iters = 2, trainFilter = col("vec_id") % 5 === 0)
      Knn.ivfCellStats(s, indexDir)
    }),

    // ---- q50 with HALF-PRECISION cells: the index stores 2 bytes/dim
    //      (at 100 TB the cells ARE the index footprint), assignment and
    //      probe selection stay fp32, and the probe scores through the
    //      fused decode+cosine kernel without widening the blob ----
    "q82_ivf_fp16" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val indexDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/ivfindex16-${new java.io.File(dir).getName}-c${e.count()}"
      if (!Knn.ivfIndexReady(indexDir))
        Knn.ivfBuildIndex(e, "embedding", "vec_id", indexDir, k = 4,
          iters = 2, trainFilter = col("vec_id") % 5 === 0, fp16 = true)
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val probe = Knn.IvfIndex.load(s, indexDir)
        .search(qv, k = 10, nprobe = 2)
      val exact = Knn.topK(e, "embedding", qv, 10, "vec_id")
        .select(col("vec_id").as("id"), lit(true).as("in_exact"))
      probe.join(exact, Seq("id"), "left")
        .na.fill(value = false, Seq("in_exact"))
        .select(col("id"), col("centroid_id"), col("score"), col("in_exact"))
        .orderBy(col("score"), col("id"))
    }),

    // ---- Jaccard dedup under the hot-shingle stoplist: 40 synthetic docs
    //      all share one shingle (df=40 ≫ cap=10) that contributes 780
    //      candidate pairs and zero discrimination — the df-stoplist drops
    //      it from candidate generation, leaving only genuinely similar
    //      pairs; real docs (max df 5) pass through untouched ----
    "q51_jaccard_stoplist" -> ((s, dir) => {
      val real = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val k = (col("id") / 2).cast("long").cast("string")
      val syn = s.range(40).select((col("id") + 1000L).as("doc_id"),
        concat(lit("spike spike spike pair"), k, lit(" pair"), k,
          lit(" tail"), col("id").cast("string")).as("text"))
      Dedup.jaccardPairs(real.unionByName(syn), "text", "doc_id",
          threshold = 0.02, maxShingleDf = Some(10))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup groups: near-dup pairs → connected components (the step
    //      that picks one keeper per duplicate cluster). comp = min doc_id
    //      reachable through the Jaccard pair graph ----
    "q52_dedup_components" -> ((s, dir) => {
      val pairs = Dedup.jaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 200),
        "text", "doc_id", threshold = 0.02)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .orderBy(col("id"))
    }),

    // ---- bucketed co-located fact-fact join: both sides pre-bucketed on
    //      the orderkey (8 buckets, sorted), so the join runs with NO
    //      Exchange on either side — shuffle paid once at layout time,
    //      not per query. Revenue per customer over the bucketed join ----
    "q53_bucketed_join" -> ((s, dir) => {
      val (ob, lb) = graft.fixtures.Bucketed.ordersLineitem(s, dir,
        t(s, dir, "orders"), t(s, dir, "lineitem"))
      // MERGE hint: at 100 TB neither fact side broadcasts; local SFs are
      // small enough that Spark would broadcast orders and ignore the
      // bucket layout this query exists to exercise
      ob.hint("merge").join(lb, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("o_custkey"))
    }),

    // ---- dedup pipeline end-to-end: candidate pairs → connected
    //      components → one survivor per duplicate group, with the group
    //      size riding along (the output a training-data dedup run ships) ----
    "q54_dedup_pipeline" -> ((s, dir) => {
      Dedup.deduplicate(
          t(s, dir, "documents").filter(col("doc_id") < 200),
          "text", "doc_id", threshold = 0.02)
        .orderBy(col("doc_id"))
    }),

    // ---- heavy-hitter n-grams over the FULL corpus: the boilerplate /
    //      contamination scan — map-side partial agg, TakeOrdered top-20 ----
    "q55_ngram_topk" -> ((s, dir) =>
      TextAnalysis.heavyHitterShingles(
        t(s, dir, "documents"), "text", k = 3, topN = 20)),

    // ---- TF-IDF keyword extraction: top-3 terms per document (ratio idf
    //      — bit-exact across engines; see TextAnalysis.tfIdfTopTerms) ----
    "q56_tfidf" -> ((s, dir) =>
      TextAnalysis.tfIdfTopTerms(
          t(s, dir, "documents").filter(col("doc_id") < 50),
          "text", "doc_id", topN = 3)
        .orderBy(col("doc_id"), col("term"))),

    // ---- at-least-once event dedup (batch form of the streaming
    //      dropDuplicatesWithinWatermark adapter): every 100th event is
    //      re-delivered; output is one deterministic row per event_id ----
    "q57_event_dedup" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val redelivered = ev.filter(col("event_id") % 100 === 0)
      Events.dedupEvents(ev.unionByName(redelivered))
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
    }),

    // ---- deterministic content-hash sampling: reproducible ~20% subset
    //      keyed on the TEXT (stable under id reassignment), narrow filter ----
    "q58_sample_hash" -> ((s, dir) =>
      graft.text.CorpusPrep.sampleByContentHash(
          t(s, dir, "documents"), "text", buckets = 10, keep = 2)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // ---- decontamination: training docs (id<200) near-dup against a
    //      held-out set = 10 mutated copies of docs 50..59 (suffix keeps
    //      Jaccard high) + 5 unrelated probes (must match nothing) ----
    "q59_decontaminate" -> ((s, dir) => {
      val train = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val mutated = t(s, dir, "documents")
        .filter(col("doc_id") >= 50 && col("doc_id") < 60)
        .select((col("doc_id") + 5000).as("doc_id"),
          concat(col("text"), lit(" heldout marker")).as("text"))
      val probes = s.range(5).select((col("id") + 9000).as("doc_id"),
        concat(lit("benchmark probe question number "),
          col("id").cast("string")).as("text"))
      Dedup.crossCorpusPairs(train, mutated.unionByName(probes),
          "text", "doc_id", threshold = 0.5)
        .orderBy(col("corpus_id"), col("bench_id"))
    }),

    // ---- LSH candidates + exact Jaccard verify — the composed dedup
    //      shape for 100 TB (candidates output-sensitive in near-dups,
    //      verification once per PAIR via array_intersect, not once per
    //      shared shingle) ----
    "q61_lsh_verified" -> ((s, dir) =>
      Dedup.lshVerifiedPairs(
          t(s, dir, "documents").filter(col("doc_id") < 200),
          "text", "doc_id", threshold = 0.02)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- CUBE aggregation (closes the §2.4 grouping-sets family next
    //      to q12's ROLLUP): all four grouping combinations in one pass
    //      over lineitem via Spark's Expand, partial-aggregated ----
    "q62_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n_rows"))
        .orderBy(col("rf"), col("ls"))),

    // ---- offset pagination (§2.5): page 6 of 20 under a deterministic
    //      total order — LIMIT/OFFSET the serving tier's way ----
    "q63_pagination" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("o_totalprice"))
        .offset(100).limit(20)),

    // ---- PII scrubbing: injected email/SSN/phone are all masked; the
    //      scrub chain is one codegen'd expression per row ----
    "q60_pii_scrub" -> ((s, dir) => {
      val injected = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"),
          concat(lit("contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com call 555-123-4567 ssn 123-45-6789 "),
            col("text")).as("text"))
      injected.select(col("doc_id"),
          substring(graft.text.CorpusPrep.scrubPii(col("text")), 1, 160)
            .as("scrubbed"))
        .orderBy(col("doc_id"))
    }),

    // ---- the dedup pipeline through its 100-TB candidate path: LSH
    //      banded candidates + exact-Jaccard verify (q61's shape) feeding
    //      the same components → survivor tail as q54. Recall differences
    //      vs the exact path are the banding scheme's, so this is gated as
    //      its own fixture rather than expected to match q54 ----
    "q64_dedup_pipeline_lsh" -> ((s, dir) =>
      Dedup.deduplicate(
          t(s, dir, "documents").filter(col("doc_id") < 200),
          "text", "doc_id", threshold = 0.02, viaLsh = true)
        .orderBy(col("doc_id"))),

    // ---- decontamination under the hot-shingle cap: every doc on BOTH
    //      sides carries a shared boilerplate header, whose shingles span
    //      the corpora with df ≈ 215 ≫ cap — the cap drops them from
    //      candidate generation (df counted across the UNION), so reported
    //      Jaccard is the lower bound over rare shingles only ----
    "q65_decontaminate_capped" -> ((s, dir) => {
      val boiler = "shared corpus header boilerplate line "
      val train = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), concat(lit(boiler), col("text")).as("text"))
      val mutated = t(s, dir, "documents")
        .filter(col("doc_id") >= 50 && col("doc_id") < 60)
        .select((col("doc_id") + 5000).as("doc_id"),
          concat(lit(boiler), col("text"), lit(" heldout marker")).as("text"))
      val probes = s.range(5).select((col("id") + 9000).as("doc_id"),
        concat(lit(boiler), lit("benchmark probe question number "),
          col("id").cast("string")).as("text"))
      Dedup.crossCorpusPairs(train, mutated.unionByName(probes),
          "text", "doc_id", threshold = 0.5, maxShingleDf = Some(50))
        .orderBy(col("corpus_id"), col("bench_id"))
    }),

    // ---- repetition-based quality filtering (the Gopher duplicate-n-gram
    //      family): per-doc duplicate word/2-gram/3-gram fractions as pure
    //      codegen column math, plus the keep verdict. Three synthetic
    //      spam docs (a phrase repeated 8x) must be the only drops ----
    "q66_repetition_quality" -> ((s, dir) => {
      val real = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val spam = s.range(3).select((col("id") + 7000).as("doc_id"),
        concat(lit("spam spam wow " * 8), col("id").cast("string")).as("text"))
      real.unionByName(spam)
        .select(col("doc_id"),
          TextAnalysis.dupKgramFraction(col("text"), 1).as("dup_word_frac"),
          TextAnalysis.dupKgramFraction(col("text"), 2).as("dup_2gram_frac"),
          TextAnalysis.dupKgramFraction(col("text"), 3).as("dup_3gram_frac"))
        .withColumn("keep",
          col("dup_2gram_frac") <= 0.2 && col("dup_3gram_frac") <= 0.18)
        .orderBy(col("doc_id"))
    }),

    // ---- model-based quality scoring, deterministically: average corpus
    //      occurrence count of each doc's bigrams (the perplexity-filter
    //      analog — gibberish bigrams occur nowhere else and score the
    //      floor). Integer sums → one division keeps it hash-exact ----
    "q67_bigram_familiarity" -> ((s, dir) => {
      val real = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val gibberish = s.range(3).select((col("id") + 8000).as("doc_id"),
        concat(lit("zxqv jkwp mbrt ylgf dhzn"), col("id").cast("string"))
          .as("text"))
      TextAnalysis.bigramFamiliarity(
          real.unionByName(gibberish), "text", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- offset window family (lead/lag/ntile — the §2.4 window forms
    //      q10/q11 don't cover): per-customer order timeline with the
    //      previous/next order gap and a spend quartile ----
    "q68_window_offsets" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("o_totalprice"),
          date_format(lag(col("o_orderdate"), 1).over(w), "yyyy-MM-dd")
            .as("prev_date"),
          date_format(lead(col("o_orderdate"), 1).over(w), "yyyy-MM-dd")
            .as("next_date"),
          ntile(4).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("o_custkey")).orderBy(
                col("o_totalprice"), col("o_orderkey"))).as("spend_quartile"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ---- deterministic train/val/test split, keyed on CONTENT (stable
    //      under id reassignment and re-ingest, same rationale as q58's
    //      sampling): 80/10/10 by rolling-hash bucket, reported as a
    //      per-(source, split) stratification table. The split decision
    //      is a narrow codegen expression; only the report aggregates ----
    "q69_corpus_split" -> ((s, dir) => {
      val bucket = TextAnalysis.polyHash(col("text")) % 10
      t(s, dir, "documents")
        .select(col("source"),
          when(bucket <= 7, lit("train"))
            .when(bucket === 8, lit("val"))
            .otherwise(lit("test")).as("split"),
          col("n_chars"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("source"), col("split"))
    }),

    // ---- embedding-modality dedup GROUPS: sign-LSH bucketed near-dup
    //      pairs (q39's scale path) closed into components and reduced to
    //      one survivor per group — the same pairs → groups → survivors
    //      tail as the text pipeline, proving CC is modality-agnostic ----
    "q71_embedding_dedup_groups" -> ((s, dir) => {
      val pairs = Dedup.embeddingLshPairs(
        t(s, dir, "embeddings"), "embedding", "vec_id",
        maxDistance = 0.8, nBits = 8)
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val all = t(s, dir, "embeddings").select(col("vec_id"))
      val labeled = all
        .join(comp.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("comp"), col("vec_id")).as("comp"))
      // one keeper row exists per component (comp = the min member's id,
      // and that member's own label is comp), so filtering keepers and
      // re-joining the sizes is the identity on the size table — emit it
      // directly: one aggregation, no second corpus scan, no join
      // (identity assumes CONVERGED min-labels; see Dedup.deduplicate)
      labeled.groupBy(col("comp"))
        .agg(count(lit(1)).as("group_size"))
        .select(col("comp").as("vec_id"), col("group_size"))
        .orderBy(col("vec_id"))
    }),

    // ---- SimHash near-dup pairs: nibble-banded candidates (pigeonhole-
    //      complete for hamming <= 3) + codegen bit_count(xor) verify —
    //      closes the SimHash family from table (q24) to pairs ----
    "q77_simhash_pairs" -> ((s, dir) =>
      Dedup.simHashPairs(
          t(s, dir, "documents").filter(col("doc_id") < 300),
          "text", "doc_id", maxHamming = 2)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- SimHash pairs at production width: 64-bit signatures (four
    //      salted 16-bit blocks), 16-bit bands — the shape that holds at
    //      corpus scale where q77's nibble bands saturate ----
    "q78_simhash64_pairs" -> ((s, dir) =>
      Dedup.simHashPairs64(
          t(s, dir, "documents").filter(col("doc_id") < 300),
          "text", "doc_id", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- multi-band random-hyperplane LSH with MEASURED recall: one row
    //      per EXACT near-dup pair (the ground truth q25 computes), with
    //      in_lsh = did the banded candidate+verify path recover it. The
    //      oracle replicates the seeded-Rademacher banding end-to-end, so
    //      the flag — not just the pair list — is hash-gated. 16 bands ×
    //      3 rows recovers ≈99 % here; single-band sign buckets get 3 % ----
    "q79_banded_lsh_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      val exact = Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id",
        maxDistance = 0.7)
      val banded = Dedup.embeddingBandedLshPairs(emb, "embedding", "vec_id",
          maxDistance = 0.7, bands = 16, rowsPerBand = 3, seed = 12345L)
        .select(col("id_a"), col("id_b"), lit(true).as("in_lsh"))
      exact.join(banded, Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"), col("distance"),
          coalesce(col("in_lsh"), lit(false)).as("in_lsh"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- incremental dedup — the steady-state shape: a new batch is
    //      deduplicated AGAINST the existing corpus (drifted copies of
    //      corpus docs dropped), then internally (two 3-doc cliques
    //      collapse to 2 survivors); genuinely new docs survive alone ----
    "q76_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") < 150)
      val drifted = docs.filter(col("doc_id") >= 140 && col("doc_id") < 145)
        .select((col("doc_id") + 8000).as("doc_id"),
          concat(col("text"), lit(" minor drift")).as("text"))
      val newDocs = docs.filter(col("doc_id") >= 150 && col("doc_id") < 200)
      val grp = (col("id") / 3).cast("long").cast("string")
      val clique = s.range(6).select((col("id") + 9000).as("doc_id"),
        concat(lit("brand new boilerplate block variant "), grp,
          lit(" tail"), col("id").cast("string")).as("text"))
      Dedup.incrementalDeduplicate(corpus,
          drifted.unionByName(newDocs).unionByName(clique),
          "text", "doc_id", threshold = 0.5)
        .orderBy(col("doc_id"))
    }),

    // ---- distribution-based length trimming (the C4-style outlier
    //      filter): drop docs outside the corpus's own [p05, p95] length
    //      band. The cutoffs are ONE tiny exact-percentile aggregate,
    //      broadcast back over the corpus for a narrow filter ----
    "q75_length_trim" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("source"), col("n_chars"))
      // exact cutoffs for the gate (portable SQL); approx = true is the
      // corpus-scale sibling, divergence-pinned in CorpusPrepSpec
      graft.text.CorpusPrep.trimByLength(docs, "n_chars", 0.05, 0.95)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
        .orderBy(col("source"))
    }),

    // ---- source-weighted mixture sampling: per-source keep rates over
    //      content-hash buckets (training-data composition control);
    //      kept sets nest as rates rise, so reweighting never churns ----
    "q74_mixture_sample" -> ((s, dir) => {
      val kept = graft.text.CorpusPrep.mixtureSample(
        t(s, dir, "documents"), "text", "source",
        rates = Map("src0" -> 10, "src1" -> 5, "src2" -> 2),
        defaultKeep = 3, buckets = 10)
      kept.groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("kept_chars"))
        .orderBy(col("source"))
    }),

    // ---- substring-level exact dedup (window dedup): a 30-word
    //      boilerplate block planted at the head of 50 re-keyed docs —
    //      plus every aligned full window those copies share with their
    //      originals — surfaces as exact duplicated spans to cut ----
    "q81_window_dedup" -> ((s, dir) => {
      val base = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val planted = base.filter(col("doc_id") < 50)
        .select((col("doc_id") + 8000).as("doc_id"),
          concat(lit(Boiler30 + " "), col("text")).as("text"))
      Dedup.duplicatedSpans(base.unionByName(planted), "text", "doc_id",
          windowWords = 30, minDocs = 2)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ---- mixture RESAMPLING (upsampling): rates above the bucket count
    //      emit full per-epoch copies plus a hash-selected fractional
    //      remainder on the last epoch, under a repetition cap — the
    //      epochs>1 half of training-mixture composition. Gated on the
    //      per-(source, epoch) census ----
    "q80_mixture_resample" -> ((s, dir) => {
      val out = graft.text.CorpusPrep.mixtureResample(
        t(s, dir, "documents"), "text", "source",
        rates = Map("src0" -> 25, "src1" -> 10, "src2" -> 4),
        defaultRate = 7, buckets = 10, maxEpochs = 3)
      out.groupBy(col("source"), col("epoch"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("source"), col("epoch"))
    }),

    // ---- Bloom-filter pre-filtered decontamination: the bench side is
    //      summarized into 256×62 bits and BROADCAST; corpus shingles
    //      test locally and only candidates (true overlaps + a bounded
    //      false-positive tail) reach the exact semi-join. Same held-out
    //      construction as q59; the n_bloom_hits − n_true_matches gap IS
    //      the measured FP cost ----
    "q87_bloom_decontaminate" -> ((s, dir) => {
      val train = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val bench = t(s, dir, "documents")
        .filter(col("doc_id") >= 50 && col("doc_id") < 60)
        .select((col("doc_id") + 5000).as("doc_id"),
          concat(col("text"), lit(" heldout marker")).as("text"))
        .unionByName(s.range(5).select((col("id") + 9000).as("doc_id"),
          concat(lit("benchmark probe question number "),
            col("id").cast("string")).as("text")))
      Dedup.bloomDecontaminate(train, bench, "text", "doc_id",
          k = 3, nHash = 3, words = 256)
        .orderBy(col("id"))
    }),

    // ---- count–min sketch document-frequency profiling: the bounded-
    //      cardinality sibling of q55 — sketch build is ONE aggregation
    //      of ≤ depth·width rows regardless of vocabulary size; the
    //      exact top-20's estimates are overestimates only ----
    "q88_cms_heavy_hitters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cms = TextAnalysis.cmsShingleCounts(docs, "text", k = 3,
        depth = 4, width = 512)
      val top = TextAnalysis.heavyHitterShingles(docs, "text", k = 3, topN = 20)
      TextAnalysis.cmsEstimate(cms, top, depth = 4, width = 512)
        .orderBy(col("doc_freq").desc, col("shingle"))
    }),

    // ---- HyperLogLog distinct-shingle cardinality per source: the
    //      CARDINALITY member of the sketch family (CMS=frequency q88,
    //      Bloom=membership q87). Exact COUNT(DISTINCT)'s shuffle carries
    //      every distinct shingle; the register form's carries <= 64 rows
    //      per source per task after map-side partial MAX, and shard
    //      registers merge by cell-wise max. Exact count rides along so
    //      the sketch's error is an output column ----
    "q90_hll_cardinality" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val regs = TextAnalysis.hllRegisters(docs, "text", "source", k = 3, p = 6)
      val est = TextAnalysis.hllEstimate(regs, "source", p = 6)
      val exact = docs
        .select(col("source"),
          explode(TextAnalysis.shingles(col("text"), 3)).as("s"))
        .groupBy(col("source"))
        .agg(countDistinct(col("s")).as("n_exact"))
      exact.join(est, "source").orderBy(col("source"))
    }),

    // ---- SemDeDup: k-means cells (deterministic Lloyd, the q46 trainer)
    //      + within-cell cosine near-dup + CC survivor tail — the
    //      embedding-space dedup for paraphrase/re-render duplicates.
    //      Pair search is an EQUI-join on centroid_id: O(n²) distances
    //      become ~n²/k, data-adaptive where hyperplane LSH is fixed ----
    "q91_semdedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Dedup.semDeDup(e, "embedding", "vec_id",
          maxDistance = 0.6, k = 8, iters = 2)
        .orderBy(col("vec_id"))
    }),

    // ---- SemDeDup multi-assignment recall (the paper's cross-cell
    //      mitigation, MEASURED): one row per EXACT near-dup pair, with
    //      in_cell1 / in_cell2 = did the within-cell search at nprobe=1
    //      (primary cells only) / nprobe=2 (each vector also probes its
    //      second-nearest cell) recover it. One Lloyd run shared across
    //      both probe settings; the oracle replicates training,
    //      probe-ranked assignment, and both pair searches end-to-end,
    //      so the recall columns — not just the pair list — are
    //      hash-gated ----
    "q105_semdedup_probes" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      val exact = Dedup.embeddingNearDupPairs(emb, "embedding", "vec_id",
        maxDistance = 0.6)
      val cents = graft.similarity.Knn.trainCentroids(
        emb, "embedding", "vec_id", k = 8, iters = 2)
      val p1 = Dedup.semDeDupPairs(emb, "embedding", "vec_id",
          maxDistance = 0.6, k = 8, nprobe = 1, centroids = Some(cents))
        .select(col("id_a"), col("id_b"), lit(true).as("in_cell1"))
      val p2 = Dedup.semDeDupPairs(emb, "embedding", "vec_id",
          maxDistance = 0.6, k = 8, nprobe = 2, centroids = Some(cents))
        .select(col("id_a"), col("id_b"), lit(true).as("in_cell2"))
      exact.join(p1, Seq("id_a", "id_b"), "left")
        .join(p2, Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"), col("distance"),
          coalesce(col("in_cell1"), lit(false)).as("in_cell1"),
          coalesce(col("in_cell2"), lit(false)).as("in_cell2"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- skew-salted join: events' 150-user key space is the
    //      low-cardinality/hot-key join shape — unsalted, one partition
    //      absorbs a hot user's whole row population; salted, the join
    //      key becomes (user_id, salt) and every key spreads 8 ways.
    //      Same result set as the plain join (the oracle IS the plain
    //      join); SkewJoinSpec pins the plan + spread ----
    "q92_salted_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      val dim = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("user_events"))
      graft.operators.SkewJoin.saltedJoin(ev, dim, Seq("user_id"), nSalts = 8)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("user_events"))
        .orderBy(col("event_id"))
    }),

    // ---- snapshot diff (the CDC primitive for re-ingests): old vs new
    //      corpus snapshot → added/removed/changed delta. Each side
    //      reduces to (key, md5) narrow; the full-outer join never
    //      carries document bodies; "unchanged" (the 100 TB bulk) is
    //      filtered before anything materializes ----
    "q93_snapshot_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val newSnap = d.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(d.filter(col("doc_id") < 25)
          .select((col("doc_id") + 10000).as("doc_id"),
            concat(lit("new doc "), col("doc_id").cast("string")).as("text")))
      CorpusPrep.snapshotDiff(d, newSnap, "text", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- exactly-n-per-stratum deterministic sample (eval-set quota
    //      construction): content-hash rank within stratum, first 5 kept.
    //      One exchange on the stratum; content-keyed so re-ingest with
    //      new surrogate keys selects the same documents ----
    "q94_stratified_take" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      CorpusPrep.takeNPerStratum(d, "text", "source", "doc_id", n = 5)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ---- PageRank over a deterministic content-derived link graph
    //      (3 out-edges/doc via the MinHash affine family on the text
    //      hash): per iteration one edge⋈rank equi-join + one partial-agg
    //      sum; contributions quantize to DECIMAL(25,6) pre-sum so the
    //      aggregation is exact integer math under any partitioning ----
    "q95_pagerank" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val n = d.count()
      val h = TextAnalysis.polyHash(col("text"))
      val dsts = (0 until 3).map { j =>
        (lit(graft.text.TextMath.MinHashA(j)) * h +
          lit(graft.text.TextMath.MinHashB(j))) %
          lit(graft.text.TextMath.Mod) % lit(n)
      }
      val edges = d.select(col("doc_id").as("src"),
        explode(array(dsts: _*)).as("dst"))
      graft.operators.Graph.pageRank(edges, "src", "dst", iters = 3)
        .orderBy(col("id"))
    }),

    // ---- PageRank with DANGLING nodes (the real crawl-graph shape:
    //      pages you link to but never crawled): only even doc_ids emit
    //      edges, so odd ids reached as targets have out-degree 0. Their
    //      mass redistributes uniformly each round — a single-row
    //      DECIMAL-exact agg broadcast into the update, keeping total
    //      rank at exactly 1 instead of leaking it. Oracle = the same
    //      unrolled-CTE chain with a dangling-mass CTE per round ----
    "q104_pagerank_dangling" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val n = d.count()
      val h = TextAnalysis.polyHash(col("text"))
      val dsts = (0 until 3).map { j =>
        (lit(graft.text.TextMath.MinHashA(j)) * h +
          lit(graft.text.TextMath.MinHashB(j))) %
          lit(graft.text.TextMath.Mod) % lit(n)
      }
      val edges = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("src"), explode(array(dsts: _*)).as("dst"))
      graft.operators.Graph.pageRank(edges, "src", "dst", iters = 4)
        .orderBy(col("id"))
    }),

    // ---- bloom semi-join reduction (runtime-filter shape): a 2%-price
    //      predicate makes orders selective; a KB Bloom of surviving
    //      orderkeys inlines as a literal codegen'd filter on lineitem —
    //      fact rows drop in the scan stage, BEFORE the join shuffle.
    //      No false negatives, so the oracle is the PLAIN join ----
    "q96_bloom_join" -> ((s, dir) => {
      val hot = t(s, dir, "orders").filter(col("o_totalprice") > 489000.0)
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.operators.SemiReduce.reducedJoin(
          t(s, dir, "lineitem"), hot, "l_orderkey", "o_orderkey")
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(25,6)")).cast("double")
            .as("total_qty"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- edit-distance fuzzy self-join (entity resolution): 24-char
    //      name prefixes + planted char-deletion (%7) and substitution
    //      (%11) variants; PassJoin segment-pigeonhole blocking → one
    //      equi-join on (length, slot, segment) → Levenshtein verify.
    //      Blocking is COMPLETE, so the oracle is the brute-force scan ----
    "q97_fuzzy_join" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id"), substring(col("text"), 1, 24).as("t"))
      val dirty = d
        .unionByName(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 5000).as("doc_id"),
            expr("substring(t, 2)").as("t")))
        .unionByName(d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 6000).as("doc_id"),
            concat(substring(col("t"), 1, 2), lit("#"),
              expr("substring(t, 4)")).as("t")))
      graft.operators.FuzzyJoin.editDistancePairs(dirty, "t", "doc_id",
          maxEdits = 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- z-order (Morton) key math over events: user × hour
    //      interleave — the layout key behind writeZOrdered/readZRect's
    //      plan-time cell pruning (LayoutSpec gates the pruning; this
    //      gates the bit math the layout stands on) ----
    "q98_zorder_key" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("u", unix_timestamp(col("ts")))
      val x = pmod(col("user_id"), lit(64L))
      val y = pmod(expr("u div 3600"), lit(64L))
      ev.select(col("event_id"), x.as("zx"), y.as("zy"),
          graft.operators.Layout.zValue(x, y, bits = 6).as("zval"))
        .orderBy(col("event_id"))
    }),

    // ---- cross-catalog record linkage: catalog B is catalog A re-keyed
    //      with planted first-char deletions (%5) and suffix insertions
    //      (%3); editDistanceJoin links A→B through the same complete
    //      segment blocking — the oracle is the brute cross scan ----
    "q99_record_linkage" -> ((s, dir) => {
      val base = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), substring(col("text"), 1, 24).as("t"))
      val catB = base.select((col("doc_id") + 100000).as("doc_id"),
        when(col("doc_id") % 5 === 0, expr("substring(t, 2)"))
          .when(col("doc_id") % 3 === 0, concat(col("t"), lit("!")))
          .otherwise(col("t")).as("t"))
      graft.operators.FuzzyJoin.editDistanceJoin(base, catB, "t", "doc_id",
          maxEdits = 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- exact kNN graph (top-5 neighbors per vector): the backbone of
    //      graph clustering / agglomerative dedup / HNSW construction.
    //      This exact form IS the oracle; cellKnnGraph (KnnSpec-gated
    //      recall) is the n²/cells scale path ----
    "q100_knn_graph" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      Knn.knnGraph(e, "embedding", "vec_id", topK = 5)
        .orderBy(col("id_a"), col("rank"))
    }),

    // ---- retention cohorts (the analytics triangle): cohort = first
    //      active day per user, then distinct users at each day offset.
    //      cohort_day is a window-min over user_id, NOT a broadcast join
    //      of a per-user table (one row per user = unbounded cardinality
    //      at corpus scale → driver OOM). The window and the final
    //      distinct-users agg share ONE user_id hash exchange; nothing
    //      user-cardinality-sized is ever broadcast. Plan pinned by
    //      PlanShapeSpec ----
    "q101_retention" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"))
      ev.withColumn("cohort_day",
          min(col("d")).over(Window.partitionBy(col("user_id"))))
        .select(col("cohort_day"),
          datediff(col("d"), col("cohort_day")).as("day_offset"),
          col("user_id"))
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("active_users"))
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // ---- multimodal near-dup (aHash/pHash lineage over media payloads):
    //      decode → stripe features → integer mean-threshold signature →
    //      signature equi-join → exact L1 verify. Planted single-byte
    //      mutations land within maxL1 of their originals ----
    "q102_blob_phash" -> ((s, dir) => {
      val base = t(s, dir, "documents").filter(col("doc_id") < 400)
        .select(col("doc_id"), col("text"))
      val mutated = base.select((col("doc_id") + 5000).as("doc_id"),
        concat(lit("x"), expr("substring(text, 2)")).as("text"))
      val docs = graft.multimodal.Multimodal
        .attachBlob(base.unionByName(mutated))
      graft.multimodal.Multimodal
        .perceptualDedupPairs(docs, "doc_id", "blob", maxL1 = 200L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- grouped top-k via the bounded-heap NATIVE AGGREGATE (the
    //      per-label k-nearest / hard-negative-mining shape): map-side
    //      partial heaps bound the exchange at k rows per group per
    //      task — the window form sorts every group's full row set.
    //      Same result as the window, which is the oracle ----
    "q103_grouped_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      e.filter(col("embedding").isNotNull)
        .withColumn("dist", cosine_distance(col("embedding"), typedLit(q)))
        .groupBy(col("label"))
        .agg(graft.functions.topk_pairs(col("dist"), col("vec_id"), 3).as("top"))
        .select(col("label"), posexplode(col("top")))
        .select(col("label"), (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as("vec_id"), col("col.ord").as("dist"))
        .orderBy(col("label"), col("rank"))
    }),

    // ---- BM25 lexical retrieval (ratio idf — engine-portable doubles):
    //      dl travels with the exploded rows (no corpus join-back), the
    //      explode is filtered to the query terms at the generator, and
    //      per-doc totals assemble by conditional agg in FIXED term order ----
    "q83_bm25_topk" -> ((s, dir) =>
      graft.text.TextRank.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
        queryTerms = Seq("join", "filter", "merge"), k = 15)),

    // ---- BM25 served from the persistent lexical index (the sparse
    //      mirror of q50/q82's IVF layout): postings partitioned by
    //      term-hash bucket, the query prunes to its terms' buckets at
    //      plan time, df computed from probed partitions alone. Same
    //      oracle as q83 — the index changes WHERE the data is read,
    //      not a single scored bit ----
    "q89_lexical_index" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // cache key = order-free CONTENT fingerprint (XOR of per-row
      // hashes — xor cannot overflow under ANSI, unlike sum), not dir
      // basename + row count: regenerated fixtures at the same path with
      // the same cardinality must MISS, never serve a stale index
      val fp = d.agg(expr("bit_xor(xxhash64(doc_id, md5(text)))")
        .cast("string")).head().getString(0)
      val indexDir = graft.fixtures.Fp16Corpus.workRoot + s"/lexindex-$fp"
      if (!new java.io.File(s"$indexDir/CURRENT").isFile)
        graft.text.TextRank.buildLexicalIndex(d, "text", "doc_id", indexDir)
      graft.text.TextRank.searchLexicalIndex(s, indexDir,
        Seq("join", "filter", "merge"), k = 15)
    }),

    // ---- the lexical index built INCREMENTALLY (first half wholesale,
    //      second half as a segment append under the atomic pointer):
    //      same oracle as q83/q89 — an append-maintained index must
    //      serve the identical math over the identical corpus, or the
    //      production steady state silently diverges from the rebuild ----
    "q106_lexical_append" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // max(doc_id) + the content fingerprint in ONE scan (the q112 head
      // fusion): the fingerprint already reads every (doc_id, text) row,
      // so the max rides the same pass — identical values, one fewer
      // full-text scan + driver action
      val head = d.agg(max(col("doc_id")).as("mx"),
        expr("bit_xor(xxhash64(doc_id, md5(text)))")
          .cast("string").as("fp")).head()
      val half = head.getLong(0) / 2
      val fp = head.getString(1)
      val indexDir = graft.fixtures.Fp16Corpus.workRoot + s"/lexappend-$fp"
      if (!new java.io.File(s"$indexDir/CURRENT").isFile) {
        graft.text.TextRank.buildLexicalIndex(
          d.filter(col("doc_id") < half), "text", "doc_id", indexDir)
        graft.text.TextRank.appendLexicalIndex(
          d.filter(col("doc_id") >= half), "text", "doc_id", indexDir)
      }
      graft.text.TextRank.searchLexicalIndex(s, indexDir,
        Seq("join", "filter", "merge"), k = 15)
    }),

    // ---- the IVF index maintained by APPEND: centroids train on the
    //      BASE half's sample only (the fixed cell geometry of a live
    //      index), the second half lands as an appended segment assigned
    //      against those frozen centroids. The oracle replicates exactly
    //      that asymmetry — training CTEs see the base sample, the
    //      assignment CTE sees the full corpus ----
    "q107_ivf_append" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // max(vec_id) + the cache-key row count in ONE scan (q112 head
      // fusion) — identical values, one fewer driver action
      val head = e.agg(max(col("vec_id")).as("mx"),
        count(lit(1)).as("n")).head()
      val half = head.getLong(0) / 2
      val indexDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/ivfappend-${new java.io.File(dir).getName}-c${head.getLong(1)}"
      if (!Knn.ivfIndexReady(indexDir)) {
        Knn.ivfBuildIndex(e.filter(col("vec_id") < half), "embedding",
          "vec_id", indexDir, k = 4, iters = 2,
          trainFilter = col("vec_id") % 5 === 0)
        Knn.ivfAppendIndex(e.filter(col("vec_id") >= half), "embedding",
          "vec_id", indexDir)
      }
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val probe = Knn.IvfIndex.load(s, indexDir)
        .search(qv, k = 10, nprobe = 2)
      val exact = Knn.topK(e, "embedding", qv, 10, "vec_id")
        .select(col("vec_id").as("id"), lit(true).as("in_exact"))
      probe.join(exact, Seq("id"), "left")
        .na.fill(value = false, Seq("in_exact"))
        .select(col("id"), col("centroid_id"), col("score"), col("in_exact"))
        .orderBy(col("score"), col("id"))
    }),

    // ---- schema evolution through the store: write documents as a
    //      versioned store, migrate it forward with a COMPUTED backfill
    //      (word count over the existing text), read the new version
    //      back. Gates the whole read→evolve→pointer-swap loop against
    //      plain SQL over the source table ----
    "q108_store_migrate" -> ((s, dir) => {
      val storeDir = java.nio.file.Files
        .createTempDirectory("graft-migrate-gate").toString
      graft.sync.HighlightStore.writeAtomic(
        t(s, dir, "documents").select(col("doc_id"), col("text")), storeDir)
      graft.sync.HighlightStore.migrate(s, storeDir, df =>
        df.withColumn("n_words",
          size(split(col("text"), " ")).cast("long")))
      graft.sync.HighlightStore.read(s, storeDir).get
        .select(col("doc_id"), col("n_words"))
        .orderBy(col("doc_id"))
    }),

    // ---- tombstone delete through the persistent lexical index: build
    //      over the FULL corpus, tombstone every doc_id % 7 == 3, serve.
    //      The oracle is plain BM25 over the corpus WITHOUT those docs —
    //      passing proves the negative stats-correction row (n, Σdl) and
    //      the tombstone anti-join reproduce a rebuild BIT-identically
    //      (df, idf, length norm all shift when docs leave) ----
    "q110_lexical_delete" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val fp = d.agg(expr("bit_xor(xxhash64(doc_id, md5(text)))")
        .cast("string")).head().getString(0)
      val indexDir = graft.fixtures.Fp16Corpus.workRoot + s"/lexdelete-$fp"
      if (!new java.io.File(s"$indexDir/CURRENT").isFile) {
        graft.text.TextRank.buildLexicalIndex(d, "text", "doc_id", indexDir)
        graft.text.TextRank.deleteFromLexicalIndex(s, indexDir,
          d.filter(col("doc_id") % 7 === 3).select(col("doc_id")), "doc_id")
      }
      graft.text.TextRank.searchLexicalIndex(s, indexDir,
        Seq("join", "filter", "merge"), k = 15)
    }),

    // ---- Unicode NFC normalization (the pre-hash text-prep pass): a
    //      combining acute (U+0301) is appended to every doc so the
    //      input is genuinely decomposed; the codegen expression must
    //      produce the composed form byte-for-byte like DuckDB's
    //      nfc_normalize, and the normalized poly_hash fingerprint must
    //      equal the one computed from the PRE-COMPOSED text — the
    //      "decomposed duplicates now dedup" property, hash-gated ----
    "q113_nfc_normalize" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // " caf" + e + U+0301 — genuinely DECOMPOSED input; norm must be
      // the composed form, and its poly_hash fingerprint must equal the
      // one computed from PRE-COMPOSED text (decomposed duplicates now
      // collide — the dedup property this expression exists for)
      d.select(col("doc_id"), col("text"),
          graft.functions.nfc_normalize(
            concat(col("text"), lit(" café"))).as("norm"))
        .withColumn("nlen", length(col("norm")).cast("long"))
        .withColumn("composed_fp_eq",
          graft.functions.poly_hash(col("norm")) ===
            graft.functions.poly_hash(
              concat(col("text"), lit(" café"))))
        .drop("text")
        .orderBy(col("doc_id"))
    }),

    // ---- binary-sketch ANN: 64 sign bits (2×32 seeded hyperplanes,
    //      8 B/vector) Hamming-rank the corpus in pure integer ops, the
    //      50 nearest sketches re-rank through exact cosine — one scan,
    //      two TakeOrderedAndProject heaps, no shuffle; the float math
    //      runs on 50 rows regardless of corpus size ----
    "q114_hamming_search" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      Knn.hammingPrefilterTopK(e, "embedding", "vec_id", qv,
        k = 10, candidates = 50)
    }),

    // ---- int8 scalar quantization (1 B/dim — the dial point between
    //      fp16's 2 B and PQ's 32 B/vector): encode, rank the corpus by
    //      fused dequantize+cosine in the quantized domain, keep 50, exact
    //      re-rank to 10. floor(x·scale+0.5) quantization so the oracle
    //      replicates every code with SQL floor; approx and exact scores
    //      both in the output so the row hash gates the quantized math ----
    "q115_int8_search" -> ((s, dir) => {
      import graft.functions.{int8_encode, int8_cosine_distance}
      val e = t(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      e.filter(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"),
          int8_encode(col("embedding")).as("enc"))
        .withColumn("approx",
          int8_cosine_distance(col("enc"), typedLit(qv)))
        .orderBy(col("approx").asc, col("vec_id").asc)
        .limit(50)
        .withColumn("score", cosine_distance(col("embedding"), typedLit(qv)))
        .orderBy(col("score").asc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), col("approx"), col("score"))
    }),

    // ---- MMR diversified top-k (Carbonell & Goldstein '98): the 20-deep
    //      relevance pool is cut distributedly (one scan, top-k heap);
    //      the greedy λ·rel − (1−λ)·max-sim selection runs on the
    //      collected pool at the serving edge — kilobytes, like every
    //      other post-top-k step in the serving layer ----
    "q116_mmr_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      graft.search.Mmr.rerank(e, "embedding", "vec_id", qv,
        k = 10, poolSize = 20, lambda = 0.7)
    }),

    // ---- exact substring duplication (Lee et al. 2021): every char
    //      40-gram rolling-hashed in ONE pass per doc (O(len), not
    //      O(len·40)), cross-doc gram frequency via one hash shuffle on
    //      the gram, per-doc shared-span profile via one more on doc_id.
    //      No pair join — the output stays linear in the corpus no matter
    //      how viral a boilerplate span is ----
    "q117_substring_dup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val g = d.select(col("doc_id"),
        explode(array_distinct(
          graft.functions.char_ngram_hashes(col("text"), 40))).as("gh"))
      val w = Window.partitionBy(col("gh"))
      g.withColumn("nd", count(lit(1)).over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("shared_grams"))
        .withColumn("is_dup", col("shared_grams") > 0)
        .orderBy(col("doc_id"))
    }),

    // ---- graph-ANN beam search (the NSW/HNSW query walk): 4 beam-
    //      expansion hops over the exact 5-NN graph from a fixed entry
    //      node, ef=20, final top-10 — every hop broadcasts the ≤ef beam,
    //      so neither corpus nor edges ever shuffle. Query = vec 299's
    //      embedding, entry = node 0: the walk has to actually traverse ----
    "q118_graph_beam_search" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      // the walk scans the edge relation once per hop: materialize the
      // n² graph DERIVATION once (a production walk reads a precomputed
      // adjacency table — q125's AdjIndex — so this trade is test-form
      // only)
      val edges = Knn.knnGraph(e, "embedding", "vec_id", topK = 5)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint()
      val qv = e.filter(col("vec_id") === 299).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      Knn.graphBeamSearch(e, edges, "embedding", "vec_id", qv,
        k = 10, ef = 20, hops = 4, entryId = 0L)
    }),

    // ---- q118's walk served from the PERSISTENT adjacency index:
    //      bucket-partitioned edge rows carrying fp16 dst vectors, beam
    //      on the driver, one pruned point-read job per hop. The oracle
    //      is q118's unrolled walk with fp16-rounded candidate vectors —
    //      index-served must equal the wholesale-graph walk at the
    //      index's storage precision ----
    "q125_adj_index_search" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      val edges = Knn.knnGraph(e, "embedding", "vec_id", topK = 5)
        .select(col("id_a"), col("id_b"))
      val qv = e.filter(col("vec_id") === 299).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft-adjidx").toString + "/adj"
      Knn.buildAdjacencyIndex(edges, e, "embedding", "vec_id", idxDir,
        buckets = 16, fp16 = true)
      Knn.AdjIndex.load(s, idxDir)
        .search(qv, k = 10, ef = 20, hops = 4, entryId = 0L)
        .select(col("id").as("vec_id"), col("score"))
    }),

    // ---- graph-index takedown (q110/q111's delete==rebuild gate for
    //      the adjacency family): adjDeleteIndex tombstones vec_id%7==3
    //      — masking every edge that touches a deleted node — then
    //      adjCompactIndex physically erases the masked rows under the
    //      frozen bucket layout. BOTH phases' walks must equal the walk
    //      over the graph with those nodes' edges removed, which is
    //      what the oracle replays (q125's walk + the endpoint mask),
    //      emitted once per phase ----
    "q148_adj_delete" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      val edges = Knn.knnGraph(e, "embedding", "vec_id", topK = 5)
        .select(col("id_a"), col("id_b"))
      val qv = e.filter(col("vec_id") === 299).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft-adjdel").toString + "/adj"
      Knn.buildAdjacencyIndex(edges, e, "embedding", "vec_id", idxDir,
        buckets = 16, fp16 = true)
      Knn.adjDeleteIndex(s, idxDir,
        e.filter(col("vec_id") % 7 === 3).select(col("vec_id")), "vec_id")
      val deleted = Knn.AdjIndex.load(s, idxDir)
        .search(qv, k = 10, ef = 20, hops = 4, entryId = 0L)
        .select(lit("deleted").as("phase"), col("id").as("vec_id"),
          col("score"))
      Knn.adjCompactIndex(s, idxDir)
      val compacted = Knn.AdjIndex.load(s, idxDir)
        .search(qv, k = 10, ef = 20, hops = 4, entryId = 0L)
        .select(lit("compacted").as("phase"), col("id").as("vec_id"),
          col("score"))
      compacted.unionByName(deleted)
        .orderBy(col("phase"), col("score"), col("vec_id"))
    }),

    // ---- HNSW layered descent: geometric levels (affine hash, nested
    //      ~1/4 layers), greedy width-1 walk down each upper layer's
    //      exact 3-NN graph to pick the layer-0 ENTRY, then q118's
    //      ef-beam from there. The oracle replays the level CASE, both
    //      upper-layer graphs, every greedy hop, and the final beam ----
    "q127_hnsw_search" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      // same edges-derivation materialization as q118 (the layer-0 beam
      // re-scans it per hop)
      val edges = Knn.knnGraph(e, "embedding", "vec_id", topK = 5)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint()
      val qv = e.filter(col("vec_id") === 299).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      Knn.hnswSearch(e, edges, "embedding", "vec_id", qv,
        k = 10, ef = 20, hops = 4, maxLevel = 2, upperM = 3,
        upperHops = 4)
    }),

    // ---- q127 served from the PERSISTENT layer stack: one adjacency
    //      index per layer (fp16 dvecs), meta-pinned entry, greedy
    //      point-read descent + layer-0 beam. Oracle is q127's walk
    //      with every score fp16-rounded (the q125 discipline) ----
    "q128_hnsw_index_search" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      val qv = e.filter(col("vec_id") === 299).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft-hnswidx").toString + "/hnsw"
      Knn.buildHnswIndex(e, "embedding", "vec_id", idxDir,
        maxLevel = 2, upperM = 3, k0 = 5, buckets = 16, fp16 = true)
      Knn.HnswIndex.load(s, idxDir)
        .search(qv, k = 10, ef = 20, hops = 4, upperHops = 4)
        .select(col("id").as("vec_id"), col("score"))
    }),

    // ---- exact triangle counting over q95's content-derived link
    //      graph (Suri & Vassilvitskii degree-ordered orientation):
    //      the local-clustering signal of link analysis, with every
    //      out-degree bounded O(√m) regardless of skew ----
    "q129_triangle_count" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val n = d.count()
      val h = TextAnalysis.polyHash(col("text"))
      val dsts = (0 until 3).map { j =>
        (lit(graft.text.TextMath.MinHashA(j)) * h +
          lit(graft.text.TextMath.MinHashB(j))) %
          lit(graft.text.TextMath.Mod) % lit(n)
      }
      val edges = d.select(col("doc_id").as("src"),
        explode(array(dsts: _*)).as("dst"))
      graft.operators.Graph.triangleCounts(edges, "src", "dst")
        .orderBy(col("id"))
    }),

    // ---- synchronous label-propagation communities over the same
    //      link graph, 3 replayed rounds: most-frequent neighbor label,
    //      ties toward the smaller — the mesoscale structure (mirror
    //      families, link rings) PageRank and dedup don't expose ----
    "q130_label_propagation" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val n = d.count()
      val h = TextAnalysis.polyHash(col("text"))
      val dsts = (0 until 3).map { j =>
        (lit(graft.text.TextMath.MinHashA(j)) * h +
          lit(graft.text.TextMath.MinHashB(j))) %
          lit(graft.text.TextMath.Mod) % lit(n)
      }
      val edges = d.select(col("doc_id").as("src"),
        explode(array(dsts: _*)).as("dst"))
      graft.operators.Graph.labelPropagation(edges, "src", "dst",
        rounds = 3).orderBy(col("id"))
    }),

    // ---- k-core peeling over the same link graph (k=3, 3 replayed
    //      rounds): delete nodes with surviving-degree < k each round —
    //      the dense-subgraph/link-spam structural prior ----
    "q131_kcore" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val n = d.count()
      val h = TextAnalysis.polyHash(col("text"))
      val dsts = (0 until 3).map { j =>
        (lit(graft.text.TextMath.MinHashA(j)) * h +
          lit(graft.text.TextMath.MinHashB(j))) %
          lit(graft.text.TextMath.Mod) % lit(n)
      }
      val edges = d.select(col("doc_id").as("src"),
        explode(array(dsts: _*)).as("dst"))
      graft.operators.Graph.kCore(edges, "src", "dst", k = 3, rounds = 3)
        .orderBy(col("id"))
    }),

    // ---- NN-Descent graph construction (Dong et al. WWW'11): ring seed,
    //      3 rounds of neighbor-of-neighbor proposals over the undirected
    //      graph, keep 5 best per node — equi-joins + window top-k only,
    //      never the O(n²) pair join q100's exact form pays ----
    "q119_nndescent_graph" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 200)
      Knn.nnDescentGraph(e, "embedding", "vec_id", k = 5, rounds = 3)
        .orderBy(col("id_a"), col("rank"))
    }),

    // ---- q119's descent with the ROUNDS ranked over int8 codes (1
    //      byte/dim; integer-only cosine — scales cancel) and only the
    //      final kept edges re-scored over fp32: the wide-vector build
    //      path (18.5× less round shuffle measured at 3072-dim,
    //      SCALE.md r12). The oracle replays the floor-based encode,
    //      the code-domain cosine every round, and the exact final
    //      re-score — quantized ranking is deterministic cross-engine
    //      because every intermediate is IEEE double ----
    "q149_compressed_descent" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 200)
      Knn.nnDescentGraphCompressed(e, "embedding", "vec_id", k = 5,
          rounds = 3)
        .orderBy(col("id_a"), col("rank"))
    }),

    // ---- the resident-code walk ORACLE-GATED end-to-end (adjacency
    //      build → int8 sidecar → driver best-first walk → the ONE
    //      exact refine job): with an exhaustive beam (ef = n) over a
    //      connected graph the walk's shortlist is the whole live set,
    //      so serving MUST equal brute-force top-10 by exact fp32
    //      cosine — the deterministic form of the resident contract
    //      (selective-beam RECALL stays spec-gated in ResidentGraphSpec,
    //      where a floor, not equality, is the honest gate). A chain
    //      over the contiguous ids keeps the symmetrized graph
    //      connected by construction ----
    "q150_resident_walk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      val n = e.count().toInt
      val qv = e.filter(col("vec_id") === 299).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      // index cached under the work root keyed by (sf dir, live count) —
      // the q123 shape: the bench row measures load + walk + refine (the
      // operator), not a per-invocation from-scratch index construction,
      // and nothing leaks one temp dir per run
      val idxDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/residentwalk-${new java.io.File(dir).getName}-c$n/adj"
      if (!Knn.graphIndexReady(idxDir) || !Knn.graphCodesReady(idxDir)) {
        val knn = Knn.knnGraph(e, "embedding", "vec_id", topK = 5)
          .select(col("id_a"), col("id_b"))
        val chain = e.select(col("vec_id").as("id_a"),
          (col("vec_id") + 1L).as("id_b")).filter(col("id_b") < 300)
        if (!Knn.graphIndexReady(idxDir))
          Knn.buildAdjacencyIndex(knn.unionByName(chain), e, "embedding",
            "vec_id", idxDir, buckets = 16, fp16 = false)
        Knn.buildGraphCodes(s, idxDir, codec = "int8")
      }
      val rows = Knn.ResidentGraphIndex.load(s, idxDir, ef = n)
        .servingTopK(qv, 10, 0, None)
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      import s.implicits._
      rows.toDF("vec_id", "score")
    }),

    // ---- q150's contract over the SHARDED gateway (the mechanism the
    //      resident budget refusal points at): the corpus splits by id
    //      parity into two shards that never communicate, each gets its
    //      OWN adjacency (kNN ∪ intra-shard chain — connected by
    //      construction) + int8 sidecar, and one request fans the
    //      driver walk + refine across both and k-way merges by
    //      (score, id). With exhaustive per-shard beams every shard's
    //      shortlist is its whole live set, so the merge MUST equal
    //      brute-force top-10 by exact fp32 cosine over the union —
    //      sharding is lossless relative to the beams ----
    "q151_sharded_resident" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      val n = e.count().toInt
      val qv = e.filter(col("vec_id") === 157).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      val root = graft.fixtures.Fp16Corpus.workRoot +
        s"/shardedres-${new java.io.File(dir).getName}-c$n"
      val dirs = Seq(0, 1).map(p => (p, s"$root/shard$p"))
      dirs.foreach { case (p, d) =>
        if (!Knn.graphIndexReady(d) || !Knn.graphCodesReady(d)) {
          val members = e.filter(col("vec_id") % 2 === p)
          val knn = Knn.knnGraph(members, "embedding", "vec_id", topK = 5)
            .select(col("id_a"), col("id_b"))
          val chain = members.select(col("vec_id").as("id_a"),
            (col("vec_id") + 2L).as("id_b")).filter(col("id_b") < 300)
          if (!Knn.graphIndexReady(d))
            Knn.buildAdjacencyIndex(knn.unionByName(chain), members,
              "embedding", "vec_id", d, buckets = 8, fp16 = false)
          Knn.buildGraphCodes(s, d, codec = "int8")
        }
      }
      val rows = Knn.ShardedResidentIndex
        .load(s, dirs.map(_._2 -> None), ef = n)
        .servingTopK(qv, 10, 0, None)
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      import s.implicits._
      rows.toDF("vec_id", "score")
    }),

    // ---- q151's gateway with an ATTRIBUTE FILTER fanned across the
    //      shards (the r15 verdict's missing piece): shard layouts
    //      carry `label` on their self-rows, each shard evaluates the
    //      predicate inside its own refine job, and with exhaustive
    //      beams the merged filtered top-k must equal brute-force
    //      filtered cosine over the union — no store fallback anywhere
    //      on the path ----
    "q160_sharded_filtered" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      val n = e.count().toInt
      val qv = e.filter(col("vec_id") === 157).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      val root = graft.fixtures.Fp16Corpus.workRoot +
        s"/shardedresf-${new java.io.File(dir).getName}-c$n"
      val dirs = Seq(0, 1).map(p => (p, s"$root/shard$p"))
      dirs.foreach { case (p, d) =>
        if (!Knn.graphIndexReady(d) || !Knn.graphCodesReady(d)) {
          val members = e.filter(col("vec_id") % 2 === p)
          val knn = Knn.knnGraph(members, "embedding", "vec_id", topK = 5)
            .select(col("id_a"), col("id_b"))
          val chain = members.select(col("vec_id").as("id_a"),
            (col("vec_id") + 2L).as("id_b")).filter(col("id_b") < 300)
          if (!Knn.graphIndexReady(d))
            Knn.buildAdjacencyIndex(knn.unionByName(chain), members,
              "embedding", "vec_id", d, buckets = 8, fp16 = false,
              attrCols = Seq("label"))
          Knn.buildGraphCodes(s, d, codec = "int8")
        }
      }
      val rows = Knn.ShardedResidentIndex
        .load(s, dirs.map(_._2 -> None), ef = n)
        .servingTopK(qv, 10, 0, Some(col("label") % 3 === 1))
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      import s.implicits._
      rows.toDF("vec_id", "score")
    }),

    // ---- the build-time attr-stats sidecar (the 100-TB routing
    //      contract SCALE.md §r16 states: selectivity read from build-
    //      time stats, not a per-request scan): per-cell per-value
    //      counts written with the cell segment, summed across live
    //      segments at read — gated value for value against the
    //      replayed assignment + GROUP BY. The serving router prices
    //      attr equalities from exactly this relation, so its route
    //      decisions inherit the gate ----
    "q161_attr_stats" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val indexDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/ivfstatsidx-${new java.io.File(dir).getName}-c${e.count()}"
      if (!Knn.ivfIndexReady(indexDir))
        Knn.ivfBuildIndex(e, "embedding", "vec_id", indexDir, k = 4,
          iters = 2, trainFilter = col("vec_id") % 5 === 0,
          attrCols = Seq("label"))
      Knn.ivfAttrStats(s, indexDir).get
        .orderBy(col("acol"), col("value"), col("centroid_id"))
    }),

    // ---- DSIR data selection (Xie et al. 2023, importance resampling):
    //      src0's docs are the TARGET domain; every other doc scores
    //      logw = Σ [ln p_t(b) − ln p_r(b)] over its hashed bigrams
    //      (add-one-smoothed 4096-bucket categoricals, DECIMAL-summed)
    //      and Gumbel-top-k keeps 25 with inclusion odds ∝ exp(logw) —
    //      the "make 100 TB look like my seed set" selector, hash-seeded
    //      so shards/re-runs/engines agree bit-for-bit ----
    "q152_dsir_select" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.text.CorpusPrep.dsirSelect(
          d.filter(col("source") =!= "src0"), "text", "doc_id",
          d.filter(col("source") === "src0"), "text", k = 25)
        .orderBy(col("gk").desc, col("doc_id"))
    }),

    // ---- residual quantization + ADC (the sequential full-dimension
    //      sibling of q109's subspace PQ): stage 0's codebook trains on
    //      the vectors, stage 1's on the float-rounded residuals; the
    //      ADC expansion carries the stage-pair cross term PQ never
    //      has. The oracle replays both Lloyd chains, the residual
    //      subtraction, both argmin encodes and the pinned-association
    //      score arithmetic bit-for-bit; in_exact flags measure recall
    //      vs the exact squared-L2 top-10 ----
    "q153_rq_adc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      // trained codebooks cache under the work root keyed by (sf dir,
      // live count) — the q155 shape: rqTrain is deterministic in the
      // data (and the oracle replays it regardless), so the bench row
      // measures the encode + ADC scan, not a per-visit Lloyd replay
      val cbDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/rqcb-${new java.io.File(dir).getName}-c${emb.count()}"
      val cbDf =
        if (new java.io.File(s"$cbDir/_SUCCESS").isFile) s.read.parquet(cbDir)
        else {
          Knn.rqTrain(emb, "embedding", "vec_id", stages = 2, ksub = 4,
              iters = 2)
            .coalesce(1).write.mode("overwrite").parquet(cbDir)
          s.read.parquet(cbDir)
        }
      val cb = Knn.collectRqCodebooks(cbDf)
      val encoded = Knn.rqEncode(emb, "embedding", "vec_id", cb)
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val rq = Knn.rqTopK(encoded, cb, qv, k = 10)
      val v = emb.filter(col("embedding").isNotNull)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val exact = v.withColumn("d", Knn.l2sq(col("v"), typedLit(qv)))
        .orderBy(col("d").asc, col("id").asc).limit(10)
        .select(col("id"), lit(true).as("in_exact"))
      rq.join(exact, Seq("id"), "left")
        .na.fill(value = false, Seq("in_exact"))
        .select(col("id"), col("score_adc"), col("in_exact"))
        .orderBy(col("score_adc"), col("id"))
    }),

    // ---- anisotropic (score-aware) assignment + the ScaNN MIPS
    //      serving shape, oracle-gated: a replicable L2-Lloyd codebook,
    //      every vector assigned by the ANISOTROPIC loss
    //      (η−1)·⟨v−c,v⟩²/‖v‖² + ‖v−c‖² at η=4, stage 1 ranking by the
    //      codeword's inner product with the query (the scan never
    //      reads a vector), exact ⟨q,x⟩ re-rank of the 50-candidate
    //      shortlist. The learned UPDATE (the d×d solve) is
    //      AnisotropicSpec's measured gate — the OPQ split of oracle
    //      duties ----
    "q156_anisotropic_mips" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      // the L2-Lloyd codebook caches like q153/q155's trained
      // artifacts: deterministic in the data, oracle replays it, the
      // bench row measures the anisotropic assign + MIPS serving cut
      val ctDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/anisct-${new java.io.File(dir).getName}-c${emb.count()}"
      val cents =
        if (new java.io.File(s"$ctDir/_SUCCESS").isFile) s.read.parquet(ctDir)
        else {
          Knn.trainCentroidsL2(
              emb.select(col("vec_id").as("id"), col("embedding").as("v")),
              "v", "id", k = 4, iters = 2)
            .coalesce(1).write.mode("overwrite").parquet(ctDir)
          s.read.parquet(ctDir)
        }
      val assigned = graft.similarity.Anisotropic.assign(
        emb, "embedding", "vec_id", cents, eta = 4.0)
      val centsSeq = cents.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val qv = emb.filter(col("vec_id") === 42)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.similarity.Anisotropic
        .mipsTopK(assigned, centsSeq, qv, k = 10, shortlist = 50)
        .join(assigned.select(col("id"), col("centroid_id")), Seq("id"))
        .select(col("id"), col("centroid_id"), col("ip"))
        .orderBy(col("ip").desc, col("id"))
    }),

    // ---- OPQ's structural contract, oracle-gated: the learned
    //      rotation is orthonormal, so exact search in the ROTATED
    //      space (corpus through MatVecRotate, query through
    //      rotateLocal) must return the original space's exact top-10
    //      — any deviation from orthonormality in the Procrustes/SVD
    //      loop drifts the result set off the oracle. The learned
    //      QUALITY half (rotated-PQ reconstruction beats plain PQ on
    //      correlated data) is OpqSpec's measured gate ----
    "q155_opq_rotation" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      // the learned rotation caches under the work root keyed by
      // (sf dir, live count) — the q123/q150 shape: training is
      // deterministic in the data, so the bench row measures the
      // rotated SEARCH (the operator under oracle), not a per-run
      // Procrustes replay
      val rotDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/opqrot-${new java.io.File(dir).getName}-c${emb.count()}"
      val rot = Knn.loadRotation(s, rotDir).getOrElse {
        val (r, _) = Knn.opqTrain(emb, "embedding", "vec_id",
          m = 2, ksub = 4, iters = 2, sweeps = 2)
        Knn.saveRotation(s, rotDir, r)
        r
      }
      val qv = emb.filter(col("vec_id") === 299)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val rq = graft.functions.RotMath.rotateLocal(qv, rot)
      emb.filter(col("embedding").isNotNull)
        .select(col("vec_id").as("id"),
          graft.functions.mat_vec_rotate(col("embedding"), rot).as("rv"))
        .withColumn("score", Knn.l2sq(col("rv"), typedLit(rq)))
        .orderBy(col("score").asc, col("id").asc).limit(10)
        .select(col("id"))
        .orderBy(col("id"))
    }),

    // ---- k-means|| initialization (Bahmani et al. VLDB'12): 3
    //      oversampling rounds (derandomized — the uniform draw is a
    //      replayable LCG against ell·d²/φ with φ DECIMAL-exact), then
    //      candidate weighting and the weighted farthest-first
    //      reduction to k=4. The oracle replays every round's distance
    //      field, threshold test, the weighting pass and all four
    //      greedy selections ----
    "q154_kmeans_par_init" -> ((s, dir) => {
      Knn.kmeansParallelInit(t(s, dir, "embeddings"), "embedding",
          "vec_id", k = 4, rounds = 3, ell = 8.0)
        .orderBy(col("rank"))
    }),

    // ---- SOAR spilled assignment (ScaNN's NeurIPS'23 index form):
    //      primary = L2-nearest cell; secondary = argmin over the OTHER
    //      cells of ‖x−c‖² + λ·⟨r, x−c⟩²/‖r‖² with r the primary
    //      residual — the backup copy lands where the primary's failure
    //      direction is covered. The oracle replays both argmins (dot
    //      expansions, zero-residual guard, centroid-id tie-breaks)
    //      over the q47 geometry: 256 vectors, cells 0–7 ----
    "q157_soar_assign" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 256)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("cvec"))
      graft.similarity.Soar.assign(e, "embedding", "vec_id", cents,
          lambda = 1.0)
        .select(col("id"), col("crank"), col("centroid_id"))
        .orderBy(col("id"), col("crank"))
    }),

    // ---- the nprobe dial measured, not guessed: recall@10 of
    //      single-assignment IVF vs the exact scan at every probe width
    //      1..8, averaged over a 4-query sample — the calibration table
    //      calibrateNprobe picks a serving dial from. The oracle
    //      replays assignment, per-query probe order, both top-k
    //      rankings and the integer hit arithmetic ----
    "q158_nprobe_calib" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 256)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("cvec"))
      val qs = e.filter(col("vec_id") < 4)
      Knn.nprobeRecallCurve(e, "embedding", "vec_id",
        cents, "cvec", "centroid_id", qs, "embedding", "vec_id",
        k = 10, maxNprobe = 8)
    }),

    // ---- cost-routed filtered ANN over the q132 attr index: measure
    //      the predicate's match count, then route — rare predicate
    //      (label = 5) → one exhaustive filtered scan (exact; the plan
    //      adaptive widening reaches only after log2(cells) wasted
    //      probes), plentiful (label % 3 = 1) → the standard pruned
    //      probe. The oracle computes the same count, takes the same
    //      CASE branch, and must match the rows AND the route ----
    "q159_routed_filtered" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val indexDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/ivfindexattr-${new java.io.File(dir).getName}-c${e.count()}"
      if (!Knn.ivfIndexReady(indexDir))
        Knn.ivfBuildIndex(e, "embedding", "vec_id", indexDir, k = 4,
          iters = 2, trainFilter = col("vec_id") % 5 === 0,
          attrCols = Seq("label"))
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val narrow = Knn.ivfRoutedSearchIndex(s, indexDir, qv, k = 10,
          nprobe = 2, filter = col("label") === 5, bruteThreshold = 100L)
        .withColumn("case_id", lit("narrow"))
      val broad = Knn.ivfRoutedSearchIndex(s, indexDir, qv, k = 10,
          nprobe = 2, filter = col("label") % 3 === 1,
          bruteThreshold = 100L)
        .withColumn("case_id", lit("broad"))
      narrow.unionByName(broad)
        .select(col("case_id"), col("id"), col("centroid_id"),
          col("score"), col("route"))
        .orderBy(col("case_id"), col("score"), col("id"))
    }),

    // ---- positional phrase search: "customer join merge" must occur as
    //      CONSECUTIVE words — posexplode filtered to the 3 terms at the
    //      generator, two (id, position) equi-joins, per-doc exact
    //      occurrence counts. The capability tf-only retrieval can't
    //      express ----
    "q120_phrase_search" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.text.TextRank.phraseMatch(d, "text", "doc_id",
          Seq("customer", "join", "merge"))
        .orderBy(col("doc_id"))
    }),

    // ---- q120 served from the PERSISTENT positional index: postings
    //      carry sorted position arrays partitioned by term bucket; the
    //      probe prunes to the phrase's 3 buckets, the oracle is the
    //      same wholesale count — index-served must equal corpus-scan ----
    "q123_phrase_index" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idxDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/posidx-${new java.io.File(dir).getName}-c${d.count()}"
      if (graft.sync.SegmentedIndex.resolve(s, idxDir).isEmpty)
        graft.text.TextRank.buildPositionalIndex(d, "text", "doc_id", idxDir)
      graft.text.TextRank.searchPhraseIndex(s, idxDir,
          Seq("customer", "join", "merge"))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- distribution window functions: percent_rank + cume_dist over
    //      priority partitions — (rank−1)/(n−1) and rank_le/n in double,
    //      engine-portable by definition ----
    "q121_window_dist" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"))
      t(s, dir, "orders")
        .filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
          percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- arbitrary GROUPING SETS (the general form rollup/cube
    //      specialize): three chosen groupings in ONE Expand pass,
    //      partial-aggregated like any hash agg ----
    "q122_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT grouping_id() AS gid,
          |  l_returnflag, l_linestatus, COUNT(*) AS n,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
          |FROM lineitem_v
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
          |  (l_returnflag), (l_linestatus))
          |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)
    }),

    // ---- the delta re-ingest loop end-to-end: store + lexical index
    //      built from the corpus, then CorpusRefresh applies a snapshot
    //      with planted removals (%17), text edits (%13) and re-keyed
    //      additions (%29) — tombstone + O(delta) append, never a
    //      rebuild. The oracle is plain BM25 over the NEW corpus: passing
    //      proves the sequence-scoped tombstones serve each changed
    //      doc's new text while masking its old, with exact stats.
    //      Refresh is idempotent, so the cached-store re-run is a no-op ----
    "q112_cdc_refresh" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // max key and the snapshot fingerprint in ONE scan, not two
      val head = d.agg(max(col("doc_id")),
        expr("bit_xor(xxhash64(doc_id, md5(text)))").cast("string")).head()
      val mx = head.getLong(0)
      val fp = head.getString(1)
      val newSnap = d.filter(col("doc_id") % 17 =!= 2)
        .withColumn("text", when(col("doc_id") % 13 === 1,
          concat(col("text"), lit(" changed join"))).otherwise(col("text")))
        .unionByName(d.filter(col("doc_id") % 29 === 3)
          .select((col("doc_id") + mx + 1).as("doc_id"),
            concat(col("text"), lit(" merge added")).as("text")))
      val root = graft.fixtures.Fp16Corpus.workRoot + s"/cdcrefresh-$fp"
      val storeDir = s"$root/store"; val lexDir = s"$root/lex"
      if (!new java.io.File(s"$storeDir/CURRENT").isFile) {
        graft.sync.HighlightStore.writeAtomic(d, storeDir)
        graft.text.TextRank.buildLexicalIndex(d, "text", "doc_id", lexDir)
      }
      graft.sync.CorpusRefresh.refresh(s, newSnap, "text", "doc_id",
        storeDir, lexIndexDir = Some(lexDir)).unpersist()
      graft.text.TextRank.searchLexicalIndex(s, lexDir,
        Seq("join", "filter", "merge"), k = 15)
    }),

    // ---- right-to-erasure through the versioned store: deleteWhere
    //      with a condition that is NULL for 'en' rows (nullif) — SQL
    //      DELETE keeps null-condition rows, so 'en' survives alongside
    //      everything that isn't 'fr'. Gates the null-safe negation
    //      behind the pointer swap ----
    "q111_store_delete" -> ((s, dir) => {
      val storeDir = java.nio.file.Files
        .createTempDirectory("graft-delete-gate").toString
      graft.sync.HighlightStore.writeAtomic(
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars")), storeDir)
      graft.sync.HighlightStore.deleteWhere(s, storeDir,
        expr("nullif(lang, 'en') = 'fr'"))
      graft.sync.HighlightStore.read(s, storeDir).get
        .orderBy(col("doc_id"))
    }),

    // ---- product quantization + asymmetric-distance search (the FAISS
    //      IVFADC compression half): 2 subspaces × 4-word codebooks
    //      trained by the DECIMAL-exact L2 Lloyd, vectors stored as m
    //      bytes of codes, the query scored via a driver-side LUT — no
    //      vector ever decoded at scan time. The oracle replicates BOTH
    //      sub-quantizer trainings, the argmin encoding, the LUT cells,
    //      and the fixed-order ADC sum; in_exact flags each hit's
    //      membership in the EXACT squared-L2 top-10 (measured
    //      approximation honesty, like q50's recall flags) ----
    "q109_pq_adc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      val cb = Knn.collectCodebooks(Knn.pqTrain(
        emb, "embedding", "vec_id", m = 2, ksub = 4, iters = 2))
      val encoded = Knn.pqEncode(emb, "embedding", "vec_id", cb)
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val pq = Knn.pqTopK(encoded, cb, qv, k = 10)
      val v = emb.filter(col("embedding").isNotNull)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val exact = v.withColumn("d",
          Knn.l2sq(col("v"), typedLit(qv)))
        .orderBy(col("d").asc, col("id").asc).limit(10)
        .select(col("id"), lit(true).as("in_exact"))
      pq.join(exact, Seq("id"), "left")
        .na.fill(value = false, Seq("in_exact"))
        .select(col("id"), col("score_adc"), col("in_exact"))
        .orderBy(col("score_adc"), col("id"))
    }),

    // ---- the ADC re-rank refinement stage (FAISS IndexRefine) over
    //      q109's quantizer: the ADC ranking cut at r·10 broadcast-semi-
    //      joins back to the full-precision vectors and ONLY those rows
    //      exact-score — recall lifts toward 1.0 as r grows while the
    //      exact work stays r·k rows. in_exact per (r, hit) measures the
    //      lift directly: count(in_exact | r) is recall@10·10 ----
    "q124_pq_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      val cb = Knn.collectCodebooks(Knn.pqTrain(
        emb, "embedding", "vec_id", m = 2, ksub = 4, iters = 2))
      val encoded = Knn.pqEncode(emb, "embedding", "vec_id", cb)
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val v = emb.filter(col("embedding").isNotNull)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val exact = v.withColumn("d", Knn.l2sq(col("v"), typedLit(qv)))
        .orderBy(col("d").asc, col("id").asc).limit(10)
        .select(col("id"), lit(true).as("in_exact"))
      Seq(1, 2, 4).map { r =>
          Knn.pqRefine(Knn.pqTopK(encoded, cb, qv, k = r * 10),
              v, "v", "id", qv, k = 10)
            .select(lit(r).as("r"), col("id"), col("score_exact"))
        }.reduce(_ unionByName _)
        .join(exact, Seq("id"), "left")
        .na.fill(value = false, Seq("in_exact"))
        .select(col("r"), col("id"), col("score_exact"), col("in_exact"))
        .orderBy(col("r"), col("score_exact"), col("id"))
    }),

    // ---- hybrid search: dense cosine top-30 + BM25 top-30 fused by
    //      reciprocal rank (Cormack RRF, k=60) — no score calibration
    //      crosses the lists, only integer ranks ----
    "q84_hybrid_rrf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val d = t(s, dir, "documents")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      // rank windows run over the ALREADY-LIMITED 30-row lists — a
      // single-partition sort of 30 rows, not a corpus-wide window
      val dense = e.filter(col("embedding").isNotNull).crossJoin(broadcast(q))
        .select(col("vec_id").as("id"),
          cosine_distance(col("embedding"), col("qv")).as("dist"))
        .orderBy(col("dist"), col("id")).limit(30)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("dist"), col("id"))))
      val lex = graft.text.TextRank.bm25TopK(d, "text", "doc_id",
          queryTerms = Seq("join", "filter", "merge"), k = 30)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("id"))))
      graft.text.TextRank.rrfFuse(dense.select(col("id"), col("rank")),
        lex.select(col("id"), col("rank")), k = 20)
    }),

    // ---- token-stream sharding (concat-and-chunk packing): global
    //      running token count via the two-level prefix sum — the big
    //      exchange is hash-partitioned by bucket, only bucket-count rows
    //      cross a single-partition window ----
    "q85_pack_shards" -> ((s, dir) =>
      graft.text.CorpusPrep.packTokenStream(
          t(s, dir, "documents"), "text", "doc_id",
          windowTokens = 2048, bucketWidth = 64)
        .orderBy(col("id"))),

    // ---- temperature-scaled mixture (UniMax-style alpha sampling): rates
    //      derived from corpus stats entirely in-plan, normalization sums
    //      c^alpha in DECIMAL (order-independent), keep rule = the same
    //      content hash as q74 so the selection nests and reproduces ----
    "q86_temperature_mix" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("meta_source",
        when(col("source").isin("src14", "src15", "src16", "src17", "src18"),
          "books")
          .when(col("source") === "src19", "code")
          .otherwise("web"))
      graft.text.CorpusPrep.temperatureMixture(d, "text", "meta_source",
          alpha = 0.5, targetFrac = 0.5)
        .groupBy(col("meta_source"))
        .agg(count(lit(1)).as("kept_docs"), sum(col("n_chars")).as("kept_chars"),
          max(col("rate_ppm")).as("rate_ppm"))
        .orderBy(col("meta_source"))
    }),

    // ---- funnel conversion: users with a view, then a click strictly
    //      after their FIRST view, then a purchase strictly after that
    //      first qualifying click. Every aggregation and join keys on
    //      user_id — one partitioning reused across all three stages ----
    "q73_funnel" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id")).filter(col("ts") > col("v_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id")).filter(col("ts") > col("c_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
      def stage(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("users")).select(lit(name).as("stage"),
          col("users"))
      stage("1_view", v)
        .unionByName(stage("2_click_after_view", c))
        .unionByName(stage("3_purchase_after_click", p))
        .orderBy(col("stage"))
    }),

    // ---- context-window chunking: overlapping 50-word windows (step 40)
    //      per document — the raw-docs → training/RAG-windows op; digests
    //      keep the gated output compact while pinning every chunk byte ----
    "q72_chunk_windows" -> ((s, dir) =>
      graft.text.CorpusPrep.chunkWords(
          t(s, dir, "documents").filter(col("doc_id") < 100),
          "text", "doc_id", chunkWords = 50, overlap = 10)
        .select(col("doc_id"), col("chunk_idx"),
          md5(col("chunk_text")).as("chunk_digest"), col("n_words"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // ---- action→response correlation (attribution): every click within
    //      10 minutes of the same user's view, with the lag — batch form
    //      of the watermarked stream-stream join (correlateStream) ----
    "q70_event_correlate" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      Events.correlate(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "click"), windowMinutes = 10)
        .select(col("user_id"), col("left_id"), col("right_id"), col("lag_us"))
        .orderBy(col("user_id"), col("left_id"), col("right_id"))
    }),

    // ---- attribute-filtered ANN through the persistent IVF index: the
    //      cells CARRY the label column (ivfBuildIndex attrCols), so the
    //      predicate evaluates INSIDE the pruned probe scan — pgvector's
    //      "ivfflat + WHERE" shape, no post-hoc join-and-hope. in_exact
    //      compares against the exact FILTERED top-k ----
    "q132_ivf_filtered" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val indexDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/ivfindexattr-${new java.io.File(dir).getName}-c${e.count()}"
      if (!Knn.ivfIndexReady(indexDir))
        Knn.ivfBuildIndex(e, "embedding", "vec_id", indexDir, k = 4,
          iters = 2, trainFilter = col("vec_id") % 5 === 0,
          attrCols = Seq("label"))
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val cond = col("label") % 3 === 1
      val probe = Knn.IvfIndex.load(s, indexDir).search(qv, k = 10,
        nprobe = 2, filter = Some(cond))
      val exact = Knn.topK(e.filter(cond), "embedding", qv, 10, "vec_id")
        .select(col("vec_id").as("id"), lit(true).as("in_exact"))
      probe.join(exact, Seq("id"), "left")
        .na.fill(value = false, Seq("in_exact"))
        .select(col("id"), col("centroid_id"), col("score"), col("in_exact"))
        .orderBy(col("score"), col("id"))
    }),

    // ---- stupid-backoff trigram LM scoring (Brants et al. 2007): the
    //      CCNet/KenLM perplexity-filter shape for corpus curation —
    //      counts trained on the %10<8 subset, EVERY doc scored by avg
    //      per-token log-prob with trigram → α·bigram → α²·Laplace-
    //      unigram backoff; ln p accumulates in DECIMAL so the score is
    //      partition-deterministic ----
    "q133_ngram_lm" -> ((s, dir) =>
      graft.text.TextAnalysis.ngramLmScore(
          t(s, dir, "documents"), "text", "doc_id",
          trainFilter = col("doc_id") % 10 < 8)
        .orderBy(col("doc_id"))),

    // ---- weight-proportional sampling without replacement (Efraimidis–
    //      Spirakis exponential clocks, hash-seeded): the quality-
    //      weighted subsample step — 3 docs per source, inclusion odds
    //      ∝ n_chars, deterministic across re-runs/shards/engines ----
    "q134_weighted_sample" -> ((s, dir) =>
      graft.text.CorpusPrep.weightedSample(
          t(s, dir, "documents"), "text", "n_chars", "doc_id", "source",
          k = 3)
        .orderBy(col("source"), col("rk"))),

    // ---- Matryoshka prefix-dimension search: stage 1 ranks by cosine
    //      over the first 16 of 64 components (4× cheaper scan), stage 2
    //      exactly re-scores the 4·k survivors — the coarse-then-refine
    //      dial in DIMENSION rather than precision ----
    "q135_prefix_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val probe = Knn.prefixTopK(e, "embedding", "vec_id", qv, k = 10,
        dPrefix = 16, factor = 4)
      val exact = Knn.topK(e, "embedding", qv, 10, "vec_id")
        .select(col("vec_id").as("id"), lit(true).as("in_exact"))
      probe.withColumnRenamed("vec_id", "id")
        .join(exact, Seq("id"), "left")
        .na.fill(value = false, Seq("in_exact"))
        .select(col("id"), col("pre_score"), col("score"), col("in_exact"))
        .orderBy(col("score"), col("id"))
    }),

    // ---- the LM model under segment maintenance: build on half the
    //      train docs, append the other half, RETRACT the %7 subset as a
    //      negative-count segment — counts are additive, so the merged
    //      model must equal a wholesale recount of the surviving train
    //      set, which is exactly what the oracle computes ----
    "q136_lm_store" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val train = d.filter(col("doc_id") % 10 < 8)
      val fp = d.agg(expr("bit_xor(xxhash64(doc_id, md5(text)))")
        .cast("string")).head().getString(0)
      val root = graft.fixtures.Fp16Corpus.workRoot + s"/lmstore-$fp"
      if (!new java.io.File(s"$root/CURRENT").isFile) {
        graft.text.LmStore.build(
          train.filter(col("doc_id") % 2 === 0), "text", "doc_id", root)
        graft.text.LmStore.append(
          train.filter(col("doc_id") % 2 === 1), "text", "doc_id", root)
        graft.text.LmStore.delete(
          train.filter(col("doc_id") % 7 === 3), "text", "doc_id", root)
      }
      graft.text.LmStore.score(d, "text", "doc_id", root)
        .orderBy(col("doc_id"))
    }),

    // ---- attribute-filtered ADC search: the encoded relation carries
    //      the label, the predicate applies BEFORE the ADC ranking (on
    //      the compressed rows — no decode, no post-hoc starvation), and
    //      recall is measured against the exact FILTERED top-k. q132's
    //      filter-in-index contract at the compressed point of the
    //      precision ladder ----
    "q137_pq_filtered" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      val cb = Knn.collectCodebooks(Knn.pqTrain(
        emb, "embedding", "vec_id", m = 2, ksub = 4, iters = 2))
      val lab = emb.select(col("vec_id").as("id"), col("label"))
      val encoded = Knn.pqEncode(emb, "embedding", "vec_id", cb)
        .join(lab, Seq("id"))
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val cond = col("label") % 3 === 1
      val pq = Knn.pqTopK(encoded.filter(cond), cb, qv, k = 10)
      val v = emb.filter(col("embedding").isNotNull && cond)
        .select(col("vec_id").as("id"), col("embedding").as("v"))
      val exact = v.withColumn("d", Knn.l2sq(col("v"), typedLit(qv)))
        .orderBy(col("d").asc, col("id").asc).limit(10)
        .select(col("id"), lit(true).as("in_exact"))
      pq.join(exact, Seq("id"), "left")
        .na.fill(value = false, Seq("in_exact"))
        .select(col("id"), col("score_adc"), col("in_exact"))
        .orderBy(col("score_adc"), col("id"))
    }),

    // ---- batch k-NN join through ONE IVF geometry: the corpus indexes
    //      at its primary cell, each query replicates to its nprobe=2
    //      nearest — candidates meet in a cell equi-join, NEITHER side
    //      broadcasts (the scale form of q18's broadcast join, for when
    //      the query side is itself a corpus). in_exact vs the exact
    //      join measures the nprobe recall dial ----
    "q138_ivf_knn_join" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 20)
      val corpus = e.filter(col("vec_id") >= 100)
      val probe = Knn.ivfKnnJoin(queries, corpus, "embedding", "vec_id",
        "embedding", "vec_id", k = 5, cells = 4, iters = 2, nprobe = 2)
      val exact = Knn.knnJoin(queries, corpus, "embedding", "vec_id",
          "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          lit(true).as("in_exact"))
      probe.join(exact, Seq("query_id", "neighbor_id"), "left")
        .na.fill(value = false, Seq("in_exact"))
        .select(col("query_id"), col("neighbor_id"), col("score"),
          col("rank"), col("in_exact"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- SEMANTIC decontamination (the embedding-space sibling of the
    //      lexical q59/q65/q87 family): for every held-out doc, count
    //      train-corpus vectors within cosine distance 0.35 through the
    //      co-partitioned join — paraphrase/re-render contamination that
    //      n-gram overlap can't see. Per-benchmark verdict + closest
    //      train distance; benchmark docs stay rows even with zero hits ----
    "q139_semantic_decon" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val bench = e.filter(col("vec_id") < 50)
      val train = e.filter(col("vec_id") >= 100)
      val near = Knn.ivfKnnJoin(bench, train, "embedding", "vec_id",
          "embedding", "vec_id", k = 10, cells = 4, iters = 2, nprobe = 2)
        .filter(col("score") < 0.35)
      bench.select(col("vec_id").as("query_id"))
        .join(near, Seq("query_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(col("neighbor_id")).as("n_close"),
          min(col("score")).as("min_score"))
        .withColumn("contaminated", col("n_close") > 0)
        .orderBy(col("query_id"))
    }),

    // ---- the C4-style curation CASCADE, end to end: language ID →
    //      heuristic quality → LM score band → exact-hash dedup, each
    //      doc tagged with its FIRST failing stage (the audit trail a
    //      curation run must emit), rolled up per (source, reason).
    //      Four operator families composed in one plan — the report a
    //      100 TB curation job writes next to its output ----
    "q140_curation_cascade" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val lm = graft.text.TextAnalysis.ngramLmScore(d, "text", "doc_id",
          trainFilter = col("doc_id") % 10 < 8)
        .select(col("doc_id"), col("avg_logprob"))
      // the shared cascade engine — `Cli curate` emits THIS report
      graft.text.CorpusPrep.curationCascade(d, "text", "doc_id",
        "source", lm)._2
    }),

    // ---- retrieval evaluation (trec_eval's core triplet) as a
    //      distributed operator: the nprobe=1 co-partitioned join scored
    //      against the exact join as gold — per-query recall@5, RR and
    //      binary nDCG@5, DECIMAL-summed DCG terms. The harness every
    //      ANN dial in the engine is tuned against ----
    "q141_rank_eval" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 20)
      val corpus = e.filter(col("vec_id") >= 100)
      val sys = Knn.ivfKnnJoin(queries, corpus, "embedding", "vec_id",
        "embedding", "vec_id", k = 5, cells = 4, iters = 2, nprobe = 1)
      val gold = Knn.knnJoin(queries, corpus, "embedding", "vec_id",
        "embedding", "vec_id", k = 5)
      graft.search.RankEval.evaluate(sys, gold, "query_id", "neighbor_id",
          "rank")
        .orderBy(col("query_id"))
    }),

    // ---- shard export, the pipeline's last mile: whole docs packed
    //      into ~2048-token shard directories, manifest derived from the
    //      files AS WRITTEN (read back) — doc/token counts + an
    //      order-independent poly_hash XOR digest per shard, the thing a
    //      training loader verifies before it trusts the data ----
    "q142_export_shards" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val fp = d.agg(expr("bit_xor(xxhash64(doc_id, md5(text)))")
        .cast("string")).head().getString(0)
      val out = graft.fixtures.Fp16Corpus.workRoot + s"/shards-$fp"
      graft.text.CorpusPrep.exportShards(d, "text", "doc_id", out,
          shardTokens = 2048)
        .orderBy(col("shard_id"))
    }),

    // ---- q138's join served from the PERSISTENT index: the geometry
    //      and cells come from disk (trainFilter = everything, so the
    //      frozen geometry equals the in-plan chain's), the batch's
    //      probe set meets the cell rows in a shuffle join keyed by
    //      cell. Index-served must equal the in-plan math — the
    //      q89/q106 read-path contract applied to batch retrieval ----
    "q143_ivf_join_index" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") >= 100)
      val indexDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/ivfjoinidx-${new java.io.File(dir).getName}-c${corpus.count()}"
      if (!Knn.ivfIndexReady(indexDir))
        Knn.ivfBuildIndex(corpus, "embedding", "vec_id", indexDir, k = 4,
          iters = 2, trainFilter = lit(true))
      Knn.ivfKnnJoinIndex(s, indexDir,
          e.filter(col("vec_id") < 20), "embedding", "vec_id",
          k = 5, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- q141's per-query metrics macro-averaged (the headline number
    //      a tuning sweep reports): zero-hit queries count 0 toward MRR
    //      (trec convention), every mean DECIMAL-summed ----
    "q144_rank_eval_macro" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 20)
      val corpus = e.filter(col("vec_id") >= 100)
      val sys = Knn.ivfKnnJoin(queries, corpus, "embedding", "vec_id",
        "embedding", "vec_id", k = 5, cells = 4, iters = 2, nprobe = 1)
      val gold = Knn.knnJoin(queries, corpus, "embedding", "vec_id",
        "embedding", "vec_id", k = 5)
      graft.search.RankEval.macroAvg(
        graft.search.RankEval.evaluate(sys, gold, "query_id",
          "neighbor_id", "rank"))
    }),

    // ---- HNSW bulk insertion gated at the EDGE level: build the stack
    //      on the base 250, hnswAppendIndex the next 50 — layer 0's
    //      non-self edge relation must equal base-5-NN-graph ∪ each new
    //      node's 5 nearest base members ∪ the reverse links. The walk
    //      over the merged graph is spec-verified; this row proves the
    //      insertion MATH cross-engine ----
    "q145_hnsw_insert" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val base = e.filter(col("vec_id") < 250)
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val batch = e.filter(col("vec_id") >= 250 && col("vec_id") < 300)
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val root = graft.fixtures.Fp16Corpus.workRoot +
        s"/hnswapp-${new java.io.File(dir).getName}-c${e.count()}"
      // layers build concurrently — guard on the order-independent ready
      // probe (all layers + meta), not one layer's pointer
      if (!Knn.hnswIndexReady(s, root)) {
        Knn.buildHnswIndex(base, "embedding", "vec_id", root, maxLevel = 2,
          upperM = 3, k0 = 5, buckets = 8, fp16 = false)
        Knn.hnswAppendIndex(batch, "embedding", "vec_id", root)
      }
      graft.similarity.Knn.AdjIndex.load(s, s"$root/layer0").relation
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
        .orderBy(col("src"), col("dst"))
    }),

    // ---- hard-negative mining (contrastive training): every anchor's
    //      5 nearest corpus vectors with a DIFFERENT label — same-label
    //      positives excluded BEFORE the rank so no negative slot is
    //      wasted ----
    "q146_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Knn.hardNegatives(
          e.filter(col("vec_id") < 20), e.filter(col("vec_id") >= 100),
          "embedding", "vec_id", "label", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- long-document embedding by mean-pooling: 30-word chunks embed
    //      independently, per-dimension DECIMAL means, unit-renormalize
    //      with the embedder's fp32 rounding — the answer to the
    //      reference's hard 8191-token truncation (the tail counts) ----
    "q147_pooled_embedding" -> ((s, dir) =>
      // gated output is posexploded to scalar (doc_id, pos, x) rows —
      // the driver's pandas comparator cannot sort array cells, and the
      // scalar shape is strictly stronger (gates every element AND its
      // position, not an array-equality blob)
      graft.embed.Pooling.pooledEmbedding(
          t(s, dir, "documents").filter(col("doc_id") < 100),
          "text", "doc_id", chunkWords = 30)
        .select(col("doc_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .orderBy(col("doc_id"), col("pos")))
  )

  /** Probe text for q35 (shared by the Spark query and the DuckDB oracle). */
  private val EmbedProbeText = "spark vector join stream"

  /** DuckDB replication of [[graft.embed.HashNgramEmbedder]] (dim 64):
    * whitespace tokens + char trigrams → poly-hash bucket ± sign → L2
    * normalize with float32 rounding (CAST AS REAL) so vectors are
    * bit-identical to the engine's Array[Float]. `src(key, text)` must be
    * in scope. */
  private def sqlEmbedderCtes: String =
    s"""toks AS (SELECT key, unnest(string_split(text, ' ')) AS f FROM src),
       |tris AS (SELECT key, unnest(list_transform(
       |  range(1, greatest(length(text)-1, 1)), i -> text[i:i+2])) AS f FROM src),
       |feats AS (SELECT * FROM toks UNION ALL SELECT * FROM tris),
       |h AS (SELECT key, ${sqlPolyHash("f")} AS h FROM feats),
       |buckets AS (
       |  SELECT key, h % 64 AS idx,
       |         SUM(CASE WHEN (h // 64) % 2 = 0 THEN 1.0 ELSE -1.0 END) AS w
       |  FROM h GROUP BY 1, 2),
       |grid AS (SELECT key, i FROM (SELECT DISTINCT key FROM src) s,
       |  (SELECT unnest(range(64)) AS i)),
       |vec0 AS (
       |  SELECT g.key, list(COALESCE(b.w, 0.0) ORDER BY g.i) AS v
       |  FROM grid g LEFT JOIN buckets b ON b.key = g.key AND b.idx = g.i
       |  GROUP BY g.key),
       |normed AS (
       |  SELECT key,
       |    CASE WHEN sqrt(list_dot_product(v, v)) > 0
       |      THEN list_transform(v, x ->
       |        CAST(CAST(x / sqrt(list_dot_product(v, v)) AS REAL) AS DOUBLE))
       |      ELSE v END AS v
       |  FROM vec0)""".stripMargin

  // ====================================================================
  // DuckDB oracle SQL — one per query, same column names, same ordering.
  // ====================================================================

  private val P = "1000000007"

  /** DuckDB polynomial rolling hash over a string expression's chars —
    * mirrors graft.text.TextMath.polyHash exactly. */
  private def sqlPolyHash(x: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($x, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(h, c) -> (h*31 + c) % $P)"

  /** DuckDB distinct word-3-gram shingles of a split-words expression. */
  private def sqlShingles(w: String): String =
    s"CASE WHEN len($w) >= 3 THEN list_distinct(list_transform(" +
      s"range(1, len($w)-1), i -> $w[i] || ' ' || $w[i+1] || ' ' || $w[i+2])) " +
      s"ELSE CAST([] AS VARCHAR[]) END"

  /** One Lloyd assignment pass: nearest centroid (cosine, centroid_id
    * tiebreak) per `corpusSrc` row — mirrors [[graft.similarity.Knn.ivfAssign]]. */
  private def sqlIvfAssign(corpusSrc: String, centSrc: String): String =
    s"""SELECT c.id, c.v, s.centroid_id,
       |  row_number() OVER (PARTITION BY c.id
       |    ORDER BY ${sqlCosine("c.v", "s.cvec")}, s.centroid_id) AS crank
       |FROM $corpusSrc c, $centSrc s QUALIFY crank = 1""".stripMargin

  /** Squared L2 via the dot expansion — the exact float tree
    * `Knn.l2sq` builds (three sequential-sum dots, then a - 2b + c). */
  private def sqlL2Sq(a: String, b: String): String =
    s"(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])) - " +
      s"2 * list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])) + " +
      s"list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])))"

  /** [[sqlIvfAssign]] under squared L2 (`Knn.ivfAssignL2` — the PQ
    * sub-quantizer assignment). */
  private def sqlIvfAssignL2(corpusSrc: String, centSrc: String): String =
    s"""SELECT c.id, c.v, s.centroid_id,
       |  row_number() OVER (PARTITION BY c.id
       |    ORDER BY ${sqlL2Sq("c.v", "s.cvec")}, s.centroid_id) AS crank
       |FROM $corpusSrc c, $centSrc s QUALIFY crank = 1""".stripMargin

  /** The q109/q124 shared PQ pipeline as WITH-list clauses (no `WITH`
    * keyword, trailing comma style): the 300-vector corpus split into 2
    * subspaces, each with its own 2-iteration L2-Lloyd codebook chain,
    * joined into per-id ADC scores against vec 0's per-subspace LUTs.
    * Replicates [[graft.similarity.Knn.pqTrain]]/`pqEncode`/`pqTopK`
    * with m=2, ksub=4, iters=2 bit-for-bit. */
  private lazy val sqlPqAdcPreamble: String = {
    def chain(s: Int): String =
      s"""cb${s}_seed AS (
         |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT)
         |      AS centroid_id,
         |    v AS cvec
         |  FROM corpus$s QUALIFY row_number() OVER (ORDER BY id) <= 4),
         |cb${s}_a1 AS (${sqlIvfAssignL2(s"corpus$s", s"cb${s}_seed")}),
         |cb${s}_x1 AS (SELECT centroid_id, unnest(range(len(v))) AS pos,
         |  unnest(v) AS x FROM cb${s}_a1),
         |cb${s}_m1 AS (${sqlIvfMean(s"cb${s}_x1")}),
         |cb${s}_c1 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec
         |  FROM cb${s}_m1 GROUP BY 1),
         |cb${s}_a2 AS (${sqlIvfAssignL2(s"corpus$s", s"cb${s}_c1")}),
         |cb${s}_x2 AS (SELECT centroid_id, unnest(range(len(v))) AS pos,
         |  unnest(v) AS x FROM cb${s}_a2),
         |cb${s}_m2 AS (${sqlIvfMean(s"cb${s}_x2")}),
         |cb${s}_c2 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec
         |  FROM cb${s}_m2 GROUP BY 1),
         |enc$s AS (SELECT id, centroid_id AS code
         |  FROM (${sqlIvfAssignL2(s"corpus$s", s"cb${s}_c2")}) t$s),
         |lut$s AS (SELECT centroid_id AS code,
         |  ${sqlL2Sq(s"qv$s", "cvec")} AS d
         |  FROM cb${s}_c2, q$s)""".stripMargin
    s"""corpus AS (SELECT vec_id AS id, embedding AS v FROM embeddings
       |  WHERE embedding IS NOT NULL AND vec_id < 300),
       |corpus0 AS (SELECT id, v[1:(len(v) // 2)] AS v FROM corpus),
       |corpus1 AS (SELECT id, v[(len(v) // 2 + 1):len(v)] AS v FROM corpus),
       |q0 AS (SELECT v AS qv0 FROM corpus0 WHERE id = 0),
       |q1 AS (SELECT v AS qv1 FROM corpus1 WHERE id = 0),
       |${chain(0)},
       |${chain(1)},
       |adc AS (SELECT e0.id, l0.d + l1.d AS score_adc
       |  FROM enc0 e0 JOIN enc1 e1 USING (id)
       |  JOIN lut0 l0 ON e0.code = l0.code
       |  JOIN lut1 l1 ON e1.code = l1.code),""".stripMargin
  }

  /** The q153 residual-quantizer pipeline as WITH-list clauses (no
    * `WITH` keyword, trailing comma style): stage 0's 2-iteration
    * L2-Lloyd chain on the 300-vector corpus, the double-subtract-
    * float-round residual, stage 1's identical chain on the residuals,
    * both argmin encodes, and per-id ADC scores against vec 0 with the
    * association-pinned expansion
    * `(qq - 2·(l0+l1)) + ((n0+n1) + 2·x01)` — token-for-token the
    * double tree [[graft.functions.RqMath.adc]] accumulates.
    * Replicates [[graft.similarity.Knn.rqTrain]]/`rqEncode`/`rqTopK`
    * with stages=2, ksub=4, iters=2 bit-for-bit. */
  /** A 2-iteration L2-Lloyd chain over `src` (id, v) as WITH-list
    * clauses, k lowest-id seeds — the [[graft.similarity.Knn
    * .trainCentroidsL2]] replay shared by q153's stages and q156's
    * coarse codebook. Final codebook relation: `<tag>_c2`. */
  private def sqlL2Chain(tag: String, src: String, k: Int = 4): String =
    s"""${tag}_seed AS (
       |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT)
       |      AS centroid_id,
       |    v AS cvec
       |  FROM $src QUALIFY row_number() OVER (ORDER BY id) <= $k),
       |${tag}_a1 AS (${sqlIvfAssignL2(src, s"${tag}_seed")}),
       |${tag}_x1 AS (SELECT centroid_id, unnest(range(len(v))) AS pos,
       |  unnest(v) AS x FROM ${tag}_a1),
       |${tag}_m1 AS (${sqlIvfMean(s"${tag}_x1")}),
       |${tag}_c1 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec
       |  FROM ${tag}_m1 GROUP BY 1),
       |${tag}_a2 AS (${sqlIvfAssignL2(src, s"${tag}_c1")}),
       |${tag}_x2 AS (SELECT centroid_id, unnest(range(len(v))) AS pos,
       |  unnest(v) AS x FROM ${tag}_a2),
       |${tag}_m2 AS (${sqlIvfMean(s"${tag}_x2")}),
       |${tag}_c2 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec
       |  FROM ${tag}_m2 GROUP BY 1)""".stripMargin

  private lazy val sqlRqAdcPreamble: String = {
    def chain(tag: String, src: String): String = sqlL2Chain(tag, src)
    def dotd(a: String, b: String): String =
      s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"
    s"""corpus AS (SELECT vec_id AS id, embedding AS v FROM embeddings
       |  WHERE embedding IS NOT NULL AND vec_id < 300),
       |${chain("rq0", "corpus")},
       |renc0 AS (SELECT id, v, centroid_id AS code
       |  FROM (${sqlIvfAssignL2("corpus", "rq0_c2")}) t0),
       |res0_x AS (SELECT e.id, unnest(range(len(e.v))) AS pos,
       |  unnest(e.v) AS x, unnest(cb.cvec) AS c
       |  FROM renc0 e JOIN rq0_c2 cb ON cb.centroid_id = e.code),
       |res0 AS (SELECT id,
       |  list(CAST(CAST(x AS DOUBLE) - CAST(c AS DOUBLE) AS REAL)
       |    ORDER BY pos) AS v
       |  FROM res0_x GROUP BY id),
       |${chain("rq1", "res0")},
       |renc1 AS (SELECT id, centroid_id AS code
       |  FROM (${sqlIvfAssignL2("res0", "rq1_c2")}) t1),
       |rqq AS (SELECT v AS qv FROM corpus WHERE id = 0),
       |adc AS (SELECT e0.id,
       |  (${dotd("qv", "qv")}
       |    - 2 * (${dotd("qv", "c0.cvec")} + ${dotd("qv", "c1.cvec")}))
       |  + ((${dotd("c0.cvec", "c0.cvec")} + ${dotd("c1.cvec", "c1.cvec")})
       |    + 2 * ${dotd("c0.cvec", "c1.cvec")}) AS score_adc
       |  FROM renc0 e0 JOIN renc1 e1 USING (id)
       |  JOIN rq0_c2 c0 ON c0.centroid_id = e0.code
       |  JOIN rq1_c2 c1 ON c1.centroid_id = e1.code, rqq),""".stripMargin
  }

  /** Exact decimal per-(cell, pos) mean cast to REAL — bit-identical to the
    * engine's sum(DECIMAL(25,6))/count → float centroid means. */
  private def sqlIvfMean(src: String): String =
    s"""SELECT centroid_id, pos,
       |  CAST(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(25,6))) AS DOUBLE)
       |    / COUNT(*) AS REAL) AS m
       |FROM $src GROUP BY 1, 2""".stripMargin

  /** fp16 round-to-nearest-even of a REAL column named `xf`, as DOUBLE:
    * normal halves quantize the mantissa at 2^(e-10) via round_even;
    * |x| < 2^-14 hits the subnormal grid 2^-24. Exact in DOUBLE both
    * sides, so engine and oracle agree bit-for-bit. */
  private def sqlFp16Round: String = {
    val xd = "CAST(xf AS DOUBLE)"
    val e = s"floor(log2(abs($xd)))"
    s"""CASE WHEN xf = 0 THEN CAST(0 AS DOUBLE)
       |  WHEN abs($xd) < power(2, -14)
       |    THEN round_even($xd * 16777216.0, 0) / 16777216.0
       |  ELSE round_even($xd * power(2, 10 - $e), 0) * power(2, $e - 10)
       |END""".stripMargin
  }

  /** Sign bit of hyperplane `plane`, dimension `j` — mirrors
    * [[graft.functions.HyperplaneMath.sign]] (two LCG rounds mod 2³¹
    * with an xorshift between; every intermediate < 2⁶³ so DuckDB's
    * overflow-checked BIGINT arithmetic never trips). 0 → +1, 1 → −1. */
  private def sqlHyperSignBit(plane: String, j: String, seed: Long): String = {
    val m = "2147483648"
    val x1 = s"((1103515245 * ((($plane) * 65536 + ($j) + $seed) % $m) + 12345) % $m)"
    val y1 = s"xor($x1, ($x1 >> 15))"
    val x2 = s"((1103515245 * $y1 + 12345) % $m)"
    val y2 = s"xor($x2, ($x2 >> 13))"
    s"((($y2) >> 16) & 1)"
  }

  /** UNION ALL of `nHash` bloom bit positions for a relation `src` that
    * carries a shingle polyHash column `h` (plus `cols` passthrough) —
    * mirrors [[graft.dedup.Dedup.bloomBitStruct]]'s affine family. */
  private def sqlBloomBits(src: String, cols: String, nHash: Int,
      bits: Long): String =
    (0 until nHash).map { j =>
      val a = graft.text.TextMath.MinHashA(j)
      val b = graft.text.TextMath.MinHashB(j)
      val c = if (cols.isEmpty) "" else s"$cols, "
      s"SELECT $c(($a * h + $b) % ${graft.text.TextMath.Mod}) % $bits AS b FROM $src"
    }.mkString("\n  UNION ALL ")

  /** UNION ALL of `depth` count–min counter addresses for a relation
    * `src` carrying a shingle polyHash column `h` (plus `cols`
    * passthrough) — mirrors [[graft.text.TextAnalysis.cmsCounterIdx]]. */
  private def sqlCmsBits(src: String, cols: String, depth: Int,
      width: Int): String =
    (0 until depth).map { j =>
      val a = graft.text.TextMath.MinHashA(j)
      val b = graft.text.TextMath.MinHashB(j)
      val c = if (cols.isEmpty) "" else s"$cols, "
      s"SELECT $c$j AS row_idx, " +
        s"(($a * h + $b) % ${graft.text.TextMath.Mod}) % $width AS counter_idx " +
        s"FROM $src"
    }.mkString("\n  UNION ALL ")

  /** BM25 CTE chain over `documents`, mirroring
    * [[graft.text.TextRank.bm25TopK]] expression-for-expression (ratio
    * idf; the float constants are interpolated from the SAME Scala
    * doubles the engine uses, and Scala's shortest-round-trip Double
    * printing means DuckDB parses back identical values). Yields a
    * relation `bm25(id, score)`, unlimited and unordered. */
  private def sqlBm25Ctes(terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75, docsWhere: String = "",
      docsFrom: String = "documents"): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val cases = terms.zipWithIndex.map { case (t, i) =>
      s"MAX(CASE WHEN term = '$t' THEN contrib END) AS s$i" }.mkString(", ")
    val total = terms.indices.map(i => s"COALESCE(s$i, CAST(0.0 AS DOUBLE))")
      .mkString(" + ")
    s"""bmdocs AS (SELECT doc_id AS id, string_split(text, ' ') AS w FROM $docsFrom$docsWhere),
       |bmd2 AS (SELECT id, w, CAST(len(w) AS BIGINT) AS dl FROM bmdocs),
       |bmstats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(dl) AS BIGINT) AS total_dl FROM bmd2),
       |bmtoks AS (SELECT id, dl, unnest(w) AS term FROM bmd2),
       |bmtf AS (SELECT id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM bmtoks WHERE term IN ($termList) GROUP BY 1, 2, 3),
       |bmdf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS doc_freq
       |  FROM bmtf GROUP BY 1),
       |bmcontrib AS (SELECT id, term,
       |  ((CAST(n AS DOUBLE) - CAST(doc_freq AS DOUBLE) + 0.5) /
       |    (CAST(doc_freq AS DOUBLE) + 0.5)) *
       |  ((CAST(tf AS DOUBLE) * ${k1 + 1.0}) /
       |    (CAST(tf AS DOUBLE) + $k1 * (${1.0 - b} + $b *
       |      ((CAST(dl AS DOUBLE) * CAST(n AS DOUBLE)) /
       |        CAST(total_dl AS DOUBLE))))) AS contrib
       |  FROM bmtf JOIN bmdf USING (term) CROSS JOIN bmstats),
       |bmagg AS (SELECT id, $cases FROM bmcontrib GROUP BY id),
       |bm25 AS (SELECT id, ($total) AS score FROM bmagg)""".stripMargin
  }

  /** The q133 stupid-backoff chain with a parameterized train
    * predicate — shared by the wholesale model (q133) and the
    * segment-maintained LmStore gate (q136, whose train set is the
    * wholesale one minus the retracted docs: append + negative-count
    * delete segments must merge to EXACTLY this recount). */
  private def sqlLmBackoff(trainWhere: String): String =
    s"""WITH ${sqlLmCtes(trainWhere)}
       |SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CAST(lp AS DECIMAL(25,12))) AS DOUBLE) /
       |    CAST(COUNT(*) AS DOUBLE) AS avg_logprob
       |FROM lp GROUP BY id ORDER BY doc_id""".stripMargin

  /** The q133 CTE body alone (through the per-token `lp` relation) for
    * composition into larger chains (q140's cascade). */
  private def sqlLmCtes(trainWhere: String): String =
    s"""src AS (SELECT doc_id AS id, $trainWhere AS is_train,
       |    string_split(text, ' ') AS ws FROM documents),
       |toks AS (SELECT id, is_train, unnest(range(len(ws))) AS pos,
       |    unnest(ws) AS w FROM src),
       |grams AS (SELECT id, is_train, pos, w,
       |    lag(w, 2) OVER (PARTITION BY id ORDER BY pos) AS w1,
       |    lag(w, 1) OVER (PARTITION BY id ORDER BY pos) AS w2
       |  FROM toks),
       |train AS (SELECT * FROM grams WHERE is_train),
       |uni AS (SELECT w, count(*) AS c1 FROM train GROUP BY w),
       |tot AS (SELECT SUM(c1) AS t_tokens, COUNT(*) AS vocab FROM uni),
       |big AS (SELECT w2, w, count(*) AS c2 FROM train
       |  WHERE w2 IS NOT NULL GROUP BY w2, w),
       |tri AS (SELECT w1, w2, w, count(*) AS c3 FROM train
       |  WHERE w1 IS NOT NULL GROUP BY w1, w2, w),
       |lp AS (
       |  SELECT g.id,
       |    ln(CASE
       |      WHEN t3.c3 IS NOT NULL
       |        THEN CAST(t3.c3 AS DOUBLE) / CAST(bc.c2 AS DOUBLE)
       |      WHEN b.c2 IS NOT NULL
       |        THEN 0.4 * CAST(b.c2 AS DOUBLE) / CAST(uc.c1 AS DOUBLE)
       |      ELSE 0.4 * 0.4 * (CAST(COALESCE(u.c1, 0) AS DOUBLE) + 1.0) /
       |        (CAST(tot.t_tokens AS DOUBLE) + CAST(tot.vocab AS DOUBLE))
       |    END) AS lp
       |  FROM grams g
       |  LEFT JOIN tri t3 ON t3.w1 = g.w1 AND t3.w2 = g.w2 AND t3.w = g.w
       |  LEFT JOIN big bc ON bc.w2 = g.w1 AND bc.w = g.w2
       |  LEFT JOIN big b ON b.w2 = g.w2 AND b.w = g.w
       |  LEFT JOIN uni uc ON uc.w = g.w2
       |  LEFT JOIN uni u ON u.w = g.w
       |  CROSS JOIN tot)""".stripMargin

  /** The [[graft.similarity.Knn.ivfKnnJoin]] replay: q50's Lloyd chain
    * trained on the `corpus` CTE (vec_id >= 100), corpus indexed at its
    * primary cell (`ci`), queries (`qs` = `qsWhere`) probing their
    * `nprobe` nearest, candidates met in the cell equi-join and ranked
    * per query into `probe` (rank <= k). Shared by q138/q139/q141. */
  private def sqlIvfJoinCtes(qsWhere: String, nprobe: Int, k: Int): String =
    s"""corpus AS (
       |  SELECT vec_id AS id, embedding AS v FROM embeddings
       |  WHERE embedding IS NOT NULL AND vec_id >= 100),
       |qs AS (
       |  SELECT vec_id AS id, embedding AS v FROM embeddings
       |  WHERE embedding IS NOT NULL AND $qsWhere),
       |seed AS (
       |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS centroid_id,
       |    v AS cvec
       |  FROM corpus QUALIFY row_number() OVER (ORDER BY id) <= 4),
       |a1 AS (${sqlIvfAssign("corpus", "seed")}),
       |x1 AS (SELECT centroid_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM a1),
       |m1 AS (${sqlIvfMean("x1")}),
       |cent1 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM m1 GROUP BY 1),
       |a2 AS (${sqlIvfAssign("corpus", "cent1")}),
       |x2 AS (SELECT centroid_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM a2),
       |m2 AS (${sqlIvfMean("x2")}),
       |cent2 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM m2 GROUP BY 1),
       |ci AS (${sqlIvfAssign("corpus", "cent2")}),
       |qa AS (
       |  SELECT q.id, q.v, s.centroid_id,
       |    row_number() OVER (PARTITION BY q.id
       |      ORDER BY ${sqlCosine("q.v", "s.cvec")}, s.centroid_id) AS crank
       |  FROM qs q, cent2 s QUALIFY crank <= $nprobe),
       |cand AS (
       |  SELECT qa.id AS query_id, ci.id AS neighbor_id,
       |    ${sqlCosine("ci.v", "qa.v")} AS score
       |  FROM qa JOIN ci USING (centroid_id)),
       |probe AS (
       |  SELECT query_id, neighbor_id, score,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY score, neighbor_id) AS INT) AS rank
       |  FROM cand QUALIFY rank <= $k)""".stripMargin

  /** q141's eval chain through the per-query `per` relation — shared
    * with the q144 macro-average. */
  private lazy val sqlRankEvalCtes: String =
    s"""${sqlIvfJoinCtes(qsWhere = "vec_id < 20", nprobe = 1, k = 5)},
       |gold AS (
       |  SELECT q.id AS query_id, c.id AS neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY q.id
       |      ORDER BY ${sqlCosine("c.v", "q.v")}, c.id) AS INT) AS grank
       |  FROM qs q, corpus c QUALIFY grank <= 5),
       |gn AS (
       |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_gold,
       |    SUM(CAST(1.0 / (ln(CAST(grank AS DOUBLE) + 1.0) / ln(2.0))
       |      AS DECIMAL(25,12))) AS idcg
       |  FROM gold GROUP BY 1),
       |hits AS (
       |  SELECT p.query_id, p.rank FROM probe p
       |  JOIN gold g ON g.query_id = p.query_id
       |    AND g.neighbor_id = p.neighbor_id),
       |pq AS (
       |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
       |    MIN(rank) AS first_hit,
       |    SUM(CAST(1.0 / (ln(CAST(rank AS DOUBLE) + 1.0) / ln(2.0))
       |      AS DECIMAL(25,12))) AS dcg
       |  FROM hits GROUP BY 1),
       |per AS (
       |  SELECT g.query_id,
       |    CAST(COALESCE(p.n_hits, 0) AS BIGINT) AS n_hits, g.n_gold,
       |    CAST(COALESCE(p.n_hits, 0) AS DOUBLE) / CAST(g.n_gold AS DOUBLE)
       |      AS recall,
       |    CAST(1.0 AS DOUBLE) / CAST(p.first_hit AS DOUBLE) AS rr,
       |    CAST(COALESCE(p.dcg, 0) AS DOUBLE) / CAST(g.idcg AS DOUBLE)
       |      AS ndcg
       |  FROM gn g LEFT JOIN pq p USING (query_id))""".stripMargin

  private def sqlCosine(a: String, b: String): String =
    s"(1 - list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])) / " +
      s"(sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[]))) * " +
      s"sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])))))"

  /** events with ts normalized to whole microseconds (the engine reads the
    * TIMESTAMP(NANOS) column as int64 and truncates to micros). */
  private val sqlEvents =
    "SELECT event_id, make_timestamp(epoch_ns(ts)//1000) AS ts, user_id, " +
      "event_type, value, props FROM events"

  private def sqlMinHashCols(hashCol: String): String =
    (0 until 16).map { j =>
      val a = graft.text.TextMath.MinHashA(j)
      val b = graft.text.TextMath.MinHashB(j)
      s"CAST(MIN(($a * $hashCol + $b) % $P) AS BIGINT) AS mh$j"
    }.mkString(", ")

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice,
        |  strftime(l_shipdate, '%Y-%m-%d') AS ship_date
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 00:00:00'
        |  AND l_quantity >= 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q03_top_customers" ->
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        | AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin,

    "q04_region_stats" ->
      """SELECT r_name, COUNT(*) AS n_suppliers,
        |  CAST(COUNT(DISTINCT n_nationkey) AS BIGINT) AS n_nations,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS avg_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q05_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin,

    "q06_exists" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q07_not_exists" ->
      """SELECT c_custkey, c_mktsegment
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "q08_intersect" ->
      """SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        |ORDER BY custkey""".stripMargin,

    "q09_except" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 8000
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY custkey""".stripMargin,

    "q10_window_rank" ->
      """SELECT o_custkey,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
        |  o_orderkey, o_totalprice
        |FROM orders WHERE o_custkey < 200
        |QUALIFY rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "q11_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) OVER (
        |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_revenue
        |FROM lineitem WHERE l_suppkey < 20
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    "q12_rollup" ->
      """SELECT GROUPING(l_returnflag, l_linestatus) AS gid, l_returnflag, l_linestatus,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,

    "q13_distinct_agg" ->
      """SELECT l_returnflag,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q14_search_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, ${sqlCosine("embedding", "qv")} AS score
         |FROM embeddings, q
         |ORDER BY score, vec_id LIMIT 20""".stripMargin,

    "q15_search_filtered" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, ${sqlCosine("embedding", "qv")} AS score
         |FROM embeddings, q
         |WHERE label = 3 AND vec_id >= 10
         |ORDER BY score, vec_id LIMIT 15""".stripMargin,

    "q16_search_docs" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT doc_id, lang, n_chars, ${sqlCosine("embedding", "qv")} AS score
         |FROM documents JOIN embeddings ON doc_id = vec_id, q
         |WHERE lang = 'en'
         |ORDER BY score, doc_id LIMIT 10""".stripMargin,

    "q17_tags_overlap" ->
      """SELECT lang, COUNT(*) AS n_docs
        |FROM documents
        |WHERE list_has_any(string_split(text, ' '), ['spark', 'vector', 'join'])
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q18_knn_join" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5)
         |SELECT query_id, vec_id AS neighbor_id,
         |  ${sqlCosine("embedding", "qv")} AS score,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY ${sqlCosine("embedding", "qv")}, vec_id) AS INT) AS rank
         |FROM embeddings, q
         |QUALIFY rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    "q19_ivf_topk" ->
      s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |assigned AS (
         |  SELECT vec_id AS id, embedding AS v, centroid_id,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ${sqlCosine("embedding", "cvec")}, centroid_id) AS crank
         |  FROM embeddings, cents QUALIFY crank = 1),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT id, centroid_id, ${sqlCosine("v", "qv")} AS score
         |FROM assigned, q WHERE centroid_id = 0
         |ORDER BY score, id LIMIT 10""".stripMargin,

    "q20_dedup_exact" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 50)
        |SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper, COUNT(*) AS n_dups
        |FROM all_docs GROUP BY md5(text) ORDER BY keeper""".stripMargin,

    "q21_dedup_jaccard" -> {
      s"""WITH sh AS (
         |  SELECT doc_id AS id, ${sqlShingles("string_split(text, ' ')")} AS sh
         |  FROM documents WHERE doc_id < 200),
         |nz AS (SELECT * FROM sh WHERE len(sh) > 0)
         |SELECT a.id AS id_a, b.id AS id_b,
         |  CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE) /
         |  CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
         |FROM nz a JOIN nz b ON a.id < b.id
         |WHERE CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE) /
         |      CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.02
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q22_minhash_sigs" -> {
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < 100),
         |sh AS (SELECT doc_id, unnest(${sqlShingles("w")}) AS s FROM w),
         |h AS (SELECT doc_id, ${sqlPolyHash("s")} AS h FROM sh)
         |SELECT doc_id AS id, ${sqlMinHashCols("h")}
         |FROM h GROUP BY doc_id ORDER BY id""".stripMargin
    },

    "q23_lsh_pairs" -> {
      val bandSelects = (0 until 4).map { b =>
        val cols = (0 until 4).map(r => s"mh${b * 4 + r}").mkString(", ")
        s"SELECT id, $b AS band, concat_ws('-', $cols) AS bsig FROM sig"
      }.mkString("\n  UNION ALL ")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < 200),
         |sh AS (SELECT doc_id, unnest(${sqlShingles("w")}) AS s FROM w),
         |h AS (SELECT doc_id, ${sqlPolyHash("s")} AS h FROM sh),
         |sig AS (SELECT doc_id AS id, ${sqlMinHashCols("h")} FROM h GROUP BY doc_id),
         |bands AS (
         |  $bandSelects)
         |SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig AND a.id < b.id
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q24_simhash" -> {
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
         |  FROM documents WHERE doc_id < 200),
         |th AS (SELECT doc_id, ${sqlPolyHash("t")} AS h FROM tok),
         |bits AS (
         |  SELECT doc_id, b, SUM(((h >> b) & 1) * 2 - 1) AS s
         |  FROM th CROSS JOIN (SELECT unnest(range(16)) AS b) bs
         |  GROUP BY doc_id, b)
         |SELECT doc_id AS id,
         |  CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id ORDER BY id""".stripMargin
    },

    "q25_dedup_embedding" ->
      s"""WITH v AS (SELECT vec_id AS id, embedding AS v FROM embeddings
         |  WHERE vec_id < 300 AND embedding IS NOT NULL)
         |SELECT a.id AS id_a, b.id AS id_b, ${sqlCosine("a.v", "b.v")} AS distance
         |FROM v a JOIN v b ON a.id < b.id
         |WHERE ${sqlCosine("a.v", "b.v")} < 0.7
         |ORDER BY id_a, id_b""".stripMargin,

    "q26_text_stats" -> {
      val stops = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(length(text) AS BIGINT) AS len_chars,
         |  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE) /
         |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_word_len,
         |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS DOUBLE) /
         |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
         |  least(1.0, CAST(len(string_split(text, ' ')) AS BIGINT) / 100.0) * 0.5 +
         |    (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) /
         |      CAST(length(text) AS DOUBLE)) * 0.25 +
         |    least(1.0, (CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS DOUBLE) /
         |      CAST(len(string_split(text, ' ')) AS DOUBLE)) * 5.0) * 0.25 AS quality
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "q27_langid" -> {
      val hits = TextAnalysis.LangMarkers.map { case (lang, ms) =>
        val set = ms.map(m => s"'$m'").mkString(", ")
        s"CAST(len(list_filter(string_split(text, ' '), t -> t IN ($set))) AS BIGINT) AS h_$lang"
      }.mkString(",\n  ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val best = s"greatest(${langs.map(l => s"h_$l").mkString(", ")})"
      val caseChain = langs.map(l => s"WHEN h_$l = $best THEN '$l'").mkString(" ")
      s"""WITH scored AS (
         |  SELECT lang, $hits
         |  FROM documents)
         |SELECT lang, CASE $caseChain ELSE 'und' END AS lang_pred, COUNT(*) AS n
         |FROM scored GROUP BY 1, 2 ORDER BY lang, lang_pred""".stripMargin
    },

    "q28_fingerprint" ->
      s"""SELECT doc_id, ${sqlPolyHash("text")} AS fingerprint,
         |  CAST(length(text) AS BIGINT) AS len_chars
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q29_regex_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_regex_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q30_events_hourly" ->
      s"""WITH ev AS ($sqlEvents)
         |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         |  event_type, COUNT(*) AS n_events,
         |  CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value,
         |  MIN(value) AS min_value, MAX(value) AS max_value
         |FROM ev GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    "q31_sessions" ->
      """WITH ev AS (SELECT event_id, user_id, value, epoch_ns(ts)//1000 AS us FROM events),
        |l AS (SELECT *, LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM ev),
        |f AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS newf FROM l),
        |s AS (SELECT *, SUM(newf) OVER (PARTITION BY user_id ORDER BY us, event_id
        |  ROWS UNBOUNDED PRECEDING) AS session_id FROM f)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value,
        |  MIN(us) AS start_us, MAX(us) AS end_us, MAX(us) - MIN(us) AS duration_us
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin,

    "q32_sliding_windows" ->
      """WITH ev AS (SELECT epoch_ns(ts)//1000 AS us, event_type FROM events),
        |w AS (SELECT us - (us % 1800000000) AS b, event_type FROM ev),
        |x AS (SELECT unnest([b, b - 1800000000]) AS win_start_us, event_type FROM w)
        |SELECT strftime(make_timestamp(win_start_us), '%Y-%m-%d %H:%M:%S') AS win_start,
        |  event_type, COUNT(*) AS n_events
        |FROM x GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,

    "q33_upsert" ->
      """WITH base AS (SELECT doc_id, text, CAST(1 AS BIGINT) AS version FROM documents),
        |upd AS (SELECT doc_id, upper(text) AS text, CAST(2 AS BIGINT) AS version
        |  FROM documents WHERE doc_id % 7 = 0),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd)
        |SELECT doc_id, version, md5(text) AS h FROM u
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) = 1
        |ORDER BY doc_id""".stripMargin,

    "q34_ingest_flatten" ->
      """SELECT CAST(doc_id AS VARCHAR) AS id, text, 'book' AS source_type,
        |  'auth-' || source AS source_author, source AS source_title,
        |  'https://x/' || source AS source_url, 'book' AS category,
        |  lang AS note, CAST(n_chars AS INT) AS location,
        |  '2024-01-15 10:00:00' AS highlighted_at,
        |  CAST(NULL AS VARCHAR) AS updated_at,
        |  lang || ',' || source AS tags
        |FROM documents ORDER BY id""".stripMargin,

    "q35_embed_search" ->
      s"""WITH src AS (
         |  SELECT doc_id AS key, text FROM documents
         |  UNION ALL SELECT -1, '$EmbedProbeText'),
         |$sqlEmbedderCtes,
         |q AS (SELECT v AS qv FROM normed WHERE key = -1)
         |SELECT key AS doc_id, ${sqlCosine("v", "qv")} AS score
         |FROM normed, q WHERE key >= 0
         |ORDER BY score, doc_id LIMIT 20""".stripMargin,

    "q45_quantiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS median_price,
        |  quantile_cont(l_extendedprice, 0.95) AS p95_price,
        |  quantile_cont(l_quantity, 0.25) AS q1_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q44_interval_join" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, value,
        |  epoch_ns(ts)//1000 AS us FROM events),
        |l AS (SELECT *, LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM ev),
        |f AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS newf FROM l),
        |s AS (SELECT *, SUM(newf) OVER (PARTITION BY user_id ORDER BY us, event_id
        |  ROWS UNBOUNDED PRECEDING) AS session_id FROM f),
        |sess AS (SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  MIN(us) AS start_us, MAX(us) AS end_us FROM s GROUP BY 1, 2),
        |clicks AS (SELECT user_id, us, event_id FROM ev WHERE event_type = 'click')
        |SELECT sess.user_id, sess.session_id, COUNT(*) AS n_clicks,
        |  MIN(c.us) AS first_click_us, MAX(c.us) AS last_click_us
        |FROM sess JOIN clicks c ON c.user_id = sess.user_id
        |  AND c.us BETWEEN sess.start_us AND sess.end_us
        |GROUP BY 1, 2 ORDER BY sess.user_id, sess.session_id""".stripMargin,

    "q43_correlated" ->
      """SELECT o1.o_orderkey, o1.o_custkey, o1.o_totalprice
        |FROM orders o1
        |WHERE o1.o_totalprice > 2 * (
        |  SELECT AVG(o2.o_totalprice) FROM orders o2
        |  WHERE o2.o_custkey = o1.o_custkey)
        |ORDER BY o1.o_orderkey""".stripMargin,

    "q42_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, value,
        |  epoch_ns(ts)//1000 AS us FROM events),
        |clicks AS (
        |  SELECT user_id, us, MAX(event_id) AS click_id, MAX(value) AS click_value
        |  FROM ev WHERE event_type = 'click' GROUP BY user_id, us),
        |views AS (
        |  SELECT user_id, us, MAX(event_id) AS view_id, MAX(value) AS view_value
        |  FROM ev WHERE event_type = 'view' GROUP BY user_id, us)
        |SELECT c.user_id, c.us AS click_us, c.click_id,
        |  v.us AS view_us, v.view_id, v.view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND v.us <= c.us
        |ORDER BY c.user_id, click_us, click_id""".stripMargin,

    "q41_pivot" ->
      """SELECT o_orderstatus,
        |  COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS p1,
        |  COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS p2,
        |  COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3,
        |  COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4,
        |  COUNT(*) FILTER (o_orderpriority = '5-LOW') AS p5
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q40_token_profile" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        |SELECT lang, COUNT(*) AS n_tokens,
        |  CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
        |  CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT tok) AS tokens_per_type
        |FROM toks GROUP BY lang ORDER BY lang""".stripMargin,

    "q39_embedding_lsh" ->
      s"""WITH v AS (SELECT vec_id AS id, embedding AS v FROM embeddings
         |  WHERE embedding IS NOT NULL),
         |b AS (SELECT id, v, list_sum(list_transform(range(8),
         |  j -> CASE WHEN v[j+1] > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS bucket
         |  FROM v)
         |SELECT a.id AS id_a, b2.id AS id_b, ${sqlCosine("a.v", "b2.v")} AS distance
         |FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.id < b2.id
         |WHERE ${sqlCosine("a.v", "b2.v")} < 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    "q36_blob_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest,
        |  CAST((octet_length(encode(text)) + 63) // 64 AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q37_frame_sample" ->
      """WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS n
        |  FROM documents WHERE doc_id < 100),
        |f AS (SELECT doc_id, unnest(range(0, (n + 63) // 64)) AS fr, text FROM d),
        |s AS (SELECT doc_id, fr // 2 AS frame_idx,
        |  substring(text, fr * 64 + 1, 64) AS frame FROM f WHERE fr % 2 = 0)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  md5(frame) AS frame_digest,
        |  CAST(octet_length(encode(frame)) AS BIGINT) AS frame_bytes
        |FROM s ORDER BY doc_id, frame_idx""".stripMargin,

    "q38_blob_features" -> {
      val fcols = (0 until 8).map(i =>
        s"CAST(COALESCE(MAX(CASE WHEN stripe = $i THEN sv END), 0) AS BIGINT) AS f$i")
        .mkString(",\n  ")
      s"""WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
         |b AS (SELECT doc_id, n, unnest(range(n)) AS i, text FROM d),
         |s AS (SELECT doc_id,
         |  least(i // greatest((n + 7) // 8, 1), 7) AS stripe,
         |  CAST(ascii(text[i+1:i+1]) AS BIGINT) AS v FROM b),
         |a AS (SELECT doc_id, stripe, SUM(v) AS sv FROM s GROUP BY 1, 2)
         |SELECT d.doc_id,
         |  $fcols
         |FROM d LEFT JOIN a ON d.doc_id = a.doc_id
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
    },

    // exact decimal mean (order-independent) per (cell, pos), cast to REAL —
    // bit-identical to the engine's sum(DECIMAL(25,6))/count → float means
    "q46_ivf_train" ->
      s"""WITH corpus AS (
         |  SELECT vec_id AS id, embedding AS v FROM embeddings
         |  WHERE vec_id < 256 AND embedding IS NOT NULL),
         |seed AS (
         |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS centroid_id,
         |    v AS cvec
         |  FROM corpus QUALIFY row_number() OVER (ORDER BY id) <= 4),
         |a1 AS (${sqlIvfAssign("corpus", "seed")}),
         |x1 AS (SELECT centroid_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM a1),
         |m1 AS (${sqlIvfMean("x1")}),
         |cent1 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM m1 GROUP BY 1),
         |a2 AS (${sqlIvfAssign("corpus", "cent1")}),
         |x2 AS (SELECT centroid_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM a2),
         |m2 AS (${sqlIvfMean("x2")})
         |SELECT centroid_id, CAST(pos AS BIGINT) AS pos, CAST(m AS DOUBLE) AS comp
         |FROM m2 ORDER BY centroid_id, pos""".stripMargin,

    "q47_ivf_probes" ->
      s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |assigned AS (
         |  SELECT vec_id AS id, embedding AS v, centroid_id,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ${sqlCosine("embedding", "cvec")}, centroid_id) AS crank
         |  FROM embeddings, cents QUALIFY crank = 1),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |probed AS (
         |  SELECT centroid_id FROM cents, q
         |  ORDER BY ${sqlCosine("cvec", "qv")}, centroid_id LIMIT 2)
         |SELECT id, centroid_id, ${sqlCosine("v", "qv")} AS score
         |FROM assigned JOIN probed USING (centroid_id), q
         |ORDER BY score, id LIMIT 10""".stripMargin,

    // fp16 round-to-nearest-even replicated in SQL: normal halves quantize
    // the mantissa at 2^(e-10) via round_even; |x| < 2^-14 hits the
    // subnormal grid 2^-24. Values are exact in DOUBLE both sides. The
    // component mix reduces mod 1000003 BEFORE the Knuth multiply —
    // identical values ((a*b) mod m = ((a mod m)*b) mod m) but no BIGINT
    // overflow at any vec_id. Corpus = range(count(embeddings)²/20),
    // mirroring graft.fixtures.Fp16Corpus.
    "q48_fp16_search" -> {
      val half = sqlFp16Round
      s"""WITH ids AS (
         |  SELECT unnest(range((SELECT count(*)*count(*)//20 FROM embeddings))) AS vec_id),
         |comps AS (
         |  SELECT vec_id, i,
         |    CAST(CAST(((vec_id*3072 + i) % 1000003) * 2654435761 % 1000003 - 500001 AS DOUBLE)
         |      / 500001.0 AS REAL) AS xf
         |  FROM ids, (SELECT unnest(range(3072)) AS i)),
         |h AS (SELECT vec_id, i, $half AS xh FROM comps),
         |vecs AS (SELECT vec_id, list(xh ORDER BY i) AS v FROM h GROUP BY vec_id),
         |q AS (SELECT list(CAST(xf AS DOUBLE) ORDER BY i) AS qv
         |  FROM comps WHERE vec_id = 0)
         |SELECT vec_id, ${sqlCosine("v", "qv")} AS score
         |FROM vecs, q
         |ORDER BY score, vec_id LIMIT 20""".stripMargin
    },

    // the store round-trips embeddings through fp16 (HALFVEC layout); the
    // oracle rounds each REAL component to its half-precision value and
    // scores against the full-precision probe, mirroring
    // HighlightStore.writeAtomic(fp16)+read -> SemanticSearch
    "q49_fp16_store_search" -> {
      val half = sqlFp16Round
      s"""WITH comps AS (
         |  SELECT vec_id, unnest(range(len(embedding))) AS i,
         |    unnest(embedding) AS xf
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |h AS (SELECT vec_id, i, $half AS xh FROM comps),
         |vecs AS (SELECT vec_id, list(xh ORDER BY i) AS v FROM h GROUP BY vec_id),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, ${sqlCosine("v", "qv")} AS score
         |FROM vecs, q
         |ORDER BY score, vec_id LIMIT 20""".stripMargin
    },

    // IVF end-to-end: Lloyd training on the deterministic id%5=0 sample
    // (2 iterations, 4 cells), full-corpus assignment to the trained
    // centroids, nprobe=2 probe, in-cell top-10, and exact-top-10
    // membership per hit (the recall@k evidence)
    "q50_ivf_e2e" ->
      s"""WITH corpus AS (
         |  SELECT vec_id AS id, embedding AS v FROM embeddings
         |  WHERE embedding IS NOT NULL),
         |sample AS (SELECT * FROM corpus WHERE id % 5 = 0),
         |seed AS (
         |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS centroid_id,
         |    v AS cvec
         |  FROM sample QUALIFY row_number() OVER (ORDER BY id) <= 4),
         |a1 AS (${sqlIvfAssign("sample", "seed")}),
         |x1 AS (SELECT centroid_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM a1),
         |m1 AS (${sqlIvfMean("x1")}),
         |cent1 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM m1 GROUP BY 1),
         |a2 AS (${sqlIvfAssign("sample", "cent1")}),
         |x2 AS (SELECT centroid_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM a2),
         |m2 AS (${sqlIvfMean("x2")}),
         |cent2 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM m2 GROUP BY 1),
         |af AS (${sqlIvfAssign("corpus", "cent2")}),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |probed AS (
         |  SELECT centroid_id FROM cent2, q
         |  ORDER BY ${sqlCosine("cvec", "qv")}, centroid_id LIMIT 2),
         |hits AS (
         |  SELECT af.id, af.centroid_id, ${sqlCosine("af.v", "qv")} AS score
         |  FROM af JOIN probed USING (centroid_id), q
         |  ORDER BY score, af.id LIMIT 10),
         |exact AS (SELECT id FROM corpus, q
         |  ORDER BY ${sqlCosine("v", "qv")}, id LIMIT 10)
         |SELECT h.id, h.centroid_id, h.score,
         |  (h.id IN (SELECT id FROM exact)) AS in_exact
         |FROM hits h ORDER BY score, id""".stripMargin,

    // q50's training chain verbatim through the full-corpus assignment,
    // then per-cell fill + DECIMAL-summed mean residual
    "q126_cell_stats" ->
      s"""WITH corpus AS (
         |  SELECT vec_id AS id, embedding AS v FROM embeddings
         |  WHERE embedding IS NOT NULL),
         |sample AS (SELECT * FROM corpus WHERE id % 5 = 0),
         |seed AS (
         |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS centroid_id,
         |    v AS cvec
         |  FROM sample QUALIFY row_number() OVER (ORDER BY id) <= 4),
         |a1 AS (${sqlIvfAssign("sample", "seed")}),
         |x1 AS (SELECT centroid_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM a1),
         |m1 AS (${sqlIvfMean("x1")}),
         |cent1 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM m1 GROUP BY 1),
         |a2 AS (${sqlIvfAssign("sample", "cent1")}),
         |x2 AS (SELECT centroid_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM a2),
         |m2 AS (${sqlIvfMean("x2")}),
         |cent2 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM m2 GROUP BY 1),
         |af AS (${sqlIvfAssign("corpus", "cent2")})
         |SELECT af.centroid_id, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(${sqlCosine("af.v", "c.cvec")} AS DECIMAL(25,9)))
         |    AS DOUBLE) / COUNT(*) AS mean_resid
         |FROM af JOIN cent2 c USING (centroid_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q50's training/assignment/probe arithmetic verbatim (fp32), with
    // the SCORED vector first rounded component-wise to half precision —
    // exactly what the fused kernel reads back from the 2-byte cells
    "q82_ivf_fp16" -> {
      val half = sqlFp16Round
      s"""WITH corpus AS (
         |  SELECT vec_id AS id, embedding AS v FROM embeddings
         |  WHERE embedding IS NOT NULL),
         |sample AS (SELECT * FROM corpus WHERE id % 5 = 0),
         |seed AS (
         |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS centroid_id,
         |    v AS cvec
         |  FROM sample QUALIFY row_number() OVER (ORDER BY id) <= 4),
         |a1 AS (${sqlIvfAssign("sample", "seed")}),
         |x1 AS (SELECT centroid_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM a1),
         |m1 AS (${sqlIvfMean("x1")}),
         |cent1 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM m1 GROUP BY 1),
         |a2 AS (${sqlIvfAssign("sample", "cent1")}),
         |x2 AS (SELECT centroid_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM a2),
         |m2 AS (${sqlIvfMean("x2")}),
         |cent2 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM m2 GROUP BY 1),
         |af AS (${sqlIvfAssign("corpus", "cent2")}),
         |ch AS (SELECT id, unnest(range(len(v))) AS i, unnest(v) AS xf
         |  FROM corpus),
         |hh AS (SELECT id, i, $half AS xh FROM ch),
         |vh AS (SELECT id, list(xh ORDER BY i) AS v16 FROM hh GROUP BY id),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |probed AS (
         |  SELECT centroid_id FROM cent2, q
         |  ORDER BY ${sqlCosine("cvec", "qv")}, centroid_id LIMIT 2),
         |hits AS (
         |  SELECT af.id, af.centroid_id, ${sqlCosine("vh.v16", "qv")} AS score
         |  FROM af JOIN probed USING (centroid_id) JOIN vh USING (id), q
         |  ORDER BY score, af.id LIMIT 10),
         |exact AS (SELECT id FROM corpus, q
         |  ORDER BY ${sqlCosine("v", "qv")}, id LIMIT 10)
         |SELECT h.id, h.centroid_id, h.score,
         |  (h.id IN (SELECT id FROM exact)) AS in_exact
         |FROM hits h ORDER BY score, id""".stripMargin
    },

    // the df-stoplist replicated: shingle document frequency over the
    // union fixture, shingles with df > 10 dropped before the pair join;
    // |A| and |B| stay the ORIGINAL shingle-set sizes (the engine's
    // lower-bound Jaccard semantics under the stoplist)
    "q51_jaccard_stoplist" ->
      s"""WITH real AS (
         |  SELECT doc_id AS id, text FROM documents WHERE doc_id < 200),
         |ids AS (SELECT unnest(range(40)) AS i),
         |syn AS (SELECT i + 1000 AS id,
         |  'spike spike spike pair' || CAST(i // 2 AS VARCHAR) ||
         |  ' pair' || CAST(i // 2 AS VARCHAR) ||
         |  ' tail' || CAST(i AS VARCHAR) AS text FROM ids),
         |src AS (SELECT * FROM real UNION ALL SELECT * FROM syn),
         |sh AS (SELECT id, ${sqlShingles("string_split(text, ' ')")} AS sh FROM src),
         |nz AS (SELECT * FROM sh WHERE len(sh) > 0),
         |toks AS (SELECT id, len(sh) AS n, unnest(sh) AS s FROM nz),
         |rare AS (SELECT s FROM toks GROUP BY s HAVING count(*) <= 10),
         |ft AS (SELECT t.id, t.n, t.s FROM toks t JOIN rare USING (s)),
         |common AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS c,
         |    any_value(a.n) AS na, any_value(b.n) AS nb
         |  FROM ft a JOIN ft b ON a.s = b.s AND a.id < b.id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  CAST(c AS DOUBLE) / CAST(na + nb - c AS DOUBLE) AS jaccard
         |FROM common
         |WHERE CAST(c AS DOUBLE) / CAST(na + nb - c AS DOUBLE) >= 0.02
         |ORDER BY id_a, id_b""".stripMargin,

    // q21's pair graph closed transitively (recursive CTE); comp = min
    // reachable doc_id — the oracle form of min-label propagation
    "q52_dedup_components" ->
      s"""WITH RECURSIVE sh AS (
         |  SELECT doc_id AS id, ${sqlShingles("string_split(text, ' ')")} AS sh
         |  FROM documents WHERE doc_id < 200),
         |nz AS (SELECT * FROM sh WHERE len(sh) > 0),
         |pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b
         |  FROM nz a JOIN nz b ON a.id < b.id
         |  WHERE CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.02),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, x) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.x)
         |SELECT id, min(x) AS comp FROM reach GROUP BY id ORDER BY id""".stripMargin,

    // bucketing is a storage-layout decision, invisible to semantics:
    // the oracle is the plain join
    "q53_bucketed_join" ->
      s"""SELECT o_custkey,
         |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
         |    AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
         |  CAST(COUNT(*) AS BIGINT) AS n_items
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // q52's recursive-CTE component labeling, carried through to the
    // pipeline's actual deliverable: one survivor per group + group size
    "q54_dedup_pipeline" ->
      s"""WITH RECURSIVE sh AS (
         |  SELECT doc_id AS id, ${sqlShingles("string_split(text, ' ')")} AS sh
         |  FROM documents WHERE doc_id < 200),
         |nz AS (SELECT * FROM sh WHERE len(sh) > 0),
         |pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b
         |  FROM nz a JOIN nz b ON a.id < b.id
         |  WHERE CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.02),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, x) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.x),
         |comp AS (SELECT id, min(x) AS comp FROM reach GROUP BY id),
         |labeled AS (
         |  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS comp
         |  FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
         |  LEFT JOIN comp c ON d.doc_id = c.id),
         |grp AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS group_size
         |  FROM labeled GROUP BY comp)
         |SELECT l.doc_id, g.group_size FROM labeled l JOIN grp g USING (comp)
         |WHERE l.doc_id = l.comp ORDER BY l.doc_id""".stripMargin,

    "q55_ngram_topk" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh AS (SELECT doc_id, unnest(${sqlShingles("w")}) AS shingle FROM w)
         |SELECT shingle, CAST(COUNT(*) AS BIGINT) AS doc_freq
         |FROM sh GROUP BY shingle
         |ORDER BY doc_freq DESC, shingle LIMIT 20""".stripMargin,

    "q56_tfidf" ->
      """WITH docs AS (
        |  SELECT doc_id AS id, text FROM documents WHERE doc_id < 50),
        |n AS (SELECT CAST(COUNT(DISTINCT id) AS BIGINT) AS n FROM docs),
        |toks AS (SELECT id, unnest(string_split(text, ' ')) AS term FROM docs),
        |tfc AS (SELECT id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY id, term),
        |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS doc_freq
        |  FROM tfc GROUP BY term),
        |scored AS (
        |  SELECT id, term, tf,
        |    CAST(tf AS DOUBLE) * CAST(n AS DOUBLE) / CAST(doc_freq AS DOUBLE)
        |      AS score
        |  FROM tfc JOIN dfreq USING (term) CROSS JOIN n),
        |rk AS (SELECT *, row_number() OVER (
        |    PARTITION BY id ORDER BY score DESC, term) AS rk
        |  FROM scored)
        |SELECT id AS doc_id, term, tf, score FROM rk WHERE rk <= 3
        |ORDER BY doc_id, term""".stripMargin,

    "q57_event_dedup" ->
      s"""WITH ev AS (
         |  SELECT event_id, ts, user_id, event_type, value FROM ($sqlEvents)),
         |all_ev AS (
         |  SELECT * FROM ev
         |  UNION ALL SELECT * FROM ev WHERE event_id % 100 = 0),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY event_id
         |    ORDER BY ts, event_type, user_id, value) AS rn FROM all_ev)
         |SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
         |  user_id, event_type, value
         |FROM rk WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "q58_sample_hash" ->
      s"""SELECT doc_id, n_chars FROM documents
         |WHERE ${sqlPolyHash("text")} % 10 < 2
         |ORDER BY doc_id""".stripMargin,

    "q59_decontaminate" ->
      s"""WITH train AS (
         |  SELECT doc_id AS id, text FROM documents WHERE doc_id < 200),
         |bench AS (
         |  SELECT doc_id + 5000 AS id, text || ' heldout marker' AS text
         |  FROM documents WHERE doc_id >= 50 AND doc_id < 60
         |  UNION ALL
         |  SELECT 9000 + i AS id,
         |    'benchmark probe question number ' || CAST(i AS VARCHAR) AS text
         |  FROM (SELECT unnest(range(5)) AS i)),
         |tsh AS (SELECT id, ${sqlShingles("string_split(text, ' ')")} AS sh
         |  FROM train),
         |bsh AS (SELECT id, ${sqlShingles("string_split(text, ' ')")} AS sh
         |  FROM bench),
         |tnz AS (SELECT * FROM tsh WHERE len(sh) > 0),
         |bnz AS (SELECT * FROM bsh WHERE len(sh) > 0)
         |SELECT t.id AS corpus_id, b.id AS bench_id,
         |  CAST(len(list_distinct(list_intersect(t.sh, b.sh))) AS DOUBLE) /
         |  CAST(len(list_distinct(list_concat(t.sh, b.sh))) AS DOUBLE) AS jaccard
         |FROM tnz t JOIN bnz b ON TRUE
         |WHERE CAST(len(list_distinct(list_intersect(t.sh, b.sh))) AS DOUBLE) /
         |      CAST(len(list_distinct(list_concat(t.sh, b.sh))) AS DOUBLE) >= 0.5
         |ORDER BY corpus_id, bench_id""".stripMargin,

    "q61_lsh_verified" -> {
      val bandSelects = (0 until 4).map { b =>
        val cols = (0 until 4).map(r => s"mh${b * 4 + r}").mkString(", ")
        s"SELECT id, $b AS band, concat_ws('-', $cols) AS bsig FROM sig"
      }.mkString("\n  UNION ALL ")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents WHERE doc_id < 200),
         |shl AS (SELECT doc_id AS id, ${sqlShingles("w")} AS sh FROM w),
         |nz AS (SELECT * FROM shl WHERE len(sh) > 0),
         |sh AS (SELECT id, unnest(sh) AS s FROM nz),
         |h AS (SELECT id AS doc_id, ${sqlPolyHash("s")} AS h FROM sh),
         |sig AS (SELECT doc_id AS id, ${sqlMinHashCols("h")} FROM h
         |  GROUP BY doc_id),
         |bands AS (
         |  $bandSelects),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bsig = b.bsig AND a.id < b.id)
         |SELECT c.id_a, c.id_b,
         |  CAST(len(list_distinct(list_intersect(x.sh, y.sh))) AS DOUBLE) /
         |  CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE)
         |    AS jaccard
         |FROM cand c JOIN nz x ON x.id = c.id_a JOIN nz y ON y.id = c.id_b
         |WHERE CAST(len(list_distinct(list_intersect(x.sh, y.sh))) AS DOUBLE) /
         |      CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE)
         |        >= 0.02
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q62_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem WHERE l_shipdate <= '1998-09-02'
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "q63_pagination" ->
      """SELECT o_orderkey, o_custkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice
        |FROM orders ORDER BY o_orderdate, o_orderkey
        |LIMIT 20 OFFSET 100""".stripMargin,

    // patterns interpolated from CorpusPrep so engine and oracle can
    // never drift (the interpolated values are inserted verbatim — no
    // escape processing — so the \d classes survive the s-string)
    "q60_pii_scrub" ->
      s"""WITH inj AS (
         |  SELECT doc_id,
         |    'contact user' || CAST(doc_id AS VARCHAR) ||
         |    '@mail.example.com call 555-123-4567 ssn 123-45-6789 ' || text
         |      AS text
         |  FROM documents WHERE doc_id < 100)
         |SELECT doc_id, substr(regexp_replace(regexp_replace(regexp_replace(
         |  text,
         |  '${graft.text.CorpusPrep.EmailPattern}', '<EMAIL>', 'g'),
         |  '${graft.text.CorpusPrep.IdPattern}', '<ID>', 'g'),
         |  '${graft.text.CorpusPrep.PhonePattern}', '<PHONE>', 'g'),
         |  1, 160) AS scrubbed
         |FROM inj ORDER BY doc_id""".stripMargin,

    // q61's LSH candidate + exact-verify chain feeding q54's recursive-CTE
    // component labeling and survivor output
    "q64_dedup_pipeline_lsh" -> {
      val bandSelects = (0 until 4).map { b =>
        val cols = (0 until 4).map(r => s"mh${b * 4 + r}").mkString(", ")
        s"SELECT id, $b AS band, concat_ws('-', $cols) AS bsig FROM sig"
      }.mkString("\n  UNION ALL ")
      s"""WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents WHERE doc_id < 200),
         |shl AS (SELECT doc_id AS id, ${sqlShingles("w")} AS sh FROM w),
         |nz AS (SELECT * FROM shl WHERE len(sh) > 0),
         |sh AS (SELECT id, unnest(sh) AS s FROM nz),
         |h AS (SELECT id AS doc_id, ${sqlPolyHash("s")} AS h FROM sh),
         |sig AS (SELECT doc_id AS id, ${sqlMinHashCols("h")} FROM h
         |  GROUP BY doc_id),
         |bands AS (
         |  $bandSelects),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bsig = b.bsig AND a.id < b.id),
         |pairs AS (SELECT c.id_a, c.id_b
         |  FROM cand c JOIN nz x ON x.id = c.id_a JOIN nz y ON y.id = c.id_b
         |  WHERE CAST(len(list_distinct(list_intersect(x.sh, y.sh))) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(x.sh, y.sh))) AS DOUBLE)
         |          >= 0.02),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, x) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.x),
         |comp AS (SELECT id, min(x) AS comp FROM reach GROUP BY id),
         |labeled AS (
         |  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS comp
         |  FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
         |  LEFT JOIN comp c ON d.doc_id = c.id),
         |grp AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS group_size
         |  FROM labeled GROUP BY comp)
         |SELECT l.doc_id, g.group_size FROM labeled l JOIN grp g USING (comp)
         |WHERE l.doc_id = l.comp ORDER BY l.doc_id""".stripMargin
    },

    // the union-df stoplist replicated: shingle document frequency counted
    // across BOTH corpora, shingles with df > 50 dropped before the pair
    // join; na/nb stay the ORIGINAL shingle-set sizes (lower-bound Jaccard)
    "q65_decontaminate_capped" ->
      s"""WITH train AS (
         |  SELECT doc_id AS id,
         |    'shared corpus header boilerplate line ' || text AS text
         |  FROM documents WHERE doc_id < 200),
         |bench AS (
         |  SELECT doc_id + 5000 AS id,
         |    'shared corpus header boilerplate line ' || text ||
         |      ' heldout marker' AS text
         |  FROM documents WHERE doc_id >= 50 AND doc_id < 60
         |  UNION ALL
         |  SELECT 9000 + i AS id,
         |    'shared corpus header boilerplate line ' ||
         |    'benchmark probe question number ' || CAST(i AS VARCHAR) AS text
         |  FROM (SELECT unnest(range(5)) AS i)),
         |tsh AS (SELECT id, ${sqlShingles("string_split(text, ' ')")} AS sh
         |  FROM train),
         |bsh AS (SELECT id, ${sqlShingles("string_split(text, ' ')")} AS sh
         |  FROM bench),
         |ttok AS (SELECT 0 AS side, id, len(sh) AS n, unnest(sh) AS s
         |  FROM tsh WHERE len(sh) > 0),
         |btok AS (SELECT 1 AS side, id, len(sh) AS n, unnest(sh) AS s
         |  FROM bsh WHERE len(sh) > 0),
         |tok AS (SELECT * FROM ttok UNION ALL SELECT * FROM btok),
         |rare AS (SELECT s FROM tok GROUP BY s HAVING count(*) <= 50),
         |ft AS (SELECT t.side, t.id, t.n, t.s FROM tok t JOIN rare USING (s)),
         |common AS (
         |  SELECT a.id AS corpus_id, b.id AS bench_id, count(*) AS c,
         |    any_value(a.n) AS na, any_value(b.n) AS nb
         |  FROM ft a JOIN ft b ON a.s = b.s AND a.side = 0 AND b.side = 1
         |  GROUP BY 1, 2)
         |SELECT corpus_id, bench_id,
         |  CAST(c AS DOUBLE) / CAST(na + nb - c AS DOUBLE) AS jaccard
         |FROM common
         |WHERE CAST(c AS DOUBLE) / CAST(na + nb - c AS DOUBLE) >= 0.5
         |ORDER BY corpus_id, bench_id""".stripMargin,

    // duplicate-k-gram fractions: distinct over total, totals derived from
    // the word count; 2-gram distinct via explicit transform (sqlShingles
    // is the k=3 form)
    "q66_repetition_quality" ->
      s"""WITH real AS (SELECT doc_id, text FROM documents),
         |ids AS (SELECT unnest(range(3)) AS i),
         |spam AS (SELECT 7000 + i AS doc_id,
         |  '${"spam spam wow " * 8}' || CAST(i AS VARCHAR) AS text FROM ids),
         |src AS (SELECT * FROM real UNION ALL SELECT * FROM spam),
         |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM src),
         |m AS (SELECT doc_id,
         |  CAST(len(w) AS DOUBLE) AS n1,
         |  CAST(len(list_distinct(w)) AS DOUBLE) AS d1,
         |  CAST(len(w) - 1 AS DOUBLE) AS n2,
         |  CAST(CASE WHEN len(w) >= 2 THEN len(list_distinct(list_transform(
         |    range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) ELSE 0 END
         |    AS DOUBLE) AS d2,
         |  CAST(len(w) - 2 AS DOUBLE) AS n3,
         |  CAST(len(${sqlShingles("w")}) AS DOUBLE) AS d3
         |  FROM w),
         |f AS (SELECT doc_id,
         |  CASE WHEN n1 > 0 THEN 1.0 - d1 / n1 ELSE 0.0 END AS dup_word_frac,
         |  CASE WHEN n2 > 0 THEN 1.0 - d2 / n2 ELSE 0.0 END AS dup_2gram_frac,
         |  CASE WHEN n3 > 0 THEN 1.0 - d3 / n3 ELSE 0.0 END AS dup_3gram_frac
         |  FROM m)
         |SELECT doc_id, dup_word_frac, dup_2gram_frac, dup_3gram_frac,
         |  (dup_2gram_frac <= 0.2 AND dup_3gram_frac <= 0.18) AS keep
         |FROM f ORDER BY doc_id""".stripMargin,

    // bigram corpus counts via a window over every occurrence (the
    // engine's shape), integer sums, one terminal division
    "q67_bigram_familiarity" ->
      s"""WITH real AS (SELECT doc_id, text FROM documents),
         |ids AS (SELECT unnest(range(3)) AS i),
         |gib AS (SELECT 8000 + i AS doc_id,
         |  'zxqv jkwp mbrt ylgf dhzn' || CAST(i AS VARCHAR) AS text FROM ids),
         |src AS (SELECT * FROM real UNION ALL SELECT * FROM gib),
         |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM src),
         |bi AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2 THEN
         |  list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
         |  ELSE CAST([] AS VARCHAR[]) END) AS bg FROM w),
         |c AS (SELECT doc_id, count(*) OVER (PARTITION BY bg) AS bg_count
         |  FROM bi)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(bg_count) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS familiarity
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q68_window_offsets" ->
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice,
        |  strftime(lag(o_orderdate, 1) OVER w, '%Y-%m-%d') AS prev_date,
        |  strftime(lead(o_orderdate, 1) OVER w, '%Y-%m-%d') AS next_date,
        |  CAST(ntile(4) OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice, o_orderkey) AS INT) AS spend_quartile
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q69_corpus_split" ->
      s"""WITH b AS (SELECT source, n_chars,
         |  ${sqlPolyHash("text")} % 10 AS bucket FROM documents),
         |s AS (SELECT source,
         |  CASE WHEN bucket <= 7 THEN 'train'
         |       WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
         |  n_chars FROM b)
         |SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM s GROUP BY source, split ORDER BY source, split""".stripMargin,

    "q70_event_correlate" ->
      s"""WITH ev AS (
         |  SELECT event_id, ts, user_id, event_type FROM ($sqlEvents)),
         |v AS (SELECT * FROM ev WHERE event_type = 'view'),
         |c AS (SELECT * FROM ev WHERE event_type = 'click')
         |SELECT v.user_id AS user_id, v.event_id AS left_id,
         |  c.event_id AS right_id,
         |  epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
         |FROM v JOIN c ON v.user_id = c.user_id
         |  AND c.ts >= v.ts AND c.ts < v.ts + INTERVAL 10 MINUTE
         |ORDER BY v.user_id, left_id, right_id""".stripMargin,

    // q39's sign-LSH pair graph closed transitively (recursive CTE), then
    // one survivor per component with the group size — q54's tail over the
    // embedding modality
    "q71_embedding_dedup_groups" ->
      s"""WITH RECURSIVE v AS (SELECT vec_id AS id, embedding AS v
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |b AS (SELECT id, v, list_sum(list_transform(range(8),
         |  j -> CASE WHEN v[j+1] > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END))
         |    AS bucket
         |  FROM v),
         |pairs AS (
         |  SELECT a.id AS id_a, b2.id AS id_b
         |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.id < b2.id
         |  WHERE ${sqlCosine("a.v", "b2.v")} < 0.8),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, x) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.x),
         |comp AS (SELECT id, min(x) AS comp FROM reach GROUP BY id),
         |labeled AS (
         |  SELECT e.vec_id, COALESCE(c.comp, e.vec_id) AS comp
         |  FROM (SELECT vec_id FROM embeddings) e
         |  LEFT JOIN comp c ON e.vec_id = c.id),
         |grp AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS group_size
         |  FROM labeled GROUP BY comp)
         |SELECT l.vec_id, g.group_size FROM labeled l JOIN grp g USING (comp)
         |WHERE l.vec_id = l.comp ORDER BY l.vec_id""".stripMargin,

    // chunk i = words [i*40+1, i*40+50] (1-based inclusive list_slice ↔
    // Spark slice(start, length)); ceil((n-overlap)/step) chunks, floor 1
    "q72_chunk_windows" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id < 100),
        |n AS (SELECT doc_id, w, greatest(1, CAST(ceil(
        |    CAST(len(w) - 10 AS DOUBLE) / 40.0) AS INT)) AS nc FROM d),
        |c AS (SELECT doc_id, w, unnest(range(nc)) AS idx FROM n),
        |ch AS (SELECT doc_id, CAST(idx AS INT) AS chunk_idx,
        |  list_slice(w, idx * 40 + 1, idx * 40 + 50) AS chunk FROM c)
        |SELECT doc_id, chunk_idx,
        |  md5(array_to_string(chunk, ' ')) AS chunk_digest,
        |  CAST(len(chunk) AS BIGINT) AS n_words
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    "q73_funnel" ->
      s"""WITH ev AS (SELECT user_id, event_type, ts FROM ($sqlEvents)),
         |v AS (SELECT user_id, min(ts) AS v_ts FROM ev
         |  WHERE event_type = 'view' GROUP BY user_id),
         |c AS (SELECT e.user_id, min(e.ts) AS c_ts
         |  FROM ev e JOIN v USING (user_id)
         |  WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY e.user_id),
         |p AS (SELECT e.user_id, min(e.ts) AS p_ts
         |  FROM ev e JOIN c USING (user_id)
         |  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY e.user_id)
         |SELECT stage, users FROM (
         |  SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS users FROM v
         |  UNION ALL
         |  SELECT '2_click_after_view', CAST(count(*) AS BIGINT) FROM c
         |  UNION ALL
         |  SELECT '3_purchase_after_click', CAST(count(*) AS BIGINT) FROM p)
         |ORDER BY stage""".stripMargin,

    // the 64-bit simhash: block j = bits 0..15 of poly_hash('shj:' || t);
    // bit 63 can't be built with << (DuckDB errors on shift overflow), so
    // it is added as the min-long literal; SUM goes through HUGEINT and
    // casts back — the mathematical value always fits int64. The oracle
    // brute-forces all pairs (banding is pigeonhole-complete).
    "q78_simhash64_pairs" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
         |  FROM documents WHERE doc_id < 300),
         |th AS (SELECT doc_id, list_value(
         |    ${sqlPolyHash("'sh0:' || t")}, ${sqlPolyHash("'sh1:' || t")},
         |    ${sqlPolyHash("'sh2:' || t")}, ${sqlPolyHash("'sh3:' || t")})
         |  AS hs FROM tok),
         |bits AS (
         |  SELECT doc_id, j, b, SUM(((hs[j + 1] >> b) & 1) * 2 - 1) AS s
         |  FROM th CROSS JOIN (SELECT unnest(range(4)) AS j) js
         |       CROSS JOIN (SELECT unnest(range(16)) AS b) bs
         |  GROUP BY doc_id, j, b),
         |sh AS (SELECT doc_id AS id,
         |  CAST(SUM(CASE WHEN s <= 0 THEN CAST(0 AS BIGINT)
         |    WHEN j = 3 AND b = 15 THEN CAST(-9223372036854775808 AS BIGINT)
         |    ELSE CAST(1 AS BIGINT) << (j * 16 + b) END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id)
         |SELECT a.id AS id_a, b.id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.id < b.id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // seeded-Rademacher banding replicated END-TO-END: plane signs from
    // the same integer mix, sequential-double dots (list_reduce, matching
    // the expression's accumulation order), band signatures, candidate
    // union over bands, exact-cosine verify — then joined onto the
    // brute-force exact pair set to gate the per-pair recall flag
    "q79_banded_lsh_recall" -> {
      val bit = sqlHyperSignBit("p.plane", "j", 12345L)
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 300 AND embedding IS NOT NULL),
         |dots AS (
         |  SELECT id, p.plane,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(len(v)), j ->
         |        CASE WHEN $bit = 0 THEN v[j+1] ELSE -v[j+1] END)),
         |      (acc, x) -> acc + x) AS dot
         |  FROM v CROSS JOIN (SELECT unnest(range(48)) AS plane) p),
         |sigs AS (
         |  SELECT id, plane // 3 AS band,
         |    CAST(SUM(CASE WHEN dot > 0
         |      THEN (CAST(1 AS BIGINT) << CAST(plane % 3 AS INT))
         |      ELSE 0 END) AS BIGINT) AS sig
         |  FROM dots GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM sigs a JOIN sigs b
         |    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id),
         |lsh AS (SELECT c.id_a, c.id_b
         |  FROM cand c JOIN v a ON a.id = c.id_a JOIN v b ON b.id = c.id_b
         |  WHERE ${sqlCosine("a.v", "b.v")} < 0.7),
         |exact AS (SELECT a.id AS id_a, b.id AS id_b,
         |    ${sqlCosine("a.v", "b.v")} AS distance
         |  FROM v a JOIN v b ON a.id < b.id
         |  WHERE ${sqlCosine("a.v", "b.v")} < 0.7)
         |SELECT e.id_a, e.id_b, e.distance, (l.id_a IS NOT NULL) AS in_lsh
         |FROM exact e LEFT JOIN lsh l
         |  ON e.id_a = l.id_a AND e.id_b = l.id_b
         |ORDER BY 1, 2""".stripMargin
    },

    // q24's simhash formula, closed into pairs: the oracle brute-forces
    // all pairs (banding is pigeonhole-complete, so semantics match)
    "q77_simhash_pairs" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
         |  FROM documents WHERE doc_id < 300),
         |th AS (SELECT doc_id, ${sqlPolyHash("t")} AS h FROM tok),
         |bits AS (
         |  SELECT doc_id, b, SUM(((h >> b) & 1) * 2 - 1) AS s
         |  FROM th CROSS JOIN (SELECT unnest(range(16)) AS b) bs
         |  GROUP BY doc_id, b),
         |sh AS (SELECT doc_id AS id,
         |  CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
         |    AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id)
         |SELECT a.id AS id_a, b.id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.id < b.id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
         |ORDER BY id_a, id_b""".stripMargin,

    // cross-contamination (q59's distinct-shingle jaccard) drops drifted
    // copies; the q54 recursive-CTE closes internal pairs over the rest
    "q76_incremental_dedup" ->
      s"""WITH RECURSIVE corpus AS (
         |  SELECT doc_id AS id, text FROM documents WHERE doc_id < 150),
         |drift AS (SELECT doc_id + 8000 AS id, text || ' minor drift' AS text
         |  FROM documents WHERE doc_id >= 140 AND doc_id < 145),
         |newd AS (SELECT doc_id AS id, text FROM documents
         |  WHERE doc_id >= 150 AND doc_id < 200),
         |ids AS (SELECT unnest(range(6)) AS i),
         |clique AS (SELECT 9000 + i AS id,
         |  'brand new boilerplate block variant ' || CAST(i // 3 AS VARCHAR)
         |    || ' tail' || CAST(i AS VARCHAR) AS text FROM ids),
         |batch AS (SELECT * FROM drift UNION ALL SELECT * FROM newd
         |  UNION ALL SELECT * FROM clique),
         |bsh AS (SELECT id, ${sqlShingles("string_split(text, ' ')")} AS sh
         |  FROM batch),
         |csh AS (SELECT id, ${sqlShingles("string_split(text, ' ')")} AS sh
         |  FROM corpus),
         |bnz AS (SELECT * FROM bsh WHERE len(sh) > 0),
         |cnz AS (SELECT * FROM csh WHERE len(sh) > 0),
         |cont AS (SELECT DISTINCT b.id FROM bnz b JOIN cnz c ON
         |  CAST(len(list_distinct(list_intersect(b.sh, c.sh))) AS DOUBLE) /
         |  CAST(len(list_distinct(list_concat(b.sh, c.sh))) AS DOUBLE) >= 0.5),
         |fresh AS (SELECT * FROM bnz WHERE id NOT IN (SELECT id FROM cont)),
         |pairs AS (
         |  SELECT a.id AS id_a, b.id AS id_b
         |  FROM fresh a JOIN fresh b ON a.id < b.id
         |  WHERE CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
         |          >= 0.5),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, x) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.x),
         |comp AS (SELECT id, min(x) AS comp FROM reach GROUP BY id),
         |freshids AS (SELECT b.id FROM batch b
         |  WHERE b.id NOT IN (SELECT id FROM cont)),
         |labeled AS (
         |  SELECT f.id AS doc_id, COALESCE(c.comp, f.id) AS comp
         |  FROM freshids f LEFT JOIN comp c ON f.id = c.id),
         |grp AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS group_size
         |  FROM labeled GROUP BY comp)
         |SELECT l.doc_id, g.group_size FROM labeled l JOIN grp g USING (comp)
         |WHERE l.doc_id = l.comp ORDER BY l.doc_id""".stripMargin,

    "q75_length_trim" ->
      """WITH cuts AS (SELECT quantile_cont(n_chars, 0.05) AS lo,
        |  quantile_cont(n_chars, 0.95) AS hi FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  CAST(SUM(n_chars) AS BIGINT) AS kept_chars
        |FROM documents, cuts
        |WHERE n_chars >= lo AND n_chars <= hi
        |GROUP BY source ORDER BY source""".stripMargin,

    // q72's chunk arithmetic (30-word stride, window-strided alignment),
    // digests grouped corpus-wide: spans in >= 2 distinct docs
    "q81_window_dedup" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
         |corpus AS (SELECT doc_id, text FROM base
         |  UNION ALL
         |  SELECT doc_id + 8000, '$Boiler30' || ' ' || text
         |  FROM base WHERE doc_id < 50),
         |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
         |n AS (SELECT doc_id, w, greatest(1, CAST(ceil(
         |    CAST(len(w) AS DOUBLE) / 30.0) AS INT)) AS nc FROM d),
         |c AS (SELECT doc_id, w, unnest(range(nc)) AS idx FROM n),
         |ch AS (SELECT doc_id, CAST(idx AS INT) AS chunk_idx,
         |  list_slice(w, idx * 30 + 1, idx * 30 + 30) AS chunk FROM c),
         |f AS (SELECT doc_id, chunk_idx,
         |    md5(array_to_string(chunk, ' ')) AS span_digest
         |  FROM ch WHERE len(chunk) = 30),
         |g AS (SELECT span_digest,
         |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         |  FROM f GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2)
         |SELECT f.doc_id, f.chunk_idx, f.span_digest, g.n_docs
         |FROM f JOIN g USING (span_digest)
         |ORDER BY 1, 2""".stripMargin,

    // q74's polyHash bucket rule extended to copies: rate//buckets full
    // epochs + one extra copy when the content hash falls in the
    // fractional band; epoch = copy index (remainder rides the last)
    "q80_mixture_resample" ->
      s"""WITH k AS (
         |  SELECT source, n_chars,
         |    CASE source WHEN 'src0' THEN 25 WHEN 'src1' THEN 10
         |      WHEN 'src2' THEN 4 ELSE 7 END AS rate,
         |    ${sqlPolyHash("text")} % 10 AS h
         |  FROM documents),
         |c AS (SELECT source, n_chars,
         |  (rate // 10) + CASE WHEN h < (rate % 10) THEN 1 ELSE 0 END AS copies
         |  FROM k),
         |e AS (SELECT source, n_chars, unnest(range(copies)) AS epoch
         |  FROM c WHERE copies > 0)
         |SELECT source, CAST(epoch AS INT) AS epoch,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q74_mixture_sample" ->
      s"""WITH kept AS (
         |  SELECT source, n_chars FROM documents
         |  WHERE ${sqlPolyHash("text")} % 10 <
         |    CASE source WHEN 'src0' THEN 10 WHEN 'src1' THEN 5
         |      WHEN 'src2' THEN 2 ELSE 3 END)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |  CAST(SUM(n_chars) AS BIGINT) AS kept_chars
         |FROM kept GROUP BY source ORDER BY source""".stripMargin,

    "q83_bm25_topk" ->
      s"""WITH ${sqlBm25Ctes(Seq("join", "filter", "merge"))}
         |SELECT id, score FROM bm25 ORDER BY score DESC, id LIMIT 15""".stripMargin,

    // the index changes the read path, not the math: same oracle as q83
    "q89_lexical_index" ->
      s"""WITH ${sqlBm25Ctes(Seq("join", "filter", "merge"))}
         |SELECT id, score FROM bm25 ORDER BY score DESC, id LIMIT 15""".stripMargin,

    // build + segment-append must serve the SAME math as one wholesale
    // build: the oracle is q83's again
    "q106_lexical_append" ->
      s"""WITH ${sqlBm25Ctes(Seq("join", "filter", "merge"))}
         |SELECT id, score FROM bm25 ORDER BY score DESC, id LIMIT 15""".stripMargin,

    // the tombstoned index must serve BM25 as if the deleted docs were
    // never indexed: same CTE chain, corpus minus doc_id % 7 = 3
    "q110_lexical_delete" ->
      s"""WITH ${sqlBm25Ctes(Seq("join", "filter", "merge"),
             docsWhere = " WHERE doc_id % 7 <> 3")}
         |SELECT id, score FROM bm25 ORDER BY score DESC, id LIMIT 15""".stripMargin,

    // decomposed input (chr(769) = U+0301 combining acute) must compose;
    // both fingerprint args are COMPOSED strings, so the per-char
    // ascii() chain sees the same codepoints Spark's charAt does
    "q113_nfc_normalize" ->
      s"""WITH nd AS (
         |  SELECT doc_id,
         |    nfc_normalize(text || ' cafe' || chr(769)) AS norm,
         |    text || ' caf' || chr(233) AS pre
         |  FROM documents)
         |SELECT doc_id, norm, CAST(length(norm) AS BIGINT) AS nlen,
         |  (${sqlPolyHash("norm")} = ${sqlPolyHash("pre")}) AS composed_fp_eq
         |FROM nd ORDER BY doc_id""".stripMargin,

    // the 2×32-bit hyperplane sketch replicated end-to-end: plane signs
    // from the shared integer mix (seed 777), sequential-double dots,
    // 32-bit band signatures, per-band XOR+popcount summed into the
    // Hamming rank, 50-candidate cut, exact-cosine re-rank — every cut
    // deterministically tie-broken on id so LIMIT agrees with the heap
    "q114_hamming_search" -> {
      val bit = sqlHyperSignBit("p.plane", "j", 777L)
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |q AS (SELECT v AS qv FROM v WHERE id = 0),
         |dots AS (
         |  SELECT id, p.plane,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(len(v)), j ->
         |        CASE WHEN $bit = 0 THEN v[j+1] ELSE -v[j+1] END)),
         |      (acc, x) -> acc + x) AS dot
         |  FROM v CROSS JOIN (SELECT unnest(range(64)) AS plane) p),
         |sigs AS (
         |  SELECT id, plane // 32 AS band,
         |    CAST(SUM(CASE WHEN dot > 0
         |      THEN (CAST(1 AS BIGINT) << CAST(plane % 32 AS INT))
         |      ELSE 0 END) AS BIGINT) AS sig
         |  FROM dots GROUP BY 1, 2),
         |qsig AS (SELECT band, sig AS qs FROM sigs WHERE id = 0),
         |ham AS (
         |  SELECT s.id, CAST(SUM(bit_count(xor(s.sig, q.qs))) AS BIGINT)
         |    AS hamming
         |  FROM sigs s JOIN qsig q USING (band) GROUP BY s.id),
         |cand AS (SELECT id, hamming FROM ham ORDER BY hamming, id LIMIT 50)
         |SELECT c.id AS vec_id, c.hamming, ${sqlCosine("v.v", "q.qv")} AS score
         |FROM cand c JOIN v ON v.id = c.id CROSS JOIN q
         |ORDER BY score, vec_id LIMIT 10""".stripMargin
    },

    // int8 quantization replicated code-for-code: scale = 127/max|x|,
    // code = clamp(floor(x*scale + 0.5), ±127), decoded value = code/scale
    // — all double arithmetic, so approx cosine is IEEE-identical
    "q115_int8_search" ->
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |q AS (SELECT v AS qv FROM v WHERE id = 0),
         |sc AS (SELECT id, v,
         |  list_max(list_transform(v, x -> abs(x))) AS maxabs FROM v),
         |s2 AS (SELECT id, v,
         |  CASE WHEN maxabs = 0 THEN 1.0 ELSE 127.0 / maxabs END AS scale
         |  FROM sc),
         |dec AS (SELECT id, list_transform(v, x ->
         |    GREATEST(CAST(-127 AS DOUBLE),
         |      LEAST(CAST(127 AS DOUBLE), floor(x * scale + 0.5))) / scale)
         |  AS dv FROM s2),
         |approx AS (SELECT d.id, ${sqlCosine("d.dv", "q.qv")} AS approx
         |  FROM dec d CROSS JOIN q),
         |cand AS (SELECT id, approx FROM approx ORDER BY approx, id LIMIT 50)
         |SELECT c.id AS vec_id, c.approx, ${sqlCosine("v.v", "q.qv")} AS score
         |FROM cand c JOIN v ON v.id = c.id CROSS JOIN q
         |ORDER BY score, vec_id LIMIT 10""".stripMargin,

    // the greedy MMR loop UNROLLED into one CTE per rank (k=10): step i
    // picks argmax 0.7·rel − (1−0.7)·max-sim-to-selected over the pool
    // minus s1..s_{i−1}, ties toward the smaller id — the same double
    // arithmetic, selection order, and tie-break as Mmr.rerank
    "q116_mmr_rerank" -> {
      val k = 10
      val steps = (1 to k).map { i =>
        if (i == 1)
          "s1 AS MATERIALIZED (SELECT id, rel,\n" +
            "  CAST(0.7 AS DOUBLE)*rel - (1 - CAST(0.7 AS DOUBLE))*0 AS mmr\n" +
            "  FROM cand ORDER BY mmr DESC, id LIMIT 1)"
        else {
          val prev = (1 until i).map(j => s"SELECT id FROM s$j")
            .mkString(" UNION ALL ")
          s"""s$i AS MATERIALIZED (SELECT c.id, c.rel,
             |  CAST(0.7 AS DOUBLE)*c.rel - (1 - CAST(0.7 AS DOUBLE))*(
             |    SELECT MAX(p.sim) FROM pairs p
             |    WHERE p.id_a = c.id AND p.id_b IN ($prev)) AS mmr
             |  FROM cand c WHERE c.id NOT IN ($prev)
             |  ORDER BY mmr DESC, c.id LIMIT 1)""".stripMargin
        }
      }
      val sel = (1 to k)
        .map(i => s"SELECT id, CAST($i AS BIGINT) AS rank, rel, mmr FROM s$i")
        .mkString(" UNION ALL ")
      s"""WITH v AS MATERIALIZED (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |q AS MATERIALIZED (SELECT v AS qv FROM v WHERE id = 0),
         |cand AS MATERIALIZED (SELECT v.id, v.v, (1 - ${sqlCosine("v.v", "q.qv")}) AS rel
         |  FROM v CROSS JOIN q
         |  ORDER BY ${sqlCosine("v.v", "q.qv")}, v.id LIMIT 20),
         |pairs AS MATERIALIZED (SELECT a.id AS id_a, b.id AS id_b,
         |    (1 - ${sqlCosine("a.v", "b.v")}) AS sim
         |  FROM cand a JOIN cand b ON a.id <> b.id),
         |${steps.mkString(",\n")}
         |SELECT id AS vec_id, rank, rel, mmr FROM ($sel)
         |ORDER BY rank""".stripMargin
    },

    // every char 40-gram hashed with the shared poly_hash chain (direct
    // per-gram here; the engine's rolling form is value-identical), set
    // semantics per doc, cross-doc frequency, per-doc shared profile
    "q117_substring_dup" ->
      s"""WITH g AS (
         |  SELECT DISTINCT doc_id,
         |    ${sqlPolyHash("substr(text, CAST(i + 1 AS INT), 40)")} AS gh
         |  FROM documents,
         |    LATERAL (SELECT unnest(range(length(text) - 39)) AS i) p),
         |nd AS (SELECT gh, COUNT(*) AS nd FROM g GROUP BY gh)
         |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |  CAST(SUM(CASE WHEN nd.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS shared_grams,
         |  (SUM(CASE WHEN nd.nd > 1 THEN 1 ELSE 0 END) > 0) AS is_dup
         |FROM g JOIN nd USING (gh)
         |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    // the beam walk UNROLLED: q100's 5-NN graph CTE, then per hop
    // (neighbors of beam) ∪ beam → distinct ids → best 20 by (dist, id);
    // beams materialized so DuckDB doesn't re-inline the whole prefix
    "q118_graph_beam_search" -> {
      val hops = 4
      val steps = (1 to hops).map { i =>
        s"""n$i AS (SELECT DISTINCT e.id_b AS id
           |  FROM edges e JOIN b${i - 1} b ON e.id_a = b.id),
           |c$i AS (SELECT s.id, s.dist FROM scored s JOIN n$i USING (id)),
           |b$i AS MATERIALIZED (SELECT DISTINCT id, dist
           |  FROM (SELECT id, dist FROM b${i - 1}
           |        UNION ALL SELECT id, dist FROM c$i)
           |  ORDER BY dist, id LIMIT 20)""".stripMargin
      }
      s"""WITH v AS MATERIALIZED (SELECT vec_id AS id,
         |    CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 300 AND embedding IS NOT NULL),
         |q AS MATERIALIZED (SELECT v AS qv FROM v WHERE id = 299),
         |scored AS MATERIALIZED (
         |  SELECT v.id, ${sqlCosine("v.v", "q.qv")} AS dist
         |  FROM v CROSS JOIN q),
         |p AS (SELECT a.id AS id_a, b.id AS id_b,
         |  ${sqlCosine("a.v", "b.v")} AS dist
         |  FROM v a JOIN v b ON a.id <> b.id),
         |edges AS MATERIALIZED (SELECT id_a, id_b FROM (
         |  SELECT id_a, id_b, row_number() OVER (PARTITION BY id_a
         |    ORDER BY dist, id_b) AS rank FROM p) WHERE rank <= 5),
         |b0 AS MATERIALIZED (SELECT id, dist FROM scored WHERE id = 0),
         |${steps.mkString(",\n")}
         |SELECT id AS vec_id, dist AS score FROM b$hops
         |ORDER BY score, vec_id LIMIT 10""".stripMargin
    },

    // q118's oracle with candidate scoring at the INDEX's precision: the
    // adjacency rows carry fp16 dst vectors, so every beam distance —
    // including the entry's self-row — computes over the fp16-rounded
    // vector; the GRAPH itself (edges) and the query stay fp32
    "q125_adj_index_search" -> {
      val hops = 4
      val half = sqlFp16Round
      val steps = (1 to hops).map { i =>
        s"""n$i AS (SELECT DISTINCT e.id_b AS id
           |  FROM edges e JOIN b${i - 1} b ON e.id_a = b.id),
           |c$i AS (SELECT s.id, s.dist FROM scored s JOIN n$i USING (id)),
           |b$i AS MATERIALIZED (SELECT DISTINCT id, dist
           |  FROM (SELECT id, dist FROM b${i - 1}
           |        UNION ALL SELECT id, dist FROM c$i)
           |  ORDER BY dist, id LIMIT 20)""".stripMargin
      }
      s"""WITH v AS MATERIALIZED (SELECT vec_id AS id,
         |    CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 300 AND embedding IS NOT NULL),
         |hc AS (SELECT vec_id AS id, unnest(range(len(embedding))) AS pos,
         |    unnest(embedding) AS xf
         |  FROM embeddings WHERE vec_id < 300 AND embedding IS NOT NULL),
         |hh AS (SELECT id, pos, $half AS xh FROM hc),
         |vh AS MATERIALIZED (SELECT id, list(xh ORDER BY pos) AS v
         |  FROM hh GROUP BY id),
         |q AS MATERIALIZED (SELECT v AS qv FROM v WHERE id = 299),
         |scored AS MATERIALIZED (
         |  SELECT vh.id, ${sqlCosine("vh.v", "q.qv")} AS dist
         |  FROM vh CROSS JOIN q),
         |p AS (SELECT a.id AS id_a, b.id AS id_b,
         |  ${sqlCosine("a.v", "b.v")} AS dist
         |  FROM v a JOIN v b ON a.id <> b.id),
         |edges AS MATERIALIZED (SELECT id_a, id_b FROM (
         |  SELECT id_a, id_b, row_number() OVER (PARTITION BY id_a
         |    ORDER BY dist, id_b) AS rank FROM p) WHERE rank <= 5),
         |b0 AS MATERIALIZED (SELECT id, dist FROM scored WHERE id = 0),
         |${steps.mkString(",\n")}
         |SELECT id AS vec_id, dist AS score FROM b$hops
         |ORDER BY score, vec_id LIMIT 10""".stripMargin
    },

    // q148: q125's walk with every edge touching a deleted node
    // (id % 7 = 3) masked from the graph BEFORE the walk — the
    // delete==rebuild semantics both the tombstoned and the compacted
    // index must serve; the identical top-10 is emitted once per phase
    "q148_adj_delete" -> {
      val hops = 4
      val half = sqlFp16Round
      val steps = (1 to hops).map { i =>
        s"""n$i AS (SELECT DISTINCT e.id_b AS id
           |  FROM edges e JOIN b${i - 1} b ON e.id_a = b.id),
           |c$i AS (SELECT s.id, s.dist FROM scored s JOIN n$i USING (id)),
           |b$i AS MATERIALIZED (SELECT DISTINCT id, dist
           |  FROM (SELECT id, dist FROM b${i - 1}
           |        UNION ALL SELECT id, dist FROM c$i)
           |  ORDER BY dist, id LIMIT 20)""".stripMargin
      }
      s"""WITH v AS MATERIALIZED (SELECT vec_id AS id,
         |    CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 300 AND embedding IS NOT NULL),
         |hc AS (SELECT vec_id AS id, unnest(range(len(embedding))) AS pos,
         |    unnest(embedding) AS xf
         |  FROM embeddings WHERE vec_id < 300 AND embedding IS NOT NULL),
         |hh AS (SELECT id, pos, $half AS xh FROM hc),
         |vh AS MATERIALIZED (SELECT id, list(xh ORDER BY pos) AS v
         |  FROM hh GROUP BY id),
         |q AS MATERIALIZED (SELECT v AS qv FROM v WHERE id = 299),
         |scored AS MATERIALIZED (
         |  SELECT vh.id, ${sqlCosine("vh.v", "q.qv")} AS dist
         |  FROM vh CROSS JOIN q),
         |p AS (SELECT a.id AS id_a, b.id AS id_b,
         |  ${sqlCosine("a.v", "b.v")} AS dist
         |  FROM v a JOIN v b ON a.id <> b.id),
         |edges AS MATERIALIZED (SELECT id_a, id_b FROM (
         |  SELECT id_a, id_b, row_number() OVER (PARTITION BY id_a
         |    ORDER BY dist, id_b) AS rank FROM p) WHERE rank <= 5
         |  AND id_a % 7 <> 3 AND id_b % 7 <> 3),
         |b0 AS MATERIALIZED (SELECT id, dist FROM scored WHERE id = 0),
         |${steps.mkString(",\n")},
         |top AS (SELECT id, dist FROM b$hops ORDER BY dist, id LIMIT 10)
         |SELECT phase, id AS vec_id, dist AS score FROM (
         |  SELECT 'compacted' AS phase, id, dist FROM top
         |  UNION ALL SELECT 'deleted' AS phase, id, dist FROM top)
         |ORDER BY phase, score, vec_id""".stripMargin
    },

    // q127: q118's oracle extended with the layered descent. Levels are
    // the affine-hash CASE chain (nested: h%16=0 ⊆ h%4=0); each upper
    // layer's exact 3-NN graph is a subset pair join + row_number; the
    // greedy walks are the beam unroll with LIMIT 1; the final beam is
    // q118's, entered from wherever the descent landed
    "q127_hnsw_search" -> {
      val upperHops = 4
      def greedy(lvl: Int, fromCte: String): String = {
        val steps = (1 to upperHops).map { i =>
          s"""n${lvl}_$i AS (SELECT DISTINCT e.id_b AS id
             |  FROM e$lvl e JOIN g${lvl}_${i - 1} b ON e.id_a = b.id),
             |c${lvl}_$i AS (SELECT s.id, s.dist
             |  FROM scored s JOIN n${lvl}_$i USING (id)),
             |g${lvl}_$i AS MATERIALIZED (SELECT DISTINCT id, dist
             |  FROM (SELECT id, dist FROM g${lvl}_${i - 1}
             |        UNION ALL SELECT id, dist FROM c${lvl}_$i)
             |  ORDER BY dist, id LIMIT 1)""".stripMargin
        }
        s"""p$lvl AS (SELECT a.id AS id_a, b.id AS id_b,
           |  ${sqlCosine("a.v", "b.v")} AS dist
           |  FROM lv a JOIN lv b ON a.id <> b.id
           |  WHERE a.level >= $lvl AND b.level >= $lvl),
           |e$lvl AS MATERIALIZED (SELECT id_a, id_b FROM (
           |  SELECT id_a, id_b, row_number() OVER (PARTITION BY id_a
           |    ORDER BY dist, id_b) AS rank FROM p$lvl) WHERE rank <= 3),
           |g${lvl}_0 AS MATERIALIZED ($fromCte),
           |${steps.mkString(",\n")}""".stripMargin
      }
      val hops = 4
      val beam = (1 to hops).map { i =>
        s"""n$i AS (SELECT DISTINCT e.id_b AS id
           |  FROM edges e JOIN b${i - 1} b ON e.id_a = b.id),
           |c$i AS (SELECT s.id, s.dist FROM scored s JOIN n$i USING (id)),
           |b$i AS MATERIALIZED (SELECT DISTINCT id, dist
           |  FROM (SELECT id, dist FROM b${i - 1}
           |        UNION ALL SELECT id, dist FROM c$i)
           |  ORDER BY dist, id LIMIT 20)""".stripMargin
      }
      s"""WITH v AS MATERIALIZED (SELECT vec_id AS id,
         |    CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 300 AND embedding IS NOT NULL),
         |q AS MATERIALIZED (SELECT v AS qv FROM v WHERE id = 299),
         |scored AS MATERIALIZED (
         |  SELECT v.id, ${sqlCosine("v.v", "q.qv")} AS dist
         |  FROM v CROSS JOIN q),
         |lv AS MATERIALIZED (SELECT id, v,
         |  CASE WHEN ((id * 1103515245 + 12345) % 1048576) % 16 = 0 THEN 2
         |       WHEN ((id * 1103515245 + 12345) % 1048576) % 4 = 0 THEN 1
         |       ELSE 0 END AS level FROM v),
         |${greedy(2, "SELECT id, dist FROM scored WHERE id = " +
            "(SELECT min(id) FROM lv WHERE level >= 2)")},
         |${greedy(1, s"SELECT id, dist FROM g2_$upperHops")},
         |p AS (SELECT a.id AS id_a, b.id AS id_b,
         |  ${sqlCosine("a.v", "b.v")} AS dist
         |  FROM v a JOIN v b ON a.id <> b.id),
         |edges AS MATERIALIZED (SELECT id_a, id_b FROM (
         |  SELECT id_a, id_b, row_number() OVER (PARTITION BY id_a
         |    ORDER BY dist, id_b) AS rank FROM p) WHERE rank <= 5),
         |b0 AS MATERIALIZED (SELECT id, dist FROM g1_$upperHops),
         |${beam.mkString(",\n")}
         |SELECT id AS vec_id, dist AS score FROM b$hops
         |ORDER BY score, vec_id LIMIT 10""".stripMargin
    },

    // q128: q127's layered walk with every SCORE computed over the
    // fp16-rounded vector (the persisted adjacency rows' dvec precision
    // — q125's discipline); the level CASE, both upper-layer GRAPHS and
    // the layer-0 graph stay fp32, exactly what buildHnswIndex persists
    "q128_hnsw_index_search" -> {
      val upperHops = 4
      def greedy(lvl: Int, fromCte: String): String = {
        val steps = (1 to upperHops).map { i =>
          s"""n${lvl}_$i AS (SELECT DISTINCT e.id_b AS id
             |  FROM e$lvl e JOIN g${lvl}_${i - 1} b ON e.id_a = b.id),
             |c${lvl}_$i AS (SELECT s.id, s.dist
             |  FROM scored s JOIN n${lvl}_$i USING (id)),
             |g${lvl}_$i AS MATERIALIZED (SELECT DISTINCT id, dist
             |  FROM (SELECT id, dist FROM g${lvl}_${i - 1}
             |        UNION ALL SELECT id, dist FROM c${lvl}_$i)
             |  ORDER BY dist, id LIMIT 1)""".stripMargin
        }
        s"""p$lvl AS (SELECT a.id AS id_a, b.id AS id_b,
           |  ${sqlCosine("a.v", "b.v")} AS dist
           |  FROM lv a JOIN lv b ON a.id <> b.id
           |  WHERE a.level >= $lvl AND b.level >= $lvl),
           |e$lvl AS MATERIALIZED (SELECT id_a, id_b FROM (
           |  SELECT id_a, id_b, row_number() OVER (PARTITION BY id_a
           |    ORDER BY dist, id_b) AS rank FROM p$lvl) WHERE rank <= 3),
           |g${lvl}_0 AS MATERIALIZED ($fromCte),
           |${steps.mkString(",\n")}""".stripMargin
      }
      val hops = 4
      val beam = (1 to hops).map { i =>
        s"""n$i AS (SELECT DISTINCT e.id_b AS id
           |  FROM edges e JOIN b${i - 1} b ON e.id_a = b.id),
           |c$i AS (SELECT s.id, s.dist FROM scored s JOIN n$i USING (id)),
           |b$i AS MATERIALIZED (SELECT DISTINCT id, dist
           |  FROM (SELECT id, dist FROM b${i - 1}
           |        UNION ALL SELECT id, dist FROM c$i)
           |  ORDER BY dist, id LIMIT 20)""".stripMargin
      }
      val half = sqlFp16Round
      s"""WITH v AS MATERIALIZED (SELECT vec_id AS id,
         |    CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 300 AND embedding IS NOT NULL),
         |hc AS (SELECT vec_id AS id, unnest(range(len(embedding))) AS pos,
         |    unnest(embedding) AS xf
         |  FROM embeddings WHERE vec_id < 300 AND embedding IS NOT NULL),
         |hh AS (SELECT id, pos, $half AS xh FROM hc),
         |vh AS MATERIALIZED (SELECT id, list(xh ORDER BY pos) AS v
         |  FROM hh GROUP BY id),
         |q AS MATERIALIZED (SELECT v AS qv FROM v WHERE id = 299),
         |scored AS MATERIALIZED (
         |  SELECT vh.id, ${sqlCosine("vh.v", "q.qv")} AS dist
         |  FROM vh CROSS JOIN q),
         |lv AS MATERIALIZED (SELECT id, v,
         |  CASE WHEN ((id * 1103515245 + 12345) % 1048576) % 16 = 0 THEN 2
         |       WHEN ((id * 1103515245 + 12345) % 1048576) % 4 = 0 THEN 1
         |       ELSE 0 END AS level FROM v),
         |${greedy(2, "SELECT id, dist FROM scored WHERE id = " +
            "(SELECT min(id) FROM lv WHERE level >= 2)")},
         |${greedy(1, s"SELECT id, dist FROM g2_$upperHops")},
         |p AS (SELECT a.id AS id_a, b.id AS id_b,
         |  ${sqlCosine("a.v", "b.v")} AS dist
         |  FROM v a JOIN v b ON a.id <> b.id),
         |edges AS MATERIALIZED (SELECT id_a, id_b FROM (
         |  SELECT id_a, id_b, row_number() OVER (PARTITION BY id_a
         |    ORDER BY dist, id_b) AS rank FROM p) WHERE rank <= 5),
         |b0 AS MATERIALIZED (SELECT id, dist FROM g1_$upperHops),
         |${beam.mkString(",\n")}
         |SELECT id AS vec_id, dist AS score FROM b$hops
         |ORDER BY score, vec_id LIMIT 10""".stripMargin
    },

    // q129: triangle counting replayed — q95's edge derivation, then the
    // simple undirected reduction, (deg, id)-ordered orientation, wedge
    // join around each triangle's lowest vertex, closure join, explode
    "q129_triangle_count" -> {
      val P2 = graft.text.TextMath.Mod
      def edge(j: Int): String = {
        val a = graft.text.TextMath.MinHashA(j)
        val b = graft.text.TextMath.MinHashB(j)
        s"SELECT doc_id AS src, ($a * h + $b) % $P2 % (SELECT n FROM nn) AS dst FROM docs"
      }
      s"""WITH docs AS (SELECT doc_id, ${sqlPolyHash("text")} AS h FROM documents),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
         |base AS (
         |  ${edge(0)}
         |  UNION ALL
         |  ${edge(1)}
         |  UNION ALL
         |  ${edge(2)}),
         |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM base WHERE src <> dst),
         |deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |  SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und)
         |  GROUP BY id),
         |o AS (SELECT
         |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
         |    THEN u ELSE v END AS src,
         |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
         |    THEN v ELSE u END AS dst,
         |  CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
         |    THEN dv.deg ELSE du.deg END AS ddeg
         |  FROM und JOIN deg du ON du.id = u JOIN deg dv ON dv.id = v),
         |w AS (SELECT e1.src, e1.dst AS b, e2.dst AS c
         |  FROM o e1 JOIN o e2 ON e1.src = e2.src
         |  WHERE e1.ddeg < e2.ddeg
         |     OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst)),
         |tri AS (SELECT w.src, w.b, w.c
         |  FROM w JOIN o e3 ON e3.src = w.b AND e3.dst = w.c),
         |ids AS (SELECT src AS id FROM tri
         |  UNION ALL SELECT b FROM tri
         |  UNION ALL SELECT c FROM tri)
         |SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM ids
         |GROUP BY id ORDER BY id""".stripMargin
    },

    // q130: label propagation unrolled — per round one neighbor-label
    // count and one (cnt DESC, label ASC) row_number pick per node
    "q130_label_propagation" -> {
      val P2 = graft.text.TextMath.Mod
      def edge(j: Int): String = {
        val a = graft.text.TextMath.MinHashA(j)
        val b = graft.text.TextMath.MinHashB(j)
        s"SELECT doc_id AS src, ($a * h + $b) % $P2 % (SELECT n FROM nn) AS dst FROM docs"
      }
      val rounds = (1 to 3).map { i =>
        s"""c$i AS (SELECT adj.a, l.label, COUNT(*) AS cnt
           |  FROM adj JOIN l${i - 1} l ON adj.b = l.id
           |  GROUP BY adj.a, l.label),
           |l$i AS MATERIALIZED (SELECT a AS id, label FROM (
           |  SELECT a, label, row_number() OVER (PARTITION BY a
           |    ORDER BY cnt DESC, label ASC) AS rk FROM c$i) WHERE rk = 1)"""
          .stripMargin
      }
      s"""WITH docs AS (SELECT doc_id, ${sqlPolyHash("text")} AS h FROM documents),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
         |base AS (
         |  ${edge(0)}
         |  UNION ALL
         |  ${edge(1)}
         |  UNION ALL
         |  ${edge(2)}),
         |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM base WHERE src <> dst),
         |adj AS (SELECT u AS a, v AS b FROM und
         |  UNION ALL SELECT v AS a, u AS b FROM und),
         |l0 AS (SELECT DISTINCT a AS id, a AS label FROM adj),
         |${rounds.mkString(",\n")}
         |SELECT id, label FROM l3 ORDER BY id""".stripMargin
    },

    // q131: k-core unrolled — per round a HAVING >= k survivor set and
    // two endpoint joins restricting the adjacency list
    "q131_kcore" -> {
      val P2 = graft.text.TextMath.Mod
      def edge(j: Int): String = {
        val a = graft.text.TextMath.MinHashA(j)
        val b = graft.text.TextMath.MinHashB(j)
        s"SELECT doc_id AS src, ($a * h + $b) % $P2 % (SELECT n FROM nn) AS dst FROM docs"
      }
      val rounds = (1 to 3).map { i =>
        s"""k$i AS (SELECT a AS id FROM a${i - 1}
           |  GROUP BY a HAVING COUNT(*) >= 3),
           |a$i AS MATERIALIZED (SELECT t.a, t.b FROM a${i - 1} t
           |  JOIN k$i x ON t.a = x.id JOIN k$i y ON t.b = y.id)"""
          .stripMargin
      }
      s"""WITH docs AS (SELECT doc_id, ${sqlPolyHash("text")} AS h FROM documents),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
         |base AS (
         |  ${edge(0)}
         |  UNION ALL
         |  ${edge(1)}
         |  UNION ALL
         |  ${edge(2)}),
         |und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM base WHERE src <> dst),
         |a0 AS (SELECT u AS a, v AS b FROM und
         |  UNION ALL SELECT v AS a, u AS b FROM und),
         |${rounds.mkString(",\n")}
         |SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM a3
         |GROUP BY a ORDER BY id""".stripMargin
    },

    // NN-Descent replayed round-for-round: LCG expander seed over dense
    // ranks, per round the undirected closure proposes neighbors-of-
    // neighbors, union the current edges, rank by (dist, id_b), keep 5
    "q119_nndescent_graph" -> {
      val k = 5
      val bk = 10 // nnDescentGraph's default buildK = 2k
      val rounds = 3
      val dist = sqlCosine("va.v", "vb.v")
      val seed = (1 to bk).map(j =>
        s"SELECT id AS id_a, rk AS rk_a, " +
          s"((rk % 2147483648) * 1103515245 + ${j * 12345L}) " +
          s"% 2147483648 % (SELECT count(*) FROM v) AS rk_b FROM rk")
        .mkString(" UNION ALL ")
      val steps = (1 to rounds).map { r =>
        s"""u$r AS (SELECT DISTINCT id_a, id_b FROM (
           |  SELECT id_a, id_b FROM e${r - 1}
           |  UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM e${r - 1})),
           |p$r AS (SELECT DISTINCT a.id_a, b.id_b
           |  FROM u$r a JOIN u$r b ON a.id_b = b.id_a
           |  WHERE a.id_a <> b.id_b
           |  UNION SELECT id_a, id_b FROM e${r - 1}),
           |e$r AS MATERIALIZED (SELECT id_a, id_b FROM (
           |  SELECT c.id_a, c.id_b, row_number() OVER (PARTITION BY c.id_a
           |      ORDER BY $dist, c.id_b) AS rank
           |  FROM p$r c JOIN v va ON va.id = c.id_a
           |    JOIN v vb ON vb.id = c.id_b) WHERE rank <= $bk)""".stripMargin
      }
      s"""WITH v AS MATERIALIZED (SELECT vec_id AS id,
         |    CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 200 AND embedding IS NOT NULL),
         |rk AS MATERIALIZED (SELECT id,
         |  CAST(row_number() OVER (ORDER BY id) AS BIGINT) - 1 AS rk FROM v),
         |e0 AS MATERIALIZED (SELECT DISTINCT s.id_a, m.id AS id_b
         |  FROM ($seed) s JOIN rk m ON m.rk = s.rk_b
         |  WHERE s.rk_b <> s.rk_a),
         |${steps.mkString(",\n")}
         |SELECT id_a, id_b, dist, rank FROM (
         |  SELECT c.id_a, c.id_b, $dist AS dist,
         |    CAST(row_number() OVER (PARTITION BY c.id_a
         |      ORDER BY $dist, c.id_b) AS INT) AS rank
         |  FROM e$rounds c JOIN v va ON va.id = c.id_a
         |    JOIN v vb ON vb.id = c.id_b)
         |WHERE rank <= $k ORDER BY id_a, rank""".stripMargin
    },

    // q149: q119's replay with the per-round ranking distance swapped to
    // the int8 CODE domain — encode is floor(x·scale + 0.5) clamped to
    // ±127 with scale = 127/maxabs (1 when maxabs = 0), and cosine over
    // codes needs no scale (it divides out). Integer sums ≪ 2^53 are
    // exact in double in any order, so the code cosine is bit-identical
    // cross-engine; the FINAL distances re-score over fp32 like q119's.
    "q149_compressed_descent" -> {
      val k = 5
      val bk = 10
      val rounds = 3
      val distCodes = "(1 - list_dot_product(ca.c, cb.c) / " +
        "(sqrt(list_dot_product(ca.c, ca.c)) * " +
        "sqrt(list_dot_product(cb.c, cb.c))))"
      val dist = sqlCosine("va.v", "vb.v")
      val seed = (1 to bk).map(j =>
        s"SELECT id AS id_a, rk AS rk_a, " +
          s"((rk % 2147483648) * 1103515245 + ${j * 12345L}) " +
          s"% 2147483648 % (SELECT count(*) FROM v) AS rk_b FROM rk")
        .mkString(" UNION ALL ")
      val steps = (1 to rounds).map { r =>
        s"""u$r AS (SELECT DISTINCT id_a, id_b FROM (
           |  SELECT id_a, id_b FROM e${r - 1}
           |  UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM e${r - 1})),
           |p$r AS (SELECT DISTINCT a.id_a, b.id_b
           |  FROM u$r a JOIN u$r b ON a.id_b = b.id_a
           |  WHERE a.id_a <> b.id_b
           |  UNION SELECT id_a, id_b FROM e${r - 1}),
           |e$r AS MATERIALIZED (SELECT id_a, id_b FROM (
           |  SELECT c.id_a, c.id_b, row_number() OVER (PARTITION BY c.id_a
           |      ORDER BY $distCodes, c.id_b) AS rank
           |  FROM p$r c JOIN codes ca ON ca.id = c.id_a
           |    JOIN codes cb ON cb.id = c.id_b) WHERE rank <= $bk)""".stripMargin
      }
      s"""WITH v AS MATERIALIZED (SELECT vec_id AS id,
         |    CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 200 AND embedding IS NOT NULL),
         |codes AS MATERIALIZED (SELECT id,
         |  list_transform(v, x -> CAST(GREATEST(-127.0, LEAST(127.0,
         |    floor(x * (CASE WHEN mx = 0 THEN 1.0 ELSE 127.0 / mx END)
         |      + 0.5))) AS DOUBLE)) AS c
         |  FROM (SELECT id, v,
         |    list_max(list_transform(v, y -> abs(y))) AS mx FROM v)),
         |rk AS MATERIALIZED (SELECT id,
         |  CAST(row_number() OVER (ORDER BY id) AS BIGINT) - 1 AS rk FROM v),
         |e0 AS MATERIALIZED (SELECT DISTINCT s.id_a, m.id AS id_b
         |  FROM ($seed) s JOIN rk m ON m.rk = s.rk_b
         |  WHERE s.rk_b <> s.rk_a),
         |${steps.mkString(",\n")}
         |SELECT id_a, id_b, dist, rank FROM (
         |  SELECT c.id_a, c.id_b, $dist AS dist,
         |    CAST(row_number() OVER (PARTITION BY c.id_a
         |      ORDER BY $dist, c.id_b) AS INT) AS rank
         |  FROM e$rounds c JOIN v va ON va.id = c.id_a
         |    JOIN v vb ON vb.id = c.id_b)
         |WHERE rank <= $k ORDER BY id_a, rank""".stripMargin
    },

    // the resident walk's exhaustive-beam form is exactly brute-force
    // top-10 by fp32 cosine: the graph (kNN ∪ chain, symmetrized at
    // load) is connected, ef = n puts every node in the shortlist, and
    // the one refine job scores the shortlist's self-rows exact — so
    // the oracle needs no walk replay at all, just the scan the contract
    // reduces to
    "q150_resident_walk" ->
      s"""WITH v AS MATERIALIZED (SELECT vec_id AS id,
         |    CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 300 AND embedding IS NOT NULL),
         |q AS MATERIALIZED (SELECT v AS qv FROM v WHERE id = 299)
         |SELECT v.id AS vec_id, ${sqlCosine("v.v", "q.qv")} AS score
         |FROM v CROSS JOIN q
         |ORDER BY score, vec_id LIMIT 10""".stripMargin,

    // the sharded fan-and-merge with exhaustive per-shard beams reduces
    // to the same scan q150's contract does — brute-force cosine top-10
    // over the union: each shard's shortlist is its whole live set and
    // the global top-10's members are each in their own shard's local
    // top-10 by definition, so the merge loses nothing
    "q151_sharded_resident" ->
      s"""WITH v AS MATERIALIZED (SELECT vec_id AS id,
         |    CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < 300 AND embedding IS NOT NULL),
         |q AS MATERIALIZED (SELECT v AS qv FROM v WHERE id = 157)
         |SELECT v.id AS vec_id, ${sqlCosine("v.v", "q.qv")} AS score
         |FROM v CROSS JOIN q
         |ORDER BY score, vec_id LIMIT 10""".stripMargin,

    // q151's brute-force oracle with the attribute predicate applied to
    // the CANDIDATES only (the query row is fetched unfiltered — a
    // request's filter scopes results, never the query vector)
    "q160_sharded_filtered" ->
      s"""WITH v AS MATERIALIZED (SELECT vec_id AS id,
         |    CAST(embedding AS DOUBLE[]) AS v, label
         |  FROM embeddings WHERE vec_id < 300 AND embedding IS NOT NULL),
         |q AS MATERIALIZED (SELECT v AS qv FROM v WHERE id = 157)
         |SELECT v.id AS vec_id, ${sqlCosine("v.v", "q.qv")} AS score
         |FROM v CROSS JOIN q
         |WHERE v.label % 3 = 1
         |ORDER BY score, vec_id LIMIT 10""".stripMargin,

    // the attr-stats sidecar replayed: the q159 centroid chain (same
    // build dials), the full-corpus assignment, then the per-cell
    // per-value GROUP BY the sidecar wrote at build time
    "q161_attr_stats" ->
      s"""WITH corpus AS (
         |  SELECT vec_id AS id, embedding AS v FROM embeddings
         |  WHERE embedding IS NOT NULL),
         |lab AS (SELECT vec_id AS id, label FROM embeddings),
         |sample AS (SELECT * FROM corpus WHERE id % 5 = 0),
         |seed AS (
         |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS centroid_id,
         |    v AS cvec
         |  FROM sample QUALIFY row_number() OVER (ORDER BY id) <= 4),
         |a1 AS (${sqlIvfAssign("sample", "seed")}),
         |x1 AS (SELECT centroid_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM a1),
         |m1 AS (${sqlIvfMean("x1")}),
         |cent1 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM m1 GROUP BY 1),
         |a2 AS (${sqlIvfAssign("sample", "cent1")}),
         |x2 AS (SELECT centroid_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM a2),
         |m2 AS (${sqlIvfMean("x2")}),
         |cent2 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM m2 GROUP BY 1),
         |af AS (${sqlIvfAssign("corpus", "cent2")})
         |SELECT af.centroid_id, 'label' AS acol,
         |  CAST(lab.label AS VARCHAR) AS value, COUNT(*) AS cnt
         |FROM af JOIN lab USING (id)
         |GROUP BY af.centroid_id, lab.label
         |ORDER BY acol, value, centroid_id""".stripMargin,

    // the DSIR chain replayed wholesale: hashed-bigram buckets on both
    // sides, add-one-smoothed bucket log-ratios, per-doc DECIMAL sums,
    // the content-hash Gumbel, and the top-25 by (logw + g) — every
    // intermediate is integer counts or IEEE double, so the selection
    // is engine-exact
    "q152_dsir_select" ->
      s"""WITH raw AS (SELECT doc_id, text FROM documents
         |  WHERE source <> 'src0'),
         |tgt AS (SELECT text FROM documents WHERE source = 'src0'),
         |rw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM raw),
         |rb AS (SELECT doc_id, ${sqlPolyHash("bg")} % 4096 AS b FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 2 THEN
         |    list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
         |    ELSE CAST([] AS VARCHAR[]) END) AS bg FROM rw)),
         |tw AS (SELECT string_split(text, ' ') AS ws FROM tgt),
         |tb AS (SELECT ${sqlPolyHash("bg")} % 4096 AS b FROM (
         |  SELECT unnest(CASE WHEN len(ws) >= 2 THEN
         |    list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
         |    ELSE CAST([] AS VARCHAR[]) END) AS bg FROM tw)),
         |rc AS (SELECT b, count(*) AS cr FROM rb GROUP BY b),
         |tcnt AS (SELECT b, count(*) AS ct FROM tb GROUP BY b),
         |tot AS (SELECT (SELECT count(*) FROM rb) AS tr,
         |               (SELECT count(*) FROM tb) AS tt),
         |ratio AS (SELECT rc.b,
         |    ln((CAST(COALESCE(tcnt.ct, 0) AS DOUBLE) + 1.0) /
         |       (CAST(tot.tt AS DOUBLE) + 4096.0)) -
         |    ln((CAST(rc.cr AS DOUBLE) + 1.0) /
         |       (CAST(tot.tr AS DOUBLE) + 4096.0)) AS lr
         |  FROM rc LEFT JOIN tcnt ON tcnt.b = rc.b CROSS JOIN tot),
         |wts AS (SELECT rb.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |    CAST(SUM(CAST(ratio.lr AS DECIMAL(25,12))) AS DOUBLE) AS logw
         |  FROM rb JOIN ratio ON ratio.b = rb.b GROUP BY rb.doc_id),
         |gum AS (SELECT doc_id,
         |    -ln(-ln((CAST(${sqlPolyHash("text")} AS DOUBLE) + 1.0) /
         |      1000000008.0)) AS g
         |  FROM raw)
         |SELECT w.doc_id, w.n_feats, w.logw, w.logw + g.g AS gk
         |FROM wts w JOIN gum g USING (doc_id)
         |ORDER BY gk DESC, doc_id LIMIT 25""".stripMargin,

    // the anisotropic-loss argmin, the codeword-IP stage-1 cut and the
    // exact-IP re-rank replayed term for term over the Lloyd chain
    "q156_anisotropic_mips" -> {
      def dotd(a: String, b: String): String =
        s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"
      s"""WITH corpus AS (SELECT vec_id AS id, embedding AS v
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id < 300),
         |${sqlL2Chain("an0", "corpus")},
         |asg AS (SELECT c.id, c.v, s.centroid_id,
         |  row_number() OVER (PARTITION BY c.id ORDER BY
         |    3.0 * (${dotd("c.v", "c.v")} - ${dotd("c.v", "s.cvec")})
         |        * (${dotd("c.v", "c.v")} - ${dotd("c.v", "s.cvec")})
         |        / ${dotd("c.v", "c.v")}
         |      + ${sqlL2Sq("c.v", "s.cvec")},
         |    s.centroid_id) AS crank
         |  FROM corpus c, an0_c2 s QUALIFY crank = 1),
         |qq AS (SELECT v AS qv FROM corpus WHERE id = 42),
         |qcs AS (SELECT centroid_id, ${dotd("cvec", "qv")} AS qc
         |  FROM an0_c2, qq),
         |short AS (SELECT a.id, a.v, a.centroid_id
         |  FROM asg a JOIN qcs USING (centroid_id)
         |  ORDER BY qc DESC, a.id LIMIT 50),
         |top AS (SELECT s.id, s.centroid_id, ${dotd("s.v", "qv")} AS ip
         |  FROM short s, qq ORDER BY ip DESC, s.id LIMIT 10)
         |SELECT id, centroid_id, ip FROM top ORDER BY ip DESC, id""".stripMargin
    },

    // the oracle is exact top-10 in the ORIGINAL space: rotated-space
    // search matches iff the learned rotation is orthonormal
    "q155_opq_rotation" ->
      s"""WITH c AS (SELECT vec_id AS id, embedding AS v FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id < 300),
         |q AS (SELECT v AS qv FROM c WHERE id = 299),
         |top AS (SELECT id FROM c, q
         |  ORDER BY ${sqlL2Sq("v", "qv")}, id LIMIT 10)
         |SELECT id FROM top ORDER BY id""".stripMargin,

    // k-means|| replayed round-for-round: per round the min-d² field
    // against the growing candidate set, the DECIMAL-exact φ, the LCG
    // threshold test; then the nearest-candidate weighting and the four
    // weighted farthest-first selections
    "q154_kmeans_par_init" -> {
      def round(r: Int): String =
        s"""kd$r AS (SELECT c.id, MIN(${sqlL2Sq("c.v", "s.v")}) AS d
           |  FROM kc c, kcand${r - 1} s GROUP BY c.id),
           |kphi$r AS (SELECT CAST(SUM(CAST(d AS DECIMAL(38,12))) AS DOUBLE)
           |  AS phi FROM kd$r),
           |kp$r AS (SELECT id FROM kd$r, kphi$r
           |  WHERE CAST(((id % 2147483648) * 1103515245 + ${r * 12345})
           |      % 2147483648 % 1048576 AS DOUBLE) / 1048576.0
           |    < 8.0 * d / phi),
           |kcand$r AS (SELECT * FROM kcand${r - 1} UNION ALL
           |  SELECT c.id, c.v FROM kc c JOIN kp$r USING (id))""".stripMargin
      def pick(j: Int): String =
        s"""kr$j AS (SELECT cw.cid, cw.v, cw.weight,
           |  CAST(cw.weight AS DOUBLE) * MIN(${sqlL2Sq("cw.v", "s.v")}) AS sc
           |  FROM kcw cw, ksel${j - 1} s
           |  WHERE cw.cid NOT IN (SELECT cid FROM ksel${j - 1})
           |  GROUP BY cw.cid, cw.v, cw.weight),
           |kpick$j AS (SELECT cid, v, weight FROM kr$j
           |  ORDER BY sc DESC, cid LIMIT 1),
           |ksel$j AS (SELECT * FROM ksel${j - 1} UNION ALL
           |  SELECT * FROM kpick$j)""".stripMargin
      s"""WITH kc AS (SELECT vec_id AS id, embedding AS v FROM embeddings
         |  WHERE embedding IS NOT NULL),
         |kcand0 AS (SELECT id, v FROM kc ORDER BY id LIMIT 1),
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |kasgn AS (SELECT c.id, s.id AS cid,
         |  row_number() OVER (PARTITION BY c.id
         |    ORDER BY ${sqlL2Sq("c.v", "s.v")}, s.id) AS rk
         |  FROM kc c, kcand3 s QUALIFY rk = 1),
         |kw AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS weight
         |  FROM kasgn GROUP BY cid),
         |kcw AS (SELECT s.id AS cid, s.v,
         |  COALESCE(kw.weight, CAST(0 AS BIGINT)) AS weight
         |  FROM kcand3 s LEFT JOIN kw ON kw.cid = s.id),
         |ksel1 AS (SELECT cid, v, weight FROM kcw
         |  ORDER BY weight DESC, cid LIMIT 1),
         |${pick(2)},
         |${pick(3)},
         |${pick(4)},
         |kranked AS (SELECT 1 AS rank, cid, weight FROM ksel1
         |  UNION ALL SELECT 2, cid, weight FROM kpick2
         |  UNION ALL SELECT 3, cid, weight FROM kpick3
         |  UNION ALL SELECT 4, cid, weight FROM kpick4)
         |SELECT CAST(rank AS INT) AS rank, cid AS cand_id, weight
         |FROM kranked ORDER BY rank""".stripMargin
    },

    // SOAR spilled assignment replayed argmin-for-argmin: the primary
    // pick is the L2 window over cells 0–7; the secondary re-scores the
    // OTHER cells under l2 + λ·⟨r, x−c⟩²/‖r‖² with the residual dot
    // expanded bilinearly (the same left-assoc float tree the engine
    // builds) and the ‖r‖² = 0 case guarded to plain l2
    "q157_soar_assign" -> {
      def dotd(a: String, b: String): String =
        s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"
      s"""WITH corpus AS (SELECT vec_id AS id, embedding AS v
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id < 256),
         |cents AS (SELECT vec_id AS centroid_id, embedding AS cvec
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id < 8),
         |prim AS (SELECT c.id, c.v, s.centroid_id AS c1,
         |    s.cvec AS c1vec,
         |    row_number() OVER (PARTITION BY c.id
         |      ORDER BY ${sqlL2Sq("c.v", "s.cvec")}, s.centroid_id)
         |      AS crk
         |  FROM corpus c, cents s QUALIFY crk = 1),
         |sec0 AS (SELECT p.id, s.centroid_id,
         |    ${sqlL2Sq("p.v", "s.cvec")} AS l2,
         |    (${dotd("p.v", "p.v")} - ${dotd("p.v", "s.cvec")}
         |      - ${dotd("p.c1vec", "p.v")}
         |      + ${dotd("p.c1vec", "s.cvec")}) AS rdot,
         |    ${sqlL2Sq("p.v", "p.c1vec")} AS rnorm
         |  FROM prim p, cents s WHERE s.centroid_id <> p.c1),
         |sec AS (SELECT id, centroid_id,
         |    row_number() OVER (PARTITION BY id ORDER BY
         |      CASE WHEN rnorm = 0 THEN l2
         |           ELSE l2 + 1.0 * rdot * rdot / rnorm END,
         |      centroid_id) AS srk
         |  FROM sec0 QUALIFY srk = 1)
         |SELECT id, 1 AS crank, c1 AS centroid_id FROM prim
         |UNION ALL
         |SELECT id, 2 AS crank, centroid_id FROM sec
         |ORDER BY id, crank""".stripMargin
    },

    // the recall curve replayed width-for-width: cosine assignment, the
    // per-query cell probe order, exact and per-width top-10s (both
    // (score, id)-ranked), then integer hits over |queries|·k
    "q158_nprobe_calib" ->
      s"""WITH corpus AS (SELECT vec_id AS id, embedding AS v
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id < 256),
         |cents AS (SELECT vec_id AS centroid_id, embedding AS cvec
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id < 8),
         |qs AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id < 4),
         |asg AS (SELECT c.id, c.v, s.centroid_id,
         |    row_number() OVER (PARTITION BY c.id
         |      ORDER BY ${sqlCosine("c.v", "s.cvec")}, s.centroid_id)
         |      AS crk
         |  FROM corpus c, cents s QUALIFY crk = 1),
         |cr AS (SELECT q.query_id, s.centroid_id,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY ${sqlCosine("s.cvec", "q.qv")}, s.centroid_id)
         |      AS crank
         |  FROM cents s, qs q QUALIFY crank <= 8),
         |sc AS (SELECT q.query_id, a.id, a.centroid_id,
         |    ${sqlCosine("a.v", "q.qv")} AS score
         |  FROM asg a, qs q),
         |exact AS (SELECT query_id, id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score, id) AS rk
         |  FROM sc QUALIFY rk <= 10),
         |np AS (SELECT CAST(unnest(range(1, 9)) AS INT) AS nprobe),
         |ivf AS (SELECT s.query_id, n.nprobe, s.id,
         |    row_number() OVER (PARTITION BY s.query_id, n.nprobe
         |      ORDER BY s.score, s.id) AS rk
         |  FROM sc s
         |  JOIN cr ON cr.query_id = s.query_id
         |    AND cr.centroid_id = s.centroid_id
         |  JOIN np n ON cr.crank <= n.nprobe
         |  QUALIFY rk <= 10),
         |hits AS (SELECT i.nprobe, count(*) AS h FROM ivf i
         |  JOIN exact e ON e.query_id = i.query_id AND e.id = i.id
         |  GROUP BY 1)
         |SELECT n.nprobe, CAST(COALESCE(h, 0) AS DOUBLE) / 40.0 AS recall
         |FROM np n LEFT JOIN hits USING (nprobe) ORDER BY nprobe""".stripMargin,

    // the router replayed: the q132 index preamble (Lloyd chain +
    // assignment), the SAME match counts, the SAME <= 100 CASE, and
    // whichever branch fires must produce the same rows — per case, the
    // un-taken branch's CTE emits nothing under the count predicate
    "q159_routed_filtered" ->
      s"""WITH corpus AS (
         |  SELECT vec_id AS id, embedding AS v FROM embeddings
         |  WHERE embedding IS NOT NULL),
         |lab AS (SELECT vec_id AS id, label FROM embeddings),
         |sample AS (SELECT * FROM corpus WHERE id % 5 = 0),
         |seed AS (
         |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS centroid_id,
         |    v AS cvec
         |  FROM sample QUALIFY row_number() OVER (ORDER BY id) <= 4),
         |a1 AS (${sqlIvfAssign("sample", "seed")}),
         |x1 AS (SELECT centroid_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM a1),
         |m1 AS (${sqlIvfMean("x1")}),
         |cent1 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM m1 GROUP BY 1),
         |a2 AS (${sqlIvfAssign("sample", "cent1")}),
         |x2 AS (SELECT centroid_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM a2),
         |m2 AS (${sqlIvfMean("x2")}),
         |cent2 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM m2 GROUP BY 1),
         |af AS (${sqlIvfAssign("corpus", "cent2")}),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |probed AS (
         |  SELECT centroid_id FROM cent2, q
         |  ORDER BY ${sqlCosine("cvec", "qv")}, centroid_id LIMIT 2),
         |ncnt AS (SELECT count(*) AS c FROM af JOIN lab USING (id)
         |  WHERE lab.label = 5),
         |bcnt AS (SELECT count(*) AS c FROM af JOIN lab USING (id)
         |  WHERE lab.label % 3 = 1),
         |nscan AS (SELECT af.id, af.centroid_id,
         |    ${sqlCosine("af.v", "qv")} AS score
         |  FROM af JOIN lab USING (id), q WHERE lab.label = 5
         |  ORDER BY score, af.id LIMIT 10),
         |nprobe AS (SELECT af.id, af.centroid_id,
         |    ${sqlCosine("af.v", "qv")} AS score
         |  FROM af JOIN probed USING (centroid_id) JOIN lab USING (id), q
         |  WHERE lab.label = 5
         |  ORDER BY score, af.id LIMIT 10),
         |bscan AS (SELECT af.id, af.centroid_id,
         |    ${sqlCosine("af.v", "qv")} AS score
         |  FROM af JOIN lab USING (id), q WHERE lab.label % 3 = 1
         |  ORDER BY score, af.id LIMIT 10),
         |bprobe AS (SELECT af.id, af.centroid_id,
         |    ${sqlCosine("af.v", "qv")} AS score
         |  FROM af JOIN probed USING (centroid_id) JOIN lab USING (id), q
         |  WHERE lab.label % 3 = 1
         |  ORDER BY score, af.id LIMIT 10)
         |SELECT 'narrow' AS case_id, id, centroid_id, score,
         |  'scan' AS route
         |FROM nscan WHERE (SELECT c FROM ncnt) <= 100
         |UNION ALL
         |SELECT 'narrow', id, centroid_id, score, 'probe'
         |FROM nprobe WHERE (SELECT c FROM ncnt) > 100
         |UNION ALL
         |SELECT 'broad', id, centroid_id, score, 'scan'
         |FROM bscan WHERE (SELECT c FROM bcnt) <= 100
         |UNION ALL
         |SELECT 'broad', id, centroid_id, score, 'probe'
         |FROM bprobe WHERE (SELECT c FROM bcnt) > 100
         |ORDER BY case_id, score, id""".stripMargin,

    // the residual-quantizer pipeline replayed end-to-end: stage 0's
    // Lloyd chain on the vectors, the float-rounded residual, stage 1's
    // chain on the residuals, both argmin encodes, and the pinned-
    // association ADC arithmetic (incl. the stage-pair cross term)
    "q153_rq_adc" ->
      s"""WITH $sqlRqAdcPreamble
         |rq AS (SELECT id, score_adc FROM adc ORDER BY score_adc, id LIMIT 10),
         |qex AS (SELECT v AS qv FROM corpus WHERE id = 0),
         |exact AS (SELECT id FROM corpus, qex
         |  ORDER BY ${sqlL2Sq("v", "qv")}, id LIMIT 10)
         |SELECT r.id, r.score_adc,
         |  (r.id IN (SELECT id FROM exact)) AS in_exact
         |FROM rq r ORDER BY score_adc, id""".stripMargin,

    // consecutive-word phrase occurrences counted over the split word
    // array — every start position where all three words line up
    "q120_phrase_search" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents),
         |m AS (SELECT doc_id,
         |  len(list_filter(range(len(ws) - 2), i ->
         |    ws[i+1] = 'customer' AND ws[i+2] = 'join' AND
         |    ws[i+3] = 'merge')) AS n
         |  FROM w)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_matches
         |FROM m WHERE n > 0 ORDER BY doc_id""".stripMargin,

    // the index must serve the same counts the corpus scan produces
    "q123_phrase_index" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents),
         |m AS (SELECT doc_id,
         |  len(list_filter(range(len(ws) - 2), i ->
         |    ws[i+1] = 'customer' AND ws[i+2] = 'join' AND
         |    ws[i+3] = 'merge')) AS n
         |  FROM w)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_matches
         |FROM m WHERE n > 0 ORDER BY doc_id""".stripMargin,

    "q121_window_dist" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  percent_rank() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice) AS pr,
        |  cume_dist() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice) AS cd
        |FROM orders WHERE o_orderkey % 7 = 0
        |ORDER BY o_orderkey""".stripMargin,

    "q122_grouping_sets" ->
      """SELECT GROUPING(l_returnflag, l_linestatus) AS gid,
        |  l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), (l_linestatus))
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,

    // the refreshed index must serve BM25 over the NEW corpus exactly:
    // same planted removals/edits/additions, wholesale, in SQL
    "q112_cdc_refresh" ->
      s"""WITH newdocs AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 13 = 1 THEN text || ' changed join'
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % 17 <> 2
         |  UNION ALL
         |  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents),
         |    text || ' merge added'
         |  FROM documents WHERE doc_id % 29 = 3),
         |${sqlBm25Ctes(Seq("join", "filter", "merge"), docsFrom = "newdocs")}
         |SELECT id, score FROM bm25 ORDER BY score DESC, id LIMIT 15""".stripMargin,

    // DELETE WHERE nullif(lang,'en') = 'fr': 'fr' rows go, 'en' rows have
    // a NULL condition and are KEPT (SQL DELETE semantics), the rest are
    // plain false
    "q111_store_delete" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE NOT COALESCE(NULLIF(lang, 'en') = 'fr', false)
        |ORDER BY doc_id""".stripMargin,

    // q50's chain with the APPEND asymmetry: centroids train on the BASE
    // half's %5 sample (frozen cell geometry), assignment covers the
    // full corpus (base segment + appended segment)
    "q107_ivf_append" ->
      s"""WITH corpus AS (
         |  SELECT vec_id AS id, embedding AS v FROM embeddings
         |  WHERE embedding IS NOT NULL),
         |hh AS (SELECT MAX(vec_id) // 2 AS h FROM embeddings),
         |sample AS (SELECT * FROM corpus
         |  WHERE id < (SELECT h FROM hh) AND id % 5 = 0),
         |seed AS (
         |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS centroid_id,
         |    v AS cvec
         |  FROM sample QUALIFY row_number() OVER (ORDER BY id) <= 4),
         |a1 AS (${sqlIvfAssign("sample", "seed")}),
         |x1 AS (SELECT centroid_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM a1),
         |m1 AS (${sqlIvfMean("x1")}),
         |cent1 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM m1 GROUP BY 1),
         |a2 AS (${sqlIvfAssign("sample", "cent1")}),
         |x2 AS (SELECT centroid_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM a2),
         |m2 AS (${sqlIvfMean("x2")}),
         |cent2 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM m2 GROUP BY 1),
         |af AS (${sqlIvfAssign("corpus", "cent2")}),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |probed AS (
         |  SELECT centroid_id FROM cent2, q
         |  ORDER BY ${sqlCosine("cvec", "qv")}, centroid_id LIMIT 2),
         |hits AS (
         |  SELECT af.id, af.centroid_id, ${sqlCosine("af.v", "qv")} AS score
         |  FROM af JOIN probed USING (centroid_id), q
         |  ORDER BY score, af.id LIMIT 10),
         |exact AS (SELECT id FROM corpus, q
         |  ORDER BY ${sqlCosine("v", "qv")}, id LIMIT 10)
         |SELECT h.id, h.centroid_id, h.score,
         |  (h.id IN (SELECT id FROM exact)) AS in_exact
         |FROM hits h ORDER BY score, id""".stripMargin,

    // the migration's computed backfill over the store == the same
    // expression over the source table
    "q108_store_migrate" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        |FROM documents ORDER BY doc_id""".stripMargin,

    // PQ end-to-end: per-subspace L2 Lloyd (the q91 training pattern ×2
    // subspaces), argmin encoding, LUT cells, fixed-order ADC sum —
    // every float step the dot-expansion tree `Knn.l2sq` builds
    "q109_pq_adc" -> {
      s"""WITH $sqlPqAdcPreamble
         |pq AS (SELECT id, score_adc FROM adc ORDER BY score_adc, id LIMIT 10),
         |qq AS (SELECT v AS qv FROM corpus WHERE id = 0),
         |exact AS (SELECT id FROM corpus, qq
         |  ORDER BY ${sqlL2Sq("v", "qv")}, id LIMIT 10)
         |SELECT p.id, p.score_adc,
         |  (p.id IN (SELECT id FROM exact)) AS in_exact
         |FROM pq p ORDER BY score_adc, id""".stripMargin
    },

    // the refinement stage over q109's ADC pipeline: each shortlist is
    // the ADC ranking cut at r·10, re-scored by EXACT squared L2 (the
    // same float tree both engines build), cut again at 10
    "q124_pq_rerank" -> {
      def ref(r: Int): String =
        s"""ref$r AS (SELECT CAST($r AS INT) AS r, c.id,
           |  ${sqlL2Sq("c.v", "qv")} AS score_exact
           |  FROM corpus c
           |  JOIN (SELECT id FROM adc ORDER BY score_adc, id LIMIT ${r * 10})
           |    s$r USING (id), qq
           |  ORDER BY score_exact, id LIMIT 10)""".stripMargin
      s"""WITH $sqlPqAdcPreamble
         |qq AS (SELECT v AS qv FROM corpus WHERE id = 0),
         |exact AS (SELECT id FROM corpus, qq
         |  ORDER BY ${sqlL2Sq("v", "qv")}, id LIMIT 10),
         |${ref(1)},
         |${ref(2)},
         |${ref(4)},
         |refined AS (SELECT * FROM ref1 UNION ALL
         |  SELECT * FROM ref2 UNION ALL SELECT * FROM ref4)
         |SELECT r, id, score_exact,
         |  (id IN (SELECT id FROM exact)) AS in_exact
         |FROM refined ORDER BY r, score_exact, id""".stripMargin
    },

    "q88_cms_heavy_hitters" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh AS (SELECT doc_id, unnest(${sqlShingles("w")}) AS s FROM w),
         |top AS (SELECT s AS shingle, CAST(COUNT(*) AS BIGINT) AS doc_freq
         |  FROM sh GROUP BY s ORDER BY doc_freq DESC, shingle LIMIT 20),
         |hh AS (SELECT ${sqlPolyHash("s")} AS h FROM sh),
         |cbits AS (${sqlCmsBits("hh", "", depth = 4, width = 512)}),
         |cms AS (SELECT row_idx, counter_idx, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM cbits GROUP BY 1, 2),
         |qt AS (SELECT shingle, doc_freq, ${sqlPolyHash("shingle")} AS h
         |  FROM top),
         |qbits AS (${sqlCmsBits("qt", "shingle, doc_freq", depth = 4, width = 512)})
         |SELECT shingle, doc_freq,
         |  MIN(COALESCE(cnt, CAST(0 AS BIGINT))) AS cms_estimate
         |FROM qbits LEFT JOIN cms USING (row_idx, counter_idx)
         |GROUP BY shingle, doc_freq
         |ORDER BY doc_freq DESC, shingle""".stripMargin,

    // HLL: bucket = h mod 64, rho = trailing zeros of (h >> 6) plus one
    // (capped when the suffix is zero); register sum exact in BIGINT via
    // 2^(50-reg) terms; the single float step is one double division of
    // the Scala-interpolated numerator.
    "q90_hll_cardinality" ->
      s"""WITH hdocs AS (SELECT source, string_split(text, ' ') AS w
         |  FROM documents),
         |hsh AS (SELECT source, unnest(${sqlShingles("w")}) AS s FROM hdocs),
         |hh AS (SELECT source, ${sqlPolyHash("s")} AS h FROM hsh),
         |hr AS (SELECT source, h % 64 AS bucket,
         |  CASE WHEN h // 64 = 0 THEN ${graft.text.TextAnalysis.HllMaxRho}
         |    ELSE CAST(bit_count(((h // 64) & (-(h // 64))) - 1) AS INT) + 1
         |  END AS rho FROM hh),
         |hreg AS (SELECT source, bucket, MAX(rho) AS reg
         |  FROM hr GROUP BY 1, 2),
         |hagg AS (SELECT source, COUNT(*) AS nb,
         |  CAST(SUM(CAST(1 AS BIGINT) << CAST(50 - reg AS INT)) AS BIGINT)
         |    AS sp
         |  FROM hreg GROUP BY 1),
         |hex AS (SELECT source, CAST(COUNT(DISTINCT s) AS BIGINT) AS n_exact
         |  FROM hsh GROUP BY 1)
         |SELECT e.source, e.n_exact,
         |  CAST(64 - a.nb AS BIGINT) AS hll_zero_regs,
         |  CAST(${graft.text.TextAnalysis.hllNumer(6)} AS DOUBLE) /
         |    CAST(a.sp + (64 - a.nb) * (CAST(1 AS BIGINT) << 50) AS DOUBLE)
         |    AS hll_estimate
         |FROM hex e JOIN hagg a USING (source)
         |ORDER BY source""".stripMargin,

    // salting never changes the result set — the oracle is the PLAIN join
    "q92_salted_join" ->
      s"""WITH ev AS ($sqlEvents),
         |dim AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS user_events
         |  FROM ev GROUP BY 1)
         |SELECT e.event_id, e.user_id, e.event_type, d.user_events
         |FROM ev e JOIN dim d USING (user_id)
         |ORDER BY e.event_id""".stripMargin,

    // Morton interleave mirrored bit-for-bit: BIGINT shifts both sides,
    // 6 bits per axis → z < 4096, never near the sign bit
    "q98_zorder_key" -> {
      val terms = (0 until 6).map { i =>
        s"(((zx >> $i) & 1) << ${2 * i}) + (((zy >> $i) & 1) << ${2 * i + 1})"
      }.mkString(" + ")
      s"""WITH ev AS (SELECT event_id,
         |  epoch_ns(ts) // 1000000000 AS u, user_id FROM events),
         |xy AS (SELECT event_id,
         |  user_id % 64 AS zx, (u // 3600) % 64 AS zy FROM ev)
         |SELECT event_id, zx, zy, CAST($terms AS BIGINT) AS zval
         |FROM xy ORDER BY event_id""".stripMargin
    },

    // the aggregate's kept set equals the window top-k by construction —
    // the window form IS the oracle
    "q103_grouped_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |scored AS (SELECT label, vec_id,
         |  ${sqlCosine("embedding", "(SELECT qv FROM q)")} AS dist
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |r AS (SELECT label, vec_id, dist,
         |  CAST(row_number() OVER (PARTITION BY label
         |    ORDER BY dist, vec_id) AS INT) AS rank FROM scored)
         |SELECT label, rank, vec_id, dist FROM r WHERE rank <= 3
         |ORDER BY label, rank""".stripMargin,

    // stripe features per q38's chain; integer mean threshold (f_i*8 >
    // Σf, no division); sig and l1 BIGINT both sides
    "q102_blob_phash" -> {
      val fcols = (0 until 8).map(i =>
        s"CAST(COALESCE(MAX(CASE WHEN stripe = $i THEN sv END), 0) AS BIGINT) AS f$i")
        .mkString(",\n  ")
      val tot = (0 until 8).map(i => s"f$i").mkString(" + ")
      val sig = (0 until 8).map(i =>
        s"(CASE WHEN f$i * 8 > $tot THEN CAST(${1L << i} AS BIGINT) " +
          s"ELSE CAST(0 AS BIGINT) END)").mkString(" + ")
      val l1 = (0 until 8).map(i => s"abs(a.f$i - b.f$i)").mkString(" + ")
      s"""WITH pbase AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
         |un AS (SELECT doc_id, text FROM pbase
         |  UNION ALL
         |  SELECT doc_id + 5000, 'x' || substr(text, 2) FROM pbase),
         |d AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM un),
         |bb AS (SELECT doc_id, n, unnest(range(n)) AS i, text FROM d),
         |ss AS (SELECT doc_id,
         |  least(i // greatest((n + 7) // 8, 1), 7) AS stripe,
         |  CAST(ascii(text[i+1:i+1]) AS BIGINT) AS v FROM bb),
         |ag AS (SELECT doc_id, stripe, SUM(v) AS sv FROM ss GROUP BY 1, 2),
         |fx AS (SELECT d.doc_id,
         |  $fcols
         |  FROM d LEFT JOIN ag ON d.doc_id = ag.doc_id
         |  GROUP BY d.doc_id),
         |sg AS (SELECT doc_id, CAST($sig AS BIGINT) AS sig,
         |  f0, f1, f2, f3, f4, f5, f6, f7 FROM fx),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sig,
         |  CAST($l1 AS BIGINT) AS l1
         |  FROM sg a JOIN sg b ON a.sig = b.sig AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, sig, l1 FROM p WHERE l1 <= 200
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q101_retention" ->
      s"""WITH ev AS (SELECT user_id,
         |  CAST(make_timestamp(epoch_ns(ts) // 1000) AS DATE) AS d
         |  FROM events),
         |cohorts AS (SELECT user_id, MIN(d) AS cohort_day
         |  FROM ev GROUP BY 1)
         |SELECT c.cohort_day,
         |  CAST(date_diff('day', c.cohort_day, e.d) AS INT) AS day_offset,
         |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
         |FROM ev e JOIN cohorts c USING (user_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q100_knn_graph" ->
      s"""WITH v AS (SELECT vec_id AS id, embedding AS emb FROM embeddings
         |  WHERE vec_id < 300 AND embedding IS NOT NULL),
         |p AS (SELECT a.id AS id_a, b.id AS id_b,
         |  ${sqlCosine("a.emb", "b.emb")} AS dist
         |  FROM v a JOIN v b ON a.id <> b.id),
         |r AS (SELECT id_a, id_b, dist,
         |  CAST(row_number() OVER (PARTITION BY id_a
         |    ORDER BY dist, id_b) AS INT) AS rank FROM p)
         |SELECT id_a, id_b, dist, rank FROM r WHERE rank <= 5
         |ORDER BY id_a, rank""".stripMargin,

    "q99_record_linkage" ->
      """WITH base AS (SELECT doc_id, substr(text, 1, 24) AS t
        |  FROM documents WHERE doc_id < 200),
        |catb AS (SELECT doc_id + 100000 AS doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN substr(t, 2)
        |       WHEN doc_id % 3 = 0 THEN t || '!'
        |       ELSE t END AS t FROM base),
        |l AS (SELECT doc_id AS id, t FROM base WHERE length(t) >= 3),
        |r AS (SELECT doc_id AS id, t FROM catb WHERE length(t) >= 3),
        |p AS (SELECT l.id AS id_a, r.id AS id_b,
        |  CAST(levenshtein(l.t, r.t) AS INT) AS dist FROM l, r)
        |SELECT id_a, id_b, dist FROM p WHERE dist <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // segment blocking is complete for ed <= k, so the oracle is the
    // brute-force quadratic scan
    "q97_fuzzy_join" ->
      """WITH base AS (SELECT doc_id, substr(text, 1, 24) AS t
        |  FROM documents WHERE doc_id < 300),
        |dirty AS (SELECT doc_id, t FROM base
        |  UNION ALL
        |  SELECT doc_id + 5000, substr(t, 2) FROM base WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 6000, substr(t, 1, 2) || '#' || substr(t, 4)
        |  FROM base WHERE doc_id % 11 = 0),
        |s AS (SELECT doc_id AS id, t FROM dirty WHERE length(t) >= 3),
        |p AS (SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(levenshtein(a.t, b.t) AS INT) AS dist
        |  FROM s a JOIN s b ON a.id < b.id)
        |SELECT id_a, id_b, dist FROM p WHERE dist <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // the bloom is pure reduction — no false negatives — so the oracle
    // is the plain selective join
    "q96_bloom_join" ->
      """WITH hot AS (SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_totalprice > 489000.0)
        |SELECT o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS total_qty
        |FROM lineitem JOIN hot ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,

    "q93_snapshot_diff" ->
      """WITH newsnap AS (
        |  SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' v2'
        |    ELSE text END AS text
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id,
        |    'new doc ' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents WHERE doc_id < 25),
        |o AS (SELECT doc_id AS id, md5(text) AS odig FROM documents),
        |nw AS (SELECT doc_id AS id, md5(text) AS ndig FROM newsnap),
        |j AS (SELECT COALESCE(o.id, nw.id) AS doc_id, odig, ndig
        |  FROM o FULL OUTER JOIN nw ON o.id = nw.id),
        |st AS (SELECT doc_id,
        |  CASE WHEN odig IS NULL THEN 'added'
        |       WHEN ndig IS NULL THEN 'removed'
        |       WHEN odig <> ndig THEN 'changed'
        |       ELSE 'unchanged' END AS status FROM j)
        |SELECT doc_id, status FROM st WHERE status <> 'unchanged'
        |ORDER BY doc_id""".stripMargin,

    "q94_stratified_take" ->
      s"""WITH r AS (SELECT doc_id, source,
         |  row_number() OVER (PARTITION BY source
         |    ORDER BY ${sqlPolyHash("text")}, doc_id) AS rk
         |  FROM documents)
         |SELECT doc_id, source FROM r WHERE rk <= 5
         |ORDER BY doc_id""".stripMargin,

    // PageRank unrolled 3 iterations: per-edge contributions quantize to
    // DECIMAL(25,6) pre-sum (exact, order-free); the affine update keeps
    // Spark's expression tree — base + (damping * sum), every constant
    // Scala-interpolated or cast to DOUBLE explicitly (bare 0.85 parses
    // as DECIMAL in DuckDB).
    "q95_pagerank" -> {
      val P2 = graft.text.TextMath.Mod
      def edge(j: Int): String = {
        val a = graft.text.TextMath.MinHashA(j)
        val b = graft.text.TextMath.MinHashB(j)
        s"SELECT doc_id AS src, ($a * h + $b) % $P2 % (SELECT n FROM nn) AS dst FROM docs"
      }
      // nn (row count of documents) defines the dst hash range — the edge
      // GRAPH, mirroring the Spark side's `d.count()`. nc (node count of
      // src ∪ dst) feeds the PageRank base/init, mirroring Graph.pageRank's
      // distinct-node N. They coincide on contiguous doc_ids but must be
      // computed separately so a fixture with key gaps stays oracle-exact.
      def contribThenRank(i: Int): String =
        s"""c$i AS (SELECT e.dst,
           |  CAST(SUM(CAST(p.pr / p.deg AS DECIMAL(25,6))) AS DOUBLE) AS s
           |  FROM edges e JOIN pr${i - 1} p ON e.src = p.id GROUP BY e.dst),
           |pr$i AS (SELECT nd.id, nd.deg,
           |  CAST(${1.0 - 0.85} AS DOUBLE) / CAST((SELECT n FROM nc) AS DOUBLE)
           |    + CAST(0.85 AS DOUBLE) * COALESCE(c$i.s, CAST(0.0 AS DOUBLE)) AS pr
           |  FROM nd LEFT JOIN c$i ON nd.id = c$i.dst)""".stripMargin
      s"""WITH docs AS (SELECT doc_id, ${sqlPolyHash("text")} AS h FROM documents),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
         |edges AS (
         |  ${edge(0)}
         |  UNION ALL
         |  ${edge(1)}
         |  UNION ALL
         |  ${edge(2)}),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
         |  FROM edges GROUP BY 1),
         |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
         |nd AS (SELECT id, COALESCE(deg, CAST(0 AS BIGINT)) AS deg
         |  FROM nodes LEFT JOIN deg ON id = src),
         |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nd),
         |pr0 AS (SELECT id, deg,
         |  CAST(1.0 AS DOUBLE) / CAST((SELECT n FROM nc) AS DOUBLE) AS pr
         |  FROM nd),
         |${contribThenRank(1)},
         |${contribThenRank(2)},
         |${contribThenRank(3)}
         |SELECT id, pr FROM pr3 ORDER BY id""".stripMargin
    },

    // q104: q95's chain with (a) only even doc_ids emitting edges — odd
    // targets become dangling — and (b) a dangling-mass CTE per round:
    // dm = DECIMAL-quantized sum of rank over deg-0 nodes, redistributed
    // uniformly inside the affine update. Expression tree mirrors
    // Graph.pageRank exactly: base + d * (COALESCE(s, 0.0) + dm / N).
    "q104_pagerank_dangling" -> {
      val P2 = graft.text.TextMath.Mod
      def edge(j: Int): String = {
        val a = graft.text.TextMath.MinHashA(j)
        val b = graft.text.TextMath.MinHashB(j)
        s"SELECT doc_id AS src, ($a * h + $b) % $P2 % (SELECT n FROM nn) AS dst " +
          "FROM docs WHERE doc_id % 2 = 0"
      }
      def round(i: Int): String =
        s"""dg$i AS (SELECT COALESCE(
           |    CAST(SUM(CAST(pr AS DECIMAL(25,6))) AS DOUBLE),
           |    CAST(0.0 AS DOUBLE)) AS dm
           |  FROM pr${i - 1} WHERE deg = 0),
           |c$i AS (SELECT e.dst,
           |  CAST(SUM(CAST(p.pr / p.deg AS DECIMAL(25,6))) AS DOUBLE) AS s
           |  FROM edges e JOIN pr${i - 1} p ON e.src = p.id GROUP BY e.dst),
           |pr$i AS (SELECT nd.id, nd.deg,
           |  CAST(${1.0 - 0.85} AS DOUBLE) / CAST((SELECT n FROM nc) AS DOUBLE)
           |    + CAST(0.85 AS DOUBLE) * (COALESCE(c$i.s, CAST(0.0 AS DOUBLE))
           |      + (SELECT dm FROM dg$i) / CAST((SELECT n FROM nc) AS DOUBLE))
           |    AS pr
           |  FROM nd LEFT JOIN c$i ON nd.id = c$i.dst)""".stripMargin
      s"""WITH docs AS (SELECT doc_id, ${sqlPolyHash("text")} AS h FROM documents),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
         |edges AS (
         |  ${edge(0)}
         |  UNION ALL
         |  ${edge(1)}
         |  UNION ALL
         |  ${edge(2)}),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
         |  FROM edges GROUP BY 1),
         |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
         |nd AS (SELECT id, COALESCE(deg, CAST(0 AS BIGINT)) AS deg
         |  FROM nodes LEFT JOIN deg ON id = src),
         |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nd),
         |pr0 AS (SELECT id, deg,
         |  CAST(1.0 AS DOUBLE) / CAST((SELECT n FROM nc) AS DOUBLE) AS pr
         |  FROM nd),
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |${round(4)}
         |SELECT id, pr FROM pr4 ORDER BY id""".stripMargin
    },

    // SemDeDup: the q46 Lloyd-training chain (k=8, 2 iterations) feeds a
    // final assignment; pairs verify within cells only; the q71
    // recursive-CTE CC + survivor tail closes groups.
    "q91_semdedup" ->
      s"""WITH RECURSIVE corpus AS (SELECT vec_id AS id, embedding AS v
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |seed AS (
         |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT)
         |      AS centroid_id,
         |    v AS cvec
         |  FROM corpus QUALIFY row_number() OVER (ORDER BY id) <= 8),
         |a1 AS (${sqlIvfAssign("corpus", "seed")}),
         |x1 AS (SELECT centroid_id, unnest(range(len(v))) AS pos,
         |  unnest(v) AS x FROM a1),
         |m1 AS (${sqlIvfMean("x1")}),
         |cent1 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec
         |  FROM m1 GROUP BY 1),
         |a2 AS (${sqlIvfAssign("corpus", "cent1")}),
         |x2 AS (SELECT centroid_id, unnest(range(len(v))) AS pos,
         |  unnest(v) AS x FROM a2),
         |m2 AS (${sqlIvfMean("x2")}),
         |cent2 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec
         |  FROM m2 GROUP BY 1),
         |a3 AS (${sqlIvfAssign("corpus", "cent2")}),
         |pairs AS (
         |  SELECT a.id AS id_a, b2.id AS id_b
         |  FROM a3 a JOIN a3 b2
         |    ON a.centroid_id = b2.centroid_id AND a.id < b2.id
         |  WHERE ${sqlCosine("a.v", "b2.v")} < 0.6),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, x) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.x),
         |comp AS (SELECT id, min(x) AS comp FROM reach GROUP BY id),
         |labeled AS (
         |  SELECT e.vec_id, COALESCE(c.comp, e.vec_id) AS comp
         |  FROM (SELECT vec_id FROM embeddings) e
         |  LEFT JOIN comp c ON e.vec_id = c.id),
         |grp AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS group_size
         |  FROM labeled GROUP BY comp)
         |SELECT l.vec_id, a3.centroid_id, g.group_size
         |FROM labeled l JOIN grp g USING (comp)
         |LEFT JOIN a3 ON a3.id = l.vec_id
         |WHERE l.vec_id = l.comp ORDER BY l.vec_id""".stripMargin,

    // q105: q91's Lloyd chain on the vec_id<300 slice, then BOTH pair
    // searches — primary-cells-only (p1) and probe-2 (p2: rank <= 2
    // probe side vs rank = 1 index side, LEAST/GREATEST-canonicalized,
    // DISTINCT) — flagged against the exact all-pairs ground truth.
    "q105_semdedup_probes" ->
      s"""WITH corpus AS (SELECT vec_id AS id, embedding AS v
         |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id < 300),
         |seed AS (
         |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT)
         |      AS centroid_id,
         |    v AS cvec
         |  FROM corpus QUALIFY row_number() OVER (ORDER BY id) <= 8),
         |a1 AS (${sqlIvfAssign("corpus", "seed")}),
         |x1 AS (SELECT centroid_id, unnest(range(len(v))) AS pos,
         |  unnest(v) AS x FROM a1),
         |m1 AS (${sqlIvfMean("x1")}),
         |cent1 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec
         |  FROM m1 GROUP BY 1),
         |a2 AS (${sqlIvfAssign("corpus", "cent1")}),
         |x2 AS (SELECT centroid_id, unnest(range(len(v))) AS pos,
         |  unnest(v) AS x FROM a2),
         |m2 AS (${sqlIvfMean("x2")}),
         |cent2 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec
         |  FROM m2 GROUP BY 1),
         |ranked AS (SELECT c.id, c.v, s.centroid_id,
         |  row_number() OVER (PARTITION BY c.id
         |    ORDER BY ${sqlCosine("c.v", "s.cvec")}, s.centroid_id) AS crank
         |  FROM corpus c, cent2 s),
         |idx AS (SELECT id, v, centroid_id FROM ranked WHERE crank = 1),
         |prb AS (SELECT id, v, centroid_id FROM ranked WHERE crank <= 2),
         |p1 AS (SELECT a.id AS id_a, b2.id AS id_b
         |  FROM idx a JOIN idx b2
         |    ON a.centroid_id = b2.centroid_id AND a.id < b2.id
         |  WHERE ${sqlCosine("a.v", "b2.v")} < 0.6),
         |p2 AS (SELECT DISTINCT LEAST(a.id, b2.id) AS id_a,
         |    GREATEST(a.id, b2.id) AS id_b
         |  FROM prb a JOIN idx b2
         |    ON a.centroid_id = b2.centroid_id AND a.id <> b2.id
         |  WHERE ${sqlCosine("a.v", "b2.v")} < 0.6),
         |ex AS (SELECT a.id AS id_a, b2.id AS id_b,
         |    ${sqlCosine("a.v", "b2.v")} AS distance
         |  FROM corpus a JOIN corpus b2 ON a.id < b2.id
         |  WHERE ${sqlCosine("a.v", "b2.v")} < 0.6)
         |SELECT e.id_a, e.id_b, e.distance,
         |  (p1.id_a IS NOT NULL) AS in_cell1,
         |  (p2.id_a IS NOT NULL) AS in_cell2
         |FROM ex e
         |LEFT JOIN p1 ON e.id_a = p1.id_a AND e.id_b = p1.id_b
         |LEFT JOIN p2 ON e.id_a = p2.id_a AND e.id_b = p2.id_b
         |ORDER BY e.id_a, e.id_b""".stripMargin,

    "q87_bloom_decontaminate" ->
      s"""WITH train AS (SELECT doc_id AS id, text FROM documents
         |  WHERE doc_id < 200),
         |bench AS (
         |  SELECT doc_id + 5000 AS id, text || ' heldout marker' AS text
         |  FROM documents WHERE doc_id >= 50 AND doc_id < 60
         |  UNION ALL
         |  SELECT 9000 + i AS id,
         |    'benchmark probe question number ' || CAST(i AS VARCHAR) AS text
         |  FROM (SELECT unnest(range(5)) AS i)),
         |bsh AS (SELECT unnest(${sqlShingles("string_split(text, ' ')")}) AS s
         |  FROM bench),
         |bh AS (SELECT s, ${sqlPolyHash("s")} AS h FROM bsh),
         |bbits AS (${sqlBloomBits("bh", "", nHash = 3, bits = 256L * 62)}),
         |bloom AS (SELECT b // 62 AS word_idx,
         |  bit_or(CAST(1 AS BIGINT) << CAST(b % 62 AS INT)) AS word
         |  FROM bbits GROUP BY 1),
         |csh AS (SELECT id, unnest(${sqlShingles("string_split(text, ' ')")}) AS s
         |  FROM train),
         |ch AS (SELECT id, s, ${sqlPolyHash("s")} AS h FROM csh),
         |cbits AS (${sqlBloomBits("ch", "id, s", nHash = 3, bits = 256L * 62)}),
         |probe AS (SELECT id, s,
         |  COALESCE((word & (CAST(1 AS BIGINT) << CAST(b % 62 AS INT))) =
         |    (CAST(1 AS BIGINT) << CAST(b % 62 AS INT)), FALSE) AS hit
         |  FROM cbits LEFT JOIN bloom ON (b // 62) = word_idx),
         |cand AS (SELECT id, s, bool_and(hit) AS candidate
         |  FROM probe GROUP BY 1, 2),
         |perdoc AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(COUNT(CASE WHEN candidate THEN 1 END) AS BIGINT) AS n_bloom_hits
         |  FROM cand GROUP BY id
         |  HAVING COUNT(CASE WHEN candidate THEN 1 END) > 0),
         |tm AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_true_matches
         |  FROM cand WHERE candidate AND s IN (SELECT DISTINCT s FROM bsh)
         |  GROUP BY id)
         |SELECT p.id, n_shingles, n_bloom_hits,
         |  COALESCE(n_true_matches, CAST(0 AS BIGINT)) AS n_true_matches
         |FROM perdoc p LEFT JOIN tm USING (id) ORDER BY p.id""".stripMargin,

    "q84_hybrid_rrf" ->
      s"""WITH ${sqlBm25Ctes(Seq("join", "filter", "merge"))},
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |dense AS (SELECT vec_id AS id, ${sqlCosine("embedding", "qv")} AS dist
         |  FROM embeddings, q WHERE embedding IS NOT NULL
         |  ORDER BY dist, id LIMIT 30),
         |dr AS (SELECT id, CAST(row_number() OVER (ORDER BY dist, id) AS INT)
         |  AS rank_a FROM dense),
         |lex AS (SELECT id, score FROM bm25 ORDER BY score DESC, id LIMIT 30),
         |lr AS (SELECT id, CAST(row_number() OVER (ORDER BY score DESC, id) AS INT)
         |  AS rank_b FROM lex),
         |f AS (SELECT COALESCE(dr.id, lr.id) AS id, rank_a, rank_b,
         |  (COALESCE(CAST(1.0 AS DOUBLE) / (60 + rank_a), CAST(0.0 AS DOUBLE)) +
         |   COALESCE(CAST(1.0 AS DOUBLE) / (60 + rank_b), CAST(0.0 AS DOUBLE)))
         |    AS rrf
         |  FROM dr FULL OUTER JOIN lr ON dr.id = lr.id)
         |SELECT id, rank_a, rank_b, rrf FROM f ORDER BY rrf DESC, id LIMIT 20""".stripMargin,

    "q85_pack_shards" ->
      """WITH d AS (SELECT doc_id AS id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |p AS (SELECT id, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS tokens_before
        |  FROM d)
        |SELECT id, n_tokens, tokens_before,
        |  tokens_before // 2048 AS shard_start,
        |  (tokens_before + n_tokens - 1) // 2048 AS shard_end,
        |  tokens_before % 2048 AS offset_in_shard
        |FROM p ORDER BY id""".stripMargin,

    "q86_temperature_mix" ->
      s"""WITH d AS (SELECT doc_id, text, n_chars,
         |  CASE WHEN source IN ('src14', 'src15', 'src16', 'src17', 'src18')
         |    THEN 'books' WHEN source = 'src19' THEN 'code'
         |    ELSE 'web' END AS meta_source
         |  FROM documents),
         |counts AS (SELECT meta_source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(pow(CAST(COUNT(*) AS DOUBLE), 0.5) AS DECIMAL(25,6)) AS w
         |  FROM d GROUP BY 1),
         |totals AS (SELECT SUM(w) AS tw, CAST(SUM(n_docs) AS BIGINT) AS n
         |  FROM counts),
         |rates AS (SELECT meta_source, n_docs,
         |  CAST(FLOOR(1000000.0 * LEAST(CAST(1.0 AS DOUBLE),
         |    (0.5 * CAST(n AS DOUBLE) * (CAST(w AS DOUBLE) / CAST(tw AS DOUBLE)))
         |      / CAST(n_docs AS DOUBLE))) AS BIGINT) AS rate_ppm
         |  FROM counts CROSS JOIN totals),
         |kept AS (SELECT d.meta_source, d.n_chars, r.rate_ppm
         |  FROM d JOIN rates r USING (meta_source)
         |  WHERE ${sqlPolyHash("d.text")} % 1000000 < r.rate_ppm)
         |SELECT meta_source, CAST(COUNT(*) AS BIGINT) AS kept_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
         |  MAX(rate_ppm) AS rate_ppm
         |FROM kept GROUP BY meta_source ORDER BY meta_source""".stripMargin,

    // q50's training/assignment/probe chain verbatim, with the label
    // predicate applied inside the probed-cell scope (hits) and to the
    // exact baseline — the filtered-ANN contract: winners satisfy the
    // filter by construction, recall measured against the FILTERED
    // exact top-k
    "q132_ivf_filtered" ->
      s"""WITH corpus AS (
         |  SELECT vec_id AS id, embedding AS v FROM embeddings
         |  WHERE embedding IS NOT NULL),
         |lab AS (SELECT vec_id AS id, label FROM embeddings),
         |sample AS (SELECT * FROM corpus WHERE id % 5 = 0),
         |seed AS (
         |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS centroid_id,
         |    v AS cvec
         |  FROM sample QUALIFY row_number() OVER (ORDER BY id) <= 4),
         |a1 AS (${sqlIvfAssign("sample", "seed")}),
         |x1 AS (SELECT centroid_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM a1),
         |m1 AS (${sqlIvfMean("x1")}),
         |cent1 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM m1 GROUP BY 1),
         |a2 AS (${sqlIvfAssign("sample", "cent1")}),
         |x2 AS (SELECT centroid_id, unnest(range(len(v))) AS pos, unnest(v) AS x FROM a2),
         |m2 AS (${sqlIvfMean("x2")}),
         |cent2 AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM m2 GROUP BY 1),
         |af AS (${sqlIvfAssign("corpus", "cent2")}),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |probed AS (
         |  SELECT centroid_id FROM cent2, q
         |  ORDER BY ${sqlCosine("cvec", "qv")}, centroid_id LIMIT 2),
         |hits AS (
         |  SELECT af.id, af.centroid_id, ${sqlCosine("af.v", "qv")} AS score
         |  FROM af JOIN probed USING (centroid_id) JOIN lab USING (id), q
         |  WHERE lab.label % 3 = 1
         |  ORDER BY score, af.id LIMIT 10),
         |exact AS (SELECT c.id FROM corpus c JOIN lab USING (id), q
         |  WHERE lab.label % 3 = 1
         |  ORDER BY ${sqlCosine("c.v", "qv")}, c.id LIMIT 10)
         |SELECT h.id, h.centroid_id, h.score,
         |  (h.id IN (SELECT id FROM exact)) AS in_exact
         |FROM hits h ORDER BY score, id""".stripMargin,

    // the stupid-backoff chain replayed: same tokenization, same lag
    // contexts, same count relations, same CASE and the same
    // DECIMAL(25,12) ln-sum — the α factors written as 0.4 products so
    // both engines compute the identical double
    "q133_ngram_lm" -> sqlLmBackoff("doc_id % 10 < 8"),

    // q133's chain with the retracted docs OUT of the train set: the
    // oracle recounts wholesale, the engine merges build + append +
    // negative-count delete segments — additive counts make them equal
    "q136_lm_store" -> sqlLmBackoff("doc_id % 10 < 8 AND doc_id % 7 <> 3"),

    // q109's full quantizer replay with the label predicate on the ADC
    // ranking AND the exact baseline — training/encoding stay over the
    // whole sub-corpus (the filter scopes the SEARCH, not the model)
    "q137_pq_filtered" ->
      s"""WITH $sqlPqAdcPreamble
         |lab AS (SELECT vec_id AS id, label FROM embeddings),
         |pq AS (SELECT a.id, a.score_adc FROM adc a JOIN lab USING (id)
         |  WHERE lab.label % 3 = 1 ORDER BY score_adc, id LIMIT 10),
         |qq AS (SELECT v AS qv FROM corpus WHERE id = 0),
         |exact AS (SELECT c.id FROM corpus c JOIN lab USING (id), qq
         |  WHERE lab.label % 3 = 1
         |  ORDER BY ${sqlL2Sq("c.v", "qv")}, c.id LIMIT 10)
         |SELECT p.id, p.score_adc,
         |  (p.id IN (SELECT id FROM exact)) AS in_exact
         |FROM pq p ORDER BY score_adc, id""".stripMargin,

    // the q50 Lloyd chain trained on the CORPUS side (no sample filter —
    // the call trains on the full corpus arg), then the probe/index
    // split: corpus at crank=1, queries at crank<=nprobe, candidates
    // meet in the cell equi-join, exact broadcast join flags recall
    "q138_ivf_knn_join" ->
      s"""WITH ${sqlIvfJoinCtes(qsWhere = "vec_id < 20", nprobe = 2, k = 5)},
         |exact AS (
         |  SELECT q.id AS query_id, c.id AS neighbor_id
         |  FROM qs q, corpus c
         |  QUALIFY row_number() OVER (PARTITION BY q.id
         |    ORDER BY ${sqlCosine("c.v", "q.v")}, c.id) <= 5)
         |SELECT p.query_id, p.neighbor_id, p.score, p.rank,
         |  (e.neighbor_id IS NOT NULL) AS in_exact
         |FROM probe p LEFT JOIN exact e USING (query_id, neighbor_id)
         |ORDER BY query_id, rank""".stripMargin,

    // q138's probe chain over the benchmark slice, thresholded and
    // re-aggregated per benchmark doc; the LEFT JOIN keeps clean docs
    // as zero-hit rows (their min_score is NULL in both engines)
    "q139_semantic_decon" ->
      s"""WITH ${sqlIvfJoinCtes(qsWhere = "vec_id < 50", nprobe = 2, k = 10)},
         |near AS (SELECT * FROM probe WHERE score < 0.35)
         |SELECT q.id AS query_id,
         |  CAST(COUNT(n.neighbor_id) AS BIGINT) AS n_close,
         |  MIN(n.score) AS min_score,
         |  COUNT(n.neighbor_id) > 0 AS contaminated
         |FROM qs q LEFT JOIN near n ON n.query_id = q.id
         |GROUP BY q.id ORDER BY query_id""".stripMargin,

    // every stage's exact arithmetic already gates on its own (q27
    // langid, q26 quality, q28 fingerprint, q133 LM); the cascade
    // composes them with a first-failing-reason CASE and rolls up
    "q140_curation_cascade" -> {
      val stops = TextAnalysis.Stopwords.map(x => s"'$x'").mkString(", ")
      val hits = TextAnalysis.LangMarkers.map { case (lang, ms) =>
        val set = ms.map(m => s"'$m'").mkString(", ")
        s"CAST(len(list_filter(string_split(text, ' '), t -> t IN ($set))) AS BIGINT) AS h_$lang"
      }.mkString(",\n  ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val best = s"greatest(${langs.map(l => s"h_$l").mkString(", ")})"
      val caseChain = langs.map(l => s"WHEN h_$l = $best THEN '$l'")
        .mkString(" ")
      s"""WITH ${sqlLmCtes("doc_id % 10 < 8")},
         |lmscore AS (
         |  SELECT id AS doc_id,
         |    CAST(SUM(CAST(lp AS DECIMAL(25,12))) AS DOUBLE) /
         |      CAST(COUNT(*) AS DOUBLE) AS avg_logprob
         |  FROM lp GROUP BY id),
         |marked AS (SELECT doc_id, source, text, $hits FROM documents),
         |sig AS (
         |  SELECT doc_id, source,
         |    CASE $caseChain ELSE 'und' END AS lang_pred,
         |    least(1.0, CAST(len(string_split(text, ' ')) AS BIGINT) / 100.0) * 0.5 +
         |      (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) /
         |        CAST(length(text) AS DOUBLE)) * 0.25 +
         |      least(1.0, (CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS DOUBLE) /
         |        CAST(len(string_split(text, ' ')) AS DOUBLE)) * 5.0) * 0.25 AS quality,
         |    ${sqlPolyHash("text")} AS fp
         |  FROM marked),
         |canon AS (SELECT fp, MIN(doc_id) AS canon_id FROM sig GROUP BY fp),
         |staged AS (
         |  SELECT s.source,
         |    CASE WHEN s.lang_pred <> 'en' THEN '1_lang'
         |      WHEN s.quality < 0.6 THEN '2_quality'
         |      WHEN l.avg_logprob < -6.0 THEN '3_lm'
         |      WHEN s.doc_id <> c.canon_id THEN '4_duplicate'
         |      ELSE 'keep' END AS reason
         |  FROM sig s JOIN lmscore l USING (doc_id) JOIN canon c USING (fp))
         |SELECT source, reason, CAST(COUNT(*) AS BIGINT) AS n
         |FROM staged GROUP BY 1, 2 ORDER BY source, reason""".stripMargin
    },

    // the probe chain at nprobe=1 + the exact gold ranking, then the
    // trec triplet with the same ln-ratio log2 and DECIMAL DCG sums;
    // zero-hit queries keep NULL rr in both engines
    "q141_rank_eval" ->
      s"""WITH $sqlRankEvalCtes
         |SELECT query_id, n_hits, n_gold, recall, rr, ndcg
         |FROM per ORDER BY query_id""".stripMargin,

    // base 5-NN graph + each new node's 5 nearest base members + the
    // reverse links — exactly what hnswAppendIndex commits to layer 0
    "q145_hnsw_insert" ->
      s"""WITH base AS (
         |  SELECT vec_id AS id, embedding AS v FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id < 250),
         |batch AS (
         |  SELECT vec_id AS id, embedding AS v FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id >= 250 AND vec_id < 300),
         |g AS (
         |  SELECT a.id AS src, b.id AS dst FROM base a, base b
         |  WHERE a.id <> b.id
         |  QUALIFY row_number() OVER (PARTITION BY a.id
         |    ORDER BY ${sqlCosine("a.v", "b.v")}, b.id) <= 5),
         |ins AS (
         |  SELECT q.id AS src, c.id AS dst FROM batch q, base c
         |  QUALIFY row_number() OVER (PARTITION BY q.id
         |    ORDER BY ${sqlCosine("c.v", "q.v")}, c.id) <= 5),
         |alledges AS (
         |  SELECT src, dst FROM g
         |  UNION ALL SELECT src, dst FROM ins
         |  UNION ALL SELECT dst AS src, src AS dst FROM ins)
         |SELECT src, dst FROM alledges ORDER BY src, dst""".stripMargin,

    // the ≠-label filter precedes the per-anchor rank — same window
    // arithmetic as every knn oracle
    "q146_hard_negatives" ->
      s"""WITH anchors AS (
         |  SELECT vec_id AS id, embedding AS v, label FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id < 20),
         |corpus AS (
         |  SELECT vec_id AS id, embedding AS v, label FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id >= 100)
         |SELECT a.id AS query_id, c.id AS neighbor_id,
         |  c.label AS neg_label,
         |  ${sqlCosine("c.v", "a.v")} AS score,
         |  CAST(row_number() OVER (PARTITION BY a.id
         |    ORDER BY ${sqlCosine("c.v", "a.v")}, c.id) AS INT) AS rank
         |FROM anchors a, corpus c
         |WHERE c.label <> a.label
         |QUALIFY rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // zero-overlap chunking + the q35 embedder replication per chunk +
    // DECIMAL per-dimension means + the same fp32-rounded renormalize
    "q147_pooled_embedding" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents WHERE doc_id < 100),
         |nch AS (SELECT doc_id, w, greatest(1, CAST(ceil(
         |    CAST(len(w) AS DOUBLE) / 30.0) AS INT)) AS nc FROM d),
         |cks AS (SELECT doc_id, w, unnest(range(nc)) AS idx FROM nch),
         |src AS (SELECT doc_id * 1000 + idx AS key, doc_id,
         |  array_to_string(list_slice(w, idx * 30 + 1, idx * 30 + 30), ' ')
         |    AS text FROM cks),
         |$sqlEmbedderCtes,
         |px AS (SELECT s.doc_id, unnest(range(len(nm.v))) AS pos,
         |    unnest(nm.v) AS x
         |  FROM normed nm JOIN src s ON s.key = nm.key),
         |mn AS (SELECT doc_id, pos,
         |    CAST(SUM(CAST(x AS DECIMAL(25,12))) AS DOUBLE) /
         |      CAST(COUNT(*) AS DOUBLE) AS m
         |  FROM px GROUP BY 1, 2),
         |vv AS (SELECT doc_id, list(m ORDER BY pos) AS v FROM mn GROUP BY 1),
         |fin AS (SELECT doc_id, v, list_dot_product(v, v) AS n2 FROM vv),
         |fv AS (SELECT doc_id,
         |  CASE WHEN n2 > 0 THEN list_transform(v,
         |    x -> CAST(CAST(x / sqrt(n2) AS REAL) AS DOUBLE)) ELSE v END AS v
         |  FROM fin)
         |SELECT doc_id, CAST(unnest(range(len(v))) AS INT) AS pos,
         |  unnest(v) AS x
         |FROM fv ORDER BY doc_id, pos""".stripMargin,

    // q141's rows macro-averaged with the trec zero-hit-counts-0 MRR
    // convention, every mean DECIMAL-summed
    "q144_rank_eval_macro" ->
      s"""WITH $sqlRankEvalCtes
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         |  CAST(SUM(CAST(recall AS DECIMAL(25,12))) AS DOUBLE) /
         |    CAST(COUNT(*) AS DOUBLE) AS mean_recall,
         |  CAST(SUM(CAST(COALESCE(rr, 0.0) AS DECIMAL(25,12))) AS DOUBLE) /
         |    CAST(COUNT(*) AS DOUBLE) AS mrr,
         |  CAST(SUM(CAST(ndcg AS DECIMAL(25,12))) AS DOUBLE) /
         |    CAST(COUNT(*) AS DOUBLE) AS mean_ndcg
         |FROM per""".stripMargin,

    // the pack arithmetic (q85's global prefix sum) re-grouped by the
    // first-token window, digests XOR'd over the same poly_hash — the
    // engine's manifest comes from the WRITTEN files, so passing proves
    // the sink landed every doc exactly once in its assigned shard
    "q142_export_shards" ->
      s"""WITH d AS (SELECT doc_id AS id, text,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |p AS (SELECT id, text, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS tokens_before
         |  FROM d)
         |SELECT tokens_before // 2048 AS shard_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
         |  bit_xor(${sqlPolyHash("text")}) AS digest
         |FROM p GROUP BY 1 ORDER BY shard_id""".stripMargin,

    // the index changes the read path, not the math: q138's chain (the
    // index trained on the full corpus = the chain's trainCentroids)
    "q143_ivf_join_index" ->
      s"""WITH ${sqlIvfJoinCtes(qsWhere = "vec_id < 20", nprobe = 2, k = 5)}
         |SELECT query_id, neighbor_id, score, rank FROM probe
         |ORDER BY query_id, rank""".stripMargin,

    // the exponential clocks replayed: same content-hash uniform, same
    // -ln(u)/w key, same (key, id) rank; the key doubles stay internal
    // so ulp differences in pow/ln can only matter on exact rank ties,
    // which the id tiebreak resolves identically
    "q134_weighted_sample" ->
      s"""WITH d AS (SELECT source, doc_id, n_chars, text FROM documents
         |  WHERE n_chars > 0),
         |keyed AS (SELECT source, doc_id, n_chars,
         |  -ln((CAST(${sqlPolyHash("text")} AS DOUBLE) + 1.0) / 1000000008.0)
         |    / CAST(n_chars AS DOUBLE) AS ky
         |  FROM d),
         |rk AS (SELECT source, doc_id, n_chars,
         |  CAST(row_number() OVER (PARTITION BY source ORDER BY ky, doc_id)
         |    AS INT) AS rk
         |  FROM keyed)
         |SELECT source, rk, doc_id, n_chars FROM rk
         |WHERE rk <= 3 ORDER BY source, rk""".stripMargin,

    // both cuts + the exact baseline replayed over list slices; v[1:16]
    // is DuckDB's 1-based inclusive slice = Spark's slice(v, 1, 16)
    "q135_prefix_topk" ->
      s"""WITH corpus AS (
         |  SELECT vec_id AS id, embedding AS v FROM embeddings
         |  WHERE embedding IS NOT NULL),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |pre AS (
         |  SELECT id, v, ${sqlCosine("v[1:16]", "qv[1:16]")} AS pre_score
         |  FROM corpus, q ORDER BY pre_score, id LIMIT 40),
         |hits AS (
         |  SELECT id, pre_score, ${sqlCosine("v", "qv")} AS score
         |  FROM pre, q ORDER BY score, id LIMIT 10),
         |exact AS (SELECT id FROM corpus, q
         |  ORDER BY ${sqlCosine("v", "qv")}, id LIMIT 10)
         |SELECT h.id, h.pre_score, h.score,
         |  (h.id IN (SELECT id FROM exact)) AS in_exact
         |FROM hits h ORDER BY score, id""".stripMargin
  )
}
