package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.cosine_distance

/** Similarity search over an embedding column (`ARRAY<FLOAT>`).
  *
  * Scale posture: single-query top-k plans as `TakeOrderedAndProject`
  * (per-partition heap + driver merge of k rows — no global sort). The
  * multi-query form broadcasts the (small) query set so the corpus is
  * scanned once with no shuffle of corpus rows; ranking is a window over
  * query_id partitions. The IVF variant prunes the corpus to the probed
  * centroid cell(s) before scoring — the 100 TB path.
  */
object Knn {

  /** Stack-safe id IN-list predicate for large shortlists. Spark pushes
    * a `sources.In` to parquet as a LEFT-DEEP `or(eq, or(eq, …))` chain,
    * and parquet-mr evaluates that chain recursively — one stack frame
    * per literal, so a ~1280-value list overflows the default 1 MB task
    * stack (measured: refine=128 × k=10 needed -Xss16m, SCALE.md §r11).
    * Chunking the list into `chunk`-sized `isin` legs OR'd as a BALANCED
    * tree caps the parquet predicate depth at ~chunk + log2(n/chunk),
    * and every leg stays below the parquet pushdown inFilterThreshold
    * regardless of total list size — the full value list always reaches
    * the row-group statistics (no silent (min,max)-range degradation at
    * ANY refine·k, which closes the r10 threshold-cliff class for good).
    * Semantically identical to `idCol.isin(values: _*)` — including the
    * empty list, which matches nothing (`lit(false)`), so callers that
    * pass a starved shortlist (e.g. a filtered refine whose predicate
    * matched zero rows in the probed cells) get an empty result and keep
    * their adaptive-widening loop alive instead of crashing. */
  def chunkedIn(idCol: Column, values: Seq[Any], chunk: Int = 256): Column = {
    require(chunk >= 1, s"chunkedIn: need chunk >= 1, got $chunk")
    if (values.isEmpty) return lit(false)
    def orTree(cs: IndexedSeq[Column]): Column =
      if (cs.length == 1) cs.head
      else {
        val (l, r) = cs.splitAt(cs.length / 2)
        orTree(l) || orTree(r)
      }
    orTree(values.grouped(chunk).map(g => idCol.isin(g: _*)).toIndexedSeq)
  }

  /** Brute-force exact top-k for one query vector. */
  def topK(corpus: DataFrame, vecCol: String, queryVec: Array[Float], k: Int,
      tieBreak: String): DataFrame =
    corpus.filter(col(vecCol).isNotNull)
      .withColumn("score", cosine_distance(col(vecCol), typedLit(queryVec)))
      .orderBy(col("score").asc, col(tieBreak).asc)
      .limit(k)

  /** Binary-sketch pre-filtered search: a seeded-hyperplane sign sketch
    * (`bands`×`rowsPerBand` bits packed into `bands` longs — 8 bytes a
    * vector at the default 2×32) ranks the corpus by Hamming distance to
    * the query's sketch, the `candidates` nearest sketches are kept, and
    * only those are scored with exact cosine for the final top-k.
    *
    * Scale shape: ONE corpus scan; the hot loop per row is the codegen'd
    * sketch ([[graft.functions.hyperplane_bands]]) plus `bands` XOR+
    * popcount integer ops — no float math on the 99.99% of rows the
    * Hamming heap rejects. Both cuts plan as `TakeOrderedAndProject`
    * (per-partition heap of `candidates` rows, driver merge) — no global
    * sort, no shuffle of corpus rows. Candidate rows carry their vector
    * through the heap so the re-rank needs no second scan or join; at
    * `candidates` ≤ a few hundred that is bytes, not gigabytes.
    * Deterministic: ties break on (hamming, key) then (score, key).
    * Returns (keyCol, hamming, score) ordered by (score, key). */
  def hammingPrefilterTopK(corpus: DataFrame, vecCol: String, keyCol: String,
      queryVec: Array[Float], k: Int, candidates: Int,
      bands: Int = 2, rowsPerBand: Int = 32, seed: Long = 777L): DataFrame = {
    val spark = corpus.sparkSession
    // query sketch through the SAME expression (bit-for-bit parity with
    // the corpus side; one local 1-row job, no executor work)
    val qSig = spark.range(1)
      .select(graft.functions.hyperplane_bands(
        typedLit(queryVec), bands, rowsPerBand, seed).as("sk"))
      .head().getSeq[Long](0)
    val sk = corpus.filter(col(vecCol).isNotNull)
      .withColumn("sketch",
        graft.functions.hyperplane_bands(col(vecCol), bands, rowsPerBand, seed))
    val ham = (0 until bands)
      .map(b => bit_count(col("sketch")(b).bitwiseXOR(lit(qSig(b)))))
      .reduce(_ + _)
    sk.withColumn("hamming", ham.cast("long"))
      .orderBy(col("hamming").asc, col(keyCol).asc)
      .limit(candidates)
      .withColumn("score", cosine_distance(col(vecCol), typedLit(queryVec)))
      .orderBy(col("score").asc, col(keyCol).asc)
      .limit(k)
      .select(col(keyCol), col("hamming"), col("score"))
  }

  /** Matryoshka prefix-dimension search (Kusupati et al., "Matryoshka
    * Representation Learning", NeurIPS 2022): stage 1 ranks the corpus
    * by cosine over only the FIRST `dPrefix` components, stage 2
    * exactly re-scores the `factor`·k survivors over the full vector.
    * MRL-trained embeddings front-load information, so a dim/dPrefix×
    * cheaper stage-1 scan buys near-exact recall — the coarse-then-
    * refine dial the fp16/int8/PQ ladder expresses in PRECISION,
    * expressed in DIMENSION instead (the two compose).
    *
    * Scale shape: one corpus scan; both cuts are TakeOrderedAndProject
    * heaps (no shuffle of corpus rows), and candidates carry their full
    * vector through the first heap so the re-rank needs no second scan
    * or join (the [[hammingPrefilterTopK]] discipline). At rest, store
    * the prefix as its OWN column: columnar scans then read dPrefix
    * floats a row for stage 1 and rehydrate the full vector only for
    * the shortlist (the q124 point-probe layout applies verbatim).
    * Deterministic: ties break on (pre_score, key) then (score, key).
    * Returns (keyCol, pre_score, score) ordered by (score, key). */
  def prefixTopK(corpus: DataFrame, vecCol: String, keyCol: String,
      queryVec: Array[Float], k: Int, dPrefix: Int,
      factor: Int = 4): DataFrame = {
    require(dPrefix > 0 && dPrefix <= queryVec.length,
      s"prefixTopK: need 0 < dPrefix <= ${queryVec.length}, got $dPrefix")
    require(factor >= 1, s"prefixTopK: need factor >= 1, got $factor")
    corpus.filter(col(vecCol).isNotNull)
      .withColumn("pre_score", cosine_distance(
        slice(col(vecCol), 1, dPrefix), typedLit(queryVec.take(dPrefix))))
      .orderBy(col("pre_score").asc, col(keyCol).asc)
      .limit(factor * k)
      .withColumn("score", cosine_distance(col(vecCol), typedLit(queryVec)))
      .orderBy(col("score").asc, col(keyCol).asc)
      .limit(k)
      .select(col(keyCol), col("pre_score"), col("score"))
  }

  /** Graph-ANN beam search — the NSW/HNSW query primitive over a
    * precomputed kNN graph (built with [[knnGraph]] / [[cellKnnGraph]]):
    * starting from `entryId`, repeat `hops` times: expand the beam's
    * out-neighbors, score them against the query, keep the best `ef` of
    * (beam ∪ neighbors). Returns the final beam's top-k as
    * (keyCol, score), ordered by (score, key).
    *
    * Fixed hop count rather than expand-until-no-improvement: the beam
    * is monotone (it only ever improves), so `hops` bounds work
    * deterministically — and a data-independent loop is what an oracle
    * can replay. Ties break on id everywhere.
    *
    * Scale shape: the beam is DRIVER state (≤ ef (id, score) pairs —
    * query-vector-legitimate), so the corpus and edge tables never
    * shuffle: a hop is two IN-list-pruned jobs (frontier expansion
    * against the edge relation, scoring of the new candidates), each
    * touching at most ef·degree rows. */
  def graphBeamSearch(corpus: DataFrame, edges: DataFrame, vecCol: String,
      keyCol: String, queryVec: Array[Float], k: Int, ef: Int,
      hops: Int, entryId: Long): DataFrame = {
    require(k >= 1 && ef >= k, s"need 1 <= k=$k <= ef=$ef")
    val spark = corpus.sparkSession
    val v = corpus.filter(col(vecCol).isNotNull)
      .select(col(keyCol).cast("long").as("id"), col(vecCol).as("v"))
    val e = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
    // the beam is DRIVER state (≤ ef (id, score) pairs — the same
    // legitimacy as a query vector or the IVF centroid sidecar), so a
    // hop is exactly TWO pruned jobs: expand the frontier from the edge
    // relation (src IN-list) and score the new candidates (id IN-list).
    // The earlier in-plan form kept the beam lazy — each hop's plan
    // referenced the prior beam twice and every broadcast materialized
    // as its own job, measured ~0.5 s/hop of pure scheduling on a
    // 300-vector corpus (the r10 q127 bench tail). Scores compute
    // through the same codegen'd expression either way, so results are
    // bit-identical to the in-plan form the oracle replays.
    def scoreIds(ids: Seq[Long]): Array[(Long, Double)] =
      if (ids.isEmpty) Array.empty
      else v.filter(chunkedIn(col("id"), ids))
        .withColumn("score",
          cosine_distance(col("v"), typedLit(queryVec)))
        .select(col("id"), col("score"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
    var beam = scoreIds(Seq(entryId)).toSeq
    var hop = 0
    while (hop < hops && beam.nonEmpty) {
      val inBeam = beam.map(_._1).toSet
      val nbrs = e.filter(col("src").isin(beam.map(_._1): _*))
        .select(col("dst")).distinct()
        .collect().map(_.getLong(0)).filterNot(inBeam)
      beam = (beam ++ scoreIds(nbrs.toSeq))
        .sortBy { case (id, s) => (s, id) }
        .take(ef)
      hop += 1
    }
    import spark.implicits._
    beam.sortBy { case (id, s) => (s, id) }.take(k)
      .toDF(keyCol, "score")
  }

  /** Deterministic geometric HNSW level assignment: an affine hash of
    * the id, level = the largest ℓ ≤ maxLevel with hash % 4^ℓ == 0, so
    * each layer keeps ~1/4 of the one below and the level sets NEST
    * (h % 16 == 0 implies h % 4 == 0) — the property HNSW's
    * `floor(-ln(U)/ln(M))` draw has in expectation, made exact and
    * replayable (no RNG state; an oracle computes the same CASE chain).
    */
  def hnswLevel(id: Column, maxLevel: Int): Column = {
    val h = pmod(id * lit(1103515245L) + lit(12345L), lit(1048576L))
    (1 to maxLevel).foldLeft(lit(0)) { (acc, l) =>
      when(pmod(h, lit(1L << (2 * l))) === 0, lit(l)).otherwise(acc)
    }
  }

  /** HNSW-style hierarchical search: the layered entry-point descent on
    * top of [[graphBeamSearch]]'s flat walk. Nodes get geometric levels
    * ([[hnswLevel]]); each upper layer ℓ ∈ [1, maxLevel] is the exact
    * `upperM`-NN graph over the nodes with level ≥ ℓ. The query enters
    * at the top layer's min-id node, GREEDILY descends each upper layer
    * (beam width 1, `upperHops` hops — [[graphBeamSearch]] with
    * ef = k = 1), and runs the full ef-beam only at layer 0 over the
    * caller's `edges` graph, starting from wherever the descent landed.
    *
    * Why layers: a flat walk's hop count to reach the query's
    * neighborhood grows with corpus diameter; the upper layers are
    * expander-like long-range links that cover that distance in
    * O(log n) single-width hops, so layer-0 `hops` can stay small and
    * local. Fully deterministic (affine levels, (dist, id) ties), so an
    * oracle replays the descent hop-for-hop.
    *
    * Scale shape: layer ℓ holds ~n/4^ℓ nodes, so upper-layer graphs are
    * geometrically cheaper than layer 0's; this in-plan form rebuilds
    * them per call as the oracle does, with [[knnGraph]] in O((n/4^ℓ)²). */
  def hnswSearch(corpus: DataFrame, edges: DataFrame, vecCol: String,
      keyCol: String, queryVec: Array[Float], k: Int, ef: Int, hops: Int,
      maxLevel: Int = 2, upperM: Int = 3, upperHops: Int = 4): DataFrame = {
    require(maxLevel >= 1, s"hnswSearch: need maxLevel >= 1, got $maxLevel")
    val v = corpus.filter(col(vecCol).isNotNull)
      .select(col(keyCol).cast("long").as("id"), col(vecCol).as("v"))
    val lev = v.withColumn("level", hnswLevel(col("id"), maxLevel))
    var cur = lev.filter(col("level") >= maxLevel)
      .agg(min(col("id"))).head().getLong(0)
    var l = maxLevel
    while (l >= 1) {
      val sub = lev.filter(col("level") >= l)
        .select(col("id").as(keyCol), col("v").as(vecCol))
      // each greedy hop references this layer's graph — materialize it
      // once (layers are ~4^-ℓ of the corpus)
      val subEdges = knnGraph(sub, vecCol, keyCol, topK = upperM)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint()
      cur = graphBeamSearch(sub, subEdges, vecCol, keyCol, queryVec,
        k = 1, ef = 1, hops = upperHops, entryId = cur).head().getLong(0)
      l -= 1
    }
    graphBeamSearch(corpus, edges, vecCol, keyCol, queryVec, k, ef, hops,
      entryId = cur)
  }

  /** Approximate kNN-graph CONSTRUCTION by NN-Descent (Dong et al.,
    * WWW'11) — the scale path that [[knnGraph]]'s O(n²) oracle form and
    * [[cellKnnGraph]]'s celled form lead to: seed each node with k
    * pseudo-random partners (a seeded LCG over the node's dense rank —
    * deterministic, and the long-range links give the seed graph
    * O(log n) diameter, which is what lets a handful of rounds reach
    * anywhere; a ring seed's n/k diameter strands recall), then `rounds`
    * times propose every neighbor-of-neighbor over the UNDIRECTED
    * current graph and keep each node's k best by (distance, id).
    *
    * Per round the candidate set is ≤ (2k)² proposals per node — the
    * whole round is equi-joins + one window top-k, never an n² pair
    * join; distances are only computed for proposed pairs. Fully
    * deterministic (LCG seed, (dist, id) ranking), so an oracle can
    * replay every round. The dense-rank seeding uses one global-order
    * window — a one-time O(n log n) sort; at corpus scale seed from LSH
    * buckets ([[graft.functions.hyperplane_bands]]) instead.
    *
    * `buildK` is the in-flight breadth (Dong et al.'s K̃): rounds keep
    * `buildK` candidates per node and only the final output truncates to
    * k. Breadth, not round count, is the recall dial — measured on the
    * test corpus, k=5 pure plateaus at 0.63 recall however many rounds,
    * while buildK=10 reaches 0.97 in 3 (KnnSpec pins this). Defaults to
    * 2k. Returns (id_a, id_b, dist, rank) like [[knnGraph]].
    *
    * Mind the VECTOR WIDTH: proposal joins carry both endpoint vectors,
    * so per-round shuffle is ~(2·buildK)²·n·(2·vecBytes) — fine at the
    * 64-dim bench corpus, ~2 TB/round at 200 k × 3072-dim fp32
    * (measured to exhaust local disk). At wide dims use
    * [[nnDescentGraphCompressed]] — the same descent with rounds ranked
    * over int8 blobs or PQ codes and exact distances recomputed only
    * for the final kept edges — or build with [[cellKnnGraph]], whose
    * one big exchange is n·nprobe vector rows. */
  def nnDescentGraph(corpus: DataFrame, vecCol: String, keyCol: String,
      k: Int, rounds: Int, buildK: Int = -1,
      checkpointEvery: Int = 1, maxInDegree: Int = 0): DataFrame = {
    val bk = if (buildK <= 0) 2 * k else buildK
    require(k >= 1 && rounds >= 0 && bk >= k && checkpointEvery >= 1,
      s"need 1 <= k <= buildK, rounds >= 0, checkpointEvery >= 1")
    val v = corpus.filter(col(vecCol).isNotNull)
      .select(col(keyCol).cast("long").as("id"), col(vecCol).as("v"))
    val kept = nnDescentRounds(v.select(col("id"), col("v").as("c")),
      (a, b) => cosine_distance(a, b), rounds, bk, checkpointEvery,
      maxInDegree)
    nnDescentFinish(kept, v, k)
  }

  /** [[nnDescentGraph]] with the proposal ROUNDS run over compressed
    * codes — the mitigation the vector-width caveat above prescribes.
    * Every round's shuffle carries codec bytes a vector instead of
    * 4-byte floats; the final kept edges (n·buildK pairs, ~(2·buildK)²/
    * (2·buildK) = 2·buildK× fewer than one round's proposals) are
    * re-scored EXACTLY over the fp32 vectors, and only that truncation
    * to k is what the caller sees — `dist` in the output is the true
    * cosine distance, not the codec's.
    *
    * Codecs:
    *  - `"int8"` (default): 1 byte/dim blobs, ranked by
    *    [[graft.functions.int8_cosine_codes]] (scales cancel in cosine,
    *    so the hot loop is integer dot products). ~4× less shuffle than
    *    fp32 at near-lossless ranking — the right dial when descent
    *    QUALITY must match the fp32 build.
    *  - `"pq"`: m-byte PQ codes ranked by symmetric distance over
    *    driver-precomputed codeword-pair tables
    *    ([[graft.functions.pq_sdc_score]]). Vectors are unit-normalized
    *    before training/encoding so SDC's L2² ranks like cosine
    *    (L2² = 2·cosdist on unit vectors). dim·4/m× less shuffle
    *    (384× at 3072-dim, m=32) — the 100-TB dial; coarser ranking
    *    means give it a round or a few buildK more than fp32 needs.
    *    `pqTrainFilter` bounds the Lloyd sample at corpus scale.
    *
    * At 200 k × 3072-dim fp32 a round shuffles ~2 TB and exhausts local
    * disk (the documented failure); int8 brings it to ~½ TB and pq m=32
    * to ~5 GB — the graph-index build path at the reference's
    * corpus-wide ingest scale.
    *
    * DIAL RULE (measured, SCALE.md §r14 ladder): at FIXED rounds/buildK
    * edge recall DECAYS as n grows (~0.53→0.35→0.13 over 25k→50k→100k
    * on uniform data) — the descent propagates neighborhoods roughly
    * one hop per round and the graph's effective diameter grows with
    * log n. Grow `rounds` by ONE PER DOUBLING of n at fixed buildK:
    * that held recall ~flat on both the uniform fixture (0.93 at
    * 50k/rounds=4 and 100k/rounds=5) and the hub-capped manifold
    * fixture (0.70→0.88 over the same ladder). Rounds are the cheap
    * dial — each adds one ~constant-size shuffle — where buildK grows
    * every round's shuffle AND the final re-score quadratically-ish
    * (rounds=5/buildK=10 matched rounds=4/buildK=14's recall at 40% of
    * its wall). Anchor: rounds ≈ 4 + log2(n / 50_000) at buildK = 2k.
    * On hub-skewed (realistic) data always set `maxInDegree` ≈
    * 2·buildK — see the cap note below. */
  def nnDescentGraphCompressed(corpus: DataFrame, vecCol: String,
      keyCol: String, k: Int, rounds: Int, buildK: Int = -1,
      checkpointEvery: Int = 1, codec: String = "int8",
      m: Int = 32, ksub: Int = 64, pqIters: Int = 2,
      pqTrainFilter: Option[Column] = None,
      maxInDegree: Int = 0): DataFrame = {
    val bk = if (buildK <= 0) 2 * k else buildK
    require(k >= 1 && rounds >= 0 && bk >= k && checkpointEvery >= 1,
      s"need 1 <= k <= buildK, rounds >= 0, checkpointEvery >= 1")
    val v = corpus.filter(col(vecCol).isNotNull)
      .select(col(keyCol).cast("long").as("id"), col(vecCol).as("v"))
    val kept = codec match {
      case "int8" =>
        nnDescentRounds(
          v.select(col("id"), graft.functions.int8_encode(col("v")).as("c")),
          (a, b) => graft.functions.int8_cosine_codes(a, b),
          rounds, bk, checkpointEvery, maxInDegree)
      case "pq" =>
        // unit-normalize so the symmetric L2² tables rank like cosine.
        // TWO checkpointed steps, deliberately: HOFs run interpreted
        // (the SCALE.md caveat), and an inline `x / sqrt(aggregate(v))`
        // inside the transform lambda re-evaluates the whole-array
        // aggregate PER ELEMENT once Catalyst collapses the projects —
        // O(dim²) interpreted ops a row (measured: a 5 k × 3072 soak
        // parked 20+ min in ArrayAggregate.eval). Materializing the
        // norm column behind a checkpoint barrier makes it once-per-row,
        // and the second checkpoint keeps pqTrain's m×iters Lloyd
        // actions from re-running the normalize per subspace action.
        val norm = sqrt(aggregate(col("v"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double")))
        val withNorm = v.select(col("id"), col("v"), norm.as("__n"))
          .localCheckpoint()
        // zero-norm guard (matches Pooling's CASE WHEN __n2 > 0): an
        // all-zero vector passes through unchanged instead of dividing
        // 0/0 — NaN unit rows would feed pqTrain and a single NaN
        // training row poisons its centroid, corrupting SDC ranking
        // corpus-wide
        val unit = withNorm.select(col("id"),
          when(col("__n") > 0d,
            transform(col("v"),
              x => (x.cast("double") / col("__n")).cast("float")))
            .otherwise(col("v")).as("u"))
          .localCheckpoint()
        // pqTrainFilter references the CALLER's corpus columns (like
        // ivfPqBuildIndex's): the keep-set semi-joins onto the internal
        // unit frame by key
        val trainUnit = pqTrainFilter.fold(unit) { f =>
          unit.join(corpus.filter(f)
              .select(col(keyCol).cast("long").as("id")),
            Seq("id"), "left_semi")
        }
        val cb = collectCodebooks(pqTrain(trainUnit, "u", "id",
          m, ksub, pqIters))
        val tables = graft.functions.PqMath.sdcTables(cb)
        nnDescentRounds(
          unit.select(col("id"),
            graft.functions.pq_encode(col("u"), cb).as("c")),
          (a, b) => graft.functions.pq_sdc_score(a, b, tables),
          rounds, bk, checkpointEvery, maxInDegree)
      case other => throw new IllegalArgumentException(
        s"nnDescentGraphCompressed: codec must be int8 or pq, got $other")
    }
    nnDescentFinish(kept, v, k)
  }

  /** The shared descent engine: seed each node with `bk` LCG partners,
    * then `rounds` of propose-over-neighbors-of-neighbors, ranking by
    * `dist` over the (id, c) relation — c is whatever representation
    * the caller chose (fp32 arrays, int8 blobs, PQ codes). Returns the
    * kept (id_a, id_b) edges at breadth `bk`. */
  /** 0-based rank of every id by ascending id — the descent's seed
    * numbering. zipWithIndex-derived (a range-partitioned sort, then
    * per-partition counts + offsets), NOT `row_number` over an
    * unpartitioned window: the window form funnels the whole corpus
    * through ONE task's sort — column-pruned to 8-byte ids, but still a
    * serial bottleneck at 10⁹ nodes. Identical assignment to
    * `row_number().over(Window.orderBy(id)) - 1`. */
  private[similarity] def seedRanks(codes: DataFrame): DataFrame = {
    val ss = codes.sparkSession
    import ss.implicits._
    codes.select(col("id")).sort(col("id"))
      .as[Long].rdd.zipWithIndex().toDF("id", "rk")
  }

  private def nnDescentRounds(codes: DataFrame,
      dist: (Column, Column) => Column, rounds: Int, bk: Int,
      checkpointEvery: Int, maxInDegree: Int = 0): DataFrame = {
    val n = codes.count()
    // glibc LCG over (rank, j) — partner ranks scatter uniformly, so the
    // seed graph is an expander; (x % 2^31) keeps every intermediate in
    // BIGINT range for the SQL replay. Checkpointed: the RDD-backed rank
    // frame is referenced bk+1 times below and would re-run the sort+
    // zip job per reference otherwise.
    val rk = seedRanks(codes).localCheckpoint()
    var edges = (1 to bk)
      .map(j => rk.select(col("id").as("id_a"), col("rk").as("rk_a"),
        (((col("rk") % 2147483648L) * 1103515245L + lit(j * 12345L))
          % 2147483648L % n).as("rk_b")))
      .reduce(_ unionByName _)
      .filter(col("rk_b") =!= col("rk_a"))
      .join(rk.select(col("rk").as("rk_b"), col("id").as("id_b")), Seq("rk_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    var r = 0
    while (r < rounds) {
      val undAll = edges.unionByName(
          edges.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
        .distinct()
      // maxInDegree > 0 caps each node's PROPOSAL adjacency — Dong et
      // al.'s reverse-neighbor sampling (WWW'11 §2.3, the ρ dial).
      // Out-degree is ≤ bk by construction, but in-degree is unbounded,
      // and the self-join's cost at a hub is (in-degree)² — on
      // hub-skewed data (low intrinsic dimension, i.e. real embedding
      // corpora) a single popular node can own millions of proposal
      // rows per round (measured: the manifold fixture at 100 k spilled
      // >50 GB where the uniform fixture's whole build shuffles 19 GB).
      // The kept sample is pseudo-random via the same replayable LCG
      // arithmetic as the seed graph — deterministic, unbiased across
      // id ranges, SQL-reproducible if an oracle ever needs it.
      val und =
        if (maxInDegree <= 0) undAll
        else {
          val wCap = Window.partitionBy(col("id_a")).orderBy(
            (((col("id_b") % 2147483648L) * 1103515245L +
              col("id_a") * 12345L) % 2147483648L).asc, col("id_b").asc)
          undAll.withColumn("__r", row_number().over(wCap))
            .filter(col("__r") <= maxInDegree)
            .drop("__r")
        }
      val prop = und.as("e1")
        .join(und.as("e2"), col("e1.id_b") === col("e2.id_a"))
        .select(col("e1.id_a").as("id_a"), col("e2.id_b").as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
      val all = prop.unionByName(edges).distinct()
      val scored = all
        .join(codes.select(col("id").as("id_a"), col("c").as("ca")), Seq("id_a"))
        .join(codes.select(col("id").as("id_b"), col("c").as("cb")), Seq("id_b"))
        .withColumn("dist", dist(col("ca"), col("cb")))
      val w = Window.partitionBy(col("id_a"))
        .orderBy(col("dist").asc, col("id_b").asc)
      val kept = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= bk)
        .select(col("id_a"), col("id_b"))
      // localCheckpoint each round (default): the NEXT round references
      // `edges` four times (both sides of the undirected self-join, the
      // proposal union, the rank input) — without materialization every
      // reference re-executes the whole prior lineage (measured 28%
      // slower at checkpointEvery=2 on the 200-node gate)
      edges =
        if ((r + 1) % checkpointEvery == 0 && r + 1 < rounds)
          kept.localCheckpoint()
        else kept
      r += 1
    }
    edges
  }

  /** Exact fp32 re-score of the kept edges + truncation to the caller's
    * k — the only stage that touches full-width vectors in a compressed
    * descent, and it touches n·buildK pairs, not a round's proposals. */
  private def nnDescentFinish(kept: DataFrame, v: DataFrame,
      k: Int): DataFrame =
    kept
      .join(v.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(v.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("dist", cosine_distance(col("va"), col("vb")))
      .withColumn("rank", row_number().over(Window.partitionBy(col("id_a"))
        .orderBy(col("dist").asc, col("id_b").asc)))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("id_b"), col("dist"), col("rank"))

  /** Structured-Streaming micro-batch maintenance of a persistent IVF
    * index — the vector twin of
    * [[graft.text.TextRank.appendLexicalIndexStream]]: each micro-batch
    * lands as one immutable cell segment + one atomic pointer commit via
    * `foreachBatch` (the index is far too large for the state store and
    * lives naturally as the sink). The FIRST batch builds — its rows are
    * the training sample, and that geometry is then FROZEN for every
    * subsequent append (the documented frozen-geometry contract;
    * recall decay under drift is the re-train trigger). Caller supplies
    * `.option("checkpointLocation", ...)` and `.start()`. At-least-once
    * caveat: a replayed batch appends its cells twice — compact with
    * [[ivfCompactIndex]] after recovery. */
  def ivfAppendIndexStream(batches: DataFrame, vecCol: String,
      keyCol: String, indexDir: String, k: Int = 4, iters: Int = 2,
      fp16: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batches.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        if (graft.sync.SegmentedIndex.resolve(spark, indexDir).isEmpty)
          ivfBuildIndex(batch, vecCol, keyCol, indexDir, k = k,
            iters = iters, trainFilter = lit(true), fp16 = fp16)
        else ivfAppendIndex(batch, vecCol, keyCol, indexDir)
      }
    }

  /** Exact k-NN join: top-k corpus neighbors for every query row.
    * Queries are broadcast; corpus never shuffles before scoring. For
    * query sets too large to broadcast, [[ivfKnnJoin]] co-partitions
    * both sides through one IVF geometry instead. */
  def knnJoin(queries: DataFrame, corpus: DataFrame, queryVec: String,
      queryKey: String, corpusVec: String, corpusKey: String, k: Int): DataFrame = {
    val q = queries.select(col(queryKey).as("query_id"), col(queryVec).as("qv"))
    val c = corpus.select(col(corpusKey).as("neighbor_id"), col(corpusVec).as("cv"))
      .filter(col("cv").isNotNull)
    val scored = c.crossJoin(broadcast(q))
      .withColumn("score", cosine_distance(col("cv"), col("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** k-NN join at BATCH-QUERY scale — the scale sibling [[knnJoin]]'s
    * docs defer to: the broadcast form ships every query to every
    * corpus partition, which is right for a handful of queries and
    * quadratic-work when the query side is itself a corpus (embedding
    * dedup between snapshots, batch retrieval for a training set,
    * cross-corpus contamination). This form co-partitions BOTH sides
    * through one IVF geometry trained on the corpus: corpus vectors
    * index at their primary cell, each query replicates to its
    * `nprobe` nearest cells, and candidates meet in a cell equi-join —
    * ~|Q|·nprobe·|C|/cells distance work, exchanges keyed by cell (AQE
    * splits hot cells), no broadcast of either side. The probe/index
    * split is [[cellKnnGraph]]'s: a (query, neighbor) pair meets at
    * most once because the neighbor is indexed ONLY at its primary
    * cell. `nprobe` dials recall exactly as measured there
    * (0.42/0.69/0.87 at 1/2/3 on the test corpus). Queries landing in
    * cells with no corpus members emit no rows. Returns
    * (query_id, neighbor_id, score, rank). */
  def ivfKnnJoin(queries: DataFrame, corpus: DataFrame, queryVec: String,
      queryKey: String, corpusVec: String, corpusKey: String, k: Int,
      cells: Int, iters: Int = 2, nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1 && nprobe <= cells,
      s"ivfKnnJoin: need 1 <= nprobe <= cells, got $nprobe/$cells")
    val cents = trainCentroids(corpus, corpusVec, corpusKey, cells, iters)
    val centsDf = cents.select(col("centroid_id"), col("cvec"))
    val c = corpus.select(col(corpusKey).as("id"), col(corpusVec).as("v"))
      .filter(col("v").isNotNull)
    val q = queries.select(col(queryKey).as("id"), col(queryVec).as("v"))
      .filter(col("v").isNotNull)
    val probe = q.join(cellPicks(q, centsDf, nprobe, cosine_distance)
        .drop("crank"), Seq("id"))
      .select(col("id").as("query_id"), col("v").as("qv"),
        col("centroid_id"))
    val index = c.join(cellPicks(c, centsDf, nprobe = 1, cosine_distance)
        .drop("crank"), Seq("id"))
      .select(col("id").as("neighbor_id"), col("v").as("cv"),
        col("centroid_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").asc, col("neighbor_id").asc)
    // BLOCKED cell join (guide §2.5; same construction as
    // Dedup.semDeDupPairs): centroid_id has only `cells` distinct
    // values, so the scoring join would run on ≤cells reduce tasks and
    // a hot cell would serialize its whole block. Salting each side by
    // its own id and exploding the other side's axis spreads the work
    // over cells·s² tasks; every (query, neighbor) pair still meets in
    // EXACTLY ONE block, so the joined set — and the deterministic
    // (score, neighbor_id) window rank over it — is unchanged.
    val salts = pairJoinSalts(queries.sparkSession, cells)
    val pa = probe
      .withColumn("sa", pmod(xxhash64(col("query_id")), lit(salts)))
      .withColumn("sb", explode(array((0 until salts).map(lit): _*)))
    val ib = index
      .withColumn("sb", pmod(xxhash64(col("neighbor_id")), lit(salts)))
      .withColumn("sa", explode(array((0 until salts).map(lit): _*)))
    pa.join(ib, Seq("centroid_id", "sa", "sb"))
      .withColumn("score", cosine_distance(col("cv"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
  }

  /** Salt-bucket count for a blocked pair join over `keys` distinct join
    * values (guide §2.5): s² blocks per key sized so keys·s² ≈ 2× the
    * session's parallelism, capped at 8 — derived from the session, not
    * a local[32] constant (a 4000-core cluster over 1024 cells derives
    * s = 3 and splits hot cells 9 ways). */
  private[graft] def pairJoinSalts(
      spark: org.apache.spark.sql.SparkSession, keys: Int): Int = {
    val want = 2.0 * spark.sparkContext.defaultParallelism / math.max(keys, 1)
    math.min(8, math.max(1, math.ceil(math.sqrt(want)).toInt))
  }

  /** Batch probe of a PERSISTENT index ([[ivfBuildIndex]]): the serving
    * index reused for batch retrieval — [[ivfKnnJoin]]'s shape with the
    * geometry and cells read from disk instead of derived in-plan, so a
    * nightly batch job and the serving edge share one index artifact.
    * Queries assign to their `nprobe` nearest cells against the
    * sidecar; candidates meet the cell rows in a `centroid_id`
    * equi-join. Unlike the single-query probe (literal IN-list →
    * partition pruning), a batch's probe set is a runtime relation and
    * usually touches most cells — the right plan IS the shuffle join
    * keyed by cell, which is exactly what this builds. fp16 cells score
    * through the fused kernel without widening. Tombstoned ids are
    * masked by [[readCells]]' sequence-scoped anti-joins like every
    * other read. Returns (query_id, neighbor_id, score, rank). */
  def ivfKnnJoinIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, queryVec: String,
      queryKey: String, k: Int, nprobe: Int): DataFrame = {
    val cents = spark.read.parquet(s"$indexDir/centroids")
      .select(col("centroid_id"), col("cvec"))
    val q = queries.select(col(queryKey).as("id"), col(queryVec).as("v"))
      .filter(col("v").isNotNull)
    val probe = q.join(cellPicks(q, cents, nprobe, cosine_distance)
        .drop("crank"), Seq("id"))
      .select(col("id").as("query_id"), col("v").as("qv"),
        col("centroid_id"))
    val cells = readCells(spark, indexDir)
      .withColumn("centroid_id", col("centroid_id").cast("long"))
    val score =
      if (cells.columns.contains("emb16"))
        graft.functions.fp16_cosine_distance(col("emb16"), col("qv"))
      else cosine_distance(col("v"), col("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").asc, col("id").asc)
    // NOT blocked-salted like ivfKnnJoin: here the cell count is index
    // metadata (the centroids relation), so deriving the salt width
    // would cost an extra driver action per call; the cells relation is
    // also disk-partitioned by centroid_id, so the scan side arrives
    // pre-split by cell. A deployment hitting the few-cells parallelism
    // cap on THIS form should derive s from the layout's partition dirs
    // at load time and apply the semDeDupPairs/ivfKnnJoin construction.
    cells.join(probe, Seq("centroid_id"))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("score"),
        col("rank"))
  }

  /** Hard-negative mining for contrastive training: every anchor's k
    * nearest corpus vectors with a DIFFERENT label — the negatives that
    * actually move an InfoNCE/triplet loss (random negatives are
    * trivially far; same-label neighbors are the positives and must not
    * leak into the negative set). The label predicate applies BEFORE
    * the rank, so the k slots never waste on excluded rows.
    *
    * This exact form broadcasts the anchors ([[knnJoin]]'s shape — the
    * per-class probe set of a training epoch); when the anchor side is
    * itself a corpus, run [[ivfKnnJoin]] with the label carried as a
    * cell attr (q132's contract) and the ≠-filter inside the cell
    * join, widening k for the post-filter loss. Returns (query_id,
    * neighbor_id, neg_label, score, rank). */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame, vecCol: String,
      keyCol: String, labelCol: String, k: Int): DataFrame = {
    val q = anchors.select(col(keyCol).as("query_id"), col(vecCol).as("qv"),
      col(labelCol).as("q_label"))
    val c = corpus.select(col(keyCol).as("neighbor_id"),
        col(vecCol).as("cv"), col(labelCol).as("neg_label"))
      .filter(col("cv").isNotNull)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").asc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("neg_label") =!= col("q_label"))
      .withColumn("score", cosine_distance(col("cv"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("neg_label"),
        col("score"), col("rank"))
  }

  /** Exact k-nearest-neighbor GRAPH: every vector's `topK` closest
    * neighbors — the backbone structure for graph-based clustering,
    * agglomerative dedup, label propagation, and HNSW-style index
    * construction. O(n²) distances + a per-node rank: this is the
    * ORACLE/reference form — the shuffle under the window carries every
    * pair, so bound the input; at corpus scale use [[cellKnnGraph]].
    * Deterministic tie-break on (distance, neighbor id). Returns
    * (id_a, id_b, dist, rank). */
  def knnGraph(df: DataFrame, vecCol: String, keyCol: String,
      topK: Int): DataFrame = {
    val v = df.select(col(keyCol).as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("dist").asc, col("id_b").asc)
    v.as("a").join(v.as("b"), col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine_distance(col("a.v"), col("b.v")).as("dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** The 100 TB form of [[knnGraph]]: neighbors searched within k-means
    * cells only ([[trainCentroids]] + [[ivfAssign]] — the SemDeDup
    * partitioning applied to graph construction). Distance work drops
    * from O(n²) to ~nprobe · n²/cells, the pair search is an equi-join
    * on `centroid_id`, and every reported edge carries its EXACT
    * distance — only recall is approximate: each node PROBES its
    * `nprobe` nearest cells while being INDEXED in its primary cell, so
    * a neighbor is missed only when it lives outside all probed cells
    * (KnnSpec measures recall vs the exact graph: 0.42 at nprobe=1 →
    * 0.69 at nprobe=2 → 0.87 at nprobe=3 on quasi-uniform test embeddings; clustered real
    * corpora sit far higher). `nprobe` is the linear-cost recall dial.
    * Nodes alone in every probed cell emit no edges. */
  def cellKnnGraph(df: DataFrame, vecCol: String, keyCol: String,
      topK: Int, cells: Int, iters: Int = 2, nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1 && nprobe <= cells,
      s"cellKnnGraph: need 1 <= nprobe <= cells, got $nprobe/$cells")
    val cents = trainCentroids(df, vecCol, keyCol, cells, iters)
    val c = df.select(col(keyCol).as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
    val centsDf = cents.select(col("centroid_id"), col("cvec"))
    // narrow picks ([[cellPicks]] — vectors never ride the rank
    // exchange), then one id join ships each vector nprobe times
    val picks = cellPicks(c, centsDf, nprobe, cosine_distance)
    val probe = c.join(picks, Seq("id"))
      .select(col("id"), col("v"), col("centroid_id"))
    val index = c.join(picks.filter(col("crank") === 1), Seq("id"))
      .select(col("id"), col("v"), col("centroid_id"))
    val pairs = probe.as("a").join(index.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine_distance(col("a.v"), col("b.v")).as("dist"))
    val idT = c.schema("id").dataType
    val integralId = idT match {
      case org.apache.spark.sql.types.LongType
         | org.apache.spark.sql.types.IntegerType
         | org.apache.spark.sql.types.ShortType
         | org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    // per-node rank via the partial-aggregatable bounded heap, not a
    // window: the window form SORTS every candidate pair under one
    // exchange — Σ_cell |probe_cell|·|index_cell| rows, which at the r14
    // budget-edge run (2 M × 2500 cells) measured 3.2e9 pair rows /
    // ~100 GB of sort spill and killed the build on local disk, and at
    // 100 TB is the difference between shuffling everything and
    // shuffling k rows per node per task. topk_pairs keeps a size-k
    // heap per node per task (map-side combine), the kept SET is
    // partition-independent, and ties break (dist, id) exactly like the
    // window — bit-identical output for integral ids (KnnSpec pins it).
    // Non-integral key domains keep the window form: topk_pairs carries
    // ids as BIGINT, and a lossy cast there would corrupt, not rank.
    if (integralId)
      pairs.groupBy(col("id_a"))
        .agg(graft.functions.topk_pairs(col("dist"), col("id_b"), topK)
          .as("tk"))
        .select(col("id_a"), posexplode(col("tk")))
        .select(col("id_a"), col("col.id").cast(idT).as("id_b"),
          col("col.ord").as("dist"),
          (col("pos") + 1).cast("int").as("rank"))
    else {
      val w = Window.partitionBy(col("id_a"))
        .orderBy(col("dist").asc, col("id_b").asc)
      pairs.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= topK)
    }
  }

  /** Squared L2 via the dot-product expansion — the SAME float tree as
    * the oracle's `dot(a,a) - 2·dot(a,b) + dot(b,b)` (each dot a
    * sequential Double sum), so L2 assignments replicate bit-for-bit
    * cross-engine. */
  def l2sq(a: Column, b: Column): Column =
    graft.functions.dot_product(a, a) -
      lit(2.0) * graft.functions.dot_product(a, b) +
      graft.functions.dot_product(b, b)

  /** Per-vector nearest-`nprobe` cell picks WITHOUT the vector in
    * flight — the assignment's scale-critical shape. The naive form
    * (crossJoin → row_number window over the vector-carrying rows)
    * exchanges n×cells rows each dragging the full vector: at 200 k ×
    * 3072-dim × 250 cells that is ~600 GB of shuffle (measured to
    * exhaust local disk). Here the crossJoin projects down to
    * (id, centroid_id, cdist) ~24 B rows BEFORE any exchange, and the
    * per-id rank is the bounded-heap [[graft.functions.TopKPairs]]
    * aggregate (ObjectHashAggregate: map-side combine bounds the
    * exchange at nprobe rows per id per task, and — unlike a window or
    * a struct-min, which plan sorts over ALL scored rows — nothing ever
    * sorts more than the heap). Tie-break (cdist asc, centroid_id asc)
    * in both branches, identical to the window form bit-for-bit.
    * Vectors re-attach via one id equi-join (n rows, each shipped
    * once). */
  private[graft] def cellPicks(c: DataFrame, cents: DataFrame, nprobe: Int,
      dist: (Column, Column) => Column): DataFrame = {
    val scored = c.crossJoin(broadcast(cents))
      .select(col("id"), col("centroid_id"),
        dist(col("v"), col("cvec")).as("cdist"))
    // BOTH branches rank through the bounded-heap aggregate
    // ([[graft.functions.TopKPairs]], ObjectHashAggregate) — never a
    // window and never a struct-min: `min(struct(...))` is not
    // hash-aggregable, so it planned as SortAggregateExec, whose
    // partial pass SORTS all n×cells scored rows per task — measured
    // at the r14 2 M budget-edge build as the disk-filling stage
    // (~5e9 narrow rows of sort spill inside every Lloyd iteration).
    // The heap's (Double, Long) total order matches the SQL struct
    // order here: cosine arithmetic cannot produce -0.0 (1−x yields
    // +0.0 at x=1), and NaN sorts last under both.
    val cidT = scored.schema("centroid_id").dataType
    if (nprobe == 1)
      scored.groupBy(col("id"))
        .agg(graft.functions.topk_pairs(col("cdist"), col("centroid_id"), 1)
          .as("tk"))
        .select(col("id"),
          col("tk").getItem(0).getField("id").cast(cidT).as("centroid_id"),
          lit(1).as("crank"))
    else {
      // nprobe ≥ 2: same aggregate at width nprobe (the window form
      // sorted all n×cells rows under one exchange); ties break
      // (cdist asc, centroid_id asc) exactly like the window, and
      // centroid ids are the trainer's own longs so the BIGINT pair id
      // is lossless — bit-identical output (the q105/q138 oracles gate
      // exactly that).
      scored.groupBy(col("id"))
        .agg(graft.functions.topk_pairs(col("cdist"), col("centroid_id"),
          nprobe).as("tk"))
        .select(col("id"), posexplode(col("tk")))
        .select(col("id"), col("col.id").cast(cidT).as("centroid_id"),
          (col("pos") + 1).cast("int").as("crank"))
    }
  }

  private def assignCore(corpus: DataFrame, vecCol: String, keyCol: String,
      centroids: DataFrame, centVec: String, centKey: String,
      dist: (Column, Column) => Column,
      attrCols: Seq[String] = Nil): DataFrame = {
    // attrCols ride on the SAME re-attach join the vectors use (the
    // rank exchange inside cellPicks prunes them away — it only ever
    // carries (id, centroid_id, cdist)), so filterable metadata lands
    // in the cells at zero extra shuffle
    val c = corpus.select(col(keyCol).as("id") +: col(vecCol).as("v") +:
        attrCols.map(col): _*)
      .filter(col("v").isNotNull)
    val cents = centroids.select(col(centKey).as("centroid_id"), col(centVec).as("cvec"))
    c.join(cellPicks(c, cents, nprobe = 1, dist).drop("crank"), Seq("id"))
      .select(col("id") +: col("v") +: attrCols.map(col) :+
        col("centroid_id"): _*)
  }

  /** IVF-style ANN: assign every corpus vector to its nearest centroid
    * (broadcast centroids), then answer queries by scanning only the cell
    * the query lands in. Exactness is traded for pruning; recall grows with
    * `nprobe` cells (here 1 for determinism).
    */
  def ivfAssign(corpus: DataFrame, vecCol: String, keyCol: String,
      centroids: DataFrame, centVec: String, centKey: String,
      attrCols: Seq[String] = Nil): DataFrame =
    assignCore(corpus, vecCol, keyCol, centroids, centVec, centKey,
      cosine_distance, attrCols)

  /** [[ivfAssign]] under squared-L2 — the metric k-means' mean-update
    * step actually minimizes, used by the PQ sub-quantizers. */
  def ivfAssignL2(corpus: DataFrame, vecCol: String, keyCol: String,
      centroids: DataFrame, centVec: String, centKey: String,
      attrCols: Seq[String] = Nil): DataFrame =
    assignCore(corpus, vecCol, keyCol, centroids, centVec, centKey, l2sq,
      attrCols)

  /** Top-k over the `nprobe` cells nearest to the query — the recall dial
    * of IVF search. Cell pruning happens *before* any distance work on
    * corpus vectors: only assigned rows in probed cells are scored. */
  def ivfTopKProbes(assigned: DataFrame, centroids: DataFrame,
      centVec: String, centKey: String, queryVec: Array[Float], k: Int,
      nprobe: Int): DataFrame = {
    val probed = centroids
      .select(col(centKey).as("centroid_id"),
        cosine_distance(col(centVec), typedLit(queryVec)).as("cdist"))
      .orderBy(col("cdist").asc, col("centroid_id").asc)
      .limit(nprobe)
      .select(col("centroid_id"))
    assigned.join(broadcast(probed), "centroid_id")
      .withColumn("score", cosine_distance(col("v"), typedLit(queryVec)))
      .orderBy(col("score").asc, col("id").asc)
      .limit(k)
      .select(col("id"), col("centroid_id"), col("score"))
  }

  /** The nprobe dial MEASURED instead of guessed: recall@k of
    * single-assignment IVF search vs the exact scan, for every probe
    * width 1..`maxNprobe`, averaged over a query sample — one
    * DataFrame `(nprobe, recall)`. This is the calibration pass a
    * serving deployment runs once per (corpus, centroid) generation so
    * [[calibrateNprobe]] can pick the cheapest dial meeting a recall
    * target, rather than shipping a folklore constant.
    *
    * Scale shape: centroids and the query sample broadcast; the corpus
    * is scanned ONCE — the (query × corpus) scoring narrows to
    * (query_id, id, cell, score) map-side before any exchange, every
    * per-(query, width) ranking is the bounded-heap
    * [[graft.functions.TopKPairs]] aggregate (never a window over the
    * scored set), and the width dimension multiplies the narrow rows by
    * ≤ `maxNprobe` via one generator. Queries are a SAMPLE by
    * contract (tens–hundreds): at 100 TB the corpus pass dominates and
    * runs at scan speed; recall's denominator is exact integer
    * arithmetic (hits / (|queries|·k)), so the curve replays
    * bit-for-bit in the q158 oracle. */
  def nprobeRecallCurve(corpus: DataFrame, vecCol: String, keyCol: String,
      centroids: DataFrame, centVec: String, centKey: String,
      queries: DataFrame, qVecCol: String, qKeyCol: String,
      k: Int, maxNprobe: Int): DataFrame = {
    require(k >= 1 && maxNprobe >= 1,
      s"nprobeRecallCurve: need k >= 1, maxNprobe >= 1, got k=$k " +
        s"maxNprobe=$maxNprobe")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col(keyCol).as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
    val cents = centroids.select(col(centKey).as("centroid_id"),
      col(centVec).as("cvec"))
    val qs = queries.select(col(qKeyCol).as("query_id"),
        col(qVecCol).as("qv"))
      .filter(col("qv").isNotNull)
    val nQ = qs.count()
    require(nQ > 0, "nprobeRecallCurve: empty query sample")
    // the single-assignment relation the curve calibrates (the
    // ivfAssign/ivfTopKProbes serving family's cosine metric)
    val asg = c.join(cellPicks(c, cents, nprobe = 1, cosine_distance)
      .drop("crank"), Seq("id"))
    // per-query probe order over the cells: queries × cells rows, tiny
    val cellrank = cellPicks(
        qs.select(col("query_id").as("id"), col("qv").as("v")),
        cents, maxNprobe, cosine_distance)
      .select(col("id").as("query_id"), col("centroid_id"), col("crank"))
    // ONE corpus pass scores every (query, row); rows narrow before any
    // exchange — the vector never rides past this projection
    val scored = asg.crossJoin(broadcast(qs))
      .select(col("query_id"), col("id"), col("centroid_id"),
        cosine_distance(col("v"), col("qv")).as("score"))
    val exact = scored.groupBy(col("query_id"))
      .agg(graft.functions.topk_pairs(col("score"), col("id"), k).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("e"))
      .select(col("query_id"), col("e.id").as("id"))
    // a row in cell of probe-rank r is scanned by every width ≥ r
    val probed = scored
      .join(broadcast(cellrank), Seq("query_id", "centroid_id"))
      .select(col("query_id"), col("id"), col("score"),
        explode(sequence(col("crank"), lit(maxNprobe))).as("nprobe"))
    val ivf = probed.groupBy(col("query_id"), col("nprobe"))
      .agg(graft.functions.topk_pairs(col("score"), col("id"), k).as("tk"))
      .select(col("query_id"), col("nprobe"), explode(col("tk")).as("e"))
      .select(col("query_id"), col("nprobe"), col("e.id").as("id"))
    val hits = ivf.join(exact, Seq("query_id", "id"))
      .groupBy(col("nprobe")).agg(count(lit(1)).as("h"))
    // every width present even at zero hits (an all-miss dial is a
    // curve point, not an absent row)
    val grid = (1 to maxNprobe).toDF("nprobe")
    grid.join(hits, Seq("nprobe"), "left")
      .select(col("nprobe"),
        (coalesce(col("h"), lit(0L)).cast("double") /
          lit((nQ * k).toDouble)).as("recall"))
      .orderBy(col("nprobe"))
  }

  /** The smallest probe width whose measured mean recall@k meets
    * `targetRecall` — [[nprobeRecallCurve]] collected (maxNprobe rows)
    * and scanned. Returns `maxNprobe` when the target is unreachable
    * at the given widths: the caller asked for more recall than the
    * cell geometry offers, and the widest dial is the closest
    * available answer (raise maxNprobe, retrain with more cells, or
    * lower the target). */
  def calibrateNprobe(corpus: DataFrame, vecCol: String, keyCol: String,
      centroids: DataFrame, centVec: String, centKey: String,
      queries: DataFrame, qVecCol: String, qKeyCol: String,
      k: Int, maxNprobe: Int, targetRecall: Double): Int = {
    val curve = nprobeRecallCurve(corpus, vecCol, keyCol, centroids,
        centVec, centKey, queries, qVecCol, qKeyCol, k, maxNprobe)
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    curve.collectFirst { case (np, r) if r >= targetRecall => np }
      .getOrElse(maxNprobe)
  }

  /** Distinct-value budget per attr column for the [[writeCellSegment]]
    * stats sidecar: a column whose segment exceeds it gets an overflow
    * marker instead of rows (routing falls back to the measured count
    * for it), so the sidecar stays driver-collectable no matter what a
    * user passes as `attrCols` — 4096 values × a handful of columns is
    * KBs; a unique-id attr would otherwise write n rows. */
  private[graft] val AttrStatsMaxValues = 4096L

  /** Column names an IVF cell layout reserves; every other cell column
    * is an attr column (filterable metadata). */
  private val LayoutCols = Set("id", "v", "rv", "codes", "emb16", "centroid_id")

  /** Per-cell attr-value counts of one written cell segment — the
    * sidecar [[IvfIndex.servingTopKRouted]] prices equality predicates
    * from WITHOUT a count job (the 100-TB routing contract stated in
    * SCALE.md §r16: at scale the selectivity read must come from
    * build-time stats, not a per-request scan). Schema
    * `(centroid_id, acol, value, cnt)`; `value` is the SQL string cast
    * so engines agree on the key; counts are per cell ROW counts (scan-
    * cost semantics — on a SOAR-spilled layout every id appears exactly
    * twice, so a global match count divides by 2, exactly). Covered
    * types: string / integral / boolean equality — the label/source/
    * author shape; anything else is left to the measured-count path. A
    * column whose distinct values exceed [[AttrStatsMaxValues]] writes
    * one marker row `(-1, acol, NULL, -1)` and is excluded from
    * coverage. Cost: one column-pruned read-back of the segment just
    * written (vectors never decoded) + one narrow-row shuffle. */
  private def writeAttrStatsSidecar(
      spark: org.apache.spark.sql.SparkSession, segDir: String): Unit = {
    import org.apache.spark.sql.types._
    val cells = spark.read.parquet(s"$segDir/cells")
    val statsable: DataType => Boolean = {
      case StringType | IntegerType | LongType | ShortType | ByteType |
          BooleanType => true
      case _ => false
    }
    val acols = cells.schema.fields
      .filterNot(f => LayoutCols(f.name))
      .filter(f => statsable(f.dataType)).map(_.name).toSeq
    if (acols.isEmpty) return
    val stacked = acols.map { c =>
      cells.select(col("centroid_id").cast("long").as("centroid_id"),
        lit(c).as("acol"), col(c).cast("string").as("value"))
    }.reduce(_ unionByName _)
    val stats = stacked
      .groupBy(col("centroid_id"), col("acol"), col("value"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val overflowed = stats.groupBy(col("acol"))
      .agg(countDistinct(col("value")).as("nv"))
      .filter(col("nv") > AttrStatsMaxValues)
      .select(col("acol")).collect().map(_.getString(0)).toSeq
    val kept =
      if (overflowed.isEmpty) stats
      else {
        import spark.implicits._
        val markers = overflowed
          .map(c => (-1L, c, null.asInstanceOf[String], -1L))
          .toDF("centroid_id", "acol", "value", "cnt")
        stats.filter(!col("acol").isin(overflowed: _*))
          .unionByName(markers)
      }
    kept.coalesce(1).write.mode("overwrite").parquet(s"$segDir/attrstats")
  }

  /** The live attr-stats relation of a segmented IVF index, summed
    * across data segments with overflow-marked columns dropped —
    * `Some((centroid_id, acol, value, cnt))` only when EVERY live data
    * segment carries the sidecar (an index appended to by a pre-stats
    * writer has no complete coverage and must price by measurement).
    * Probed via the Hadoop FileSystem (the spillmeta lesson — this
    * gates serving semantics, not fixture caching). Tombstones do NOT
    * subtract: after deletes the counts are upper bounds, which only
    * biases routing toward the probe branch — both routes stay exact,
    * and [[ivfCompactIndex]] rewrites the sidecar exactly. */
  private[graft] def ivfAttrStats(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Option[DataFrame] = {
    val paths = graft.sync.SegmentedIndex.resolve(spark, indexDir)
      .getOrElse(Nil).filterNot(graft.sync.SegmentedIndex.isTombstone)
      .map(s => s"$indexDir/$s/attrstats")
    if (paths.isEmpty || !paths.forall { p =>
        val hp = new org.apache.hadoop.fs.Path(s"$p/_SUCCESS")
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
      }) return None
    val all = paths.map(spark.read.parquet(_)).reduce(_ unionByName _)
    val overflowed = all.filter(col("cnt") < 0)
      .select(col("acol")).distinct().collect().map(_.getString(0)).toSeq
    val clean =
      if (overflowed.isEmpty) all
      else all.filter(col("cnt") >= 0 && !col("acol").isin(overflowed: _*))
    Some(clean.groupBy(col("centroid_id"), col("acol"), col("value"))
      .agg(sum(col("cnt")).as("cnt")))
  }

  /** [[ivfAttrStats]] aggregated to driver state for the serving
    * router: covered-column set + global `(column, value) → match
    * count` ([[AttrStatsMaxValues]]-bounded per column, so this is
    * query-plan-sized like a centroid sidecar). `denom` divides the
    * per-cell row counts down to distinct vectors — 2 on a SOAR-spilled
    * layout (every id holds exactly two copies), 1 otherwise. */
  private def collectAttrStats(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      denom: Long): Option[(Set[String], Map[(String, String), Long])] =
    ivfAttrStats(spark, indexDir).map { st =>
      val rows = st.groupBy(col("acol"), col("value"))
        .agg(sum(col("cnt")).as("cnt")).collect()
      val covered = rows.map(_.getString(0)).toSet
      val m = rows.filterNot(_.isNullAt(1)).map(r =>
        (r.getString(0), r.getString(1)) -> r.getLong(2) / denom).toMap
      (covered, m)
    }

  /** Price `filter` against [[collectAttrStats]] state: exact for a
    * single covered `attr === literal` (absent value → 0 — the stats
    * are complete for covered columns), the min over priced branches
    * for a conjunction (an upper bound — routing-safe), None otherwise.
    * The node literal carries the plain Scala value, so toString IS the
    * SQL string cast for the covered types. */
  private def statsPrice(
      stats: Option[(Set[String], Map[(String, String), Long])],
      filter: Column): Option[Long] =
    stats.flatMap { case (covered, m) =>
      val priced = org.apache.spark.sql.graft.shims.equalityLeaves(filter)
        .collect {
          case (c, v: String) if covered(c) => m.getOrElse((c, v), 0L)
          case (c, v @ (_: Int | _: Long | _: Short | _: Byte |
              _: Boolean)) if covered(c) =>
            m.getOrElse((c, v.toString), 0L)
        }
      if (priced.isEmpty) None else Some(priced.min)
    }

  /** The one cell-segment writer of build, append and compaction:
    * `cells` (id, centroid_id, payload, attrs) partitioned by cell, then
    * the attr-stats sidecar. False when `cells` was empty: the segment
    * then holds no cell directory and no schema, so no reader can open
    * it. */
  private def writeCellSegment(cells: DataFrame, segDir: String): Boolean = {
    // cluster by cell before the partitioned write (same rationale as
    // the lexical segment writer): one file per cell per segment, so an
    // nprobe-cell probe schedules nprobe scan tasks, not nprobe × writer
    // tasks of sliver files. Cells that outgrow single-task writes are
    // the signal to raise `k` — which bounds per-probe scan size too
    val clustered = cells.repartition(col("centroid_id"))
    // IVFADC refine layout: rows SORTED by id within each cell + 128 KB
    // row groups (~20 fp16 rows each), so the re-rank's id IN-shortlist
    // probe skips on row-group statistics to ~r·k tight groups — 3.4×
    // on the 200 k serving corpus (402 ms → 118 ms warm; GraftSession's
    // inFilterThreshold keeps the In list from range-degrading)
    val refine = Set("codes", "emb16").subsetOf(cells.columns.toSet)
    val writer = (if (refine)
        clustered.sortWithinPartitions(col("centroid_id"), col("id"))
      else clustered).write.partitionBy("centroid_id")
    (if (refine) writer.option("parquet.block.size", 131072) else writer)
      .mode("overwrite").parquet(s"$segDir/cells")
    val spark = cells.sparkSession
    val dir = new org.apache.hadoop.fs.Path(s"$segDir/cells")
    val written = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dir).exists(_.getPath.getName.startsWith("centroid_id="))
    // attr columns present → price them for the router while the
    // segment is hot (reads back ONLY centroid_id + attrs — parquet
    // column pruning keeps the vectors untouched)
    if (written) writeAttrStatsSidecar(spark, segDir)
    written
  }

  /** fp16 cells store 2 bytes/dim (assignment ran at full precision):
    * at 100 TB the cells are the index's footprint, and the probe has a
    * fused decode+cosine kernel. Attr columns carry through. */
  private def ivfCells(assigned: DataFrame, fp16: Boolean): DataFrame =
    if (fp16) assigned
      .withColumn("emb16", graft.functions.fp16_encode(col("v"))).drop("v")
    else assigned

  /** Delete the sidecar dir `dir` if present (a rebuild retiring it). */
  private def retireSidecar(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** The cell columns of the first live data segment of `list`. */
  private def liveCellColumns(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, list: Seq[String]): Seq[String] =
    spark.read.parquet(s"$indexDir/${list.filterNot(
      graft.sync.SegmentedIndex.isTombstone).head}/cells").columns.toSeq

  /** Build a persistent IVF index: train centroids on `trainFilter`'s
    * subset (at 100 TB this is a sample — the full corpus is only scanned
    * for the single assignment pass), assign every corpus vector to its
    * nearest cell, and write the assigned corpus as parquet PARTITIONED BY
    * `centroid_id` with a tiny centroids sidecar. Cell directories are the
    * index: a probe prunes them at PLAN time (partition pruning), so an
    * un-probed cell's files are never listed, opened, or scanned — the
    * pgvector `ivfflat` lists/probes layout re-expressed as a parquet
    * layout decision instead of a custom index structure.
    *
    * Layout: the centroid sidecar at the root (immutable — appends assign
    * against it) + one initial cell segment under a `CURRENT` segment
    * list ([[graft.sync.SegmentedIndex]]); production batches extend via
    * [[ivfAppendIndex]] at O(batch) cost.
    *
    * `attrCols` names corpus metadata columns (labels, source, tags,
    * timestamps) to CARRY INTO the cells: filtered ANN then applies its
    * predicate inside the pruned cell scan — pgvector's
    * "ivfflat + WHERE" shape — instead of joining winners back to the
    * store and hoping enough survive. Attrs are tiny next to the
    * vectors and ride the existing re-attach join; appends sniff and
    * require them, compaction and tombstones preserve them.
    *
    * `spill` builds a SOAR-spilled layout ([[Soar.assign]] with this
    * family's cosine primary, so the primary copy lands in exactly the
    * cell the unspilled build would use — spilling is purely ADDITIVE):
    * every vector also gets a secondary cell chosen by the
    * orthogonality-amplified residual loss, recorded in a `spillmeta`
    * sidecar so appends spill identically and loads dedup. Measured at
    * 2 M (SCALE.md §r15 SOAR): a given recall at HALF the probes for a
    * 2× storage price — buy it when probe count (scheduled scan tasks)
    * is the bottleneck, not bytes. */
  def ivfBuildIndex(corpus: DataFrame, vecCol: String, keyCol: String,
      indexDir: String, k: Int, iters: Int,
      trainFilter: Column, fp16: Boolean = false,
      attrCols: Seq[String] = Nil, spill: Boolean = false,
      spillLambda: Double = 1.0): Unit = {
    require(!attrCols.exists(LayoutCols),
      s"ivfBuildIndex: attrCols clash with index layout columns")
    val cents = trainCentroids(corpus.filter(trainFilter), vecCol, keyCol, k, iters)
    val assigned =
      if (spill) Soar.assign(corpus, vecCol, keyCol, cents, spillLambda,
        attrCols, cosine_distance).drop("crank")
      else ivfAssign(corpus, vecCol, keyCol, cents, "cvec",
        "centroid_id", attrCols)
    val seg = graft.sync.SegmentedIndex.newSegmentName()
    writeCellSegment(ivfCells(assigned, fp16), s"$indexDir/$seg")
    cents.coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    val spark = corpus.sparkSession
    if (spill) {
      import spark.implicits._
      Seq(spillLambda).toDF("lambda").coalesce(1)
        .write.mode("overwrite").parquet(s"$indexDir/spillmeta")
    } else {
      // an in-place rebuild (the compaction/re-train path after
      // deletes) must also RETIRE a previous generation's spill
      // marker — a stale sidecar would make the rebuilt
      // single-assignment index load as spilled (needless dedup) and,
      // worse, make future appends spill with the dead generation's λ,
      // committing a mixed layout
      retireSidecar(spark, s"$indexDir/spillmeta")
    }
    graft.sync.SegmentedIndex.commit(spark, indexDir, Seq(seg))
  }

  /** The spilled-layout marker of [[ivfBuildIndex]]`(spill = true)` —
    * Some(λ) when the index at `indexDir` is SOAR-spilled. Appends read
    * it to spill identically; [[IvfIndex.load]] reads it to collapse
    * the duplicate copies at probe time. Probed through the Hadoop
    * FileSystem of `indexDir` (NOT java.io): the marker gates
    * load/append SEMANTICS — a local-only check would silently serve a
    * spilled HDFS/S3 index without dedup and append unspilled segments
    * into it. */
  private[graft] def ivfSpillMeta(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Option[Double] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/spillmeta/_SUCCESS")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      Some(spark.read.parquet(s"$indexDir/spillmeta")
        .head().getDouble(0))
    else None
  }

  /** Append a batch to an existing IVF index: assign the batch to the
    * EXISTING centroids (one broadcast-assign pass over the batch — the
    * index's cell geometry is fixed at build time, the ivfflat
    * steady-state contract), write one new segment partitioned by the
    * same `centroid_id`, and commit the extended segment list with one
    * atomic replace. Probes prune every segment identically (the
    * PartitionFilter applies per segment); the payload is sniffed from
    * the live segments: fp16 stays fp16, and IVFADC codes encode under
    * the frozen quantizer (stored rotation, L2 centroids, codebooks). As
    * cells drift from the trained geometry (data distribution shift),
    * recall decays — re-train wholesale with a build when the drift
    * matters; that rebuild is the same pointer swap. Batch ids must be
    * new to the index (dedup upstream). foreachBatch-ready. */
  def ivfAppendIndex(batch: DataFrame, vecCol: String, keyCol: String,
      indexDir: String): Unit = {
    val spark = batch.sparkSession
    val existing = graft.sync.SegmentedIndex.resolve(spark, indexDir)
      .getOrElse(throw new IllegalStateException(
        s"ivfAppendIndex: no segmented IVF index at $indexDir (build first)"))
    val liveCols = liveCellColumns(spark, indexDir, existing)
    // attr columns are part of the index's schema contract: sniff them
    // from the live segments (like fp16) and demand them of the batch,
    // so an appended segment can never silently drop the metadata the
    // filtered probes rely on
    val attrCols = liveCols.filterNot(LayoutCols)
    val missing = attrCols.filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"ivfAppendIndex: batch lacks index attr column(s) ${missing.mkString(", ")}")
    val cents = spark.read.parquet(s"$indexDir/centroids")
    val cells =
      if (liveCols.contains("codes"))
        pqCells(pqResiduals(
            rotated(batch, vecCol, loadRotation(spark, indexDir)),
            vecCol, keyCol, cents, attrCols),
          collectCodebooks(spark.read.parquet(s"$indexDir/codebooks")),
          refine = liveCols.contains("emb16"), attrCols)
      else ivfCells(
        // a spilled index spills its appends too (same λ, same cosine
        // primary) — otherwise appended vectors would silently carry
        // half the boundary coverage the build promised
        ivfSpillMeta(spark, indexDir) match {
          case Some(lambda) => Soar.assign(batch, vecCol, keyCol, cents,
            lambda, attrCols, cosine_distance).drop("crank")
          case None => ivfAssign(batch, vecCol, keyCol, cents, "cvec",
            "centroid_id", attrCols)
        }, fp16 = liveCols.contains("emb16"))
    val seg = graft.sync.SegmentedIndex.newSegmentName()
    // an empty batch commits nothing (its orphan dir goes at the next
    // commit's sweep)
    if (writeCellSegment(cells, s"$indexDir/$seg"))
      graft.sync.SegmentedIndex.commit(spark, indexDir, existing :+ seg)
  }

  /** Index health profile — the RE-TRAIN TRIGGER the frozen-geometry
    * maintenance contract defers to: per live cell (tombstones already
    * subtracted), member count and mean cosine residual to the frozen
    * centroid. Distribution drift after many appends shows up as fill
    * skew (hot cells dominate probe cost) and rising residuals (members
    * far from their centroid → recall decay at fixed nprobe). One
    * aggregation over the cells, centroids broadcast; output is k rows.
    * fp16 cells profile through the fused kernel without widening. */
  def ivfCellStats(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame = {
    val cents = spark.read.parquet(s"$indexDir/centroids")
      .select(col("centroid_id").cast("long").as("centroid_id"), col("cvec"))
    val cells = readCells(spark, indexDir)
    val resid =
      if (cells.columns.contains("emb16"))
        graft.functions.fp16_cosine_distance(col("emb16"), col("cvec"))
      else cosine_distance(col("v"), col("cvec"))
    // DECIMAL-accumulated mean (the Lloyd-mean discipline): the drift
    // signal is deterministic under any partitioning — and oracle-gated
    // (q126) like every other relational output here
    cells
      .withColumn("centroid_id", col("centroid_id").cast("long"))
      .join(broadcast(cents), Seq("centroid_id"))
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n"),
        (sum(resid.cast("decimal(25,9)")).cast("double") / count(lit(1)))
          .as("mean_resid"))
      .orderBy(col("centroid_id"))
  }

  /** Cost-ROUTED filtered search — the strategy picker every filtered
    * ANN deployment otherwise hardcodes: measure the predicate's match
    * count, then either
    *  - `route = "scan"` (matches ≤ `bruteThreshold`): ONE full-width
    *    filtered probe over the index — exact by construction. A rare
    *    predicate is the case where the probe ladder pays worst: cells
    *    hold ~no matches, so widening burns log₂(cells) jobs to arrive
    *    at exactly this plan, and recall before the last widening is
    *    luck. The scan reads the attr column first (parquet row-group
    *    stats prune on the predicate), so "exhaustive" costs matching
    *    row groups, not the corpus;
    *  - `route = "probe"` (matches > threshold): the standard pruned
    *    probe ([[IvfIndex.search]] at `nprobe`) — plentiful matches mean
    *    the probed cells hold ≥ k of them and pruning pays.
    * The count job reads ONLY the predicate's columns (column pruning)
    * and counts DISTINCT vectors on a SOAR-spilled layout; the serving
    * edge prices from the build-time attr-stats sidecar instead
    * ([[IvfIndex.servingTopKRouted]]) — the routing CONTRACT is the
    * same: route on measured selectivity, never folklore. Returns
    * (id, centroid_id, score, route), the route constant per request —
    * oracle-gated end-to-end (q159: the replay computes the same count,
    * takes the same CASE branch, and must produce the same rows). */
  def ivfRoutedSearchIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queryVec: Array[Float], k: Int, nprobe: Int,
      filter: Column, bruteThreshold: Long): DataFrame = {
    val index = IvfIndex.load(spark, indexDir)
    probeWidths[DataFrame](index.numCells, nprobe,
        Some(index.measuredMatches(filter) -> bruteThreshold), _ => false) {
      (width, full) => index.search(queryVec, k, width, Some(filter))
        .withColumn("route", lit(if (full) "scan" else "probe"))
    }
  }

  /** What the serving edge needs from a dense ANN index, independent of
    * its storage layout — [[SearchGateway]] routes filterless and
    * attr-filtered requests through this so the default dense mode is a
    * deployment choice ([[IvfIndex]] over fp16 cells, or over ADC codes
    * + exact refine via [[IvfIndex.asDense]]), not a code path.
    * `score` is cosine distance ascending — the same number the store
    * scan computes, so index- and store-served results agree wherever
    * the probe's recall does. */
  trait DenseIndex {
    /** Metadata columns the index cells carry — the predicates a
      * filtered probe may evaluate inside the pruned scan. */
    def attrColumns: Seq[String]
    /** Serving top-k: ≤ k `(id, score)` rows ordered by (score, id).
      * `nprobe` is the probe-width dial; a filtered request widens the
      * probe adaptively when the predicate starves the first `nprobe`
      * cells of k matches (each attempt is one pruned job). */
    def servingTopK(queryVec: Array[Float], k: Int, nprobe: Int,
        filter: Option[Column]): Array[org.apache.spark.sql.Row]

    /** Filtered serving under the [[ivfRoutedSearchIndex]] routing
      * contract — route on MEASURED selectivity, never folklore: an
      * index that can price the predicate overrides this to send rare
      * filters to its pruned exhaustive scan (exact, one job) instead
      * of burning the adaptive ladder's log₂(cells) widenings to
      * arrive at the same plan. Default: the index's own adaptive
      * filtered path, so layouts with no cheaper route are unchanged.
      * Same row contract as [[servingTopK]]. */
    def servingTopKRouted(queryVec: Array[Float], k: Int, nprobe: Int,
        filter: Column): Array[org.apache.spark.sql.Row] =
      servingTopK(queryVec, k, nprobe, Some(filter))
  }

  /** The probe-width policy of every IVF request — the ONE place
    * [[IvfIndex]] and [[ivfRoutedSearchIndex]] decide how
    * many cells a request reads. `attempt(width, full)` runs one probe
    * over the `width` nearest cells; `full` marks the routed pass.
    *  - route: `priced` = Some((matches, threshold)) with matches ≤
    *    threshold (inclusive) goes STRAIGHT to one full-width attempt —
    *    exact by construction, and the plan the ladder reaches only
    *    after log₂(cells) starved attempts;
    *  - ladder: otherwise start at `nprobe` (clamped to [1, cells]) and
    *    DOUBLE the width while `starved(result)` and cells remain — a
    *    selective predicate can leave fewer than k matches in the
    *    nearest cells (filtered-ANN recall starvation), and the worst
    *    case degrades to the full-width scan that is the only correct
    *    answer there. */
  private def probeWidths[A](numCells: Int, nprobe: Int,
      priced: Option[(Long, Long)], starved: A => Boolean)(
      attempt: (Int, Boolean) => A): A =
    if (priced.exists { case (matches, threshold) => matches <= threshold })
      attempt(numCells, true)
    else {
      var width = math.max(1, math.min(nprobe, numCells))
      var res = attempt(width, false)
      while (width < numCells && starved(res)) {
        width = math.min(width * 2, numCells)
        res = attempt(width, false)
      }
      res
    }

  /** Cell ids as literals of the cells' partition-column type, so
    * `centroid_id IN (…)` lands in PartitionFilters and un-probed cell
    * directories are never listed. The type is INFERRED from the
    * directory names and depends on session config (INT normally;
    * STRING when partition-column type inference is off) — mistyped
    * literals would silently match nothing. */
  private def cellLiterals(cellIds: Seq[Long],
      partType: org.apache.spark.sql.types.DataType): Seq[Any] =
    partType match {
      case org.apache.spark.sql.types.IntegerType => cellIds.map(_.toInt)
      case org.apache.spark.sql.types.LongType => cellIds
      case _ => cellIds.map(_.toString)
    }

  /** Serving handle over any segmented IVF layout: [[ivfBuildIndex]]'s
    * fp16 or fp32 cosine cells, SOAR-spilled or not, and
    * [[ivfPqBuildIndex]]'s IVFADC codes. The layout states every fact
    * the handle needs, so there is nothing to configure:
    *  - the cell metric is squared L2 (in OPQ space when a rotation
    *    sidecar exists) exactly when the cells carry `codes`, cosine
    *    otherwise; [[probe]] ranks the centroids by it, driver-local;
    *  - the exact payload is `emb16` or `v`; the codebooks and the
    *    rotation are collected when present; the spilled flag is the
    *    spill meta's.
    * Centroids, codebooks and the segment list resolve ONCE at load
    * (driver-scale sidecars), so appends committed later serve through
    * a re-load, never half-seen.
    *
    * Two probe paths, one answer:
    *  - [[search]] plans Catalyst jobs over the cell parquet, the probed
    *    cells as a PartitionFilter. It is the only path that evaluates a
    *    `Column`, so attr-filtered serving runs it, and it is the
    *    reference the resident probe is specified against;
    *  - a filterless serving request runs ONE `SparkContext.runJob` over
    *    the cells pinned in executor memory (one RDD partition per cell,
    *    built by the first such request of a handle): no analysis,
    *    codegen or parquet open per request. A vector stays resident at
    *    ≈ id + 2·dim bytes (fp16), id + 4·dim (fp32) or id + m + 2·dim
    *    (IVFADC + refine) until [[unpin]].
    * A cosine layout's handle is its own [[DenseIndex]]; an IVFADC layout
    * serves cosine scores through [[asDense]]'s refine stage. The width
    * policy ([[probeWidths]]), the query checks and the predicate pricing
    * live here once; pricing is collected lazily, once per handle,
    * whatever view serves. Thread-safe: pinning is serialized, all other
    * state is immutable or lazy. */
  final class IvfIndex private (indexDir: String,
      centroids: Array[(Long, Array[Float])], cb: Array[Array[Array[Float]]],
      cells: DataFrame, rot: Option[Array[Array[Double]]], spilled: Boolean,
      lease: Option[graft.sync.SegmentedIndex.Lease]) extends DenseIndex {

    /** Number of cells in the frozen geometry — the nprobe ceiling. */
    def numCells: Int = centroids.length

    /** Vector width of the geometry — the only query width it scores (a
      * narrower dot product would truncate; an OPQ rotation is square,
      * so caller space has the same). */
    val dim: Int = centroids.head._2.length

    /** Metadata columns the cells carry beyond the layout — the
      * predicates a filtered probe may reference. */
    val attrColumns: Seq[String] = cells.columns.toSeq.filterNot(LayoutCols)

    /** Do the cells carry IVFADC codes (L2 cells, ADC at stage 1)? */
    val hasCodes: Boolean = cells.columns.contains("codes")

    /** Does the IVFADC layout carry the fp16 refine payload
      * ([[ivfPqBuildIndex]]`(refine = true)`)? Only then can the
      * `refine > 1` re-rank and [[asDense]] run. */
    val hasRefine: Boolean = hasCodes && cells.columns.contains("emb16")

    /** Was the index built with an OPQ rotation (`opqSweeps > 0`)? */
    val hasRotation: Boolean = rot.nonEmpty

    private val centroidOf: Map[Long, Array[Float]] = centroids.toMap

    /** Rotate a caller-space query into the index's space — applied
      * exactly once at every public entry (the internals all take the
      * already-rotated vector). */
    private def rq(queryVec: Array[Float]): Array[Float] =
      rot.fold(queryVec)(graft.functions.RotMath.rotateLocal(queryVec, _))

    /** The query's `nprobe` nearest cells by the cell metric, ties by
      * cell id — local arithmetic over the collected centroids. */
    private def probe(queryVec: Array[Float], nprobe: Int): Seq[Long] =
      centroids
        .map { case (cid, cv) =>
          (cid, if (hasCodes) l2sqLocal(queryVec, cv)
            else graft.functions.VectorMath.cosineDistance(cv, queryVec)) }
        .sortBy { case (cid, d) => (d, cid) }
        .take(nprobe).map(_._1).toSeq

    private def l2sqLocal(q: Array[Float], c: Array[Float]): Double = {
      var aa = 0.0; var ab = 0.0; var bb = 0.0
      var i = 0
      while (i < c.length) {
        aa += q(i).toDouble * q(i)
        ab += q(i).toDouble * c(i)
        bb += c(i).toDouble * c(i); i += 1
      }
      aa - 2.0 * ab + bb
    }

    /** The probed cells' rows, `filter` applied inside the pruned scan:
      * the cell ids land in PartitionFilters (un-probed directories are
      * never listed) and the predicate reaches the parquet reader as a
      * data filter on the probed partitions. */
    private def scoped(probed: Seq[Long], filter: Option[Column]): DataFrame =
      filter.foldLeft(cells.filter(col("centroid_id").isin(cellLiterals(
        probed, cells.schema("centroid_id").dataType): _*)))(_ filter _)

    /** Stage-1 top-k over the `nprobe` nearest cells, (id, centroid_id,
      * score) ordered by (score, id): exact cosine distance on a cosine
      * layout, approximate squared L2 (`score_adc`) on an IVFADC one.
      * `filter`: optional predicate over [[attrColumns]], applied INSIDE
      * the pruned cell scan, so selective predicates cut scan work
      * instead of starving the post-hoc result. */
    def search(queryVec: Array[Float], k: Int, nprobe: Int,
        filter: Option[Column]): DataFrame = {
      val q = rq(queryVec)
      val probed = probe(q, nprobe)
      if (hasCodes) return adc(q, k, probed, filter)
      val score =
        if (cells.columns.contains("emb16"))
          graft.functions.fp16_cosine_distance(col("emb16"), typedLit(q))
        else cosine_distance(col("v"), typedLit(q))
      val scored = scoped(probed, filter).withColumn("score", score)
      // spilled layout: a vector whose primary AND secondary cells are
      // both probed scores twice with the same distance — collapse via
      // a map-side-combinable min on narrow (id, score, cell) rows, the
      // Soar.topKProbes shape, so effective k is k distinct vectors;
      // unspilled indexes keep the untouched single-job plan
      val ranked =
        if (!spilled) scored
          .select(col("id"),
            col("centroid_id").cast("long").as("centroid_id"),
            col("score"))
        else scored.groupBy(col("id"))
          .agg(min(col("score")).as("score"),
            min(col("centroid_id").cast("long")).as("centroid_id"))
          .select(col("id"), col("centroid_id"), col("score"))
      ranked
        .orderBy(col("score").asc, col("id").asc)
        .limit(k)
        .select(col("id"), col("centroid_id"), col("score"))
    }

    def search(queryVec: Array[Float], k: Int, nprobe: Int): DataFrame =
      search(queryVec, k, nprobe, None: Option[Column])

    /** ADC-shortlist-then-exact-re-rank (the FAISS `IndexRefine` stage)
      * of an IVFADC layout: stage 1 is the ADC search widened to
      * `refine·k` candidates; their ids collect to the driver (r·k
      * values) and stage 2 re-scores EXACTLY those rows against the fp16
      * refine payload — a second partition-pruned scan of the probed
      * cells with an id IN-list that parquet row-group stats skip on.
      * Stage 2 touches r·k fp16 rows, not nprobe/cells of them, so the
      * re-rank cost is independent of corpus size. `score` is exact
      * squared L2 of (q − v) at fp16 input precision, or with
      * `cosineScore` the fused fp16 cosine distance — identical ranking
      * on the unit-norm corpus (l2² = 2·cos-dist for unit vectors), but
      * the number the store scan and the cosine layouts emit. The filter
      * applies at stage 1, so the shortlist already satisfies it.
      * `refine = 1` is [[search]]'s stage 1. */
    def search(queryVec: Array[Float], k: Int, nprobe: Int,
        refine: Int, filter: Option[Column] = None,
        cosineScore: Boolean = false): DataFrame = {
      require(refine >= 1, s"refine=$refine must be >= 1")
      if (refine == 1) return search(queryVec, k, nprobe, filter)
      require(hasRefine,
        "refine > 1 needs an index built with ivfPqBuildIndex(refine=true)")
      // id type follows the corpus key (long for numeric corpora, string
      // for the highlight store) — the IN-list carries whatever it is
      val qR = rq(queryVec)
      val probed = probe(qR, nprobe)
      val shortlist = adc(qR, k * refine, probed, filter)
        .select(col("id")).collect().map(_.get(0)).toSeq
      val rescore =
        if (cosineScore) graft.functions.fp16_cosine_distance(
          col("emb16"), typedLit(qR))
        else l2sq(graft.functions.fp16_decode(col("emb16")),
          typedLit(qR))
      // chunkedIn, not isin: refine·k literals in one In would build a
      // left-deep parquet or-chain whose recursive evaluation overflows
      // default task stacks past ~1024 ids (refine=128·k=10, and the
      // API default k=20 at refine=64, both hit 1280) — and any single
      // In past inFilterThreshold silently range-degrades (the r10
      // cliff). Balanced 256-id legs have neither failure mode at any
      // legal refine·k (MaxK=100 → 12800 ids → depth ~261).
      scoped(probed, Some(chunkedIn(col("id"), shortlist)))
        .select(col("id"),
          col("centroid_id").cast("long").as("centroid_id"),
          rescore.as("score"))
        .orderBy(col("score").asc, col("id").asc)
        .limit(k)
    }

    /** Stage-1 ADC over an ALREADY-ROTATED query: ONE scan with a
      * partition IN-filter + the per-cell LUT map — nprobe single-cell
      * legs would mean nprobe scans to PLAN per request, and planning is
      * the serialized path under concurrency (measured: 4-leg union p95
      * 1.47 s vs single-scan ~0.4 s at the 20-user gate shape). */
    private def adc(queryVec: Array[Float], k: Int, probed: Seq[Long],
        filter: Option[Column]): DataFrame =
      scoped(probed, filter)
        .select(col("id"),
          col("centroid_id").cast("long").as("centroid_id"),
          graft.functions.pq_adc_score_cells(col("codes"),
            col("centroid_id"), cellLuts(queryVec, probed)).as("score_adc"))
        .orderBy(col("score_adc").asc, col("id").asc)
        .limit(k)

    /** One residual LUT per probed cell (`q − c` against the shared
      * codebooks — per cell because residuals are cell-relative) over an
      * ALREADY-ROTATED query. */
    private def cellLuts(queryVec: Array[Float], probed: Seq[Long])
        : Map[Long, Array[Array[Double]]] =
      probed.map { cid =>
        val qr = queryVec.zip(centroidOf(cid)).map { case (a, b) => a - b }
        cid -> graft.functions.PqMath.lut(qr, cb)
      }.toMap

    /** This handle as a [[DenseIndex]] at refine rung `refine`: itself on
      * a cosine layout (its scores are exact; there is nothing to
      * refine), on an IVFADC layout a view whose ADC shortlist of r·k
      * rows re-scores against the fp16 refine payload with the COSINE
      * metric (store-compatible scores). Views share the handle's pinned
      * cells and pricing, so a view per request costs nothing. */
    def asDense(refine: Int): DenseIndex =
      if (!hasCodes) this
      else { checkRefine(refine); new RefineView(this, refine) }

    def servingTopK(queryVec: Array[Float], k: Int, nprobe: Int,
        filter: Option[Column]): Array[org.apache.spark.sql.Row] =
      topK(queryVec, k, nprobe, filter, refine = 1)

    override def servingTopKRouted(queryVec: Array[Float], k: Int,
        nprobe: Int, filter: Column): Array[org.apache.spark.sql.Row] =
      topKRouted(queryVec, k, nprobe, filter, refine = 1)

    /** [[servingTopK]] at rung `refine`: one pruned probe filterless
      * (the resident job); filtered, the widening ladder of Catalyst
      * probes. */
    private[Knn] def topK(queryVec: Array[Float], k: Int, nprobe: Int,
        filter: Option[Column],
        refine: Int): Array[org.apache.spark.sql.Row] = {
      check(queryVec, refine)
      probeWidths[Array[org.apache.spark.sql.Row]](numCells, nprobe, None,
          rows => filter.nonEmpty && rows.length < k) {
        (width, _) => probeRows(queryVec, k, width, filter, refine)
      }
    }

    /** [[DenseIndex.servingTopKRouted]] at rung `refine`: price the
      * predicate — an equality on a stats-covered attr reads its match
      * count from the build-time sidecar (FREE: driver map lookup, the
      * 100-TB routing contract), anything else measures it
      * ([[measuredMatches]]) — then
      *  - matches ≤ nprobe·avgCellRows → ONE full-width probe (exact by
      *    construction; fewer vector rows than even the first probe
      *    attempt would touch, and none of the ladder's widenings);
      *  - otherwise → the widening ladder, which now starts with
      *    enough matches in reach that widening is rare.
      * After deletes the sidecar counts are upper bounds (tombstones
      * don't subtract), which only biases the route toward the ladder —
      * both branches stay exact; compaction re-exacts them. */
    private[Knn] def topKRouted(queryVec: Array[Float], k: Int, nprobe: Int,
        filter: Column, refine: Int): Array[org.apache.spark.sql.Row] = {
      check(queryVec, refine)
      val matches = statsPrice(attrStats, filter)
        .getOrElse(measuredMatches(filter))
      val threshold =
        (avgCellRows * math.max(1, math.min(nprobe, numCells))).toLong
      probeWidths[Array[org.apache.spark.sql.Row]](numCells, nprobe,
          Some(matches -> threshold), _.length < k) {
        (width, _) => probeRows(queryVec, k, width, Some(filter), refine)
      }
    }

    /** One probe over the `width` nearest cells, collected: ≤ k
      * `(id, score)` rows ordered by (score, id), cosine scores. */
    private def probeRows(queryVec: Array[Float], k: Int, width: Int,
        filter: Option[Column], refine: Int): Array[org.apache.spark.sql.Row] =
      if (filter.isEmpty) residentTopK(queryVec, k, width, refine)
      else search(queryVec, k, width, refine, filter, cosineScore = true)
        .collect().map(r => org.apache.spark.sql.Row(r.get(0), r.getDouble(2)))

    /** Refuse, BEFORE any Spark job, a request the layout cannot answer
      * in cosine scores: a query of another width (the scoring kernels
      * would truncate to the shorter operand and rank rows by a
      * meaningless number), or an IVFADC request without its refine
      * stage. */
    private def check(queryVec: Array[Float], refine: Int): Unit = {
      checkRefine(refine)
      require(queryVec.length == dim,
        s"query vector is ${queryVec.length}-dim but the index at " +
          s"$indexDir is $dim-dim; embed queries at the index's width")
    }

    private def checkRefine(refine: Int): Unit =
      require(!hasCodes || (hasRefine && refine >= 2),
        s"the IVFADC index at $indexDir serves cosine scores through its " +
          "refine stage: it needs the refine payload of " +
          "ivfPqBuildIndex(refine=true) " +
          (if (hasRefine) "" else "(this generation has none) ") +
          s"and refine >= 2, got refine=$refine")

    /** The predicate's match count, measured: one scan of ONLY its
      * columns (vectors never read), counting DISTINCT vectors on a
      * SOAR-spilled layout (a plain count reads 2× and mis-routes near
      * the threshold). */
    private[Knn] def measuredMatches(filter: Column): Long = {
      val matched = cells.filter(filter)
      if (spilled) matched.agg(countDistinct(col("id"))).head().getLong(0)
      else matched.count()
    }

    /** Mean vectors per cell — the routing yardstick: a probe attempt
      * at width w reads ~w·avgCellRows rows, so a predicate matching
      * fewer than that is cheaper to scan outright. */
    private lazy val avgCellRows: Double =
      measuredMatches(lit(true)).toDouble / math.max(1, numCells)

    /** Build-time attr stats, aggregated to the driver: covered-column
      * set + global `(column, value) → distinct match count` (exactly
      * ÷2 on a spilled layout, where every id holds two copies).
      * ≤ AttrStatsMaxValues entries per column by the sidecar's cap, so
      * this is query-plan-sized state like the centroids. None when any
      * live segment predates the sidecar — routing then measures. */
    private lazy val attrStats
        : Option[(Set[String], Map[(String, String), Long])] =
      collectAttrStats(cells.sparkSession, indexDir,
        if (spilled) 2L else 1L)

    /** Cell id → its partition of the resident cells (centroid order). */
    private val cellPart: Map[Long, Int] =
      centroids.map(_._1).zipWithIndex.toMap

    @volatile private var pinned: org.apache.spark.rdd.RDD[IvfIndex.Cell] = _
    private var released = false

    /** The cells pinned in executor memory, one RDD partition per cell
      * ([[cellPart]]) — built and materialized by the first caller. A
      * handle already released by [[unpin]] builds them unpersisted, so
      * a request still in flight on a superseded generation leaves no
      * cached blocks behind. */
    private def residentCells: org.apache.spark.rdd.RDD[IvfIndex.Cell] = {
      val p = pinned
      if (p != null) p
      else synchronized {
        if (pinned == null)
          pinned = IvfIndex.pinCells(cells, cellPart, s"ivf cells $indexDir",
            persist = !released)
        pinned
      }
    }

    /** Release the pinned cells and, on a [[IvfIndex.reloading]] handle,
      * its segment lease (soft: a request in flight on this handle
      * recomputes its cells from the parquet layout — see
      * [[graft.sync.SegmentedIndex.commit]] for what a released lease no
      * longer keeps). The superseded generation's eviction hook. */
    def unpin(): Unit = synchronized {
      released = true
      if (pinned != null) pinned.unpersist(blocking = false)
      lease.foreach(_.release())
    }

    /** The filterless probe over the resident cells: ONE `runJob` over
      * the `width` probed cells' partitions. Each task scores its cell
      * at stage 1 — ADC against the cell's residual LUT on an IVFADC
      * layout, exact cosine otherwise — keeps its top `cap` rows by
      * (stage 1, id) and exact-scores those (cap = r·k on the ADC path,
      * k otherwise). The driver orders every row by (stage 1, id), keeps
      * each id's first copy (a spilled layout holds two, scored alike),
      * cuts the top `cap`, then the top k by (exact, id). Every cut
      * orders as the Catalyst plan does ([[IvfIndex.scoreIdOrder]]), so
      * the rows and scores are those of [[search]] — on the ADC path
      * `search(q, k, width, refine, None, cosineScore = true)`. */
    private def residentTopK(queryVec: Array[Float], k: Int, width: Int,
        refine: Int): Array[org.apache.spark.sql.Row] = {
      val q = rq(queryVec)
      val probed = probe(q, width)
      val luts =
        if (hasCodes) cellLuts(q, probed) else Map.empty[Long, Array[Array[Double]]]
      val lutOf = probed.map(cid => cellPart(cid) -> luts.get(cid)).toMap
      val cap = if (hasCodes) k * refine else k
      val idType = cells.schema("id").dataType
      val qNorm = graft.functions.VectorMath.norm(q)
      val blocks = residentCells
      val perCell = blocks.sparkContext.runJob(blocks,
        (ctx: org.apache.spark.TaskContext, it: Iterator[IvfIndex.Cell]) =>
          IvfIndex.probeCell(it.next(), lutOf(ctx.partitionId()), q, qNorm,
            cap, idType),
        lutOf.keys.toSeq.sorted)
      val ord = IvfIndex.scoreIdOrder(idType)
      perCell.flatten
        .sorted(ord.on[(Double, Any, Double)](t => (t._1, t._2)))
        .distinctBy(_._2).take(cap)
        .sorted(ord.on[(Double, Any, Double)](t => (t._3, t._2))).take(k)
        .map(t => org.apache.spark.sql.Row(
          org.apache.spark.sql.catalyst.CatalystTypeConverters
            .convertToScala(t._2, idType), t._3))
    }
  }

  /** An IVFADC [[IvfIndex]] served at one refine rung
    * ([[IvfIndex.asDense]]): the handle's probes and pricing, cosine
    * scores from its refine stage. */
  private final class RefineView(idx: IvfIndex, refine: Int)
      extends DenseIndex {
    def attrColumns: Seq[String] = idx.attrColumns
    def servingTopK(queryVec: Array[Float], k: Int, nprobe: Int,
        filter: Option[Column]): Array[org.apache.spark.sql.Row] =
      idx.topK(queryVec, k, nprobe, filter, refine)
    override def servingTopKRouted(queryVec: Array[Float], k: Int,
        nprobe: Int, filter: Column): Array[org.apache.spark.sql.Row] =
      idx.topKRouted(queryVec, k, nprobe, filter, refine)
  }

  object IvfIndex {
    def load(spark: org.apache.spark.sql.SparkSession,
        indexDir: String): IvfIndex = open(spark, indexDir, leased = false)

    /** [[load]] behind a per-request generation check
      * ([[graft.sync.Reloading]]): appends, deletes, compactions and
      * rebuilds committed while the server runs are served after their
      * commit, not after a process restart. Each served handle LEASES the
      * segment list it resolved ([[graft.sync.SegmentedIndex.lease]]), so
      * a compaction keeps those files while the handle is current; the
      * reload that supersedes it unpins its cells and releases the
      * lease, which sweeps what no live list or other lease names. */
    def reloading(spark: org.apache.spark.sql.SparkSession, indexDir: String,
        minCheckIntervalMs: Long = 0L): graft.sync.Reloading[IvfIndex] =
      graft.sync.Reloading.withEvict(spark, indexDir,
        Seq("centroids", "codebooks"), minCheckIntervalMs)(
        open(spark, indexDir, leased = true))(_.unpin())

    private def open(spark: org.apache.spark.sql.SparkSession,
        indexDir: String, leased: Boolean): IvfIndex = {
      val lease =
        if (leased) graft.sync.SegmentedIndex.lease(spark, indexDir) else None
      try {
        val cells = readCells(spark, indexDir, lease.map(_.segments))
        val cb =
          if (!cells.columns.contains("codes")) Array.empty[Array[Array[Float]]]
          else collectCodebooks(spark.read.parquet(s"$indexDir/codebooks"))
        new IvfIndex(indexDir, loadCentroids(spark, indexDir), cb, cells,
          loadRotation(spark, indexDir),
          spilled = ivfSpillMeta(spark, indexDir).isDefined, lease)
      } catch { case e: Throwable => lease.foreach(_.release()); throw e }
    }

    /** One IVF cell, resident: its rows' ids (Catalyst internal values),
      * exact payloads (fp16 `emb16` bytes or fp32 `v` array data) and,
      * on an IVFADC layout, m-byte codes (empty otherwise),
      * index-aligned. */
    private[Knn] final class Cell(val ids: Array[Any], val vecs: Array[Any],
        val codes: Array[Array[Byte]]) extends Serializable

    /** The cell layout as one RDD partition per cell, cell c in partition
      * `partOf(c)` (an empty cell is an empty [[Cell]]), persisted
      * MEMORY_AND_DISK and materialized by one job when `persist`. */
    private[Knn] def pinCells(cells: DataFrame, partOf: Map[Long, Int],
        name: String, persist: Boolean): org.apache.spark.rdd.RDD[Cell] = {
      val payload = if (cells.columns.contains("emb16")) "emb16" else "v"
      val codes = cells.columns.contains("codes")
      val idType = cells.schema("id").dataType
      val vecType = cells.schema(payload).dataType
      val copy = org.apache.spark.sql.catalyst.InternalRow.copyValue _
      val blocks = cells.select(Seq(col("centroid_id").cast("long"), col("id"),
          col(payload)) ++ (if (codes) Seq(col("codes")) else Nil): _*)
        .queryExecution.toRdd
        .map(r => partOf(r.getLong(0)) -> ((copy(r.get(1, idType)),
          copy(r.get(2, vecType)), if (codes) r.getBinary(3) else null)))
        .partitionBy(new org.apache.spark.HashPartitioner(partOf.size))
        .mapPartitions({ rows =>
          val rs = rows.map(_._2).toArray
          Iterator(new Cell(rs.map(_._1), rs.map(_._2),
            if (codes) rs.map(_._3) else Array.empty))
        }, preservesPartitioning = true)
        .setName(name)
      if (persist) {
        blocks.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        blocks.count()
      }
      blocks
    }

    /** Catalyst's ascending order on (score, id): scores as SQL orders
      * doubles (NaN last, −0.0 = 0.0), ids by their type's SQL order —
      * UTF-8 binary for strings, signed for longs. `orderBy(score, id)`
      * cuts the Catalyst probe by this order. */
    private[Knn] def scoreIdOrder(idType: org.apache.spark.sql.types.DataType)
        : Ordering[(Double, Any)] = {
      val idOrd = org.apache.spark.sql.catalyst.types.PhysicalDataType
        .ordering(idType)
      new Ordering[(Double, Any)] {
        def compare(a: (Double, Any), b: (Double, Any)): Int = {
          val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil
            .compareDoubles(a._1, b._1)
          if (c != 0) c else idOrd.compare(a._2, b._2)
        }
      }
    }

    /** One task of the resident probe: the cell's top `cap` rows by
      * (stage 1, id), each as (stage 1, id, exact cosine distance) —
      * the scores the Catalyst kernels compute. Stage 1 is ADC against
      * `lut` when given, else the exact score itself. */
    private[Knn] def probeCell(cell: Cell, lut: Option[Array[Array[Double]]],
        q: Array[Float], qNorm: Double, cap: Int,
        idType: org.apache.spark.sql.types.DataType)
        : Array[(Double, Any, Double)] = {
      def exact(i: Int): Double = cell.vecs(i) match {
        case b: Array[Byte] =>
          graft.functions.VectorMath.cosineDistanceHalfPre(b, q, qNorm)
        case a: org.apache.spark.sql.catalyst.util.ArrayData =>
          graft.functions.VectorMath.cosineDistancePre(a, q, qNorm)
      }
      val first = lut.fold(Array.tabulate(cell.ids.length)(exact))(l =>
        cell.codes.map(graft.functions.PqMath.adc(_, l)))
      val ord = scoreIdOrder(idType)
      val byRow = ord.on[Int](i => (first(i), cell.ids(i)))
      // max-heap of the best `cap` rows so far: its head is the worst kept
      val kept = scala.collection.mutable.PriorityQueue.empty[Int](byRow)
      for (i <- first.indices)
        if (kept.size < cap) kept.enqueue(i)
        else if (byRow.lt(i, kept.head)) { kept.dequeue(); kept.enqueue(i) }
      kept.iterator.map(i => (first(i), cell.ids(i),
        if (lut.isEmpty) first(i) else exact(i))).toArray
    }
  }

  /** [[IvfIndex]] under its former IVFADC name. It exists for perfbench
    * alone, whose calls must compile unchanged until its next change. */
  val IvfPqIndex: IvfIndex.type = IvfIndex

  /** The collected centroid sidecar of an IVF layout. */
  private def loadCentroids(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Array[(Long, Array[Float])] = {
    val cents = spark.read.parquet(s"$indexDir/centroids")
      .select(col("centroid_id"), col("cvec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(cents.nonEmpty,
      s"IVF index at $indexDir has an empty centroids sidecar")
    cents
  }

  /** The live cell data of a segmented IVF layout (either payload):
    * each segment read as its own parquet root and unioned — one
    * multi-path read would reject the "conflicting" per-segment
    * partition trees; probe filters push through the Union, so every
    * segment's scan prunes to the probed cells. Tombstone segments
    * ([[ivfDeleteIndex]]) anti-join away under SEQUENCE scope — a
    * tombstone masks only segments committed before it, so a vector
    * re-appended after its delete (the CDC changed-doc shape) is
    * served; steady state (no tombstones) carries no join. `list`: a
    * segment list already resolved (a leased one), else the live list. */
  private def readCells(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, list: Option[Seq[String]] = None): DataFrame =
    list.orElse(graft.sync.SegmentedIndex.resolve(spark, indexDir)) match {
      case Some(list) =>
        graft.sync.SegmentedIndex.tombstoneScopes(list)
          .map { case (data, tombs) =>
            val cells = data.map(s => spark.read.parquet(s"$indexDir/$s/cells"))
              .reduce(_ unionByName _)
            if (tombs.isEmpty) cells
            else cells.join(
              tombs.map(s => spark.read.parquet(s"$indexDir/$s/ids"))
                .reduce(_ unionByName _),
              Seq("id"), "left_anti")
          }.reduce(_ unionByName _)
      case None => throw new IllegalStateException(
        s"no segmented IVF index at $indexDir (build first)")
    }

  /** Delete vectors from a persistent IVF index without rewriting it —
    * one tombstone segment of ids + one atomic pointer commit (the
    * lexical-index pattern, [[graft.text.TextRank.deleteFromLexicalIndex]],
    * minus stats: IVF scoring has no corpus-level statistics to
    * correct). Probes anti-join the tombstones until a rebuild
    * ([[ivfBuildIndex]] — the compaction here, since cell geometry
    * should be re-trained when enough mass leaves) physically erases
    * the rows. */
  def ivfDeleteIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, ids: DataFrame, idCol: String): Unit = {
    val existing = graft.sync.SegmentedIndex.resolve(spark, indexDir)
      .getOrElse(throw new IllegalStateException(
        s"ivfDeleteIndex: no segmented IVF index at $indexDir"))
    val seg = graft.sync.SegmentedIndex.newTombstoneName()
    ids.select(col(idCol).as("id")).distinct()
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/$seg/ids")
    graft.sync.SegmentedIndex.commit(spark, indexDir, existing :+ seg)
  }

  /** Merge all live segments into one under the FROZEN cell geometry —
    * the cheap compaction between re-trains: rows already carry their
    * `centroid_id`, so the merge is a read of the tombstone-subtracted
    * cell union re-clustered by cell and rewritten (no centroid
    * training, no assignment pass, vectors move once). Bounds per-probe
    * segment fan-out after many appends and PHYSICALLY erases tombstoned
    * vectors (the commit's retention pass deletes the swept segments).
    * Payloads carry through the build's segment writer as-is (never
    * decoded or re-encoded). Distinct from the [[ivfBuildIndex]]
    * rebuild, which re-trains the geometry itself when enough mass has
    * left or drifted. */
  def ivfCompactIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit = {
    val existing = graft.sync.SegmentedIndex.resolve(spark, indexDir)
      .getOrElse(throw new IllegalStateException(
        s"ivfCompactIndex: no segmented IVF index at $indexDir"))
    if (existing.size <= 1) return
    val seg = graft.sync.SegmentedIndex.newSegmentName()
    // tombstoned rows are gone from the compacted union, so the attr
    // stats the writer derives are EXACT again (post-delete they were
    // upper bounds) — and a pre-stats index gains the sidecar here. No
    // live row left: the list stays as it is (like an empty append)
    if (writeCellSegment(readCells(spark, indexDir), s"$indexDir/$seg"))
      graft.sync.SegmentedIndex.commit(spark, indexDir, Seq(seg))
  }

  /** Is a COMPLETE persistent IVF index (either payload) on local disk
    * at `indexDir`?  Both the centroid sidecar AND the segment pointer,
    * which a build commits after every sidecar, must exist — a crashed
    * build reads as absent and gets rebuilt, not half-loaded. Local-path
    * form for fixture caches; cluster URIs should probe via FileSystem. */
  def ivfIndexReady(indexDir: String): Boolean =
    new java.io.File(s"$indexDir/centroids/_SUCCESS").isFile &&
      new java.io.File(s"$indexDir/CURRENT").isFile

  /** Lloyd-iteration centroid training for the IVF index, DataFrame-native:
    * seed = the `k` lowest-key vectors relabeled 0..k-1; each iteration
    * broadcast-assigns every corpus vector to its nearest centroid, then
    * recomputes the element-wise mean per cell via posexplode + two
    * partial-aggregated shuffles.
    *
    * The k centroids are tiny, legitimate driver-side state (like a query
    * vector): each generation is `collect()`ed and re-broadcast as a local
    * frame, so iteration i's plan depth stays CONSTANT — without this the
    * lineage accumulates every prior iteration's cross-join + window work
    * and any action re-executes the whole chain (a driver-planning and
    * recompute blowup at scale). Means accumulate in DECIMAL(25,6)
    * (order-independent exact sums), so training is fully deterministic
    * regardless of partitioning — and oracle-replicable.
    *
    * At 100 TB: train on a sample (`corpus.sample`), not the full corpus —
    * the assignment pass is the expensive full scan and runs once per
    * iteration either way.
    */
  def trainCentroids(corpus: DataFrame, vecCol: String, keyCol: String,
      k: Int, iters: Int = 5): DataFrame =
    trainCore(corpus, vecCol, keyCol, k, iters,
      ivfAssign(_, _, _, _, _, _))

  /** [[trainCentroids]] with squared-L2 assignment — textbook Lloyd
    * (assignment metric = the one the mean update minimizes), used for
    * the PQ sub-quantizer codebooks. Same determinism discipline. */
  def trainCentroidsL2(corpus: DataFrame, vecCol: String, keyCol: String,
      k: Int, iters: Int = 5): DataFrame =
    trainCore(corpus, vecCol, keyCol, k, iters,
      ivfAssignL2(_, _, _, _, _, _))

  private def trainCore(corpus: DataFrame, vecCol: String, keyCol: String,
      k: Int, iters: Int,
      assign: (DataFrame, String, String, DataFrame, String, String) => DataFrame)
      : DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col(keyCol).as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
    var cents: Seq[(Long, Seq[Float])] =
      c.orderBy(col("id").asc).limit(k).select(col("v"))
        .collect().toSeq.zipWithIndex
        .map { case (r, i) => (i.toLong, r.getSeq[Float](0)) }
    for (_ <- 0 until iters) {
      val centsDf = cents.toDF("centroid_id", "cvec")
      val assigned = assign(c, "v", "id", centsDf, "cvec", "centroid_id")
      val means = assigned
        .select(col("centroid_id"), posexplode(col("v")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg((sum(col("col").cast("double").cast("decimal(25,6)"))
          .cast("double") / count(lit(1))).as("m"))
        .groupBy(col("centroid_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m").cast("float")).as("cvec"))
      cents = means.as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    }
    cents.toDF("centroid_id", "cvec")
  }

  // ------------------------------------------------------- k-means||

  /** k-means|| initialization (Bahmani et al., VLDB 2012) — the
    * distributed seeding that replaces k-means++'s k SEQUENTIAL corpus
    * passes with `rounds` passes that each sample ~`ell` candidates in
    * parallel, then reduces the small weighted candidate set to k
    * centers driver-side. This is the missing scale story for every
    * Lloyd trainer here ([[trainCentroids]]/[[trainCentroidsL2]] seed
    * by lowest key — deterministic but quality-blind): at 10⁹ rows,
    * k-means++ is k dependent scans; k-means|| is O(rounds) scans
    * total, each one broadcast-assign + one filter.
    *
    * Deterministic end-to-end (oracle-replicable):
    *  - the "uniform" draws are a replayable LCG over the point id —
    *    include x iff `lcg(id, round)/2²⁰ < ell·d²(x)/φ` (the paper's
    *    expected-ell oversampling, derandomized);
    *  - φ = Σd² accumulates in DECIMAL(38,12) (order-independent),
    *    then one cast to double;
    *  - the final reduction is weighted farthest-first: start at the
    *    heaviest candidate, then greedily take
    *    `argmax weight·min-d²-to-selected` (ties toward the lower id)
    *    — the deterministic stand-in for the paper's "cluster the
    *    candidates with any provable algorithm", replayable as k SQL
    *    stages because k is small.
    *
    * Returns `(rank, cand_id, weight)` — rank 1..k in selection order;
    * feed the ranked ids' vectors to a Lloyd loop as its seeds. */
  def kmeansParallelInit(corpus: DataFrame, vecCol: String, keyCol: String,
      k: Int, rounds: Int = 3, ell: Double = 8.0): DataFrame = {
    require(k >= 1 && rounds >= 1 && ell > 0.0,
      s"kmeansParallelInit: need k >= 1, rounds >= 1, ell > 0, got " +
        s"k=$k rounds=$rounds ell=$ell")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(keyCol).as("id"), col(vecCol).as("v"))
    // seed candidate: the lowest-id vector — the engine-wide
    // deterministic stand-in for the uniform first draw
    val seedRow = c.orderBy(col("id").asc).limit(1)
      .as[(Long, Seq[Float])].head()
    var cands: Seq[(Long, Seq[Float])] = Seq(seedRow)
    for (r <- 1 to rounds) {
      val cd = broadcast(cands.toDF("cid", "cvec"))
      // min d² to the candidate set, per point — the exchange carries
      // (id, d) only; vectors re-attach by one id join on the sampled
      // WINNERS (≤ ~ell rows), never corpus-wide
      val d2 = c.crossJoin(cd)
        .select(col("id"), l2sq(col("v"), col("cvec")).as("d"))
        .groupBy(col("id")).agg(min(col("d")).as("d"))
      val phi = d2.agg(sum(col("d").cast("decimal(38,12)")))
        .head().getDecimal(0).doubleValue()
      // already-selected candidates sit at d = 0, so re-picks are
      // structurally impossible and the plain append below stays
      // duplicate-free
      val lcgFrac = (((col("id") % 2147483648L) * 1103515245L
        + lit(r * 12345L)) % 2147483648L % 1048576L).cast("double") /
        lit(1048576.0)
      val picked = d2
        .filter(lcgFrac < lit(ell) * col("d") / lit(phi))
        .join(c, Seq("id"))
        .select(col("id"), col("v"))
        .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
      cands = cands ++ picked
    }
    require(cands.size >= k,
      s"kmeansParallelInit: ${cands.size} candidates after $rounds " +
        s"rounds at ell=$ell — fewer than k=$k; raise ell or rounds")
    // weight each candidate by the corpus points it is nearest to
    // ((d, cid) tie-break) — one more broadcast-assign pass
    val cd = broadcast(cands.toDF("cid", "cvec"))
    val weights = cellPicks(c, cd.select(col("cid").as("centroid_id"),
        col("cvec")), nprobe = 1, l2sq(_, _))
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("weight"))
      .as[(Long, Long)].collect().toMap
    // weighted farthest-first reduction, driver-side over the tiny
    // candidate set (sequential double min/mul — the SQL replay's trees)
    def l2sqLocal(a: Seq[Float], b: Seq[Float]): Double = {
      var aa = 0.0; var ab = 0.0; var bb = 0.0
      var i = 0
      while (i < a.length) {
        aa += a(i).toDouble * a(i); ab += a(i).toDouble * b(i)
        bb += b(i).toDouble * b(i); i += 1
      }
      aa - 2.0 * ab + bb
    }
    val weighted = cands.map { case (cid, v) =>
      (cid, v, weights.getOrElse(cid, 0L))
    }
    val first = weighted.minBy { case (cid, _, w) => (-w, cid) }
    val selected = scala.collection.mutable.ArrayBuffer(first)
    while (selected.size < k) {
      val next = weighted
        .filterNot(c0 => selected.exists(_._1 == c0._1))
        .map { case (cid, v, w) =>
          val dMin = selected.map(s => l2sqLocal(v, s._2)).min
          (cid, v, w, w.toDouble * dMin)
        }
        .minBy { case (cid, _, _, sc) => (-sc, cid) }
      selected += ((next._1, next._2, next._3))
    }
    selected.toSeq.zipWithIndex
      .map { case ((cid, _, w), i) => (i + 1, cid, w) }
      .toDF("rank", "cand_id", "weight")
  }

  // ---------------------------------------------------------------- PQ

  /** Product-quantizer codebooks (Jégou et al. 2011, the FAISS IVFADC
    * compression half): the vector splits into `m` contiguous subspaces
    * of dim/m dimensions, and each subspace trains its own `ksub`-word
    * codebook with the deterministic L2 Lloyd — per-subspace means in
    * DECIMAL, seeds = the ksub lowest-key sub-vectors, so the whole
    * training chain is oracle-replicable.
    *
    * All `m` subspaces train in ONE fused chain: the slices ride a
    * single posexplode'd relation keyed by `subspace` and every Lloyd
    * iteration is ONE broadcast-assign + mean pass + collect for the
    * whole quantizer, not one chain per subspace. The per-subspace math
    * is bit-identical to training each slice with [[trainCentroidsL2]]
    * (same lowest-key seeds, same (cdist, centroid_id) tie-break, same
    * order-independent DECIMAL(25,6) means — the q109/q124 oracles gate
    * exactly that); what changes is the action count, iters+2 jobs flat
    * instead of m·(iters+1)+1 — at the m=64 serving default that is the
    * difference between 65 and 4 scheduled passes per training sweep.
    * Returns (subspace, code, cvec); collect with [[collectCodebooks]]
    * for the encode/ADC expression literals. At 100 TB: train on a
    * sample — the codebooks are m·ksub·(dim/m) floats of driver state,
    * like the IVF centroid sidecar. */
  def pqTrain(corpus: DataFrame, vecCol: String, keyCol: String,
      m: Int, ksub: Int, iters: Int = 2): DataFrame = {
    require(m >= 1 && ksub >= 1 && ksub <= 256,
      s"pqTrain: need m >= 1 and 1 <= ksub <= 256, got m=$m ksub=$ksub")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.filter(col(vecCol).isNotNull)
    val dim = c.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
    val sub = dim / m
    // every subspace's slice in one relation: (subspace, id, sv)
    val sliced = c.select(col(keyCol).as("id"),
        posexplode(array((0 until m).map(s =>
          slice(col(vecCol), s * sub + 1, sub)): _*)))
      .select(col("id"), col("pos").as("subspace"), col("col").as("sv"))
    // seeds: the ksub lowest-key vectors collected ONCE and sliced
    // driver-side — exactly the per-subspace seeds the unfused trainer
    // derived, one job instead of m
    val seedRows = c.orderBy(col(keyCol).asc).limit(ksub)
      .select(col(vecCol)).collect()
    var cents: Seq[(Int, Long, Seq[Float])] =
      seedRows.toSeq.zipWithIndex.flatMap { case (r, i) =>
        val v = r.getSeq[Float](0)
        (0 until m).map(s => (s, i.toLong, v.slice(s * sub, (s + 1) * sub)))
      }
    for (_ <- 0 until iters) {
      val centsDf = broadcast(cents.toDF("subspace", "centroid_id", "cvec"))
      // sv is functionally dependent on (subspace, id), so grouping by
      // it too re-attaches the slice without assignCore's join back
      val assigned = sliced.join(centsDf, Seq("subspace"))
        .select(col("subspace"), col("id"), col("sv"),
          l2sq(col("sv"), col("cvec")).as("cdist"), col("centroid_id"))
        .groupBy(col("subspace"), col("id"), col("sv"))
        .agg(graft.functions.topk_pairs(col("cdist"), col("centroid_id"), 1)
          .as("tk"))
        .select(col("subspace"),
          col("tk").getItem(0).getField("id").cast("long")
            .as("centroid_id"),
          col("sv"))
      val means = assigned
        .select(col("subspace"), col("centroid_id"), posexplode(col("sv")))
        .groupBy(col("subspace"), col("centroid_id"), col("pos"))
        .agg((sum(col("col").cast("double").cast("decimal(25,6)"))
          .cast("double") / count(lit(1))).as("m"))
        .groupBy(col("subspace"), col("centroid_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m").cast("float")).as("cvec"))
      cents = means.as[(Int, Long, Seq[Float])].collect().toSeq
        .sortBy(t => (t._1, t._2))
    }
    cents.toDF("subspace", "code", "cvec")
  }

  /** [[pqTrain]]'s frame → the nested array the expressions reference. */
  def collectCodebooks(codebooks: DataFrame): Array[Array[Array[Float]]] =
    codebooks.select(col("subspace"), col("code"), col("cvec"))
      .collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getLong(1)).map(_.getSeq[Float](2).toArray).toArray
      }.toArray

  /** Encode a corpus to `m`-byte PQ codes — the 100 TB at-rest form:
    * 3072-dim fp32 is 12 KB/vector, m=64 codes are 64 B (192×). One
    * narrow codegen pass ([[graft.functions.PqEncode]]); compose with
    * the IVF cell layout for FAISS's full IVFADC (cells prune WHERE to
    * scan, codes shrink WHAT is scanned). */
  def pqEncode(corpus: DataFrame, vecCol: String, keyCol: String,
      codebooks: Array[Array[Array[Float]]]): DataFrame =
    corpus.filter(col(vecCol).isNotNull)
      .select(col(keyCol).as("id"),
        graft.functions.pq_encode(col(vecCol), codebooks).as("codes"))

  /** Approximate top-k by asymmetric distance: the query's exact
    * distance to every codeword precomputes into an m×ksub LUT
    * (driver-side, once), each stored code scores via m table
    * lookups+adds ([[graft.functions.PqAdcScore]] — codegen, no vector
    * ever decoded), and `TakeOrderedAndProject` keeps k. Recall is the
    * quantizer's (m·ksub dial); the score is the ADC approximation of
    * squared L2. */
  def pqTopK(encoded: DataFrame, codebooks: Array[Array[Array[Float]]],
      queryVec: Array[Float], k: Int): DataFrame = {
    val lut = graft.functions.PqMath.lut(queryVec, codebooks)
    encoded
      .withColumn("score_adc",
        graft.functions.pq_adc_score(col("codes"), lut))
      .orderBy(col("score_adc").asc, col("id").asc)
      .limit(k)
      .select(col("id"), col("score_adc"))
  }

  // --------------------------------------------------------------- OPQ

  /** Optimized product quantization (Ge, He, Ke & Sun, CVPR 2013 —
    * the non-parametric OPQ-NP loop; FAISS `OPQMatrix`): learn an
    * orthonormal rotation R so the product quantizer's subspace split
    * lands on DECORRELATED dimensions, then quantize `R·x` with the
    * ordinary [[pqTrain]] machinery. Plain PQ's bits are wasted
    * wherever variance straddles a subspace boundary; the rotation
    * moves the boundary instead of paying for it. Alternates:
    *   1. codebooks ← [[pqTrain]] over the rotated corpus,
    *   2. R ← argmin_{orthonormal} Σ‖R·x − x̂‖² (orthogonal Procrustes:
    *      R = U·Vᵀ from the SVD of the cross-covariance M = Σ x̂·xᵀ),
    * and finishes with one more codebook training under the final R.
    *
    * Scale shape: step 1 is the [[pqTrain]] cost (train on a sample);
    * step 2's only corpus-scale work is M — d² per-(i,j) products
    * accumulated in DECIMAL(38,12) (order-independent → deterministic
    * under any partitioning), one narrow shuffle of d² partial
    * aggregates; the d×d SVD is driver-side LAPACK (breeze), the same
    * tiny-state discipline as every centroid sidecar here. The
    * returned rotation rides query-side as [[graft.functions.MatVecRotate]]
    * (one fused codegen pass over the scan; rotate the QUERY with
    * [[graft.functions.RotMath.rotateLocal]] and both sides live in
    * the rotated space — searching is otherwise unchanged PQ/ADC).
    *
    * Returns (rotation, codebooks-over-rotated-space). */
  def opqTrain(corpus: DataFrame, vecCol: String, keyCol: String,
      m: Int, ksub: Int, iters: Int = 2, sweeps: Int = 2)
      : (Array[Array[Double]], Array[Array[Array[Float]]]) = {
    require(sweeps >= 1, s"opqTrain: need sweeps >= 1, got $sweeps")
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(keyCol).as("id"), col(vecCol).as("v"))
    val dim = c.select(size(col("v"))).head().getInt(0)
    var rot: Array[Array[Double]] =
      Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var cb: Array[Array[Array[Float]]] = null
    for (_ <- 1 to sweeps) {
      val rotated = c.select(col("id"),
        graft.functions.mat_vec_rotate(col("v"), rot).as("rv"))
        .localCheckpoint()
      cb = collectCodebooks(pqTrain(rotated, "rv", "id", m, ksub, iters))
      // cross-covariance M = Σ x̂·xᵀ over (reconstruction, ORIGINAL
      // vector) pairs — d² cells, DECIMAL-exact per cell
      val pairs = c.join(rotated, Seq("id"))
        .select(col("v"),
          graft.functions.pq_decode(
            graft.functions.pq_encode(col("rv"), cb), cb).as("xhat"))
      val mCells = pairs
        .select(posexplode(col("xhat")).as(Seq("i", "xh")), col("v"))
        .select(col("i"), col("xh"), posexplode(col("v")).as(Seq("j", "xj")))
        .groupBy(col("i"), col("j"))
        .agg(sum((col("xh").cast("double") * col("xj").cast("double"))
          .cast("decimal(38,12)")).as("mij"))
        .collect()
      val mMat = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
      mCells.foreach { r =>
        mMat(r.getInt(0), r.getInt(1)) = r.getDecimal(2).doubleValue()
      }
      val decomp = breeze.linalg.svd(mMat)
      val rMat = decomp.U * decomp.Vt
      rot = Array.tabulate(dim, dim)((i, j) => rMat(i, j))
    }
    // codebooks must describe the FINAL rotation's space
    val rotated = c.select(col("id"),
      graft.functions.mat_vec_rotate(col("v"), rot).as("rv"))
    cb = collectCodebooks(pqTrain(rotated, "rv", "id", m, ksub, iters))
    (rot, cb)
  }

  // ---------------------------------------------------------------- RQ

  /** Residual-quantizer codebooks (Chen, Guan & Wang 2010; FAISS
    * `IndexResidualQuantizer`) — the sequential full-dimension sibling
    * of [[pqTrain]]'s subspace split: stage 0's `ksub`-word codebook
    * trains on the vectors with the deterministic L2 Lloyd
    * ([[trainCentroidsL2]] — DECIMAL means, lowest-key seeds), then each
    * later stage trains on the float-rounded residuals after the
    * previous stages' assigned codewords subtract out. Where PQ spends
    * its bits dimension-slice by dimension-slice, RQ's stages each see
    * the FULL vector and specialize coarse-to-fine — the better
    * quantizer when variance isn't axis-aligned. Returns
    * `(stage, code, cvec)`; collect with [[collectRqCodebooks]].
    * Whole chain oracle-replicable: the residual subtraction is
    * double-subtract-then-float-round, DuckDB's
    * `CAST(CAST(x AS DOUBLE) - CAST(c AS DOUBLE) AS REAL)`.
    * At 100 TB: train on a sample like [[pqTrain]] — per stage the
    * expensive pass is one broadcast assignment scan, and the returned
    * codebooks are `stages·ksub·dim` floats of driver state. */
  def rqTrain(corpus: DataFrame, vecCol: String, keyCol: String,
      stages: Int, ksub: Int, iters: Int = 2): DataFrame = {
    require(stages >= 1 && ksub >= 1 && ksub <= 256,
      s"rqTrain: need stages >= 1 and 1 <= ksub <= 256, got " +
        s"stages=$stages ksub=$ksub")
    var resid = corpus.filter(col(vecCol).isNotNull)
      .select(col(keyCol).as("id"), col(vecCol).as("v"))
    (0 until stages).map { s =>
      val cb = trainCentroidsL2(resid, "v", "id", ksub, iters)
      if (s + 1 < stages) {
        // subtract each row's assigned codeword; localCheckpoint bounds
        // the next stage's lineage to this materialized residual frame
        // (trainCore references it 2·iters+1 times)
        resid = ivfAssignL2(resid, "v", "id", cb, "cvec", "centroid_id")
          .join(broadcast(cb), Seq("centroid_id"))
          .select(col("id"), zip_with(col("v"), col("cvec"),
            (a, b) => (a.cast("double") - b.cast("double")).cast("float"))
            .as("v"))
          .localCheckpoint()
      }
      cb.select(lit(s).as("stage"), col("centroid_id").as("code"),
        col("cvec"))
    }.reduce(_ unionByName _)
  }

  /** [[rqTrain]]'s frame → the nested array the expressions reference. */
  def collectRqCodebooks(codebooks: DataFrame): Array[Array[Array[Float]]] =
    codebooks.select(col("stage"), col("code"), col("cvec"))
      .collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getLong(1)).map(_.getSeq[Float](2).toArray).toArray
      }.toArray

  /** Encode a corpus to `stages`-byte RQ codes — one narrow codegen pass
    * ([[graft.functions.RqEncode]]: the stagewise argmin+subtract loop
    * runs per row inside whole-stage codegen, codebooks ride as a
    * referenced object). Same at-rest economics as [[pqEncode]]. */
  def rqEncode(corpus: DataFrame, vecCol: String, keyCol: String,
      codebooks: Array[Array[Array[Float]]]): DataFrame =
    corpus.filter(col(vecCol).isNotNull)
      .select(col(keyCol).as("id"),
        graft.functions.rq_encode(col(vecCol), codebooks).as("codes"))

  /** Approximate top-k by asymmetric distance over RQ codes: with
    * x̂ = Σ_s c_s the squared L2 expands to
    * ⟨q,q⟩ − 2Σ_s⟨q,c_s⟩ + (Σ_s⟨c_s,c_s⟩ + 2Σ_{s<t}⟨c_s,c_t⟩) — per-query
    * tables (incl. the stage-pair cross terms PQ never has) precompute
    * driver-side once, each stored code scores via table loads + adds
    * ([[graft.functions.RqAdcScore]], codegen, nothing decodes), and
    * `TakeOrderedAndProject` keeps k. */
  def rqTopK(encoded: DataFrame, codebooks: Array[Array[Array[Float]]],
      queryVec: Array[Float], k: Int): DataFrame = {
    val (qLut, nLut, xLut) = graft.functions.RqMath.tables(queryVec, codebooks)
    var qq = 0.0
    var i = 0
    while (i < queryVec.length) {
      qq += queryVec(i).toDouble * queryVec(i); i += 1
    }
    encoded
      .withColumn("score_adc",
        graft.functions.rq_adc_score(col("codes"), qq, qLut, nLut, xLut))
      .orderBy(col("score_adc").asc, col("id").asc)
      .limit(k)
      .select(col("id"), col("score_adc"))
  }

  /** Exact re-rank of an ADC shortlist (the refinement stage FAISS calls
    * `IndexRefine`): the shortlist — `refine·k` (id)s from [[pqTopK]] or
    * an IVFADC probe — broadcast-semi-joins back to the full-precision
    * corpus and ONLY those rows score exact squared L2 against the query.
    * Recall rises from the quantizer's toward 1.0 as `refine` grows while
    * exact-scoring work stays r·k rows — output-sensitive, never a corpus
    * rescan. The shortlist side is r·k rows of ids, always broadcast. */
  def pqRefine(shortlist: DataFrame, corpus: DataFrame, vecCol: String,
      keyCol: String, queryVec: Array[Float], k: Int): DataFrame =
    corpus.select(col(keyCol).as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
      .join(broadcast(shortlist.select(col("id"))), Seq("id"), "left_semi")
      .select(col("id"),
        l2sq(col("v"), typedLit(queryVec)).as("score_exact"))
      .orderBy(col("score_exact").asc, col("id").asc)
      .limit(k)

  // ------------------------------------------------------------ IVFADC

  /** The full FAISS IVFADC, assembled from the parts above: coarse IVF
    * cells decide WHERE to scan (partition pruning, [[ivfBuildIndex]]'s
    * layout), RESIDUAL product quantization decides what is STORED —
    * each vector's offset from its cell centroid (`v − c`) encodes to
    * `m` bytes, which quantizes far finer than raw-vector PQ at equal
    * bits because residual magnitudes are a fraction of vector
    * magnitudes (the reason FAISS encodes residuals). At 100 TB the
    * index is nprobe-pruned directories of m-byte codes: 3072-dim fp32
    * corpus = 12 KB/vec, the IVFADC index = m bytes + one id.
    *
    * Layout: [[ivfBuildIndex]]'s segmented cells with (id, codes) rows;
    * centroid + codebook sidecars (driver-scale, like the IVF sidecar)
    * written before the pointer commit, so append, delete, compaction
    * and refresh maintain it like the fp16 layout. Training order:
    * coarse centroids (L2 Lloyd — the whole IVFADC pipeline is
    * L2-geometric: residual magnitude is an L2 quantity, so cosine cells
    * would hand the sub-quantizer needlessly wide residuals) → assign →
    * residuals (`zip_with` subtract) → one L2 sub-quantizer per subspace
    * over ALL residuals. The residual advantage over raw-vector PQ
    * scales with how CLUSTERED the corpus is; on a quasi-uniform corpus
    * it only matches raw PQ — PqSpec measures both. */
  def ivfPqBuildIndex(corpus: DataFrame, vecCol: String, keyCol: String,
      indexDir: String, cells: Int, m: Int, ksub: Int, iters: Int,
      trainFilter: Column, pqTrainFilter: Column = lit(true),
      refine: Boolean = false, attrCols: Seq[String] = Nil,
      opqSweeps: Int = 0): Unit = {
    require(!attrCols.exists(LayoutCols),
      "ivfPqBuildIndex: attrCols clash with layout columns")
    val spark = corpus.sparkSession
    // opqSweeps > 0: learn the OPQ rotation on the pq-train slice
    // ([[opqTrain]] — FAISS's OPQMatrix pre-transform ahead of IVFPQ)
    // and build the ENTIRE index in rotated space: coarse cells,
    // residual codes and the fp16 refine payload all live there, and
    // queries rotate once driver-side at search entry
    // ([[IvfIndex.load]] reads the sidecar). Orthonormal R preserves
    // L2, so every score contract is unchanged — the codes just waste
    // fewer bits on cross-subspace correlation. Default 0 = no sidecar.
    val opqRot: Option[Array[Array[Double]]] =
      if (opqSweeps > 0)
        Some(opqTrain(corpus.filter(pqTrainFilter), vecCol, keyCol,
          m, ksub, iters, opqSweeps)._1)
      else None
    val corpusR = rotated(corpus, vecCol, opqRot)
    val cents = trainCentroidsL2(corpusR.filter(trainFilter), vecCol, keyCol,
      cells, iters)
    val residuals = pqResiduals(corpusR, vecCol, keyCol, cents, attrCols)
    // sub-quantizers may train on a residual sample (pqTrainFilter) —
    // the ENCODE pass always covers every vector. The slice is PERSISTED:
    // pqTrain's m Lloyd trainings would otherwise each re-execute the
    // full-corpus assignment lineage behind the residual frame
    val trainRes = residuals.filter(pqTrainFilter)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cbFrame = pqTrain(trainRes, "rv", "id", m, ksub, iters)
    val cb = collectCodebooks(cbFrame)
    trainRes.unpersist()
    val seg = graft.sync.SegmentedIndex.newSegmentName()
    writeCellSegment(pqCells(residuals, cb, refine, attrCols),
      s"$indexDir/$seg")
    cents.coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    cbFrame.coalesce(1).write.mode("overwrite").parquet(s"$indexDir/codebooks")
    // a rebuild without OPQ retires a previous rotation, which would
    // otherwise rotate every query and append of the unrotated layout
    opqRot match {
      case Some(rot) => saveRotation(spark, indexDir, rot)
      case None => retireSidecar(spark, s"$indexDir/rotation")
    }
    graft.sync.SegmentedIndex.commit(spark, indexDir, Seq(seg))
  }

  /** `df` with `vecCol` rotated into an OPQ layout's space, if any. */
  private def rotated(df: DataFrame, vecCol: String,
      rot: Option[Array[Array[Double]]]): DataFrame =
    rot.fold(df)(r =>
      df.withColumn(vecCol, graft.functions.mat_vec_rotate(col(vecCol), r)))

  /** (id, centroid_id, rv = v − c, v, attrs) of `corpus` (in the
    * layout's space) assigned by L2 to `cents`. */
  private def pqResiduals(corpus: DataFrame, vecCol: String, keyCol: String,
      cents: DataFrame, attrCols: Seq[String]): DataFrame =
    ivfAssignL2(corpus, vecCol, keyCol, cents, "cvec", "centroid_id",
      attrCols)
      .join(broadcast(cents), Seq("centroid_id"))
      .select(col("id") +: col("centroid_id") +:
        zip_with(col("v"), col("cvec"), (a, b) => a - b).as("rv") +:
        col("v") +: attrCols.map(col): _*)

  /** The IVFADC encode the build and [[ivfAppendIndex]] share: m-byte
    * residual codes, the optional fp16 refine payload (same cell files:
    * parquet is columnar, so stage-1 ADC scans never read it), attrs. */
  private def pqCells(residuals: DataFrame, cb: Array[Array[Array[Float]]],
      refine: Boolean, attrCols: Seq[String]): DataFrame =
    residuals.select(Seq(col("id"), col("centroid_id"),
      graft.functions.pq_encode(col("rv"), cb).as("codes")) ++
      (if (refine) Seq(graft.functions.fp16_encode(col("v")).as("emb16"))
       else Nil) ++
      attrCols.map(col): _*) // filterable metadata next to the codes

  /** The OPQ rotation sidecar of an [[ivfPqBuildIndex]] layout, if the
    * index was built with `opqSweeps > 0` (absent → identity). Probed
    * through the Hadoop FileSystem (the spillmeta lesson). */
  def loadRotation(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Option[Array[Array[Double]]] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/rotation/_SUCCESS")
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      None
    else Some(spark.read.parquet(s"$indexDir/rotation").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2))
  }

  /** Persist an OPQ rotation as `indexDir/rotation` ([[loadRotation]]'s
    * layout) — shared by [[ivfPqBuildIndex]] and trained-artifact
    * caches. */
  def saveRotation(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, rot: Array[Array[Double]]): Unit = {
    import spark.implicits._
    rot.toSeq.zipWithIndex.map { case (row, i) => (i, row.toSeq) }
      .toDF("i", "rvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/rotation")
  }
}
