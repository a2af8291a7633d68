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
    * touching at most ef·degree rows. A production deployment serves
    * hops from an adjacency store bucketed by source id (the lexical
    * index's term-bucket layout applied to edges — [[AdjIndex]]),
    * making each expansion an O(ef) point lookup — the corpus-scan
    * term disappears entirely, which is the reason graph ANN exists. */
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
    * them per call as the oracle does ([[knnGraph]] — O((n/4^ℓ)²); at
    * corpus scale build each layer once with [[nnDescentGraph]] and
    * serve every layer from its own [[buildAdjacencyIndex]] bucket
    * layout, making each greedy hop an O(1) point read — the descent
    * adds maxLevel·upperHops point reads per query, nothing
    * corpus-sized. */
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
      // once (layers are ~4^-ℓ of the corpus; at production scale the
      // layers come precomputed from buildHnswIndex, not re-derived)
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

  /** Top-k within the query vector's own IVF cell. */
  def ivfTopK(assigned: DataFrame, queryVec: Array[Float], queryCentroid: Long,
      k: Int): DataFrame =
    assigned.filter(col("centroid_id") === queryCentroid)
      .withColumn("score", cosine_distance(col("v"), typedLit(queryVec)))
      .orderBy(col("score").asc, col("id").asc)
      .limit(k)
      .select(col("id"), col("centroid_id"), col("score"))

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

  // ------------------------------------------- adjacency serving index

  /** The measured bucket-density dial for [[buildAdjacencyIndex]]:
    * ~50 k adjacency rows per bucket keeps every bucket-pruned probe
    * task a point read (r15, 2 M-node same-graph comparison — see the
    * builder's scaladoc). `adjRows` ≈ nodes × (degree + 1): directed
    * out-edges plus one self-row per node. Clamped to [16, 4096]:
    * below, partition pruning has nothing to prune; above, the
    * partition-directory fan-out starts costing listing/commit time. */
  def bucketsFor(adjRows: Long): Int =
    math.min(4096L, math.max(16L, adjRows / 50000L)).toInt

  /** Persist a kNN graph ([[knnGraph]] / [[nnDescentGraph]]) as the
    * SERVING adjacency index the [[graphBeamSearch]] docs promise: edge
    * rows `(src_bucket, src, dst, dvec)` partitioned by `src_bucket =
    * pmod(src, buckets)` under the [[graft.sync.SegmentedIndex]] pointer
    * — a beam's neighbor expansion prunes to ≤ef buckets and reads only
    * its srcs' rows, an O(ef·K̃) point lookup instead of an edge-table
    * scan. Each row CARRIES the destination's vector (fp16 by default),
    * so one pruned scan per hop both expands and SCORES the frontier —
    * no corpus join anywhere in the walk. Storage is K̃+1 copies of
    * every vector (the denormalization HNSW implementations avoid by
    * pointer-chasing RAM; a distributed store buys the one-scan hop
    * with it). A self-row `(src, src, vec)` per corpus node serves the
    * entry point's exact score and id→vector point reads. Appends are
    * O(batch) immutable segments like every index here.
    *
    * `buckets` is a serving-latency dial, not just a layout choice —
    * size it with [[bucketsFor]] (~50 k rows/bucket): a probe prunes to
    * the frontier's/shortlist's ≤ef DISTINCT buckets regardless of the
    * count, so more buckets never adds tasks, but each task scans its
    * whole bucket's row groups — measured at the 2 M-node edge
    * (SCALE.md §r15, same graph re-bucketed): 64 buckets (~344 k
    * rows each) served p95 882 ms at 20 users / 265 ms at 5, 440
    * buckets (~50 k rows each) 603 / 165 ms — a 1.5× latency factor
    * from density alone. */
  def buildAdjacencyIndex(edges: DataFrame, corpus: DataFrame,
      vecCol: String, keyCol: String, indexDir: String, buckets: Int = 64,
      fp16: Boolean = true, attrCols: Seq[String] = Nil): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    require(!attrCols.exists(Set("src_bucket", "src", "dst", "dvec")),
      "buildAdjacencyIndex: attrCols clash with index layout columns")
    val spark = edges.sparkSession
    require(graft.sync.SegmentedIndex.resolve(spark, indexDir).isEmpty,
      s"buildAdjacencyIndex: index already exists at $indexDir (append instead)")
    // meta first: a crash between the two writes leaves a root load()
    // rejects (no CURRENT), never a pointer without its self-description
    spark.range(1)
      .select(lit(buckets).as("buckets"), lit(fp16).as("fp16"))
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/meta")
    writeAdjSegment(edges, corpus, vecCol, keyCol, indexDir, buckets, fp16,
      selfRows = true, attrCols = attrCols)
  }

  /** Append a batch of edges (+ self-rows for any NEW nodes in
    * `newNodes`) as one immutable segment — the maintenance form: a new
    * node lands with its out-edges and the in-edges its insertion added
    * to existing nodes' lists (the caller computes both, e.g. one
    * [[nnDescentGraph]] round over new∪affected). */
  def appendAdjacencyIndex(edges: DataFrame, corpus: DataFrame,
      vecCol: String, keyCol: String, indexDir: String,
      newNodes: Option[DataFrame] = None): Unit = {
    val spark = edges.sparkSession
    val existing = graft.sync.SegmentedIndex.resolve(spark, indexDir)
      .getOrElse(throw new IllegalArgumentException(
        s"appendAdjacencyIndex: no index at $indexDir (build first)"))
    val meta = spark.read.parquet(s"$indexDir/meta").head()
    // attr columns are schema contract (the ivfAppendIndex discipline):
    // sniff them from a live segment and demand them of the corpus, so
    // an appended segment never silently drops the metadata filtered
    // resident walks evaluate
    val attrCols = spark.read
      .parquet(s"$indexDir/${existing.filterNot(
        graft.sync.SegmentedIndex.isTombstone).head}/edges")
      .columns.toSeq
      .filterNot(Set("src_bucket", "src", "dst", "dvec"))
    val missing = attrCols.filterNot(corpus.columns.contains)
    require(missing.isEmpty,
      s"appendAdjacencyIndex: corpus lacks index attr column(s) " +
        missing.mkString(", "))
    writeAdjSegment(edges, corpus, vecCol, keyCol, indexDir,
      meta.getAs[Int]("buckets"), meta.getAs[Boolean]("fp16"),
      selfRows = false, selfFor = newNodes, attrCols = attrCols)
  }

  /** Driver-local entry selection for graph-ANN serving — the measured
    * answer to the layered-descent job tax. The HNSW upper descent buys
    * a query-near layer-0 entry for maxLevel·upperHops EXTRA planned
    * point-read jobs per request; on a planner-bound runtime that tax
    * is the whole game: at the 20-user gate the flat walk from a fixed
    * entry serves p95 388 ms while the 2-layer descent (4 extra jobs)
    * serves 1028 ms — twice the gate (SCALE.md §r12, same phase). This
    * buys the same query-near property for ZERO extra jobs: the IVF
    * centroid sidecar is already driver-resident arithmetic, and each
    * cell's stored representative (its centroid-nearest member) seeds
    * the walk from inside the query's own region.
    *
    * Setup is one job (per-cell min over the cells relation, collected
    * as numCells rows); per request [[GraphEntries.entryFor]] is pure
    * driver math. Compose with [[AdjIndex.search]]:
    * `adj.search(qv, k, ef, hops, entries.entryFor(qv))`. */
  final class GraphEntries private[Knn] (
      cents: Array[(Long, Array[Float])], reps: Map[Long, Long])
      extends Serializable {
    require(cents.nonEmpty, "GraphEntries: no cells with members")
    /** The representative member of the query's nearest non-empty cell
      * — 0 Spark jobs, numCells·dim driver flops. */
    def entryFor(queryVec: Array[Float]): Long =
      entriesFor(queryVec, 1).head

    /** Representatives of the query's `count` nearest non-empty cells,
      * nearest first — multi-entry seeding for walks (the nprobe idea
      * applied to entry selection: one entry can strand a walk in a
      * region with no path to the target; seeding one per nearby cell
      * covers the query's neighborhood from `count` sides). Same zero
      * jobs, same driver flops. */
    def entriesFor(queryVec: Array[Float], count: Int): Seq[Long] =
      cents
        .map { case (cid, cv) =>
          (cid, graft.functions.VectorMath.cosineDistance(cv, queryVec)) }
        .sortBy { case (cid, d) => (d, cid) }
        .take(math.max(1, count))
        .map(c => reps(c._1)).toSeq
  }

  /** Build [[GraphEntries]] from a persistent IVF index: per cell, the
    * member nearest its centroid (ties to min id). Cells emptied by
    * deletes drop out — their queries route to the nearest surviving
    * cell. */
  def ivfGraphEntries(spark: org.apache.spark.sql.SparkSession,
      ivfIndexDir: String): GraphEntries = {
    val cents = loadCentroids(spark, ivfIndexDir)
    import spark.implicits._
    val centDf = cents.toSeq.toDF("__cid", "cvec")
    val cells = readCells(spark, ivfIndexDir)
    val dist =
      if (cells.columns.contains("emb16"))
        graft.functions.fp16_cosine_distance(col("emb16"), col("cvec"))
      else cosine_distance(col("v"), col("cvec"))
    val reps = cells
      .join(broadcast(centDf),
        col("centroid_id").cast("long") === col("__cid"))
      .select(col("__cid"), col("id").cast("long").as("__id"),
        dist.as("__d"))
      .groupBy(col("__cid"))
      // bounded-heap min, not min(struct(...)): the struct form plans
      // SortAggregate (not hash-aggregable) and sorts all n member rows
      // per load — same ordering ((__d, __id) asc; the distance
      // arithmetic cannot produce -0.0), O(n) instead of O(n log n)
      .agg(graft.functions.topk_pairs(col("__d"), col("__id"), 1).as("tk"))
      .select(col("__cid"), col("tk").getItem(0).getField("id").as("__id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    new GraphEntries(cents.filter(c => reps.contains(c._1)), reps)
  }

  /** Tombstone delete for the adjacency index — the O(batch) takedown
    * the other index families have ([[ivfDeleteIndex]] shape): one
    * `del-` id segment under the atomic pointer. [[AdjIndex.load]]
    * masks every edge that TOUCHES a tombstoned node — its out-list
    * (src), its self-row, and its slots in other nodes' lists (dst) —
    * in segments committed before it, so the walk never sees the node
    * from the next reload on. Sequence-scoped: a node re-appended
    * AFTER its delete serves again. Survivors' shortened lists re-link
    * at re-append ([[hnswAppendIndex]] adds reverse edges) or rebuild;
    * [[adjCompactIndex]] physically erases the masked rows. */
  def adjDeleteIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, ids: DataFrame, idCol: String): Unit = {
    val existing = graft.sync.SegmentedIndex.resolve(spark, indexDir)
      .getOrElse(throw new IllegalStateException(
        s"adjDeleteIndex: no adjacency index at $indexDir"))
    val seg = graft.sync.SegmentedIndex.newTombstoneName()
    ids.select(col(idCol).cast("long").as("id")).distinct()
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/$seg/ids")
    graft.sync.SegmentedIndex.commit(spark, indexDir, existing :+ seg)
  }

  /** Merge all live segments into ONE under the frozen bucket layout —
    * [[ivfCompactIndex]] for edges: the tombstone-subtracted union
    * rewrites with the build's point-probe discipline (sorted by src
    * within each bucket, 128 KB row groups), PHYSICALLY erasing
    * tombstoned nodes' rows and restoring single-segment hop reads
    * after many append/delete cycles. No re-derivation of neighbor
    * lists — that is a rebuild's job (frozen-layout compaction, same
    * contract as the IVF family's). */
  def adjCompactIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit = {
    val existing = graft.sync.SegmentedIndex.resolve(spark, indexDir)
      .getOrElse(throw new IllegalStateException(
        s"adjCompactIndex: no adjacency index at $indexDir"))
    if (existing.size <= 1) return
    val seg = graft.sync.SegmentedIndex.newSegmentName()
    AdjIndex.load(spark, indexDir).relation
      .repartition(col("src_bucket"))
      .sortWithinPartitions(col("src_bucket"), col("src"))
      .write.partitionBy("src_bucket")
      .option("parquet.block.size", 131072)
      .mode("overwrite").parquet(s"$indexDir/$seg/edges")
    graft.sync.SegmentedIndex.commit(spark, indexDir, Seq(seg))
  }

  private def writeAdjSegment(edges: DataFrame, corpus: DataFrame,
      vecCol: String, keyCol: String, indexDir: String, buckets: Int,
      fp16: Boolean, selfRows: Boolean,
      selfFor: Option[DataFrame] = None,
      attrCols: Seq[String] = Nil): Unit = {
    val spark = edges.sparkSession
    val v = corpus.filter(col(vecCol).isNotNull)
      .select(col(keyCol).cast("long").as("dst") +:
        col(vecCol).as("__dv") +: attrCols.map(col): _*)
    val e = edges.select(col("id_a").cast("long").as("src"),
      col("id_b").cast("long").as("dst"))
    val self =
      if (selfRows) v.select(col("dst").as("src"), col("dst"))
      else selfFor.map(ids =>
          v.join(ids.select(col(ids.columns.head).cast("long").as("dst")),
            Seq("dst"), "left_semi")
          .select(col("dst").as("src"), col("dst")))
        .getOrElse(spark.emptyDataFrame
          .select(lit(0L).as("src"), lit(0L).as("dst")).limit(0))
    val dvec = if (fp16) graft.functions.fp16_encode(col("__dv"))
      else col("__dv")
    val seg = graft.sync.SegmentedIndex.newSegmentName()
    // point-probe layout (the q124 refine lesson applied to edges): rows
    // SORTED by src within each bucket + 128 KB row groups (~20 fp16
    // dvec rows each), so a hop's src IN-frontier probe skips on
    // row-group statistics to the frontier's own rows. Unsorted buckets
    // made each hop decompress the WHOLE bucket's dvec chunk — measured
    // p95 6.2 s on the 200 k serving corpus vs 543 ms for the one-scan
    // ivf mode; sorted groups read ~ef·(K̃+1) rows instead.
    // attr columns live on SELF-ROWS only (the rows filtered refine
    // reads touch — src = dst): an edge row's dst-side attr would be
    // misleading next to its src, and parquet nulls cost definition
    // levels, not data pages, so the edge rows stay as narrow as the
    // attr-less layout
    val attrOut = attrCols.map(a =>
      when(col("src") === col("dst"), col(a)).as(a))
    e.unionByName(self)
      .join(v, Seq("dst"))
      .select(pmod(col("src"), lit(buckets.toLong)).as("src_bucket") +:
        col("src") +: col("dst") +: dvec.as("dvec") +: attrOut: _*)
      .repartition(col("src_bucket"))
      .sortWithinPartitions(col("src_bucket"), col("src"))
      .write.partitionBy("src_bucket")
      .option("parquet.block.size", 131072)
      .mode("overwrite").parquet(s"$indexDir/$seg/edges")
    val existing = graft.sync.SegmentedIndex.resolve(spark, indexDir)
      .getOrElse(Nil)
    graft.sync.SegmentedIndex.commit(spark, indexDir, existing :+ seg)
  }

  /** Serving handle over a [[buildAdjacencyIndex]] layout — the
    * graph-ANN query walk ([[graphBeamSearch]]'s semantics, verbatim)
    * re-expressed as index point reads: the ≤ef beam lives on the
    * DRIVER (it is the algorithm's working set — k dozen (id, score)
    * pairs), and each hop is ONE partition-pruned scan of the beam's
    * src buckets filtered to the beam's srcs, scoring carried dst
    * vectors against the query in the same pass. 1 + hops tiny jobs
    * per request, none touching more than the frontier's edge rows —
    * the corpus never scans. */
  final class AdjIndex private (rel: DataFrame, buckets: Int, fp16: Boolean) {

    /** The resolved edge relation (src_bucket, src, dst, dvec incl.
      * self-rows) — maintenance code ([[Knn.hnswAppendIndex]]) reads
      * members and degrees from it, and the q145 gate audits it. */
    private[graft] def relation: DataFrame = rel

    /** Metadata columns the layout carries on its SELF-ROWS
      * ([[Knn.buildAdjacencyIndex]]'s `attrCols`) — the predicates a
      * filtered refine may evaluate. Empty for an attr-less layout. */
    val attrColumns: Seq[String] = rel.columns.toSeq
      .filterNot(Set("src_bucket", "src", "dst", "dvec"))

    private def scoreCol(queryVec: Array[Float]): Column =
      if (fp16) graft.functions.fp16_cosine_distance(col("dvec"),
        typedLit(queryVec))
      else cosine_distance(col("dvec"), typedLit(queryVec))

    private[graft] def frontierFrame(srcs: Seq[Long],
        queryVec: Array[Float]): DataFrame = {
      // IN-list literals typed to the inferred partition-column type, so
      // the predicate stays a PartitionFilter (a cast around the column
      // would defeat pruning — the IvfIndex lesson). floorMod, NOT %:
      // the writer buckets by pmod (always non-negative), so a JVM %
      // over a negative node id would probe the wrong bucket and
      // silently drop the row
      val bs: Seq[Any] = rel.schema("src_bucket").dataType match {
        case org.apache.spark.sql.types.IntegerType =>
          srcs.map(s => Math.floorMod(s, buckets.toLong).toInt).distinct
        case org.apache.spark.sql.types.LongType =>
          srcs.map(Math.floorMod(_, buckets.toLong)).distinct
        case _ => srcs.map(s => Math.floorMod(s, buckets.toLong).toString)
          .distinct
      }
      rel.filter(col("src_bucket").isin(bs: _*)
          && col("src").isin(srcs.map(x => x: Any): _*))
        .select(col("dst"), scoreCol(queryVec).as("score"))
    }

    private def frontier(srcs: Seq[Long],
        queryVec: Array[Float]): Array[(Long, Double)] =
      frontierFrame(srcs, queryVec)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))

    /** Exact scores for a shortlist's SELF-ROWS — the refine read the
      * resident-code walk ([[ResidentGraphIndex]]) spends its one Spark
      * job on: bucket `IN` keeps the scan partition-pruned, the
      * [[chunkedIn]] OR-tree keeps every id leg inside row-group
      * statistics at any shortlist width, and `src = dst` touches only
      * the one vector-carrying row per node. Scores carry the index's
      * storage precision — identical to what [[search]]'s beam scores. */
    private[similarity] def selfScores(ids: Seq[Long],
        queryVec: Array[Float],
        filter: Option[Column] = None): DataFrame = {
      // floorMod to match the writer's pmod — see frontierFrame
      val bs: Seq[Any] = rel.schema("src_bucket").dataType match {
        case org.apache.spark.sql.types.IntegerType =>
          ids.map(s => Math.floorMod(s, buckets.toLong).toInt).distinct
        case org.apache.spark.sql.types.LongType =>
          ids.map(Math.floorMod(_, buckets.toLong)).distinct
        case _ => ids.map(s => Math.floorMod(s, buckets.toLong).toString)
          .distinct
      }
      // the optional attr predicate evaluates INSIDE the pruned scan
      // (self-rows carry the attr columns) — the q132 filter-in-index
      // discipline applied to the refine read
      filter.foldLeft(
          rel.filter(col("src_bucket").isin(bs: _*)
            && col("src") === col("dst")
            && chunkedIn(col("src"), ids.map(x => x: Any))))(_ filter _)
        .select(col("src").as("id"), scoreCol(queryVec).as("score"))
    }

    /** Exhaustive filtered top-k over the layout's SELF-ROWS — the
      * correctness backstop a filtered walk degrades to when the
      * predicate starves its shortlist (the walk navigates on geometry
      * and cannot prune on attributes, so a rare predicate can leave
      * any beam empty while matches exist elsewhere in the graph). One
      * job over the vector-carrying rows only (src = dst skips ~K̃
      * edge rows per node on row-group stats; the attr predicate
      * prunes further). */
    private[similarity] def filteredSelfTopK(queryVec: Array[Float],
        k: Int, filter: Column): DataFrame =
      rel.filter(col("src") === col("dst") && filter)
        .select(col("src").as("id"), scoreCol(queryVec).as("score"))
        .orderBy(col("score").asc, col("id").asc)
        .limit(k)

    def search(queryVec: Array[Float], k: Int, ef: Int, hops: Int,
        entryId: Long): DataFrame = {
      require(k >= 1 && ef >= k, s"need 1 <= k=$k <= ef=$ef")
      val spark = rel.sparkSession
      import spark.implicits._
      // entry scored exactly off its self-row (one bucket-pruned point
      // read) — beam semantics identical to graphBeamSearch's b0
      var beam = frontier(Seq(entryId), queryVec)
        .filter(_._1 == entryId).toVector
      require(beam.nonEmpty, s"entry $entryId has no self-row in the index")
      // expand each src at most once, and stop when the beam holds no
      // unexpanded member (the walk converged). Results are IDENTICAL to
      // re-expanding the whole beam every hop (graphBeamSearch's literal
      // form): the beam's score set only improves, so a candidate cut by
      // the ef-th score at hop t stays cut at every later hop — a
      // re-proposal can never re-enter. What it buys: each hop reads only
      // the NEW frontier's buckets, and a converged walk skips its
      // remaining hop jobs entirely.
      var expanded = Set.empty[Long]
      var hop = 0
      var frontierLeft = true
      while (hop < hops && frontierLeft) {
        val fresh = beam.map(_._1).filterNot(expanded)
        if (fresh.isEmpty) frontierLeft = false
        else {
          expanded ++= fresh
          val cand = frontier(fresh, queryVec)
          beam = (beam ++ cand)
            .groupBy(_._1).map { case (id, xs) => (id, xs.map(_._2).min) }
            .toVector
            .sortBy { case (id, d) => (d, id) }
            .take(ef)
        }
        hop += 1
      }
      beam.take(k).toDF("id", "score")
    }
  }

  object AdjIndex {
    def load(spark: org.apache.spark.sql.SparkSession,
        indexDir: String): AdjIndex = {
      val list = graft.sync.SegmentedIndex.resolve(spark, indexDir)
        .getOrElse(throw new IllegalStateException(
          s"no adjacency index at $indexDir"))
      // tombstones mask EVERY edge that touches a deleted node — its
      // out-list (src), its self-row, and its slots in other nodes'
      // lists (dst) — in segments committed before them (sequence
      // scope, so a node re-appended after its delete is served). The
      // walk simply never sees the node; re-linking the survivors'
      // shortened lists is compaction's or a rebuild's job.
      val rel = graft.sync.SegmentedIndex.tombstoneScopes(list)
        .map { case (data, tombs) =>
          val edges = data.map(s => spark.read.parquet(s"$indexDir/$s/edges"))
            .reduce(_ unionByName _)
          if (tombs.isEmpty) edges
          else {
            val tomb = tombs
              .map(t => spark.read.parquet(s"$indexDir/$t/ids"))
              .reduce(_ unionByName _).distinct()
            edges
              .join(tomb.select(col("id").as("src")), Seq("src"), "left_anti")
              .join(tomb.select(col("id").as("dst")), Seq("dst"), "left_anti")
          }
        }
        .reduce(_ unionByName _)
      val meta = spark.read.parquet(s"$indexDir/meta").head()
      new AdjIndex(rel, meta.getAs[Int]("buckets"),
        meta.getAs[Boolean]("fp16"))
    }

    /** [[load]] behind the [[graft.sync.Reloading]] generation check. */
    def reloading(spark: org.apache.spark.sql.SparkSession, indexDir: String,
        minCheckIntervalMs: Long = 0L): graft.sync.Reloading[AdjIndex] =
      graft.sync.Reloading(spark, indexDir, Seq("meta"),
        minCheckIntervalMs)(load(spark, indexDir))
  }

  /** Persist [[hnswSearch]]'s layer stack as serving indexes: one
    * [[buildAdjacencyIndex]] layout per layer (layer 0 = the `k0`-NN
    * graph over the whole corpus; layer ℓ ≥ 1 = the exact `upperM`-NN
    * graph over the nodes with [[hnswLevel]] ≥ ℓ — geometrically
    * smaller, so the upper layouts cost a vanishing fraction of layer
    * 0's), plus a meta sidecar pinning `max_level` and the ENTRY node
    * (the top layer's min id — resolved once at build, so serving never
    * scans anything to start a walk). Level sets nest, so the node a
    * layer-ℓ walk lands on always has a self-row in layer ℓ−1.
    *
    * `graphFn` swaps the per-layer graph construction: the default is
    * the exact [[knnGraph]] (the oracle form — O(subset²)); at corpus
    * scale pass `(df, m) => nnDescentGraph(df, vecCol, keyCol, k = m,
    * rounds = …)` so every layer builds in O(n·K̃²·rounds).
    *
    * Layer builds OVERLAP from a driver pool, so no single layer's
    * pointer marks completion — the completion probe is
    * [[hnswIndexReady]] (meta + EVERY layer's CURRENT), which is
    * order-independent and therefore also crash-safe. Failure is clean:
    * the first layer failure cancels the build's outstanding Spark jobs
    * (shared job group), every in-flight future is then awaited to
    * completion, and the whole stack (meta + all layer dirs) is removed
    * before the failure rethrows — no partial `layer*` dir or stale
    * pointer survives for a later guard to mistake for a built index. */
  def buildHnswIndex(corpus: DataFrame, vecCol: String, keyCol: String,
      indexDir: String, maxLevel: Int = 2, upperM: Int = 3, k0: Int = 5,
      buckets: Int = 16, fp16: Boolean = true,
      graphFn: Option[(DataFrame, Int) => DataFrame] = None): Unit = {
    require(maxLevel >= 1, s"buildHnswIndex: need maxLevel >= 1, got $maxLevel")
    val spark = corpus.sparkSession
    val v = corpus.filter(col(vecCol).isNotNull)
      .select(col(keyCol).cast("long").as("id"), col(vecCol).as("v"))
    val lev = v.withColumn("level", hnswLevel(col("id"), maxLevel))
    val entry = lev.filter(col("level") >= maxLevel)
      .agg(min(col("id"))).head().getLong(0)
    spark.range(1)
      .select(lit(maxLevel).as("max_level"), lit(entry).as("entry"))
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/meta")
    val build = graphFn.getOrElse(
      (df: DataFrame, m: Int) => knnGraph(df, vecCol, keyCol, topK = m))
    // layer builds are independent (disjoint output dirs, no shared
    // state): overlap them from a small driver pool (guide §2.6) so one
    // layer's commit/straggler tail back-fills with the next layer's
    // scan work — upper layers are 4^-l of the corpus, so serially they
    // were pure fixed-cost (plan + commit floor) appended to layer 0.
    // Results are unchanged: each layer's graph derivation and segment
    // content are deterministic and land in their own layer dir.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(maxLevel + 1, 4))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // one job group per build: the first layer failure cancels the
    // siblings' ACTIVE jobs instead of letting them run on (and commit)
    // after the build is already doomed
    val group = s"hnsw-build-$indexDir"
    // the ROOT cause: the first failure, which cancels the group — the
    // siblings it cancels fail too, but later, and only as suppressed
    val rootCause = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    try {
      val layers = (0 to maxLevel).map { l =>
        scala.concurrent.Future {
          // job group is thread-local: set it on each pool thread
          spark.sparkContext.setJobGroup(group,
            s"buildHnswIndex layer $l", interruptOnCancel = true)
          try {
            // a sibling already failed: don't start new jobs for a
            // stack that is about to be deleted (cancelJobGroup only
            // reaches jobs that are running at cancel time)
            if (rootCause.get() != null) throw new IllegalStateException(
              s"buildHnswIndex: sibling layer failed, layer $l aborted")
            val sub = (if (l == 0) lev else lev.filter(col("level") >= l))
              .select(col("id").as(keyCol), col("v").as(vecCol))
            val m = if (l == 0) k0 else upperM
            val edges = build(sub, m).select(col("id_a"), col("id_b"))
            buildAdjacencyIndex(edges, sub, vecCol, keyCol,
              s"$indexDir/layer$l", buckets, fp16)
          } catch { case e: Throwable =>
            if (rootCause.compareAndSet(null, e))
              spark.sparkContext.cancelJobGroup(group)
            throw e
          } finally spark.sparkContext.clearJobGroup()
        }
      }
      // QUIESCE before inspecting: every future runs to completion
      // (success, failure, or cancellation) so nothing is still writing
      // under indexDir when the failure path cleans it up
      val done = layers.map(f => scala.util.Try(scala.concurrent.Await
        .result(f, scala.concurrent.duration.Duration.Inf)))
      val failures = done.collect { case scala.util.Failure(e) => e }
      if (failures.nonEmpty) {
        val root = Option(rootCause.get()).getOrElse(failures.head)
        failures.filterNot(_ eq root).foreach(root.addSuppressed)
        // no partial stack survives a failed build: remove meta and every
        // layer dir (committed or half-written) so ready-probes and
        // rebuild guards see a clean absence, not a torn index
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
            .foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(s"$indexDir/meta"))
        (0 to maxLevel).foreach(l =>
          rm(new java.io.File(s"$indexDir/layer$l")))
        throw root
      }
    } finally pool.shutdown()
  }

  /** Append a node batch to a [[buildHnswIndex]] stack — HNSW's
    * insertion rule in BULK: every new node draws its level from the
    * same affine hash (the level sets keep nesting by construction),
    * and for each layer ℓ ≤ its level the batch finds its M nearest
    * among the layer's CURRENT members (the self-row relation, scored
    * at the layer's storage precision) and appends BOTH edge directions
    * plus the new nodes' self-rows as one immutable segment
    * ([[appendAdjacencyIndex]]). M is recovered from the live layer's
    * max out-degree, so append extends the geometry the build chose.
    *
    * One broadcast join per layer (the batch is the broadcast side) —
    * O(batch·|layer ℓ|) distance work, never a corpus re-sort; upper
    * layers are 4^-ℓ of the corpus so their joins are noise. The meta
    * entry point stays — any top-layer node is a valid entry, and the
    * reverse edges make new nodes reachable from day one. Differences
    * from a from-scratch rebuild are the documented HNSW trade: a
    * rebuild re-derives ALL neighborhoods, insertion only links
    * new↔old (existing lists grow by the reverse edges; compaction or
    * re-build prunes). Batch ids must be new (dedup upstream). */
  def hnswAppendIndex(batch: DataFrame, vecCol: String, keyCol: String,
      indexDir: String): Unit = {
    val spark = batch.sparkSession
    val meta = spark.read.parquet(s"$indexDir/meta").head()
    val maxLevel = meta.getAs[Int]("max_level")
    val b = batch.filter(col(vecCol).isNotNull)
      .select(col(keyCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("level", hnswLevel(col("id"), maxLevel))
    (0 to maxLevel).foreach { l =>
      val newAtL = b.filter(col("level") >= l)
        .select(col("id"), col("v"))
      if (!newAtL.isEmpty)
        adjInsertIndex(newAtL, "v", "id", s"$indexDir/layer$l")
    }
  }

  /** Bulk insertion into ONE [[buildAdjacencyIndex]] layout — the flat
    * graph's maintenance form (and [[hnswAppendIndex]]'s per-layer
    * body): each new node links to its M nearest LIVE members (M = the
    * layer's max live out-degree, so insertion matches the build's
    * degree discipline), forward + reverse edges in one O(batch)
    * segment — reverse edges make new nodes reachable from day one.
    * Differences from a rebuild are the documented HNSW trade:
    * insertion links new↔old only. Batch ids must be new. */
  def adjInsertIndex(batch: DataFrame, vecCol: String, keyCol: String,
      indexDir: String): Unit = {
    val spark = batch.sparkSession
    val newNodes = batch.filter(col(vecCol).isNotNull)
      .select(col(keyCol).cast("long").as("id"), col(vecCol).as("v"))
    if (newNodes.isEmpty) return
    val fp16 = spark.read.parquet(s"$indexDir/meta").head()
      .getAs[Boolean]("fp16")
    val rel = AdjIndex.load(spark, indexDir).relation
    val members = rel.filter(col("src") === col("dst"))
      .select(col("dst").as("id"),
        (if (fp16) graft.functions.fp16_decode(col("dvec"))
         else col("dvec")).as("v"))
    // M = the live layout's max out-degree; a graph too small to have
    // edges yet (one member) falls back to linking every member
    val m = rel.filter(col("src") =!= col("dst"))
      .groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(max(col("d"))).head() match {
        case r if r.isNullAt(0) => members.count().toInt.max(1)
        case r => r.getLong(0).toInt
      }
    val fwd = knnJoin(newNodes, members, "v", "id", "v", "id", k = m)
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"))
    val edges = fwd.unionByName(
      fwd.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    appendAdjacencyIndex(edges,
      members.unionByName(newNodes), "v", "id", indexDir,
      newNodes = Some(newNodes.select(col("id"))))
  }

  /** Structured-Streaming micro-batch maintenance of the HNSW stack:
    * each batch inserts via [[hnswAppendIndex]] — the same foreachBatch
    * discipline as the IVF/lexical/LM streams. The stack must exist
    * (insertion needs members to link to); build from the first corpus
    * snapshot, stream the rest. At-least-once caveat: a replayed batch
    * re-appends its edges — dedup upstream. */
  def hnswAppendIndexStream(batches: DataFrame, vecCol: String,
      keyCol: String, indexDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batches.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) hnswAppendIndex(batch, vecCol, keyCol, indexDir)
    }

  /** One upper layer held driver-side: out-adjacency plus each member's
    * stored vector (fp16 blob or fp32 array — scored with the SAME
    * double-accumulation kernels the distributed walk's column
    * expressions use, so the resident descent is bit-identical to the
    * per-job one). Memory is nodes · (adjacency + dim · 2 or 4 B) —
    * the [[HnswIndex.load]] budget bounds it. */
  private final class ResidentLayer(
      neighbors: scala.collection.Map[Long, Array[Long]],
      vecs16: scala.collection.Map[Long, Array[Byte]],
      vecs32: scala.collection.Map[Long, Array[Float]]) {
    private def score(id: Long, q: Array[Float], qNorm: Double): Double =
      if (vecs16.nonEmpty)
        graft.functions.VectorMath.cosineDistanceHalfPre(vecs16(id), q, qNorm)
      else graft.functions.VectorMath.cosineDistance(vecs32(id), q)

    /** The ef=1 greedy descent of [[AdjIndex.search]] replayed locally:
      * move to the best-scoring neighbor under (dist, id) ordering,
      * stop on convergence or after `hops` moves — identical node
      * choice, zero Spark jobs. */
    def descend(q: Array[Float], entry: Long, hops: Int): Long = {
      val qNorm = {
        var s = 0.0; var i = 0
        while (i < q.length) { s += q(i).toDouble * q(i).toDouble; i += 1 }
        math.sqrt(s)
      }
      var cur = entry
      var curD = score(cur, q, qNorm)
      var hop = 0
      var moved = true
      while (hop < hops && moved) {
        moved = false
        var bestId = cur
        var bestD = curD
        neighbors.getOrElse(cur, Array.empty[Long]).foreach { nb =>
          val d = score(nb, q, qNorm)
          if (d < bestD || (d == bestD && nb < bestId)) {
            bestD = d; bestId = nb
          }
        }
        if (bestId != cur) { cur = bestId; curD = bestD; moved = true }
        hop += 1
      }
      cur
    }
  }

  /** Query handle over a [[buildHnswIndex]] layout — the full HNSW
    * query behind the q145 batch operator: greedy width-1 descent
    * through each in-memory upper layer (zero Spark jobs), then
    * the ef-beam over layer 0's [[AdjIndex]] from wherever the descent
    * landed — 1 + hops bucket-pruned point reads. Scores carry the
    * index's storage precision (fp16 by default), exactly
    * [[AdjIndex.search]]'s contract. */
  final class HnswIndex private (layers: IndexedSeq[AdjIndex],
      val entryId: Long, maxLevel: Int,
      resident: Map[Int, ResidentLayer]) {
    /** Levels whose descent is driver-resident (contiguous from the
      * top); levels ≥ 1 outside this set are SKIPPED — see [[load]]. */
    private[similarity] def residentLevels: Set[Int] = resident.keySet

    def search(queryVec: Array[Float], k: Int, ef: Int, hops: Int,
        upperHops: Int = 4): DataFrame = {
      var cur = entryId
      var l = maxLevel
      while (l >= 1) {
        resident.get(l) match {
          case Some(rl) => cur = rl.descend(queryVec, cur, upperHops)
          case None => // over budget: skip (level nesting keeps cur valid)
        }
        l -= 1
      }
      layers(0).search(queryVec, k, ef, hops, entryId = cur)
    }
  }

  object HnswIndex {
    /** Upper-layer residency budget (total nodes across levels ≥ 1)
      * when [[load]]'s caller does not size it: 250 k nodes ≈ 1.5 GB
      * of heap at 3072-dim fp16 (32 MB at 64 dims) —
      * centroid-sidecar-sized state, not a dataset. */
    val DefaultResidentNodes = 250000L

    /** Load the stack. Upper layers are held RESIDENT in the heap,
      * top-down, while their cumulative node count fits
      * `residentNodes`: the upper descent then costs ZERO Spark jobs
      * per query — the whole query is 1 + hops bucket-pruned reads,
      * where a per-job descent's maxLevel·upperHops extra point-reads
      * measured 1028 ms p95 against 388 ms for the flat walk (SCALE.md
      * §r12 — job count, not bytes, is what a planner-bound runtime
      * pays for).
      *
      * A level past the budget — and every level below it, keeping the
      * resident set a contiguous top — is SKIPPED during descent, not
      * walked per-job: level sets nest, so the deepest resident level's
      * result is a valid entry for layer 0, and entry quality degrades
      * one resolution step per skipped level instead of re-paying the
      * gate-failing job tax. (At 10⁹ nodes with 4× level decay, levels
      * ≥ 3 fit any reasonable budget; skipping levels 2..1 leaves entry
      * selection at 64-cell granularity — still query-near, like
      * [[ivfGraphEntries]] with coarser cells.) */
    def load(spark: org.apache.spark.sql.SparkSession,
        indexDir: String,
        residentNodes: Long = DefaultResidentNodes): HnswIndex = {
      val meta = spark.read.parquet(s"$indexDir/meta").head()
      val maxLevel = meta.getAs[Int]("max_level")
      val layers = (0 to maxLevel).map(l =>
        AdjIndex.load(spark, s"$indexDir/layer$l"))
      var budget = residentNodes
      val resident = Map.newBuilder[Int, ResidentLayer]
      var l = maxLevel
      var fits = true
      while (l >= 1 && fits) {
        val rel = layers(l).relation
        val fp16 = rel.schema("dvec").dataType ==
          org.apache.spark.sql.types.BinaryType
        // budget check BEFORE the collect (one cheap count of the
        // layer's self-rows): a layer past the budget is the exact case
        // the budget exists to protect against, so it must be SKIPPED
        // without first materializing its members+edges on the driver —
        // collect-then-check would OOM at precisely the load the
        // docstring promises to refuse
        val memberCount = rel.filter(col("src") === col("dst")).count()
        if (memberCount > budget) fits = false
        else {
          // two narrow jobs per resident layer, at LOAD time, both
          // collected as PRIMITIVES (the ResidentGraphIndex.load shape):
          // self-rows carry each member's vector, non-self rows ONLY the
          // 16-byte adjacency pair packed into long chunks — the collect
          // moves nodes·dim vector bytes + 16 B an edge, never ~100+ B
          // of boxed Row per edge (bounded here by the 250 k layer
          // budget, but the transient should price like the steady state
          // at ANY budget)
          import spark.implicits._
          val edgeChunks: Array[Array[Long]] = rel
            .filter(col("src") =!= col("dst"))
            .select(col("src"), col("dst")).as[(Long, Long)]
            .mapPartitions { it =>
              val b = scala.collection.mutable.ArrayBuilder.make[Long]
              it.foreach { case (s, d) => b += s; b += d }
              Iterator.single(b.result())
            }.collect()
          val selfRel = rel.filter(col("src") === col("dst"))
            .select(col("src"), col("dvec"))
          val (memberCountGot, v16, v32) =
            if (fp16) {
              val ms = selfRel.as[(Long, Array[Byte])].collect()
              (ms.length, ms.toMap, Map.empty[Long, Array[Float]])
            } else {
              val ms = selfRel.as[(Long, Array[Float])].collect()
              (ms.length, Map.empty[Long, Array[Byte]], ms.toMap)
            }
          budget -= memberCountGot
          val nbrsB = new java.util.HashMap[Long,
            scala.collection.mutable.ArrayBuilder.ofLong]()
          edgeChunks.foreach { ch =>
            var i = 0
            while (i < ch.length) {
              var b = nbrsB.get(ch(i))
              if (b == null) {
                b = new scala.collection.mutable.ArrayBuilder.ofLong
                nbrsB.put(ch(i), b)
              }
              b += ch(i + 1)
              i += 2
            }
          }
          val nbrs = scala.collection.mutable.HashMap
            .empty[Long, Array[Long]]
          nbrsB.forEach { (s, b) =>
            val a = b.result(); java.util.Arrays.sort(a); nbrs.put(s, a); ()
          }
          resident += l -> new ResidentLayer(nbrs, v16, v32)
          l -= 1
        }
      }
      new HnswIndex(layers, meta.getAs[Long]("entry"), maxLevel,
        resident.result())
    }
  }

  /** Whether a [[buildAdjacencyIndex]] layout has committed at `indexDir`
    * — the serve-time precondition probe ([[ivfIndexReady]]'s sibling):
    * both the segment pointer and the meta sidecar must exist. */
  def graphIndexReady(indexDir: String): Boolean =
    new java.io.File(s"$indexDir/CURRENT").isFile &&
      new java.io.File(s"$indexDir/meta/_SUCCESS").isFile

  /** Whether a [[buildHnswIndex]] stack has committed at `indexDir`.
    * The build writes meta FIRST and layer maxLevel last, so the probe
    * reads meta's level count and requires every layer's pointer — a
    * build that died mid-stack reports not-ready instead of failing at
    * the first request. Serve-start-time only (one tiny parquet read). */
  def hnswIndexReady(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Boolean =
    new java.io.File(s"$indexDir/meta/_SUCCESS").isFile && {
      val maxLevel = spark.read.parquet(s"$indexDir/meta")
        .head().getAs[Int]("max_level")
      (0 to maxLevel).forall(l =>
        new java.io.File(s"$indexDir/layer$l/CURRENT").isFile)
    }

  // ------------------------------------ resident-code graph serving

  /** Whether [[buildGraphCodes]] has committed its sidecar under a
    * [[buildAdjacencyIndex]] layout. The sidecar is a
    * [[graft.sync.SegmentedIndex]] root (`pqcodes/CURRENT`), so
    * readiness is ONE atomic pointer — a crash mid-build or mid-rebuild
    * leaves the previous generation serving, never fresh codebooks
    * beside stale codes. */
  def graphCodesReady(indexDir: String): Boolean =
    new java.io.File(s"$indexDir/pqcodes/CURRENT").isFile

  /** Whether `indexDir/pqcodes` holds the PRE-SEGMENTATION flat layout
    * (`meta`/`codes` directly under the root, no `CURRENT` pointer) —
    * the shape [[buildGraphCodes]] wrote before the sidecar became a
    * [[graft.sync.SegmentedIndex]] root. Such a sidecar is real but
    * invisible to [[graphCodesReady]]; [[migrateGraphCodes]] adopts it. */
  def legacyFlatGraphCodes(indexDir: String): Boolean =
    !new java.io.File(s"$indexDir/pqcodes/CURRENT").isFile &&
      new java.io.File(s"$indexDir/pqcodes/meta/_SUCCESS").isFile &&
      new java.io.File(s"$indexDir/pqcodes/codes/_SUCCESS").isFile

  /** Adopt a pre-segmentation flat code sidecar in place: copy the
    * existing codebooks/codes into ONE immutable segment, re-record the
    * meta with the train-time reconstruction error the flat layout never
    * carried (measured NOW, over the live corpus sample under the FROZEN
    * flat codebooks — the same measurement a fresh build records, so
    * append-time drift ratios compare like with like; 0.0 for int8),
    * commit the `CURRENT` pointer, and delete the flat directories.
    * Returns true when a flat layout was found and migrated, false as a
    * no-op. Crash-safe in the segment discipline: the pointer commits
    * only after the segment is complete, a crash before the commit
    * leaves the flat layout intact for a re-run (the partial segment is
    * swept by the next successful commit), and the flat directories are
    * removed only after the pointer lands. */
  def migrateGraphCodes(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Boolean = {
    if (!legacyFlatGraphCodes(indexDir)) false
    else {
      import org.apache.hadoop.fs.{FileUtil, Path => HPath}
      val root = s"$indexDir/pqcodes"
      val conf = spark.sparkContext.hadoopConfiguration
      val rootP = new HPath(root)
      val fs = rootP.getFileSystem(conf)
      val seg = graft.sync.SegmentedIndex.newSegmentName()
      val flatMeta = spark.read.parquet(s"$root/meta").head()
      val codec = flatMeta.getAs[String]("codec")
      FileUtil.copy(fs, new HPath(root, "codes"),
        fs, new HPath(s"$root/$seg/codes"), false, conf)
      val trainErr = codec match {
        case "pq" =>
          FileUtil.copy(fs, new HPath(root, "codebooks"),
            fs, new HPath(s"$root/$seg/codebooks"), false, conf)
          val rel = AdjIndex.load(spark, indexDir).relation
          val fp16 = rel.schema("dvec").dataType ==
            org.apache.spark.sql.types.BinaryType
          val vec =
            if (fp16) graft.functions.fp16_decode(col("dvec"))
              .cast("array<float>")
            else col("dvec")
          pqAnchorError(
            unitNormalized(rel.filter(col("src") === col("dst"))
              .select(col("src").as("id"), vec.as("v"))),
            collectCodebooks(spark.read.parquet(s"$root/codebooks")),
            flatMeta.getAs[Long]("train_mod"))
        case _ => 0.0
      }
      writeCodesSegMeta(spark, root, seg, codec, flatMeta.getAs[Int]("m"),
        flatMeta.getAs[Int]("ksub"), flatMeta.getAs[Int]("iters"),
        flatMeta.getAs[Long]("train_mod"), trainErr)
      graft.sync.SegmentedIndex.commit(spark, root, Seq(seg))
      sweepFlatGraphCodes(fs, rootP)
      true
    }
  }

  /** Remove the flat-layout directories a segmented commit supersedes —
    * `commit`'s own retention pass sweeps only `seg-`/`del-` names, so
    * without this the orphaned flat dirs would sit beside the pointer
    * forever. */
  private def sweepFlatGraphCodes(fs: org.apache.hadoop.fs.FileSystem,
      rootP: org.apache.hadoop.fs.Path): Unit =
    Seq("meta", "codebooks", "codes").foreach { d =>
      val p = new org.apache.hadoop.fs.Path(rootP, d)
      try { if (fs.exists(p)) { fs.delete(p, true); () } }
      catch { case _: Exception => () }
    }

  /** The live sidecar's recorded codec + dials + train-time
    * reconstruction error: the BASE segment's meta (append segments
    * copy it forward; a rebuild's fresh base re-records it). */
  def graphCodesMeta(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): org.apache.spark.sql.Row = {
    val root = s"$indexDir/pqcodes"
    val base = graft.sync.SegmentedIndex.resolve(spark, root)
      .getOrElse(throw new IllegalStateException(
        s"no committed code sidecar at $root")).head
    spark.read.parquet(s"$root/$base/meta").head()
  }

  /** Unit-normalize an (id, v: array<float>) frame in TWO checkpointed
    * steps, deliberately — the HOF-per-element trap (see
    * [[nnDescentGraphCompressed]]'s pq codec for the measured failure):
    * an inline `x / sqrt(aggregate(v))` re-evaluates the whole-array
    * aggregate (AND any fp16 decode below it) per element once Catalyst
    * collapses the projects; the second barrier keeps [[pqTrain]]'s
    * m×iters Lloyd actions from re-running decode+normalize per
    * subspace action. Zero-norm vectors pass through unnormalized (the
    * [[graft.embed.Pooling]] guard) — they encode to SOME code and are
    * re-ranked exactly anyway. */
  private def unitNormalized(df: DataFrame): DataFrame = {
    val norm = sqrt(aggregate(col("v"), lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val withNorm = df
      .select(col("id"), col("v"), norm.as("__n"))
      .localCheckpoint()
    withNorm.select(col("id"),
      when(col("__n") > 0d,
          transform(col("v"), x => (x.cast("double") / col("__n"))
            .cast("float")))
        .otherwise(col("v")).as("v"))
      .localCheckpoint()
  }

  /** Mean squared PQ reconstruction error over a deterministic `cap`-row
    * sample of `self` — the drift statistic [[appendGraphCodes]] compares
    * against the base segment's recorded train-time value (the q126
    * cell-stats shape applied to the code sidecar): codebooks frozen at
    * build stay valid while upsert batches reconstruct about as well as
    * the corpus they trained on, and a distribution shift shows up as
    * this ratio instead of forcing a blind per-refresh retrain.
    *
    * Sampled by HASH order, not id order: ids typically correlate with
    * insertion time and content (monotonic doc ids), so "the `cap`
    * smallest ids" would anchor the train-time error on the OLDEST slice
    * of the corpus and systematically mis-trigger retrains against the
    * fixed threshold. The `cap` rows with the smallest xxhash64(id) are
    * a uniform deterministic sample of the id domain — same plan shape
    * (one TakeOrdered, O(cap·dim) driver flops), never a corpus pass —
    * and both sides of the ratio (build-time anchor, append-time batch)
    * sample the same way. */
  /** The BUILD-TIME drift anchor: [[pqReconError]] over rows HELD OUT of
    * the training sample when there are any (`id % trainMod =!= 0`),
    * falling back to the full corpus sample at trainMod=1 (everything
    * trained — no held-out rows exist). Anchoring on training rows
    * understates the denominator by the overfit gap — measured on a
    * 400-doc corpus at m=64/ksub=256 (256 centroids over 400 points per
    * subspace), IN-DISTRIBUTION batches ratio'd 4.4× against the
    * in-sample anchor, which would retrain on every healthy delta —
    * while a held-out anchor puts in-distribution batches at ~1.0× by
    * construction, so the ratio measures distribution shift, not
    * memorization. */
  private def pqAnchorError(self: DataFrame,
      books: Array[Array[Array[Float]]], trainMod: Long): Double = {
    val held =
      if (trainMod > 1L)
        pqReconError(self.filter(col("id") % trainMod =!= 0), books)
      else 0.0
    if (held > 0.0) held else pqReconError(self, books)
  }

  private def pqReconError(self: DataFrame,
      books: Array[Array[Array[Float]]], cap: Int = 256): Double = {
    val rows = self
      .orderBy(xxhash64(col("id")), col("id")).limit(cap)
      .select(col("v")).collect()
    if (rows.isEmpty) 0.0
    else {
      var sum = 0.0
      rows.foreach { r =>
        val v = r.getSeq[Float](0).toArray
        val ad = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v)
        sum += graft.functions.PqMath.adc(
          graft.functions.PqMath.encode(ad, books),
          graft.functions.PqMath.lut(v, books))
      }
      sum / rows.length
    }
  }

  private def writeCodesSegMeta(spark: org.apache.spark.sql.SparkSession,
      root: String, seg: String, codec: String, m: Int, ksub: Int,
      iters: Int, trainMod: Long, trainErr: Double): Unit =
    spark.range(1)
      .select(lit(codec).as("codec"), lit(m).as("m"), lit(ksub).as("ksub"),
        lit(iters).as("iters"), lit(trainMod).as("train_mod"),
        lit(trainErr).as("train_err"))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/$seg/meta")

  /** Build the code sidecar that turns an adjacency layout into a
    * [[ResidentGraphIndex]]: every LIVE node's vector (read from the
    * index's own self-rows, so tombstones and appends are honored as of
    * this build) unit-normalizes and encodes under
    * `indexDir/pqcodes/<segment>/{meta,codebooks,codes}` behind a
    * `pqcodes/CURRENT` pointer. `codec` picks the
    * fidelity/footprint point: `pq` trains an `m`×`ksub` product
    * quantizer (m bytes a node — the scale path; ADC noise costs walk
    * recall, measured in SCALE.md §r13's resident ladder), `int8`
    * quantizes per dimension (dim bytes a node — near-lossless
    * distances the walk can navigate on, ~48× pq's footprint at m=64).
    *
    * Unit-normalizing BEFORE train/encode is what makes the walk's ADC
    * ordering correct for this engine's metric: on unit vectors,
    * squared L2 = 2·cosine-distance, so the ADC approximation of L2
    * (the quantity [[graft.functions.PqMath]] computes) is monotone
    * with the cosine the exact refine scores. Zero-norm vectors pass
    * through unnormalized (the [[graft.embed.Pooling]] guard) — they
    * encode to SOME code and are re-ranked exactly anyway.
    *
    * Scale shape: one narrow pass over n self-rows (train on a
    * `trainMod` sample, encode all — [[graft.functions.PqEncode]]
    * codegen); output is n·(8+m) bytes. The sidecar commits as ONE
    * immutable [[graft.sync.SegmentedIndex]] segment carrying its codes,
    * its meta (codec, dials, train-time reconstruction error) and — for
    * pq — the codebooks those codes were encoded against, then a single
    * atomic pointer flip: a rebuild writes the new generation COMPLETE
    * before the flip, so a crash leaves the old sidecar serving and a
    * concurrently-reloading server never observes new codebooks beside
    * old codes. Day-to-day maintenance never calls this per delta:
    * [[appendGraphCodes]] covers upsert batches in O(batch), and this
    * full pass is the retrain/compaction cadence
    * ([[rebuildGraphCodes]]). */
  def buildGraphCodes(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, m: Int = 64, ksub: Int = 256, iters: Int = 2,
      trainMod: Long = 1L, codec: String = "pq"): Unit = {
    require(m >= 1 && ksub >= 1 && ksub <= 256 && trainMod >= 1,
      s"buildGraphCodes: need m >= 1, 1 <= ksub <= 256, trainMod >= 1, " +
        s"got $m/$ksub/$trainMod")
    require(Set("pq", "int8").contains(codec),
      s"buildGraphCodes: codec must be pq or int8, got $codec")
    val rel = AdjIndex.load(spark, indexDir).relation
    val fp16 = rel.schema("dvec").dataType ==
      org.apache.spark.sql.types.BinaryType
    val vec =
      if (fp16) graft.functions.fp16_decode(col("dvec")).cast("array<float>")
      else col("dvec")
    val self = unitNormalized(rel.filter(col("src") === col("dst"))
      .select(col("src").as("id"), vec.as("v")))
    val root = s"$indexDir/pqcodes"
    val seg = graft.sync.SegmentedIndex.newSegmentName()
    val trainErr = codec match {
      case "pq" =>
        val books = pqTrain(self.filter(col("id") % trainMod === 0),
          "v", "id", m, ksub, iters)
        books.coalesce(1).write.mode("overwrite")
          .parquet(s"$root/$seg/codebooks")
        val collected = collectCodebooks(books)
        pqEncode(self, "v", "id", collected)
          .write.mode("overwrite").parquet(s"$root/$seg/codes")
        pqAnchorError(self, collected, trainMod)
      case _ =>
        // near-lossless per-dimension quantization (dim bytes a node —
        // ~48× PQ's footprint at m=64, for distance fidelity the walk
        // can NAVIGATE on; one codegen pass, no training, no drift)
        self.select(col("id"),
            graft.functions.int8_encode(col("v")).as("codes"))
          .write.mode("overwrite").parquet(s"$root/$seg/codes")
        0.0
    }
    writeCodesSegMeta(spark, root, seg, codec, m, ksub, iters, trainMod,
      trainErr)
    // the flip: old generation's segments are swept AFTER the pointer
    // replace (commit's retention pass), the SegmentedIndex discipline
    graft.sync.SegmentedIndex.commit(spark, root, Seq(seg))
    // a rebuild over a pre-segmentation flat sidecar supersedes it — the
    // commit's own sweep only touches seg-/del- names, so clean the flat
    // dirs here or they sit beside the pointer forever
    val rootP = new org.apache.hadoop.fs.Path(root)
    sweepFlatGraphCodes(
      rootP.getFileSystem(spark.sparkContext.hadoopConfiguration), rootP)
  }

  /** O(delta) sidecar maintenance — encode ONLY an upsert batch into a
    * new codes segment against the live sidecar's recorded codec and
    * (for pq) its FROZEN base codebooks. This is what a refresh runs:
    * int8 codes are per-node independent (no training), and pq codes
    * against frozen codebooks stay ADC-comparable with the base
    * segment's, so a 10-document refresh writes 10 rows instead of
    * replaying the corpus build. Changed docs re-encode under the same
    * id — [[ResidentGraphIndex.load]] reads segments in commit order
    * and the NEWEST code per id wins — and tombstoned ids need no
    * sidecar work at all (the live set comes from the adjacency
    * relation; dead codes are never consulted and compact away with the
    * next [[rebuildGraphCodes]]). The batch's vectors round-trip
    * through the index's storage precision first (fp16 when the layout
    * stores fp16), so appended codes are byte-identical to what a
    * from-scratch build would derive from the index's own self-rows.
    *
    * Returns the pq drift ratio: the batch's mean reconstruction error
    * under the frozen codebooks over the base segment's recorded
    * train-time error (0.0 for int8, which cannot drift) — callers
    * retrain past a threshold
    * ([[graft.sync.CorpusRefresh.DefaultCodesDriftRatio]]) instead of
    * on every delta. */
  def appendGraphCodes(batch: DataFrame, vecCol: String, keyCol: String,
      indexDir: String): Double = {
    val spark = batch.sparkSession
    require(graphCodesReady(indexDir),
      s"appendGraphCodes: no committed sidecar at $indexDir/pqcodes")
    val root = s"$indexDir/pqcodes"
    val list = graft.sync.SegmentedIndex.resolve(spark, root).get
    val meta = spark.read.parquet(s"$root/${list.head}/meta").head()
    val codec = meta.getAs[String]("codec")
    val fp16 = spark.read.parquet(s"$indexDir/meta").head()
      .getAs[Boolean]("fp16")
    val vec =
      if (fp16) graft.functions.fp16_decode(
          graft.functions.fp16_encode(col(vecCol))).cast("array<float>")
      else col(vecCol)
    val self = unitNormalized(batch.filter(col(vecCol).isNotNull)
      .select(col(keyCol).cast("long").as("id"), vec.as("v")))
    val seg = graft.sync.SegmentedIndex.newSegmentName()
    val drift = codec match {
      case "pq" =>
        val books = collectCodebooks(
          spark.read.parquet(s"$root/${list.head}/codebooks"))
        pqEncode(self, "v", "id", books)
          .write.mode("overwrite").parquet(s"$root/$seg/codes")
        val trainErr = meta.getAs[Double]("train_err")
        if (trainErr > 0.0) pqReconError(self, books) / trainErr else 0.0
      case _ =>
        self.select(col("id"),
            graft.functions.int8_encode(col("v")).as("codes"))
          .write.mode("overwrite").parquet(s"$root/$seg/codes")
        0.0
    }
    // the append segment carries the dials it encoded with forward (the
    // base's, verbatim) so a later rebuild replays the same geometry
    spark.read.parquet(s"$root/${list.head}/meta")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/$seg/meta")
    graft.sync.SegmentedIndex.commit(spark, root, list :+ seg)
    drift
  }

  /** Full sidecar retrain — replays [[buildGraphCodes]] over the live
    * corpus with the sidecar's OWN recorded dials and flips the pointer
    * to ONE fresh segment (superseded segments swept after the commit).
    * O(corpus) by design: this is the sidecar's COMPACTION/retrain
    * cadence — [[graft.sync.CorpusRefresh]] runs the O(delta)
    * [[appendGraphCodes]] per refresh and reaches for this only on a pq
    * drift signal or segment fan-out, never per delta. */
  def rebuildGraphCodes(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit = {
    require(graphCodesReady(indexDir),
      s"rebuildGraphCodes: no committed sidecar at $indexDir/pqcodes")
    val meta = graphCodesMeta(spark, indexDir)
    buildGraphCodes(spark, indexDir, m = meta.getAs[Int]("m"),
      ksub = meta.getAs[Int]("ksub"), iters = meta.getAs[Int]("iters"),
      trainMod = meta.getAs[Long]("train_mod"),
      codec = meta.getAs[String]("codec"))
  }

  /** Graph-ANN serving with the WALK off the job path — the r13 answer
    * to the measured structure of the manifold ladder (SCALE.md §r13):
    * on navigable data the beam walk reaches competitive recall only at
    * hops ≥ 5, and every hop is a serialized planned job (~50 ms floor
    * under load), so multi-hop-as-jobs prices at seconds. Here the hops
    * cost driver flops instead: topology (SYMMETRIZED at load — stored
    * out-lists plus their reverse edges, the DPG/NSG trick that gives
    * every walk escape routes a directed kNN digraph lacks) and
    * `m`-byte PQ codes ([[buildGraphCodes]]) are held driver-resident,
    * a request seeds from `entryCount` query-near IVF cells and runs
    * the best-first graph search (Malkov & Yashunin's SEARCH-LAYER,
    * candidate/result heaps) over ADC distances at ~µs per expansion
    * under an expansion budget (default 16·ef — ADC noise makes
    * unbudgeted best-first wander, and unbounded driver CPU per request
    * is a serving hazard under concurrency), and exactly ONE Spark job
    * runs per request: the bucket-pruned exact re-rank of the ef-wide
    * shortlist against the index's self-rows ([[AdjIndex.selfScores]] —
    * the same one-pruned-read shape as the IVF probe that serves
    * 269 ms p95).
    *
    * Residency budget: ~(8 + 8·degree + codeBytes) a node, where
    * codeBytes is m for the pq codec and dim for int8 — 200 k nodes at
    * degree 10 (symmetrized ≈ 20) is ~50 MB pq / ~680 MB int8 at
    * 3072-dim; the default `maxResidentNodes` bound (2 M) caps pq
    * state at centroid-sidecar scale and int8 at a documented ~7 GB
    * ceiling a serving driver sizes for. Past the budget [[load]]
    * REFUSES (the IVF modes remain); at true corpus
    * scale the resident walk is a per-replica shard choice, not a
    * single-driver structure — the same posture as [[HnswIndex.load]]'s
    * resident upper layers.
    *
    * `attrColumns` lists the layout's self-row attr columns; for an
    * attr-less layout it is empty, so the gateway routes filtered
    * requests to the store scan. */
  final class ResidentGraphIndex private[Knn] (adj: AdjIndex,
      ids: Array[Long], nbrs: Array[Array[Int]], codes: Array[Array[Byte]],
      codebooks: Array[Array[Array[Float]]], codec: String,
      entries: Option[GraphEntries],
      ef: Int, entryCount: Int, visitBudget: Int,
      idOf: Long => Any) extends DenseIndex {
    /** Attr columns the adjacency layout carries on its self-rows
      * ([[buildAdjacencyIndex]]'s `attrCols`) — filtered requests
      * evaluate them in the refine job, so the gateway routes filtered
      * traffic here instead of a full store scan. Empty (attr-less
      * layout) keeps the old route-to-store behavior. */
    val attrColumns: Seq[String] = adj.attrColumns

    private val idToIdx: java.util.HashMap[Long, Integer] = {
      val m = new java.util.HashMap[Long, Integer](ids.length * 2)
      var i = 0
      while (i < ids.length) { m.put(ids(i), i); i += 1 }
      m
    }

    // int8: per-node code norms precomputed ONCE at load (scale cancels
    // in cosine), so the per-expansion hot loop is a single integer
    // dot product — the int8_cosine_codes kernel split across
    // load/request time. Measured necessity: the dequantizing scorer's
    // ~3 double ops/dim put ~200 ms of driver CPU in every request and
    // 20-user queueing took p50 328 → 777 ms.
    private val codeNorms: Array[Double] =
      if (codec != "int8") null
      else codes.map { b =>
        var s = 0L; var i = 8
        while (i < b.length) { val v = b(i).toLong; s += v * v; i += 1 }
        math.sqrt(s.toDouble)
      }

    /** The `efEff` best node ids by code distance, best-first from the
      * seeds — all driver flops, zero jobs. Deterministic: `ids` is
      * sorted, so (distance, idx) ordering is (distance, id) ordering. */
    private[similarity] def walk(queryVec: Array[Float],
        efEff: Int): Array[Long] = {
      val qn = {
        var s = 0.0; var i = 0
        while (i < queryVec.length) {
          s += queryVec(i).toDouble * queryVec(i).toDouble; i += 1 }
        val n = math.sqrt(s)
        if (n > 0) queryVec.map(x => (x / n).toFloat) else queryVec
      }
      // per-codec scorer: pq = m LUT adds a node over the query's ADC
      // table (approximate squared L2, monotone with cosine on unit
      // vectors); int8 = code-domain cosine (the int8_cosine_codes
      // kernel: query encoded ONCE per request, node norms precomputed
      // at load, the hot loop one INTEGER dot/dim — near-lossless
      // ranking at ~µs a node)
      val score: Int => Double =
        if (codec == "int8") {
          val qb = graft.functions.Int8.encode(qn)
          val qNorm0 = {
            var s = 0L; var i = 8
            while (i < qb.length) { val v = qb(i).toLong; s += v * v; i += 1 }
            math.sqrt(s.toDouble)
          }
          i => {
            val cb = codes(i)
            val n0 = codeNorms(i)
            if (n0 == 0.0 || qNorm0 == 0.0) 1.0
            else {
              val len = math.min(cb.length, qb.length)
              var dot = 0L; var j = 8
              while (j < len) { dot += cb(j).toLong * qb(j).toLong; j += 1 }
              1.0 - dot.toDouble / (n0 * qNorm0)
            }
          }
        } else {
          val lut = graft.functions.PqMath.lut(qn, codebooks)
          i => graft.functions.PqMath.adc(codes(i), lut)
        }
      // multi-entry seeding: one entry per query-near IVF cell. A
      // single entry strands the walk when the target sits outside the
      // entry's reachable region (measured: recall@10 min 0.000 on the
      // manifold gate with one ivf entry); entryCount nearby reps cover
      // the neighborhood from several sides for the same zero jobs.
      val seedIdxs: Seq[Int] = entries
        .map(_.entriesFor(queryVec, entryCount)
          .flatMap(e => Option(idToIdx.get(e)).map(_.intValue())))
        .filter(_.nonEmpty)
        .getOrElse(Seq(0))
      val visited = new java.util.BitSet(ids.length)
      // candidates: min-heap by (dist, idx); results: max-heap, head =
      // worst kept — SEARCH-LAYER's two-heap form
      val cand = scala.collection.mutable.PriorityQueue
        .empty[(Double, Int)](Ordering.Tuple2[Double, Int].reverse)
      val res = scala.collection.mutable.PriorityQueue
        .empty[(Double, Int)](Ordering.Tuple2[Double, Int])
      seedIdxs.foreach { e =>
        if (!visited.get(e)) {
          visited.set(e)
          val d0 = score(e)
          cand.enqueue((d0, e)); res.enqueue((d0, e))
        }
      }
      while (res.size > efEff) res.dequeue()
      // expansion budget: ADC noise keeps far candidates "promising",
      // so unbudgeted best-first can wander a large fraction of the
      // graph — unbounded driver CPU per request is a serving hazard
      // under concurrency (measured: p50 217 → 849 ms at 20 users).
      // The budget bounds work like HNSW's efSearch bounds it: recall
      // dials are ef / entryCount / budget, all driver-flop-priced.
      // int8 distances are ~exact, so the walk converges like HNSW's
      // SEARCH-LAYER (≈ef expansions plus the approach path) — 4·ef
      // bounds it; pq's ADC noise needs wandering room — 16·ef
      val budget = if (visitBudget > 0) visitBudget
        else if (codec == "int8") 4 * efEff else 16 * efEff
      var expansions = 0
      var done = false
      while (!done && cand.nonEmpty && expansions < budget) {
        val (cd, ci) = cand.dequeue()
        if (res.size >= efEff && cd > res.head._1) done = true
        else {
          expansions += 1
          val ns = nbrs(ci)
          var j = 0
          while (j < ns.length) {
            val nb = ns(j)
            if (!visited.get(nb)) {
              visited.set(nb)
              val d = score(nb)
              if (res.size < efEff) { res.enqueue((d, nb)); cand.enqueue((d, nb)) }
              else if (Ordering.Tuple2[Double, Int]
                  .lt((d, nb), res.head)) {
                res.dequeue(); res.enqueue((d, nb)); cand.enqueue((d, nb))
              }
            }
            j += 1
          }
        }
      }
      res.dequeueAll.reverseIterator
        .map((t: (Double, Int)) => ids(t._2)).toArray
    }

    /** ≤ k (id, score) rows by (score, id); `nprobe` is ignored — the
      * recall dial is ef, fixed per deployment (widened to k when a
      * request asks for more rows than the deployed beam — ef bounds
      * the shortlist, never the row count). One
      * Spark job. */
    def servingTopK(queryVec: Array[Float], k: Int, nprobe: Int,
        filter: Option[Column]): Array[org.apache.spark.sql.Row] = {
      filter.foreach { _ =>
        require(attrColumns.nonEmpty,
          "ResidentGraphIndex: this layout carries no attr columns " +
            "(rebuild with buildAdjacencyIndex attrCols = ...); the " +
            "gateway must route filtered requests to the store") }
      filter match {
        case None =>
          adj.selfScores(walk(queryVec, math.max(ef, k)).toSeq, queryVec)
            .orderBy(col("score").asc, col("id").asc)
            .limit(k)
            .collect()
            .map(r =>
              org.apache.spark.sql.Row(idOf(r.getLong(0)), r.getDouble(1)))
        case Some(f) => filteredTopK(queryVec, k, f)
      }
    }

    /** Filtered resident serving: the walk navigates on GEOMETRY and
      * cannot prune on attributes, so the predicate applies in the
      * refine job (self-rows carry the attr columns) and the shortlist
      * widens when it starves — the IVF ladder's ([[probeWidths]])
      * discipline with the widening MEASURED, not laddered blindly:
      *  1. walk at the deployed ef; refine + filter (one job). k
      *     survivors → done, same job shape as a filterless request;
      *  2. else the first pass's survivor fraction prices one informed
      *     re-walk (shortlist ≈ 2k / measured selectivity, driver-flop
      *     cost only) + one more refine job;
      *  3. else — including a shortlist with ZERO survivors, where the
      *     selectivity estimate carries no information — degrade to
      *     [[AdjIndex.filteredSelfTopK]], the exhaustive filtered scan
      *     that is the only correct answer for a predicate rarer than
      *     the walk can see (matches < k anywhere included).
      * Worst case: 3 jobs, exact; common (broad-predicate) case: 1 job.
      * The exhaustive fallback scans THIS shard's self-rows — at the
      * sharded tier that is corpus/shards rows fanned in parallel,
      * never the gateway's full store scan. */
    private[similarity] def filteredTopK(queryVec: Array[Float], k: Int,
        f: Column): Array[org.apache.spark.sql.Row] = {
      def attempt(efEff: Int): Array[org.apache.spark.sql.Row] = {
        val short = walk(queryVec, efEff)
        adj.selfScores(short.toSeq, queryVec, Some(f))
          .orderBy(col("score").asc, col("id").asc)
          .limit(k)
          .collect()
      }
      val ef0 = math.max(ef, k)
      val first = attempt(ef0)
      val out =
        if (first.length >= k) first
        else if (first.length == 0) null
        else {
          // survivors/shortlist estimates the predicate's density along
          // the walk; aim for 2k survivors, cap the re-walk at 4096
          // resident expansions (past that the exhaustive scan's one
          // clean job beats driver-flop wandering)
          val ef1 = math.min(4096L,
            ef0.toLong * 2L * k / math.max(1, first.length)).toInt
          if (ef1 <= ef0) first else {
            val second = attempt(ef1)
            if (second.length >= k) second else null
          }
        }
      val rows =
        if (out != null) out
        else adj.filteredSelfTopK(queryVec, k, f).collect()
      rows.map(r =>
        org.apache.spark.sql.Row(idOf(r.getLong(0)), r.getDouble(1)))
    }
  }

  object ResidentGraphIndex {
    /** Driver-heap bound on resident nodes — see the class note. */
    val DefaultMaxResidentNodes = 2000000L

    /** Load a resident-walk handle: topology from the index's
      * tombstone-masked edge relation (collected as primitive long
      * chunks — ~16 B an edge in transit, matching the steady state),
      * codes from the [[buildGraphCodes]]/[[appendGraphCodes]] segment
      * list (newest per id wins), entries from an IVF sidecar
      * ([[ivfGraphEntries]] — zero jobs per request) or the min live
      * id. Refuses BEFORE collecting when the live set exceeds
      * `maxResidentNodes` (one count job, so an over-budget corpus
      * cannot OOM the load), and when the sidecar predates an append (a
      * node the walk cannot SCORE is a node it silently never returns —
      * rebuild the one-pass sidecar instead). */
    def load(spark: org.apache.spark.sql.SparkSession, indexDir: String,
        entryIvfDir: Option[String] = None, ef: Int = 64,
        maxResidentNodes: Long = DefaultMaxResidentNodes,
        idOf: Long => Any = identity[Long] _, entryCount: Int = 4,
        visitBudget: Int = 0): ResidentGraphIndex = {
      require(ef >= 1 && entryCount >= 1 && visitBudget >= 0,
        s"ResidentGraphIndex: need ef >= 1, entryCount >= 1, " +
          s"visitBudget >= 0, got ef=$ef/$entryCount/$visitBudget")
      require(graphCodesReady(indexDir),
        if (legacyFlatGraphCodes(indexDir))
          s"pre-segmentation flat code sidecar at $indexDir/pqcodes — " +
            "adopt it with Knn.migrateGraphCodes (any CorpusRefresh.refresh " +
            "does this automatically) or rebuild with buildGraphCodes"
        else
          s"no pq-code sidecar at $indexDir/pqcodes — run buildGraphCodes " +
            "(Cli index --type graph --codes true) before resident serving")
      val adj = AdjIndex.load(spark, indexDir)
      import spark.implicits._
      // budget check BEFORE any collect (one cheap count job): a corpus
      // past the resident budget must refuse with the live count, not
      // OOM the driver halfway through pulling its edges
      val liveCount = adj.relation
        .filter(col("src") === col("dst")).count()
      require(liveCount > 0,
        s"ResidentGraphIndex: adjacency index at $indexDir has no live nodes")
      require(liveCount <= maxResidentNodes,
        s"ResidentGraphIndex: $liveCount live nodes exceed the resident " +
          s"budget $maxResidentNodes — split the corpus into per-shard " +
          "layouts behind " +
          "ShardedResidentIndex (fan-and-merge; each shard stays inside " +
          "this budget): one call, `graft.Cli index --type graph " +
          "--shards N` (or `--shards auto`), then `serve --graph-index " +
          "<root>`")
      // two narrow jobs, both collected as PRIMITIVES: the load
      // transient must price like the steady state (~16 B an edge), not
      // like boxed Rows (~100+ B each) — at the 2 M-node budget the Row
      // form roughly doubled peak driver heap exactly at the ceiling
      // the class advertises
      val ids = adj.relation.filter(col("src") === col("dst"))
        .select(col("src")).as[Long].collect().sorted
      val edgeChunks: Array[Array[Long]] = adj.relation
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst")).as[(Long, Long)]
        .mapPartitions { it =>
          val b = scala.collection.mutable.ArrayBuilder.make[Long]
          it.foreach { case (s, d) => b += s; b += d }
          Iterator.single(b.result())
        }.collect()
      val idToIdx = new java.util.HashMap[Long, Integer](ids.length * 2)
      locally {
        var i = 0
        while (i < ids.length) { idToIdx.put(ids(i), i); i += 1 }
      }
      // SYMMETRIZED adjacency: the stored kNN edges are DIRECTED
      // out-lists, and a best-first walk over them can only reach a
      // node's out-component — measured on the manifold gate as
      // recall@10 min 0.000 (targets unreachable from the entry).
      // In-edges are free at load time (the same collected pairs read
      // backwards) and give every walk escape routes — the DPG/NSG
      // symmetrization, applied to the resident view only (the job
      // walk keeps the stored layout's semantics). Built in two
      // primitive passes (degree count, then fill) so the topology
      // transient is int-array-sized, never cons cells.
      val deg = new Array[Int](ids.length)
      edgeChunks.foreach { ch =>
        var i = 0
        while (i < ch.length) {
          // edges to nodes outside the live set were already masked by
          // the relation's tombstone anti-joins; both lookups hit
          val si = idToIdx.get(ch(i)); val di = idToIdx.get(ch(i + 1))
          if (si != null && di != null) {
            deg(si.intValue) += 1; deg(di.intValue) += 1
          }
          i += 2
        }
      }
      val nbrs = Array.tabulate(ids.length)(i => new Array[Int](deg(i)))
      val cur = new Array[Int](ids.length)
      edgeChunks.foreach { ch =>
        var i = 0
        while (i < ch.length) {
          val si = idToIdx.get(ch(i)); val di = idToIdx.get(ch(i + 1))
          if (si != null && di != null) {
            val s = si.intValue; val d = di.intValue
            nbrs(s)(cur(s)) = d; cur(s) += 1
            nbrs(d)(cur(d)) = s; cur(d) += 1
          }
          i += 2
        }
      }
      // sort + dedupe each list in place (sorted order also pins the
      // walk's deterministic neighbor visit order)
      var ni = 0
      while (ni < nbrs.length) {
        val a = nbrs(ni)
        java.util.Arrays.sort(a)
        var w = 0; var r = 0
        while (r < a.length) {
          if (w == 0 || a(r) != a(w - 1)) { a(w) = a(r); w += 1 }
          r += 1
        }
        nbrs(ni) = if (w == a.length) a else java.util.Arrays.copyOf(a, w)
        ni += 1
      }
      // codes: segments in commit order, NEWEST code per id wins (an
      // appendGraphCodes re-encode of a changed doc supersedes its base
      // code); codes for since-tombstoned ids load into the map but are
      // never consulted — they compact away with the next rebuild
      val root = s"$indexDir/pqcodes"
      val segs = graft.sync.SegmentedIndex.resolve(spark, root).get
      val codeMap = new java.util.HashMap[Long, Array[Byte]](ids.length * 2)
      segs.foreach { seg =>
        spark.read.parquet(s"$root/$seg/codes")
          .select(col("id"), col("codes")).as[(Long, Array[Byte])]
          .collect()
          .foreach { case (id, c) => codeMap.put(id, c) }
      }
      val missing = ids.count(id => !codeMap.containsKey(id))
      require(missing == 0,
        s"ResidentGraphIndex: $missing live nodes have no PQ code — the " +
          s"sidecar at $indexDir/pqcodes predates an append; rebuild it " +
          "with buildGraphCodes")
      val meta = spark.read.parquet(s"$root/${segs.head}/meta").head()
      val codec = meta.getAs[String]("codec")
      val codebooks =
        if (codec == "pq") collectCodebooks(
          spark.read.parquet(s"$root/${segs.head}/codebooks"))
        else Array.empty[Array[Array[Float]]]
      new ResidentGraphIndex(adj, ids, nbrs, ids.map(codeMap.get(_)),
        codebooks, codec, entryIvfDir.map(d => ivfGraphEntries(spark, d)),
        ef, entryCount, visitBudget, idOf)
    }

    /** [[load]] behind a generation check spanning the adjacency
      * pointer, the code sidecar, and (when given) the entry IVF's
      * centroids — an append + sidecar rebuild or a refresh serves at
      * the next request. */
    def reloading(spark: org.apache.spark.sql.SparkSession, indexDir: String,
        entryIvfDir: Option[String] = None, ef: Int = 64,
        maxResidentNodes: Long = DefaultMaxResidentNodes,
        idOf: Long => Any = identity[Long] _, minCheckIntervalMs: Long = 0L,
        entryCount: Int = 4, visitBudget: Int = 0)
        : graft.sync.Reloading[ResidentGraphIndex] =
      graft.sync.Reloading.withFingerprint(() =>
        (Seq(graft.sync.Reloading.fingerprintOf(spark, indexDir, Seq("meta")),
          // the sidecar is a segment root now: its CURRENT pointer's
          // content covers build, append and rebuild in one token
          graft.sync.Reloading.fingerprintOf(spark, s"$indexDir/pqcodes",
            Nil)) ++
          entryIvfDir.map(d => graft.sync.Reloading
            .fingerprintOf(spark, d, Seq("centroids"))))
          .mkString("||"),
        minCheckIntervalMs)(
        load(spark, indexDir, entryIvfDir, ef, maxResidentNodes, idOf,
          entryCount, visitBudget))
  }

  /** N [[ResidentGraphIndex]] shards behind one [[DenseIndex]] face —
    * the mechanism the single-index refusal message promises when a
    * corpus outgrows [[ResidentGraphIndex.DefaultMaxResidentNodes]]:
    * partition the corpus by any disjoint rule (id range, hash — the
    * shards never communicate), build one adjacency + code sidecar per
    * shard, and serve them as one index. A request fans the driver-flop
    * walk + one-refine-job pipeline across all shards CONCURRENTLY
    * (Spark schedules the per-shard refine jobs in parallel from their
    * own threads) and merges the per-shard top-k by (score, id) — a
    * flat sort of ≤ k×shards tuples: at k ≤ 100 and any realistic fan
    * that is thousands of driver comparisons, so a heap-based k-way
    * merge would buy nothing (stated so the flat sort is not
    * cargo-culted into a hotter path).
    *
    * The merge is LOSSLESS relative to the per-shard shortlists: refine
    * scores are exact, and every member of the global top-k is by
    * definition in its own shard's local top-k — so sharded recall
    * equals the per-shard walk recall, and with exhaustive beams the
    * merged result is exactly brute force over the union (the q151
    * oracle form). Wall-clock per request stays ~one shard's latency
    * (the fan is parallel), driver heap is the SUM of shard residencies
    * — each shard individually bounded by `maxResidentNodesPerShard`,
    * which is the point: total corpus = shards × budget.
    *
    * Ids must be globally unique across shards (they key the merge's
    * deterministic tie order); `idOf` is applied once, after the merge,
    * so shard loads stay on raw longs. */
  final class ShardedResidentIndex private[Knn] (
      shards: IndexedSeq[ResidentGraphIndex],
      idOf: Long => Any) extends DenseIndex {
    require(shards.nonEmpty, "ShardedResidentIndex: need >= 1 shard")

    /** Columns EVERY shard's layout carries — a predicate must
      * evaluate on all shards or the merge silently drops matches, so
      * the gateway routes on the intersection (shards built by
      * [[build]] share one attr schema and intersect to it). */
    val attrColumns: Seq[String] =
      shards.map(_.attrColumns.toSet).reduce(_ intersect _).toSeq.sorted

    def numShards: Int = shards.length

    /** ≤ k (id, score) rows by (score, id) over the shard union —
      * [[ResidentGraphIndex.servingTopK]]'s contract, fanned. One Spark
      * job per shard filterless (up to 3 filtered — the per-shard
      * adaptive ladder), all in flight together. A filtered request
      * fans the per-shard filtered walk and merges: every member of
      * the union's filtered top-k is in its own shard's filtered
      * top-k, so the merge loses nothing relative to the per-shard
      * shortlists, and a shard whose walk starves degrades to ITS OWN
      * exhaustive self-row scan (corpus/shards rows, in parallel with
      * the other shards) — never the gateway's full store scan. */
    def servingTopK(queryVec: Array[Float], k: Int, nprobe: Int,
        filter: Option[Column]): Array[org.apache.spark.sql.Row] = {
      filter.foreach { _ =>
        require(attrColumns.nonEmpty,
          "ShardedResidentIndex: shard layouts carry no shared attr " +
            "columns (rebuild with attrCols = ...); the gateway must " +
            "route filtered requests to the store") }
      val perShard =
        new Array[Array[org.apache.spark.sql.Row]](shards.length)
      val errs = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val threads = shards.indices.map { i =>
        val t = new Thread(() => {
          try perShard(i) = shards(i).servingTopK(queryVec, k, nprobe,
            filter)
          catch { case e: Throwable => errs.compareAndSet(null, e) }
        })
        t.setDaemon(true); t.start(); t
      }
      threads.foreach(_.join())
      if (errs.get() != null) throw errs.get()
      perShard.iterator.flatMap(_.iterator)
        .map(r => (r.getDouble(1), r.getLong(0)))
        .toArray.sorted
        .take(k)
        .map { case (score, id) => org.apache.spark.sql.Row(idOf(id), score) }
    }
  }

  object ShardedResidentIndex {
    /** Load one resident handle per shard layout — CONCURRENTLY, one
      * loader thread per shard (a shard load is a handful of narrow
      * collect jobs; Spark schedules jobs from multiple threads, so N
      * shard loads overlap instead of summing — the same fan the
      * serving path uses). `shardDirs` pairs each adjacency root with
      * its OWN entry-IVF sidecar (per-shard centroids — entries are
      * node ids, which only resolve in their shard); every shard is
      * individually budget-checked, so the refuse-before-collect
      * contract holds per shard and the total residency is
      * `shards × maxResidentNodesPerShard` by construction. Shards
      * load with raw long ids; `idOf` renders the merged winners
      * once. */
    def load(spark: org.apache.spark.sql.SparkSession,
        shardDirs: Seq[(String, Option[String])], ef: Int = 64,
        maxResidentNodesPerShard: Long =
          ResidentGraphIndex.DefaultMaxResidentNodes,
        idOf: Long => Any = identity[Long] _, entryCount: Int = 4,
        visitBudget: Int = 0): ShardedResidentIndex = {
      val dirs = shardDirs.toIndexedSeq
      val handles = new Array[ResidentGraphIndex](dirs.length)
      val errs = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val threads = dirs.indices.map { i =>
        val t = new Thread(() => {
          try {
            val (d, ivf) = dirs(i)
            handles(i) = ResidentGraphIndex.load(spark, d, ivf, ef,
              maxResidentNodesPerShard, identity[Long] _, entryCount,
              visitBudget)
          } catch { case e: Throwable => errs.compareAndSet(null, e) }
        })
        t.setDaemon(true); t.start(); t
      }
      threads.foreach(_.join())
      if (errs.get() != null) throw errs.get()
      new ShardedResidentIndex(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(handles), idOf)
    }

    /** Build a complete sharded resident deployment from ONE corpus
      * under `rootDir`: rows route to `shards` disjoint shards by
      * `pmod(key, shards)` — the rule an append/refresh must replay to
      * route a delta batch to its shard — and each shard gets its OWN
      * cell-kNN adjacency (buckets by [[bucketsFor]]), code sidecar,
      * and entry IVF: exactly the layouts [[load]] consumes, returned
      * in shard order. Shard builds are INDEPENDENT — this helper runs
      * them sequentially on one session; at real scale run one build
      * job per shard (r15 measured 2 × 1 M building in 10.7 + 9.4 min
      * vs 26–47 min for the unsharded 2 M — per-shard cost shrinks
      * super-linearly, so sharding is also the build-parallelism
      * story). */
    def build(corpus: DataFrame, vecCol: String, keyCol: String,
        rootDir: String, shards: Int, topK: Int = 10, iters: Int = 2,
        nprobe: Int = 2, codec: String = "int8", entryCells: Int = 256,
        attrCols: Seq[String] = Nil)
        : Seq[(String, Option[String])] = {
      require(shards >= 1, s"need shards >= 1, got $shards")
      val spark = corpus.sparkSession
      val dirs = (0 until shards).map { s =>
        val dir = s"$rootDir/shard$s"
        val ivfDir = s"$rootDir/shard$s-ivf"
        val members = corpus.filter(col(vecCol).isNotNull &&
          pmod(col(keyCol).cast("long"), lit(shards.toLong)) === s)
        val n = members.count()
        require(n > 0, s"shard $s of $shards is empty — shard count " +
          "exceeds the key spread under pmod")
        val cells = math.min((n / 800L).max(8L), math.max(1L, n / 4L)).toInt
        val edges = cellKnnGraph(members, vecCol, keyCol, topK = topK,
          cells = cells, iters = iters, nprobe = math.min(nprobe, cells))
          .select(col("id_a"), col("id_b"))
        buildAdjacencyIndex(edges, members, vecCol, keyCol, dir,
          buckets = bucketsFor(n * (topK + 1L)), attrCols = attrCols)
        buildGraphCodes(spark, dir, codec = codec)
        // entry IVF trains on a ~20 k-row hash sample (geometry only
        // needs a representative slice — the ivfBuildIndex contract)
        val every = (n / 20000L).max(1L)
        ivfBuildIndex(members, vecCol, keyCol, ivfDir,
          k = math.min(entryCells.toLong, math.max(1L, n / 4L)).toInt,
          iters = iters,
          trainFilter = pmod(hash(col(keyCol)), lit(every)) === 0,
          fp16 = true)
        (dir, Option(ivfDir))
      }
      // gateway manifest LAST — it is the build's completion marker
      // (ShardedResidentIndex.loadRoot refuses a root whose manifest
      // is absent, so a crash mid-build reads as absent, never as a
      // half-sharded gateway)
      writeManifest(spark, rootDir,
        dirs.map { case (d, ivf) =>
          (d.stripPrefix(s"$rootDir/"),
            ivf.map(_.stripPrefix(s"$rootDir/"))) })
      dirs
    }

    /** Write the gateway MANIFEST at a sharded root: one line per shard
      * in shard order — `<shardDir>` or `<shardDir>\t<entryIvfDir>`,
      * paths RELATIVE to the root so the whole deployment can move —
      * committed with the CURRENT pointer's atomic-replace discipline
      * (readers see the old complete manifest or the new one, never a
      * torn file). */
    def writeManifest(spark: org.apache.spark.sql.SparkSession,
        rootDir: String, dirs: Seq[(String, Option[String])]): Unit = {
      require(dirs.nonEmpty, "writeManifest: empty shard list")
      import org.apache.hadoop.fs.{Path => HPath}
      val rootP = new HPath(rootDir)
      val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(rootP)
      val tmp = new HPath(rootP, s".MANIFEST.tmp-${System.nanoTime()}")
      val body = dirs.map { case (d, ivf) =>
        ivf.fold(d)(e => s"$d\t$e") }.mkString("\n")
      scala.util.Using.resource(fs.create(tmp, true))(
        _.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      graft.sync.FsUtil.atomicReplace(fs,
        spark.sparkContext.hadoopConfiguration,
        tmp, new HPath(rootP, "MANIFEST"))
    }

    /** The shard list a root's MANIFEST declares — (adjacencyDir,
      * entryIvfDir) pairs with paths resolved against the root — or
      * None when no manifest exists (callers fall back to explicit
      * shard lists). */
    def loadManifest(spark: org.apache.spark.sql.SparkSession,
        rootDir: String): Option[Seq[(String, Option[String])]] = {
      import org.apache.hadoop.fs.{Path => HPath}
      val rootP = new HPath(rootDir)
      val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val ptr = new HPath(rootP, "MANIFEST")
      if (!fs.exists(ptr)) None
      else {
        val text = scala.util.Using.resource(fs.open(ptr)) { in =>
          new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)
        }
        def abs(p: String): String =
          if (p.startsWith("/") || p.contains("://")) p else s"$rootDir/$p"
        Some(text.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
          .map { line =>
            line.split('\t') match {
              case Array(d) => (abs(d), None)
              case Array(d, e) => (abs(d), Some(abs(e)))
              case _ => throw new IllegalStateException(
                s"malformed MANIFEST line at $rootDir: '$line'")
            }
          })
      }
    }

    /** [[load]] via the root's MANIFEST — the one-call serving form of
      * a `Cli index --type graph --shards N` build. */
    def loadRoot(spark: org.apache.spark.sql.SparkSession, rootDir: String,
        ef: Int = 64,
        maxResidentNodesPerShard: Long =
          ResidentGraphIndex.DefaultMaxResidentNodes,
        idOf: Long => Any = identity[Long] _, entryCount: Int = 4,
        visitBudget: Int = 0): ShardedResidentIndex =
      load(spark, loadManifest(spark, rootDir).getOrElse(
          throw new IllegalArgumentException(
            s"no sharded-gateway MANIFEST at $rootDir — build one with " +
              "`graft.Cli index --type graph --shards N`")),
        ef, maxResidentNodesPerShard, idOf, entryCount, visitBudget)

    /** [[load]] behind ONE generation check spanning every shard's
      * adjacency pointer, code sidecar and entry IVF — any shard's
      * append/refresh/rebuild swaps the whole gateway handle at the
      * next request (shard loads are independent, but a half-updated
      * VIEW must never serve: the fingerprint is the concatenation). */
    def reloading(spark: org.apache.spark.sql.SparkSession,
        shardDirs: Seq[(String, Option[String])], ef: Int = 64,
        maxResidentNodesPerShard: Long =
          ResidentGraphIndex.DefaultMaxResidentNodes,
        idOf: Long => Any = identity[Long] _, minCheckIntervalMs: Long = 0L,
        entryCount: Int = 4, visitBudget: Int = 0)
        : graft.sync.Reloading[ShardedResidentIndex] =
      graft.sync.Reloading.withFingerprint(() =>
        shardDirs.flatMap { case (d, ivf) =>
          Seq(graft.sync.Reloading.fingerprintOf(spark, d, Seq("meta")),
            graft.sync.Reloading.fingerprintOf(spark, s"$d/pqcodes", Nil)) ++
            ivf.map(e => graft.sync.Reloading
              .fingerprintOf(spark, e, Seq("centroids")))
        }.mkString("||"),
        minCheckIntervalMs)(
        load(spark, shardDirs, ef, maxResidentNodesPerShard, idOf,
          entryCount, visitBudget))
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
