package graft

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Serving latency under CONCURRENT load — the reference's gate is
  * P95 < 500 ms for `POST /search` k=10 at 20 concurrent users
  * (BASELINE.md). [[LatencyProbe]] measures the sequential floor; this
  * probe runs N user threads against one shared SparkSession with the
  * FAIR scheduler, one pool per user, so no single request can convoy
  * the rest behind a FIFO queue.
  *
  * Two modes over the same 200 k × 3072-dim fp16 corpus:
  *
  *  - `brute`: every request scores the full corpus through the fused
  *    kernel (the LatencyProbe plan). Each request costs ~5.5 core-sec of
  *    distance math, so 32 cores saturate near 6 qps — 20 closed-loop
  *    users push per-request latency to seconds REGARDLESS of scheduling.
  *    This mode documents graceful saturation, not the gate.
  *  - `ivf`: requests go through the Catalyst probe of
  *    [[graft.similarity.Knn.IvfIndex.search]] — the centroid sidecar is
  *    driver-resident (loaded once), probe selection is local
  *    arithmetic, and each request is ONE Spark job scanning only
  *    `nprobe/cells` of the corpus via partition pruning (the serving
  *    edge's filterless requests take the handle's resident probe). This is
  *    the concurrency dial: per-request work drops ~cells/nprobe×, so
  *    the same 20 users sit far below saturation.
  *
  * The load shape replicates the reference's locust run exactly
  * (locustfile.py:29-33,58, Makefile:38-41): 20 users spawned at 2/s,
  * each waiting a uniform 0.5–1.5 s between requests, k=10. A closed
  * loop with ZERO think time (CONC_THINK_MS=0) is a harsher shape than
  * the gate measures — it drives the system at saturation, which is
  * useful for capacity numbers but is not what "<500 ms at 20 users"
  * gates.
  *
  * env: CONC_VECS (default 200000), CONC_USERS (default 20),
  * CONC_REQS per user (default 10), CONC_MODE (`dense` — the default
  * serving mode, PQ codes + fp16 cosine refine; `ivf`, `brute`, `pq`,
  * `filtered`, `routed`, `resident` (the in-memory code walk
  * `Cli serve --graph-index` serves — CONC_GRAPH_K graph out-degree
  * default 5, CONC_RESIDENT_EF default 64, CONC_RESIDENT_CODEC pq|int8,
  * CONC_RESIDENT_M/CONC_RESIDENT_KSUB pq dials,
  * CONC_RESIDENT_REBUILD=1 forces a sidecar rebuild, CONC_ENTRY=ivf
  * seeds walks from IVF cells), `hybrid`, `lex`, or `both` =
  * dense + ivf + hybrid + brute), CONC_CELLS
  * (default 64), CONC_NPROBE (default 4), CONC_DENSE_REFINE (default 64),
  * CONC_THINK_MS (mean think time; default 1000 = locust's
  * between(0.5, 1.5); 0 = closed-loop stress), CONC_SPAWN_RATE
  * (users/s; default 2), CONC_FIXTURE (`uniform` | `manifold` — the
  * corpus shape; see [[graft.fixtures.ManifoldCorpus]]).
  */
object ConcurrencyProbe {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder()
      // static conf: must be set at context creation, not per query
      .config("spark.scheduler.mode", "FAIR")
      // serving plans here are single-stage TakeOrderedAndProject — AQE
      // buys nothing (no shuffle to re-plan) and its per-query adaptive
      // wrapper adds driver work on exactly the serialized path that
      // bounds throughput
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    graft.functions.registerAll(spark)
    spark.sparkContext.setLogLevel("ERROR")

    val n = sys.env.getOrElse("CONC_VECS", "200000").toLong
    val users = sys.env.getOrElse("CONC_USERS", "20").toInt
    val reqsPerUser = sys.env.getOrElse("CONC_REQS", "10").toInt
    // comma-separated mode list, run in order of the blocks below — one
    // JVM, one VM phase, so a full serving-menu re-gate is ONE
    // same-phase session instead of per-mode runs stitched across
    // phases (the r10/r11 swing lesson applied to the gate table);
    // `both` remains the dense+ivf+hybrid+brute shorthand
    val modes = sys.env.getOrElse("CONC_MODE", "both")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    def mode(m: String): Boolean = modes.contains(m) ||
      (modes.contains("both") &&
        Set("dense", "ivf", "hybrid", "brute").contains(m))
    // CONC_FIXTURE selects the corpus SHAPE the menu is priced on:
    // `uniform` (Fp16Corpus — quasi-uniform on the sphere, the
    // distance-concentration worst case where graph navigation has no
    // gradient) or `manifold` (ManifoldCorpus — low intrinsic dimension,
    // what real embedding models emit and where graph-ANN is supposed to
    // work). Index fixtures are tagged per fixture so variants never
    // collide; query vectors come from the matching generator.
    val fixture = sys.env.getOrElse("CONC_FIXTURE", "uniform")
    require(Set("uniform", "manifold").contains(fixture),
      s"CONC_FIXTURE must be uniform|manifold, got $fixture")
    val ftag = if (fixture == "uniform") "" else s"-$fixture"
    val qvec: Long => Array[Float] =
      if (fixture == "manifold")
        seed => graft.fixtures.ManifoldCorpus.vector(seed % n)
      else seed => graft.fixtures.Fp16Corpus.vector(seed % n)
    def denseMode(corpus: org.apache.spark.sql.DataFrame): Unit = {
      // THE DEFAULT DENSE SERVING MODE (r11): IVFADC codes shortlist +
      // exact fp16 COSINE refine (refine=64) through the DenseIndex
      // contract the gateway routes (`Cli serve --ivf-index` over an
      // IVFADC layout). Promoted
      // over the fp16 IVF probe after r10's gate instability — ivf
      // nprobe=4 ran p95 436/521/502 ms same-phase (1-in-3 over the
      // 500 ms gate) and 781 ms in r11's slow-phase sweep, while this
      // mode's stage 1 touches 192× fewer scan bytes and stage 2 only
      // refine·k fp16 point rows. The refine ladder (SCALE.md r11,
      // same-day, recall vs exact brute force on this fixture; p95
      // after the inFilterThreshold fix let the ≥320-id shortlists
      // reach parquet as real In predicates):
      //   r=8  p95 241 ms @ recall 0.575   r=64  p95 290 ms @ 0.972
      //   r=32 p95 247 ms @ 0.845          r=128 p95 320 ms @ 1.000
      // r=64 is the default: recall within 0.03 of the fp16 IVF probe
      // at ~2.7× less p95 (same phase). r=128 is exact-recall parity;
      // since r12's chunkedIn shortlist it serves on DEFAULT task
      // stacks (gate-confirmed 333 ms p95; the old single-In form
      // overflowed at 1280 literals and needed -Xss16m).
      val cellsK = sys.env.getOrElse("CONC_CELLS", "64").toInt
      val nprobe = sys.env.getOrElse("CONC_NPROBE", "4").toInt
      val refine = sys.env.getOrElse("CONC_DENSE_REFINE", "64").toInt
      val indexDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/ivfpqserve3072$ftag-n$n-c$cellsK-m32-k64-refine"
      if (!graft.similarity.Knn.ivfIndexReady(indexDir)) {
        val fp32 = corpus.select(col("vec_id").as("id"),
          graft.functions.fp16_decode(col("emb16")).as("embedding"))
        val every = (n / 500).max(1L)
        graft.similarity.Knn.ivfPqBuildIndex(fp32, "embedding", "id",
          indexDir, cells = cellsK, m = 32, ksub = 64, iters = 2,
          trainFilter = col("id") % every === 0,
          pqTrainFilter = col("id") % every === 0, refine = true)
      }
      val dense = graft.similarity.Knn.IvfIndex.load(spark, indexDir)
        .asDense(refine)
      recall10(spark, corpus, n,
        s"dense(pq+refine=$refine,cells=$cellsK,nprobe=$nprobe)", qvec) {
          qv => dense.servingTopK(qv, 10, nprobe, None)
            .map(_.getLong(0)).toSeq }
      run(spark, s"dense(pq+refine=$refine,cells=$cellsK,nprobe=$nprobe)", n,
        users, reqsPerUser) { seed =>
          val qv = qvec(seed)
          require(dense.servingTopK(qv, 10, nprobe, None).length == 10)
      }
    }
    // the lexical leg's scoring agg has one real shuffle; at serving row
    // counts its reduce stage is pure scheduling overhead, so the modes
    // that run the sparse leg drop shuffle parallelism to a few tasks
    // (runtime conf; the dense IvfIndex plan has no shuffle and is
    // unaffected). AQE stays OFF: its per-stage job materialization
    // DOUBLES the per-request job count — measured 270 ms vs 180 ms for
    // the identical search — and job count is the serialized resource
    // under concurrency
    if (mode("hybrid") || mode("lex"))
      spark.conf.set("spark.sql.shuffle.partitions", "4")
    val corpus =
      if (fixture == "manifold") graft.fixtures.ManifoldCorpus.prepared(spark, n)
      else graft.fixtures.Fp16Corpus.prepared(spark, "/root/testdata/sf0.1", n)
    if (mode("dense")) denseMode(corpus)

    if (mode("ivf")) {
      val cellsK = sys.env.getOrElse("CONC_CELLS", "64").toInt
      val nprobe = sys.env.getOrElse("CONC_NPROBE", "4").toInt
      val indexDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/ivfserve3072$ftag-n$n-c$cellsK"
      if (!graft.similarity.Knn.ivfIndexReady(indexDir)) {
        val fp32 = corpus.select(col("vec_id").as("id"),
          graft.functions.fp16_decode(col("emb16")).as("embedding"))
        // train on ~500 sampled vectors: the assignment pass is the full
        // scan either way; Lloyd only needs a representative sample
        graft.similarity.Knn.ivfBuildIndex(fp32, "embedding", "id", indexDir,
          k = cellsK, iters = 2,
          trainFilter = col("id") % (n / 500).max(1L) === 0, fp16 = true)
      }
      // CONC_RELOADING=1 serves through the generation-checked handle
      // (graft.sync.Reloading) instead of the load-once one — measures
      // that the per-request pointer probe (~µs local-disk read) doesn't
      // move the p95, i.e. live index maintenance costs nothing at the
      // serving edge until a commit actually lands
      val fetch: () => graft.similarity.Knn.IvfIndex =
        if (sys.env.get("CONC_RELOADING").contains("1")) {
          val h = graft.similarity.Knn.IvfIndex.reloading(spark, indexDir)
          () => h.get
        } else {
          val i = graft.similarity.Knn.IvfIndex.load(spark, indexDir)
          () => i
        }
      val tag = if (sys.env.get("CONC_RELOADING").contains("1"))
        ",reloading" else ""
      recall10(spark, corpus, n, s"ivf(cells=$cellsK,nprobe=$nprobe$tag)",
        qvec) { qv => fetch().search(qv, k = 10, nprobe = nprobe)
          .select(col("id")).collect().map(_.getLong(0)).toSeq }
      run(spark, s"ivf(cells=$cellsK,nprobe=$nprobe$tag)", n, users,
        reqsPerUser) { seed =>
          val qv = qvec(seed)
          fetch().search(qv, k = 10, nprobe = nprobe).collect()
      }
    }

    if (mode("filtered")) {
      // attribute-filtered serving (q132's shape under the gate): the
      // cells carry a label attr and every request filters on it via
      // servingTopK's widening ladder. At CONC_FILTER_MOD=10 the predicate keeps ~10%
      // of each probed cell — selective enough that post-hoc filtering
      // of 10 winners would starve, dense enough that the adaptive
      // probe almost never widens: the request stays ONE pruned job
      // with the predicate evaluated inside the scan, so the p95
      // should sit on `ivf` mode's, not above it. Raise the modulus to
      // measure the widening ladder's cost.
      val cellsK = sys.env.getOrElse("CONC_CELLS", "64").toInt
      val nprobe = sys.env.getOrElse("CONC_NPROBE", "4").toInt
      val fmod = sys.env.getOrElse("CONC_FILTER_MOD", "10").toLong
      val indexDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/ivfserve3072attr$ftag-n$n-c$cellsK-m$fmod"
      if (!graft.similarity.Knn.ivfIndexReady(indexDir)) {
        val fp32 = corpus.select(col("vec_id").as("id"),
          graft.functions.fp16_decode(col("emb16")).as("embedding"),
          pmod(col("vec_id"), lit(fmod)).as("label"))
        graft.similarity.Knn.ivfBuildIndex(fp32, "embedding", "id", indexDir,
          k = cellsK, iters = 2,
          trainFilter = col("id") % (n / 500).max(1L) === 0, fp16 = true,
          attrCols = Seq("label"))
      }
      val index = graft.similarity.Knn.IvfIndex.load(spark, indexDir)
      run(spark, s"filtered(cells=$cellsK,nprobe=$nprobe,mod=$fmod)", n,
        users, reqsPerUser) { seed =>
          val qv = qvec(seed)
          index.servingTopK(qv, k = 10, nprobe = nprobe,
            Some(col("label") === seed % fmod))
      }
    }

    if (mode("routed")) {
      // the NARROW-predicate case `filtered` mode's comment prices by
      // implication (raise the modulus → the widening ladder): a
      // predicate matching ~n/nmod ≈ 10 rows starves every probe, so
      // servingTopK's ladder burns log₂(cells) widening jobs per
      // request to arrive at the exhaustive scan. servingTopKRouted — the
      // gateway's filtered default — measures the match count (one
      // column-pruned job) and routes STRAIGHT to the pruned scan: two
      // jobs flat. Both run here same-phase, so the ladder tax is one
      // subtraction.
      val cellsK = sys.env.getOrElse("CONC_CELLS", "64").toInt
      val nprobe = sys.env.getOrElse("CONC_NPROBE", "4").toInt
      val nmod = sys.env.getOrElse("CONC_ROUTE_MOD", (n / 10).toString).toLong
      val indexDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/ivfserve3072nattr$ftag-n$n-c$cellsK-m$nmod"
      if (!graft.similarity.Knn.ivfIndexReady(indexDir)) {
        val fp32 = corpus.select(col("vec_id").as("id"),
          graft.functions.fp16_decode(col("emb16")).as("embedding"),
          pmod(col("vec_id"), lit(nmod)).as("nlabel"))
        graft.similarity.Knn.ivfBuildIndex(fp32, "embedding", "id", indexDir,
          k = cellsK, iters = 2,
          trainFilter = col("id") % (n / 500).max(1L) === 0, fp16 = true,
          attrCols = Seq("nlabel"))
      }
      val index = graft.similarity.Knn.IvfIndex.load(spark, indexDir)
      run(spark, s"routed_ladder(cells=$cellsK,nprobe=$nprobe,mod=$nmod)",
        n, users, reqsPerUser) { seed =>
          val qv = qvec(seed)
          index.servingTopK(qv, k = 10, nprobe = nprobe,
            Some(col("nlabel") === seed % nmod))
      }
      run(spark, s"routed(cells=$cellsK,nprobe=$nprobe,mod=$nmod)",
        n, users, reqsPerUser) { seed =>
          val qv = qvec(seed)
          index.servingTopKRouted(qv, k = 10, nprobe = nprobe,
            col("nlabel") === seed % nmod)
      }
      // the same routed request with the predicate in a shape the
      // attr-stats parser declines (isin ≡ equality here): the router
      // must MEASURE the match count — one extra column-pruned job per
      // request. At CONC_ROUTE_MOD ≤ 4096 the `routed` arm above prices
      // from the build-time sidecar instead (r16), so routed vs
      // routed_measured is the per-request cost of that count job,
      // same-phase. At the default mod=20000 the sidecar overflows its
      // value budget and both arms measure — dial mod down to see the
      // stats win.
      run(spark, s"routed_measured(cells=$cellsK,nprobe=$nprobe,mod=$nmod)",
        n, users, reqsPerUser) { seed =>
          val qv = qvec(seed)
          index.servingTopKRouted(qv, k = 10, nprobe = nprobe,
            col("nlabel").isin(seed % nmod))
      }
    }

    if (mode("pq")) {
      // IVFADC serving: same cells/nprobe dial as `ivf`, but the probed
      // partitions hold m-byte PQ codes instead of fp16 vectors — per-
      // request scan I/O drops by the compression ratio (fp16 6 KB/vec →
      // m=32 B is 192×) while the request shape stays ONE pruned job;
      // probe selection + the nprobe residual LUTs are driver-local
      // arithmetic (~dim·ksub flops, microseconds). The latency floor is
      // the same ~50 ms serialized planning path as `ivf` — this mode
      // documents that the COMPRESSED index serves the gate too, i.e.
      // recall (not latency) is the only cost of PQ at serving time.
      val cellsK = sys.env.getOrElse("CONC_CELLS", "64").toInt
      val nprobe = sys.env.getOrElse("CONC_NPROBE", "4").toInt
      val m = sys.env.getOrElse("CONC_PQ_M", "32").toInt
      val ksub = sys.env.getOrElse("CONC_PQ_KSUB", "64").toInt
      // CONC_PQ_REFINE > 1 turns on the exact re-rank stage: the index
      // carries the fp16 refine payload and every request pays a SECOND
      // pruned job re-scoring the r·k shortlist — the recall-vs-latency
      // trade the 5× p95 headroom of the code-only path buys back
      val refine = sys.env.getOrElse("CONC_PQ_REFINE", "1").toInt
      val indexDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/ivfpqserve3072$ftag-n$n-c$cellsK-m$m-k$ksub" +
        (if (refine > 1) "-refine" else "")
      if (!graft.similarity.Knn.ivfIndexReady(indexDir)) {
        val fp32 = corpus.select(col("vec_id").as("id"),
          graft.functions.fp16_decode(col("emb16")).as("embedding"))
        // coarse + sub-quantizer training both on ~500-vector samples;
        // the assignment & encode passes cover the full corpus
        val every = (n / 500).max(1L)
        graft.similarity.Knn.ivfPqBuildIndex(fp32, "embedding", "id",
          indexDir, cells = cellsK, m = m, ksub = ksub, iters = 2,
          trainFilter = col("id") % every === 0,
          pqTrainFilter = col("id") % every === 0, refine = refine > 1)
      }
      val index = graft.similarity.Knn.IvfIndex.load(spark, indexDir)
      run(spark,
        s"pq(cells=$cellsK,nprobe=$nprobe,m=$m,ksub=$ksub,refine=$refine)",
        n, users, reqsPerUser) { seed =>
          val qv = qvec(seed)
          index.search(qv, k = 10, nprobe = nprobe, refine = refine).collect()
      }
    }

    if (mode("resident")) {
      // the resident-code walk (Knn.ResidentGraphIndex — `Cli serve
      // --graph-index G`): topology + m-byte PQ codes held in memory,
      // the FULL best-first graph search runs at ~µs
      // per expansion (no hop cap — natural termination), and the one
      // Spark job per request is the bucket-pruned exact re-rank of the
      // ef shortlist. This is the serving answer to the manifold
      // ladder's finding that multi-hop-as-jobs prices at seconds
      // (SCALE.md §r13): the walk's budget stops costing jobs, so ef
      // buys recall at driver-flop prices and the job count matches the
      // gate-passing IVF probe's.
      val gk = sys.env.getOrElse("CONC_GRAPH_K", "5").toInt
      val ef = sys.env.getOrElse("CONC_RESIDENT_EF", "64").toInt
      val indexDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/adjserve3072$ftag-n$n-k$gk"
      // the CELLED construction (cellKnnGraph): at 3072 dims NN-Descent's
      // proposal joins carry both endpoint vectors (~2 TB of shuffle a
      // round at 200 k), while the celled build shuffles n·nprobe rows
      if (!new java.io.File(s"$indexDir/CURRENT").isFile) {
        val fp32 = corpus.select(col("vec_id").as("id"),
          graft.functions.fp16_decode(col("emb16")).as("embedding"))
        val edges = graft.similarity.Knn.cellKnnGraph(
            fp32, "embedding", "id", topK = gk,
            cells = (n / 800).max(8L).toInt, iters = 2, nprobe = 2)
          .select(col("id_a"), col("id_b"))
        graft.similarity.Knn.buildAdjacencyIndex(edges, fp32, "embedding",
          "id", indexDir, buckets = 64)
      }
      val pqM = sys.env.getOrElse("CONC_RESIDENT_M", "64").toInt
      val pqKsub = sys.env.getOrElse("CONC_RESIDENT_KSUB", "256").toInt
      val codec = sys.env.getOrElse("CONC_RESIDENT_CODEC", "pq")
      if (!graft.similarity.Knn.graphCodesReady(indexDir) ||
          sys.env.get("CONC_RESIDENT_REBUILD").contains("1"))
        // train on ~2000 nodes — codebook quality saturates long before
        // the corpus; encode is the full narrow pass either way
        graft.similarity.Knn.buildGraphCodes(spark, indexDir,
          m = pqM, ksub = pqKsub, trainMod = math.max(1L, n / 2000L),
          codec = codec)
      val entryIvf =
        if (!sys.env.get("CONC_ENTRY").contains("ivf")) None
        else {
          val cellsK = sys.env.getOrElse("CONC_CELLS", "64").toInt
          val ivfDir = graft.fixtures.Fp16Corpus.workRoot +
            s"/ivfserve3072$ftag-n$n-c$cellsK"
          if (!graft.similarity.Knn.ivfIndexReady(ivfDir)) {
            val fp32 = corpus.select(col("vec_id").as("id"),
              graft.functions.fp16_decode(col("emb16")).as("embedding"))
            graft.similarity.Knn.ivfBuildIndex(fp32, "embedding", "id",
              ivfDir, k = cellsK, iters = 2,
              trainFilter = col("id") % (n / 500).max(1L) === 0, fp16 = true)
          }
          Some(ivfDir)
        }
      val index = graft.similarity.Knn.ResidentGraphIndex.load(spark,
        indexDir, entryIvf, ef = ef)
      val tag = if (entryIvf.isDefined) ",entry=ivf" else ",entry=fixed"
      val lbl =
        if (codec == "int8") s"resident(k=$gk,ef=$ef,codec=int8$tag)"
        else s"resident(k=$gk,ef=$ef,m=$pqM,ksub=$pqKsub$tag)"
      recall10(spark, corpus, n, lbl, qvec) {
        qv => index.servingTopK(qv, 10, 0, None).map(_.getLong(0)) }
      run(spark, lbl, n, users, reqsPerUser) { seed =>
          val qv = qvec(seed)
          require(index.servingTopK(qv, 10, 0, None).nonEmpty)
      }
    }

    if (mode("hybrid")) {
      // hybrid serving shape: IVF dense leg (one pruned job) + bucket-
      // pruned lexical-index BM25 leg (one pruned job) + DRIVER-side RRF
      // fusion (rrfFuseLocal — two 10-row lists, no third job). The
      // per-request job count is the resource that bounds concurrent
      // serving (the ~50 ms serialized driver planning path), so hybrid
      // costs ~2× ivf's planning and its data work stays pruned on both
      // legs — the gate shape with the sparse leg turned on.
      val cellsK = sys.env.getOrElse("CONC_CELLS", "64").toInt
      val nprobe = sys.env.getOrElse("CONC_NPROBE", "4").toInt
      val indexDir = graft.fixtures.Fp16Corpus.workRoot +
        s"/ivfserve3072$ftag-n$n-c$cellsK"
      if (!graft.similarity.Knn.ivfIndexReady(indexDir)) {
        val fp32 = corpus.select(col("vec_id").as("id"),
          graft.functions.fp16_decode(col("emb16")).as("embedding"))
        graft.similarity.Knn.ivfBuildIndex(fp32, "embedding", "id", indexDir,
          k = cellsK, iters = 2,
          trainFilter = col("id") % (n / 500).max(1L) === 0, fp16 = true)
      }
      val index = graft.similarity.Knn.IvfIndex.load(spark, indexDir)
      val docs = GraftSession.table(spark, "/root/testdata/sf0.1", "documents")
      val lexDir = graft.fixtures.Fp16Corpus.workRoot + "/lexserve-sf01"
      if (!new java.io.File(s"$lexDir/CURRENT").isFile)
        graft.text.TextRank.buildLexicalIndex(docs, "text", "doc_id", lexDir)
      // the load-once handle, like IvfIndex: segment list + corpus stats
      // resolve at load (stats are plan literals), postings relation held
      // so no per-request file listing — searchLexicalIndex's per-call
      // re-resolution costs seconds under concurrency
      val lexIndex = graft.text.TextRank.LexIndex.load(spark, lexDir)
      // rotate realistic multi-term queries drawn from the corpus itself
      val termPool = docs.limit(50).select(col("text")).collect()
        .flatMap(_.getString(0).split(" ").take(6)).distinct.toSeq
      // steady-state df cache: every pool term's document frequency is
      // resolved BEFORE the measured run (a production box warms common
      // terms at deploy) — otherwise the first request per term pays the
      // one-time df job and those land exactly in the measured tail
      termPool.grouped(3).foreach(g => lexIndex.search(g.distinct, 1).collect())
      // default: two CONCURRENT single-leg jobs (critical path =
      // max(dense, lex)). CONC_HYBRID=fused drives the single-planned-job
      // HybridIndex plan instead — measured SLOWER here (2026-08-14,
      // same-day: legs p95 492 ms vs fused 822 ms at nprobe=2, ivf-alone
      // 543 ms): the fused job's stage barriers (rank windows + fusion
      // join serialize after the leg scans) cost more than the one saved
      // planning pass, because FAIR-scheduled independent jobs already
      // overlap at stage granularity. Kept as the option for deployments
      // whose bottleneck really is planned-jobs-per-request.
      if (!sys.env.get("CONC_HYBRID").contains("fused")) {
        val legPool = Executors.newCachedThreadPool()
        run(spark, s"hybrid(cells=$cellsK,nprobe=$nprobe,legs)", n, users,
          reqsPerUser) { seed =>
            val qv = qvec(seed)
            val terms = (0 until 3)
              .map(i => termPool(((seed + i * 7) % termPool.size).toInt)).distinct
            val pool = spark.sparkContext.getLocalProperty("spark.scheduler.pool")
            val lexFut = legPool.submit(new java.util.concurrent.Callable[Seq[Long]] {
              def call(): Seq[Long] = {
                spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
                lexIndex.search(terms, k = 10)
                  .select(col("id")).collect().map(_.getLong(0)).toSeq
              }
            })
            val dense = index.search(qv, k = 10, nprobe = nprobe)
              .select(col("id")).collect().map(_.getLong(0)).toSeq
            val fused = graft.text.TextRank.rrfFuseLocal(dense, lexFut.get(), 10)
            require(fused.nonEmpty)
        }
        legPool.shutdown()
      } else {
        val hybrid = new graft.search.HybridIndex(index, lexIndex)
        run(spark, s"hybrid(cells=$cellsK,nprobe=$nprobe,fused)", n, users,
          reqsPerUser) { seed =>
            val qv = qvec(seed)
            val terms = (0 until 3)
              .map(i => termPool(((seed + i * 7) % termPool.size).toInt)).distinct
            require(hybrid.search(qv, terms, k = 10, nprobe = nprobe)
              .collect().nonEmpty)
        }
      }
    }

    if (mode("lex")) {
      // diagnosis mode: the sparse leg alone, for attributing hybrid cost
      val docs = GraftSession.table(spark, "/root/testdata/sf0.1", "documents")
      val lexDir = graft.fixtures.Fp16Corpus.workRoot + "/lexserve-sf01"
      if (!new java.io.File(s"$lexDir/CURRENT").isFile)
        graft.text.TextRank.buildLexicalIndex(docs, "text", "doc_id", lexDir)
      val lexIndex = graft.text.TextRank.LexIndex.load(spark, lexDir)
      val termPool = docs.limit(50).select(col("text")).collect()
        .flatMap(_.getString(0).split(" ").take(6)).distinct.toSeq
      run(spark, "lex", n, users, reqsPerUser) { seed =>
        val terms = (0 until 3)
          .map(i => termPool(((seed + i * 7) % termPool.size).toInt)).distinct
        lexIndex.search(terms, k = 10).collect()
      }
    }

    if (mode("brute")) {
      val storeDir = graft.fixtures.Fp16Corpus.workRoot + s"/fp16store3072$ftag-n$n"
      if (!new java.io.File(storeDir, "CURRENT").isFile) {
        val fp32 = corpus.select(col("vec_id").cast("string").as("id"),
          graft.functions.fp16_decode(col("emb16")).as("embedding"))
        graft.sync.HighlightStore.writeAtomic(fp32, storeDir, fp16 = true)
      }
      val store = graft.sync.HighlightStore.readWarm(spark, storeDir).get
      val gw = new graft.serve.SearchGateway(
        store, graft.embed.HashNgramEmbedder(dim = 3072))
      run(spark, "brute", n, users, reqsPerUser) { seed =>
        val rows = gw.search(graft.serve.SearchParams(
          query = s"concurrent probe $seed", k = 10)).toList
        require(rows.size == 10)
      }
    }

    spark.stop()
  }

  /** Recall@10 vs exact brute-force cosine over the corpus, printed
    * beside the latency line so the mode ships a recall+latency PAIR
    * (the refine-ladder contract every promoted serving mode carries —
    * SCALE.md r11; the r12 verdict flagged graph serving as
    * latency-only). Queries are the SAME corpus vectors the latency
    * run replays; the oracle is [[graft.similarity.Knn.topK]] over the
    * fp16-decoded corpus (what the index stores — the precision a
    * served request can possibly recover). env: CONC_RECALL_QS
    * (default 20; 0 skips the pass). */
  private def recall10(spark: org.apache.spark.sql.SparkSession,
      corpus: org.apache.spark.sql.DataFrame, n: Long, label: String,
      qvec: Long => Array[Float])(
      search: Array[Float] => Seq[Long]): Unit = {
    val qs = sys.env.getOrElse("CONC_RECALL_QS", "20").toInt
    if (qs == 0) return
    val fp32 = corpus.select(col("vec_id"),
      graft.functions.fp16_decode(col("emb16")).as("embedding"))
    val recalls = (0 until qs).map { i =>
      val qv = qvec(i * 9973L + 17L)
      val exact = graft.similarity.Knn.topK(fp32, "embedding", qv, 10,
        "vec_id").select(col("vec_id")).collect().map(_.getLong(0)).toSet
      exact.intersect(search(qv).toSet).size / 10.0
    }
    val fx = sys.env.getOrElse("CONC_FIXTURE", "uniform")
    println(f"RECALL10|fixture=$fx|mode=$label|qs=$qs|" +
      f"mean=${recalls.sum / recalls.size}%.3f|min=${recalls.min}%.3f")
  }

  /** Warm serially, then drive `users` closed-loop threads, each in its
    * own FAIR pool, measuring per-request wall time. */
  private def run(spark: org.apache.spark.sql.SparkSession, label: String,
      n: Long, users: Int, reqsPerUser: Int)(request: Long => Unit): Unit = {
    (1 to 5).foreach(i => request(i.toLong)) // codegen/cache warmup, unmeasured
    val thinkMs = sys.env.getOrElse("CONC_THINK_MS", "1000").toInt
    val spawnRate = sys.env.getOrElse("CONC_SPAWN_RATE", "2").toDouble
    val lat = new ConcurrentLinkedQueue[Double]()
    val pool = Executors.newFixedThreadPool(users)
    val t0 = System.nanoTime()
    val tasks = (1 to users).map { u =>
      pool.submit(new Runnable {
        def run(): Unit = {
          // locust's spawn ramp: user u starts u/spawnRate seconds in
          Thread.sleep(((u - 1) * 1000 / spawnRate).toLong)
          // one FAIR pool per user: pools share the cluster equally, so a
          // burst from one user cannot convoy the other nineteen
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"user-$u")
          val rng = new java.util.Random(u.toLong) // deterministic think times
          (1 to reqsPerUser).foreach { r =>
            val s = System.nanoTime()
            request(u.toLong * 1000L + r)
            lat.add((System.nanoTime() - s) / 1e6)
            // uniform [0.5·mean, 1.5·mean] — locust's between(0.5, 1.5) s
            if (thinkMs > 0)
              Thread.sleep(thinkMs / 2 + rng.nextInt(thinkMs + 1).toLong)
          }
        }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.MINUTES)
    val wallSec = (System.nanoTime() - t0) / 1e9
    val sorted = lat.asScala.toVector.sorted
    def pct(p: Double) = sorted(((sorted.size - 1) * p).round.toInt)
    val fx = sys.env.getOrElse("CONC_FIXTURE", "uniform")
    println(f"CONCURRENCY3072|fixture=$fx|mode=$label|think=${thinkMs}ms|n=$n|users=$users|reqs=${sorted.size}|" +
      f"wall=$wallSec%.1f s|qps=${sorted.size / wallSec}%.1f|" +
      f"p50=${pct(0.5)}%.0f ms|p95=${pct(0.95)}%.0f ms|p99=${pct(0.99)}%.0f ms")
  }
}
