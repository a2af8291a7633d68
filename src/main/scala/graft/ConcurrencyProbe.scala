package graft

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Serving latency under CONCURRENT load — the reference's gate is
  * P95 < 500 ms for `POST /search` k=10 at 20 concurrent users
  * (BASELINE.md). This probe runs N user threads against one shared
  * SparkSession with the FAIR scheduler, one pool per user, so no
  * single request can convoy the rest behind a FIFO queue.
  * `CONC_MODE=brute CONC_USERS=1 CONC_THINK_MS=0` measures the
  * sequential floor: one user, back-to-back requests.
  *
  * Modes over the same 200 k × 3072-dim fp16 corpus:
  *
  *  - `dense`: the default dense serving mode, IVFADC codes + exact
  *    fp16 refine through [[graft.similarity.Knn.IvfIndex.asDense]].
  *  - `ivf`: requests go through the resident probe that `serve`
  *    runs for a filterless request,
  *    [[graft.similarity.Knn.IvfIndex.servingTopK]] — the centroid
  *    sidecar is driver-resident (loaded once), probe selection is local
  *    arithmetic, and each request is ONE Spark job scoring only
  *    `nprobe/cells` of the corpus over pinned cell blocks. This is
  *    the concurrency dial: per-request work drops ~cells/nprobe×, so
  *    the same 20 users sit far below saturation.
  *  - `filtered` and `routed`: attribute-filtered requests through
  *    [[graft.similarity.Knn.IvfIndex.servingTopKRouted]], the call the
  *    gateway makes for a filtered request, at a plentiful (`filtered`)
  *    and a narrow (`routed`) predicate.
  *  - `brute`: every request runs the gateway's store path through
  *    [[graft.serve.SearchGateway]]: embed → full fp16 store scan →
  *    decode. Each request costs ~5.5 core-sec of
  *    distance math, so 32 cores saturate near 6 qps — 20 closed-loop
  *    users push per-request latency to seconds REGARDLESS of scheduling.
  *    This mode documents graceful saturation, not the gate.
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
  * CONC_REQS per user (default 10), CONC_MODE (comma-separated list of
  * `dense`, `ivf`, `filtered`, `routed`, `brute`, or `both` =
  * dense + ivf + brute; default `both`), CONC_CELLS
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
    // `both` remains the dense+ivf+brute shorthand
    val modes = sys.env.getOrElse("CONC_MODE", "both")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    def mode(m: String): Boolean = modes.contains(m) ||
      (modes.contains("both") &&
        Set("dense", "ivf", "brute").contains(m))
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
        qvec) { qv => fetch().servingTopK(qv, 10, nprobe, None)
          .map(_.getLong(0)).toSeq }
      run(spark, s"ivf(cells=$cellsK,nprobe=$nprobe$tag)", n, users,
        reqsPerUser) { seed =>
          val qv = qvec(seed)
          require(fetch().servingTopK(qv, 10, nprobe, None).length == 10)
      }
    }

    if (mode("filtered")) {
      // attribute-filtered serving (q132's shape under the gate): the
      // cells carry a label attr and every request filters on it through
      // servingTopKRouted, the gateway's filtered call. The equality
      // prices from the build-time attr-stats sidecar (no count job);
      // at CONC_FILTER_MOD=10 the predicate keeps ~10% of each probed
      // cell — selective enough that post-hoc filtering of 10 winners
      // would starve, dense enough that the router takes the pruned
      // probe and it almost never widens: the request stays ONE pruned
      // job with the predicate evaluated inside the scan, so the p95
      // should sit on `ivf` mode's, not above it. `routed` prices the
      // narrow-predicate end.
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
          index.servingTopKRouted(qv, k = 10, nprobe = nprobe,
            col("label") === seed % fmod)
      }
    }

    if (mode("routed")) {
      // the NARROW-predicate case: a predicate matching ~n/nmod ≈ 10
      // rows starves every probe, so servingTopK's unpriced ladder
      // (`routed_ladder`, kept only as the named comparison) burns
      // log₂(cells) widening jobs per request to arrive at the
      // exhaustive scan. servingTopKRouted — the gateway's filtered
      // call — prices the match count and routes STRAIGHT to the pruned
      // scan. Both run here same-phase, so the ladder tax is one
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
