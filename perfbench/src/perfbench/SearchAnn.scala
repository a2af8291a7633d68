package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, crc32, lit}

import graft.similarity.Knn
import graft.sync.{HighlightStore, Sync}

/** `search-ann`: the reference's gated query path served the default way.
  * Set-up syncs a generated Readwise export into an fp16 store and builds
  * the IVFADC index with its fp16 refine payload (`serve --pq-index`).
  * Then filterless `POST /search` k=10 requests, every query text new,
  * from `nproc` clients with no think time. */
object SearchAnn {
  val Highlights = 500
  val Books = 50
  val PerPage = 200
  val Cells = 16
  val PqM = 8
  val PqKsub = 16
  val Refine = 64
  val Nprobe = 4
  val K = 10
  /** Untimed requests per client before the timed loop. Catalyst and
    * the scheduler keep warming for many requests (a request costs about
    * half as much after 100 as on the first), so the warm-up is a count,
    * not a time: the timed loop then starts at the same point of that
    * curve on a slow host as on a fast one. */
  val WarmupPerClient = 8

  def run(env: Env): Unit = {
    val spark = env.spark
    val gen = new Gen(env.seed)
    val hs = gen.highlights(Highlights, Books)
    val pages = Gen.exportPages(hs, gen.bookCategory, PerPage)
    val texts = hs.map(_.text).toSet
    val queries: IndexedSeq[Query] = {
      val seen = mutable.LinkedHashSet[String]()
      while (seen.size < 20000) {
        val t = gen.text(gen.nextInt(gen.topics.size), 3 + gen.nextInt(5), 0.8)
        if (!texts(t)) seen += t
      }
      seen.toIndexedSeq.map(Query(_, K))
    }

    var backfillS, buildS = 0.0
    val dir = env.setUp { d =>
      val t0 = System.nanoTime()
      val n = Sync.backfill(spark, env.exportClient(pages), s"$d/store",
        s"$d/ckpt", env.embedder, fp16 = true)
      val t1 = System.nanoTime()
      env.verdict.check(n == Highlights, s"backfill synced $n of $Highlights")
      Knn.ivfPqBuildIndex(HighlightStore.read(spark, s"$d/store").get,
        "embedding", "id", s"$d/pq", cells = Cells, m = PqM, ksub = PqKsub,
        iters = 1, trainFilter = crc32(col("id")) % 5 === 0,
        pqTrainFilter = lit(true), refine = true)
      backfillS = (t1 - t0) / 1e9
      buildS = (System.nanoTime() - t1) / 1e9
      Main.log(f"backfill $backfillS%.2fs, index build $buildS%.2fs")
      d
    }
    val afterSetup = Trace.snapshot()
    env.endToEnd("sync_rows_per_s") = Highlights / backfillS

    val storeDir = s"$dir/store"
    val pq = Knn.IvfPqIndex.reloading(spark, s"$dir/pq")
    val server = new Server(env, storeDir, Some(() => pq.get.asDense(Refine)), Nprobe,
      env.embedder)
    val corpus = Serving.readStore(env, storeDir).corpus
    env.verdict.check(corpus.ids.toSet == hs.map(_.id.toString).toSet,
      "store ids differ from the synced export")
    val ops = env.ops("search")
    val clients = Array.fill(env.cpus)(new HttpSearch(server.http.boundPort))
    val qi = new java.util.concurrent.atomic.AtomicInteger
    def nextQuery(i: Int): Query = queries(qi.getAndIncrement() % queries.size)

    Main.log("serving")
    // warm-up: not timed, not counted
    Load.closedLoop(env.cpus, Long.MaxValue, WarmupPerClient * env.cpus, nextQuery,
      c => clients(c).search, new Ops("warm-up"))
    Trace.drain(spark)
    val before = Trace.snapshot()
    Trace.resetSamples()

    // closed loop, every client busy: latency and throughput together
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    threads.resetPeakThreadCount()
    val t0 = System.nanoTime()
    val timed = Load.closedLoop(env.cpus, t0 + env.seconds * 1000000000L,
      Int.MaxValue, nextQuery, c => clients(c).search, ops)
    val wall = (System.nanoTime() - t0) / 1e9
    val peakThreads = threads.getPeakThreadCount
    Trace.drain(spark)
    val delta = Layers.delta(Trace.snapshot(), before)
    val heap = env.heapMb()
    server.stop()

    Main.log(s"checking ${timed.size} responses")
    val served = timed.filter(_.resp.isDefined)
    val lat = served.map(_.latencyMs)
    env.endToEnd("search_p50_ms") = Stats.median(lat)
    env.notes("search_p95_ms") = Stats.percentile(lat, 95)
    env.endToEnd("work_per_s") = served.size / wall
    val recalls = served.map(s => Serving.check(env, s"search '${s.query.q}'",
      s.resp.get.rows, env.baseEmbedder.embed(s.query.q), corpus, K))
    env.endToEnd("recall_at_10") = Stats.mean(recalls)
    env.endToEnd("disk_mb") = (Main.duBytes(new java.io.File(storeDir)) +
      Main.duBytes(new java.io.File(s"$dir/pq"))) / 1e6
    env.endToEnd("heap_mb") = heap
    env.notes ++= Seq("samples" -> lat.size, "recall_floor" -> RecallFloor)
    env.verdict.check(env.endToEnd("recall_at_10") >= RecallFloor,
      s"recall_at_10 ${env.endToEnd("recall_at_10")} below the floor $RecallFloor")

    if (env.trace) {
      Layers.serving(env, delta, lat, served.map(_.resp.get.bytes.toDouble), http = true)
      env.layers("serve.threads_peak") = peakThreads
      env.layers("sync.backfill_s") = backfillS
      env.layers("index.build_s") = buildS
      Layers.sparkPerOp(env, delta, served.size)
      Layers.setupCounts(env, afterSetup)
    }
  }

  /** Lowest acceptable mean recall@10 of the served answers. */
  val RecallFloor = 0.35
}
