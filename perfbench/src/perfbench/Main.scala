package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.embed.{Embedder, HashNgramEmbedder}
import graft.sources.{ExportClient, Page}

/** What one run shares across its phases: the session, the seed, the
  * private work directory, failure accounting, the verdict and the
  * metrics it reports. */
final class Env(val spark: SparkSession, val seed: Long, val seconds: Int,
    val cpus: Int, val work: String, val trace: Boolean, val sessionS: Double) {
  val verdict = new Verdict
  private val phases = mutable.ArrayBuffer[Ops]()
  def ops(phase: String): Ops = { val o = new Ops(phase); phases += o; o }
  def attempted: Long = phases.map(_.attempted).sum
  def failed: Long = phases.map(_.failed).sum
  def phaseCounts: Seq[(String, Long, Long)] =
    phases.toSeq.map(o => (o.phase, o.attempted, o.failed))

  val endToEnd = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val notes = mutable.LinkedHashMap[String, Any]()

  /** The serving embedder: OpenAI text-embedding-3-large's dimension over
    * graft's hashed n-gram model. */
  val baseEmbedder: Embedder = HashNgramEmbedder(dim = 3072)
  val embedder: Embedder =
    if (trace) Trace.TracedEmbedder(baseEmbedder) else baseEmbedder

  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getPath
  }

  /** An export client serving `pages` from memory with no pacing. */
  def exportClient(pages: IndexedSeq[String]): ExportClient = {
    val fetch: (String, Map[String, String]) => Page = (_, params) => {
      val i = params.get("pageCursor").map(_.toInt).getOrElse(0)
      Page(pages(i), if (i + 1 < pages.size) Some((i + 1).toString) else None)
    }
    new ExportClient(if (trace) Trace.fetch(fetch) else fetch,
      delayMillis = 0, sleep = _ => ())
  }

  /** Set-up, once, in a fresh directory: its time plus the session start
    * is `setup_s`. */
  def setUp[T](pass: String => T): T = {
    val t0 = System.nanoTime()
    val r = pass(dir("setup"))
    val s = (System.nanoTime() - t0) / 1e9
    Main.log(f"set-up: $s%.2fs")
    endToEnd("setup_s") = sessionS + s
    r
  }

  /** Live heap after a full collection, once Spark's asynchronous
    * clean-ups (superseded cached versions, dropped shuffles) settled. */
  def heapMb(): Double = {
    Thread.sleep(500)
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(200) }
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed / 1e6
  }
}

object Main {
  val Workloads: Map[String, Env => Unit] = Map(
    "search-ann" -> SearchAnn.run,
    "sync-refresh" -> SyncRefresh.run,
    "pipeline-batch" -> PipelineBatch.run)

  /** The end-to-end metrics every workload reports, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "sync_rows_per_s" -> "1/s", "search_p50_ms" -> "ms",
    "recall_at_10" -> "ratio", "work_per_s" -> "1/s",
    "disk_mb" -> "MB", "heap_mb" -> "MB")

  /** The per-layer metrics of the traced run, with their units. A layer a
    * workload does not exercise reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "serve.http_wire_ms" -> "ms", "serve.mcp_wire_ms" -> "ms",
    "serve.resp_kb" -> "KB", "serve.threads_peak" -> "count",
    "gateway.search_ms" -> "ms",
    "embed.query_ms" -> "ms", "embed.rows" -> "count", "embed.busy_s" -> "s",
    "ann.topk_ms" -> "ms", "ann.jobs_per_req" -> "count",
    "ann.tasks_per_req" -> "count", "ann.plan_ms" -> "ms",
    "index.build_s" -> "s", "index.segments" -> "count",
    "index.compactions" -> "count",
    "store.rehydrate_ms" -> "ms", "store.scan_ms" -> "ms",
    "store.resolve_ms" -> "ms", "store.resolve_max_ms" -> "ms",
    "store.reloads" -> "count",
    "sources.pages" -> "count", "sources.fetch_s" -> "s",
    "sync.backfill_s" -> "s", "sync.delta_rows" -> "count",
    "sync.store_write_mb" -> "MB", "sync.refresh_s" -> "s",
    "sync.fresh_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_busy_s" -> "s",
    "spark.sched_delay_ms" -> "ms", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.plan_ms" -> "ms",
    "text.cascade_s" -> "s", "dedup.lsh_s" -> "s", "dedup.semdedup_s" -> "s",
    "ann.knn_join_s" -> "s", "text.export_s" -> "s",
    "dedup.lsh_candidates" -> "count", "dedup.lsh_verified" -> "count",
    "dedup.planted_recall" -> "ratio")

  private val startNs = System.nanoTime()
  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - startNs) / 1e9}%7.2fs $msg")

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def duBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(duBytes).sum).getOrElse(0L)

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    if (args.contains("--self-test")) { RefsCheck.main(Array.empty); return }
    val cpus = arg(args, "--cpus").map(_.toInt).getOrElse(1)
    val speed = mutable.ArrayBuffer[Double]() ++= HostSpeed.probe(cpus, warm = 2, rounds = 4)
    val mainNs = System.nanoTime()
    val refFailures = RefsCheck.failures()
    if (refFailures.nonEmpty) {
      refFailures.foreach(f => System.err.println(s"perfbench: reference self-test failed: $f"))
      sys.exit(2)
    }
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload"))
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(20)
    val trace = arg(args, "--trace").contains("1")
    val work = arg(args, "--work").getOrElse(sys.error("--work"))
    val out = arg(args, "--out").getOrElse(work)

    val spark = graft.GraftSession.init(
      graft.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) Trace.install(spark)
    val env = new Env(spark, seed, seconds, cpus, work, trace,
      (System.nanoTime() - mainNs) / 1e9)
    try run(env)
    catch {
      case e: Throwable =>
        System.err.println(s"perfbench: $workload did not reach its end")
        e.printStackTrace()
        sys.exit(1) // without waiting for the servers' pool threads
    }
    spark.stop()
    speed ++= HostSpeed.probe(cpus, warm = 2, rounds = 4)
    val unitMs = Stats.median(speed.toSeq)
    val metrics: Seq[(String, String)] = if (trace) PerLayer else EndToEnd
    val values = metrics.map { case (name, unit) =>
      val v = (if (trace) env.layers.get(name) else env.endToEnd.get(name))
        .getOrElse(if (trace) 0.0 else sys.error(s"metric $name not measured"))
      name -> Map("value" -> HostSpeed.scale(v, unit, unitMs), "unit" -> unit)
    }
    env.notes ++= Seq("host_unit_ms" -> speed.toSeq, "host_unit_median_ms" -> unitMs)
    val result = scala.collection.immutable.ListMap(
      "correct" -> env.verdict.correct, "attempted" -> env.attempted,
      "failed" -> env.failed,
      "metrics" -> scala.collection.immutable.ListMap(values: _*))
    val report = scala.collection.immutable.ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "phases" -> env.phaseCounts.map { case (p, a, f) =>
        Map("phase" -> p, "attempted" -> a, "failed" -> f) },
      "end_to_end_as_measured" -> env.endToEnd,
      "per_layer_as_measured" -> env.layers,
      "notes" -> env.notes)
    System.err.println("perfbench: report " + Json.write(report))
    if (trace) {
      val base = s"$out/$workload-seed$seed"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base-trace.json"),
        Json.write(report) + "\n")
      Trace.writeSpans(java.nio.file.Paths.get(s"$base-spans.jsonl"))
    }
    println(Json.write(result))
    System.out.flush()
    // HttpApi.shutdown leaves its request executor's idle threads alive
    // for a minute; exit now rather than wait for them
    sys.exit(0)
  }
}
