package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.embed.Embedder
import graft.serve.SearchParams
import graft.similarity.Knn.DenseIndex

/** The traced mode: spans and counts recorded around the seams the program
  * already exposes, from the benchmark's own code. With tracing off none
  * of these wrappers is installed and the program runs as it is served.
  * Spans stay in memory and are written out when the run ends. */
object Trace {
  @volatile var on = false

  private val sums = new ConcurrentHashMap[String, DoubleAdder]
  private val samples = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]

  def add(name: String, v: Double): Unit =
    if (on) sums.computeIfAbsent(name, _ => new DoubleAdder).add(v)
  def sample(name: String, v: Double): Unit =
    if (on) samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]).add(v)
  def samplesOf(name: String): Seq[Double] =
    Option(samples.get(name)).map(_.asScala.toSeq).getOrElse(Nil)
  def resetSamples(): Unit = samples.clear()

  // ---- spans: name, request, start and end; the request's spans share
  //      its id (0 = not inside a request)
  final case class Span(name: String, req: Long, startNs: Long, endNs: Long)
  private val spans = new ConcurrentLinkedQueue[Span]
  private val spanCount = new AtomicLong
  private val MaxSpans = 400000L

  private def record(name: String, t0: Long, t1: Long): Unit =
    if (spanCount.incrementAndGet() <= MaxSpans)
      spans.add(Span(name, Option(current.get).map(_.id).getOrElse(0L), t0, t1))

  /** Time `f` as span `name`, adding its milliseconds to sample `name`. */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        record(name, t0, t1)
        val ms = (t1 - t0) / 1e6
        sample(name, ms)
        Option(current.get).foreach(_.add(name, ms))
      }
    }

  // ---- per-request context: the request's child-span time by name
  final class Req(val id: Long) {
    val ms = new java.util.HashMap[String, Double]
    def add(name: String, v: Double): Unit = ms.merge(name, v, _ + _)
    def get(name: String): Double = ms.getOrDefault(name, 0.0)
  }
  private val reqIds = new AtomicLong
  private val current = new ThreadLocal[Req]
  val ReqProperty = "perfbench.req"

  /** The gateway call as one request: child spans (embed, resolve, top-k)
    * recorded on this thread attribute to it, and so do the Spark jobs it
    * submits. The store's share is what the gateway spent outside the
    * embedder, the handle and the index: rehydrating the winners for an
    * index-served request, the scan for a store-served one. */
  def request(spark: SparkSession, search: SearchParams => Iterator[Map[String, Any]])
      : SearchParams => Iterator[Map[String, Any]] = params => {
    val req = new Req(reqIds.incrementAndGet())
    current.set(req)
    val sc = spark.sparkContext
    sc.setLocalProperty(ReqProperty, req.id.toString)
    try {
      val t0 = System.nanoTime()
      val rows = search(params).toVector
      val t1 = System.nanoTime()
      record("gateway.search", t0, t1)
      val gw = (t1 - t0) / 1e6
      sample("gateway.search_ms", gw)
      val rest = gw - req.get("embed.query") - req.get("store.resolve")
      if (req.ms.containsKey("ann.topk"))
        sample("store.rehydrate_ms", rest - req.get("ann.topk"))
      else sample("store.scan_ms", rest)
      add("gateway.requests", 1)
      rows.iterator
    } finally {
      sc.setLocalProperty(ReqProperty, null)
      current.remove()
    }
  }

  /** The embedder handed to `Sync` and `SearchGateway`. On executors it
    * runs as a deserialized copy in this JVM, and counts into the same
    * totals. */
  final case class TracedEmbedder(inner: Embedder) extends Embedder {
    def dim: Int = inner.dim
    def embed(text: String): Array[Float] = {
      val t0 = System.nanoTime()
      val v = inner.embed(text)
      val dt = System.nanoTime() - t0
      Option(current.get) match {
        case Some(r) =>
          r.add("embed.query", dt / 1e6)
          sample("embed.query_ms", dt / 1e6)
        case None =>
          add("embed.rows", 1)
          add("embed.busy_s", dt / 1e9)
      }
      v
    }
  }

  /** The dense index between the gateway and the probe. */
  def denseIndex(inner: DenseIndex): DenseIndex = new DenseIndex {
    def attrColumns: Seq[String] = inner.attrColumns
    def servingTopK(queryVec: Array[Float], k: Int, nprobe: Int,
        filter: Option[Column]): Array[Row] =
      span("ann.topk")(inner.servingTopK(queryVec, k, nprobe, filter))
    override def servingTopKRouted(queryVec: Array[Float], k: Int, nprobe: Int,
        filter: Column): Array[Row] =
      span("ann.topk")(inner.servingTopKRouted(queryVec, k, nprobe, filter))
  }

  /** The store-handle function; `generation` tells a reload apart. */
  def storeHandle(get: () => DataFrame, generation: () => String): () => DataFrame =
    () => {
      val before = generation()
      val df = span("store.resolve")(get())
      if (generation() != before) add("store.reloads", 1)
      df
    }

  /** The export client's page fetch. */
  def fetch(inner: (String, Map[String, String]) => graft.sources.Page)
      : (String, Map[String, String]) => graft.sources.Page = (path, params) => {
    val t0 = System.nanoTime()
    val p = inner(path, params)
    add("sources.pages", 1)
    add("sources.fetch_s", (System.nanoTime() - t0) / 1e9)
    p
  }

  // ---- Spark: one listener for jobs, stages and tasks, one for planning
  final class SparkCounters extends SparkListener {
    private val stageReq = new ConcurrentHashMap[Int, String]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("spark.jobs", 1)
      Option(e.properties).flatMap(p => Option(p.getProperty(ReqProperty)))
        .foreach { r =>
          add("ann.jobs", 1)
          e.stageIds.foreach(s => stageReq.put(s, r))
        }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      if (stageReq.containsKey(e.stageId)) add("ann.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task_busy_s", m.executorRunTime / 1e3)
        add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        val info = e.taskInfo
        if (info != null && info.finished) {
          val delay = info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime
          add("spark.sched_delay_ms", math.max(0L, delay).toDouble)
        }
      }
    }
  }

  final class PlanTimes extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      add("spark.plan_ms", Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(spark: SparkSession): Unit = {
    on = true
    spark.sparkContext.addSparkListener(new SparkCounters)
    spark.listenerManager.register(new PlanTimes)
  }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(spark: SparkSession): Unit =
    if (on) {
      // a no-op job, then a short settle: the bus is asynchronous
      spark.sparkContext.parallelize(Seq(1), 1).count()
      Thread.sleep(300)
    }

  def snapshot(): Map[String, Double] =
    sums.asScala.map { case (k, v) => k -> v.sum }.toMap

  /** Write the spans as JSON lines, one per span. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      w.write(s"""{"name":"${s.name}","req":${s.req},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}
