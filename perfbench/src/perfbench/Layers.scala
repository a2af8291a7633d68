package perfbench

/** Per-layer metrics of a traced run, derived from the spans, samples and
  * counter deltas [[Trace]] recorded over a timed phase. */
object Layers {
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** The serving layers over one phase's requests. `clientMs` are the
    * latencies the clients saw for the same requests the gateway served;
    * the wire share is the difference of the two medians. */
  def serving(env: Env, delta: Map[String, Double], clientMs: Seq[Double],
      respBytes: Seq[Double], http: Boolean): Unit = {
    val l = env.layers
    val gw = Trace.samplesOf("gateway.search_ms")
    val requests = math.max(1.0, delta.getOrElse("gateway.requests", 0.0))
    l("gateway.search_ms") = med(gw)
    l(if (http) "serve.http_wire_ms" else "serve.mcp_wire_ms") = med(clientMs) - med(gw)
    l("serve.resp_kb") = Stats.mean(respBytes) / 1e3
    l("embed.query_ms") = med(Trace.samplesOf("embed.query_ms"))
    l("ann.topk_ms") = med(Trace.samplesOf("ann.topk"))
    l("store.rehydrate_ms") = med(Trace.samplesOf("store.rehydrate_ms"))
    l("store.scan_ms") = med(Trace.samplesOf("store.scan_ms"))
    val resolve = Trace.samplesOf("store.resolve")
    l("store.resolve_ms") = med(resolve)
    l("store.resolve_max_ms") = if (resolve.isEmpty) 0.0 else resolve.max
    l("store.reloads") = delta.getOrElse("store.reloads", 0.0)
    l("ann.jobs_per_req") = delta.getOrElse("ann.jobs", 0.0) / requests
    l("ann.tasks_per_req") = delta.getOrElse("ann.tasks", 0.0) / requests
    l("ann.plan_ms") = delta.getOrElse("spark.plan_ms", 0.0) / requests
  }

  /** Spark's counters over a timed phase, per foreground operation. */
  def sparkPerOp(env: Env, delta: Map[String, Double], ops: Double): Unit =
    Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_busy_s",
      "spark.sched_delay_ms", "spark.shuffle_write_mb", "spark.spill_mb",
      "spark.plan_ms").foreach { k =>
      env.layers(k) = delta.getOrElse(k, 0.0) / math.max(1.0, ops)
    }

  /** Ingest counters of the set-up. */
  def setupCounts(env: Env, afterSetup: Map[String, Double]): Unit =
    Seq("embed.rows", "embed.busy_s", "sources.pages", "sources.fetch_s").foreach { k =>
      env.layers(k) = afterSetup.getOrElse(k, 0.0)
    }

  /** Counter deltas between two snapshots. */
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}
