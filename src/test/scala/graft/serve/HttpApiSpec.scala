package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class HttpApiSpec extends AnyFunSuite {

  private def fakeSearch(p: SearchParams): Iterator[Map[String, Any]] =
    if (p.query == "none") Iterator.empty
    else Iterator.tabulate(math.min(p.k, 2))(i =>
      scala.collection.immutable.ListMap(
        "id" -> s"h$i", "text" -> s"about ${p.query}", "score" -> (0.1 * (i + 1))))

  private def withApi(f: (HttpClient, Int) => Unit): Unit = {
    val api = new HttpApi(fakeSearch).start()
    try f(HttpClient.newHttpClient(), api.boundPort)
    finally api.shutdown()
  }

  private def get(c: HttpClient, port: Int, path: String): HttpResponse[String] =
    c.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(c: HttpClient, port: Int, path: String, body: String): HttpResponse[String] =
    c.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .header("Content-Type", "application/json").build(),
      HttpResponse.BodyHandlers.ofString())

  test("shutdown releases the handler threads instead of idling them for 60 s") {
    // the threads that ran requests belong to the API's executor: after
    // shutdown they must exit promptly, or an idle cached pool keeps the
    // JVM alive for its 60 s keep-alive
    val handlers = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
    val api = new HttpApi({ p =>
      handlers.add(Thread.currentThread()); fakeSearch(p) }).start()
    val c = HttpClient.newHttpClient()
    val codes = (1 to 3).map(_ => post(c, api.boundPort, "/search",
      """{"q":"spark","k":1}""").statusCode())
    assert(codes.forall(_ == 200), codes)
    api.shutdown()
    assert(!handlers.isEmpty)
    handlers.forEach(_.join(5000))
    val alive = handlers.asScala.filter(_.isAlive)
    assert(alive.isEmpty, alive.map(_.getName))
  }

  test("POST /search returns a results envelope") {
    withApi { (c, port) =>
      val r = post(c, port, "/search", """{"q":"spark","k":2}""")
      assert(r.statusCode() == 200)
      assert(r.body().startsWith("""{"results":[{"id":"h0""""))
      val empty = post(c, port, "/search", """{"q":"none"}""")
      assert(empty.body() == """{"results":[]}""")
    }
  }

  test("POST /search validation: missing q → 422; bad JSON → 422; GET → 405; k>100 → 422") {
    withApi { (c, port) =>
      assert(post(c, port, "/search", """{"k":3}""").statusCode() == 422)
      assert(post(c, port, "/search", "{nope").statusCode() == 422)
      assert(get(c, port, "/search").statusCode() == 405)
      // HTTP bound k ∈ [1,100] is a validation error (routes.py:100)
      assert(post(c, port, "/search", """{"q":"x","k":100000}""").statusCode() == 422)
      assert(post(c, port, "/search", """{"q":"x","k":100}""").statusCode() == 200)
    }
  }

  test("GET /mcp/stream delivers SSE events with terminal complete") {
    withApi { (c, port) =>
      val r = get(c, port, "/mcp/stream?q=spark&k=2&tags=a,b")
      assert(r.statusCode() == 200)
      assert(r.headers().firstValue("Content-Type").get() == "text/event-stream")
      val events = r.body().split("\n\n").filter(_.nonEmpty)
      assert(events.length == 3)
      assert(events(0).startsWith("event: result\ndata: {\"id\":\"h0\""))
      assert(events(2) == "event: complete\ndata: {\"total\":2}")
      // missing q → 422
      assert(get(c, port, "/mcp/stream?k=2").statusCode() == 422)
    }
  }

  test("hybrid flag reaches SearchParams from both the POST body and the SSE query param") {
    val echo = (p: SearchParams) => Iterator.single(
      scala.collection.immutable.ListMap[String, Any](
        "id" -> "h0", "hybrid" -> p.hybrid))
    val api = new HttpApi(echo).start()
    try {
      val c = HttpClient.newHttpClient()
      val port = api.boundPort
      assert(post(c, port, "/search", """{"q":"x","hybrid":true}""")
        .body().contains("\"hybrid\":true"))
      assert(post(c, port, "/search", """{"q":"x"}""")
        .body().contains("\"hybrid\":false"))
      // non-boolean junk is the dense default, not an error
      assert(post(c, port, "/search", """{"q":"x","hybrid":"nope"}""")
        .body().contains("\"hybrid\":false"))
      assert(get(c, port, "/mcp/stream?q=x&hybrid=true")
        .body().contains("\"hybrid\":true"))
      assert(get(c, port, "/mcp/stream?q=x")
        .body().contains("\"hybrid\":false"))
    } finally api.shutdown()
  }

  test("mmr λ reaches SearchParams from both the POST body and the SSE query param") {
    val echo = (p: SearchParams) => Iterator.single(
      scala.collection.immutable.ListMap[String, Any](
        "id" -> "h0", "mmr" -> p.mmrLambda.map(_.toString).getOrElse("off")))
    val api = new HttpApi(echo).start()
    try {
      val c = HttpClient.newHttpClient()
      val port = api.boundPort
      assert(post(c, port, "/search", """{"q":"x","mmr":0.3}""")
        .body().contains("\"mmr\":\"0.3\""))
      assert(post(c, port, "/search", """{"q":"x"}""")
        .body().contains("\"mmr\":\"off\""))
      // out-of-range / junk λ is the plain-ranking default, not an error
      assert(post(c, port, "/search", """{"q":"x","mmr":7}""")
        .body().contains("\"mmr\":\"off\""))
      assert(get(c, port, "/mcp/stream?q=x&mmr=0.5")
        .body().contains("\"mmr\":\"0.5\""))
      assert(get(c, port, "/mcp/stream?q=x&mmr=junk")
        .body().contains("\"mmr\":\"off\""))
    } finally api.shutdown()
  }

  test("request metrics: /search moves the labeled HTTP series") {
    withApi { (c, port) =>
      def scrape(): Seq[String] = get(c, port, "/metrics").body().split("\n").toSeq
      def seriesVal(lines: Seq[String], prefix: String): Long =
        lines.find(_.startsWith(prefix)).map(_.split(" ").last.toDouble.toLong)
          .getOrElse(0L)
      val reqSeries = """http_requests_total{handler="/search",method="POST",status="200"}"""
      val durSeries = """http_request_duration_seconds_count{handler="/search"}"""
      val before = scrape()
      assert(post(c, port, "/search", """{"q":"spark","k":1}""").statusCode() == 200)
      assert(post(c, port, "/search", """{"k":3}""").statusCode() == 422)
      val after = scrape()
      // the per-route counter and duration summary both advanced
      assert(seriesVal(after, reqSeries) == seriesVal(before, reqSeries) + 1)
      assert(seriesVal(after, durSeries) >= seriesVal(before, durSeries) + 2)
      // the 422 lands under its own status label
      val rej = """http_requests_total{handler="/search",method="POST",status="422"}"""
      assert(seriesVal(after, rej) >= 1)
      // one TYPE header per metric name even with many label sets
      assert(after.count(_.startsWith("# TYPE http_requests_total ")) == 1)
    }
  }

  test("GET /health ok; /metrics is parseable Prometheus text exposition") {
    withApi { (c, port) =>
      assert(get(c, port, "/health").body() == """{"status":"ok"}""")
      Metrics.counter("rows_synced_total").inc(5)
      Metrics.timer("sync_duration_seconds").observe(0.25)
      val m = get(c, port, "/metrics")
      assert(m.statusCode() == 200)
      assert(m.headers().firstValue("Content-Type").get()
        .startsWith("text/plain; version=0.0.4"))
      val lines = m.body().split("\n").toSeq
      // every non-comment line is `name value` with a numeric value, and
      // every metric line is preceded by HELP/TYPE — i.e. a scraper parses it
      val metricLines = lines.filterNot(_.startsWith("#"))
      assert(metricLines.nonEmpty)
      metricLines.foreach { l =>
        val parts = l.split(" ")
        assert(parts.length == 2 && parts(1).toDoubleOption.isDefined, l)
      }
      assert(lines.exists(_.startsWith("# TYPE rows_synced_total counter")))
      assert(lines.exists(_.startsWith("# TYPE sync_duration_seconds summary")))
      assert(metricLines.exists(_.startsWith("sync_duration_seconds_count ")))
      assert(metricLines.exists(_.startsWith("sync_duration_seconds_sum ")))
      // JSON snapshot remains available for the pre-existing consumers
      val j = c.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/metrics"))
        .header("Accept", "application/json").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(j.statusCode() == 200 && j.body().startsWith("{"))
    }
  }
}
