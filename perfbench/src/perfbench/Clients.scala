package perfbench

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.net.{InetSocketAddress, Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

/** One search response as the client saw it: (id, score) rows in order. */
final case class Resp(rows: Vector[(String, Double)], bytes: Int)

/** One timed request: what was sent, when, and what came back (None when
  * the request failed; a failed request never enters a latency sample). */
final case class Sample(query: Query, dueNs: Long, sentNs: Long, doneNs: Long,
    resp: Option[Resp]) {
  def latencyMs: Double = (doneNs - sentNs) / 1e6
  def fromDueMs: Double = (doneNs - dueNs) / 1e6
  def lateMs: Double = (sentNs - dueNs) / 1e6
}

/** A search request: text, k and the optional filters, as MCP params. */
final case class Query(q: String, k: Int, sourceType: Option[String] = None,
    tags: Option[Seq[String]] = None,
    range: Option[(java.time.LocalDate, java.time.LocalDate)] = None) {
  def params: Map[String, Any] = Map("q" -> q, "k" -> k) ++
    sourceType.map("source_type" -> _) ++ tags.map("tags" -> _) ++
    range.map { case (f, t) => "highlighted_at_range" -> Seq(f.toString, t.toString) }
}

/** `POST /search` over one keep-alive HTTP/1.1 connection per client. */
final class HttpSearch(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val uri = URI.create(s"http://127.0.0.1:$port/search")

  def search(q: Query): Resp = {
    val req = HttpRequest.newBuilder(uri)
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(Json.write(q.params)))
      .build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (r.statusCode != 200)
      throw new IllegalStateException(s"HTTP ${r.statusCode}: ${r.body.take(200)}")
    val rows = Json.read(r.body).get("results").elements().asScala.toVector
      .map(m => (m.get("id").asText, m.get("score").asDouble))
    Resp(rows, r.body.getBytes(StandardCharsets.UTF_8).length)
  }
}

/** One MCP JSON-RPC `search` over its own TCP connection (the server
  * answers one request per connection, one line per result row). */
final class McpSearch(port: Int) {
  private val ids = new java.util.concurrent.atomic.AtomicLong

  def search(q: Query): Resp = {
    val sock = new Socket()
    try {
      sock.connect(new InetSocketAddress("127.0.0.1", port), 5000)
      sock.setSoTimeout(60000)
      val id = ids.incrementAndGet()
      val out = new OutputStreamWriter(sock.getOutputStream, StandardCharsets.UTF_8)
      out.write(Json.write(Map("jsonrpc" -> "2.0", "method" -> "search",
        "params" -> q.params, "id" -> id)) + "\n")
      out.flush()
      val in = new BufferedReader(
        new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
      val rows = Vector.newBuilder[(String, Double)]
      var bytes = 0
      var line = in.readLine()
      while (line != null) {
        bytes += line.length + 1
        val m = Json.read(line)
        if (m.has("error")) throw new IllegalStateException(s"MCP error: $line")
        if (m.path("id").asText != id.toString)
          throw new IllegalStateException(s"MCP id ${m.get("id")} for request $id")
        val r = m.path("result")
        if (r.isObject) rows += ((r.get("id").asText, r.get("score").asDouble))
        else if (!(r.isArray && r.isEmpty)) // [] is the empty result set
          throw new IllegalStateException(s"MCP result $r")
        line = in.readLine()
      }
      Resp(rows.result(), bytes)
    } finally sock.close()
  }
}

/** Load generators. Every one uses at most `clients` threads, each with
  * at most one connection open. */
object Load {

  private def timed(q: Query, due: Long, send: Query => Resp,
      ops: Ops): Sample = {
    val sent = System.nanoTime()
    val r = ops.attempt(s"search '${q.q.take(40)}'")(send(q))
    Sample(q, due, sent, System.nanoTime(), r)
  }

  /** Closed loop: each client sends its next request as soon as the
    * previous one returned. Runs until `deadlineNs` or until
    * `maxRequests` were sent. */
  def closedLoop(clients: Int, deadlineNs: Long, maxRequests: Int,
      next: Int => Query, send: Int => Query => Resp,
      ops: Ops): Vector[Sample] = {
    val out = new ConcurrentLinkedQueue[Sample]
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var n = counter.getAndIncrement()
        while (System.nanoTime() < deadlineNs && n < maxRequests) {
          val now = System.nanoTime()
          out.add(timed(next(n), now, send(c), ops))
          n = counter.getAndIncrement()
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    out.asScala.toVector.sortBy(_.sentNs)
  }

  /** Open loop: request i is due at `startNs + i / rate` whether or not
    * earlier ones returned; a pool of `clients` threads sends them, so a
    * stall delays later requests and their latency counts from when they
    * were due. */
  final class OpenLoop(clients: Int, send: Query => Resp, ops: Ops) {
    private val pool = Executors.newFixedThreadPool(clients)
    val samples = new ConcurrentLinkedQueue[Sample]

    /** Schedule `count` requests from now at `rate` per second; returns a
      * latch that opens when all of them completed. */
    def burst(count: Int, rate: Double, next: Int => Query): CountDownLatch = {
      val done = new CountDownLatch(count)
      val start = System.nanoTime()
      val dispatcher = new Thread(() => {
        (0 until count).foreach { i =>
          val due = start + (i * 1e9 / rate).toLong
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
          val q = next(i)
          pool.execute(() => {
            try samples.add(timed(q, due, send, ops)) finally done.countDown()
          })
        }
      }, "perfbench-open-loop")
      dispatcher.start()
      done
    }

    def shutdown(): Unit = {
      pool.shutdown()
      pool.awaitTermination(60, TimeUnit.SECONDS)
    }
  }
}
