package graft.serve

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** HTTP serving protocol (reference: readwise_vector_db/api/routes.py) on
  * the JDK's built-in server — no framework dependency:
  *
  *  - `POST /search` — JSON body {q, k, source_type, author, tags,
  *    highlighted_at_range} → `{"results": [...]}` (routes.py:161-219);
  *  - `GET /mcp/stream?q=...&k=...&tags=a,b&from_date=...&to_date=...` —
  *    SSE result/complete/error events (routes.py:96-159);
  *  - `GET /health` — `{"status":"ok"}` / 503 (routes.py:76-94);
  *  - `GET /metrics` — flat JSON counter/timer exposition (routes.py:224-247).
  *
  * Search execution is injected (same seam as [[McpServer]]).
  */
final class HttpApi(
    searchFn: SearchParams => Iterator[Map[String, Any]],
    healthFn: () => Map[String, Any] = () => Map("status" -> "ok"),
    port: Int = 0) {

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  private val executor = java.util.concurrent.Executors.newCachedThreadPool()
  server.setExecutor(executor)

  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, contentType: String,
      body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, body.length)
    val os = ex.getResponseBody
    os.write(body)
    os.close()
  }

  private def respondJson(ex: HttpExchange, code: Int, value: Any): Unit =
    respond(ex, code, "application/json",
      Json.write(value).getBytes(StandardCharsets.UTF_8))

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map(_.split("&").toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(k ->
          java.net.URLDecoder.decode(v, StandardCharsets.UTF_8))
        case _ => None
      }
    }.toMap).getOrElse(Map.empty)

  /** JDK HttpServer contexts match by prefix — guard to exact-path
    * semantics so /healthz or /searchanything 404 like a router would.
    * Every request is instrumented (reference: Instrumentator's
    * `http_requests_total{handler,method,status}` counter and per-handler
    * duration summary, api/routes.py:224-247) — the series a scraper
    * watches to enforce the reference's own P95 < 500 ms search gate. */
  private def exact(path: String)(handler: HttpExchange => Unit)
      : com.sun.net.httpserver.HttpHandler = (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    try {
      if (ex.getRequestURI.getPath != path)
        respondJson(ex, 404, Map("detail" -> "Not Found"))
      else
        try handler(ex)
        catch {
          // a handler that throws before responding would otherwise leave
          // the connection unanswered and the status label "-1" — answer
          // 500 here (no-op if headers were already sent: sendResponseHeaders
          // throws and the real status stands for the metric below)
          case NonFatal(e) =>
            try respondJson(ex, 500,
              Map("detail" -> Option(e.getMessage).getOrElse(
                e.getClass.getSimpleName)))
            catch { case NonFatal(_) => () }
        }
    } finally {
      Metrics.timer("http_request_duration_seconds", "handler" -> path)
        .observe((System.nanoTime() - t0) / 1e9)
      Metrics.counter("http_requests_total", "handler" -> path,
        "method" -> ex.getRequestMethod,
        "status" -> ex.getResponseCode.toString).inc()
    }
  }

  server.createContext("/health", exact("/health") { ex =>
    val h = healthFn()
    respondJson(ex, if (h.get("status").contains("ok")) 200 else 503, h)
  })

  server.createContext("/metrics", exact("/metrics") { ex =>
    // Prometheus text exposition by default (what a scraper expects —
    // reference exposes prometheus_client format here); the pre-existing
    // JSON snapshot stays available behind Accept: application/json
    val wantsJson = Option(ex.getRequestHeaders.getFirst("Accept"))
      .exists(_.contains("application/json"))
    if (wantsJson) respondJson(ex, 200, Metrics.snapshot)
    else respond(ex, 200, "text/plain; version=0.0.4; charset=utf-8",
      Metrics.prometheusExposition.getBytes(StandardCharsets.UTF_8))
  })

  server.createContext("/search", exact("/search") { ex =>
    try {
      if (ex.getRequestMethod != "POST")
        respondJson(ex, 405, Map("detail" -> "Method Not Allowed"))
      else {
        val body = new String(ex.getRequestBody.readAllBytes(),
          StandardCharsets.UTF_8)
        val parsed =
          try Right(Json.parseObject(body))
          catch { case NonFatal(e) => Left(e.getMessage) }
        // HTTP k contract: integral (floats with a fractional part are a
        // type error, pydantic-style) and within [1, 100]; violations are
        // 422, not silent clamps/defaults (api/routes.py:100)
        val kError = parsed.toOption.flatMap(_.get("k")).flatMap {
          case n: Long if n >= 1 && n <= SearchParams.MaxK => None
          case _: Long => Some(s"k must be in [1, ${SearchParams.MaxK}]")
          case d: Double if d.isWhole &&
            d >= 1 && d <= SearchParams.MaxK => None
          case _ => Some("k must be an integer in [1, " +
            s"${SearchParams.MaxK}]")
        }
        (parsed.flatMap(SearchParams.fromMcp), kError) match {
          case (Left(err), _) =>
            // FastAPI's 422 validation-error shape (routes.py contract)
            respondJson(ex, 422, Map("detail" -> err))
          case (_, Some(err)) =>
            respondJson(ex, 422, Map("detail" -> err))
          case (Right(params), None) =>
            val results = searchFn(params).toSeq
            respondJson(ex, 200, ListMap("results" -> results))
        }
      }
    } catch {
      case NonFatal(e) => respondJson(ex, 500, Map("detail" -> e.getMessage))
    }
  })

  server.createContext("/mcp/stream", exact("/mcp/stream") { ex =>
    val p = queryParams(ex)
    SearchParams.fromHttp(
      query = p.getOrElse("q", ""),
      k = p.get("k").flatMap(_.toIntOption).getOrElse(SearchParams.DefaultK),
      sourceType = p.get("source_type"),
      author = p.get("author"),
      tagsCsv = p.get("tags"),
      fromDate = p.get("from_date"),
      toDate = p.get("to_date"),
      hybrid = p.get("hybrid"),
      mmr = p.get("mmr")) match {
      case Left(err) => respondJson(ex, 422, Map("detail" -> err))
      case Right(params) =>
        ex.getResponseHeaders.set("Content-Type", "text/event-stream")
        ex.getResponseHeaders.set("Cache-Control", "no-cache")
        ex.sendResponseHeaders(200, 0) // chunked
        val os: OutputStream = ex.getResponseBody
        try {
          val events = SseFraming.stream(searchFn(params))
          // the result iterator is lazy — a search failure can surface on
          // any next(); emit the error event (routes.py:63-66) rather than
          // letting it masquerade as a disconnect
          var done = false
          while (!done) {
            val next =
              try { if (events.hasNext) Some(events.next()) else { done = true; None } }
              catch {
                case e: java.io.IOException => throw e // transport: rethrow
                case NonFatal(e) => done = true
                  Some(SseFraming.errorEvent(
                    Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
              }
            next.foreach { e =>
              os.write(e.getBytes(StandardCharsets.UTF_8))
              os.flush() // per-event flush = streaming delivery
            }
          }
        } catch {
          case _: java.io.IOException => () // client went away mid-stream
        } finally os.close()
    }
  })

  def start(): HttpApi = { server.start(); this }
  /** Stop the server, then its handler pool — as [[McpServer.shutdown]]
    * does — so idle handler threads do not keep the JVM alive. */
  def shutdown(): Unit = { server.stop(0); executor.shutdown() }
}
