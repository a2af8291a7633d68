package graft.serve

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

/** MCP JSON-RPC 2.0 search server over TCP/NDJSON (reference:
  * readwise_vector_db/mcp/server.py). JVM-idiomatic rendition: blocking
  * sockets + a cached thread pool instead of asyncio; identical protocol
  * behavior —
  *  - only the `search` method is dispatched (else -32601);
  *  - missing params / bad `q` → -32602;
  *  - one JSON-RPC response per result row, `id` echoed as a string
  *    ("null" when the request had none), empty result set → single `[]`;
  *  - framing errors → -32700, protocol errors → -32600 (null id),
  *    internal errors → -32603 with the cause's message as `data`;
  *  - graceful shutdown: stop accepting, then close in-flight connections
  *    after a drain timeout (server.py:231-294).
  *
  * The search function is injected so the protocol layer stays decoupled
  * from Spark: it receives validated [[SearchParams]] and returns the
  * result rows (each already shaped as id/text/score — server.py:117-121).
  */
final class McpServer(
    searchFn: SearchParams => Iterator[Map[String, Any]],
    port: Int = 0,
    maxLineLength: Int = McpFraming.DefaultMaxLineLength) {

  private val server = new ServerSocket(port)
  private val pool = Executors.newCachedThreadPool()
  private val active = ConcurrentHashMap.newKeySet[Socket]()
  @volatile private var running = true
  private val stopped = new CountDownLatch(1)

  /** Bound port (useful with port=0 ephemeral binding). */
  def boundPort: Int = server.getLocalPort

  /** Start the accept loop on a daemon thread; returns immediately. */
  def start(): McpServer = {
    val t = new Thread(() => acceptLoop(), s"mcp-accept-$boundPort")
    t.setDaemon(true)
    t.start()
    this
  }

  private def acceptLoop(): Unit = {
    try {
      while (running) {
        val sock = server.accept()
        active.add(sock)
        pool.execute(() => {
          try handleClient(sock)
          finally {
            active.remove(sock)
            try sock.close() catch { case NonFatal(_) => () }
          }
        })
      }
    } catch {
      case _: SocketException => () // closed during shutdown
      case NonFatal(_) => ()
    } finally stopped.countDown()
  }

  private[serve] def handleClient(sock: Socket): Unit = {
    val in = new BufferedReader(
      new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
    val out = new BufferedWriter(
      new OutputStreamWriter(sock.getOutputStream, StandardCharsets.UTF_8))
    var requestId: Option[Any] = None
    try {
      McpFraming.read(in, maxLineLength) match {
        case None => // connection closed before a request arrived: no
                     // JSON-RPC request was serviced, so no request metric
        case Some(request) =>
          requestId = request.id
          // reference surface exports request series for the HTTP plane
          // (api/routes.py:224-247); the MCP TCP plane gets the analogous
          // pair — counted/timed per JSON-RPC request serviced, not per
          // TCP connection (a connection that closes before sending a
          // request is not a request, and duration covers request
          // servicing, not connection lifetime)
          Metrics.timer("mcp_request_duration_seconds").time {
            Metrics.counter("mcp_requests_total").inc()
            handleRequest(sock, out, request)
          }
      }
    } catch {
      case e: McpFramingException =>
        tryWrite(out, McpFraming.errorResponse(
          JsonRpcErrorCodes.ParseError, e.getMessage))
      case e: McpProtocolException =>
        tryWrite(out, McpFraming.errorResponse(
          JsonRpcErrorCodes.InvalidRequest, e.getMessage))
      case NonFatal(e) =>
        // the cause rides as error.data: a client must be able to tell a
        // failed index read from a bad query without the server's log
        tryWrite(out, McpFraming.errorResponse(
          JsonRpcErrorCodes.InternalError, "Internal server error", requestId,
          data = Some(Option(e.getMessage).getOrElse(e.getClass.getName))))
    }
  }

  private def handleRequest(sock: Socket, out: BufferedWriter,
      request: McpMessage): Unit = {
          if (!request.method.contains("search")) {
            McpFraming.write(out, McpFraming.errorResponse(
              JsonRpcErrorCodes.MethodNotFound,
              s"Method not supported: ${request.method.orNull}", request.id))
          } else if (request.params.isEmpty) {
            McpFraming.write(out, McpFraming.errorResponse(
              JsonRpcErrorCodes.InvalidParams,
              "Missing or invalid 'q' parameter", request.id))
          } else SearchParams.fromMcp(request.params.get) match {
            case Left(err) =>
              McpFraming.write(out, McpFraming.errorResponse(
                JsonRpcErrorCodes.InvalidParams, err, request.id))
            case Right(params) =>
              // id echoed as string, "null" when absent (server.py:124-128)
              val echoId = request.id.map(_.toString).getOrElse("null")
              var sent = 0
              val rows = searchFn(params)
              while (rows.hasNext && !sock.isClosed) {
                // per-result wire payload is {id, text, score}
                // (server.py:117-121), not the full row dict
                val row = rows.next()
                val payload = ListMap(
                  "id" -> row.get("id").orNull,
                  "text" -> row.get("text").orNull,
                  "score" -> row.get("score").orNull)
                McpFraming.write(out, McpFraming.response(payload, echoId))
                sent += 1
              }
              if (sent == 0)
                McpFraming.write(out, McpFraming.response(Seq.empty, echoId))
          }
  }

  private def tryWrite(out: BufferedWriter, msg: McpMessage): Unit =
    try McpFraming.write(out, msg) catch { case NonFatal(_) => () }

  /** Graceful shutdown: stop accepting, give in-flight connections
    * `drainMillis` to finish, then force-close them. */
  def shutdown(drainMillis: Long = 5000): Unit = {
    running = false
    try server.close() catch { case NonFatal(_) => () }
    stopped.await(drainMillis, TimeUnit.MILLISECONDS)
    pool.shutdown()
    if (!pool.awaitTermination(drainMillis, TimeUnit.MILLISECONDS)) {
      active.forEach(s => try s.close() catch { case NonFatal(_) => () })
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.SECONDS)
    }
  }
}

/** Liveness probe (reference: GET /health, api/routes.py:76-94 — a
  * `SELECT 1` connectivity check). */
object Health {
  def check(spark: org.apache.spark.sql.SparkSession): Map[String, Any] =
    try {
      val one = spark.sql("SELECT 1").collect()(0).getInt(0)
      if (one == 1) ListMap("status" -> "ok")
      else ListMap("status" -> "error", "detail" -> "unexpected result")
    } catch {
      case NonFatal(e) => ListMap("status" -> "error", "detail" -> e.getMessage)
    }
}
