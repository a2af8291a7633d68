package graft.serve

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end TCP test of the MCP server with a stubbed search function
  * (protocol behavior mirrors readwise_vector_db/tests/test_mcp_server.py). */
class McpServerSpec extends AnyFunSuite {

  private def fakeSearch(params: SearchParams): Iterator[Map[String, Any]] =
    if (params.query == "empty") Iterator.empty
    else if (params.query == "boom") throw new RuntimeException("kaput")
    else if (params.query == "mode") Iterator.single(
      scala.collection.immutable.ListMap[String, Any](
        "id" -> "h0", "text" -> s"hybrid=${params.hybrid}", "score" -> 0.1))
    else Iterator.tabulate(math.min(params.k, 3))(i =>
      scala.collection.immutable.ListMap(
        "id" -> s"h$i", "text" -> s"text $i about ${params.query}",
        "score" -> (0.1 * (i + 1))))

  private def withServer(f: Int => Unit): Unit = {
    val server = new McpServer(fakeSearch).start()
    try f(server.boundPort) finally server.shutdown(drainMillis = 1000)
  }

  private def talk(port: Int, lines: String*): List[String] = {
    val sock = new Socket("127.0.0.1", port)
    try {
      val out = new BufferedWriter(new OutputStreamWriter(
        sock.getOutputStream, StandardCharsets.UTF_8))
      val in = new BufferedReader(new InputStreamReader(
        sock.getInputStream, StandardCharsets.UTF_8))
      lines.foreach { l => out.write(l); out.write("\n"); out.flush() }
      sock.shutdownOutput()
      Iterator.continually(in.readLine()).takeWhile(_ != null).toList
    } finally sock.close()
  }

  test("streams one JSON-RPC response per result with echoed string id") {
    withServer { port =>
      val replies = talk(port,
        """{"jsonrpc":"2.0","method":"search","params":{"q":"spark","k":2},"id":42}""")
      assert(replies.length == 2)
      val first = McpFraming.parseLine(replies.head)
      assert(first.id.contains("42")) // echoed as string (server.py:124-128)
      val row = first.result.get.asInstanceOf[Map[String, Any]]
      assert(row("id") == "h0" && row("score") == 0.1)
    }
  }

  test("no results → single empty-array response; id 'null' when absent") {
    withServer { port =>
      val replies = talk(port,
        """{"jsonrpc":"2.0","method":"search","params":{"q":"empty"}}""")
      assert(replies.length == 1)
      val m = McpFraming.parseLine(replies.head)
      assert(m.id.contains("null"))
      assert(m.result.get == Seq.empty)
    }
  }

  test("hybrid param flows through MCP params; absent/junk stays dense") {
    withServer { port =>
      def modeOf(paramsJson: String): String = {
        val replies = talk(port,
          s"""{"jsonrpc":"2.0","method":"search","params":$paramsJson,"id":1}""")
        val row = McpFraming.parseLine(replies.head)
          .result.get.asInstanceOf[Map[String, Any]]
        // per-result MCP payload is pruned to {id, text, score}, so the
        // stub echoes the flag through text
        row("text").toString
      }
      assert(modeOf("""{"q":"mode","hybrid":true}""") == "hybrid=true")
      assert(modeOf("""{"q":"mode"}""") == "hybrid=false")
      assert(modeOf("""{"q":"mode","hybrid":"junk"}""") == "hybrid=false")
    }
  }

  test("unknown method → -32601 with request id") {
    withServer { port =>
      val replies = talk(port,
        """{"jsonrpc":"2.0","method":"frobnicate","id":1}""")
      val m = McpFraming.parseLine(replies.head)
      assert(m.error.get("code") == JsonRpcErrorCodes.MethodNotFound)
      assert(m.id.contains(1L))
    }
  }

  test("missing params and bad q → -32602") {
    withServer { port =>
      val m1 = McpFraming.parseLine(talk(port,
        """{"jsonrpc":"2.0","method":"search","id":1}""").head)
      assert(m1.error.get("code") == JsonRpcErrorCodes.InvalidParams)
      val m2 = McpFraming.parseLine(talk(port,
        """{"jsonrpc":"2.0","method":"search","params":{"k":3},"id":2}""").head)
      assert(m2.error.get("code") == JsonRpcErrorCodes.InvalidParams)
    }
  }

  test("invalid JSON → -32700; protocol violation → -32600; null ids") {
    withServer { port =>
      val m1 = McpFraming.parseLine(talk(port, "{garbage").head)
      assert(m1.error.get("code") == JsonRpcErrorCodes.ParseError)
      assert(m1.id.isEmpty)
      val m2 = McpFraming.parseLine(talk(port,
        """{"jsonrpc":"0.1","method":"search"}""").head)
      assert(m2.error.get("code") == JsonRpcErrorCodes.InvalidRequest)
    }
  }

  test("search failure → -32603 internal error with request id") {
    withServer { port =>
      val m = McpFraming.parseLine(talk(port,
        """{"jsonrpc":"2.0","method":"search","params":{"q":"boom"},"id":9}""").head)
      assert(m.error.get("code") == JsonRpcErrorCodes.InternalError)
      assert(m.error.get("message") == "Internal server error")
      // the cause travels as error.data, so a client can tell a failed
      // read from a bad query without the server's log
      assert(m.error.get.get("data").contains("kaput"), m.error)
      assert(m.id.contains(9L))
    }
  }

  test("serves concurrent connections") {
    withServer { port =>
      val threads = (1 to 4).map { i =>
        val t = new Thread(() => {
          val replies = talk(port,
            s"""{"jsonrpc":"2.0","method":"search","params":{"q":"t$i","k":3},"id":$i}""")
          assert(replies.length == 3)
        })
        t.start(); t
      }
      threads.foreach(_.join(5000))
    }
  }
}
