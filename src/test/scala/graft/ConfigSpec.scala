package graft

import org.scalatest.funsuite.AnyFunSuite

/** Fail-fast config validation — the analog of the reference's settings
  * matrix tests (tests/test_config.py: defaults, backend-requires-url,
  * case-insensitive env keys, specific messages). Pure (no Spark). */
class ConfigSpec extends AnyFunSuite {

  test("defaults validate clean") {
    val c = GraftConfig.orThrow(GraftConfig.validated(GraftConfig("/tmp/store")))
    assert(!c.fp16)
    assert(c.embedderDim == 64)
    assert(c.httpPort == 8000 && c.mcpPort == 8375)
    assert(c.pagesDir.isEmpty && c.checkpointDir.isEmpty)
  }

  test("every violation is reported, each with a specific message") {
    val bad = GraftConfig(storeDir = " ", embedderDim = 0,
      httpPort = 70000, mcpPort = -1, pagesDir = Some("/p"),
      checkpointDir = None)
    val Left(errs) = GraftConfig.validated(bad): @unchecked
    assert(errs.size == 5, errs.mkString("; "))
    assert(errs.exists(_.contains("STORE_DIR (--store / GRAFT_STORE_DIR) is required")))
    assert(errs.exists(_.contains(
      "EMBEDDER_DIM (--embed-dim / GRAFT_EMBEDDER_DIM) must be a positive integer, got 0")))
    assert(errs.exists(e => e.contains("HTTP_PORT") && e.contains("70000")))
    assert(errs.exists(e => e.contains("MCP_PORT") && e.contains("-1")))
    assert(errs.exists(_.contains("CHECKPOINT_DIR (--ckpt / GRAFT_CHECKPOINT_DIR) is required when PAGES_DIR is set")))
  }

  test("serving ports must differ when fixed; both-ephemeral is allowed") {
    val Left(errs) = GraftConfig.validated(
      GraftConfig("/s", httpPort = 9000, mcpPort = 9000)): @unchecked
    assert(errs.exists(_.contains("must differ when fixed, both are 9000")))
    assert(GraftConfig.validated(
      GraftConfig("/s", httpPort = 0, mcpPort = 0)).isRight)
  }

  test("dense-index matrix: pq-refine is left to the IVFADC layout check; default rung 64") {
    assert(GraftConfig.orThrow(GraftConfig.validated(
      GraftConfig("/s"))).pqRefine == 64) // the measured default rung
    // pqRefine is validated ONLY where an IVFADC layout is served (`Cli
    // serve` checks it against the --ivf-index layout) — ambient
    // GRAFT_PQ_REFINE garbage must not refuse an unrelated serve config
    assert(GraftConfig.validated(GraftConfig("/s", pqRefine = 1)).isRight)
    assert(GraftConfig.validated(GraftConfig("/s",
      ivfIndexDir = Some("/i"), pqRefine = 1)).isRight)
  }

  test("sync matrix: PAGES_DIR without CHECKPOINT_DIR refuses; with it, validates") {
    val Left(errs) = GraftConfig.validated(
      GraftConfig("/s", pagesDir = Some("/p"))): @unchecked
    assert(errs == List("CHECKPOINT_DIR (--ckpt / GRAFT_CHECKPOINT_DIR) is required when PAGES_DIR is set " +
      "(sync mode cannot track its watermark without a checkpoint location)"))
    assert(GraftConfig.validated(GraftConfig("/s", pagesDir = Some("/p"),
      checkpointDir = Some("/c"))).isRight)
  }

  test("env loading: GRAFT_ prefix, case-insensitive keys, typed parses") {
    val Right(c) = GraftConfig.fromEnv(Map(
      "graft_store_dir" -> "/env/store", // lowercase key accepted
      "GRAFT_FP16" -> "true",
      "GRAFT_EMBEDDER_DIM" -> "128",
      "GRAFT_HTTP_PORT" -> "8080")): @unchecked
    assert(c.storeDir == "/env/store" && c.fp16 && c.embedderDim == 128)
    assert(c.httpPort == 8080 && c.mcpPort == GraftConfig.DefaultMcpPort)
    assert(c.embedder.dim == 128)
  }

  test("env loading: unparseable values get their own messages plus matrix errors") {
    val Left(errs) = GraftConfig.fromEnv(Map(
      "GRAFT_FP16" -> "maybe",
      "GRAFT_MCP_PORT" -> "not-a-port")): @unchecked
    assert(errs.exists(_.contains("GRAFT_FP16 must be true/false, got 'maybe'")))
    assert(errs.exists(e => e.contains("GRAFT_MCP_PORT") &&
      e.contains("must be an integer, got 'not-a-port'")))
    assert(errs.exists(_.contains("STORE_DIR (--store / GRAFT_STORE_DIR) is required"))) // matrix error rides along
  }

  test("resolve: flags layer over env vars, flag wins per knob") {
    val env = Map("GRAFT_STORE_DIR" -> "/env/store",
      "GRAFT_HTTP_PORT" -> "9100", "GRAFT_MCP_PORT" -> "9200")
    // flag overrides env for http-port; env fills store and mcp-port
    val Right(c) = GraftConfig.resolve(
      Map("http-port" -> "7000"), env, GraftConfig.Command.Serve): @unchecked
    assert(c.storeDir == "/env/store")
    assert(c.httpPort == 7000 && c.mcpPort == 9200)
    // --fp16 switch forces fp16 even when env says false
    val Right(c2) = GraftConfig.resolve(
      Map("store" -> "/s", "pages-dir" -> "/p", "ckpt" -> "/c"),
      Map("GRAFT_FP16" -> "false"), GraftConfig.Command.Sync,
      fp16Flag = true): @unchecked
    assert(c2.fp16 && c2.storeDir == "/s")
  }

  test("command scoping: out-of-scope env is ignored, out-of-scope flags are rejected") {
    // ambient sync/serve junk can't stop a read-only search...
    val Right(c) = GraftConfig.resolve(Map("store" -> "/s"),
      Map("GRAFT_PAGES_DIR" -> "/p", "GRAFT_HTTP_PORT" -> "junk",
        "GRAFT_FP16" -> "maybe"), GraftConfig.Command.Search): @unchecked
    assert(c.storeDir == "/s" && c.pagesDir.isEmpty && !c.fp16)
    // ...but an explicit flag the command can't honor is an error, not
    // a silent drop
    val Left(errs) = GraftConfig.resolve(
      Map("store" -> "/s", "pages-dir" -> "/p"),
      Map.empty, GraftConfig.Command.Search): @unchecked
    assert(errs == List("--pages-dir is not a search option"))
    // sync's pages-dir requirement is computed inside resolve, together
    // with every other violation
    val Left(errs2) = GraftConfig.resolve(Map.empty, Map.empty,
      GraftConfig.Command.Sync): @unchecked
    assert(errs2.exists(_.contains("PAGES_DIR is required for sync")))
    assert(errs2.exists(_.contains("STORE_DIR (--store / GRAFT_STORE_DIR) is required")))
  }

  test("resolve scopes flags by the table Cli refuses unread flags by") {
    // a flag of another subcommand is refused, as Cli refuses it
    val Left(e) = GraftConfig.resolve(Map("store" -> "/s", "k" -> "5"),
      Map.empty, GraftConfig.Command.Serve): @unchecked
    assert(e == List("--k is not a serve option"))
    // and every flag a command reads passes the scope check
    for ((cmd, name) <- Seq(GraftConfig.Command.Sync -> "sync",
        GraftConfig.Command.Search -> "search",
        GraftConfig.Command.Serve -> "serve")) {
      val all = GraftConfig.readFlags(name).map(_ -> "1").toMap
      val errs = GraftConfig.resolve(all, Map.empty, cmd).left.getOrElse(Nil)
      assert(!errs.exists(_.contains("is not a")), errs)
    }
  }

  test("orThrow joins all messages into one fail-fast exception") {
    val e = intercept[IllegalArgumentException] {
      GraftConfig.orThrow(GraftConfig.validated(
        GraftConfig("", embedderDim = -3)))
    }
    assert(e.getMessage.contains("invalid configuration:"))
    assert(e.getMessage.contains("STORE_DIR"))
    assert(e.getMessage.contains("EMBEDDER_DIM"))
  }

  test("Cli sync constructs through the config: missing ckpt fails fast with exit 2") {
    // no Spark touched: validation fails before any session use (null is
    // safe here precisely because the path must not reach Spark). env is
    // injected empty so ambient GRAFT_* vars on the host can't satisfy
    // the matrix and push the run past validation.
    val code = Cli.run(Array("sync", "--pages-dir", "/tmp/nope",
      "--store", "/tmp/store"), null, env = Map.empty)
    assert(code == 2)
  }

  test("Cli search ignores ambient sync/serve env; bad --k fails with exit 2") {
    // ambient GRAFT_* junk from other workflows must not make a
    // read-only command refuse to run; it fails later (exit 1) on the
    // missing store, not on config validation (exit 2)
    val c1 = Cli.run(Array("search", "q", "--store", "/nonexistent-store"),
      SparkTestBase.spark, env = Map("GRAFT_PAGES_DIR" -> "/p",
        "GRAFT_HTTP_PORT" -> "junk"))
    assert(c1 == 1)
    val c2 = Cli.run(Array("search", "q", "--store", "/s", "--k", "abc"),
      null, env = Map.empty)
    assert(c2 == 2)
  }

  test("Cli sync: --since conflicts with --backfill; malformed --since exits 2") {
    val conflict = Cli.run(Array("sync", "--backfill",
      "--since", "2024-01-01T00:00:00Z", "--pages-dir", "/p",
      "--store", "/s", "--ckpt", "/c"), null, env = Map.empty)
    assert(conflict == 2)
    val malformed = Cli.run(Array("sync", "--since", "not-a-date",
      "--pages-dir", "/p", "--store", "/s", "--ckpt", "/c"),
      null, env = Map.empty)
    assert(malformed == 2)
  }
}
