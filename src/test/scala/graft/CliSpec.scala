package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

class CliSpec extends SparkTestBase {

  private def pageJson(hid: String, text: String): String =
    s"""{"results":[{"user_book_id":1,"title":"B","author":"A","category":"books",
       |"source":"kindle","source_url":"https://b/1","highlights":[
       |{"id":"$hid","text":"$text","note":null,"location":1,"url":null,
       |"tags":[{"name":"t"}],"highlighted_at":"2024-02-01T08:00:00Z",
       |"updated_at":"2024-02-01T08:00:00Z"}]}]}""".stripMargin.replace("\n", "")

  /** Exit code + everything written to `System.err` meanwhile. */
  private def captureErr(f: => Int): (Int, String) = {
    val bos = new ByteArrayOutputStream()
    val old = System.err
    System.setErr(new PrintStream(bos, true))
    try (scala.util.Try(f).getOrElse(-1), bos.toString)
    finally System.setErr(old)
  }

  private def capture(f: => Int): (Int, String) = {
    val bos = new ByteArrayOutputStream()
    val code = Console.withOut(new PrintStream(bos)) {
      scala.util.Try(f).getOrElse(-1)
    }
    (code, bos.toString)
  }

  test("sync --backfill then search end-to-end; incremental without watermark fails") {
    val dir = Files.createTempDirectory("graft-cli").toString
    val pages = s"$dir/pages"
    Files.createDirectories(java.nio.file.Paths.get(pages))
    Files.writeString(java.nio.file.Paths.get(pages, "page0.json"),
      pageJson("h1", "spark joins and shuffles"))
    Files.writeString(java.nio.file.Paths.get(pages, "page1.json"),
      pageJson("h2", "completely different topic words"))

    val (c1, out1) = capture(Cli.run(Array("sync", "--backfill",
      "--pages-dir", pages, "--store", s"$dir/store", "--ckpt", s"$dir/ckpt"), spark))
    assert(c1 == 0)
    assert(out1.contains("\"synced\":2") && out1.contains("backfill"))

    val (c2, out2) = capture(Cli.run(Array("search", "spark joins",
      "--k", "2", "--store", s"$dir/store"), spark))
    assert(c2 == 0)
    val lines = out2.trim.split("\n")
    assert(lines.length == 2)
    assert(lines.head.contains("\"id\":\"h1\"")) // best match first
    assert(lines.head.contains("\"score\":"))

    // --mmr plumbing: λ=1 is plain ranking — identical output rows
    val (cM, outM) = capture(Cli.run(Array("search", "spark joins",
      "--k", "2", "--store", s"$dir/store", "--mmr", "1.0"), spark))
    assert(cM == 0 && outM == out2)

    // incremental against a fresh ckpt dir → exit 1 (backfill required)
    val (c3, _) = capture(Cli.run(Array("sync",
      "--pages-dir", pages, "--store", s"$dir/store2", "--ckpt", s"$dir/ckpt2"), spark))
    assert(c3 == 1)

    // bad usage → exit 2
    assert(capture(Cli.run(Array("search", "q"), spark))._1 == 2)
    assert(capture(Cli.run(Array("frobnicate"), spark))._1 == 2)
  }

  test("every subcommand refuses a flag it does not read, naming it") {
    val dir = Files.createTempDirectory("graft-cli-flags").toString
    // no store exists here: a command that ignored the flag would get as
    // far as the missing store (exit 1) — the refusal must come first
    val cases = Seq(
      Seq("search", "q", "--store", s"$dir/store", "--hnsw-index", "H"),
      Seq("refresh", "--pages-dir", dir, "--store", s"$dir/store",
        "--ckpt", s"$dir/ckpt", "--hnsw-index", "H"),
      Seq("sync", "--backfill", "--pages-dir", dir, "--store",
        s"$dir/store", "--ckpt", s"$dir/ckpt", "--nprobes", "4"),
      Seq("index", "--store", s"$dir/store", "--out", s"$dir/ivf",
        "--levels", "3"),
      Seq("export", "--store", s"$dir/store", "--out", s"$dir/ex",
        "--shard-tokenz", "9"),
      Seq("curate", "--docs", s"$dir/docs", "--report-only", "--qualty",
        "0.5"),
      Seq("serve", "--store", s"$dir/store", "--graph-hops", "3"),
      Seq("health", "--verbose"))
    cases.foreach { args =>
      val (c, err) = captureErr(Cli.run(args.toArray, spark))
      val flag = args.filter(_.startsWith("--")).last
      assert(c == 2 && err.contains(flag), s"${args.mkString(" ")}: exit $c: $err")
    }
  }

  test("index builds an attr-carrying IVF index from the store; bad flags fail fast") {
    val dir = Files.createTempDirectory("graft-cli-idx").toString
    val pages = s"$dir/pages"
    Files.createDirectories(java.nio.file.Paths.get(pages))
    Files.writeString(java.nio.file.Paths.get(pages, "page0.json"),
      pageJson("h1", "spark joins and shuffles"))
    Files.writeString(java.nio.file.Paths.get(pages, "page1.json"),
      pageJson("h2", "completely different topic words"))
    assert(capture(Cli.run(Array("sync", "--backfill",
      "--pages-dir", pages, "--store", s"$dir/store",
      "--ckpt", s"$dir/ckpt"), spark))._1 == 0)
    // error paths first: missing --out, unknown attr column
    assert(capture(Cli.run(Array("index",
      "--store", s"$dir/store"), spark))._1 == 2)
    assert(capture(Cli.run(Array("index", "--store", s"$dir/store",
      "--out", s"$dir/ivf", "--attrs", "nope"), spark))._1 == 2)
    assert(capture(Cli.run(Array("index", "--store", s"$dir/store",
      "--out", s"$dir/ivf", "--cells", "zero"), spark))._1 == 2)
    // the real build: 2 cells, every-row training, source_type carried
    val (c, out) = capture(Cli.run(Array("index",
      "--store", s"$dir/store", "--out", s"$dir/ivf",
      "--cells", "2", "--train-every", "1",
      "--attrs", "source_type"), spark))
    assert(c == 0, out)
    assert(graft.similarity.Knn.ivfIndexReady(s"$dir/ivf"))
    val idx = graft.similarity.Knn.IvfIndex.load(spark, s"$dir/ivf")
    assert(idx.attrColumns == Seq("source_type"))
    // the built index serves a filtered probe over the carried column
    val qv = graft.embed.Embedder.Default.embed("spark joins and shuffles")
    val hits = idx.search(qv, 5, idx.numCells,
      Some(org.apache.spark.sql.functions.col("source_type") === "books"))
      .collect()
    assert(hits.nonEmpty)
    // `serve` refuses an IVF index of another width than its embedder at
    // start-up, naming both widths
    val (cw, errW) = captureErr(Cli.denseIndex(spark, GraftConfig(
      storeDir = s"$dir/store", embedderDim = 32,
      ivfIndexDir = Some(s"$dir/ivf"))).swap.getOrElse(0))
    assert(cw == 2 && errW.contains("64") && errW.contains("32"), errW)
    // --pq-refine tunes only an IVFADC layout: an fp16 one ignores it
    assert(Cli.denseIndex(spark, GraftConfig(storeDir = s"$dir/store",
      ivfIndexDir = Some(s"$dir/ivf"), pqRefine = 1)).isRight)
  }

  test("index --type ivfpq builds the serving IVFADC layout; --opq-sweeps rotates it") {
    val dir = Files.createTempDirectory("graft-cli-ivfpq").toString
    val pages = s"$dir/pages"
    Files.createDirectories(java.nio.file.Paths.get(pages))
    Files.writeString(java.nio.file.Paths.get(pages, "page0.json"),
      pageJson("h1", "spark joins and shuffles"))
    Files.writeString(java.nio.file.Paths.get(pages, "page1.json"),
      pageJson("h2", "completely different topic words"))
    Files.writeString(java.nio.file.Paths.get(pages, "page2.json"),
      pageJson("h3", "a third unrelated highlight"))
    Files.writeString(java.nio.file.Paths.get(pages, "page3.json"),
      pageJson("h4", "and a fourth one entirely"))
    assert(capture(Cli.run(Array("sync", "--backfill",
      "--pages-dir", pages, "--store", s"$dir/store",
      "--ckpt", s"$dir/ckpt"), spark))._1 == 0)
    // --pq-m must divide the embedding dimension
    assert(capture(Cli.run(Array("index", "--store", s"$dir/store",
      "--out", s"$dir/bad", "--type", "ivfpq", "--pq-m", "7"),
      spark))._1 == 2)
    assert(capture(Cli.run(Array("index", "--store", s"$dir/store",
      "--out", s"$dir/bad", "--type", "ivfpq", "--opq-sweeps", "-1"),
      spark))._1 == 2)
    val (c, out) = capture(Cli.run(Array("index",
      "--store", s"$dir/store", "--out", s"$dir/ivfpq", "--type", "ivfpq",
      "--cells", "2", "--train-every", "1", "--pq-m", "8",
      "--pq-ksub", "4", "--opq-sweeps", "1"), spark))
    assert(c == 0, out)
    assert(out.contains("\"opq_sweeps\":1"))
    assert(graft.similarity.Knn.ivfIndexReady(s"$dir/ivfpq"))
    val idx = graft.similarity.Knn.IvfIndex.load(spark, s"$dir/ivfpq")
    assert(idx.hasRefine && idx.hasRotation)
    // the rotated layout serves: callers pass ORIGINAL-space queries and
    // the exact refine stage puts the matching highlight first
    val qv = graft.embed.Embedder.Default.embed("spark joins and shuffles")
    val hits = idx.search(qv, 2, idx.numCells, refine = 2).collect()
    assert(hits.nonEmpty && hits.head.get(0) == "h1", hits.mkString("|"))
    // `serve` refuses an IVFADC index of another width than its embedder
    // at start-up, naming both widths
    val (cw, errW) = captureErr(Cli.denseIndex(spark, GraftConfig(
      storeDir = s"$dir/store", embedderDim = 32,
      ivfIndexDir = Some(s"$dir/ivfpq"))).swap.getOrElse(0))
    assert(cw == 2 && errW.contains("64") && errW.contains("32"), errW)
  }

  test("serve --ivf-index serves an IVFADC layout through its refine view; refresh --ivf-index maintains it") {
    val dir = Files.createTempDirectory("graft-cli-ivfpq-serve").toString
    val pages = s"$dir/pages"
    Files.createDirectories(java.nio.file.Paths.get(pages))
    val texts = Seq("spark joins and shuffles", "completely different topic words",
      "a third unrelated highlight", "and a fourth one entirely")
    texts.zipWithIndex.foreach { case (t, i) =>
      Files.writeString(java.nio.file.Paths.get(pages, s"page$i.json"),
        pageJson(s"h${i + 1}", t))
    }
    assert(capture(Cli.run(Array("sync", "--backfill", "--pages-dir", pages,
      "--store", s"$dir/store", "--ckpt", s"$dir/ckpt"), spark))._1 == 0)
    val ivfpq = s"$dir/ivfpq"
    assert(capture(Cli.run(Array("index", "--store", s"$dir/store",
      "--out", ivfpq, "--type", "ivfpq", "--cells", "2",
      "--train-every", "1", "--pq-m", "8", "--pq-ksub", "4"), spark))._1 == 0)
    val cfg = GraftConfig(storeDir = s"$dir/store", ivfIndexDir = Some(ivfpq),
      pqRefine = 2)
    val dense = Cli.denseIndex(spark, cfg).toOption.flatten.get
    // the IVFADC + refine view, not the fp16 probe: its answers are
    // asDense(--pq-refine)'s
    assert(!dense().isInstanceOf[graft.similarity.Knn.IvfIndex])
    val qv = graft.embed.Embedder.Default.embed(texts.head)
    val view = graft.similarity.Knn.IvfIndex.load(spark, ivfpq).asDense(2)
    assert(dense().servingTopK(qv, 2, 2, None).toSeq ==
      view.servingTopK(qv, 2, 2, None).toSeq)
    // --pq-refine is checked against the IVFADC layout it tunes
    val (cr, errR) = captureErr(Cli.denseIndex(spark, cfg.copy(pqRefine = 1))
      .swap.getOrElse(0))
    assert(cr == 2 && errR.contains("PQ_REFINE"), errR)
    // refresh --ivf-index: an added highlight becomes servable
    Files.writeString(java.nio.file.Paths.get(pages, "page4.json"),
      pageJson("h5", "quantized vectors refresh"))
    val (c, out) = capture(Cli.run(Array("refresh", "--pages-dir", pages,
      "--store", s"$dir/store", "--ckpt", s"$dir/ckpt",
      "--ivf-index", ivfpq), spark))
    assert(c == 0 && out.contains("\"added\":1"), out)
    val q5 = graft.embed.Embedder.Default.embed("quantized vectors refresh")
    assert(dense().servingTopK(q5, 1, 2, None).head.get(0) == "h5")
    // the removed flag is refused as one `serve` does not read
    val (cq, errQ) = captureErr(Cli.run(Array("serve", "--store",
      s"$dir/store", "--pq-index", ivfpq), spark))
    assert(cq == 2 && errQ.contains("--pq-index is not a serve option"), errQ)
  }

  test("index --type graph/hnsw/lexical: build → serve → delete → refresh round-trip") {
    val dir = Files.createTempDirectory("graft-cli-graph").toString
    val pages1 = s"$dir/pages1"; val pages2 = s"$dir/pages2"
    val store = s"$dir/store"; val ckpt = s"$dir/ckpt"
    val graph = s"$dir/graph"; val lexi = s"$dir/lex"
    Files.createDirectories(java.nio.file.Paths.get(pages1))
    Files.createDirectories(java.nio.file.Paths.get(pages2))
    // numeric string ids — the Readwise id domain the graph family's
    // long node keys round-trip through
    val texts = Seq(
      "1" -> "spark joins and shuffles",
      "2" -> "spark shuffles and joins again",
      "3" -> "completely different topic words",
      "4" -> "quantum entanglement and physics",
      "5" -> "gardening tips for tomato plants",
      "6" -> "spark partitions and shuffles tuning",
      "7" -> "tomato garden watering schedule",
      "8" -> "physics of entangled particles")
    texts.zipWithIndex.foreach { case ((id, tx), i) =>
      Files.writeString(java.nio.file.Paths.get(pages1, f"page$i%02d.json"),
        pageJson(id, tx)) }
    assert(capture(Cli.run(Array("sync", "--backfill", "--pages-dir", pages1,
      "--store", store, "--ckpt", ckpt), spark))._1 == 0)

    // bad --type fails fast; hnsw is no longer an index type
    Seq("bogus", "hnsw").foreach { t =>
      assert(capture(Cli.run(Array("index", "--store", store, "--out", graph,
        "--type", t), spark))._1 == 2, t)
    }

    // graph index via the CLI
    val (cg, outg) = capture(Cli.run(Array("index", "--store", store,
      "--out", graph, "--type", "graph", "--graph-k", "3", "--cells", "2",
      "--buckets", "4"), spark))
    assert(cg == 0, outg)
    assert(outg.contains("\"type\":\"graph\""), outg)
    assert(graft.similarity.Knn.graphIndexReady(graph))
    // `serve --graph-index` is the resident walk: without the code
    // sidecar it refuses at start-up and names the sidecar-only build
    val (cs, errs) = captureErr(Cli.run(Array("serve", "--store", store,
      "--graph-index", graph), spark))
    assert(cs == 1 && errs.contains("--type graph-codes"), errs)

    // delete: tombstone node 1 before the sidecar exists
    import spark.implicits._
    graft.similarity.Knn.adjDeleteIndex(spark, graph,
      Seq(1L).toDF("id"), "id")

    // sidecar-only build over the EXISTING (tombstoned) layout via
    // --type graph-codes; then `serve --graph-index G`, with no other
    // flag, serves through ResidentGraphIndex — store rows keyed by the
    // STORE's string ids (the idOf round-trip), deleted node gone
    val (cc, outc) = capture(Cli.run(Array("index", "--store", store,
      "--out", graph, "--type", "graph-codes", "--pq-m", "8",
      "--pq-ksub", "4"), spark))
    assert(cc == 0, outc)
    assert(outc.contains("\"type\":\"graph-codes\""), outc)
    assert(graft.similarity.Knn.graphCodesReady(graph))
    val embedder = graft.embed.Embedder.Default
    def gw(idx: () => graft.similarity.Knn.DenseIndex) =
      new graft.serve.SearchGateway(
        () => graft.sync.HighlightStore.read(spark, store).get, embedder,
        Some(idx), 4)
    def ask(g: graft.serve.SearchGateway, q: String, k: Int) = {
      val Right(p) = graft.serve.SearchParams.fromHttp(q, k): @unchecked
      g.search(p).toSeq
    }
    val Right(Some(served)) = Cli.denseIndex(spark,
      GraftConfig(store, graphIndexDir = Some(graph), graphEf = 8)): @unchecked
    assert(served().isInstanceOf[graft.similarity.Knn.ResidentGraphIndex])
    val rowsR = ask(gw(served), "spark shuffles and joins again", 3)
    assert(rowsR.nonEmpty && rowsR.head("id") == "2", rowsR.map(_("id")))
    assert(rowsR.head.contains("score") && rowsR.head.contains("text"))
    assert(!rowsR.exists(_("id") == "1"), rowsR.map(_("id")))
    // filtered requests fall back to the store scan (an attr-less
    // layout) — they still serve, from the one plan that can evaluate
    // the predicate
    val Right(fp) = graft.serve.SearchParams.fromHttp(
      "spark joins and shuffles", 3, sourceType = Some("books")): @unchecked
    assert(gw(served).search(fp).toSeq.nonEmpty)
    // graph-codes over a missing layout names the fix
    assert(capture(Cli.run(Array("index", "--store", store,
      "--out", s"$graph-none", "--type", "graph-codes"), spark))._1 == 1)

    // sharded --graph-index list (`serve --graph-index a,b`): every
    // shard must be ready, and the gateway serves through the
    // fan-and-merge handle with the same string-id round-trip
    assert(capture(Cli.run(Array("serve", "--store", store,
      "--graph-index", s"$graph,$graph-none"), spark))._1 == 1)
    val sh = graft.similarity.Knn.ShardedResidentIndex.load(spark,
      Seq(graph -> None), ef = 8, idOf = (id: Long) => id.toString)
    val rowsS = ask(gw(() => sh), "spark shuffles and joins again", 3)
    assert(rowsS.nonEmpty && rowsS.head("id") == "2", rowsS.map(_("id")))
    assert(!rowsS.exists(_("id") == "1"), rowsS.map(_("id")))

    // `refresh --graph-index` maintains the layout and its sidecar:
    // id 5 removed upstream, id 2 edited, id 9 added
    val texts2 = texts.filterNot(_._1 == "5").map {
      case ("2", _) => "2" -> "spark shuffles edited zebra content"
      case other => other
    } :+ ("9" -> "brand new quokka highlight")
    texts2.zipWithIndex.foreach { case ((id, tx), i) =>
      Files.writeString(java.nio.file.Paths.get(pages2, f"page$i%02d.json"),
        pageJson(id, tx)) }
    val (cr, outr) = capture(Cli.run(Array("refresh", "--pages-dir", pages2,
      "--store", store, "--ckpt", ckpt, "--graph-index", graph), spark))
    assert(cr == 0, outr)
    assert(outr.contains("\"added\":1") && outr.contains("\"changed\":1")
      && outr.contains("\"removed\":1"), outr)
    // entry IVFs pair with --graph-index positionally at ANY dir count —
    // a mismatch is rejected, never silently dropped
    assert(capture(Cli.run(Array("refresh", "--pages-dir", pages2,
      "--store", store, "--ckpt", ckpt, "--graph-index", graph,
      "--graph-entry-ivf", "a,b"), spark))._1 == 2)
    // the serving handle follows the refresh: the added doc serves, the
    // removed one does not
    val rows9 = ask(gw(served), "brand new quokka highlight", 1)
    assert(rows9.nonEmpty && rows9.head("id") == "9", rows9.map(_("id")))
    val rows5 = ask(gw(served), "gardening tips for tomato plants", 8)
    assert(rows5.nonEmpty && !rows5.exists(_("id") == "5"),
      rows5.map(_("id")))

    // lexical index via the CLI serves the refreshed corpus
    assert(capture(Cli.run(Array("index", "--store", store, "--out", lexi,
      "--type", "lexical", "--buckets", "4"), spark))._1 == 0)
    val lexHits = graft.text.TextRank.LexIndex.load(spark, lexi)
      .search(Seq("quokka"), k = 3)
      .select(org.apache.spark.sql.functions.col("id"))
      .collect().map(_.getString(0)).toSeq
    assert(lexHits == Seq("9"), lexHits)
  }

  test("index --type graph --shards: one-call sharded gateway — " +
      "manifest, loadRoot serving, serve/refresh routing, auto sizing") {
    val dir = Files.createTempDirectory("graft-cli-shards").toString
    val pages = s"$dir/pages"
    val store = s"$dir/store"; val ckpt = s"$dir/ckpt"
    val root = s"$dir/gateway"
    Files.createDirectories(java.nio.file.Paths.get(pages))
    val texts = Seq(
      "1" -> "spark joins and shuffles",
      "2" -> "spark shuffles and joins again",
      "3" -> "completely different topic words",
      "4" -> "quantum entanglement and physics",
      "5" -> "gardening tips for tomato plants",
      "6" -> "spark partitions and shuffles tuning",
      "7" -> "tomato garden watering schedule",
      "8" -> "physics of entangled particles")
    texts.zipWithIndex.foreach { case ((id, tx), i) =>
      Files.writeString(java.nio.file.Paths.get(pages, f"page$i%02d.json"),
        pageJson(id, tx)) }
    assert(capture(Cli.run(Array("sync", "--backfill", "--pages-dir", pages,
      "--store", store, "--ckpt", ckpt), spark))._1 == 0)
    // bad --shards fails fast
    assert(capture(Cli.run(Array("index", "--store", store, "--out", root,
      "--type", "graph", "--shards", "0"), spark))._1 == 2)
    assert(capture(Cli.run(Array("index", "--store", store, "--out", root,
      "--type", "graph", "--shards", "bogus"), spark))._1 == 2)
    // ONE call: pmod split, per-shard adjacency + codes + entry IVF,
    // root MANIFEST
    val (c, out) = capture(Cli.run(Array("index", "--store", store,
      "--out", root, "--type", "graph", "--shards", "2",
      "--graph-k", "3", "--cells", "2"), spark))
    assert(c == 0, out)
    assert(out.contains("\"shards\":2") && out.contains("MANIFEST"), out)
    val dirs = graft.similarity.Knn.ShardedResidentIndex
      .loadManifest(spark, root).get
    assert(dirs.length == 2)
    dirs.foreach { case (d, ivf) =>
      assert(graft.similarity.Knn.graphIndexReady(d) &&
        graft.similarity.Knn.graphCodesReady(d), d)
      assert(ivf.exists(graft.similarity.Knn.ivfIndexReady), ivf.toString)
    }
    // the manifest-driven gateway serves through the same
    // fan-and-merge handle `serve --graph-index <root>` builds
    val sh = graft.similarity.Knn.ShardedResidentIndex.loadRoot(spark,
      root, ef = 8, idOf = (id: Long) => id.toString)
    assert(sh.numShards == 2)
    val gw = new graft.serve.SearchGateway(
      () => graft.sync.HighlightStore.read(spark, store).get,
      graft.embed.Embedder.Default, Some(() => sh), 4)
    val Right(p) = graft.serve.SearchParams.fromHttp(
      "spark shuffles and joins again", 3): @unchecked
    val rows = gw.search(p).toSeq
    assert(rows.nonEmpty && rows.head("id") == "2", rows.map(_("id")))
    // `serve --graph-index <root>` expands the manifest to that handle
    val Right(Some(rootServed)) = Cli.denseIndex(spark,
      GraftConfig(store, graphIndexDir = Some(root))): @unchecked
    assert(rootServed().isInstanceOf[
      graft.similarity.Knn.ShardedResidentIndex])
    // refresh --graph-index <root> expands the manifest and routes the
    // delta to its pmod shard; the re-loaded gateway serves the new doc
    val pages2 = s"$dir/pages2"
    Files.createDirectories(java.nio.file.Paths.get(pages2))
    (texts :+ ("9" -> "brand new zebra migration patterns"))
      .zipWithIndex.foreach { case ((id, tx), i) =>
        Files.writeString(java.nio.file.Paths.get(pages2, f"page$i%02d.json"),
          pageJson(id, tx)) }
    val (cr, outr) = capture(Cli.run(Array("refresh", "--pages-dir", pages2,
      "--store", store, "--ckpt", ckpt, "--graph-index", root), spark))
    assert(cr == 0, outr)
    val sh2 = graft.similarity.Knn.ShardedResidentIndex.loadRoot(spark,
      root, ef = 8, idOf = (id: Long) => id.toString)
    val gw2 = new graft.serve.SearchGateway(
      () => graft.sync.HighlightStore.read(spark, store).get,
      graft.embed.Embedder.Default, Some(() => sh2), 4)
    val Right(p9) = graft.serve.SearchParams.fromHttp(
      "brand new zebra migration patterns", 1): @unchecked
    assert(gw2.search(p9).toSeq.map(_("id")) == Seq("9"))
    // loadRoot without a manifest names the build flag
    val e = intercept[IllegalArgumentException] {
      graft.similarity.Knn.ShardedResidentIndex.loadRoot(spark,
        s"$dir/nothing")
    }
    assert(e.getMessage.contains("--shards"))
    // --shards auto sizes from the corpus against the resident budget:
    // 8 rows → 1 shard
    val (ca, outa) = capture(Cli.run(Array("index", "--store", store,
      "--out", s"$dir/auto", "--type", "graph", "--shards", "auto",
      "--graph-k", "3", "--cells", "2"), spark))
    assert(ca == 0 && outa.contains("\"shards\":1"), outa)
  }

  test("index --type graph refuses non-numeric store ids with a specific message") {
    val dir = Files.createTempDirectory("graft-cli-gnn").toString
    val pages = s"$dir/pages"
    Files.createDirectories(java.nio.file.Paths.get(pages))
    Files.writeString(java.nio.file.Paths.get(pages, "page0.json"),
      pageJson("h1", "non numeric id content"))
    assert(capture(Cli.run(Array("sync", "--backfill", "--pages-dir", pages,
      "--store", s"$dir/store", "--ckpt", s"$dir/ckpt"), spark))._1 == 0)
    assert(capture(Cli.run(Array("index", "--store", s"$dir/store",
      "--out", s"$dir/g", "--type", "graph"), spark))._1 == 2)
  }

  test("export writes shard dirs and prints the manifest; bad flags fail fast") {
    val dir = Files.createTempDirectory("graft-cli-exp").toString
    val pages = s"$dir/pages"
    Files.createDirectories(java.nio.file.Paths.get(pages))
    Files.writeString(java.nio.file.Paths.get(pages, "page0.json"),
      pageJson("h1", "spark joins and shuffles"))
    Files.writeString(java.nio.file.Paths.get(pages, "page1.json"),
      pageJson("h2", "completely different topic words"))
    assert(capture(Cli.run(Array("sync", "--backfill",
      "--pages-dir", pages, "--store", s"$dir/store",
      "--ckpt", s"$dir/ckpt"), spark))._1 == 0)
    assert(capture(Cli.run(Array("export",
      "--store", s"$dir/store"), spark))._1 == 2)
    assert(capture(Cli.run(Array("export", "--store", s"$dir/store",
      "--out", s"$dir/shards", "--shard-tokens", "junk"), spark))._1 == 2)
    val (c, out) = capture(Cli.run(Array("export",
      "--store", s"$dir/store", "--out", s"$dir/shards",
      "--shard-tokens", "4"), spark))
    assert(c == 0, out)
    val lines = out.linesIterator.filter(_.nonEmpty).toSeq
    assert(lines.nonEmpty && lines.forall(_.contains("\"digest\":")))
    assert(new java.io.File(s"$dir/shards").listFiles()
      .exists(_.getName.startsWith("shard_id=")))
  }

  test("refresh reconciles the store + lexical index from a new export; search serves the new corpus") {
    val dir = Files.createTempDirectory("graft-cli-refresh").toString
    val pages1 = s"$dir/pages1"; val pages2 = s"$dir/pages2"
    val store = s"$dir/store"; val ckpt = s"$dir/ckpt"; val lex = s"$dir/lex"
    Files.createDirectories(java.nio.file.Paths.get(pages1))
    Files.createDirectories(java.nio.file.Paths.get(pages2))
    Files.writeString(java.nio.file.Paths.get(pages1, "page0.json"),
      pageJson("h1", "spark joins and shuffles"))
    Files.writeString(java.nio.file.Paths.get(pages1, "page1.json"),
      pageJson("h2", "completely different topic words"))

    // refresh before any store exists → exit 1 with guidance
    assert(capture(Cli.run(Array("refresh", "--pages-dir", pages1,
      "--store", store, "--ckpt", ckpt), spark))._1 == 1)

    assert(capture(Cli.run(Array("sync", "--backfill", "--pages-dir", pages1,
      "--store", store, "--ckpt", ckpt), spark))._1 == 0)
    // a maintained index over the synced corpus (built once, then only
    // ever delta-maintained by refresh)
    graft.text.TextRank.buildLexicalIndex(
      graft.sync.HighlightStore.read(spark, store).get, "text", "id", lex)

    // the next export: h1 deleted upstream, h2 edited, h3 new
    Files.writeString(java.nio.file.Paths.get(pages2, "page0.json"),
      pageJson("h2", "completely different topic words edited zebra"))
    Files.writeString(java.nio.file.Paths.get(pages2, "page1.json"),
      pageJson("h3", "brand new quokka highlight"))

    val (c, out) = capture(Cli.run(Array("refresh", "--pages-dir", pages2,
      "--store", store, "--ckpt", ckpt, "--lex-index", lex), spark))
    assert(c == 0, out)
    assert(out.contains("\"added\":1") && out.contains("\"changed\":1")
      && out.contains("\"removed\":1") && out.contains("refresh"), out)

    // the gateway serves the reconciled corpus: h3 findable, h1 gone
    val (c2, out2) = capture(Cli.run(Array("search",
      "brand new quokka highlight", "--k", "1", "--store", store), spark))
    assert(c2 == 0)
    assert(out2.contains("\"id\":\"h3\""), out2)
    val (c3, out3) = capture(Cli.run(Array("search",
      "spark joins and shuffles", "--k", "3", "--store", store), spark))
    assert(c3 == 0 && !out3.contains("\"id\":\"h1\""), out3)

    // the maintained lexical index serves the delta too
    val lexHits = graft.text.TextRank.LexIndex.load(spark, lex)
      .search(Seq("quokka"), k = 3)
      .select(org.apache.spark.sql.functions.col("id"))
      .collect().map(_.getString(0)).toSeq
    assert(lexHits == Seq("h3"), lexHits)
    assert(graft.text.TextRank.LexIndex.load(spark, lex)
      .search(Seq("shuffles"), k = 3).count() == 0)

    // idempotent: same export again → all-zero delta
    val (c4, out4) = capture(Cli.run(Array("refresh", "--pages-dir", pages2,
      "--store", store, "--ckpt", ckpt, "--lex-index", lex), spark))
    assert(c4 == 0)
    assert(out4.contains("\"added\":0") && out4.contains("\"changed\":0")
      && out4.contains("\"removed\":0"), out4)
  }

  test("search fails fast on store-vs-embedder dim mismatch; works with --embed-dim") {
    val dir = Files.createTempDirectory("graft-cli-dim").toString
    val pages = s"$dir/pages"
    Files.createDirectories(java.nio.file.Paths.get(pages))
    Files.writeString(java.nio.file.Paths.get(pages, "page0.json"),
      pageJson("h1", "dimension mismatch probe text"))
    // store synced at a non-default 32-dim embedder
    assert(capture(Cli.run(Array("sync", "--backfill", "--embed-dim", "32",
      "--pages-dir", pages, "--store", s"$dir/store", "--ckpt", s"$dir/ckpt"),
      spark, env = Map.empty))._1 == 0)
    // searching with the 64-dim default must refuse loudly (the dot
    // product would silently truncate), not return wrong rankings
    assert(capture(Cli.run(Array("search", "probe",
      "--store", s"$dir/store"), spark, env = Map.empty))._1 == 2)
    // the matching dim — via flag or env — searches fine
    val (c, out) = capture(Cli.run(Array("search", "probe", "--k", "1",
      "--store", s"$dir/store", "--embed-dim", "32"), spark, env = Map.empty))
    assert(c == 0 && out.contains("\"id\":\"h1\""))
    assert(capture(Cli.run(Array("search", "probe", "--store", s"$dir/store"),
      spark, env = Map("GRAFT_EMBEDDER_DIM" -> "32")))._1 == 0)
  }

  test("search dim probe skips null embeddings (no NPE on a null first row)") {
    val dir = Files.createTempDirectory("graft-cli-null").toString
    val pages = s"$dir/pages"
    Files.createDirectories(java.nio.file.Paths.get(pages))
    Files.writeString(java.nio.file.Paths.get(pages, "page0.json"),
      pageJson("h1", "null embedding probe resilience text"))
    assert(capture(Cli.run(Array("sync", "--backfill", "--embed-dim", "32",
      "--pages-dir", pages, "--store", s"$dir/store", "--ckpt", s"$dir/ckpt"),
      spark, env = Map.empty))._1 == 0)
    // rewrite the store with a null-embedding row FIRST in the single
    // parquet file — the layout that NPE'd the un-guarded dim probe
    // (size(null) → null → getInt throws)
    import org.apache.spark.sql.functions._
    val current = Files.readString(
      java.nio.file.Paths.get(s"$dir/store", "CURRENT")).trim
    val synced = spark.read.parquet(s"$dir/store/$current")
    val nullRow = synced.limit(1)
      .withColumn("embedding", lit(null).cast("array<float>"))
      .withColumn("id", lit("h0"))
    graft.sync.HighlightStore.writeAtomic(
      nullRow.unionByName(synced).coalesce(1)
        .sortWithinPartitions(col("id")), s"$dir/store")
    // matching dim: probe must skip past the null row and search fine
    val (c, out) = capture(Cli.run(Array("search", "probe", "--k", "1",
      "--store", s"$dir/store", "--embed-dim", "32"), spark, env = Map.empty))
    assert(c == 0 && out.contains("\"id\":\"h1\""), s"exit $c: $out")
    // mismatched dim: the probe still FINDS the non-null row and refuses —
    // skipping nulls must not degrade into skipping the check
    assert(capture(Cli.run(Array("search", "probe",
      "--store", s"$dir/store"), spark, env = Map.empty))._1 == 2)
  }

  test("sync --fp16 stores emb16 at rest; search serves it through the fused path") {
    val dir = Files.createTempDirectory("graft-cli16").toString
    val pages = s"$dir/pages"
    Files.createDirectories(java.nio.file.Paths.get(pages))
    Files.writeString(java.nio.file.Paths.get(pages, "page0.json"),
      pageJson("h1", "vector search with half precision storage"))

    val (c1, _) = capture(Cli.run(Array("sync", "--backfill", "--fp16",
      "--pages-dir", pages, "--store", s"$dir/store", "--ckpt", s"$dir/ckpt"), spark))
    assert(c1 == 0)
    // at rest: emb16 BINARY, no fp32 embedding column
    val current = Files.readString(
      java.nio.file.Paths.get(s"$dir/store", "CURRENT")).trim
    val raw = spark.read.parquet(s"$dir/store/$current")
    assert(raw.columns.contains("emb16") && !raw.columns.contains("embedding"))
    // search round-trips through the transparent decode
    val (c2, out2) = capture(Cli.run(Array("search", "half precision",
      "--k", "1", "--store", s"$dir/store"), spark))
    assert(c2 == 0 && out2.contains("\"id\":\"h1\""))
    // at-rest mode is sticky: a later sync WITHOUT --fp16 must not
    // silently rewrite the store as fp32
    Files.writeString(java.nio.file.Paths.get(pages, "page1.json"),
      pageJson("h2", "second highlight arrives later"))
    val (c3, _) = capture(Cli.run(Array("sync",
      "--pages-dir", pages, "--store", s"$dir/store", "--ckpt", s"$dir/ckpt"), spark))
    assert(c3 == 0)
    val current2 = Files.readString(
      java.nio.file.Paths.get(s"$dir/store", "CURRENT")).trim
    val raw2 = spark.read.parquet(s"$dir/store/$current2")
    assert(raw2.columns.contains("emb16") && !raw2.columns.contains("embedding"))
    assert(raw2.count() == 2)
  }

  test("sync --pooled: search finds tail-only content the capped embed truncates away") {
    val dir = Files.createTempDirectory("graft-cli-pooled").toString
    val pages = s"$dir/pages"
    Files.createDirectories(java.nio.file.Paths.get(pages))
    // a document LONGER than the embedder's input cap (HashNgramEmbedder
    // maxChars = 32768): 3500 ten-char filler words (35 000 chars) push
    // the whole tail past the cap, so the plain embed never sees it; at
    // --chunk-words 1750 the tail lands as its own PURE chunk (1/3 of
    // the pool) whose features survive the mean
    val longDoc = ("alphabeta " * 3500) + ("zanzibarqux " * 1750).trim
    Files.writeString(java.nio.file.Paths.get(pages, "page0.json"),
      pageJson("h1", longDoc))
    Files.writeString(java.nio.file.Paths.get(pages, "page1.json"),
      pageJson("h2", "unrelated distractor content entirely"))
    // a doc that chunks to NOTHING (whitespace text): the pooled path
    // must fall back to the plain embed, not ingest a NULL embedding
    // that every dense serving path would silently drop
    Files.writeString(java.nio.file.Paths.get(pages, "page2.json"),
      pageJson("h3", "   "))

    val (cp, _) = capture(Cli.run(Array("sync", "--backfill", "--pooled",
      "--chunk-words", "1750", "--pages-dir", pages,
      "--store", s"$dir/pooled", "--ckpt", s"$dir/ckptP"), spark))
    assert(cp == 0)
    val pooledCur = Files.readString(
      java.nio.file.Paths.get(s"$dir/pooled", "CURRENT")).trim
    val pooledStore = spark.read.parquet(s"$dir/pooled/$pooledCur")
    val embCol = if (pooledStore.columns.contains("emb16")) "emb16"
      else "embedding"
    assert(pooledStore.filter(
      org.apache.spark.sql.functions.col("id") === "h3" &&
      org.apache.spark.sql.functions.col(embCol).isNotNull).count() == 1L,
      "zero-chunk doc lost its embedding in the pooled ingest")
    val (cq, _) = capture(Cli.run(Array("sync", "--backfill",
      "--pages-dir", pages,
      "--store", s"$dir/plain", "--ckpt", s"$dir/ckptQ"), spark))
    assert(cq == 0)

    def scoreOf(out: String, id: String): Double = {
      val line = out.trim.split("\n").find(_.contains(s""""id":"$id"""")).get
      """"score":([0-9.Ee+-]+)""".r.findFirstMatchIn(line).get.group(1).toDouble
    }
    val (c1, outPooled) = capture(Cli.run(Array("search", "zanzibarqux",
      "--k", "2", "--store", s"$dir/pooled"), spark))
    val (c2, outPlain) = capture(Cli.run(Array("search", "zanzibarqux",
      "--k", "2", "--store", s"$dir/plain"), spark))
    assert(c1 == 0 && c2 == 0)
    // pooled: the long doc is the clear top hit (its tail chunk shares
    // the query's features); plain: the cap dropped the tail, so the
    // doc is ~orthogonal to the query
    assert(outPooled.trim.split("\n").head.contains("\"id\":\"h1\""),
      outPooled)
    val pooledScore = scoreOf(outPooled, "h1")
    val plainScore = scoreOf(outPlain, "h1")
    assert(plainScore - pooledScore > 0.1,
      s"pooled $pooledScore vs plain $plainScore — pooling should beat " +
      "truncation by a clear margin on tail-only content")

    // --chunk-words without --pooled is rejected, not silently dropped
    val (cBad, _) = capture(Cli.run(Array("sync", "--backfill",
      "--chunk-words", "100", "--pages-dir", pages,
      "--store", s"$dir/x", "--ckpt", s"$dir/y"), spark))
    assert(cBad == 2)
  }

  test("curate runs the q140 cascade end-to-end: report row-identical, kept docs land as verifiable shards") {
    val dir = Files.createTempDirectory("graft-cli-curate").toString
    val (c1, out1) = capture(Cli.run(Array("curate",
      "--docs", s"$sfDir/documents.parquet", "--out", s"$dir/shards"), spark))
    assert(c1 == 0, out1)
    val lines = out1.trim.split("\n")
    val (reportLines, manifestLines) = lines.partition(_.contains("\"reason\""))
    // the printed report is ROW-IDENTICAL to the gated q140 output on
    // the same table — one shared cascade definition, no drift possible
    val want = SparkEntry.queries("q140_curation_cascade")(spark, sfDir)
      .collect().map(r => graft.serve.Json.write(Map(
        "source" -> r.getString(0), "reason" -> r.getString(1),
        "n" -> r.getLong(2))))
    assert(reportLines.toSeq == want.toSeq)
    // the kept count from the report equals the manifest's doc total —
    // every kept doc landed in exactly one shard (the q142 digest
    // discipline guards content; counts guard coverage)
    val keptN = reportLines.filter(_.contains("\"reason\":\"keep\""))
      .map(l => """"n":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong).sum
    val shardN = manifestLines
      .map(l => """"n_docs":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong).sum
    assert(keptN == shardN && manifestLines.nonEmpty,
      s"kept $keptN vs sharded $shardN")
    assert(new java.io.File(s"$dir/shards").isDirectory)
    // temperature mixture thins the kept set; report stays identical
    val (c2, out2) = capture(Cli.run(Array("curate",
      "--docs", s"$sfDir/documents.parquet", "--out", s"$dir/shards2",
      "--mix-alpha", "0.5", "--mix-frac", "0.5"), spark))
    assert(c2 == 0)
    val mixedN = out2.trim.split("\n").filter(_.contains("\"n_docs\""))
      .map(l => """"n_docs":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong).sum
    assert(mixedN > 0 && mixedN < keptN, s"mixture did not thin: $mixedN")
    // flag matrix: --report-only needs no --out; half a mixture refuses
    val (c3, out3) = capture(Cli.run(Array("curate",
      "--docs", s"$sfDir/documents.parquet", "--report-only"), spark))
    assert(c3 == 0 && out3.trim.split("\n").toSeq == want.toSeq)
    val (c4, _) = capture(Cli.run(Array("curate",
      "--docs", s"$sfDir/documents.parquet", "--out", s"$dir/x",
      "--mix-alpha", "0.5"), spark))
    assert(c4 == 2)
    val (c5, _) = capture(Cli.run(Array("curate"), spark))
    assert(c5 == 2)
  }
}
