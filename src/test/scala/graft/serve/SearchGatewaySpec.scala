package graft.serve

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.embed.Embedder

/** Full reference lifecycle over real testdata: documents → highlight store
  * (deterministic embeddings) → protocol search via MCP TCP and SSE. */
class SearchGatewaySpec extends SparkTestBase {

  private lazy val store: DataFrame = {
    val embed = Embedder.embedUdf()
    table("documents").select(
      col("doc_id").cast("string").as("id"),
      col("text"),
      col("source").as("source_type"),
      lit("auth").as("source_author"),
      col("source").as("source_title"),
      lit(null).cast("string").as("source_url"),
      lit("article").as("category"),
      lit(null).cast("string").as("note"),
      col("n_chars").cast("int").as("location"),
      to_timestamp(lit("2024-03-01 10:00:00")).as("highlighted_at"),
      array(col("lang"), col("source")).as("tags"),
      embed(col("text")).as("embedding")
    ).cache()
  }

  test("gateway: top-k rows decoded with score ascending") {
    val gw = new SearchGateway(store)
    val rows = gw.search(SearchParams(query = "spark vector join", k = 5)).toList
    assert(rows.length == 5)
    val scores = rows.map(_("score").asInstanceOf[Double])
    assert(scores == scores.sorted)
    assert(rows.head.contains("id") && rows.head.contains("text"))
    assert(rows.head("highlighted_at").toString.startsWith("2024-03-01T10:00"))
  }

  test("gateway: filters narrow the result set") {
    val gw = new SearchGateway(store)
    val lang = store.select(element_at(col("tags"), 1)).head().getString(0)
    val rows = gw.search(SearchParams(query = "data", k = 50,
      tags = Some(Seq(lang)))).toList
    assert(rows.nonEmpty)
    assert(rows.forall(_("tags").asInstanceOf[scala.collection.Seq[String]].contains(lang)))

    val none = gw.search(SearchParams(query = "data", k = 5,
      sourceType = Some("no-such-source"))).toList
    assert(none.isEmpty)
  }

  test("gateway mmr: λ=1 ≡ plain order, λ<1 de-clumps, junk λ ignored, hybrid wins") {
    val gw = new SearchGateway(store)
    val q = "spark vector join"
    def ids(rows: List[Map[String, Any]]): List[String] =
      rows.map(_("id").asInstanceOf[String])
    val plain = gw.search(SearchParams(query = q, k = 10)).toList
    // λ=1: mmr = λ·rel — pure relevance, ties toward smaller id: the
    // plain path's exact order (the dial's endpoint is consistent)
    val l1 = gw.search(SearchParams(query = q, k = 10,
      mmrLambda = Some(1.0))).toList
    assert(ids(l1) == ids(plain))
    // score stays the cosine distance on the mmr path (comparable scales)
    assert(l1.map(_("score")) == plain.map(_("score")))
    def meanPairSim(xs: List[String]): Double = {
      val vs = store.filter(col("id").isin(xs: _*))
        .select(col("embedding")).collect()
        .map(_.getAs[Seq[Float]](0).toArray)
      val sims = for { i <- vs.indices; j <- i + 1 until vs.length }
        yield 1.0 - graft.functions.VectorMath.cosineDistance(vs(i), vs(j))
      sims.sum / sims.size
    }
    // λ=0.3 diversifies: order changes and the result set de-clumps
    val div = gw.search(SearchParams(query = q, k = 10,
      mmrLambda = Some(0.3))).toList
    assert(ids(div) != ids(plain))
    assert(meanPairSim(ids(div)) <= meanPairSim(ids(plain)) + 1e-12)
    // deterministic re-run
    assert(ids(gw.search(SearchParams(query = q, k = 10,
      mmrLambda = Some(0.3))).toList) == ids(div))
    // lenient parse: only numeric (0, 1] opts in
    assert(SearchParams.fromHttp("x", mmr = Some("1.5")).toOption.get.mmrLambda.isEmpty)
    assert(SearchParams.fromHttp("x", mmr = Some("junk")).toOption.get.mmrLambda.isEmpty)
    assert(SearchParams.fromHttp("x", mmr = Some("0")).toOption.get.mmrLambda.isEmpty)
    assert(SearchParams.fromHttp("x", mmr = Some("0.4")).toOption.get.mmrLambda.contains(0.4))
    assert(SearchParams.fromMcp(Map("q" -> "x", "mmr" -> 0.4)).toOption.get.mmrLambda.contains(0.4))
    // hybrid + mmr: hybrid wins (RRF candidates carry no embeddings)
    val hybridOnly = gw.search(SearchParams(query = q, k = 10,
      hybrid = true)).toList
    val both = gw.search(SearchParams(query = q, k = 10, hybrid = true,
      mmrLambda = Some(0.3))).toList
    assert(ids(both) == ids(hybridOnly))
  }

  test("gateway hybrid: RRF fusion of the dense and BM25 legs, filters scope both") {
    val gw = new SearchGateway(store)
    // query terms that really occur in the corpus, so the lexical leg bites
    val words = store.select(col("text")).head().getString(0)
      .split(" ").filter(_.nonEmpty).distinct.take(2)
    val q = words.mkString(" ")
    val rows = gw.search(SearchParams(query = q, k = 5, hybrid = true)).toList
    assert(rows.length == 5)
    // hybrid scores are RRF values: descending, in (0, 2/61]
    val scores = rows.map(_("score").asInstanceOf[Double])
    assert(scores == scores.sortBy(-_))
    assert(scores.forall(s => s > 0.0 && s <= 2.0 / 61))
    assert(rows.head.contains("id") && rows.head.contains("text"))
    // the fused list is exactly rrfFuseLocal(dense ids, bm25 ids) — the
    // gateway composes the same legs a pipeline would
    val dense = gw.search(SearchParams(query = q, k = 5)).toList
      .map(_("id").asInstanceOf[String])
    val lex = graft.text.TextRank.bm25TopK(store, "text", "id",
        words.toSeq, k = 5)
      .collect().map(_.getString(0)).toSeq
    val expect = graft.text.TextRank.rrfFuseLocal(dense, lex, 5).map(_._1)
    assert(rows.map(_("id").asInstanceOf[String]) == expect)
    // a metadata filter scopes BOTH legs: every hit carries the filter value
    val st = store.select(col("source_type")).head().getString(0)
    val filtered = gw.search(SearchParams(query = q, k = 10,
      sourceType = Some(st), hybrid = true)).toList
    assert(filtered.nonEmpty)
    assert(filtered.forall(_("source_type") == st))
  }

  test("index-backed gateway: filterless queries probe the IVF index, agree with the store scan, and follow live refresh") {
    val root = java.nio.file.Files.createTempDirectory("gw-ivf").toString
    val storeDir = s"$root/store"; val ivfDir = s"$root/ivf"
    try {
      graft.sync.HighlightStore.writeAtomic(store, storeDir)
      graft.similarity.Knn.ivfBuildIndex(store, "embedding", "id", ivfDir,
        k = 4, iters = 2,
        trainFilter = crc32(col("id")) % 5 === 0)
      val storeHandle = graft.sync.HighlightStore.reloadingWarm(spark, storeDir)
      val ivfHandle = graft.similarity.Knn.IvfIndex.reloading(spark, ivfDir)
      val gw = new SearchGateway(() => storeHandle.get.serving,
        Embedder.Default, Some(() => ivfHandle.get), 4)
      // nprobe = all cells → the probe's recall is exact and the index
      // path must return the SAME ids/scores as the store scan
      val plain = new SearchGateway(store)
        .search(SearchParams(query = "spark vector join", k = 5)).toList
      val indexed = gw
        .search(SearchParams(query = "spark vector join", k = 5)).toList
      assert(indexed.map(r => (r("id"), r("score"))) ==
        plain.map(r => (r("id"), r("score"))))
      assert(indexed.head.contains("text")) // rehydrated serving columns
      // a FILTERED query falls back to the store scan path
      val lang = store.select(element_at(col("tags"), 1)).head().getString(0)
      val filtered = gw.search(SearchParams(query = "data", k = 50,
        tags = Some(Seq(lang)))).toList
      assert(filtered.nonEmpty && filtered.forall(
        _("tags").asInstanceOf[scala.collection.Seq[String]].contains(lang)))
      // live refresh: a new doc lands in store + index via CorpusRefresh;
      // the SAME gateway instance serves it — no restart
      val probe = "zzgatewayreload"
      val newDoc = store.limit(1)
        .withColumn("id", lit("zz-new"))
        .withColumn("text", lit(s"the $probe document"))
        .withColumn("embedding", Embedder.embedUdf()(col("text")))
      val snap = store.unionByName(newDoc)
      graft.sync.CorpusRefresh.refresh(spark, snap, "text", "id", storeDir,
        ivfIndexDir = Some(ivfDir)).unpersist()
      val got = gw.search(SearchParams(query = s"the $probe document",
        k = 1)).toList
      assert(got.map(_("id")) == List("zz-new"), got.map(_("id")))
      assert(got.head("text").toString.contains(probe)) // rehydrated from the NEW store version
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator()
        .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("attr-carrying index serves FILTERED queries from the probe, agreeing with the store scan") {
    val root = java.nio.file.Files.createTempDirectory("gw-ivf-attr").toString
    val ivfDir = s"$root/ivf"
    try {
      // the cells carry every servable filter column, so the gateway's
      // filtered route stays on the index instead of falling back
      graft.similarity.Knn.ivfBuildIndex(store, "embedding", "id", ivfDir,
        k = 4, iters = 2, trainFilter = crc32(col("id")) % 5 === 0,
        attrCols = Seq("source_type", "source_author", "tags",
          "highlighted_at"))
      val idx = graft.similarity.Knn.IvfIndex.load(spark, ivfDir)
      assert(idx.attrColumns.toSet ==
        Set("source_type", "source_author", "tags", "highlighted_at"))
      val gw = new SearchGateway(() => store, Embedder.Default,
        Some(() => idx), 4)
      // nprobe = all cells → index recall is exact, so the filtered
      // index route must agree with the store scan bit-for-bit
      val st = store.select(col("source_type")).head().getString(0)
      val viaIndex = gw.search(SearchParams(query = "spark vector join",
        k = 5, sourceType = Some(st))).toList
      val viaStore = new SearchGateway(store)
        .search(SearchParams(query = "spark vector join",
          k = 5, sourceType = Some(st))).toList
      assert(viaIndex.map(r => (r("id"), r("score"))) ==
        viaStore.map(r => (r("id"), r("score"))))
      assert(viaIndex.nonEmpty && viaIndex.forall(_("source_type") == st))
      // array-overlap filter (tags) rides the same route
      val tag = store.select(element_at(col("tags"), 1)).head().getString(0)
      val tagged = gw.search(SearchParams(query = "data", k = 10,
        tags = Some(Seq(tag)))).toList
      val taggedStore = new SearchGateway(store)
        .search(SearchParams(query = "data", k = 10,
          tags = Some(Seq(tag)))).toList
      assert(tagged.map(r => (r("id"), r("score"))) ==
        taggedStore.map(r => (r("id"), r("score"))))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator()
        .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("PQ+refine dense index behind the gateway: cosine scores agree with the store scan at full probe") {
    val root = java.nio.file.Files.createTempDirectory("gw-pq").toString
    try {
      // the r11 default dense mode: IVFADC codes + exact fp16 cosine
      // refine, routed through the same DenseIndex contract as the fp16
      // IVF probe. nprobe = all cells AND a refine rung sized past the
      // corpus ⇒ the shortlist contains every row, so the gateway's
      // PQ route must agree with the store scan bit-for-bit at fp16
      // input precision (same fused fp16_cosine_distance kernel).
      val n = store.count().toInt
      graft.similarity.Knn.ivfPqBuildIndex(store, "embedding", "id",
        s"$root/pq", cells = 4, m = 8, ksub = 16, iters = 2,
        trainFilter = crc32(col("id")) % 5 === 0, refine = true)
      val idx = graft.similarity.Knn.IvfIndex.load(spark, s"$root/pq")
      assert(idx.hasRefine)
      val gw = new SearchGateway(() => store, Embedder.Default,
        Some(() => idx.asDense(n / 5 + 2)), nprobe = 4)
      val viaPq = gw.search(SearchParams(query = "spark vector join",
        k = 5)).toList
      val viaStore = new SearchGateway(store)
        .search(SearchParams(query = "spark vector join", k = 5)).toList
      assert(viaPq.map(_("id")) == viaStore.map(_("id")))
      // the store scores fp32 vectors, the refine stage fp16 ones —
      // identical ranking, scores equal at fp16 rounding tolerance
      viaPq.zip(viaStore).foreach { case (a, b) =>
        assert(math.abs(a("score").asInstanceOf[Double] -
          b("score").asInstanceOf[Double]) < 2e-3) }
      assert(viaPq.head.contains("text")) // rehydrated serving columns
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator()
        .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("index-backed gateway refuses a query embedded at the wrong dimension") {
    val root = java.nio.file.Files.createTempDirectory("gw-dim").toString
    try {
      // both IVF layouts are built over the 64-dim store; the gateway
      // embeds at 32 dims — a truncated dot product would score rows
      graft.similarity.Knn.ivfBuildIndex(store, "embedding", "id",
        s"$root/ivf", k = 4, iters = 2,
        trainFilter = crc32(col("id")) % 5 === 0, attrCols = Seq("source_type"))
      graft.similarity.Knn.ivfPqBuildIndex(store, "embedding", "id",
        s"$root/pq", cells = 4, m = 8, ksub = 16, iters = 2,
        trainFilter = crc32(col("id")) % 5 === 0, refine = true,
        attrCols = Seq("source_type"))
      val wrong = graft.embed.HashNgramEmbedder(dim = 32)
      val indexes = Seq(
        graft.similarity.Knn.IvfIndex.load(spark, s"$root/ivf"),
        graft.similarity.Knn.IvfIndex.load(spark, s"$root/pq").asDense(4))
      indexes.foreach { idx =>
        val gw = new SearchGateway(() => store, wrong, Some(() => idx), 4)
        val plain = intercept[IllegalArgumentException] {
          gw.search(SearchParams(query = "spark vector join", k = 5)).toList
        }
        assert(plain.getMessage.contains("32") &&
          plain.getMessage.contains("64"), plain.getMessage)
        val st = store.select(col("source_type")).head().getString(0)
        val filtered = intercept[IllegalArgumentException] {
          gw.search(SearchParams(query = "spark vector join", k = 5,
            sourceType = Some(st))).toList
        }
        assert(filtered.getMessage.contains("32") &&
          filtered.getMessage.contains("64"), filtered.getMessage)
      }
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator()
        .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("MCP server serves real searches over TCP") {
    val gw = new SearchGateway(store)
    val server = new McpServer(gw.search).start()
    try {
      val sock = new Socket("127.0.0.1", server.boundPort)
      try {
        val out = new BufferedWriter(new OutputStreamWriter(
          sock.getOutputStream, StandardCharsets.UTF_8))
        val in = new BufferedReader(new InputStreamReader(
          sock.getInputStream, StandardCharsets.UTF_8))
        out.write("""{"jsonrpc":"2.0","method":"search","params":{"q":"filter sort","k":3},"id":1}""" + "\n")
        out.flush()
        sock.shutdownOutput()
        val replies = Iterator.continually(in.readLine()).takeWhile(_ != null).toList
        assert(replies.length == 3)
        val m = McpFraming.parseLine(replies.head)
        val row = m.result.get.asInstanceOf[Map[String, Any]]
        // per-result MCP payload is exactly {id, text, score} (server.py:117-121)
        assert(row.keySet == Set("id", "text", "score"))
      } finally sock.close()
    } finally server.shutdown(1000)
  }

  test("SSE stream over real search results") {
    val gw = new SearchGateway(store)
    val events = SseFraming.stream(
      gw.search(SearchParams(query = "table row", k = 2))).toList
    assert(events.length == 3)
    assert(events.take(2).forall(_.startsWith("event: result\ndata: {\"id\":")))
    assert(events.last == "event: complete\ndata: {\"total\":2}\n\n")
  }

  test("health probe") {
    assert(Health.check(spark) == Map("status" -> "ok"))
  }
}
