package graft.sync

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Delta refresh over store + both persistent indexes: the re-ingest
  * loop. Equality baselines are wholesale rebuilds from the NEW
  * snapshot; delta ids are kept outside the IVF training sample so the
  * refreshed index (frozen geometry from the old build) and the rebuilt
  * index (trained on the new snapshot's sample) share centroids exactly
  * and must agree row-for-row. */
class CorpusRefreshSpec extends SparkTestBase {
  import spark.implicits._

  private def rmrf(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
  }
  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  // snapshot A: docs 0..59 with text + a deterministic 4-dim vector;
  // snapshot B: doc 7 removed, docs 11/23 changed (text AND vector),
  // docs 60..64 added — all delta ids outside the %5 training sample
  private def vec(id: Long, salt: Int): Array[Float] =
    Array.tabulate(4)(d => (((id * 31 + d * 7 + salt) % 13).toFloat + 1f))
  private def snap(ids: Seq[Long], changed: Set[Long]):
      org.apache.spark.sql.DataFrame =
    ids.map { i =>
      val salt = if (changed(i)) 5 else 0
      val extra = if (changed(i)) " changed" else ""
      (i, s"doc $i body join merge scan filter${extra} pad$i", vec(i, salt))
    }.toDF("doc_id", "text", "embedding")

  private val snapA = snap(0L until 60L, Set.empty)
  private val snapB = snap((0L until 60L).filterNot(_ == 7L) ++ (60L to 64L),
    Set(11L, 23L))

  test("refresh applies adds/removes/changes; store+lex+ivf equal rebuilds from the new snapshot") {
    val store = tmp("cr-store"); val lex = tmp("cr-lex"); val ivf = tmp("cr-ivf")
    val lexRef = tmp("cr-lexref"); val ivfRef = tmp("cr-ivfref")
    try {
      HighlightStore.writeAtomic(snapA, store)
      graft.text.TextRank.buildLexicalIndex(snapA, "text", "doc_id", lex)
      graft.similarity.Knn.ivfBuildIndex(snapA, "embedding", "doc_id", ivf,
        k = 3, iters = 2, trainFilter = col("doc_id") % 5 === 0)

      val delta = CorpusRefresh.refresh(spark, snapB, "text", "doc_id",
        store, lexIndexDir = Some(lex), ivfIndexDir = Some(ivf))
      val byStatus = delta.as[(Long, String)].collect().toSet
      assert(byStatus == Set((7L, "removed"), (11L, "changed"),
        (23L, "changed")) ++ (60L to 64L).map(i => (i, "added")))
      delta.unpersist()

      // store now serves exactly snapshot B
      assert(HighlightStore.read(spark, store).get
        .orderBy("doc_id").collect().toSeq
        == snapB.orderBy("doc_id").collect().toSeq)

      // lexical: tombstone+append serves BIT-identically to a rebuild —
      // including the changed docs' NEW text under sequence-scoped
      // tombstones (the old masked, the re-append served)
      graft.text.TextRank.buildLexicalIndex(snapB, "text", "doc_id", lexRef)
      val terms = Seq("join", "changed")
      assert(graft.text.TextRank.searchLexicalIndex(spark, lex, terms, 15)
        .collect().toSeq
        == graft.text.TextRank.searchLexicalIndex(spark, lexRef, terms, 15)
          .collect().toSeq)

      // ivf: same frozen centroids (delta avoided the %5 sample) → the
      // refreshed index and the rebuild agree row-for-row, the changed
      // doc's NEW vector is the served one, the removed id is gone
      graft.similarity.Knn.ivfBuildIndex(snapB, "embedding", "doc_id",
        ivfRef, k = 3, iters = 2, trainFilter = col("doc_id") % 5 === 0)
      val qv = vec(23L, 5)
      val got = graft.similarity.Knn
        .IvfIndex.load(spark, ivf)
          .search(qv, k = 10, nprobe = 3).collect().toSeq
      assert(got == graft.similarity.Knn
        .IvfIndex.load(spark, ivfRef)
          .search(qv, k = 10, nprobe = 3).collect().toSeq)
      assert(!got.map(_.getLong(0)).contains(7L))
      assert(got.map(_.getLong(0)).contains(23L)) // its own vector → top hit

      // idempotence: a second refresh with the same snapshot is a no-op —
      // no new segments, no new store version
      val lexSegs = SegmentedIndex.resolve(spark, lex).get
      val again = CorpusRefresh.refresh(spark, snapB, "text", "doc_id",
        store, lexIndexDir = Some(lex), ivfIndexDir = Some(ivf))
      assert(again.isEmpty)
      assert(SegmentedIndex.resolve(spark, lex).get == lexSegs)
    } finally { Seq(store, lex, ivf, lexRef, ivfRef).foreach(rmrf) }
  }

  test("metadata-only edits reach the store and an attr-carrying IVF index under their own status") {
    val store = tmp("crm-store"); val ivf = tmp("crm-ivf")
    // tags, author and note are stored metadata; `version` is not
    // compared (a fresh export restamps it on every row)
    def meta(snapV: Long, retag: Set[Long], renote: Set[Long]) =
      snapA.as[(Long, String, Array[Float])].collect().toSeq.map {
        case (i, text, v) =>
          (i, text, v,
            if (retag(i)) Seq("edited") else Seq(s"t${i % 3}"),
            s"author${i % 4}",
            if (renote(i)) "new note" else "note", snapV)
      }.toDF("doc_id", "text", "embedding", "tags", "author", "note",
        "version")
    try {
      val before = meta(1L, Set.empty, Set.empty)
      HighlightStore.writeAtomic(before, store)
      graft.similarity.Knn.ivfBuildIndex(before, "embedding", "doc_id", ivf,
        k = 3, iters = 2, trainFilter = col("doc_id") % 5 === 0,
        attrCols = Seq("note"))
      val after = meta(2L, retag = Set(11L), renote = Set(23L))
      val delta = CorpusRefresh.refresh(spark, after, "text", "doc_id",
        store, ivfIndexDir = Some(ivf))
      // not "changed": the text (and so the vector) is the same
      assert(delta.as[(Long, String)].collect().toSet ==
        Set((11L, "metadata"), (23L, "metadata")))
      delta.unpersist()
      val stored = HighlightStore.read(spark, store).get
      assert(stored.filter($"doc_id" === 11L).select($"tags")
        .as[Seq[String]].head() == Seq("edited"))
      assert(stored.filter($"doc_id" === 23L).select($"note")
        .as[String].head() == "new note")
      // the index serves the new attr value, and only the new one
      val idx = graft.similarity.Knn.IvfIndex.load(spark, ivf)
      val hits = idx.search(vec(23L, 0), k = 60, nprobe = 3,
        Some($"note" === "new note")).select($"id").as[Long].collect()
      assert(hits.toSeq == Seq(23L))
      assert(idx.search(vec(23L, 0), k = 60, nprobe = 3,
          Some($"note" === "note")).select($"id").as[Long].collect()
        .count(_ == 23L) == 0)
    } finally { Seq(store, ivf).foreach(rmrf) }
  }

  test("refresh drives the flat graph + code sidecar: resident serving follows the delta") {
    val store = tmp("cr6-store"); val g = tmp("cr6-graph") + "/i"
    try {
      HighlightStore.writeAtomic(snapA, store)
      val edges = graft.similarity.Knn.knnGraph(snapA, "embedding",
        "doc_id", topK = 5).select($"id_a", $"id_b")
      graft.similarity.Knn.buildAdjacencyIndex(edges, snapA, "embedding",
        "doc_id", g, buckets = 4)
      graft.similarity.Knn.buildGraphCodes(spark, g, codec = "int8")
      // ivf alongside, as `Cli serve --graph-index --graph-entry-ivf`
      // deploys it: vec() collides mod 13, so this corpus is
      // exact-duplicate clusters with no inter-cluster gradient, and
      // entry selection — not the walk — must land queries in their own
      // cluster; the refresh maintains both artifacts in one pass
      val ivf = tmp("cr6-ivf") + "/i"
      graft.similarity.Knn.ivfBuildIndex(snapA, "embedding", "doc_id",
        ivf, k = 8, iters = 2, trainFilter = col("doc_id") % 5 === 0,
        fp16 = true)
      CorpusRefresh.refresh(spark, snapB, "text", "doc_id", store,
        ivfIndexDir = Some(ivf), graphIndexDir = Some(g)).unpersist()
      // the sidecar was re-covered in the SAME pass: the resident load
      // (which refuses stale sidecars) serves the refreshed corpus —
      // removed doc gone, added doc findable at its own query, changed
      // doc serving its NEW vector
      val idx = graft.similarity.Knn.ResidentGraphIndex.load(spark, g,
        Some(ivf), ef = 16)
      // 62's cluster holds exact duplicates (10/36/49/62 tie at 0.0 and
      // break by id) — the add is served if it appears at distance ~0
      val got62 = idx.servingTopK(vec(62L, 0), 5, 0, None)
      assert(got62.exists(r => r.getLong(0) == 62L && r.getDouble(1) < 1e-3),
        got62.toSeq.toString)
      val got23 = idx.servingTopK(vec(23L, 5), 5, 0, None)
      assert(got23.exists(r => r.getLong(0) == 23L && r.getDouble(1) < 1e-3),
        got23.toSeq.toString)
      val got7 = idx.servingTopK(vec(7L, 0), 10, 0, None)
      assert(got7.nonEmpty && got7.forall(_.getLong(0) != 7L))
      // meta replay: the re-covered sidecar kept its codec
      assert(graft.similarity.Knn.graphCodesMeta(spark, g)
        .getAs[String]("codec") == "int8")
    } finally { Seq(store, g).foreach(rmrf) }
  }

  test("sharded refresh: the delta routes by the build's pmod rule; untouched shards don't churn") {
    val store = tmp("cr9-store"); val root = tmp("cr9-shards")
    try {
      HighlightStore.writeAtomic(snapA, store)
      // the one-call sharded deployment (adjacency + int8 sidecar +
      // entry IVF per pmod(doc_id, 2) shard)
      val dirs = graft.similarity.Knn.ShardedResidentIndex.build(snapA,
        "embedding", "doc_id", root, shards = 2, topK = 5)
      CorpusRefresh.refresh(spark, snapB, "text", "doc_id", store,
        graphShardDirs = dirs).unpersist()
      // the gateway (which refuses stale sidecars per shard) serves the
      // refreshed corpus: add 62 (shard 0) findable at ~0, change 23
      // (shard 1) serves its NEW vector, removal 7 (shard 1) gone
      val idx = graft.similarity.Knn.ShardedResidentIndex.load(spark, dirs,
        ef = 16)
      val got62 = idx.servingTopK(vec(62L, 0), 5, 0, None)
      assert(got62.exists(r => r.getLong(0) == 62L && r.getDouble(1) < 1e-3),
        got62.toSeq.toString)
      val got23 = idx.servingTopK(vec(23L, 5), 5, 0, None)
      assert(got23.exists(r => r.getLong(0) == 23L && r.getDouble(1) < 1e-3),
        got23.toSeq.toString)
      val got7 = idx.servingTopK(vec(7L, 0), 20, 0, None)
      assert(got7.nonEmpty && got7.forall(_.getLong(0) != 7L))
      // a delta touching ONLY shard 0 (doc 60 changes) leaves every
      // shard-1 pointer alone: no tombstone churn, no sidecar segment,
      // no entry-IVF segment — the gateway fingerprint only moves
      // because shard 0 moved
      val s1 = dirs(1)._1; val s1ivf = dirs(1)._2.get
      def pointers(): (Option[Seq[String]], Option[Seq[String]],
          Option[Seq[String]]) =
        (SegmentedIndex.resolve(spark, s1),
          SegmentedIndex.resolve(spark, s"$s1/pqcodes"),
          SegmentedIndex.resolve(spark, s1ivf))
      val before = pointers()
      val snapC = snap((0L until 60L).filterNot(_ == 7L) ++ (60L to 64L),
        Set(11L, 23L, 60L))
      val d2 = CorpusRefresh.refresh(spark, snapC, "text", "doc_id", store,
        graphShardDirs = dirs)
      assert(d2.as[(Long, String)].collect().toSet ==
        Set((60L, "changed")))
      d2.unpersist()
      assert(pointers() == before)
      // ...and shard 0 serves the change through the reloaded gateway
      val idx2 = graft.similarity.Knn.ShardedResidentIndex.load(spark, dirs,
        ef = 16)
      val got60 = idx2.servingTopK(vec(60L, 5), 5, 0, None)
      assert(got60.exists(r => r.getLong(0) == 60L && r.getDouble(1) < 1e-3),
        got60.toSeq.toString)
    } finally { Seq(store, root).foreach(rmrf) }
  }

  test("sidecar re-cover is O(delta): one new segment of exactly the upsert rows; append == full rebuild byte-for-byte") {
    val store = tmp("cr7-store"); val g = tmp("cr7-graph") + "/i"
    try {
      HighlightStore.writeAtomic(snapA, store)
      val edges = graft.similarity.Knn.knnGraph(snapA, "embedding",
        "doc_id", topK = 5).select($"id_a", $"id_b")
      graft.similarity.Knn.buildAdjacencyIndex(edges, snapA, "embedding",
        "doc_id", g, buckets = 4)
      graft.similarity.Knn.buildGraphCodes(spark, g, codec = "int8")
      val before = SegmentedIndex.resolve(spark, s"$g/pqcodes").get
      assert(before.size == 1)
      CorpusRefresh.refresh(spark, snapB, "text", "doc_id", store,
        graphIndexDir = Some(g)).unpersist()
      // O(delta): the base segment is UNTOUCHED, exactly one appended
      // segment holding exactly the upsert rows (2 changed + 5 added) —
      // never a corpus replay (the r13 re-cover replayed the full build
      // on every delta)
      val after = SegmentedIndex.resolve(spark, s"$g/pqcodes").get
      assert(after.size == 2 && after.head == before.head, after.toString)
      assert(spark.read.parquet(s"$g/pqcodes/${after(1)}/codes")
        .count() == 7)
      // append == rebuild: the O(delta) codes are byte-identical (over
      // the LIVE set — stale rows for removed/changed ids are never
      // consulted and compact away) to a full replay over the refreshed
      // adjacency, so resident serving is row-identical too
      def liveCodes(): Map[Long, Seq[Byte]] = {
        val live = graft.similarity.Knn.AdjIndex.load(spark, g).relation
          .filter($"src" === $"dst").select($"src").as[Long].collect().toSet
        SegmentedIndex.resolve(spark, s"$g/pqcodes").get
          .foldLeft(Map.empty[Long, Seq[Byte]]) { (m, seg) =>
            m ++ spark.read.parquet(s"$g/pqcodes/$seg/codes").collect()
              .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq)
          }.filter { case (id, _) => live(id) }
      }
      val qv = vec(23L, 5)
      val servedAppend = graft.similarity.Knn.ResidentGraphIndex
        .load(spark, g).servingTopK(qv, 10, 0, None).toSeq
      val codesAppend = liveCodes()
      graft.similarity.Knn.rebuildGraphCodes(spark, g)
      // the rebuild COMPACTED: one fresh segment behind the same pointer
      assert(SegmentedIndex.resolve(spark, s"$g/pqcodes").get.size == 1)
      assert(liveCodes() == codesAppend)
      assert(graft.similarity.Knn.ResidentGraphIndex.load(spark, g)
        .servingTopK(qv, 10, 0, None).toSeq == servedAppend)
    } finally { Seq(store, g).foreach(rmrf) }
  }

  test("pq sidecar: in-distribution churn appends; the drift trigger retrains; fan-out compacts") {
    val store = tmp("cr8-store"); val g = tmp("cr8-graph") + "/i"
    try {
      HighlightStore.writeAtomic(snapA, store)
      val edges = graft.similarity.Knn.knnGraph(snapA, "embedding",
        "doc_id", topK = 5).select($"id_a", $"id_b")
      graft.similarity.Knn.buildAdjacencyIndex(edges, snapA, "embedding",
        "doc_id", g, buckets = 4)
      graft.similarity.Knn.buildGraphCodes(spark, g, m = 2, ksub = 4)
      // in-distribution delta (same vec() family): encodes against the
      // FROZEN base codebooks — appended, not retrained
      CorpusRefresh.refresh(spark, snapB, "text", "doc_id", store,
        graphIndexDir = Some(g)).unpersist()
      assert(SegmentedIndex.resolve(spark, s"$g/pqcodes").get.size == 2)
      // drift trigger plumbing: a ratio below any batch's drift forces
      // the retrain — pointer collapses to one fresh segment
      val snapC = snap((0L until 60L).filterNot(_ == 7L) ++ (60L to 64L),
        Set(11L, 23L, 40L))
      CorpusRefresh.refresh(spark, snapC, "text", "doc_id", store,
        graphIndexDir = Some(g), codesDriftRatio = -1.0).unpersist()
      assert(SegmentedIndex.resolve(spark, s"$g/pqcodes").get.size == 1)
      // resident serving follows throughout: the load's coverage check
      // (refuses any live node without a code) passing after the
      // retrain proves the fresh segment covers snapC's live set, and
      // the codec survived the replay. (No walk-reaches-40 assertion:
      // this corpus is exact-duplicate clusters — the cr6 test's
      // documented degeneracy — where navigation needs ivf entries.)
      assert(graft.similarity.Knn.graphCodesMeta(spark, g)
        .getAs[String]("codec") == "pq")
      assert(graft.similarity.Knn.ResidentGraphIndex.load(spark, g)
        .servingTopK(vec(40L, 5), 5, 0, None).length == 5)
    } finally { Seq(store, g).foreach(rmrf) }
  }

  test("a pre-segmentation flat sidecar is adopted: refresh migrates it in place, then maintains it O(delta)") {
    val store = tmp("cr9-store"); val g = tmp("cr9-graph") + "/i"
    try {
      HighlightStore.writeAtomic(snapA, store)
      val edges = graft.similarity.Knn.knnGraph(snapA, "embedding",
        "doc_id", topK = 5).select($"id_a", $"id_b")
      graft.similarity.Knn.buildAdjacencyIndex(edges, snapA, "embedding",
        "doc_id", g, buckets = 4)
      graft.similarity.Knn.buildGraphCodes(spark, g, m = 2, ksub = 4)
      // devolve to the r13 flat layout the old writer produced: contents
      // up one level, no CURRENT pointer, meta WITHOUT the train_err
      // field (the flat writer never recorded it)
      val root = s"$g/pqcodes"
      val seg = SegmentedIndex.resolve(spark, root).get.head
      val flatMeta = spark.read.parquet(s"$root/$seg/meta")
        .drop("train_err").collect().head
      spark.createDataFrame(java.util.List.of(flatMeta),
          flatMeta.schema)
        .coalesce(1).write.parquet(s"$root/meta")
      import java.nio.file.{Files, Paths}
      Seq("codes", "codebooks").foreach { d =>
        Files.move(Paths.get(s"$root/$seg/$d"), Paths.get(s"$root/$d")) }
      rmrf(s"$root/$seg"); Files.delete(Paths.get(s"$root/CURRENT"))
      assert(graft.similarity.Knn.legacyFlatGraphCodes(g))
      assert(!graft.similarity.Knn.graphCodesReady(g))
      // the resident load refuses LOUDLY, naming the adoption path
      val e = intercept[IllegalArgumentException] {
        graft.similarity.Knn.ResidentGraphIndex.load(spark, g)
      }
      assert(e.getMessage.contains("migrateGraphCodes"), e.getMessage)
      // a refresh ADOPTS the flat sidecar instead of silently dropping
      // its maintenance: migrated to one segment + the delta appended
      // O(delta) against the migrated (frozen) codebooks
      CorpusRefresh.refresh(spark, snapB, "text", "doc_id", store,
        graphIndexDir = Some(g)).unpersist()
      val segs = SegmentedIndex.resolve(spark, root).get
      assert(segs.size == 2, segs.toString)
      assert(spark.read.parquet(s"$root/${segs(1)}/codes").count() == 7)
      // the migrated meta carries a MEASURED train-time anchor (the flat
      // layout had none), so the drift ratio has a denominator
      assert(graft.similarity.Knn.graphCodesMeta(spark, g)
        .getAs[Double]("train_err") > 0.0)
      // flat dirs are swept by the first segmented commit
      assert(!new java.io.File(s"$root/codes").exists())
      assert(!new java.io.File(s"$root/codebooks").exists())
      // resident serving works off the adopted sidecar (coverage check
      // passes over migrated base + appended delta)
      assert(graft.similarity.Knn.ResidentGraphIndex.load(spark, g)
        .servingTopK(vec(40L, 0), 5, 0, None).length == 5)
      // idempotent: nothing left to migrate
      assert(!graft.similarity.Knn.migrateGraphCodes(spark, g))
    } finally { Seq(store, g).foreach(rmrf) }
  }

  test("churn: the compaction trigger keeps repeated refreshes' segment lists bounded") {
    val store = tmp("cr3-store"); val lex = tmp("cr3-lex"); val ivf = tmp("cr3-ivf")
    val lexRef = tmp("cr3-lexref"); val ivfRef = tmp("cr3-ivfref")
    try {
      HighlightStore.writeAtomic(snapA, store)
      graft.text.TextRank.buildLexicalIndex(snapA, "text", "doc_id", lex)
      graft.similarity.Knn.ivfBuildIndex(snapA, "embedding", "doc_id", ivf,
        k = 3, iters = 2, trainFilter = col("doc_id") % 5 === 0)
      // six refresh cycles, each changing one more doc (ids off the %5
      // training sample so the frozen geometry matches a rebuild's);
      // without the trigger the list grows 2 entries/cycle forever —
      // with maxSegments=4 it must stay bounded the whole run
      val churn = Seq(21L, 22L, 23L, 24L, 26L, 27L)
      var changed = Set.empty[Long]
      for (d <- churn) {
        changed += d
        CorpusRefresh.refresh(spark, snap(0L until 60L, changed), "text",
          "doc_id", store, lexIndexDir = Some(lex), ivfIndexDir = Some(ivf),
          maxSegments = 4).unpersist()
        Seq(lex, ivf).foreach { dir =>
          val segs = SegmentedIndex.resolve(spark, dir).get
          assert(segs.size <= 4,
            s"$dir grew to ${segs.size} entries under churn: $segs")
        }
      }
      // compaction never changed what is served: both indexes still
      // equal wholesale rebuilds from the final snapshot
      val fin = snap(0L until 60L, changed)
      graft.text.TextRank.buildLexicalIndex(fin, "text", "doc_id", lexRef)
      val terms = Seq("join", "changed")
      assert(graft.text.TextRank.searchLexicalIndex(spark, lex, terms, 15)
        .collect().toSeq
        == graft.text.TextRank.searchLexicalIndex(spark, lexRef, terms, 15)
          .collect().toSeq)
      graft.similarity.Knn.ivfBuildIndex(fin, "embedding", "doc_id", ivfRef,
        k = 3, iters = 2, trainFilter = col("doc_id") % 5 === 0)
      val qv = vec(24L, 5)
      assert(graft.similarity.Knn
        .IvfIndex.load(spark, ivf)
          .search(qv, k = 10, nprobe = 3).collect().toSeq
        == graft.similarity.Knn
          .IvfIndex.load(spark, ivfRef)
            .search(qv, k = 10, nprobe = 3).collect().toSeq)
    } finally { Seq(store, lex, ivf, lexRef, ivfRef).foreach(rmrf) }
  }

  test("half-applied refresh heals: re-run converges because the store commits last") {
    val store = tmp("cr2-store"); val lex = tmp("cr2-lex")
    val lexRef = tmp("cr2-lexref")
    try {
      HighlightStore.writeAtomic(snapA, store)
      graft.text.TextRank.buildLexicalIndex(snapA, "text", "doc_id", lex)
      // simulate a refresh that crashed AFTER the index work, BEFORE the
      // store commit: indexes already carry the delta, store still at A
      val deltaKeys = Seq(7L, 11L, 23L) ++ (60L to 64L)
      graft.text.TextRank.deleteFromLexicalIndex(spark, lex,
        deltaKeys.toDF("doc_id"), "doc_id")
      graft.text.TextRank.appendLexicalIndex(
        snapB.filter(col("doc_id").isin(deltaKeys.filterNot(_ == 7L): _*)),
        "text", "doc_id", lex)
      // the re-run derives the SAME delta from the untouched store, its
      // tombstone masks the crashed run's half-applied segment, and the
      // served index still equals a rebuild
      CorpusRefresh.refresh(spark, snapB, "text", "doc_id", store,
        lexIndexDir = Some(lex)).unpersist()
      graft.text.TextRank.buildLexicalIndex(snapB, "text", "doc_id", lexRef)
      val terms = Seq("join", "changed")
      assert(graft.text.TextRank.searchLexicalIndex(spark, lex, terms, 15)
        .collect().toSeq
        == graft.text.TextRank.searchLexicalIndex(spark, lexRef, terms, 15)
          .collect().toSeq)
      assert(HighlightStore.read(spark, store).get.count() == snapB.count())
    } finally { Seq(store, lex, lexRef).foreach(rmrf) }
  }
}
