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
