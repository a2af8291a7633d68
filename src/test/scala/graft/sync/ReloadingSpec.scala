package graft.sync

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.similarity.Knn

/** [[Reloading]] — the serving-edge bridge to incremental index
  * maintenance: a live handle must serve a generation committed AFTER it
  * loaded (append / CorpusRefresh), without a process restart, while an
  * unchanged generation never pays a reload.
  */
class ReloadingSpec extends SparkTestBase {
  import spark.implicits._

  private def rmTree(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
  }

  test("IVF handle serves a post-load append; stable generation reuses the loaded handle") {
    val emb = table("embeddings").filter($"embedding".isNotNull)
    val dir = java.nio.file.Files.createTempDirectory("reload-ivf").toString
    try {
      Knn.ivfBuildIndex(emb.filter($"vec_id" =!= 3), "embedding", "vec_id",
        dir, k = 4, iters = 2, trainFilter = $"vec_id" % 3 === 0)
      val handle = Knn.IvfIndex.reloading(spark, dir)
      val qv = emb.filter($"vec_id" === 3).select($"embedding")
        .head().getSeq[Float](0).toArray
      assert(!handle.get.search(qv, k = 5, nprobe = 4)
        .select($"id").as[Long].collect().contains(3L))
      // the generation probe alone must NOT reload: same instance back
      assert(handle.get eq handle.get)
      val g0 = handle.generation
      // maintenance commit while "the server" is live
      Knn.ivfAppendIndex(emb.filter($"vec_id" === 3), "embedding", "vec_id", dir)
      val ids = handle.get.search(qv, k = 5, nprobe = 4)
        .select($"id").as[Long].collect()
      assert(ids.headOption.contains(3L),
        s"appended vector not served by the live handle: ${ids.toSeq}")
      assert(handle.generation != g0)
    } finally rmTree(dir)
  }

  test("drift → re-train → live serve: the q126 signal fires a rebuild the handle picks up") {
    val emb = table("embeddings").filter($"embedding".isNotNull)
    val dir = java.nio.file.Files.createTempDirectory("retrain-ivf").toString
    try {
      val base = emb.filter($"vec_id" < 200)
      Knn.ivfBuildIndex(base, "embedding", "vec_id", dir, k = 4, iters = 2,
        trainFilter = $"vec_id" % 5 === 0)
      val handle = Knn.IvfIndex.reloading(spark, dir)
      // drift: a NEGATED-vector batch lands far from every frozen
      // centroid — appends serve correctly but the monitor must light up
      val drifted = base.limit(60).select(($"vec_id" + 10000L).as("vec_id"),
        expr("transform(embedding, x -> -x)").cast("array<float>")
          .as("embedding"))
      val resid0 = Knn.ivfCellStats(spark, dir).agg(max($"mean_resid"))
        .head().getDouble(0)
      Knn.ivfAppendIndex(drifted, "embedding", "vec_id", dir)
      val resid1 = Knn.ivfCellStats(spark, dir).agg(max($"mean_resid"))
        .head().getDouble(0)
      assert(resid1 > resid0, "drift did not raise the re-train signal")
      // the operator's response: wholesale re-train over the LIVE corpus
      // (the same pointer swap as the build) — geometry now owns the
      // drifted mass, and the live handle serves the new generation
      val live = base.select($"vec_id", $"embedding").unionByName(drifted)
      val g0 = handle.generation
      Knn.ivfBuildIndex(live, "embedding", "vec_id", dir, k = 8, iters = 2,
        trainFilter = $"vec_id" % 5 === 0)
      assert(handle.get.numCells == 8) // re-trained geometry, no restart
      assert(handle.generation != g0)
      val resid2 = Knn.ivfCellStats(spark, dir).agg(max($"mean_resid"))
        .head().getDouble(0)
      assert(resid2 < resid1,
        s"re-train did not absorb the drift: $resid2 vs $resid1")
      // and a drifted vector's own query resolves through the new
      // geometry at rank 1 (its cell exists now; recall no longer rides
      // on a far centroid absorbing it)
      val qRow = drifted.head()
      val qv = qRow.getSeq[Float](1).toArray
      val top = handle.get.search(qv, k = 3, nprobe = 2)
        .select($"id").as[Long].collect()
      assert(top.headOption.contains(qRow.getLong(0)),
        s"drifted self-query mis-served: ${top.toSeq}")
    } finally rmTree(dir)
  }

  test("a reloading IVF handle resolved before a compaction answers after it; its release sweeps the dropped segments") {
    val emb = table("embeddings").filter($"embedding".isNotNull)
      .withColumn("label", pmod($"vec_id", lit(7)))
    val dir = java.nio.file.Files.createTempDirectory("reload-compact").toString
    def entries: Int = new java.io.File(dir).listFiles().count(f =>
      f.getName.startsWith("seg-") || f.getName.startsWith("del-"))
    try {
      Knn.ivfBuildIndex(emb.filter($"vec_id" < 300), "embedding", "vec_id",
        dir, k = 4, iters = 2, trainFilter = $"vec_id" % 5 === 0,
        fp16 = true, attrCols = Seq("label"))
      Knn.ivfAppendIndex(emb.filter($"vec_id" >= 300), "embedding", "vec_id",
        dir)
      Knn.ivfDeleteIndex(spark, dir, Seq(7L, 310L).toDF("vec_id"), "vec_id")
      val handle = Knn.IvfIndex.reloading(spark, dir)
      // resolved before the compaction, and never asked before it: no
      // request has pinned its cells, so it reads the files it resolved
      val held = handle.get
      val qv = emb.filter($"vec_id" === 11).select($"embedding")
        .head().getSeq[Float](0).toArray
      Knn.ivfCompactIndex(spark, dir)
      val fresh = Knn.IvfIndex.load(spark, dir)
      def rows(a: Array[org.apache.spark.sql.Row]) =
        a.map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows(held.servingTopK(qv, 10, 4, None)) ==
        rows(fresh.servingTopK(qv, 10, 4, None)))
      val filtered = held.servingTopK(qv, 5, 1, Some($"label" === 3))
      assert(rows(filtered) == rows(fresh.servingTopK(qv, 5, 1,
        Some($"label" === 3))))
      assert(filtered.nonEmpty)
      fresh.unpin()
      // the reload that supersedes the held handle releases what it kept
      handle.get
      assert(SegmentedIndex.resolve(spark, dir).get.length == 1)
      assert(entries == 1,
        "the superseded handle's segments must be gone once it is released")
    } finally rmTree(dir)
  }

  test("minCheckIntervalMs throttles the probe: stale within the window, fresh after") {
    val emb = table("embeddings").filter($"embedding".isNotNull)
    val dir = java.nio.file.Files.createTempDirectory("reload-ttl").toString
    try {
      Knn.ivfBuildIndex(emb.filter($"vec_id" =!= 3), "embedding", "vec_id",
        dir, k = 4, iters = 2, trainFilter = $"vec_id" % 3 === 0)
      val handle = Knn.IvfIndex.reloading(spark, dir,
        minCheckIntervalMs = 60000)
      val first = handle.get
      Knn.ivfAppendIndex(emb.filter($"vec_id" === 3), "embedding", "vec_id", dir)
      // inside the 60 s window the handle may NOT hit the filesystem —
      // it must return the loaded instance unchanged
      assert(handle.get eq first)
    } finally rmTree(dir)
  }
}
