package graft.similarity

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The SOAR-spilled persistent IVF layout
  * ([[Knn.ivfBuildIndex]]`(spill = true)`): additive over the single
  * layout, dedup at probe time, appends spill identically, deletes
  * erase both copies, and the recall win is structural at equal
  * nprobe. */
class SpilledIvfSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = table("embeddings")
    .filter($"embedding".isNotNull).cache()

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft-spill-$tag").toString + "/ivf"

  private def brute(qv: Array[Float], k: Int): Seq[(Long, Double)] = emb
    .select($"vec_id".as("id"),
      graft.functions.cosine_distance($"embedding", typedLit(qv))
        .as("score"))
    .orderBy($"score".asc, $"id".asc).limit(k)
    .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("spilled index: exhaustive probes equal brute force, copies " +
      "collapse, results carry no duplicate ids") {
    val dir = freshDir("exh")
    Knn.ivfBuildIndex(emb, "embedding", "vec_id", dir, k = 6, iters = 2,
      trainFilter = $"vec_id" % 5 === 0, spill = true)
    val idx = Knn.IvfIndex.load(spark, dir)
    val qv = emb.filter($"vec_id" === 123).select($"embedding")
      .head().getSeq[Float](0).toArray
    val got = idx.search(qv, k = 10, nprobe = idx.numCells)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got == brute(qv, 10))
    val wide = idx.search(qv, k = 50, nprobe = idx.numCells)
      .collect().map(_.getLong(0)).toSeq
    assert(wide.distinct == wide)
  }

  test("the resident probe collapses a spilled layout's copies exactly as the Catalyst search does") {
    val dir = freshDir("resident")
    Knn.ivfBuildIndex(emb, "embedding", "vec_id", dir, k = 6, iters = 2,
      trainFilter = $"vec_id" % 5 === 0, spill = true)
    val idx = Knn.IvfIndex.load(spark, dir)
    Seq(3L, 123L, 401L).foreach { id =>
      ResidentCheck.sameAsCatalyst(idx, emb.filter($"vec_id" === id)
        .select($"embedding").head().getSeq[Float](0).toArray)
    }
    idx.unpin()
  }

  test("spilling is additive: the primary copy sits in the unspilled " +
      "build's cell, so equal-nprobe recall can only improve") {
    val single = freshDir("single")
    val spilled = freshDir("spilled")
    // identical trainFilter → identical centroids (training is
    // deterministic) → the probed cell is the same cell in both
    Knn.ivfBuildIndex(emb, "embedding", "vec_id", single, k = 6,
      iters = 2, trainFilter = $"vec_id" % 5 === 0)
    Knn.ivfBuildIndex(emb, "embedding", "vec_id", spilled, k = 6,
      iters = 2, trainFilter = $"vec_id" % 5 === 0, spill = true)
    val si = Knn.IvfIndex.load(spark, single)
    val sp = Knn.IvfIndex.load(spark, spilled)
    var singleHits = 0
    var spillHits = 0
    Seq(3L, 77L, 123L, 250L, 401L).foreach { q =>
      val qv = emb.filter($"vec_id" === q).select($"embedding")
        .head().getSeq[Float](0).toArray
      val exact = brute(qv, 10).map(_._1).toSet
      val s1 = si.search(qv, 10, nprobe = 1).collect()
        .map(_.getLong(0)).toSet
      val s2 = sp.search(qv, 10, nprobe = 1).collect()
        .map(_.getLong(0)).toSet
      singleHits += (s1 & exact).size
      spillHits += (s2 & exact).size
    }
    assert(spillHits >= singleHits,
      s"spilled recall $spillHits below single $singleHits — the " +
        s"candidate superset argument is broken")
  }

  test("appends spill identically; deletes erase both copies") {
    val dir = freshDir("lifecycle")
    val base = emb.filter($"vec_id" < 400)
    val batch = emb.filter($"vec_id" >= 400 && $"vec_id" < 420)
    Knn.ivfBuildIndex(base, "embedding", "vec_id", dir, k = 6, iters = 2,
      trainFilter = $"vec_id" % 5 === 0, spill = true)
    Knn.ivfAppendIndex(batch, "embedding", "vec_id", dir)
    // the appended segment holds TWO copies of every batch vector
    val segs = graft.sync.SegmentedIndex.resolve(spark, dir).get
    val appended = spark.read.parquet(s"$dir/${segs.last}/cells")
    assert(appended.count() == 2 * batch.count())
    assert(appended.groupBy($"id")
      .agg(countDistinct($"centroid_id").as("cells"))
      .filter($"cells" =!= 2).count() == 0)
    // an appended vector serves (dedup'd), then a delete erases BOTH
    // copies — it never resurfaces at any probe width
    val idx = Knn.IvfIndex.load(spark, dir)
    val qv = emb.filter($"vec_id" === 405).select($"embedding")
      .head().getSeq[Float](0).toArray
    val before = idx.search(qv, 5, nprobe = idx.numCells)
      .collect().map(_.getLong(0))
    assert(before.contains(405L))
    assert(before.distinct.length == before.length)
    Knn.ivfDeleteIndex(spark, dir, Seq(405L).toDF("id"), "id")
    val after = Knn.IvfIndex.load(spark, dir)
      .search(qv, idx.numCells * 50, nprobe = idx.numCells)
      .collect().map(_.getLong(0))
    assert(!after.contains(405L))
  }

  test("routed search on a spilled index counts distinct vectors and " +
      "returns k distinct ids on both routes") {
    val dir = freshDir("routed")
    Knn.ivfBuildIndex(emb, "embedding", "vec_id", dir, k = 6, iters = 2,
      trainFilter = $"vec_id" % 5 === 0, attrCols = Seq("label"),
      spill = true)
    val qv = emb.filter($"vec_id" === 123).select($"embedding")
      .head().getSeq[Float](0).toArray
    val cond = $"label" === 5
    val trueMatches = emb.filter(cond).count()
    // threshold == the TRUE (distinct) match count: a copy-doubled
    // count would read 2× and route this to the probe branch
    val scan = Knn.ivfRoutedSearchIndex(spark, dir, qv, k = 10,
      nprobe = 1, filter = cond, bruteThreshold = trueMatches).collect()
    assert(scan.forall(_.getString(3) == "scan"))
    val scanIds = scan.map(_.getLong(0)).toSeq
    assert(scanIds.distinct == scanIds)
    // the scan route is exact over the filtered corpus despite the
    // doubled layout
    val exact = emb.filter(cond)
      .select($"vec_id".as("id"),
        graft.functions.cosine_distance($"embedding", typedLit(qv))
          .as("score"))
      .orderBy($"score".asc, $"id".asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(scan.map(r => (r.getLong(0), r.getDouble(2))).toSeq == exact)
    val probe = Knn.ivfRoutedSearchIndex(spark, dir, qv, k = 10,
      nprobe = 6, filter = $"label" % 3 === 1,
      bruteThreshold = 1L).collect()
    assert(probe.forall(_.getString(3) == "probe"))
    val probeIds = probe.map(_.getLong(0)).toSeq
    assert(probeIds.distinct == probeIds && probeIds.length == 10)
  }

  test("an in-place spill=false rebuild retires the spill sidecar: the " +
      "rebuilt index loads unspilled and appends stay single-assignment") {
    val dir = freshDir("rebuild")
    Knn.ivfBuildIndex(emb, "embedding", "vec_id", dir, k = 6, iters = 2,
      trainFilter = $"vec_id" % 5 === 0, spill = true)
    assert(Knn.ivfSpillMeta(spark, dir).isDefined)
    Knn.ivfBuildIndex(emb.filter($"vec_id" < 400), "embedding", "vec_id",
      dir, k = 6, iters = 2, trainFilter = $"vec_id" % 5 === 0)
    assert(Knn.ivfSpillMeta(spark, dir).isEmpty,
      "stale spillmeta survived a spill=false rebuild")
    val batch = emb.filter($"vec_id" >= 400 && $"vec_id" < 420)
    Knn.ivfAppendIndex(batch, "embedding", "vec_id", dir)
    val segs = graft.sync.SegmentedIndex.resolve(spark, dir).get
    val appended = spark.read.parquet(s"$dir/${segs.last}/cells")
    assert(appended.count() == batch.count(),
      "append spilled against a rebuilt single-assignment index")
  }

  test("a spilled build against a single centroid is refused (no " +
      "secondary cell exists)") {
    val dir = freshDir("onecell")
    val e = intercept[IllegalArgumentException] {
      Knn.ivfBuildIndex(emb, "embedding", "vec_id", dir, k = 1,
        iters = 1, trainFilter = $"vec_id" % 5 === 0, spill = true)
    }
    assert(e.getMessage.contains(">= 2 centroids"))
  }
}
