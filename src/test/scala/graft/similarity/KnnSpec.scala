package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.dedup.Dedup
import graft.functions.cosine_distance

class KnnSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = table("embeddings").cache()

  test("ivfBuildIndex + IvfIndex.search: probe scan reads only probed partitions") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    try {
      Knn.ivfBuildIndex(emb, "embedding", "vec_id", dir, k = 4, iters = 2,
        trainFilter = $"vec_id" % 5 === 0)
      // cell layout on disk: one directory per centroid, inside the
      // committed segment
      val seg = graft.sync.SegmentedIndex.resolve(spark, dir).get.head
      val cellDirs = new java.io.File(s"$dir/$seg/cells").listFiles()
        .filter(_.getName.startsWith("centroid_id=")).map(_.getName).sorted
      assert(cellDirs.length >= 2 && cellDirs.length <= 4)
      val qv = emb.orderBy($"vec_id").select($"embedding")
        .head().getSeq[Float](0).toArray
      val nprobe = 2
      val res = Knn.IvfIndex.load(spark, dir)
        .search(qv, k = 10, nprobe = nprobe)
      // the cells scan prunes at PLAN time: PartitionFilters carries the
      // IN-list and only nprobe of the cell directories are selected
      val scans = res.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      val cellScan = scans.find(_.metadata("Location").contains("cells")).get
      assert(cellScan.metadata("PartitionFilters").contains("centroid_id"),
        s"no partition filter: ${cellScan.metadata("PartitionFilters")}")
      assert(cellScan.selectedPartitions.partitionCount == nprobe,
        s"read ${cellScan.selectedPartitions.partitionCount} partitions, want $nprobe")
      // and the result only contains probed cells, correctly scored
      val rows = res.collect()
      assert(rows.nonEmpty && rows.map(_.getLong(1)).distinct.length <= nprobe)
      // self-query: vec_id 0 must be its own nearest neighbor
      assert(rows.head.getLong(0) == 0L && rows.head.getDouble(2) < 1e-12)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("ivfKnnJoin: nprobe dial to exact, no duplicate pairs, no cartesian") {
    val queries = emb.filter($"vec_id" < 20)
    val corpus = emb.filter($"vec_id" >= 100)
    val exact = Knn.knnJoin(queries, corpus, "embedding", "vec_id",
        "embedding", "vec_id", k = 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    def joined(nprobe: Int) = Knn.ivfKnnJoin(queries, corpus, "embedding",
      "vec_id", "embedding", "vec_id", k = 5, cells = 4, iters = 2,
      nprobe = nprobe)
    val p2 = joined(2).collect()
    // a (query, neighbor) pair meets at most once: neighbor indexed only
    // at its primary cell
    assert(p2.map(r => (r.getLong(0), r.getLong(1))).distinct.length ==
      p2.length)
    // every query keeps at most k, ranked (score, neighbor) ascending
    assert(p2.groupBy(_.getLong(0)).values.forall(_.length <= 5))
    val r1 = joined(1).select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    val r2 = p2.map(r => (r.getLong(0), r.getLong(1))).toSet
    val rAll = joined(4).select($"query_id", $"neighbor_id")
      .as[(Long, Long)].collect().toSet
    // probing every cell makes the candidate set the whole corpus — the
    // join IS exact there; fewer probes trade recall monotonically
    assert(rAll == exact)
    val rec1 = (r1 & exact).size.toDouble / exact.size
    val rec2 = (r2 & exact).size.toDouble / exact.size
    assert(rec2 >= rec1, s"nprobe dial not monotone: $rec2 < $rec1")
    assert(rec2 >= 0.5, s"nprobe=2 recall $rec2")
    // co-partitioned, not cross-joined: no CartesianProduct anywhere
    val plan = joined(2).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(500))
  }

  test("hardNegatives: positives excluded BEFORE the rank, no wasted slots") {
    // anchor 0 (label A); corpus: a same-label twin at distance ~0 plus
    // ten different-label vectors — the twin must NOT consume a slot
    val dim = 8
    def vec(seed: Int) = (0 until dim).map(i =>
      (((seed * 31 + i) % 17) - 8).toFloat / 8f)
    val anchor = Seq((0L, vec(5), "A")).toDF("id", "v", "label")
    val corpus = (Seq((100L, vec(5), "A")) ++ // the twin (positive)
      (1 to 10).map(i => (100L + i, vec(i), "B")))
      .toDF("id", "v", "label")
    val got = Knn.hardNegatives(anchor, corpus, "v", "id", "label", k = 5)
      .collect()
    assert(got.length == 5)
    assert(got.forall(_.getString(2) == "B")) // never the positive
    assert(!got.map(_.getLong(1)).contains(100L))
    val scores = got.sortBy(_.getInt(4)).map(_.getDouble(3))
    assert(scores.sameElements(scores.sorted)) // ranked by distance
  }

  test("hnswAppendIndexStream: MemoryStream batch equals the direct append") {
    val root = java.nio.file.Files.createTempDirectory("hnswstream").toString
    try {
      val base = emb.filter($"vec_id" < 250)
        .select($"vec_id".cast("long").as("vec_id"), $"embedding")
      val batch = emb.filter($"vec_id" >= 250 && $"vec_id" < 280)
      Knn.buildHnswIndex(base, "embedding", "vec_id", s"$root/stream",
        maxLevel = 2, upperM = 3, k0 = 5, buckets = 8, fp16 = false)
      Knn.buildHnswIndex(base, "embedding", "vec_id", s"$root/direct",
        maxLevel = 2, upperM = 3, k0 = 5, buckets = 8, fp16 = false)
      val rows = batch.select($"vec_id", $"embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      implicit val sqlCtx = spark.sqlContext
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Float])]
      val df = input.toDF().toDF("vec_id", "embedding")
        .withColumn("embedding", $"embedding".cast("array<float>"))
      val q = Knn.hnswAppendIndexStream(df, "embedding", "vec_id",
          s"$root/stream")
        .option("checkpointLocation", s"$root/ckpt").start()
      try { input.addData(rows: _*); q.processAllAvailable() }
      finally q.stop()
      Knn.hnswAppendIndex(
        batch.select($"vec_id".cast("long").as("vec_id"), $"embedding"),
        "embedding", "vec_id", s"$root/direct")
      (0 to 2).foreach { l =>
        val a = Knn.AdjIndex.load(spark, s"$root/stream/layer$l").relation
          .select($"src", $"dst").as[(Long, Long)].collect().sorted.toSeq
        val b = Knn.AdjIndex.load(spark, s"$root/direct/layer$l").relation
          .select($"src", $"dst").as[(Long, Long)].collect().sorted.toSeq
        assert(a == b, s"layer $l diverged")
      }
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator()
        .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("ivfKnnJoinIndex: index-served batch join equals the in-plan join; fp16 sticky; tombstones masked") {
    val dir = java.nio.file.Files.createTempDirectory("ivfjoin").toString
    try {
      val corpus = emb.filter($"vec_id" >= 100)
      val queries = emb.filter($"vec_id" < 20)
      Knn.ivfBuildIndex(corpus, "embedding", "vec_id", dir, k = 4,
        iters = 2, trainFilter = lit(true))
      val served = Knn.ivfKnnJoinIndex(spark, dir, queries, "embedding",
        "vec_id", k = 5, nprobe = 2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      val inPlan = Knn.ivfKnnJoin(queries, corpus, "embedding", "vec_id",
        "embedding", "vec_id", k = 5, cells = 4, iters = 2, nprobe = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      assert(served.sortBy(x => (x._1, x._4)).toSeq ==
        inPlan.sortBy(x => (x._1, x._4)).toSeq)
      // a tombstoned neighbor vanishes from the batch probe too
      val victim = served.head._2
      Knn.ivfDeleteIndex(spark, dir,
        Seq(victim).toDF("vec_id"), "vec_id")
      val after = Knn.ivfKnnJoinIndex(spark, dir, queries, "embedding",
        "vec_id", k = 5, nprobe = 2).collect().map(_.getLong(1)).toSet
      assert(!after.contains(victim))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
        .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("prefixTopK: recall vs exact, factor dial, two heaps and no shuffle") {
    val qv = emb.orderBy($"vec_id").select($"embedding")
      .head().getSeq[Float](0).toArray
    val exact = Knn.topK(emb, "embedding", qv, 10, "vec_id")
      .collect().map(_.getLong(0)).toSet
    val got = Knn.prefixTopK(emb, "embedding", "vec_id", qv, k = 10,
      dPrefix = 16, factor = 4)
    val ids = got.collect().map(_.getLong(0))
    // self-query survives the prefix cut and lands first at score ~0
    assert(ids.head == 0L)
    // synthetic embeddings are iid-random — the WORST case for a prefix
    // cut (no MRL front-loading), so this pins the floor, and the
    // factor dial below is the design fact
    val recall = ids.count(exact).toDouble / 10.0
    assert(recall >= 0.4, s"recall@10 = $recall")
    val r16 = Knn.prefixTopK(emb, "embedding", "vec_id", qv, 10,
      dPrefix = 16, factor = 16)
      .collect().map(_.getLong(0)).count(exact).toDouble / 10.0
    assert(r16 >= recall, s"factor dial not monotone: $r16 < $recall")
    // widening the shortlist can only help; at factor = corpus size the
    // re-rank IS exact
    val wide = Knn.prefixTopK(emb, "embedding", "vec_id", qv, 10,
      dPrefix = 16, factor = emb.count().toInt)
      .collect().map(_.getLong(0)).toSet
    assert(wide == exact)
    val wideRecall = wide.count(exact).toDouble / 10.0
    assert(wideRecall >= recall)
    // plan: both cuts are TakeOrderedAndProject heaps; corpus rows
    // never shuffle
    val plan = got.queryExecution.executedPlan.toString
    assert("TakeOrderedAndProject".r.findAllIn(plan).length == 2, plan.take(600))
    assert(!plan.contains("ShuffleExchange"), plan.take(600))
    // the prefix really is what stage 1 ranks by: an adversarial vector
    // equal to the query on [0,16) but opposite beyond must beat a
    // vector orthogonal in the prefix, in pre_score
    val pre = got.select($"vec_id", $"pre_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pre(0L) < 1e-9) // self prefix distance ~ 0
  }

  test("attr-carrying cells: filtered probe, adaptive widening, appends keep the contract") {
    val dir = java.nio.file.Files.createTempDirectory("ivfattr").toString
    try {
      Knn.ivfBuildIndex(emb, "embedding", "vec_id", dir, k = 4, iters = 2,
        trainFilter = $"vec_id" % 5 === 0, attrCols = Seq("label"))
      val idx = Knn.IvfIndex.load(spark, dir)
      assert(idx.attrColumns == Seq("label"))
      val qv = emb.orderBy($"vec_id").select($"embedding")
        .head().getSeq[Float](0).toArray
      val labelOf = emb.select($"vec_id", $"label").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      // every winner satisfies the predicate BY CONSTRUCTION (it was
      // evaluated inside the pruned cell scan, not post-hoc)
      val cond = col("label") % 3 === 1
      val hits = idx.search(qv, 10, 2, Some(cond)).collect()
      assert(hits.nonEmpty && hits.forall(r => labelOf(r.getLong(0)) % 3 == 1))
      // the filter is a DATA filter on the probed partitions: partition
      // pruning by centroid still applies, label lands in PushedFilters
      val plan = idx.search(qv, 10, 2, Some(cond)).queryExecution.executedPlan
      val scan = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.head
      assert(scan.metadata("PartitionFilters").contains("centroid_id"))
      assert(scan.metadata("PushedFilters").contains("label"),
        scan.metadata("PushedFilters"))
      // widened to the whole geometry, filtered probe == exact filtered top-k
      val all = idx.search(qv, 10, idx.numCells, Some(cond))
        .collect().map(_.getLong(0)).toSeq
      val exact = Knn.topK(emb.filter(cond), "embedding", qv, 10, "vec_id")
        .collect().map(_.getLong(0)).toSeq
      assert(all == exact)
      // a predicate with fewer than k matches ANYWHERE: the serving
      // ladder (one job per attempt, no count pass) must widen to the
      // full geometry and return every match, exactly the brute-force
      // filtered answer
      val rare = col("label") === 7 && col("id") % 11 === 3
      val rareIds = emb.filter($"label" === 7 && $"vec_id" % 11 === 3)
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      assert(rareIds.nonEmpty && rareIds.size < 10) // genuinely starving
      val widenedRows = idx.servingTopK(qv, 10, 1, Some(rare))
        .map(_.getLong(0)).toSet
      assert(widenedRows == rareIds)
      // append: attrs are part of the index schema contract — sniffed
      // from live segments, demanded of the batch
      val batch = emb.select(($"vec_id" + 100000L).as("vec_id"),
        $"embedding", $"label").limit(5)
      Knn.ivfAppendIndex(batch, "embedding", "vec_id", dir)
      val idx2 = Knn.IvfIndex.load(spark, dir)
      assert(idx2.search(qv, 10000, idx2.numCells, None).count() ==
        emb.count() + 5)
      val noAttr = intercept[IllegalArgumentException] {
        Knn.ivfAppendIndex(
          emb.select(($"vec_id" + 200000L).as("vec_id"), $"embedding")
            .limit(3),
          "embedding", "vec_id", dir)
      }
      assert(noAttr.getMessage.contains("label"), noAttr.getMessage)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("fp16 cells: probe scores through the fused kernel, rank-identical to fp32") {
    val dir32 = java.nio.file.Files.createTempDirectory("ivfidx32").toString
    val dir16 = java.nio.file.Files.createTempDirectory("ivfidx16").toString
    def rmrf(dir: String): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
    try {
      Knn.ivfBuildIndex(emb, "embedding", "vec_id", dir32, k = 4, iters = 2,
        trainFilter = $"vec_id" % 5 === 0)
      Knn.ivfBuildIndex(emb, "embedding", "vec_id", dir16, k = 4, iters = 2,
        trainFilter = $"vec_id" % 5 === 0, fp16 = true)
      // the cells really are half-width: BINARY blob of 2 bytes/dim, no
      // ARRAY<FLOAT> column at rest
      val seg16 = graft.sync.SegmentedIndex.resolve(spark, dir16).get.head
      val cells = spark.read.parquet(s"$dir16/$seg16/cells")
      assert(cells.columns.contains("emb16") && !cells.columns.contains("v"))
      assert(cells.select(octet_length($"emb16")).head().getInt(0) == 2 * 64)
      val qv = emb.orderBy($"vec_id").select($"embedding")
        .head().getSeq[Float](0).toArray
      val r16 = Knn.IvfIndex.load(spark, dir16).search(qv, k = 10, nprobe = 2)
      // fused one-pass kernel in the probe plan: the blob is scored
      // directly, never widened through fp16_decode
      val plan = r16.queryExecution.executedPlan.toString
      assert(plan.contains("fp16_cosine_distance"), plan.linesIterator.take(5).mkString("\n"))
      assert(!plan.contains("fp16_decode"))
      // partition pruning is unchanged by the cell layout
      val scans = r16.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      val cellScan = scans.find(_.metadata("Location").contains("cells")).get
      assert(cellScan.selectedPartitions.partitionCount == 2)
      // half-precision perturbs scores inside the established tolerance
      // but not the ranking
      val r32 = Knn.IvfIndex.load(spark, dir32).search(qv, k = 10, nprobe = 2)
      val ids16 = r16.select($"id").as[Long].collect().toSeq
      val ids32 = r32.select($"id").as[Long].collect().toSeq
      assert(ids16 == ids32)
      val s16 = r16.select($"score").as[Double].collect()
      val s32 = r32.select($"score").as[Double].collect()
      s16.zip(s32).foreach { case (a, b) => assert(math.abs(a - b) < 1e-3) }
    } finally { rmrf(dir32); rmrf(dir16) }
  }

  test("IvfIndex serving handle agrees with exact topK at full width, keeps pruning + fused kernel") {
    val dir = java.nio.file.Files.createTempDirectory("ivfserve").toString
    try {
      Knn.ivfBuildIndex(emb, "embedding", "vec_id", dir, k = 4, iters = 2,
        trainFilter = $"vec_id" % 5 === 0, fp16 = true)
      val index = Knn.IvfIndex.load(spark, dir)
      val qv = emb.filter($"vec_id" === 7).select($"embedding")
        .head().getSeq[Float](0).toArray
      // at nprobe = numCells the probe reads every cell, so the handle's
      // driver-side cell selection must reproduce the brute-force top-k:
      // same ids in the same order, scores at fp16 input precision
      val full = index.search(qv, k = 10, nprobe = index.numCells).collect()
      val exact = Knn.topK(emb, "embedding", qv, 10, "vec_id")
        .select($"vec_id", $"score").collect()
      assert(full.map(_.getLong(0)).toSeq == exact.map(_.getLong(0)).toSeq)
      full.zip(exact).foreach { case (a, b) =>
        assert(math.abs(a.getDouble(2) - b.getDouble(1)) < 1e-3) }
      val viaHandle = index.search(qv, k = 10, nprobe = 2)
      // the handle's plan still prunes partitions and scores fused — the
      // serving shortcut changes where probe selection runs, not the scan
      val scans = viaHandle.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      val cellScan = scans.find(_.metadata("Location").contains("cells")).get
      assert(cellScan.selectedPartitions.partitionCount == 2)
      assert(viaHandle.queryExecution.executedPlan.toString
        .contains("fp16_cosine_distance"))
      // and the handle issues NO job for probe selection: only the cell
      // scan's single stage runs when a search executes
      val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      index.search(qv, k = 10, nprobe = 2).collect()
      val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      assert(after - before <= 2,
        s"IvfIndex.search ran ${after - before} jobs; centroid selection must be local")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("ivfAppendIndex: build+append == build-from-scratch; fp16 sticky; old handle unaffected") {
    val dirInc = java.nio.file.Files.createTempDirectory("ivfinc").toString
    val dirAll = java.nio.file.Files.createTempDirectory("ivfall").toString
    def rmrf(dir: String): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
    try {
      val base = emb.filter($"vec_id" < 300)
      val batch = emb.filter($"vec_id" >= 300 && $"vec_id" < 400)
      val train = $"vec_id" < 300 && $"vec_id" % 5 === 0
      // incremental: build on base (training on the sample), append batch
      Knn.ivfBuildIndex(base, "embedding", "vec_id", dirInc, k = 4,
        iters = 2, trainFilter = $"vec_id" % 5 === 0, fp16 = true)
      // a handle loaded NOW resolves the segment list once: the append
      // below must not change what it serves
      val oldHandle = Knn.IvfIndex.load(spark, dirInc)
      val qv = emb.filter($"vec_id" === 7).select($"embedding")
        .head().getSeq[Float](0).toArray
      val preAppend = oldHandle.search(qv, k = 10, nprobe = 4).collect().toSeq
      Knn.ivfAppendIndex(batch, "embedding", "vec_id", dirInc)
      assert(oldHandle.search(qv, k = 10, nprobe = 4).collect().toSeq
        == preAppend, "append mutated an already-loaded handle's view")
      // wholesale: same corpus, same training subset → identical centroids
      // → identical cells → row-identical searches
      Knn.ivfBuildIndex(emb.filter($"vec_id" < 400), "embedding", "vec_id",
        dirAll, k = 4, iters = 2, trainFilter = train, fp16 = true)
      val inc = Knn.IvfIndex.load(spark, dirInc).search(qv, k = 10, nprobe = 3)
      val all = Knn.IvfIndex.load(spark, dirAll).search(qv, k = 10, nprobe = 3)
      assert(inc.collect().toSeq == all.collect().toSeq)
      // a fresh load serves the appended corpus, fp16 stayed sticky
      // (sniffed from the live segments), and the probe still prunes
      // across BOTH segments
      val newHandle = Knn.IvfIndex.load(spark, dirInc)
      val res = newHandle.search(qv, k = 10, nprobe = 2)
      assert(res.queryExecution.executedPlan.toString
        .contains("fp16_cosine_distance"))
      // one scan per segment (separate parquet roots under a Union) —
      // EVERY segment's scan must carry the probe's PartitionFilter
      val cellScans = res.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata("Location").contains("cells") => f }
      assert(cellScans.length == 2, s"expected 2 segment scans, got ${cellScans.length}")
      cellScans.foreach(sc =>
        assert(sc.metadata("PartitionFilters").contains("centroid_id"),
          sc.metadata("PartitionFilters")))
      // ≤ 2 segments × 2 probed cells (a segment may lack a probed cell)
      val parts = cellScans.map(_.selectedPartitions.partitionCount).sum
      assert(parts >= 2 && parts <= 4, s"scanned $parts partition dirs")
    } finally { rmrf(dirInc); rmrf(dirAll) }
  }

  test("ivfDeleteIndex: tombstoned vectors vanish from probes; equals an index built without them") {
    val dirDel = java.nio.file.Files.createTempDirectory("ivfdel").toString
    val dirRef = java.nio.file.Files.createTempDirectory("ivfref").toString
    def rmrf(dir: String): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
    try {
      // deleted ids sit OUTSIDE the %5 training sample, so the reference
      // index (built without them, same trainFilter) has IDENTICAL
      // centroids and assignment — searches must match row-for-row
      val dead = Seq(3L, 7L, 11L, 13L)
      Knn.ivfBuildIndex(emb, "embedding", "vec_id", dirDel, k = 4,
        iters = 2, trainFilter = $"vec_id" % 5 === 0)
      Knn.ivfDeleteIndex(spark, dirDel, dead.toDF("vec_id"), "vec_id")
      Knn.ivfBuildIndex(emb.filter(!$"vec_id".isin(dead: _*)), "embedding",
        "vec_id", dirRef, k = 4, iters = 2,
        trainFilter = $"vec_id" % 5 === 0)
      val qv = emb.filter($"vec_id" === 7).select($"embedding")
        .head().getSeq[Float](0).toArray // query BY a deleted vector
      val del = Knn.IvfIndex.load(spark, dirDel).search(qv, k = 10, nprobe = 4)
        .collect().toSeq
      assert(del == Knn.IvfIndex.load(spark, dirRef)
        .search(qv, k = 10, nprobe = 4)
        .collect().toSeq)
      assert(del.map(_.getLong(0)).toSet.intersect(dead.toSet).isEmpty)
      // the serving handle resolves tombstones at load too
      assert(Knn.IvfIndex.load(spark, dirDel).search(qv, 10, 4)
        .collect().toSeq == del)
      // compaction under the frozen geometry: one segment left, tombstone
      // AND swept data segments physically erased, answers unchanged, and
      // the steady-state probe plan is join-free again
      Knn.ivfCompactIndex(spark, dirDel)
      val left = graft.sync.SegmentedIndex.resolve(spark, dirDel).get
      assert(left.size == 1 && !left.exists(_.startsWith("del-")))
      assert(new java.io.File(dirDel).listFiles()
        .count(f => f.getName.startsWith("seg-") || f.getName.startsWith("del-")) == 1)
      val compacted = Knn.IvfIndex.load(spark, dirDel)
        .search(qv, k = 10, nprobe = 4)
      assert(compacted.collect().toSeq == del)
      assert(!compacted.queryExecution.executedPlan.toString.contains("Join"),
        "compacted probe plan should carry no anti-join")
    } finally { rmrf(dirDel); rmrf(dirRef) }
  }

  test("trainCentroids: k cells, right dimensionality, assignment improves") {
    val k = 4
    val cents = Knn.trainCentroids(emb, "embedding", "vec_id", k, iters = 3)
      .cache()
    assert(cents.count() == k)
    assert(cents.select(size($"cvec")).head().getInt(0) == 64)
    // every corpus vector lands in exactly one of the k cells
    val assigned = Knn.ivfAssign(emb, "embedding", "vec_id",
      cents, "cvec", "centroid_id")
    assert(assigned.count() == emb.filter($"embedding".isNotNull).count())
    assert(assigned.select($"centroid_id").distinct().count() <= k)
    // trained centroids give a lower mean distance-to-centroid than the
    // arbitrary seed centroids (the point of Lloyd iterations)
    def meanDist(c: org.apache.spark.sql.DataFrame): Double =
      Knn.ivfAssign(emb, "embedding", "vec_id", c, "cvec", "centroid_id")
        .join(c, "centroid_id")
        .select(avg(cosine_distance($"v", $"cvec"))).head().getDouble(0)
    val seed = emb.orderBy($"vec_id").limit(k)
      .select($"vec_id".as("centroid_id"), $"embedding".as("cvec"))
    assert(meanDist(cents) <= meanDist(seed))
  }

  test("ivfTopKProbes: nprobe=all equals exact top-k; nprobe=1 is a subset") {
    val cents = Knn.trainCentroids(emb, "embedding", "vec_id", 4, iters = 2)
    val assigned = Knn.ivfAssign(emb, "embedding", "vec_id",
      cents, "cvec", "centroid_id").cache()
    val q = emb.filter($"vec_id" === 7).select($"embedding")
      .head().getSeq[Float](0).toArray
    val exact = Knn.topK(emb, "embedding", q, 10, "vec_id")
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    val all = Knn.ivfTopKProbes(assigned, cents, "cvec", "centroid_id",
      q, 10, nprobe = 4).select($"id").collect().map(_.getLong(0)).toSeq
    assert(all == exact) // probing every cell = exact search
    val one = Knn.ivfTopKProbes(assigned, cents, "cvec", "centroid_id",
      q, 10, nprobe = 1).select($"id").collect().map(_.getLong(0)).toSet
    assert(one.subsetOf(exact.toSet ++ one)) // well-formed, k or fewer
    assert(one.size <= 10)
  }

  test("embeddingLshPairs ⊆ exact near-dup pairs, and contains same-bucket hits") {
    val sub = emb.filter($"vec_id" < 200)
    val exact = Dedup.embeddingNearDupPairs(sub, "embedding", "vec_id", 0.8)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingLshPairs(sub, "embedding", "vec_id", 0.8, nBits = 8)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // verification step keeps only true pairs
    assert(lsh.nonEmpty)
    // plan: candidate generation is an equi hash join, not a cross product
    val plan = Dedup.embeddingLshPairs(sub, "embedding", "vec_id", 0.8, nBits = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"))
  }

  test("cellKnnGraph: bounded degree, exact edge distances, measured recall vs exact graph") {
    val e = table("embeddings").filter(col("vec_id") < 300)
    def edges(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Knn.knnGraph(e, "embedding", "vec_id", topK = 5)
    val cell = Knn.cellKnnGraph(e, "embedding", "vec_id", topK = 5,
      cells = 4, nprobe = 2)
    val exactE = edges(exact)
    val cellRows = cell.collect()
    // degree bound holds per node
    val deg = cellRows.groupBy(_.getLong(0)).values.map(_.length)
    assert(deg.forall(_ <= 5))
    // every cell edge carries the TRUE cosine distance (exact verify is
    // part of the contract): cross-check against the exact graph rows
    // they share
    val exactDist = exact.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    cellRows.foreach { r =>
      exactDist.get((r.getLong(0), r.getLong(1))).foreach { d =>
        assert(r.getDouble(2) == d)
      }
    }
    // recall: a neighbor is missed only when outside all probed cells —
    // nprobe=1 measured 0.42 on these quasi-uniform vectors, nprobe=2
    // measured 0.69 (0.87 at 3); pin just below the deterministic value
    val recall = exactE.intersect(edges(cell)).size.toDouble / exactE.size
    assert(recall >= 0.65, s"cell-graph recall $recall vs exact")
  }

  test("cellKnnGraph ranks via the partial-aggregatable heap: window-identical order, no pair-wide sort in the plan") {
    val e = table("embeddings").filter(col("vec_id") < 300)
    val cell = Knn.cellKnnGraph(e, "embedding", "vec_id", topK = 5,
      cells = 4, nprobe = 2)
    // the window contract the agg must reproduce bit-for-bit: per node,
    // ranks are contiguous from 1 in ascending (dist, id_b) order (the
    // kept-SET equivalence rides the previous test's deterministic
    // recall and exact-distance cross-check)
    val rows = cell.collect()
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to rs.length),
        sorted.map(_.getInt(3)).toSeq.toString)
      val pairs = sorted.map(r => (r.getDouble(2), r.getLong(1))).toSeq
      assert(pairs == pairs.sorted, pairs.toString)
    }
    // plan guard: the rank is a map-side-combinable aggregate, never a
    // window sort over every candidate pair (the shape that measured
    // ~100 GB of sort spill at the 2 M budget-edge build)
    val plan = cell.queryExecution.executedPlan.toString
    assert(plan.contains("topk_pairs"), plan.take(500))
    assert(!plan.contains("Window"), "pair-wide window sort resurrected")
  }

  test("ivfCellStats: counts cover the corpus; drifted appends raise residuals") {
    val dir = java.nio.file.Files.createTempDirectory("ivfstats").toString
    try {
      val base = emb.filter($"vec_id" < 200)
      Knn.ivfBuildIndex(base, "embedding", "vec_id", dir, k = 4, iters = 2,
        trainFilter = $"vec_id" % 5 === 0)
      val s0 = Knn.ivfCellStats(spark, dir).collect()
      assert(s0.map(_.getLong(1)).sum == 200L)
      assert(s0.forall(_.getDouble(2) >= 0.0))
      val n0 = s0.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val resid0 = s0.map(r => r.getLong(0) -> r.getDouble(2)).toMap
      // drifted batch: NEGATED vectors land far from every frozen centroid
      val drifted = base.limit(50).select(($"vec_id" + 10000L).as("vec_id"),
        expr("transform(embedding, x -> -x)").cast("array<float>")
          .as("embedding"))
      Knn.ivfAppendIndex(drifted, "embedding", "vec_id", dir)
      val s1 = Knn.ivfCellStats(spark, dir).collect()
      assert(s1.map(_.getLong(1)).sum == 250L)
      // the cells that absorbed drifted members must show higher mean
      // residual than before — the re-train signal
      val grew = s1.filter(r => r.getLong(1) > n0(r.getLong(0)))
      assert(grew.nonEmpty)
      assert(grew.forall(r => r.getDouble(2) > resid0(r.getLong(0))),
        "drifted members did not raise the residual signal")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
        .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("ivfAppendIndexStream: MemoryStream run equals wholesale build on frozen geometry") {
    val root = java.nio.file.Files.createTempDirectory("ivfstream").toString
    val streamDir = s"$root/index"
    val allDir = s"$root/index-all"
    try {
      val rows = emb.filter($"vec_id" < 200)
        .select($"vec_id", $"embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      implicit val sqlCtx = spark.sqlContext
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Float])]
      val df = input.toDF().toDF("vec_id", "embedding")
        .withColumn("embedding", $"embedding".cast("array<float>"))
      val q = Knn.ivfAppendIndexStream(df, "embedding", "vec_id", streamDir,
          k = 4, iters = 2)
        .option("checkpointLocation", s"$root/ckpt")
        .start()
      try {
        input.addData(rows.filter(_._1 < 100): _*) // first batch BUILDS
        q.processAllAvailable()
        input.addData(rows.filter(_._1 >= 100): _*) // second APPENDS
        q.processAllAvailable()
      } finally q.stop()
      assert(graft.sync.SegmentedIndex.resolve(spark, streamDir).get.size == 2)
      // wholesale twin: train on the first batch's rows, assign everything
      Knn.ivfBuildIndex(emb.filter($"vec_id" < 200), "embedding", "vec_id",
        allDir, k = 4, iters = 2, trainFilter = $"vec_id" < 100)
      val qv = emb.filter($"vec_id" === 0).select($"embedding")
        .head().getSeq[Float](0).toArray
      val a = Knn.IvfIndex.load(spark, streamDir).search(qv, k = 10, nprobe = 2)
        .collect().toSeq
      val b = Knn.IvfIndex.load(spark, allDir).search(qv, k = 10, nprobe = 2)
        .collect().toSeq
      assert(a == b, "streamed index diverges from wholesale twin")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator()
        .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("nnDescentGraph: recall climbs per round toward the exact graph, no n² join") {
    val sub = emb.filter($"vec_id" < 200)
    val exactE = Knn.knnGraph(sub, "embedding", "vec_id", topK = 5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    def recallAt(rounds: Int): Double = {
      val e = Knn.nnDescentGraph(sub, "embedding", "vec_id", k = 5,
        rounds = rounds).select($"id_a", $"id_b")
        .as[(Long, Long)].collect().toSet
      exactE.intersect(e).size.toDouble / exactE.size
    }
    // measured on this corpus (buildK = 2k = 10): 0.03 seed → 0.27 →
    // 0.97 at 3 rounds; pin the CLIMB and a floor under the final value
    val r0 = recallAt(0)
    val r1 = recallAt(1)
    val r3 = recallAt(3)
    assert(r0 < 0.2, s"seed graph is already $r0 — descent proves nothing")
    assert(r1 > r0 && r3 > r1, s"no climb: $r0 -> $r1 -> $r3")
    assert(r3 >= 0.85, s"3-round recall $r3 vs exact graph")
    // breadth is the dial: k=5 with buildK pinned to k plateaus well
    // below the default-breadth result (measured 0.63 ceiling)
    val narrow = Knn.nnDescentGraph(sub, "embedding", "vec_id", k = 5,
      rounds = 3, buildK = 5).select($"id_a", $"id_b")
      .as[(Long, Long)].collect().toSet
    val narrowRecall = exactE.intersect(narrow).size.toDouble / exactE.size
    assert(narrowRecall < r3, s"breadth dial flat: $narrowRecall vs $r3")
    // every node keeps exactly k edges, ranks 1..5, exact distances
    val g = Knn.nnDescentGraph(sub, "embedding", "vec_id", k = 5, rounds = 3)
    val perNode = g.groupBy($"id_a").count().select($"count")
      .as[Long].collect()
    assert(perNode.forall(_ == 5L))
    // construction never pays the n² pair join the exact form uses: no
    // nested-loop/cartesian join anywhere in a round's plan
    val plan = g.queryExecution.executedPlan
    val nested = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c }
    assert(nested.isEmpty, s"n²-shaped join in NN-Descent plan:\n$plan")
  }

  test("nnDescent maxInDegree: a cap >= n is a no-op; a tight cap still converges on hub-skewed data") {
    // the reverse-neighbor sampling dial (Dong WWW'11 §2.3): proposal
    // adjacency is capped per node, bounding the self-join's hub cost —
    // the manifold fixture's measured failure mode (SCALE.md §r13:
    // 100 k spilled >50 GB uncapped where the whole uniform build
    // shuffles 19 GB)
    val sub = emb.filter($"vec_id" < 200)
    def edgesOf(df: org.apache.spark.sql.DataFrame) =
      df.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val base = edgesOf(Knn.nnDescentGraph(sub, "embedding", "vec_id",
      k = 5, rounds = 3))
    // cap past any possible in-degree: IDENTICAL result (the sample
    // keeps everything, ordering is a no-op)
    val loose = edgesOf(Knn.nnDescentGraph(sub, "embedding", "vec_id",
      k = 5, rounds = 3, maxInDegree = 1000))
    assert(loose == base, "a non-binding cap changed the result")
    // a tight cap (2·buildK) on the HUB-SKEWED manifold corpus: the
    // descent must still converge — hubs lose excess proposals, not
    // the gradient
    import graft.fixtures.ManifoldCorpus
    val mani = (0L until 300L)
      .map(v => (v, ManifoldCorpus.vector(v).toSeq))
      .toDF("vec_id", "embedding").localCheckpoint()
    val exactM = Knn.knnGraph(mani, "embedding", "vec_id", topK = 5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val capped = edgesOf(Knn.nnDescentGraph(mani, "embedding", "vec_id",
      k = 5, rounds = 3, maxInDegree = 20))
    val r = exactM.intersect(capped).size.toDouble / exactM.size
    assert(r >= 0.6, s"capped descent recall $r on manifold data")
    // determinism: the pseudo-random sample replays bit-identically
    val capped2 = edgesOf(Knn.nnDescentGraph(mani, "embedding", "vec_id",
      k = 5, rounds = 3, maxInDegree = 20))
    assert(capped2 == capped)
  }

  test("nnDescentGraphCompressed: int8 rounds match fp32 descent within 0.02; pq descends; output dist is exact") {
    val sub = emb.filter($"vec_id" < 200)
    val exactE = Knn.knnGraph(sub, "embedding", "vec_id", topK = 5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    def recall(e: Set[(Long, Long)]): Double =
      exactE.intersect(e).size.toDouble / exactE.size
    def edgesOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val fp32 = recall(edgesOf(
      Knn.nnDescentGraph(sub, "embedding", "vec_id", k = 5, rounds = 3)))
    // int8 ranking is near-lossless: the descent makes (almost) the same
    // keep decisions, so the final graph's recall pins within 0.02 of
    // the fp32 build — the verdict's "compressed descent" gate
    val i8 = recall(edgesOf(Knn.nnDescentGraphCompressed(
      sub, "embedding", "vec_id", k = 5, rounds = 3)))
    assert(math.abs(fp32 - i8) <= 0.02, s"int8 recall $i8 vs fp32 $fp32")
    // pq ranking is coarser — the doc's dial: give it breadth (buildK)
    // and finer subspaces. m=16/ksub=32 on 64-dim, buildK=20: assert it
    // DESCENDS (well above the ~0.03 seed) rather than pinning to fp32
    val pq = recall(edgesOf(Knn.nnDescentGraphCompressed(
      sub, "embedding", "vec_id", k = 5, rounds = 3, buildK = 20,
      codec = "pq", m = 16, ksub = 32)))
    assert(pq >= 0.5, s"pq descent recall $pq — did not descend")
    // the reported dist is the EXACT fp32 cosine, not the codec metric:
    // spot-check every edge of one node against directly computed cosine
    val g = Knn.nnDescentGraphCompressed(
      sub, "embedding", "vec_id", k = 5, rounds = 2)
    val some = g.filter($"id_a" === 7L)
      .select($"id_b", $"dist").as[(Long, Double)].collect()
    assert(some.nonEmpty)
    val va = sub.filter($"vec_id" === 7L).select($"embedding")
      .head().getSeq[Float](0).toArray
    some.foreach { case (b, d) =>
      val vb = sub.filter($"vec_id" === b).select($"embedding")
        .head().getSeq[Float](0).toArray
      val dot = va.zip(vb).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val exact = 1.0 - dot / (math.sqrt(va.map(x => x.toDouble * x).sum) *
        math.sqrt(vb.map(x => x.toDouble * x).sum))
      assert(math.abs(d - exact) < 1e-9, s"edge (7,$b): $d vs exact $exact")
    }
    assert(Knn.nnDescentGraphCompressed(sub, "embedding", "vec_id",
      k = 5, rounds = 2).groupBy($"id_a").count().select($"count")
      .as[Long].collect().forall(_ == 5L))
    assertThrows[IllegalArgumentException](Knn.nnDescentGraphCompressed(
      sub, "embedding", "vec_id", k = 5, rounds = 1, codec = "fp8"))
  }

  test("nnDescentGraphCompressed(pq): an all-zero vector cannot poison the codebook") {
    val sub = emb.filter($"vec_id" < 150).select($"vec_id", $"embedding")
    // the zero-norm guard's target: unit-normalizing 0/0 would emit a
    // NaN row into pqTrain, and ONE NaN training row drags its centroid
    // to NaN — corrupting SDC ranking corpus-wide, not just this row
    val zero = sub.limit(1).select(lit(900000L).as("vec_id"),
      expr("transform(embedding, x -> CAST(0.0D AS FLOAT))").as("embedding"))
    val corpus = sub.unionByName(zero)
    val edges = Knn.nnDescentGraphCompressed(corpus, "embedding", "vec_id",
        k = 5, rounds = 3, buildK = 20, codec = "pq", m = 16, ksub = 32)
      .filter($"id_a" =!= 900000L && $"id_b" =!= 900000L)
      .select($"id_a", $"id_b", $"dist").as[(Long, Long, Double)].collect()
    assert(edges.nonEmpty)
    assert(edges.forall { case (_, _, d) => !d.isNaN && !d.isInfinite })
    // a poisoned codebook collapses the descent's keep decisions to
    // noise — recall vs the exact graph must stay descent-grade
    val exactE = Knn.knnGraph(sub, "embedding", "vec_id", topK = 5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val got = edges.map { case (a, b, _) => (a, b) }.toSet
    val rec = exactE.intersect(got).size.toDouble / exactE.size
    assert(rec >= 0.4, s"recall $rec — codebook likely NaN-poisoned")
  }

  test("graphBeamSearch: converges to exact top-k neighborhood, beam broadcasts") {
    val sub = emb.filter($"vec_id" < 300)
    val edges = Knn.knnGraph(sub, "embedding", "vec_id", topK = 5)
      .select($"id_a", $"id_b").cache()
    try {
      val qv = sub.filter($"vec_id" === 299).select($"embedding")
        .head().getSeq[Float](0).toArray
      val res = Knn.graphBeamSearch(sub, edges, "embedding", "vec_id", qv,
        k = 10, ef = 20, hops = 4, entryId = 0L)
      val rows = res.collect()
      assert(rows.length == 10)
      // the query vector's own node must be found by the walk (score ~0)
      assert(rows.head.getLong(0) == 299L && rows.head.getDouble(1) < 1e-12)
      val scores = rows.map(_.getDouble(1))
      assert(scores.sameElements(scores.sorted))
      // measured recall@10 vs exact on this corpus: 0.6 at ef=20/hops=4,
      // 1.0 at ef=60/hops=6 — pin below the deterministic values and pin
      // that widening the beam is the recall dial
      val exact = Knn.topK(sub, "embedding", qv, 10, "vec_id")
        .select($"vec_id").as[Long].collect().toSet
      val recall = exact.intersect(rows.map(_.getLong(0)).toSet).size / 10.0
      assert(recall >= 0.55, s"beam-search recall $recall vs exact")
      val wide = Knn.graphBeamSearch(sub, edges, "embedding", "vec_id", qv,
        k = 10, ef = 60, hops = 6, entryId = 0L)
        .select($"vec_id").as[Long].collect().toSet
      val wideRecall = exact.intersect(wide).size / 10.0
      assert(wideRecall >= 0.9 && wideRecall >= recall,
        s"ef=60 recall $wideRecall did not dominate ef=20's $recall")
      // more hops never worsens the beam (monotone improvement)
      val more = Knn.graphBeamSearch(sub, edges, "embedding", "vec_id", qv,
        k = 10, ef = 20, hops = 6, entryId = 0L)
        .agg(sum($"score")).head().getDouble(0)
      assert(more <= scores.sum + 1e-12)
      // plan shape: the beam side always broadcasts — no SortMergeJoin
      // anywhere (corpus and edges must never shuffle for a walk)
      val plan = res.queryExecution.executedPlan
      val smj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
      assert(smj.isEmpty, s"walk shuffled a corpus-scale side:\n$plan")
    } finally edges.unpersist()
  }

  test("hnswSearch: nested geometric levels, layered descent, recall vs exact") {
    val sub = emb.filter($"vec_id" < 300)
    // affine-hash levels over ids 0..299: level>=1 ⇔ id ≡ 3 (mod 4),
    // level 2 ⇔ id ≡ 3 (mod 16) — geometric ~1/4 layers, and the sets
    // NEST (mod-16 hits are mod-4 hits), the HNSW layer property
    val counts = sub.select($"vec_id".cast("long").as("id"))
      .withColumn("level", Knn.hnswLevel($"id", 2))
      .groupBy($"level").count().as[(Int, Long)].collect().toMap
    assert(counts == Map(0 -> 225L, 1 -> 56L, 2 -> 19L), s"$counts")
    val edges = Knn.knnGraph(sub, "embedding", "vec_id", topK = 5)
      .select($"id_a", $"id_b").cache()
    try {
      val qv = sub.filter($"vec_id" === 299).select($"embedding")
        .head().getSeq[Float](0).toArray
      def run() = Knn.hnswSearch(sub, edges, "embedding", "vec_id", qv,
        k = 10, ef = 20, hops = 4, maxLevel = 2, upperM = 3,
        upperHops = 4).collect()
      val rows = run()
      assert(rows.length == 10)
      val scores = rows.map(_.getDouble(1))
      assert(scores.sameElements(scores.sorted))
      val exact = Knn.topK(sub, "embedding", qv, 10, "vec_id")
        .select($"vec_id").as[Long].collect().toSet
      // measured (deterministic): 0.9 — vs 0.6 for the flat walk from
      // entry 0 at the SAME ef/hops (the graphBeamSearch test above):
      // the descent's better entry is worth +0.3 recall at equal cost
      val recall = exact.intersect(rows.map(_.getLong(0)).toSet).size / 10.0
      info(s"hnsw recall@10 at ef=20/hops=4: $recall")
      assert(recall >= 0.85, s"hnsw recall $recall vs exact")
      // fully deterministic: affine levels + (dist, id) ties everywhere
      assert(rows.toSeq == run().toSeq)
    } finally edges.unpersist()
  }

  test("hammingPrefilterTopK: recall vs exact, integer-only cut, no shuffle of corpus") {
    val qv = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).toArray
    val res = Knn.hammingPrefilterTopK(emb, "embedding", "vec_id", qv,
      k = 10, candidates = 50)
    val rows = res.collect()
    assert(rows.length == 10)
    // self-query: vec_id 0 has Hamming 0 to itself, cosine ~0
    assert(rows.head.getLong(0) == 0L && rows.head.getLong(1) == 0L &&
      rows.head.getDouble(2) < 1e-12)
    // scores ascend, hamming of every survivor is small-ish vs 64 bits
    val scores = rows.map(_.getDouble(2))
    assert(scores.sameElements(scores.sorted))
    // measured recall@10 vs exact on this corpus: 0.8 (sketches at 64
    // bits); pin below the deterministic value, well above chance
    val exact = Knn.topK(emb, "embedding", qv, 10, "vec_id")
      .select($"vec_id").as[Long].collect().toSet
    val got = rows.map(_.getLong(0)).toSet
    val recall = exact.intersect(got).size.toDouble / exact.size
    assert(recall >= 0.6, s"hamming-prefilter recall $recall vs exact")
    // plan shape: both cuts are TakeOrderedAndProject heaps; the corpus
    // never shuffles (no ShuffleExchange anywhere in the plan)
    val plan = res.queryExecution.executedPlan
    val heaps = plan.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t }
    assert(heaps.length == 2, s"want 2 top-k heaps, got:\n$plan")
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    assert(shuffles.isEmpty, s"corpus shuffled:\n$plan")
  }

  test("chunkedIn: equals isin, survives shortlists past the literal stack ceiling, still pushes down") {
    val dir = java.nio.file.Files.createTempDirectory("chunkin").toString
    try {
      spark.range(20000).select($"id", ($"id" * 2).as("x"))
        .write.parquet(s"$dir/t")
      val t = spark.read.parquet(s"$dir/t")
      // a shortlist far past BOTH failure modes of a single In: the
      // ~1280-literal parquet or-chain stack overflow (SCALE.md §r11 —
      // refine=128·k=10, and the API default k=20 at refine=64) and the
      // inFilterThreshold=4096 silent range degradation (refine=64 ×
      // MaxK=100 = 6400). 6667 ids → 27 balanced ≤256-id legs.
      val ids: Seq[Any] = 0L until 20000L by 3L
      val got = t.filter(Knn.chunkedIn($"id", ids)).select($"id")
        .as[Long].collect().toSet
      assert(got == (0L until 20000L by 3L).toSet)
      // the full list reaches the parquet scan as real In legs (row-group
      // stats can skip), not a bare (min,max) range
      val scan = t.filter(Knn.chunkedIn($"id", ids)).queryExecution
        .executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.head
      assert(scan.metadata("PushedFilters").contains("In("),
        scan.metadata("PushedFilters").take(200))
      // edges: empty matches nothing (isin() parity — a starved filtered
      // refine shortlist must keep the widening loop alive, not crash),
      // singleton degenerates to one isin
      assert(t.filter(Knn.chunkedIn($"id", Nil)).count() == 0L)
      assert(t.filter(Knn.chunkedIn($"id", Seq(5L))).count() == 1L)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("seedRanks: dense 0-based rank by ascending id, no single-partition exchange") {
    // sparse, shuffled ids across many partitions — the descent's seed
    // numbering must equal row_number()-1 over ORDER BY id
    val ids = Seq(907L, 3L, 55L, 41L, 8L, 999L, 12L, 500L, 77L, 0L)
    val codes = spark.createDataset(ids).repartition(7).toDF("id")
      .withColumn("c", lit(1))
    val got = Knn.seedRanks(codes).as[(Long, Long)].collect().toMap
    val want = ids.sorted.zipWithIndex.map { case (id, r) => id -> r.toLong }
      .toMap
    assert(got == want)
    // the scale point of the rewrite: NO exchange funnels the corpus
    // into one task (the old unpartitioned row_number window planned a
    // SinglePartition shuffle before its sort)
    val plan = Knn.seedRanks(codes).queryExecution.executedPlan
    val single = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.numPartitions == 1 => e
    }
    assert(single.isEmpty, s"single-partition exchange in seed plan:\n$plan")
    assert(plan.toString.indexOf("Window") < 0,
      s"window in seed plan:\n$plan")
  }
}
