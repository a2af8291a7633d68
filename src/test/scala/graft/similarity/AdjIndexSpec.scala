package graft.similarity

import java.util.concurrent.TimeUnit

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** [[Knn.AdjIndex]] — the graph-ANN walk served from the persistent
  * bucket-partitioned adjacency layout: equality with the wholesale
  * [[Knn.graphBeamSearch]] walk at the index's storage precision,
  * bucket pruning on the frontier reads, the per-request job budget,
  * append == rebuild, and live reload.
  */
class AdjIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def rmTree(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
  }

  private lazy val emb = table("embeddings")
    .filter($"embedding".isNotNull).cache()
  private lazy val edges = Knn.knnGraph(emb, "embedding", "vec_id", topK = 5)
    .select($"id_a", $"id_b").cache()
  private lazy val qv = emb.filter($"vec_id" === 7).select($"embedding")
    .head().getSeq[Float](0).toArray

  test("fp32 index walk is row-identical to graphBeamSearch; fp16 matches the rounded corpus walk") {
    val d32 = java.nio.file.Files.createTempDirectory("adj32").toString + "/i"
    val d16 = java.nio.file.Files.createTempDirectory("adj16").toString + "/i"
    try {
      Knn.buildAdjacencyIndex(edges, emb, "embedding", "vec_id", d32,
        buckets = 8, fp16 = false)
      val got32 = Knn.AdjIndex.load(spark, d32)
        .search(qv, k = 5, ef = 12, hops = 3, entryId = 0L)
        .collect().toSeq
      val want32 = Knn.graphBeamSearch(emb, edges, "embedding", "vec_id",
          qv, k = 5, ef = 12, hops = 3, entryId = 0L)
        .collect().toSeq.map(r => org.apache.spark.sql.Row(r.get(0), r.get(1)))
      assert(got32 == want32, s"$got32 vs $want32")

      // fp16 storage: the walk equals graphBeamSearch over the corpus
      // pre-rounded through the same half-precision codec (the graph —
      // built fp32 — is identical by construction)
      Knn.buildAdjacencyIndex(edges, emb, "embedding", "vec_id", d16,
        buckets = 8)
      val got16 = Knn.AdjIndex.load(spark, d16)
        .search(qv, k = 5, ef = 12, hops = 3, entryId = 0L)
        .collect().toSeq
      val rounded = emb.select($"vec_id", graft.functions.fp16_decode(
        graft.functions.fp16_encode($"embedding")).as("embedding"))
      val want16 = Knn.graphBeamSearch(rounded, edges, "embedding", "vec_id",
          qv, k = 5, ef = 12, hops = 3, entryId = 0L)
        .collect().toSeq.map(r => org.apache.spark.sql.Row(r.get(0), r.get(1)))
      assert(got16 == want16, s"$got16 vs $want16")
    } finally { rmTree(d32); rmTree(d16) }
  }

  test("HnswIndex: persisted layer stack equals hnswSearch; entry pinned at build") {
    val sub = emb.filter($"vec_id" < 300)
    val dir = java.nio.file.Files.createTempDirectory("hnsw").toString + "/i"
    try {
      Knn.buildHnswIndex(sub, "embedding", "vec_id", dir, maxLevel = 2,
        upperM = 3, k0 = 5, buckets = 8, fp16 = false)
      val idx = Knn.HnswIndex.load(spark, dir)
      // affine levels over 0..299: top layer = ids ≡ 3 (mod 16), min 3
      assert(idx.entryId == 3L)
      val got = idx.search(qv, k = 10, ef = 20, hops = 4, upperHops = 4)
        .collect().toSeq
      // fp32 storage: the served walk is row-identical to the in-plan
      // layered search (same levels, same graphs, same greedy + beam)
      val edges300 = Knn.knnGraph(sub, "embedding", "vec_id", topK = 5)
        .select($"id_a", $"id_b")
      val want = Knn.hnswSearch(sub, edges300, "embedding", "vec_id", qv,
          k = 10, ef = 20, hops = 4, maxLevel = 2, upperM = 3,
          upperHops = 4)
        .collect().toSeq.map(r => org.apache.spark.sql.Row(r.get(0), r.get(1)))
      assert(got == want, s"$got vs $want")
      // deterministic reruns off the same handle
      assert(idx.search(qv, k = 10, ef = 20, hops = 4, upperHops = 4)
        .collect().toSeq == got)
    } finally rmTree(dir)
  }

  test("resident upper descent: identical walk, zero descent jobs; budget overflow skips but serves") {
    val sub = emb.filter($"vec_id" < 300)
    val dir = java.nio.file.Files.createTempDirectory("hnswres").toString + "/i"
    try {
      Knn.buildHnswIndex(sub, "embedding", "vec_id", dir, maxLevel = 2,
        upperM = 3, k0 = 5, buckets = 8, fp16 = true)
      val idx = Knn.HnswIndex.load(spark, dir)
      assert(idx.residentLevels == Set(1, 2), idx.residentLevels)
      val l0 = Knn.AdjIndex.load(spark, s"$dir/layer0")
      val qs = Seq(7L, 42L, 123L).map(i => emb.filter($"vec_id" === i)
        .select($"embedding").head().getSeq[Float](0).toArray)
      qs.foreach { q =>
        // the per-job upper descent (the pre-r13 serving path) lands on
        // the same layer-0 entry: full results are row-identical
        var cur = idx.entryId
        Seq(2, 1).foreach { l =>
          cur = Knn.AdjIndex.load(spark, s"$dir/layer$l")
            .search(q, k = 1, ef = 1, hops = 4, entryId = cur)
            .head().getLong(0)
        }
        val got = idx.search(q, k = 5, ef = 12, hops = 3).collect().toSeq
        val want = l0.search(q, k = 5, ef = 12, hops = 3, entryId = cur)
          .collect().toSeq
        assert(got == want, s"$got vs $want")
      }
      // the job shape is the FLAT walk's: 1 entry + hops frontier reads
      // (+ a possible local-rows job) — the descent adds ZERO jobs
      val sc = spark.sparkContext
      val before = sc.statusTracker.getJobIdsForGroup(null).length
      idx.search(qs.head, k = 5, ef = 12, hops = 3).collect()
      val after = sc.statusTracker.getJobIdsForGroup(null).length
      assert(after - before <= 5, s"ran ${after - before} jobs")
      // a budget the uppers don't fit: levels are skipped, never walked
      // per-job — the walk serves from the pinned entry
      val tiny = Knn.HnswIndex.load(spark, dir, residentNodes = 1)
      assert(tiny.residentLevels.isEmpty)
      val got = tiny.search(qs.head, k = 5, ef = 12, hops = 3)
        .collect().toSeq
      val want = l0.search(qs.head, k = 5, ef = 12, hops = 3,
        entryId = idx.entryId).collect().toSeq
      assert(got == want, s"$got vs $want")
    } finally rmTree(dir)
  }

  test("hnswAppendIndex: bulk insertion — levels nest, new nodes findable, old queries intact") {
    val base = emb.filter($"vec_id" < 250)
      .select($"vec_id".cast("long").as("vec_id"), $"embedding")
    val batch = emb.filter($"vec_id" >= 250 && $"vec_id" < 300)
      .select($"vec_id".cast("long").as("vec_id"), $"embedding")
    val dir = java.nio.file.Files.createTempDirectory("hnswapp").toString + "/i"
    try {
      Knn.buildHnswIndex(base, "embedding", "vec_id", dir, maxLevel = 2,
        upperM = 3, k0 = 5, buckets = 8, fp16 = false)
      val before = Knn.HnswIndex.load(spark, dir)
        .search(qv, k = 10, ef = 20, hops = 4).collect().toSeq
      Knn.hnswAppendIndex(batch, "embedding", "vec_id", dir)
      val idx = Knn.HnswIndex.load(spark, dir)
      // level discipline: an appended node with affine level >= 1 got a
      // self-row in layer 1, level-0 nodes did not
      val lev = batch.select($"vec_id",
          Knn.hnswLevel($"vec_id", 2).as("level"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(lev.values.exists(_ >= 1) && lev.values.exists(_ == 0))
      val l1Selfs = Knn.AdjIndex.load(spark, s"$dir/layer1").relation
        .filter($"src" === $"dst").select($"dst").as[Long].collect().toSet
      assert(lev.filter(_._2 >= 1).keySet.subsetOf(l1Selfs))
      assert(lev.filter(_._2 == 0).keySet.intersect(l1Selfs).isEmpty)
      // every appended node is findable: query its own vector, rank 1
      // at score ~0 (reverse edges make it reachable immediately)
      batch.limit(3).collect().foreach { r =>
        val v = r.getSeq[Float](1).toArray
        val hit = idx.search(v, k = 1, ef = 20, hops = 4).head()
        assert(hit.getLong(0) == r.getLong(0), s"missed node ${r.getLong(0)}")
        assert(hit.getDouble(1) < 1e-9)
      }
      // a pre-append query still resolves with comparable quality: the
      // old top hit is unchanged (its neighborhood only gained edges)
      val after = idx.search(qv, k = 10, ef = 20, hops = 4).collect().toSeq
      assert(after.head.getLong(0) == before.head.getLong(0))
    } finally rmTree(java.nio.file.Paths.get(dir).getParent.toString)
  }

  test("frontier reads prune to the beam's buckets; a search is 1 + hops point-read jobs") {
    val dir = java.nio.file.Files.createTempDirectory("adjpr").toString + "/i"
    try {
      Knn.buildAdjacencyIndex(edges, emb, "embedding", "vec_id", dir,
        buckets = 8)
      val idx = Knn.AdjIndex.load(spark, dir)
      // srcs 3 and 11 share bucket 3; src 4 adds bucket 4 → exactly 2
      // partitions scanned out of 8
      val fr = idx.frontierFrame(Seq(3L, 11L, 4L), qv)
      val scans = fr.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      assert(scans.map(_.selectedPartitions.partitionCount).sum == 2,
        scans.map(_.metadata("PartitionFilters")).mkString("\n"))
      val sc = spark.sparkContext
      val before = sc.statusTracker.getJobIdsForGroup(null).length
      idx.search(qv, k = 5, ef = 12, hops = 3, entryId = 0L).collect()
      val after = sc.statusTracker.getJobIdsForGroup(null).length
      // 1 entry read + 3 hop reads; the final toDF of local rows may cost
      // one more tiny job depending on the plan
      assert(after - before <= 5, s"ran ${after - before} jobs")
    } finally rmTree(dir)
  }

  test("append == rebuild; the reloading handle serves appended edges live") {
    val half = java.nio.file.Files.createTempDirectory("adjh").toString + "/i"
    val full = java.nio.file.Files.createTempDirectory("adjf").toString + "/i"
    try {
      // corpus-growth shape: the index starts over nodes < 250 with the
      // edges wholly inside that set; the append lands every edge that
      // touches a new node plus the new nodes' self-rows — the union is
      // exactly the full graph + full self-row set, so the walk must
      // equal a wholesale build
      val e1 = edges.filter($"id_a" < 250 && $"id_b" < 250)
      val e2 = edges.filter($"id_a" >= 250 || $"id_b" >= 250)
      Knn.buildAdjacencyIndex(e1, emb.filter($"vec_id" < 250),
        "embedding", "vec_id", half, buckets = 8)
      val handle = graft.sync.Reloading(spark, half, Seq("meta"))(
        Knn.AdjIndex.load(spark, half))
      Knn.appendAdjacencyIndex(e2, emb, "embedding", "vec_id", half,
        newNodes = Some(emb.filter($"vec_id" >= 250).select($"vec_id")))
      Knn.buildAdjacencyIndex(edges, emb, "embedding", "vec_id", full,
        buckets = 8)
      val got = handle.get.search(qv, k = 5, ef = 12, hops = 3, entryId = 0L)
        .collect().toSeq
      assert(got == Knn.AdjIndex.load(spark, full)
        .search(qv, k = 5, ef = 12, hops = 3, entryId = 0L).collect().toSeq)
    } finally { rmTree(half); rmTree(full) }
  }

  test("negative node ids: probe buckets match the writer's pmod — frontier reads and the walk find them") {
    val dir = java.nio.file.Files.createTempDirectory("adjneg").toString + "/i"
    try {
      // ids straddling zero: the layout partitions by pmod (always
      // non-negative) while a JVM % maps a negative id to a negative
      // bucket literal — the old probe silently read the wrong bucket
      // and DROPPED negative ids from the read
      val c = emb.filter($"vec_id" < 40)
        .select(($"vec_id" - 20L).as("vec_id"), $"embedding")
        .localCheckpoint()
      val knn = Knn.knnGraph(c, "embedding", "vec_id", topK = 5)
        .select($"id_a", $"id_b")
      // a chain over the id range keeps the symmetrized graph connected,
      // so the exhaustive walk below visits every node deterministically
      val chain = c.select($"vec_id".as("id_a"), ($"vec_id" + 1L).as("id_b"))
        .filter($"id_b" < 20L)
      Knn.buildAdjacencyIndex(knn.unionByName(chain), c, "embedding",
        "vec_id", dir, buckets = 8, fp16 = false)
      val qv = c.filter($"vec_id" === -13L).select($"embedding")
        .head().getSeq[Float](0).toArray
      val idx = Knn.AdjIndex.load(spark, dir)
      // every src's self-row (src = dst) comes back from its bucket
      val selfRows = idx.frontierFrame(Seq(-13L, -1L, 7L), qv).collect()
        .map(_.getLong(0)).toSet
      assert(Set(-13L, -1L, 7L).subsetOf(selfRows), selfRows.toString)
      // end-to-end: a walk entered at the query's own (negative) id reads
      // its self-row from the pmod bucket, so that id comes back first
      // at distance ~0 (the wrong bucket would leave the entry unscored)
      val got = idx.search(qv, k = 5, ef = 40, hops = 3, entryId = -13L)
        .collect()
      assert(got.head.getLong(0) == -13L && got.head.getDouble(1) < 1e-6,
        got.toSeq.toString)
    } finally rmTree(dir)
  }

  test("adjDeleteIndex: delete == build-without; re-append revives; compaction erases and preserves the walk") {
    val del = java.nio.file.Files.createTempDirectory("adjdel").toString + "/i"
    val ref = java.nio.file.Files.createTempDirectory("adjref").toString + "/i"
    try {
      Knn.buildAdjacencyIndex(edges, emb, "embedding", "vec_id", del,
        buckets = 8)
      val dead = emb.filter($"vec_id" % 7 === 3).select($"vec_id")
      val deadSet = dead.as[Long].collect().toSet
      Knn.adjDeleteIndex(spark, del, dead, "vec_id")
      // masking == the index built from the same graph minus every edge
      // touching a deleted node, over the surviving corpus (the
      // delete-then-search == rebuild-then-search gate, q110/q111 form)
      Knn.buildAdjacencyIndex(
        edges.filter($"id_a" % 7 =!= 3 && $"id_b" % 7 =!= 3),
        emb.filter($"vec_id" % 7 =!= 3), "embedding", "vec_id", ref,
        buckets = 8)
      val gotDel = Knn.AdjIndex.load(spark, del)
        .search(qv, k = 5, ef = 12, hops = 3, entryId = 0L).collect().toSeq
      val gotRef = Knn.AdjIndex.load(spark, ref)
        .search(qv, k = 5, ef = 12, hops = 3, entryId = 0L).collect().toSeq
      assert(gotDel == gotRef, s"$gotDel vs $gotRef")
      assert(gotDel.forall(r => !deadSet(r.getLong(0))))
      // compaction: one physical segment, no dead row anywhere, and the
      // walk unchanged (frozen layout — erase only)
      Knn.adjCompactIndex(spark, del)
      assert(graft.sync.SegmentedIndex.resolve(spark, del).get.size == 1)
      val rel = Knn.AdjIndex.load(spark, del).relation
      assert(rel.filter($"src".isin(deadSet.toSeq: _*) ||
        $"dst".isin(deadSet.toSeq: _*)).isEmpty)
      assert(Knn.AdjIndex.load(spark, del)
        .search(qv, k = 5, ef = 12, hops = 3, entryId = 0L)
        .collect().toSeq == gotDel)
      // sequence scope: a deleted node re-appended AFTER its tombstone
      // serves again — its self-row and links are visible to the walk
      val back = deadSet.min
      val backEdges = edges.filter(
        ($"id_a" === back && $"id_b" % 7 =!= 3) ||
        ($"id_b" === back && $"id_a" % 7 =!= 3))
      Knn.appendAdjacencyIndex(backEdges, emb, "embedding", "vec_id", del,
        newNodes = Some(emb.filter($"vec_id" === back).select($"vec_id")))
      val relBack = Knn.AdjIndex.load(spark, del).relation
      assert(relBack.filter($"src" === back && $"dst" === back).count() == 1)
      assert(relBack.filter($"src" === back).count() >= 1)
    } finally { rmTree(del); rmTree(ref) }
  }

  test("buildHnswIndex failure is clean: no partial layer dirs, rebuild works") {
    val sub = emb.filter($"vec_id" < 300)
    val root = java.nio.file.Files.createTempDirectory("hnswfail").toString
    val dir = root + "/i"
    try {
      // layers build CONCURRENTLY: the upper-layer graphs (m == upperM)
      // throw only once layer 0 (m == k0) holds a running Spark job, so
      // the root failure always cancels an in-flight sibling — whose
      // cancellation must surface as suppressed, never as the cause.
      // The cleanup contract is that NOTHING survives.
      val boom = new RuntimeException("upper layer boom")
      val ex = intercept[RuntimeException] {
        Knn.buildHnswIndex(sub, "embedding", "vec_id", dir, maxLevel = 2,
          upperM = 3, k0 = 5, buckets = 8, fp16 = false,
          graphFn = Some { (df, m) =>
            if (m == 3) {
              HnswFailGate.layer0Running.await(60, TimeUnit.SECONDS)
              throw boom
            }
            // one task that blocks until the group cancel interrupts it
            spark.range(1).rdd.foreach { _ =>
              HnswFailGate.layer0Running.countDown()
              Thread.sleep(60000)
            }
            Knn.knnGraph(df, "embedding", "vec_id", topK = m)
          })
      }
      assert(ex eq boom, ex)
      assert(ex.getSuppressed.exists(_ ne boom), ex.getSuppressed.toSeq)
      // no torn stack: every layer dir AND meta are gone, the ready
      // probe reports absent, and no stale CURRENT pointer survives for
      // a workRoot-style rebuild guard to trust
      (0 to 2).foreach { l =>
        assert(!new java.io.File(s"$dir/layer$l").exists(),
          s"layer$l survived the failed build")
      }
      assert(!new java.io.File(s"$dir/meta").exists(),
        "meta survived the failed build")
      assert(!Knn.hnswIndexReady(spark, dir))
      // the same dir rebuilds cleanly afterwards (guards see absence)
      Knn.buildHnswIndex(sub, "embedding", "vec_id", dir, maxLevel = 2,
        upperM = 3, k0 = 5, buckets = 8, fp16 = false)
      assert(Knn.hnswIndexReady(spark, dir))
      assert(Knn.HnswIndex.load(spark, dir)
        .search(qv, k = 5, ef = 12, hops = 3).collect().nonEmpty)
    } finally rmTree(root)
  }

  test("q145's fixture guard heals a crash between the stack build and the insertion") {
    val root = java.nio.file.Files.createTempDirectory("hnswheal").toString
    val dir = s"$root/stack"
    val base = emb.filter($"vec_id" < 250)
      .select($"vec_id".cast("long").as("vec_id"), $"embedding")
    val batch = emb.filter($"vec_id" >= 250 && $"vec_id" < 300)
      .select($"vec_id".cast("long").as("vec_id"), $"embedding")
    def layer0Nodes: Set[Long] = Knn.AdjIndex.load(spark, s"$dir/layer0")
      .relation.filter($"src" === $"dst").select($"dst").as[Long]
      .collect().toSet
    try {
      // the base stack committed, the insertion never ran
      Knn.buildHnswIndex(base, "embedding", "vec_id", dir, maxLevel = 2,
        upperM = 3, k0 = 5, buckets = 8, fp16 = false)
      val batchIds = batch.select($"vec_id").as[Long].collect().toSet
      assert(batchIds.size == 50 && (layer0Nodes & batchIds).isEmpty)
      graft.SparkEntry.hnswInsertFixture(spark, base, batch, dir)
      assert(batchIds.subsetOf(layer0Nodes))
      // a second run finds both steps committed and changes nothing
      val segs = graft.sync.SegmentedIndex.resolve(spark, s"$dir/layer0")
      graft.SparkEntry.hnswInsertFixture(spark, base, batch, dir)
      assert(graft.sync.SegmentedIndex.resolve(spark, s"$dir/layer0") == segs)
    } finally rmTree(root)
  }
}

/** Orders [[AdjIndexSpec]]'s failed-build case: a task of layer 0's job
  * opens it, so the upper layers fail only while that job runs. A
  * top-level object, so tasks reach it in-JVM instead of serializing it. */
object HnswFailGate {
  val layer0Running = new java.util.concurrent.CountDownLatch(1)
}
