package graft.similarity

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** [[Knn.ivfRoutedSearchIndex]]: the measured-selectivity router —
  * rare predicates scan (exact), plentiful ones probe, the boundary is
  * inclusive, and each branch equals the plan it routes to. */
class RoutedSearchSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = table("embeddings")
    .filter($"embedding".isNotNull).cache()

  private lazy val indexDir: String = {
    val dir = Files.createTempDirectory("graft-routed").toString + "/ivf"
    Knn.ivfBuildIndex(emb, "embedding", "vec_id", dir, k = 8, iters = 2,
      trainFilter = $"vec_id" % 5 === 0, attrCols = Seq("label"))
    dir
  }

  private lazy val qv = emb.filter($"vec_id" === 0)
    .select($"embedding").head().getSeq[Float](0).toArray

  test("a rare predicate routes to the exhaustive scan and is exact") {
    val cond = $"label" === 5
    val got = Knn.ivfRoutedSearchIndex(spark, indexDir, qv, k = 10,
      nprobe = 1, filter = cond, bruteThreshold = 100L).collect()
    assert(got.forall(_.getString(3) == "scan"))
    val exact = emb.filter(cond)
      .select($"vec_id".as("id"),
        graft.functions.cosine_distance($"embedding", typedLit(qv))
          .as("score"))
      .orderBy($"score".asc, $"id".asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(r => (r.getLong(0), r.getDouble(2))).toSeq == exact)
  }

  test("a plentiful predicate routes to the pruned probe and matches it") {
    val cond = $"label" % 3 === 1
    val got = Knn.ivfRoutedSearchIndex(spark, indexDir, qv, k = 10,
        nprobe = 2, filter = cond, bruteThreshold = 100L)
      .collect()
    assert(got.forall(_.getString(3) == "probe"))
    val plain = Knn.IvfIndex.load(spark, indexDir).search(qv, k = 10,
        nprobe = 2, filter = Some(cond))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got.map(r => (r.getLong(0), r.getDouble(2))).toSeq == plain)
  }

  test("servingTopKRouted: a rare predicate answers in two jobs (count " +
      "+ pruned scan) with the exhaustive plan's exact rows; a broad " +
      "one matches the adaptive path") {
    val idx = Knn.IvfIndex.load(spark, indexDir)
    // 6 matches < k — the predicate shape that starves EVERY probe, so
    // the adaptive ladder walks its full doubling to numCells
    val starved = $"id" % 97 === 0
    // prime the lazy avgCellRows yardstick (one count job, once per
    // load) so the steady-state request shape is what's measured
    idx.servingTopKRouted(qv, 10, 1, starved)
    val sc = spark.sparkContext
    // count via the MAX retained job id, not the list length: the status
    // tracker evicts old jobs past spark.ui.retainedJobs, so under a full
    // sbt-test session the length can DROP across `f` (measured -96) while
    // job ids stay monotonic per context
    def jobs(f: => Unit): Int = {
      def hi = sc.statusTracker.getJobIdsForGroup(null).foldLeft(-1)(math.max)
      val before = hi
      f
      hi - before
    }
    var got: Array[org.apache.spark.sql.Row] = null
    val routedJobs = jobs { got = idx.servingTopKRouted(qv, 10, 1, starved) }
    val ladderJobs = jobs { idx.servingTopK(qv, 10, 1, Some(starved)) }
    // the routed request is count + ONE pruned scan; the adaptive
    // ladder on the same starved predicate pays a widening attempt per
    // doubling (log₂(cells) jobs) to arrive at the same plan
    assert(routedJobs <= 3 && ladderJobs >= 4 && routedJobs < ladderJobs,
      s"narrow routed request ran $routedJobs jobs vs the ladder's " +
        s"$ladderJobs — the widening ladder is back")
    val want = idx.search(qv, 10, idx.numCells, Some(starved)).collect()
      .map(r => (r.get(0), r.getDouble(2))).toSeq
    assert(got.map(r => (r.get(0), r.getDouble(1))).toSeq == want
      && want.length == 6)
    // broad: routed takes the standard adaptive path — identical rows
    val broad = $"label" % 3 === 1
    val gotB = idx.servingTopKRouted(qv, 10, 2, broad)
      .map(r => (r.get(0), r.getDouble(1))).toSeq
    val wantB = idx.servingTopK(qv, 10, 2, Some(broad))
      .map(r => (r.get(0), r.getDouble(1))).toSeq
    assert(gotB == wantB)
  }

  // ---- the build-time attr-stats sidecar (r16): equality predicates
  //      price from the driver map — no count job at all ----

  test("the attrstats sidecar prices every (column, value) exactly") {
    val stats = Knn.ivfAttrStats(spark, indexDir).get
      .groupBy($"acol", $"value").agg(sum($"cnt").as("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    val want = emb.groupBy($"label".cast("string").as("v"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => ("label", r.getString(0), r.getLong(1))).toSet
    assert(stats == want)
  }

  test("a stats-covered equality routes with NO count job and the " +
      "exhaustive plan's exact rows; a conjunction prices on its " +
      "rarest branch") {
    val idx = Knn.IvfIndex.load(spark, indexDir)
    // warm every lazy pricing input (avgCellRows, the stats map) AND
    // both request shapes once (first-use plan work like file listing
    // is not the steady-state request cost job counts should see)
    idx.servingTopKRouted(qv, 10, 1, $"label" === 3)
    idx.servingTopKRouted(qv, 10, 1, $"label".isin(3))
    val sc = spark.sparkContext
    // count via the MAX retained job id, not the list length: the status
    // tracker evicts old jobs past spark.ui.retainedJobs, so under a full
    // sbt-test session the length can DROP across `f` (measured -96) while
    // job ids stay monotonic per context
    def jobs(f: => Unit): Int = {
      def hi = sc.statusTracker.getJobIdsForGroup(null).foldLeft(-1)(math.max)
      val before = hi
      f
      hi - before
    }
    var gotS: Array[org.apache.spark.sql.Row] = null
    var gotM: Array[org.apache.spark.sql.Row] = null
    val statsJobs = jobs { gotS = idx.servingTopKRouted(qv, 10, 1,
      $"label" === 5) }
    // isin(5) is the same predicate in a shape the parser declines —
    // the measured-count path, one extra column-pruned job
    val measuredJobs = jobs { gotM = idx.servingTopKRouted(qv, 10, 1,
      $"label".isin(5)) }
    assert(statsJobs < measuredJobs,
      s"stats-priced equality ran $statsJobs jobs vs measured " +
        s"$measuredJobs — the count job is back")
    assert(gotS.map(r => (r.get(0), r.getDouble(1))).toSeq ==
      gotM.map(r => (r.get(0), r.getDouble(1))).toSeq)
    val exact = emb.filter($"label" === 5)
      .select($"vec_id".as("id"),
        graft.functions.cosine_distance($"embedding", typedLit(qv))
          .as("score"))
      .orderBy($"score".asc, $"id".asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotS.map(r => (r.get(0), r.getDouble(1))).toSeq == exact)
    // conjunction: min over priced branches is an upper bound — the
    // label===5 branch is rare, so the AND routes to the scan with no
    // count job and stays exact under the full predicate
    var gotC: Array[org.apache.spark.sql.Row] = null
    val conjJobs = jobs { gotC = idx.servingTopKRouted(qv, 10, 1,
      $"label" === 5 && $"id" % 2 === 0) }
    assert(conjJobs < measuredJobs)
    val exactC = emb.filter($"label" === 5 && $"vec_id" % 2 === 0)
      .select($"vec_id".as("id"),
        graft.functions.cosine_distance($"embedding", typedLit(qv))
          .as("score"))
      .orderBy($"score".asc, $"id".asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotC.map(r => (r.get(0), r.getDouble(1))).toSeq == exactC)
  }

  test("attrstats lifecycle: appends sum, deletes leave an upper " +
      "bound, compaction re-exacts, and a high-cardinality column " +
      "overflows to the measured path") {
    val dir = Files.createTempDirectory("graft-stats").toString + "/ivf"
    val base = emb.filter($"vec_id" < 400)
    Knn.ivfBuildIndex(base, "embedding", "vec_id", dir, k = 4, iters = 1,
      trainFilter = $"vec_id" % 7 === 0, attrCols = Seq("label"))
    def counts(): Map[String, Long] =
      Knn.ivfAttrStats(spark, dir).get
        .groupBy($"value").agg(sum($"cnt").as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val c0 = counts()
    assert(c0 == base.groupBy($"label".cast("string")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap)
    // append: a second segment's sidecar sums into the relation
    val batch = emb.filter($"vec_id" >= 400 && $"vec_id" < 450)
    Knn.ivfAppendIndex(batch, "embedding", "vec_id", dir)
    val both = base.unionByName(batch)
    assert(counts() == both.groupBy($"label".cast("string")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap)
    // delete: stats unchanged (upper bound), served rows exact
    Knn.ivfDeleteIndex(spark, dir,
      both.filter($"label" === 1).select($"vec_id"), "vec_id")
    assert(counts() == both.groupBy($"label".cast("string")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap)
    val live = both.filter($"label" =!= 1)
    val idx = Knn.IvfIndex.load(spark, dir)
    val got = idx.servingTopKRouted(qv, 5, 1, $"label" === 1)
    assert(got.isEmpty) // every label-1 row tombstoned; branch is exact
    // compact: tombstones erased, the rewritten sidecar is exact again
    Knn.ivfCompactIndex(spark, dir)
    assert(counts() == live.groupBy($"label".cast("string")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap)
    // overflow: a unique-valued attr exceeds AttrStatsMaxValues → the
    // column is dropped from coverage, equality still serves exactly
    // via the measured path
    val dir2 = Files.createTempDirectory("graft-stats").toString + "/ivf"
    // replicate the 500-row corpus 9× under fresh ids so the unique-
    // valued attr exceeds the 4096-value budget
    val uniq = emb.select($"vec_id", $"embedding")
      .crossJoin(spark.range(9).toDF("rep"))
      .select(($"vec_id" * 9 + $"rep").as("vec_id"), $"embedding")
      .withColumn("ulabel", $"vec_id".cast("string"))
    Knn.ivfBuildIndex(uniq, "embedding", "vec_id", dir2, k = 4, iters = 1,
      trainFilter = $"vec_id" % 7 === 0, attrCols = Seq("ulabel"))
    assert(uniq.count() > Knn.AttrStatsMaxValues)
    assert(Knn.ivfAttrStats(spark, dir2).get.count() == 0)
    val idx2 = Knn.IvfIndex.load(spark, dir2)
    val one = idx2.servingTopKRouted(qv, 5, 1, $"ulabel" === "42")
    assert(one.map(_.get(0)).toSeq == Seq(42L))
  }

  test("the IVFADC layout prices from its flat-root sidecar too, and " +
      "an attr-less rebuild retires the stale sidecar") {
    val dir = Files.createTempDirectory("graft-statspq").toString + "/ivfpq"
    Knn.ivfPqBuildIndex(emb.select($"vec_id", $"embedding", $"label"),
      "embedding", "vec_id", dir, cells = 8, m = 2, ksub = 4, iters = 1,
      trainFilter = $"vec_id" % 5 === 0, refine = true,
      attrCols = Seq("label"))
    // sidecar == brute groupBy, read from the build's cell segment
    val stats = Knn.ivfAttrStats(spark, dir).get
      .groupBy($"value").agg(sum($"cnt").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(stats == emb.groupBy($"label".cast("string")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap)
    val handle = Knn.IvfIndex.load(spark, dir)
    val dense = handle.asDense(refine = 4)
    // warm both request shapes + the lazy pricing state
    dense.servingTopKRouted(qv, 10, 1, $"label" === 3)
    dense.servingTopKRouted(qv, 10, 1, $"label".isin(3))
    val sc = spark.sparkContext
    // count via the MAX retained job id, not the list length: the status
    // tracker evicts old jobs past spark.ui.retainedJobs, so under a full
    // sbt-test session the length can DROP across `f` (measured -96) while
    // job ids stay monotonic per context
    def jobs(f: => Unit): Int = {
      def hi = sc.statusTracker.getJobIdsForGroup(null).foldLeft(-1)(math.max)
      val before = hi
      f
      hi - before
    }
    // the serving edge asks for a view on every request, and the priced
    // routing state must survive that: a second view's first request
    // runs the jobs a warm view's does, pricing nothing again
    assert(jobs { handle.asDense(refine = 4).servingTopKRouted(qv, 10, 1,
      $"label" === 3) } == jobs { dense.servingTopKRouted(qv, 10, 1,
      $"label" === 3) })
    var gotS: Array[org.apache.spark.sql.Row] = null
    var gotM: Array[org.apache.spark.sql.Row] = null
    val statsJobs = jobs { gotS = dense.servingTopKRouted(qv, 10, 1,
      $"label" === 5) }
    val measuredJobs = jobs { gotM = dense.servingTopKRouted(qv, 10, 1,
      $"label".isin(5)) }
    assert(statsJobs < measuredJobs,
      s"ADC stats-priced equality ran $statsJobs jobs vs measured " +
        s"$measuredJobs")
    assert(gotS.map(r => (r.get(0), r.getDouble(1))).toSeq ==
      gotM.map(r => (r.get(0), r.getDouble(1))).toSeq)
    // rebuild WITHOUT attrs in place: the dead generation's sidecar
    // must not price the new one (its segment carries none)
    Knn.ivfPqBuildIndex(emb.select($"vec_id", $"embedding"),
      "embedding", "vec_id", dir, cells = 8, m = 2, ksub = 4, iters = 1,
      trainFilter = $"vec_id" % 5 === 0, refine = true)
    assert(Knn.ivfAttrStats(spark, dir).isEmpty)
  }

  test("the threshold boundary is inclusive: matches == threshold scans") {
    val cond = $"label" === 5
    val matches = emb.filter(cond).count()
    val atBoundary = Knn.ivfRoutedSearchIndex(spark, indexDir, qv,
      k = 10, nprobe = 1, filter = cond, bruteThreshold = matches)
      .collect()
    assert(atBoundary.forall(_.getString(3) == "scan"))
    val below = Knn.ivfRoutedSearchIndex(spark, indexDir, qv,
      k = 10, nprobe = 1, filter = cond, bruteThreshold = matches - 1)
      .collect()
    assert(below.forall(_.getString(3) == "probe"))
  }
}
