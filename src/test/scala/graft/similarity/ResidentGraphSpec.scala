package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.fixtures.ManifoldCorpus

/** [[Knn.ResidentGraphIndex]] — graph-ANN serving with the walk off the
  * job path. Pins (1) the serving contract: the one Spark job per
  * request is the exact storage-precision re-rank of the driver walk's
  * shortlist, sorted (score, id); (2) recall on navigable data at the
  * default ef (the r13 manifold-ladder finding this mode exists to
  * answer — SCALE.md §r13); (3) the lifecycle: tombstoned nodes leave
  * the walk, a sidecar that predates an append REFUSES to load (a node
  * the walk cannot score must not silently vanish from results), and a
  * one-pass [[Knn.buildGraphCodes]] rebuild restores serving; (4) the
  * residency budget refusal. */
class ResidentGraphSpec extends SparkTestBase {
  import spark.implicits._

  private def rmTree(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
  }

  private val N = 400L
  // the navigable fixture: low intrinsic dimension, so the walk's ADC
  // ordering has gradient to follow (the uniform fixture would measure
  // distance concentration, not the implementation — ManifoldCorpusSpec)
  private lazy val corpus = (0L until N)
    .map(v => (v, ManifoldCorpus.vector(v).toSeq))
    .toDF("vec_id", "embedding").localCheckpoint()
  private lazy val edges = Knn.knnGraph(corpus, "embedding", "vec_id",
    topK = 8).select($"id_a", $"id_b").localCheckpoint()

  private def buildAt(dir: String): Unit = {
    Knn.buildAdjacencyIndex(edges, corpus, "embedding", "vec_id", dir,
      buckets = 8)
    Knn.buildGraphCodes(spark, dir, m = 32, ksub = 16)
  }

  test("one refine job per request; scores are the exact fp16 re-rank of the walk's shortlist") {
    val dir = java.nio.file.Files.createTempDirectory("resg").toString + "/i"
    try {
      buildAt(dir)
      val idx = Knn.ResidentGraphIndex.load(spark, dir, ef = 32)
      val qv = ManifoldCorpus.vector(7L)
      val shortlist = idx.walk(qv, 32)
      assert(shortlist.length == 32)
      // a request wider than the deployed ef widens the walk instead of
      // silently under-returning (the max(ef, k) contract)
      assert(idx.servingTopK(qv, 40, 0, None).length == 40)
      val sc = spark.sparkContext
      val before = sc.statusTracker.getJobIdsForGroup(null).length
      val got = idx.servingTopK(qv, 5, 0, None).toSeq
      val after = sc.statusTracker.getJobIdsForGroup(null).length
      // the whole request is ONE TakeOrderedAndProject over the
      // bucket-pruned self-rows (walk = driver flops, zero jobs)
      assert(after - before <= 1, s"ran ${after - before} jobs")
      // exactness: the k winners are the fp16-cosine rank of the
      // shortlist — recompute wholesale over the rounded corpus
      val want = corpus
        .filter($"vec_id".isin(shortlist.map(x => x: Any): _*))
        .select($"vec_id", graft.functions.fp16_cosine_distance(
          graft.functions.fp16_encode($"embedding"), typedLit(qv))
          .as("score"))
        .orderBy($"score".asc, $"vec_id".asc).limit(5)
        .collect().map(r => org.apache.spark.sql.Row(r.getLong(0),
          r.getDouble(1))).toSeq
      assert(got == want, s"$got vs $want")
      // residency budget: past it, load refuses toward the sharded gateway
      val e = intercept[IllegalArgumentException] {
        Knn.ResidentGraphIndex.load(spark, dir, maxResidentNodes = 10L)
      }
      assert(e.getMessage.contains("resident budget"))
      // plan guard: the refine read prunes to the shortlist's buckets
      // (a PartitionFilter, not a post-scan filter) — the property that
      // keeps the one job a point read at any corpus size
      val fewIds = shortlist.take(3).toSeq
      val plan = Knn.AdjIndex.load(spark, dir).selfScores(fewIds, qv)
        .queryExecution.executedPlan
      val scans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      val expected = fewIds.map(_ % 8).distinct.size
      assert(scans.map(_.selectedPartitions.partitionCount).sum == expected,
        scans.map(_.metadata("PartitionFilters")).mkString("\n"))
    } finally rmTree(dir)
  }

  test("recall@10 on navigable data at default ef; ivf entries accepted") {
    val dir = java.nio.file.Files.createTempDirectory("resgr").toString + "/i"
    val ivf = java.nio.file.Files.createTempDirectory("resgi").toString + "/i"
    try {
      buildAt(dir)
      Knn.ivfBuildIndex(corpus, "embedding", "vec_id", ivf, k = 8,
        iters = 2, trainFilter = lit(true), fp16 = true)
      val idx = Knn.ResidentGraphIndex.load(spark, dir, Some(ivf))
      val recalls = Seq(7L, 131L, 263L).map { q =>
        val qv = ManifoldCorpus.vector(q)
        val got = idx.servingTopK(qv, 10, 0, None).map(_.getLong(0)).toSet
        val want = Knn.topK(corpus, "embedding", qv, 10, "vec_id")
          .collect().map(_.getLong(0)).toSet
        (got & want).size / 10.0
      }
      val mean = recalls.sum / recalls.size
      assert(mean >= 0.9, s"recall@10 $recalls")
    } finally { rmTree(dir); rmTree(ivf) }
  }

  test("int8 codec: near-lossless walk distances; recall at a 4·ef budget") {
    val dir = java.nio.file.Files.createTempDirectory("resgi8").toString + "/i"
    val ivf = java.nio.file.Files.createTempDirectory("resgv8").toString + "/i"
    try {
      Knn.buildAdjacencyIndex(edges, corpus, "embedding", "vec_id", dir,
        buckets = 8)
      Knn.buildGraphCodes(spark, dir, codec = "int8")
      Knn.ivfBuildIndex(corpus, "embedding", "vec_id", ivf, k = 8,
        iters = 2, trainFilter = lit(true), fp16 = true)
      val idx = Knn.ResidentGraphIndex.load(spark, dir, Some(ivf), ef = 32)
      val recalls = Seq(7L, 131L, 263L).map { q =>
        val qv = ManifoldCorpus.vector(q)
        val got = idx.servingTopK(qv, 10, 0, None).map(_.getLong(0)).toSet
        val want = Knn.topK(corpus, "embedding", qv, 10, "vec_id")
          .collect().map(_.getLong(0)).toSet
        (got & want).size / 10.0
      }
      // int8 distances are ~exact: the budgeted walk (4·ef = 128
      // expansions over an 800-edge graph) recovers the true top-10 —
      // the property the r13 resident gate measured at 200 k (recall
      // 1.000; SCALE.md §r13)
      assert(recalls.sum / recalls.size >= 0.9, s"recall@10 $recalls")
      // an unknown codec is refused at build
      intercept[IllegalArgumentException] {
        Knn.buildGraphCodes(spark, dir, codec = "fp8")
      }
    } finally { rmTree(dir); rmTree(ivf) }
  }

  test("appendGraphCodes: pq drift signal separates in-distribution batches from shifted ones; int8 reports 0") {
    val root = java.nio.file.Files.createTempDirectory("resgd").toString
    val root8 = java.nio.file.Files.createTempDirectory("resgd8").toString
    val dir = root + "/i"; val dir8 = root8 + "/i"
    try {
      buildAt(dir) // pq m=32 ksub=16 over the manifold corpus
      // in-distribution: manifold points the build never saw reconstruct
      // about as well as the train corpus — drift ratio near 1, far
      // under the retrain threshold
      val same = (N until N + 32L)
        .map(v => (v, ManifoldCorpus.vector(v).toSeq))
        .toDF("vec_id", "embedding")
      val dSame = Knn.appendGraphCodes(same, "embedding", "vec_id", dir)
      // shifted: noise-dominated points OFF the manifold (the corpus is
      // a linear subspace symmetric around the origin, so negation or
      // scaling would stay IN-distribution after unit-normalization —
      // the shift has to leave the subspace) reconstruct measurably
      // worse under the frozen codebooks
      val shifted = (N until N + 32L)
        .map(v => (v + 1000L,
          ManifoldCorpus.vector(v, noise = 50.0).toSeq))
        .toDF("vec_id", "embedding")
      val dShift = Knn.appendGraphCodes(shifted, "embedding", "vec_id", dir)
      assert(dSame > 0.0 && dSame < 2.0, s"in-distribution drift $dSame")
      assert(dShift > 2.0 * dSame, s"shifted $dShift vs same $dSame")
      // the DEFAULT threshold actually separates these (the property
      // CorpusRefresh relies on): in-distribution churn appends, a
      // realistic off-manifold batch FIRES the retrain at default dials
      // — if this fails, the default threshold is decorative and every
      // drifted batch appends against stale codebooks forever (measured
      // r15: dSame ≈ 1.0 against the held-out anchor, dShift ≈ 2.3 at
      // these dials; the old 4.0 default sat above the ratio's
      // saturation ceiling here and could NEVER fire)
      val thr = graft.sync.CorpusRefresh.DefaultCodesDriftRatio
      assert(dSame < thr, s"in-dist $dSame would spuriously retrain at $thr")
      assert(dShift > thr, s"shifted $dShift cannot fire the default $thr")
      // int8 is per-node independent — no trained geometry to drift from
      Knn.buildAdjacencyIndex(edges, corpus, "embedding", "vec_id", dir8,
        buckets = 8)
      Knn.buildGraphCodes(spark, dir8, codec = "int8")
      assert(Knn.appendGraphCodes(same, "embedding", "vec_id", dir8) == 0.0)
    } finally { rmTree(root); rmTree(root8) }
  }

  test("drift default separates at the SERVING dials (m=8, ksub=256 — " +
      "the q109/q124 shape), not only the test corpus' m=32/ksub=16") {
    val root = java.nio.file.Files.createTempDirectory("resgdp").toString
    val dir = root + "/i"
    try {
      // production-representative regime: training rows ≫ ksub, so the
      // sub-quantizers generalize instead of memorizing (at N=400 a
      // ksub=256 codebook would near-memorize the corpus, the anchor
      // error would sit at ~0, and the ratio would be meaningless —
      // which is exactly why the threshold must be pinned HERE)
      val Nbig = 4000L
      val big = (0L until Nbig)
        .map(v => (v, ManifoldCorpus.vector(v).toSeq))
        .toDF("vec_id", "embedding").localCheckpoint()
      // codes train on SELF-ROWS only — a chain adjacency is enough
      val ids = (0L until Nbig)
      val chain = ids.zip(ids.drop(1)).toDF("id_a", "id_b")
      Knn.buildAdjacencyIndex(chain, big, "embedding", "vec_id", dir,
        buckets = 8)
      Knn.buildGraphCodes(spark, dir, m = 8, ksub = 256)
      val same = (Nbig until Nbig + 32L)
        .map(v => (v, ManifoldCorpus.vector(v).toSeq))
        .toDF("vec_id", "embedding")
      val dSame = Knn.appendGraphCodes(same, "embedding", "vec_id", dir)
      val shifted = (Nbig until Nbig + 32L)
        .map(v => (v + 100000L,
          ManifoldCorpus.vector(v, noise = 50.0).toSeq))
        .toDF("vec_id", "embedding")
      val dShift = Knn.appendGraphCodes(shifted, "embedding", "vec_id", dir)
      val thr = graft.sync.CorpusRefresh.DefaultCodesDriftRatio
      assert(dSame > 0.0 && dSame < thr,
        s"in-dist $dSame would spuriously retrain at $thr (serving dials)")
      assert(dShift > thr,
        s"shifted $dShift cannot fire the default $thr (serving dials)")
    } finally rmTree(root)
  }

  test("tombstoned nodes leave the walk; a stale sidecar refuses; rebuild serves appends") {
    val dir = java.nio.file.Files.createTempDirectory("resgt").toString + "/i"
    try {
      buildAt(dir)
      val qv = ManifoldCorpus.vector(7L)
      val top = Knn.ResidentGraphIndex.load(spark, dir)
        .servingTopK(qv, 5, 0, None).map(_.getLong(0))
      // delete the best node: the reloaded walk must never return it
      Knn.adjDeleteIndex(spark, dir, Seq(top.head).toDF("id"), "id")
      val afterDel = Knn.ResidentGraphIndex.load(spark, dir)
        .servingTopK(qv, 5, 0, None).map(_.getLong(0))
      assert(!afterDel.contains(top.head), s"deleted ${top.head} served")
      // append nodes the sidecar has never seen: load must REFUSE (the
      // walk cannot score them) and name the fix
      val grown = (0L until N + 50L)
        .map(v => (v, ManifoldCorpus.vector(v).toSeq))
        .toDF("vec_id", "embedding").localCheckpoint()
      val allEdges = Knn.knnGraph(grown, "embedding", "vec_id", topK = 8)
        .select($"id_a", $"id_b")
      Knn.appendAdjacencyIndex(
        allEdges.filter($"id_a" >= N || $"id_b" >= N), grown,
        "embedding", "vec_id", dir,
        newNodes = Some(grown.filter($"vec_id" >= N).select($"vec_id")))
      val stale = intercept[IllegalArgumentException] {
        Knn.ResidentGraphIndex.load(spark, dir)
      }
      assert(stale.getMessage.contains("rebuild"))
      // the one-pass sidecar rebuild restores serving, appended nodes
      // findable (query AT a new node finds it at distance ~0)
      Knn.buildGraphCodes(spark, dir, m = 32, ksub = 16)
      val served = Knn.ResidentGraphIndex.load(spark, dir)
        .servingTopK(ManifoldCorpus.vector(N + 11L), 5, 0, None)
      assert(served.head.getLong(0) == N + 11L, served.toSeq.toString)
    } finally rmTree(dir)
  }

  test("filtered serving: refine-job predicate, informed widening, " +
      "exhaustive fallback, attr-less refusal") {
    val root = java.nio.file.Files.createTempDirectory("resgflt").toString
    val dir = s"$root/i"
    try {
      // attr-carrying layout: `label` broad (~57 rows a value), `grp`
      // rare (4 rows a value — BELOW k, so only the exhaustive
      // fallback can answer exactly); an id chain guarantees the
      // exhaustive-ef walk reaches every node
      val labeled = corpus
        .withColumn("label", pmod($"vec_id", lit(7L)))
        .withColumn("grp", floor($"vec_id" / 4).cast("long"))
      val ids = (0L until N)
      val chain = ids.zip(ids.drop(1)).toDF("id_a", "id_b")
      Knn.buildAdjacencyIndex(edges.unionByName(chain), labeled,
        "embedding", "vec_id", dir, buckets = 8,
        attrCols = Seq("label", "grp"))
      Knn.buildGraphCodes(spark, dir, m = 32, ksub = 16)
      val idx = Knn.ResidentGraphIndex.load(spark, dir, ef = N.toInt)
      assert(idx.attrColumns.toSet == Set("label", "grp"))
      val qv = ManifoldCorpus.vector(7L)
      def brute(cond: org.apache.spark.sql.Column,
          k: Int): Seq[org.apache.spark.sql.Row] = labeled.filter(cond)
        .select($"vec_id", graft.functions.fp16_cosine_distance(
          graft.functions.fp16_encode($"embedding"), typedLit(qv))
          .as("score"))
        .orderBy($"score".asc, $"vec_id".asc).limit(k)
        .collect().map(r => org.apache.spark.sql.Row(r.getLong(0),
          r.getDouble(1))).toSeq
      // broad predicate at exhaustive ef: the walk covers the graph,
      // the refine job filters in-scan → exactly the filtered brute
      // top-k (fp16 storage precision, the layout's score contract)
      val broad = idx.servingTopK(qv, 10, 0, Some($"label" === 3)).toSeq
      assert(broad == brute($"label" === 3, 10), broad.toString)
      // rare predicate (4 matches < k): every walk starves → the
      // exhaustive self-row scan answers, returning ALL matches exactly
      val rare = idx.servingTopK(qv, 10, 0, Some($"grp" === 17)).toSeq
      assert(rare.length == 4 && rare == brute($"grp" === 17, 10),
        rare.toString)
      // a SELECTIVE beam (ef 16 ≪ matches' spread): the first attempt
      // under-fills, the informed re-walk or the fallback must still
      // return k rows, every one satisfying the predicate
      val sel = Knn.ResidentGraphIndex.load(spark, dir, ef = 16)
        .servingTopK(qv, 10, 0, Some($"label" === 3))
      assert(sel.length == 10, sel.length.toString)
      assert(sel.forall(_.getLong(0) % 7 == 3), sel.toSeq.toString)
      val selScores = sel.map(_.getDouble(1)).toSeq
      assert(selScores == selScores.sorted)
      // an attr-less layout refuses filters toward the store route
      val plain = s"$root/plain"
      buildAt(plain)
      val e = intercept[IllegalArgumentException] {
        Knn.ResidentGraphIndex.load(spark, plain, ef = 16)
          .servingTopK(qv, 5, 0, Some($"label" === 1))
      }
      assert(e.getMessage.contains("attr"))
    } finally rmTree(root)
  }
}
