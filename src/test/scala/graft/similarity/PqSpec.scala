package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Product quantization ([[Knn.pqTrain]]/[[Knn.pqEncode]]/[[Knn.pqTopK]]):
  * code-shape invariants, ADC's relationship to the exact distance, and
  * the recall the m×ksub dial actually buys on the bench corpus.
  */
class PqSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = table("embeddings")
    .filter($"embedding".isNotNull).cache()

  private def rmTree(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
  }

  private def vecOf(id: Long): Array[Float] =
    emb.filter($"vec_id" === id).select($"embedding")
      .head().getSeq[Float](0).toArray

  /** The filterless [[Knn.IvfPqIndex.asDense]] probe over the resident
    * cells against its reference, the Catalyst refine search: same ids
    * in the same order, scores bit-for-bit. (20, 1, 64) asks for
    * refine·k = 1280 rows of one probed cell, more than it holds. */
  private def sameAsCatalyst(h: Knn.IvfPqIndex, q: Array[Float]): Unit =
    for ((k, nprobe, refine) <- Seq((1, 4, 2), (2, 1, 2), (3, 2, 2),
        (10, 4, 3), (20, 1, 64))) {
      val served = h.asDense(refine).servingTopK(q, k, nprobe, None)
      val ref = h.search(q, k, nprobe, refine, filter = None,
        cosineScore = true).collect()
      val at = s"k=$k nprobe=$nprobe refine=$refine"
      assert(served.nonEmpty, at)
      assert(served.map(_.get(0)).toSeq == ref.map(_.get(0)).toSeq, at)
      assert(served.map(r => java.lang.Double.doubleToRawLongBits(
          r.getDouble(1))).toSeq ==
        ref.map(r => java.lang.Double.doubleToRawLongBits(
          r.getDouble(2))).toSeq, at)
    }

  private def exactIds(qv: Array[Float], k: Int): Seq[Long] =
    emb.select($"vec_id".as("id"), $"embedding".as("v"))
      .withColumn("d", Knn.l2sq($"v", typedLit(qv)))
      .orderBy($"d".asc, $"id".asc).limit(k)
      .select($"id").as[Long].collect().toSeq

  test("codes are m bytes; every code under ksub; encoding is deterministic") {
    val cb = Knn.collectCodebooks(Knn.pqTrain(
      emb, "embedding", "vec_id", m = 8, ksub = 16, iters = 2))
    assert(cb.length == 8 && cb.forall(_.length == 16))
    assert(cb.forall(_.forall(_.length == 8))) // 64 dims / 8 subspaces
    val enc = Knn.pqEncode(emb, "embedding", "vec_id", cb)
    val rows = enc.collect()
    assert(rows.length == emb.count())
    rows.foreach { r =>
      val codes = r.getAs[Array[Byte]]("codes")
      assert(codes.length == 8)
      assert(codes.forall(c => (c & 0xff) < 16))
    }
    // same input → identical codes under a different partitioning
    val enc2 = Knn.pqEncode(emb.repartition(7), "embedding", "vec_id", cb)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val enc1 = rows.map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(enc1 == enc2)
  }

  test("ADC of a vector's own codes equals the quantization residual floor") {
    // score(v, codes(v)) is the distance from v to its reconstruction —
    // strictly below the distance to any OTHER vector's reconstruction
    // for well-separated planted vectors, and >= 0 always
    val cb = Knn.collectCodebooks(Knn.pqTrain(
      emb, "embedding", "vec_id", m = 8, ksub = 16, iters = 2))
    val enc = Knn.pqEncode(emb, "embedding", "vec_id", cb)
    val qv = emb.orderBy($"vec_id").select($"embedding")
      .head().getSeq[Float](0).toArray
    val top = Knn.pqTopK(enc, cb, qv, k = 5).collect()
    assert(top.forall(_.getDouble(1) >= 0.0))
    // the query vector itself must land in the ADC top-5 (its own codes
    // minimize the LUT sum up to quantization)
    assert(top.map(_.getLong(0)).contains(0L))
  }

  test("recall vs exact L2 top-10: the m×ksub dial, measured") {
    val qv = emb.filter($"vec_id" === 7).select($"embedding")
      .head().getSeq[Float](0).toArray
    val exact = exactIds(qv, 10).toSet
    def recallAt(m: Int, ksub: Int): Double = {
      val cb = Knn.collectCodebooks(Knn.pqTrain(
        emb, "embedding", "vec_id", m, ksub, iters = 2))
      val got = Knn.pqTopK(Knn.pqEncode(emb, "embedding", "vec_id", cb),
        cb, qv, k = 10).select($"id").as[Long].collect().toSet
      (got & exact).size.toDouble / exact.size
    }
    val coarse = recallAt(2, 4) // 4 bits/vec — the oracle-gated config
    val fine = recallAt(8, 16) // 32 bits/vec — the scale config
    info(f"PQ recall@10: m=2,ksub=4 -> $coarse%.2f; m=8,ksub=16 -> $fine%.2f")
    assert(fine >= coarse)
    assert(fine >= 0.4, s"fine-grained PQ recall $fine unexpectedly low")
  }

  test("IVFADC: residual codes in pruned cells; recall beats raw-vector PQ at equal bits") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    try {
      Knn.ivfPqBuildIndex(emb, "embedding", "vec_id", dir,
        cells = 4, m = 8, ksub = 16, iters = 2,
        trainFilter = $"vec_id" % 5 === 0)
      // nprobe=all cells removes the coarse-recall term: what's left is
      // pure quantizer error — residual encoding at 32 bits must beat
      // raw-vector PQ at the same 32 bits (the FAISS rationale). A
      // single query's recall@10 swings ±0.2 on this corpus, so compare
      // MEANS over 10 queries
      val rawCb = Knn.collectCodebooks(Knn.pqTrain(
        emb, "embedding", "vec_id", m = 8, ksub = 16, iters = 2))
      val rawEnc = Knn.pqEncode(emb, "embedding", "vec_id", rawCb).cache()
      val handle = Knn.IvfPqIndex.load(spark, dir)
      val queries = emb.filter($"vec_id" % 29 === 3).limit(10)
        .select($"vec_id", $"embedding").collect()
        .map(r => r.getSeq[Float](1).toArray)
      val (rIvfadc, rRaw) = queries.map { q =>
        val exact = exactIds(q, 10).toSet
        val a = handle.search(q, k = 10, nprobe = 4)
          .select($"id").as[Long].collect().toSet
        val r = Knn.pqTopK(rawEnc, rawCb, q, k = 10)
          .select($"id").as[Long].collect().toSet
        ((a & exact).size / 10.0, (r & exact).size / 10.0)
      }.reduce((x, y) => (x._1 + y._1, x._2 + y._2)) match {
        case (a, r) => (a / queries.length, r / queries.length)
      }
      info(f"mean recall@10 at 32 bits/vec over ${queries.length} queries: " +
        f"residual IVFADC $rIvfadc%.2f vs raw PQ $rRaw%.2f")
      // this corpus is quasi-UNIFORM — k-means cells barely compress, so
      // residual spread ≈ vector spread and residual encoding can only
      // MATCH raw PQ here (its advantage needs clustered real data);
      // the assertion pins parity and a sane absolute floor at this
      // aggressive 32:1 compression
      assert(rIvfadc >= rRaw - 0.05,
        s"residual encoding lost to raw PQ: $rIvfadc vs $rRaw")
      assert(rIvfadc >= 0.25)
      // nprobe=2 scans exactly 2 cell partitions; the plan stays
      // code-only (no vector column anywhere)
      val qv = queries.head
      val probe2 = handle.search(qv, k = 10, nprobe = 2)
      val scans = probe2.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      assert(scans.map(_.selectedPartitions.partitionCount).sum == 2,
        scans.map(_.metadata("PartitionFilters")).mkString("\n"))
      assert(!probe2.queryExecution.executedPlan.toString.contains("embedding"))
      // every probed cell reads through ONE scan scored per row against
      // its own cell's LUT — never one Union leg per cell, whose nprobe
      // scans to plan per request cost 1.47 s vs 0.4 s p95 at the
      // 20-user gate shape
      val plan4 = handle.search(qv, k = 10, nprobe = 4)
        .queryExecution.executedPlan
      val cellScans4 = plan4.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata("Location").contains("cells") => f }
      assert(cellScans4.length == 1 &&
        cellScans4.head.selectedPartitions.partitionCount == 4, plan4)
      assert(plan4.collect {
        case u: org.apache.spark.sql.execution.UnionExec => u }.isEmpty, plan4)
      // the self-query lands top-1 at full probe width
      assert(handle.search(
        emb.orderBy($"vec_id").select($"embedding").head().getSeq[Float](0)
          .toArray, k = 1, nprobe = 4).head().getLong(0) == 0L)
      // sidecars resolved at load: ONE job per request
      val sc = spark.sparkContext
      val before = sc.statusTracker.getJobIdsForGroup(null).length
      handle.search(qv, k = 10, nprobe = 3).collect()
      val after = sc.statusTracker.getJobIdsForGroup(null).length
      assert(after - before <= 1,
        s"IvfPqIndex.search ran ${after - before} jobs; probe selection and LUTs must be local")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("refine: exact re-rank of the ADC shortlist lifts recall; stage-1 scans stay code-only") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqref").toString
    try {
      Knn.ivfPqBuildIndex(emb, "embedding", "vec_id", dir,
        cells = 4, m = 8, ksub = 16, iters = 2,
        trainFilter = $"vec_id" % 5 === 0, refine = true)
      val handle = Knn.IvfPqIndex.load(spark, dir)
      assert(handle.hasRefine)
      // refine=1 is the plain ADC path, row-identical
      val qv = emb.filter($"vec_id" === 7).select($"embedding")
        .head().getSeq[Float](0).toArray
      assert(handle.search(qv, 10, 4, refine = 1).collect().toSeq
        == handle.search(qv, 10, 4).collect().toSeq)
      // stage-1 plan never touches the refine payload (parquet columnar:
      // the ADC scan reads m-byte codes even though emb16 is on disk)
      assert(!handle.search(qv, 10, 4).queryExecution.executedPlan
        .toString.contains("emb16"))
      // the 32-bit quantizer ranks at recall ~0.3 (the IVFADC test
      // above); an exact re-rank of the 4k-shortlist must recover MORE
      // of the true top-10 — compare means over 10 queries to beat
      // per-query variance
      val queries = emb.filter($"vec_id" % 29 === 3).limit(10)
        .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
      val (r1, r4) = queries.map { q =>
        val exact = exactIds(q, 10).toSet
        val a = handle.search(q, 10, 4).select($"id")
          .as[Long].collect().toSet
        val b = handle.search(q, 10, 4, refine = 4).select($"id")
          .as[Long].collect().toSet
        ((a & exact).size / 10.0, (b & exact).size / 10.0)
      }.reduce((x, y) => (x._1 + y._1, x._2 + y._2)) match {
        case (a, b) => (a / queries.length, b / queries.length)
      }
      info(f"mean recall@10, nprobe=4: ADC-only $r1%.2f vs refine=4 $r4%.2f")
      assert(r4 > r1, s"refine did not lift recall: $r1 -> $r4")
      // fp16 re-scoring of the shortlist can only miss top-10 members the
      // COARSE probe dropped; within probed cells the lift is real
      assert(r4 >= 0.5, s"refined recall $r4 unexpectedly low")
      // refine is 2 jobs: ADC shortlist collect + the pruned re-rank scan
      val sc = spark.sparkContext
      val before = sc.statusTracker.getJobIdsForGroup(null).length
      handle.search(qv, 10, 4, refine = 4).collect()
      val after = sc.statusTracker.getJobIdsForGroup(null).length
      assert(after - before <= 2,
        s"refined search ran ${after - before} jobs")
      // an index built WITHOUT the payload rejects refine>1 loudly
      val bare = java.nio.file.Files.createTempDirectory("ivfpqbare").toString
      try {
        Knn.ivfPqBuildIndex(emb, "embedding", "vec_id", bare,
          cells = 4, m = 2, ksub = 4, iters = 2,
          trainFilter = $"vec_id" % 5 === 0)
        val h2 = Knn.IvfPqIndex.load(spark, bare)
        assert(!h2.hasRefine)
        assertThrows[IllegalArgumentException](h2.search(qv, 10, 4, refine = 2))
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(bare)).iterator()
          .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
      }
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("attr-filtered IVFADC: predicate inside the pruned code scan, refine composes") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqattr").toString
    try {
      Knn.ivfPqBuildIndex(emb, "embedding", "vec_id", dir,
        cells = 4, m = 8, ksub = 16, iters = 2,
        trainFilter = $"vec_id" % 5 === 0, refine = true,
        attrCols = Seq("label"))
      val idx = Knn.IvfPqIndex.load(spark, dir)
      assert(idx.attrColumns == Seq("label"))
      val labelOf = emb.select($"vec_id", $"label").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val qv = emb.orderBy($"vec_id").select($"embedding")
        .head().getSeq[Float](0).toArray
      val cond = col("label") % 3 === 1
      // filtered ADC ranking == unfiltered ranking restricted to the
      // matching ids (same codes, same LUTs — the filter only scopes)
      val wide = idx.search(qv, 10000, 4).collect()
        .filter(r => labelOf(r.getLong(0)) % 3 == 1)
        .map(r => (r.getLong(0), r.getDouble(2))).take(10).toSeq
      val filtered = idx.search(qv, 10, 4, Some(cond)).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(filtered == wide)
      // refine > 1 composes: the shortlist satisfies the predicate, the
      // exact re-rank keeps it
      val refined = idx.search(qv, 10, 4, refine = 4, Some(cond)).collect()
      assert(refined.nonEmpty &&
        refined.forall(r => labelOf(r.getLong(0)) % 3 == 1))
      // the predicate reaches the scan (PushedFilters), pruning intact
      val plan = idx.search(qv, 10, 4, Some(cond)).queryExecution.executedPlan
      val scan = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.head
      assert(scan.metadata("PartitionFilters").contains("centroid_id"))
      assert(scan.metadata("PushedFilters").contains("label"),
        scan.metadata("PushedFilters"))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
        .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("ADC scan plan: codegen'd code lookups, no vector column touched") {
    val cb = Knn.collectCodebooks(Knn.pqTrain(
      emb, "embedding", "vec_id", m = 8, ksub = 16, iters = 2))
    // codes MATERIALIZED at rest, as a deployment stores them — the
    // serving scan must read m-byte codes only, never the fp32 vectors
    val dir = java.nio.file.Files.createTempDirectory("pqcodes").toString
    try {
      Knn.pqEncode(emb, "embedding", "vec_id", cb).write.parquet(s"$dir/codes")
      val enc = spark.read.parquet(s"$dir/codes")
      val qv = emb.orderBy($"vec_id").select($"embedding")
        .head().getSeq[Float](0).toArray
      val searched = Knn.pqTopK(enc, cb, qv, k = 10)
      val plan = searched.queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
      assert(plan.contains("pq_adc_score"), plan.take(400))
      assert(!plan.contains("embedding"), "ADC plan still reads the vector")
      // and the materialized-code search agrees with the fused form
      assert(searched.collect().toSeq ==
        Knn.pqTopK(Knn.pqEncode(emb, "embedding", "vec_id", cb), cb, qv,
          k = 10).collect().toSeq)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("asDense: cosine-scored refine ranks like l2 refine; serving contract holds filtered and filterless") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqdense").toString
    try {
      Knn.ivfPqBuildIndex(
        emb.withColumn("label", pmod($"vec_id", lit(7))),
        "embedding", "vec_id", dir,
        cells = 4, m = 8, ksub = 16, iters = 2,
        trainFilter = $"vec_id" % 5 === 0, refine = true,
        attrCols = Seq("label"))
      val handle = Knn.IvfPqIndex.load(spark, dir)
      val qv = emb.filter($"vec_id" === 11).select($"embedding")
        .head().getSeq[Float](0).toArray
      // on the unit-norm corpus l2² = 2·cosine-distance, so the two
      // refine metrics rank identically and the scores are a factor of
      // exactly 2 apart (at fp16 input precision)
      val l2 = handle.search(qv, 10, 4, refine = 4).collect()
      val cos = handle.search(qv, 10, 4, refine = 4, filter = None,
        cosineScore = true).collect()
      assert(l2.map(_.getLong(0)).toSeq == cos.map(_.getLong(0)).toSeq)
      l2.zip(cos).foreach { case (a, b) =>
        assert(math.abs(a.getDouble(2) / 2.0 - b.getDouble(2)) < 2e-3,
          s"l2/2=${a.getDouble(2) / 2.0} vs cos=${b.getDouble(2)}") }
      // the DenseIndex view: (id, score) rows, same ids/scores as the
      // cosine refine search — what the gateway rehydrates from
      val dense = handle.asDense(4)
      assert(dense.attrColumns == Seq("label"))
      val served = dense.servingTopK(qv, 10, 4, None)
      assert(served.map(_.getLong(0)).toSeq == cos.map(_.getLong(0)).toSeq)
      served.zip(cos).foreach { case (a, b) =>
        assert(a.getDouble(1) == b.getDouble(2)) }
      // filtered serving: every winner satisfies the predicate, and a
      // selective filter still fills k slots by widening the probe —
      // nprobe=1 over 4 cells with a 1-in-7 label keeps < 10 matches in
      // one cell on this corpus, so the loop must widen to find them
      val filtered = dense.servingTopK(qv, 10, 1, Some($"label" === 3))
      assert(filtered.length == 10)
      val matching = emb.filter(pmod($"vec_id", lit(7)) === 3)
        .select($"vec_id").as[Long].collect().toSet
      assert(filtered.forall(r => matching.contains(r.getLong(0))))
      // widened-to-all-cells filtered serving == the exact filtered
      // top-k (the q132 contract through the DenseIndex view). The
      // refine rung is sized so refine·k covers every matching row —
      // the ADC shortlist then contains ALL matches and the exact
      // re-rank makes the result exact by construction
      val exactFiltered = emb.filter(pmod($"vec_id", lit(7)) === 3)
        .select($"vec_id".as("id"), $"embedding".as("v"))
        .withColumn("d", Knn.l2sq($"v", typedLit(qv)))
        .orderBy($"d".asc, $"id".asc).limit(10)
        .select($"id").as[Long].collect().toSeq
      val nMatch = matching.size
      val coverAll = handle.asDense((nMatch / 10 + 2).max(2))
      assert(coverAll.servingTopK(qv, 10, 4, Some($"label" === 3))
        .map(_.getLong(0)).toSeq == exactFiltered)
      // refine < 2 is not a serving config (the cosine contract needs
      // the refine stage)
      assertThrows[IllegalArgumentException](handle.asDense(1))

      // the filterless view runs over the resident cells; the Catalyst
      // refine search is its reference ([[sameAsCatalyst]])
      val queries = Seq(7L, 11L, 150L).map(id =>
        emb.filter($"vec_id" === id).select($"embedding")
          .head().getSeq[Float](0).toArray)
      queries.foreach(sameAsCatalyst(handle, _))

      // a warm filterless request is exactly ONE Spark job
      val sc = spark.sparkContext
      val group = s"pq-one-job-${System.nanoTime()}"
      sc.setJobGroup(group, "one filterless asDense request")
      try dense.servingTopK(queries(2), 10, 4, None)
      finally sc.clearJobGroup()
      assert(sc.statusTracker.getJobIdsForGroup(group).length == 1)

      // duplicate-vector ties straddling both cuts: copies of vector 11
      // under ids that order differently as SQL orders them than as the
      // JVM does — signed longs (−3 < −1 < 11), and strings by UTF-8
      // bytes ("g\uFF21" < "g\uD83D\uDE00", the reverse of UTF-16
      // order). At (k, refine) = (1, 2) the r·k cut falls inside the tie
      // group, at (2, 2) the k cut does. The long-id layout is also
      // OPQ-rotated.
      val copy = emb.filter($"vec_id" === 11).select($"embedding")
      val base = emb.filter($"vec_id" < 300)
      val longIds = base.select($"vec_id".as("id"), $"embedding")
        .unionByName(Seq(-3L, -1L, 2000L, 2001L, 2002L).toDF("id")
          .crossJoin(copy))
      val strIds = base.select(concat(lit("n"), $"vec_id").as("id"),
          $"embedding")
        .unionByName(Seq("f0", "g\uFF21", "g\uD83D\uDE00", "h0", "h1")
          .toDF("id").crossJoin(copy))
      for ((corpus, opq) <- Seq(longIds -> 1, strIds -> 0)) {
        val tieDir = java.nio.file.Files.createTempDirectory("ivfpqties")
          .toString
        try {
          Knn.ivfPqBuildIndex(corpus, "embedding", "id", tieDir,
            cells = 4, m = 8, ksub = 16, iters = 2, trainFilter = lit(true),
            refine = true, opqSweeps = opq)
          val h = Knn.IvfPqIndex.load(spark, tieDir)
          assert(h.hasRotation == (opq > 0))
          // the copies lead the ADC order, so both cuts fall inside them
          val lead = h.search(queries(1), 4, 4).collect().map(_.getDouble(2))
          assert(lead.distinct.length == 1, lead.toSeq)
          queries.foreach(sameAsCatalyst(h, _))
          h.unpin()
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(java.nio.file.Paths.get(tieDir)).iterator()
            .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
        }
      }
      handle.unpin()
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("IvfPqIndex.reloading: a rebuild unpins the superseded generation's cells") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqreload").toString
    def build(iters: Int): Unit = Knn.ivfPqBuildIndex(emb, "embedding",
      "vec_id", dir, cells = 4, m = 8, ksub = 16, iters = iters,
      trainFilter = $"vec_id" % 5 === 0, refine = true)
    def pinnedBlocks: Int = spark.sparkContext.getPersistentRDDs.values
      .count(_.name == s"ivfpq cells $dir")
    try {
      build(iters = 2)
      val h = Knn.IvfPqIndex.reloading(spark, dir)
      val qv = emb.filter($"vec_id" === 11).select($"embedding")
        .head().getSeq[Float](0).toArray
      h.get.asDense(4).servingTopK(qv, 10, 4, None)
      assert(pinnedBlocks == 1)
      build(iters = 3)
      val served = h.get.asDense(4).servingTopK(qv, 10, 4, None)
      assert(served.length == 10)
      assert(pinnedBlocks == 1,
        "a reload must unpersist the previous generation's cell blocks")
      h.get.unpin()
      assert(pinnedBlocks == 0)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("IVFADC lifecycle: appends encode under the frozen quantizer; delete, compact and refresh maintain it") {
    // one IVFADC + refine layout with attrs, one OPQ-rotated layout
    for ((attrs, opq) <- Seq(Seq("label") -> 0, Seq.empty[String] -> 1)) {
      val root = java.nio.file.Files.createTempDirectory("ivfpqlife").toString
      val dir = s"$root/idx"
      val at = s"attrs=$attrs opq=$opq"
      try {
        Knn.ivfPqBuildIndex(emb.filter($"vec_id" < 400), "embedding",
          "vec_id", dir, cells = 4, m = 8, ksub = 16, iters = 2,
          trainFilter = $"vec_id" % 5 === 0, refine = true,
          attrCols = attrs, opqSweeps = opq)
        assert(Knn.ivfIndexReady(dir) && Knn.ivfPqLayout(spark, dir), at)
        val batch = emb.filter($"vec_id" >= 400 && $"vec_id" < 450)
        Knn.ivfAppendIndex(batch, "embedding", "vec_id", dir)
        val segs = graft.sync.SegmentedIndex.resolve(spark, dir).get
        assert(segs.length == 2, at)
        // an empty batch commits no segment (one without cells has no
        // schema, and every later read of the layout would fail on it)
        Knn.ivfAppendIndex(batch.filter(lit(false)), "embedding", "vec_id",
          dir)
        assert(graft.sync.SegmentedIndex.resolve(spark, dir).get == segs, at)

        // appended rows: exactly the (centroid_id, codes) an L2
        // assignment + residual encode against the FROZEN sidecars give
        val cents = spark.read.parquet(s"$dir/centroids")
        val cb = Knn.collectCodebooks(spark.read.parquet(s"$dir/codebooks"))
        val rot = Knn.loadRotation(spark, dir)
        assert(rot.isDefined == (opq > 0), at)
        val batchR = rot.fold(batch)(r => batch.withColumn("embedding",
          graft.functions.mat_vec_rotate($"embedding", r)))
        def codesById(df: org.apache.spark.sql.DataFrame) =
          df.select($"id", $"centroid_id".cast("long"), $"codes").collect()
            .map(r => r.getLong(0) ->
              (r.getLong(1), r.getAs[Array[Byte]](2).toSeq)).toMap
        val expected = codesById(Knn.ivfAssignL2(batchR, "embedding",
            "vec_id", cents, "cvec", "centroid_id")
          .join(cents, Seq("centroid_id"))
          .withColumn("codes", graft.functions.pq_encode(
            zip_with($"v", $"cvec", (a, b) => a - b), cb)))
        val appended = spark.read.parquet(s"$dir/${segs.last}/cells")
        assert(appended.columns.toSet ==
          Set("id", "centroid_id", "codes", "emb16") ++ attrs, at)
        assert(expected.size == 50 && codesById(appended) == expected, at)

        // the reloading handle serves the added ids
        val h = Knn.IvfPqIndex.reloading(spark, dir)
        def served(id: Long): Seq[Long] = h.get.asDense(4)
          .servingTopK(vecOf(id), 10, 4, None).map(_.getLong(0)).toSeq
        assert(served(420L).head == 420L, at)
        // removed ids are never served, on a multi-segment layout with a
        // tombstone, where the resident probe still equals Catalyst's
        Knn.ivfDeleteIndex(spark, dir, Seq(420L, 10L).toDF("vec_id"),
          "vec_id")
        Seq(420L, 10L).foreach(id =>
          assert(!served(id).exists(Set(420L, 10L)), at))
        Seq(7L, 420L, 431L).foreach(id => sameAsCatalyst(h.get, vecOf(id)))
        if (attrs.nonEmpty) {
          val f = h.get.asDense(4).servingTopK(vecOf(431L), 5, 1,
            Some($"label" === 3))
          assert(f.nonEmpty && !f.exists(r => Set(420L, 10L)(r.getLong(0))),
            at)
        }
        val before = Seq(7L, 431L).map(id => h.get.asDense(4)
          .servingTopK(vecOf(id), 10, 4, None).toSeq)

        // compaction: one segment, the same codes, the same answers
        Knn.ivfCompactIndex(spark, dir)
        assert(graft.sync.SegmentedIndex.resolve(spark, dir).get.length == 1)
        assert(Knn.IvfPqIndex.load(spark, dir).attrColumns == attrs, at)
        assert(Seq(7L, 431L).map(id => h.get.asDense(4)
          .servingTopK(vecOf(id), 10, 4, None).toSeq) == before, at)

        // refresh: the store's delta reaches the IVFADC cells
        val store = s"$root/store"
        val live = emb.filter($"vec_id" < 450 && !$"vec_id".isin(420L, 10L))
          .withColumn("text", concat(lit("doc "), $"vec_id"))
        graft.sync.HighlightStore.writeAtomic(live, store)
        val next = live.filter($"vec_id" =!= 30L).unionByName(
          emb.filter($"vec_id" >= 450 && $"vec_id" < 460)
            .withColumn("text", concat(lit("doc "), $"vec_id")))
        graft.sync.CorpusRefresh.refresh(spark, next, "text", "vec_id",
          store, ivfIndexDir = Some(dir)).unpersist()
        assert(served(455L).head == 455L, at)
        assert(!served(30L).contains(30L), at)
        Seq(30L, 455L).foreach(id => sameAsCatalyst(h.get, vecOf(id)))
        h.get.unpin()
      } finally rmTree(root)
    }
  }

  test("a rebuild without OPQ retires the rotation sidecar; the sidecar is found through the Hadoop FileSystem") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqrot").toString
    val fresh = java.nio.file.Files.createTempDirectory("ivfpqrotref").toString
    def build(d: String, opq: Int): Unit = Knn.ivfPqBuildIndex(emb,
      "embedding", "vec_id", d, cells = 4, m = 8, ksub = 16, iters = 2,
      trainFilter = $"vec_id" % 5 === 0, refine = true, opqSweeps = opq)
    try {
      build(dir, opq = 1)
      assert(Knn.IvfPqIndex.load(spark, dir).hasRotation)
      assert(Knn.loadRotation(spark, s"file://$dir").isDefined)
      build(dir, opq = 0)
      build(fresh, opq = 0)
      val h = Knn.IvfPqIndex.load(spark, dir)
      assert(!h.hasRotation && Knn.loadRotation(spark, dir).isEmpty)
      val qv = vecOf(11L)
      assert(h.search(qv, 10, 4, refine = 4).collect().toSeq ==
        Knn.IvfPqIndex.load(spark, fresh).search(qv, 10, 4, refine = 4)
          .collect().toSeq)
    } finally Seq(dir, fresh).foreach(rmTree)
  }
}
