package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** OPQ ([[Knn.opqTrain]]): the rotation's orthonormality (the property
  * q155 gates end-to-end through search), determinism, and the QUALITY
  * claim — on cross-subspace-correlated data the learned rotation cuts
  * PQ reconstruction error, where plain PQ pays for structure that
  * straddles its split boundary. */
class OpqSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = table("embeddings")
    .filter($"embedding".isNotNull).cache()

  /** A corpus whose halves correlate 0.9 ACROSS the m=2 split boundary
    * — the anisotropy PQ's independence assumption is worst at. */
  private lazy val correlated: DataFrame = emb
    .select($"vec_id".as("id"), $"embedding")
    .as[(Long, Seq[Float])]
    .map { case (id, v) =>
      (id, Seq.tabulate(64)(i =>
        if (i < 32) v(i) else 0.9f * v(i - 32) + 0.1f * v(i)))
    }.toDF("id", "v").cache()

  /** Mean ‖x_space − x̂‖² of a trained (rotation, codebooks) pair over
    * `df` — x_space is the rotated vector (identity rotation = plain
    * PQ), so errors are comparable across rotations (orthonormal R
    * preserves distances). */
  private def reconErr(df: DataFrame, rot: Array[Array[Double]],
      cb: Array[Array[Array[Float]]]): Double = {
    val rows = df
      .select($"id", graft.functions.mat_vec_rotate($"v", rot).as("rv"))
      .select($"rv", graft.functions.pq_decode(
        graft.functions.pq_encode($"rv", cb), cb).as("xhat"))
      .collect()
    val errs = rows.map { r =>
      val rv = r.getSeq[Float](0)
      val xh = r.getSeq[Float](1)
      rv.indices.map { i =>
        val d = rv(i).toDouble - xh(i); d * d
      }.sum
    }
    errs.sum / errs.length
  }

  test("learned rotation is orthonormal to double precision; training deterministic") {
    val (rot, cb) = Knn.opqTrain(emb, "embedding", "vec_id",
      m = 2, ksub = 4, iters = 2, sweeps = 2)
    val d = rot.length
    var maxDev = 0.0
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(k => rot(k)(i) * rot(k)(j)).sum
      maxDev = math.max(maxDev, math.abs(dot - (if (i == j) 1.0 else 0.0)))
    }
    assert(maxDev < 1e-9, s"R'R deviates from I by $maxDev")
    val (rot2, cb2) = Knn.opqTrain(emb, "embedding", "vec_id",
      m = 2, ksub = 4, iters = 2, sweeps = 2)
    assert(rot.map(_.toSeq).toSeq == rot2.map(_.toSeq).toSeq)
    assert(cb.map(_.map(_.toSeq).toSeq).toSeq == cb2.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("opqSweeps IVFADC index == plain index over the pre-rotated corpus, row-exact") {
    // the serving integration's whole contract: opqSweeps>0 is EXACTLY a
    // pre-transform — an index built with the learned R must answer
    // (ids, cells, scores) identically to a rotation-free index built
    // over the corpus rotated by that same R and queried with the
    // rotated query, through BOTH stages (ADC + fp16 refine)
    val dirA = java.nio.file.Files
      .createTempDirectory("opq-ivfpq-a").toString + "/idx"
    Knn.ivfPqBuildIndex(correlated, "v", "id", dirA, cells = 4, m = 2,
      ksub = 8, iters = 2, trainFilter = lit(true), refine = true,
      opqSweeps = 2)
    val rot = Knn.loadRotation(spark, dirA).get
    val dirB = java.nio.file.Files
      .createTempDirectory("opq-ivfpq-b").toString + "/idx"
    Knn.ivfPqBuildIndex(
      correlated.withColumn("v",
        graft.functions.mat_vec_rotate($"v", rot)),
      "v", "id", dirB, cells = 4, m = 2, ksub = 8, iters = 2,
      trainFilter = lit(true), refine = true, opqSweeps = 0)
    val idxA = Knn.IvfIndex.load(spark, dirA)
    val idxB = Knn.IvfIndex.load(spark, dirB)
    assert(idxA.hasRotation && !idxB.hasRotation)
    val qv = emb.filter($"vec_id" === 7).select($"embedding")
      .head().getSeq[Float](0).toArray
    val q64 = Seq.tabulate(64)(i =>
      if (i < 32) qv(i) else 0.9f * qv(i - 32) + 0.1f * qv(i)).toArray
    val qRot = graft.functions.RotMath.rotateLocal(q64, rot)
    for (refine <- Seq(1, 2)) {
      val a = idxA.search(q64, 10, 2, refine).collect().map(_.toSeq).toSeq
      val b = idxB.search(qRot, 10, 2, refine).collect().map(_.toSeq).toSeq
      assert(a == b, s"refine=$refine: rotated-index path diverged")
    }
  }

  test("on cross-boundary-correlated data the rotation cuts reconstruction error") {
    val dim = 64
    val identity = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    val pqCb = Knn.collectCodebooks(Knn.pqTrain(
      correlated, "v", "id", m = 2, ksub = 16, iters = 2))
    val plainErr = reconErr(correlated, identity, pqCb)
    val (rot, opqCb) = Knn.opqTrain(correlated, "v", "id",
      m = 2, ksub = 16, iters = 2, sweeps = 3)
    val opqErr = reconErr(correlated, rot, opqCb)
    // measured 0.772 -> 0.646 (16% of the quantization floor back) at
    // m=2/ksub=16/sweeps=3 on the 0.9-correlated corpus
    assert(opqErr < plainErr,
      s"OPQ $opqErr not below plain PQ $plainErr on correlated data")
  }
}
