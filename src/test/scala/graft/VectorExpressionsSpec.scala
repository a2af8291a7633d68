package graft

import org.apache.spark.sql.functions._
import graft.functions.{cosine_distance, dot_product, l2_distance}
import graft.functions.VectorMath

class VectorExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  private val eps = 1e-12

  test("cosine distance basics: self=0, orthogonal=1, opposite=2") {
    assert(math.abs(VectorMath.cosineDistance(Array(1f, 2f), Array(1f, 2f))) < eps)
    assert(math.abs(VectorMath.cosineDistance(Array(1f, 0f), Array(0f, 1f)) - 1.0) < eps)
    assert(math.abs(VectorMath.cosineDistance(Array(1f, 0f), Array(-1f, 0f)) - 2.0) < eps)
    // zero vector → max distance, not NaN
    assert(VectorMath.cosineDistance(Array(0f, 0f), Array(1f, 0f)) == 1.0)
  }

  test("expressions evaluate via Column API and SQL, null-safe") {
    val df = Seq(
      (1L, Some(Seq(1f, 2f, 3f)), Seq(1f, 2f, 3f)),
      (2L, None, Seq(1f, 0f, 0f))
    ).toDF("id", "a", "b")
    val got = df.select(
      $"id",
      cosine_distance($"a", $"b").as("cd"),
      dot_product($"a", $"b").as("dp"),
      l2_distance($"a", $"b").as("l2")
    ).orderBy($"id").collect()
    assert(math.abs(got(0).getDouble(1)) < eps)
    assert(math.abs(got(0).getDouble(2) - 14.0) < eps)
    assert(math.abs(got(0).getDouble(3)) < eps)
    assert(got(1).isNullAt(1) && got(1).isNullAt(2) && got(1).isNullAt(3))

    df.createOrReplaceTempView("vecs")
    val sqlGot = spark.sql(
      "SELECT id, cosine_distance(a, b) AS cd FROM vecs ORDER BY id").collect()
    assert(math.abs(sqlGot(0).getDouble(1)) < eps)
    assert(sqlGot(1).isNullAt(1))
  }

  test("a folded query vector is passed by reference: a new query compiles no new class, scores bit-identical") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.util.ArrayData
    import graft.functions.{Fp16, Int8, fp16_cosine_distance, fp16_encode,
      int8_cosine_distance, int8_encode}
    val dim = 8
    // Range, not a local Seq: a LocalRelation would be folded by the
    // optimizer and never reach whole-stage codegen
    val rows = spark.range(0, 16, 1, 2).select(
      array((0 until dim).map(i => sin($"id" * (i + 1)).cast("float")): _*)
        .as("v"))
      .select($"v", fp16_encode($"v").as("h"), int8_encode($"v").as("i8"))
      .cache()
    val vs = rows.select($"v").as[Seq[Float]].collect().map(_.toArray)
    val queries = Seq(Array.tabulate(dim)(i => (i + 1).toFloat),
      Array.tabulate(dim)(i => (3 * i - 7).toFloat / 5f))
    // kernel name → (query → served scores, query → expected scores)
    val kernels = Seq[(String, Array[Float] => Seq[Double],
        Array[Float] => Seq[Double])](
      ("cosine_distance",
        q => rows.select(cosine_distance($"v", typedLit(q))).as[Double]
          .collect().toSeq,
        q => vs.toSeq.map(v => VectorMath.cosineDistancePre(
          ArrayData.toArrayData(v), q, VectorMath.norm(q)))),
      ("fp16_cosine_distance",
        q => rows.select(fp16_cosine_distance($"h", typedLit(q)))
          .as[Double].collect().toSeq,
        q => vs.toSeq.map(v => VectorMath.cosineDistanceHalfPre(
          Fp16.encode(v), q, VectorMath.norm(q)))),
      ("int8_cosine_distance",
        q => rows.select(int8_cosine_distance($"i8", typedLit(q)))
          .as[Double].collect().toSeq,
        q => vs.toSeq.map(v => Int8.cosineDistancePre(
          Int8.encode(v), q, VectorMath.norm(q)))))
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    for ((name, served, expected) <- kernels) {
      assert(served(queries.head) == expected(queries.head), name)
      val before = compiles.getCount
      assert(served(queries(1)) == expected(queries(1)), name)
      assert(compiles.getCount == before,
        s"$name compiled ${compiles.getCount - before} new class(es) " +
          "for a new query vector")
    }
    rows.unpersist()
  }

  test("cosine distance on real embeddings stays in [0, 2]") {
    val emb = table("embeddings")
    val q = emb.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0).toArray
    val scored = emb.select(
      $"vec_id",
      cosine_distance($"embedding", lit(q)).as("score"))
    val stats = scored.agg(min($"score"), max($"score")).head()
    assert(stats.getDouble(0) >= 0.0 && stats.getDouble(1) <= 2.0)
    // self-distance ~ 0
    val self = scored.filter($"vec_id" === 0).head().getDouble(1)
    assert(math.abs(self) < 1e-6)
  }

  test("events nanos timestamps readable") {
    val ev = table("events")
    assert(ev.schema("ts").dataType.typeName.contains("timestamp"))
    assert(ev.count() > 0)
  }
}
