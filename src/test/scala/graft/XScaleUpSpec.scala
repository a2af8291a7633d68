package graft

import org.apache.spark.sql.functions._

/** [[XScaleUp]]'s embedding replicas must be distinct vectors: a sign
  * mask that repeats across replica indices plants exact-duplicate
  * embedding pairs that bias every dedup and join row run on the
  * scaled data. */
class XScaleUpSpec extends SparkTestBase {

  test("no two replicas of a vector share an embedding; replicas 1 and 8 differ") {
    val out = java.nio.file.Files.createTempDirectory("xscaleup").toString
    XScaleUp.replicate(spark, sfDir, out, factor = 9)
    val base = table("embeddings")
    val shift = base.agg(max(col("vec_id"))).head().getLong(0) + 1L
    val emb = spark.read.parquet(s"$out/embeddings.parquet")
      .select(pmod(col("vec_id"), lit(shift)).as("base_id"),
        (col("vec_id") / shift).cast("int").as("replica"), col("embedding"))
    assert(emb.count() == 9 * base.count())
    val dupes = emb.groupBy(col("base_id"), col("embedding")).count()
      .filter(col("count") > 1).count()
    assert(dupes == 0, s"$dupes (vector, embedding) pairs repeat across replicas")
    // the pair the old period-7 mask made byte-identical
    val r1 = emb.filter(col("replica") === 1)
      .select(col("base_id"), col("embedding").as("e1"))
    val r8 = emb.filter(col("replica") === 8)
      .select(col("base_id"), col("embedding").as("e8"))
    val joined = r1.join(r8, "base_id")
    assert(joined.count() == base.count())
    assert(joined.filter(col("e1") === col("e8")).count() == 0)
    assert(intercept[IllegalArgumentException](XScaleUp.replicate(spark,
      sfDir, out, factor = XScaleUp.MaxFactor + 1)).getMessage
      .contains("factor"))
  }
}
