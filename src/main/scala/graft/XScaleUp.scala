package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of a testdata directory for the r17 scaling
  * ladder (r16 verdict item 2): the sf0.1 bench corpus is so small that
  * ~90% of rows sit at the driver-action/scheduling floor, so the 8-vs-32
  * core board proves floor-boundedness, not parallelism. This main
  * replicates the five volume-bearing tables `factor`× with
  * deterministic, content-varying transforms so the HEAVY rows become
  * compute-bound and their core-scaling is measurable:
  *
  *  - documents: doc_id shifts by replica·(max+1); every token in
  *    replica i > 0 is prefixed `r<i>x` (one regexp_replace), so
  *    cross-replica shingles are DISJOINT — dedup/LM work scales
  *    linearly with the corpus instead of quadratically via synthetic
  *    cross-replica near-duplicates; n_chars recomputed.
  *  - embeddings: vec_id shifts; replica i > 0 sign-flips dims j where
  *    (31·j + i) mod 61 < 17 — norm-preserving (cosine geometry intact),
  *    ~28 % of dims flipped, far from the original. 31 is invertible
  *    mod 61, so over any 61 consecutive dims the mask is a distinct
  *    shift for every i mod 61: replicas 1..60 all differ from each
  *    other and from the original at any width ≥ 61 (no synthetic
  *    exact-duplicate pairs), which caps `factor` at 61.
  *  - lineitem/orders/customer: order and customer keys shift together
  *    (FK-consistent); dims (region/nation/part/supplier) and events
  *    copy through unchanged, so key lookups still resolve.
  *
  * LADDER TOOLING ONLY: never read by Bench/Verify/oracle paths, writes
  * to an explicit target dir, derives everything from the source parquet
  * at generation time. Usage: runMain graft.XScaleUp <srcDir> <outDir>
  * <factor>
  */
object XScaleUp {
  /** Replicas past 60 would repeat an earlier replica's sign mask. */
  val MaxFactor = 61

  /** Whether replica `i` sign-flips embedding dim `j` (see above). */
  private def flipped(j: Column, i: Int): Column =
    pmod(j * 31 + lit(i), lit(61)) < 17

  def replicate(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    require(factor >= 1 && factor <= MaxFactor,
      s"factor must be in [1, $MaxFactor], got $factor")
    def src(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // passthrough tables (dimensions + events: FK targets stay valid)
    Seq("region", "nation", "part", "supplier", "events")
      .foreach(n => write(src(n), n))

    val docs = src("documents")
    val docShift = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    write((0 until factor).map { i =>
      if (i == 0) docs
      else docs.select(
        (col("doc_id") + lit(i * docShift)).as("doc_id"),
        regexp_replace(col("text"), " ", s" r${i}x").as("text"),
        col("lang"), col("source"),
        length(regexp_replace(col("text"), " ", s" r${i}x"))
          .cast("long").as("n_chars"))
    }.reduce(_ unionByName _), "documents")

    val emb = src("embeddings")
    val vecShift = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
    write((0 until factor).map { i =>
      if (i == 0) emb
      else emb.select(
        (col("vec_id") + lit(i * vecShift)).as("vec_id"),
        transform(col("embedding"), (x, j) =>
          when(flipped(j, i), -x).otherwise(x)).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _), "embeddings")

    val orders = src("orders")
    val custs = src("customer")
    val li = src("lineitem")
    val okShift = orders.agg(max(col("o_orderkey"))).head().getLong(0) + 1L
    val ckShift = custs.agg(max(col("c_custkey"))).head().getLong(0) + 1L
    write((0 until factor).map { i =>
      orders.withColumn("o_orderkey", col("o_orderkey") + lit(i * okShift))
        .withColumn("o_custkey", col("o_custkey") + lit(i * ckShift))
    }.reduce(_ unionByName _), "orders")
    write((0 until factor).map { i =>
      custs.withColumn("c_custkey", col("c_custkey") + lit(i * ckShift))
    }.reduce(_ unionByName _), "customer")
    write((0 until factor).map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * okShift))
    }.reduce(_ unionByName _), "lineitem")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val factor = args(2).toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    replicate(spark, srcDir, outDir, factor)
    println(s"scaled $srcDir x$factor -> $outDir")
    spark.stop()
  }
}
