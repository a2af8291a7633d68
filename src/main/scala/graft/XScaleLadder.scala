package graft

import org.apache.spark.sql.SparkSession

/** Core-scaling ladder over a chosen query subset at a scaled-up data
  * dir ([[XScaleUp]]) — the r16 verdict's missing scaling evidence: at
  * sf0.1 most rows sit at the local action floor, so this main times the
  * UNCAPPED heavy rows at a volume where they are compute-bound, to be
  * run at two core counts (SPARK_GRAFT_CPUS=32 then 8) in one phase
  * window. Methodology matches Bench exactly (same session configs, same
  * sweep → untimed prime → timed count(), interleaved passes, per-pass
  * calib probe) so the two runs' numbers are comparable; this main never
  * replaces Bench and the driver never runs it.
  *
  * Usage: runMain graft.XScaleLadder <dataDir> <q1,q2,...> [runs]
  */
object XScaleLadder {
  def main(args: Array[String]): Unit = {
    val dataDir = args(0)
    val wanted = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSet
    val runs = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 21).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => wanted.contains(n.takeWhile(_ != '_')) || wanted(n))
    require(names.nonEmpty, s"no queries match $wanted")
    // same JIT/codegen warmup as Bench: every plan runs once at sf0.001
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      names.foreach { n =>
        try SparkEntry.queries(n)(spark, warmDir).count()
        catch { case _: Throwable => () }
      }
    def sweep(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }
    def calibrate(): Double = {
      sweep()
      val t0 = System.nanoTime()
      spark.range(0, 1L << 24, 1, 32)
        .selectExpr("xxhash64(id) AS h")
        .selectExpr("pmod(h, 262144) AS b", "h")
        .groupBy("b").agg(Map("h" -> "max"))
        .toDF("b", "s")
        .orderBy("s").limit(7).collect()
      (System.nanoTime() - t0) / 1e9
    }
    calibrate(); calibrate()
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    var calibSamples = List.empty[Double]
    (1 to runs).foreach { _ =>
      calibSamples = calibrate() :: calibSamples
      names.foreach { name =>
        sweep()
        spark.sparkContext.setJobDescription(s"ladder: $name (prime)")
        try SparkEntry.queries(name)(spark, dataDir).count()
        catch { case e: Throwable =>
          System.err.println(s"[ladder] $name prime failed: $e") }
        spark.sparkContext.setJobDescription(s"ladder: $name (timed)")
        val dt = Bench.timedRun(name) {
          SparkEntry.queries(name)(spark, dataDir).count() }
        samples(name) = dt :: samples.getOrElse(name, Nil)
        spark.sparkContext.setJobDescription(null)
      }
    }
    def f(v: Double): String = "%.3f".format(v)
    // a row with any failed pass is reported only under `failed`
    val (failed, timedNames) = names.partition(n => samples(n).exists(_.isNaN))
    val qs = timedNames.map(k => "\"" + k + "\":" + f(samples(k).min))
      .mkString("{", ",", "}")
    val passes = names.map { k =>
      "\"" + k + "\":[" + samples(k).reverse
        .map(v => if (v.isNaN) "null" else f(v)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    val failedList = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val calibs = calibSamples.reverse.map(f).mkString("[", ",", "]")
    println(s"""{"metric":"ladder","cpus":$cpus,"dir":"$dataDir","runs":$runs,"calib_passes":$calibs,"queries_min":$qs,"failed":$failedList,"samples":$passes}""")
    spark.stop()
  }
}
