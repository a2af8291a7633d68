package graft

/** Core-scaling ladder over a chosen query subset at a scaled-up data
  * dir ([[XScaleUp]]) — the r16 verdict's missing scaling evidence: at
  * sf0.1 most rows sit at the local action floor, so this main times the
  * UNCAPPED heavy rows at a volume where they are compute-bound, to be
  * run at two core counts (SPARK_GRAFT_CPUS=32 then 8) in one phase
  * window. It runs Bench's session configs and timing protocol
  * ([[Bench.timePasses]]), so the two mains' numbers are comparable; this
  * main never replaces Bench.
  *
  * Usage: runMain graft.XScaleLadder <dataDir> <q1,q2,...> [runs]
  */
object XScaleLadder {
  def main(args: Array[String]): Unit = {
    val dataDir = args(0)
    val wanted = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSet
    val runs = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => wanted.contains(n.takeWhile(_ != '_')) || wanted(n))
    require(names.nonEmpty, s"no queries match $wanted")
    val (samples, calibSamples) = Bench.timePasses(spark, names, dataDir, runs)
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
