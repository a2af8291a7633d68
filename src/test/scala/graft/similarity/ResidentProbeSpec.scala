package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The resident probe of [[Knn.IvfIndex]] on the cosine cell layouts:
  * a filterless serving request equals the Catalyst
  * [[Knn.IvfIndex.search]] bit for bit ([[ResidentCheck]]) and, warm,
  * is one Spark job. The IVFADC layouts are checked in [[PqSpec]], the
  * SOAR-spilled one in [[SpilledIvfSpec]]. */
class ResidentProbeSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = table("embeddings")
    .filter($"embedding".isNotNull).cache()

  private def vecOf(id: Long): Array[Float] =
    emb.filter($"vec_id" === id).select($"embedding")
      .head().getSeq[Float](0).toArray

  private def rmTree(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
  }

  private def build(corpus: org.apache.spark.sql.DataFrame, key: String,
      dir: String, fp16: Boolean, attrCols: Seq[String] = Nil): Unit =
    Knn.ivfBuildIndex(corpus, "embedding", key, dir, k = 4, iters = 2,
      trainFilter = lit(true), fp16 = fp16, attrCols = attrCols)

  test("the resident probe equals the Catalyst search on fp16, fp32, string-id tie, attr and tombstoned multi-segment layouts") {
    val queries = Seq(7L, 11L, 150L).map(vecOf)
    // copies of vector 11 under string ids that order differently as SQL
    // orders them (UTF-8 bytes: "gＡ" < "g😀") than as the
    // JVM does: with n11 they tie six ways, so the k = 1, 2, 3 cuts of
    // the query by vector 11 fall inside the tie group
    val base = emb.filter($"vec_id" < 300)
    val strIds = base.select(concat(lit("n"), $"vec_id").as("id"),
        $"embedding")
      .unionByName(Seq("f0", "gＡ", "g😀", "h0", "h1")
        .toDF("id").crossJoin(emb.filter($"vec_id" === 11)
          .select($"embedding")))
    val layouts: Seq[(String, String => Unit)] = Seq(
      "fp16" -> (d => build(emb, "vec_id", d, fp16 = true)),
      "fp32" -> (d => build(emb, "vec_id", d, fp16 = false)),
      "string ids" -> (d => build(strIds, "id", d, fp16 = true)),
      "attrs" -> (d => build(emb.withColumn("label", pmod($"vec_id", lit(7))),
        "vec_id", d, fp16 = true, attrCols = Seq("label"))),
      "segments + tombstones" -> { d =>
        build(emb.filter($"vec_id" < 300), "vec_id", d, fp16 = false)
        Knn.ivfAppendIndex(emb.filter($"vec_id" >= 300 && $"vec_id" < 400),
          "embedding", "vec_id", d)
        Knn.ivfDeleteIndex(spark, d, Seq(7L, 150L, 310L).toDF("vec_id"),
          "vec_id")
        Knn.ivfAppendIndex(emb.filter($"vec_id" >= 400), "embedding",
          "vec_id", d)
      })
    for ((layout, make) <- layouts) {
      val dir = java.nio.file.Files.createTempDirectory("resident").toString
      try {
        make(dir)
        val h = Knn.IvfIndex.load(spark, dir)
        assert(!h.hasCodes && (h.asDense(4) eq h), layout)
        withClue(s"$layout: ")(queries.foreach(ResidentCheck.sameAsCatalyst(h, _)))
        h.unpin()
      } finally rmTree(dir)
    }
  }

  test("a warm filterless request on the fp16 layout runs exactly one Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("resident-jobs").toString
    try {
      build(emb, "vec_id", dir, fp16 = true)
      val h = Knn.IvfIndex.load(spark, dir)
      val (qv, next) = (vecOf(11L), vecOf(150L))
      h.servingTopK(qv, 10, 2, None) // pins the cells
      val sc = spark.sparkContext
      val group = s"resident-one-job-${System.nanoTime()}"
      sc.setJobGroup(group, "one warm filterless request")
      try h.servingTopK(next, 10, 2, None)
      finally sc.clearJobGroup()
      assert(sc.statusTracker.getJobIdsForGroup(group).length == 1)
      h.unpin()
    } finally rmTree(dir)
  }
}
