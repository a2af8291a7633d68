package graft.search

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.similarity.Knn
import graft.text.TextRank

/** [[HybridIndex]] — the fused single-job hybrid serving plan must be
  * result-identical to the two-leg rrfFuseLocal shape it replaces, and
  * actually plan as ONE job (the point of the fusion).
  */
class HybridIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def rmTree(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
  }

  test("fused hybrid equals the two-leg RRF fusion and plans one job") {
    val emb = table("embeddings").filter($"embedding".isNotNull)
    val docs = table("documents")
    val root = java.nio.file.Files.createTempDirectory("hybrid").toString
    val ivfDir = s"$root/ivf"; val lexDir = s"$root/lex"
    try {
      Knn.ivfBuildIndex(emb, "embedding", "vec_id", ivfDir,
        k = 4, iters = 2, trainFilter = $"vec_id" % 3 === 0, fp16 = true)
      TextRank.buildLexicalIndex(docs, "text", "doc_id", lexDir)
      val dense = Knn.IvfIndex.load(spark, ivfDir)
      val lex = TextRank.LexIndex.load(spark, lexDir)
      val hybrid = new HybridIndex(dense, lex)
      val qv = emb.filter($"vec_id" === 7).select($"embedding")
        .head().getSeq[Float](0).toArray
      val terms = Seq("join", "filter", "merge")

      val fused = hybrid.search(qv, terms, k = 10, nprobe = 4)
        .select($"id", $"rrf").as[(Long, Double)].collect().toSeq
      val denseIds = dense.search(qv, k = 10, nprobe = 4)
        .select($"id").as[Long].collect().toSeq
      val lexIds = lex.search(terms, k = 10)
        .select($"id").as[Long].collect().toSeq
      val expect = TextRank.rrfFuseLocal(denseIds, lexIds, 10)
      assert(fused == expect,
        s"fused $fused != two-leg $expect")

      // one PLANNED job per request (the df cache and the comparison
      // collects above warmed everything): the fusion's whole point.
      // AQE off for the count — serving runs without it (ConcurrencyProbe
      // does the same: AQE's per-stage materialization jobs double the
      // request's job count, and job count is the serialized resource)
      val sc = spark.sparkContext
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // the MAX retained job id, not the list length: the status tracker
      // evicts old jobs in batches past spark.ui.retainedJobs, so under a
      // full suite the length can drop across the call while job ids stay
      // monotonic per context
      def hi = sc.statusTracker.getJobIdsForGroup(null).foldLeft(-1)(math.max)
      try {
        val before = hi
        hybrid.search(qv, terms, k = 10, nprobe = 4).collect()
        val after = hi
        assert(after - before == 1,
          s"fused hybrid ran ${after - before} jobs")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    } finally rmTree(root)
  }
}
