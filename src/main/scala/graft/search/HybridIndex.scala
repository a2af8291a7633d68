package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.similarity.Knn
import graft.text.TextRank

/** Hybrid dense+BM25 retrieval fused into ONE Spark job per request:
  * both legs built as uncollected frames, each ranked inside the plan
  * (a row_number window over an already-LIMITed ≤k-row list, one
  * partition), fused by reciprocal rank with [[TextRank.rrfFuse]] —
  * one `collect()` = one planned job, with the dense cell scan and the
  * bucket-pruned postings scan as independent stages inside it.
  *
  * MEASURED TRADE (2026-08-14, the 20-user gate, same-day runs): this
  * single-job plan is p95 822 ms where the two-CONCURRENT-jobs shape
  * (ConcurrencyProbe's default: each leg its own job on the caller's
  * FAIR pool, driver-side `rrfFuseLocal`) is 492 ms against an
  * ivf-alone 543 ms. One planning pass is saved, but the fusion join
  * and rank windows are stage BARRIERS that serialize after the leg
  * scans — and FAIR-scheduled independent jobs already overlap at
  * stage granularity, so the barrier cost exceeds the planning saving
  * on a single driver. Use this form when planned-jobs-per-request is
  * the real bound (e.g. many serving replicas sharing a planner-bound
  * driver, or job-count quotas); use concurrent legs for latency.
  *
  * Wraps the two load-once handles ([[Knn.IvfIndex]] over a cosine cell
  * layout — its Catalyst [[Knn.IvfIndex.search]], so both legs plan into
  * one job — and [[TextRank.LexIndex]]); compose with
  * [[graft.sync.Reloading]] at the caller when the indexes take live
  * maintenance.
  */
final class HybridIndex(dense: Knn.IvfIndex, lex: TextRank.LexIndex) {

  /** Fused RRF top-k: (id, rank_a, rank_b, rrf) rows, rrf descending —
    * rank_a from the dense leg (cosine ascending), rank_b from BM25
    * (score descending), absent-from-a-leg contributing 0 (the q84 /
    * rrfFuseLocal semantics, unchanged — only the job count moves). */
  def search(queryVec: Array[Float], queryTerms: Seq[String], k: Int,
      nprobe: Int, kRrf: Int = 60): DataFrame = {
    val d = dense.search(queryVec, k, nprobe)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").asc, col("id").asc)))
      .select(col("id"), col("rank"))
    val l = lex.search(queryTerms, k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("id").asc)))
      .select(col("id"), col("rank"))
    TextRank.rrfFuse(d, l, k, kRrf)
  }
}
