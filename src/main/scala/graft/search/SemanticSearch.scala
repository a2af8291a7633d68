package graft.search

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.cosine_distance

/** The reference's one parameterized query shape, Spark-first: top-k
  * cosine search with optional metadata filters
  * (reference: readwise_vector_db/db/supabase_ops.py:211-272,
  * core/search.py:44-186).
  *
  * Plan shape: parquet scan (filters + IS NOT NULL pushed, columns pruned)
  * → codegen'd CosineDistance → `TakeOrderedAndProject` (per-partition
  * heap of k, merge on driver — no global sort, no shuffle of data rows).
  * The date-range filter is pushed *before* top-k, fixing the reference's
  * post-LIMIT filtering wart (core/search.py:91-114; SURVEY.md §2.2 P6).
  */
final case class SearchRequest(
    queryVec: Array[Float],
    k: Int = SearchRequest.DefaultK,
    sourceType: Option[String] = None,
    author: Option[String] = None,
    tags: Option[Seq[String]] = None,
    highlightedAtRange: Option[(Timestamp, Timestamp)] = None)

object SearchRequest {
  /** Reference defaults: k=20 at the API, clamped to [1, 100]
    * (models/api.py:9, api/routes.py:100). */
  val DefaultK = 20
  val MaxK = 100
  def clampK(k: Int): Int = math.max(1, math.min(MaxK, k))
}

object SemanticSearch {

  /** Column layout expected of a highlight store (FIXTURES.md §1). */
  val EmbeddingCol = "embedding"

  /** The request's metadata predicates as (column name, predicate)
    * pairs — ONE definition of filter semantics shared by the store
    * scan, the hybrid legs, and the attr-carrying IVF index probe
    * ([[graft.similarity.Knn.IvfIndex.servingTopKRouted]]), so no two
    * serving paths can disagree on which rows are in scope. */
  def filterConditions(req: SearchRequest): Seq[(String, Column)] =
    Seq[Option[(String, Column)]](
      req.sourceType.map(v => "source_type" -> (col("source_type") === v)),
      req.author.map(v => "source_author" -> (col("source_author") === v)),
      req.tags.map(ts =>
        "tags" -> arrays_overlap(col("tags"), lit(ts.toArray))),
      req.highlightedAtRange.map { case (from, to) =>
        "highlighted_at" -> col("highlighted_at").between(from, to) }
    ).flatten

  /** The request's metadata predicates alone (no vector work) — shared
    * by the dense path below and the hybrid gateway's lexical leg, so
    * the two legs can never disagree on which rows are in scope. */
  def applyFilters(store: DataFrame, req: SearchRequest): DataFrame =
    filterConditions(req).map(_._2).foldLeft(store)(_ filter _)

  def search(store: DataFrame, req: SearchRequest, keyCol: String = "id"): DataFrame = {
    val filtered = applyFilters(store.filter(col(EmbeddingCol).isNotNull), req)
    filtered
      .withColumn("score", cosine_distance(col(EmbeddingCol), typedLit(req.queryVec)))
      // the vector never leaves the store (the reference's SELECT list has
      // no embedding column, db/supabase_ops.py:211-272) — and with it out
      // of the projection, an fp16 store's decode appears exactly once, so
      // FuseFp16Cosine collapses scan → fused kernel with no widening
      .drop(EmbeddingCol)
      .orderBy(col("score").asc, col(keyCol).asc)
      .limit(SearchRequest.clampK(req.k))
  }
}
