package graft.serve

import java.sql.Timestamp
import java.time.format.DateTimeFormatter

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Row}

import graft.embed.Embedder
import graft.search.{SearchRequest, SemanticSearch}

/** Glue between the protocol layer ([[SearchParams]]) and the Spark query
  * (embed query text → [[SemanticSearch]] top-k → row dicts) — the
  * reference's `SearchService.execute_search` lifecycle
  * (readwise_vector_db/mcp/search_service.py:167-262, core/search.py:44-122,
  * row decode db/supabase_ops.py:278-295).
  *
  * The store is a highlight-schema DataFrame (FIXTURES.md §1). k ≤ 100 so
  * the collected result is tiny; the heavy lifting stays distributed in
  * `TakeOrderedAndProject`.
  *
  * `storeFn`/`dense` are RESOLVED PER REQUEST so callers can hand in
  * [[graft.sync.Reloading]]-backed handles (live sync/refresh commits
  * served without restart); the plain-DataFrame constructors pin one
  * version, the reference's process-lifecycle behavior. When a dense
  * index ([[graft.similarity.Knn.DenseIndex]] — an
  * [[graft.similarity.Knn.IvfIndex]] over fp16 cells, or its
  * `asDense(refine)` view over IVFADC codes + exact refine, both served
  * by `Cli serve --ivf-index`) is provided, FILTERLESS non-hybrid
  * queries top-k through its resident probe and only rehydrate the k
  * winners from the store (the pgvector-index shape); a filtered query
  * serves from the index when the cells carry its columns, else from the
  * store scan, where predicates push into the same plan as the score. */
final class SearchGateway(storeFn: () => DataFrame, embedder: Embedder,
    dense: Option[() => graft.similarity.Knn.DenseIndex], nprobe: Int) {

  def this(store: DataFrame, embedder: Embedder) =
    this(() => store, embedder, None, 4)
  def this(store: DataFrame) = this(store, Embedder.Default)

  private def store: DataFrame = storeFn()

  private val iso = DateTimeFormatter.ISO_LOCAL_DATE_TIME

  def search(params: SearchParams): Iterator[Map[String, Any]] = {
    val req = SearchRequest(
      queryVec = embedder.embed(params.query),
      k = params.k,
      sourceType = params.sourceType,
      author = params.author,
      tags = params.tags,
      highlightedAtRange = params.highlightedAtRange.map { case (f, t) =>
        (Timestamp.valueOf(f.atStartOfDay()),
          Timestamp.valueOf(t.atStartOfDay())) })
    if (params.hybrid) hybridSearch(params, req)
    else params.mmrLambda match {
      case Some(lambda) => mmrSearch(lambda, req)
      case None => dense match {
        case Some(idx) =>
          val conds = SemanticSearch.filterConditions(req)
          if (conds.isEmpty) denseIndexSearch(idx(), req)
          else {
            // a filtered request serves from the index ONLY when the
            // cells carry every column the predicate references
            // (ivfBuildIndex/ivfPqBuildIndex attrCols) — otherwise the
            // store scan is the one plan that can evaluate the filter
            val i = idx()
            if (conds.forall { case (c, _) => i.attrColumns.contains(c) })
              filteredIndexSearch(i, req, conds.map(_._2))
            else SemanticSearch.search(store, req)
              .collect().iterator.map(decode)
          }
        case _ =>
          SemanticSearch.search(store, req).collect().iterator.map(decode)
      }
    }
  }

  /** Opt-in MMR diversification (q116's operator at the serving edge):
    * one store scan cuts a 4·k (≤ 200) candidate pool into a top-pool
    * heap WITH embeddings, then [[graft.search.Mmr]]'s greedy
    * λ·rel − (1−λ)·max-sim selection re-orders it locally — O(k·pool)
    * driver arithmetic on kilobytes, the same collected-top-k contract
    * as every other serving path. The reported `score` stays the cosine
    * distance (comparable with the plain path); only the ORDER is
    * diversified. Runs on the always-correct store scan (the IVF probe
    * returns ids without vectors, and diversification needs the pool's
    * embeddings), honoring the request's filters. */
  private def mmrSearch(lambda: Double,
      req: SearchRequest): Iterator[Map[String, Any]] = {
    import org.apache.spark.sql.functions.{col, typedLit}
    val k = SearchRequest.clampK(req.k)
    val pool = math.min(4 * k, 2 * SearchRequest.MaxK)
    val cand = SemanticSearch.applyFilters(
        store.filter(col(SemanticSearch.EmbeddingCol).isNotNull), req)
      .withColumn("score", graft.functions.cosine_distance(
        col(SemanticSearch.EmbeddingCol), typedLit(req.queryVec)))
      .orderBy(col("score").asc, col("id").asc)
      .limit(pool)
      .collect()
    if (cand.isEmpty) return Iterator.empty
    val vecOf = cand.map(r => r.getAs[String]("id") ->
      r.getAs[Seq[Float]](SemanticSearch.EmbeddingCol).toArray).toMap
    def sim(a: Array[Float], b: Array[Float]): Double =
      1.0 - graft.functions.VectorMath.cosineDistance(a, b)
    // greedy Mmr.rerank selection keyed by the store's string ids; ties
    // on mmr break toward the lexicographically smaller id
    val remaining = scala.collection.mutable.LinkedHashMap(
      cand.map(r => r.getAs[String]("id") -> r): _*)
    val out = Seq.newBuilder[Row]
    var selected = List.empty[Array[Float]]
    var rank = 0
    while (rank < k && remaining.nonEmpty) {
      var bestId: String = null
      var bestMmr = Double.NegativeInfinity
      remaining.foreach { case (id, r) =>
        val rel = 1.0 - r.getAs[Double]("score")
        val maxSim =
          if (selected.isEmpty) 0.0
          else selected.iterator.map(s => sim(vecOf(id), s)).max
        val mmr = lambda * rel - (1.0 - lambda) * maxSim
        if (mmr > bestMmr || (mmr == bestMmr && (bestId == null || id < bestId))) {
          bestMmr = mmr; bestId = id
        }
      }
      val r = remaining.remove(bestId).get
      selected ::= vecOf(bestId)
      out += r
      rank += 1
    }
    out.result().iterator.map(decode)
  }

  /** Filterless request through the dense index: on an
    * [[graft.similarity.Knn.IvfIndex]] (either cell layout) one Spark
    * job over its resident cells, then the rehydrate of the k winners. */
  private def denseIndexSearch(idx: graft.similarity.Knn.DenseIndex,
      req: SearchRequest): Iterator[Map[String, Any]] =
    rehydrate(idx.servingTopK(req.queryVec, SearchRequest.clampK(req.k),
      nprobe, None))

  /** Filtered request through an attr-carrying index, COST-ROUTED
    * ([[graft.similarity.Knn.DenseIndex.servingTopKRouted]]): the index
    * measures the predicate's selectivity and sends rare filters — the
    * reference's single-author / rare-tag requests, its core query
    * dimension (db/supabase_ops.py:239-259) — to its pruned exhaustive
    * scan instead of burning the adaptive ladder's widening attempts to
    * arrive at the same plan; plentiful filters take the standard
    * pruned probe, where the predicate evaluates INSIDE the cell scan
    * (same filter semantics as the store path —
    * [[SemanticSearch.filterConditions]]). Store rehydration is
    * identical to the filterless path — by construction the k winners
    * already satisfy the predicate. */
  private def filteredIndexSearch(idx: graft.similarity.Knn.DenseIndex,
      req: SearchRequest,
      conds: Seq[org.apache.spark.sql.Column]): Iterator[Map[String, Any]] =
    rehydrate(idx.servingTopKRouted(req.queryVec,
      SearchRequest.clampK(req.k), nprobe, conds.reduce(_ && _)))

  private def rehydrate(
      top: Array[Row]): Iterator[Map[String, Any]] = {
    if (top.isEmpty) return Iterator.empty
    val scoreOf = top.map(r => (r.get(0), r.getDouble(1))).toMap
    val order = top.map(_.get(0)).zipWithIndex.toMap
    val rows = store
      .filter(org.apache.spark.sql.functions.col("id")
        .isin(top.map(_.get(0)): _*))
      .drop(SemanticSearch.EmbeddingCol)
      .collect()
      .sortBy(r => order(r.getAs[Any]("id")))
    rows.iterator.map(r =>
      decode(r) + ("score" -> scoreOf(r.getAs[Any]("id"))))
  }

  /** Opt-in hybrid retrieval (q83/q84's operators at the serving edge):
    * dense cosine top-k + BM25 top-k over the SAME filtered row scope
    * ([[SemanticSearch.applyFilters]] — the legs can't disagree on
    * which rows are searchable), fused driver-side by reciprocal rank
    * ([[graft.text.TextRank.rrfFuseLocal]] — two ≤k-row collected lists,
    * so fusion is local arithmetic, not a third job). One final pruned
    * fetch rehydrates the fused ids into full serving rows; the reported
    * `score` is the RRF value (higher = better — callers opting into
    * hybrid opt into its score scale). A query with no whitespace terms
    * falls back to dense-only rather than erroring. */
  private def hybridSearch(params: SearchParams,
      req: SearchRequest): Iterator[Map[String, Any]] = {
    val terms = params.query.split("\\s+").toSeq.filter(_.nonEmpty).distinct
    if (terms.isEmpty)
      return SemanticSearch.search(store, req).collect().iterator.map(decode)
    val denseIds = SemanticSearch.search(store, req)
      .select(org.apache.spark.sql.functions.col("id"))
      .collect().map(_.getString(0)).toSeq
    val scoped = SemanticSearch.applyFilters(store, req)
    val lexIds = graft.text.TextRank.bm25TopK(scoped, "text", "id",
        terms, params.k)
      .select(org.apache.spark.sql.functions.col("id"))
      .collect().map(_.getString(0)).toSeq
    val fused = graft.text.TextRank.rrfFuseLocal(denseIds, lexIds, params.k)
    val rrfOf = fused.toMap
    val order = fused.map(_._1).zipWithIndex.toMap
    val rows = scoped
      .filter(org.apache.spark.sql.functions.col("id")
        .isin(fused.map(_._1): _*))
      .drop(SemanticSearch.EmbeddingCol)
      .collect()
      .sortBy(r => order(r.getAs[String]("id")))
    rows.iterator.map(r =>
      decode(r) + ("score" -> rrfOf(r.getAs[String]("id"))))
  }

  /** Row → serving dict, the 12-col + score shape of supabase_ops.py:278-295
    * (missing store columns surface as absent keys → JSON null at the edge,
    * matching api/routes.py:205-217 defaulting). */
  private def decode(row: Row): Map[String, Any] = {
    val fields = Seq("id", "text", "source_type", "source_author",
      "source_title", "source_url", "category", "note", "location",
      "highlighted_at", "tags", "score")
    fields.foldLeft(ListMap.empty[String, Any]) { (acc, f) =>
      if (!row.schema.fieldNames.contains(f)) acc
      else acc + (f -> (row.getAs[Any](f) match {
        case ts: Timestamp => ts.toLocalDateTime.format(iso)
        case seq: Seq[_] => seq
        case other => other
      }))
    }
  }
}
