package perfbench

import java.io.File

import org.apache.spark.sql.functions.col

import graft.serve.{HttpApi, McpServer, SearchGateway}
import graft.similarity.Knn.DenseIndex
import graft.sync.HighlightStore

/** The serving stack as `graft.Cli serve` assembles it: a reloading warm
  * store handle and an optional dense index behind one `SearchGateway`,
  * exposed over the real HTTP and MCP sockets. */
final class Server(env: Env, storeDir: String,
    dense: Option[() => DenseIndex], nprobe: Int,
    embedder: graft.embed.Embedder) {
  private val store = HighlightStore.reloadingWarm(env.spark, storeDir)
  private val storeFn: () => org.apache.spark.sql.DataFrame =
    if (env.trace) Trace.storeHandle(() => store.get.serving, () => store.generation)
    else () => store.get.serving
  private val denseFn = dense.map(d =>
    if (env.trace) () => Trace.denseIndex(d()) else d)
  private val gateway = new SearchGateway(storeFn, embedder, denseFn, nprobe)
  private val searchFn =
    if (env.trace) Trace.request(env.spark, gateway.search) else gateway.search _
  val http: HttpApi = new HttpApi(searchFn).start()
  val mcp: McpServer = new McpServer(searchFn).start()

  def stop(): Unit = { http.shutdown(); mcp.shutdown(1000) }
}

object Serving {
  /** The live store version's directory (its `CURRENT` pointer). */
  def liveVersion(storeDir: String): String = {
    val name = new String(java.nio.file.Files.readAllBytes(
      new File(storeDir, "CURRENT").toPath), "UTF-8").trim
    new File(storeDir, name).getPath
  }

  /** The live store version as stored: texts, tags and the raw fp16
    * vectors, decoded by the benchmark's own decoder. One scan. */
  final case class Stored(texts: Map[String, String],
      tags: Map[String, Seq[String]], corpus: Refs.Corpus)

  def readStore(env: Env, storeDir: String): Stored = {
    val rows = env.spark.read.parquet(liveVersion(storeDir))
      .select(col("id"), col("text"), col("tags"), col(HighlightStore.Emb16Col))
      .collect()
    Stored(rows.map(r => r.getString(0) -> r.getString(1)).toMap,
      rows.map(r => r.getString(0) -> r.getSeq[String](2).sorted).toMap,
      new Refs.Corpus(rows.map(_.getString(0)),
        rows.map(r => Refs.fp16Decode(r.getAs[Array[Byte]](3)))))
  }

  /** Half-precision storage rounds each coordinate to 11 significant
    * bits; a distance recomputed from the same stored halves agrees far
    * inside this. */
  val ScoreTolerance = 1e-3

  /** Check one response against the exact scan over `corpus`: `k`
    * distinct ids (fewer only when fewer rows qualify), ascending scores,
    * each score the benchmark's own cosine distance of the stored vector.
    * Returns the response's recall@k: the share of the exact top-k it
    * holds, counting an id that ties the k-th distance as a hit. */
  def check(env: Env, what: String, rows: Vector[(String, Double)],
      q: Array[Float], corpus: Refs.Corpus, k: Int,
      eligible: String => Boolean = _ => true): Double = {
    val v = env.verdict
    val ids = rows.map(_._1)
    val d = corpus.distances(q)
    val pos = corpus.ids.zipWithIndex.toMap
    val exact = corpus.ids.indices.filter(i => eligible(corpus.ids(i)))
      .sortBy(i => (d(i), corpus.ids(i))).take(k)
    v.check(ids.distinct.size == ids.size, s"$what: duplicate ids $ids")
    v.check(ids.size == exact.size, s"$what: ${ids.size} results, expected ${exact.size}")
    v.check(rows.map(_._2).sliding(2).forall(p => p.size < 2 || p(0) <= p(1)),
      s"$what: scores not ascending ${rows.map(_._2)}")
    rows.foreach { case (id, score) =>
      pos.get(id) match {
        case None => v.check(false, s"$what: id $id is not in the store")
        case Some(i) =>
          v.check(eligible(id), s"$what: id $id does not match the filter")
          v.check(math.abs(d(i) - score) <= ScoreTolerance,
            s"$what: id $id score $score, reference ${d(i)}")
      }
    }
    if (exact.isEmpty) 1.0
    else {
      val kth = d(exact.last)
      ids.count(id => pos.get(id).exists(i => d(i) <= kth + 1e-9)).min(exact.size)
        .toDouble / exact.size
    }
  }
}
