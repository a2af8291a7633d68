package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, col, crc32}

import graft.dedup.Dedup
import graft.embed.HashNgramEmbedder
import graft.similarity.Knn
import graft.sync.{HighlightStore, Sync}
import graft.text.{CorpusPrep, TextAnalysis}

/** `pipeline-batch`: graft's LLM-data-pipeline operators over a synced
  * document corpus with planted near-duplicate clusters. The timed phase
  * is one pass of the chain curation cascade → LSH near-dup dedup →
  * SemDeDup → batch kNN join of a held-out batch against the persisted IVF
  * index → shard export. The pass is the first in its JVM, as a batch
  * job's is; the checks that need extra jobs run after it. */
object PipelineBatch {
  val Docs = 400
  val Books = 30
  val PerPage = 200
  /** The pipeline's vectors: a smaller hashed n-gram model than the
    * serving corpus, so SemDeDup's k-means and the kNN join stay a small
    * share of a pass. */
  val Dim = 256
  val Cells = 8
  val K = 10
  val Nprobe = 3
  val HeldOut = 60
  val Clusters = 30
  val Jaccard = 0.7
  val SemMaxDistance = 0.05
  val SemCells = 4
  val ShardTokens = 4000

  /** The corpus: topic documents long and English enough to keep, a
    * share in another marker language or too short, exact copies, and
    * planted clusters of near-duplicates (a base and 2–3 variants with
    * one word replaced each). */
  final case class Corpus(docs: Vector[Gen.Highlight], clusters: Seq[Seq[Long]])

  def corpus(gen: Gen, n: Int, clusters: Int, firstId: Long): Corpus = {
    val docs = Vector.newBuilder[Gen.Highlight]
    val groups = Seq.newBuilder[Seq[Long]]
    var id = firstId
    def emit(book: Int, text: String): Long = {
      val h = gen.highlight(id, book, book % gen.topics.size).copy(text = text)
      docs += h; id += 1; h.id
    }
    // every fourth word a stop word: English to the language marker and
    // above the cascade's quality floor
    def english(t: Int): String =
      gen.text(t, 40 + gen.nextInt(20), 0.6).split(" ").zipWithIndex
        .map { case (w, j) => if (j % 4 == 0) gen.pick(Vector("the", "a")) else w }
        .mkString(" ")
    (0 until clusters).foreach { c =>
      val book = c % Books
      val base = english(book % gen.topics.size).split(" ")
      val members = (0 until 3 + gen.nextInt(2)).map { v =>
        val w = base.clone()
        if (v > 0) w(5 + gen.nextInt(w.length - 10)) = s"variant$c$v"
        emit(book, w.mkString(" "))
      }
      groups += members
    }
    var exactCopies = List.empty[String]
    while (id < firstId + n) {
      val book = gen.nextInt(Books)
      val t = book % gen.topics.size
      gen.nextInt(20) match {
        case 0 | 1 => emit(book, (0 until 30).map(_ =>
          if (gen.nextInt(2) == 0) gen.pick(Vector("data", "table", "row"))
          else gen.text(t, 1, 1.0)).mkString(" "))
        case 2 | 3 => emit(book, gen.text(t, 5 + gen.nextInt(4), 0.5))
        case 4 if exactCopies.nonEmpty => emit(book, exactCopies.head)
        case _ =>
          val text = english(t)
          if (gen.nextInt(10) == 0) exactCopies ::= text
          emit(book, text)
      }
    }
    Corpus(docs.result(), groups.result())
  }

  final case class PassResult(seconds: Double, stages: Map[String, Double],
      cascade: Map[String, Long], kept: Set[String], lshGroups: Map[String, Long],
      semGroups: Map[String, Long], knn: Array[Row], manifestDocs: Long)

  def run(env: Env): Unit = {
    val spark = env.spark
    import spark.implicits._
    val gen = new Gen(env.seed)
    val c = corpus(gen, Docs, Clusters, 7000000L)
    val pages = Gen.exportPages(c.docs, gen.bookCategory, PerPage)
    val embedder = HashNgramEmbedder(dim = Dim)
    val traced = if (env.trace) Trace.TracedEmbedder(embedder) else embedder
    val heldOut = (0 until HeldOut).map { i =>
      (s"q$i", gen.text(gen.nextInt(Books) % gen.topics.size, 20, 0.6))
    }
    val heldOutDf = heldOut.map { case (id, t) => (id, embedder.embed(t).toSeq) }
      .toDF("id", "embedding")

    var backfillS, buildS = 0.0
    val dir = env.setUp { d =>
      val t0 = System.nanoTime()
      val n = Sync.backfill(spark, env.exportClient(pages), s"$d/store",
        s"$d/ckpt", traced, fp16 = true)
      val t1 = System.nanoTime()
      env.verdict.check(n == Docs, s"backfill synced $n of $Docs")
      Knn.ivfBuildIndex(HighlightStore.read(spark, s"$d/store").get, "embedding",
        "id", s"$d/ivf", k = Cells, iters = 2,
        trainFilter = crc32(col("id")) % 5 === 0, fp16 = true)
      backfillS = (t1 - t0) / 1e9
      buildS = (System.nanoTime() - t1) / 1e9
      Main.log(f"backfill $backfillS%.2fs, index build $buildS%.2fs")
      d
    }
    val afterSetup = Trace.snapshot()
    env.endToEnd("sync_rows_per_s") = Docs / backfillS
    val storeDir = s"$dir/store"
    val ivfDir = s"$dir/ivf"
    Trace.drain(spark)
    val before = Trace.snapshot()

    def timedStage[T](stages: mutable.Map[String, Double], name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      stages(name) = (System.nanoTime() - t0) / 1e9
      r
    }
    val pass = env.ops("pipeline").attempt("pass") {
      val stages = mutable.LinkedHashMap[String, Double]()
      val t0 = System.nanoTime()
      val docs = HighlightStore.read(spark, storeDir).get
      val cascade = timedStage(stages, "text.cascade_s") {
        val lm = TextAnalysis.ngramLmScore(docs, "text", "id",
          trainFilter = crc32(col("id")) % 10 < 8).select(col("id"), col("avg_logprob"))
        val (tagged, _) = CorpusPrep.curationCascade(docs, "text", "id", "source_type", lm)
        tagged.select(col("id"), col("reason")).collect()
          .map(r => r.getString(0) -> r.getString(1))
      }
      val kept = cascade.collect { case (id, "keep") => id }.toSet
      def only(ids: Iterable[String]): DataFrame =
        docs.join(broadcast(ids.toSeq.toDF("id")), Seq("id"))
      val lsh = timedStage(stages, "dedup.lsh_s") {
        Dedup.deduplicate(only(kept), "text", "id", Jaccard, viaLsh = true)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      val sem = timedStage(stages, "dedup.semdedup_s") {
        Dedup.semDeDup(only(lsh.keys), "embedding", "id", SemMaxDistance, SemCells)
          .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      }
      val knn = timedStage(stages, "ann.knn_join_s") {
        Knn.ivfKnnJoinIndex(spark, ivfDir, heldOutDf, "embedding", "id", K, Nprobe)
          .collect()
      }
      val manifest = timedStage(stages, "text.export_s") {
        CorpusPrep.exportShards(only(sem.keys), "text", "id",
          s"${env.work}/export", ShardTokens).collect()
      }
      val seconds = (System.nanoTime() - t0) / 1e9
      PassResult(seconds, stages.toMap,
        cascade.groupBy(_._2).map { case (k, v) => k -> v.length.toLong },
        kept, lsh, sem, knn, manifest.map(_.getAs[Long]("n_docs")).sum)
    }
    Trace.drain(spark)
    val delta = Layers.delta(Trace.snapshot(), before)
    val heap = env.heapMb()
    val p = pass.getOrElse(sys.error("the pipeline pass failed"))
    Main.log(f"pass: ${p.seconds}%.2fs ${p.stages}")

    val ref = Serving.readStore(env, storeDir).corpus
    val textOf = c.docs.map(h => h.id.toString -> h.text).toMap
    checkPass(env, p, textOf)
    val verified = checkPairs(env, spark, storeDir, p, ref, textOf)
    val recalls = p.knn.groupBy(_.getString(0)).toSeq.map { case (qid, rows) =>
      val q = embedder.embed(heldOut(qid.drop(1).toInt)._2)
      Serving.check(env, s"knn join $qid", rows.sortBy(_.getInt(3)).toVector
        .map(r => (r.getString(1), r.getDouble(2))), q, ref, K)
    }
    env.verdict.check(recalls.size == HeldOut,
      s"knn join answered ${recalls.size} of $HeldOut held-out queries")
    env.endToEnd("search_p50_ms") = p.stages("ann.knn_join_s") * 1e3 / HeldOut
    env.endToEnd("recall_at_10") = Stats.mean(recalls)
    env.endToEnd("work_per_s") = Docs / p.seconds
    env.endToEnd("disk_mb") = (Main.duBytes(new java.io.File(storeDir)) +
      Main.duBytes(new java.io.File(ivfDir))) / 1e6
    env.endToEnd("heap_mb") = heap
    val recallPlanted = plantedRecall(c, p)
    env.verdict.check(recallPlanted >= DedupRecallFloor,
      s"planted near-duplicate recall $recallPlanted below $DedupRecallFloor")
    env.notes ++= Seq("pass_s" -> p.seconds, "stages_s" -> p.stages,
      "dedup_recall" -> recallPlanted, "cascade" -> p.cascade)

    if (env.trace) {
      p.stages.foreach { case (k, v) => env.layers(k) = v }
      env.layers("dedup.planted_recall") = recallPlanted
      env.layers("dedup.lsh_verified") = verified
      env.layers("dedup.lsh_candidates") = Dedup.minHashLshPairs(
        HighlightStore.read(spark, storeDir).get
          .join(broadcast(p.kept.toSeq.toDF("id")), Seq("id")), "text", "id")
        .count().toDouble
      env.layers("sync.backfill_s") = backfillS
      env.layers("index.build_s") = buildS
      Layers.sparkPerOp(env, delta, 1)
      Layers.setupCounts(env, afterSetup)
    }
  }

  val DedupRecallFloor = 0.8

  /** Cascade, dedup and export bookkeeping that every pass must satisfy. */
  def checkPass(env: Env, p: PassResult, textOf: Map[String, String]): Unit = {
    val v = env.verdict
    v.check(p.cascade.values.sum == Docs, s"cascade counts ${p.cascade} sum to ${p.cascade.values.sum}, corpus $Docs")
    v.check(p.lshGroups.values.sum == p.kept.size,
      s"LSH dedup group sizes sum to ${p.lshGroups.values.sum}, input ${p.kept.size}")
    v.check(p.lshGroups.keySet.subsetOf(p.kept), "LSH dedup kept a document it was not given")
    v.check(p.semGroups.values.sum == p.lshGroups.size,
      s"SemDeDup group sizes sum to ${p.semGroups.values.sum}, input ${p.lshGroups.size}")
    v.check(p.manifestDocs == p.semGroups.size,
      s"export manifest holds ${p.manifestDocs} documents, kept ${p.semGroups.size}")
    // every exact copy of a kept text is tagged a duplicate
    val keptTexts = p.kept.toSeq.map(textOf)
    v.check(keptTexts.distinct.size == keptTexts.size, "cascade kept two identical texts")
  }

  /** The pairs behind the dedup steps, recomputed by the same public
    * operators, checked against the benchmark's own Jaccard and cosine.
    * Returns the number of verified LSH pairs. */
  def checkPairs(env: Env, spark: org.apache.spark.sql.SparkSession, storeDir: String,
      w: PassResult, ref: Refs.Corpus, textOf: Map[String, String]): Double = {
    import spark.implicits._
    val docs = HighlightStore.read(spark, storeDir).get
    val kept = docs.join(broadcast(w.kept.toSeq.toDF("id")), Seq("id"))
    val pairs = Dedup.lshVerifiedPairs(kept, "text", "id", Jaccard).collect()
    pairs.foreach { r =>
      val (a, b, j) = (r.getString(0), r.getString(1), r.getDouble(2))
      val ours = Refs.jaccard(Refs.wordShingles(textOf(a)), Refs.wordShingles(textOf(b)))
      env.verdict.check(ours >= Jaccard && math.abs(ours - j) < 1e-9,
        s"LSH pair ($a, $b): reported Jaccard $j, reference $ours")
    }
    val sem = docs.join(broadcast(w.lshGroups.keys.toSeq.toDF("id")), Seq("id"))
    Dedup.semDeDupPairs(sem, "embedding", "id", SemMaxDistance, SemCells).collect().foreach { r =>
      val (a, b) = (r.getAs[String]("id_a"), r.getAs[String]("id_b"))
      val d = Refs.cosineDistance(ref.vector(a).get, ref.vector(b).get)
      env.verdict.check(d <= SemMaxDistance + Serving.ScoreTolerance,
        s"SemDeDup pair ($a, $b): reference cosine distance $d > $SemMaxDistance")
    }
    pairs.length.toDouble
  }

  /** Share of planted within-cluster pairs that the LSH dedup merged: a
    * cluster's members that survive as `r` groups of sizes g_i merged
    * Σ C(g_i, 2) of its C(m, 2) pairs (the groups cannot mix clusters:
    * clusters share no shingles beyond common words). */
  def plantedRecall(c: Corpus, w: PassResult): Double = {
    def pairs(n: Long) = n * (n - 1) / 2
    val all = c.clusters.map(m => pairs(m.size.toLong)).sum
    val merged = c.clusters.map { m =>
      val ids = m.map(_.toString).filter(w.kept)
      ids.flatMap(w.lshGroups.get).map(pairs).sum
    }.sum
    merged.toDouble / all
  }
}
