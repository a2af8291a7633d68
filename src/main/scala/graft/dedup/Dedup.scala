package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.cosine_distance
import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale posture (100 TB): exact dedup is a single hash shuffle on a digest
  * (never the full text); MinHash/SimHash reduce each document to a small
  * signature *before* any shuffle, and LSH banding turns the O(n²) pair
  * space into an equi-join on (band, signature) that Spark executes as a
  * plain shuffled hash join. Only the pairwise *verification* of LSH
  * candidates touches two full shingle sets at once.
  */
object Dedup {

  /** Drop the storage blocks behind a `localCheckpoint()`ed frame.
    * Checkpointing truncates lineage, so the blocks are unrecoverable
    * after this — only call on a generation that has been fully
    * superseded by a later materialization. No-op on a frame that is
    * not itself a checkpoint root. */
  private def release(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _              => ()
    }

  /** Exact dedup groups keyed by content digest: keeper = min key.
    * groupBy on md5(text) — the shuffle carries only (digest, key). */
  def exactGroups(df: DataFrame, textCol: String, keyCol: String): DataFrame =
    df.select(md5(col(textCol)).as("content_hash"), col(keyCol))
      .groupBy(col("content_hash"))
      .agg(min(col(keyCol)).as("keeper"), count(lit(1)).as("n_dups"))

  /** Exact dedup: keep the first row (by keyCol) of each identical text. */
  def dropExactDuplicates(df: DataFrame, textCol: String, keyCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(keyCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Word-k-gram Jaccard similarity ≥ threshold, posting-list shape:
    * explode shingles → ONE exchange grouping documents per shingle
    * (`collect_list` posting list) → generate candidate pairs inside each
    * posting by a double explode → count shared shingles per pair →
    * |A∪B| = |A|+|B|−|A∩B|. Pairs sharing no shingle never materialize, so
    * the pair space is output-sensitive instead of O(n²). Compared with the
    * textbook token-self-equi-join this computes the shingle explosion ONCE
    * and shuffles it ONCE (the self-join shuffles both sides and, with a
    * stoplist, re-derives the token stream per side); pair generation is a
    * narrow codegen'd Generate, no join operator at all. Requires
    * threshold > 0 (zero-overlap pairs are definitionally absent).
    *
    * `maxShingleDf`: hot-key guard for the skewed tail — shingles appearing
    * in more than this many documents are dropped from *candidate
    * generation* (a document-frequency stoplist, the standard dedup-at-scale
    * mitigation: a shingle in 10⁶ docs contributes 10¹² candidate pairs and
    * ~zero discrimination). In this shape the stoplist is FREE: a size
    * filter on the already-built posting list, not a second aggregation +
    * anti-join. Approximate when set: intersection counts shrink, so
    * reported Jaccard is a lower bound. Uncapped, a df-D shingle
    * materializes a D-entry posting list in one task and D² candidate rows
    * (the self-join shape streams the same D² rows through one partition) —
    * at scale always set the cap; it bounds both the list and the blowup. */
  def jaccardPairs(df: DataFrame, textCol: String, keyCol: String,
      threshold: Double, k: Int = 3,
      maxShingleDf: Option[Long] = None): DataFrame = {
    require(threshold > 0.0, "jaccardPairs: threshold must be > 0")
    val sh = df.select(col(keyCol).as("id"),
        TextAnalysis.shingles(col(textCol), k).as("sh"))
      .filter(size(col("sh")) > 0)
    val toks = sh.select(col("id"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))
    val postings = toks.groupBy(col("s"))
      .agg(collect_list(struct(col("id"), col("n"))).as("docs"))
    val kept = maxShingleDf match {
      case None      => postings
      case Some(cap) => postings.filter(size(col("docs")) <= cap)
    }
    val pairs = kept.filter(size(col("docs")) >= 2)
      .select(explode(col("docs")).as("a"), col("docs"))
      .select(col("a"), explode(col("docs")).as("b"))
      .filter(col("a.id") < col("b.id"))
    val common = pairs
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("c"),
        first(col("a.n")).as("na"), first(col("b.n")).as("nb"))
    common
      .select(col("id_a"), col("id_b"),
        (col("c").cast("double") /
          (col("na") + col("nb") - col("c")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over an undirected near-dup pair list — the
    * step that turns pairwise matches (Jaccard/LSH/embedding) into dedup
    * GROUPS: every node ends up labeled with the minimum key reachable
    * from it, so the label doubles as the group's keeper.
    *
    * Iterative min-label propagation WITH pointer jumping: each round
    * every node adopts the minimum label among itself and its neighbors,
    * then follows its label one extra hop (`comp ← comp(comp)` — labels
    * only decrease, so the jump is always sound). Propagation alone needs
    * O(component diameter) rounds; the jump halves remaining distances
    * each round, so convergence is O(log diameter) — a 1000-hop revision
    * chain converges in ~10 rounds instead of 1000 full-corpus passes.
    * Each round is two equi-joins + a partial-aggregated min — no
    * driver-side graph. Labels are `localCheckpoint`ed every round: the
    * round's result materializes and the plan truncates to a
    * `LogicalRDD`, so plan depth — and therefore per-round analysis
    * cost — stays CONSTANT across iterations (a cache() alone leaves the
    * logical plan growing linearly, which turns into quadratic planning
    * time; same lineage discipline as `Knn.trainCentroids`, applied to
    * per-node state too large to collect). Each round's checkpoint
    * supersedes the previous one, which is unpersisted immediately — on
    * return exactly ONE generation (the result) stays pinned in executor
    * storage, not one per round; it lives until the session ends or the
    * caller sweeps persistent RDDs after consuming the labels. On a
    * production cluster prefer `checkpoint()` to reliable storage for
    * fault tolerance; the algorithm is unchanged. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    val edges = pairs
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().localCheckpoint()
    // round 0 fused into initialization: comp₀ = min(id, min neighbor) —
    // one aggregation over the edge list instead of a full loop round
    // (for clique-shaped duplicate groups, the common near-dup case,
    // every member sees the keeper as a direct neighbor and the loop
    // then terminates in its single confirmation round)
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("__nbr"))
      .select(col("id"), least(col("id"), col("__nbr")).as("comp"))
      .localCheckpoint()
    // the checkpointed generation currently backing `labels`: each round's
    // checkpoint supersedes the previous one, whose blocks are then dead
    // weight — checkpointed blocks have truncated lineage so the storage
    // layer can never safely evict them on its own; without an explicit
    // unpersist a d-round CC pins d full copies of per-node state in
    // executor storage for the life of the session
    var gen = labels
    // convergence is counted INSIDE the checkpoint materialization: a
    // side-effecting comparison bumps an accumulator as each row is
    // written, so the check costs zero extra jobs (the previous shape —
    // a filter+count over the checkpointed rows — was cheap per row but
    // a full job and driver sync per round). Task retries can only
    // inflate the count, never zero it, so a spurious non-zero costs at
    // most one extra (idempotent) round — convergence stays sound. Each
    // round allocates a FRESH accumulator rather than reset()-ing a
    // shared one: zombie/speculative tasks of a previous round's job can
    // report arbitrarily late, and a stale add() landing after reset()
    // would bleed into the NEXT round's read — repeated bleed could
    // spuriously exhaust maxIter on an already-converged graph.
    val sc = pairs.sparkSession.sparkContext
    var converged = labels.isEmpty
    var i = 0
    var done = false // happy-path flag: decides whether `gen` stays pinned
    try {
      while (!converged && i < maxIter) {
        val changedAcc = sc.longAccumulator(s"graft.cc.changed.$i")
        val bump = udf { changed: Boolean =>
          if (changed) changedAcc.add(1L)
          changed
        }.asNondeterministic()
        val nbrMin = edges
          .join(labels.withColumnRenamed("id", "dst"), "dst")
          .groupBy(col("src").as("id"))
          .agg(min(col("comp")).as("nbr"))
        // one fused update per round: comp ← min(comp, neighbor comps,
        // comp(comp)) — the pointer jump reads the PREVIOUS round's labels
        // (simultaneous update), which keeps a single materialization per
        // round while still halving remaining distances each round
        val newComp = least(col("comp"),
          least(coalesce(col("nbr"), col("comp")),
            coalesce(col("jumped"), col("comp"))))
        val updated = labels
          .join(nbrMin, Seq("id"), "left")
          .join(labels.select(col("id").as("__jid"),
            col("comp").as("jumped")), col("comp") === col("__jid"), "left")
          .select(col("id"), newComp.as("comp"),
            bump(newComp =!= col("comp")).as("__changed"))
          .localCheckpoint()
        converged = changedAcc.value == 0
        release(gen) // superseded generation: safe to drop once `updated` is material
        gen = updated
        labels = updated.select(col("id"), col("comp"))
        i += 1
      }
      // an unconverged labeling is indistinguishable from a converged one
      // to the caller and silently splits duplicate groups — fail instead
      if (!converged) throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(component diameter exceeds maxIter); raise maxIter")
      done = true
      labels
    } finally {
      // runs on BOTH exits: a round's job failing mid-loop must not leave
      // the edge list (and a never-to-be-consumed label generation) pinned
      // in executor storage for the life of the session — the exact leak
      // the per-round release exists to prevent
      release(edges)
      if (!done) release(gen)
    }
  }

  /** End-to-end near-dup deduplication — the pipeline a training-data run
    * actually executes: candidate pairs ([[jaccardPairs]], df-stoplisted) →
    * duplicate groups ([[connectedComponents]]) → keep ONE document per
    * group (the minimum key, which IS the component label) and report the
    * group size alongside each survivor. Documents in no pair survive with
    * `group_size = 1`.
    *
    * Returns (keyCol, group_size), one row per surviving document. The
    * corpus joins the (node, comp) labeling on its key — a LEFT join, so
    * the full corpus is touched exactly once more after pair finding; the
    * group-size aggregation runs over the (small) labeled node set, not
    * the corpus. */
  def deduplicate(df: DataFrame, textCol: String, keyCol: String,
      threshold: Double, k: Int = 3,
      maxShingleDf: Option[Long] = None,
      viaLsh: Boolean = false): DataFrame = {
    // viaLsh = the 100-TB path: banded candidates + exact verification
    // (see [[lshVerifiedPairs]]) instead of verifying every pair that
    // shares a shingle. Recall below ~J=0.5 is the banding scheme's.
    // The df-stoplist applies only to the exact path (banding already
    // bounds hot-shingle blowup) — reject the combination instead of
    // silently ignoring the cap the caller asked for.
    require(!viaLsh || maxShingleDf.isEmpty,
      "deduplicate: maxShingleDf applies to the exact path only; " +
        "drop it when viaLsh = true")
    val pairsDf =
      if (viaLsh) lshVerifiedPairs(df, textCol, keyCol, threshold, k)
      else jaccardPairs(df, textCol, keyCol, threshold, k, maxShingleDf)
    val comp = connectedComponents(pairsDf, "id_a", "id_b")
    val labeled = df.select(col(keyCol))
      .join(comp.withColumnRenamed("id", keyCol), Seq(keyCol), "left")
      .select(col(keyCol), coalesce(col("comp"), col(keyCol)).as("comp"))
    // one keeper row exists per component (comp = the min member's id,
    // and that member's own label is comp), so filtering keepers and
    // re-joining the size table is the identity on it — emit the
    // aggregation directly: no second pass over `labeled`, no join.
    // Precondition: CONVERGED min-labels (connectedComponents ran to a
    // fixed point, the normal case well inside maxIter). If the maxIter
    // cap ever truncated a deep component, labels need not be
    // self-labeled and both shapes are approximate — the old one
    // dropped groups whose label node carried a smaller label, this one
    // emits one row per label value.
    labeled.groupBy(col("comp"))
      .agg(count(lit(1)).as("group_size"))
      .select(col("comp").as(keyCol), col("group_size"))
  }

  /** Incremental deduplication — the STEADY-STATE production shape: a
    * new batch arrives daily and must be deduplicated against the
    * existing (already-deduplicated) corpus WITHOUT re-deduplicating the
    * world. Two stages, both reusing the posting-list machinery:
    *
    *  1. batch docs near-duplicating ANY corpus doc are dropped
    *     ([[crossCorpusPairs]] — the side-split postings discard
    *     corpus-only shingles before a single candidate generates, so
    *     the cost scales with the BATCH, not the corpus);
    *  2. the remaining batch deduplicates internally
    *     ([[deduplicate]]: pairs → components → one survivor/group).
    *
    * Returns (keyCol, group_size) over the surviving batch documents —
    * group sizes count FRESH docs only (corpus-matched docs are dropped,
    * not grouped). The corpus is never mutated and never shuffled beyond
    * its shingle stream.
    *
    * `maxShingleDf` asymmetry: the one cap is forwarded to both stages,
    * but its df-count BASE differs — stage 1 counts a shingle's document
    * frequency across batch ∪ corpus (so a large corpus alone can trip
    * the cap and drop cross-corpus candidates), stage 2 counts over the
    * surviving batch only. A cap tuned for batch-internal dedup is
    * therefore STRICTER against the corpus union; size it against the
    * corpus (or pass None and rely on the LSH path) when the corpus
    * dwarfs the batch.
    *
    * Storage note: the surviving batch is `localCheckpoint`ed (stage 2
    * references it four ways — see the body comment) and, like
    * [[connectedComponents]]' final generation, that batch-sized block
    * set stays pinned until the session ends or the caller sweeps
    * persistent RDDs after consuming the result (checkpointed blocks
    * have truncated lineage, so the storage layer can never evict them
    * on its own). Long-lived sessions calling this per batch should
    * sweep between batches; the blocks are batch-sized by design, never
    * corpus-sized. */
  def incrementalDeduplicate(corpus: DataFrame, batch: DataFrame,
      textCol: String, keyCol: String, threshold: Double, k: Int = 3,
      maxShingleDf: Option[Long] = None): DataFrame = {
    val vsCorpus = crossCorpusPairs(batch, corpus, textCol, keyCol,
      threshold, k, maxShingleDf)
    val dupOfCorpus = vsCorpus.select(col("corpus_id").as(keyCol)).distinct()
    // materialize the surviving batch ONCE: stage 2 references it four
    // ways (postings self-join both sides, the component left-join, the
    // survivor filter), and each un-truncated reference re-inlines the
    // whole stage-1 cross-corpus postings subtree — the q76 plan carried
    // 267 operators / 50 exchanges before truncation. The checkpoint is
    // batch-sized by design (stage 1 exists to keep cost scaling with
    // the batch), so pinning it is the cheap side of the trade at any
    // corpus scale.
    val fresh = batch.join(dupOfCorpus, Seq(keyCol), "left_anti")
      .localCheckpoint()
    deduplicate(fresh, textCol, keyCol, threshold, k, maxShingleDf)
  }

  /** One batch of the STREAMING dedup shape: deduplicate `batch` against
    * the parquet corpus at `corpusDir` (then internally), and append the
    * survivors' (keyCol, textCol) to that same directory. First call may
    * target a not-yet-existing directory — the batch then only
    * deduplicates internally and seeds the corpus.
    *
    * Self-healing under replay: if a batch's survivors were committed and
    * the batch re-runs (foreachBatch is at-least-once; the parquet job
    * commit itself is atomic), stage 1 now finds every replayed document
    * in the corpus at Jaccard 1 and drops it — the append converges to a
    * no-op instead of duplicating. That property is exactly the dedup
    * semantics, so this sink needs no transactional table format for
    * correctness, only for read isolation during the append. */
  def appendDeduplicated(batch: DataFrame, corpusDir: String,
      textCol: String, keyCol: String, threshold: Double, k: Int = 3,
      maxShingleDf: Option[Long] = None): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val path = new org.apache.hadoop.fs.Path(corpusDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchKT = batch.select(col(keyCol), col(textCol))
    val survivors =
      if (fs.exists(path)) {
        val corpus = spark.read.parquet(corpusDir)
          .select(col(keyCol), col(textCol))
        incrementalDeduplicate(corpus, batchKT, textCol, keyCol,
          threshold, k, maxShingleDf)
      } else {
        deduplicate(batchKT, textCol, keyCol, threshold, k, maxShingleDf)
      }
    batchKT.join(survivors.select(col(keyCol)), Seq(keyCol))
      .write.mode("append").parquet(corpusDir)
  }

  /** [[incrementalDeduplicate]], Structured Streaming form — the
    * steady-state production loop as a stream: each micro-batch runs
    * stage 1 (vs the corpus as appended so far) + stage 2 (in-batch) via
    * [[appendDeduplicated]] and appends its survivors, so the corpus
    * directory is always the full deduplicated output. `foreachBatch` is
    * the right tool, not a stateful operator: the corpus state is far
    * too large for the state store, lives naturally as the sink itself,
    * and the per-batch work is the REUSED batch pipeline — batch/stream
    * agreement holds by construction (IncrementalDedupStreamSpec asserts
    * it over a real MemoryStream run). Caller supplies
    * `.option("checkpointLocation", ...)` and `.start()`. */
  def incrementalDeduplicateStream(batches: DataFrame, corpusDir: String,
      textCol: String, keyCol: String, threshold: Double, k: Int = 3,
      maxShingleDf: Option[Long] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batches.writeStream.foreachBatch {
      (batch: DataFrame, _: Long) =>
        appendDeduplicated(batch, corpusDir, textCol, keyCol, threshold,
          k, maxShingleDf)
    }

  /** Cross-corpus near-duplicate pairs — the DECONTAMINATION pass: find
    * training documents whose shingle Jaccard against any held-out /
    * benchmark document reaches `threshold`, so they can be dropped
    * before training. Same posting-list shape as [[jaccardPairs]], with
    * both corpora side-tagged into one token stream: one exchange builds
    * the per-shingle posting across BOTH corpora, and in-posting pair
    * generation keeps only (corpus, bench) combinations — corpus-internal
    * and bench-internal pairs are never counted, and the posting is SPLIT
    * BY SIDE at aggregation time (`collect_list` skips the nulls of the
    * conditional struct), so a shingle appearing in only one corpus —
    * the overwhelmingly common case in decontamination — is discarded
    * before a single candidate row is generated, and the double explode
    * produces exactly |corpus posting| × |bench posting| rows rather
    * than (|A|+|B|)² filtered after the fact. `maxShingleDf` counts
    * document frequency across the union of the two corpora.
    * Returns (corpus_id, bench_id, jaccard). */
  def crossCorpusPairs(corpus: DataFrame, bench: DataFrame, textCol: String,
      keyCol: String, threshold: Double, k: Int = 3,
      maxShingleDf: Option[Long] = None): DataFrame = {
    require(threshold > 0.0, "crossCorpusPairs: threshold must be > 0")
    def toks(df: DataFrame, side: Int) = {
      val sh = df.select(col(keyCol).as("id"),
          TextAnalysis.shingles(col(textCol), k).as("sh"))
        .filter(size(col("sh")) > 0)
      sh.select(lit(side).as("side"), col("id"), size(col("sh")).as("n"),
        explode(col("sh")).as("s"))
    }
    val all = toks(corpus, 0).unionByName(toks(bench, 1))
    val postings = all.groupBy(col("s"))
      .agg(
        collect_list(when(col("side") === 0, struct(col("id"), col("n"))))
          .as("ca"),
        collect_list(when(col("side") === 1, struct(col("id"), col("n"))))
          .as("cb"))
    val kept = maxShingleDf match {
      case None      => postings
      case Some(cap) => postings.filter(size(col("ca")) + size(col("cb")) <= cap)
    }
    val pairs = kept.filter(size(col("ca")) > 0 && size(col("cb")) > 0)
      .select(explode(col("ca")).as("a"), col("cb"))
      .select(col("a"), explode(col("cb")).as("b"))
    val common = pairs
      .groupBy(col("a.id").as("corpus_id"), col("b.id").as("bench_id"))
      .agg(count(lit(1)).as("c"),
        first(col("a.n")).as("na"), first(col("b.n")).as("nb"))
    common
      .select(col("corpus_id"), col("bench_id"),
        (col("c").cast("double") /
          (col("na") + col("nb") - col("c")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Build a Bloom filter over a held-out set's shingles, as a ≤`words`-row
    * relation `(word_idx, word)` — `words` × 62 usable bits (the top two
    * bits stay clear so the mask arithmetic never touches the sign bit in
    * any engine). Bit positions come from the MinHash affine family over
    * the shingle's polyHash, so the construction is deterministic and
    * engine-replicable. `bit_or` is idempotent — no distinct needed
    * before the aggregate. */
  def bloomBuild(bench: DataFrame, textCol: String, k: Int = 3,
      nHash: Int = 3, words: Int = 64): DataFrame = {
    require(nHash >= 1 && nHash <= 16 && words >= 1,
      s"bloomBuild: need 1 <= nHash <= 16 and words >= 1, got $nHash/$words")
    bench
      .select(explode(TextAnalysis.shingles(col(textCol), k)).as("s"))
      .select(TextAnalysis.polyHash(col("s")).as("h"))
      .select(explode(array((0 until nHash).map(j =>
        bloomBitStruct(j, words)): _*)).as("bm"))
      .groupBy(col("bm.w").as("word_idx"))
      .agg(bit_or(col("bm.m")).as("word"))
  }

  /** (word_idx, mask) of hash function `j` for the shingle hash in
    * column `h`. */
  private def bloomBitStruct(j: Int, words: Int): Column = {
    val bits = words.toLong * 62L
    // MinHashA(j)*h < 1e9 * 1e9 — no Long overflow, same bound as MinHash
    val b = (lit(graft.text.TextMath.MinHashA(j)) * col("h") +
      lit(graft.text.TextMath.MinHashB(j))) % lit(graft.text.TextMath.Mod) %
      lit(bits)
    struct(floor(b / 62).cast("long").as("w"),
      call_function("shiftleft", lit(1L), (b % 62).cast("int")).as("m"))
  }

  /** Bloom-filter pre-filtered decontamination — the broadcast-summary
    * form of [[crossCorpusPairs]] for the production asymmetry: the
    * held-out/benchmark side is TINY (thousands of documents) and the
    * training corpus is the 100 TB side. Instead of shuffling corpus
    * shingles into a posting-list join, the bench side is summarized
    * once into `words`×62 bits ([[bloomBuild]]) and BROADCAST — a few
    * hundred bytes to a few KB reaching every executor — and each corpus
    * document tests its shingles locally: a shingle is a *candidate*
    * when all `nHash` bit probes hit. Only candidate shingles (a
    * false-positive-bounded superset of true overlaps) continue to the
    * exact semi-join against the real bench shingle set; clean documents
    * — the overwhelming majority at scale — never shuffle at all.
    *
    * Returns one row per corpus document that has at least one candidate
    * shingle: (id, n_shingles, n_bloom_hits, n_true_matches). The gap
    * `n_bloom_hits - n_true_matches` is the Bloom false-positive cost —
    * wasted verification, never a wrong answer (the semi-join is exact).
    * Size `words` for the bench shingle count: FP rate per probe ≈
    * (1 - e^(-nHash·n/(62·words)))^nHash. */
  def bloomDecontaminate(corpus: DataFrame, bench: DataFrame, textCol: String,
      keyCol: String, k: Int = 3, nHash: Int = 3, words: Int = 64): DataFrame = {
    val bloom = bloomBuild(bench, textCol, k, nHash, words)
    val probeBits = corpus
      .select(col(keyCol).as("id"),
        explode(TextAnalysis.shingles(col(textCol), k)).as("s"))
      .select(col("id"), col("s"), TextAnalysis.polyHash(col("s")).as("h"))
      .select(col("id"), col("s"),
        explode(array((0 until nHash).map(j =>
          bloomBitStruct(j, words)): _*)).as("bm"))
      .select(col("id"), col("s"), col("bm.w").as("w"), col("bm.m").as("m"))
    val probed = probeBits
      .join(broadcast(bloom), probeBits("w") === bloom("word_idx"), "left")
      .select(col("id"), col("s"),
        coalesce(col("word").bitwiseAND(col("m")) === col("m"),
          lit(false)).as("hit"))
      .groupBy(col("id"), col("s"))
      .agg(min(col("hit")).as("candidate")) // AND over the nHash probes
    val perDoc = probed.groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("candidate"), 1)).as("n_bloom_hits"))
      .filter(col("n_bloom_hits") > 0)
    // exact verification: ONLY candidate shingles reach the semi-join
    val benchShingles = bench
      .select(explode(TextAnalysis.shingles(col(textCol), k)).as("s"))
      .distinct()
    val trueMatches = probed.filter(col("candidate"))
      .join(benchShingles, Seq("s"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_true_matches"))
    perDoc.join(trueMatches, Seq("id"), "left")
      .na.fill(0L, Seq("n_true_matches"))
      .select(col("id"), col("n_shingles"), col("n_bloom_hits"),
        col("n_true_matches"))
  }

  /** LSH-candidate generation + EXACT Jaccard verification — the dedup
    * shape that survives 100 TB end-to-end. [[jaccardPairs]] verifies
    * every pair sharing ANY shingle: on a corpus where each document has
    * ~D near-copies that is Θ(shingles·D²) candidate rows (measured at
    * 100 k docs in 20-copy cliques: ~140 M candidates, ~1 M true pairs;
    * SCALE.md). Banding first collapses each clique to its
    * signature-collision pairs — output-sensitive in the number of NEAR
    * DUPLICATES, not shared shingles — and the exact Jaccard then runs
    * once per candidate PAIR via codegen'd `array_intersect`/
    * `array_union` over the two shingle sets, not once per shared
    * shingle. Recall is the LSH design's (4 bands × 4 rows: ≥ ~97 % at
    * J ≥ 0.7); every reported score is exact, so `threshold` semantics
    * match [[jaccardPairs]] on the pairs it surfaces. Two narrow
    * equi-joins rehydrate the shingle sets onto candidates (shuffles
    * carry candidate ids + one shingle array per side). The shingle
    * pipeline evaluates once for the signature path and once per
    * rehydration side: Spark materializes no common subtrees, and a
    * library operator should not cache behind the caller's back — the
    * evaluations are narrow, scan-parallel, and fully pipelined, but if
    * tokenization dominates end-to-end cost, materialize a shingled
    * frame upstream. */
  def lshVerifiedPairs(df: DataFrame, textCol: String, keyCol: String,
      threshold: Double, k: Int = 3): DataFrame = {
    require(threshold > 0.0, "lshVerifiedPairs: threshold must be > 0")
    val sh = df.select(col(keyCol).as("id"),
        TextAnalysis.shingles(col(textCol), k).as("sh"))
      .filter(size(col("sh")) > 0)
    val cands = minHashLshPairs(df, textCol, keyCol, k)
    cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("__sha")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("__shb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("__sha"), col("__shb"))).cast("double") /
          size(array_union(col("__sha"), col("__shb"))).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** (key, mh0..mh15) MinHash signature table from word-k-gram shingles. */
  def minHashSignatures(df: DataFrame, textCol: String, keyCol: String,
      k: Int = 3): DataFrame = {
    val sh = df
      .select(col(keyCol).as("id"), TextAnalysis.shingles(col(textCol), k).as("sh"))
      .filter(size(col("sh")) > 0)
    val sig = sh.select(col("id"),
      TextAnalysis.minHashSig(TextAnalysis.hashTokens(col("sh"))).as("sig"))
    val cols = col("id") +: (0 until 16).map(j =>
      element_at(col("sig"), j + 1).as(s"mh$j"))
    sig.select(cols: _*)
  }

  /** LSH candidate pairs: 4 bands × 4 rows over the 16-slot signature.
    * Docs sharing any full band collide. Posting-list shape (same design
    * as [[jaccardPairs]]): ONE exchange groups doc ids per (band, band
    * signature) bucket, candidate pairs are generated inside each bucket
    * by a double explode — the signature pipeline runs once total (the
    * self-equi-join form re-derived it per join side), and no join
    * operator appears in the plan. A pathologically hot bucket
    * materializes its posting list in one task; buckets ARE the LSH
    * design's skew bound (band signatures spread near-dups), the same
    * way `maxShingleDf` bounds [[jaccardPairs]]. */
  def minHashLshPairs(df: DataFrame, textCol: String, keyCol: String,
      k: Int = 3): DataFrame = {
    val sigs = minHashSignatures(df, textCol, keyCol, k)
    val bandStructs = (0 until 4).map { bidx =>
      struct(lit(bidx).as("band"),
        concat_ws("-", (0 until 4).map(r => col(s"mh${bidx * 4 + r}")): _*).as("bsig"))
    }
    val bands = sigs
      .select(col("id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bsig").as("bsig"))
    val buckets = bands.groupBy(col("band"), col("bsig"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) >= 2)
    buckets.select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** (key, simhash) 16-bit SimHash table from whitespace tokens. */
  def simHashTable(df: DataFrame, textCol: String, keyCol: String): DataFrame =
    df.select(col(keyCol).as("id"),
      TextAnalysis.simHash16(
        TextAnalysis.hashTokens(TextAnalysis.words(col(textCol)))).as("simhash"))

  /** SimHash near-duplicate PAIRS: documents whose 16-bit signatures are
    * within `maxHamming` bits. Banding by pigeonhole: the signature
    * splits into 4 nibbles, and ≤ `maxHamming` ≤ 3 differing bits can
    * corrupt at most 3 nibbles — every qualifying pair shares at least
    * one nibble AT THE SAME POSITION, so (band, nibble) posting lists
    * generate a complete candidate set (same one-exchange, no-join shape
    * as [[minHashLshPairs]]; signatures ride inside the postings so
    * verification — codegen `bit_count(xor)` — needs no rehydration
    * join). Exact w.r.t. the signature for maxHamming ≤ 3; the usual
    * SimHash approximation is only in the signature itself.
    *
    * Scale dial: nibble bands give 16 buckets per band, so posting-list
    * size grows as corpus/16 — fine at fixture scale, a hot-bucket
    * blowup at 100 TB. Use [[simHashPairs64]] there: the identical
    * algorithm over a 64-bit signature with 16-bit bands
    * (65 536 buckets/band, same pigeonhole coverage). */
  def simHashPairs(df: DataFrame, textCol: String, keyCol: String,
      maxHamming: Int = 2): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simHashPairs: 4-band pigeonhole is complete only for " +
        s"maxHamming <= 3, got $maxHamming")
    bandedHammingPairs(simHashTable(df, textCol, keyCol),
      bandBits = 4, maxHamming = maxHamming)
  }

  /** (key, simhash64) table — the production-width signature: four
    * salted 16-bit blocks over raw whitespace tokens
    * ([[graft.text.TextMath.simHash64]]). */
  def simHash64Table(df: DataFrame, textCol: String, keyCol: String): DataFrame =
    df.select(col(keyCol).as("id"),
      TextAnalysis.simHash64(TextAnalysis.words(col(textCol))).as("simhash"))

  /** [[simHashPairs]] at production width: 64-bit signatures, 16-bit
    * bands → 65 536 buckets per band, so posting lists stay small at
    * corpus scale where nibble bands saturate. Same pigeonhole: ≤ 3
    * differing bits corrupt at most 3 of 4 bands. */
  def simHashPairs64(df: DataFrame, textCol: String, keyCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simHashPairs64: 4-band pigeonhole is complete only for " +
        s"maxHamming <= 3, got $maxHamming")
    bandedHammingPairs(simHash64Table(df, textCol, keyCol),
      bandBits = 16, maxHamming = maxHamming)
  }

  /** Shared body of the SimHash pair finders: 4 bands of `bandBits` over
    * a (id, simhash) table, posting-list candidate generation (one
    * exchange, no join — signatures ride inside the postings), codegen
    * `bit_count(xor)` verification. */
  private def bandedHammingPairs(t: DataFrame, bandBits: Int,
      maxHamming: Int): DataFrame = {
    val mask = (1L << bandBits) - 1
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask))
          .as("nib"))
    }
    val bands = t
      .select(col("id"), col("simhash"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("simhash"),
        col("bb.band").as("band"), col("bb.nib").as("nib"))
    val buckets = bands.groupBy(col("band"), col("nib"))
      .agg(collect_list(struct(col("id"), col("simhash"))).as("docs"))
      .filter(size(col("docs")) >= 2)
    buckets
      .select(explode(col("docs")).as("a"), col("docs"))
      .select(col("a"), explode(col("docs")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Substring-level exact dedup — the window-dedup family (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"):
    * doc-LEVEL Jaccard/SimHash cannot remove a boilerplate block embedded
    * in otherwise-distinct documents, so documents are tiled into
    * fixed-width word windows ([[graft.text.CorpusPrep.chunkWords]],
    * overlap 0) and a window whose exact content appears in ≥ `minDocs`
    * distinct documents is reported as a span to cut. Partial tail
    * windows (< `windowWords` words) never participate — short fragments
    * collide too easily to be dedup signal.
    *
    * Returns (keyCol, chunk_idx, span_digest, n_docs): every occurrence
    * of every duplicated window, with the count of distinct documents
    * sharing it. Scale shape: the digest is computed BEFORE the
    * exchange, so the duplicate-count shuffle carries (digest, key) and
    * never text; the report joins back on the digest — an equi-join on
    * the same key the aggregation used. The window width is the
    * precision dial (Lee et al. use ~50 tokens; narrower catches more,
    * with more collisions). Alignment is window-strided, not sliding —
    * the O(n·w) sliding form buys boundary-shifted matches at w× the
    * candidate volume; strided tiling is the standard scale compromise. */
  def duplicatedSpans(df: DataFrame, textCol: String, keyCol: String,
      windowWords: Int, minDocs: Int = 2): DataFrame = {
    require(windowWords > 0, s"duplicatedSpans: windowWords must be > 0")
    require(minDocs >= 2, s"duplicatedSpans: minDocs must be >= 2, got $minDocs")
    val chunks = graft.text.CorpusPrep
      .chunkWords(df, textCol, keyCol, windowWords, overlap = 0)
      .filter(col("n_words") === windowWords)
      .select(col(keyCol), col("chunk_idx"),
        md5(col("chunk_text")).as("span_digest"))
    val dups = chunks.groupBy(col("span_digest"))
      .agg(countDistinct(col(keyCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    chunks.join(dups, Seq("span_digest"))
      .select(col(keyCol), col("chunk_idx"), col("span_digest"), col("n_docs"))
  }

  /** [[duplicatedSpans]] applied: rewrite each document with every
    * duplicated window REMOVED except in its keeper document (minimum
    * key among the sharers — each span keeps exactly one copy corpus-
    * wide). Partial tail windows are always kept. Returns (keyCol,
    * textCol) with the surviving windows re-joined in order; a document
    * losing every window survives with empty text rather than vanishing.
    * Two key-partitioned shuffles (digest count, per-doc reassembly) —
    * both on aggregation keys, text rides only the reassembly. */
  def cutDuplicatedSpans(df: DataFrame, textCol: String, keyCol: String,
      windowWords: Int, minDocs: Int = 2): DataFrame = {
    val chunks = graft.text.CorpusPrep
      .chunkWords(df, textCol, keyCol, windowWords, overlap = 0)
    val tagged = chunks.withColumn("__digest",
      when(col("n_words") === windowWords, md5(col("chunk_text"))))
    val keepers = tagged.filter(col("__digest").isNotNull)
      .groupBy(col("__digest"))
      .agg(countDistinct(col(keyCol)).as("__n"), min(col(keyCol)).as("__keeper"))
      .filter(col("__n") >= minDocs)
      .select(col("__digest"), col("__keeper"))
    val kept = tagged.join(keepers, Seq("__digest"), "left")
      .filter(col("__keeper").isNull || col(keyCol) === col("__keeper"))
    val rebuilt = kept.groupBy(col(keyCol))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
          s => s.getField("chunk_text")), " ").as(textCol))
    df.select(col(keyCol))
      .join(rebuilt, Seq(keyCol), "left")
      .select(col(keyCol), coalesce(col(textCol), lit("")).as(textCol))
  }

  /** Embedding-cosine near-duplicate pairs below a distance threshold.
    * O(n²) form — bound the input or LSH-bucket first at scale
    * (see [[embeddingLshPairs]]). */
  def embeddingNearDupPairs(df: DataFrame, vecCol: String, keyCol: String,
      maxDistance: Double): DataFrame = {
    val v = df.select(col(keyCol).as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine_distance(col("a.v"), col("b.v")).as("distance"))
      .filter(col("distance") < maxDistance)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by k-means clustering + within-cluster cosine
    * near-dup pruning — the embedding-space dedup that production
    * training pipelines run where hash families can't reach (paraphrases,
    * re-renders, translations of the same content). Clusters are trained
    * with the deterministic Lloyd iteration of
    * [[graft.similarity.Knn.trainCentroids]] (oracle-replicated), every
    * vector is assigned to its nearest centroid, near-dup pairs are
    * verified ONLY within a cell, and the standard pairs → connected
    * components → one-survivor-per-group tail ([[deduplicate]]) keeps
    * the minimum id of each semantic group.
    *
    * Scale shape: the brute-force O(n²) distance work
    * ([[embeddingNearDupPairs]]) becomes Σ_c n_c² ≈ n²/k for balanced
    * cells — with k grown proportionally to the corpus (the paper runs
    * ~50k clusters on LAION-scale data) per-cell work is bounded and
    * embarrassingly parallel. The pair search is an EQUI-join on
    * `centroid_id` (one hash exchange per side, AQE splits skewed
    * cells); centroids broadcast to both assignment and training;
    * cross-cell near-dups are the method's recall loss — `nprobe > 1`
    * is the paper's mitigation (multi-assignment), implemented in
    * [[semDeDupPairs]]: each vector PROBES its nprobe nearest cells
    * while being INDEXED only in its primary cell, so a cross-cell pair
    * is recovered whenever either member's probe set covers the other's
    * primary cell, at nprobe× assignment cost and ZERO index growth
    * (the same probe/index split as
    * [[graft.similarity.Knn.cellKnnGraph]]; q105 measures the recall
    * lift against the exact pair set). Unlike the LSH families the
    * cells are DATA-ADAPTIVE: dense regions get finer partitions than
    * any fixed hyperplane scheme gives.
    *
    * Rows with a null vector survive as singletons with a null
    * `centroid_id`. Returns (keyCol, centroid_id, group_size), one row
    * per surviving document. */
  def semDeDup(df: DataFrame, vecCol: String, keyCol: String,
      maxDistance: Double, k: Int, iters: Int = 2,
      nprobe: Int = 1): DataFrame = {
    val cents = graft.similarity.Knn.trainCentroids(df, vecCol, keyCol, k, iters)
    val assigned = graft.similarity.Knn.ivfAssign(df, vecCol, keyCol,
      cents, "cvec", "centroid_id")
    val pairs = semDeDupPairs(df, vecCol, keyCol, maxDistance, k, iters,
      nprobe, centroids = Some(cents))
    val comp = connectedComponents(pairs, "id_a", "id_b")
    val labeled = df.select(col(keyCol))
      .join(comp.withColumnRenamed("id", keyCol), Seq(keyCol), "left")
      .select(col(keyCol), coalesce(col("comp"), col(keyCol)).as("comp"))
    // the q71/deduplicate keeper identity: comp IS the keeper's key, so
    // the size aggregation already holds one row per keeper — join only
    // the centroid attachment, never a second labeled pass (identity
    // assumes CONVERGED min-labels; see deduplicate's comment)
    labeled.groupBy(col("comp"))
      .agg(count(lit(1)).as("group_size"))
      .select(col("comp").as(keyCol), col("group_size"))
      .join(assigned.select(col("id").as(keyCol), col("centroid_id")),
        Seq(keyCol), "left")
      .select(col(keyCol), col("centroid_id"), col("group_size"))
  }

  /** SemDeDup's within-cell near-dup pair search, factored out with the
    * nprobe multi-assignment dial. `nprobe = 1` is the classic form: both
    * sides of the equi-join are the primary assignment, pairs ordered by
    * `id_a < id_b`. `nprobe > 1` splits probe from index: the probe side
    * carries each vector in its `nprobe` nearest cells, the index side
    * stays primary-cell-only, and pairs canonicalize through
    * least/greatest + distinct (a pair can surface from either member's
    * probe — the exact cosine verify is bit-identical in both
    * orientations, so the distinct is safe on the distance too).
    * Index size never grows with nprobe; only probe-side fan-out does.
    * Pass pre-trained `centroids` to share one Lloyd run across
    * several probe settings. */
  def semDeDupPairs(df: DataFrame, vecCol: String, keyCol: String,
      maxDistance: Double, k: Int, iters: Int = 2, nprobe: Int = 1,
      centroids: Option[DataFrame] = None): DataFrame = {
    require(nprobe >= 1 && nprobe <= k,
      s"semDeDupPairs: need 1 <= nprobe <= k, got $nprobe/$k")
    val cents = centroids.getOrElse(
      graft.similarity.Knn.trainCentroids(df, vecCol, keyCol, k, iters))
    // BLOCKED pair join (guide §2.5 — the few-distinct-keys form of
    // skew): the within-cell join's only key is centroid_id, so at most
    // k reduce partitions ever hold rows — with k = 8 cells a 32-core
    // run leaves 3/4 of the machine idle through the O(Σ n_c²) verify,
    // and ONE hot cell serializes its whole n_c² block on one task (the
    // r17 ×10 ladder measured q91 at 16.1 s/32c vs 29.2 s/8c — ratio
    // 1.81 against a core ratio of 4; salted: 10.0 vs 16.7).
    // Each side salts by a deterministic id hash into s buckets and
    // explodes the OTHER side's bucket axis, so the join key becomes
    // (centroid_id, sa, sb): every pair meets in EXACTLY ONE of the s²
    // blocks (sa, sb are functions of the two ids), nothing is lost,
    // nothing duplicates, and the verify spreads over k·s² tasks. Costs
    // s× shuffle bytes per side — vectors are the payload, so s stays
    // small: s² ≈ 2·parallelism/k, capped at 8. s is derived from the
    // session's parallelism, not a local[32] constant (a 4000-core
    // cluster with k=1024 cells derives s=3 and splits hot cells 9×).
    val spark = df.sparkSession
    val salts = {
      val want = 2.0 * spark.sparkContext.defaultParallelism / math.max(k, 1)
      math.min(8, math.max(1, math.ceil(math.sqrt(want)).toInt))
    }
    def salted(side: DataFrame, own: String, other: String): DataFrame =
      side.withColumn(own, pmod(xxhash64(col("id")), lit(salts)))
        .withColumn(other, explode(array((0 until salts).map(lit): _*)))
    if (nprobe == 1) {
      val assigned = graft.similarity.Knn.ivfAssign(df, vecCol, keyCol,
        cents, "cvec", "centroid_id")
      salted(assigned, "sa", "sb").as("a")
        .join(salted(assigned, "sb", "sa").as("b"),
          col("a.centroid_id") === col("b.centroid_id") &&
            col("a.sa") === col("b.sa") && col("a.sb") === col("b.sb") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          cosine_distance(col("a.v"), col("b.v")).as("distance"))
        .filter(col("distance") < maxDistance)
    } else {
      val c = df.select(col(keyCol).as("id"), col(vecCol).as("v"))
        .filter(col("v").isNotNull)
      val centsDf = cents.select(col("centroid_id"), col("cvec"))
      // narrow picks (Knn.cellPicks — vectors never ride the rank
      // exchange), then one id join ships each vector nprobe times
      val picks = graft.similarity.Knn.cellPicks(c, centsDf, nprobe,
        cosine_distance(_, _))
      val index = c.join(picks.filter(col("crank") === 1), Seq("id"))
        .select(col("id"), col("v"), col("centroid_id"))
      val probe = c.join(picks, Seq("id"))
        .select(col("id"), col("v"), col("centroid_id"))
      salted(probe, "sa", "sb").as("a")
        .join(salted(index, "sb", "sa").as("b"),
          col("a.centroid_id") === col("b.centroid_id") &&
            col("a.sa") === col("b.sa") && col("a.sb") === col("b.sb") &&
            col("a.id") =!= col("b.id"))
        .select(least(col("a.id"), col("b.id")).as("id_a"),
          greatest(col("a.id"), col("b.id")).as("id_b"),
          cosine_distance(col("a.v"), col("b.v")).as("distance"))
        .filter(col("distance") < maxDistance)
        .distinct()
    }
  }

  /** LSH-bucketed embedding near-dup — single-band form: hyperplane LSH
    * with axis-aligned planes (the sign bit of the first `nBits`
    * dimensions) folds each vector into a bucket id; candidate pairs are
    * an *equi-join* on the bucket (shuffled hash join, output-sensitive),
    * then verified with the exact cosine distance. Approximate by
    * construction, and with ONE band there is no second chance: a
    * near-dup pair disagreeing on any one of the `nBits` early-sign
    * dimensions is lost (measured on the bench corpus at distance 0.7:
    * recall 0.03 at nBits = 8). Use [[embeddingBandedLshPairs]] — any-of-b
    * bands of seeded random hyperplanes — wherever recall matters; this
    * form survives as the cheapest bucketing for grouping work (q71's CC
    * input) where downstream transitive closure tolerates missed edges. */
  def embeddingLshPairs(df: DataFrame, vecCol: String, keyCol: String,
      maxDistance: Double, nBits: Int = 16): DataFrame = {
    val v = df.select(col(keyCol).as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
    val bucket = (0 until nBits).map { j =>
      when(element_at(col("v"), j + 1) > 0f, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val b = v.withColumn("bucket", bucket)
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine_distance(col("a.v"), col("b.v")).as("distance"))
      .filter(col("distance") < maxDistance)
  }

  /** Multi-band random-hyperplane LSH near-dup pairs — the embedding-
    * modality sibling of [[minHashLshPairs]]/[[simHashPairs64]], and the
    * recall-bearing replacement for the single-band
    * [[embeddingLshPairs]]: `bands × rowsPerBand` seeded Rademacher
    * hyperplanes ([[graft.functions.HyperplaneMath]], a codegen
    * expression), a pair is a candidate when ANY band's `rowsPerBand`
    * sign bits all agree, and every candidate is verified with the exact
    * cosine distance — so reported distances carry no approximation; only
    * recall does. Recall ≈ 1 − (1 − p^r)^b with p = 1 − θ/π per plane:
    * `rowsPerBand` is the precision dial (longer bands → fewer, tighter
    * buckets), `bands` buys recall at ~linear signature cost. Measured on
    * the bench corpus (64-dim, distance < 0.7, i.e. p ≈ 0.6 — a far
    * harsher regime than production near-dup at sim ≥ 0.9): bands = 16 ×
    * r = 3 → recall 0.99 where single-band nBits = 8 finds 3 %.
    *
    * Shape: signatures are computed in one narrow pass (no shuffle), a
    * posting list per (band, signature) generates candidates with no join
    * operator, and two narrow equi-joins rehydrate ONLY candidate ids
    * with their vectors for verification — the full-width vectors never
    * ride the banding shuffle (at 3072 dims, shipping vectors inside the
    * postings would multiply the exchange by `bands`). */
  def embeddingBandedLshPairs(df: DataFrame, vecCol: String, keyCol: String,
      maxDistance: Double, bands: Int = 16, rowsPerBand: Int = 3,
      seed: Long = 12345L): DataFrame = {
    val v = df.select(col(keyCol).as("id"), col(vecCol).as("v"))
      .filter(col("v").isNotNull)
    val sigs = v.select(col("id"),
        posexplode(graft.functions.hyperplane_bands(
          col("v"), bands, rowsPerBand, seed)))
      .select(col("id"), col("pos").as("band"), col("col").as("sig"))
    val cands = sigs.groupBy(col("band"), col("sig"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cands
      .join(v.select(col("id").as("id_a"), col("v").as("__va")), Seq("id_a"))
      .join(v.select(col("id").as("id_b"), col("v").as("__vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine_distance(col("__va"), col("__vb")).as("distance"))
      .filter(col("distance") < maxDistance)
  }
}
