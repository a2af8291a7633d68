package graft.text

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class TextRankSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "join join join filler filler filler"), // tf=3, short
    (2L, "join filler filler filler filler filler"), // tf=1, same length
    (3L, "join " + Seq.fill(60)("pad").mkString(" ")), // tf=1, long doc
    (4L, "merge merge filler filler"),
    (5L, "filler filler filler filler"), // no query terms
    (6L, "join merge filler filler")
  ).toDF("doc_id", "text")

  test("bm25TopK: tf raises score, length norm lowers it, absent docs excluded") {
    val scores = TextRank.bm25TopK(docs, "text", "doc_id",
        Seq("join", "merge"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 5 has neither term — it must not appear at all
    assert(!scores.contains(5L), scores.toString)
    // higher tf at equal length wins
    assert(scores(1L) > scores(2L))
    // same tf, longer doc scores lower (the b length penalty)
    assert(scores(2L) > scores(3L))
    // two distinct terms beat one of either at comparable length
    assert(scores(6L) > scores(2L) && scores(6L) > scores(4L))
  }

  test("bm25TopK plan: df side broadcasts, no corpus-sized shuffle join") {
    val plan = TextRank.bm25TopK(docs, "text", "doc_id",
      Seq("join", "merge"), k = 10).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      plan.linesIterator.take(8).mkString("\n"))
    assert(!plan.contains("SortMergeJoin"), "corpus-sized join in the BM25 plan")
  }

  test("lexical index: served BM25 equals in-memory BM25; scan prunes to term buckets") {
    val corpus = (0 until 200).map { i =>
      val terms = Seq("join", "merge", "scan", "filter", "sort")
        .filter(t => (i + t.length) % 3 == 0)
      (i.toLong, (terms ++ Seq.fill(i % 7 + 1)(s"pad$i")).mkString(" "))
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("lexidx").toString
    try {
      TextRank.buildLexicalIndex(corpus, "text", "doc_id", dir, buckets = 64)
      val terms = Seq("join", "merge")
      val served = TextRank.searchLexicalIndex(spark, dir, terms, k = 10)
      val memory = TextRank.bm25TopK(corpus, "text", "doc_id", terms, k = 10)
      assert(served.collect().toSeq == memory.collect().toSeq)
      // plan prunes: only the query terms' buckets are read. AQE wraps
      // exchange-bearing plans in stages that hide scan nodes from
      // collect(); pruning is a plan-time property, so assert with AQE
      // off for this inspection
      import org.apache.spark.unsafe.types.UTF8String
      val want = terms.map(t =>
        TextMath.polyHash(UTF8String.fromString(t)) % 64).distinct.size
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val scans =
        try TextRank.searchLexicalIndex(spark, dir, terms, k = 10)
          .queryExecution.executedPlan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      val postScan = scans.find(_.metadata("Location").contains("postings")).get
      assert(postScan.metadata("PartitionFilters").contains("term_bucket"),
        postScan.metadata("PartitionFilters"))
      assert(postScan.selectedPartitions.partitionCount == want,
        s"read ${postScan.selectedPartitions.partitionCount} buckets, want $want")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("segmented append: build+append == build-from-scratch; old readers see the old index") {
    val corpus = (0 until 200).map { i =>
      val terms = Seq("join", "merge", "scan", "filter", "sort")
        .filter(t => (i + t.length) % 3 == 0)
      (i.toLong, (terms ++ Seq.fill(i % 7 + 1)(s"pad$i")).mkString(" "))
    }.toDF("doc_id", "text")
    val base = corpus.filter($"doc_id" < 120)
    val batch = corpus.filter($"doc_id" >= 120)
    val dirInc = java.nio.file.Files.createTempDirectory("lexinc").toString
    val dirAll = java.nio.file.Files.createTempDirectory("lexall").toString
    val terms = Seq("join", "merge")
    try {
      TextRank.buildLexicalIndex(base, "text", "doc_id", dirInc)
      // an old reader resolves the segment list NOW: the append below must
      // not change what it serves (segments are immutable; the commit
      // only swaps the pointer)
      val oldReader = TextRank.searchLexicalIndex(spark, dirInc, terms, k = 10)
      val preAppend = TextRank.bm25TopK(base, "text", "doc_id", terms, k = 10)
        .collect().toSeq
      TextRank.appendLexicalIndex(batch, "text", "doc_id", dirInc)
      assert(oldReader.collect().toSeq == preAppend,
        "append mutated an already-resolved reader's view")
      // build-then-append == one wholesale build — BIT-identical (postings
      // are the same rows, stats sum exactly, the score expression is one
      // fixed tree)
      TextRank.buildLexicalIndex(corpus, "text", "doc_id", dirAll)
      val inc = TextRank.searchLexicalIndex(spark, dirInc, terms, k = 10)
      val all = TextRank.searchLexicalIndex(spark, dirAll, terms, k = 10)
      assert(inc.collect().toSeq == all.collect().toSeq)
      // the appended index still prunes: every probed dir is a wanted
      // bucket, across BOTH segments
      import org.apache.spark.unsafe.types.UTF8String
      val want = terms.map(t =>
        TextMath.polyHash(UTF8String.fromString(t)) % 64).distinct.toSet
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val scans =
        try TextRank.searchLexicalIndex(spark, dirInc, terms, k = 10)
          .queryExecution.executedPlan.collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      // separate parquet roots under a Union: the plan scans each segment
      // (twice — the tf and df legs); EVERY scan must prune to exactly
      // the probed buckets, and both segments must appear
      val postScans = scans.filter(_.metadata("Location").contains("postings"))
      assert(postScans.map(_.metadata("Location")).distinct.length == 2,
        s"expected scans over 2 segments:\n${postScans.map(_.metadata("Location"))}")
      postScans.foreach { sc =>
        assert(sc.metadata("PartitionFilters").contains("term_bucket"),
          sc.metadata("PartitionFilters"))
        assert(sc.selectedPartitions.partitionCount == want.size,
          s"scan read ${sc.selectedPartitions.partitionCount} buckets, want ${want.size}")
      }
      // compaction: one merged segment, same answers
      TextRank.compactLexicalIndex(spark, dirInc)
      assert(graft.sync.SegmentedIndex.resolve(spark, dirInc).get.size == 1)
      assert(TextRank.searchLexicalIndex(spark, dirInc, terms, k = 10)
        .collect().toSeq == all.collect().toSeq)
    } finally {
      import scala.jdk.CollectionConverters._
      Seq(dirInc, dirAll).foreach { d =>
        java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
          .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }

  test("tombstone deletes: served BM25 bit-identical to a rebuild without the docs") {
    val corpus = (0 until 150).map { i =>
      val terms = Seq("join", "merge", "scan").filter(t => (i + t.length) % 2 == 0)
      (i.toLong, (terms ++ Seq(s"pad$i")).mkString(" "))
    }.toDF("doc_id", "text")
    val deadIds = Seq(4L, 10L, 16L, 22L, 9999L) // 9999 not in the index
    val dir = java.nio.file.Files.createTempDirectory("lexdel").toString
    val dirRef = java.nio.file.Files.createTempDirectory("lexref").toString
    try {
      TextRank.buildLexicalIndex(corpus, "text", "doc_id", dir)
      TextRank.deleteFromLexicalIndex(spark, dir,
        deadIds.toDF("doc_id"), "doc_id")
      TextRank.buildLexicalIndex(
        corpus.filter(!$"doc_id".isin(deadIds: _*)), "text", "doc_id", dirRef)
      val terms = Seq("join", "merge")
      def served(d: String) =
        TextRank.searchLexicalIndex(spark, d, terms, k = 10).collect().toSeq
      // stats corrections + df-after-anti-join make the tombstoned index
      // score EXACTLY like the rebuild — not just exclude the ids
      assert(served(dir) == served(dirRef))
      // re-deleting is an exact no-op (corrections computed over LIVE
      // postings only — no double subtraction)
      TextRank.deleteFromLexicalIndex(spark, dir,
        deadIds.toDF("doc_id"), "doc_id")
      assert(served(dir) == served(dirRef))
      // compaction physically erases: one data segment, no tombstones on
      // disk, same answers
      TextRank.compactLexicalIndex(spark, dir)
      val left = graft.sync.SegmentedIndex.resolve(spark, dir).get
      assert(left.size == 1 && !left.exists(_.startsWith("del-")))
      assert(new java.io.File(dir).listFiles()
        .forall(f => !f.getName.startsWith("del-")))
      assert(served(dir) == served(dirRef))
    } finally {
      import scala.jdk.CollectionConverters._
      Seq(dir, dirRef).foreach { d =>
        java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
          .toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }

  test("appendLexicalIndexStream: a MemoryStream run equals one wholesale build") {
    val root = java.nio.file.Files.createTempDirectory("lexstream").toString
    val streamDir = s"$root/index"
    val allDir = s"$root/index-all"
    val corpus = (0 until 60).map { i =>
      val terms = Seq("join", "merge", "scan").filter(t => (i + t.length) % 2 == 0)
      (i.toLong, (terms ++ Seq(s"pad$i")).mkString(" "))
    }
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = TextRank.appendLexicalIndexStream(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id", streamDir)
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    try {
      input.addData(corpus.take(25): _*) // first batch BUILDS
      q.processAllAvailable()
      input.addData(corpus.drop(25): _*) // second batch APPENDS
      q.processAllAvailable()
    } finally q.stop()
    assert(graft.sync.SegmentedIndex.resolve(spark, streamDir).get.size == 2)
    TextRank.buildLexicalIndex(corpus.toDF("doc_id", "text"), "text",
      "doc_id", allDir)
    val terms = Seq("join", "merge")
    assert(TextRank.searchLexicalIndex(spark, streamDir, terms, k = 10)
      .collect().toSeq ==
      TextRank.searchLexicalIndex(spark, allDir, terms, k = 10)
        .collect().toSeq)
  }

  test("phraseMatch: consecutive-only, exact occurrence counts, overlap + repeats") {
    val d = Seq(
      (1L, "a b c a b c"),        // "a b" twice
      (2L, "a c b"),              // both words, never adjacent
      (3L, "b a"),                // reversed — no match
      (4L, "x a b y a b a b z"),  // three occurrences
      (5L, "a a a"),              // repeated-word phrase "a a": two starts
      (6L, "nothing here")
    ).toDF("doc_id", "text")
    def matches(phrase: String*): Map[Long, Long] =
      graft.text.TextRank.phraseMatch(d, "text", "doc_id", phrase)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(matches("a", "b") == Map(1L -> 2L, 4L -> 3L))
    assert(matches("a", "a") == Map(5L -> 2L)) // overlapping starts count
    assert(matches("a", "b", "c") == Map(1L -> 2L))
    assert(matches("zz") == Map.empty[Long, Long])
    // single-word phrase degenerates to term occurrence counting
    assert(matches("a") == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L))
  }

  test("positional index: served phrase == corpus scan; probe prunes; append == wholesale") {
    val root = java.nio.file.Files.createTempDirectory("posidx").toString
    try {
      val corpus = table("documents").select($"doc_id", $"text")
      val phrase = Seq("customer", "join")
      TextRank.buildPositionalIndex(corpus, "text", "doc_id", s"$root/full")
      val served = TextRank.searchPhraseIndex(spark, s"$root/full", phrase)
      val expect = graft.text.TextRank
        .phraseMatch(corpus, "text", "doc_id", phrase)
        .withColumnRenamed("doc_id", "id")
      assert(served.orderBy($"id").collect().toSeq ==
        expect.orderBy($"id").collect().toSeq)
      // the postings scan prunes to the phrase's term buckets per segment
      // (the plan has exchanges, so AQE wraps it — unwrap after execution)
      val pRoot = served.queryExecution.executedPlan
      val unwrapped = pRoot +: pRoot.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan }
      val scans = unwrapped.flatMap(_.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata("Location").contains("postings") => f })
      assert(scans.nonEmpty)
      val nBuckets = phrase.map(t => graft.text.TextMath.polyHash(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)) % 64)
        .distinct.length
      scans.foreach { sc =>
        assert(sc.metadata("PartitionFilters").contains("term_bucket"))
        assert(sc.selectedPartitions.partitionCount == nBuckets,
          s"read ${sc.selectedPartitions.partitionCount} buckets, want $nBuckets")
      }
      // build half + append half serves identically to the wholesale build
      TextRank.buildPositionalIndex(corpus.filter($"doc_id" < 250),
        "text", "doc_id", s"$root/inc")
      TextRank.appendPositionalIndex(corpus.filter($"doc_id" >= 250),
        "text", "doc_id", s"$root/inc")
      assert(TextRank.searchPhraseIndex(spark, s"$root/inc", phrase)
        .orderBy($"id").collect().toSeq ==
        served.orderBy($"id").collect().toSeq)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator()
        .asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("rrfFuse: both-list members outrank single-list members at equal rank") {
    val a = Seq((10L, 1), (11L, 2), (12L, 3)).toDF("id", "rank")
    val b = Seq((20L, 1), (11L, 2), (21L, 3)).toDF("id", "rank")
    val out = TextRank.rrfFuse(a, b, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    // 11 appears in both lists at rank 2 → 2/(62) beats any single 1/(61)
    assert(out.head._1 == 11L)
    assert(math.abs(out.head._2 - 2.0 / 62) < 1e-15)
    // absent-side contribution is exactly zero, not null-poisoned
    val single = out.find(_._1 == 10L).get
    assert(math.abs(single._2 - 1.0 / 61) < 1e-15)
    // all five distinct ids survive the full-outer fuse
    assert(out.map(_._1).toSet == Set(10L, 11L, 12L, 20L, 21L))
  }
}
