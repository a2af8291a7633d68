package graft.sync

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delta-driven refresh: apply a new corpus snapshot to the versioned
  * store and the persistent indexes by CHANGE, not by rebuild — the
  * production re-ingest loop (reference: the nightly re-sync shape of
  * jobs/sync.py, generalized to the index layouts this engine adds).
  *
  * The delta ([[diff]]) is taken between what the store currently
  * serves and the new snapshot: `added` / `removed` / `changed` (text)
  * / `metadata` (another stored column) keys only — the unchanged bulk
  * (at 100 TB, ~all of it) is filtered in-plan by the digest
  * comparison and never touches an index or the store write path
  * beyond the one narrow (key, digests) scan.
  *
  * Index application is delete-then-append under the sequence-scoped
  * tombstones of [[SegmentedIndex]]: EVERY delta key is tombstoned
  * (masking only segments committed before the tombstone), then the
  * added+changed rows land as one fresh segment AFTER it — so a changed
  * doc's new version is served while its old one is masked, and the
  * whole step is idempotent: a crashed half-applied refresh re-derives
  * the identical delta on re-run (the store — the delta's baseline —
  * commits LAST), and the re-run's tombstone masks whatever the crashed
  * run managed to append before appending afresh. Convergence needs no
  * transaction across the three roots, just the per-root atomic pointer
  * swaps.
  *
  * Cost shape: tombstone commit + one O(delta) segment per index, one
  * O(corpus) store version rewrite (a columnar store has no row-level
  * update — the rewrite is one scan + one write, and the versioned-dir
  * discipline was already paying it for migrations). Compaction
  * ([[graft.text.TextRank.compactLexicalIndex]] /
  * [[graft.similarity.Knn.ivfCompactIndex]]) folds the accumulated
  * tombstones away on its own schedule. */
object CorpusRefresh {

  /** Default [[refresh]] compaction threshold: each refresh cycle adds
    * one tombstone + one data segment per index, so 8 live entries ≈ 3
    * uncompacted cycles — segment fan-out (one scan per segment per
    * probe) and tombstone anti-joins stay bounded while steady drip
    * ingest doesn't compact on every batch. */
  val DefaultMaxSegments: Int = 8

  /** The refresh delta between the stored corpus `old` and `newSnap`:
    * one `(keyCol, status)` row per key that differs — `added`,
    * `removed`, `changed` when the text differs, and `metadata` when
    * only another stored column does (tags, note, author, location…).
    * Every stored column but the key, the text, the vectors (`vecCol`,
    * [[HighlightStore.Emb16Col]]) and `version` (an export restamps it
    * on every row) feeds the metadata digest. [[graft.text.CorpusPrep
    * .snapshotDiff]] keeps its text-only contract; a refresh must also
    * carry a retag to the store, so it diffs on both digests. */
  private def diff(old: DataFrame, newSnap: DataFrame, textCol: String,
      keyCol: String, vecCol: String): DataFrame = {
    val metaCols = old.columns.toSeq.filterNot(
      Set(keyCol, textCol, vecCol, HighlightStore.Emb16Col, "version")).sorted
    def digests(df: DataFrame, side: String): DataFrame =
      df.select(col(keyCol).as("id"), lit(true).as(s"${side}_in"),
        md5(col(textCol)).as(s"${side}_text"),
        md5(to_json(struct(metaCols.map(col): _*))).as(s"${side}_meta"))
    digests(old, "o").join(digests(newSnap, "n"), Seq("id"), "full_outer")
      .select(col("id").as(keyCol),
        when(col("o_in").isNull, lit("added"))
          .when(col("n_in").isNull, lit("removed"))
          .when(!(col("o_text") <=> col("n_text")), lit("changed"))
          .when(!(col("o_meta") <=> col("n_meta")), lit("metadata"))
          .otherwise(lit("unchanged")).as("status"))
      .filter(col("status") =!= "unchanged")
  }

  /** Apply `newSnap` to the store at `storeDir` and to the lexical
    * and IVF index roots given (an IVF root of either cell layout);
    * returns the materialized delta (keyCol, status) so
    * callers can fan further delta-only work (re-embed, re-dedup)
    * off the same frame. No-op (and no new versions/segments) when the
    * snapshot matches the store. `newSnap` must carry the store's full
    * schema; `vecCol` is required only when `ivfIndexDir` is given.
    *
    * Compaction policy: after applying the delta, any index whose live
    * segment list (data + tombstone entries) exceeds `maxSegments`
    * compacts — the tombstone-subtracted union rewrites as ONE segment
    * under the same atomic pointer, physically erasing masked rows and
    * restoring the join-free steady-state probe plan. Repeated refresh
    * cycles therefore keep per-probe segment fan-out bounded by
    * `maxSegments + 2` instead of growing 2 entries per cycle forever;
    * `maxSegments = Int.MaxValue` disables the trigger for callers
    * scheduling compaction themselves. */
  def refresh(spark: SparkSession, newSnap: DataFrame, textCol: String,
      keyCol: String, storeDir: String,
      lexIndexDir: Option[String] = None,
      ivfIndexDir: Option[String] = None,
      vecCol: String = "embedding",
      maxSegments: Int = DefaultMaxSegments): DataFrame = {
    val old = HighlightStore.read(spark, storeDir).getOrElse(
      throw new IllegalStateException(
        s"CorpusRefresh.refresh: no store at $storeDir (writeAtomic first)"))
    val delta = diff(old, newSnap, textCol, keyCol, vecCol).persist()
    if (delta.isEmpty) { delta.unpersist(); delta }
    else {
      // a metadata-only row re-applies like a changed one: IVF cells
      // may carry metadata as attr columns
      val deltaKeys = delta.select(col(keyCol))
      // PERSISTED: the index families below and the store rewrite each
      // read the upsert batch — unpersisted, each action re-scans the
      // whole snapshot for a batch that is delta-sized by construction.
      // Released after the store rewrite.
      val upserts = newSnap.join(
        delta.filter(col("status") =!= "removed").select(col(keyCol)),
        Seq(keyCol), "left_semi").persist()
      def overThreshold(dir: String): Boolean =
        SegmentedIndex.resolve(spark, dir).exists(_.size > maxSegments)
      lexIndexDir.foreach { dir =>
        graft.text.TextRank.deleteFromLexicalIndex(spark, dir, deltaKeys, keyCol)
        graft.text.TextRank.appendLexicalIndex(upserts, textCol, keyCol, dir)
        if (overThreshold(dir))
          graft.text.TextRank.compactLexicalIndex(spark, dir)
      }
      ivfIndexDir.foreach { dir =>
        graft.similarity.Knn.ivfDeleteIndex(spark, dir, deltaKeys, keyCol)
        graft.similarity.Knn.ivfAppendIndex(upserts, vecCol, keyCol, dir)
        if (overThreshold(dir))
          graft.similarity.Knn.ivfCompactIndex(spark, dir)
      }
      // store LAST: it is the delta's baseline, so a crash anywhere above
      // leaves a re-run deriving the same delta and healing the indexes.
      // migrate hands us the AT-REST relation — on an fp16 store the
      // upserts encode to match before the union (storage mode is a
      // property of the store, not of one refresh)
      HighlightStore.migrate(spark, storeDir, { df =>
        val ups =
          if (df.columns.contains(HighlightStore.Emb16Col) &&
              upserts.columns.contains("embedding"))
            upserts.withColumn(HighlightStore.Emb16Col,
              graft.functions.fp16_encode(col("embedding")))
              .drop("embedding")
          else upserts
        df.join(deltaKeys, Seq(keyCol), "left_anti").unionByName(ups)
      })
      upserts.unpersist()
      // stays persisted: callers fan delta-only follow-ups (re-embed,
      // re-dedup) off the returned frame and own the unpersist
      delta
    }
  }
}
