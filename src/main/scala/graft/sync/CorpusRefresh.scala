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

  /** pq retrain trigger for the resident-serving code sidecar: rebuild
    * when an upsert batch reconstructs this many times worse under the
    * FROZEN codebooks than the recorded HELD-OUT anchor of the corpus
    * those books trained on — a distribution shift the frozen geometry
    * no longer covers (the q126 cell-stats shape, applied to codes;
    * int8 reports 0.0 because per-dimension quantization cannot drift).
    * Below the threshold the sidecar re-covers in O(delta)
    * ([[graft.similarity.Knn.appendGraphCodes]]), never by replaying
    * the corpus build.
    *
    * 1.5 is DERIVED FROM MEASUREMENT, not guessed (r15; manifold
    * fixture, ResidentGraphSpec's drift test pins both sides at default
    * dials): against a healthy anchor, in-distribution batches measure
    * ~1.0× by construction, while genuinely off-manifold batches
    * measure 1.8–2.3× at m=32/ksub=16 and 3.0–3.8× at m=64/ksub=256 —
    * the ratio's ceiling DEPENDS on the dials, because reconstruction
    * error saturates on unit vectors (squared L2 ≤ 4), so coarse
    * codebooks with a large baseline error compress every shift's
    * ratio. The previous default of 4.0 sat ABOVE the measured ceiling
    * at coarse dials: no realistic batch could ever fire it, and every
    * drifted batch would have appended against stale codebooks forever
    * — the exact silent ADC decay the signal exists to prevent. 1.5 is
    * the geometric midpoint of in-dist (~1.0) and the WORST measured
    * true shift (~1.8, mild noise at coarse dials), margined up from
    * 1.35; a spurious retrain costs one O(corpus) rebuild, a missed
    * one costs silent quality decay, so the default errs toward
    * firing. */
  val DefaultCodesDriftRatio: Double = 1.5

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

  /** Apply `newSnap` to the store at `storeDir` and any of the
    * index roots; returns the materialized delta (keyCol, status) so
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
      maxSegments: Int = DefaultMaxSegments,
      graphIndexDir: Option[String] = None,
      codesDriftRatio: Double = DefaultCodesDriftRatio,
      graphShardDirs: Seq[(String, Option[String])] = Nil): DataFrame = {
    val old = HighlightStore.read(spark, storeDir).getOrElse(
      throw new IllegalStateException(
        s"CorpusRefresh.refresh: no store at $storeDir (writeAtomic first)"))
    val delta = diff(old, newSnap, textCol, keyCol, vecCol).persist()
    if (delta.isEmpty) { delta.unpersist(); delta }
    else {
      // a metadata-only row re-applies like a changed one: IVF cells
      // and adjacency layouts may carry metadata as attr columns
      val deltaKeys = delta.select(col(keyCol))
      // PERSISTED: every index family below runs 2–4 actions over the
      // upsert batch (isEmpty, append, sidecar, entry IVF), and the
      // sharded loop multiplies that by shard count — unpersisted, each
      // action re-scans the whole snapshot for a batch that is delta-
      // sized by construction. Released before the store rewrite.
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
      // the flat adjacency layout under the same delete-then-append
      // discipline: delta keys tombstone (masking every touching edge),
      // added+changed nodes re-insert against the LIVE members
      // (adjInsertIndex — forward + reverse edges, one O(batch)
      // segment). If a resident-serving code sidecar exists, re-cover
      // it LAST and in O(delta): encode ONLY the upsert batch into a
      // new codes segment (int8 needs no training; pq encodes against
      // the frozen base codebooks) — the ResidentGraphIndex load
      // contract refuses a sidecar that no longer covers the live set,
      // so a refresh without this pass would stop --graph-index
      // serving at the next reload instead of serving stale vectors.
      // Tombstoned ids need no sidecar work (the resident load keys
      // codes by the adjacency relation's LIVE set). The O(corpus)
      // rebuild runs only when the pq drift signal fires or the
      // sidecar's segment list hits the same fan-out threshold every
      // other index compacts at — never per delta: a 10-document upsert
      // against a 10⁹-node graph writes 10 code rows.
      def graphRefresh(dir: String, dk: DataFrame, ups: DataFrame): Unit = {
        graft.similarity.Knn.adjDeleteIndex(spark, dir, dk, keyCol)
        if (!ups.isEmpty)
          graft.similarity.Knn.adjInsertIndex(ups, vecCol, keyCol, dir)
        if (overThreshold(dir))
          graft.similarity.Knn.adjCompactIndex(spark, dir)
        // adopt a pre-segmentation flat sidecar BEFORE the readiness
        // check: without this a sidecar built under the r13 flat layout
        // reads as absent and the refresh silently stops maintaining it
        // — the next resident load then hard-fails on coverage
        graft.similarity.Knn.migrateGraphCodes(spark, dir)
        if (graft.similarity.Knn.graphCodesReady(dir)) {
          val drift =
            if (ups.isEmpty) 0.0
            else graft.similarity.Knn
              .appendGraphCodes(ups, vecCol, keyCol, dir)
          if (drift > codesDriftRatio || overThreshold(s"$dir/pqcodes"))
            graft.similarity.Knn.rebuildGraphCodes(spark, dir)
        }
      }
      graphIndexDir.foreach(graphRefresh(_, deltaKeys, upserts))
      // sharded deployments ([[graft.similarity.Knn.ShardedResidentIndex
      // .build]]): the delta routes to shards by the SAME pmod(key,
      // shards) rule the build routed rows by — dirs must be passed in
      // shard order — and each shard then runs the exact single-dir
      // cycle above on its own slice (tombstones, insert against its
      // OWN live members, O(delta) sidecar re-cover, per-shard drift +
      // fan-out triggers). A shard the delta never touches is skipped
      // entirely: no empty tombstone segments, no pointer churn, and
      // the gateway's reloading fingerprint only swaps when some shard
      // actually moved.
      locally {
        val nsh = graphShardDirs.length
        graphShardDirs.zipWithIndex.foreach { case ((dir, entryIvf), s) =>
          val dk = deltaKeys.filter(
            pmod(col(keyCol).cast("long"), lit(nsh.toLong)) === s)
          val ups = upserts.filter(
            pmod(col(keyCol).cast("long"), lit(nsh.toLong)) === s)
          if (!dk.isEmpty) {
            graphRefresh(dir, dk, ups)
            // the shard's entry IVF is an ordinary IVF index over the
            // same members — maintain it with the routed slice so
            // entries keep tracking the shard's live set (a stale
            // entry IVF still SERVES — tombstoned entries drop at
            // walk seeding — but entry quality decays with churn)
            entryIvf.foreach { iv =>
              graft.similarity.Knn.ivfDeleteIndex(spark, iv, dk, keyCol)
              if (!ups.isEmpty)
                graft.similarity.Knn.ivfAppendIndex(ups, vecCol, keyCol, iv)
              if (overThreshold(iv))
                graft.similarity.Knn.ivfCompactIndex(spark, iv)
            }
          }
        }
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
