package graft.sync

import org.apache.spark.sql.SparkSession

/** Segment-list pointer for incrementally-maintained persistent indexes
  * (the lexical term index and the IVF cell index) — the Lucene/LSM
  * layout re-expressed in the [[HighlightStore]] pointer discipline.
  *
  * An index root holds immutable segment directories (`seg-<nanos>/`,
  * each a complete self-describing chunk: postings + stats, or cells)
  * and a `CURRENT` file listing the LIVE segments, one name per line.
  * A batch append writes a brand-new segment and then commits the
  * extended list with ONE atomic file replace — readers resolve the list
  * once and only ever see complete, immutable segments: there is no
  * window where a partially-written segment is visible, and a crash
  * mid-append leaves the previous list live with the orphan segment
  * invisible (swept by the next successful commit's retention pass).
  *
  * This is exactly why production stores append rather than rebuild: the
  * wholesale rebuild re-sorts the entire corpus per batch; a segment
  * append costs O(batch), and queries prune identically because every
  * segment carries the same partition layout (term buckets / IVF cells),
  * so a probe's PartitionFilter applies per segment. Compaction — read
  * the union, write one merged segment, swap the pointer — reuses the
  * same commit primitive. */
private[graft] object SegmentedIndex {
  import org.apache.hadoop.fs.{FileSystem, Path => HPath}

  private def fsFor(spark: SparkSession, p: HPath): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Zero-padded so lexicographic order == creation order. */
  def newSegmentName(): String = f"seg-${System.nanoTime()}%019d"

  /** Tombstone segments (`del-`): carry deleted ids (and, for indexes
    * with corpus stats, a NEGATIVE correction row) instead of data.
    * Readers subtract them; compaction materializes them away. */
  def newTombstoneName(): String = f"del-${System.nanoTime()}%019d"

  def isTombstone(name: String): Boolean = name.startsWith("del-")

  /** Sequence-scope the live list: a tombstone masks only segments
    * committed BEFORE it (the LSM sequence-number rule), so an id
    * re-appended after its delete is served — the shape CDC upserts
    * produce (delete the changed doc's old version, append its new
    * one). Returns ordered runs of data segments paired with the
    * tombstones that apply to them (every `del-` entry appearing later
    * in the list); consecutive data segments share one run so readers
    * pay one anti-join per DISTINCT tombstone scope, and the
    * steady-state list (no tombstones) is a single run with none. */
  def tombstoneScopes(list: Seq[String]): Seq[(Seq[String], Seq[String])] = {
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Seq[String], Seq[String])]
    var i = 0
    while (i < list.length) {
      if (!isTombstone(list(i))) {
        val start = i
        while (i < list.length && !isTombstone(list(i))) i += 1
        runs += ((list.slice(start, i), list.drop(i).filter(isTombstone)))
      } else i += 1
    }
    runs.toSeq
  }

  /** The live segment list, or None when no pointer exists (either an
    * empty root or a pre-segment flat layout — callers fall back). */
  def resolve(spark: SparkSession, root: String): Option[Seq[String]] = {
    val rootP = new HPath(root)
    val fs = fsFor(spark, rootP)
    val ptr = new HPath(rootP, "CURRENT")
    if (!fs.exists(ptr)) None
    else {
      val text = scala.util.Using.resource(fs.open(ptr)) { in =>
        new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      }
      Some(text.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq)
    }
  }

  /** Commit `segments` as the live list (one atomic replace), then sweep
    * segment directories no list references — segments dropped by a
    * compaction or rebuild, or orphaned by a crashed append — except
    * those a [[lease]] still names: a serving handle that resolved the
    * list before the swap keeps reading its files, and the lease's
    * release sweeps them once no live list or other lease names them.
    * The new list takes no grace period beyond that, so no dropped
    * segment outlives the last handle that resolved it.
    *
    * Two gaps stay open:
    *  - a reader that resolved the list WITHOUT a lease (a direct load,
    *    the lexical index) races the sweep, and so does a request still
    *    running on a leased handle when its lease is released (the
    *    reload that supersedes the handle releases it; a handle whose
    *    cells are pinned in memory answers filterless requests without
    *    the files, but a filtered one, or a recompute of lost blocks,
    *    reads them);
    *  - leases are in-process only: a reader in another process is not
    *    protected. */
  def commit(spark: SparkSession, root: String,
      segments: Seq[String]): Unit = {
    require(segments.nonEmpty, "SegmentedIndex.commit: empty segment list")
    val rootP = new HPath(root)
    val fs = fsFor(spark, rootP)
    fs.mkdirs(rootP)
    val ptrTmp = new HPath(rootP, s".CURRENT.tmp-${System.nanoTime()}")
    scala.util.Using.resource(fs.create(ptrTmp, true))(_.write(
      segments.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    FsUtil.atomicReplace(fs, spark.sparkContext.hadoopConfiguration,
      ptrTmp, new HPath(rootP, "CURRENT"))
    val live = segments.toSet
    val dropped = fs.listStatus(rootP).toSeq.map(_.getPath.getName)
      .filter(n => (n.startsWith("seg-") || n.startsWith("del-")) && !live(n))
    // leases taken before the swap are registered by now (lease resolves
    // and registers under the same lock); any later one resolved `live`
    val key = keyOf(fs, rootP)
    sweep(fs, rootP, leases.synchronized(dropped.filterNot(n =>
      leases.contains((key, n)))))
  }

  /** (qualified index root, segment) → number of leases naming it. */
  private val leases = scala.collection.mutable.Map.empty[(String, String), Int]

  private def keyOf(fs: FileSystem, rootP: HPath): String =
    fs.makeQualified(rootP).toString

  private def sweep(fs: FileSystem, rootP: HPath, names: Seq[String]): Unit =
    names.foreach(n =>
      try { fs.delete(new HPath(rootP, n), true); () }
      catch { case _: Exception => () })

  /** A serving handle's claim on the segment list it resolved: while it
    * is held, [[commit]] keeps those segments on disk. */
  final class Lease private[SegmentedIndex] (spark: SparkSession,
      root: String, val segments: Seq[String]) {
    private var released = false

    /** Drop the claim (idempotent), then sweep the segments it kept that
      * no live list or other lease names. */
    def release(): Unit = {
      val rootP = new HPath(root)
      val fs = fsFor(spark, rootP)
      val key = keyOf(fs, rootP)
      val orphans = leases.synchronized {
        if (released) Nil
        else {
          released = true
          segments.foreach { s =>
            val n = leases((key, s)) - 1
            if (n == 0) leases -= ((key, s)) else leases((key, s)) = n
          }
          val live = resolve(spark, root).getOrElse(Nil).toSet
          segments.filterNot(s => live(s) || leases.contains((key, s)))
        }
      }
      sweep(fs, rootP, orphans)
    }
  }

  /** Resolve the live list of `root` and lease it in one step (None when
    * no pointer exists), so no commit can sweep between the two. */
  def lease(spark: SparkSession, root: String): Option[Lease] = {
    val rootP = new HPath(root)
    val key = keyOf(fsFor(spark, rootP), rootP)
    leases.synchronized {
      resolve(spark, root).map { list =>
        list.foreach(s => leases((key, s)) = leases.getOrElse((key, s), 0) + 1)
        new Lease(spark, root, list)
      }
    }
  }
}
