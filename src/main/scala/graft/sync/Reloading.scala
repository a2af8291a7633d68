package graft.sync

import org.apache.spark.sql.SparkSession

/** A serving handle that re-checks its index's on-disk GENERATION before
  * each request and transparently reloads when a maintenance commit
  * moved it — the bridge between the load-once handles
  * ([[graft.similarity.Knn.IvfIndex]], [[graft.text.TextRank.LexIndex]]
  * — centroids / codebooks / segment lists / corpus stats all resolve
  * at construction, deliberately, so a request is pure plan execution)
  * and the incremental-maintenance machinery (segment appends,
  * tombstone deletes, compaction, [[CorpusRefresh]]): without this, a
  * long-lived server silently serves the generation it loaded until
  * process restart.
  *
  * The generation fingerprint is the `CURRENT` pointer's CONTENT (the
  * committed segment list — one small read covering append, delete and
  * compaction in a single token) concatenated with the modification
  * times of any sidecar commit markers (`centroids/_SUCCESS`,
  * `codebooks/_SUCCESS`, `meta/_SUCCESS` — sidecars the pointer does
  * not name); a root with no pointer reads as `absent`. On local disk
  * or HDFS the check is microseconds; on object stores it is one
  * metadata GET, so high-QPS deployments can bound it with
  * `minCheckIntervalMs` (staleness ≤ the interval — the standard
  * serving trade; 0 re-checks every request).
  *
  * Thread-safe: the hot path is one volatile read + the fingerprint
  * probe; reload is serialized under the lock, and concurrent requests
  * keep serving the previous (immutable) handle until the swap. The
  * superseded handle is then handed to `onEvict` ([[withEvict]]): the IVF
  * handle unpins its cells and releases the segment lease that kept a
  * compaction from sweeping its files
  * ([[SegmentedIndex.commit]] names what a released or lease-less
  * handle still races). A handle without a hook keeps nothing: a
  * commit that drops its segments sweeps them at once.
  */
final class Reloading[T] private (fingerprint: () => String, loadFn: () => T,
    minCheckIntervalMs: Long, onEvict: T => Unit) {

  @volatile private var state: (String, T) = {
    val g = fingerprint()
    (g, loadFn())
  }
  private val nextCheck = new java.util.concurrent.atomic.AtomicLong(
    System.currentTimeMillis() + minCheckIntervalMs)

  /** The live handle, reloaded first if the on-disk generation moved. */
  def get: T = {
    if (minCheckIntervalMs > 0) {
      val now = System.currentTimeMillis()
      val at = nextCheck.get()
      if (now < at || !nextCheck.compareAndSet(at, now + minCheckIntervalMs))
        return state._2
    }
    val s = state
    val g = fingerprint()
    if (g == s._1) s._2
    else synchronized {
      val s2 = state
      if (g == s2._1) s2._2
      else {
        val t = loadFn()
        val old = s2._2
        state = (g, t)
        // release the superseded handle's resources (e.g. unpersist a
        // pinned store version). In-flight requests may still hold it —
        // eviction must be a soft release (a Spark unpersist recomputes
        // transparently), never a hard close.
        onEvict(old)
        t
      }
    }
  }

  /** The generation the CURRENT handle was loaded from. */
  def generation: String = state._1
}

object Reloading {

  /** Wrap `loadFn` with a generation check over `root`: the `CURRENT`
    * pointer content plus the named sidecar commit markers' mtimes. */
  def apply[T](spark: SparkSession, root: String, sidecars: Seq[String],
      minCheckIntervalMs: Long = 0L)(loadFn: => T): Reloading[T] =
    new Reloading(() => fingerprintOf(spark, root, sidecars), () => loadFn,
      minCheckIntervalMs, (_: T) => ())

  /** [[apply]] with a caller-supplied fingerprint — for indexes spread
    * over SEVERAL pointer roots (e.g. the resident graph walk: the
    * adjacency pointer, its code-sidecar segment root and the entry
    * IVF's centroids; or every such root of a sharded gateway), where
    * one generation token must cover every root. */
  def withFingerprint[T](fingerprint: () => String,
      minCheckIntervalMs: Long = 0L)(loadFn: => T): Reloading[T] =
    new Reloading(fingerprint, () => loadFn, minCheckIntervalMs,
      (_: T) => ())

  /** [[apply]] with a soft-release hook for the superseded handle. */
  def withEvict[T](spark: SparkSession, root: String, sidecars: Seq[String],
      minCheckIntervalMs: Long = 0L)(loadFn: => T)(
      onEvict: T => Unit): Reloading[T] =
    new Reloading(() => fingerprintOf(spark, root, sidecars), () => loadFn,
      minCheckIntervalMs, onEvict)

  /** Generation token of an index root — cheap by construction: one
    * small-file read (the pointer) + one file status per sidecar. */
  def fingerprintOf(spark: SparkSession, root: String,
      sidecars: Seq[String]): String = {
    import org.apache.hadoop.fs.{Path => HPath}
    val conf = spark.sparkContext.hadoopConfiguration
    val rootP = new HPath(root)
    val fs = rootP.getFileSystem(conf)
    val ptr = SegmentedIndex.resolve(spark, root)
      .map(_.mkString(",")).getOrElse("absent")
    val side = sidecars.map { s =>
      val m = new HPath(rootP, s"$s/_SUCCESS")
      if (fs.exists(m)) fs.getFileStatus(m).getModificationTime.toString
      else "absent"
    }
    (ptr +: side).mkString("|")
  }
}
