package perfbench

import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, crc32}

import graft.similarity.Knn
import graft.sync.{HighlightStore, Sync}

/** `sync-refresh`: writes beside reads. Set-up syncs a generated export
  * into an fp16 store and builds the fp16 IVF index, the one dense layout
  * both `refresh` and `serve` maintain, over most of it; the rest joins
  * the index in [[Appends]] `Knn.ivfAppendIndex` segments, as ingest
  * batches do. The timed phase is one round of two `Sync.refresh` cycles:
  * each cycle's export changes, adds and removes a seeded set of
  * highlights and edits the tags of a few more, and the index gains a
  * tombstone and a data segment, so the second cycle passes the
  * compaction threshold and compacts. During the first cycle an
  * open-loop reader searches over MCP TCP from a pool of 10 query texts,
  * some filterless (served by the index) and some filtered (served by the
  * store scan), and a prober times how soon an added highlight becomes
  * searchable. After the second, a read through an index handle resolved
  * before the compaction shows what a request in flight across it
  * meets. */
object SyncRefresh {
  val Highlights = 300
  val Books = 30
  val PerPage = 150
  val Cells = 8
  val Nprobe = 6
  val K = 10
  /** Set-up appends: batches of [[AppendBatch]] highlights. With the
    * build's segment they make 5 index entries; each refresh adds 2, so
    * the second refresh passes `CorpusRefresh.DefaultMaxSegments` (8). */
  val Appends = 4
  val AppendBatch = 10
  // the make-up of each cycle's delta
  val Changed = 8
  val Added = 8
  val Removed = 8
  val TagEdits = 4
  val Cycles = 2
  /** Reader, first cycle only: its requests and their rate. */
  val Reads = 10
  val ReadRate = 1.5
  /** After each cycle returned, the [[Probes]] filterless pool texts are
    * searched once each, one at a time: the reads that follow a commit,
    * the first of which pays the store and index reloads. Their recall is
    * this workload's `recall_at_10`; its `search_p50_ms` is the mean over
    * the cycles of each cycle's median probe latency, since a probe of
    * the compacted index costs a fraction of one of the segmented index
    * and a median over both sets would fall between the two. */
  val Probes = 8

  final case class Snapshot(hs: Map[Long, Gen.Highlight]) {
    def pages(gen: Gen): IndexedSeq[String] =
      Gen.exportPages(hs.values.toSeq, gen.bookCategory, PerPage)
  }

  /** The next cycle's export: `Changed` new texts, `Added` new highlights,
    * `Removed` gone, `TagEdits` with only their tags changed. */
  def evolve(gen: Gen, s: Snapshot, nextId: Long): (Snapshot, Delta) = {
    val ids = gen.shuffle(s.hs.keys.toSeq.sorted)
    val (removed, rest) = ids.splitAt(Removed)
    val (changed, rest2) = rest.splitAt(Changed)
    val tagEdited = rest2.take(TagEdits)
    val texts = s.hs.values.map(_.text).toSet
    def freshText(t: Int): String =
      Iterator.continually(gen.text(t, 12 + gen.nextInt(13))).find(!texts(_)).get
    val updated = mutable.Map[Long, Gen.Highlight]() ++ s.hs
    removed.foreach(updated.remove)
    changed.foreach { id =>
      val h = updated(id)
      updated(id) = h.copy(text = freshText(h.book % gen.topics.size))
    }
    tagEdited.foreach { id =>
      val h = updated(id)
      val tags = gen.shuffle(gen.tagPool.filterNot(h.tags.contains)).take(1 + gen.nextInt(2)).sorted
      updated(id) = h.copy(tags = tags)
    }
    val books = s.hs.values.map(_.book).toIndexedSeq.distinct.sorted
    val added = (0 until Added).map { i =>
      val book = books(gen.nextInt(books.size))
      val h = gen.highlight(nextId + i, book, book % gen.topics.size)
      h.copy(text = freshText(book % gen.topics.size))
    }
    added.foreach(h => updated(h.id) = h)
    (Snapshot(updated.toMap), Delta(added.map(_.id), changed, removed, tagEdited))
  }

  final case class Delta(added: Seq[Long], changed: Seq[Long],
      removed: Seq[Long], tagEdited: Seq[Long])

  def queryPool(gen: Gen): IndexedSeq[Query] = {
    def q(t: Int) = gen.text(t, 4 + gen.nextInt(3), 0.8)
    IndexedSeq(
      Query(q(0), K), Query(q(1), K), Query(q(2), K), Query(q(3), K),
      Query(q(4), K), Query(q(5), K),
      Query(q(6), K), Query(q(7), K),
      Query(q(8), K, sourceType = Some("articles")),
      Query(q(9), K, tags = Some(Seq(gen.tagPool(3))),
        range = Some((LocalDate.of(2023, 1, 1), LocalDate.of(2024, 6, 30)))))
  }

  def run(env: Env): Unit = {
    val spark = env.spark
    val gen = new Gen(env.seed)
    var snap = Snapshot(gen.highlights(Highlights, Books).map(h => h.id -> h).toMap)
    val pool = queryPool(gen)
    val appended = snap.hs.keys.toSeq.sorted.takeRight(Appends * AppendBatch)
      .map(_.toString)

    var backfillS, buildS = 0.0
    val dir = env.setUp { d =>
      val t0 = System.nanoTime()
      val n = Sync.backfill(spark, env.exportClient(snap.pages(gen)), s"$d/store",
        s"$d/ckpt", env.embedder, fp16 = true)
      val t1 = System.nanoTime()
      env.verdict.check(n == Highlights, s"backfill synced $n of $Highlights")
      val store = HighlightStore.read(spark, s"$d/store").get
      Knn.ivfBuildIndex(store.filter(!col("id").isin(appended: _*)), "embedding",
        "id", s"$d/ivf", k = Cells, iters = 2,
        trainFilter = crc32(col("id")) % 5 === 0, fp16 = true)
      appended.grouped(AppendBatch).foreach { batch =>
        Knn.ivfAppendIndex(store.filter(col("id").isin(batch: _*)), "embedding",
          "id", s"$d/ivf")
      }
      backfillS = (t1 - t0) / 1e9
      buildS = (System.nanoTime() - t1) / 1e9
      Main.log(f"backfill $backfillS%.2fs, index build and appends $buildS%.2fs")
      d
    }
    val afterSetup = Trace.snapshot()
    env.endToEnd("sync_rows_per_s") = Highlights / backfillS

    val storeDir = s"$dir/store"
    val ivfDir = s"$dir/ivf"
    val segments = mutable.ArrayBuffer(segmentCount(ivfDir))
    env.verdict.check(segments.head == 1 + Appends,
      s"index holds ${segments.head} entries after set-up, expected ${1 + Appends}")
    val ivf = Knn.IvfIndex.reloading(spark, ivfDir)
    val server = new Server(env, storeDir, Some(() => ivf.get), Nprobe, env.embedder)
    val mcp = new McpSearch(server.mcp.boundPort)
    val readOps = env.ops("read")
    val refreshOps = env.ops("refresh")
    val checkOps = env.ops("fresh+probe")
    val reader = new Load.OpenLoop(env.cpus - 1, mcp.search, readOps)
    // warm-up, not timed, not counted: one index-served and one
    // store-scanned read
    Seq(pool(0), pool(8)).foreach(q => mcp.search(q))
    Trace.drain(spark)
    val before = Trace.snapshot()
    Trace.resetSamples()

    val refreshS = mutable.ArrayBuffer[Double]()
    val freshS = mutable.ArrayBuffer[Double]()
    val recalls = mutable.ArrayBuffer[Double]()
    val probeMs = mutable.ArrayBuffer[Seq[Double]]()
    val storeWriteMb = mutable.ArrayBuffer[Double]()
    val deltaRows = mutable.ArrayBuffer[Double]()
    // ids removed so far, with the time their refresh returned
    val removedAt = mutable.Map[String, Long]()
    var nextId = 5000000L
    // one round, whatever --seconds says: every run attempts the same
    // operations
    val t0 = System.nanoTime()
    (0 until Cycles).foreach { cycle =>
      val (next, delta) = evolve(gen, snap, nextId)
      nextId += Added
      val pages = next.pages(gen)
      val compacting = cycle == Cycles - 1
      // the reader and the prober run beside the first refresh only: a
      // read in flight when the second one's compaction sweeps the
      // segments it resolved fails, now and then, which would make the
      // failed count vary run to run; `held` below meets that fault in
      // every run instead
      val reads = if (compacting) None
        else Some(reader.burst(Reads, ReadRate, i => pool(i % pool.size)))
      val held = if (compacting) Some(ivf.get) else None
      val target = next.hs(delta.added.head)
      val r0 = System.nanoTime()
      // the prober: from the refresh's start until the new highlight
      // comes back first for its own text
      val fresh = new java.util.concurrent.atomic.AtomicLong(-1)
      val prober = new Thread(() => {
        while (fresh.get < 0 && System.nanoTime() - r0 < 60000000000L) {
          val hit = try mcp.search(Query(target.text, K)).rows.headOption
            .exists(_._1 == target.id.toString) catch {
              case e: Exception =>
                System.err.println(s"perfbench: freshness probe error: $e")
                false
            }
          if (hit) fresh.set(System.nanoTime() - r0) else Thread.sleep(200)
        }
      }, "perfbench-fresh-prober")
      if (!compacting) prober.start()
      val counts = refreshOps.attempt(s"refresh cycle $cycle")(
        Sync.refresh(spark, env.exportClient(pages), storeDir, s"$dir/ckpt",
          ivfIndexDir = Some(ivfDir), embedder = env.embedder))
      val returned = System.nanoTime()
      refreshS += (returned - r0) / 1e9
      if (!compacting) {
        prober.join()
        checkOps.record(fresh.get >= 0, s"cycle $cycle: added ${target.id} never came back first")
        if (fresh.get >= 0) freshS += fresh.get / 1e9
      }
      reads.foreach(_.await())
      delta.removed.foreach(id => removedAt(id.toString) = returned)
      segments += segmentCount(ivfDir)
      // a request that resolved the index before the compaction committed
      // and reads after it: the compaction has swept the segments it names
      held.foreach { h =>
        checkOps.attempt(s"cycle $cycle: search through an index handle " +
          "resolved before the compaction")(
          h.servingTopK(env.baseEmbedder.embed(HeldQuery), K, Nprobe, None))
      }

      // what the refresh must have done
      counts.foreach { c =>
        env.verdict.check(c("added") == Added && c("changed") == Changed &&
          c("removed") == Removed, s"cycle $cycle: refresh counts $c, generated " +
          s"added=$Added changed=$Changed removed=$Removed")
        deltaRows += c.values.sum.toDouble
      }
      val stored = Serving.readStore(env, storeDir)
      env.verdict.check(stored.texts == next.hs.map { case (id, h) => id.toString -> h.text },
        s"cycle $cycle: store ids/texts differ from the exported snapshot")
      delta.tagEdited.foreach { id =>
        refreshOps.record(stored.tags.get(id.toString).contains(next.hs(id).tags),
          s"cycle $cycle: tag-only edit of $id not in the store " +
            s"(store ${stored.tags.get(id.toString)}, export ${next.hs(id).tags})")
      }
      storeWriteMb += Main.duBytes(new java.io.File(Serving.liveVersion(storeDir))) / 1e6
      // reads after the commit, checked against the exact scan of this snapshot
      probeMs += (0 until Probes).flatMap { i =>
        val q = pool(i)
        val t = System.nanoTime()
        checkOps.attempt(s"cycle $cycle probe $i")(mcp.search(q)).map { r =>
          val ms = (System.nanoTime() - t) / 1e6
          recalls += Serving.check(env, s"cycle $cycle probe '${q.q}'", r.rows,
            env.baseEmbedder.embed(q.q), stored.corpus, K)
          ms
        }
      }
      snap = next
      Main.log(f"cycle $cycle: refresh ${refreshS.last}%.2fs, index entries ${segments.last}")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    reader.shutdown()
    Trace.drain(spark)
    val delta = Layers.delta(Trace.snapshot(), before)
    val heap = env.heapMb()
    server.stop()
    val compactions = segments.sliding(2).count(p => p(1) < p(0))
    env.verdict.check(compactions == 1,
      s"index entries ${segments.mkString(" -> ")}: expected one compaction")

    // every reader response: well formed, and no id removed by a refresh
    // that had returned before the request was sent
    val samples = reader.samples.asScala.toVector.sortBy(_.sentNs)
    samples.foreach { s =>
      s.resp.foreach { r =>
        val ids = r.rows.map(_._1)
        env.verdict.check(ids.distinct.size == ids.size && ids.size <= K &&
          r.rows.map(_._2).sliding(2).forall(p => p.size < 2 || p(0) <= p(1)),
          s"reader response malformed: ${r.rows}")
        ids.foreach(id => removedAt.get(id).foreach(at =>
          env.verdict.check(s.sentNs < at,
            s"removed id $id served to a request sent after its refresh returned")))
      }
    }
    val lat = samples.filter(_.resp.isDefined).map(_.fromDueMs)
    env.endToEnd("search_p50_ms") = Stats.mean(probeMs.toSeq.map(Stats.median))
    env.endToEnd("recall_at_10") = Stats.mean(recalls.toSeq)
    env.endToEnd("work_per_s") = Highlights / Stats.median(refreshS.toSeq)
    env.endToEnd("disk_mb") = (Main.duBytes(new java.io.File(storeDir)) +
      Main.duBytes(new java.io.File(ivfDir))) / 1e6
    env.endToEnd("heap_mb") = heap
    env.notes ++= Seq("timed_s" -> wall, "probe_ms" -> probeMs.toSeq,
      "reader_samples" -> lat.size, "reader_p50_ms" -> Stats.median(lat),
      "reader_p95_ms" -> Stats.percentile(lat, 95),
      "reader_late_ms_p50" -> Stats.median(samples.map(_.lateMs)),
      "reader_late_ms_max" -> samples.map(_.lateMs).max,
      "refresh_s" -> refreshS.toSeq, "fresh_s" -> freshS.toSeq,
      "index_entries" -> segments.toSeq)

    if (env.trace) {
      val served = samples.filter(_.resp.isDefined)
      Layers.serving(env, delta, served.map(_.latencyMs),
        served.map(_.resp.get.bytes.toDouble), http = false)
      env.layers("sync.backfill_s") = backfillS
      env.layers("index.build_s") = buildS
      env.layers("index.segments") = Stats.mean(segments.tail.map(_.toDouble).toSeq)
      env.layers("index.compactions") = compactions.toDouble / Cycles
      env.layers("sync.delta_rows") = Stats.mean(deltaRows.toSeq)
      env.layers("sync.store_write_mb") = Stats.mean(storeWriteMb.toSeq)
      env.layers("sync.refresh_s") = Stats.median(refreshS.toSeq)
      env.layers("sync.fresh_s") = if (freshS.isEmpty) 0.0 else Stats.median(freshS.toSeq)
      Layers.sparkPerOp(env, delta, Cycles)
      // ingest counters per refresh cycle: every cycle walks the export
      Seq("embed.rows", "embed.busy_s", "sources.pages", "sources.fetch_s").foreach { k =>
        env.layers(k) = delta.getOrElse(k, 0.0) / Cycles
      }
      env.notes("setup_embed_rows") = afterSetup.getOrElse("embed.rows", 0.0)
    }
  }

  /** The query of the read through the pre-compaction handle; the read
    * fails whatever it asks, so it does not depend on the seed. */
  val HeldQuery = "a read that resolved the index before the compaction"

  /** Live entries (data and tombstone segments) of a segmented index. */
  def segmentCount(indexDir: String): Int =
    new String(java.nio.file.Files.readAllBytes(
      new java.io.File(indexDir, "CURRENT").toPath), "UTF-8")
      .linesIterator.count(_.trim.nonEmpty)
}
