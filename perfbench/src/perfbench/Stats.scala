package perfbench

import java.util.concurrent.atomic.AtomicLong

/** Order statistics over latency samples. */
object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Attempted and failed operations of one phase. A failed operation is
  * logged to stderr with its error and never enters a latency sample; the
  * run goes on to its end. */
final class Ops(val phase: String) {
  private val attemptedN = new AtomicLong
  private val failedN = new AtomicLong
  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get

  /** Count one attempted operation; `None` if it threw. */
  def attempt[T](what: => String)(f: => T): Option[T] = {
    attemptedN.incrementAndGet()
    try Some(f)
    catch {
      case e: Throwable =>
        fail(what, e.toString)
        None
    }
  }

  /** Count one attempted operation whose outcome was judged by a check. */
  def record(ok: Boolean, what: => String): Unit = {
    attemptedN.incrementAndGet()
    if (!ok) fail(what, "check failed")
  }

  private def fail(what: String, err: String): Unit = {
    failedN.incrementAndGet()
    System.err.println(s"perfbench: [$phase] failed: $what: $err")
  }
}

/** A violated correctness property: makes the run's `correct` false. */
final class Verdict {
  private val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) {
      if (problems.size < 1000) problems.add(what)
      System.err.println(s"perfbench: INCORRECT: $what")
    }
    ok
  }
  def correct: Boolean = problems.isEmpty
}

/** The host's speed, measured inside the run. The vCPUs of the 4-core VM
  * this benchmark was tuned on ran, for minutes at a time, at one of two
  * speeds about 2× apart, and every timing of a run moved with it (set-up,
  * latency and throughput alike). A fixed unit of work timed on every core
  * before the session starts and again once it stopped gives the run's
  * speed (the median unit); timed metrics are reported scaled to
  * [[ReferenceMs]], so that runs on a slow spell and a fast one compare. */
object HostSpeed {
  /** The unit's time on the fast spell of the tuning VM. */
  val ReferenceMs = 100.0

  /** One unit of work: sort 2^20 seeded doubles on each of `cpus` threads
    * at once. Returns the wall time of `rounds` units after `warm` warm-up
    * units, in ms. */
  def probe(cpus: Int, warm: Int, rounds: Int): Seq[Double] = {
    def unit(): Double = {
      val t0 = System.nanoTime()
      val threads = (0 until cpus).map { c =>
        val t = new Thread(() => {
          var x = 0x9E3779B97F4A7C15L + c
          val a = Array.fill(1 << 20) {
            x ^= x << 13; x ^= x >>> 7; x ^= x << 17
            (x >>> 11).toDouble
          }
          java.util.Arrays.sort(a)
        })
        t.start(); t
      }
      threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
    (1 to warm).foreach(_ => unit())
    (1 to rounds).map(_ => unit())
  }

  /** Scale a measured value of `unit` from a run whose units took
    * `unitMs` to the reference speed: times shrink and rates grow on a
    * slow spell; other units are left as measured. */
  def scale(value: Double, unit: String, unitMs: Double): Double = unit match {
    case "s" | "ms" => value * ReferenceMs / unitMs
    case "1/s" => value * unitMs / ReferenceMs
    case _ => value
  }
}
