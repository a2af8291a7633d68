package graft.similarity

import org.scalatest.Assertions._

/** The resident probe's contract on every IVF layout: a filterless
  * serving request over the pinned cells returns the ids, in the order,
  * and the raw score bits of its Catalyst reference — the refine search
  * with cosine scores on an IVFADC layout, [[Knn.IvfIndex.search]] on a
  * cosine one. */
object ResidentCheck {

  /** (k, nprobe, refine) request shapes. On an IVFADC layout (20, 1, 64)
    * asks for refine·k = 1280 rows of one probed cell, more than it
    * holds; on a cosine layout refine is no dial and k = 1..3 put the
    * cut inside any tie group of a few rows. */
  val Shapes: Seq[(Int, Int, Int)] =
    Seq((1, 4, 2), (2, 1, 2), (3, 2, 2), (10, 4, 3), (20, 1, 64))

  def sameAsCatalyst(h: Knn.IvfIndex, q: Array[Float]): Unit =
    for ((k, nprobe, refine) <- Shapes) {
      val served = h.asDense(refine).servingTopK(q, k, nprobe, None)
      val ref = (if (h.hasCodes) h.search(q, k, nprobe, refine,
          filter = None, cosineScore = true)
        else h.search(q, k, nprobe)).collect()
      val at = s"k=$k nprobe=$nprobe refine=$refine"
      assert(served.nonEmpty, at)
      assert(served.map(_.get(0)).toSeq == ref.map(_.get(0)).toSeq, at)
      assert(served.map(r => java.lang.Double.doubleToRawLongBits(
          r.getDouble(1))).toSeq ==
        ref.map(r => java.lang.Double.doubleToRawLongBits(
          r.getDouble(2))).toSeq, at)
    }
}
