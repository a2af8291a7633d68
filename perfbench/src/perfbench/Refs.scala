package perfbench

/** The benchmark's own reference computations. They use neither Spark nor
  * graft's `functions` package, so a fault in the program's fp16 kernels,
  * cosine expressions or shingling cannot hide in the check that is meant
  * to catch it. [[RefsCheck]] tests each one on hand-computed cases. */
object Refs {

  /** IEEE 754 binary16 → float, from the bit layout (sign, 5-bit
    * exponent biased by 15, 10-bit fraction). */
  def halfToFloat(h: Int): Float = {
    val sign = if ((h & 0x8000) != 0) -1.0 else 1.0
    val exp = (h >> 10) & 0x1f
    val frac = h & 0x3ff
    val v =
      if (exp == 0) frac * math.pow(2, -24)
      else if (exp == 31) (if (frac == 0) Double.PositiveInfinity else Double.NaN)
      else (1.0 + frac / 1024.0) * math.pow(2, exp - 15)
    (sign * v).toFloat
  }

  /** A little-endian blob of binary16 values → floats. */
  def fp16Decode(bytes: Array[Byte]): Array[Float] =
    Array.tabulate(bytes.length / 2) { i =>
      halfToFloat((bytes(2 * i) & 0xff) | ((bytes(2 * i + 1) & 0xff) << 8))
    }

  def norm(a: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * a(i); i += 1 }
    math.sqrt(s)
  }

  /** 1 − cos(a, b) in double precision. */
  def cosineDistance(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length, s"length ${a.length} vs ${b.length}")
    var dot = 0.0
    var i = 0
    while (i < a.length) { dot += a(i).toDouble * b(i); i += 1 }
    1.0 - dot / (norm(a) * norm(b))
  }

  /** Exact top-k by ascending cosine distance, ties by id: the brute-force
    * scan every recall figure is measured against. The query's non-zero
    * coordinates drive the dot products (the hashed n-gram embeddings are
    * sparse), which gives the same sums as a dense scan. */
  final class Corpus(val ids: Array[String], val vecs: Array[Array[Float]]) {
    require(ids.length == vecs.length)
    private val norms = vecs.map(norm)
    private val index = ids.zipWithIndex.toMap
    def size: Int = ids.length
    def vector(id: String): Option[Array[Float]] = index.get(id).map(vecs(_))

    def distances(q: Array[Float]): Array[Double] = {
      val nz = q.indices.filter(q(_) != 0f).toArray
      val qn = norm(q)
      Array.tabulate(vecs.length) { r =>
        val v = vecs(r)
        var dot = 0.0
        var j = 0
        while (j < nz.length) { dot += q(nz(j)).toDouble * v(nz(j)); j += 1 }
        1.0 - dot / (qn * norms(r))
      }
    }

    def topK(q: Array[Float], k: Int): Seq[(String, Double)] = {
      val d = distances(q)
      ids.indices.sortBy(i => (d(i), ids(i))).take(k).map(i => (ids(i), d(i)))
    }
  }

  /** Distinct word k-shingles: words are the text's single-space-separated
    * tokens; a text with fewer than k words has none. */
  def wordShingles(text: String, k: Int = 3): Set[String] = {
    val w = text.split(" ", -1)
    if (w.length < k) Set.empty
    else w.sliding(k).map(_.mkString(" ")).toSet
  }

  /** |a ∩ b| / |a ∪ b|; 0 when both are empty. */
  def jaccard(a: Set[String], b: Set[String]): Double = {
    val union = (a union b).size
    if (union == 0) 0.0 else (a intersect b).size.toDouble / union
  }
}
