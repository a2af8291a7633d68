package perfbench

/** Hand-computed cases for [[Refs]]; `run.py --self-test` runs them, and
  * every benchmark run runs them before it trusts a reference. */
object RefsCheck {

  private def close(a: Double, b: Double, tol: Double = 1e-12): Boolean =
    math.abs(a - b) <= tol

  /** Failed cases as messages; empty when every case holds. */
  def failures(): Seq[String] = {
    val out = Seq.newBuilder[String]
    def check(name: String)(ok: => Boolean): Unit =
      if (!(try ok catch { case _: Throwable => false })) out += name

    // binary16 bit patterns with their exact values
    check("fp16 0x3C00 = 1")(Refs.halfToFloat(0x3c00) == 1.0f)
    check("fp16 0xC000 = -2")(Refs.halfToFloat(0xc000) == -2.0f)
    check("fp16 0x3555 = 0.333251953125")(
      Refs.halfToFloat(0x3555) == 0.333251953125f)
    check("fp16 0x7BFF = 65504")(Refs.halfToFloat(0x7bff) == 65504f)
    check("fp16 0x0001 = 2^-24")(Refs.halfToFloat(0x0001) == 5.9604645e-8f)
    check("fp16 0x03FF = 1023 * 2^-24")(
      Refs.halfToFloat(0x03ff) == (1023 * math.pow(2, -24)).toFloat)
    check("fp16 0x7C00 = +inf")(Refs.halfToFloat(0x7c00).isPosInfinity)
    check("fp16 0x7E00 = NaN")(Refs.halfToFloat(0x7e00).isNaN)
    check("fp16 0x8000 = -0")(
      java.lang.Float.floatToRawIntBits(Refs.halfToFloat(0x8000)) == 0x80000000)
    check("fp16 little-endian blob")(Refs.fp16Decode(
      Array(0x00, 0x3c, 0x00, 0xc0, 0x55, 0x35).map(_.toByte)).toSeq ==
      Seq(1.0f, -2.0f, 0.333251953125f))

    // cosine distance
    check("cos orthogonal = 1")(close(
      Refs.cosineDistance(Array(1f, 0f), Array(0f, 1f)), 1.0))
    check("cos identical = 0")(close(
      Refs.cosineDistance(Array(3f, 4f), Array(3f, 4f)), 0.0))
    check("cos opposite = 2")(close(
      Refs.cosineDistance(Array(1f, 2f), Array(-1f, -2f)), 2.0))
    check("cos (1,1),(1,0) = 1 - 1/sqrt2")(close(
      Refs.cosineDistance(Array(1f, 1f), Array(1f, 0f)), 1 - 1 / math.sqrt(2)))
    check("cos (1,2,3),(4,5,6) = 1 - 32/sqrt(1078)")(close(
      Refs.cosineDistance(Array(1f, 2f, 3f), Array(4f, 5f, 6f)),
      1 - 32 / math.sqrt(1078)))

    // brute-force top-k: distance order, ties broken by id
    locally {
      val c = new Refs.Corpus(Array("d", "b", "c", "a"), Array(
        Array(1f, 0f, 0f), Array(0f, 1f, 0f), Array(1f, 1f, 0f),
        Array(1f, 0f, 0f)))
      val top = c.topK(Array(1f, 0f, 0f), 3)
      check("topK order")(top.map(_._1) == Seq("a", "d", "c"))
      check("topK distances")(close(top(0)._2, 0) && close(top(1)._2, 0) &&
        close(top(2)._2, 1 - 1 / math.sqrt(2)))
      check("sparse distances = dense")(
        c.distances(Array(0f, 2f, 0f)).zip(c.vecs).forall { case (d, v) =>
          close(d, Refs.cosineDistance(Array(0f, 2f, 0f), v)) })
    }

    // word shingles and Jaccard
    check("shingles of 4 words")(
      Refs.wordShingles("a b c d") == Set("a b c", "b c d"))
    check("shingles are distinct")(
      Refs.wordShingles("x y x y x") == Set("x y x", "y x y"))
    check("no shingles under k words")(Refs.wordShingles("x y").isEmpty)
    check("jaccard 1/3")(close(Refs.jaccard(Refs.wordShingles("a b c d"),
      Refs.wordShingles("a b c e")), 1.0 / 3))
    check("jaccard 3/5")(close(Refs.jaccard(
      Refs.wordShingles("a b c d e f"), Refs.wordShingles("a b c d e g")),
      3.0 / 5))
    check("jaccard of empties = 0")(Refs.jaccard(Set.empty, Set.empty) == 0.0)
    out.result()
  }

  def main(args: Array[String]): Unit = {
    val f = failures()
    f.foreach(m => System.err.println(s"self-test FAILED: $m"))
    println(s"self-test: ${if (f.isEmpty) "all cases pass" else s"${f.size} failed"}")
    if (f.nonEmpty) sys.exit(1)
  }
}
