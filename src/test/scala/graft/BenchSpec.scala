package graft

import org.scalatest.funsuite.AnyFunSuite

/** The result-line contract of [[Bench]]: the line the driver parses is
  * at most 1950 chars, is JSON, keys every timed row by its short name,
  * and sheds spread rows before it sheds query precision. */
class BenchSpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val boardSize = SparkEntry.queries.size

  private val head = """"calib":0.860,"phase":0.66,"failed":[],""" +
    """"calib_passes":[0.54,0.86,0.93],"""
  private val tail = """"ratio_median":0.74,"ratio_median_minp":0.68,""" +
    s""""ratio_n":$boardSize,"value_norm":98.614,"value_min":58.683,"""

  /** `n` rows named like the board's, with medians of 1–3 integer
    * digits, and one spread row (three passes) per row. */
  private def board(n: Int): (Seq[(String, Double)], Seq[(String, Seq[Double])]) = {
    val names = SparkEntry.queries.keys.toSeq.sorted.take(n)
    val results = names.zipWithIndex.map { case (k, i) =>
      k -> (i % 3 match { case 0 => 0.137 * i; case 1 => 11.29; case _ => 123.456 }) }
    (results, names.map(k => k -> Seq(0.21, 1.337, 12.5)))
  }

  private def line(n: Int, withSpread: Boolean = true): String = {
    val (results, spread) = board(n)
    Bench.wireLine(65.255, head, if (withSpread) spread else Nil, tail,
      results, "/root/testdata/sf0.1", 3)
  }

  /** Decimals the queries map carries (all its values share them). */
  private def decimals(l: String): Int =
    "\"queries\":\\{\"[^\"]+\":[0-9]+(\\.[0-9]+)?".r.findFirstMatchIn(l)
      .map(m => Option(m.group(1)).fold(0)(_.length - 1)).get

  test("the full board with spread rows fits in 1950 chars as JSON keyed by short name") {
    assert(boardSize == 154)
    val l = line(boardSize)
    assert(l.length <= 1950, l.length)
    val json = mapper.readTree(l)
    assert(json.get("metric").asText == "total" && json.get("runs").asInt == 3)
    val keys = { import scala.jdk.CollectionConverters._
      json.get("queries").fieldNames().asScala.toSet }
    assert(keys == SparkEntry.queries.keys.map(Bench.shortName).toSet)
    assert(keys.size == boardSize)
  }

  test("spread rows shed before the queries map loses precision") {
    // over every board size the shedding passes through, the spread never
    // costs a decimal: the line keeps the precision of the spread-free one
    val sizes = (20 to boardSize by 3) :+ boardSize
    val cut = sizes.map { n =>
      val (full, bare) = (line(n), line(n, withSpread = false))
      assert(full.length <= 1950 && bare.length <= 1950, n)
      assert(decimals(full) == decimals(bare), n)
      mapper.readTree(full).has("spread")
    }
    // the sweep crosses the ladder: small boards keep spread rows at two
    // decimals, the full board has shed them
    assert(cut.head && !cut.last)
    assert(decimals(line(20)) == 2)
  }
}
