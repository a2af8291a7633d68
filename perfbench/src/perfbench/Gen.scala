package perfbench

import java.time.LocalDate

/** Seeded input generators. The program sees only what these produce: the
  * same seed gives the same pages, queries, deltas and documents. */
final class Gen(seed: Long) {
  private val rnd = new scala.util.Random(seed)

  // ---- vocabulary: pronounceable pseudo-words, a fixed set of common
  //      words, and per-topic word lists
  private val onsets = Seq("b", "d", "f", "g", "k", "l", "m", "n", "p", "r",
    "s", "t", "v", "z", "br", "dr", "gl", "kr", "pl", "st", "tr", "sk")
  private val vowels = Seq("a", "e", "i", "o", "u", "ai", "ou", "ei")
  private def pseudoWord(): String =
    (0 until 2 + rnd.nextInt(2)).map(_ =>
      onsets(rnd.nextInt(onsets.size)) + vowels(rnd.nextInt(vowels.size))).mkString

  val common: IndexedSeq[String] = IndexedSeq("the", "a", "of", "and", "to",
    "in", "is", "that", "it", "for", "on", "with", "as", "was", "at", "by",
    "this", "be", "from", "or", "an", "are", "not", "but", "fast", "slow")

  private val reserved: Set[String] = common.toSet ++
    graft.text.TextAnalysis.LangMarkers.flatMap(_._2) ++
    graft.text.TextAnalysis.Stopwords
  private val vocabulary: IndexedSeq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < 4000) {
      val w = pseudoWord()
      if (!reserved(w)) seen += w
    }
    seen.toIndexedSeq
  }

  val topics: IndexedSeq[IndexedSeq[String]] =
    vocabulary.grouped(40).toIndexedSeq

  def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
  def nextInt(n: Int): Int = rnd.nextInt(n)
  def shuffle[T](xs: Seq[T]): Seq[T] = rnd.shuffle(xs)

  /** Topic words drawn with a skew toward the head of the list, so
    * texts of one topic share words and have real nearest neighbours. */
  private def topicWord(t: Int): String = {
    val ws = topics(t)
    ws(math.min(ws.size - 1, (math.abs(rnd.nextGaussian()) * ws.size / 3).toInt))
  }

  /** `n` words of topic `t`, `topicShare` of them topic words. */
  def text(t: Int, n: Int, topicShare: Double = 0.6): String =
    (0 until n).map(_ =>
      if (rnd.nextDouble() < topicShare) topicWord(t) else pick(common))
      .mkString(" ")

  // ---- Readwise export: books with highlights, paged
  val categories: IndexedSeq[String] =
    IndexedSeq("books", "books", "books", "books", "books",
      "articles", "articles", "articles", "tweets", "podcasts")
  val tagPool: IndexedSeq[String] = (0 until 12).map(i => f"tag$i%02d")
  val dayZero: LocalDate = LocalDate.of(2023, 1, 1)
  val days = 730

  def highlight(id: Long, book: Int, t: Int): Gen.Highlight =
    Gen.Highlight(id, book, text(t, 12 + rnd.nextInt(13)),
      shuffle(tagPool).take(rnd.nextInt(3)).sorted,
      if (rnd.nextInt(4) == 0) Some(text(t, 5)) else None,
      1 + rnd.nextInt(5000), dayZero.plusDays(rnd.nextInt(days).toLong))

  /** `n` highlights with distinct texts over `books` books. */
  def highlights(n: Int, books: Int, firstId: Long = 1000000L): Vector[Gen.Highlight] = {
    val seen = scala.collection.mutable.HashSet[String]()
    val out = Vector.newBuilder[Gen.Highlight]
    var id = firstId
    while (id < firstId + n) {
      val book = rnd.nextInt(books)
      val h = highlight(id, book, book % topics.size)
      if (seen.add(h.text)) { out += h; id += 1 }
    }
    out.result()
  }

  def bookCategory(book: Int): String = categories(book % categories.size)
}

object Gen {
  final case class Highlight(id: Long, book: Int, text: String,
      tags: Seq[String], note: Option[String], location: Int,
      day: LocalDate)

  private def q(s: String): String = Json.write(s)

  /** Readwise `/api/v2/export/` pages: books carry their highlights,
    * `perPage` highlights to a page. */
  def exportPages(hs: Seq[Highlight], category: Int => String,
      perPage: Int): IndexedSeq[String] = {
    val pages = hs.sortBy(h => (h.book, h.id)).grouped(perPage).toIndexedSeq
    pages.zipWithIndex.map { case (page, i) =>
      val books = page.groupBy(_.book).toSeq.sortBy(_._1).map { case (b, bh) =>
        val hl = bh.map { h =>
          s"""{"id":${q(h.id.toString)},"text":${q(h.text)},""" +
            s""""note":${h.note.map(q).getOrElse("null")},""" +
            s""""location":${h.location},"url":null,""" +
            s""""tags":[${h.tags.map(t => s"""{"name":${q(t)}}""").mkString(",")}],""" +
            s""""highlighted_at":"${h.day}T08:00:00Z",""" +
            s""""updated_at":"${h.day}T08:00:00Z"}"""
        }.mkString(",")
        s"""{"user_book_id":$b,"title":"Book $b","author":"Author ${b % 97}",""" +
          s""""category":${q(category(b))},"source":"kindle",""" +
          s""""source_url":"https://example.org/b/$b","highlights":[$hl]}"""
      }.mkString(",")
      val next = if (i + 1 < pages.size) s""","nextPageCursor":"${i + 1}"""" else ""
      s"""{"results":[$books]$next}"""
    }
  }
}
