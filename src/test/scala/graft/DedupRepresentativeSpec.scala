package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.operators.TextPipeline

/** Representative semantics of [[TextPipeline.dedupPipelineFrom]], checked
  * row for row against a plain-Scala model: a group is the documents whose
  * space-trimmed, lower-cased texts match; its representative is the least
  * `doc_id`, its text the least raw text (UTF-8 byte order, so it can be
  * another document's text), its copy count the group size; candidates
  * share a MinHash band (16 seeded md5 min-hashes, 4 bands of 4); a pair
  * is kept when the Jaccard of the 3-word shingle sets, rounded to 4
  * places, is at least 0.8.
  */
class DedupRepresentativeSpec extends AnyFunSuite with Matchers with SparkTestBase {
  import spark.implicits._
  import DedupRepresentativeSpec._

  private def words(prefix: String, n: Int): Seq[String] =
    (1 to n).map(i => s"$prefix$i")

  // 40-word texts: one edited word keeps a pair above the threshold
  private val fox = words("fox", 40)
  private val alpha = words("alpha", 40)
  private val uber = words("über", 20).zip(words("слово", 20))
    .flatMap { case (a, b) => Seq(a, b) }

  private val corpus: Seq[(Long, String)] = Seq(
    // case copies: the least text is the all-caps doc 7's, not doc 1's
    1L -> fox.mkString(" "),
    4L -> ("Fox1" +: fox.tail).mkString(" "),
    7L -> (fox.take(2).map(_.toUpperCase(Locale.ROOT)) ++ fox.drop(2)).mkString(" "),
    10L -> (fox.init :+ "wolf").mkString(" "),
    // whitespace copies: the least text is doc 5's, with leading spaces
    2L -> alpha.mkString(" "),
    5L -> ("  " + alpha.mkString(" ")),
    8L -> (alpha.mkString(" ") + " "),
    11L -> (alpha.init :+ "omega").mkString(" "),
    // non-ASCII: a case copy (Ü sorts before ü) and a one-word edit
    3L -> uber.mkString(" "),
    9L -> ("Ü" + uber.mkString(" ").drop(1)),
    6L -> (uber.init :+ "конец").mkString(" "),
    // an exact copy, a short text and its case copy, a loner
    12L -> fox.mkString(" "),
    13L -> "b a",
    14L -> "B a",
    15L -> "lorem ipsum dolor sit amet")

  private def pipeline(docs: Seq[(Long, String)]): Seq[Pair] =
    TextPipeline.dedupPipelineFrom(spark,
      spark.sparkContext.parallelize(docs, 3).toDF("doc_id", "text"))
      .as[Pair].collect().toSeq

  test("representatives: least doc_id, least raw text, group-size copies") {
    val reps = representatives(corpus).map(r => r.docId -> r).toMap
    // the corpus exercises what it claims: the least text is another doc's
    reps(1L).text shouldBe corpus.toMap.apply(7L)
    reps(1L).copies shouldBe 4L
    reps(2L).text shouldBe corpus.toMap.apply(5L)
    reps(2L).copies shouldBe 3L
    reps(3L).text shouldBe corpus.toMap.apply(9L)
    reps(13L).text shouldBe "B a"

    val want = model(corpus)
    // each near-dup pair survives, scored on its representative's text
    want.map(p => (p._1, p._2)) should contain allOf ((1L, 10L), (2L, 11L), (3L, 6L))
    want.find(p => (p._1, p._2) == ((1L, 10L))).get._3 should be <
      jaccard(shingleSet(corpus.toMap.apply(1L)), shingleSet(corpus.toMap.apply(10L)))
    pipeline(corpus) shouldBe want
  }

  test("an empty corpus yields no pairs") {
    model(Seq.empty) shouldBe empty
    pipeline(Seq.empty) shouldBe empty
  }
}

object DedupRepresentativeSpec {
  /** (doc_a, doc_b, jaccard, copies_a, copies_b) */
  type Pair = (Long, Long, Double, Long, Long)

  final case class Rep(docId: Long, text: String, copies: Long)

  private def trimSpaces(s: String): String =
    s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse

  /** Unsigned UTF-8 byte order, Spark's string order. */
  private val utf8Order: Ordering[String] = Ordering.fromLessThan { (a, b) =>
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0
  }

  def representatives(docs: Seq[(Long, String)]): Seq[Rep] =
    docs.groupBy { case (_, t) => trimSpaces(t).toLowerCase(Locale.ROOT) }
      .values.map(g => Rep(g.map(_._1).min, g.map(_._2).min(utf8Order), g.size.toLong))
      .toSeq.sortBy(_.docId)

  def shingleSet(text: String): Set[String] = {
    val w = text.split(" ", -1)
    if (w.length < 3) Set(w.mkString(" "))
    else w.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size.toDouble

  private def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** The 4 band digests of the 16 seeded min-hashes. */
  private def bands(set: Set[String]): Seq[String] = {
    val mins = (0 until 16).map(k => set.iterator.map(x => md5Hex(s"$k:$x")).min)
    mins.grouped(4).map(b => md5Hex(b.mkString("|"))).toSeq
  }

  def model(docs: Seq[(Long, String)]): Seq[Pair] = {
    val reps = representatives(docs).map(r => (r, shingleSet(r.text)))
    val banded = reps.map { case (r, s) => (r, s, bands(s)) }
    (for {
      (a, sa, ba) <- banded
      (b, sb, bb) <- banded if a.docId < b.docId
      if ba.zip(bb).exists { case (x, y) => x == y }
      j = BigDecimal(jaccard(sa, sb)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      if j >= 0.8
    } yield (a.docId, b.docId, j, a.copies, b.copies)).sortBy(p => (p._1, p._2))
  }
}
