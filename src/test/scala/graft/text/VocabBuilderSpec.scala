package graft.text

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.dedup.TextNormalizer

/** Coverage-cutoff semantics vs hand-computed cumulative masses. */
class VocabBuilderSpec extends SparkTestBase {
  import spark.implicits._

  // counts: aa=6, bb=4, cc=4, dd=2  (total 16; desc-count, asc-term order:
  // aa(6) excl 0 | bb(4) excl 6 | cc(4) excl 10 | dd(2) excl 14)
  private val docs = Seq(
    (1L, "aa aa aa bb bb cc"),
    (2L, "aa aa aa bb bb cc"),
    (3L, "cc cc dd dd")).toDF("doc_id", "text")

  private def vocabSet(cover: Double): Set[(String, Long)] =
    new VocabBuilder(cover).vocab(docs).as[(String, Long)].collect().toSet

  test("strict-< coverage keeps a term only while prior mass is under the threshold") {
    // thresh = 0.5 * 16 = 8: aa (excl 0 < 8), bb (excl 6 < 8); cc excl 10 stops
    assert(vocabSet(0.5) === Set("aa" -> 6L, "bb" -> 4L))
  }

  test("boundary frequency group admits its alphabetic prefix only") {
    // thresh = 0.65 * 16 = 10.4: cc (excl 10 < 10.4) enters, dd (14) does not;
    // bb and cc tie at count 4 — bb precedes cc alphabetically
    assert(vocabSet(0.65) === Set("aa" -> 6L, "bb" -> 4L, "cc" -> 4L))
  }

  test("cover=1.0 returns the whole vocabulary") {
    assert(vocabSet(1.0).map(_._1) === Set("aa", "bb", "cc", "dd"))
  }

  test("threshold exactly at a group boundary excludes the next term (strict <)") {
    // thresh = 0.375 * 16 = 6.0: bb excl 6 is NOT < 6 -> only aa
    assert(vocabSet(0.375) === Set("aa" -> 6L))
  }

  // 80 terms over 26 distinct counts, so most count groups hold several
  // terms spread over many 2-char prefixes: most covers cut INSIDE a group
  private lazy val zipf = {
    val rnd = new scala.util.Random(17)
    val terms = (0 until 80).map(i => Seq.fill(3 + i % 3)(('a' + rnd.nextInt(26)).toChar).mkString)
    val tokens = rnd.shuffle(terms.zipWithIndex.flatMap { case (t, i) =>
      Seq.fill(1 + 50 / (i / 3 + 2))(t) })
    tokens.grouped(7).zipWithIndex.map { case (ts, d) => (d.toLong, ts.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
  }

  /** The definition: terms in (c desc, term asc) order, kept while the
    * mass strictly before them is under cover * total (q85's oracle).
    */
  private def bruteForce(cover: Double): Set[(String, Long)] = {
    val counts = zipf.select(explode(TextNormalizer.tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val excl = coalesce(sum(col("c")).over(Window.orderBy(col("c").desc, col("term"))
      .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    counts.select(col("term"), col("c"), excl.as("excl"), sum(col("c")).over().as("total"))
      .where(col("excl") < col("total") * cover)
      .select("term", "c").as[(String, Long)].collect().toSet
  }

  test("a cut inside a frequency group matches the ordered-window definition") {
    val hist = zipf.select(explode(TextNormalizer.tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
      .groupBy("c").agg(sum("c"), count(lit(1))).as[(Long, Long, Long)].collect().toSeq
    val covers = (1 to 20).map(_ * 0.05)
    val cutInside = covers.filter(cv => VocabBuilder.cutoff(hist, cv)._2.isDefined)
    assert(cutInside.size >= 10, s"boundary groups at covers $cutInside")
    for (cv <- covers) {
      val got = new VocabBuilder(cv).vocab(zipf).as[(String, Long)].collect()
      assert(got.length === got.toSet.size)
      assert(got.toSet === bruteForce(cv), s"cover $cv")
    }
  }

  test("a histogram whose mass overflows a long fails instead of wrapping") {
    // total mass past Long.MaxValue, and (n_terms - 1) * c past it
    intercept[ArithmeticException](
      VocabBuilder.cutoff(Seq((4L, Long.MaxValue - 2, 1L), (2L, 4L, 2L)), 0.5))
    intercept[ArithmeticException](
      VocabBuilder.cutoff(Seq((Long.MaxValue / 2, 10L, 4L)), 0.5))
  }
}
