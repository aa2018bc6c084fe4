package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** `SimHasher`'s pair search against brute force in Scala: every pair of
  * signed documents, Hamming distance as `java.lang.Long.bitCount` of the
  * xor of the parsed hex. The corpus holds exact copies (distance 0),
  * suffix-mutated copies (a few flipped bits), a null-text row (no
  * signature, never paired) and signatures whose first hex digit is
  * `8`–`f` (negative as a signed long). Empty and all-null-text inputs
  * give no pairs.
  */
class SimHasherSpec extends SparkTestBase {
  import spark.implicits._

  private val hasher = new SimHasher().setIdCol("doc_id").setTextCol("text")

  private def word(i: Long, j: Int): String =
    s"w${((i * 2654435761L + j * 40503L) % 997 + 997) % 997}"

  private lazy val docs = {
    val base = (1L to 60L).map(i => i -> (0 until 40).map(word(i, _)).mkString(" "))
    val copies = base.filter(_._1 % 5 == 0).map { case (i, t) => (i + 1000, t) }
    val mutated = base.filter(_._1 % 3 == 0).map { case (i, t) => (i + 2000, s"$t tail$i") }
    val rows: Seq[(Long, String)] = base ++ copies ++ mutated :+ ((5000L, null))
    rows.toDF("doc_id", "text")
  }

  private lazy val signed = hasher.transform(docs)

  private lazy val sigs: Map[Long, String] =
    signed.as[(Long, String)].collect().filter(_._2 != null).toMap

  private def bits(hex: String): Long = java.lang.Long.parseUnsignedLong(hex, 16)

  private def hamming(a: String, b: String): Int = java.lang.Long.bitCount(bits(a) ^ bits(b))

  private def allPairs: Seq[(Long, Long)] =
    for (a <- sigs.keys.toSeq; b <- sigs.keys.toSeq if a < b) yield (a, b)

  test("corpus covers the edges the pair search must handle") {
    assert(signed.where(col("simhash").isNull).count() === 1)
    assert(sigs.values.count(s => "89abcdef".contains(s.head)) >= 5)
    val d = allPairs.map { case (a, b) => hamming(sigs(a), sigs(b)) }
    assert(d.count(_ == 0) >= 12)
    assert(d.exists(x => x > 0 && x <= 3), "no suffix-mutated pair within distance 3")
  }

  for (maxDist <- 0 to 3) test(s"nearDupPairs(maxDist = $maxDist) equals brute-force Hamming") {
    val got = hasher.nearDupPairs(signed, maxDist)
      .as[(Long, Long, Int)].collect()
    val want = allPairs.map { case (a, b) => (a, b, hamming(sigs(a), sigs(b))) }
      .filter(_._3 <= maxDist)
    assert(got.length === got.toSet.size, "duplicate pairs")
    assert(got.toSet === want.toSet)
    if (maxDist == 3) {
      assert(want.exists { case (a, b, _) => sigs(a).head >= '8' && sigs(b).head >= '8' })
    }
  }

  test("candidatePairs are exactly the pairs agreeing on a 4-hex-char band") {
    val got = hasher.candidatePairs(signed).as[(Long, Long)].collect()
    val want = allPairs.filter { case (a, b) =>
      (0 until 4).exists(k => sigs(a).slice(4 * k, 4 * k + 4) == sigs(b).slice(4 * k, 4 * k + 4))
    }
    assert(got.length === got.toSet.size)
    assert(got.toSet === want.toSet)
  }

  test("hammingDistance matches bitCount on top-bit signatures") {
    val pairs = Seq(
      ("8000000000000000", "0000000000000000"),
      ("ffffffffffffffff", "0000000000000000"),
      ("ffffffffffffffff", "7fffffffffffffff"),
      ("8f0f0f0f0f0f0f0f", "f0f0f0f0f0f0f0f0"),
      ("c3a5e1f09b2d4786", "d3a5e1f09b2d4787"),
      ("9e3779b97f4a7c15", "a3779b97f4a7c159")) ++
      sigs.values.filter(_.head >= '8').toSeq.sorted.sliding(2).map(p => (p.head, p.last))
    val got = pairs.toDF("a", "b")
      .select(hasher.hammingDistance(col("a"), col("b")))
      .as[Int].collect().toSeq
    assert(got === pairs.map { case (a, b) => hamming(a, b) })
    val nul = Seq(("8000000000000000", null: String)).toDF("a", "b")
      .select(hasher.hammingDistance(col("a"), col("b"))).head()
    assert(nul.isNullAt(0))
  }

  test("pair methods on an empty frame and on all-null texts: no rows, same schema") {
    val pairSchema = hasher.nearDupPairs(signed, 3).schema
    val candSchema = hasher.candidatePairs(signed).schema
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val nulls = Seq((1L, null: String), (2L, null: String), (3L, null: String))
      .toDF("doc_id", "text")
    for ((what, in) <- Seq("empty" -> empty, "all-null" -> nulls)) {
      val s = hasher.transform(in)
      // the pair methods pin the signatures when called, so a failure on
      // these inputs would surface here, before any action
      val pairs = hasher.nearDupPairs(s, 3)
      val cands = hasher.candidatePairs(s)
      assert(pairs.schema === pairSchema, what)
      assert(cands.schema === candSchema, what)
      assert(pairs.collect().isEmpty, what)
      assert(cands.collect().isEmpty, what)
    }
  }

  test("maxDist above 3 is refused: banding is only complete up to 3") {
    intercept[IllegalArgumentException](hasher.nearDupPairs(signed, 4))
  }
}
