package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "The quick brown fox jumps over the lazy dog"),
    (2L, "the QUICK  brown fox jumps over the lazy dog!"), // exact dup of 1 after normalization
    (3L, "The quick brown fox jumps over the lazy dog and then naps"), // near dup of 1
    (4L, "completely different content about spark query engines"),
    (5L, "another unrelated document mentioning hash aggregation plans"))
    .toDF("doc_id", "text")

  test("exact dedup collapses normalization-equal texts, lowest id wins") {
    val out = new ExactDeduplicator().setIdCol("doc_id").setTextCol("text")
      .transform(docs)
    val kept = out.select("doc_id").as[Long].collect().sorted
    assert(kept === Array(1L, 3L, 4L, 5L))
  }

  test("exact dedup keepDuplicates flags instead of dropping") {
    val out = new ExactDeduplicator().setIdCol("doc_id").setTextCol("text")
      .setKeepDuplicates(true).transform(docs)
    assert(out.count() === 5)
    val canon = out.where($"is_canonical").select("doc_id").as[Long].collect().sorted
    assert(canon === Array(1L, 3L, 4L, 5L))
    // duplicates share the canonical row's fingerprint
    assert(out.select("fingerprint").distinct().count() === 4)
  }

  test("minhash finds the near-dup pair and nothing unrelated") {
    val pairs = new MinHashDeduplicator()
      .setIdCol("doc_id").setTextCol("text")
      .setShingleSize(5).setNumHashes(12).setNumBands(6).setThreshold(0.4)
      .transform(docs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists { case (a, b) => b == 4L || b == 5L || a == 4L || a == 5L })
  }

  test("minhash signature is one row per (doc, seed), nonnegative 57-bit") {
    val m = new MinHashDeduplicator().setIdCol("doc_id").setTextCol("text")
      .setNumHashes(6).setNumBands(2)
    val sig = m.signatures(docs)
    assert(sig.count() === 5 * 6)
    assert(sig.select("minhash").as[Long].collect().forall(v => v >= 0L))
  }

  test("Shingles kernel matches the declarative HOF formulation exactly") {
    import org.apache.spark.sql.GraftBridge
    import graft.sql.expressions.Shingles
    val k = 4
    val norm = TextNormalizer.normalize($"text")
    val toks = TextNormalizer.tokens($"text")
    val kernel = docs.select(
      GraftBridge.column(Shingles(GraftBridge.expression(norm), k)).as("c"),
      GraftBridge.column(Shingles(GraftBridge.expression(toks), 2)).as("t"))
    val hof = docs.select(
      expr(s"transform(sequence(1, greatest(length(${normSql}) - $k + 1, 1))," +
        s" i -> substring(${normSql}, i, $k))").as("c"),
      expr(s"transform(sequence(1, greatest(size(${toksSql}) - 1, 1))," +
        s" i -> array_join(slice(${toksSql}, i, 2), ' '))").as("t"))
    assert(kernel.collect().toSeq === hof.collect().toSeq)
    // degenerate inputs: shorter than k, empty string
    val edge = Seq((1L, "ab"), (2L, "")).toDF("doc_id", "text")
    val ek = edge.select(
      GraftBridge.column(Shingles(GraftBridge.expression(norm), k)).as("c"))
      .as[Seq[String]].collect()
    assert(ek(0) === Seq("ab") && ek(1) === Seq(""))
  }

  test("transform jaccard equals the declarative verify on a band-collision fixture") {
    // r17 regression net for the verify-path restructures (shset payload
    // carry-through + sortedDistinct/sortedIntersectCount): transform()
    // must equal an INDEPENDENT reference — candidates from
    // candidatePairs, verified by declarative-HOF shingle sets and
    // array_intersect/array_union — on a fixture with band collisions
    // (docs 1/2 are exact dups: every band collides; 1/3 near dups).
    val k = 5
    val thr = 0.3
    val m = new MinHashDeduplicator()
      .setIdCol("doc_id").setTextCol("text")
      .setShingleSize(k).setNumHashes(12).setNumBands(6).setThreshold(thr)
    val got = m.transform(docs)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val sets = docs.select($"doc_id", array_distinct(
      expr(s"transform(sequence(1, greatest(length($normSql) - $k + 1, 1))," +
        s" i -> substring($normSql, i, $k))")).as("ss"))
    val want = m.candidatePairs(docs)
      .join(sets.select($"doc_id".as("id_a"), $"ss".as("sa")), "id_a")
      .join(sets.select($"doc_id".as("id_b"), $"ss".as("sb")), "id_b")
      .select($"id_a", $"id_b",
        (size(array_intersect($"sa", $"sb")).cast("double") /
          size(array_union($"sa", $"sb"))).as("jaccard"))
      .where($"jaccard" >= thr)
      .as[(Long, Long, Double)].collect().toSet
    assert(want.nonEmpty && got === want)
  }

  test("minhash candidatePairs equal the md5 band-digest join they replace") {
    // the band key is the seed-ordered slice itself; the reference keys
    // each band by the md5 of its comma-joined minima (the digest the SQL
    // oracle also computes) — equal slices are exactly equal digests
    import org.apache.spark.sql.GraftBridge
    import graft.sql.expressions.Shingles
    val (k, numHashes, numBands) = (5, 12, 6)
    val rowsPerBand = numHashes / numBands
    // two-word variants of one sentence: pairs whose bands agree in some
    // but not all of their minima, so a key that dropped or reordered
    // minima would change the candidate set
    val words = "the quick brown fox jumps over the lazy dog while a cat sleeps".split(" ")
    val variants = (10 until 30).map(i => (i.toLong,
      words.updated(i % words.length, s"w$i").updated(i * 7 % words.length, s"v$i")
        .mkString(" ")))
    val more = docs.union((variants :+ (8L, null: String)).toDF("doc_id", "text"))
    val m = new MinHashDeduplicator().setIdCol("doc_id").setTextCol("text")
      .setShingleSize(k).setNumHashes(numHashes).setNumBands(numBands)
    val bands = more.select($"doc_id", MinHashDeduplicator.signature(
        GraftBridge.column(Shingles(GraftBridge.expression(TextNormalizer.normalize($"text")), k)),
        numHashes).as("mh"))
      .select($"doc_id", explode_outer(expr(
        s"""transform(sequence(0, ${numBands - 1}),
           |  b -> struct(CAST(b AS INT) AS band,
           |    md5(array_join(transform(slice(mh, b * $rowsPerBand + 1, $rowsPerBand),
           |      x -> CAST(x AS STRING)), ',')) AS bandSig))""".stripMargin)).as("bs"))
      .select($"doc_id", $"bs.band".as("band"), $"bs.bandSig".as("bandSig"))
    val want = bands.select($"doc_id".as("id_a"), $"band", $"bandSig")
      .join(bands.select($"doc_id".as("id_b"), $"band", $"bandSig"), Seq("band", "bandSig"))
      .where($"id_a" < $"id_b").select("id_a", "id_b").distinct()
      .as[(Long, Long)].collect().toSet
    val got = m.candidatePairs(more).as[(Long, Long)].collect().toSet
    assert(want.contains((1L, 2L)) && want.size > 1 && !want.exists(_._2 == 8L))
    assert(got === want)
  }

  test("minhash transform on an empty frame and on null texts: no rows, same schema") {
    val m = new MinHashDeduplicator().setIdCol("doc_id").setTextCol("text")
      .setShingleSize(5).setNumHashes(12).setNumBands(6).setThreshold(0.0)
    val schema = m.transform(docs).schema
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val nulls = Seq((1L, null: String), (2L, null: String), (3L, null: String))
      .toDF("doc_id", "text")
    for ((what, in) <- Seq("empty" -> empty, "all-null" -> nulls)) {
      // transform pins the signatures when called, so a failure on these
      // inputs would surface here, before any action
      val pairs = m.transform(in)
      val cands = m.candidatePairs(in)
      assert(pairs.schema === schema, what)
      assert(pairs.collect().isEmpty, what)
      assert(cands.collect().isEmpty, what)
    }
  }

  // mirrors TextNormalizer.normalize as Spark SQL text: whitespace map
  // (the Spark-flavored translate fragment — chr() is mod-256 in Spark,
  // so the DuckDB oracles' chr-concat form would silently map the wrong
  // chars here) BEFORE the punct strip
  private val normSql =
    "trim(regexp_replace(regexp_replace(translate(lower(text), " +
      s"${TextNormalizer.sparkSqlTranslateArgs}), '[^a-z0-9 ]', ''), ' +', ' '))"
  private val toksSql = s"split($normSql, ' ')"

  test("normalize maps newlines/tabs to spaces BEFORE stripping punct") {
    // stripping first would DELETE the newline and fuse the words:
    // "Hello\nWorld" -> "helloworld", deduping against "HelloWorld"
    // instead of "Hello World"
    val edge = Seq(
      (1L, "Hello\nWorld"), (2L, "Hello\tWorld"), (3L, "Hello\r\n  World!"),
      (4L, "HelloWorld"), (5L, "Hello World")).toDF("doc_id", "text")
    val out = edge.select($"doc_id", TextNormalizer.normalize($"text").as("n"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) === "hello world")
    assert(out(2L) === "hello world")
    assert(out(3L) === "hello world")
    assert(out(4L) === "helloworld") // no whitespace — genuinely fused
    assert(out(5L) === "hello world")
    // and the SQL-text replica (the oracle shape) agrees on every row
    val sqlOut = edge.selectExpr("doc_id", s"$normSql AS n")
      .as[(Long, String)].collect().toMap
    assert(sqlOut === out)
  }

  test("normalize treats Unicode whitespace as whitespace (NBSP et al.)") {
    // HTML-derived corpora are full of NBSP; an ASCII-only \\s sent it
    // to the [^a-z0-9 ] strip, FUSING the neighbors — "Hello\u00a0World"
    // fingerprinted differently from "Hello World". The full White_Space
    // set must behave exactly like a plain space; ZWSP U+200B is a Cf
    // format char (NOT White_Space) and must still strip/fuse. Escape
    // sequences, not literal chars: a literal U+2028 in source IS a line
    // terminator to scalac.
    val seps = Seq('\u00a0', '\u2009', '\u3000', '\u2028', '\u0085', '\u202f')
    val rows = (Seq(1L -> "Hello World", 8L -> "Hello\u200bWorld") ++
      seps.zipWithIndex.map { case (c, i) => (i + 2L) -> ("Hello" + c + "World") })
      .toDF("doc_id", "text")
    val out = rows.select($"doc_id", TextNormalizer.normalize($"text").as("n"))
      .as[(Long, String)].collect().toMap
    (1L to 7L).foreach(id => assert(out(id) === "hello world", s"doc $id"))
    assert(out(8L) === "helloworld") // ZWSP fuses
    // the driver-side regex class (PhraseMatcher's path) and the
    // translate codepoint set are the SAME whitespace definition
    TextNormalizer.WhitespaceCodepoints.foreach { cp =>
      assert(cp.toChar.toString.matches(TextNormalizer.UnicodeWhitespace),
        f"U+$cp%04X in codepoints but not in the regex class")
    }
    Seq(0x200B, 0x180E, 'a'.toInt).foreach { cp =>
      assert(!cp.toChar.toString.matches(TextNormalizer.UnicodeWhitespace),
        f"U+$cp%04X must NOT be whitespace")
      assert(!TextNormalizer.WhitespaceCodepoints.contains(cp))
    }
    // the SQL-text replica (the oracle shape) agrees on every row
    val sqlOut = rows.selectExpr("doc_id", s"$normSql AS n")
      .as[(Long, String)].collect().toMap
    assert(sqlOut === out)
    // and the dedup identity holds end-to-end: the NBSP doc collapses
    // onto its space-separated original
    val kept = new ExactDeduplicator().setIdCol("doc_id").setTextCol("text")
      .transform(rows.filter($"doc_id" <= 2))
      .select("doc_id").as[Long].collect().toSeq
    assert(kept === Seq(1L))
  }

  test("simhash: identical docs agree, near dups are close, unrelated far") {
    def hamming(a: String, b: String): Int =
      a.zip(b).map { case (x, y) =>
        Integer.bitCount(Integer.parseInt(x.toString, 16) ^ Integer.parseInt(y.toString, 16))
      }.sum
    val sh = new SimHasher().setIdCol("doc_id").setTextCol("text")
      .transform(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sh(1L) === sh(2L)) // normalization-identical → same 64 bits
    assert(hamming(sh(1L), sh(3L)) < hamming(sh(1L), sh(4L)))
    assert(sh.values.forall(_.length === 16))
  }

  test("simhash candidatePairs finds low-hamming pairs via banding") {
    val hasher = new SimHasher().setIdCol("doc_id").setTextCol("text")
    val signed = hasher.transform(docs)
    val pairs = hasher.candidatePairs(signed)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical signature → all bands collide
  }

  test("plans are bucketed joins, not cartesian products") {
    val m = new MinHashDeduplicator().setIdCol("doc_id").setTextCol("text")
    val plan = m.transform(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian in:\n$plan")
  }
}
