package graft.dedup

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable, Identifiable}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** 64-bit SimHash (Charikar 2002) document fingerprints from Catalyst
  * expressions only: tokenize, hash each token with md5 (frequency-weighted
  * via row multiplicity), majority-vote each of the 64 bits, emit a 16-char
  * hex signature. Near-duplicates are documents within small Hamming
  * distance; `candidatePairs` banding over 4×16-bit chunks finds every pair
  * with distance ≤ 3 (pigeonhole) without an all-pairs product.
  *
  * Beyond-reference operator (LLM-pipeline extension from the build brief).
  * md5 (not a JVM-private hash) keeps the signature replayable by the SQL
  * correctness oracle.
  *
  * Scale: `transform` is one `spread` shuffle (by id, only for inputs with
  * fewer files than cores) feeding the row-local [[graft.sql.expressions.SimHash64]]
  * kernel. The pair search parses each signature to its 64-bit value and
  * hands the (id, long) rows to [[graft.sql.PairJoins.bandedSelfPairs]],
  * which pins them once per document, explodes four 16-bit slices of
  * each as band keys, and broadcast-joins the band rows on them;
  * each band collision then costs one xor + popcount (305,608 collisions
  * for 1,364 pairs at sf0.1). The pin keeps the kernel at one evaluation
  * per document (q36 at sf0.1: ~2.5 core-s of tasks unpinned, ~1.3
  * pinned). The pinned frame reports no id partitioning, so the final
  * `distinct` adds a hash exchange.
  */
class SimHasher(override val uid: String) extends Transformer
    with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("simhash"))

  final val idCol: Param[String] = new Param[String](this, "idCol", "Document id column")
  final val textCol: Param[String] = new Param[String](this, "textCol", "Text column")
  final val outputCol: Param[String] = new Param[String](this, "outputCol",
    "Output signature column (16 hex chars)")

  setDefault(idCol -> "doc_id", textCol -> "text", outputCol -> "simhash")

  def setIdCol(value: String): this.type = set(idCol, value)
  def setTextCol(value: String): this.type = set(textCol, value)
  def setOutputCol(value: String): this.type = set(outputCol, value)

  /** (id, simhash) — one row per input id. The signature is a native
    * row-local expression ([[graft.sql.expressions.SimHash64]]): no token
    * explode, no 64-column vote aggregate, no shuffle.
    */
  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema)
    val sig = org.apache.spark.sql.GraftBridge.column(
      graft.sql.expressions.SimHash64(
        org.apache.spark.sql.GraftBridge.expression(
          TextNormalizer.tokens(col($(textCol))))))
    // spread: the md5-per-token kernel is CPU-bound; a single-split input
    // would run it on one task (and once per downstream consumer)
    graft.sql.functions
      .spread(dataset.select(col($(idCol)), col($(textCol))), col($(idCol)))
      .select(col($(idCol)), sig.as($(outputCol)))
  }

  /** The 64 signature bits of a 16-hex-char signature as a long; a first
    * digit `8`–`f` gives a negative long (`conv` to base -10 reads the
    * digits as a signed two's-complement value, where an unsigned parse
    * of all 16 would overflow).
    */
  private def sigBits(sig: Column): Column = conv(sig, 16, -10).cast("long")

  private def popXor(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Hamming distance between two 16-hex-char signatures (0..64). */
  def hammingDistance(a: Column, b: Column): Column = popXor(sigBits(a), sigBits(b))

  /** (id_a, id_b[, sig_a, sig_b]): the pairs sharing a band. Each
    * signature is parsed once per document to its long `sig` and pinned
    * (see Scale in the class doc); band `b`'s key is the 16-bit slice
    * holding hex chars `4*b+1 .. 4*b+4`.
    */
  private def bandPairs(signed: DataFrame, payload: Seq[String]): DataFrame =
    graft.sql.PairJoins.bandedSelfPairs(
      signed.select(col($(idCol)), sigBits(col($(outputCol))).as("sig")), $(idCol),
      graft.sql.PairJoins.bandKeys(4)(b =>
        shiftrightunsigned(col("sig"), 48 - 16 * b).bitwiseAND(65535L)),
      payload)

  /** Near-duplicate pairs with exact Hamming distance ≤ maxDist, candidates
    * from band buckets only (complete for maxDist ≤ 3 by pigeonhole).
    * The long signatures ride through the band join, so there is no join
    * back to the corpus; each band collision is verified by one xor +
    * popcount on them, then surviving pairs dedup on (id_a, id_b, hamming).
    * Runs jobs when called: the checkpoint that pins each signature once
    * before the band join (see Scale), 2 jobs for a `transform` output
    * whose input was spread (its map stage, then the checkpoint).
    */
  def nearDupPairs(signed: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist <= 3, s"banding only guarantees completeness for maxDist <= 3, got $maxDist")
    bandPairs(signed, payload = Seq("sig"))
      .select(col("id_a"), col("id_b"),
        popXor(col("sig_a"), col("sig_b")).as("hamming"))
      .where(col("hamming") <= maxDist)
      .distinct()
  }

  /** Pairs of ids whose signatures agree on at least one of the four 16-bit
    * bands — a superset of all pairs with Hamming distance ≤ 3.
    * Runs the same 2 pinning jobs when called as [[nearDupPairs]].
    */
  def candidatePairs(signed: DataFrame): DataFrame =
    bandPairs(signed, payload = Nil).distinct()

  override def transformSchema(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(idCol)), s"id column ${$(idCol)} not found")
    require(schema($(textCol)).dataType == StringType,
      s"text column must be string, got ${schema($(textCol)).dataType}")
    StructType(Seq(schema($(idCol)), StructField($(outputCol), StringType)))
  }

  override def copy(extra: ParamMap): SimHasher = defaultCopy(extra)
}

object SimHasher extends DefaultParamsReadable[SimHasher]
