package graft.dedup

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable, Identifiable}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Near-duplicate detection via MinHash + locality-sensitive banding over
  * character shingles — the shingle → minhash → band → bucket-join pipeline
  * of Broder's "On the resemblance and containment of documents" (1997),
  * built entirely from Catalyst expressions.
  *
  * Beyond-reference operator (LLM-pipeline extension from the build brief).
  *
  * Stages (each a narrow transformation or a keyed shuffle — NEVER an
  * all-pairs product):
  *
  *  1. '''shingles''': explode positions 1..len-k+1, substring k chars,
  *     distinct per doc.
  *  2. '''minhash''': ONE md5 per shingle, split into two 56-bit halves
  *     (h1, h2); seed j's hash is g_j = (h1 + j*h2) mod 2^56 (Kirsch-
  *     Mitzenmacher double hashing — the wrap-around is what decorrelates
  *     the per-seed argmins; without it g_j is monotone in j and every
  *     seed picks the same shingle). One md5 instead of numHashes of them;
  *     md5 keeps the base hash deterministic AND replayable by the SQL
  *     oracle — no JVM-private hash function. Partial aggregation makes
  *     the shuffle carry only (doc, seed) minima, not doc×shingle rows.
  *  3. '''bands''': the numHashes signatures are chunked into numBands
  *     groups; each band's key is its seed-ordered slice of minhashes.
  *  4. '''candidates''': equi-join docs on (band, key) — bucketed;
  *     two docs compare only if at least one band collides.
  *  5. '''verify''': exact shingle-set Jaccard on the candidates only;
  *     pairs ≥ threshold survive.
  *
  * Scale: each document is shingled and signed once, and its (mh, shset)
  * row pinned before the band join ([[graft.sql.PairJoins.bandedSelfPairs]]);
  * the join keys on (band, slice) — uniformly distributed minima; bucket
  * sizes are the LSH collision groups (tunable via numBands/rowsPerBand),
  * so the quadratic blowup is confined to genuinely similar clusters.
  * Verification reads the shingle sets carried through the join.
  */
class MinHashDeduplicator(override val uid: String) extends Transformer
    with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("minhashDedup"))

  final val idCol: Param[String] = new Param[String](this, "idCol", "Document id column")
  final val textCol: Param[String] = new Param[String](this, "textCol", "Text column")
  final val shingleSize: IntParam = new IntParam(this, "shingleSize",
    "Shingle width k (characters or tokens, per shingleMode)",
    ParamValidators.gtEq(2))
  final val shingleMode: Param[String] = new Param[String](this, "shingleMode",
    "Shingle unit: char (k-char substrings) | token (word k-grams)",
    ParamValidators.inArray(Array("char", "token")))
  final val numHashes: IntParam = new IntParam(this, "numHashes",
    "Number of minhash functions", ParamValidators.gtEq(2))
  final val numBands: IntParam = new IntParam(this, "numBands",
    "Number of LSH bands (must divide numHashes)", ParamValidators.gtEq(1))
  final val threshold: DoubleParam = new DoubleParam(this, "threshold",
    "Verified Jaccard similarity threshold", ParamValidators.inRange(0.0, 1.0))

  setDefault(idCol -> "doc_id", textCol -> "text", shingleMode -> "char",
    shingleSize -> 8, numHashes -> 12, numBands -> 4, threshold -> 0.5)

  def setIdCol(value: String): this.type = set(idCol, value)
  def setTextCol(value: String): this.type = set(textCol, value)
  def setShingleSize(value: Int): this.type = set(shingleSize, value)
  def setShingleMode(value: String): this.type = set(shingleMode, value)
  def setNumHashes(value: Int): this.type = set(numHashes, value)
  def setNumBands(value: Int): this.type = set(numBands, value)
  def setThreshold(value: Double): this.type = set(threshold, value)

  private def id: Column = col($(idCol))

  /** (id, text) fanned out to full parallelism: the shingle/minhash kernels
    * are CPU-bound, and a small input (one parquet split) would otherwise
    * run them on 1-3 tasks. The explicit exchange is also reused by the
    * signature and verification consumers of the same subtree.
    */
  private def input(dataset: Dataset[_]): DataFrame =
    graft.sql.functions.spread(dataset.select(id, col($(textCol))), id)

  /** Distinct character k-shingles per document: (id, shingle).
    * OUTER explode on purpose — the shingle array is provably non-empty,
    * and a plain explode would let InferFiltersFromGenerate clone the
    * kernel into a per-row scan filter (the measured 50× trap).
    */
  def shingles(dataset: Dataset[_]): DataFrame =
    shingleArray(dataset)
      .select(id, explode_outer(col("sh")).as("shingle"))
      .distinct()

  /** Per-document shingle ARRAY (multiset — duplicates don't affect
    * minima). The k-gram fan-out is a native codegen kernel
    * ([[graft.sql.expressions.Shingles]]); the equivalent
    * `transform(sequence(...), ...)` higher-order chain runs interpreted
    * (CodegenFallback) and dominated this stage's profile.
    */
  private def shingleArray(dataset: Dataset[_]): DataFrame = {
    val k = $(shingleSize)
    val unit = $(shingleMode) match {
      case "char" => TextNormalizer.normalize(col($(textCol)))
      case "token" => TextNormalizer.tokens(col($(textCol)))
    }
    input(dataset).select(id,
      org.apache.spark.sql.GraftBridge.column(
        graft.sql.expressions.Shingles(
          org.apache.spark.sql.GraftBridge.expression(unit), k)).as("sh"))
  }

  /** (id, shset, mh): one row per document, its shingle array derived
    * once into the verify's distinct shingle set (sortedDistinct: the same
    * element set as array_distinct, sorted once per document, so the
    * per-pair verify merge-counts) and its seed-ordered signature array.
    */
  private def signed(dataset: Dataset[_]): DataFrame =
    shingleArray(dataset).select(id,
      graft.sql.functions.sortedDistinct(col("sh")).as("shset"),
      MinHashDeduplicator.signature(col("sh"), $(numHashes)).as("mh"))

  /** MinHash signatures: (id, seed, minhash) — one row per doc per seed.
    * All numHashes minima come from ONE row-local pass over the shingle
    * array ([[graft.sql.expressions.MinHashSignature]]): no shingle×seed
    * explode, no aggregation shuffle.
    */
  def signatures(dataset: Dataset[_]): DataFrame =
    signed(dataset)
      // OUTER explode on purpose: InferFiltersFromGenerate would otherwise
      // duplicate the whole signature expression into a per-row
      // size(...) > 0 scan filter (measured 50× slowdown); the signature
      // array is always non-empty so the rows are identical.
      .select(id, posexplode_outer(col("mh")))
      .select(id, col("pos").cast("int").as("seed"), col("col").as("minhash"))

  /** (id_a, id_b[, <p>_a, <p>_b]) sharing a band key, each document's
    * (mh, payload) row pinned once before the band join.
    */
  private def bandPairs(dataset: Dataset[_], payload: Seq[String]): DataFrame =
    graft.sql.PairJoins.bandedSelfPairs(
      signed(dataset).select(id +: col("mh") +: payload.map(col): _*), $(idCol),
      MinHashDeduplicator.bandKeys(col("mh"), $(numHashes), $(numBands)), payload)

  /** Candidate pairs (idA < idB) sharing at least one band key. Runs the
    * pin's jobs when called.
    */
  def candidatePairs(dataset: Dataset[_]): DataFrame =
    bandPairs(dataset, payload = Nil).distinct()

  /** Verified near-duplicate pairs: (id_a, id_b, jaccard ≥ threshold).
    * Verification is row-local set math over the candidates' DISTINCT
    * shingle-set arrays (sortedDistinct, matching the oracle's DISTINCT
    * semantics exactly) — no distinct-shingle shuffle, no per-shingle
    * intersection join; only the ~candidate-count rows do real work.
    * Runs the pin's jobs when called.
    */
  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema)
    // The shingle set rides through the band join as payload, so nothing
    // joins back to the corpus. Dedup runs BEFORE the verify (one
    // arbitrary collision row per pair survives; shset is identical on
    // every collision of the same pair), and the jaccard filter cannot be
    // pushed below the dedup's first()-aggregate barrier, so the
    // intersect is computed exactly once per candidate pair.
    bandPairs(dataset, payload = Seq("shset"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("inter",
        graft.sql.functions.sortedIntersectCount(col("shset_a"), col("shset_b")))
      .select(col("id_a"), col("id_b"),
        (col("inter") / (size(col("shset_a")) + size(col("shset_b")) - col("inter")))
          .as("jaccard"))
      .where(col("jaccard") >= $(threshold))
  }

  override def transformSchema(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(idCol)), s"id column ${$(idCol)} not found")
    require(schema($(textCol)).dataType == StringType,
      s"text column must be string, got ${schema($(textCol)).dataType}")
    val idType = schema($(idCol)).dataType
    StructType(Seq(
      StructField("id_a", idType), StructField("id_b", idType),
      StructField("jaccard", DoubleType)))
  }

  override def copy(extra: ParamMap): MinHashDeduplicator = defaultCopy(extra)
}

object MinHashDeduplicator extends DefaultParamsReadable[MinHashDeduplicator] {

  /** The `numHashes` seed-ordered minima of a shingle array
    * ([[graft.sql.expressions.MinHashSignature]]).
    */
  def signature(shingles: Column, numHashes: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.sql.expressions.MinHashSignature(
        org.apache.spark.sql.GraftBridge.expression(shingles), numHashes))

  /** The `numBands` band keys of a signature array `mh`, as
    * `array<struct<band, key>>`: band b's key is its seed-ordered slice
    * `slice(mh, b*r + 1, r)` of r = numHashes / numBands minima, compared
    * as an array. Two documents collide in a band exactly when their
    * slices are equal, so no digest of the slice is needed.
    */
  def bandKeys(mh: Column, numHashes: Int, numBands: Int): Column = {
    val rowsPerBand = numHashes / numBands
    require(rowsPerBand * numBands == numHashes,
      s"numBands ($numBands) must divide numHashes ($numHashes)")
    graft.sql.PairJoins.bandKeys(numBands)(b => slice(mh, b * rowsPerBand + 1, rowsPerBand))
  }
}
