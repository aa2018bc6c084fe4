package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sql.functions.cosineSimilarity

/** Random-hyperplane LSH (Charikar 2002 / SimHash for real vectors) for
  * approximate cosine search: each vector gets `numPlanes` sign bits
  * (sign of the dot product with a pseudo-random hyperplane), the bits are
  * chunked into `numBands` bands, and two vectors become comparable only
  * when at least one band agrees — OR-amplified recall without any
  * all-pairs product.
  *
  * Beyond-reference operator (LLM-pipeline extension from the build brief).
  *
  * The hyperplanes are DETERMINISTIC: component d of plane r is
  * `((r*2654435761 + d*40503) mod 1009)/1009 - 0.5`, a multiplicative-hash
  * lattice that is (a) reproducible across runs/engines so the SQL oracle
  * can replay bucketing exactly, and (b) expressible as a Catalyst
  * higher-order function, so signatures are computed inside codegen with no
  * UDF and no materialized plane matrix.
  *
  * Recall (P[some band agrees] for angle θ, b bands × r rows):
  * `1 - (1 - (1-θ/π)^r)^b` — e.g. cosine 0.99 with 4×8: ≈0.99.
  *
  * Scale: signatures are one narrow projection, pinned once per vector
  * before a self-join ([[graft.sql.PairJoins.bandedSelfPairs]]); the
  * candidate join keys on (band, bandSig) — bounded bucket sizes set by
  * numPlanes/numBands; verification computes exact cosine for candidates
  * only.
  */
class RandomHyperplaneLSH(
    numPlanes: Int,
    numBands: Int,
    idCol: String = "vec_id",
    vecCol: String = "embedding") {
  require(numPlanes % numBands == 0,
    s"numBands ($numBands) must divide numPlanes ($numPlanes)")

  private val rowsPerBand = numPlanes / numBands

  private def dvec(c: Column): Column = c.cast("array<double>")

  /** Per-vector sign-bit string of length numPlanes ('1' = positive side).
    * A native codegen expression — the higher-order-function formulation
    * (zip_with + aggregate) computes the identical bits but runs on the
    * interpreted fallback path, ~10× slower on this numPlanes×dim loop.
    */
  private def signatureExpr: Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.sql.expressions.HyperplaneSignature(
        org.apache.spark.sql.GraftBridge.expression(dvec(col(vecCol))),
        numPlanes))

  /** (id, sig, vec): one row per vector. The input is spread to full
    * parallelism first — the signature kernel is CPU-bound and a
    * single-split input would serialize it.
    */
  private def signed(vectors: DataFrame): DataFrame =
    graft.sql.functions.spread(vectors, col(idCol))
      .select(col(idCol), signatureExpr.as("sig"), dvec(col(vecCol)).as("vec"))

  /** Band b's key: its `rowsPerBand` sign bits of `sig`. */
  private def bandKeys: Column =
    graft.sql.PairJoins.bandKeys(numBands)(b =>
      substring(col("sig"), b * rowsPerBand + 1, rowsPerBand))

  /** (id, band, bandSig): one row per vector per band. */
  def bandSignatures(vectors: DataFrame): DataFrame =
    signed(vectors).select(col(idCol), explode(bandKeys).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("bandSig"))

  /** Distinct candidate pairs (id_a < id_b) sharing at least one band.
    * Runs the jobs that pin each signature once when called.
    */
  def candidatePairs(vectors: DataFrame): DataFrame =
    graft.sql.PairJoins.bandedSelfPairs(
      signed(vectors).select(col(idCol), col("sig")), idCol, bandKeys).distinct()

  /** Near-duplicate pairs with exact cosine ≥ threshold, candidates from
    * band buckets only. Each vector is signed once and carried through the
    * band join as payload, so nothing joins back to the corpus; the pair
    * dedup runs before the cosine, once per candidate pair. Runs the jobs
    * that pin the (id, sig, vec) rows when called.
    */
  def nearDupPairs(vectors: DataFrame, threshold: Double): DataFrame =
    graft.sql.PairJoins.bandedSelfPairs(
      signed(vectors), idCol, bandKeys, payload = Seq("vec"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        cosineSimilarity(col("vec_a"), col("vec_b")).as("cosine"))
      .where(col("cosine") >= threshold)

  /** Cross-corpus near-dup pairs (id_l, id_r, cosine ≥ threshold):
    * left/right meet ONLY through shared band buckets — the embedding-
    * space decontamination join (eval-set vectors against a training
    * corpus), where the lexical `ContaminationChecker` would miss
    * paraphrases. Both sides shuffle once on band keys; within-side pairs
    * are never formed.
    */
  def crossPairs(left: DataFrame, right: DataFrame, threshold: Double): DataFrame = {
    val lb = bandSignatures(left).select(col(idCol).as("id_l"), col("band"), col("bandSig"))
    val rb = bandSignatures(right).select(col(idCol).as("id_r"), col("band"), col("bandSig"))
    val pairs = lb.join(rb, Seq("band", "bandSig"))
      .select(col("id_l"), col("id_r")).distinct()
    val lv = left.select(col(idCol).as("id_l"), dvec(col(vecCol)).as("lv"))
    val rv = right.select(col(idCol).as("id_r"), dvec(col(vecCol)).as("rv"))
    pairs.join(lv, "id_l").join(rv, "id_r")
      .select(col("id_l"), col("id_r"),
        cosineSimilarity(col("lv"), col("rv")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Approximate top-k: queries joined to candidates through shared band
    * buckets (the scale path — both sides shuffle on band keys, queries
    * need not be broadcast-small).
    */
  def searchTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val qb = bandSignatures(queries)
      .select(col(idCol).as("query_id"), col("band"), col("bandSig"))
    val cb = bandSignatures(candidates)
    val pairs = qb.join(cb, Seq("band", "bandSig"))
      .where(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol)).distinct()
    val qv = queries.select(col(idCol).as("query_id"), dvec(col(vecCol)).as("qv"))
    val cv = candidates.select(col(idCol), dvec(col(vecCol)).as("cv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col(idCol))
    pairs.join(qv, "query_id").join(cv, idCol)
      .select(col("query_id"), col(idCol),
        cosineSimilarity(col("qv"), col("cv")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }
}
