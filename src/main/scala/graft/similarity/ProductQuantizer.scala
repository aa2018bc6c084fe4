package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011): split each d-dim vector into `m`
  * contiguous subvectors, learn a small codebook per subspace, and store
  * each vector as `m` small codes — the 8-32× compression that makes
  * billion-vector ANN memory-resident. Complements [[IvfCosineIndex]]
  * (IVF prunes WHICH vectors to score; PQ shrinks WHAT is scored) and the
  * scalar [[EmbeddingQuantizer]] (per-component int8; PQ trades more
  * compression for a learned codebook).
  *
  * Beyond-reference operator (LLM-pipeline extension from the build brief).
  *
  * Deterministic, oracle-replayable training (the [[IvfCosineIndex]]
  * discipline): per subspace, seed centroids are the `k` lowest-id
  * vectors' slices refined by ONE Lloyd step under squared-L2; argmin
  * ties break to the lowest code. Distances are SEQUENTIAL left-folds
  * over the 8-dim slices (`aggregate(zip_with(...))`), so both engines
  * add the same terms in the same order.
  *
  * Scale: codebooks are m×k rows (broadcast); training is one streamed
  * assignment pass + one partial-aggregated vector mean per (subspace,
  * code); encoding is row-local against the broadcast codebook. Nothing
  * shuffles but the tiny codebook aggregation. ADC query scoring
  * ([[adcSearch]]) builds a per-query distance table (m×k entries) and
  * scores codes with lookups — never touching raw vectors.
  */
class ProductQuantizer(
    numSubspaces: Int,
    codebookSize: Int,
    dim: Int,
    idCol: String = "vec_id",
    vecCol: String = "embedding") {
  require(numSubspaces > 0 && dim % numSubspaces == 0,
    s"dim ($dim) must divide into numSubspaces ($numSubspaces)")
  require(codebookSize > 0, "codebookSize must be positive")

  private val subDim = dim / numSubspaces

  /** Squared L2 between two equal-length ARRAY<DOUBLE>s — the native
    * codegen kernel; accumulates in index order, bit-identical to a
    * sequential left-fold (engine-replayable summation order).
    */
  private def l2sq(a: Column, b: Column): Column =
    graft.sql.functions.squaredL2(a, b)

  /** (idCol, sub, slice): the m subvectors of each input vector. */
  private def slices(vectors: DataFrame): DataFrame =
    graft.sql.functions.spread(
      vectors.select(col(idCol),
        posexplode(expr(
          s"transform(sequence(0, ${numSubspaces - 1}), j -> slice($vecCol, j * $subDim + 1, $subDim))"))
          .as(Seq("sub", "slice")))
        .select(col(idCol), col("sub"), col("slice").cast("array<double>").as("slice")),
      col(idCol))

  /** Learned codebooks (sub, code, centroid): per-subspace k-lowest-id
    * seeds + one Lloyd step. `code` is the seed's rank (0-based) in id
    * order, so codes are dense 0..k-1 in every subspace.
    */
  def fit(vectors: DataFrame): DataFrame = {
    val s = slices(vectors)
    // code = rank of the seed id among the k lowest ids (shared Seeding
    // idiom — no global window node anywhere); only the id column rides
    // the TakeOrdered, the slices join back from `s` by id
    val seedIds = Seeding.kLowestIdRanks(
      vectors.select(col(idCol)), idCol, codebookSize, "code")
    val seeds = s.join(broadcast(seedIds), idCol)
      .select(col("sub"), col("code"), col("slice").as("centroid"))
    val assigned = assign(s, seeds)
    val means = s.join(assigned, Seq(idCol, "sub"))
      .groupBy(col("sub"), col("code"))
      .agg(graft.sql.functions.vectorMean(col("slice"), Some(subDim)).as("mean"))
    // empty-cluster guard: a seed whose slice ties with a lower-code
    // identical slice wins no members (argmin ties to the lowest code)
    // and would vanish from the groupBy, breaking the documented
    // "codes are dense 0..k-1 in every subspace" contract that
    // forCodebook's countDistinct(code) relies on. Keep the seed's own
    // slice as the centroid for such clusters — the same rule
    // KMeans.refine applies.
    seeds.join(means, Seq("sub", "code"), "left")
      .select(col("sub"), col("code"),
        coalesce(col("mean"), col("centroid")).as("centroid"))
  }

  /** Production-knob codebooks: per-subspace [[KMeans]] with `iters`
    * Lloyd refinements (and optionally farthest-point seeding) instead of
    * [[fit]]'s deterministic-but-coarse 1-step training — the documented
    * path to real recall at 256 codes/subspace (Jégou et al. §V train to
    * convergence; PqRecallSpec measures what the knobs buy on the test
    * corpus). Same output contract as [[fit]] ((sub, code, centroid),
    * codes dense 0..k-1), so encode/adcSearch consume it unchanged, and
    * still deterministic (KMeans seeds and ties are id-ordered) — just
    * not 1-pass-replayable in SQL, which is why the oracle-gated queries
    * keep [[fit]].
    *
    * Cost: m separate fits, each `iters + 1` passes over its subspace
    * slice (`farthest` seeding adds k-1 top-1 passes per subspace) — an
    * OFFLINE training cost; encode/search cost is unchanged. Subspace
    * training is driver-sequenced but each fit is fully distributed, and
    * m is a small constant (8-16).
    */
  def fitKMeans(
      vectors: DataFrame,
      iters: Int,
      farthest: Boolean = false): DataFrame = {
    val s = slices(vectors)
    (0 until numSubspaces).map { j =>
      val km = new KMeans(codebookSize, iters, subDim, idCol, "slice")
      val sub = s.where(col("sub") === j)
      val cents = if (farthest) km.fitFarthest(sub) else km.fit(sub)
      cents.select(lit(j).as("sub"), col("cid").as("code"), col("centroid"))
    }.reduce(_ unionByName _)
  }

  /** (idCol, sub, code): nearest codebook entry per (vector, subspace);
    * ties to the lowest code.
    */
  private def assign(s: DataFrame, codebook: DataFrame): DataFrame =
    s.join(broadcast(codebook), "sub")
      .select(col(idCol), col("sub"), col("code"),
        l2sq(col("slice"), col("centroid")).as("d2"))
      .groupBy(col(idCol), col("sub"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))

  /** PQ codes (idCol, sub, code) for every vector under a fitted codebook
    * — long format (one row per subspace), the join-friendly layout.
    */
  def encode(vectors: DataFrame, codebook: DataFrame): DataFrame =
    assign(slices(vectors), codebook)

  /** Asymmetric-distance (ADC) top-k: exact query-to-centroid distance
    * tables (m×k per query, broadcast), approximate distance to a coded
    * vector = Σ_sub table(sub, code). Returns (query_id, idCol, adc,
    * rank ≤ k); ties to the lowest id. Queries keep full precision —
    * only the corpus is compressed (the PQ asymmetry that preserves
    * accuracy).
    */
  def adcSearch(queries: DataFrame, codes: DataFrame, codebook: DataFrame, k: Int): DataFrame =
    rankAdc(adcAll(queries, codes, codebook), k)

  /** ADC top-k restricted to an explicit candidate set (query_id, idCol) —
    * the IVF-PQ composition: [[IvfCosineIndex.probes]] × inverted lists
    * pick the candidates, PQ codes get them scored without raw vectors.
    * The semi-join runs BEFORE the distance aggregation, so only probed
    * candidates' code rows flow into the sum.
    */
  def adcSearchIn(
      queries: DataFrame,
      candidates: DataFrame,
      codes: DataFrame,
      codebook: DataFrame,
      k: Int): DataFrame = {
    val cand = candidates.select(col("query_id"), col(idCol))
    val qs = slices(queries).select(col(idCol).as("query_id"), col("sub"), col("slice"))
    val table = qs.join(broadcast(codebook), "sub")
      .select(col("query_id"), col("sub"), col("code"),
        l2sq(col("slice"), col("centroid")).as("dpart"))
    val scoredPairs = codes.join(cand, idCol)
      .join(broadcast(table), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("dpart")).as("adc"))
    rankAdc(scoredPairs, k)
  }

  private def adcAll(queries: DataFrame, codes: DataFrame, codebook: DataFrame): DataFrame = {
    val qs = slices(queries).select(col(idCol).as("query_id"), col("sub"), col("slice"))
    val table = qs.join(broadcast(codebook), "sub")
      .select(col("query_id"), col("sub"), col("code"),
        l2sq(col("slice"), col("centroid")).as("dpart"))
    codes.join(broadcast(table), Seq("sub", "code"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("dpart")).as("adc"))
  }

  /** Rank by the 1e-6-snapped ADC value (ties → lowest id): the per-pair
    * sum aggregates m rows in shuffle order, so its last ulp is engine-
    * and partitioning-dependent — on the grid, near-ties resolve
    * identically everywhere (same discipline as SemanticDeduplicator's
    * keep-key).
    */
  private def rankAdc(scored: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("adc"), col(idCol))
    scored
      .where(col("query_id") =!= col(idCol))
      .withColumn("adc", round(col("adc"), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }
}

/** Codebook persistence — the [[IvfIndex]] discipline for PQ's trained
  * artifact: a production ANN stack trains codebooks offline ONCE and
  * serves every encode/search job from the saved artifact, never
  * re-fitting at query time.
  *
  * Layout: `$path/codebook` — a single parquet file (m×k rows, tiny by
  * design) with columns `(sub int, code long, centroid array<double>)`.
  * Doubles round-trip parquet bit-exactly, so encode/ADC results from a
  * loaded codebook are hash-identical to the in-session fit
  * (ArtifactPersistenceSpec pins this). The quantizer's constructor
  * params are recoverable from the artifact itself (m = distinct `sub`,
  * k = distinct `code`, dim = m × centroid length) — no side metadata
  * file to drift out of sync.
  */
object ProductQuantizer {

  def saveCodebook(codebook: DataFrame, path: String): Unit =
    codebook.select(col("sub"), col("code"), col("centroid"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")

  def loadCodebook(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/codebook")

  /** A quantizer whose (m, k, dim) match a saved codebook — one tiny
    * aggregate over the m×k artifact, so serving code needs no
    * out-of-band record of the training-time constructor params.
    */
  def forCodebook(
      codebook: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): ProductQuantizer = {
    val r = codebook.agg(
      countDistinct(col("sub")).as("m"),
      countDistinct(col("code")).as("k"),
      max(size(col("centroid"))).as("subDim")).head()
    // loud estimator-contract failure (the KMeans/LR discipline): serving
    // from an empty codebook artifact must never silently "succeed"
    require(r.getLong(0) > 0, "cannot derive quantizer params from an empty codebook")
    new ProductQuantizer(r.getLong(0).toInt, r.getLong(1).toInt,
      (r.getLong(0) * r.getInt(2)).toInt, idCol, vecCol)
  }
}
