package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sql.expressions.NearestCell
import graft.sql.functions.vectorMean

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
  * The trained-quantizer invariants it shares with [[KMeans]] and
  * [[IvfCosineIndex]]:
  *  - one slicing: `subvectors` is each vector's m slices as one
  *    `array<array<double>>`; everything per-subspace reads it;
  *  - cells are driver rows: the seeds are the `k` lowest-id vectors from
  *    one top-k collect (code = the seed id's dense 0-based rank, so codes
  *    are dense 0..k-1 in every subspace), refined by ONE Lloyd step under
  *    squared L2 whose means are one collect; the codebook is m×k rows;
  *  - one kernel: [[fit]] and [[encode]] pick each subspace's code
  *    row-locally with [[NearestCell]]'s `L2ArgMin` against that subspace's
  *    cells as literals (ties to the lowest code, a null distance nearest),
  *    with no join and no shuffle; [[encode]] is an eager snapshot of the
  *    codebook it is given;
  *  - the keep rule: a code that wins no members keeps its seed slice, as
  *    in [[KMeans]], so k never shrinks ([[IvfCosineIndex]] drops such a
  *    cell instead).
  * Distances accumulate in index order, so both engines add the same
  * terms in the same order. ADC query scoring ([[adcSearch]]) builds a
  * per-query distance table (m×k entries) and scores codes with lookups —
  * never touching raw vectors.
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

  /** `vecCol`'s m contiguous subvectors, `array<array<double>>`. One
    * `slice` per subspace, not a lambda: `vecCol` is then referenced m
    * times, so an expensive `vecCol` (OPQ's rotation) is not inlined into
    * a lambda that would run it once per subspace.
    */
  private def subvectors: Column = array((0 until numSubspaces).map(j =>
    slice(col(vecCol), j * subDim + 1, subDim)): _*).cast("array<array<double>>")

  /** (idCol, sv) spread to full parallelism: each row evaluates m×k
    * distance kernels, which a single-split input would serialize.
    */
  private def corpus(vectors: DataFrame): DataFrame =
    graft.sql.functions.spread(vectors.select(col(idCol), subvectors.as("sv")), col(idCol))

  /** (idCol, sub, slice): the m subvectors of each input vector. `sv`
    * always holds m slices, so the outer explode keeps the same rows; it
    * infers no `size(sv) > 0` scan filter that re-runs an expensive
    * `vecCol` there.
    */
  private def slices(vectors: DataFrame): DataFrame =
    corpus(vectors).select(col(idCol), posexplode_outer(col("sv")).as(Seq("sub", "slice")))

  /** `e` (idCol, sv) as one row per (vector, subspace with cells):
    * (idCol, sv, sub, code), `code` the subspace's nearest cell.
    */
  private def coded(e: DataFrame, cells: Map[Int, Array[Row]]): DataFrame = {
    val subs = (0 until numSubspaces).filter(cells.contains)
    val codes = subs.map(j => struct(lit(j).as("sub"), NearestCell.column(
      NearestCell.L2ArgMin, col("sv")(j), cells(j))("cid").as("code")))
    if (codes.isEmpty)
      e.select(col(idCol), col("sv"), lit(0).as("sub"), lit(null).cast("long").as("code"))
        .where(lit(false))
    else e.withColumn("a", explode(array(codes: _*)))
      .select(col(idCol), col("sv"), col("a.sub").as("sub"), col("a.code").as("code"))
  }

  /** Learned codebooks (sub, code, centroid) as a local frame: per
    * subspace, the k lowest-id seeds' slices + one Lloyd step, under the
    * keep rule. Empty when no id is non-null.
    */
  def fit(vectors: DataFrame): DataFrame = {
    val seeds = Seeding.seedRows(vectors, idCol, subvectors, codebookSize)
    def slice(seed: Row, j: Int) = seed.getSeq[Any](1)(j)
    val cells = (0 until numSubspaces).map(j => j -> seeds.map(r => Row(r.get(0), slice(r, j)))).toMap
    // rows with a null id stay out of the means
    val means = if (seeds.isEmpty) Map.empty[(Int, Long), Any]
      else coded(corpus(vectors).where(col(idCol).isNotNull), cells)
        .groupBy(col("sub"), col("code")).agg(vectorMean(col("sv")(col("sub")), Some(subDim)))
        .collect().collect { case r if !r.anyNull => (r.getInt(0), r.getLong(1)) -> r.get(2) }.toMap
    // the keep rule: a code without a mean keeps its seed slice
    val rows = for (j <- 0 until numSubspaces; r <- seeds)
      yield Row(j, r.get(0), means.getOrElse((j, r.getLong(0)), slice(r, j)))
    vectors.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("sub", IntegerType, nullable = false),
      StructField("code", LongType, nullable = false),
      StructField("centroid", ArrayType(DoubleType)))))
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

  /** PQ codes (idCol, sub, code) for every vector under a fitted codebook
    * — long format (one row per subspace), the join-friendly layout.
    *
    * Eager: `codebook` is collected when this is called and the frame
    * codes against that snapshot. One row per (input row, subspace with
    * cells): duplicate ids are not collapsed and a null id keeps its rows;
    * no rows for an empty codebook.
    */
  def encode(vectors: DataFrame, codebook: DataFrame): DataFrame = {
    val cells = codebook.select(col("sub").cast("int"), col("code").cast("long"),
        col("centroid").cast("array<double>")).collect().filterNot(_.isNullAt(0))
      .groupBy(_.getInt(0)).map { case (j, rs) => j -> rs.map(r => Row(r.get(1), r.get(2))) }
    coded(corpus(vectors), cells).select(col(idCol), col("sub"), col("code"))
  }

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
