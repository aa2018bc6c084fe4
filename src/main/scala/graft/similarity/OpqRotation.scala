package graft.similarity

import breeze.linalg.{svd, DenseMatrix}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Optimized Product Quantization rotation (Ge et al., "Optimized Product
  * Quantization for Approximate Nearest Neighbor Search", CVPR 2013,
  * non-parametric variant): learn an ORTHOGONAL d×d rotation `R` so that
  * PQ's axis-aligned subspace split lands on decorrelated coordinates,
  * then quantize `R·x` instead of `x`. The alternation:
  *
  *  1. fix R: train PQ codebooks on the rotated corpus and reconstruct
  *     each rotated vector from its codes;
  *  2. fix the reconstructions Y: the orthogonal Procrustes solution
  *     `R = U·Vᵀ` with `U·S·Vᵀ = svd(M)`, `M = Σᵢ yᵢ·xᵢᵀ`, minimizes
  *     `Σᵢ ‖R·xᵢ − yᵢ‖²` — each half-step can only lower the
  *     quantization error (the OPQ convergence argument).
  *
  * Completes the production-knob ladder documented in
  * [[ProductQuantizer.fitKMeans]]: codes budget, Lloyd steps, seeding,
  * and now the rotation. Deterministic end-to-end (deterministic PQ
  * training + LAPACK SVD), though — like `fitKMeans` — not 1-pass
  * SQL-replayable, so it stays a training-side operator with spec-pinned
  * properties (OpqRotationSpec: orthogonality, monotone error, beats
  * identity on correlated data) rather than an oracle-gated query.
  *
  * Scale shape, per iteration: PQ training (driver-row codebooks, one
  * tiny mean aggregation per Lloyd step), one broadcast-codebook decode
  * join, and ONE `d²`-wide partial aggregation for `M` (4096 doubles at
  * d=64 — each partition contributes one accumulator row via the same
  * grid-sum shape as the codebook means; nothing is collected but the
  * d×d matrix). The SVD is a driver-side 64×64 — microseconds. Rotation
  * application is a row-local native-HOF matvec against the broadcast
  * literal matrix (codegen, no UDF).
  */
class OpqRotation(
    numSubspaces: Int,
    codebookSize: Int,
    dim: Int,
    iters: Int = 3,
    lloydSteps: Int = 1,
    idCol: String = "vec_id",
    vecCol: String = "embedding") {
  require(iters >= 1, s"iters ($iters) must be >= 1")
  require(dim > 0 && dim % numSubspaces == 0,
    s"dim ($dim) must divide into numSubspaces ($numSubspaces)")

  import OpqRotation.Model

  private def pq = new ProductQuantizer(numSubspaces, codebookSize, dim, idCol, vecCol)

  /** `R·x` for every row, as a row-local native-HOF matvec: the matrix
    * rides the plan as an `array<array<double>>` literal (broadcast with
    * the codegen'd task binaries — no join, no UDF). Output keeps `idCol`
    * and replaces `vecCol`.
    */
  def rotate(vectors: DataFrame, rotation: Array[Array[Double]]): DataFrame = {
    val m: Column = typedLit(rotation.map(_.toSeq).toSeq)
    vectors.withColumn("__opq_r", m)
      .select(col(idCol),
        expr(s"transform(__opq_r, row -> aggregate(zip_with(row, $vecCol, " +
          "(a, b) -> a * b), 0.0D, (acc, v) -> acc + v))").as(vecCol))
  }

  /** Learned rotation + the PQ codebooks trained on the rotated corpus.
    * Encode/search by rotating queries and corpus with [[rotate]] and
    * handing the codebook to the ordinary [[ProductQuantizer]] path.
    */
  def fit(vectors: DataFrame): Model = {
    val base = graft.sql.functions.spread(
      vectors.select(col(idCol), col(vecCol).cast("array<double>").as(vecCol)),
      col(idCol)).localCheckpoint()
    var r = eye
    var cb: DataFrame = null
    var prevRotated: DataFrame = null
    for (_ <- 0 until iters) {
      val rotated = rotate(base, r).localCheckpoint()
      // a local frame: the codebooks are driver rows
      cb = if (lloydSteps <= 0) pq.fit(rotated) else pq.fitKMeans(rotated, lloydSteps)
      val recon = reconstruct(rotated, cb)
      r = procrustes(crossProductMatrix(base, recon))
      // the previous iteration's corpus-sized rotated checkpoint is fully
      // consumed once M is on the driver — release its blocks NOW instead
      // of waiting for nondeterministic GC-driven cleanup, so live storage
      // is bounded at base + one iteration's frame regardless of `iters`
      if (prevRotated != null) prevRotated.unpersist(blocking = false)
      prevRotated = rotated
    }
    if (prevRotated != null) prevRotated.unpersist(blocking = false)
    // the corpus-sized base checkpoint is fully consumed too — release it
    // rather than leaving its blocks on executor storage until GC
    base.unpersist(blocking = false)
    Model(r, cb)
  }

  /** Mean squared reconstruction error of `codebook` over `R·vectors` —
    * the quantity each OPQ half-step lowers; OpqRotationSpec pins the
    * monotonicity and the beats-identity property on correlated data.
    */
  def mse(vectors: DataFrame, model: Model): Double = {
    val rotated = rotate(vectors, model.rotation)
    val recon = reconstruct(rotated, model.codebook)
    rotated.join(recon, idCol)
      .select(graft.sql.functions.squaredL2(col(vecCol), col("__recon")).as("d2"))
      .agg(avg(col("d2"))).head().getDouble(0)
  }

  /** (idCol, __recon): each vector's PQ reconstruction — encode against
    * the codebook, join its centroids back, then stitch the m centroid
    * slices back in subspace order (row-local array fold).
    */
  private def reconstruct(rotated: DataFrame, codebook: DataFrame): DataFrame =
    pq.encode(rotated, codebook)
      .join(broadcast(codebook), Seq("sub", "code"))
      .groupBy(col(idCol))
      .agg(expr("flatten(transform(array_sort(collect_list(struct(sub, centroid))), " +
        "x -> x.centroid))").as("__recon"))

  /** `M = Σᵢ yᵢ·xᵢᵀ` (d×d), accumulated as a grid sum: each row's outer
    * product is a flat `flatten(transform(...))` HOF, posexploded to
    * (component, value) and partial-aggregated per component — the
    * wordcount shape (map-side combine reduces every partition to `d²`
    * sum rows), so nothing unbounded is collected and the driver reads
    * exactly `d²` rows.
    */
  private def crossProductMatrix(base: DataFrame, recon: DataFrame): DenseMatrix[Double] = {
    val sums = base.join(recon, idCol)
      .select(posexplode(
        expr(s"flatten(transform(__recon, y -> transform($vecCol, x -> y * x)))"))
        .as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(sum(col("v")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val flat = Array.tabulate(dim * dim)(i => sums.getOrElse(i, 0.0))
    new DenseMatrix(dim, dim, flat, 0, dim, isTranspose = true)
  }

  /** Orthogonal Procrustes: `R = U·Vᵀ` from `svd(M)`. */
  private def procrustes(m: DenseMatrix[Double]): Array[Array[Double]] = {
    val svd.SVD(u, _, vt) = svd(m)
    val r = u * vt
    Array.tabulate(dim, dim)((i, j) => r(i, j))
  }

  /** The identity rotation — the un-rotated PQ baseline [[mse]] compares
    * against in OpqRotationSpec.
    */
  def eye: Array[Array[Double]] =
    Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
}

object OpqRotation {
  /** Learned rotation + the codebooks trained in the rotated space.
    *
    * [[Model.save]] persists both halves of the OPQ artifact: the d×d
    * rotation at `$path/rotation` (d rows `(i int, row array<double>)`,
    * one parquet file) and the PQ codebook at `$path/codebook` (the
    * [[ProductQuantizer.saveCodebook]] layout, so the codebook half is
    * independently loadable by plain-PQ serving code). Doubles
    * round-trip parquet bit-exactly; [[load]] rebuilds the matrix in row
    * order, giving rotate/encode/search results hash-identical to the
    * in-session fit (ArtifactPersistenceSpec pins this).
    */
  final case class Model(rotation: Array[Array[Double]], codebook: DataFrame) {

    def save(path: String): Unit = {
      val spark = codebook.sparkSession
      import spark.implicits._
      rotation.zipWithIndex.map { case (row, i) => (i, row.toSeq) }.toSeq
        .toDF("i", "row")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/rotation")
      ProductQuantizer.saveCodebook(codebook, path)
    }
  }

  /** Reopen a [[Model.save]]d model. The rotation is d rows — a bounded
    * driver collect by construction (the same artifact the fit already
    * held as a driver-side matrix).
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    val rows = spark.read.parquet(s"$path/rotation")
      .orderBy(col("i")).collect()
    val rotation = rows.map(_.getSeq[Double](1).toArray)
    Model(rotation, ProductQuantizer.loadCodebook(spark, path))
  }
}
