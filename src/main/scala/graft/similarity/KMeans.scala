package graft.similarity

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sql.expressions.NearestCell
import graft.sql.functions.vectorMean

/** Fixed-iteration distributed k-means (Lloyd's algorithm) under squared
  * L2: trains real cluster structure offline and hands the centroids to
  * the IVF/PQ plumbing, which consume a plain (cid, centroid) frame.
  *
  * Beyond-reference operator (LLM-pipeline extension from the build brief).
  *
  * The trained-quantizer invariants it shares with [[IvfCosineIndex]] and
  * [[ProductQuantizer]]:
  *  - cells are driver rows: seeds come from one top-k collect
  *    (`Seeding.seedRows`: cid = the seed id's dense 0-based rank), and
  *    each Lloyd round is one collect of the k means, so `k * dim` ≤
  *    [[NearestCell.MaxCentroidValues]];
  *  - one kernel: a round assigns row-locally by [[NearestCell]]'s
  *    `L2ArgMin` against the cells as literals (ties to the lowest cid, a
  *    null distance nearest) and averages with one groupBy(cid) of
  *    [[graft.sql.functions.vectorMean]] — no checkpoint, no join;
  *  - the keep rule: a cell that gets no (or a null) mean keeps its
  *    previous centroid, so k never shrinks ([[IvfCosineIndex]] drops such
  *    a cell instead);
  *  - every fit returns a local frame, so no Lloyd lineage reaches the
  *    caller's plan, and [[assign]] is an eager snapshot of the centroids
  *    it is given.
  * The corpus is scanned `iters + 1` times and shuffles only the k partial
  * means per task. Run length is fixed, as in [[graft.graph.PageRank]]: it
  * never depends on float-drift convergence tests.
  */
class KMeans(
    k: Int,
    iters: Int,
    dim: Int,
    idCol: String = "vec_id",
    vecCol: String = "embedding") {
  require(k > 0, "k must be positive")
  require(iters >= 0, "iters must be non-negative")
  require(dim > 0, "dim must be positive")
  require(k.toLong * dim <= NearestCell.MaxCentroidValues,
    s"k * dim (k = $k, dim = $dim) exceeds ${NearestCell.MaxCentroidValues}: " +
      "centroids are driver rows and a literal in every round's plan")

  private def projected(vectors: DataFrame): DataFrame =
    vectors.select(col(idCol), col(vecCol).cast("array<double>").as("cv"))

  /** (id, cv) spread to full parallelism: each assignment row evaluates k
    * distance kernels, which a single-split input would serialize.
    */
  private def corpus(vectors: DataFrame): DataFrame =
    graft.sql.functions.spread(projected(vectors), col(idCol))

  /** Farthest-point (k-center greedy) seeds: seed 0 = the lowest-id
    * vector, each next seed = the point with the LARGEST squared distance
    * to its nearest already-chosen seed (ties to the lowest id). The
    * classic deterministic cure for Lloyd's local optima under degenerate
    * init — [[KMeansIvfSpec]] shows lowest-id seeding converging to a
    * doubled-up cell that no amount of Lloyd fixes, while these seeds land
    * one per planted cluster. Costs k-1 extra corpus passes (each a
    * row-local min-distance + a top-1 collect) — the same cost class as
    * the Lloyd iterations themselves.
    */
  def seedsFarthest(vectors: DataFrame): DataFrame =
    centroidFrame(vectors, farthestRows(vectors), refined = false)

  private def farthestRows(vectors: DataFrame): Array[Row] = {
    def top1(ordered: DataFrame, cid: Long) =
      ordered.limit(1).select(lit(cid).as("cid"), col("cv")).collect()
    val e = corpus(vectors)
    var chosen = top1(projected(vectors).orderBy(col(idCol)), 0L)
    for (i <- 1 until k if chosen.nonEmpty)
      // SQL min over the chosen seeds: nulls ignored, NaN largest
      chosen ++= top1(e.withColumn("md", NearestCell.column(NearestCell.L2MinDistance,
          col("cv"), chosen)).orderBy(col("md").desc, col(idCol)), i.toLong)
    chosen
  }

  /** Centroids after `iters` Lloyd refinements of [[seedsFarthest]] —
    * [[fit]] with the k-center init for data whose cluster structure the
    * lowest-id seeds would start blind to.
    */
  def fitFarthest(vectors: DataFrame): DataFrame =
    centroidFrame(vectors, refine(corpus(vectors), farthestRows(vectors)), iters > 0)

  /** Seed centroids (cid, centroid): the k lowest non-null-id vectors,
    * cid = the dense 0-based rank of the id among the DISTINCT seed ids,
    * ranked on the driver from one top-k collect.
    */
  def seeds(vectors: DataFrame): DataFrame =
    centroidFrame(vectors, seedRows(vectors), refined = false)

  private def seedRows(vectors: DataFrame): Array[Row] =
    Seeding.seedRows(projected(vectors), idCol, col("cv"), k)

  /** `cvFrame` plus `b`: the nearest cell's (cid, d2) under squared L2. */
  private def nearest(cvFrame: DataFrame, cells: Array[Row]): DataFrame =
    cvFrame.withColumn("b", NearestCell.column(NearestCell.L2ArgMin, col("cv"), cells))

  /** (id, cid, d2): nearest centroid per vector under squared L2, ties to
    * the lowest cid, by [[NearestCell]]'s `L2ArgMin`. Eager: `centroids`
    * is collected when this is called and the frame assigns against that
    * snapshot. One row per input row: duplicate ids are not collapsed and
    * a null id keeps its row; no rows for an empty centroid set.
    */
  def assign(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val cells = centroids.select(col("cid").cast("long"),
      col("centroid").cast("array<double>")).collect()
    if (cells.isEmpty)
      corpus(vectors).select(col(idCol), lit(null).cast("long").as("cid"),
        lit(null).cast("double").as("d2")).where(lit(false))
    else nearest(corpus(vectors), cells)
      .select(col(idCol), col("b.cid").as("cid"), col("b.d2").as("d2"))
  }

  /** Centroids after `iters` Lloyd refinements of the seeds. */
  def fit(vectors: DataFrame): DataFrame =
    centroidFrame(vectors, refine(corpus(vectors), seedRows(vectors)), iters > 0)

  /** The Lloyd loop, the one place centroids are kept as driver rows:
    * `iters` rounds over the projected corpus `e`, each collecting the k
    * means. A row whose non-null cid got no (or a null) mean keeps its
    * centroid — the empty-cluster guard; rows sharing a cid take its mean.
    */
  private def refine(e: DataFrame, initial: Array[Row]): Array[Row] = {
    // the estimator contract shared with the other fits (LR, binning,
    // downsampling): a model fit on zero rows must fail loudly, never
    // silently return a degenerate (here: centroid-less) model
    require(initial.nonEmpty, "cannot fit k-means on an empty vector column")
    (0 until iters).foldLeft(initial) { (cents, _) =>
      // rows with a null id stay out of the means
      val means = nearest(e.where(col(idCol).isNotNull), cents)
        .groupBy(col("b.cid").as("cid")).agg(vectorMean(col("cv"), Some(dim)))
        .collect().collect { case r if !r.anyNull => r.getLong(0) -> r.get(1) }.toMap
      cents.map(r => if (r.isNullAt(0)) r else means.get(r.getLong(0)).fold(r)(Row(r.get(0), _)))
    }
  }

  /** `rows` as a local frame: `cid` not null, `centroid` as nullable as
    * `cv` and, once refined, typed as `coalesce(mean, cv)` — the schema a
    * saved artifact (e.g. the q167 codebook) writes to parquet.
    */
  private def centroidFrame(vectors: DataFrame, rows: Array[Row], refined: Boolean): DataFrame = {
    val cv = if (refined) coalesce(lit(null).cast("array<double>"), col("cv")) else col("cv")
    val schema = projected(vectors).select(lit(0L).as("cid"), cv.as("centroid")).schema
    vectors.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Per-cluster fit summary (cid, size, inertia): membership counts and
    * the within-cluster sum of squared distances — the number a Lloyd
    * iteration is guaranteed never to increase in total. One assignment
    * pass, one partial-aggregated groupBy.
    */
  def summary(vectors: DataFrame, centroids: DataFrame): DataFrame =
    assign(vectors, centroids)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("size"), sum(col("d2")).as("inertia"))
}

/** Centroid persistence — trained cluster structure is an offline
  * artifact: fit once, then [[KMeans.assign]] new batches or hand the
  * loaded frame to [[IvfCosineIndex.buildWith]] across jobs without
  * re-running Lloyd.
  *
  * Layout: `$path/centroids` — a single parquet file (k rows, tiny by
  * design) with columns `(cid long, centroid array<double>)`; the same
  * subdirectory name [[IvfIndex.save]] uses, so a saved k-means fit is
  * directly a valid coarse-quantizer half of an IVF index layout.
  * Doubles round-trip parquet bit-exactly, so assignments from loaded
  * centroids are hash-identical to the in-session fit
  * (ArtifactPersistenceSpec pins this).
  */
object KMeans {

  def saveCentroids(centroids: DataFrame, path: String): Unit =
    centroids.select(col("cid"), col("centroid"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")

  def loadCentroids(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/centroids")
}
