package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sql.functions.vectorMean

/** Fixed-iteration distributed k-means (Lloyd's algorithm) under squared
  * L2 — the "more Lloyd refinement steps" production knob that
  * [[IvfCosineIndex]] and [[ProductQuantizer]] document but deliberately
  * pin to one step for oracle replay. This operator IS that knob as a
  * first-class citizen: train real cluster structure offline, then hand
  * the centroids to the IVF/PQ plumbing (both consume a plain
  * (cid, centroid) frame).
  *
  * Beyond-reference operator (LLM-pipeline extension from the build brief).
  *
  * Deterministic and oracle-replayable, matching the PQ discipline: seeds
  * are the `k` lowest-id vectors (cid = dense 0-based rank in id order),
  * each of the `iters` Lloyd steps assigns by argmin squared-L2 (ties to
  * the lowest cid; the distance kernel accumulates in index order, so
  * both engines add the same terms in the same order) and recomputes each
  * centroid as the per-dimension member mean. A cluster that loses every
  * member keeps its previous centroid (the standard empty-cluster guard —
  * without it the next assignment would silently drop a cid).
  *
  * Scale, per iteration: centroids are k literal rows; assignment is a
  * row-local argmin in ONE streamed pass over the corpus, and the new
  * means are one partial-aggregated groupBy(cid) of one
  * [[graft.sql.functions.vectorMean]]: a buffer of `dim` sums and `dim`
  * counts per cell, two fields wide at any `dim`. The corpus is scanned
  * `iters + 1` times total (the inherent Lloyd cost) and shuffles only
  * the k partial means per task; centroids are localCheckpoint-ed per
  * round so the final plan's
  * lineage stays flat no matter how many iterations ran. Exactly the
  * fixed-iteration contract [[graft.graph.PageRank]] uses: run length
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

  /** (id, cv) spread to full parallelism: each assignment row evaluates k
    * distance kernels, which a single-split input would serialize.
    */
  private def corpus(vectors: DataFrame): DataFrame =
    graft.sql.functions.spread(
      vectors.select(col(idCol), col(vecCol).cast("array<double>").as("cv")),
      col(idCol))

  /** Farthest-point (k-center greedy) seeds: seed 0 = the lowest-id
    * vector, each next seed = the point with the LARGEST squared distance
    * to its nearest already-chosen seed (ties to the lowest id). The
    * classic deterministic cure for Lloyd's local optima under degenerate
    * init — [[KMeansIvfSpec]] shows lowest-id seeding converging to a
    * doubled-up cell that no amount of Lloyd fixes, while these seeds land
    * one per planted cluster. Costs k-1 extra corpus passes (each one
    * broadcast-seed scan + a top-1 TakeOrdered, no shuffle) — the same
    * cost class as the Lloyd iterations themselves.
    */
  def seedsFarthest(vectors: DataFrame): DataFrame = {
    val e = corpus(vectors)
    var chosen = e.orderBy(col(idCol)).limit(1)
      .select(lit(0L).as("cid"), col("cv").as("centroid"))
      .localCheckpoint()
    for (i <- 1 until k) {
      // row-local min-distance (r17): the old crossJoin + groupBy(id)
      // .agg(min(d2), first(cv)) shuffled the whole corpus per seed round
      // to compute a per-row reduction; MinSquaredL2 replicates SQL min
      // (nulls ignored, NaN largest) in place, leaving only the top-1
      // TakeOrdered — note the old groupBy emitted one row per DISTINCT
      // id, which for the unique-id corpora every caller feeds is the
      // same row set
      val (_, _, centLit) = cellLiterals(chosen)
      val next = e
        .withColumn("md", org.apache.spark.sql.GraftBridge.column(
          graft.sql.expressions.MinSquaredL2(
            org.apache.spark.sql.GraftBridge.expression(col("cv")), centLit)))
        .orderBy(col("md").desc, col(idCol)).limit(1)
        .select(lit(i.toLong).as("cid"), col("cv").as("centroid"))
      chosen = chosen.unionByName(next).localCheckpoint()
    }
    chosen
  }

  /** Centroids after `iters` Lloyd refinements of [[seedsFarthest]] —
    * [[fit]] with the k-center init for data whose cluster structure the
    * lowest-id seeds would start blind to.
    */
  def fitFarthest(vectors: DataFrame): DataFrame =
    refine(corpus(vectors), seedsFarthest(vectors))

  /** Seed centroids (cid, centroid): the k lowest-id vectors, cid = the
    * seed's dense 0-based rank in id order via the tiny triangle
    * self-join (k rows) — no global window node.
    */
  def seeds(vectors: DataFrame): DataFrame =
    Seeding.kLowestIdRanks(corpus(vectors), idCol, k, "cid")
      .select(col("cid"), col("cv").as("centroid"))

  /** The collected (driver-tiny, k rows — the same bound
    * `broadcast(centroids)` relied on) cell set as array literals for the
    * row-local assignment expressions (r17, guide §2.4 — the previous
    * crossJoin → groupBy(id).min_by → join-back shape paid an argmax
    * shuffle plus a corpus join-back per Lloyd round).
    */
  private def cellLiterals(centroids: DataFrame) = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
    val rows = centroids.select(col("cid").cast("long"),
      col("centroid").cast("array<double>").as("centroid")).collect()
      .sortBy(r => (r.isNullAt(0), if (r.isNullAt(0)) 0L else r.getLong(0)))
    (rows.isEmpty,
      Literal.create(rows.map(r =>
        if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))).toSeq,
        ArrayType(LongType)),
      Literal.create(rows.map(r =>
        if (r.isNullAt(1)) null else r.getSeq[Double](1)).toSeq,
        ArrayType(ArrayType(DoubleType))))
  }

  /** (id, cid, d2): nearest centroid per vector under squared L2; ties to
    * the lowest cid — computed row-locally against centroid literals
    * ([[graft.sql.expressions.NearestCellL2]] replicates the old
    * `min_by(struct(cid, d2), struct(d2, cid))` bit-exactly). PRECONDITION
    * (every declared query satisfies it): one row per non-null id — the
    * old groupBy(id) collapsed duplicate ids to one arbitrary-winner row.
    */
  def assign(vectors: DataFrame, centroids: DataFrame): DataFrame =
    assignCv(corpus(vectors), centroids)

  /** [[assign]] over an already-projected (id, cv) frame. */
  private def assignCv(cvFrame: DataFrame, centroids: DataFrame): DataFrame = {
    val (empty, cidLit, centLit) = cellLiterals(centroids)
    if (empty)
      // the old crossJoin against an empty broadcast joined nothing
      cvFrame.select(col(idCol), lit(null).cast("long").as("cid"),
        lit(null).cast("double").as("d2")).where(lit(false))
    else
      cvFrame.withColumn("b", org.apache.spark.sql.GraftBridge.column(
          graft.sql.expressions.NearestCellL2(
            org.apache.spark.sql.GraftBridge.expression(col("cv")), cidLit, centLit)))
        .select(col(idCol), col("b.cid").as("cid"), col("b.d2").as("d2"))
  }

  /** Centroids after `iters` Lloyd refinements of the seeds. Each round's
    * k-row result is localCheckpoint-ed: the next round (and the caller's
    * downstream plan) reuses the materialized rows instead of replaying
    * every prior corpus pass.
    */
  def fit(vectors: DataFrame): DataFrame =
    refine(corpus(vectors), seeds(vectors))

  /** The shared Lloyd loop: `iters` refinements of `initial` over the
    * projected corpus `e`.
    */
  private def refine(e: DataFrame, initial: DataFrame): DataFrame = {
    var cents = initial.localCheckpoint()
    // the estimator contract shared with the other fits (LR, binning,
    // downsampling): a model fit on zero rows must fail loudly, never
    // silently return a degenerate (here: centroid-less) model. The
    // emptiness comes from round 1's literal collect, not a job of its own.
    var cells = cellLiterals(cents)
    require(!cells._1, "cannot fit k-means on an empty vector column")
    for (r <- 0 until iters) {
      // row-local assignment; rows with a null id stay out of the means
      if (r > 0) cells = cellLiterals(cents)
      val (_, cidLit, centLit) = cells
      val means = e.where(col(idCol).isNotNull)
        .withColumn("b", org.apache.spark.sql.GraftBridge.column(
          graft.sql.expressions.NearestCellL2(
            org.apache.spark.sql.GraftBridge.expression(col("cv")), cidLit, centLit)))
        .select(col("b.cid").as("cid"), col("cv"))
        .groupBy(col("cid"))
        .agg(vectorMean(col("cv"), Some(dim)).as("m"))
      cents = cents.as("c")
        .join(means.as("n"), Seq("cid"), "left")
        .select(col("cid"), coalesce(col("n.m"), col("c.centroid")).as("centroid"))
        .localCheckpoint()
    }
    cents
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
