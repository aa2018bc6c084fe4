package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sql.expressions.NearestCell
import graft.sql.functions.{cosineSimilarity, vectorMean}

/** IVF (inverted-file) approximate cosine search: a coarse quantizer
  * clusters the corpus, each vector is listed under its nearest centroid,
  * and a query probes only the `nprobe` closest clusters — the classic
  * partition-pruning ANN layout (FAISS IVF-Flat shape).
  *
  * Beyond-reference operator (LLM-pipeline extension from the build brief);
  * complements [[RandomHyperplaneLSH]]: LSH buckets by random signs, IVF by
  * learned data clusters (better for clustered corpora).
  *
  * The quantizer is deterministic and oracle-replayable: seed centroids =
  * the `numCentroids` lowest-id vectors, refined by ONE Lloyd iteration
  * (per-dimension member mean; cosine is scale-invariant so the mean is
  * left unnormalized). Swap in full distributed k-means offline for
  * production-quality cells — the index/search plumbing is unchanged.
  *
  * Scale: centroids are plan literals (numCentroids is small by design,
  * and their elements are bounded by [[NearestCell.MaxCentroidValues]]);
  * assignment is one streamed pass over the corpus; search touches only
  * `nprobe / numCentroids` of the data — the whole point of IVF at 100 TB.
  * The inverted lists shuffle on cluster id; skewed clusters are bounded by
  * refining with more centroids.
  */
class IvfCosineIndex(
    numCentroids: Int,
    nprobe: Int,
    val idCol: String = "vec_id",
    val vecCol: String = "embedding",
    dim: Option[Int] = None) {
  require(numCentroids > 0 && nprobe > 0 && nprobe <= numCentroids,
    s"need 0 < nprobe ($nprobe) <= numCentroids ($numCentroids)")
  require(dim.forall(_ > 0), "dim must be positive when given")

  private def dvec(c: Column): Column = c.cast("array<double>")

  /** (id, cv) spread to full parallelism: assignment evaluates numCentroids
    * cosine kernels per row, which a single-split input would serialize.
    */
  private def corpus(candidates: DataFrame): DataFrame =
    graft.sql.functions.spread(
      candidates.select(col(idCol), dvec(col(vecCol)).as("cv")), col(idCol))

  /** The centroid set collected to the driver; centroids are driver-tiny
    * by contract (numCentroids rows, at most
    * [[NearestCell.MaxCentroidValues]] elements in total). Every assignment
    * and probe reads its cells from such a snapshot as literals:
    * [[NearestCell]] replicates `max_by(cid, struct(cos, -cid))` (and the
    * probe window) bit-exactly, with no shuffle.
    */
  private def collectCells(cents: DataFrame): Array[Row] =
    cents.select(col("cid").cast("long"), dvec(col("centroid"))).collect()

  /** The corpus frame with a row-local `cid` column; empty (same schema)
    * when the centroid set is empty. */
  private def withNearest(e: DataFrame, cents: DataFrame): DataFrame = {
    val cells = collectCells(cents)
    if (cells.isEmpty) e.withColumn("cid", lit(null).cast("long")).where(lit(false))
    else e.withColumn("cid", NearestCell.column(NearestCell.CosineArgMax, col("cv"), cells))
  }

  /** (id, cid): nearest centroid per vector (ties: lowest cid), computed
    * row-locally by [[NearestCell]]'s cosine arg-max against the collected
    * centroids — no argmax shuffle. PRECONDITION (shared by every
    * declared query): one row per non-null id; the old groupBy(id) shape
    * collapsed duplicate ids to one arbitrary-winner row where this
    * assigns each row independently.
    */
  private def assign(vectors: DataFrame, cents: DataFrame): DataFrame =
    withNearest(vectors, cents).select(col(idCol), col("cid"))

  /** Learned centroids (cid, centroid): lowest-id seeds + one Lloyd step.
    * A cell that wins no members drops out of the Lloyd means — harmless
    * for IVF (its inverted list would be empty; probes just go to real
    * cells), unlike PQ where dense codes are a layout contract.
    */
  def centroids(candidates: DataFrame): DataFrame = {
    val e = corpus(candidates)
    // seeds picked by RANK (order-by + limit → TakeOrderedAndProject), not a
    // value predicate, so sparse/offset id spaces still yield exactly
    // numCentroids seeds; cid = the seed's dense 0-based rank in id order
    // (NOT the id cast to long — string ids like UUIDs cast to NULL, and
    // NULL never equi-joins, which would make every search silently return
    // zero rows). Rank order equals id order, so "lowest cid" tie-breaks
    // pick the same seed id keys would.
    val seeds = Seeding.kLowestIdRanks(e, idCol, numCentroids, "cid")
      .select(col("cid"), col("cv").as("centroid"))
    // row-local seed assignment; rows with a null id stay out of the means
    val members = withNearest(e, seeds).where(col(idCol).isNotNull)
    // one groupBy(cid), one shuffle, whether `dim` is known or not (see
    // VectorMean for the length contract); with `None` a cell whose
    // members hold no element at all has a null mean and no centroid
    members.groupBy(col("cid"))
      .agg(vectorMean(col("cv"), dim).as("centroid"))
      .where(col("centroid").isNotNull)
  }

  /** Inverted lists: (id, cid) under the refined centroids.
    *
    * Eager: the call trains the centroids and collects them to the
    * driver; the returned frame assigns against that snapshot and never
    * retrains. Cardinality: one row per input row — ids are not
    * deduplicated, a null id keeps its row, a null vector gets the lowest
    * cid.
    */
  def index(candidates: DataFrame): DataFrame = {
    val e = corpus(candidates)
    assign(e, centroids(candidates))
  }

  /** One-time index build: the (centroids, inverted-lists) pair that
    * [[search(queries:org\.apache\.spark\.sql\.DataFrame,index:graft\.similarity\.IvfIndex,k:Int)* search]]
    * probes. The corpus is scanned for assignment ONCE here; serving a
    * query batch never rescans it (pre-split, `search` re-derived the
    * centroids and lists per call — three-plus corpus passes per search,
    * defeating IVF's purpose at scale).
    *
    * Centroids are tiny (`numCentroids` rows) and localCheckpoint-ed so
    * the lists job and every probe reuse the materialized result instead
    * of re-running seed-assign-Lloyd. The lists stay a lazy plan: persist
    * them (`index.lists.persist()` / write bucketed by `cid`) when serving
    * many query batches from one build.
    */
  def build(candidates: DataFrame): IvfIndex = {
    val cents = centroids(candidates).localCheckpoint()
    IvfIndex(cents, listRows(candidates, cents))
  }

  /** [[build]] + [[IvfIndex.save]] fused for the offline-train half of a
    * train-then-serve pipeline (r16): the centroids are computed INSIDE
    * their own write action and the lists are assigned against the
    * written copy (parquet round-trips doubles bit-exactly), which drops
    * the separate centroid-localCheckpoint action `build(...).save(...)`
    * pays. One corpus pass for training, one for listing — same passes,
    * one fewer blocking job.
    */
  def buildTo(candidates: DataFrame, path: String): Unit = {
    centroids(candidates).coalesce(1).write.mode("overwrite")
      .parquet(s"$path/centroids")
    val spark = candidates.sparkSession
    val cents = spark.read.parquet(s"$path/centroids").localCheckpoint()
    IvfIndex(cents, listRows(candidates, cents)).saveListsOnly(path)
  }

  /** Index build against EXTERNALLY-trained centroids (cid, centroid) —
    * the [[KMeans]] integration: train real cluster structure with
    * multi-step Lloyd offline, then list the corpus under those cells
    * with the same one-pass assignment. `numCentroids`/`nprobe` keep
    * governing probe width, so construct the index with numCentroids =
    * the trained k.
    */
  def buildWith(candidates: DataFrame, cents: DataFrame): IvfIndex = {
    val c = cents.select(col("cid"), dvec(col("centroid")).as("centroid"))
      .localCheckpoint()
    IvfIndex(c, listRows(candidates, c))
  }

  /** Assignment (id, cid) of NEW vectors to a prebuilt index's centroids —
    * the incremental-append path: a nightly embedding batch joins an
    * existing index with ONE broadcast-centroid pass over the batch, no
    * quantizer re-training, no rescan of the indexed corpus. (Centroids
    * drift as the corpus grows; rebuild cadence is the caller's policy —
    * the standard IVF operational trade.)
    *
    * Eager: `index.centroids` is collected when this is called, and the
    * returned frame assigns against that snapshot; a later rewrite of the
    * data behind `index.centroids` is not seen. Cardinality: one row per
    * row of `vectors`, as in [[index]].
    */
  def assignNew(index: IvfIndex, vectors: DataFrame): DataFrame =
    assign(corpus(vectors),
      index.centroids.select(col("cid"), dvec(col("centroid")).as("centroid")))

  /** The index with `vectors`' inverted-list rows appended. (Through
    * [[listRows]], so external centroids get the same array<double>
    * normalization every other assignment path applies.)
    */
  def append(index: IvfIndex, vectors: DataFrame): IvfIndex =
    IvfIndex(index.centroids,
      index.lists.unionByName(listRows(vectors, index.centroids)))

  /** Inverted-list rows (id, cv, cid) of `vectors` under EXISTING
    * centroids, collected when this is called (the eager snapshot of
    * [[assignNew]]) — one pass, no training, null ids dropped. The unit of
    * incremental index growth: [[append]] unions these into a held index,
    * [[graft.streaming.IvfStreamMaintainer]] writes them straight into a
    * saved layout per micro-batch.
    */
  def listRows(vectors: DataFrame, cents: DataFrame): DataFrame = {
    val c = cents.select(col("cid"), dvec(col("centroid")).as("centroid"))
    val e = corpus(vectors)
    withNearest(e, c).where(col(idCol).isNotNull)
      .select(col(idCol), col("cv"), col("cid"))
  }

  /** (query_id, qv, cid): each query's `nprobe` nearest cells — the probe
    * set every IVF-family search starts from (shared by [[search]] and
    * IVF-PQ compositions).
    *
    * Eager: `index.centroids` is collected when this is called, and the
    * probe cells are chosen against that snapshot. Cardinality: each
    * query row yields min(`nprobe`, cells) rows (none for an empty
    * centroid set); query ids are not deduplicated.
    */
  def probes(queries: DataFrame, index: IvfIndex): DataFrame = {
    val qv = queries.select(col(idCol).as("query_id"), dvec(col(vecCol)).as("qv"))
    // row-local top-nprobe (r17, guide §2.4): the old shape cross-joined
    // every query against the broadcast centroids and ranked the cells
    // with a per-query row_number window — a query-keyed exchange + sort
    // per search — when the whole selection is computable in place
    // against centroid literals with the identical ordering
    qv.withColumn("cid", explode(NearestCell.column(NearestCell.CosineTopN(nprobe),
        col("qv"), collectCells(index.centroids))))
      .select(col("query_id"), col("qv"), col("cid"))
  }

  /** Top-k cosine neighbors per query over a prebuilt index, searching only
    * the nprobe nearest clusters. Self-pairs excluded.
    */
  def search(queries: DataFrame, index: IvfIndex, k: Int): DataFrame = {
    val lists = index.lists
    val wRank = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col(idCol))
    probes(queries, index).join(lists, "cid")
      .where(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol),
        cosineSimilarity(col("qv"), col("cv")).as("cosine"))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= k)
  }

  /** Convenience: [[build]] + the index-taking `search` overload in one
    * call for one-shot queries.
    */
  def search(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame =
    search(queries, build(candidates), k)
}

/** A built IVF index: broadcast-sized refined centroids (cid, centroid)
  * plus the inverted lists (id, cv, cid). Produced by
  * [[IvfCosineIndex.build]]; reusable across query batches.
  *
  * [[save]] persists the true inverted-FILE layout: lists are written
  * `partitionBy("cid")`, one directory per cluster. A literal cid filter
  * over the loaded lists prunes statically at the scan; the probe JOIN in
  * `search` relies on dynamic partition pruning (the probe side is tiny,
  * so DPP's subquery cost is negligible) — either way, build once and
  * serve query batches across jobs without rescanning the corpus. For a
  * fixed probe set, `loaded.lists.where(col("cid").isin(cids: _*))` pins
  * the static-pruning path explicitly.
  */
case class IvfIndex(centroids: DataFrame, lists: DataFrame) {

  /** NOTE: an index whose `lists` lazily READ a saved layout (e.g. the
    * result of `append` on a loaded index) cannot save over that same
    * path — the write would overwrite its own source (Spark rejects it).
    * Save maintenance cycles to versioned directories (`.../v2`), which
    * is the production pattern regardless: atomic cutover + rollback.
    */
  def save(path: String): Unit = {
    centroids.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    saveListsOnly(path)
  }

  /** The lists half of [[save]] — shared with
    * [[IvfCosineIndex.buildTo]], which writes the centroids itself.
    */
  private[similarity] def saveListsOnly(path: String): Unit = {
    // cluster the write on cid first: without it every task holds rows of
    // every cid and partitionBy fans each task out into every directory
    // (tasks × cids small files — and as many open writers per task);
    // repartitioned, each task writes whole cid directories, giving the
    // one-file-per-inverted-list layout a probe actually wants to scan
    lists.repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$path/lists")
    // a zero-row frame + partitionBy writes no schema-bearing files (only
    // _SUCCESS), leaving a layout load cannot infer a schema from; fall
    // back to a schema-only unpartitioned write so even a (degenerate)
    // empty index round-trips with an actionable downstream error instead
    // of UNABLE_TO_INFER_SCHEMA. Hadoop FS API, not java.io — the path is
    // remote in production.
    val listsPath = new org.apache.hadoop.fs.Path(s"$path/lists")
    val fs = listsPath.getFileSystem(
      lists.sparkSession.sparkContext.hadoopConfiguration)
    val hasPartitions = fs.exists(listsPath) &&
      fs.listStatus(listsPath).exists(_.getPath.getName.startsWith("cid="))
    if (!hasPartitions)
      lists.limit(0).write.mode("overwrite").parquet(s"$path/lists")
  }
}

object IvfIndex {

  /** Reopen a [[save]]d index. `cid` comes back as a partition column —
    * re-cast to long so joins against probe frames stay equi-joins
    * without runtime coercion surprises.
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex =
    IvfIndex(
      spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/lists")
        .withColumn("cid", col("cid").cast("long")))
}
