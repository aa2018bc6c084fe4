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
  * The trained-quantizer invariants it shares with [[KMeans]] and
  * [[ProductQuantizer]]:
  *  - cells are driver rows: the seeds are the `numCentroids` lowest-id
  *    vectors from one top-k collect (cid = the seed id's dense 0-based
  *    rank), refined by ONE Lloyd step whose means are one collect
  *    (per-dimension member mean, left unnormalized: cosine is
  *    scale-invariant); their elements are bounded by
  *    [[NearestCell.MaxCentroidValues]];
  *  - one kernel: training, listing and probing select cells row-locally
  *    with [[NearestCell]]'s cosine shapes against the cells as literals
  *    (ties to the lowest cid), with no shuffle and no join;
  *  - the drop rule: a cell whose mean is missing or null (no members, or
  *    none with an element when `dim` is None) is dropped — its list would
  *    be empty and probes go to real cells ([[KMeans]] and PQ keep such a
  *    cell at its seed instead);
  *  - every centroid set an index holds is a local frame, and each
  *    assignment or probe is an eager snapshot of the centroids it reads.
  * Assignment is one streamed pass over the corpus; search touches only
  * `nprobe / numCentroids` of the data. Swap in [[KMeans]] centroids
  * ([[buildWith]]) for production-quality cells; the plumbing is the same.
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

  private def projected(candidates: DataFrame): DataFrame =
    candidates.select(col(idCol), dvec(col(vecCol)).as("cv"))

  /** (id, cv) spread to full parallelism: assignment evaluates numCentroids
    * cosine kernels per row, which a single-split input would serialize.
    */
  private def corpus(candidates: DataFrame): DataFrame =
    graft.sql.functions.spread(projected(candidates), col(idCol))

  /** The centroid set collected to the driver as (cid, centroid) cells. */
  private def collectCells(cents: DataFrame): Array[Row] =
    cents.select(col("cid").cast("long"), dvec(col("centroid"))).collect()

  /** `rows` as a local frame of `df`'s schema: no lineage, exact size stats. */
  private def local(df: DataFrame, rows: Array[Row]): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)

  /** The corpus frame with a row-local `cid` column; empty (same schema)
    * when there are no cells. */
  private def withNearest(e: DataFrame, cells: Array[Row]): DataFrame =
    if (cells.isEmpty) e.withColumn("cid", lit(null).cast("long")).where(lit(false))
    else e.withColumn("cid", NearestCell.column(NearestCell.CosineArgMax, col("cv"), cells))

  /** Learned centroids (cid, centroid) as a local frame: lowest-id seeds +
    * one Lloyd step, under the drop rule. Empty when no id is non-null.
    */
  def centroids(candidates: DataFrame): DataFrame = {
    val seeds = Seeding.seedRows(projected(candidates), idCol, col("cv"), numCentroids)
    // rows with a null id stay out of the means; one groupBy(cid) whether
    // `dim` is known or not (see VectorMean for the length contract)
    val means = withNearest(corpus(candidates).where(col(idCol).isNotNull), seeds)
      .groupBy(col("cid")).agg(vectorMean(col("cv"), dim).as("centroid"))
      .where(col("centroid").isNotNull)
    local(means, if (seeds.isEmpty) Array.empty else means.collect())
  }

  /** Inverted lists: (id, cid) under the refined centroids.
    *
    * Eager: the call trains the centroids; the returned frame assigns
    * against them and never retrains. Cardinality: one row per input row —
    * ids are not deduplicated, a null id keeps its row, a null vector gets
    * the lowest cid.
    */
  def index(candidates: DataFrame): DataFrame =
    withNearest(corpus(candidates), collectCells(centroids(candidates)))
      .select(col(idCol), col("cid"))

  /** One-time index build: the (centroids, inverted-lists) pair that
    * [[search(queries:org\.apache\.spark\.sql\.DataFrame,index:graft\.similarity\.IvfIndex,k:Int)* search]]
    * probes, so serving a query batch never rescans the corpus to train.
    * The centroids are a local frame; the lists stay a lazy plan: persist
    * them (`index.lists.persist()`, or [[IvfIndex.save]]) when serving many
    * query batches from one build.
    */
  def build(candidates: DataFrame): IvfIndex = {
    val cents = centroids(candidates)
    IvfIndex(cents, listRows(candidates, cents))
  }

  /** Index build against EXTERNALLY-trained centroids (cid, centroid) —
    * the [[KMeans]] integration: train real cluster structure with
    * multi-step Lloyd offline, then list the corpus under those cells
    * with the same one-pass assignment. The centroids are collected into
    * a local frame when this is called. `numCentroids`/`nprobe` keep
    * governing probe width, so construct the index with numCentroids =
    * the trained k.
    */
  def buildWith(candidates: DataFrame, cents: DataFrame): IvfIndex = {
    val c = cents.select(col("cid"), dvec(col("centroid")).as("centroid"))
    val held = local(c, c.collect())
    IvfIndex(held, listRows(candidates, held))
  }

  /** Assignment (id, cid) of NEW vectors to a prebuilt index's centroids —
    * the incremental-append path: a nightly embedding batch joins an
    * existing index with ONE row-local pass over the batch, no
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
    withNearest(corpus(vectors), collectCells(index.centroids)).select(col(idCol), col("cid"))

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
  def listRows(vectors: DataFrame, cents: DataFrame): DataFrame =
    withNearest(corpus(vectors), collectCells(cents)).where(col(idCol).isNotNull)
      .select(col(idCol), col("cv"), col("cid"))

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
    // row-local top-nprobe against the centroid literals: no query-keyed
    // exchange or sort, the order of `row_number() OVER (ORDER BY cos
    // DESC, cid)` over a crossJoin
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
