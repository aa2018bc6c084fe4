package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.similarity.{IvfCosineIndex, IvfIndex}

/** Continuous ANN index maintenance: every streaming micro-batch of new
  * embeddings is assigned against the SAVED coarse centroids (one
  * broadcast pass — no retraining, no rescan of anything already indexed)
  * and written straight into the on-disk inverted-file layout. The batch
  * path's nightly `load → append → save-next-version` cycle
  * (ArtifactPersistenceSpec) rewrites the lists; this operator is the
  * streaming-cadence alternative that does O(micro-batch) work per
  * trigger against a single growing layout.
  *
  * Layout: `$path/centroids` as in [[IvfIndex.save]];
  * `$path/lists/batch=N/cid=K/` — list rows partitioned by the micro-batch
  * id FIRST, then cluster. The batch level is what buys EXACTLY-ONCE
  * effect on top of foreachBatch's at-least-once replays: each write uses
  * dynamic partition overwrite, so a replayed batch id overwrites exactly
  * its own `batch=N` partitions instead of appending duplicate rows
  * (duplicate list entries would surface as duplicate candidates in
  * search results — corrupt top-k, not just wasted space). Probe joins
  * still prune on `cid` (it stays a partition column); [[load]] drops the
  * batch column before handing back a plain [[IvfIndex]].
  *
  * Scale: per trigger, work = one broadcast-centroid pass over the batch
  * plus a `cid`-clustered write of batch-sized output. Files accrue one
  * per (batch, touched cid) — MEASURED (IvfStreamMaintainerSpec cadence
  * test): 20 triggers over a 4-cell index accrued 67 files and slowed
  * search 0.48 s → compaction to 4 files recovered it to 0.29 s. The
  * maintainer now ACTS on that number itself: with `maxFilesPerCell` set
  * (opt-in; default 0 = off, preserving the external-compaction
  * workflow), every append checks the era count — the files-per-cell
  * proxy — and on crossing the watermark folds the accrued eras into the
  * next `lists@<gen>` generation behind an atomic pointer-file cutover
  * (baseline era and the replayable current batch keep their labels; see
  * `compactInPlace`). A stream left running forever stays at
  * ≤ `maxFilesPerCell` files per cell instead of hitting the small-files
  * wall silently. Centroid RETRAIN cadence is signal-driven, not
  * time-driven: [[cellDrift]] reads the PSI of the cell-occupancy mix
  * (appended batches vs the earliest era present — the bootstrap era
  * when one exists) — < 0.1 keep streaming, ≥ 0.25 call [[retrainTo]]
  * (fresh coarse structure on the indexed corpus, optionally from an
  * external multi-step-Lloyd [[graft.similarity.KMeans]] fit) and cut
  * over with a fresh checkpoint (spec-pinned on a planted corpus shift).
  */
class IvfStreamMaintainer(
    ivf: IvfCosineIndex,
    path: String,
    maxFilesPerCell: Int = 0) {

  // compaction leaves up to three eras (baseline, merged middle, the
  // replayable current batch) and fires only when the era count EXCEEDS
  // the watermark, so even the minimum setting leaves two triggers
  // between compactions (3 -> 4 -> 5 > 4 -> compact) instead of a
  // full-index rewrite per micro-batch
  require(maxFilesPerCell == 0 || maxFilesPerCell >= 4,
    s"maxFilesPerCell ($maxFilesPerCell) must be 0 (off) or >= 4 " +
      "(compaction itself leaves up to 3 eras; a lower watermark thrashes)")

  private def hfs(spark: SparkSession): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def pointerFile = new Path(s"$path/LISTS.ptr")

  /** Resolve the LIVE lists directory. Auto-compaction rewrites lists
    * into `lists@<gen>` generations with a pointer-file cutover; a
    * maintainer that never compacted (the default) stays on the
    * primordial `lists`. Resolution is pointer-first with a
    * highest-generation scan fallback, so a reader racing the (tiny)
    * pointer rewrite window still lands on a real generation.
    */
  private[streaming] def resolveListsDir(spark: SparkSession): String = {
    val fs = hfs(spark)
    if (fs.exists(pointerFile)) {
      val in = fs.open(pointerFile)
      val name = try {
        new String(
          org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8).trim
      } finally in.close()
      val dir = s"$path/$name"
      if (fs.exists(new Path(dir))) return dir
    }
    val root = new Path(path)
    val gens =
      if (!fs.exists(root)) Array.empty[Int]
      else fs.listStatus(root).map(_.getPath.getName)
        .filter(_.startsWith("lists@")).map(_.stripPrefix("lists@").toInt)
    if (gens.isEmpty) s"$path/lists" else s"$path/lists@${gens.max}"
  }

  // the writer's view of the live lists dir: resolved once, advanced
  // in-memory on compaction (this maintainer is the sole writer; readers
  // in other processes re-resolve per load())
  @volatile private var listsDirCache: String = _

  private def listsDir(spark: SparkSession): String = {
    if (listsDirCache == null) listsDirCache = resolveListsDir(spark)
    listsDirCache
  }

  /** Initialize the maintained layout from a base corpus: train + save
    * centroids, write the base inverted lists as `batch=0`. (A plain
    * [[IvfIndex.save]] layout is NOT a valid starting point — its lists
    * lack the batch partition level, and mixed-depth partition dirs fail
    * discovery; the maintainer owns its layout end-to-end.)
    */
  def bootstrap(corpus: DataFrame): Unit = {
    val spark = corpus.sparkSession
    // estimator contract (the KMeans/forCodebook discipline): empty
    // centroids would make every future appendBatch assign against
    // nothing and silently index zero vectors forever. Checked on the
    // trained centroids, a local frame, BEFORE anything is written, so the
    // guard never leaves a half-written layout. A corpus whose ids are all
    // null trains none: seeds never take a null id.
    val cents = ivf.centroids(corpus)
    require(!cents.isEmpty,
      "cannot bootstrap a maintained IVF index on a corpus that trains no " +
        "centroids (no non-null-id rows, or only null or empty vectors)")
    // parquet round-trips doubles bit-exactly, so listing against the
    // written copy is listing against the trained one
    cents.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    centsCache = null // a failed earlier bootstrap may have cached debris
    writeBatch(ivf.listRows(corpus, centroids(spark)), batchId = 0L)
  }

  // the centroids are immutable for this maintainer's lifetime (only
  // compactTo — a NEW path and maintainer — ever re-writes them), so read
  // the tiny frame once and materialize it instead of paying a parquet
  // read + schema inference on every trigger of a long-running stream
  @volatile private var centsCache: DataFrame = _

  private def centroids(spark: SparkSession): DataFrame = {
    if (centsCache == null)
      centsCache = spark.read.parquet(s"$path/centroids").localCheckpoint()
    centsCache
  }

  /** One micro-batch: assign against the saved centroids and write the
    * new list rows into `batch=<batchId>`. Idempotent per batch id. With
    * `maxFilesPerCell` set, the era count (the measured files-per-cell
    * proxy: each trigger lands ~one file per touched cell) is checked
    * after the write and the accrued eras are compacted in place behind
    * a pointer cutover once it crosses the watermark.
    */
  def appendBatch(batch: DataFrame, batchId: Long): Unit = {
    guardAgainstFreshCheckpoint(batch.sparkSession, batchId)
    writeBatch(ivf.listRows(batch, centroids(batch.sparkSession)), batchId)
    if (maxFilesPerCell > 0) maybeCompact(batch.sparkSession, batchId)
  }

  // -1 = not yet probed; afterwards the highest era this process has
  // seen (streaming ids are monotonic within a checkpoint, so one FS
  // probe at startup suffices — no per-trigger listing)
  @volatile private var maxSeenEra: Long = -1L

  /** A stream restarted with a FRESH checkpoint restarts batch ids at 1,
    * and dynamic partition overwrite would then silently REPLACE the
    * historical `batch=1..N` eras one trigger at a time — data loss that
    * surfaces only when search results thin out. A legitimate recovery
    * replays the LATEST batch (id == current max) or continues past it,
    * so an id strictly below the highest era on disk is always a wiring
    * mistake: fail loudly and name the fix (new path, or resume the
    * original checkpoint).
    */
  private def guardAgainstFreshCheckpoint(spark: SparkSession, batchId: Long): Unit = {
    if (maxSeenEra < 0L) {
      val dir = new Path(listsDir(spark))
      val fs = hfs(spark)
      maxSeenEra =
        if (!fs.exists(dir)) 0L
        else fs.listStatus(dir).map(_.getPath.getName)
          .filter(_.startsWith("batch="))
          .map(_.stripPrefix("batch=").toLong)
          .foldLeft(0L)(math.max)
    }
    require(batchId >= maxSeenEra,
      s"appendBatch(batchId=$batchId) is below the highest era already in the " +
        s"layout (batch=$maxSeenEra): a stream restarted with a FRESH checkpoint " +
        "would overwrite history one trigger at a time. Resume the original " +
        "checkpoint, or start a new maintained path (compactTo/retrainTo).")
    maxSeenEra = math.max(maxSeenEra, batchId)
  }

  /** Count of `batch=` eras in the live lists dir — each era contributes
    * ~one parquet file per touched cell (the r11 cadence measurement:
    * 20 triggers → 67 files over 4 cells), so the era count IS the
    * files-per-cell estimate for hot cells, at the cost of one
    * listStatus instead of a recursive file walk.
    */
  private[streaming] def eraCount(spark: SparkSession): Int = {
    val dir = new Path(listsDir(spark))
    val fs = hfs(spark)
    if (!fs.exists(dir)) 0
    else fs.listStatus(dir).count(_.getPath.getName.startsWith("batch="))
  }

  // strictly-greater, deliberately: at the minimum watermark (4) a >=
  // trigger would re-compact every trigger forever (compaction leaves 3
  // eras, the next append makes 4) — the exact thrash the require above
  // warns about. With >, the post-append era count still never exceeds
  // the watermark observably (crossing it compacts within the same call).
  private def maybeCompact(spark: SparkSession, currentBatchId: Long): Unit =
    if (eraCount(spark) > maxFilesPerCell) compactInPlace(spark, currentBatchId)

  /** Fold the accrued eras into the next `lists@<gen>` generation and cut
    * the pointer over atomically. Three eras survive, deliberately:
    *
    *  - the BASELINE era (lowest batch id present) keeps its label, so
    *    [[cellDrift]]'s PSI baseline is untouched by compaction;
    *  - everything between baseline and the current batch merges into one
    *    era labeled `currentBatchId - 1` — a committed id that can never
    *    be replayed (foreachBatch only ever replays the LATEST batch);
    *  - the current batch keeps its own era: if the engine failed before
    *    committing it, the replay overwrites exactly its own partitions —
    *    folding it into the merge would turn that replay into duplicates.
    *
    * The old generation is deleted after cutover; a search job holding a
    * plan over it mid-query can fail and retry against the new pointer.
    * Zero-interruption compaction remains [[compactTo]] (offline, new
    * path, caller-controlled cutover).
    */
  /** Crash-injection seam for the compaction spec: called after each
    * durable step of [[compactInPlace]] ("staged", "renamed", "cutover",
    * "swept") so a test can kill the process-equivalent at every point
    * and assert the layout still serves complete, duplicate-free data.
    * This file produced two crash-safety bugs in two rounds (the gen-0
    * partial-layout hole, the orphan/rename regression) — the seam makes
    * the whole failure lattice enumerable instead of found-one-at-a-time.
    * No-op in production.
    */
  private[streaming] var onCompactStep: String => Unit = _ => ()

  private def compactInPlace(spark: SparkSession, currentBatchId: Long): Unit = {
    val cur = listsDir(spark)
    val fs = hfs(spark)
    val lists = spark.read.parquet(cur)
      .withColumn("batch", col("batch").cast("long"))
    // baseline era from the partition DIRECTORY names, not a Spark
    // aggregation job (r16): an era directory exists iff a write landed
    // rows in it (zero-row appends write no batch= dirs, and dynamic
    // overwrite only ever replaces same-batch partitions), so the
    // minimum dir name IS min(batch) — one listStatus instead of a scan
    val b0 = fs.listStatus(new Path(cur)).toSeq
      .map(_.getPath.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).min
    val gen = cur.substring(cur.lastIndexOf('/') + 1) match {
      case "lists" => 0
      case g => g.stripPrefix("lists@").toInt
    }
    val next = s"$path/lists@${gen + 1}"
    // stage under a name resolveListsDir can never pick (no "lists@"
    // prefix), then rename into place only after the write completes: a
    // crash mid-write must not leave a PARTIAL lists@<gen+1> that the
    // highest-generation fallback would prefer over the intact current
    // dir (the gen-0 case has no pointer file yet, so the fallback IS
    // the resolution path). The rename is the atomic publish.
    val staging = new Path(s"$path/_staging_lists@${gen + 1}")
    if (fs.exists(staging)) fs.delete(staging, true) // stale crash debris
    lists
      .withColumn("batch",
        when(col("batch") === b0, b0)
          .when(col("batch") === currentBatchId, currentBatchId)
          .otherwise(lit(currentBatchId - 1L)))
      .repartition(col("batch"), col("cid"))
      .write.mode("overwrite").partitionBy("batch", "cid")
      .parquet(staging.toString)
    onCompactStep("staged")
    // `next` can already EXIST: a crash between a previous compaction's
    // rename and its pointer cutover leaves a complete-but-ORPHANED
    // lists@<gen+1> (the pointer still names cur, so resolution never
    // reads it — it is stale, missing every post-crash batch). An
    // unchecked rename would silently no-op (or nest staging inside it),
    // the pointer would then be cut to the stale generation and
    // delete(cur) would destroy the only complete data. Deleting it is
    // safe by construction: the pointer is written only AFTER a rename,
    // and it names cur, never cur's successor. The rename result is
    // REQUIRED so any other failure mode stays loud.
    val nextPath = new Path(next)
    if (fs.exists(nextPath)) fs.delete(nextPath, true)
    require(fs.rename(staging, nextPath),
      s"compaction rename $staging -> $nextPath failed; " +
        "the current generation is untouched")
    onCompactStep("renamed")
    // pointer cutover: tmp write + rename; the resolution fallback scans
    // for the highest generation (all complete, thanks to the staged
    // rename above), so even the tiny delete→rename window cannot strand
    // a reader on a missing dir
    val tmp = new Path(s"$path/LISTS.ptr.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"lists@${gen + 1}".getBytes(StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(pointerFile, false)
    fs.rename(tmp, pointerFile)
    onCompactStep("cutover")
    listsDirCache = next
    // sweep EVERY superseded generation, not just `cur`: a crash between
    // a previous compaction's rename and cutover (or cutover and delete)
    // leaves an older generation orphaned, and post-restart resolution
    // moves past it so no later compaction's single delete(cur) ever
    // reclaims it — stale full-index copies accrue on disk forever
    // (r13 ADVICE). Resolution ignores them (pointer-first; the fallback
    // takes the HIGHEST generation), so deleting anything strictly older
    // than the generation just published is safe by construction. Stale
    // staging debris at or below the published generation goes too.
    fs.listStatus(new Path(path)).map(_.getPath).foreach { p =>
      val n = p.getName
      val stale =
        // the published generation always carries an @-suffix (gen+1 >=
        // 1), so a bare primordial `lists` is superseded by construction
        n == "lists" ||
          (n.startsWith("lists@") &&
            n.stripPrefix("lists@").toIntOption.exists(_ < gen + 1)) ||
          (n.startsWith("_staging_lists@") &&
            n.stripPrefix("_staging_lists@").toIntOption.exists(_ <= gen + 1))
      if (stale) fs.delete(p, true)
    }
    onCompactStep("swept")
  }

  /** Start the maintenance stream: each trigger appends its micro-batch.
    * Streaming batch ids restart from the checkpoint on recovery, so a
    * replayed trigger rewrites its own partition — the exactly-once leg.
    * Batch ids are offset by 1 so `batch=0` stays the bootstrap's.
    */
  def start(stream: DataFrame, checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) => appendBatch(b, id + 1L) }
      .start()

  /** Compact the accrued per-batch files into a fresh maintained layout
    * at `newPath` (everything re-written as its `batch=0`): one read of
    * the lists, one `cid`-clustered write — run at whatever cadence file
    * counts demand, then point the maintainer (and its restarted stream)
    * at the new path. A NEW path, not in place: the write would otherwise
    * overwrite its own source (the [[IvfIndex.save]] versioning note),
    * and cutover stays atomic.
    */
  def compactTo(spark: SparkSession, newPath: String): IvfStreamMaintainer = {
    val idx = load(spark)
    idx.centroids.coalesce(1).write.mode("overwrite")
      .parquet(s"$newPath/centroids")
    val next = new IvfStreamMaintainer(ivf, newPath, maxFilesPerCell)
    next.writeBatch(idx.lists, batchId = 0L)
    next
  }

  /** The already-indexed corpus, reconstructed from the maintained lists
    * (`cv` is the stored cast vector) under `ivf`'s own column names — the
    * input [[retrainTo]] refits coarse structure on.
    */
  private def indexedCorpus(spark: SparkSession): DataFrame =
    load(spark).lists.select(col(ivf.idCol), col("cv").as(ivf.vecCol))

  /** The [[cellDrift]] ≥ 0.25 action: refit coarse centroids on the
    * already-indexed corpus (ivf.build — seed + Lloyd) and lay the result
    * out as a fresh maintainer at `newPath` (its `batch=0` becomes the
    * new drift baseline). Cutover is the caller's step: stop the stream,
    * point it (and searches) at `newPath`, restart with a FRESH
    * checkpoint — the new layout has no history for old batch ids, so a
    * resumed checkpoint would replay into the wrong eras.
    */
  def retrainTo(spark: SparkSession, newPath: String): IvfStreamMaintainer = {
    val next = new IvfStreamMaintainer(ivf, newPath, maxFilesPerCell)
    next.bootstrap(indexedCorpus(spark))
    next
  }

  /** [[retrainTo]] against EXTERNALLY-trained centroids (cid, centroid) —
    * the [[graft.similarity.KMeans]] composition: real multi-step Lloyd
    * (e.g. `new KMeans(k, iters).fitFarthest(corpus)`) trains the cells,
    * [[IvfCosineIndex.buildWith]] lists the indexed corpus under them.
    */
  def retrainTo(
      spark: SparkSession, newPath: String, cents: DataFrame): IvfStreamMaintainer = {
    val idx = ivf.buildWith(indexedCorpus(spark), cents)
    require(!idx.centroids.isEmpty,
      "cannot retrain a maintained IVF index against empty centroids")
    idx.centroids.coalesce(1).write.mode("overwrite")
      .parquet(s"$newPath/centroids")
    val next = new IvfStreamMaintainer(ivf, newPath, maxFilesPerCell)
    next.writeBatch(idx.lists, batchId = 0L)
    next
  }

  /** Reopen the maintained layout as a plain [[IvfIndex]] (batch column
    * dropped; `cid` re-cast to long as in [[IvfIndex.load]]).
    */
  def load(spark: SparkSession): IvfIndex =
    IvfIndex(
      spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(resolveListsDir(spark))
        .withColumn("cid", col("cid").cast("long"))
        .drop("batch"))

  /** Centroid-retrain signal: PSI drift of the CELL-OCCUPANCY distribution
    * between the EARLIEST batch era present (the bootstrap era when
    * [[bootstrap]] ran; otherwise the first appended micro-batch — a
    * maintainer provisioned without bootstrap has no `batch=0` rows, and
    * an empty baseline would smooth to uniform and read any legitimately
    * skewed occupancy as PSI ≥ 0.25 forever) and everything appended
    * since. Frozen centroids index a drifting corpus into increasingly
    * unbalanced cells — the occupancy shares ARE the symptom (hot cells →
    * fat probe candidate lists, cold cells → wasted probes) — so the
    * standard PSI reading applies directly: < 0.1 keep streaming,
    * 0.1–0.25 watch, ≥ 0.25 retrain (fit fresh centroids on a corpus
    * sample, then [[compactTo]]-style cutover to a new maintainer).
    * Returns 0.0 (no signal) before any data lands — including before the
    * lists directory exists at all. Cost: one min/max-batch agg plus the
    * PSI pass, both reduced map-side to ≤2·numCentroids rows.
    */
  def cellDrift(spark: SparkSession): Double = {
    // a monitor can poll before the first trigger ever writes the layout;
    // spark.read.parquet on a missing path throws, so probe first
    val dir = resolveListsDir(spark)
    val listsPath = new org.apache.hadoop.fs.Path(dir)
    val fs = listsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(listsPath)) return 0.0
    val lists = spark.read.parquet(dir)
      .withColumn("cid", col("cid").cast("long"))
    // one combined agg replaces a min-scan plus a since.isEmpty scan:
    // `since` is empty iff max == min. Partition discovery may type
    // `batch` as int; normalize before the agg.
    val eras = lists.agg(
      min(col("batch").cast("long")), max(col("batch").cast("long"))).head()
    if (eras.isNullAt(0)) return 0.0 // schema-fallback file only, no rows
    val b0 = eras.getLong(0)
    if (eras.getLong(1) == b0) return 0.0 // nothing appended since baseline
    val base = lists.where(col("batch") === b0).select(col("cid"))
    val since = lists.where(col("batch") > b0).select(col("cid"))
    new graft.feature.DriftMonitor().categorical(base, since, "cid")
      .agg(sum(col("psi_term"))).head().getDouble(0)
  }

  // Once a batch= partition directory provably exists, it can never
  // disappear (dynamic overwrite only replaces same-batch partitions), so
  // the schema-fallback probe below is settled for this maintainer's
  // lifetime — skip the per-trigger listStatus + delete round-trip that
  // would otherwise tax every micro-batch of a long-running stream.
  @volatile private var layoutHasPartitions = false

  private def writeBatch(listRows: DataFrame, batchId: Long): Unit = {
    val dir = listsDir(listRows.sparkSession)
    val withBatch = listRows.withColumn("batch", lit(batchId))
    withBatch
      .repartition(col("cid"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch", "cid")
      .parquet(dir)
    // zero rows + partitionBy writes no schema-bearing files — the same
    // degenerate-layout bug class IvfIndex.save guards against; without
    // this a stream whose FIRST batches are all empty (centroids
    // provisioned, backfill not yet landed) leaves load() dying with
    // UNABLE_TO_INFER_SCHEMA
    if (!layoutHasPartitions) {
      val listsPath = new org.apache.hadoop.fs.Path(dir)
      val fs = listsPath.getFileSystem(
        listRows.sparkSession.sparkContext.hadoopConfiguration)
      val hasPartitions = fs.exists(listsPath) &&
        fs.listStatus(listsPath).exists(_.getPath.getName.startsWith("batch="))
      if (!hasPartitions)
        withBatch.limit(0).write.mode("overwrite").parquet(dir)
      else {
        // inverse transition: a real batch arriving AFTER an empty prefix
        // must clear the schema-only fallback file — root-level part files
        // mixed with partition directories break partition discovery
        fs.listStatus(listsPath)
          .filter(_.getPath.getName.startsWith("part-"))
          .foreach(f => fs.delete(f.getPath, false))
        layoutHasPartitions = true
      }
    }
  }
}
