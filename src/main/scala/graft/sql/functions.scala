package graft.sql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SQL function façade — the engine's equivalent of the reference's
  * `org.apache.spark.sql.ext.functions` (reference:
  * sparkext-sql/src/main/scala/org/apache/spark/sql/ext/functions.scala:9-17).
  *
  * The reference's `collectArray` exists only as a Spark-1.5 workaround for
  * SPARK-9301; modern Spark's `collect_list` has identical semantics (skips
  * nulls, keeps duplicates, empty array for an all-null/empty group) and is
  * planned as an ObjectHashAggregateExec with automatic partial/final split —
  * the hand-rolled `CollectArray.asPartial` (reference aggregates.scala:17-22)
  * is what Catalyst already does.
  */
object functions {

  /** Collect all non-null values of the column into an array (duplicates
    * kept, order unspecified — same contract as the reference).
    */
  def collectArray(e: Column): Column = collect_list(e)

  /** The engine's md5-membership discipline, defined once: the first 8 hex
    * chars of `md5("<salt>:<value>")` as a uniform long on [0, 2^32).
    * Seed-free, partitioning-independent, and replayable as ANSI SQL by
    * the DuckDB oracle (`('0x' || substring(md5(...), 1, 8))::BIGINT`) —
    * the deterministic coin behind hash splits, downsampling, importance
    * resampling, and the hashing-trick featurizer. Namespacing through
    * `salt` keeps independent coins independent.
    */
  def uniform32(salt: String, v: Column): Column =
    conv(substring(md5(concat(lit(salt), lit(":"), v.cast("string"))), 1, 8), 16, 10)
      .cast("long")

  /** Deterministic variant for result comparison: element-sorted array. */
  def collectArraySorted(e: Column): Column = array_sort(collect_list(e))

  /** Cosine similarity between two ARRAY&lt;DOUBLE&gt; columns, as a native
    * codegen expression ([[graft.sql.expressions.CosineSimilarity]]): one
    * fused loop for dot + both norms inside whole-stage codegen. The
    * higher-order-function formulation (zip_with + aggregate ×3) computes
    * bit-identical values but runs on the interpreted CodegenFallback path
    * and walks each array three times — measured ~5-10× slower on the
    * similarity operators' hot joins. Returns DOUBLE.
    */
  def cosineSimilarity(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.sql.expressions.CosineSimilarity(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  /** Squared L2 distance between two ARRAY&lt;DOUBLE&gt; columns as a native
    * codegen expression ([[graft.sql.expressions.SquaredL2]]) — the PQ
    * assignment/ADC kernel; index-order accumulation keeps it
    * bit-identical to the `aggregate(zip_with(...))` fold it replaces.
    */
  def squaredL2(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.sql.expressions.SquaredL2(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  /** `array_distinct` + ascending sort (UTF8String binary order, nulls
    * last) of an ARRAY&lt;STRING&gt; column in one native codegen pass
    * ([[graft.sql.expressions.SortedDistinct]]). Same element SET as
    * `array_distinct` — only the in-array order differs — so any
    * order-independent consumer (size, explode+groupBy, intersection
    * size) is unchanged. Sorting once per document makes every
    * per-candidate-pair verify a merge count ([[sortedIntersectCount]])
    * instead of an `array_intersect` hash-set build.
    */
  def sortedDistinct(c: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.sql.expressions.SortedDistinct(
        org.apache.spark.sql.GraftBridge.expression(c)))

  /** `size(array_intersect(a, b))` over two [[sortedDistinct]] arrays as
    * one allocation-free two-pointer merge
    * ([[graft.sql.expressions.SortedIntersectCount]]). PRECONDITION: both
    * inputs sorted ascending and distinct ([[sortedDistinct]] output).
    */
  def sortedIntersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.sql.expressions.SortedIntersectCount(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  /** Repartition a narrow input to the session's default parallelism before
    * CPU-heavy row-local kernels (minhash/simhash/signature/cosine loops).
    * No-op when the input already has enough partitions — on a real cluster
    * a 100 TB table arrives in thousands of file splits and this adds
    * nothing; it only triggers for inputs whose few splits would serialize
    * kernel work onto a handful of tasks (e.g. one small parquet file).
    * As an explicit Exchange it is also shared by multiple consumers of the
    * same subtree (ReuseExchange), so the upstream scan runs once.
    */
  def spread(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // file count proxies scan parallelism from the logical plan's file
    // index alone — `df.rdd.getNumPartitions` would compile the physical
    // plan (and build the RDD lineage) eagerly on the driver per call.
    // Non-file-backed inputs (0 files: test frames, streams) repartition,
    // which is the safe direction for them.
    val files = df.inputFiles.length
    if (files < target) df.repartition(target, key) else df
  }

  /** KMV distinct-count sketch aggregate (custom
    * [[graft.sql.expressions.KMinValues]] TypedImperativeAggregate): the k
    * smallest distinct 56-bit md5 hashes of the column, as a sorted
    * ARRAY&lt;LONG&gt; — bounded, mergeable per-group state.
    */
  def kMinValues(c: Column, k: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.sql.expressions.KMinValues(
        org.apache.spark.sql.GraftBridge.expression(c), k).toAggregateExpression())

  /** Distinct-count estimate from a [[kMinValues]] array: exact size when
    * fewer than k hashes were seen, else `(k-1) * 2^56 / h_k`.
    */
  def kmvEstimate(arr: Column, k: Int): Column =
    when(size(arr) < k, size(arr).cast("double"))
      .otherwise(lit((k - 1).toDouble * 72057594037927936.0) / element_at(arr, k))

  /** Per-position mean aggregate of an array column (custom
    * [[graft.sql.expressions.VectorMean]] TypedImperativeAggregate):
    * `avg(c[i])` for every position i in one buffer of d sums and d
    * counts. The input is cast to ARRAY&lt;DOUBLE&gt;, as `avg` casts its
    * argument. `dim = Some(d)` requires every non-null vector to have d
    * elements; `None` averages up to the longest vector.
    */
  def vectorMean(c: Column, dim: Option[Int]): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.sql.expressions.VectorMean(
        org.apache.spark.sql.GraftBridge.expression(c.cast("array<double>")), dim)
        .toAggregateExpression())

  /** Bottom-k uniform sample aggregate (custom
    * [[graft.sql.expressions.BottomKSample]] TypedImperativeAggregate):
    * the k distinct values with the smallest 56-bit md5 hashes, in hash
    * order — a deterministic, MERGEABLE uniform sample without replacement
    * in bounded (k-value) state. The sampling sibling of [[kMinValues]].
    */
  def bottomKSample(c: Column, k: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.sql.expressions.BottomKSample(
        org.apache.spark.sql.GraftBridge.expression(c), k).toAggregateExpression())

  /** Merge aggregate for [[bottomKSample]] arrays: union the group's
    * sample arrays, re-rank by the same 56-bit md5 order (recomputable
    * from the values — the sketch is self-describing), keep k. Because
    * the k smallest of a union live inside the union of per-part k
    * smallest, merged samples are bit-identical to sampling the union
    * directly — per-source/per-day sketches roll up without rescans,
    * completing the mergeable-register quartet (HLL max, CMS sum,
    * MinHash min, bottom-k rank).
    *
    * Declarative: flatten + distinct + sort by `(hash56, value)` +
    * slice — row-local array ops over the group's collected sketches
    * (bounded: #subgroups × k strings).
    */
  def bottomKMerge(samples: Column, k: Int): Column = {
    val h = (v: Column) =>
      conv(substring(md5(v), 1, 14), 16, 10).cast("long")
    slice(
      transform(
        array_sort(
          transform(array_distinct(flatten(collect_list(samples))),
            v => struct(h(v).as("h"), v.as("v")))),
        e => e("v")),
      1, k)
  }

  /** Count-Min sketch aggregate ([[graft.sql.expressions.CountMinSketch]]):
    * `depth × width` counters as a flattened ARRAY&lt;LONG&gt; — fixed-size,
    * mergeable per-group frequency state (vs shuffling the whole
    * vocabulary for an exact wordcount).
    */
  def countMinSketch(c: Column, depth: Int, width: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.sql.expressions.CountMinSketch(
        org.apache.spark.sql.GraftBridge.expression(c), depth, width)
        .toAggregateExpression())

  /** Merge aggregate for [[countMinSketch]] arrays: element-wise SUM of
    * the group's sketches — CMS is linear, so merged counters are
    * bit-identical to sketching the union directly. Same operational
    * story as [[hllMerge]]: sketch each partition/day/source once, roll
    * up any coarser scope without rescanning tokens.
    */
  def cmsMerge(sketch: Column, depth: Int, width: Int): Column =
    aggregate(
      collect_list(sketch),
      array_repeat(lit(0L), depth * width),
      (acc, x) => zip_with(acc, x, (a, b) => a + b))

  /** Join-size estimate from two [[countMinSketch]] arrays over the SAME
    * (depth, width) layout: min over rows of the row-wise inner product —
    * the classic CMS application (Cormode & Muthukrishnan §4.2): an upper
    * bound on `Σ_k cnt_a(k)·cnt_b(k)`, which IS the equi-join output
    * cardinality on key k. Lets a pipeline predict whether a join is
    * about to explode from two fixed-size sketches — no second scan of
    * either table, mergeable across partitions like every CMS.
    * Row-local array arithmetic, replayable by the SQL oracle.
    */
  def cmsJoinSize(a: Column, b: Column, depth: Int, width: Int): Column =
    array_min(transform(sequence(lit(0), lit(depth - 1)), j =>
      aggregate(
        zip_with(
          slice(a, j * width + 1, lit(width)),
          slice(b, j * width + 1, lit(width)),
          (x, y) => x * y),
        lit(0L), (acc, v) => acc + v)))

  /** Point frequency estimate from a [[countMinSketch]] array: min over the
    * key's `depth` buckets (an upper bound on the true count). Bucket
    * hashing replays the sketch's md5 scheme with built-ins (`conv` of the
    * md5 prefix) so the oracle can reproduce it.
    */
  def cmsEstimate(sketch: Column, key: Column, depth: Int, width: Int): Column =
    array_min(transform(sequence(lit(0), lit(depth - 1)), j =>
      element_at(sketch,
        (j * width).cast("int") +
          pmod(conv(substring(md5(concat(j.cast("string"), lit(":"), key)), 1, 14),
            16, 10).cast("long"), lit(width)).cast("int") + 1)))

  /** Bloom-filter aggregate ([[graft.sql.expressions.BloomFilterAgg]]):
    * `numBits` bits as packed ARRAY&lt;LONG&gt; words; merge = bitwise OR.
    */
  def bloomFilter(c: Column, numBits: Int, numHashes: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.sql.expressions.BloomFilterAgg(
        org.apache.spark.sql.GraftBridge.expression(c), numBits, numHashes)
        .toAggregateExpression())

  /** Probe a [[bloomFilter]] word array: false ⇒ definitely absent. */
  def bloomMightContain(words: Column, key: Column, numHashes: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.sql.expressions.BloomMightContain(
        org.apache.spark.sql.GraftBridge.expression(words),
        org.apache.spark.sql.GraftBridge.expression(key), numHashes))

  /** HyperLogLog distinct-count sketch aggregate (custom
    * [[graft.sql.expressions.HllSketch]] TypedImperativeAggregate): `2^p`
    * max-rho registers as ARRAY&lt;INT&gt; — fixed-size, mergeable
    * (element-wise max) per-group state.
    */
  def hllSketch(c: Column, p: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.sql.expressions.HllSketch(
        org.apache.spark.sql.GraftBridge.expression(c), p).toAggregateExpression())

  /** Merge aggregate for [[hllSketch]] register arrays: element-wise max
    * across the group's sketches — the property that makes HLL the 100 TB
    * distinct-count workhorse: sketch each partition/day/source ONCE,
    * store the 2^p-int array, and roll up any grouping later WITHOUT
    * rescanning the data. Merging sub-sketches yields BIT-IDENTICAL
    * registers to sketching the union directly (max is associative and
    * commutative), so merged estimates replay exactly.
    *
    * Declarative form: the group's sketches (bounded: one per
    * sub-partition in the rollup, e.g. #langs per source) fold through a
    * row-local `zip_with(_, _, greatest)`.
    */
  def hllMerge(regs: Column, p: Int): Column =
    aggregate(
      collect_list(regs),
      array_repeat(lit(0), 1 << p),
      (acc, x) => zip_with(acc, x, (a, b) => greatest(a, b)))

  /** Weighted bottom-k sample aggregate (custom
    * [[graft.sql.expressions.WeightedBottomK]] TypedImperativeAggregate):
    * Efraimidis–Spirakis A-Res with the deterministic md5 coin — an exact
    * weighted sample without replacement of k (value, weight) pairs in
    * bounded state, mergeable like [[bottomKSample]].
    */
  def weightedBottomK(v: Column, w: Column, k: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.sql.expressions.WeightedBottomK(
        org.apache.spark.sql.GraftBridge.expression(v),
        org.apache.spark.sql.GraftBridge.expression(w), k).toAggregateExpression())

  /** Merge aggregate for [[weightedBottomK]] sample arrays: union, re-key
    * by the same Efraimidis–Spirakis formula (keys recompute from the
    * (v, w) pairs), keep the k smallest. Contract: sub-sketches come from
    * DISJOINT scopes with one weight per value (the rollup case) — the
    * same value under conflicting weights is a modeling error upstream.
    */
  def weightedBottomKMerge(samples: Column, k: Int): Column = {
    val h = (v: Column) =>
      conv(substring(md5(v), 1, 14), 16, 10).cast("long")
    val key = (e: Column) =>
      -log((h(e("v")) + 1).cast("double") / lit(7.2057594037927936E16)) / e("w")
    slice(
      transform(
        array_sort(
          transform(array_distinct(flatten(collect_list(samples))),
            e => struct(key(e).as("k"), e("v").as("v"), e("w").as("w")))),
        e => struct(e("v").as("v"), e("w").as("w"))),
      1, k)
  }

  /** Merge aggregate for MinHash signature arrays
    * ([[graft.sql.expressions.MinHashSignature]]): element-wise MIN of
    * the group's signatures — the min over a union of sets is the min of
    * the per-subset minima, so a merged signature is bit-identical to
    * signing the union's shingle set directly. Completes the mergeable
    * sketch trio (HLL max-merge, CMS sum-merge, MinHash min-merge):
    * signature per document once, roll up corpus/source-level signatures
    * for resemblance estimates without pairwise scans.
    */
  def minhashMerge(sig: Column, numHashes: Int): Column =
    aggregate(
      collect_list(sig),
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, x) => zip_with(acc, x, (a, b) => least(a, b)))

  /** Distinct-count estimate from a [[hllSketch]] register array: the
    * standard bias-corrected `alpha_m * m^2 / sum(2^-M_j)` with the
    * small-range linear-counting branch `m * ln(m/V)` (V = zero registers).
    * Pure column arithmetic (codegen'd), replayable in the SQL oracle.
    * Register values stay small (rho ≤ ~log2(n/m) + slack), so the
    * harmonic-mean sum of powers of two is exact in DOUBLE and the
    * estimate is bit-reproducible regardless of aggregation order.
    */
  def hllEstimate(regs: Column, p: Int): Column = {
    val m = 1 << p
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    val harm = aggregate(regs, lit(0.0d), (acc, r) => acc + pow(lit(2.0d), -r.cast("double")))
    val zeros = size(filter(regs, _ === 0))
    val raw = lit(alpha * m.toDouble * m.toDouble) / harm
    when(raw <= lit(2.5 * m) && zeros > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double")))
      .otherwise(raw)
  }

  /** Z-order (Morton) interleave of two non-negative BIGINT dimensions —
    * the multi-dimensional clustering key for layout-optimized writes
    * ([[graft.sql.expressions.ZOrder64]]).
    */
  def zorder(x: Column, y: Column, bits: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.sql.expressions.ZOrder64(
        org.apache.spark.sql.GraftBridge.expression(x),
        org.apache.spark.sql.GraftBridge.expression(y), bits))

  /** Dot product of two numeric array columns (codegen-friendly). */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  /** L2 norm of a numeric array column. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, v) => acc + v * v))
}
