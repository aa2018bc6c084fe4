package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  // orthogonal basis + a near-copy of v1 and an opposite vector
  lazy val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Array(0.99f, 0.01f, 0.0f, 0.0f)), // near-dup of 1
    (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f)),
    (5L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("brute-force top-k ranks the near-copy first") {
    val out = new CosineTopK(2)
      .search(vecs.where($"vec_id" === 1), vecs)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).head === 3L) // rank 1 = near-copy
    assert(out.head.getDouble(2) > 0.99)
    assert(out.length === 2)
  }

  test("top-k excludes self and respects k") {
    val out = new CosineTopK(3).search(vecs.where($"vec_id" < 3), vecs)
    assert(out.where($"query_id" === $"vec_id").count() === 0)
    assert(out.groupBy("query_id").count().collect().forall(_.getLong(1) <= 3))
  }

  test("LSH puts the near-dup pair in a shared bucket and verifies cosine") {
    val pairs = new RandomHyperplaneLSH(numPlanes = 16, numBands = 4)
      .nearDupPairs(vecs, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 3L))) // only the true near-dup survives verification
  }

  test("LSH pair methods on an empty frame and on null vectors: no rows, same schema") {
    val lsh = new RandomHyperplaneLSH(numPlanes = 16, numBands = 4)
    val schema = lsh.nearDupPairs(vecs, 0.9).schema
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val nulls = Seq((1L, null: Array[Float]), (2L, null: Array[Float]))
      .toDF("vec_id", "embedding")
    for ((what, in) <- Seq("empty" -> empty, "all-null" -> nulls)) {
      // the pair methods pin the signatures when called, so a failure on
      // these inputs would surface here, before any action
      val pairs = lsh.nearDupPairs(in, 0.9)
      val cands = lsh.candidatePairs(in)
      assert(pairs.schema === schema, what)
      assert(pairs.collect().isEmpty, what)
      assert(cands.collect().isEmpty, what)
    }
  }

  test("LSH signatures are deterministic across invocations") {
    val lsh = new RandomHyperplaneLSH(numPlanes = 8, numBands = 2)
    val a = lsh.bandSignatures(vecs).collect().map(_.toString).sorted
    val b = lsh.bandSignatures(vecs).collect().map(_.toString).sorted
    assert(a === b)
    assert(a.length === 5 * 2)
  }

  test("LSH searchTopK finds the near-copy for the probe") {
    val out = new RandomHyperplaneLSH(numPlanes = 8, numBands = 4)
      .searchTopK(vecs.where($"vec_id" === 1), vecs, k = 2)
      .collect()
    assert(out.map(_.getLong(1)).contains(3L))
  }

  test("IVF search finds the near-copy and respects k and self-exclusion") {
    val ivf = new IvfCosineIndex(numCentroids = 3, nprobe = 2)
    val out = ivf.search(vecs.where($"vec_id" === 1), vecs, k = 2).collect()
    assert(out.map(_.getLong(1)).contains(3L)) // near-copy of v1 retrieved
    assert(out.forall(_.getLong(1) != 1L))     // no self-pair
    assert(out.length <= 2)
  }

  test("IVF build/search split: one index serves multiple query batches") {
    val ivf = new IvfCosineIndex(numCentroids = 3, nprobe = 2)
    val idx = ivf.build(vecs)
    assert(idx.centroids.count() === 3)
    // probing a prebuilt index matches the one-shot convenience path
    val viaIndex = ivf.search(vecs.where($"vec_id" === 1), idx, k = 2)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    val oneShot = ivf.search(vecs.where($"vec_id" === 1), vecs, k = 2)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(viaIndex === oneShot)
    // a second batch probes the same index without a rebuild
    val batch2 = ivf.search(vecs.where($"vec_id" === 2), idx, k = 2).collect()
    assert(batch2.nonEmpty)
  }

  test("IVF index save/load round-trips and searches identically with partition pruning") {
    val ivf = new IvfCosineIndex(numCentroids = 3, nprobe = 2)
    val idx = ivf.build(vecs)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf").resolve("idx").toString
    idx.save(path)
    // inverted-FILE layout: one directory per cluster id
    val listDirs = new java.io.File(s"$path/lists").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cid=")).toSet
    assert(listDirs.nonEmpty)
    val loaded = IvfIndex.load(spark, path)
    val viaLoaded = ivf.search(vecs.where($"vec_id" === 1), loaded, k = 2)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    val viaBuilt = ivf.search(vecs.where($"vec_id" === 1), idx, k = 2)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(viaLoaded === viaBuilt)
    // the probe filter prunes list partitions at the scan: a literal cid
    // filter must appear INSIDE the PartitionFilters bracket (the bracket
    // itself prints even when empty, so match its contents) and the scan
    // must touch fewer files than the full index holds
    val oneCid = loaded.lists.select("cid").as[Long].head()
    val prunedDf = loaded.lists.where($"cid" === oneCid)
    val plan = prunedDf.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters: [")).getOrElse("")
    assert(pf.replaceAll(".*PartitionFilters: \\[", "").takeWhile(_ != ']')
      .contains("cid"), s"no cid partition filter in: $plan")
    assert(prunedDf.select("cid").distinct().count() === 1L)
  }

  test("IVF index assigns every vector to exactly one cluster") {
    val ivf = new IvfCosineIndex(numCentroids = 3, nprobe = 1)
    val idx = ivf.index(vecs)
    assert(idx.count() === 5)
    assert(idx.select("vec_id").distinct().count() === 5)
    val cids = idx.select("cid").as[Long].collect().toSet
    assert(cids.subsetOf(Set(0L, 1L, 2L))) // cid = dense 0-based seed rank
  }

  test("IVF index works with NON-NUMERIC string ids (cid is rank, not cast)") {
    // regression: cid used to be idCol.cast("long") — UUID-ish string ids
    // cast to NULL, NULL never equi-joins, and search silently returned
    // zero rows for every query
    val sVecs = vecs.selectExpr("concat('doc-', vec_id) AS vec_id", "embedding")
    val ivf = new IvfCosineIndex(numCentroids = 2, nprobe = 2)
    val idx = ivf.build(sVecs)
    assert(idx.centroids.where($"cid".isNull).count() === 0L)
    val hits = ivf.search(sVecs.limit(1), idx, k = 3)
    assert(hits.count() > 0L, "string-id index must return search hits")
  }

  test("IVF incremental append: new batch assigned without re-training, search sees it") {
    val ivf = new IvfCosineIndex(numCentroids = 2, nprobe = 2)
    val idx = ivf.build(vecs.where($"vec_id" <= 2))
    val appended = ivf.append(idx, vecs.where($"vec_id" > 2))
    // centroids are untouched (same frame), lists grew by the batch
    assert(appended.centroids eq idx.centroids)
    assert(appended.lists.count() === 5)
    // assignNew matches the appended lists' cids for the new rows
    val viaAssign = ivf.assignNew(idx, vecs.where($"vec_id" > 2))
      .as[(Long, Long)].collect().toSet
    val viaLists = appended.lists.where($"vec_id" > 2)
      .select($"vec_id", $"cid").as[(Long, Long)].collect().toSet
    assert(viaAssign === viaLists)
    // a search over the appended index finds the appended near-copy of v1
    val hit = ivf.search(vecs.where($"vec_id" === 1), appended, k = 1)
      .select("vec_id").as[Long].head()
    assert(hit === 3L)
  }

  test("crossPairs links near-dups ACROSS frames only, never within a side") {
    val left = vecs.where($"vec_id" === 3) // near-copy of 1
    val right = vecs.where($"vec_id" =!= 3)
    val got = new RandomHyperplaneLSH(numPlanes = 16, numBands = 4)
      .crossPairs(left, right, threshold = 0.9)
      .select($"id_l", $"id_r").as[(Long, Long)].collect().toSet
    assert(got === Set((3L, 1L)))
    // a side joined against itself via crossPairs still yields cross ids
    // only (1 vs 4 are opposite: no pair survives the cosine bar)
    val none = new RandomHyperplaneLSH(numPlanes = 16, numBands = 4)
      .crossPairs(vecs.where($"vec_id" === 1), vecs.where($"vec_id" === 4), 0.9)
    assert(none.count() === 0)
  }

  test("near-dup plan is a bucketed join, not a cartesian product") {
    val plan = new RandomHyperplaneLSH(numPlanes = 16, numBands = 4)
      .nearDupPairs(vecs, 0.9).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian in:\n$plan")
  }

  test("native cosine kernel matches the higher-order-function formulation") {
    // deterministic pseudo-random vectors; compare the codegen kernel
    // against the reference HOF expression (same accumulation order)
    val pairs = (1 to 50).map { i =>
      val a = Array.tabulate(16)(d => math.sin(i * 31 + d * 7).toDouble)
      val b = Array.tabulate(16)(d => math.cos(i * 17 + d * 3).toDouble)
      (a, b)
    }.toDF("a", "b")
    val hof = expr(
      """aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)
        | / (sqrt(aggregate(a, 0.0D, (acc, v) -> acc + v * v))
        |    * sqrt(aggregate(b, 0.0D, (acc, v) -> acc + v * v)))""".stripMargin)
    val diff = pairs
      .select(abs(graft.sql.functions.cosineSimilarity($"a", $"b") - hof).as("d"))
      .agg(max($"d")).first().getDouble(0)
    assert(diff === 0.0) // bit-identical, not just close
  }

  test("native cosine kernel: null input and length mismatch yield null") {
    val df = Seq(
      (Some(Array(1.0, 2.0)), Some(Array(1.0, 2.0))),
      (None, Some(Array(1.0, 2.0))),
      (Some(Array(1.0, 2.0)), Some(Array(1.0, 2.0, 3.0))))
      .toDF("a", "b")
    val out = df.select(graft.sql.functions.cosineSimilarity($"a", $"b")).collect()
    assert(!out(0).isNullAt(0) && out(0).getDouble(0) > 0.999)
    assert(out(1).isNullAt(0))
    assert(out(2).isNullAt(0))
  }
}
