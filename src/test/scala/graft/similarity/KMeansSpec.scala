package graft.similarity

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.sql.expressions.NearestCell
import graft.sql.functions.squaredL2

class KMeansSpec extends SparkTestBase {
  import spark.implicits._

  // two tight 2-dim clusters; ids 1-2 (the seeds) start both INSIDE
  // cluster A, so only refinement iterations can pull centroid 1 over to
  // cluster B — the case where 1-step visibly under-fits.
  lazy val vecs = Seq(
    (1L, Array(0.0, 0.0)),
    (2L, Array(1.0, 0.0)),
    (3L, Array(0.1, 0.1)),
    (4L, Array(0.2, 0.0)),
    (5L, Array(9.0, 9.0)),
    (6L, Array(9.1, 9.1)),
    (7L, Array(8.9, 9.2)))
    .toDF("vec_id", "embedding")

  private def inertia(km: KMeans, cents: org.apache.spark.sql.DataFrame): Double =
    km.summary(vecs, cents).agg(sum("inertia")).as[Double].head()

  test("seeds are the k lowest ids with dense 0-based cids") {
    val s = new KMeans(k = 2, iters = 0, dim = 2).seeds(vecs)
      .orderBy("cid").as[(Long, Array[Double])].collect()
    assert(s.map(_._1).toSeq === Seq(0L, 1L))
    assert(s(0)._2.toSeq === Seq(0.0, 0.0)) // id 1's vector
    assert(s(1)._2.toSeq === Seq(1.0, 0.0)) // id 2's vector
  }

  test("total inertia never increases with more Lloyd iterations") {
    val by = (0 to 3).map { i =>
      val km = new KMeans(k = 2, iters = i, dim = 2)
      inertia(km, km.fit(vecs))
    }
    by.sliding(2).foreach { case Seq(a, b) => assert(b <= a + 1e-12) }
    // and on this under-fitted seeding refinement strictly helps
    assert(by(2) < by(0))
  }

  test("converged fit separates the two planted clusters") {
    val km = new KMeans(k = 2, iters = 3, dim = 2)
    val a = km.assign(vecs, km.fit(vecs))
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(Set(a(1L), a(3L), a(4L)).size === 1)
    assert(Set(a(5L), a(6L), a(7L)).size === 1)
    assert(a(1L) !== a(5L))
    // both planted clusters contain a seed-adjacent point, so both cids live
    assert(a.values.toSet.size === 2)
  }

  test("a cluster that loses all members keeps its previous centroid") {
    // both seeds identical: every point tie-breaks to cid 0, cluster 1
    // empties on iteration 1 — the guard must keep its centroid (and k
    // stays 2) instead of dropping the cid or averaging zero rows
    val dup = Seq(
      (1L, Array(5.0, 5.0)),
      (2L, Array(5.0, 5.0)),
      (3L, Array(6.0, 5.0)))
      .toDF("vec_id", "embedding")
    val km = new KMeans(k = 2, iters = 1, dim = 2)
    val cents = km.fit(dup).orderBy("cid")
      .as[(Long, Array[Double])].collect()
    assert(cents.length === 2)
    assert(cents(1)._2.toSeq === Seq(5.0, 5.0)) // cid 1 froze at its seed
    assert(cents(0)._2(0) === 16.0 / 3) // cid 0 moved to the member mean
    // with the frozen centroid sitting exactly on the duplicate points,
    // the next assignment legitimately re-captures them — Lloyd with a
    // live (not dropped) empty cluster
    val sizes = km.assign(dup, km.fit(dup))
      .groupBy("cid").count().as[(Long, Long)].collect().toMap
    assert(sizes === Map(0L -> 1L, 1L -> 2L))
  }

  test("fit on an empty corpus fails loudly (estimator contract)") {
    val empty = Seq.empty[(Long, Array[Double])].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      new KMeans(k = 2, iters = 1, dim = 2).fit(empty)
    }
    assert(e.getMessage.contains("empty"))
  }

  test("assignment is exhaustive and unique per vector") {
    val km = new KMeans(k = 3, iters = 2, dim = 2)
    val a = km.assign(vecs, km.fit(vecs))
    assert(a.count() === 7)
    assert(a.select("vec_id").distinct().count() === 7)
    assert(a.agg(min("d2")).as[Double].head() >= 0.0)
  }

  /** The checkpoint-and-join shape the centroids had before they moved to
    * the driver: triangle-join seed ranks, a `union` + `localCheckpoint`
    * per farthest seed, and a left join + `localCheckpoint` per Lloyd
    * round. Assignment and farthest distance are the crossJoin SQL the
    * row-local kernel replaced: `squared_l2` against the broadcast
    * centroids, then `min_by(struct(cid, d2), struct(d2, cid))` or
    * `min(d2)` per vector. Vectors are grouped by (id, cv), not by id
    * alone, because the kernel assigns each row; the assignment joins
    * back onto the streamed corpus, so the means add the same rows in
    * the same order.
    */
  private class Reference(k: Int, iters: Int, dim: Int) {
    private def corpus(v: DataFrame) = graft.sql.functions.spread(
      v.select(col("vec_id"), col("embedding").cast("array<double>").as("cv")), col("vec_id"))
    private def distances(e: DataFrame, cents: DataFrame) =
      e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cv"), col("cid"), squaredL2(col("cv"), col("centroid")).as("d2"))
        .groupBy(col("vec_id"), col("cv"))
    private def refine(e: DataFrame, initial: DataFrame): DataFrame = {
      var cents = initial.localCheckpoint()
      require(!cents.isEmpty, "cannot fit k-means on an empty vector column")
      for (_ <- 0 until iters) {
        val members = e.where(col("vec_id").isNotNull)
        val nearest = distances(members, cents)
          .agg(min_by(struct(col("cid"), col("d2")), struct(col("d2"), col("cid"))).as("b"))
        val means = members.as("e")
          .join(broadcast(nearest).as("a"),
            col("e.vec_id") === col("a.vec_id") && (col("e.cv") <=> col("a.cv")))
          .groupBy(col("a.b.cid").as("cid"))
          .agg(graft.sql.functions.vectorMean(col("e.cv"), Some(dim)).as("m"))
        cents = cents.as("c").join(means.as("n"), Seq("cid"), "left")
          .select(col("cid"), coalesce(col("n.m"), col("c.centroid")).as("centroid"))
          .localCheckpoint()
      }
      cents
    }
    def fit(v: DataFrame): DataFrame = refine(corpus(v),
      TriangleSeeding.kLowestIdRanks(corpus(v), "vec_id", k, "cid")
        .select(col("cid"), col("cv").as("centroid")))
    def fitFarthest(v: DataFrame): DataFrame = {
      val e = corpus(v)
      var chosen = e.orderBy(col("vec_id")).limit(1)
        .select(lit(0L).as("cid"), col("cv").as("centroid")).localCheckpoint()
      for (i <- 1 until k) {
        val next = distances(e, chosen).agg(min(col("d2")).as("md"))
          .orderBy(col("md").desc, col("vec_id")).limit(1)
          .select(lit(i.toLong).as("cid"), col("cv").as("centroid"))
        chosen = chosen.unionByName(next).localCheckpoint()
      }
      refine(e, chosen)
    }
  }

  /** Centroids as (cid, element bits) in cid-then-bits order, plus the schema. */
  private def bits(c: DataFrame) = (c.schema, c.collect().toSeq.map { r =>
    (r.getLong(0), Option(r.getSeq[java.lang.Double](1))
      .map(_.map(x => Option(x).map(d => java.lang.Double.doubleToLongBits(d))).toList))
  }.sortBy(_.toString))

  private def sameAsReference(v: DataFrame, k: Int, iters: Int, dim: Int = 2): Unit = {
    val (km, ref) = (new KMeans(k, iters, dim), new Reference(k, iters, dim))
    assert(bits(km.fit(v)) === bits(ref.fit(v)), s"fit k=$k iters=$iters")
    assert(bits(km.fitFarthest(v)) === bits(ref.fitFarthest(v)), s"fitFarthest k=$k iters=$iters")
  }

  private def vectors(rows: (java.lang.Long, Seq[java.lang.Double])*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (id, v) => Row(id, v) }: _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))

  private def vec(xs: java.lang.Double*): Seq[java.lang.Double] = xs

  test("fit and fitFarthest equal the checkpoint-and-join shape bit for bit") {
    for (k <- 1 to 4; iters <- 0 to 3) sameAsReference(vecs, k, iters)
  }

  test("bit-equal to the checkpoint-and-join shape when a cluster loses every member") {
    val dup = Seq((1L, Array(5.0, 5.0)), (2L, Array(5.0, 5.0)), (3L, Array(6.0, 5.0)))
      .toDF("vec_id", "embedding")
    for (iters <- 1 to 2) sameAsReference(dup, 2, iters)
  }

  test("bit-equal to the checkpoint-and-join shape with duplicate ids among the k lowest") {
    // ids 1 and 3 repeat; the lowest id is unique so the farthest seed 0
    // is determined, and k = 3 takes both id-1 rows (cids 0, 1, 1). No k
    // splits a repeated id, which would leave the seed set arbitrary.
    val v = vectors((0L, vec(1.0, 1.0)), (1L, vec(0.0, 0.0)), (1L, vec(0.5, 0.0)),
      (2L, vec(9.0, 9.0)), (3L, vec(9.5, 9.0)), (3L, vec(0.2, 0.1)), (4L, vec(5.0, 5.0)))
    val cids = new KMeans(3, 0, 2).seeds(v).select("cid").as[Long].collect().sorted
    assert(cids.toSeq === Seq(0L, 1L, 1L))
    for (k <- Seq(3, 4, 6); iters <- 0 to 2) sameAsReference(v, k, iters)
  }

  test("bit-equal to the checkpoint-and-join shape with null ids, null vectors and null elements") {
    val v = vectors((null, vec(1.0, 1.0)), (1L, vec(0.0, 0.0)), (2L, null),
      (3L, vec(null, 4.0)), (4L, vec(9.0, 9.0)), (5L, vec(8.0, 9.5)), (6L, vec(0.5, 0.5)))
    for (k <- Seq(2, 3, 4); iters <- 0 to 2) sameAsReference(v, k, iters)
  }

  test("fit on an empty corpus fails with the checkpoint-and-join shape's message") {
    val empty = vectors()
    for (iters <- Seq(0, 2)) {
      val ref = new Reference(2, iters, 2)
      val km = new KMeans(k = 2, iters = iters, dim = 2)
      val want = intercept[IllegalArgumentException](ref.fit(empty)).getMessage
      assert(intercept[IllegalArgumentException](km.fit(empty)).getMessage === want)
      assert(intercept[IllegalArgumentException](km.fitFarthest(empty)).getMessage === want)
      assert(intercept[IllegalArgumentException](ref.fitFarthest(empty)).getMessage === want)
    }
  }

  test("k * dim is bounded: the centroids are driver rows and plan literals") {
    val e = intercept[IllegalArgumentException](new KMeans(k = 4096, iters = 1, dim = 65))
    assert(e.getMessage.contains("k = 4096") && e.getMessage.contains("dim = 65") &&
      e.getMessage.contains(NearestCell.MaxCentroidValues.toString))
    // the largest callers: 256-code PQ codebooks over 8-dim slices, and
    // k = 16 at dim 64 (ScaleSmoke); the limit itself is admitted
    new KMeans(k = 256, iters = 2, dim = 8)
    new KMeans(k = 16, iters = 2, dim = 64)
    new KMeans(k = 4096, iters = 1, dim = 64)
  }
}
