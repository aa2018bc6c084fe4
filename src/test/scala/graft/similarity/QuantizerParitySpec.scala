package graft.similarity

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.sql.expressions.NearestCell
import graft.sql.functions.{spread, squaredL2, vectorMean}

/** The seed ranks the trained quantizers used before their seeds became
  * driver rows: the k lowest non-null-id rows of `df` (all columns) plus
  * `rankCol`, the count of strictly smaller DISTINCT ids among them, from a
  * triangle self-join re-joined by broadcast.
  */
object TriangleSeeding {
  def kLowestIdRanks(df: DataFrame, idCol: String, k: Int, rankCol: String): DataFrame = {
    val top = df.where(col(idCol).isNotNull).orderBy(col(idCol)).limit(k)
    val ids = top.select(col(idCol))
    val ranked = ids.as("x")
      .join(ids.select(col(idCol).as("__y")).as("y"), col("__y") < col(idCol), "left")
      .groupBy(col(idCol))
      .agg(count_distinct(col("__y")).cast("long").as(rankCol))
    top.join(broadcast(ranked), idCol)
  }
}

/** `IvfCosineIndex.centroids` and `ProductQuantizer.fit`/`encode` equal
  * their lazy-plan shapes bit for bit: triangle-join seeds, IVF's Lloyd
  * means as a lazy groupBy, and PQ's `broadcast(codebook)` join with a
  * `groupBy(id, sub)` + `min_by` assignment whose means join the codes
  * back onto the sliced corpus. Where the old `groupBy(id, sub)` collapsed
  * rows sharing an id (duplicate ids; several null ids), the driver-row
  * shape codes each row, so those cases compare distinct rows.
  */
class QuantizerParitySpec extends SparkTestBase {

  private class IvfReference(numCentroids: Int, dim: Option[Int]) {
    def centroids(candidates: DataFrame): DataFrame = {
      val e = spread(candidates.select(col("vec_id"),
        col("embedding").cast("array<double>").as("cv")), col("vec_id"))
      val seeds = TriangleSeeding.kLowestIdRanks(e, "vec_id", numCentroids, "cid")
        .select(col("cid"), col("cv").as("centroid"))
      val cells = seeds.select(col("cid").cast("long"), col("centroid")).collect()
      val members =
        if (cells.isEmpty) e.withColumn("cid", lit(null).cast("long")).where(lit(false))
        else e.withColumn("cid", NearestCell.column(NearestCell.CosineArgMax, col("cv"), cells))
      members.where(col("vec_id").isNotNull).groupBy(col("cid"))
        .agg(vectorMean(col("cv"), dim).as("centroid"))
        .where(col("centroid").isNotNull)
    }
  }

  private class PqReference(m: Int, k: Int, dim: Int) {
    private val subDim = dim / m
    private def slices(vectors: DataFrame): DataFrame = spread(
      vectors.select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), j -> slice(embedding, j * $subDim + 1, $subDim))"))
        .as(Seq("sub", "slice")))
        .select(col("vec_id"), col("sub"), col("slice").cast("array<double>").as("slice")),
      col("vec_id"))
    private def assign(s: DataFrame, codebook: DataFrame): DataFrame =
      s.join(broadcast(codebook), "sub")
        .select(col("vec_id"), col("sub"), col("code"),
          squaredL2(col("slice"), col("centroid")).as("d2"))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
    def fit(vectors: DataFrame): DataFrame = {
      val s = slices(vectors)
      val seedIds = TriangleSeeding.kLowestIdRanks(vectors.select(col("vec_id")), "vec_id", k, "code")
      val seeds = s.join(broadcast(seedIds), "vec_id")
        .select(col("sub"), col("code"), col("slice").as("centroid"))
      val means = s.join(assign(s, seeds), Seq("vec_id", "sub"))
        .groupBy(col("sub"), col("code"))
        .agg(vectorMean(col("slice"), Some(subDim)).as("mean"))
      seeds.join(means, Seq("sub", "code"), "left")
        .select(col("sub"), col("code"), coalesce(col("mean"), col("centroid")).as("centroid"))
    }
    def encode(vectors: DataFrame, codebook: DataFrame): DataFrame =
      assign(slices(vectors), codebook)
  }

  private def bits(x: Any): Any = x match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits).toList
    case r: Row => r.toSeq.map(bits).toList
    case other => other
  }

  /** The frame's rows as element bits, sorted, plus its schema. */
  private def asBits(df: DataFrame, distinct: Boolean = false) = {
    val rows = df.collect().toSeq.map(bits).sortBy(_.toString)
    (df.schema, if (distinct) rows.distinct else rows)
  }

  private def vectors(idType: DataType, rows: (Any, Seq[Any])*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (id, v) => Row(id, v) }: _*),
      StructType(Seq(StructField("vec_id", idType),
        StructField("embedding", ArrayType(DoubleType)))))

  private def longIds(rows: (Any, Seq[Any])*): DataFrame =
    vectors(LongType, rows: _*)

  private def h(i: Long, s: Int): Double =
    (((i * 2654435761L + s * 40503L) % 1000) / 1000.0) - 0.5

  /** 80 vectors in 4 loose groups, dim 8 (the IvfAssignParitySpec corpus). */
  private lazy val corpus = longIds((0L until 80L).map(i =>
    (i, (0 until 8).map(j => h(i, j + 1) * 3 + (i % 4).toDouble))): _*)

  private def sameIvf(v: DataFrame, cells: Int, dim: Option[Int]): Unit = {
    val got = new IvfCosineIndex(numCentroids = cells, nprobe = 1, dim = dim).centroids(v)
    assert(asBits(got) === asBits(new IvfReference(cells, dim).centroids(v)),
      s"IVF centroids, $cells cells, dim $dim")
  }

  private def samePq(v: DataFrame, m: Int, k: Int, dim: Int, distinct: Boolean = false): Unit = {
    val (pq, ref) = (new ProductQuantizer(m, k, dim), new PqReference(m, k, dim))
    val (cb, refCb) = (pq.fit(v), ref.fit(v))
    assert(asBits(cb, distinct) === asBits(refCb, distinct), s"PQ codebook, m $m, k $k")
    assert(asBits(pq.encode(v, cb), distinct) === asBits(ref.encode(v, refCb), distinct),
      s"PQ codes, m $m, k $k")
  }

  test("IVF centroids and PQ codebooks and codes equal the lazy-plan shapes on the spec corpora") {
    for (cells <- Seq(1, 4, 16); dim <- Seq(Some(8), None)) sameIvf(corpus, cells, dim)
    for ((m, k) <- Seq((1, 4), (2, 4), (4, 16), (8, 2))) samePq(corpus, m, k, 8)
    // ProductQuantizerSpec's corpus: two tight clusters per subspace
    val pqSpec = longIds(
      (1L, Seq(0.0, 0.0, 9.0, 9.0)), (2L, Seq(9.0, 9.0, 0.0, 0.0)),
      (3L, Seq(0.1, 0.1, 9.1, 9.1)), (4L, Seq(9.1, 9.1, 0.1, 0.1)),
      (5L, Seq(0.2, 0.1, 0.2, 0.1)))
    samePq(pqSpec, 2, 2, 4)
    sameIvf(pqSpec, 2, Some(4))
  }

  test("bit-equal with duplicate ids among the k lowest") {
    // id 1 repeats with two different vectors, id 3 with one vector
    // twice; no k below splits a repeated id
    val v = longIds((0L, Seq(1.0, 1.0, 0.0, 2.0)), (1L, Seq(0.0, 0.5, 3.0, 1.0)),
      (1L, Seq(0.5, 0.0, 2.0, 2.0)), (2L, Seq(9.0, 9.0, 1.0, 0.0)),
      (3L, Seq(9.5, 9.0, 0.2, 0.3)), (3L, Seq(9.5, 9.0, 0.2, 0.3)), (4L, Seq(5.0, 5.0, 5.0, 5.0)))
    for (cells <- Seq(3, 4, 6); dim <- Seq(Some(4), None)) sameIvf(v, cells, dim)
    // the old seed join re-read every slice of a seed id, and the old
    // assignment collapsed an id's rows: same rows, other multiplicities
    for (k <- Seq(3, 4, 6)) samePq(v, 2, k, 4, distinct = true)
  }

  test("bit-equal with null ids, null vectors and null elements") {
    val v = longIds((null, Seq(1.0, 1.0, 2.0, 0.0)), (1L, Seq(0.0, 0.0, 1.0, 1.0)),
      (2L, null), (3L, Seq(null, 4.0, 4.0, 1.0)), (4L, Seq(9.0, 9.0, 0.0, 0.5)),
      (5L, Seq(8.0, 9.5, 0.5, 0.0)), (6L, Seq(0.5, 0.5, 1.0, 1.5)))
    for (cells <- Seq(2, 3, 5); dim <- Seq(Some(4), None)) sameIvf(v, cells, dim)
    for (k <- Seq(1, 2, 3, 5)) samePq(v, 2, k, 4)
    // seeds past the null vector: its null slices score null, nearest
    for (k <- Seq(2, 3)) samePq(v.where(col("vec_id") =!= 1L), 2, k, 4)
    // only null ids: no seed, no centroid, an empty codebook
    val allNull = v.withColumn("vec_id", lit(null).cast("long"))
    sameIvf(allNull, 2, Some(4))
    samePq(allNull, 2, 2, 4)
  }

  test("bit-equal when a cell or code wins no member: IVF drops it, PQ keeps its seed") {
    // ids 1 and 2 are exact duplicates: every member ties to the lower cid
    val v = longIds((1L, Seq(0.0, 1.0, 9.0, 9.0)), (2L, Seq(0.0, 1.0, 9.0, 9.0)),
      (3L, Seq(5.0, 5.0, 5.0, 4.0)), (4L, Seq(1.0, 1.0, 8.0, 8.0)))
    for (dim <- Seq(Some(4), None)) {
      sameIvf(v, 2, dim)
      assert(new IvfCosineIndex(2, 1, dim = dim).centroids(v).count() === 1L)
    }
    samePq(v, 2, 2, 4)
    assert(new ProductQuantizer(2, 2, 4).fit(v).count() === 4L)
    // dim = None: a cell whose members have no element has a null mean
    val empty = longIds((1L, Seq(1.0, 0.0)), (2L, Seq()), (3L, null), (4L, Seq(0.0, 1.0)))
    sameIvf(empty, 3, None)
  }

  test("bit-equal with string ids (the cid and code are ranks, not casts)") {
    val v = vectors(StringType, ("doc-c", Seq(0.0, 1.0, 2.0, 3.0)),
      ("doc-a", Seq(3.0, 2.0, 1.0, 0.0)), ("doc-b", Seq(1.0, 1.0, 1.0, 1.0)),
      ("doc-d", Seq(0.5, 1.5, 2.0, 3.5)), ("doc-e", Seq(3.0, 2.5, 0.5, 0.0)))
    for (cells <- Seq(2, 3); dim <- Seq(Some(4), None)) sameIvf(v, cells, dim)
    for (k <- Seq(2, 3)) samePq(v, 2, k, 4)
  }
}
