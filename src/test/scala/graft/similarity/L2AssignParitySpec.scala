package graft.similarity

import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.sql.expressions.NearestCell
import graft.sql.functions.squaredL2

/** The squared-L2 shapes of [[graft.sql.expressions.NearestCell]] (the
  * k-means Lloyd assignment and the farthest-seed distance) must be
  * drop-in equal to the crossJoin SQL they replaced: `squared_l2` against
  * the broadcast centroids, then per vector
  * `min_by(struct(cid, d2), struct(d2, cid))` or `min(d2)`. Compared by
  * `doubleToLongBits`, on the interpreted (`eval`) and the generated path,
  * over the edges: a null vector, a null centroid, a vector of the wrong
  * length, a zero vector, exact duplicates (vectors and centroids), equal
  * distances to two cells, +0.0 against -0.0, and an `Infinity` element
  * that yields NaN.
  */
class L2AssignParitySpec extends SparkTestBase {

  private val inf = Double.PositiveInfinity

  private def vectors(rows: (Long, Seq[Double])*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (id, v) => Row(id, v) }: _*),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("cv", ArrayType(DoubleType, containsNull = false)))))

  private def cells(rows: (Long, Seq[Double])*): DataFrame =
    vectors(rows: _*).withColumnRenamed("vec_id", "cid").withColumnRenamed("cv", "centroid")

  private def h(i: Long, s: Int): Double =
    (((i * 2654435761L + s * 40503L) % 1000) / 1000.0) - 0.5

  private val corpus = vectors(
    (0L, null),                      // null vector: every d2 is null
    (1L, Seq(1.0, 2.0, 3.0)),        // wrong length: every d2 is null
    (2L, Seq(0.0, 0.0)),             // zero vector; equidistant from cids 0 and 1
    (3L, Seq(-0.0, -0.0)),           // the zero vector with signed zeros
    (4L, Seq(0.0, 3.0)),             // d2 = 0 to cid 2 and to cid 6 (-0.0, 3.0)
    (5L, Seq(-0.0, 3.0)),
    (6L, Seq(inf, 5.0)),             // inf - inf: NaN against cid 4, inf elsewhere
    (7L, Seq(Double.NaN, 0.0)),      // NaN against every cell
    (8L, Seq(0.5, 0.25)),
    (9L, Seq(0.5, 0.25)))            // exact duplicate of id 8
    .unionByName(vectors((10L until 40L).map(i => (i, Seq(h(i, 1) * 8, h(i, 2) * 8))): _*))

  private val planted = Seq(
    0L -> Seq(1.0, 0.0),
    1L -> Seq(-1.0, 0.0),
    2L -> Seq(0.0, 3.0),
    3L -> Seq(-0.0, -3.0),
    4L -> Seq(inf, 5.0),
    6L -> Seq(-0.0, 3.0))            // cid 2 with a signed zero

  /** Without, and with, a null centroid (whose null d2 wins every arg-min). */
  private val cellSets = Seq(cells(planted: _*), cells(planted :+ (5L -> null): _*))

  /** (id → (cid, d2 bits), id → min-d2 bits) by the replaced crossJoin SQL. */
  private def reference(cents: DataFrame) = {
    val rows = corpus.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"), squaredL2(col("cv"), col("centroid")).as("d2"))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("cid"), col("d2")), struct(col("d2"), col("cid"))).as("b"),
        min(col("d2")).as("md"))
      .select(col("vec_id"), col("b.cid"), col("b.d2"), col("md"))
      .collect()
    def bits(r: Row, i: Int) =
      if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(i)))
    (rows.map(r => r.getLong(0) -> (Option(r.get(1)), bits(r, 2))).toMap,
      rows.map(r => r.getLong(0) -> bits(r, 3)).toMap)
  }

  /** The kernel on one vector literal, interpreted or generated. */
  private def kernel(shape: NearestCell.Shape, v: Any, cents: Array[Row],
      generated: Boolean): InternalRow = {
    val e: Expression = GraftBridge.expression(NearestCell.column(shape,
      GraftBridge.column(Literal.create(v, ArrayType(DoubleType))), cents))
    if (generated) GenerateUnsafeProjection.generate(Seq(e))(InternalRow.empty)
    else InternalRow(e.eval())
  }

  private def bits(r: InternalRow, i: Int) =
    if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(i)))

  test("L2 arg-min equals crossJoin + min_by(struct(cid, d2), struct(d2, cid))") {
    for (cents <- cellSets; generated <- Seq(false, true)) {
      val (want, _) = reference(cents)
      val cs = cents.collect()
      val got = corpus.collect().map { r =>
        val b = kernel(NearestCell.L2ArgMin, r.get(1), cs, generated).getStruct(0, 2)
        r.getLong(0) -> (if (b.isNullAt(0)) None else Some(b.getLong(0)), bits(b, 1))
      }.toMap
      assert(got === want, s"generated = $generated, cells = ${cs.length}")
    }
  }

  test("farthest-seed distance equals crossJoin + groupBy(id).agg(min(d2))") {
    for (cents <- cellSets; generated <- Seq(false, true)) {
      val (_, want) = reference(cents)
      val cs = cents.collect()
      val got = corpus.collect().map { r =>
        r.getLong(0) -> bits(kernel(NearestCell.L2MinDistance, r.get(1), cs, generated), 0)
      }.toMap
      assert(got === want, s"generated = $generated, cells = ${cs.length}")
    }
  }

  test("the edges decide as SQL orders them") {
    val cs = cellSets.head.collect()
    def argMin(v: Seq[Double]) = {
      val b = kernel(NearestCell.L2ArgMin, v, cs, generated = true).getStruct(0, 2)
      (if (b.isNullAt(0)) None else Some(b.getLong(0)), bits(b, 1).map(java.lang.Double.longBitsToDouble))
    }
    assert(argMin(null) === (Some(0L), None))                // all null: lowest cid
    assert(argMin(Seq(1.0, 2.0, 3.0)) === (Some(0L), None))
    assert(argMin(Seq(0.0, 0.0)) === (Some(0L), Some(1.0)))  // tie with cid 1
    assert(argMin(Seq(-0.0, 3.0)) === (Some(2L), Some(0.0))) // tie with cid 6
    assert(argMin(Seq(inf, 5.0)) === (Some(0L), Some(inf)))  // NaN (cid 4) loses
    val nan = argMin(Seq(Double.NaN, 0.0))
    assert(nan._1 === Some(0L) && nan._2.exists(_.isNaN))
    // a null centroid's null d2 wins even against d2 = 0
    val withNull = cellSets(1).collect()
    val b = kernel(NearestCell.L2ArgMin, Seq(1.0, 0.0), withNull, generated = false)
      .getStruct(0, 2)
    assert(b.getLong(0) === 5L && b.isNullAt(1))
  }
}
