package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The r17 row-local nearest-centroid assignment (the cosine arg-max of
  * [[graft.sql.expressions.NearestCell]]) must be drop-in equal to
  * the crossJoin + `max_by(cid, struct(cos, -cid))` shape it replaced —
  * including the edges: a zero vector (cos = NaN against every centroid,
  * NaN sorts LARGEST so the zero vector assigns to the lowest cid), and
  * exact tie-breaks (duplicate vectors → same cid; equal cos → lowest
  * cid).
  */
class IvfAssignParitySpec extends SparkTestBase {
  import spark.implicits._

  private val dim = 8

  private def h(i: Long, s: Int): Double =
    (((i * 2654435761L + s * 40503L) % 1000) / 1000.0) - 0.5

  private def vec(i: Long): (Long, Seq[Double]) =
    (i, (0 until dim).map(j => h(i, j + 1) * 3 + (i % 4).toDouble))

  test("row-local assignment equals the max_by crossJoin formulation") {
    val ivf = new IvfCosineIndex(numCentroids = 4, nprobe = 2, dim = Some(dim))
    val base = (0L until 80L).map(vec)
    // edges: an exact duplicate of id 3 (tie on every cos), and a zero
    // vector (cosine = 0/0 = NaN against every centroid)
    val corpus = (base :+ (100L, base(3)._2) :+ (101L, Seq.fill(dim)(0.0)))
      .toDF("vec_id", "embedding")
    val idx = ivf.build((0L until 80L).map(vec).toDF("vec_id", "embedding"))

    val got = ivf.assignNew(idx, corpus)
      .as[(Long, Long)].collect().toMap

    // the pre-r17 formulation, written out verbatim
    val ref = corpus
      .select(col("vec_id"), col("embedding").cast("array<double>").as("cv"))
      .crossJoin(broadcast(
        idx.centroids.select(col("cid"),
          col("centroid").cast("array<double>").as("centroid"))))
      .select(col("vec_id"), col("cid"),
        graft.sql.functions.cosineSimilarity(col("cv"), col("centroid")).as("cos"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("cos"), -col("cid"))).as("cid"))
      .as[(Long, Long)].collect().toMap

    assert(got.size === ref.size)
    assert(got === ref)
    // the duplicate vector tie-breaks identically to its original
    assert(got(100L) === got(3L))
    // the NaN row did assign (NaN sorts largest → lowest cid wins)
    assert(got.contains(101L))
  }

  test("row-local probes equal the crossJoin + row_number formulation") {
    import org.apache.spark.sql.expressions.Window
    val ivf = new IvfCosineIndex(numCentroids = 4, nprobe = 2, dim = Some(dim))
    val idx = ivf.build((0L until 80L).map(vec).toDF("vec_id", "embedding"))
    val queries = ((0L until 10L).map(vec) :+ (101L, Seq.fill(dim)(0.0)))
      .toDF("vec_id", "embedding")
    val got = ivf.probes(queries, idx)
      .select("query_id", "cid").as[(Long, Long)].collect().sorted.toSeq

    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cid"))
    val ref = queries
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      .crossJoin(broadcast(idx.centroids))
      .select(col("query_id"), col("cid"),
        graft.sql.functions.cosineSimilarity(col("qv"),
          col("centroid").cast("array<double>")).as("cos"))
      .withColumn("rn", row_number().over(wProbe))
      .where(col("rn") <= 2)
      .select(col("query_id"), col("cid"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got === ref)
  }

  test("listRows drops null-id rows exactly like the old equi-join") {
    val ivf = new IvfCosineIndex(numCentroids = 4, nprobe = 2, dim = Some(dim))
    val idx = ivf.build((0L until 80L).map(vec).toDF("vec_id", "embedding"))
    val withNull = ((0L until 10L).map(vec).toDF("vec_id", "embedding"))
      .unionByName(Seq(vec(11L)).toDF("vec_id", "embedding")
        .withColumn("vec_id", lit(null).cast("long")))
    val lists = ivf.listRows(withNull, idx.centroids)
    assert(lists.count() === 10L)
    assert(lists.where(col("vec_id").isNull).count() === 0L)
  }

  test("a null winning cid is null, not 0, interpreted and generated") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types._
    import graft.sql.expressions.NearestCell
    val cents = Literal.create(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),
      ArrayType(ArrayType(DoubleType)))
    val cids = Literal.create(Seq(7L, null), ArrayType(LongType))
    // cosine returns the cid; squared L2 returns struct(cid, d2)
    for ((shape, cid) <- Seq[(NearestCell.Shape, InternalRow => Any)](
        NearestCell.CosineArgMax -> (r => if (r.isNullAt(0)) null else r.getLong(0)),
        NearestCell.L2ArgMin -> { r =>
          val b = r.getStruct(0, 2)
          if (b.isNullAt(0)) null else b.getLong(0)
        })) {
      def assign(v: Seq[Double]) =
        NearestCell(Literal.create(v, ArrayType(DoubleType)), cids, cents, shape)
      def interpreted(v: Seq[Double]): Any = cid(InternalRow(assign(v).eval()))
      def generated(v: Seq[Double]): Any =
        cid(GenerateUnsafeProjection.generate(Seq(assign(v)))(InternalRow.empty))
      // the second cell wins and its cid is null; the first wins with cid 7
      assert(interpreted(Seq(0.0, 1.0)) === null, shape)
      assert(generated(Seq(0.0, 1.0)) === null, shape)
      assert(interpreted(Seq(1.0, 0.0)) === 7L, shape)
      assert(generated(Seq(1.0, 0.0)) === 7L, shape)
    }
  }
}
