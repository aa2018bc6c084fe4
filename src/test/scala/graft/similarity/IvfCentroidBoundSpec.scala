package graft.similarity

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.sql.expressions.NearestCell

/** IVF centroids reach every assignment and probe as one plan literal, so
  * their total element count is bounded by
  * [[NearestCell.MaxCentroidValues]]: `buildWith`, `assignNew` and
  * `probes` fail on the driver, when called and before any job over the
  * vectors, with a message that states the count and the limit. The bound
  * counts elements, not `cells × dim`, so it also holds for an index
  * without a declared `dim`.
  */
class IvfCentroidBoundSpec extends SparkTestBase {

  private val limit = NearestCell.MaxCentroidValues
  private val wide = 1 << 16

  private def frame(id: String, v: String, rows: Seq[(Long, Seq[Double])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (i, x) => Row(i, x) }: _*),
      StructType(Seq(StructField(id, LongType), StructField(v, ArrayType(DoubleType)))))

  private def cents(lengths: Int*) =
    frame("cid", "centroid", lengths.zipWithIndex.map { case (n, i) =>
      (i.toLong, Seq.tabulate(n)(j => if (j == i) 1.0 else 0.0))
    })

  private def vectors(n: Int) = frame("vec_id", "embedding", Seq(0L -> Seq.fill(n)(1.0)))

  private def overLimit(values: Long)(call: => Any): Unit = {
    val e = intercept[IllegalArgumentException](call)
    assert(e.getMessage.contains(s"$values values") && e.getMessage.contains(limit.toString),
      e.getMessage)
  }

  test("buildWith, assignNew and probes reject centroids over the element limit") {
    // dim = Some(d): 5 cells of 2^16; dim = None: the same cells, ragged
    for ((dim, lengths) <- Seq(Some(wide) -> Seq.fill(5)(wide),
        None -> Seq(wide, wide, wide, wide - 1, 2))) {
      val ivf = new IvfCosineIndex(numCentroids = 5, nprobe = 2, dim = dim)
      val c = cents(lengths: _*)
      val values = lengths.map(_.toLong).sum
      assert(values > limit)
      val idx = IvfIndex(c, frame("vec_id", "cv", Nil).withColumn("cid",
        org.apache.spark.sql.functions.lit(0L)))
      overLimit(values)(ivf.buildWith(vectors(wide), c))
      overLimit(values)(ivf.assignNew(idx, vectors(wide)))
      overLimit(values)(ivf.probes(vectors(wide), idx))
    }
  }

  test("centroids at the element limit are admitted") {
    for ((dim, lengths) <- Seq(Some(wide) -> Seq.fill(4)(wide),
        None -> Seq(wide, wide, wide, wide - 1, 1))) {
      assert(lengths.map(_.toLong).sum === limit)
      val ivf = new IvfCosineIndex(numCentroids = lengths.size, nprobe = 2, dim = dim)
      val c = cents(lengths: _*)
      val idx = ivf.buildWith(vectors(wide), c)
      assert(ivf.assignNew(idx, vectors(wide)).collect().map(_.getLong(1)).toSeq === Seq(0L))
      assert(ivf.probes(vectors(wide), idx).count() === 2L)
    }
    // the largest in-repo IVF indexes: 16 cells at dim 64
    assert(16L * 64 * 200 < limit)
  }
}
