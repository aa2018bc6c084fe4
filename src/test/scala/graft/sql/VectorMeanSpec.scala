package graft.sql

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.sql.expressions.VectorMean
import graft.sql.functions.vectorMean

/** `vectorMean` must reproduce `avg(c[i])` bit for bit: against the
  * scalar fan-out `array(avg(c[0]), ...)` for a known `dim`, and against
  * the posexplode → per-(group, pos) avg → re-assembly shape for an
  * unknown one. Results compare as `doubleToLongBits`, so -0.0 vs 0.0 and
  * NaN payloads count.
  */
class VectorMeanSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("g", IntegerType),
    StructField("v", ArrayType(DoubleType, containsNull = true))))

  private def frame(rows: Seq[(Int, Seq[java.lang.Double])], parts: Int = 1): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (g, v) => Row(g, v) }, parts), schema)

  private def d(x: Double): java.lang.Double = java.lang.Double.valueOf(x)

  /** g -> the mean vector as bit patterns (None = null). */
  private def bits(df: DataFrame): Map[Int, Option[Seq[Option[Long]]]] =
    df.collect().map { r =>
      r.getInt(0) -> Option(r.getSeq[Any](1)).map(_.map(x =>
        Option(x).map(v => java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))))
    }.toMap

  private def fanOut(df: DataFrame, dim: Int): DataFrame =
    df.groupBy($"g").agg(array((0 until dim).map(i => avg($"v"(i))): _*).as("m"))

  private def posexplodeShape(df: DataFrame): DataFrame =
    df.select($"g", posexplode($"v"))
      .groupBy($"g", $"pos").agg(avg($"col").as("m"))
      .groupBy($"g")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)").as("m"))

  private def mean(df: DataFrame, dim: Option[Int]): DataFrame =
    df.groupBy($"g").agg(vectorMean($"v", dim).as("m"))

  // every edge value in one corpus: null vectors, null elements, -0.0, NaN,
  // ±Inf (Inf + -Inf = NaN), single-row groups, a group of only null vectors
  private val edges: Seq[(Int, Seq[java.lang.Double])] = Seq(
    (1, Seq(d(1.5), d(-2.25), d(0.1))),
    (1, Seq(d(0.7), null, d(0.2))),
    (1, null),
    (1, Seq(d(1e300), d(3.0), d(0.3))),
    (2, Seq(d(-0.0), d(-0.0), null)),
    (3, Seq(d(Double.NaN), d(1.0), d(Double.PositiveInfinity))),
    (3, Seq(d(2.0), d(Double.NegativeInfinity), d(Double.NegativeInfinity))),
    (4, Seq(null, null, null)),
    (5, null),
    (5, null),
    (6, Seq(d(0.1), d(0.2), d(0.30000000000000004))))

  test("dim = Some(d): bit-identical to array(avg(c[i])) on edge values") {
    val df = frame(edges)
    val got = bits(mean(df, Some(3)))
    assert(got === bits(fanOut(df, 3)))
    // spot checks of what "identical" means here
    assert(got(2) === Some(Seq(Some(0L), Some(0L), None)), "-0.0 sums from +0.0")
    assert(got(5) === Some(Seq(None, None, None)), "only null vectors: d nulls")
  }

  test("dim = None: bit-identical to the posexplode shape; an element-less group is null") {
    val ragged: Seq[(Int, Seq[java.lang.Double])] = edges ++ Seq(
      (1, Seq(d(4.0), d(5.0), d(6.0), d(7.0))),
      (6, Seq(d(0.5))),
      (7, Seq()),
      (7, null),
      (8, Seq(d(Double.NaN))))
    val df = frame(ragged)
    val got = bits(mean(df, None))
    // the old shape emits no row for a group without elements
    assert(got(5) === None && got(7) === None)
    assert(got.filter(_._2.nonEmpty) === bits(posexplodeShape(df)))
    assert(got(1).get.length === 4 && got(6).get.length === 3)
  }

  test("single-row groups and empty input") {
    val single = frame(Seq((1, Seq(d(0.1), d(-0.0))), (2, Seq(d(Double.NaN), null))))
    assert(bits(mean(single, Some(2))) === bits(fanOut(single, 2)))
    assert(bits(mean(single, None)) === bits(posexplodeShape(single)))
    val empty = frame(Seq.empty)
    assert(mean(empty, Some(2)).isEmpty && mean(empty, None).isEmpty)
    // a global aggregate over no rows: d nulls with a dim, null without
    val globalDim = empty.agg(vectorMean($"v", Some(2))).head()
    val globalFan = empty.agg(array(avg($"v"(0)), avg($"v"(1)))).head()
    assert(globalDim.getSeq[Any](0) === globalFan.getSeq[Any](0))
    assert(empty.agg(vectorMean($"v", None)).head().isNullAt(0))
  }

  test("more partitions than groups: the merge path matches avg") {
    // eighths sum exactly in any order, so the result cannot depend on the
    // order in which partial buffers merge — in either aggregate
    val rows = (0 until 400).map { i =>
      val v: Seq[java.lang.Double] =
        if (i % 37 == 0) null
        else Seq(d((i % 11) / 8.0), if (i % 5 == 0) null else d(-(i % 7) / 8.0), d(i / 8.0))
      (i % 3, v)
    }
    val df = frame(rows, parts = 13)
    assert(df.rdd.getNumPartitions === 13)
    val got = bits(mean(df, Some(3)))
    assert(got.size === 3)
    assert(got === bits(fanOut(df, 3)))
    assert(bits(mean(df, None)) === bits(posexplodeShape(df)))
    val plan = mean(df, Some(3)).queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("buffer serialize/deserialize round trip, then merge") {
    val agg = VectorMean(BoundReference(0, ArrayType(DoubleType), nullable = true), None)
    def row(xs: java.lang.Double*): InternalRow =
      InternalRow(new GenericArrayData(xs.toArray[Any]))
    val a = agg.createAggregationBuffer()
    agg.update(a, row(d(1.0), null, d(-0.0)))
    agg.update(a, row(d(Double.NaN)))
    agg.update(a, InternalRow(null))
    val back = agg.deserialize(agg.serialize(a))
    assert(back.sums.map(java.lang.Double.doubleToLongBits).toSeq ===
      a.sums.map(java.lang.Double.doubleToLongBits).toSeq)
    assert(back.counts.toSeq === a.counts.toSeq)
    assert(agg.eval(back).toString === agg.eval(a).toString)
    val b = agg.createAggregationBuffer()
    agg.update(b, row(d(2.0), d(3.0), d(4.0), d(5.0)))
    val merged = agg.merge(agg.deserialize(agg.serialize(b)), back)
    assert(merged.counts.toSeq === Seq(3L, 1L, 2L, 1L))
    assert(agg.eval(agg.deserialize(agg.serialize(agg.createAggregationBuffer()))) == null)
  }

  private def rootMessage(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString("\n")

  test("dim = Some(d) rejects a shorter vector, naming dim and the length") {
    val df = frame(Seq((1, Seq(d(1.0), d(2.0), d(3.0))), (1, Seq(d(1.0), d(2.0)))))
    val e = intercept[Exception](mean(df, Some(3)).collect())
    assert(rootMessage(e).contains("vector_mean: dim = 3, but a vector has length 2"),
      rootMessage(e))
  }

  test("dim = Some(d) rejects a longer vector instead of truncating it") {
    val df = frame(Seq((1, Seq(d(1.0), d(2.0))), (1, Seq(d(1.0), d(2.0), d(3.0)))))
    val e = intercept[Exception](mean(df, Some(2)).collect())
    assert(rootMessage(e).contains("vector_mean: dim = 2, but a vector has length 3"),
      rootMessage(e))
    // the IVF quantizer with a declared dim reaches the same check
    val vecs = Seq((1L, Seq(1.0, 0.0, 2.0)), (2L, Seq(0.0, 1.0, 2.0)))
      .toDF("vec_id", "embedding")
    val ivf = new graft.similarity.IvfCosineIndex(1, 1, dim = Some(2))
    val e2 = intercept[Exception](ivf.centroids(vecs).collect())
    assert(rootMessage(e2).contains("dim = 2, but a vector has length 3"), rootMessage(e2))
  }
}
