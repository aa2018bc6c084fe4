package graft.sql.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Row-local nearest-centroid assignment for the IVF family
  * ([[graft.similarity.IvfCosineIndex]]).
  *
  * The previous shape — `crossJoin(broadcast(cents))` → per-row cosine →
  * `groupBy(id).agg(max_by(cid, struct(cos, -cid)))` → join back to the
  * corpus — paid one shuffle for the argmax and another for the join-back
  * on EVERY assignment pass (bootstrap, every micro-batch append, every
  * Lloyd step). The centroid set is driver-tiny by contract
  * (numCentroids rows, broadcast-sized), so the whole argmax is
  * expressible row-locally against centroid LITERALS: zero shuffles, no
  * join-back, the assignment pipelines into whatever consumes it
  * (guide §2.4 — remove shuffles outright).
  *
  * Selection replicates `max_by(cid, struct(cos, -cid))` exactly, with
  * `cos = cosine_similarity(cv, centroid)` in the identical accumulation
  * order ([[NearestCentroidOps.cosine]] is the same loop as
  * [[CosineSimilarity]]):
  *
  *   - cells are evaluated in ascending-cid order (the caller sorts the
  *     literal), and a later cell wins only on STRICTLY greater cos —
  *     ties keep the lowest cid, as `max(-cid)` did;
  *   - a null cos (null vector, null centroid, or length mismatch) is
  *     smallest — it wins only over other null-cos cells (struct
  *     comparison puts null fields first), so an all-null row still
  *     assigns to the lowest cid exactly like the struct max_by;
  *   - NaN is greater than every non-NaN double (Spark's sort order) and
  *     ties with itself.
  *
  * `cids` and `cents` must be same-length array literals; returns the
  * winning element of `cids` (LONG — every in-repo centroid producer
  * carries a long cid), or null when that element is null or `cids` is
  * empty (callers special-case the empty-centroid frame before building
  * this).
  */
case class NearestCentroidId(vec: Expression, cids: Expression, cents: Expression)
    extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = cids
  override def third: Expression = cents

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, cids.dataType, cents.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(LongType, _),
          ArrayType(ArrayType(DoubleType, _), _)) => TypeCheckResult.TypeCheckSuccess
      case (v, i, c) => TypeCheckResult.TypeCheckFailure(
        "nearest_centroid_id needs (ARRAY<DOUBLE>, ARRAY<BIGINT>, " +
          s"ARRAY<ARRAY<DOUBLE>>), got ${v.catalogString}, ${i.catalogString}, " +
          c.catalogString)
    }

  override def dataType: DataType = LongType
  // a NULL vec still assigns (all-null cos → lowest cid), so this must
  // not be null-intolerant — eval/codegen handle nulls directly
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid_id"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    val is = cids.eval(input).asInstanceOf[ArrayData]
    val cs = cents.eval(input).asInstanceOf[ArrayData]
    val j = NearestCentroidOps.nearestIndex(v.asInstanceOf[ArrayData], cs)
    if (j < 0 || is.isNullAt(j)) null else is.getLong(j)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val vGen = vec.genCode(ctx)
    val iGen = cids.genCode(ctx)
    val cGen = cents.genCode(ctx)
    val j = ctx.freshName("bestIdx")
    ev.copy(code =
      code"""
        ${vGen.code}
        ${iGen.code}
        ${cGen.code}
        boolean ${ev.isNull} = false;
        long ${ev.value} = 0L;
        int $j = graft.sql.expressions.NearestCentroidOps.nearestIndex(
          ${vGen.isNull} ? null : ${vGen.value}, ${cGen.value});
        if ($j < 0 || ${iGen.value}.isNullAt($j)) { ${ev.isNull} = true; }
        else { ${ev.value} = ${iGen.value}.getLong($j); }
      """)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): NearestCentroidId =
    copy(vec = newFirst, cids = newSecond, cents = newThird)
}

/** Row-local top-`n` probe cells: the cids of the `n` nearest centroids
  * ordered by (cos DESC, cid ASC) — exactly the
  * `row_number() OVER (ORDER BY cos DESC, cid) <= nprobe` window the IVF
  * probe path used, with the same ordering semantics (NaN sorts largest →
  * first under DESC; a null cos sorts LAST under DESC; ties keep
  * ascending cid). Returns fewer than `n` entries when there are fewer
  * cells; an empty array for an empty cell set (explode then emits no
  * rows, like the old crossJoin against an empty broadcast).
  */
case class NearestCentroidIds(
    vec: Expression, cids: Expression, cents: Expression, n: Int)
    extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = cids
  override def third: Expression = cents

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, cids.dataType, cents.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(LongType, _),
          ArrayType(ArrayType(DoubleType, _), _)) =>
        if (n >= 1) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(s"n ($n) must be >= 1")
      case (v, i, c) => TypeCheckResult.TypeCheckFailure(
        "nearest_centroid_ids needs (ARRAY<DOUBLE>, ARRAY<BIGINT>, " +
          s"ARRAY<ARRAY<DOUBLE>>), got ${v.catalogString}, ${i.catalogString}, " +
          c.catalogString)
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "nearest_centroid_ids"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    val is = cids.eval(input).asInstanceOf[ArrayData]
    val cs = cents.eval(input).asInstanceOf[ArrayData]
    NearestCentroidOps.nearestIds(v.asInstanceOf[ArrayData], is, cs, n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val vGen = vec.genCode(ctx)
    val iGen = cids.genCode(ctx)
    val cGen = cents.genCode(ctx)
    ev.copy(code =
      code"""
        ${vGen.code}
        ${iGen.code}
        ${cGen.code}
        boolean ${ev.isNull} = false;
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.sql.expressions.NearestCentroidOps.nearestIds(
            ${vGen.isNull} ? null : ${vGen.value}, ${iGen.value}, ${cGen.value}, $n);
      """)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): NearestCentroidIds =
    copy(vec = newFirst, cids = newSecond, cents = newThird)
}

object NearestCentroidOps {

  /** Top-`n` cell cids by (cos DESC — NaN first, nulls last — then cid
    * ASC). `cells` must be pre-sorted by cid ascending; the sort is
    * stable, so equal-cos runs keep that order.
    */
  def nearestIds(cv: ArrayData, cids: ArrayData, cents: ArrayData, n: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val m = cents.numElements()
    val cos = new Array[java.lang.Double](m)
    var j = 0
    while (j < m) {
      cos(j) =
        if (cv == null || cents.isNullAt(j)) null
        else cosine(cv, cents.getArray(j))
      j += 1
    }
    val idx = Array.tabulate[Integer](m)(Integer.valueOf(_))
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val x = cos(a)
        val y = cos(b)
        if (x == null && y == null) 0
        else if (x == null) 1  // nulls last under DESC
        else if (y == null) -1
        else {
          // DESC with NaN largest(-first): flip gtSql both ways
          if (gtSql(x.doubleValue(), y.doubleValue())) -1
          else if (gtSql(y.doubleValue(), x.doubleValue())) 1
          else 0 // stable sort keeps ascending-cid input order
        }
      }
    })
    val k = math.min(n, m)
    val out = new Array[Any](k)
    var i = 0
    while (i < k) {
      out(i) = if (cids.isNullAt(idx(i))) null else cids.getLong(idx(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Index of the winning cell (see [[NearestCentroidId]] for the exact
    * ordering contract), or -1 when `cents` is empty. `cv` may be null
    * (all-null cos → index 0, the lowest cid).
    */
  def nearestIndex(cv: ArrayData, cents: ArrayData): Int = {
    val m = cents.numElements()
    var best = -1
    var bestCos = 0.0
    var bestNull = true
    var j = 0
    while (j < m) {
      var cosNull = true
      var cos = 0.0
      if (cv != null && !cents.isNullAt(j)) {
        val c = cents.getArray(j)
        val d = cosine(cv, c)
        if (d != null) { cos = d.doubleValue(); cosNull = false }
      }
      val better =
        if (best < 0) true
        else if (cosNull) false
        else if (bestNull) true
        else gtSql(cos, bestCos)
      if (better) { best = j; bestCos = cos; bestNull = cosNull }
      j += 1
    }
    best
  }

  /** Spark's double sort order as a strict greater-than: NaN above every
    * non-NaN, NaN == NaN, and (-0.0 > 0.0) == (0.0 > -0.0) == false so
    * signed zeros tie (both orders keep the lower cid, matching SQL's
    * -0.0 == 0.0).
    */
  private def gtSql(x: Double, y: Double): Boolean =
    if (x.isNaN) !y.isNaN
    else if (y.isNaN) false
    else x > y

  /** The IDENTICAL loop as [[CosineSimilarity.nullSafeEval]] — same
    * accumulation order, so the row-local assignment is bit-equal to the
    * crossJoin formulation. Null on length mismatch.
    */
  def cosine(va: ArrayData, vb: ArrayData): java.lang.Double = {
    val n = va.numElements()
    if (n != vb.numElements()) null
    else {
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      while (i < n) {
        val x = va.getDouble(i)
        val y = vb.getDouble(i)
        dot += x * y
        na += x * x
        nb += y * y
        i += 1
      }
      java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
    }
  }
}
