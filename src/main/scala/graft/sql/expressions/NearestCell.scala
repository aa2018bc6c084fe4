package graft.sql.expressions

import org.apache.spark.sql.{Column, GraftBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Row-local nearest-cell selection over a literal centroid matrix: the
  * one kernel behind [[graft.similarity.IvfCosineIndex]] (cosine
  * assignment and probes) and [[graft.similarity.KMeans]] (squared-L2
  * Lloyd assignment and farthest seeding).
  *
  * Each shape replaces a `crossJoin(broadcast(cents))` followed by a
  * `groupBy(id)` arg-best (or a per-query window) and a join back to the
  * corpus: one shuffle for the arg-best and one for the join-back per
  * pass. The centroid set is driver-tiny by contract (see
  * [[NearestCell.MaxCentroidValues]]), so the selection runs in place
  * against centroid LITERALS, with no shuffle and no join-back.
  *
  * `cids` and `cents` are same-length array literals sorted by cid, nulls
  * last ([[NearestCell.column]] builds them). The score of a cell is the
  * metric's companion loop ([[CosineSimilarity.of]], [[SquaredL2.of]]), so
  * scores are bit-equal to the crossJoin formulation's; it is null for a
  * null vector, a null centroid or a length mismatch. Cells are walked in
  * cid order, and a cell moves ahead of a kept one only when it is
  * STRICTLY nearer under Spark's double order, so in every shape:
  *
  *   - ties keep the lowest cid;
  *   - NaN is the largest value (farthest under L2, nearest under cosine);
  *   - -0.0 and 0.0 tie;
  *   - a null winning cid gives null;
  *   - an empty cell set gives null (an empty array for the top-n);
  *   - an arg-best over a non-empty, null-free cid literal is not
  *     nullable: it always selects a cid.
  *
  * The shapes differ only in the metric's direction and in where a null
  * score ranks; see [[NearestCell.Shape]].
  */
case class NearestCell(
    vec: Expression, cids: Expression, cents: Expression, shape: NearestCell.Shape)
    extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = cids
  override def third: Expression = cents

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, cids.dataType, cents.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(LongType, _),
          ArrayType(ArrayType(DoubleType, _), _)) =>
        if (shape.n >= 1) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(s"n (${shape.n}) must be >= 1")
      case (v, i, c) => TypeCheckResult.TypeCheckFailure(
        "nearest_cell needs (ARRAY<DOUBLE>, ARRAY<BIGINT>, " +
          s"ARRAY<ARRAY<DOUBLE>>), got ${v.catalogString}, ${i.catalogString}, " +
          c.catalogString)
    }

  override def dataType: DataType = shape.dataType
  // a null vector still selects (all scores null), so this must not be
  // null-intolerant: eval and codegen pass the null through. Not nullable
  // where the shape can never give null for these cids, so a join on the
  // result infers no isnotnull(nearest_cell(...)) filter that would run
  // the kernel a second time
  override def nullable: Boolean = shape.nullable(cids)
  override def prettyName: String = "nearest_cell"

  override def eval(input: InternalRow): Any = nearest(
    vec.eval(input).asInstanceOf[ArrayData],
    cids.eval(input).asInstanceOf[ArrayData],
    cents.eval(input).asInstanceOf[ArrayData])

  /** The shape's result for one vector (null allowed). */
  def nearest(v: ArrayData, is: ArrayData, cs: ArrayData): Any =
    shape.result(NearestCell.rank(shape, v, cs), is)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val self = ctx.addReferenceObj("nearestCell", this)
    val vGen = vec.genCode(ctx)
    val iGen = cids.genCode(ctx)
    val cGen = cents.genCode(ctx)
    val boxed = CodeGenerator.boxedType(dataType)
    val r = ctx.freshName("nearest")
    ev.copy(code =
      code"""
        ${vGen.code}
        ${iGen.code}
        ${cGen.code}
        $boxed $r = ($boxed) $self.nearest(
          ${vGen.isNull} ? null : ${vGen.value}, ${iGen.value}, ${cGen.value});
        boolean ${ev.isNull} = $r == null;
        ${CodeGenerator.javaType(dataType)} ${ev.value} =
          ${CodeGenerator.defaultValue(dataType)};
        if (!${ev.isNull}) { ${ev.value} = $r; }
      """)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): NearestCell =
    copy(vec = newFirst, cids = newSecond, cents = newThird)
}

object NearestCell {

  /** Bound on the centroid elements of one cell set, 2^18 doubles (2 MiB):
    * the cells are driver rows and a literal in the plan. The largest
    * in-repo users need 2,048 (256-code PQ codebooks over 8-dim slices)
    * and 1,024 (16 cells at dim 64).
    */
  val MaxCentroidValues: Long = 1L << 18

  /** `vec`'s `shape` against `cells`, rows of (cid BIGINT, centroid
    * ARRAY<DOUBLE>) collected on the driver, in any order. Fails with an
    * IllegalArgumentException when the centroids hold more than
    * [[MaxCentroidValues]] elements in total.
    */
  def column(shape: Shape, vec: Column, cells: Seq[Row]): Column = {
    val values = cells.map(r => if (r.isNullAt(1)) 0L else r.getSeq[Any](1).length.toLong).sum
    require(values <= MaxCentroidValues,
      s"nearest-cell centroids hold $values values, over the limit of " +
        s"$MaxCentroidValues: the cells are driver rows and a literal in the plan")
    val rows = cells.sortBy(r => (r.isNullAt(0), if (r.isNullAt(0)) 0L else r.getLong(0)))
    GraftBridge.column(NearestCell(GraftBridge.expression(vec),
      Literal.create(rows.map(r => if (r.isNullAt(0)) null else Long.box(r.getLong(0))),
        ArrayType(LongType)),
      Literal.create(rows.map(r => if (r.isNullAt(1)) null else r.getSeq[Double](1)),
        ArrayType(ArrayType(DoubleType))),
      shape))
  }

  /** What a shape selects and returns. `cosine` picks the metric (larger
    * is nearer) over squared L2 (smaller is nearer); `nullNearest` ranks a
    * null score ahead of every real one instead of behind; `n` cells are
    * kept.
    */
  sealed abstract class Shape(val cosine: Boolean, val nullNearest: Boolean, val n: Int)
      extends Serializable {
    def dataType: DataType
    def nullable(cids: Expression): Boolean = true
    def result(r: Ranked, cids: ArrayData): Any
    protected def cid(r: Ranked, i: Int, cids: ArrayData): Any =
      if (cids.isNullAt(r.idx(i))) null else cids.getLong(r.idx(i))
  }

  /** `max_by(cid, struct(cos, -cid))`: a null cos loses except to another
    * null, so an all-null row takes the lowest cid.
    */
  case object CosineArgMax extends Shape(cosine = true, nullNearest = false, n = 1) {
    def dataType: DataType = LongType
    override def nullable(cids: Expression): Boolean = !selectsCid(cids)
    def result(r: Ranked, cids: ArrayData): Any = if (r.size == 0) null else cid(r, 0, cids)
  }

  /** `row_number() OVER (ORDER BY cos DESC, cid) <= n`: NaN first, a null
    * cos last; fewer than `n` cids when there are fewer cells.
    */
  case class CosineTopN(override val n: Int)
      extends Shape(cosine = true, nullNearest = false, n = n) {
    def dataType: DataType = ArrayType(LongType, containsNull = true)
    override def nullable(cids: Expression): Boolean = false
    def result(r: Ranked, cids: ArrayData): Any =
      new GenericArrayData(Array.tabulate[Any](r.size)(cid(r, _, cids)))
  }

  /** `min_by(struct(cid, d2), struct(d2, cid))` as struct(cid, d2): a null
    * d2 wins, because struct order puts null first.
    */
  case object L2ArgMin extends Shape(cosine = false, nullNearest = true, n = 1) {
    def dataType: DataType = StructType(Seq(
      StructField("cid", LongType, nullable = true),
      StructField("d2", DoubleType, nullable = true)))
    override def nullable(cids: Expression): Boolean = !selectsCid(cids)
    def result(r: Ranked, cids: ArrayData): Any =
      if (r.size == 0) null
      else InternalRow(cid(r, 0, cids), if (r.isNull(0)) null else r.score(0))
  }

  /** SQL `min(d2)` over the cells: null scores are ignored. */
  case object L2MinDistance extends Shape(cosine = false, nullNearest = false, n = 1) {
    def dataType: DataType = DoubleType
    def result(r: Ranked, cids: ArrayData): Any =
      if (r.size == 0 || r.isNull(0)) null else r.score(0)
  }

  /** An arg-best over `cids` always selects a non-null cid: they are a
    * non-empty, null-free literal.
    */
  private def selectsCid(cids: Expression): Boolean = cids match {
    case Literal(a: ArrayData, _) =>
      a.numElements() > 0 && (0 until a.numElements()).forall(!a.isNullAt(_))
    case _ => false
  }

  /** The kept cells, nearest first: index into the cell arrays, score,
    * and whether the score is null.
    */
  final class Ranked(k: Int) {
    val idx = new Array[Int](k)
    val score = new Array[Double](k)
    val isNull = new Array[Boolean](k)
    var size = 0
  }

  /** The one selection loop: a stable insertion top-`shape.n` over the
    * cells in cid order (n = 1 is the arg-best).
    */
  private def rank(shape: Shape, v: ArrayData, cents: ArrayData): Ranked = {
    val m = cents.numElements()
    val r = new Ranked(math.min(shape.n, m))
    var j = 0
    while (j < m) {
      val c = if (v == null || cents.isNullAt(j)) null else cents.getArray(j)
      val sNull = c == null || c.numElements() != v.numElements()
      val s =
        if (sNull) 0.0
        else if (shape.cosine) CosineSimilarity.of(v, c)
        else SquaredL2.of(v, c)
      var i = r.size
      while (i > 0 && nearer(shape, s, sNull, r.score(i - 1), r.isNull(i - 1))) i -= 1
      if (i < r.idx.length) {
        val moved = math.min(r.size, r.idx.length - 1) - i
        System.arraycopy(r.idx, i, r.idx, i + 1, moved)
        System.arraycopy(r.score, i, r.score, i + 1, moved)
        System.arraycopy(r.isNull, i, r.isNull, i + 1, moved)
        r.idx(i) = j
        r.score(i) = s
        r.isNull(i) = sNull
        if (r.size < r.idx.length) r.size += 1
      }
      j += 1
    }
    r
  }

  /** Is score `s` strictly nearer than `t`? Spark's double order: NaN
    * above every non-NaN, NaN == NaN, and -0.0 == 0.0 (neither is greater).
    */
  private def nearer(shape: Shape, s: Double, sNull: Boolean, t: Double, tNull: Boolean) =
    if (sNull || tNull) sNull != tNull && sNull == shape.nullNearest
    else if (shape.cosine) gtSql(s, t)
    else gtSql(t, s)

  private def gtSql(x: Double, y: Double): Boolean =
    if (x.isNaN) !y.isNaN
    else if (y.isNaN) false
    else x > y
}
