package graft.sql.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for squared L2 distance between two
  * `ARRAY<DOUBLE>` vectors: `Σ (a_i − b_i)²`.
  *
  * The hot kernel of [[graft.similarity.ProductQuantizer]] (codebook
  * assignment and ADC tables evaluate k distances per (row, subspace)) —
  * the `aggregate(zip_with(...))` formulation computes identical values
  * but runs on the interpreted CodegenFallback path. The accumulator sums
  * in index order, so results are bit-identical to the HOF fold (and to
  * the oracle's sequential `list_reduce`).
  *
  * Semantics: NULL if either array is NULL or lengths differ; elements
  * must be non-null (enforced upstream by `cast(... as array<double>)`).
  *
  * The interpreted loop is [[SquaredL2.of]] on the companion: the loop the
  * [[NearestCell]] kernel calls for k-means assignment and seeding.
  */
case class SquaredL2(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"squared_l2 needs two ARRAY<DOUBLE>, got ${l.catalogString}, ${r.catalogString}")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "squared_l2"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val va = a.asInstanceOf[ArrayData]
    val vb = b.asInstanceOf[ArrayData]
    if (va.numElements() != vb.numElements()) null else SquaredL2.of(va, vb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredL2 =
    copy(left = newLeft, right = newRight)
}

object SquaredL2 {

  /** Squared L2 distance of two same-length vectors: the interpreted loop,
    * shared by [[SquaredL2.nullSafeEval]] and the [[NearestCell]] kernel,
    * so both add the same terms in the same order.
    */
  def of(va: ArrayData, vb: ArrayData): Double = {
    val n = va.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = va.getDouble(i) - vb.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }
}
