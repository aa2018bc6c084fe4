package graft.sql.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for cosine similarity between two
  * `ARRAY<DOUBLE>` vectors: `dot(a,b) / (|a| * |b|)`.
  *
  * This is the hot kernel of every similarity operator
  * ([[graft.similarity.CosineTopK]], [[graft.similarity.RandomHyperplaneLSH]]
  * verification, [[graft.similarity.IvfCosineIndex]] search) —
  * dim multiply-adds per evaluated pair. The higher-order-function
  * formulation (zip_with + aggregate ×3) runs on the interpreted
  * CodegenFallback path AND walks each array three times; here one fused
  * loop accumulates dot and both squared norms inside whole-stage codegen.
  * Each accumulator still sums in index order, so results are bit-identical
  * to the HOF formulation.
  *
  * Semantics kept from the HOF version: NULL if either array is NULL or
  * lengths differ; array elements must be non-null (enforced upstream by
  * `cast(... as array<double>)` over non-null embeddings).
  *
  * The interpreted loop is [[CosineSimilarity.of]] on the companion: the
  * loop the [[NearestCell]] kernel calls for IVF assignment and probes.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_similarity needs two ARRAY<DOUBLE>, got ${l.catalogString}, ${r.catalogString}")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val va = a.asInstanceOf[ArrayData]
    val vb = b.asInstanceOf[ArrayData]
    if (va.numElements() != vb.numElements()) null else CosineSimilarity.of(va, vb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  double $na = 0.0;
         |  double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $x = $a.getDouble($i);
         |    final double $y = $b.getDouble($i);
         |    $dot += $x * $y;
         |    $na += $x * $x;
         |    $nb += $y * $y;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** Cosine of two same-length vectors: the interpreted loop, shared by
    * [[CosineSimilarity.nullSafeEval]] and the [[NearestCell]] kernel, so
    * both add the same terms in the same order.
    */
  def of(va: ArrayData, vb: ArrayData): Double = {
    val n = va.numElements()
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
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
