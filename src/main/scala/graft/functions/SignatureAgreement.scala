package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expression: fraction of positions at which two
  * array<bigint> MinHash signatures agree — the estimated Jaccard of the
  * underlying sets. Null when lengths differ (a malformed pair, not 0.0).
  *
  * This is the per-candidate-pair hot loop of LSH dedup: at corpus scale
  * the band join emits millions of candidates, and the zip_with/aggregate
  * HOF formulation it replaces evaluates interpreted (two array
  * traversals, boxed lambda calls per element). Like
  * [[CosineSimilarity]], `doGenCode` emits a fused primitive loop inside
  * whole-stage codegen.
  */
case class SignatureAgreement(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_sig_agreement expects two array<bigint> arguments, got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sig_agreement"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements() || n == 0) null
    else {
      var same = 0; var i = 0
      while (i < n) {
        if (x.getLong(i) == y.getLong(i)) same += 1
        i += 1
      }
      same.toDouble / n
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val same = ctx.freshName("same")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements() || $n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $same = 0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.getLong($i) == $b.getLong($i)) $same++;
         |  }
         |  ${ev.value} = ((double) $same) / $n;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SignatureAgreement {
  /** `graft_sig_agreement(a, b)` builder for SQL/expr use. */
  private[graft] val builder: Seq[Expression] => Expression =
    exprs => SignatureAgreement(exprs(0), exprs(1))
}
