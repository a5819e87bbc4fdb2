package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity between two
  * array<double> columns, with whole-stage codegen (`doGenCode` emits a
  * fused loop — one pass computes dot product and both norms).
  *
  * Chosen over (a) a Scala UDF (serialization + boxing per row) and
  * (b) the zip_with/aggregate HOF composition (higher-order functions
  * evaluate interpreted, three array traversals per pair). On the ANN
  * brute-force scan this is the per-pair hot loop, so it's the one spot
  * in the engine that justifies dropping to a custom Expression
  * (SURVEY.md §7.3). Float arrays arrive via an implicit cast
  * (ExpectsInputTypes), and the summation order matches the sequential
  * HOF/oracle semantics bit-for-bit.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  // ExpectsInputTypes is sealed behind private[sql] AbstractDataType, so
  // the type contract is enforced explicitly (the SQL builder also
  // inserts casts for float arrays).
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_cosine expects two array<double> arguments, got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < n) {
        // a NULL element must yield a NULL result (the zip_with/
        // aggregate HOF semantics this expression claims parity with) —
        // ArrayData.getDouble on a null slot reads a fabricated 0.0,
        // which would silently pass/fail dedup thresholds
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        val xv = x.getDouble(i); val yv = y.getDouble(i)
        dot += xv * yv; nx += xv * xv; ny += yv * yv
        i += 1
      }
      // zero-norm (empty or all-zero vector): cosine is undefined; NaN
      // would silently fail every `cs >= t` threshold downstream, so
      // surface the undefined case as SQL null instead.
      if (nx == 0.0 || ny == 0.0) null
      else dot / (math.sqrt(nx) * math.sqrt(ny))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val anyNull = ctx.freshName("anyNull")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |  boolean $anyNull = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $anyNull = true; break; }
         |    final double $xv = $a.getDouble($i);
         |    final double $yv = $b.getDouble($i);
         |    $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |  }
         |  if ($anyNull || $nx == 0.0 || $ny == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** `graft_cosine(a, b)` builder, registered by [[graft.GraftExtensions]].
    * Float arrays are widened to double via an inserted Cast. */
  private[graft] val builder: Seq[Expression] => Expression =
    exprs => CosineSimilarity(widen(exprs(0)), widen(exprs(1)))

  private def widen(e: Expression): Expression = e.dataType match {
    case ArrayType(FloatType, n) => Cast(e, ArrayType(DoubleType, n))
    case _ => e
  }
}
