package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression: all sign-random-projection LSH band keys
  * for one embedding, as `array<long>` of length `bands` — band b's key
  * packs the signs of planes [b*rowsPerBand, (b+1)*rowsPerBand) as bits.
  *
  * This replaces CosineLsh's original posexplode → broadcast-joined
  * plane weights → two hash-aggregate passes: that shape pushes
  * N × dim × nPlanes intermediate rows (an 8192× blowup at dim=64,
  * 128 planes) through a shuffle before candidates are even generated.
  * Here the whole projection is a fused per-row loop inside whole-stage
  * codegen — zero joins, zero shuffles, N × bands output rows after the
  * posexplode of the returned array. At corpus scale that is the
  * difference between a multi-TB projection shuffle and none at all.
  *
  * Plane weights are a pure function of (plane, dim-index) via the
  * SplitMix64 finalizer (public-domain mixing constants), uniform in
  * [-1, 1] and identical across the interpreted and codegen paths, so
  * bucket assignment is reproducible across runs and engines.
  */
case class SignRpKeys(child: Expression, bands: Int, rowsPerBand: Int)
  extends UnaryExpression {

  // geometry validated at CONSTRUCTION (both the SQL builder and direct
  // Scala paths): rowsPerBand = 0 would emit all-zero keys for every
  // vector (the band self-join degenerates to N×N), and > 64 wraps the
  // 1L << (p % rowsPerBand) shift so distinct planes alias one bit —
  // both silent result corruptions, refused loudly instead.
  require(bands > 0, s"graft_sign_rp_keys: bands=$bands must be positive")
  require(rowsPerBand > 0 && rowsPerBand <= 64,
    s"graft_sign_rp_keys: rowsPerBand=$rowsPerBand out of range [1,64]")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_sign_rp_keys expects array<double>, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sign_rp_keys"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // a NULL element projects as a fabricated 0.0 through getDouble —
    // the vector's bucket would depend on garbage; yield NULL instead
    // (callers' posexplode then skips the row, like a null embedding)
    var k = 0
    while (k < n) {
      if (arr.isNullAt(k)) return null
      k += 1
    }
    val keys = new Array[Long](bands)
    var p = 0
    val nPlanes = bands * rowsPerBand
    while (p < nPlanes) {
      var dot = 0.0
      var j = 0
      while (j < n) {
        dot += arr.getDouble(j) * SignRpKeys.weight(p, j)
        j += 1
      }
      if (dot >= 0) keys(p / rowsPerBand) |= (1L << (p % rowsPerBand))
      p += 1
    }
    new GenericArrayData(keys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val keys = ctx.freshName("keys")
      val p = ctx.freshName("p")
      val j = ctx.freshName("j")
      val dot = ctx.freshName("dot")
      val z = ctx.freshName("z")
      val w = ctx.freshName("w")
      // same SplitMix64 finalizer as SignRpKeys.weight — the two paths
      // must agree bit-for-bit or bucket assignment depends on codegen
      val anyNull = ctx.freshName("anyNull")
      val k = ctx.freshName("k")
      s"""
         |final int $n = $a.numElements();
         |boolean $anyNull = false;
         |for (int $k = 0; $k < $n; $k++) {
         |  if ($a.isNullAt($k)) { $anyNull = true; break; }
         |}
         |if ($anyNull) {
         |  ${ev.isNull} = true;
         |} else {
         |final long[] $keys = new long[$bands];
         |for (int $p = 0; $p < ${bands * rowsPerBand}; $p++) {
         |  double $dot = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    long $z = (long) $p * 0x9E3779B97F4A7C15L + (long) $j * 0xBF58476D1CE4E5B9L;
         |    $z = ($z ^ ($z >>> 30)) * 0xBF58476D1CE4E5B9L;
         |    $z = ($z ^ ($z >>> 27)) * 0x94D049BB133111EBL;
         |    $z = $z ^ ($z >>> 31);
         |    double $w = ((double) (($z >>> 11) % 1000L)) / 500.0 - 1.0;
         |    $dot += $a.getDouble($j) * $w;
         |  }
         |  if ($dot >= 0) $keys[$p / $rowsPerBand] |= (1L << ($p % $rowsPerBand));
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SignRpKeys {
  /** Deterministic plane weight in [-1, 1]: SplitMix64 finalizer over a
    * (plane, j) mix, quantized to 1/500 steps like the original
    * xxhash64-seeded table. */
  def weight(p: Int, j: Int): Double = {
    var z = p.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    ((z >>> 11) % 1000L).toDouble / 500.0 - 1.0
  }

  /** `graft_sign_rp_keys(emb, bands, rowsPerBand)` builder;
    * the band parameters must be integer literals. Float arrays widen via
    * an inserted Cast. */
  private[graft] val builder: Seq[Expression] => Expression =
    exprs => {
      def lit(e: Expression, what: String): Int = e match {
        case Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"graft_sign_rp_keys: $what must be an integer literal, got $other")
      }
      SignRpKeys(widen(exprs(0)), lit(exprs(1), "bands"),
        lit(exprs(2), "rowsPerBand"))
    }

  private def widen(e: Expression): Expression = e.dataType match {
    case ArrayType(FloatType, n) => Cast(e, ArrayType(DoubleType, n))
    case _ => e
  }
}
