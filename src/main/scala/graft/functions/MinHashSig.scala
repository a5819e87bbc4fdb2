package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the full MinHash signature of a token
  * array in ONE pass over the document — word-3-shingle, shingle hash,
  * and all `numPerms` permutation minima fused into a single per-row
  * loop.
  *
  * This replaces the explode + groupBy formulation (one row PER SHINGLE
  * shuffled into a 16-column hash aggregate): at corpus scale that
  * shuffle carries ~|tokens| rows per document across the wire before a
  * signature exists, and it was the compute hot spot the 100× scale
  * proof surfaced in dd4. Here the signature never leaves the row — the
  * only shuffle left in LSH candidate generation is the band equi-join.
  *
  * Value-compatibility contract (pinned by MinHashSigSpec against the
  * SQL formulation it replaces): given `toks`, the signature position p
  * equals
  * {{{
  *   min over shingles s of xxhash64(xxhash64(s), p)
  *      with s_i = concat_ws(' ', toks[i-1], toks[i], toks[i+1]),
  *           i in 1..greatest(size(toks)-2, 1)
  * }}}
  * under non-ANSI semantics (out-of-bounds index → null, skipped by
  * concat_ws), reproduced via the same XXH64 kernels Spark's xxhash64
  * uses (seed 42, long→int chaining for the two-arg form). A NULL token
  * array is NOT null-propagated: the legacy form still emitted the
  * single empty-string shingle for it (`sequence(1,1)` is non-null and
  * concat_ws skips the null lookups), so null input yields that same
  * signature and the expression is never null.
  *
  * Codegen emits a static call to [[MinHashSig.compute]] — the loop body
  * is JIT-compiled JVM code living inside the WholeStageCodegen stage
  * (the StaticInvoke pattern), not an interpreted expression tree.
  */
case class MinHashSig(child: Expression, numPerms: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if numPerms > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig expects array<string> and numPerms > 0, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash_sig"

  override def eval(input: InternalRow): Any =
    MinHashSig.compute(child.eval(input).asInstanceOf[ArrayData], numPerms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = childGen.code + code"""
      $javaType ${ev.value} = graft.functions.MinHashSig.compute(
        ${childGen.isNull} ? null : ${childGen.value}, $numPerms);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  private val Seed = 42L
  private val Space = UTF8String.fromString(" ")

  /** One-pass signature kernel. A null array behaves as empty (the
    * legacy empty-shingle semantics); null-element and out-of-bounds
    * token positions are skipped exactly as concat_ws skips nulls;
    * distinctness of shingles is irrelevant to a min, so no dedup pass
    * is needed. */
  def compute(toks: ArrayData, numPerms: Int): ArrayData = {
    val n = if (toks == null) 0 else toks.numElements()
    def tok(i: Int): UTF8String =
      if (i < n && !toks.isNullAt(i)) toks.getUTF8String(i) else null
    val mins = new Array[Long](numPerms)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val nShingles = math.max(n - 2, 1)
    var i = 1
    while (i <= nShingles) {
      val s = UTF8String.concatWs(Space, tok(i - 1), tok(i), tok(i + 1))
      val h = XXH64.hashUTF8String(s, Seed)
      val inner = XXH64.hashLong(h, Seed)
      var p = 0
      while (p < numPerms) {
        val v = XXH64.hashInt(p, inner)
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** `graft_minhash_sig(toks, numPerms)` builder for SQL/expr use;
    * `numPerms` must be a FOLDABLE int-typed expression — a bare int
    * literal or anything constant-foldable to one (`CAST(16 AS INT)`,
    * `8*2`), evaluated here at plan time (r14 ADVICE: the
    * literal-only match regressed foldable spellings that previously
    * worked). The foldable+IntegerType guard keeps the SignRpKeys
    * builder discipline: a long literal (`16L`, easy to write in SQL)
    * or an unbound attribute still fails loudly instead of CCE-ing or
    * evaluating garbage. */
  private[graft] val builder: Seq[Expression] => Expression = exprs =>
    exprs(1) match {
      case e if e.foldable &&
          e.dataType == org.apache.spark.sql.types.IntegerType =>
        e.eval() match {
          case v: Int => MinHashSig(exprs.head, v)
          case other => throw new IllegalArgumentException(
            s"graft_minhash_sig: numPerms folded to $other, expected an int")
        }
      case other => throw new IllegalArgumentException(
        s"graft_minhash_sig: numPerms must be a foldable INT expression, " +
          s"got $other")
    }
}
