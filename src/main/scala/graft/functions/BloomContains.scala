package graft.functions

import java.io.ByteArrayInputStream
import java.util.Base64

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.util.sketch.BloomFilter

/** Native membership probe against a pre-built
  * [[org.apache.spark.util.sketch.BloomFilter]] (the public mergeable
  * sketch `DataFrame.stat.bloomFilter` produces): `true` iff the filter
  * MIGHT contain the input xxhash64 key, `false` means definitely absent.
  *
  * Spark ships the probe expression (`BloomFilterMightContain`) but only
  * wires it into injected runtime join filters — it is not registered for
  * user queries — so incremental dedup (filter a new crawl batch against
  * the previously-seen fingerprint set WITHOUT joining the full history)
  * has no public zero-UDF spelling. This expression is that spelling:
  * the filter deserializes once per executor (codegen references the
  * deserialized object, not the bytes) and the probe is two XXH64 mixes
  * + k bit-tests per row, inside whole-stage codegen.
  */
case class BloomContains(child: Expression, bloomBytes: Array[Byte])
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_contains expects a BIGINT key (xxhash64), got ${t.sql}")
  }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bloomBytes))

  override def nullSafeEval(h: Any): Any =
    bloom.mightContainLong(h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference the DESERIALIZED filter: one readFrom per executor plan
    // instance, not one per row or per probe
    val ref = ctx.addReferenceObj("graftBloom", bloom,
      classOf[BloomFilter].getName)
    defineCodeGen(ctx, ev, h => s"$ref.mightContainLong($h)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomContains {
  /** SQL surface: `graft_bloom_contains(key, 'base64-bloom')`. The second
    * argument must be a string LITERAL (the serialized filter, base64):
    * the builder decodes it at plan time, so only small gate-scale
    * filters should travel through SQL text — programmatic callers use
    * [[graft.operators.BloomDedup]], which passes bytes directly. */
  private[graft] val builder: Seq[Expression] => Expression =
    exprs => exprs(1) match {
      case Literal(s, StringType) =>
        BloomContains(exprs.head, Base64.getDecoder.decode(s.toString))
      case other => throw new IllegalArgumentException(
        "graft_bloom_contains: second argument must be a string literal " +
          s"(base64 bloom bytes), got $other")
    }

  def serialize(bloom: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    bloom.writeTo(out)
    out.toByteArray
  }
}
