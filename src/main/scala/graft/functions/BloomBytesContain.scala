package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Membership probe where the BLOOM is the per-row value and the key is
  * (typically) a constant: `graft_bloom_probe(bloom_bytes, xxhash64_key)`.
  *
  * The mirror image of [[BloomContains]] (fixed bloom in the plan, key
  * column per row). This shape is what a stats-sidecar equality probe
  * needs (store.FileStats.pruneFilesEq): one serialized bloom PER FILE
  * rides a sidecar row, and the planner asks every row the same "might
  * this file contain key k?" question. Evaluating that as a distributed
  * filter keeps the bloom bytes on the executors — only (file, boolean)
  * survives to the driver — where the naive spelling collects
  * O(files × bloom-bytes) to the driver and probes there (GBs of driver
  * heap at 1M files).
  *
  * Each row's bloom is distinct, so a per-row
  * [[BloomFilter.readFrom]] is inherent — O(bloom bytes) per row, the
  * same bytes a driver-side probe would have deserialized anyway, now
  * spread across executors. Null bloom bytes → null (callers decide the
  * policy; FileStats treats "no bloom recorded" as must-read).
  */
case class BloomBytesContain(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "graft_bloom_probe expects (BINARY bloom bytes, BIGINT xxhash64 " +
          s"key), got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_probe"

  override def nullSafeEval(bytes: Any, h: Any): Any =
    BloomBytesContain.probe(bytes.asInstanceOf[Array[Byte]],
      h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, h) =>
      s"graft.functions.BloomBytesContain.probe($b, $h)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BloomBytesContain {
  /** Deserialize-and-probe, shared by interpreted and codegen paths. */
  def probe(bytes: Array[Byte], h: Long): Boolean =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes)).mightContainLong(h)

  private[graft] val builder: Seq[Expression] => Expression =
    exprs => BloomBytesContain(exprs.head, exprs(1))
}
