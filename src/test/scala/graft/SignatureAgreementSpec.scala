package graft

import org.apache.spark.sql.functions._

/** Native signature-agreement expression: parity with the interpreted HOF
  * formulation on real MinHash signatures, null on malformed pairs, and
  * whole-stage-codegen eligibility. */
class SignatureAgreementSpec extends SparkSuite {

  test("agrees with the zip_with/aggregate HOF formulation on real signatures") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, greatest(size(toks) - 2, 1)), i -> xxhash64(concat_ws(' ', toks[i-1], toks[i], toks[i+1])))"))
        .as("h"))
    val aggs = (0 until 16).map(p => min(xxhash64(col("h"), lit(p))).as(s"m$p"))
    val sigs = docs.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array((0 until 16).map(p => col(s"m$p")): _*).as("sig"))
    val pairs = sigs.select(col("doc_id").as("a"), col("sig").as("sig_a"))
      .join(sigs.select(col("doc_id").as("b"), col("sig").as("sig_b")),
        col("a") === col("b") - 1)
    val out = pairs.select(
      expr("graft_sig_agreement(sig_a, sig_b)").as("native"),
      expr("aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v) / CAST(16.0 AS DOUBLE)")
        .as("hof")).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("identical signatures → 1.0; mismatched lengths → null") {
    import spark.implicits._
    val df = Seq((Array(1L, 2L, 3L), Array(1L, 2L, 3L)),
      (Array(1L, 2L, 3L), Array(1L, 9L, 3L)))
      .toDF("x", "y")
      .select(expr("graft_sig_agreement(x, y)").as("f"))
      .collect().map(_.getDouble(0))
    assert(df.toSeq === Seq(1.0, 2.0 / 3.0))
    val bad = Seq((Array(1L, 2L), Array(1L, 2L, 3L))).toDF("x", "y")
      .select(expr("graft_sig_agreement(x, y)")).collect()
    assert(bad.head.isNullAt(0))
  }
}
