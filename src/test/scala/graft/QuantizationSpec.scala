package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** int8 quantization invariants behind v6_int8_quant: the half-step
  * error bound holds per vector, reconstruction cosine stays ~1, and —
  * the operational claim — brute-force ANN over the DEQUANTIZED corpus
  * reproduces 95%+ of the float top-5 (all deterministic on the fixed
  * fixture). */
class QuantizationSpec extends SparkSuite {

  private def deqCorpus = {
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    e.withColumn("maxabs",
        greatest(array_max(transform(col("emb"), x => abs(x))), lit(1e-12)))
      .withColumn("scale", lit(127.0) / col("maxabs"))
      .withColumn("deq",
        transform(transform(col("emb"), x => round(x * col("scale")).cast("int")),
          q => q.cast("double") / col("scale")))
  }

  test("per-vector max error <= half a quantization step; cosine >= 0.9999") {
    val bad = deqCorpus
      .withColumn("err", array_max(zip_with(col("emb"), col("deq"),
        (a, b) => abs(a - b))))
      .withColumn("bound", col("maxabs") / lit(254.0) * lit(1.0 + 1e-9))
      .withColumn("cos", expr("graft_cosine(emb, deq)"))
      .filter(col("err") > col("bound") || col("cos") < 0.9999)
    assert(bad.isEmpty, s"quantization bound violated: ${bad.count()} vectors")
  }

  test("brute-force ANN on the dequantized corpus: recall@5 >= 0.94") {
    def top5(vecCol: String): Set[(Long, Long)] = {
      val c = deqCorpus.select(col("vec_id").as("nid"), col(vecCol).as("eb"))
      val q = deqCorpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col(vecCol).as("ea"))
      val w = Window.partitionBy("qid").orderBy(col("cs").desc, col("nid"))
      c.join(broadcast(q), col("nid") =!= col("qid"))
        .withColumn("cs", expr("graft_cosine(ea, eb)"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val float = top5("emb")
    val deq = top5("deq")
    val hits = deq.count(float.contains)
    assert(hits >= math.ceil(float.size * 0.94).toInt,
      s"dequantized recall@5 too low: $hits/${float.size}")
  }
}
