package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Two-point scaling measurement for the regioned SCD2 merge: build
  * tables of N and 10N keys (spread over 16 spider partitions, WIDE
  * rows — 30 filler columns — so full-width scan cost is visible),
  * apply the SAME fixed-size churn batch to each, and time the day-2
  * merge. With churn-pruned reads and writes the merge should scale
  * with the churn, not the table; an O(table) merge would show ~10×.
  *
  *   sbt "runMain graft.tools.MergeScale /tmp/graft_mergescale 20000 500"
  */
object MergeScale {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/tmp/graft_mergescale")
    val n = args.lift(1).map(_.toInt).getOrElse(20000)
    val churn = args.lift(2).map(_.toInt).getOrElse(500)
    val spark = graft.GraftSession.local("graft-merge-scale")

    def batch(keys: Int, name: String, date: String): DataFrame = {
      val d = spark.range(keys).select(
        col("id").cast("string").as("universal_id"),
        concat(lit(name + "-"), col("id")).as("project_name"),
        concat(lit("addr-"), col("id") % 97).as("address"),
        lit(true).as("is_current"),
        lit(date).as("valid_from"),
        lit(null).cast("string").as("valid_to"),
        concat(lit("sp"), (col("id") % 16).cast("string")).as("spider_name"),
        lit("2025").as("ingestion_year"),
        lit("01").as("ingestion_month"))
      // 30 wide filler columns: the full-width read cost an O(table)
      // merge would pay and a churn-pruned one must not
      (1 to 30).foldLeft(d)((df, i) =>
        df.withColumn(f"wide_$i%02d", concat(lit(s"filler$i-"),
          col("universal_id"), lit("-" + "x" * 40))))
    }
    // day-2 churn: `churn` keys, ALL in spider sp0 (ids ≡ 0 mod 16)
    def churnBatch(date: String): DataFrame =
      batch(16 * churn, "v2", date)
        .filter(col("universal_id").cast("long") % 16 === 0)

    // untimed warmup: a small table + merge pays the session's one-time
    // JIT/codegen cost so the 1x measurement isn't inflated by it
    val warm = s"$base/warm/t"
    graft.scd.Scd2.mergeRegioned(spark, batch(1000, "v1", "2025-01-15"),
      warm, asOfDate = lit("2025-01-15"))
    graft.scd.Scd2.mergeRegioned(spark, churnBatch("2025-01-16").limit(100),
      warm, asOfDate = lit("2025-01-16"))

    Seq(("1x", n), ("10x", n * 10)).foreach { case (label, keys) =>
      val root = s"$base/$label/t"
      graft.scd.Scd2.mergeRegioned(spark, batch(keys, "v1", "2025-01-15"),
        root, asOfDate = lit("2025-01-15"))
      val t0 = System.nanoTime()
      val total = graft.scd.Scd2.mergeRegioned(spark,
        churnBatch("2025-01-16"), root, asOfDate = lit("2025-01-16"))
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"MERGESCALE $label keys=$keys churn=$churn day2_merge=$dt%.2f s total_rows=$total")
    }
    spark.stop()
  }
}
