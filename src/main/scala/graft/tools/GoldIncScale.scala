package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gold.GoldEtl

/** Two-point scaling measurement for INCREMENTAL GOLD: build silver
  * current tables of N and 10N rows (spread over 16 ingestion months,
  * WIDE rows — 30 filler columns — so full-snapshot scan cost is
  * visible), full-run gold once (which re-baselines the persisted
  * imputation-stats table), then append the SAME fixed-size churn to ONE
  * ingestion month and time `runIncremental`. With persisted stats the
  * incremental run partition-prunes its silver read and recomputes only
  * the churned month, so the wall should track churn, not table size —
  * an O(table) incremental (the pre-stats shape: full-snapshot stat
  * aggregation + unpruned featurization) would show ~10×. The remaining
  * table-proportional piece is the NARROW affected-group detection scan
  * (valid_from/valid_to/ingestion_date only), which column-pruning keeps
  * far off the critical path.
  *
  *   sbt "runMain graft.tools.GoldIncScale /tmp/graft_goldscale 40000 500"
  */
object GoldIncScale {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/tmp/graft_goldscale")
    val n = args.lift(1).map(_.toInt).getOrElse(40000)
    val churn = args.lift(2).map(_.toInt).getOrElse(500)
    val spark = graft.GraftSession.local("graft-gold-inc-scale")

    def silverRows(rows: Int, vf: String, months: Int): DataFrame = {
      val d = spark.range(rows).select(
        col("id").cast("string").as("universal_id"),
        lit("Hanoi").as("city"),
        concat(lit("D"), (col("id") % 40).cast("string")).as("district"),
        (col("id") % 900 + 100).cast("double").as("avg_unit_price"),
        ((col("id") % 900 + 100) * 80).cast("double").as("avg_selling_price"),
        lit(80.0).as("total_area"),
        lit(true).as("is_current"),
        lit(vf).as("valid_from"),
        lit(null).cast("string").as("valid_to"),
        concat(lit("2025-"), lpad(((col("id") % months) + 1).cast("string"), 2, "0"),
          lit("-15")).as("ingestion_date"),
        lit("2025").as("ingestion_year"),
        lpad(((col("id") % months) + 1).cast("string"), 2, "0")
          .as("ingestion_month"))
      val flagged = graft.schema.Mappings.AmenityPatterns.foldLeft(d) {
        case (df, (c, _)) => df.withColumn(c, lit(false))
      }
      (1 to 30).foldLeft(flagged)((df, i) =>
        df.withColumn(f"wide_$i%02d", concat(lit(s"filler$i-"),
          col("universal_id"), lit("-" + "x" * 40))))
    }
    // day-2 churn: `churn` rows, ALL in ingestion month 01
    def churnRows(rows: Int): DataFrame =
      silverRows(rows, "2025-01-21", 1)
        .withColumn("universal_id", concat(lit("new-"), col("universal_id")))

    // untimed warmup pays session JIT/codegen once
    val warm = s"$base/warm"
    silverRows(2000, "2025-01-10", 16)
      .write.mode("overwrite").partitionBy("ingestion_year", "ingestion_month")
      .parquet(s"$warm/silver")
    GoldEtl.run(spark, s"$warm/silver", s"$warm/gold",
      to_timestamp(lit("2025-01-20 12:00:00")))
    churnRows(100).write.mode("append")
      .partitionBy("ingestion_year", "ingestion_month").parquet(s"$warm/silver")
    GoldEtl.runIncremental(spark, s"$warm/silver", s"$warm/gold",
      "2025-01-21", to_timestamp(lit("2025-01-21 12:00:00")))

    Seq(("1x", n), ("10x", n * 10)).foreach { case (label, rows) =>
      val root = s"$base/$label"
      silverRows(rows, "2025-01-10", 16)
        .write.mode("overwrite").partitionBy("ingestion_year", "ingestion_month")
        .parquet(s"$root/silver")
      GoldEtl.run(spark, s"$root/silver", s"$root/gold",
        to_timestamp(lit("2025-01-20 12:00:00")))
      churnRows(churn).write.mode("append")
        .partitionBy("ingestion_year", "ingestion_month").parquet(s"$root/silver")
      val t0 = System.nanoTime()
      val out = GoldEtl.runIncremental(spark, s"$root/silver", s"$root/gold",
        "2025-01-21", to_timestamp(lit("2025-01-21 12:00:00")))
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"GOLDINCSCALE $label rows=$rows churn=$churn day2_incremental=$dt%.2f s out_rows=${out.count()}")
    }
    spark.stop()
  }
}
