package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Head-to-head: built-in BroadcastNestedLoopJoin vs graft's
  * RangeJoinExec on the same band join, across band-table sizes m.
  * The BNL leg runs with the rewrite rule excluded via
  * `spark.sql.optimizer.excludedRules` (same session, same data) — both
  * plan shapes are asserted before timing so the numbers can't silently
  * measure the wrong operator. BNL is O(n·m); RangeJoinExec is
  * O(n log m): the gap should widen roughly linearly in m.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *          sbt "runMain graft.tools.RangeJoinBench [m1 m2 ...]"
  */
object RangeJoinBench {
  private val ExcludeConf = "spark.sql.optimizer.excludedRules"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val ms = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(53, 1000, 10000)
    val spark = graft.GraftSession.local("graft-rangejoin-bench")

    val prices = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_extendedprice")
    prices.persist().count() // take IO out of both legs

    def bandJoinDf(m: Int) = {
      val width = 110000.0 / m // cover the price domain with m bands
      val bands = spark.range(0, m).select(
        col("id").as("band"),
        (col("id") * width).as("lo"),
        ((col("id") + 1) * width).as("hi"))
      prices.join(broadcast(bands),
          col("l_extendedprice") >= col("lo") &&
            col("l_extendedprice") < col("hi"))
        .groupBy("band").agg(count(lit(1)).as("cnt"))
    }

    def timed(mustContain: String, mustNot: String, m: Int): Double = {
      val runs = (1 to 3).map { _ =>
        val df = bandJoinDf(m)
        val t0 = System.nanoTime()
        df.collect()
        val sec = (System.nanoTime() - t0) / 1e9
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains(mustContain) && !plan.contains(mustNot),
          s"wrong plan for m=$m (want $mustContain):\n$plan")
        sec
      }
      runs.sorted.apply(1) // median of 3
    }

    // the SHUFFLED form (RangeJoinPartitionedExec): floor the broadcast
    // threshold so the strategy's 8x cutoff can never fit — the path a
    // band table too big to broadcast takes at scale. Includes the
    // RangePartitioner's sampling pass in every run (honest: the real
    // query pays it too).
    def timedPartitioned(m: Int): Double = {
      val runs = (1 to 3).map { _ =>
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        try {
          val df = bandJoinDf(m)
          val t0 = System.nanoTime()
          df.collect()
          val sec = (System.nanoTime() - t0) / 1e9
          val plan = df.queryExecution.executedPlan.toString
          require(plan.contains("RangeJoinPartitioned") &&
            !plan.contains("BroadcastNestedLoopJoin"),
            s"wrong plan for partitioned m=$m:\n$plan")
          sec
        } finally
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      }
      runs.sorted.apply(1)
    }

    println(f"${"m"}%8s ${"bnl_median_s"}%14s ${"rangejoin_median_s"}%20s " +
      f"${"speedup"}%8s ${"partitioned_s"}%14s")
    ms.foreach { m =>
      spark.conf.set(ExcludeConf, "graft.plans.RangeJoinRewrite")
      val bnl = timed("BroadcastNestedLoopJoin", "RangeJoin", m)
      spark.conf.unset(ExcludeConf)
      val rj = timed("RangeJoin", "BroadcastNestedLoopJoin", m)
      val part = timedPartitioned(m)
      println(f"$m%8d $bnl%14.3f $rj%20.3f ${bnl / rj}%7.1fx $part%14.3f")
    }
    spark.stop()
  }
}
