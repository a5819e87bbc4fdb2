package graft.tools

import org.apache.spark.sql.SparkSession

/** A/B the streaming-gate lifecycle floor against the
  * checkpoint/state-store knobs r17 deliberately skipped (r17 VERDICT
  * item 5): run a set of streaming gates N times under the session
  * defaults and under a tweaked session (same SparkContext, cloned
  * session confs — streaming confs are session-scoped SQLConf), and
  * print per-gate medians for both. The tweaks tested:
  *
  *   - spark.sql.streaming.minBatchesToRetain=2 (default 100): how many
  *     checkpoint log entries survive cleanup — a retention knob, not a
  *     durability one (every batch still commits through the same
  *     rename-based log); shrinks the per-batch cleanup scan.
  *   - spark.sql.streaming.stateStore.minDeltasForSnapshot=100
  *     (default 10): suppresses snapshot compaction during short-lived
  *     bounded drains — maintenance work the 2-3-batch gates never
  *     benefit from. Recovery still replays deltas; semantics unchanged.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.StreamFloorAB st3_stream_drift st4_stream_countmin ..."
  */
object StreamFloorAB {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("st3_stream_drift", "st4_stream_countmin",
        "st5_stream_session", "st6_stream_quantile", "st8_stream_hll")
    val spark = graft.GraftSession.local("graft-stream-floor-ab")
    graft.SparkEntry.entry(spark).count() // session warmup

    val tweaked = spark.newSession()
    tweaked.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    tweaked.conf.set("spark.sql.streaming.stateStore.minDeltasForSnapshot", "100")

    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    // alternate A/B/A/B per gate so slow machine drift hits both arms
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      def run(s: SparkSession): Double = {
        SparkSession.setActiveSession(s)
        val t0 = System.nanoTime()
        fn(s, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      run(spark); run(tweaked) // one warm pass each (fixture dirs, codegen)
      val (as, bs) = (1 to 3).map(_ => (run(spark), run(tweaked))).unzip
      println(f"STREAMAB $name%-28s default=${med(as)}%.3f tweaked=${med(bs)}%.3f " +
        f"(runs A=${as.map(x => f"$x%.2f").mkString(",")} B=${bs.map(x => f"$x%.2f").mkString(",")})")
    }
    spark.stop()
  }
}
