package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Diagnose per-JVM degradation of repeated streaming-sink runs (the
  * s6c gate): run the same MemoryStream → foreachBatch → mergeRegioned
  * scenario N times in one JVM and print a per-phase breakdown (start,
  * epoch 0, epoch 1, stop, read-back) so growth pins to a phase.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.StreamSoak 8"
  */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(8)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("graft-stream-soak")

    def sec(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    (0 until n).foreach { i =>
      val t0 = System.nanoTime()
      val out = graft.SparkEntry.queries("s6c_scd2_stream_sink")(spark, sfDir)
      val build = sec(t0)
      val t1 = System.nanoTime()
      val cnt = out.count()
      println(f"SOAK run=$i%2d total=${sec(t0)}%6.2f build+stream=$build%6.2f " +
        f"readback=${sec(t1)}%6.2f rows=$cnt")
    }
    spark.stop()
  }
}
