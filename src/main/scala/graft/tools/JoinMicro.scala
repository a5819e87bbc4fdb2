package graft.tools

import org.apache.spark.sql.functions._

/** Minimal BHJ-probe throughput isolation: 58M synthetic rows probed
  * against a 58k-row broadcast relation, composite (int, long) key vs
  * packed single-long key — the r15 instrument behind the probe
  * key-packing decision. */
object JoinMicro {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-join-micro")
    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"JOINMICRO $tag%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val big = spark.range(0, 58000000).select(col("id").as("src"),
      (col("id") % 29).cast("int").as("band"),
      pmod(expr("xxhash64(id)"), lit(1L << 24)).as("key"))
    val small = spark.range(0, 58000).select(col("id").as("dst"),
      (col("id") % 29).cast("int").as("band"),
      pmod(expr("xxhash64(id + 77)"), lit(1L << 24)).as("key"))
      .localCheckpoint(true)
    for (r <- 1 to 3) {
      time(s"composite-key r$r") {
        big.join(broadcast(small), Seq("band", "key")).count()
      }
      time(s"packed-key r$r") {
        big.select(col("src"),
            (col("band").cast("long") * (1L << 24) + col("key")).as("bk"))
          .join(broadcast(small.select(col("dst"),
            (col("band").cast("long") * (1L << 24) + col("key")).as("bk"))),
            Seq("bk")).count()
      }
      time(s"scan-only r$r") { big.select(sum(col("key"))).head() }
    }
    spark.stop()
  }
}
