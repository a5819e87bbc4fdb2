package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB attribution for a registered query: runs the query (after a
  * session warmup) with a listener that records every Spark job's wall
  * time, then prints the jobs in submission order. Where a query's
  * seconds go — how many actions it really runs (eager checkpoints,
  * bounded collects, stream micro-batches) and which of them dominate —
  * is invisible in both the physical plan and the bench numbers; this
  * closes that gap for optimization work (guide §1: measure first).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.JobDebug gr1_pagerank s6c_scd2_stream_sink"
  */
object JobDebug {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("graft-job-debug")
    graft.SparkEntry.entry(spark).count() // session warmup

    case class Rec(id: Int, start: Long, var end: Long = -1L,
                   desc: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Rec]()
    val order = java.util.Collections
      .synchronizedList(new java.util.ArrayList[Int]())
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(e.jobId, Rec(e.jobId, e.time, desc = d))
        order.add(e.jobId); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // pass 1 = first run (planning + codegen + any fixture build);
      // pass 2 = steady state. Both attributed.
      (1 to 2).foreach { pass =>
        jobs.clear(); order.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(400) // let the listener bus drain job-end events
        println(f"\n=== $name pass $pass wall=$wall%.2f s, ${order.size} jobs")
        val snap = order.toArray(Array.empty[Integer]).map(i => jobs.get(i))
        val sumJobs = snap.map(r => (r.end - r.start) / 1e3).sum
        snap.sortBy(r => -(r.end - r.start)).take(20).foreach { r =>
          println(f"  job ${r.id}%4d  ${(r.end - r.start) / 1e3}%7.2f s  ${r.desc.take(90)}")
        }
        println(f"  (sum of job times $sumJobs%.2f s; gaps = driver-side work)")
      }
    }
    spark.stop()
  }
}
