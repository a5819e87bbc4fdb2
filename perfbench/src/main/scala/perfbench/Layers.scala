package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The engine's modules, as the traced run attributes work to them. */
object Modules {
  val Names: Seq[String] =
    Seq("silver", "quality", "scd", "store", "gold", "corpus", "operators")

  /** graft package → module. Packages not listed (and frames outside
    * graft) leave a job to `other`. */
  val ByPackage: Map[String, String] = Map(
    "silver" -> "silver", "transform" -> "silver", "schema" -> "silver",
    "quality" -> "quality", "scd" -> "scd", "store" -> "store",
    "gold" -> "gold", "corpus" -> "corpus", "operators" -> "operators",
    "functions" -> "operators", "plans" -> "operators")

  private val GraftFrame = """^\s*(?:at\s+)?graft\.([a-z]+)\.""".r

  /** Module of a Spark job, from the long form of its call site: the
    * innermost (first listed) graft frame of a mapped package. `store` is
    * the commit protocol: a write job it issues computes its caller's
    * plan, so the job goes to the innermost module outside `store`, and to
    * `store` only when no other module is on the stack. */
  def of(callSiteLong: String): String = {
    val mods = Option(callSiteLong).toSeq.flatMap(_.split('\n'))
      .flatMap(l => GraftFrame.findFirstMatchIn(l).map(_.group(1)))
      .flatMap(ByPackage.get)
    mods.find(_ != "store").orElse(mods.headOption).getOrElse("other")
  }
}

/** Spark and SQL listener the traced run registers through the public
  * APIs (`SparkContext.addSparkListener`, `ExecutionListenerManager`).
  * Events are kept in memory; [[flush]] waits for the listener bus to
  * deliver everything posted before it. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  import EngineListener._

  private val FlushDescription = "perfbench-flush"

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val tasks = mutable.ArrayBuffer.empty[Task]
  /** (start of the first planning phase, summed phase ms) per query. */
  val plans = mutable.ArrayBuffer.empty[(Double, Double)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private var cacheBytes = 0L
  var cachePeakBytes = 0L
  var failedTasks = 0L
  private var flushJob = -1
  @volatile private var flushDone = false

  /** SQL execution id → long call site of the action that started it. */
  private val executionSites = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executionSites(s.executionId) =
        s.rootExecutionId.flatMap(executionSites.get).getOrElse(s.details)
    }
    case _ =>
  }

  /** A job's call site. Jobs of a SQL query (AQE runs most of them from
    * its own threads, whose stacks hold no engine frame) take the call
    * site of the action that started the query; other jobs, their final
    * stage's. */
  private def siteOf(e: SparkListenerJobStart): String =
    Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executionSites.get(id.toLong))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.details))
      .orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    if (props.exists(p => p.getProperty("spark.job.description") == FlushDescription))
      flushJob = e.jobId
    else props.flatMap(p => Option(p.getProperty(SpanProperty))).foreach { sp =>
      val site = siteOf(e)
      jobs(e.jobId) = Job(e.jobId, sp.toInt, Modules.of(site), e.time, e.time,
        Option(site).flatMap(_.split('\n').find(_.contains("graft."))).getOrElse(""))
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    if (e.jobId == flushJob) flushDone = true
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { job =>
      val m = Option(e.taskMetrics)
      val failed = !e.taskInfo.successful
      if (failed) failedTasks += 1
      tasks += Task(job, e.stageId, e.taskInfo.duration,
        m.map(_.jvmGCTime).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(_.diskBytesSpilled).getOrElse(0L),
        m.map(_.shuffleReadMetrics.fetchWaitTime).getOrElse(0L),
        m.map(_.peakExecutionMemory).getOrElse(0L))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockManagerId.executorId + "/" + info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cacheBytes += size - rddBlocks.getOrElse(key, 0L)
      if (size == 0L) rddBlocks.remove(key) else rddBlocks(key) = size
      cachePeakBytes = math.max(cachePeakBytes, cacheBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans += ((phases.map(_.startTimeMs).min.toDouble,
        phases.map(_.durationMs).sum.toDouble))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Runs a marker job and waits until its end event arrives: the bus
    * delivers in order, so every earlier event has been seen too. */
  def flush(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    flushDone = false
    sc.setJobDescription(FlushDescription)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!flushDone && System.nanoTime() < deadline) Thread.sleep(10)
    require(flushDone, "listener bus did not drain within 60 s")
  }
}

object EngineListener {
  /** Local property carrying the id of the innermost open span, which
    * Spark copies into every job's properties. */
  val SpanProperty = "perfbench.span"

  final case class Job(id: Int, span: Int, module: String, startMs: Long,
                       endMs: Long, site: String) {
    def wallMs: Long = endMs - startMs
  }
  final case class Task(job: Int, stage: Int, durMs: Long, gcMs: Long,
                        shuffleWriteBytes: Long, spillBytes: Long,
                        fetchWaitMs: Long, peakExecBytes: Long)
}

/** Per-layer table of one traced run. Every value is the median, over the
  * traced iterations, of that iteration's total (module metrics) or, for a
  * call, the median over its calls. */
object LayerReport {
  import EngineListener._

  final case class Metric(name: String, unit: String, better: String)

  /** The public calls the benchmark makes, one span each. */
  val Calls: Seq[String] = Seq("silver.readBronze", "silver.run", "gold.run",
    "corpus.curate", "store.commit")

  /** Every per-layer metric, in print order. */
  val Metrics: Seq[Metric] = {
    val perModule = Modules.Names.flatMap(m => Seq(
      Metric(s"$m.jobs", "count", "lower"), Metric(s"$m.tasks", "count", "lower"),
      Metric(s"$m.job_s", "s", "lower"), Metric(s"$m.task_s", "s", "lower"),
      Metric(s"$m.gc_s", "s", "lower"),
      Metric(s"$m.shuffle_write_mb", "MB", "lower"),
      Metric(s"$m.spill_mb", "MB", "lower"),
      Metric(s"$m.fetch_wait_s", "s", "lower"),
      Metric(s"$m.skew", "ratio", "lower")))
    val other = Seq(Metric("other.jobs", "count", "lower"),
      Metric("other.job_s", "s", "lower"))
    val perCall = Calls.flatMap(c => Seq(
      Metric(s"$c.wall_s", "s", "lower"), Metric(s"$c.gap_s", "s", "lower"),
      Metric(s"$c.util", "ratio", "higher"),
      Metric(s"$c.plan_ms", "ms", "lower")))
    val storage = Seq(Metric("fs.read_ops", "count", "lower"),
      Metric("fs.write_ops", "count", "lower"),
      Metric("fs.written_mb", "MB", "lower"),
      Metric("store.files_written", "count", "lower"),
      Metric("store.mean_file_kb", "KB", "higher"),
      Metric("silver.write_amp", "ratio", "lower"),
      Metric("gold.write_amp", "ratio", "lower"))
    val engine = Seq(Metric("driver.codegen_n", "count", "lower"),
      Metric("spark.cache_peak_mb", "MB", "lower"),
      Metric("spark.peak_exec_mb", "MB", "lower"),
      Metric("spark.failed_tasks", "count", "lower"))
    val bench = Seq(Metric("bench.self_s", "s", "lower"),
      Metric("trace.overhead_rows_per_s", "1/s", "higher"))
    perModule ++ other ++ perCall ++ storage ++ engine ++ bench
  }

  private val MB = 1024.0 * 1024.0

  /** Module, call and engine metrics from the listener's events and the
    * spans. A root span's trace id starts with "workload/iteration". */
  def compute(l: EngineListener, spans: Seq[Span], cores: Int)
      : Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    def root(s: Span): Span =
      if (s.parent < 0) s else root(byId(s.parent))
    def iteration(s: Span): String = root(s).trace.split('/').take(2).mkString("/")
    val jobs = l.jobs.values.filter(j => byId.contains(j.span)).toSeq
    val jobIter = jobs.map(j => j.id -> iteration(byId(j.span))).toMap
    val tasksByJob = l.tasks.toSeq.groupBy(_.job)
    val iters = spans.map(iteration).distinct

    def med(xs: Seq[Double]): Double = Stats.median(xs)
    def perIter(f: String => Double): Double = med(iters.map(f))
    val out = mutable.LinkedHashMap.empty[String, Double]

    (Modules.Names :+ "other").foreach { m =>
      def js(it: String) = jobs.filter(j => j.module == m && jobIter(j.id) == it)
      def ts(it: String) = js(it).flatMap(j => tasksByJob.getOrElse(j.id, Nil))
      out(s"$m.jobs") = perIter(it => js(it).size.toDouble)
      out(s"$m.job_s") = perIter(it => js(it).map(_.wallMs).sum / 1e3)
      if (m != "other") {
        out(s"$m.tasks") = perIter(it => ts(it).size.toDouble)
        out(s"$m.task_s") = perIter(it => ts(it).map(_.durMs).sum / 1e3)
        out(s"$m.gc_s") = perIter(it => ts(it).map(_.gcMs).sum / 1e3)
        out(s"$m.shuffle_write_mb") =
          perIter(it => ts(it).map(_.shuffleWriteBytes).sum / MB)
        out(s"$m.spill_mb") = perIter(it => ts(it).map(_.spillBytes).sum / MB)
        out(s"$m.fetch_wait_s") = perIter(it => ts(it).map(_.fetchWaitMs).sum / 1e3)
        out(s"$m.skew") = perIter(it => skew(ts(it)))
      }
    }

    // a call's work: jobs tagged with its span or a span inside it, and
    // queries whose planning started inside it
    def callOf(s: Span): Option[Span] =
      if (Calls.contains(s.name)) Some(s)
      else if (s.parent < 0) None else callOf(byId(s.parent))
    val callJobs = jobs.groupBy(j => callOf(byId(j.span)).map(_.id))
    val planMs = mutable.HashMap.empty[Int, Double].withDefaultValue(0.0)
    l.plans.foreach { case (t, ms) =>
      SpanMath.innermostAt(t, spans).flatMap(callOf).foreach(s => planMs(s.id) += ms)
    }
    Calls.foreach { c =>
      val ss = spans.filter(_.name == c)
      def js(s: Span) = callJobs.getOrElse(Some(s.id), Nil)
      out(s"$c.wall_s") = med(ss.map(_.wallMs / 1e3))
      out(s"$c.gap_s") = med(ss.map(s =>
        SpanMath.gapMs(s, js(s).map(j => (j.startMs.toDouble, j.endMs.toDouble))) / 1e3))
      out(s"$c.util") = med(ss.map { s =>
        val taskMs = js(s).flatMap(j => tasksByJob.getOrElse(j.id, Nil)).map(_.durMs).sum
        if (s.wallMs <= 0) 0.0 else taskMs / (s.wallMs * cores)
      })
      out(s"$c.plan_ms") = med(ss.map(s => planMs(s.id)))
    }
    out("bench.self_s") = perIter(it =>
      spans.filter(s => s.parent < 0 && iteration(s) == it)
        .map(s => SpanMath.selfMs(s, spans) / 1e3).sum)
    out("spark.cache_peak_mb") = l.cachePeakBytes / MB
    out("spark.peak_exec_mb") =
      (if (l.tasks.isEmpty) 0L else l.tasks.map(_.peakExecBytes).max) / MB
    out("spark.failed_tasks") = l.failedTasks.toDouble
    out.toMap
  }

  /** Max over stages (with at least two tasks) of max / median task time. */
  def skew(ts: Seq[Task]): Double = {
    val ratios = ts.groupBy(_.stage).values.filter(_.size >= 2).flatMap { st =>
      val m = Stats.median(st.map(_.durMs.toDouble))
      if (m > 0) Some(st.map(_.durMs).max / m) else None
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}
