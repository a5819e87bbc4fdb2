package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** The pipeline benchmark: one warm JVM per run.
  *
  * {{{
  *   Main --workload <etl_backfill|curate> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * A run generates its inputs from the seed, runs one discarded warm-up
  * iteration, then repeats timed iterations for `--seconds` and at least
  * [[MinTimed]] times, each followed by its output checks, and reports
  * medians. The last stdout line is the JSON result. `--trace 1` splits
  * the time in three: untraced, traced with the listeners registered, and
  * untraced again (at least one iteration each), and reports the per-layer
  * table plus the tracing overhead.
  */
object Main {
  /** Timed iterations of an untraced run at the least. Two is what the run
    * budget affords for an ETL day (~15 s each after a ~40 s warm-up); a
    * curate iteration is short enough that `--seconds` gives it more. */
  val MinTimed = 2

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: Path, cores: Int)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(
      s"missing --$k; usage: --workload W --seed N --seconds S --trace 0|1 --work DIR"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      math.min(4, Runtime.getRuntime.availableProcessors()))
  }

  def main(args: Array[String]): Unit = {
    val code = try { run(parse(args)); 0 } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        1
    }
    System.out.flush()
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    System.exit(code)
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean

  def run(o: Opts): Unit = {
    require(Workload.Names.contains(o.workload),
      s"unknown workload '${o.workload}' (one of ${Workload.Names.mkString(", ")})")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = osBean.getSystemLoadAverage
    val work = o.work.resolve(o.workload)
    Checks.deleteTree(work)
    Files.createDirectories(work)
    val builder = graft.GraftSession.builder("perfbench", o.cores)
      .master(s"local[${o.cores}]")
      .config("spark.local.dir", work.resolve("spark-local").toString)
    if (o.trace)
      builder.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val w = Workload(o.workload, spark, work, o.seed)
      def since(t: Long) = (System.nanoTime() - t) / 1e9
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val g0 = System.nanoTime()
      w.generate()
      val genS = since(g0)
      val w0 = System.nanoTime()
      val warm = w.iteration(new Meter(None, s"${w.name}/warmup"))
      settle(work)
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - genS
      System.err.println(f"[perfbench] set-up: JVM and session $sessionS%.2f s, " +
        f"warm-up iteration ${since(w0)}%.2f s " +
        f"(input generation $genS%.2f s not counted)")

      val loopS = if (o.trace) o.seconds / 3.0 else o.seconds.toDouble
      val before = loop(w, work, loopS, if (o.trace) 1 else MinTimed,
        "untraced", None)
      // untraced iterations on both sides of the traced ones, so the JIT
      // still warming across the run weighs on both sides of the overhead
      val traced =
        if (!o.trace) None
        else Some(tracedLoop(spark, w, work, loopS, o.cores))
      val plain = before ++
        (if (o.trace) loop(w, work, loopS, 1, "untraced-after", None) else Nil)
      val load1 = osBean.getSystemLoadAverage

      val all = Seq(warm) ++ plain ++ traced.map(_._1).getOrElse(Nil)
      val attempted = all.map(_.attempted).sum
      val failed = all.map(_.failed).sum
      val e2e = endToEnd(setupS, plain)
      val metrics: Seq[(String, Double, String)] = traced match {
        case None => e2e.map { case (n, v, u, _) => (n, v, u) }
        case Some((iters, layer)) =>
          val t = endToEnd(setupS, iters).map(x => x._1 -> x._2).toMap
          val e = e2e.map(x => x._1 -> x._2).toMap
          val full = layer +
            ("trace.overhead_rows_per_s" -> (t("rows_per_s") - e("rows_per_s")))
          LayerReport.Metrics.map(m => (m.name, full.getOrElse(m.name, 0.0), m.unit))
      }

      println(s"workload ${w.name}, seed ${o.seed}: ${w.describe}")
      println(f"local[${o.cores}], ${plain.size} untraced iterations" +
        traced.fold("")(t => s", ${t._1.size} traced") +
        f"; 1-min load average $load0%.2f at start, $load1%.2f at end; " +
        f"input generation $genS%.2f s (not in setup_s)")
      if (!o.trace) e2e.foreach { case (n, v, u, samples) =>
        println(f"  $n%-12s $v%12.4f $u%-4s (median of $samples)")
      } else metrics.foreach { case (n, v, u) => println(f"  $n%-36s $v%14.4f $u") }
      println(json(failed == 0, attempted, failed, metrics))
    } finally spark.stop()
  }

  /** Repeats iterations until `seconds` of loop time have passed and at
    * least `minIters` have run. An iteration that throws counts all its
    * operations failed. */
  def loop(w: Workload, work: Path, seconds: Double, minIters: Int, label: String,
           recorder: Option[SpanRecorder]): Seq[IterResult] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[IterResult]
    val t0 = System.nanoTime()
    while (out.size < minIters || (System.nanoTime() - t0) / 1e9 < seconds) {
      val i = out.size
      out += (try w.iteration(new Meter(recorder, s"${w.name}/$label-$i"))
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] ${w.name} iteration $i failed: $e")
          e.printStackTrace()
          IterResult(wallS = 0, cpuS = 0, rows = 0, writtenBytes = 0,
            readOps = 0, writeOps = 0, attempted = 1, failed = 1, codegen = 0,
            layer = Map.empty)
      })
      val r = out.last
      System.err.println(f"[perfbench] $label iteration $i: " +
        f"timed ${r.wallS}%.3f s, cpu ${r.cpuS}%.3f s, " +
        f"written ${r.writtenBytes / 1048576.0}%.4f MB, failed ${r.failed}")
      settle(work)
    }
    out.toSeq
  }

  /** Between iterations: flush this run's dirty pages so writeback does
    * not land in the next timed region, then collect garbage. */
  def settle(work: Path): Unit = {
    val p = new ProcessBuilder("sync", "-f", work.toString).inheritIO().start()
    p.waitFor()
    System.gc()
    Thread.sleep(100)
  }

  /** The traced part of a `--trace 1` run. */
  def tracedLoop(spark: SparkSession, w: Workload, work: Path, seconds: Double,
                 cores: Int)
      : (Seq[IterResult], Map[String, Double]) = {
    val listener = new EngineListener
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.listenerManager.register(listener)
    val recorder = new SpanRecorder(id =>
      sc.setLocalProperty(EngineListener.SpanProperty, id.map(_.toString).orNull))
    val iters = try loop(w, work, seconds, 1, "traced", Some(recorder))
    finally {
      listener.flush(spark)
      spark.listenerManager.unregister(listener)
      sc.removeSparkListener(listener)
    }
    writeTrace(work.resolve("trace.jsonl"), recorder.spans, listener)
    val ok = iters.filter(_.failed == 0)
    val perIter = (LayerReport.Metrics.map(_.name).toSet & ok.flatMap(_.layer.keys).toSet)
      .map(n => n -> Stats.median(ok.map(_.layer.getOrElse(n, 0.0)))).toMap
    val counters = Map(
      "fs.read_ops" -> Stats.median(ok.map(_.readOps.toDouble)),
      "fs.write_ops" -> Stats.median(ok.map(_.writeOps.toDouble)),
      "fs.written_mb" -> Stats.median(ok.map(_.writtenBytes / 1048576.0)),
      "driver.codegen_n" -> Stats.median(ok.map(_.codegen.toDouble)))
    (iters, LayerReport.compute(listener, recorder.spans, cores) ++ perIter ++ counters)
  }

  /** The traced run's spans and Spark jobs, one JSON object a line. */
  def writeTrace(to: Path, spans: Seq[Span], l: EngineListener): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.map(s =>
      s"""{"span": ${s.id}, "name": ${q(s.name)}, "trace": ${q(s.trace)}, """ +
        f""""parent": ${s.parent}, "start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f, """ +
        f""""self_ms": ${SpanMath.selfMs(s, spans)}%.3f}""") ++
      l.jobs.values.map(j =>
        s"""{"job": ${j.id}, "span": ${j.span}, "module": ${q(j.module)}, """ +
          s""""start_ms": ${j.startMs}, "end_ms": ${j.endMs}, "site": ${q(j.site)}}""")
    Files.write(to, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** (name, value, unit, sample count) of every end-to-end metric. */
  def endToEnd(setupS: Double, iters: Seq[IterResult])
      : Seq[(String, Double, String, Int)] = {
    val ok = iters.filter(_.failed == 0)
    Seq(("setup_s", setupS, "s", 1),
      ("rows_per_s", Stats.median(ok.map(i => i.rows / i.wallS)), "1/s", ok.size),
      ("cpu_s", Stats.median(ok.map(_.cpuS)), "s", ok.size),
      ("written_mb", Stats.median(ok.map(_.writtenBytes / 1048576.0)), "MB", ok.size))
  }

  def json(correct: Boolean, attempted: Int, failed: Int,
           metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
