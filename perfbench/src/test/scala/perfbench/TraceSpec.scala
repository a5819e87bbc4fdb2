package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Call-site attribution, span arithmetic and the per-layer report. */
class TraceSpec extends AnyFunSuite {

  private def site(frames: String*): String = frames.mkString("\n")

  test("a job goes to the innermost graft module on its call site") {
    assert(Modules.of(site(
      "org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1521)",
      "graft.quality.QualityChecks$.checkCompleteness(QualityChecks.scala:60)",
      "graft.silver.SilverEtl$.runQualityChecks(SilverEtl.scala:240)",
      "perfbench.Lake.runDay(Workloads.scala:117)")) == "quality")
    assert(Modules.of(site(
      "org.apache.spark.sql.Dataset.head(Dataset.scala:2683)",
      "graft.silver.SilverEtl$.fillAndRemoveOutliers(SilverEtl.scala:255)")) == "silver")
    assert(Modules.of(site("graft.transform.Transforms$.x(Transforms.scala:1)")) == "silver")
    assert(Modules.of(site("graft.functions.MinHashSig$.compute(MinHashSig.scala:9)",
      "graft.corpus.CorpusPipeline$.curate(CorpusPipeline.scala:90)")) == "operators")
  }

  test("a write the commit protocol issues goes to the module that called it") {
    assert(Modules.of(site(
      "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:369)",
      "graft.store.TableCommit$.writeCounted(SnapshotStore.scala:665)",
      "graft.store.PointerCommit$.publish(SnapshotStore.scala:770)",
      "graft.gold.GoldEtl$.writeGold(GoldEtl.scala:160)",
      "graft.gold.GoldEtl$.run(GoldEtl.scala:420)")) == "gold")
    assert(Modules.of(site(
      "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:369)",
      "graft.store.SnapshotStore$.commitFrom(SnapshotStore.scala:330)",
      "graft.scd.Scd2$.appendClosed(Scd2.scala:630)")) == "scd")
    assert(Modules.of(site(
      "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:369)",
      "perfbench.Curate.$anonfun$iteration$3(Workloads.scala:300)",
      "graft.store.SnapshotStore$.commitFrom(SnapshotStore.scala:330)",
      "perfbench.Curate.iteration(Workloads.scala:300)")) == "store")
  }

  test("a job without a mapped graft frame goes to other") {
    assert(Modules.of(site(
      "org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)",
      "java.base/java.lang.Thread.run(Thread.java:840)")) == "other")
    assert(Modules.of(site("graft.streaming.StreamingOps$.x(StreamingOps.scala:1)")) == "other")
    assert(Modules.of(null) == "other")
  }

  test("covered time is the union of intervals clipped to the window") {
    assert(SpanMath.coveredMs(Nil, 0, 10) == 0)
    assert(SpanMath.coveredMs(Seq((1.0, 3.0), (2.0, 5.0), (7.0, 8.0)), 0, 10) == 5)
    assert(SpanMath.coveredMs(Seq((-5.0, 2.0), (9.0, 20.0)), 0, 10) == 3)
    assert(SpanMath.coveredMs(Seq((4.0, 6.0), (1.0, 9.0)), 0, 10) == 8)
    assert(SpanMath.coveredMs(Seq((11.0, 12.0)), 0, 10) == 0)
  }

  test("self time subtracts the children, driver gap subtracts the jobs") {
    val root = Span(0, "day", "w/0/day", -1, 100, 200)
    val spans = Seq(root,
      Span(1, "silver.run", "w/0", 0, 110, 150),
      Span(2, "gold.run", "w/0", 0, 140, 190),
      Span(3, "inner", "w/0", 1, 120, 130))
    assert(SpanMath.selfMs(root, spans) == 20)   // 100-110 and 190-200
    assert(SpanMath.selfMs(spans(1), spans) == 30)
    assert(SpanMath.gapMs(spans(1), Seq((115.0, 125.0), (120.0, 135.0), (145.0, 160.0))) == 15)
    assert(SpanMath.innermostAt(125, spans).map(_.id).contains(3))
    assert(SpanMath.innermostAt(195, spans).map(_.id).contains(0))
    assert(SpanMath.innermostAt(250, spans).isEmpty)
  }

  test("the recorder nests spans and reports the innermost open one") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Option[Int]]
    val r = new SpanRecorder(seen += _)
    r.span("day", "w/0/day") {
      r.span("silver.run", "w/0")(())
      r.span("gold.run", "w/0")(())
    }
    r.span("day", "w/1/day")(())
    val s = r.spans
    assert(s.map(x => (x.id, x.name, x.parent)) == Seq((0, "day", -1),
      (1, "silver.run", 0), (2, "gold.run", 0), (3, "day", -1)))
    assert(s.forall(x => x.endMs >= x.startMs))
    assert(seen == Seq(Some(0), Some(1), Some(0), Some(2), Some(0), None, Some(3), None))
  }

  test("the report attributes jobs, tasks and planning to modules and calls") {
    import EngineListener.{Job, Task}
    val l = new EngineListener
    // two iterations; iteration 0's silver.run runs two jobs, one of them
    // a quality check, and spends 30 of its 100 ms on the driver alone
    val spans = Seq(
      Span(0, "day", "w/untraced-0/day", -1, 0, 200),
      Span(1, "silver.run", "w/untraced-0", 0, 0, 100),
      Span(2, "gold.run", "w/untraced-0", 0, 100, 200),
      Span(3, "day", "w/untraced-1/day", -1, 300, 400),
      Span(4, "silver.run", "w/untraced-1", 3, 300, 400))
    l.jobs(1) = Job(1, 1, "silver", 10, 50, "")
    l.jobs(2) = Job(2, 1, "quality", 40, 80, "")
    l.jobs(3) = Job(3, 2, "gold", 120, 180, "")
    l.jobs(4) = Job(4, 4, "silver", 300, 400, "")
    l.tasks ++= Seq(Task(1, 10, 40, 5, 1048576, 0, 2, 0),
      Task(1, 10, 20, 0, 0, 0, 0, 0), Task(1, 10, 20, 0, 0, 0, 0, 0),
      Task(2, 11, 40, 0, 0, 0, 0, 0),
      Task(3, 12, 60, 0, 0, 0, 0, 0), Task(4, 13, 100, 0, 0, 0, 0, 0))
    l.plans ++= Seq((5.0, 7.0), (45.0, 3.0), (150.0, 2.0))
    val r = LayerReport.compute(l, spans, cores = 2)
    assert(r("silver.jobs") == 1 && r("quality.jobs") == 0.5 && r("gold.jobs") == 0.5)
    assert(r("silver.task_s") == (0.08 + 0.1) / 2)
    assert(r("silver.shuffle_write_mb") == 0.5)
    // stage 10: max 40 / median 20; iteration 1 has no multi-task stage
    assert(r("silver.skew") == 1.5)
    assert(r("silver.run.wall_s") == 0.1)
    assert(math.abs(r("silver.run.gap_s") - 0.015) < 1e-12)  // median of 0.03 and 0
    assert(r("silver.run.plan_ms") == 5)   // median of 10 and 0
    assert(r("gold.run.util") == 0.3)      // 60 ms of tasks / (100 ms × 2 cores)
    assert(r("bench.self_s") == 0)
  }

  test("BENCHMARK.json names every metric the benchmark prints") {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")
    def names(section: String) = {
      val body = text.substring(text.indexOf(s""""$section""""))
      val block = body.substring(body.indexOf('['), body.indexOf(']'))
      """"name":\s*"([^"]+)"""".r.findAllMatchIn(block).map(_.group(1)).toSeq
    }
    assert(names("per_layer") == LayerReport.Metrics.map(_.name))
    assert(names("end_to_end") == Main.endToEnd(1, Nil).map(_._1))
    assert(names("workloads").forall(Workload.Names.contains))
  }
}
