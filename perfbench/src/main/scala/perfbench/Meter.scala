package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.FileSystem

/** What one iteration measured in its timed regions. */
final case class IterResult(wallS: Double, cpuS: Double,
                            rows: Long, writtenBytes: Long, readOps: Long,
                            writeOps: Long, attempted: Int, failed: Int,
                            codegen: Long, layer: Map[String, Double])

/** Times the regions of one iteration that count, and opens the spans the
  * traced run attributes work by. Untraced, a call is just the call. */
final class Meter(val recorder: Option[SpanRecorder], val trace: String) {
  private var wallNs, cpuNs, written, readOps, writeOps, codegen = 0L
  /** Trace id of the spans opened now: workload/iteration[/region]. */
  private var region = trace

  /** One timed region: input on disk to result published. */
  def timed[T](name: String)(body: => T): T = {
    val (fs0, cg0) = (Meter.fsCounters(), Meter.codegenCount())
    val (t0, c0) = (System.nanoTime(), Meter.processCpuNs())
    val out = recorder match {
      case Some(r) =>
        region = s"$trace/$name"
        try r.span(name, region)(body) finally region = trace
      case None => body
    }
    val (t1, c1) = (System.nanoTime(), Meter.processCpuNs())
    val fs1 = Meter.fsCounters()
    wallNs += t1 - t0; cpuNs += c1 - c0
    written += fs1._1 - fs0._1; readOps += fs1._2 - fs0._2
    writeOps += fs1._3 - fs0._3; codegen += Meter.codegenCount() - cg0
    out
  }

  /** A public call into one engine module. */
  def call[T](name: String)(body: => T): T = recorder match {
    case Some(r) => r.span(name, region)(body)
    case None => body
  }

  def result(rows: Long, attempted: Int, failed: Int,
             layer: Map[String, Double]): IterResult =
    IterResult(wallNs / 1e9, cpuNs / 1e9, rows, written, readOps,
      writeOps, attempted, failed, codegen, layer)
}

object Meter {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs(): Long = os.getProcessCpuTime

  /** (bytes written through Hadoop's local filesystem, summed over every
    * thread of the process; read and write operations, which only the
    * traced run's [[CountingFileSystem]] counts). */
  @annotation.nowarn("cat=deprecation")
  def fsCounters(): (Long, Long, Long) =
    (FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
      .map(_.getBytesWritten).sum,
      CountingFileSystem.reads.sum, CountingFileSystem.writes.sum)

  /** Whole-stage and expression classes compiled so far. */
  def codegenCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
