package perfbench

/** A timed interval of the benchmark's own calls into the engine.
  * `trace` names the unit of work it belongs to (workload/iteration/day),
  * `parent` the enclosing span's id (-1 for a root). Times are epoch
  * milliseconds with sub-millisecond resolution, the clock Spark's
  * listener events use. */
final case class Span(id: Int, name: String, trace: String, parent: Int,
                      startMs: Double, endMs: Double) {
  def wallMs: Double = endMs - startMs
}

/** Interval arithmetic behind self time, driver gap and attribution. */
object SpanMath {

  /** Total length of the union of `ivs`, each clipped to [lo, hi]. */
  def coveredMs(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (curA, curB) = (Double.NaN, Double.NaN)
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfMs(span: Span, all: Seq[Span]): Double =
    span.wallMs - coveredMs(all.filter(_.parent == span.id)
      .map(c => (c.startMs, c.endMs)), span.startMs, span.endMs)

  /** Driver-only time of a span: its wall minus the union of the Spark job
    * intervals that ran inside it. */
  def gapMs(span: Span, jobs: Seq[(Double, Double)]): Double =
    span.wallMs - coveredMs(jobs, span.startMs, span.endMs)

  /** The innermost span containing instant `t`, if any. */
  def innermostAt(t: Double, spans: Seq[Span]): Option[Span] =
    spans.filter(s => s.startMs <= t && t <= s.endMs)
      .sortBy(s => s.wallMs).headOption
}

/** Records spans in memory; nothing is written until the run ends.
  * `onChange` sees the innermost open span's id after every enter and
  * exit (None once no span is open), so jobs can be tagged with it. */
final class SpanRecorder(onChange: Option[Int] => Unit = _ => ()) {
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private val done = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  /** Runs `body` inside a span. */
  def span[T](name: String, trace: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    onChange(Some(id))
    val start = nowMs
    try body
    finally {
      val end = nowMs
      stack = stack.tail
      onChange(stack.headOption)
      done += Span(id, name, trace, parent, start, end)
    }
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)
}
