package perfbench

import scala.collection.mutable.ArrayBuffer

/** One call into a layer, as seen from the benchmark: `start`/`end`
  * are nanoTime offsets from the run's origin, `parent` is the id of
  * the enclosing span (0 = none) and `run` ties every span of one
  * benchmark invocation together.
  */
final case class Span(id: Int, layer: String, name: String, parent: Int,
    run: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder for the traced run. Spans are appended when
  * they close and written out once, when the benchmark ends.
  *
  * Jobs that Spark starts inside a span carry the span id in the
  * `perfbench.span` local property, which is how [[Probe]] ties jobs,
  * stages and tasks back to the call that caused them. With tracing off
  * the recorder does nothing but run the body, so the untraced run
  * carries no local properties and no listener.
  */
final class Tracer(val enabled: Boolean, val run: String,
    sc: => org.apache.spark.SparkContext) {
  val origin: Long = System.nanoTime()
  /** Wall clock at `origin`, to place spans against Spark's task times. */
  val originEpochMs: Long = System.currentTimeMillis()
  private val closed = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty,
          stack.headOption.map(_.toString).orNull)
        closed += Span(id, layer, name, parent, run, t0 - origin, t1 - origin)
      }
    }

  def spans: Seq[Span] = closed.toSeq
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Self time of every span: its duration minus the part of its
    * interval that its direct children cover. Children may overlap one
    * another (they never do in this single-client benchmark, but the
    * arithmetic should not double-count if they did), so the covered
    * part is the length of the union of the children's intervals,
    * clipped to the parent's interval.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val byParent = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.id -> (s.dur - unionLength(kids))
    }.toMap
  }

  /** Total length covered by a set of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((a, b) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (a > curE) {
        if (curE > curS) covered += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  def json(spans: Seq[Span]): String = {
    val self = selfTimes(spans)
    spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"layer":"${s.layer}","name":"${Json.esc(s.name)}",""" +
        s""""parent":${s.parent},"run":"${s.run}","start_ns":${s.start},""" +
        s""""end_ns":${s.end},"self_ns":${self(s.id)}}"""
    }.mkString("[", ",\n", "]")
  }
}
