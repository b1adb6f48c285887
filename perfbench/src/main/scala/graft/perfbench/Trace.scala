package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans around the benchmark's calls into each graft layer.
  *
  * A span has a name (`layer.call`), start and end (ns, monotonic), its
  * parent span id and the run id. Spans are only recorded while `enabled`;
  * otherwise [[span]] runs its body and nothing else, so an untraced
  * repetition pays no tracing cost. Spark jobs are added as spans by
  * [[SparkProbe]] from listener timestamps and parented to the innermost
  * bench span open at the job's start.
  */
final class Trace(val runId: String) {
  final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long)

  private val spans = ArrayBuffer.empty[Span]
  private val open = scala.collection.mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 1
  @volatile var enabled = false
  /** Called with the innermost open span id (0 for none) on every open and
    * close, so Spark jobs can be tagged with the span that submitted them. */
  var onSwitch: Int => Unit = _ => ()

  /** Wall clock at process start, to map listener epoch-ms into nanoTime. */
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val id = synchronized { val i = nextId; nextId += 1; open.push((i, name, System.nanoTime())); i }
    onSwitch(id)
    try body
    finally {
      val parent = synchronized {
        val (_, n, t0) = open.pop()
        val p = open.headOption.map(_._1).getOrElse(0)
        spans += Span(id, n, p, t0, System.nanoTime())
        p
      }
      onSwitch(parent)
    }
  }

  /** Add a span observed elsewhere (a Spark job) with epoch-ms bounds. */
  def addEpochSpan(name: String, parent: Int, startMs: Long, endMs: Long): Unit = synchronized {
    spans += Span(nextId, name, parent, startMs * 1000000L - epochNs, endMs * 1000000L - epochNs)
    nextId += 1
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** `roots` and every span of `within` below them. */
  def subtree(roots: Seq[Span], within: Seq[Span]): Seq[Span] = {
    val children = within.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(walk)
    roots.flatMap(walk)
  }

  /** Self time per layer (seconds): each span's duration minus the union of
    * its children's intervals, summed by the span name's prefix before '.'. */
  def selfSecondsByLayer(within: Seq[Span]): Map[String, Double] = {
    val children = within.groupBy(_.parent)
    within.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      val self = (s.end - s.start) - Trace.unionNs(kids)
      s.name.takeWhile(_ != '.') -> self / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def toJson: String = {
    val sb = new StringBuilder
    sb.append("{\"run_id\":").append(Json.str(runId)).append(",\"spans\":[")
    all.sortBy(_.start).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"run_id":${Json.str(runId)}}""")
    }
    sb.append("]}").toString
  }
}

object Trace {
  /** Total length of the union of [start, end) intervals. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Minimal JSON rendering for the result and detail lines. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
