package perfbench

import scala.collection.mutable

/** One traced interval. `trace` groups every span of one request or
  * iteration; `parent` is 0 for a root. Times are epoch microseconds so
  * driver spans and Spark listener events (epoch milliseconds) share one
  * axis. */
final case class Span(id: Long, parent: Long, trace: Long, name: String, layer: String,
                      startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

object Trace {

  /** Length of the union of `intervals` after clipping each to [lo, hi]. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- clipped) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
      s.id -> (s.durUs - unionLength(kids, s.startUs, s.endUs))
    }.toMap
  }

  /** Summed self time per layer. */
  def layerSelfUs(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  def toJson(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":${Json.str(s.name)},""" +
      s""""layer":${Json.str(s.layer)},"start_us":${s.startUs},"end_us":${s.endUs}}"""
}

/** In-memory span recorder. While not `active`, `span` runs its body with
  * no bookkeeping at all, so untraced operations pay nothing. `onEnter` is told
  * the innermost open span (Some("span:<id>:<trace>")) or that none is
  * open (None); the benchmark uses it to set Spark's job group so the
  * listener can tie jobs to the caller. */
final class Tracer(val enabled: Boolean, onEnter: Option[String] => Unit = _ => ()) {
  /** Whether spans are recorded now; never true for a disabled tracer. */
  @volatile var active: Boolean = enabled
  private val baseNano = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[(Long, Long)]] { override def initialValue() = Nil }

  def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L
  def nextId(): Long = ids.incrementAndGet()

  @volatile private var lastRoot = 0L

  /** Trace id of the most recently finished root span. */
  def lastTrace: Long = lastRoot

  def add(s: Span): Unit = synchronized { buf += s }
  def spans: Seq[Span] = synchronized { buf.toList }

  /** Runs `body` inside a span. A root span (none open on this thread)
    * starts a new trace id. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!active) body
    else {
      val stack = open.get()
      val id = nextId()
      val (parent, trace) = stack.headOption match {
        case Some((pid, tid)) => (pid, tid)
        case None => (0L, id)
      }
      open.set((id, trace) :: stack)
      onEnter(Some(s"span:$id:$trace"))
      val t0 = nowUs
      try body
      finally {
        add(Span(id, parent, trace, name, layer, t0, nowUs))
        if (parent == 0) lastRoot = trace
        open.set(stack)
        onEnter(stack.headOption.map { case (pid, tid) => s"span:$pid:$tid" })
      }
    }
}

/** Parses the job-group string written by [[Tracer]]. */
object JobGroup {
  def parse(group: String): Option[(Long, Long)] =
    Option(group).filter(_.startsWith("span:")).flatMap { g =>
      g.split(':') match {
        case Array(_, id, trace) => Some((id.toLong, trace.toLong))
        case _ => None
      }
    }
}

/** Minimal JSON writing for the result lines. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
