package perfbench

import scala.collection.mutable.ArrayBuffer

/** A timed interval around a call into one layer. Times are on the
  * benchmark clock ([[Clock.nowNs]], epoch-aligned nanoseconds); `parent`
  * is the id of the enclosing span, or -1. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Epoch-aligned monotonic clock: nanoTime offset so that its readings can
  * be compared with Spark's wall-clock (epoch millisecond) stage times. */
object Clock {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + offset
  def fromEpochMs(ms: Long): Long = ms * 1000000L
}

/** In-memory span recorder. Disabled, it only runs the body, so the
  * untraced run pays one branch per call site. Spans opened on one thread
  * nest under that thread's innermost open span. */
final class Tracer(val enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0
  /** Listener counts of the traced session, read at span boundaries. */
  @volatile var counters: Option[Counters] = None

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val start = Clock.nowNs
      try body
      finally {
        val end = Clock.nowNs
        stack.set(stack.get.tail)
        synchronized { buf += Span(id, parent, name, start, end) }
      }
    }

  /** Records a span whose bounds were measured elsewhere (a micro-batch
    * trigger from `StreamingQueryProgress`, a capture phase from the
    * listener's job times). */
  def add(name: String, startNs: Long, endNs: Long, parent: Int = -1): Unit =
    if (enabled) synchronized {
      nextId += 1
      buf += Span(nextId, parent, name, startNs, endNs)
    }

  def spans: Seq[Span] = synchronized(buf.toList)
}

object Trace {

  /** Self time of each span: its duration minus the part of its interval
    * that its direct children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - Stats.clippedUnion(kids, s.startNs, s.endNs))
    }.toMap
  }

  /** Re-parents spans recorded without a parent (`-1`) under the
    * innermost span of `parents` that contains them. Used for the sink
    * calls of a micro-batch, which run on Spark's stream thread while the
    * trigger span is only known afterwards from its progress report;
    * `slackNs` absorbs the millisecond rounding of progress times. */
  def nestUnder(spans: Seq[Span], parents: Seq[Span], slackNs: Long = 0L): Seq[Span] =
    spans.map { s =>
      if (s.parent != -1) s
      else parents.filter(p => p.id != s.id && p.startNs - slackNs <= s.startNs &&
          s.endNs <= p.endNs + slackNs)
        .sortBy(_.durNs).headOption.map(p => s.copy(parent = p.id)).getOrElse(s)
    }
}
