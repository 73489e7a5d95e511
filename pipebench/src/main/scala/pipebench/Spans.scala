package pipebench

import scala.collection.mutable

/** In-memory timeline of timed calls: one span per call with its name,
  * wall-clock start/end and parent. Durations come from the monotonic
  * clock; wall-clock bounds exist so that engine events (which carry
  * wall-clock times) can be attributed to the innermost enclosing span.
  *
  * Spans are opened and closed on the workload's single calling thread;
  * lookups from listener threads are synchronized.
  */
final class Spans {
  final class Span(val id: Int, val name: String, val parent: Int, val startMs: Long, val startNs: Long) {
    @volatile var endMs: Long = Long.MaxValue
    @volatile var endNs: Long = -1L
    def durationMs: Double = (endNs - startNs) / 1e6
  }

  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  /** Run `body` inside a span named `name`, nested under the open span. */
  def apply[T](name: String)(body: => T): T = {
    val s = synchronized {
      val sp = new Span(all.size, name, stack.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime())
      all += sp
      stack = sp :: stack
      sp
    }
    try body
    finally synchronized {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
    }
  }

  def closed: Seq[Span] = synchronized(all.filter(_.endNs >= 0).toSeq)

  def named(name: String): Seq[Span] = closed.filter(_.name == name)

  /** Innermost span whose wall-clock interval holds `tMs` (-1 = none). */
  def at(tMs: Long): Int = synchronized {
    var best = -1
    var bestStart = Long.MinValue
    all.foreach { s =>
      if (s.startMs <= tMs && tMs <= s.endMs && s.startMs >= bestStart) {
        best = s.id
        bestStart = s.startMs
      }
    }
    best
  }
}
