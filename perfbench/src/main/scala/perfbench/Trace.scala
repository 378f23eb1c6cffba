package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One recorded interval at a layer boundary. `ticks` is the inclusive range
  * of live generator ticks whose trades the span carried (-1 when none), so
  * a tick's bronze batch, silver batch and gold refresh can be joined. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
    tickLo: Long = -1, tickHi: Long = -1) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are kept in a queue and written once, when
  * the run ends. A disabled tracer still times its bodies (the untraced run
  * needs the durations for its own metrics) but keeps nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  /** Open spans on this thread, innermost first: id and tick range. */
  private val stack = new ThreadLocal[List[(Long, Array[Long])]] {
    override def initialValue(): List[(Long, Array[Long])] = Nil
  }

  /** Time `f` as span `name`, parented to the enclosing span on this thread;
    * returns the result and the elapsed milliseconds. */
  def timed[T](name: String)(f: => T): (T, Double) = {
    val id = ids.incrementAndGet()
    val parent = stack.get().headOption.map(_._1).getOrElse(0L)
    val range = Array(-1L, -1L)
    stack.set((id, range) :: stack.get())
    val t0 = System.nanoTime()
    try {
      val r = f
      val t1 = System.nanoTime()
      if (enabled) spans.add(Span(id, parent, name, t0, t1, range(0), range(1)))
      (r, (t1 - t0) / 1e6)
    } finally stack.set(stack.get().tail)
  }

  /** Set the tick range of the innermost open span on this thread, once the
    * body has learnt which ticks it carried. */
  def tagTicks(lo: Long, hi: Long): Unit =
    stack.get().headOption.foreach { case (_, r) => r(0) = lo; r(1) = hi }

  /** Record an interval measured elsewhere (a streaming progress report). */
  def record(name: String, startNs: Long, endNs: Long, ticks: (Long, Long) = (-1L, -1L)): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), 0L, name, startNs, endNs, ticks._1, ticks._2))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** A span's duration minus the part of it covered by its children. */
  def selfMs(s: Span, children: Seq[Span]): Double = {
    val ivs = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e6
  }

  /** Write every span as one JSON object per line, times in ms from `originNs`. */
  def write(path: java.nio.file.Path, originNs: Long): Unit = {
    val xs = all
    val byParent = xs.groupBy(_.parent)
    val lines = xs.map { s =>
      val self = selfMs(s, byParent.getOrElse(s.id, Nil))
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${(s.startNs - originNs) / 1e6}%.3f,""" +
        f""""end_ms":${(s.endNs - originNs) / 1e6}%.3f,"self_ms":$self%.3f,"tick_lo":${s.tickLo},"tick_hi":${s.tickHi}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
