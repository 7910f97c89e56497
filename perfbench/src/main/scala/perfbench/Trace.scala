package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed call into a layer. `parent` is 0 for a root span; spans of
  * one benchmark run share `runId`. Times are `System.nanoTime`.
  */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                      parent: Long, runId: String) {
  def durNs: Long = endNs - startNs
  /** Layer = the span name up to its first dot (`feature.import`). */
  def layer: String = name.takeWhile(_ != '.')
}

/** Times calls into the program. Every call is timed, so the untraced
  * run measures exactly what the traced one does; only with `enabled`
  * are spans kept (in memory, written out when the run ends).
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  /** Runs `body`; returns its result and wall time in ns. */
  def timed[T](name: String)(body: => T): (T, Long) = {
    if (!enabled) {
      val t0 = System.nanoTime()
      val r = body
      (r, System.nanoTime() - t0)
    } else {
      val id = ids.getAndIncrement()
      val parents = open.get()
      open.set(id :: parents)
      val t0 = System.nanoTime()
      var t1 = 0L
      try {
        val r = body
        t1 = System.nanoTime()
        (r, t1 - t0)
      } finally {
        if (t1 == 0L) t1 = System.nanoTime()
        open.set(parents)
        buf.add(Span(id, name, t0, t1, parents.headOption.getOrElse(0L),
          runId))
      }
    }
  }

  /** Wall ms of `body`, discarding its result. */
  def ms(name: String)(body: => Any): Double = timed(name)(body)._2 / 1e6

  /** Records a span observed after the fact (e.g. a streaming batch
    * reported by a listener), as a root span.
    */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled)
      buf.add(Span(ids.getAndIncrement(), name, startNs, endNs, 0L, runId))

  def spans: Seq[Span] = buf.asScala.toSeq.sortBy(_.startNs)
}

object Trace {

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of its
    * interval that its child spans cover.
    */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      s.id -> (s.durNs - unionLength(covered))
    }.toMap
  }

  /** Self time summed per layer, in ms. */
  def selfMsByLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => self(s.id)).sum / 1e6 }
  }
}
