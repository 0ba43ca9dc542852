package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. Spans of one iteration share `iter`;
  * `parent` is the id of the enclosing span (-1 for an iteration root). */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the driver thread. Spans are kept until
  * the run ends and written out with the run record; nothing is written
  * while the workload runs. `enter`/`exit` let the caller tag work done
  * inside a span (the job group the stage listener bills). Not
  * thread-safe: spans are opened only from the thread that drives the
  * workload. When disabled, `span` is a plain call. */
final class Tracer(var enabled: Boolean, enter: String => Unit,
    exit: Option[String] => Unit) {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long)] = Nil
  private var nextId = 0
  private var iter = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      val start = System.nanoTime()
      open = (id, name, start) :: open
      enter(name)
      try body
      finally {
        val end = System.nanoTime()
        open = open.tail
        exit(open.headOption.map(_._2))
        done += Span(id, name, parent, iter, start, end)
      }
    }

  /** Root span of iteration `i`. */
  def iteration[T](i: Int)(body: => T): T = {
    iter = i
    span("iteration")(body)
  }

  def spans: Seq[Span] = done.toSeq
  def spansOf(i: Int): Seq[Span] = done.filter(_.iter == i).toSeq
}

object Tracer {

  /** Self time of every span of one iteration: its duration minus the
    * part of its interval covered by its children (children of one
    * parent never overlap here — the tracer is single-threaded). */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c =>
        math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs))
        .filter(_ > 0).sum
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  /** Summed duration per span name. */
  def durations(spans: Seq[Span]): Map[String, Double] =
    spans.groupBy(_.name).view.mapValues(_.map(_.seconds).sum).toMap

  /** |root duration - sum of all self times| for one iteration's spans:
    * zero when every child lies inside its parent. */
  def selfSumError(spans: Seq[Span]): Double = {
    val self = selfTimes(spans)
    val root = spans.filter(_.parent == -1).map(_.seconds).sum
    math.abs(root - self.values.sum)
  }

  def toJson(spans: Seq[Span]): String = {
    val self = spans.groupBy(_.iter).values.flatMap(s => selfTimes(s)).toMap
    spans.map { s =>
      s"""{"id":${s.id},"name":${graft.Json.str(s.name)},"parent":${s.parent},""" +
        s""""iter":${s.iter},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_s":${self(s.id)}}"""
    }.mkString("[", ",\n", "]")
  }
}
