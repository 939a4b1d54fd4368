package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval of a traced run. `parent` is the id of the span that
  * caused it (0 for a root); `op` is shared by every span of one timed
  * operation. Times are epoch milliseconds, the clock Spark's listener
  * events carry.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, end: Long) {
  def ms: Long = end - start
}

/** In-memory span recorder; nothing is written until the run ends. */
final class SpanLog {
  private val buf = ArrayBuffer.empty[Span]
  private var nextId = 1L

  def add(parent: Long, op: Long, name: String, start: Long, end: Long): Long =
    synchronized {
      val id = nextId
      nextId += 1
      buf += Span(id, parent, op, name, start, end)
      id
    }

  def all: Vector[Span] = synchronized(buf.toVector)
}

object Spans {

  /** Self time of each span: its duration minus the part of it that its
    * children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> Stats.uncovered(s.start, s.end, kids)
    }.toMap
  }

  /** Self time summed per span name. */
  def selfTimeByName(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }

  /** Tile `[start, end]` with one interval per stage. Each stage runs from
    * the end of the previous stage's last write to the end of its own last
    * write; the last stage also takes whatever runs after its write, so the
    * tiles always sum to `end - start`. A stage whose write was not seen
    * gets an empty tile.
    */
  def tile(start: Long, end: Long, stages: Seq[String],
      writeEnds: Map[String, Long]): Seq[(String, Long, Long)] = {
    var prev = start
    stages.zipWithIndex.map { case (stage, i) =>
      val last = i == stages.length - 1
      val stop =
        if (last) math.max(prev, end)
        else math.min(end, math.max(prev, writeEnds.getOrElse(stage, prev)))
      val t = (stage, prev, stop)
      prev = stop
      t
    }
  }
}
