package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One timed interval at a layer boundary. Times are epoch microseconds;
  * `parent` is the id of the span that caused this one (0 for a root).
  * Spans of one run share the run's trace id.
  */
final case class Span(
    id: Long,
    parent: Long,
    layer: String,
    name: String,
    startUs: Long,
    endUs: Long,
    attrs: Map[String, String] = Map.empty) {
  require(endUs >= startUs, s"span '$name' ends before it starts")
  def durationUs: Long = endUs - startUs
}

/** In-memory span store: appended to while the run goes, written out once
  * when it ends.
  */
final class SpanLog(val traceId: String) {
  private val ids = new AtomicLong(0L)
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]

  def nextId(): Long = ids.incrementAndGet()

  def add(parent: Long, layer: String, name: String, startUs: Long, endUs: Long,
      attrs: Map[String, String] = Map.empty): Long = {
    val id = nextId()
    synchronized { buf += Span(id, parent, layer, name, startUs, endUs, attrs) }
    id
  }

  def spans: Vector[Span] = synchronized(buf.toVector)

  def toJson: String = Json.write(ListMap(
    "trace_id" -> traceId,
    "spans" -> spans.map(s => ListMap(
      "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
      "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> ListMap(s.attrs.toSeq.sortBy(_._1): _*)))))
}

object Spans {

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def coveredUs(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** A span's self time: its duration minus the part of its interval that
    * its direct children cover (overlapping children count once).
    */
  def selfTimesUs(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
      s.id -> (s.durationUs - coveredUs(s.startUs, s.endUs, kids))
    }.toMap
  }

  /** Self time summed per layer. */
  def selfTimeByLayerUs(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimesUs(spans)
    spans.groupBy(_.layer).map { case (layer, ss) => layer -> ss.map(s => self(s.id)).sum }
  }
}

/** JSON text for the result and report lines and the span file. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(v: Any): String = mapper.writeValueAsString(v)
}
