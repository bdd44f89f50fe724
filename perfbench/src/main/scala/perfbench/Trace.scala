package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext

/** Wall clock in epoch milliseconds with nanosecond resolution, on the
  * same time base as Spark's listener events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory span trace. Each span gets its own Spark job group for the
  * time it is open (restoring the enclosing span's group when it closes),
  * so [[Counters]] can attribute every job to the span that caused it.
  * When disabled, `span` only runs its body.
  */
final class Trace(sc: SparkContext, enabled: Boolean) {

  final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                   val startMs: Double) {
    var endMs: Double = Double.NaN
    val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
    def group: String = s"perfbench-span-$id"
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]

  def span[A](name: String, op: Int)(body: => A): A =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        op, Clock.nowMs())
      spans += s
      open = s :: open
      sc.setJobGroup(s.group, name)
      try body
      finally {
        s.endMs = Clock.nowMs()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(p.group, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attach a measured value to the innermost open span. */
  def attr(key: String, value: Any): Unit =
    open.headOption.foreach(_.attrs(key) = value)

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "group" -> s.group,
      "attrs" -> s.attrs)
  }
}
