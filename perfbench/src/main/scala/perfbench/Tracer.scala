package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext

/** One timed region of the traced run. */
final case class Span(id: Int, parent: Int, name: String, op: String,
    workload: String, pass: Int, startNs: Long, endNs: Long)

/** Keeps spans in memory while `on` and hands them over at the end. Each
  * span also labels the Spark jobs submitted inside it (the `Layers.SpanKey`
  * local property, "entry" for a span named "entry.build"), which is how
  * the listener attributes scheduler counters to layers. */
final class Tracer(sc: SparkContext, workload: String) {
  @volatile var on = false
  var pass = 0
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0

  def span[T](name: String, op: String = "")(body: => T): T = {
    val kind = name.takeWhile(_ != '.')
    val prevKind = sc.getLocalProperty(Layers.SpanKey)
    sc.setLocalProperty(Layers.SpanKey, kind)
    val id = next
    next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Layers.SpanKey, prevKind)
      if (on) spans += Span(id, parent, name, op, workload, pass, t0, t1)
    }
  }

  def toJsonLines: String = spans.map { s =>
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "op" -> s.op, "workload" -> s.workload, "pass" -> s.pass,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))
  }.mkString("", "\n", "\n")
}
