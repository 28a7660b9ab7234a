package perfbench

import scala.collection.mutable

/** One timed call from the benchmark into a layer of the program.
  * `counters` holds the listener counters that moved while it ran. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startNs: Long = 0L, endNs: Long = 0L,
                      counters: Map[String, Double] = Map.empty) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory while `enabled`; otherwise runs the body
  * untouched. Spans are written out once, when the run ends. */
final class Tracer(probes: => Option[Probes]) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var enabled = false
  var pass = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.length, name, stack.headOption.getOrElse(-1), pass)
      spans += s
      stack = s.id :: stack
      val before = probes.map(_.additive()).getOrElse(Map.empty)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val after = probes.map(_.additive()).getOrElse(Map.empty)
        spans(s.id) = s.copy(startNs = t0, endNs = t1,
          counters = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
            .filter(_._2 != 0.0))
        stack = stack.tail
      }
    }

  /** Seconds per span name, net of the time its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum).sum
    }
  }

  def toJson: String = spans.map { s =>
    Json.obj(Seq("name" -> Json.str(s.name), "parent" -> s.parent.toString,
      "pass" -> s.pass.toString, "start_ns" -> s.startNs.toString,
      "end_ns" -> s.endNs.toString, "counters" -> Json.nums(s.counters)))
  }.mkString("[", ",\n", "]")
}

/** Just enough JSON writing for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
}
