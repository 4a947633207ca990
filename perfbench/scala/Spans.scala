package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. Spans are kept in a buffer
  * and written once at the end, so recording costs an allocation and a
  * lock, never I/O. Times are epoch milliseconds with sub-millisecond
  * fractions (see [[Clock]]). `parent` is the id of the enclosing span
  * when the recorder knows it; otherwise `unit` lets the self-time pass
  * nest the span under that unit's batch by time.
  */
final class Spans(enabled: Boolean) {
  final case class Span(id: String, parent: String, kind: String,
      name: String, start: Double, end: Double, unit: String,
      attrs: Map[String, Any])

  private val buf = ArrayBuffer.empty[Span]

  def on: Boolean = enabled

  def add(id: String, parent: String, kind: String, name: String,
      start: Double, end: Double, unit: String = null,
      attrs: Map[String, Any] = Map.empty): Unit =
    if (enabled) buf.synchronized {
      buf += Span(id, parent, kind, name, start, end, unit, attrs)
    }

  def write(path: java.nio.file.Path): Unit = {
    val lines = buf.synchronized(buf.toList).map { s =>
      Json.render(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start" -> s.start, "end" -> s.end,
        "unit" -> s.unit) ++ s.attrs)
    }
    java.nio.file.Files.write(path,
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Epoch milliseconds with nanosecond-derived fractions: one monotonic
  * clock anchored to wall time once, so spans measured here line up with
  * the epoch-millisecond timestamps Spark puts on its events.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** Minimal JSON rendering for the result file: maps, sequences, numbers,
  * strings, booleans and null.
  */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
