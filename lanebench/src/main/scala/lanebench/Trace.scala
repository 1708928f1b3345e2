package lanebench

import scala.collection.mutable

/** In-memory spans around the benchmark's calls into each layer. A span
  * records name, start, end (seconds since the run origin), its parent
  * and the run id; spans are written out when the run ends. When
  * tracing is off `span` only runs its body.
  */
final class Tracer(val enabled: Boolean, val runId: String, origin: Long) {
  final case class Span(id: Int, parent: Option[Int], name: String,
      start: Double, end: Double)

  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 1
  val counters = mutable.LinkedHashMap.empty[String, Double]

  private def now: Double = (System.nanoTime() - origin) / 1e9

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption
      stack.push(id)
      val t0 = now
      try body
      finally {
        stack.pop()
        done += Span(id, parent, name, t0, now)
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v

  def set(name: String, v: Double): Unit =
    if (enabled) counters(name) = v

  def spansJson: Json.Arr = Json.Arr(done.toSeq.map { s =>
    Json.Obj("id" -> Json.Num(s.id),
      "parent" -> s.parent.map(p => Json.Num(p)).getOrElse(Json.Null),
      "name" -> Json.Str(s.name), "start" -> Json.Num(s.start),
      "end" -> Json.Num(s.end), "run" -> Json.Str(runId))
  })
}

/** Just enough JSON to write the run record. */
object Json {
  sealed trait V { def render(sb: StringBuilder): Unit }
  case object Null extends V { def render(sb: StringBuilder): Unit = sb ++= "null" }
  final case class Bool(b: Boolean) extends V {
    def render(sb: StringBuilder): Unit = sb ++= b.toString
  }
  final case class Num(d: Double) extends V {
    def render(sb: StringBuilder): Unit =
      if (d.isNaN || d.isInfinite) sb ++= "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) sb ++= d.toLong.toString
      else sb ++= d.toString
  }
  final case class Str(s: String) extends V {
    def render(sb: StringBuilder): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case '\r' => sb ++= "\\r"
        case '\t' => sb ++= "\\t"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
  }
  final case class Arr(vs: Seq[V]) extends V {
    def render(sb: StringBuilder): Unit = {
      sb += '['
      vs.zipWithIndex.foreach { case (v, i) => if (i > 0) sb += ','; v.render(sb) }
      sb += ']'
    }
  }
  final case class Obj(kvs: (String, V)*) extends V {
    def render(sb: StringBuilder): Unit = {
      sb += '{'
      kvs.zipWithIndex.foreach { case ((k, v), i) =>
        if (i > 0) sb += ','
        Str(k).render(sb); sb += ':'; v.render(sb)
      }
      sb += '}'
    }
  }
  def nums(ds: Iterable[Double]): Arr = Arr(ds.toSeq.map(Num(_)))
  def obj(m: collection.Map[String, Double]): Obj =
    Obj(m.toSeq.map { case (k, v) => k -> (Num(v): V) }: _*)
  def render(v: V): String = { val sb = new StringBuilder; v.render(sb); sb.toString }
}
