package graftbench

import java.util.concurrent.atomic.AtomicLong

/** One timed interval at a layer boundary. Times are seconds since the
  * recorder was created; `parent` is 0 for a root span, and every span
  * of one op carries that op's `op` key. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    op: String, start: Double, end: Double)

/** In-memory span recorder. When `on` is false, `span` only runs its
  * body: the untraced run pays no bookkeeping. Spans are written once,
  * at the end of the run. */
final class Trace(val on: Boolean) {
  private val origin = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val spans = new java.util.ArrayList[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def now(): Double = (System.nanoTime() - origin) / 1e9

  def span[T](name: String, layer: String, op: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.getOrElse(0L)
      stack.set(id :: outer)
      val t0 = now()
      try body
      finally {
        stack.set(outer)
        add(Span(id, parent, name, layer, op, t0, now()))
      }
    }

  /** Record an interval measured elsewhere (a listener callback, a
    * generator thread) as a root span. */
  def record(name: String, layer: String, op: String, start: Double,
      end: Double): Unit =
    if (on) add(Span(ids.incrementAndGet(), 0L, name, layer, op, start, end))

  private def add(s: Span): Unit = spans.synchronized { spans.add(s) }

  def all: Seq[Span] = spans.synchronized {
    import scala.jdk.CollectionConverters._
    spans.asScala.toSeq
  }

  def writeJsonLines(path: String): Unit = {
    val lines = all.sortBy(_.id).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "op" -> s.op, "start" -> s.start, "end" -> s.end)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

/** Just enough JSON writing for the run record and the span file. */
object Json {
  /** Already-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Raw(j) => j
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
