package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Minimal JSON rendering for the result and trace files (no library on
  * the classpath does this without pulling in Spark internals). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** The string array under `key` in a flat JSON object written by gen.py. */
  def strings(json: String, key: String): Seq[String] =
    ("\"" + key + "\"\\s*:\\s*\\[([^\\]]*)\\]").r.findFirstMatchIn(json).toSeq
      .flatMap(m => "\"([^\"]*)\"".r.findAllMatchIn(m.group(1)).map(_.group(1)))

  def string(json: String, key: String): String =
    ("\"" + key + "\"\\s*:\\s*\"([^\"]*)\"").r.findFirstMatchIn(json).map(_.group(1))
      .getOrElse(throw new NoSuchElementException(key))

  def write(path: String, v: Any): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, render(v).getBytes(StandardCharsets.UTF_8))
  }
}

/** Order statistics over latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Span and counter recorder for the traced run.
  *
  * A span is (id, name, start, end, parent) on one monotonic clock, all
  * tagged with the run id. Parents follow a per-thread stack; a span opened
  * on a thread with an empty stack (a streaming query's batch thread)
  * hangs under the current operation's root span instead. Spans can also
  * be added after the fact from timings Spark reports itself (progress
  * durations), under an explicit parent.
  */
final class Tracer(val runId: String) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  @volatile private var root = -1
  /** Off during warm-up: spans then run their bodies unrecorded. */
  @volatile var on = true
  private var nextId = 0
  val t0: Long = System.nanoTime()
  private val wall0: Long = System.currentTimeMillis()

  /** A wall-clock instant (epoch ms, as Spark reports it) on the span clock. */
  def nsAt(epochMs: Long): Long = t0 + (epochMs - wall0) * 1000000L

  private def newId(): Int = synchronized { nextId += 1; nextId }

  def record(name: String, parent: Int, startNs: Long, endNs: Long): Int = {
    val id = newId()
    synchronized { spans += Span(id, name, parent, startNs, endNs) }
    id
  }

  def span[T](name: String)(body: => T): T = if (!on) body else {
    val parent = stack.get().headOption.getOrElse(root)
    val id = newId()
    stack.set(id :: stack.get())
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      stack.set(stack.get().tail)
      synchronized { spans += Span(id, name, parent, start, end) }
    }
  }

  /** An operation's root span: spans opened on other threads while it runs
    * become its children. Returns (result, span id, duration ms). */
  def op[T](name: String)(body: => T): (T, Int, Double) = if (!on) {
    val start = System.nanoTime()
    val r = body
    (r, -1, (System.nanoTime() - start) / 1e6)
  } else {
    val id = newId()
    val start = System.nanoTime()
    root = id
    stack.set(id :: stack.get())
    try {
      val r = body
      val end = System.nanoTime()
      synchronized { spans += Span(id, name, -1, start, end) }
      (r, id, (end - start) / 1e6)
    } finally { stack.set(stack.get().tail); root = -1 }
  }

  def children(parent: Int, name: String): Seq[Span] =
    synchronized(spans.filter(s => s.parent == parent && s.name == name).toSeq)

  def totalMs(name: String): Double =
    synchronized(spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).sum)

  def write(path: String, counts: Map[String, Any], extra: Map[String, Any]): Unit = {
    val rows = synchronized(spans.sortBy(_.startNs).toSeq).map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> runId,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6)
    }
    Json.write(path, extra ++ Map("run_id" -> runId, "spans" -> rows, "counts" -> counts))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)
}
