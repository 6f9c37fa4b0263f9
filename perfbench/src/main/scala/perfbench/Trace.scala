package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer, recorded by the benchmark's own code.
  * `req` names the request the call served (a query and pass, a batch
  * id, a segment); `parent` is the enclosing span's id, -1 at the top.
  */
final case class Span(id: Int, parent: Int, name: String, req: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, [[apply]] only runs its body, so
  * an untraced run pays nothing; enabled, spans nest per thread and are
  * written out once, at the end of the run.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def apply[T](name: String, req: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.synchronized { spans += null; spans.size - 1 }
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized { spans(id) = Span(id, parent, name, req, t0, t1) }
      }
    }

  /** A top-level span whose interval was measured elsewhere in wall-clock
    * milliseconds (e.g. a streaming trigger, timed by Spark's progress
    * reporting), moved onto the `System.nanoTime` scale of the others.
    */
  def recordEpochMs(name: String, req: String, startMs: Long, endMs: Long): Unit =
    if (enabled) spans.synchronized {
      val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
      spans += Span(spans.size, -1, name, req, startMs * 1000000L + offsetNs, endMs * 1000000L + offsetNs)
    }

  def all: Seq[Span] = spans.synchronized(spans.filter(_ != null).toSeq)

  /** Seconds per span name of time not covered by that span's children. */
  def selfSeconds: Map[String, Double] = Tracer.selfSeconds(all)

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      out.println(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""req":${Json.str(s.req)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally out.close()
  }
}

object Tracer {
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        s.durNs - covered(children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
      }.sum / 1e9
    }
  }

  /** Length of the union of intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, end), (s, e)) =>
      if (e <= end) (acc, end)
      else (acc + e - math.max(s, end), e)
    }._1
}

/** Minimal JSON rendering for the benchmark's outputs. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
