package perfbench

import scala.collection.mutable.ArrayBuffer

/** One traced interval: a call into a layer, or a phase reported by Spark.
  * Times are epoch nanoseconds; `parent` is the id of the enclosing span
  * (-1 at the top), `batch` the micro-batch id it belongs to (-1 if none). */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, batch: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder for the traced run. Off by default: `span` then
  * just runs its body. Spans are kept in memory and written out once, at
  * the end of the run ([[report]]). */
object Trace {
  @volatile var on = false
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs: Long = System.nanoTime() + epochOffset

  /** Time `body` as a span named `name`, nested under the caller's
    * innermost open span on this thread. */
  def span[A](name: String, batch: Long = -1L)(body: => A): A =
    if (!on) body
    else {
      val id = spans.synchronized { spans += null; spans.length - 1 }
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val t0 = nowNs
      try body
      finally {
        val t1 = nowNs
        stack.set(stack.get.tail)
        spans.synchronized { spans(id) = Span(id, name, t0, t1, parent, batch) }
      }
    }

  /** Record a span measured elsewhere (Spark progress, listener events). */
  def add(name: String, start: Long, end: Long, parent: Int, batch: Long): Int =
    if (!on) -1
    else spans.synchronized {
      val id = spans.length
      spans += Span(id, name, start, end, parent, batch)
      id
    }

  def all: Vector[Span] = spans.synchronized(spans.filter(_ != null).toVector)

  /** Per span name: (count, total seconds, self seconds). A span's self time
    * is its duration minus the part of it that its children cover. */
  def selfTimes(ss: Seq[Span]): Map[String, (Int, Double, Double)] = {
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val total = group.map(_.dur).sum
      val self = group.map(s => s.dur - covered(s, kids.getOrElse(s.id, Nil))).sum
      name -> ((group.size, total / 1e9, self / 1e9))
    }
  }

  /** Length of the union of `children`'s intervals, clipped to `s`. */
  private[perfbench] def covered(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Write every span and the per-name self-time table as JSON. */
  def report(path: java.io.File, extra: Map[String, Double]): Unit = {
    val ss = all
    val sb = new StringBuilder
    sb.append("{\"self_times\": {")
    sb.append(selfTimes(ss).toSeq.sortBy(-_._2._3).map { case (n, (c, t, s)) =>
      f"""${Json.str(n)}: {"count": $c, "total_s": $t%.6f, "self_s": $s%.6f}"""
    }.mkString(", "))
    sb.append("}, \"layers\": {")
    sb.append(extra.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
      .mkString(", "))
    sb.append("}, \"spans\": [\n")
    sb.append(ss.map(s =>
      s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "start": ${s.start}, """ +
        s""""end": ${s.end}, "parent": ${s.parent}, "batch": ${s.batch}}""").mkString(",\n"))
    sb.append("]}\n")
    path.getParentFile.mkdirs()
    java.nio.file.Files.write(path.toPath, sb.toString.getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
