package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One recorded interval. Times are epoch microseconds. `stmt` groups
  * the spans of one benchmark statement (0 = none); `parent` is the id
  * of the span that caused this one (0 = root). */
final case class Span(id: Long, name: String, layer: String, stmt: Long,
    parent: Long, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder for the traced run. Spans are opened and
  * closed by the benchmark's client thread around its calls into each
  * layer; Spark jobs and Catalyst phases arrive with their own wall
  * times and are attached with [[add]], their parent resolved later by
  * interval containment ([[resolveParents]]). Nothing is written until
  * [[writeJson]] at the end of the run. */
final class Tracer(val active: Boolean) {
  /** spans are recorded only while on: in a traced run, during the
    * statements that are samples */
  @volatile var on: Boolean = false
  private val spans = ArrayBuffer.empty[Span]
  private val stack = scala.collection.mutable.Stack.empty[(Long, String, String, Long, Long)]
  private var nextId = 1L
  private val t0Nanos = System.nanoTime()
  private val t0Us = System.currentTimeMillis() * 1000L

  def nowUs: Long = t0Us + (System.nanoTime() - t0Nanos) / 1000L

  /** Run `body` inside a span; a no-op wrapper when tracing is off. */
  def span[T](name: String, layer: String, stmt: Long)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { val i = nextId; nextId += 1; i }
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      stack.push((id, name, layer, stmt, nowUs))
      try body
      finally {
        val (_, n, l, s, start) = stack.pop()
        synchronized { spans += Span(id, n, l, s, parent, start, nowUs) }
      }
    }

  /** Record an externally timed span (parent resolved later). */
  def add(name: String, layer: String, stmt: Long, startUs: Long, endUs: Long): Unit =
    if (on) synchronized {
      spans += Span(nextId, name, layer, stmt, -1L, startUs, math.max(startUs, endUs))
      nextId += 1
    }

  def all: Seq[Span] = synchronized(spans.toSeq)

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    Tracer.resolveParents(all).sortBy(s => (s.startUs, s.id)).zipWithIndex.foreach {
      case (s, i) =>
        if (i > 0) sb ++= ",\n"
        sb ++= s"""{"id":${s.id},"name":"${Json.esc(s.name)}","layer":"${s.layer}",""" +
          s""""stmt":${s.stmt},"parent":${s.parent},"start_us":${s.startUs},"end_us":${s.endUs}}"""
    }
    sb ++= "\n]\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {

  /** Give each externally timed span (parent -1) the innermost longer
    * span of the same statement whose interval contains its start (a
    * job started during query optimization belongs to that phase). */
  def resolveParents(spans: Seq[Span]): Seq[Span] = {
    val byStmt = spans.groupBy(_.stmt)
    def longer(c: Span, s: Span) = c.durUs > s.durUs || (c.durUs == s.durUs && c.id < s.id)
    spans.map { s =>
      if (s.parent >= 0) s
      else {
        val host = byStmt(s.stmt)
          .filter(c => c.id != s.id && longer(c, s) &&
            c.startUs <= s.startUs && s.startUs <= c.endUs)
          .sortBy(c => (c.durUs, -c.id)).headOption
        s.copy(parent = host.map(_.id).getOrElse(0L))
      }
    }
  }

  /** Self time of each span: its duration minus the union of its
    * children's intervals clipped to it. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      ivs.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered += curB - curA
      s.id -> (s.durUs - covered)
    }.toMap
  }

  /** Total self time per layer, in milliseconds. */
  def selfMsByLayer(spans: Seq[Span]): Map[String, Double] = {
    val resolved = resolveParents(spans)
    val self = selfTimes(resolved)
    resolved.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1000.0 }
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
