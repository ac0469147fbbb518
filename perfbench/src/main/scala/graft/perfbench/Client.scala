package graft.perfbench

import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import org.apache.spark.sql.SparkSession

/** The single closed-loop client. Each statement runs on the client
  * thread under its own Spark job group (`stmt-<id>`), waited for up to
  * the per-statement limit. An overrun cancels the job group, fails the
  * statement and aborts the run (see [[Ledger]]). */
final class Client(spark: SparkSession, limitSec: Double, val tracer: Tracer,
    val counters: Option[Counters], val ledger: Ledger) {
  private val pool = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
  }
  private var nextStmt = 0L

  /** Run `body(stmtId)`; None when it failed or the run is aborted.
    * `check` returns an error message for a wrong answer. */
  def run[T](shape: String)(body: Long => T)(check: T => Option[String] = (_: T) => None)
      : Option[Client.Done[T]] = {
    if (ledger.aborted) { ledger.skipped(1); return None }
    nextStmt += 1
    val id = nextStmt
    val group = s"stmt-$id"
    counters.foreach(_.current = id)
    val fut = pool.submit { () =>
      spark.sparkContext.setJobGroup(group, shape, interruptOnCancel = true)
      try {
        val t0 = System.nanoTime()
        val v = tracer.span(shape, "bench", id)(body(id))
        (v, (System.nanoTime() - t0) / 1e6)
      } finally spark.sparkContext.clearJobGroup()
    }
    val out =
      try {
        val (v, ms) = fut.get((limitSec * 1000).toLong, TimeUnit.MILLISECONDS)
        check(v) match {
          case Some(msg) => ledger.wrongAnswer(s"$shape #$id: $msg"); None
          case None => ledger.ok(); Some(Client.Done(id, ms, v))
        }
      } catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelJobGroup(group)
          ledger.overrun(s"$shape #$id: over the ${limitSec}s statement limit")
          try fut.get(10, TimeUnit.SECONDS) catch { case _: Throwable => () }
          None
        case e: java.util.concurrent.ExecutionException =>
          val c = Option(e.getCause).getOrElse(e)
          ledger.error(s"$shape #$id: ${c.getClass.getSimpleName}: ${String.valueOf(c.getMessage).take(200)}")
          None
      }
    if (tracer.on) drain()
    out
  }

  private def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  /** Switch span recording and the counting listener on or off between
    * statements (no-op in an untraced run). */
  def tracing(on: Boolean): Unit = if (tracer.active && tracer.on != on) {
    counters.foreach { c =>
      if (on) spark.sparkContext.addSparkListener(c)
      else { drain(); spark.sparkContext.removeSparkListener(c) }
    }
    tracer.on = on
  }

  /** Run `f` on the client thread outside any statement (set-up steps
    * and direct layer probes). */
  def direct[T](f: => T): T =
    try pool.submit(() => f).get()
    catch { case e: java.util.concurrent.ExecutionException => throw Option(e.getCause).getOrElse(e) }

  def shutdown(): Unit = pool.shutdownNow()
}

object Client {
  /** Result of one statement: its id, wall milliseconds and value. */
  final case class Done[T](stmt: Long, ms: Double, value: T)
}
