package graft.perfbench

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._

/** Spark runtime counters of one statement (one job group). */
final case class JobCounters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    cpuNs: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0,
    spill: Long = 0, gcMs: Long = 0, blockBytes: Long = 0)

/** Benchmark-owned listener. Jobs are attributed to the statement whose
  * job group (`stmt-<id>`) was set when they were submitted; block
  * stores carry no job group and go to the statement the client thread
  * marked as current. Job wall times become `spark.job` spans. */
final class Counters(tracer: Tracer) extends SparkListener {
  private val byStmt = TrieMap.empty[Long, JobCounters]
  private val stageStmt = TrieMap.empty[Int, Long]
  private val jobStart = TrieMap.empty[Int, (Long, Long)] // job -> (stmt, start ms)
  @volatile var current: Long = 0L

  private def bump(stmt: Long)(f: JobCounters => JobCounters): Unit =
    byStmt.synchronized { byStmt.put(stmt, f(byStmt.getOrElse(stmt, JobCounters()))) }

  private def stmtOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("stmt-")).map(_.stripPrefix("stmt-").toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val stmt = stmtOf(e.properties)
    e.stageIds.foreach(stageStmt.put(_, stmt))
    jobStart.put(e.jobId, (stmt, e.time))
    bump(stmt)(c => c.copy(jobs = c.jobs + 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (stmt, start) =>
      tracer.add(s"job ${e.jobId}", "spark.job", stmt, start * 1000L, e.time * 1000L)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val stmt = stageStmt.getOrElse(e.stageInfo.stageId, stmtOf(e.properties))
    bump(stmt)(c => c.copy(stages = c.stages + 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val stmt = stageStmt.getOrElse(e.stageId, 0L)
    val m = e.taskMetrics
    bump(stmt) { c =>
      if (m == null) c.copy(tasks = c.tasks + 1)
      else c.copy(tasks = c.tasks + 1,
        cpuNs = c.cpuNs + m.executorCpuTime,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        gcMs = c.gcMs + m.jvmGCTime)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.storageLevel.isValid) {
      val stmt = current
      bump(stmt)(c => c.copy(blockBytes = c.blockBytes + b.memSize + b.diskSize))
    }
  }

  def of(stmt: Long): JobCounters = byStmt.getOrElse(stmt, JobCounters())
}
