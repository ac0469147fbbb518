package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Command-line settings (see `perfbench/run.py`, which supplies them). */
final case class Config(workload: String = "", seed: Long = 0L, seconds: Int = 10,
    trace: Boolean = false, out: Path = Paths.get(".bench_build/perfbench"))

object Config {
  def parse(args: Array[String]): Config = args.grouped(2).foldLeft(Config()) {
    case (c, Array("--workload", v)) => c.copy(workload = v)
    case (c, Array("--seed", v)) => c.copy(seed = v.toLong)
    case (c, Array("--seconds", v)) => c.copy(seconds = v.toInt)
    case (c, Array("--trace", v)) => c.copy(trace = v == "1")
    case (c, Array("--out", v)) => c.copy(out = Paths.get(v))
    case (_, other) => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }
}

/** Benchmark entry point: one workload, one seed, one JSON result line
  * (the last line of stdout). */
object Main {

  val WorkloadNames = Seq("knn_serve", "ingest")

  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    require(WorkloadNames.contains(cfg.workload),
      s"unknown workload '${cfg.workload}' (have ${WorkloadNames.mkString(", ")})")
    val spark = session(cfg)
    val code =
      try { println(run(spark, cfg)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.out.flush()
    // a statement cancelled at the limit may still hold a thread of
    // the Spark context; never wait on it
    val stopper = new Thread(() => spark.stop()); stopper.setDaemon(true); stopper.start()
    stopper.join(20000)
    Runtime.getRuntime.halt(code)
  }

  def session(cfg: Config): SparkSession = {
    // one core fewer than the host has: the client thread plans each
    // statement, walks the HNSW graph and builds the indexes on the
    // driver, and with every core running tasks it waited for one (on 4
    // cores, local[3] read ingest's IVFFlat KNN 15 % faster and steadier)
    val cpus = math.max(1, Runtime.getRuntime.availableProcessors - 1)
    val local = cfg.out.resolve("spark").toAbsolutePath
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.resolve("local").toString)
      .config("spark.sql.warehouse.dir", local.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def run(spark: SparkSession, cfg: Config): String = {
    val sessionStartSec =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val tracer = new Tracer(cfg.trace)
    val counters = if (cfg.trace) Some(new Counters(tracer)) else None
    val ledger = new Ledger
    val client = new Client(spark, Workloads.StatementLimitS, tracer, counters, ledger)
    val w = new Workloads(spark, cfg, client, sessionStartSec)
    cfg.workload match {
      case "knn_serve" => w.knnServe()
      case "ingest" => w.ingest()
    }
    client.tracing(false)
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val heapMb = retainedHeapMb()
    client.shutdown()
    val metrics: Seq[(String, Double, String)] =
      if (!cfg.trace) {
        val values = w.endToEnd() + ("heap_retained_mb" -> heapMb)
        EndToEnd.Metrics.map { case (n, u) => (n, values(n), u) }
      } else {
        val values = w.perLayer(Tracer.selfMsByLayer(tracer.all)) +
          ("cache.persisted_rdds" -> persisted.toDouble)
        tracer.writeJson(cfg.out.resolve(s"spans-${cfg.workload}-${cfg.seed}.json"))
        PerLayer.Metrics.map { case (n, u) => (n, values.getOrElse(n, Double.NaN), u) }
      }
    System.err.println(s"perfbench: ${cfg.workload} seed=${cfg.seed} ${w.summary} " +
      s"attempted=${ledger.attempted} failed=${ledger.failed} failed_frac=${ledger.failedFrac}" +
      ledger.messages.map("\n  " + _).mkString)
    result(ledger, metrics)
  }

  def result(ledger: Ledger, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${ledger.wrong == 0}, "attempted": ${math.max(1L, ledger.attempted)}, """ +
      s""""failed": ${ledger.failed}, "metrics": {$ms}}"""
  }

  /** Live heap in MB: the least heap in use after each of four full
    * collections (Spark's cleaner frees broadcast and shuffle state
    * asynchronously after the first ones). */
  def retainedHeapMb(): Double = (1 to 4).map { _ =>
    System.gc(); Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min
}
