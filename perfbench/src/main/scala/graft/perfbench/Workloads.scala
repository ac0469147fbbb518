package graft.perfbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Engine
import graft.index.VectorIndexes

/** The two SQL workloads. Both drive `graft.Engine.executeSql` only,
  * with SQL text and one generated DataFrame (the bulk-load source).
  *
  *  - knn_serve: read-only. 20,000 rows, both indexes, then a seeded
  *    mix of HNSW KNN, IVFFlat KNN and a filtered KNN that the index
  *    rule leaves on the brute-force path: `seconds / 2` whole blocks.
  *  - ingest: the same table, then a fixed schedule of
  *    single-row INSERTs, each followed by KNN for the inserted vector
  *    under HNSW, IVFFlat and the filtered brute-force path.
  */
final class Workloads(spark: SparkSession, cfg: Config, client: Client,
    sessionStartSec: Double) {

  import Workloads._

  private val seed = cfg.seed
  private val tracer = client.tracer
  private val engine = new Engine(spark)

  /** per-shape client latencies (ms) */
  private val lat = LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Whether statements are samples. Set-up steps (but knn_serve's
    * bulk loads) and ingest's warm-up round are run and checked, but
    * they are not samples, and a traced run traces samples only. */
  private var measuring = true
  private def measure(on: Boolean): Unit = { measuring = on; client.tracing(tracer.active && on) }
  private def sample(shape: String, ms: Double): Unit =
    if (measuring) lat.getOrElseUpdate(shape, ArrayBuffer.empty) += ms
  private val recall = LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** ingest's HNSW lookups of an inserted row, and those that did not
    * return it at rank 1. HNSW is approximate, so a miss is a recall
    * loss (it shows in `recall_hnsw`), not a wrong answer. */
  private var hnswLookups = 0
  private val hnswMissed = ArrayBuffer.empty[String]
  /** per-layer values (traced run only) */
  private val layer = LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private def note(k: String, v: Double) = layer.getOrElseUpdate(k, ArrayBuffer.empty) += v
  private var setupSec = Double.NaN
  /** task GC time of all traced statements: a per-statement median is
    * 0 for most shapes */
  private var gcMs = 0L

  // ---- set-up ---------------------------------------------------------------

  private var ids: Array[Long] = Array.empty
  private var vecs: Array[Array[Double]] = Array.empty
  private var bulkLoadMs: Seq[Double] = Nil

  /** Re-create `table` and bulk-load it from a generated DataFrame with
    * `CREATE TABLE` + `INSERT ... SELECT`; returns seconds. A load of
    * `items` is one statement of the `insert` shape: on knn_serve, which
    * has no single-row INSERTs, the loads are its INSERT samples. */
  private def load(table: String, rows: Int, corpusSeed: Long): Double = {
    def body(stmt: Long): Answer = {
      import spark.implicits._
      spark.range(rows.toLong).as[Long]
        .mapPartitions(_.map(id => (Gen.vec(corpusSeed, id).toSeq, id)))
        .toDF("v", "id").createOrReplaceTempView(s"gen_$table")
      tracer.span("executeSql(CREATE)", "engine", stmt)(
        engine.executeSql(s"CREATE TABLE $table(v VECTOR(${Gen.Dim}), id bigint)").collect())
      insert(stmt, s"INSERT INTO $table SELECT v, id FROM gen_$table")
    }
    def check(a: Answer) = if (a.ids != Seq(rows.toLong)) Some(s"bulk load inserted ${a.ids.head} of $rows rows") else None
    if (table != Items) client.direct {
      val t0 = System.nanoTime()
      check(body(0)).foreach(m => throw new IllegalStateException(m))
      (System.nanoTime() - t0) / 1e9
    } else {
      val d = client.run(Insert)(body)(check)
        .getOrElse(throw new IllegalStateException(s"bulk load of $table failed"))
      sample(Insert, d.ms)
      if (tracer.on) traceInsert(d.stmt, d.value)
      d.ms / 1000
    }
  }

  /** One INSERT statement, collected; its answer is the inserted row count. */
  private def insert(stmt: Long, sql: String): Answer = {
    val t0 = System.nanoTime()
    val df = tracer.span("executeSql", "engine", stmt)(engine.executeSql(sql))
    val t1 = System.nanoTime()
    val n = tracer.span("collect", "engine", stmt)(df.collect().head.getLong(0))
    Answer(df, Seq(n), (t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
  }

  /** Both `CREATE INDEX` statements on `table`; (method, seconds). */
  private def buildIndexes(table: String): Seq[(String, Double)] = Seq(
    Ivf -> s"CREATE INDEX ${table}_ivf ON $table USING ivfflat (v vector_l2_ops) WITH (lists = $Lists, probe_lists = $ProbeLists)",
    Hnsw -> s"CREATE INDEX ${table}_hnsw ON $table USING hnsw (v vector_l2_ops) WITH (m = $M, ef_construction = $EfConstruction, ef_search = $EfSearch)")
    .map { case (m, ddl) =>
      m -> client.direct {
        val t0 = System.nanoTime(); engine.executeSql(ddl).collect(); (System.nanoTime() - t0) / 1e9
      }
    }

  /** Set-up:
    *  1. a small `warm_items` table, bulk-loaded, with both indexes (and,
    *     for ingest, `WarmInserts` single-row INSERTs), so the load,
    *     index-build and INSERT code is compiled before it is measured;
    *  2. `SetupReps` bulk loads of `items` (on knn_serve, its INSERT
    *     samples);
    *  3. both indexes on `items`;
    *  4. `WarmUpBlocks` untimed blocks of KNN statements on `items`.
    * Set-up time is the session start (measured by the caller), the
    * median load and the index builds. */
  private def setup(rows: Int, inserts: Boolean): Unit = {
    measure(false)
    val wseed = seed ^ 0x5EEDL
    load(WarmTable, WarmRows, wseed)
    buildIndexes(WarmTable)
    if (inserts) (0 until WarmInserts).foreach { i =>
      val id = WarmRows.toLong + i
      client.direct(engine.executeSql(
        s"INSERT INTO $WarmTable VALUES (${Gen.sqlArray(Gen.vec(wseed, id))}, $id)").collect())
    }
    ids = Array.tabulate(rows)(_.toLong)
    vecs = ids.map(Gen.vec(seed, _))
    measure(!inserts)
    val loads = (1 to SetupReps).map(_ => load(Items, rows, seed))
    bulkLoadMs = loads.map(_ * 1000)
    measure(false)
    val builds = buildIndexes(Items)
    builds.foreach { case (m, sec) => note(s"index.${m}_build_s", sec) }
    setupSec = sessionStartSec + Stats.median(loads) + builds.map(_._2).sum
    if (tracer.active) note("index.ivfflat_plan_nodes", ivfPlanNodes())
    (0 until WarmUpBlocks * WarmUpShapes.length).foreach { i =>
      val shape = WarmUpShapes(i % WarmUpShapes.length)
      client.direct {
        engine.executeSql(s"SET vector_index_method = ${methodOf(shape)}")
        engine.executeSql(knnSql(Items, Gen.query(wseed, rows, i),
          if (shape == Filtered) Some(i % 10) else None)).collect()
      }
    }
    measure(true)
  }

  // ---- statements -----------------------------------------------------------

  private def knnSql(table: String, q: Array[Double], residue: Option[Int]): String =
    s"SELECT id FROM $table" + residue.fold("")(r => s" WHERE id % 10 = $r") +
      s" ORDER BY v <-> ${Gen.sqlArray(q)} LIMIT $K"

  /** One KNN statement: `SET vector_index_method` (indexed shapes) then
    * the SELECT, collected. Returns the ids in rank order. */
  private def knn(shape: String, q: Array[Double], residue: Option[Int],
      check: Seq[Long] => Option[String]): Option[Seq[Long]] = {
    val sql = knnSql(Items, q, residue)
    val done = client.run(shape) { stmt =>
      tracer.span("executeSql(SET)", "engine", stmt)(engine.executeSql(s"SET vector_index_method = ${methodOf(shape)}"))
      val t0 = System.nanoTime()
      val df = tracer.span("executeSql", "engine", stmt)(engine.executeSql(sql))
      val t1 = System.nanoTime()
      val rows = tracer.span("collect", "engine", stmt)(df.collect())
      Answer(df, rows.map(_.getLong(0)).toSeq, (t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
    }(a => if (a.ids.length != K) Some(s"${a.ids.length} rows, want $K") else check(a.ids))
    done.map { d =>
      sample(shape, d.ms)
      if (tracer.on) traceKnn(shape, d.stmt, d.value, sql, q)
      d.value.ids
    }
  }

  private def traceKnn(shape: String, stmt: Long, a: Answer, sql: String, q: Array[Double]): Unit = {
    note(s"engine.statement_ms.$shape", a.statementMs)
    note(s"engine.collect_ms.$shape", a.collectMs)
    val qe = a.df.queryExecution
    phases(shape, stmt, qe)
    note(s"rule.rewrite_ratio.$shape",
      if (qe.optimizedPlan.toString.contains("__graft_knn_id")) 1.0 else 0.0)
    client.counters.foreach(c => noteJobs(shape, c.of(stmt)))
    client.direct {
      val t0 = System.nanoTime()
      tracer.span("rewriteExprs", "engine", stmt)(engine.rewriteExprs(sql))
      note("engine.rewrite_ms", (System.nanoTime() - t0) / 1e6)
      probe(shape, stmt, q)
    }
  }

  /** Direct index probe on the statement's query vector. */
  private def probe(shape: String, stmt: Long, q: Array[Double]): Unit = shape match {
    case Hnsw => VectorIndexes.get(s"${Items}_hnsw").map(_.model).foreach {
      case VectorIndexes.HnswModel(idx, _) =>
        val t0 = System.nanoTime()
        tracer.span("HnswIndex.scanFull", "index", stmt)(idx.scanFull(q, K))
        note("index.hnsw_probe_ms", (System.nanoTime() - t0) / 1e6)
      case _ => ()
    }
    case Ivf => VectorIndexes.get(s"${Items}_ivf").map(_.model).foreach {
      case VectorIndexes.IvfModel(m, _) =>
        val t0 = System.nanoTime()
        tracer.span("IvfFlatModel.scan", "index", stmt)(m.scan(q.toSeq, K).collect())
        note("index.ivfflat_probe_ms", (System.nanoTime() - t0) / 1e6)
      case _ => ()
    }
    case _ => ()
  }

  private def phases(shape: String, stmt: Long,
      qe: org.apache.spark.sql.execution.QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      note(s"plan.${phase}_ms.$shape", (p.endTimeMs - p.startTimeMs).toDouble)
      tracer.add(phase, "plan", stmt, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
    }

  private def noteJobs(shape: String, c: JobCounters): Unit = {
    note(s"spark.jobs.$shape", c.jobs.toDouble)
    note(s"spark.stages.$shape", c.stages.toDouble)
    note(s"spark.tasks.$shape", c.tasks.toDouble)
    note(s"spark.executor_cpu_ms.$shape", c.cpuNs / 1e6)
    note(s"spark.shuffle_read_bytes.$shape", c.shuffleRead.toDouble)
    note(s"spark.shuffle_write_bytes.$shape", c.shuffleWrite.toDouble)
    note(s"spark.spill_bytes.$shape", c.spill.toDouble)
    gcMs += c.gcMs
  }

  // ---- knn_serve ------------------------------------------------------------

  def knnServe(): Unit = {
    setup(ServeRows, inserts = false)
    val total = serveStatements(cfg.seconds)
    var i = 0L
    while (i < total && !client.ledger.aborted) {
      val shape = serveSchedule(seed, i)
      // a fresh query per statement: recall over a few queries drawn
      // from a small pool moved by 0.3 between seeds, as the rare query
      // HNSW answers badly could be drawn several times
      val q = Gen.query(seed, ServeRows, i.toInt)
      val residue = if (shape == Filtered) Some(Gen.below(seed, 7L, i, 10)) else None
      val t = Gen.exactTopK(q, ids, vecs, K, residue.fold((_: Long) => true)(x => (id: Long) => id % 10 == x))
      knn(shape, q, residue, got =>
        if (shape == Filtered && got.toSet != t.toSet) Some(s"filtered top-$K differs from exact") else None)
        .foreach(got => if (shape != Filtered) recall.getOrElseUpdate(shape, ArrayBuffer.empty) +=
          Stats.recallAtK(got, t))
      i += 1
    }
    if (client.ledger.aborted) client.ledger.skipped(total - i)
  }

  // ---- ingest ---------------------------------------------------------------

  def ingest(): Unit = {
    setup(IngestRows, inserts = true)
    val extraIds = ArrayBuffer.empty[Long]
    val extraVecs = ArrayBuffer.empty[Array[Double]]
    // round 0 warms up: the first INSERT into the indexed table pays a
    // one-time cost that left the median of the measured INSERTs
    // depending on which one was the middle; its statements still run
    // and are checked
    var r = 0
    while (r <= IngestRounds && !client.ledger.aborted) {
      measure(r > 0)
      val id = IngestRows.toLong + r
      val v = Gen.vec(seed, id)
      val ins = client.run(Insert)(insert(_, s"INSERT INTO $Items VALUES (${Gen.sqlArray(v)}, $id)"))(
        a => if (a.ids != Seq(1L)) Some(s"inserted ${a.ids.head} rows, want 1") else None)
      ins.foreach { d =>
        sample(Insert, d.ms)
        if (tracer.on) traceInsert(d.stmt, d.value)
      }
      if (tracer.active) note("index.ivfflat_plan_nodes", ivfPlanNodes())
      extraIds += id; extraVecs += v
      val allIds = ids ++ extraIds
      val allVecs = vecs ++ extraVecs
      // (shape, query, the inserted row it must find): the new row under
      // each shape; the previous inserted row again under the cheap
      // shapes (an INSERT must not hide earlier ones); seeded corpus
      // queries under the cheap shapes
      val lookups: Seq[(String, Array[Double], Option[Long])] =
        Seq(Hnsw, Ivf, Filtered).map(s => (s, v, Some(id))) ++
          extraIds.zip(extraVecs).init.lastOption.toSeq.flatMap { case (pid, pv) =>
            Seq((Hnsw, pv, Some(pid)), (Filtered, pv, Some(pid)))
          } ++
          (0 until IngestQueries).flatMap { j =>
            val q = Gen.query(seed, IngestRows, r * IngestQueries + j)
            Seq((Hnsw, q, None), (Filtered, q, None))
          }
      lookups.zipWithIndex.foreach { case ((shape, q, rid), j) =>
        val residue = if (shape != Filtered) None
          else Some(rid.fold(Gen.below(seed, 9L, r * 16L + j, 10))(x => (x % 10).toInt))
        val t = Gen.exactTopK(q, allIds, allVecs, K,
          residue.fold((_: Long) => true)(x => (i: Long) => i % 10 == x))
        knn(shape, q, residue, got =>
          if (shape != Hnsw && rid.exists(_ != got.head)) Some(s"inserted row ${rid.get} ${rankOf(got, rid.get)}, want rank 1")
          else if (shape == Filtered && got.toSet != t.toSet) Some(s"filtered top-$K differs from exact")
          else None)
          .foreach { got =>
            if (shape == Hnsw) rid.foreach { x =>
              hnswLookups += 1
              if (got.head != x) hnswMissed += s"$x ${rankOf(got, x)}"
            }
            // recall here is that of the inserted rows' lookups: a corpus
            // query HNSW answers badly (about 1 in 200) would move it more
            // than a lost row does
            if (shape != Filtered && rid.nonEmpty) recall.getOrElseUpdate(shape, ArrayBuffer.empty) += Stats.recallAtK(got, t)
          }
      }
      r += 1
    }
    // statements the remaining rounds would have run: the INSERT, three
    // lookups of the new row, two of the previous one, and the queries
    if (client.ledger.aborted) client.ledger.skipped(
      (r to IngestRounds).map(i => 4L + (if (i == 0) 0 else 2) + 2 * IngestQueries).sum)
  }

  private def rankOf(got: Seq[Long], id: Long): String =
    if (got.contains(id)) s"at rank ${got.indexOf(id) + 1}" else "not returned"

  private def traceInsert(stmt: Long, a: Answer): Unit = {
    note(s"engine.statement_ms.$Insert", a.statementMs)
    note(s"engine.collect_ms.$Insert", a.collectMs)
    client.counters.foreach { c =>
      val jc = c.of(stmt)
      noteJobs(Insert, jc)
      note("engine.insert_jobs", jc.jobs.toDouble)
      note("cache.bytes_per_insert", jc.blockBytes.toDouble)
    }
  }

  private def ivfPlanNodes(): Double = VectorIndexes.get(s"${Items}_ivf").map(_.model) match {
    case Some(VectorIndexes.IvfModel(m, _)) =>
      var n = 0L
      m.buckets.queryExecution.logical.foreach(_ => n += 1)
      n.toDouble
    case _ => 0.0
  }

  // ---- results --------------------------------------------------------------

  /** End-to-end values by name (all but the heap, which the caller
    * reads last). */
  def endToEnd(): Map[String, Double] = {
    def p50(s: String) = lat.get(s).filter(_.nonEmpty).map(v => Stats.median(v.toSeq)).getOrElse(Double.NaN)
    val knnAll = Seq(Hnsw, Ivf, Filtered).flatMap(s => lat.getOrElse(s, Nil))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else xs.sum / xs.length
    Map(
      "setup_s" -> setupSec,
      "knn_hnsw_p50_ms" -> p50(Hnsw),
      "knn_ivfflat_p50_ms" -> p50(Ivf),
      "knn_filtered_p50_ms" -> p50(Filtered),
      "knn_tail_ms" -> (if (knnAll.isEmpty) Double.NaN else Stats.tail(knnAll)._2),
      "recall_hnsw" -> mean(recall.getOrElse(Hnsw, Nil).toSeq),
      "recall_ivfflat" -> mean(recall.getOrElse(Ivf, Nil).toSeq))
  }

  /** Every statement latency and set-up step, for the stderr summary. */
  def summary: String = {
    def ms(xs: Iterable[Double]) = xs.map(x => f"$x%.0f").mkString("[", ",", "]")
    lat.map { case (k, v) => s"$k=${ms(v)}" }.mkString(" ") + s" loads_ms=${ms(bulkLoadMs)}" +
      Seq("ivfflat", "hnsw").flatMap(m => layer.get(s"index.${m}_build_s").map(v => s" ${m}_build_ms=${ms(v.map(_ * 1000))}")).mkString +
      layer.get("index.ivfflat_plan_nodes").fold("")(v => v.map(_.toLong).mkString(" ivfflat_plan_nodes=[", ",", "]")) +
      (if (hnswLookups == 0) "" else s" hnsw_inserted_missed=${hnswMissed.length}/$hnswLookups" +
        hnswMissed.mkString(" [", "; ", "]"))
  }

  /** Per-layer values of a traced run: medians of what the traced
    * statements recorded (the mean for Catalyst phases, which Spark
    * reports in whole milliseconds; the last value for the plan size,
    * which only grows), self time per traced statement per span layer,
    * and the traced run's own median latency per shape. For a KNN shape,
    * that latency minus the untraced run's `knn_<shape>_p50_ms` at the
    * same seed is the tracing overhead. */
  def perLayer(selfMsByLayer: Map[String, Double]): Map[String, Double] = {
    val values = layer.map { case (k, v) =>
      k -> (if (k == "index.ivfflat_plan_nodes") v.last
        else if (k.startsWith("plan.")) v.sum / v.length
        else Stats.median(v.toSeq))
    }.toMap
    val tracedStmts = lat.values.map(_.length).sum
    val self = selfMsByLayer.map { case (l, ms) => s"trace.self_ms.$l" -> ms / math.max(1, tracedStmts) }
    val p50 = lat.collect { case (s, v) if v.nonEmpty => s"trace.p50_ms.$s" -> Stats.median(v.toSeq) }
    values ++ self ++ p50 + ("spark.gc_ms" -> gcMs.toDouble)
  }
}

object Workloads {
  /** a statement's result frame, answer ids and engine call times */
  final case class Answer(df: DataFrame, ids: Seq[Long], statementMs: Double, collectMs: Double)

  val K = 10
  /** Per-statement limit, in seconds: a 30 s statement is a hang or a
    * new superlinear path (README.md gives the healthy latencies). */
  val StatementLimitS = 30.0
  val ServeRows = 20000
  val IngestRows = 20000
  /** measured ingest rounds, after one warm-up round */
  val IngestRounds = 2
  /** seeded corpus queries per ingest round, each under HNSW and filtered */
  val IngestQueries = 2
  val SetupReps = 3
  val WarmTable = "warm_items"
  val WarmRows = 2000
  val WarmInserts = 3
  val WarmUpBlocks = 2
  val Lists = 100
  val ProbeLists = 8
  val M = 8
  val EfConstruction = 64
  val EfSearch = 40

  val Items = "items"
  val Hnsw = "hnsw"
  val Ivf = "ivfflat"
  val Filtered = "filtered"
  val Insert = "insert"

  /** `vector_index_method` per shape. The filtered shape names an index
    * too: the rule itself must keep it on the brute-force path. */
  def methodOf(shape: String): String = if (shape == Filtered) Hnsw else shape

  /** One block of knn_serve. IVFFlat, the slowest shape, is half of the
    * statements, so the pooled p75 that `knn_tail_ms` reads is the middle
    * of the IVFFlat latencies. With a smaller IVFFlat share it falls on
    * the edge between two shapes, or among the few IVFFlat queries that
    * probe small lists, and moves with one statement. */
  val BlockShapes: Seq[String] = Seq(Hnsw, Ivf, Ivf, Filtered)
  val WarmUpShapes: Seq[String] = Seq(Hnsw, Ivf, Filtered)

  /** Statements of a knn_serve run: one whole block per two seconds of
    * `--seconds` (a block takes about 2 s on 4 cores). A fixed count,
    * not a clock deadline, so the sample count, the shape mix and the
    * percentile `knn_tail_ms` reads do not depend on how fast the
    * statements run. */
  def serveStatements(seconds: Int): Long = math.max(1, seconds / 2).toLong * BlockShapes.length

  /** Statement `i` of knn_serve: consecutive blocks, each in seeded
    * order, so every prefix of the run holds an even mix. */
  def serveSchedule(seed: Long, i: Long): String = {
    val n = BlockShapes.length
    Gen.shuffle(seed, 8L + i / n, BlockShapes)((i % n).toInt)
  }
}
