package graft

import scala.collection.concurrent.TrieMap
import scala.util.matching.Regex

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CachedRows, DistanceMetric}
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions
import graft.index.VectorIndexes

/** The reference's user-facing surface (`BustubInstance::ExecuteSql`,
  * reference src/common/bustub_instance.cpp:234-325) on Spark: a user
  * of bustub-vectordb can run their SQL verbatim.
  *
  * Supported statements (everything the reference's test corpus uses):
  *  - `CREATE TABLE t(v VECTOR(3), x integer, ...)` — binder semantics
  *    from src/binder/bind_create.cpp:76-103; VECTOR(n) requires an
  *    explicit dim (:93), enforced again on every insert (:90-97).
  *  - `INSERT INTO t VALUES (ARRAY [..], ..), ..` / `INSERT INTO t
  *    SELECT ..` — returns the reference's single-row insert count
  *    (insert_executor.cpp:28-52) AND maintains vector indexes, the
  *    declared behavior the reference itself skips (the
  *    `vector.04/05.slt` insert-after-index contract; comment at
  *    insert_executor.cpp:45).
  *  - `CREATE INDEX name ON t USING ivfflat|hnsw (col opclass) WITH
  *    (k = v, ...)` — bustub_ddl.cpp:88-152; opclass→metric per
  *    catalog.h:305-313. Scalar index methods (hash, bplustree,
  *    stl_*) are accepted and recorded as no-ops: Catalyst's
  *    pruning/pushdown replaces them.
  *  - `set x = y` / `show x` — bustub_ddl.cpp:196-215; the meaningful
  *    variable is vector_index_method (optimizer.cpp:26).
  *  - `EXPLAIN [(opts)] stmt` — returns Spark's plan string.
  *  - `DELETE FROM t [WHERE ..]` / `UPDATE t SET .. [WHERE ..]` — the
  *    reference declares these (plan_insert.cpp:42-79, executors are
  *    stubs); here they are anti-join / recompute-overwrite rewrites.
  *  - `SELECT ..` with `ARRAY [..]` literals and the distance
  *    operators `<->` (l2), `<=>` (cosine), `<#>` (inner product)
  *    (expression_factory.cpp:104-112) — rewritten to function calls
  *    and served by spark.sql with our Catalyst expressions; KNN
  *    queries go through VectorIndexScanRule when an index matches,
  *    and run as one VectorTopKExec over the table's cache.
  *
  * Tables live as named DataFrames (registered temp views), the Spark
  * analogue of the reference catalog's TableHeap entries. At scale a
  * table would be parquet-backed; `registerTable` accepts any
  * DataFrame, so both work. The aggregate that materializes a table's
  * cache also gives its size and max `__rid`, from which INSERT numbers.
  *
  * Vector indexes follow their table through one upkeep step that
  * `registerTable` runs after every swap (`syncIndexes`): per index it
  * builds, rebuilds after DELETE/UPDATE, or extends the index with the
  * rows inserted since, at a cost set by those rows alone. An IVFFlat
  * index keeps one membership, its posting lists: they serve KNN, take
  * the new rows, and give the bucket layout over the live table.
  */
final class Engine(val spark: SparkSession) {

  VectorFunctions.register(spark)
  VectorIndexes.enableRewrite(spark)
  // reference binder strictness: upper/lower reject non-string args
  // (p0.02-function-error.slt) — Spark would implicitly cast
  Seq("upper" -> true, "lower" -> false).foreach { case (name, up) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name,
      exprs => {
        require(exprs.length == 1, s"$name expects exactly 1 argument")
        org.apache.spark.sql.graft.StrictStringCase(exprs.head, up)
      },
      "built-in")
  }

  private val tables = TrieMap.empty[String, DataFrame]
  /** (row count, max `__rid` or -1) per table, from [[registerTable]] */
  private val sizes = TrieMap.empty[String, (Long, Long)]
  /** declared VECTOR dims per (table, column) — binder enforcement */
  private val vectorDims = TrieMap.empty[(String, String), Int]
  /** this engine's vector indexes by name (see [[Engine.IndexRecord]]) */
  private val indexes = TrieMap.empty[String, Engine.IndexRecord]

  /** Statement(s) in, one DataFrame out (DDL returns an empty or
    * count/message frame, like the reference's ResultWriter). Leading
    * `--` comment lines are stripped and `;`-separated compound input
    * executes each statement in order, returning the last result —
    * both appear in the reference's own SLT corpus (e.g.
    * p3.15-multi-way-hash-join.slt's `create ...; insert ...;`). */
  def executeSql(sqlRaw: String): DataFrame = {
    val stmts = splitStatements(sqlRaw).map(_.trim).filter(_.nonEmpty)
    require(stmts.nonEmpty, s"empty statement: $sqlRaw")
    stmts.map(s => plan(s, execute = true)).last
  }

  /** split on `;` outside single-quoted strings, dropping `--` line
    * comments along the way (a comment may contain quotes — p3.19) */
  private def splitStatements(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var inStr = false; var i = 0; val cur = new StringBuilder
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false; cur += c; i += 1 }
      else if (c == '\'') { inStr = true; cur += c; i += 1 }
      else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
        while (i < s.length && s.charAt(i) != '\n') i += 1 // skip comment
      }
      else if (c == ';') { out += cur.toString; cur.clear(); i += 1 }
      else { cur += c; i += 1 }
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq
  }

  /** `execute=false` (the EXPLAIN path) must be side-effect free: DML
    * returns its would-be plan, DDL a description — the reference's
    * EXPLAIN never runs the statement. */
  private def plan(sql: String, execute: Boolean): DataFrame = {
    val lower = sql.toLowerCase
    if (sql.startsWith("\\dt")) { // meta commands (bustub_instance:257-281)
      import spark.implicits._
      tables.keys.toSeq.sorted.toDF("table")
    }
    else if (sql.startsWith("\\di")) {
      import spark.implicits._
      VectorIndexes.list().map(m => (m.name, m.table, m.column, m.method))
        .sortBy(_._1).toDF("index", "table", "column", "method")
    }
    else if (sql.startsWith("\\d ")) { // describe one table
      import spark.implicits._
      val t = sql.stripPrefix("\\d").trim
      table(t).schema.filterNot(_.name == Engine.RowId)
        .map(f => (f.name, f.dataType.simpleString)).toSeq
        .toDF("column", "type")
    }
    else if (sql.startsWith("\\help")) { // bustub_instance.cpp:257-281
      import spark.implicits._
      Seq("\\dt: show all tables", "\\di: show all indices",
        "\\d <table>: describe one table", "\\help: show this message")
        .toDF("help")
    }
    else if (lower.startsWith("create table"))
      if (execute) createTable(sql) else message(s"ddl: $sql")
    else if (lower.startsWith("create index"))
      if (execute) createIndex(sql) else message(s"ddl: $sql")
    else if (lower.startsWith("insert into")) insert(sql, execute)
    else if (lower.startsWith("set ")) setVar(sql)
    else if (lower.startsWith("show ")) showVar(sql)
    else if (lower.startsWith("explain")) explain(sql)
    else if (lower.startsWith("delete from")) delete(sql, execute)
    else if (lower.startsWith("update ")) update(sql, execute)
    else spark.sql(rewriteExprs(sql))
  }

  def registerTable(name: String, df: DataFrame): Unit = {
    // Cache: queries then resolve to a stable InMemoryRelation leaf the
    // KNN rule can recognize (LocalRelation unions get constant-folded
    // by the optimizer, destroying plan identity).
    //
    // Invariant: every stored table carries Engine.RowId, assigned ONCE
    // when rows enter the engine and never re-derived — deletes keep
    // surviving ids, updates carry them through, inserts extend past
    // the live max, kept in `sizes` by the aggregate below. (A positional id
    // recomputed per maintenance pass would silently renumber rows if
    // partition order ever changed, and its global row_number window
    // funnels the table through one task.)
    //
    // Ordering matters for that invariant: the new cache MUST
    // materialize while the previous incarnation's cache is still
    // live. The new plan's lineage runs THROUGH the old table (insert
    // = old table unionAll new rows); unpersisting first would make
    // materialization recompute the old rows from raw lineage —
    // re-running every prior insert's monotonically_increasing_id and
    // potentially renumbering rows a nondeterministic INSERT...SELECT
    // source produced, invalidating index entries built from those ids.
    // And materialize-then-SWAP keeps failure atomic: if the aggregate
    // throws (ANSI cast error in an UPDATE expression, task failure),
    // the old entry is still registered and its cache intact — the
    // statement fails, the table doesn't disappear.
    val cached = withRowId(df).cache()
    val size = // materialize while the old cache is still live
      try cached.agg(count(lit(1)), coalesce(max(col(Engine.RowId)), lit(-1L))).first()
      catch { case e: Throwable => cached.unpersist(); throw e }
    tables.put(name, cached).foreach(_.unpersist())
    sizes.put(name, (size.getLong(0), size.getLong(1)))
    // the user-facing view hides the internal rid (SELECT * parity)
    cached.drop(Engine.RowId).createOrReplaceTempView(name)
    syncIndexes(name)
  }

  def table(name: String): DataFrame =
    tables.getOrElse(name, sys.error(s"unknown table $name"))

  /** Persist / reopen the vector-index registry (catalog metadata,
    * each index's saved layout, and this engine's CREATE INDEX
    * statements in `_ddl`) so an engine restart serves KNN from its
    * existing indexes instead of rebuilding. Load AFTER re-registering
    * tables: each loaded index with a statement is synced to its table
    * (rows and plan leaf); one without stays unmatched. Both rely on an
    * index's ids being its table's `__rid`, which the engine assigns
    * once and never renumbers: a reloaded index keeps serving the same
    * rows, and its max id is where new rows begin. */
  def saveIndexRegistry(root: String): Unit = {
    VectorIndexes.saveRegistry(spark, root)
    import spark.implicits._
    indexes.toSeq.map { case (name, r) => (name, r.ddl) }
      .toDF("name", "ddl").repartition(1).write.mode("overwrite")
      .parquet(s"$root/_ddl")
  }
  def loadIndexRegistry(root: String): Unit = {
    val ddl = spark.read.parquet(s"$root/_ddl").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val loaded = VectorIndexes.loadRegistry(spark, root)
    loaded.foreach { m =>
      ddl.get(m.name).foreach(sql =>
        indexes.put(m.name, Engine.IndexRecord(m.table, sql, Some(m))))
    }
    loaded.map(_.table).distinct.filter(tables.contains).foreach(syncIndexes)
  }

  // ---- statement handlers -------------------------------------------------

  private val createTableRe: Regex =
    """(?is)create\s+table\s+(\w+)\s*\((.*)\)""".r

  private val vecRe = """vector\s*\(\s*(\d+)\s*\)""".r
  private def createTable(sql: String): DataFrame = sql match {
    case createTableRe(name, colsStr) =>
      val fields = splitTopLevel(colsStr).map { colDef =>
        val parts = colDef.trim.split("\\s+", 2)
        val (cname, ctype) = (parts(0), parts(1).trim.toLowerCase)
        ctype match {
          case vecRe(dim) =>
            vectorDims.put((name, cname), dim.toInt)
            StructField(cname, ArrayType(DoubleType))
          case t if t.startsWith("bool")     => StructField(cname, BooleanType)
          case t if t.startsWith("tinyint")  => StructField(cname, ByteType)
          case t if t.startsWith("smallint") => StructField(cname, ShortType)
          case t if t.startsWith("int")      => StructField(cname, IntegerType)
          case t if t.startsWith("bigint")   => StructField(cname, LongType)
          // reference DECIMAL is a C double (decimal_type.cpp:25-33)
          case t if t.startsWith("decimal") || t.startsWith("double") =>
            StructField(cname, DoubleType)
          case t if t.startsWith("varchar") || t.startsWith("text") =>
            StructField(cname, StringType)
          case t if t.startsWith("timestamp") =>
            StructField(cname, TimestampType)
          case other => sys.error(s"unsupported column type $other")
        }
      }
      // re-creating a table name makes any index recorded for the old
      // incarnation meaningless — drop them (incl. another Engine's on
      // the shared session: the registry is name-global) so a stale
      // index can never serve queries against the new table
      VectorIndexes.list().filter(_.table == name)
        .foreach(m => VectorIndexes.drop(m.name))
      indexes.filterInPlace((_, r) => r.table != name)
      registerTable(name,
        spark.createDataFrame(new java.util.ArrayList[Row](),
          StructType(fields)))
      message(s"Table created: $name")
    case _ => sys.error(s"cannot parse CREATE TABLE: $sql")
  }

  private val createIndexRe: Regex =
    ("""(?is)create\s+index\s+(\w+)\s+on\s+(\w+)\s*(?:using\s+(\w+)\s*)?""" +
      """\(([^)]*)\)(?:\s+with\s*\((.*)\))?""").r

  private def parseIndexDdl(sql: String): Engine.IndexDdl = sql match {
    case createIndexRe(name, tbl, methodOrNull, colsRaw, optsOrNull) =>
      // bare `create index i on t(col)` = the reference's default
      // B+tree — a scalar method, recorded as a metadata no-op.
      // Multi-column lists (`on t1(x, y)`, leaderboard-q1) are scalar
      // by construction; a vector index takes one `col [opclass]`.
      val method = Option(methodOrNull).getOrElse("bplustree").toLowerCase
      val colSpecs = colsRaw.trim.split(",").map(_.trim.split("\\s+"))
      require(colSpecs.nonEmpty && colSpecs.head.head.nonEmpty,
        s"empty column list in CREATE INDEX: $sql")
      // a vector index takes exactly one `col [opclass]`; silently
      // ignoring extra columns would build the wrong index
      require(colSpecs.length == 1 || !Engine.VectorOptions.contains(method),
        s"vector index $name takes a single column, got: $colsRaw")
      val opts: Map[String, Int] = Option(optsOrNull).map {
        _.split(",").map { kv =>
          val Array(k, v) = kv.split("=").map(_.trim)
          k.toLowerCase -> v.toInt
        }.toMap
      }.getOrElse(Map.empty)
      Engine.VectorOptions.get(method).foreach(ks => require(
        ks.forall(opts.contains), s"$method requires ${ks.mkString(", ")}"))
      val opclass =
        if (colSpecs.length == 1 && colSpecs.head.length > 1)
          Some(colSpecs.head(1).toLowerCase)
        else None
      val metric = opclass match {
        case Some("vector_ip_ops")     => DistanceMetric.InnerProduct
        case Some("vector_cosine_ops") => DistanceMetric.Cosine
        case _                         => DistanceMetric.L2
      }
      Engine.IndexDdl(name, tbl, method, colSpecs.head.head, opts, metric)
    case _ => sys.error(s"cannot parse CREATE INDEX: $sql")
  }

  private def createIndex(sql: String): DataFrame = {
    val d = parseIndexDdl(sql)
    table(d.table) // the table must exist, whatever the method
    // scalar index methods: metadata-only no-op (SURVEY §2.5)
    if (!Engine.VectorOptions.contains(d.method))
      return message(s"Index created: ${d.name}")
    indexes.put(d.name, Engine.IndexRecord(d.table, sql))
    try syncIndex(d.name)
    catch { case e: Throwable => indexes.remove(d.name); throw e }
    if (indexes(d.name).built.isEmpty)
      message(s"Index created (build deferred until data): ${d.name}")
    else message(s"Index created: ${d.name}")
  }

  /** The one index-upkeep step, run by [[registerTable]] after every
    * table swap. */
  private def syncIndexes(tbl: String): Unit =
    indexes.keys.toSeq.sorted.filter(indexes(_).table == tbl)
      .foreach(syncIndex)

  /** Bring one index up to its live table (InsertVectorEntry,
    * vector_index.h:21: every vector index sees the new rows). Build,
    * INSERT and registry load all end here:
    *  - no model yet: build it from its DDL if the table has rows (the
    *    build covers every live row, so the two steps below add none
    *    and skip their collect);
    *  - HNSW: insert the live rows above the graph's max id;
    *  - IVFFlat: extend the posting lists, the index's one membership,
    *    with the live rows above their max id, assigned to the model's
    *    centroids (ivfflat_index.cpp:92-95) — one collect of the new
    *    rows' (bucket, id) pairs — and take as the model's buckets the
    *    lists' layout of the live table's cache: a plan of constant
    *    size that reads no source the table was built from.
    * Then point the entry at the table's plan leaf as the optimizer
    * rule sees it through the temp view (cache substitution included).
    * Index ids are the table's `__rid` (see VectorIndexes.Model). The
    * collects are bounded by one statement's rows; a bulk load at
    * Hnsw.driverBuildLimit scale must use Hnsw.buildPartitioned. */
  private def syncIndex(name: String): Unit = {
    val rec = indexes(name)
    val live = table(rec.table)
    val built = rec.built.orElse {
      if (sizes(rec.table)._1 == 0) None
      else {
        val d = parseIndexDdl(rec.ddl)
        if (d.method == "ivfflat")
          VectorIndexes.createIvfFlat(name, d.table, live, Engine.RowId,
            d.column, d.opts("lists"), d.opts("probe_lists"), d.metric)
        else
          VectorIndexes.createHnsw(name, d.table, live, Engine.RowId,
            d.column, d.opts("m"), d.opts("ef_construction"),
            d.opts("ef_search"), d.metric)
        VectorIndexes.get(name)
      }
    }
    // non-null rows above an index's max id, read from the live cache
    def rowsAbove(m: VectorIndexes.IndexMeta, id: Long) =
      CachedRows.of(live).filter(col(m.idCol) > id && col(m.column).isNotNull)
        .select(col(m.idCol), col(m.column).cast("array<double>"))
    val fresh = rec.built.isEmpty // built above from the live table
    val synced = built.map(m => m.model match {
      case VectorIndexes.HnswModel(idx, _) =>
        // max id, not idx.size (skipped NULL rows make size lag)
        if (!fresh) rowsAbove(m, idx.maxId).collect().foreach(r =>
          idx.insert(r.getLong(0), r.getSeq[Double](1).toArray))
        m
      case served @ VectorIndexes.IvfModel(ivf, idCol) =>
        val lists =
          if (fresh) served.lists
          else served.lists.add(
            ivf.assign(rowsAbove(m, served.lists.maxId)), idCol)
        m.copy(model = VectorIndexes.IvfModel(ivf.copy(buckets =
          lists.layout(CachedRows.of(live), idCol, m.column)), idCol)(lists))
    })
    indexes.put(name, rec.copy(built = synced))
    val leaves = spark.table(rec.table).queryExecution.optimizedPlan
      .collectLeaves()
    val leaf = if (leaves.length == 1) Some(leaves.head.canonicalized) else None
    synced match {
      case Some(m) => VectorIndexes.register(m.copy(leaf = leaf))
      case None => VectorIndexes.drop(name)
    }
  }

  /** DELETE/UPDATE: the sync after the swap rebuilds the table's
    * vector indexes from their DDL. */
  private def invalidateIndexes(tbl: String): Unit =
    indexes.mapValuesInPlace((_, r) =>
      if (r.table == tbl) r.copy(built = None) else r)

  private val insRe = """(?is)insert\s+into\s+(\w+)\s+(.*)""".r
  private def insert(sql: String, execute: Boolean = true): DataFrame = {
    val insRe(tbl, rest) = sql: @unchecked
    val target = table(tbl)
    val src =
      if (rest.trim.toLowerCase.startsWith("values"))
        spark.sql(s"SELECT * FROM (${rewriteExprs(rest.trim)})")
      else spark.sql(rewriteExprs(rest.trim)) // INSERT INTO t SELECT ...
    // schema must match exactly (plan_insert.cpp:31-37) modulo names;
    // vector dims re-checked like the binder (bind_create.cpp:90-97).
    // The internal row id is engine-assigned, never user-supplied.
    val userSchema = StructType(
      target.schema.filterNot(_.name == Engine.RowId))
    require(src.schema.length == userSchema.length,
      s"column count mismatch inserting into $tbl")
    val raw = src.toDF(userSchema.map(_.name): _*)
    val cast = userSchema.map(f => col(f.name).cast(f.dataType).as(f.name))
    if (!execute) return raw.select(cast: _*) // EXPLAIN: the would-be rows
    // One pass checks, numbers and caches the new rows. The binder REJECTS
    // type mismatches: a cast that nulls a non-null source value is one (no
    // NULLed vector slips past the dim rule). Ids are assigned ONCE, past
    // the max (a freed max id is reused only after the delete's index
    // rebuild, so no index ever sees a stale id).
    val badCast = userSchema.map(f =>
      col(f.name).isNotNull && col(f.name).cast(f.dataType).isNull).reduce(_ || _)
    val rows = raw.select(cast :+ badCast.as(Engine.BadCast) :+
      (lit(sizes(tbl)._2 + 1) + monotonically_increasing_id()).as(Engine.RowId): _*)
      .cache()
    val cnt = try countChecked(tbl, rows, count(lit(1)), Seq(max(col(Engine.BadCast)) ->
        s"type mismatch inserting into $tbl (value does not cast)"),
        userSchema.map(f => f.name -> col(f.name)))
      catch { case e: Throwable => rows.unpersist(); throw e }
    registerTable(tbl, target.unionAll(rows.drop(Engine.BadCast))) // indexes follow
    // registerTable cached the table (with the assigned ids) while
    // `rows`' cache was live: the table's own cache covers them now
    rows.unpersist()
    import spark.implicits._
    Seq(cnt).toDF(Engine.InsertRowsCol)
  }

  private val delRe = """(?is)delete\s+from\s+(\w+)(?:\s+where\s+(.*))?""".r
  private def delete(sql: String, execute: Boolean = true): DataFrame = {
    val delRe(tbl, whereOrNull) = sql: @unchecked
    val t = table(tbl)
    val cond = Option(whereOrNull).map(w => expr(rewriteExprs(w)))
      .getOrElse(lit(true))
    if (!execute) // EXPLAIN: plan only, no effect, rid hidden
      return t.filter(cond).drop(Engine.RowId)
    val before = sizes(tbl)._1
    // null-evaluating predicates keep the row (3-valued DELETE)
    invalidateIndexes(tbl)
    registerTable(tbl, t.filter(coalesce(!cond, lit(true))))
    import spark.implicits._
    Seq(before - sizes(tbl)._1).toDF(Engine.DeleteRowsCol)
  }

  private val updRe = """(?is)update\s+(\w+)\s+set\s+(.*?)(?:\s+where\s+(.*))?""".r
  private def update(sql: String, execute: Boolean): DataFrame = {
    val updRe(tbl, setStr, whereOrNull) = sql: @unchecked
    val t = table(tbl)
    val cond = Option(whereOrNull).map(w => expr(rewriteExprs(w)))
      .getOrElse(lit(true))
    val assignments = splitTopLevel(setStr).map { a =>
      val Array(k, v) = a.split("=", 2).map(_.trim)
      k -> expr(rewriteExprs(v))
    }.toMap
    val assigned = t.columns.toSeq.flatMap(c =>
      assignments.get(c).map(e => c -> when(cond, e).otherwise(col(c))))
    val updated = t.select(t.columns.map(c => assigned.toMap.getOrElse(c, col(c)).as(c)): _*)
    if (!execute) // EXPLAIN: plan only, no effect, rid hidden
      return updated.drop(Engine.RowId)
    val cnt = countChecked(tbl, t, count(when(cond, true)), Nil, assigned)
    invalidateIndexes(tbl)
    registerTable(tbl, updated)
    import spark.implicits._
    Seq(cnt).toDF(Engine.UpdateRowsCol)
  }

  /** SET/SHOW parity for reference session variables. Note
    * `force_optimizer_starter_rule` (reference optimizer.cpp:18-26):
    * accepted and echoed like any variable but deliberately a NO-OP —
    * there is no starter rule pipeline to force; Catalyst always plans
    * with its full rule set, which subsumes the reference's starter
    * rules (pushdown, join selection, TopN). */
  private def setVar(sql: String): DataFrame = {
    val Array(_, kv) = sql.split("\\s+", 2)
    val Array(k, v) = kv.split("=", 2).map(_.trim)
    spark.conf.set(s"graft.$k", v)
    message(s"set $k=$v")
  }

  private def showVar(sql: String): DataFrame = {
    val k = sql.split("\\s+", 2)(1).trim
    import spark.implicits._
    Seq(spark.conf.getOption(s"graft.$k").getOrElse(""))
      .toDF(k)
  }

  /** EXPLAIN (b|p|o|s) per the reference's stage options
    * (explain_statement.h): binder→analyzed, planner→sparkPlan,
    * optimizer→optimizedPlan, schema→output schema; no option = all. */
  private val optRe = """(?is)explain\s*\(([^)]*)\)\s*(.*)""".r
  private def explain(sql: String): DataFrame = {
    val (opts, body) = sql match {
      case optRe(o, b) => (o.toLowerCase, b)
      case _ => ("", sql.replaceFirst("(?is)explain\\s*", ""))
    }
    val qe = plan(body, execute = false).queryExecution
    val tokens = opts.split("[,\\s]+").map(_.trim).filter(_.nonEmpty).toSet
    val planStr =
      if (tokens.contains("b")) qe.analyzed.toString
      else if (tokens.contains("o")) qe.optimizedPlan.toString
      else if (tokens.contains("p")) qe.sparkPlan.toString
      else if (tokens.contains("s")) qe.analyzed.schema.treeString
      else qe.toString
    import spark.implicits._
    planStr.linesIterator.toSeq.toDF("plan")
  }

  // ---- expression rewriting ----------------------------------------------

  /** pg-isms → Spark SQL: `ARRAY [..]` → array(..) (with double
    * literals, matching the binder's all-DECIMAL array rule,
    * array_expression.h:27-58) and the distance operators
    * (expression_factory.cpp:104-112). */
  private[graft] def rewriteExprs(sql: String): String = {
    // Mask single-quoted literals first: every rewrite below is
    // syntax-directed and must never touch user DATA (e.g. a value
    // containing ", from" or "<->"). Placeholders use a control char
    // no rewrite pattern can match; SQL's '' escape tokenizes as two
    // adjacent literals and restores identically.
    val lits = scala.collection.mutable.ArrayBuffer.empty[String]
    var out = "'[^']*'".r.replaceAllIn(sql, m => {
      lits += m.matched
      "\u0001" + (lits.length - 1) + "\u0001"
    })
    // the reference's pg parser tolerates a trailing comma before FROM
    // (p3.16-sort-limit.slt:347); Spark rejects it — normalize
    out = out.replaceAll("(?i),\\s+(?=from\\b)", " ")
    // the reference binder scopes an anonymous `(SELECT * FROM t ...)`
    // derived table under its base table's name (p3.19:115 joins on
    // `result.dst` through one); Spark needs the alias spelled out
    out = out.replaceAll(
      "(?is)\\(\\s*(select\\s+\\*\\s+from\\s+(\\w+)\\b[^()]*)\\)" +
        "(\\s+(?:inner\\s+|left\\s+|right\\s+)?join\\b)",
      "($1) $2$3")
    // ARRAY [1.0, 2.0] -> array(CAST(1.0 AS DOUBLE), ...)
    val arrRe = """(?i)ARRAY\s*\[([^\]]*)\]""".r
    out = arrRe.replaceAllIn(out, m =>
      Regex.quoteReplacement(
        "array(" + m.group(1).split(",")
          .map(x => s"CAST(${x.trim} AS DOUBLE)").mkString(", ") + ")"))
    // distance operators, loosest first (<#> before <> would not clash)
    out = Engine.rewriteOp(out, "<->", "l2_dist")
    out = Engine.rewriteOp(out, "<#>", "inner_product")
    out = Engine.rewriteOp(out, "<=>", "cosine_similarity")
    "\u0001(\\d+)\u0001".r.replaceAllIn(out, m =>
      Regex.quoteReplacement(lits(m.group(1).toInt)))
  }

  // ---- helpers ------------------------------------------------------------

  /** Stable row id for index bookkeeping — the RID analogue. Assigned
    * from `monotonically_increasing_id()` (partition-local counters —
    * unique, insertion-ordered, fully parallel; NOT contiguous, which
    * nothing requires) the first time rows enter the engine; existing
    * ids are always respected, so callers with their own id column
    * (parquet-scale tables) keep it. */
  private def withRowId(df: DataFrame): DataFrame =
    if (df.columns.contains(Engine.RowId)) df
    else df.withColumn(Engine.RowId, monotonically_increasing_id())

  /** One aggregate over a statement's new `rows`: `counted`, then each
    * of the caller's `checks` and the binder's dim rule on the new values
    * of declared VECTOR columns (bind_create.cpp:90-97). The first rule
    * some row breaks, in that order, fails the statement with its message. */
  private def countChecked(tbl: String, rows: DataFrame, counted: Column,
      checks: Seq[(Column, String)], values: Seq[(String, Column)]): Long = {
    val rules = checks ++ values.flatMap { case (c, v) => vectorDims.get((tbl, c)).map(dim =>
      max(v.isNotNull && size(v) =!= dim) -> s"vector dim mismatch for $tbl.$c (want $dim)") }
    val r = rows.agg(counted, rules.map(_._1): _*).first()
    rules.zipWithIndex.foreach { case ((_, msg), i) => require(r.get(i + 1) != true, msg) }
    r.getLong(0)
  }

  /** A one-row `message` frame, built from a fixed schema and converted
    * without an encoder (every DDL and SET statement replies so). */
  private def message(s: String): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(s)), Engine.MessageSchema)

  /** split on commas not inside parens or brackets (ARRAY [..]) */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; val cur = new StringBuilder
    s.foreach {
      case c @ ('(' | '[') => depth += 1; cur += c
      case c @ (')' | ']') => depth -= 1; cur += c
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c => cur += c
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq
  }
}

object Engine {
  val RowId = "__rid"
  /** an INSERT's per-row flag: some value of the row does not cast */
  private val BadCast = "__bad_cast"
  /** reference __bustub_internal result column names */
  val InsertRowsCol = "insert_rows"
  val DeleteRowsCol = "delete_rows"
  val UpdateRowsCol = "update_rows"

  private val MessageSchema = StructType(Seq(StructField("message", StringType)))

  /** `a <op> b` → fn(a, b) for simple operands (identifier, function
    * call, or array(...) literal, one nesting level deep — enough for
    * the rewritten ARRAY [..] form) — covers the reference grammar,
    * where the operands are always a column and an ARRAY literal.
    * Nested and repeated occurrences are rewritten pass by pass, until
    * none is left or a pass changes nothing. */
  private[graft] def rewriteOp(sql: String, op: String, fn: String): String = {
    val re = opRegex(op)
    var out = sql
    while (out.contains(op)) {
      val next = re.replaceAllIn(out, m =>
        Regex.quoteReplacement(s"$fn(${m.group(1)}, ${m.group(2)})"))
      if (next == out) return out
      out = next
    }
    out
  }

  private val opRegex: Map[String, Regex] = Seq("<->", "<#>", "<=>").map { op =>
    val inner = """(?:[^()]|\([^()]*\))*"""
    val operand = s"""(array\\($inner\\)|[\\w.]+\\($inner\\)|[\\w.]+)"""
    op -> new Regex("(?i)" + operand + """\s*""" + Regex.quote(op) +
      """\s*""" + operand)
  }.toMap

  /** One record per vector index an engine manages: its table, its
    * CREATE INDEX statement, and the index as the last upkeep step left
    * it, the same model the registry serves. `built` is None until the
    * table has rows (the reference BuildIndex early-returns into a
    * broken index there, ivfflat_index.cpp:78-80) and after
    * DELETE/UPDATE (its VectorIndex declares deletes unsupported,
    * vector_index.h:23-25 — a rebuild is the course-scale answer).
    * Scalar indexes keep no record. */
  private final case class IndexRecord(table: String, ddl: String,
      built: Option[VectorIndexes.IndexMeta] = None)

  /** A parsed CREATE INDEX statement. */
  private final case class IndexDdl(name: String, table: String,
      method: String, column: String, opts: Map[String, Int],
      metric: DistanceMetric.Value)

  /** the vector index methods and their required options
    * (ivfflat_index.cpp:16-29, hnsw_index.cpp:33-47) */
  private val VectorOptions = Map(
    "ivfflat" -> Seq("lists", "probe_lists"),
    "hnsw" -> Seq("m", "ef_construction", "ef_search"))
}
