package graft

import org.apache.spark.sql.Row

/** Replays the reference's own SQL test corpus (test/sql/vector.01-05,
  * p0.01-lower-upper) through Engine.executeSql — the "switch engines,
  * keep your SQL" contract. Expected values hand-derived from the SLT
  * fixtures (distances to ARRAY[1,1,1] over the vector.04 rows). */
class EngineSpec extends SparkSpecBase {

  private def mkEngine = new Engine(spark)

  private def vecRows(e: Engine, sql: String): Seq[(Double, Int, Double)] =
    e.executeSql(sql).collect().toSeq.map(r =>
      (r.getSeq[Double](0).head, r.getInt(1), r.getDouble(2)))

  test("vector.01: create, insert ARRAY literals, scan with distances") {
    val e = mkEngine
    e.executeSql("CREATE TABLE t1(v1 VECTOR(3), v2 integer);")
    val ins = e.executeSql(
      "INSERT INTO t1 VALUES (ARRAY [1.0, 1.0, 1.0], 1), " +
        "(ARRAY [2.0, 2.0, 2.0], 2), (ARRAY [3.0, 3.0, 3.0], 3)")
    assert(ins.collect()(0).getLong(0) == 3)
    val r = e.executeSql(
      "SELECT ARRAY [1.0, 1.0, 1.0] <-> v1, v1 <=> ARRAY [0.0, 1.0, 0.0], " +
        "inner_product(v1, ARRAY [1.0, 1.0, 1.0]) FROM t1")
      .collect().toSeq
    assert(r.length == 3)
    val l2 = r.map(_.getDouble(0)).sorted
    assert(math.abs(l2.head) < 1e-9 &&
      math.abs(l2(1) - math.sqrt(3.0)) < 1e-9)
    val ip = r.map(_.getDouble(2)).sorted
    assert(ip == Seq(3.0, 6.0, 9.0))
  }

  test("force_optimizer_starter_rule: SET/SHOW parity, documented no-op") {
    // reference optimizer.cpp:18-26 — the variable gates its starter
    // rule pipeline; here Catalyst's full rule set always runs, so the
    // variable is accepted, echoed, and steers nothing. Query results
    // must be identical either way.
    val e = mkEngine
    e.executeSql("CREATE TABLE tf(a integer, b integer)")
    e.executeSql("INSERT INTO tf VALUES (1, 10), (2, 20), (3, 30)")
    val before = e.executeSql("SELECT a, b FROM tf WHERE a >= 2")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    e.executeSql("set force_optimizer_starter_rule=yes")
    val shown = e.executeSql("show force_optimizer_starter_rule")
    assert(shown.columns.head == "force_optimizer_starter_rule")
    assert(shown.collect().head.getString(0) == "yes")
    val after = e.executeSql("SELECT a, b FROM tf WHERE a >= 2")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(after == before)
  }

  test("timestamp columns: literals insert, compare, order (timestamp_type.cpp)") {
    // the reference parses/renders TIMESTAMP (timestamp_type.cpp:22,99)
    // but its test corpus never exercises literals; pin that our
    // CREATE/INSERT/WHERE/ORDER path handles both bare-string and
    // TIMESTAMP'...' literal forms via the insert-time schema cast
    val e = mkEngine
    e.executeSql("CREATE TABLE tt(id integer, at timestamp)")
    e.executeSql(
      "INSERT INTO tt VALUES (1, '2021-01-01 10:00:00'), (2, '2021-01-01 09:30:00')")
    e.executeSql("INSERT INTO tt VALUES (3, TIMESTAMP '2021-06-15 00:00:00')")
    val got = e.executeSql(
        "SELECT id FROM tt WHERE at >= '2021-01-01 10:00:00' ORDER BY at")
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(1, 3))
    // a non-parsing literal is REJECTED (binder-style), never NULLed —
    // under ANSI the cast itself throws; either way the insert fails
    val err = intercept[Exception] {
      e.executeSql("INSERT INTO tt VALUES (4, 'not a timestamp')")
    }
    val msg = err.getMessage.toLowerCase
    assert(msg.contains("mismatch") || msg.contains("cast"))
    assert(e.executeSql("SELECT id FROM tt").collect().length == 3)
  }

  test("failed UPDATE leaves the table registered and intact (atomic swap)") {
    // registerTable materializes the NEW cache before swapping: a SET
    // expression that throws at evaluation (ANSI cast) must fail the
    // statement without dropping the table or touching its rows
    val e = mkEngine
    e.executeSql("CREATE TABLE ta(a integer, s varchar(10))")
    e.executeSql("INSERT INTO ta VALUES (1, 'x'), (2, '3')")
    intercept[Exception] {
      e.executeSql("UPDATE ta SET a = CAST(s AS INTEGER)") // 'x' throws
    }
    val got = e.executeSql("SELECT a FROM ta ORDER BY a")
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(1, 2)) // old rows, old values
    e.executeSql("INSERT INTO ta VALUES (5, 'y')") // still writable
    assert(e.executeSql("SELECT a FROM ta").collect().length == 3)
  }

  test("vector.02 naive knn: ORDER BY dist LIMIT k without index") {
    val e = mkEngine
    e.executeSql("CREATE TABLE t2(v1 VECTOR(3), v2 integer)")
    e.executeSql(
      "INSERT INTO t2 VALUES (ARRAY [-1.0, 1.0, 1.0], -1), " +
        "(ARRAY [-3.0, 1.0, 1.0], -3), (ARRAY [-2.0, 1.0, 1.0], -2), " +
        "(ARRAY [-4.0, 1.0, 1.0], -4), (ARRAY [0.0, 1.0, 1.0], 0), " +
        "(ARRAY [2.0, 1.0, 1.0], 2), (ARRAY [4.0, 1.0, 1.0], 4), " +
        "(ARRAY [5.0, 1.0, 1.0], 5)")
    val got = e.executeSql(
      "SELECT v2 FROM t2 ORDER BY ARRAY [1.0, 1.0, 1.0] <-> v1, v2 LIMIT 3")
      .collect().map(_.getInt(0)).toSeq
    // dists: 0->1, 2->1, -1->2 ; tie 0/2 broken by v2
    assert(got == Seq(0, 2, -1))
  }

  test("vector.04/05: ivfflat + hnsw index, insert-after-index is seen") {
    val e = mkEngine
    e.executeSql("CREATE TABLE t4(v1 VECTOR(3), v2 integer)")
    e.executeSql(
      "INSERT INTO t4 VALUES (ARRAY [-1.0, 1.0, 1.0], -1), " +
        "(ARRAY [-3.0, 1.0, 1.0], -3), (ARRAY [-2.0, 1.0, 1.0], -2), " +
        "(ARRAY [-4.0, 1.0, 1.0], -4), (ARRAY [0.0, 1.0, 1.0], 0), " +
        "(ARRAY [2.0, 1.0, 1.0], 2), (ARRAY [4.0, 1.0, 1.0], 4), " +
        "(ARRAY [5.0, 1.0, 1.0], 5)")
    // probe_lists = lists -> exact
    e.executeSql("CREATE INDEX t4i ON t4 USING ivfflat " +
      "(v1 vector_l2_ops) WITH (lists = 3, probe_lists = 3)")
    val r1 = vecRows(e, "SELECT v1, v2, ARRAY [1.0, 1.0, 1.0] <-> v1 " +
      "as distance FROM t4 ORDER BY ARRAY [1.0, 1.0, 1.0] <-> v1, v2 LIMIT 3")
    assert(r1.map(_._2) == Seq(0, 2, -1) &&
      r1.map(_._3) == Seq(1.0, 1.0, 2.0))
    // insert AFTER the index exists; KNN must see the new exact match
    e.executeSql("INSERT INTO t4 VALUES (ARRAY [1.0, 1.0, 1.0], 1), " +
      "(ARRAY [3.0, 1.0, 1.0], 3)")
    val r2 = vecRows(e, "SELECT v1, v2, ARRAY [1.0, 1.0, 1.0] <-> v1 " +
      "as distance FROM t4 ORDER BY ARRAY [1.0, 1.0, 1.0] <-> v1, v2 LIMIT 5")
    assert(r2.map(_._2) == Seq(1, 0, 2, -1, 3))
    assert(r2.map(_._3) == Seq(0.0, 1.0, 1.0, 2.0, 2.0))

    // hnsw over the same table (vector.05); statement-ok + sane results
    e.executeSql("CREATE INDEX t4h ON t4 USING hnsw (v1 vector_l2_ops) " +
      "WITH (m = 4, ef_construction = 16, ef_search = 16)")
    e.executeSql("set vector_index_method=hnsw")
    try {
      val r3 = vecRows(e, "SELECT v1, v2, ARRAY [1.0, 1.0, 1.0] <-> v1 " +
        "as distance FROM t4 ORDER BY ARRAY [1.0, 1.0, 1.0] <-> v1, v2 LIMIT 3")
      assert(r3.map(_._3) == r3.map(_._3).sorted && r3.length == 3)
      assert(r3.head._2 == 1 && r3.head._3 == 0.0) // exact match found
    } finally e.executeSql("set vector_index_method=")
    graft.index.VectorIndexes.drop("t4i")
    graft.index.VectorIndexes.drop("t4h")
  }

  test("vector.03: vector_index_method steers selection; explain shows it") {
    val e = mkEngine
    e.executeSql("CREATE TABLE t3(v1 VECTOR(3), v2 integer)")
    e.executeSql("INSERT INTO t3 VALUES (ARRAY [1.0, 1.0, 1.0], 1), " +
      "(ARRAY [2.0, 2.0, 2.0], 2), (ARRAY [3.0, 3.0, 3.0], 3), " +
      "(ARRAY [4.0, 4.0, 4.0], 4)")
    e.executeSql("CREATE INDEX t3i ON t3 USING ivfflat (v1 vector_l2_ops) " +
      "WITH (lists = 2, probe_lists = 2)")
    try {
      def planStr(method: String): String = {
        e.executeSql(s"set vector_index_method=$method")
        e.executeSql("EXPLAIN (o) SELECT v1 FROM t3 ORDER BY " +
          "ARRAY [1.0, 1.0, 1.0] <-> v1 LIMIT 2")
          .collect().map(_.getString(0)).mkString("\n")
      }
      assert(planStr("ivfflat").contains("__graft_knn_id"))
      assert(!planStr("none").contains("__graft_knn_id"))
    } finally {
      e.executeSql("set vector_index_method=")
      graft.index.VectorIndexes.drop("t3i")
    }
  }

  test("p3.20: window function goldens (frames, ties, partition by)") {
    val e = mkEngine
    e.executeSql("create table w1(v1 int)")
    e.executeSql("insert into w1 values (-99999), (99999), (0), (1), (2), (3)")
    // whole-partition frame (no ORDER BY)
    val whole = e.executeSql("select count(*) over (), min(v1) over (), " +
      "max(v1) over (), count(v1) over (), sum(v1) over () from w1")
      .collect().map(_.toSeq).toSeq
    assert(whole.length == 6 &&
      whole.forall(_ == Seq(6L, -99999, 99999, 6L, 6L)))
    // running frame (ORDER BY -> range unbounded preceding..current row)
    val running = e.executeSql("select count(*) over (order by v1), " +
      "sum(v1) over (order by v1) from w1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(running.toSeq == Seq((1L, -99999L), (2L, -99999L), (3L, -99998L),
      (4L, -99996L), (5L, -99993L), (6L, 6L)))
    // rank with ties after duplicate inserts
    e.executeSql("insert into w1 values (1), (3)")
    val ranks = e.executeSql(
      "select v1, rank() over (order by v1) from w1").collect()
      .map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
    assert(ranks == Seq((-99999, 1), (0, 2), (1, 3), (1, 3), (2, 5),
      (3, 6), (3, 6), (99999, 8)))
    // partition by
    e.executeSql("create table w2(v1 int, v2 int)")
    e.executeSql(
      "insert into w2 values (1, 100), (1, 200), (1, 300), (2, 400), (2, 500)")
    val parts = e.executeSql("select count(*) over (partition by v1), " +
      "sum(v2) over (partition by v1) from w2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(parts == Seq((2L, 900L), (2L, 900L), (3L, 600L), (3L, 600L),
      (3L, 600L)))
  }

  test("p3.06/p3.07: agg null handling, ridiculous exprs, empty-table agg") {
    val e = mkEngine
    e.executeSql("create table a1(v1 int)")
    e.executeSql("insert into a1 values (-99999), (99999), (0), (1), (2), (3)")
    val r1 = e.executeSql(
      "select count(*), min(v1), max(v1), count(v1), sum(v1) from a1").head()
    assert(r1.toSeq == Seq(6L, -99999, 99999, 6L, 6L))
    // null input: count(*) counts it, the others skip it
    e.executeSql("insert into a1 values (null)")
    val r2 = e.executeSql(
      "select count(*), min(v1), max(v1), count(v1), sum(v1) from a1").head()
    assert(r2.toSeq == Seq(7L, -99999, 99999, 6L, 6L))
    // the reference's "ridiculous query" golden
    e.executeSql("create table a2(v1 int, v2 int)")
    e.executeSql(
      "insert into a2 values (1, 100), (2, 200), (3, 300), (4, 400), (5, 500)")
    val r3 = e.executeSql("select count(*), min(v1+v2-3), max(2+v2-v1), " +
      "count(v1+v2+v2), sum(v1-v2+v2), sum(1), max(233), min(1), count(2) " +
      "from a2").head()
    assert(r3.toSeq == Seq(5L, 98, 497, 5L, 15L, 5L, 233, 1, 5L))
    // empty-table global agg emits one row: count=0, others NULL (p3.06)
    val d = e.executeSql("delete from a1")
    assert(d.head().getLong(0) == 7)
    val r4 = e.executeSql(
      "select count(*), min(v1), max(v1), sum(v1) from a1").head()
    assert(r4.getLong(0) == 0L && r4.isNullAt(1) && r4.isNullAt(2)
      && r4.isNullAt(3))
  }

  test("string literals are never touched by the SQL rewrites") {
    // rewriteExprs normalizes syntax (trailing comma before FROM,
    // ARRAY [..], <-> operators) — all of it must skip DATA
    val e = mkEngine
    e.executeSql("create table lit1(v1 varchar(128))")
    e.executeSql(
      "insert into lit1 values ('greetings, from Bob'), ('a <-> b'), " +
        "('ARRAY [1.0]')")
    val got = e.executeSql("select v1 from lit1").collect()
      .map(_.getString(0)).toSet
    assert(got == Set("greetings, from Bob", "a <-> b", "ARRAY [1.0]"))
    assert(e.executeSql("select 'x, from y' where '<->' = '<->'")
      .head().getString(0) == "x, from y")
  }

  test("p0.01: lower/upper") {
    val e = mkEngine
    val r = e.executeSql("SELECT lower('AbC'), upper('AbC')").head()
    assert(r.getString(0) == "abc" && r.getString(1) == "ABC")
  }

  test("p0.02: wrong argument counts error (function-error semantics)") {
    val e = mkEngine
    intercept[Exception](e.executeSql("SELECT lower()"))
    intercept[Exception](e.executeSql("SELECT upper('a', 'b')"))
    intercept[Exception](
      e.executeSql("SELECT l2_dist(array(1.0D, 2.0D))").collect())
  }

  test("meta commands \\dt and \\di list tables and indexes") {
    val e = mkEngine
    e.executeSql("create table meta1(a int)")
    assert(e.executeSql("\\dt").collect().map(_.getString(0))
      .contains("meta1"))
    e.executeSql("create table meta2(v1 VECTOR(2))")
    e.executeSql("insert into meta2 values (ARRAY [1.0, 2.0]), " +
      "(ARRAY [3.0, 4.0])")
    e.executeSql("CREATE INDEX meta2i ON meta2 USING ivfflat " +
      "(v1 vector_l2_ops) WITH (lists = 1, probe_lists = 1)")
    try {
      val di = e.executeSql("\\di").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(3)))
      assert(di.contains(("meta2i", "meta2", "ivfflat")))
    } finally graft.index.VectorIndexes.drop("meta2i")
  }

  test("binder surface: CTEs, subqueries, expression-list SELECT") {
    val e = mkEngine
    e.executeSql("create table c1(a int, b int)")
    e.executeSql("insert into c1 values (1, 10), (2, 20), (3, 30), (4, 40)")
    // CTE (bind_select.cpp CTE support)
    val cte = e.executeSql(
      "WITH big AS (SELECT a, b FROM c1 WHERE b >= 20) " +
        "SELECT count(*) AS n, sum(a) AS s FROM big").head()
    assert(cte.getLong(0) == 3 && cte.getLong(1) == 9)
    // scalar + IN subqueries
    val sub = e.executeSql(
      "SELECT a FROM c1 WHERE b > (SELECT avg(b) FROM c1) ORDER BY a")
      .collect().map(_.getInt(0)).toSeq
    assert(sub == Seq(3, 4))
    val in = e.executeSql(
      "SELECT a FROM c1 WHERE a IN (SELECT a FROM c1 WHERE b <= 20) ORDER BY a")
      .collect().map(_.getInt(0)).toSeq
    assert(in == Seq(1, 2))
    // SELECT with no FROM (reference values_plan expression-list)
    val noFrom = e.executeSql("SELECT 1 + 2 AS x, lower('AB') AS y").head()
    assert(noFrom.getInt(0) == 3 && noFrom.getString(1) == "ab")
  }

  test("delete + update rewrites with counts") {
    val e = mkEngine
    e.executeSql("CREATE TABLE t5(a integer, b integer)")
    e.executeSql("INSERT INTO t5 VALUES (1, 10), (2, 20), (3, 30)")
    val u = e.executeSql("UPDATE t5 SET b = b + 1 WHERE a >= 2")
    assert(u.head().getLong(0) == 2)
    assert(e.table("t5").collect().map(r => (r.getInt(0), r.getInt(1)))
      .toSet == Set((1, 10), (2, 21), (3, 31)))
    val d = e.executeSql("DELETE FROM t5 WHERE a = 2")
    assert(d.head().getLong(0) == 1)
    assert(e.table("t5").count() == 2)
  }

  test("vector dim mismatch on insert is rejected (binder rule)") {
    val e = mkEngine
    e.executeSql("CREATE TABLE t6(v1 VECTOR(3), v2 integer)")
    intercept[Exception] {
      e.executeSql("INSERT INTO t6 VALUES (ARRAY [1.0, 2.0], 1)")
    }
  }

  test("vector dim mismatch on UPDATE is rejected too") {
    val e = mkEngine
    e.executeSql("CREATE TABLE t7(v1 VECTOR(3), v2 integer)")
    e.executeSql("INSERT INTO t7 VALUES (ARRAY [1.0, 2.0, 3.0], 1)")
    intercept[Exception] {
      e.executeSql("UPDATE t7 SET v1 = ARRAY [9.0]")
    }
  }

  test("DELETE on an indexed table rebuilds the index; KNN stays exact") {
    val e = mkEngine
    e.executeSql("CREATE TABLE t8(v1 VECTOR(2), v2 integer)")
    e.executeSql("INSERT INTO t8 VALUES (ARRAY [0.0, 0.0], 0), " +
      "(ARRAY [1.0, 0.0], 1), (ARRAY [2.0, 0.0], 2), (ARRAY [3.0, 0.0], 3), " +
      "(ARRAY [4.0, 0.0], 4), (ARRAY [5.0, 0.0], 5)")
    e.executeSql("CREATE INDEX t8i ON t8 USING ivfflat (v1 vector_l2_ops) " +
      "WITH (lists = 2, probe_lists = 2)")
    try {
      // delete the exact nearest neighbor, then KNN must return the
      // next-nearest three — a stale index would drop a row instead
      e.executeSql("DELETE FROM t8 WHERE v2 = 0")
      val got = e.executeSql("SELECT v2 FROM t8 ORDER BY " +
        "ARRAY [0.0, 0.0] <-> v1, v2 LIMIT 3")
        .collect().map(_.getInt(0)).toSeq
      assert(got == Seq(1, 2, 3))
      // and UPDATE moves a vector: index must reflect the new position
      e.executeSql("UPDATE t8 SET v1 = ARRAY [0.1, 0.0] WHERE v2 = 5")
      val got2 = e.executeSql("SELECT v2 FROM t8 ORDER BY " +
        "ARRAY [0.0, 0.0] <-> v1, v2 LIMIT 2")
        .collect().map(_.getInt(0)).toSeq
      assert(got2 == Seq(5, 1))
    } finally graft.index.VectorIndexes.drop("t8i")
  }

  test("INSERT INTO ... SELECT (the fixture-load form) with index upkeep") {
    val e = mkEngine
    e.executeSql("create table src1(v1 VECTOR(2), v2 integer)")
    e.executeSql("INSERT INTO src1 VALUES (ARRAY [1.0, 0.0], 1), " +
      "(ARRAY [2.0, 0.0], 2), (ARRAY [3.0, 0.0], 3)")
    e.executeSql("create table dst1(v1 VECTOR(2), v2 integer)")
    e.executeSql("CREATE INDEX dst1i ON dst1 USING ivfflat " +
      "(v1 vector_l2_ops) WITH (lists = 1, probe_lists = 1)")
    try {
      val r = e.executeSql(
        "INSERT INTO dst1 SELECT v1, v2 * 10 FROM src1 WHERE v2 >= 2")
      assert(r.head().getLong(0) == 2)
      // index saw the SELECT-inserted rows (vector.04 contract)
      val got = e.executeSql("SELECT v2 FROM dst1 ORDER BY " +
        "ARRAY [0.0, 0.0] <-> v1, v2 LIMIT 2")
        .collect().map(_.getInt(0)).toSeq
      assert(got == Seq(20, 30))
    } finally graft.index.VectorIndexes.drop("dst1i")
  }

  test("INSERT ... SELECT evaluates each source row once, accepted or rejected") {
    // the reference's InsertExecutor reads its child once
    // (insert_executor.cpp:28-52): checking, numbering and caching the
    // new rows is one pass over the source, also when the dim rule
    // rejects them
    import org.apache.spark.sql.functions.udf
    val e = mkEngine
    val seen = spark.sparkContext.longAccumulator("insert-source-rows")
    spark.udf.register("seen_row",
      udf { (id: Long) => seen.add(1); id }.asNondeterministic())
    // both columns read the counted value: the cast rule (bigint into
    // integer) and the dim rule each need it
    Seq("once_ok" -> "1.0", "once_bad" -> "1.0, 0.0").foreach { case (view, tail) =>
      spark.range(0, 40, 1, 4).selectExpr("seen_row(id) AS x")
        .selectExpr(s"array(x * 0.5, $tail) AS v", "x AS tag")
        .createOrReplaceTempView(view)
    }
    def rows = e.table("once").collect()
      .map(r => (r.getLong(2), r.getInt(1), r.getSeq[Double](0))).sortBy(_._1).toSeq
    e.executeSql("CREATE TABLE once(v VECTOR(2), tag integer)")
    e.executeSql("INSERT INTO once VALUES (ARRAY [9.0, 9.0], 99)")
    val r = e.executeSql("INSERT INTO once SELECT v, tag FROM once_ok")
    assert(r.head().getLong(0) == 40)
    assert(seen.value == 40, s"accepted: ${seen.value} source evaluations")
    val before = rows
    assert(before.map(_._2).sorted == (0 until 40) :+ 99)
    assert(before.map(_._1).distinct.length == 41)
    seen.reset()
    val err = intercept[IllegalArgumentException] {
      e.executeSql("INSERT INTO once SELECT v, tag FROM once_bad")
    }
    assert(err.getMessage.contains("vector dim mismatch for once.v (want 2)"))
    assert(seen.value == 40, s"rejected: ${seen.value} source evaluations")
    assert(rows == before) // rows and __rids unchanged
  }

  test("EXPLAIN of DML is side-effect free") {
    val e = mkEngine
    e.executeSql("create table ex1(a int)")
    e.executeSql("insert into ex1 values (1), (2), (3)")
    e.executeSql("EXPLAIN DELETE FROM ex1")
    e.executeSql("EXPLAIN (o) UPDATE ex1 SET a = a + 100")
    e.executeSql("EXPLAIN INSERT INTO ex1 VALUES (9)")
    assert(e.table("ex1").collect().map(_.getInt(0)).sorted.toSeq
      == Seq(1, 2, 3))
  }

  test("insert rejects values that do not cast (binder type rule)") {
    val e = mkEngine
    e.executeSql("create table ty1(a int, b int)")
    intercept[Exception] {
      e.executeSql("INSERT INTO ty1 VALUES ('12x', 10)")
    }
    assert(e.table("ty1").count() == 0)
  }

  test("NULL vector insert on an indexed table does not crash maintenance") {
    val e = mkEngine
    e.executeSql("CREATE TABLE t9(v1 VECTOR(2), v2 integer)")
    e.executeSql("INSERT INTO t9 VALUES (ARRAY [1.0, 1.0], 1), " +
      "(ARRAY [2.0, 2.0], 2)")
    e.executeSql("CREATE INDEX t9i ON t9 USING hnsw (v1 vector_l2_ops) " +
      "WITH (m = 4, ef_construction = 8, ef_search = 8)")
    e.executeSql("CREATE INDEX t9v ON t9 USING ivfflat (v1 vector_l2_ops) " +
      "WITH (lists = 2, probe_lists = 2)")
    try {
      e.executeSql("INSERT INTO t9 VALUES (NULL, 3)")
      assert(e.table("t9").count() == 3)
      Seq("hnsw", "ivfflat").foreach { method =>
        e.executeSql(s"set vector_index_method=$method")
        val got = e.executeSql("SELECT v2 FROM t9 WHERE v1 IS NOT NULL " +
          "ORDER BY ARRAY [0.0, 0.0] <-> v1, v2 LIMIT 2")
          .collect().map(_.getInt(0)).toSeq
        assert(got == Seq(1, 2), method)
      }
      // the NULL row is unindexable: neither index holds it
      graft.index.VectorIndexes.get("t9v").map(_.model) match {
        case Some(graft.index.VectorIndexes.IvfModel(m, _)) =>
          assert(m.buckets.count() == 2)
        case other => fail(s"t9v is not an ivfflat index: $other")
      }
      graft.index.VectorIndexes.get("t9i").map(_.model) match {
        case Some(graft.index.VectorIndexes.HnswModel(idx, _)) =>
          assert(idx.size == 2)
        case other => fail(s"t9i is not an hnsw index: $other")
      }
    } finally {
      e.executeSql("set vector_index_method=")
      graft.index.VectorIndexes.drop("t9i")
      graft.index.VectorIndexes.drop("t9v")
    }
  }

  test("IVFFlat upkeep: INSERTs keep the bucket plan size; KNN == brute") {
    import graft.index.VectorIndexes
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val e = mkEngine
    e.executeSql("CREATE TABLE up1(v VECTOR(2), tag integer)")
    e.executeSql("INSERT INTO up1 VALUES (ARRAY [0.0, 0.0], 0), " +
      "(ARRAY [1.0, 0.1], 1), (ARRAY [0.2, 1.0], 2), (ARRAY [1.3, 1.2], 3)")
    // probe_lists = lists -> exact
    e.executeSql("CREATE INDEX up1i ON up1 USING ivfflat " +
      "(v vector_l2_ops) WITH (lists = 2, probe_lists = 2)")
    def planNodes(): Int = VectorIndexes.get("up1i").map(_.model) match {
      case Some(VectorIndexes.IvfModel(m, _)) =>
        var n = 0
        m.buckets.queryExecution.logical.foreach(_ => n += 1)
        n
      case other => fail(s"up1i is not an ivfflat index: $other")
    }
    def knn(method: String, q: String): (Seq[Int], Boolean) = {
      e.executeSql(s"set vector_index_method=$method")
      val df = e.executeSql(s"SELECT tag FROM up1 ORDER BY ARRAY [$q] <-> v LIMIT 3")
      (df.collect().map(_.getInt(0)).toSeq,
        df.queryExecution.optimizedPlan.toString.contains("__graft_knn_id"))
    }
    // the served layout, after cache substitution, reads only the live
    // table's cache: one leaf, the table's InMemoryRelation
    def readsLiveCacheOnly(): Boolean = VectorIndexes.get("up1i").map(_.model) match {
      case Some(VectorIndexes.IvfModel(m, _)) =>
        val leaves = m.buckets.queryExecution.withCachedData.collectLeaves()
        val live = e.table("up1").queryExecution.withCachedData.collectLeaves()
        (leaves ++ live).forall(_.isInstanceOf[InMemoryRelation]) &&
          leaves.length == 1 && live.length == 1 &&
          (leaves.head.asInstanceOf[InMemoryRelation].cacheBuilder eq
            live.head.asInstanceOf[InMemoryRelation].cacheBuilder)
      case other => fail(s"up1i is not an ivfflat index: $other")
    }
    try {
      val nodes = (1 to 5).map { i =>
        val q = s"${0.5 + 0.37 * i}, ${0.3 + 0.21 * i}"
        e.executeSql(s"INSERT INTO up1 VALUES (ARRAY [$q], ${10 + i})")
        val (viaIndex, rewritten) = knn("ivfflat", q)
        val (brute, _) = knn("none", q)
        assert(rewritten, s"INSERT $i: KNN did not use the index")
        assert(viaIndex == brute && viaIndex.head == 10 + i, s"INSERT $i")
        assert(readsLiveCacheOnly(), s"INSERT $i: the layout reads more " +
          "than the live table's cache")
        planNodes()
      }
      assert(nodes.forall(_ == nodes.head), s"bucket plan nodes: $nodes")
    } finally {
      e.executeSql("set vector_index_method=")
      VectorIndexes.drop("up1i")
    }
  }

  test("an IVFFlat index outlives its table's sources: layout, save, reload") {
    import graft.index.VectorIndexes
    import org.apache.spark.sql.functions.{array, col, cos, sin}
    val tmp = java.nio.file.Files.createTempDirectory("graft-sources").toFile
    val src = new java.io.File(tmp, "rows").toString
    val root = new java.io.File(tmp, "registry").toString
    spark.range(40).select(array(sin(col("id")), cos(col("id") * 0.7)).as("v"),
      col("id").cast("int").as("tag")).write.parquet(src)
    spark.read.parquet(src).createOrReplaceTempView("src_rows")
    val e1 = mkEngine
    e1.executeSql("CREATE TABLE srt(v VECTOR(2), tag integer)")
    e1.executeSql("INSERT INTO srt SELECT v, tag FROM src_rows")
    e1.executeSql("CREATE INDEX srti ON srt USING ivfflat (v vector_l2_ops) " +
      "WITH (lists = 4, probe_lists = 2)")
    e1.executeSql("INSERT INTO srt VALUES (ARRAY [3.0, 3.0], 100)")
    // outside Spark: a Spark write would re-cache the table
    Util.deleteRecursively(new java.io.File(src))
    try {
      val served = VectorIndexes.get("srti").map(_.model) match {
        case Some(VectorIndexes.IvfModel(m, _)) =>
          m.buckets.select(Engine.RowId, "v").collect()
            .map(r => (r.getLong(0), r.getSeq[Double](1))).toSet
        case other => fail(s"srti is not an ivfflat index: $other")
      }
      val rows = e1.table("srt").filter(col("v").isNotNull)
        .select(Engine.RowId, "v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toSet
      assert(served == rows && rows.size == 41)
      e1.saveIndexRegistry(root)
      VectorIndexes.drop("srti") // simulate process death
      // "restart": the new engine registers the table with its row ids
      val e2 = mkEngine
      e2.registerTable("srt", e1.table("srt"))
      e2.loadIndexRegistry(root)
      e2.executeSql("set vector_index_method=ivfflat")
      val knn = e2.executeSql(
        "SELECT tag FROM srt ORDER BY v <-> ARRAY [3.0, 3.0] LIMIT 1")
      assert(knn.queryExecution.optimizedPlan.toString.contains("__graft_knn_id"))
      assert(knn.collect().map(_.getInt(0)).toSeq == Seq(100))
    } finally {
      spark.conf.unset("graft.vector_index_method")
      VectorIndexes.drop("srti")
      Util.deleteRecursively(tmp)
    }
  }

  test("an indexed KNN is one Spark job: a candidate filter, no join") {
    import graft.index.VectorIndexes
    import org.apache.spark.graft.JobCounter
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    val e = mkEngine
    e.executeSql("CREATE TABLE oj(v VECTOR(2), tag integer)")
    e.executeSql("INSERT INTO oj VALUES " + (0 until 30).map(i =>
      s"(ARRAY [${i * 7 % 30 / 10.0}, ${i * 11 % 30 / 10.0}], $i)")
      .mkString(", "))
    e.executeSql("CREATE INDEX oji ON oj USING ivfflat (v vector_l2_ops) " +
      "WITH (lists = 4, probe_lists = 2)")
    e.executeSql("CREATE INDEX ojh ON oj USING hnsw (v vector_l2_ops) " +
      "WITH (m = 4, ef_construction = 16, ef_search = 16)")
    val q = "ORDER BY v <-> ARRAY [1.1, 1.7] LIMIT 3"
    // the statement's jobs, from parsing to its collected rows
    def run(method: String, sql: String): (LogicalPlan, Int) = {
      e.executeSql(s"set vector_index_method=$method")
      JobCounter.jobsOf(spark.sparkContext) {
        val df = e.executeSql(sql)
        df.collect()
        df.queryExecution.optimizedPlan
      }
    }
    try {
      def check(when: String): Unit = Seq("ivfflat", "hnsw").foreach { m =>
        val (plan, jobs) = run(m, s"SELECT tag FROM oj $q")
        assert(jobs == 1, s"$m $when: $jobs jobs")
        assert(plan.collectFirst { case j: Join => j }.isEmpty &&
          plan.toString.contains("__graft_knn_id"), s"$m $when:\n$plan")
      }
      check("after CREATE INDEX")
      e.executeSql("INSERT INTO oj VALUES (ARRAY [1.1, 1.7], 30)")
      check("after INSERT")
      // the WHERE-filtered KNN keeps its brute-force plan
      val filtered = s"SELECT tag FROM oj WHERE tag % 2 = 0 $q"
      val (viaIndex, _) = run("hnsw", filtered)
      val (brute, _) = run("none", filtered)
      assert(viaIndex.sameResult(brute), s"$viaIndex\nvs\n$brute")
      assert(!viaIndex.toString.contains("__graft_knn_id"))
    } finally {
      e.executeSql("set vector_index_method=")
      VectorIndexes.drop("oji")
      VectorIndexes.drop("ojh")
    }
  }

  test("a KNN statement runs as VectorTopK: one job, one stage; EXPLAIN runs none") {
    import graft.index.VectorIndexes
    import org.apache.spark.graft.JobCounter
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.graft.VectorTopKExec
    val e = mkEngine
    e.executeSql("CREATE TABLE tk(v VECTOR(2), tag integer)")
    e.executeSql("INSERT INTO tk VALUES " + (0 until 30).map(i =>
      s"(ARRAY [${i * 7 % 30 / 10.0}, ${i * 11 % 30 / 10.0}], $i)")
      .mkString(", "))
    e.executeSql("CREATE INDEX tkh ON tk USING hnsw (v vector_l2_ops) " +
      "WITH (m = 4, ef_construction = 16, ef_search = 16)")
    val knn = "SELECT tag FROM tk ORDER BY v <-> ARRAY [1.1, 1.7] LIMIT 3"
    val filtered =
      "SELECT tag FROM tk WHERE tag % 2 = 0 ORDER BY v <-> ARRAY [1.1, 1.7] LIMIT 3"
    try {
      e.executeSql("set vector_index_method=hnsw")
      Seq(knn, filtered).foreach { sql =>
        val (df, jobs, stages) = JobCounter.jobsAndStagesOf(spark.sparkContext) {
          val df = e.executeSql(sql)
          df.collect()
          df
        }
        assert(jobs == 1 && stages == 1, s"$sql: $jobs jobs, $stages stages")
        val plan = df.queryExecution.executedPlan
        assert(plan.collectFirst { case t: VectorTopKExec => t }.nonEmpty &&
          plan.collectFirst { case t: TakeOrderedAndProjectExec => t }.isEmpty,
          s"$sql:\n$plan")
        val (explained, explainJobs) = JobCounter.jobsOf(spark.sparkContext)(
          e.executeSql(s"EXPLAIN $sql").collect().map(_.getString(0)).mkString("\n"))
        assert(explainJobs == 0, s"EXPLAIN $sql: $explainJobs jobs")
        assert(explained.contains("VectorTopK") &&
          !explained.contains("TakeOrderedAndProject"), explained)
      }
      assert(e.executeSql(knn).queryExecution.optimizedPlan.toString
        .contains("__graft_knn_id"))
    } finally {
      e.executeSql("set vector_index_method=")
      VectorIndexes.drop("tkh")
    }
  }

  test("CREATE INDEX on a filled table runs the build and no upkeep collect") {
    import graft.index.VectorIndexes
    import org.apache.spark.graft.JobCounter
    val e = mkEngine
    e.executeSql("CREATE TABLE cj(v VECTOR(2), tag integer)")
    e.executeSql("INSERT INTO cj VALUES " + (0 until 30).map(i =>
      s"(ARRAY [${i * 7 % 30 / 10.0}, ${i * 11 % 30 / 10.0}], $i)")
      .mkString(", "))
    def jobs(body: => Unit): Int = JobCounter.jobsOf(spark.sparkContext)(body)._2
    val live = e.table("cj")
    try {
      // the statement's jobs == the same build run directly on the
      // live table: the table's size is known without a job, and the
      // sync after a fresh build collects no rows above the index's max id
      val ivf = jobs(e.executeSql("CREATE INDEX cji ON cj USING ivfflat " +
        "(v vector_l2_ops) WITH (lists = 4, probe_lists = 2)"))
      val ivfDirect = jobs(VectorIndexes.createIvfFlat("cj_direct", "cj", live,
        Engine.RowId, "v", 4, 2))
      assert(ivf == ivfDirect, s"ivfflat: $ivf jobs, build $ivfDirect")
      val hnsw = jobs(e.executeSql("CREATE INDEX cjh ON cj USING hnsw " +
        "(v vector_l2_ops) WITH (m = 4, ef_construction = 16, ef_search = 64)"))
      val hnswDirect = jobs(VectorIndexes.createHnsw("cj_direct", "cj", live,
        Engine.RowId, "v", 4, 16, 64))
      assert(hnsw == hnswDirect, s"hnsw: $hnsw jobs, build $hnswDirect")
      // and the next INSERT still reaches both (ef_search above the
      // row count: the HNSW walk ranks every row)
      e.executeSql("INSERT INTO cj VALUES (ARRAY [1.1, 1.7], 30)")
      Seq("ivfflat", "hnsw").foreach { m =>
        e.executeSql(s"set vector_index_method=$m")
        val top = e.executeSql(
          "SELECT tag FROM cj ORDER BY v <-> ARRAY [1.1, 1.7] LIMIT 1")
        assert(top.collect().map(_.getInt(0)).toSeq == Seq(30), m)
      }
    } finally {
      e.executeSql("set vector_index_method=")
      Seq("cji", "cjh", "cj_direct").foreach(VectorIndexes.drop)
    }
  }

  test("TIMESTAMP columns: literal insert, comparison, ordering") {
    // the reference accepts TIMESTAMP at CREATE but its binder never
    // parses a timestamp literal (src/type/timestamp_type.cpp holds
    // only the storage ops; the .slt corpus never uses the type).
    // Here ANSI string literals cast on INSERT and in predicates —
    // a documented superset (SURVEY §8.4).
    val e = mkEngine
    e.executeSql("create table tts(id int, at timestamp)")
    e.executeSql("INSERT INTO tts VALUES (1, '2024-01-01 10:00:00'), " +
      "(2, '2024-06-15 00:30:00'), (3, NULL)")
    assert(e.table("tts").count() == 3)
    val got = e.executeSql(
      "SELECT id FROM tts WHERE at > '2024-02-01' ORDER BY at")
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(2))
    intercept[Exception] { // a non-timestamp string is a bind error
      e.executeSql("INSERT INTO tts VALUES (4, 'not a time')")
    }
  }

  test("index registry persists across engine restarts (save/load)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-registry").toString
    def mkTable(e: Engine): Unit = {
      e.executeSql("CREATE TABLE prt(v VECTOR(3), tag integer)")
      e.executeSql("INSERT INTO prt VALUES (ARRAY [1.0, 0.0, 0.0], 1), " +
        "(ARRAY [0.0, 1.0, 0.0], 2), (ARRAY [0.0, 0.0, 1.0], 3), " +
        "(ARRAY [0.9, 0.1, 0.0], 4)")
    }
    val knnSql = "SELECT tag FROM prt " +
      "ORDER BY ARRAY [1.0, 0.0, 0.0] <-> v, tag LIMIT 2"
    try {
      val e1 = mkEngine
      mkTable(e1)
      e1.executeSql("CREATE INDEX prti ON prt USING ivfflat " +
        "(v vector_l2_ops) WITH (lists = 2, probe_lists = 2)")
      val before = e1.executeSql(knnSql).collect().map(_.getInt(0)).toSeq
      e1.saveIndexRegistry(root)
      graft.index.VectorIndexes.drop("prti") // simulate process death
      // "restart": fresh engine re-registers its tables, THEN reopens
      // the registry (leaves re-derive against the new cached plans)
      val e2 = mkEngine
      mkTable(e2)
      e2.loadIndexRegistry(root)
      val meta = graft.index.VectorIndexes.get("prti")
      assert(meta.isDefined && meta.get.leaf.isDefined,
        "restored index must re-attach to the new table plan")
      val after = e2.executeSql(knnSql).collect().map(_.getInt(0)).toSeq
      assert(after == before && after == Seq(1, 4))
      // the restored model itself serves: under probe-all its
      // candidates are every indexed row of the live table
      val candidates = meta.get.model.candidateIds(Array(1.0, 0.0, 0.0), 2)
      val rids = e2.table("prt").filter("v IS NOT NULL")
        .select(Engine.RowId).collect().map(_.getLong(0))
      assert(candidates.sorted.toSeq == rids.sorted.toSeq && rids.length == 4)
    } finally graft.index.VectorIndexes.drop("prti")
  }

  test("an HNSW index round-trips through the registry and keeps serving") {
    import graft.index.VectorIndexes
    val root = java.nio.file.Files
      .createTempDirectory("graft-registry").toString
    val e1 = mkEngine
    e1.executeSql("CREATE TABLE hrt(v VECTOR(3), tag integer)")
    e1.executeSql("INSERT INTO hrt VALUES " + (0 until 30).map(i =>
      s"(ARRAY [${i % 5 / 2.0}, ${i * 7 % 11 / 4.0}, ${i * 3 % 7 / 3.0}], $i)")
      .mkString(", "))
    // ef_search above the row count: the walk ranks every row
    e1.executeSql("CREATE INDEX hrti ON hrt USING hnsw (v vector_l2_ops) " +
      "WITH (m = 4, ef_construction = 16, ef_search = 64)")
    val knnSql = "SELECT tag FROM hrt ORDER BY v <-> ARRAY [1.0, 1.2, 0.9] LIMIT 4"
    def graphSize: Int = VectorIndexes.get("hrti").map(_.model) match {
      case Some(VectorIndexes.HnswModel(idx, _)) => idx.size
      case other => fail(s"hrti is not an hnsw index: $other")
    }
    try {
      e1.executeSql("set vector_index_method=hnsw")
      val before = e1.executeSql(knnSql).collect().map(_.getInt(0)).toSeq
      e1.saveIndexRegistry(root)
      VectorIndexes.drop("hrti") // simulate process death
      val e2 = mkEngine
      e2.registerTable("hrt", e1.table("hrt"))
      e2.loadIndexRegistry(root)
      assert(graphSize == 30, "the saved graph, not a rebuild")
      val knn = e2.executeSql(knnSql)
      assert(knn.queryExecution.optimizedPlan.toString.contains("__graft_knn_id"))
      assert(knn.collect().map(_.getInt(0)).toSeq == before)
      e2.executeSql("INSERT INTO hrt VALUES (ARRAY [4.0, -1.0, 2.5], 100)")
      assert(graphSize == 31)
      val top = e2.executeSql(
        "SELECT tag FROM hrt ORDER BY v <-> ARRAY [4.0, -1.0, 2.5] LIMIT 1")
      assert(top.queryExecution.optimizedPlan.toString.contains("__graft_knn_id"))
      assert(top.collect().map(_.getInt(0)).toSeq == Seq(100))
    } finally {
      spark.conf.unset("graft.vector_index_method")
      VectorIndexes.drop("hrti")
      Util.deleteRecursively(new java.io.File(root))
    }
  }

  test("a reloaded index is rebuilt after DELETE") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-registry").toString
    def mkTable(e: Engine): Unit = {
      e.executeSql("CREATE TABLE prd(v VECTOR(3), tag integer)")
      e.executeSql("INSERT INTO prd VALUES (ARRAY [1.0, 0.0, 0.0], 1), " +
        "(ARRAY [0.0, 1.0, 0.0], 2), (ARRAY [0.0, 0.0, 1.0], 3), " +
        "(ARRAY [0.9, 0.1, 0.0], 4)")
    }
    // no `, tag` sort key: an extra key would keep the rule from
    // rewriting, and the KNN must go through the reloaded index
    val knnSql = "SELECT tag FROM prd ORDER BY ARRAY [1.0, 0.0, 0.3] <-> v LIMIT 2"
    try {
      val e1 = mkEngine
      mkTable(e1)
      e1.executeSql("CREATE INDEX prdi ON prd USING ivfflat " +
        "(v vector_l2_ops) WITH (lists = 2, probe_lists = 2)")
      e1.saveIndexRegistry(root)
      graft.index.VectorIndexes.drop("prdi") // simulate process death
      val e2 = mkEngine
      mkTable(e2)
      e2.loadIndexRegistry(root)
      e2.executeSql("DELETE FROM prd WHERE tag = 1")
      val plan = e2.executeSql(s"EXPLAIN (o) $knnSql")
        .collect().map(_.getString(0)).mkString("\n")
      assert(plan.contains("__graft_knn_id"), plan)
      val got = e2.executeSql(knnSql).collect().map(_.getInt(0)).toSeq
      e2.executeSql("set vector_index_method=none")
      val brute = e2.executeSql(knnSql).collect().map(_.getInt(0)).toSeq
      assert(got == brute && got == Seq(4, 3))
    } finally {
      spark.conf.unset("graft.vector_index_method")
      graft.index.VectorIndexes.drop("prdi")
    }
  }

  test("a KNN statement's vector is one literal; new filter constants compile no class") {
    import org.apache.spark.graft.CompileCounter
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val dim = 64
    def vec(f: Int => Double) = (0 until dim).map(f).mkString("ARRAY [", ", ", "]")
    val e = mkEngine
    e.executeSql(s"CREATE TABLE kc(v VECTOR($dim), tag integer)")
    e.executeSql("INSERT INTO kc VALUES " + (0 until 40).map(i =>
      s"(${vec(j => (i * 31 + j * 17) % 97 / 10.0)}, $i)").mkString(", "))
    def knn(s: Int) = s"SELECT tag FROM kc WHERE tag % 17 = $s " +
      s"ORDER BY v <-> ${vec(j => (s * 13 + j * 7) % 89 / 8.0 - 5)} LIMIT 3"
    // the query vector reaches analysis as one literal, not a cast per element
    val analyzed = e.executeSql(knn(0)).queryExecution.analyzed
    val casts = analyzed.flatMap(_.expressions.flatMap(_.collect {
      case c: Cast if c.child.foldable => c }))
    val vectors = analyzed.flatMap(_.expressions.flatMap(_.collect {
      case Literal(a: ArrayData, ArrayType(DoubleType, _)) => a.numElements() }))
    assert(casts.isEmpty && vectors == Seq(dim), s"$casts\n$vectors\n$analyzed")
    e.executeSql(knn(0)).collect() // warm: the statement's shape compiles here
    val (answers, compiled) = CompileCounter.compiledBy(
      (1 to 10).map(s => e.executeSql(knn(s)).collect().map(_.getInt(0)).toSeq))
    assert(compiled == 0, s"$compiled classes compiled for new constants")
    assert(answers.zip(1 to 10).forall { case (a, s) =>
      a.nonEmpty && a.forall(_ % 17 == s) }, answers)
  }
}
