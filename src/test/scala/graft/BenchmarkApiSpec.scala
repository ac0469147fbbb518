package graft

import graft.index.VectorIndexes

/** Pins the program API that the benchmark (perfbench/, its own sbt
  * build over this one) compiles against, so a refactor that breaks the
  * benchmark fails this build's tests too: `Engine.executeSql` and
  * `Engine.rewriteExprs`, the registry lookup
  * `VectorIndexes.get(..).map(_.model)` matched as `IvfModel(m, _)` /
  * `HnswModel(idx, _)`, `IvfFlatModel.buckets`,
  * `IvfFlatModel.scan(Seq[Double], Int)` and `HnswIndex.scanFull`. */
class BenchmarkApiSpec extends SparkSpecBase {

  test("the hooks the benchmark calls compile and answer") {
    val e = new Engine(spark)
    e.executeSql("CREATE TABLE api1(v VECTOR(2), id bigint)")
    e.executeSql("INSERT INTO api1 VALUES (ARRAY [0.0, 0.0], 0), " +
      "(ARRAY [1.0, 0.0], 1), (ARRAY [0.0, 1.0], 2)")
    e.executeSql("CREATE INDEX api1_ivf ON api1 USING ivfflat " +
      "(v vector_l2_ops) WITH (lists = 2, probe_lists = 2)")
    e.executeSql("CREATE INDEX api1_hnsw ON api1 USING hnsw " +
      "(v vector_l2_ops) WITH (m = 4, ef_construction = 8, ef_search = 8)")
    try {
      assert(e.rewriteExprs("SELECT id FROM api1 ORDER BY v <-> " +
        "ARRAY [1.0, 0.1] LIMIT 2").contains("l2_dist(v, array("))
      val q = Array(1.0, 0.1)
      VectorIndexes.get("api1_ivf").map(_.model) match {
        case Some(VectorIndexes.IvfModel(m, _)) =>
          var n = 0
          m.buckets.queryExecution.logical.foreach(_ => n += 1)
          assert(n > 0 && m.buckets.count() == 3)
          assert(m.scan(q.toSeq, 2).collect().length == 2)
        case other => fail(s"api1_ivf is not an ivfflat index: $other")
      }
      VectorIndexes.get("api1_hnsw").map(_.model) match {
        case Some(VectorIndexes.HnswModel(idx, _)) =>
          val top = idx.scanFull(q, 2)
          assert(top.length == 2 && top.head._2.toSeq == Seq(1.0, 0.0))
        case other => fail(s"api1_hnsw is not an hnsw index: $other")
      }
    } finally {
      VectorIndexes.drop("api1_ivf")
      VectorIndexes.drop("api1_hnsw")
    }
  }
}
