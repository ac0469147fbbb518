package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DistanceMetric

import graft.functions.VectorFunctions._
import graft.index.VectorIndexes

/** The KNN optimizer rule (reference OptimizeAsVectorIndexScan,
  * vector_index_scan.cpp:29-149): ORDER BY dist LIMIT k over an indexed
  * table is silently served through the index. */
class RewriteSpec extends SparkSpecBase {

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
  private lazy val query: Seq[Double] =
    emb.filter(col("vec_id") === 3)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)

  private def knnQuery = emb
    .orderBy(l2Dist(col("embedding"), vecLit(query)).asc, col("vec_id").asc)
    .limit(12)

  test("rule rewrites TopN(dist) to an index candidate filter, exactly") {
    VectorIndexes.drop("rw_ivf")
    VectorIndexes.enableRewrite(spark)
    val expected = knnQuery.select("vec_id").collect().map(_.getLong(0)).toSeq

    VectorIndexes.createIvfFlat("rw_ivf", "embeddings", emb,
      "vec_id", "embedding", lists = 8, probeLists = 8)
    val rewritten = knnQuery
    val planStr = rewritten.queryExecution.optimizedPlan.toString
    assert(planStr.contains("__graft_knn_id"), s"no rewrite in:\n$planStr")
    val got = rewritten.select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == expected) // probe=lists index is exact -> identical rows
    VectorIndexes.drop("rw_ivf")
  }

  test("method=none disables the rewrite (vector.03 semantics)") {
    VectorIndexes.enableRewrite(spark)
    VectorIndexes.createIvfFlat("rw_ivf2", "embeddings", emb,
      "vec_id", "embedding", lists = 8, probeLists = 8)
    spark.conf.set("graft.vector_index_method", "none")
    try {
      val planStr = knnQuery.queryExecution.optimizedPlan.toString
      assert(!planStr.contains("__graft_knn_id"))
    } finally {
      spark.conf.unset("graft.vector_index_method")
      VectorIndexes.drop("rw_ivf2")
    }
  }

  test("non-indexed column/table is left alone") {
    VectorIndexes.enableRewrite(spark)
    val docs = Tables.load(spark, sfDir, "documents")
    val planStr = docs.orderBy(col("n_chars").asc).limit(3)
      .queryExecution.optimizedPlan.toString
    assert(!planStr.contains("__graft_knn_id"))
  }

  test("WHERE-filtered KNN is NOT rewritten and returns the full k rows") {
    // A filter between the Sort and the leaf changes the row set: the
    // true k nearest *qualifying* rows need not be among the global
    // top-k, so serving it through the index would drop rows (the
    // reference rule only matches TopN over a bare scan/projection,
    // vector_index_scan.cpp:102-129).
    VectorIndexes.enableRewrite(spark)
    VectorIndexes.createIvfFlat("rw_ivf4", "embeddings", emb,
      "vec_id", "embedding", lists = 8, probeLists = 8)
    try {
      val filtered = emb.filter(col("vec_id") % 2 === 0)
        .orderBy(l2Dist(col("embedding"), vecLit(query)).asc,
          col("vec_id").asc)
        .limit(10)
      val planStr = filtered.queryExecution.optimizedPlan.toString
      assert(!planStr.contains("__graft_knn_id"),
        s"filtered KNN must not be index-served:\n$planStr")
      val rows = filtered.select("vec_id").collect().map(_.getLong(0))
      assert(rows.length == 10)
      assert(rows.forall(_ % 2 == 0))
    } finally VectorIndexes.drop("rw_ivf4")
  }

  test("descending order is not rewritten (index serves ascending only)") {
    VectorIndexes.enableRewrite(spark)
    VectorIndexes.createIvfFlat("rw_ivf3", "embeddings", emb,
      "vec_id", "embedding", lists = 8, probeLists = 8)
    try {
      val planStr = emb
        .orderBy(l2Dist(col("embedding"), vecLit(query)).desc)
        .limit(5).queryExecution.optimizedPlan.toString
      assert(!planStr.contains("__graft_knn_id"))
    } finally VectorIndexes.drop("rw_ivf3")
  }
}
