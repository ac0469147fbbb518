package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DistanceMetric

import graft.index.{Hnsw, IvfFlat, Knn, VectorIndexes}

/** Vector-index correctness: exactness when probing everything, recall
  * bounds for approximate configs, insert maintenance, k-means
  * invariants, and the index-selection quirk — mirroring what the
  * reference pins via vector.01-05.slt. */
class IndexSpec extends SparkSpecBase {

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    .cache()

  private lazy val query: Seq[Double] =
    emb.filter(col("vec_id") === 7).select("v").head().getSeq[Double](0)

  private def bruteIds(k: Int): Seq[Long] =
    Knn.bruteForce(emb, "v", query, k, DistanceMetric.L2, Some("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq

  test("ivfflat probe=lists is exact (order and ids match brute force)") {
    val m = IvfFlat.build(emb, Seq("vec_id"), "v", lists = 10, probeLists = 10)
    val got = m.scan(query, 15, Some("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == bruteIds(15))
  }

  test("ivfflat partial probe keeps recall >= 0.6 at k=20") {
    val m = IvfFlat.build(emb, Seq("vec_id"), "v", lists = 10, probeLists = 3)
    val got = m.scan(query, 20, Some("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = got.intersect(bruteIds(20).toSet).size / 20.0
    assert(recall >= 0.6, s"recall=$recall")
  }

  test("ivfflat recall is monotone in probe_lists (superset candidates)") {
    val base = IvfFlat.build(emb, Seq("vec_id"), "v", lists = 10,
      probeLists = 10)
    val truth = bruteIds(20).toSet
    val recalls = Seq(1, 2, 4, 10).map { p =>
      val got = base.copy(probeLists = p).scan(query, 20, Some("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      got.intersect(truth).size / 20.0
    }
    // probing more buckets only adds candidates -> non-decreasing
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a },
      s"recalls=$recalls")
    assert(recalls.last == 1.0) // probe=lists is exact
  }

  test("ivfflat bucket invariants: <= lists buckets, all rows assigned") {
    val m = IvfFlat.build(emb, Seq("vec_id"), "v", lists = 10, probeLists = 10)
    assert(m.buckets.count() == emb.count())
    val ids = m.buckets.select("__bucket").distinct()
      .collect().map(_.getInt(0))
    assert(ids.length <= 10 && ids.forall(b => b >= 0 && b < 10))
  }

  test("ivfflat insert-after-build is visible and exact (vector.04/05)") {
    val m = IvfFlat.build(emb.filter(col("vec_id") < 400), Seq("vec_id"),
      "v", lists = 8, probeLists = 8)
    val m2 = m.insert(emb.filter(col("vec_id") >= 400))
    val got = m2.scan(query, 15, Some("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == bruteIds(15))
  }

  test("partitioned hnsw: all rows indexed, recall >= monolithic's floor") {
    val idx = Hnsw.buildPartitioned(emb, "vec_id", "v", m = 12,
      efConstruction = 100, efSearch = 80, numPartitions = 4)
    assert(idx.size == emb.count())
    assert(idx.numParts == 4)
    val got = idx.scan(query.toArray, 10).map(_._1).toSet
    val recall = got.intersect(bruteIds(10).toSet).size / 10.0
    assert(recall >= 0.8, s"recall=$recall")
    // distances ascend
    val ds = idx.scan(query.toArray, 10).map(_._2)
    assert(ds == ds.sorted)
  }

  test("distributed hnsw knn join (probe-all) == brute knn join") {
    // ef >= |data| makes each sub-graph search exhaustive, so the
    // merged distributed join must equal the brute-force join exactly.
    val idx = Hnsw.buildPartitioned(emb, "vec_id", "v", m = 8,
      efConstruction = 64, efSearch = 1 << 24, numPartitions = 4)
    val queries = emb.filter(org.apache.spark.sql.functions
      .col("vec_id") < 10)
    val got = idx.knnJoin(queries, "vec_id", "v", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val want = Knn.join(queries, "v", "vec_id", emb, "v", "vec_id", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == want)
    idx.unpersist()
  }

  test("distributed hnsw insert-after-build: new rows visible, old index intact") {
    val idx = Hnsw.buildPartitioned(emb.filter(col("vec_id") < 300),
      "vec_id", "v", m = 8, efConstruction = 64, efSearch = 1 << 24,
      numPartitions = 4)
    val before = idx.size
    val updated = idx.insert(emb.filter(col("vec_id") >= 300), "vec_id", "v")
    // every row indexed exactly once across the sub-graphs
    assert(updated.size == emb.count())
    // probe-all ef makes the updated index exact over the FULL table
    assert(updated.scan(query.toArray, 10).map(_._1) == bruteIds(10))
    // functional update: the original index is untouched
    assert(idx.size == before)
    idx.unpersist(); updated.unpersist()
  }

  test("distributed hnsw: build on empty input, insert populates it") {
    // the create-index-on-empty-table-then-insert flow: empty
    // sub-graphs still carry the hyperparameters as insert templates
    val idx = Hnsw.buildPartitioned(emb.filter(col("vec_id") < 0),
      "vec_id", "v", m = 8, efConstruction = 64, efSearch = 1 << 24,
      numPartitions = 4)
    assert(idx.size == 0 && idx.scan(query.toArray, 5).isEmpty)
    val updated = idx.insert(emb, "vec_id", "v")
    assert(updated.size == emb.count())
    assert(updated.scan(query.toArray, 10).map(_._1) == bruteIds(10))
    idx.unpersist(); updated.unpersist()
  }

  test("pq: compressed shortlist + exact re-rank keeps recall >= 0.6") {
    val model = graft.index.Pq.build(emb, "vec_id", "v", m = 8, k = 64)
    // shortlist 10% of the corpus through 8-byte codes, re-rank exact
    val n = emb.count().toInt
    val got = model.scan(emb, "vec_id", "v", query, 10,
        shortlist = math.max(50, n / 10))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = got.intersect(bruteIds(10).toSet).size / 10.0
    assert(recall >= 0.6, s"recall=$recall")
    // codes really are M bytes
    val code = model.codes.select("code").head().getAs[Array[Byte]](0)
    assert(code.length == 8)
  }

  test("ivf-pq: pruned probes + compressed shortlist keep recall >= 0.6") {
    val model = graft.index.IvfPq.build(emb, "vec_id", "v",
      lists = 8, m = 8, k = 64)
    val n = emb.count().toInt
    val got = model.scan(emb, "vec_id", "v", query, 10,
        probeLists = 4, shortlist = math.max(50, n / 10))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = got.intersect(bruteIds(10).toSet).size / 10.0
    assert(recall >= 0.6, s"recall=$recall")
    model.unpersist()
  }

  test("pq exact configuration (shortlist >= n) == brute force") {
    val model = graft.index.Pq.build(emb, "vec_id", "v", m = 8, k = 64)
    val got = model.scan(emb, "vec_id", "v", query, 10, shortlist = 1 << 24)
      .select("vec_id", "dist").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Knn.bruteForce(emb, "v", query, 10,
        tieBreak = Some("vec_id"))
      .select("vec_id", "dist").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("hnsw recall >= 0.8 at k=10 with generous ef") {
    val idx = Hnsw.build(emb, "vec_id", "v", m = 12, efConstruction = 100,
      efSearch = 80)
    val got = idx.scan(query.toArray, 10).map(_._1).toSet
    val recall = got.intersect(bruteIds(10).toSet).size / 10.0
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("hnsw tombstone delete: exact survivors probe-all, none leak") {
    val idx = Hnsw.build(emb, "vec_id", "v", m = 8,
      efConstruction = 64, efSearch = 1 << 24)
    // delete the whole true top-3 — the scan must return the NEXT
    // ranked survivors, not resurrect a tombstone
    val top = bruteIds(13)
    top.take(3).foreach(id => assert(idx.delete(id)))
    assert(idx.deletedCount == 3)
    assert(!idx.delete(top.head), "double delete must report false")
    assert(idx.deletedCount == 3)
    val got = idx.scan(query.toArray, 10).map(_._1)
    assert(got == top.drop(3), s"survivor top-10 wrong: $got")
    // moderate-ef scan still returns k results and no tombstones
    val approx = idx.scan(query.toArray, 10, ef = 60).map(_._1)
    assert(approx.size == 10)
    assert(approx.toSet.intersect(top.take(3).toSet).isEmpty,
      "a tombstone leaked into a filtered search")
  }

  test("hnsw distances ascend and match true L2") {
    val idx = Hnsw.build(emb, "vec_id", "v", m = 8, efConstruction = 64,
      efSearch = 40)
    val res = idx.scan(query.toArray, 10)
    assert(res.map(_._2) == res.map(_._2).sorted)
    val byId = emb.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    res.foreach { case (id, d) =>
      val exp = math.sqrt(byId(id).zip(query)
        .map { case (x, y) => (x - y) * (x - y) }.sum)
      assert(math.abs(d - exp) < 1e-9)
    }
  }

  test("sample-trained centroids (the 100TB recipe) keep exact scans") {
    // train on half the vectors; probe=lists stays exact regardless of
    // centroid quality — the properties that let k-means run on a
    // sample at scale
    val m = IvfFlat.build(emb, Seq("vec_id"), "v", lists = 8,
      probeLists = 8, sampleFraction = 0.5)
    val got = m.scan(query, 15, Some("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == bruteIds(15))
    assert(m.buckets.count() == emb.count()) // assign pass is full-scan
  }

  test("distributed k-means path (treeAggregate) is exact too") {
    // force the distributed Lloyd's rounds (driverTrainLimit=0): one
    // job per round, per-partition sums merged in partition order,
    // stopping at the fixed point (not the treeAggregate of the name)
    val m = IvfFlat.build(emb, Seq("vec_id"), "v", lists = 8,
      probeLists = 8, driverTrainLimit = 0L)
    val got = m.scan(query, 15, Some("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == bruteIds(15))
    // same bucket structure invariants as the driver path
    assert(m.buckets.count() == emb.count())
  }

  test("ivfflat exact scan under cosine metric (reference raw-similarity order)") {
    val m = IvfFlat.build(emb, Seq("vec_id"), "v", lists = 6,
      probeLists = 6, metric = DistanceMetric.Cosine)
    val got = m.scan(query, 10, Some("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val brute = Knn.bruteForce(emb, "v", query, 10, DistanceMetric.Cosine,
        Some("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == brute) // ascending raw similarity = least similar first
  }

  test("saved ivfflat probe scan prunes partitions on __bucket") {
    val m = IvfFlat.build(emb, Seq("vec_id"), "v", lists = 8, probeLists = 2)
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    m.save(dir)
    val loaded = IvfFlat.load(spark, dir)
    assert(loaded.centroids.map(_.toSeq) sameElements
      m.centroids.map(_.toSeq))
    assert(loaded.metric == m.metric && loaded.probeLists == m.probeLists)
    val planStr = loaded.scan(query, 10, Some("vec_id"))
      .queryExecution.executedPlan.toString
    // probe filter must reach the scan as PartitionFilters, not a
    // post-scan Filter — the property that makes probes cheap at scale
    assert(planStr.contains("PartitionFilters: [") &&
      planStr.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("__bucket"))
    // and the loaded index still answers exactly like the in-memory one
    val a = m.scan(query, 10, Some("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val b = loaded.scan(query, 10, Some("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(a == b)
  }

  test("pq survives save/load with identical scans") {
    val model = graft.index.Pq.build(emb, "vec_id", "v", m = 8, k = 64)
    val dir = java.nio.file.Files.createTempDirectory("pq_idx").toString
    model.save(dir)
    val loaded = graft.index.Pq.load(spark, dir)
    assert(loaded.m == model.m && loaded.dim == model.dim)
    assert(loaded.codes.count() == model.codes.count())
    val n = emb.count().toInt
    def ids(m: graft.index.PqModel) =
      m.scan(emb, "vec_id", "v", query, 10, shortlist = math.max(50, n / 10))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(ids(loaded) == ids(model))
    model.unpersist(); loaded.unpersist()
  }

  test("pq insert-after-build: appended codes serve exactly, old model intact") {
    val model = graft.index.Pq.build(emb.filter(col("vec_id") < 300),
      "vec_id", "v", m = 8, k = 64)
    val before = model.codes.count()
    val updated = model.insert(emb.filter(col("vec_id") >= 300),
      "vec_id", "v")
    assert(updated.codes.count() == emb.count())
    // shortlist >= n degenerates to exact -> must equal brute force
    // over the FULL table, proving the appended rows are served
    val got = updated.scan(emb, "vec_id", "v", query, 10,
        shortlist = 1 << 24)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == bruteIds(10))
    // functional update: the original model is untouched
    assert(model.codes.count() == before)
    model.unpersist(); updated.unpersist()
  }

  test("ivf-pq insert-after-build routes by frozen centroids, serves exactly") {
    val model = graft.index.IvfPq.build(emb.filter(col("vec_id") < 300),
      "vec_id", "v", lists = 8, m = 8, k = 64)
    val updated = model.insert(emb.filter(col("vec_id") >= 300),
      "vec_id", "v")
    assert(updated.codes.count() == emb.count())
    // every appended code landed in a valid frozen-centroid bucket
    val buckets = updated.codes.select("__bucket").distinct()
      .collect().map(_.getInt(0))
    assert(buckets.forall(b => b >= 0 && b < model.centroids.length))
    // probe-all + shortlist-all is exact over the full table
    val got = updated.scan(emb, "vec_id", "v", query, 10,
        probeLists = 8, shortlist = 1 << 24)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == bruteIds(10))
    model.unpersist(); updated.unpersist()
  }

  test("loaded ivf-pq probe scan prunes partitions on __bucket") {
    val model = graft.index.IvfPq.build(emb, "vec_id", "v",
      lists = 8, m = 8, k = 64)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    model.save(dir)
    model.unpersist()
    val loaded = graft.index.IvfPq.load(spark, dir)
    // force the pruned-probe configuration and read the plan: the
    // probe filter must reach the bucketed parquet as PartitionFilters
    loaded.codes.unpersist() // uncached so the parquet scan shows up
    val df = loaded.scan(emb, "vec_id", "v", query, 10,
      probeLists = 2, shortlist = 50)
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: [") &&
      planStr.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("__bucket"), s"no partition pruning in:\n$planStr")
    // and the exact configuration still equals brute force after load
    val got = loaded.scan(emb, "vec_id", "v", query, 10,
        probeLists = 8, shortlist = 1 << 24)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == bruteIds(10))
  }

  test("pq batch knn join: exact config == brute join; compressed recall holds") {
    val model = graft.index.Pq.build(emb, "vec_id", "v", m = 8, k = 64)
    val queries = emb.filter(col("vec_id") < 15)
    val brute = Knn.join(queries, "v", "vec_id", emb, "v", "vec_id", 5)
      .select("q_id", "d_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = model.knnJoin(queries, "vec_id", "v", emb, "vec_id", "v",
        5, shortlist = 1 << 24)
      .select("q_id", "d_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(exact == brute && brute.size == 15 * 5)
    // compressed shortlist: overall recall of the true top-5 pairs
    val n = emb.count().toInt
    val approx = model.knnJoin(queries, "vec_id", "v", emb, "vec_id", "v",
        5, shortlist = math.max(50, n / 10))
      .select("q_id", "d_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = brute.map { case (q, dd, _) => (q, dd) }
    val recall = approx.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.6, s"recall=$recall")
    model.unpersist()
  }

  test("ivf-pq batch knn join: exact config == brute; pruned recall holds") {
    val model = graft.index.IvfPq.build(emb, "vec_id", "v",
      lists = 8, m = 8, k = 64)
    val queries = emb.filter(col("vec_id") < 15)
    val brute = Knn.join(queries, "v", "vec_id", emb, "v", "vec_id", 5)
      .select("q_id", "d_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = model.knnJoin(queries, "vec_id", "v", emb, "vec_id", "v",
        5, probeLists = 8, shortlist = 1 << 24)
      .select("q_id", "d_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(exact == brute && brute.size == 15 * 5)
    // pruned probes + compressed shortlist: overall pair recall
    val n = emb.count().toInt
    val approx = model.knnJoin(queries, "vec_id", "v", emb, "vec_id", "v",
        5, probeLists = 3, shortlist = math.max(50, n / 10))
      .select("q_id", "d_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = brute.map { case (q, dd, _) => (q, dd) }
    val recall = approx.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.5, s"recall=$recall")
    model.unpersist()
  }

  test("ivf knn join (probe=lists) == brute knn join, exactly") {
    val m = IvfFlat.build(emb, Seq("vec_id"), "v", lists = 8, probeLists = 8)
    val queries = emb.filter(col("vec_id") < 15)
    val brute = Knn.join(queries, "v", "vec_id", emb, "v", "vec_id", 5)
      .select("q_id", "d_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ivf = m.knnJoin(queries, "vec_id", "v", 5)
      .select("q_id", "vec_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ivf == brute && brute.size == 15 * 5)
  }

  test("broadcast hnsw knn join == per-query driver scans") {
    val idx = Hnsw.build(emb, "vec_id", "v", m = 8, efConstruction = 64,
      efSearch = 40)
    val queries = emb.filter(col("vec_id") < 10)
    val joined = Hnsw.knnJoin(queries, "vec_id", "v", idx, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    (0L until 10L).foreach { qid =>
      val qv = emb.filter(col("vec_id") === qid).select("v")
        .head().getSeq[Double](0).toArray
      idx.scan(qv, 5).zipWithIndex.foreach { case ((did, _), i) =>
        assert(joined((qid, i + 1)) == did)
      }
    }
  }

  test("q261 ivfflat delete: survivors only, composes with insert, " +
      "empty buckets handled") {
    val model = IvfFlat.build(emb, Seq("vec_id"), "v",
      lists = 8, probeLists = 8)
    // deleting the brute top-1 must promote the runner-up
    val top2 = bruteIds(2)
    val afterDel = model.delete(col("vec_id") === top2.head)
      .scan(query, 1, tieBreak = Some("vec_id"))
      .select("vec_id").head().getLong(0)
    assert(afterDel == top2(1))
    // delete-then-insert round-trips to the original top-k
    val row = emb.filter(col("vec_id") === top2.head)
    val back = model.delete(col("vec_id") === top2.head)
    val reinserted = back.insert(row) // insert assigns its own bucket
      .scan(query, 5, tieBreak = Some("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(reinserted == bruteIds(5))
    // deleting EVERYTHING leaves empty buckets and an empty scan, not
    // a crash (the non-empty-bucket cache must recompute on the copy)
    assert(model.delete(lit(true)).scan(query, 3).count() == 0)
    // the original model is untouched (copies, not mutation)
    assert(model.scan(query, 1, tieBreak = Some("vec_id"))
      .select("vec_id").head().getLong(0) == top2.head)
  }

  test("index selection honors vector_index_method (vector.03 semantics)") {
    VectorIndexes.drop("t_ivf"); VectorIndexes.drop("t_hnsw")
    VectorIndexes.createIvfFlat("t_ivf", "emb_t", emb, "vec_id", "v", 8, 8)
    VectorIndexes.createHnsw("t_hnsw", "emb_t", emb, "vec_id", "v", 8, 64, 40)
    // both indexes sit on `emb`'s plan leaf — the key the rule selects by
    val leaf = VectorIndexes.get("t_ivf").flatMap(_.leaf)
    assert(leaf.isDefined && VectorIndexes.get("t_hnsw").flatMap(_.leaf) == leaf)
    def pick(method: String) =
      VectorIndexes.selectByLeaf(leaf.get, "v", DistanceMetric.L2, method)
        .map(_.method)
    assert(pick("ivfflat").contains("ivfflat"))
    assert(pick("hnsw").contains("hnsw"))
    assert(pick("none").isEmpty)
    assert(pick("").nonEmpty) // unset: any matching-metric index
    // unset + wrong metric still matches some index (reference quirk :52-59)
    assert(VectorIndexes.selectByLeaf(leaf.get, "v", DistanceMetric.Cosine, "")
      .nonEmpty)
    VectorIndexes.drop("t_ivf"); VectorIndexes.drop("t_hnsw")
  }

  test("radius search: IVF triangle-inequality bound is SOUND (== brute)") {
    val q = Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val (res, probed, total) = operators.VectorOps.radiusSearchOn(
      Tables.load(spark, sfDir, "embeddings"), "vec_id", "embedding",
      q, r = 1.25, lists = 8)
    val got = res.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val brute = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        round(functions.VectorFunctions.l2Dist(
          col("embedding").cast("array<double>"),
          functions.VectorFunctions.vecLit(q)), 6).as("dist"))
      .filter(col("dist") <= 1.25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == brute)
    assert(probed <= total)
  }

  test("radius search prunes buckets hard on a clustered corpus") {
    // 4 tight blobs, centers 10 apart per dim (inter-blob L2 = 40 at
    // dim 16) — the regime production embedding corpora cluster into.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(16)(_ => c * 10.0 + rnd.nextGaussian() * 0.1))
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = rows.head._2.toSeq
    val (res, probed, total) = operators.VectorOps.radiusSearchOn(
      df, "vec_id", "embedding", q, r = 1.0, lists = 8)
    assert(probed < total, s"no pruning: $probed of $total buckets probed")
    val got = res.select("vec_id").collect().map(_.getLong(0)).toSet
    val brute = rows.filter { case (_, v) =>
      math.sqrt(v.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum) <= 1.0
    }.map(_._1).toSet
    assert(got == brute)
    assert(brute.size == 100) // exactly blob 0
  }

  test("ivf knnJoinHeap (inverted serve) == knnJoin (window join), " +
      "row for row") {
    import spark.implicits._
    val m = IvfFlat.build(emb, Seq("vec_id"), "v", lists = 10,
      probeLists = 3)
    val qs = emb.filter(col("vec_id") < 25)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("q_id"), col("d_id"), round(col("dist"), 9).as("d"),
        col("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val win = rows(m.knnJoin(qs, "q_id", "qv", k = 5)
      .withColumnRenamed("vec_id", "d_id"))
    val heap = rows(m.knnJoinHeap(qs, "q_id", "qv", k = 5))
    assert(heap == win)
  }

  test("hnsw driver build refuses an over-bound corpus loudly") {
    // the 64 MB collect bound: a corpus over `driverLimit` cells must
    // fail fast with a routing message, never OOM mid-collect
    val e = intercept[IllegalArgumentException] {
      Hnsw.build(emb, "vec_id", "v", m = 4, efConstruction = 16,
        efSearch = 16, driverLimit = 100L)
    }
    assert(e.getMessage.contains("buildPartitioned"))
  }
}
