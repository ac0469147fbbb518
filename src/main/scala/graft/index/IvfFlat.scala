package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{DistanceMetric, NearestCentroid}

/** IVFFlat vector index, Spark-first.
  *
  * Reference semantics (`src/storage/index/ivfflat_index.cpp`):
  *  - build = k-means seeded with the FIRST `lists` input vectors
  *    (`:82-84`), a fixed 50 assign+recompute iterations (`:86-89`);
  *    empty clusters get zero-vector centroids (`:60-73`). Here the
  *    50 is a cap: the rounds stop at the first one whose recomputed
  *    centroids are bit-equal to its input, because every later round
  *    would repeat it exactly — same centroids and buckets, bit for
  *    bit, in a fraction of the rounds.
  *  - insert = assign to nearest centroid, append to its bucket
  *    (`:92-95`); centroids never move after build.
  *  - scan = rank NON-EMPTY centroids by distance to the query, probe
  *    the nearest `probe_lists` buckets, top-`limit` per bucket, merge
  *    (`:104-144`).
  *
  * Spark design: centroids live on the driver (lists × dim doubles —
  * small by construction); the bucketed vectors stay a DataFrame
  * partitioned by bucket id. Assignment runs inside whole-stage codegen
  * via [[NearestCentroid]]; the per-iteration centroid recompute is one
  * partial-aggregated groupBy over (bucket, dim). Scan filters to the
  * probed buckets (partition pruning when persisted) and takes a global
  * top-k — per-partition heaps, no shuffle.
  *
  * Determinism: the driver-local path sums sequentially (bit-identical
  * run to run); the distributed path merges per-partition sums in
  * partition order, so it is deterministic for a fixed partitioning of
  * the training data. At 100TB you'd k-means a sample and keep the
  * assign pass full-scan; `sampleFraction` exposes that.
  */
final case class IvfFlatModel(
    centroids: Array[Array[Double]],
    metric: DistanceMetric.Value,
    probeLists: Int,
    vecCol: String,
    buckets: DataFrame) { // columns: __bucket, <id cols...>, <vec col>

  /** Computed once per model (a scan would otherwise run a distinct
    * job per lookup); insert() copies carry their own fresh value. */
  @transient private lazy val nonEmptyCache: Seq[Int] =
    IvfFlat.nonEmptyBuckets(buckets)

  /** The `probeLists` buckets among `nonEmpty` whose centroids are
    * nearest `q`, nearest first (ties by bucket id) — reference
    * ScanVectorKey's centroid ranking, on the driver (lists × dim). */
  def probed(q: Array[Double], nonEmpty: Iterable[Int]): Seq[Int] =
    nonEmpty.toSeq
      .map(b => b -> NearestCentroid.distance(q, centroids(b), metric.id))
      .sortBy { case (b, d) => (d, b) }
      .take(probeLists).map(_._1)

  /** Non-empty-bucket centroid ranking happens on the driver (tiny);
    * the data-side work is a pruned scan + top-k. */
  def scan(query: Seq[Double], k: Int, tieBreak: Option[String] = None)
      : DataFrame = {
    val probed = this.probed(query.toArray, nonEmptyCache)
    val pruned = buckets.filter(col("__bucket").isin(probed: _*))
    Knn.bruteForce(pruned, vecCol, query, k, metric, tieBreak)
      .drop("__bucket")
  }

  /** `rows` (id columns + vector column) in the bucket layout, each
    * assigned to its nearest centroid — map-side, no shuffle. */
  def assign(rows: DataFrame): DataFrame =
    rows.withColumn("__bucket",
      NearestCentroid.column(col(vecCol), centroids, metric))
      .select(buckets.columns.map(col): _*)

  /** Incremental maintenance (reference InsertVectorEntry `:92-95`):
    * assign new rows to existing centroids, append. Centroids stay put. */
  def insert(rows: DataFrame): IvfFlatModel =
    copy(buckets = buckets.unionAll(assign(rows)))

  /** Delete maintenance — the OTHER half of index lifecycle (the
    * reference leaves even insert maintenance as a TODO,
    * src/execution/insert_executor.cpp:45): drop matching rows from
    * their buckets; centroids stay put, so surviving rows keep their
    * assignment and probe recall is unaffected. Eager filter over the
    * bucketed layout (a log-structured store would tombstone and
    * compact — same visible semantics, which is what the oracle
    * pins). */
  def delete(pred: Column): IvfFlatModel =
    copy(buckets = buckets.filter(!pred))

  /** Persist bucketed layout: partitioned by bucket id so scan-time
    * probe filters become partition pruning at any scale. Centroids +
    * model params ride along in `/meta`, so [[IvfFlat.load]] is
    * self-contained (no caller-side centroid bookkeeping). */
  def save(path: String): Unit = {
    val spark = buckets.sparkSession
    import spark.implicits._
    buckets.write.mode("overwrite").partitionBy("__bucket")
      .parquet(path + "/buckets")
    centroids.toSeq.zipWithIndex
      .map { case (c, b) => (b, c.toSeq, metric.id, probeLists, vecCol) }
      .toDF("b", "cv", "metric", "probe_lists", "vec_col")
      .repartition(1).write.mode("overwrite").parquet(path + "/meta")
  }

  /** Batch KNN JOIN through the index: rank centroids per query
    * (broadcast centroid table — lists × dim, tiny), keep the
    * `probeLists` nearest buckets per query, join candidates on
    * __bucket (co-located partition-pruned reads when `save`d), exact
    * top-k per query among candidates. One shuffle on the bucket id,
    * data touched = probed buckets only — the shape that serves 10⁶
    * queries against 10¹⁰ vectors. probeLists = lists ⇒ exact. */
  /** `broadcastBuckets`: hash-join the probed queries against a
    * BROADCAST of the bucket table instead of shuffling both sides on
    * `__bucket`. The shuffle join's parallelism is capped at `lists`
    * distinct keys — degenerate when lists << cores (q49 probes 8
    * buckets: 8 active reducers dragging every candidate pair's two
    * vectors through the exchange). With the data side broadcast the
    * distances and the maxDist filter run map-side on the query
    * partitioning. Use when the indexed table fits an executor (the
    * scale path keeps the default: lists is O(sqrt n) there, so the
    * bucket join parallelizes). */
  def knnJoin(queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, maxDist: Option[Double] = None,
      broadcastBuckets: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = buckets.sparkSession
    import spark.implicits._
    val nonEmpty = nonEmptyCache.toSet
    val centDf = centroids.toSeq.zipWithIndex
      .collect { case (c, b) if nonEmpty(b) => (b, c.toSeq) }
      .toDF("__bucket", "__cv")
    val q = queries.select(col(qIdCol).as("q_id"),
      col(qVecCol).cast("array<double>").as("__qv"))
    val cdist = Knn.metricCol(col("__cv"), col("__qv"), metric)
    val wProbe = Window.partitionBy("q_id")
      .orderBy(col("__cdist").asc, col("__bucket").asc)
    val probed = q.crossJoin(broadcast(centDf))
      .withColumn("__cdist", cdist)
      .withColumn("__crk", row_number().over(wProbe))
      .filter(col("__crk") <= probeLists)
      .select(col("q_id"), col("__qv"), col("__bucket"))
    val idCols = buckets.columns.filterNot(c =>
      c == "__bucket" || c == vecCol).toSeq
    val dist = Knn.metricCol(col(vecCol), col("__qv"), metric)
    val wK = Window.partitionBy("q_id")
      .orderBy(col("dist").asc, col(idCols.head).asc)
    val dataSide = if (broadcastBuckets) broadcast(buckets) else buckets
    val withDist = probed.join(dataSide, "__bucket")
      .withColumn("dist", dist)
    // a caller-supplied distance bound (range-query use) prunes the
    // candidate set BEFORE the top-k window shuffle — for near-dup
    // joins this collapses the window input from ~|probed candidates|
    // to ~|qualifying pairs| without affecting which rows can qualify
    val bounded = maxDist.fold(withDist)(m =>
      withDist.filter(col("dist") <= m))
    bounded
      // project the vectors away BEFORE the top-k window: the q_id
      // shuffle then moves (ids, dist) instead of two dim-sized arrays
      // per candidate pair
      .select((Seq(col("q_id")) ++ idCols.map(col) ++ Seq(col("dist"))): _*)
      .withColumn("rk", row_number().over(wK))
      .filter(col("rk") <= k)
  }

  /** Batch KNN JOIN, inverted-serve shape: broadcast a BUCKET → probing
    * QUERIES index (per query: rank centroids, keep `probeLists`
    * buckets; invert to bucket-keyed lists — |q| × probe entries,
    * tiny), then ONE pass over the bucketed data with per-query
    * bounded heaps: each row looks up its bucket's probing queries
    * (average |q|·probe/lists of them) and evaluates ONLY those — no
    * join, no shuffle of candidates; the merge moves P × |q| × k rows.
    * Compare [[knnJoin]], which shuffles every candidate PAIR through
    * the top-k window: same semantics (identical rows, same (dist, id)
    * tie-break — IndexSpec pins equality), but at many-queries scale
    * the pair shuffle IS the cost, and this shape deletes it. This is
    * the variant VectorScaleBench measures at 1M rows.
    * Output: (q_id, d_id, dist, rk). */
  def knnJoinHeap(queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = buckets.sparkSession
    import spark.implicits._
    val nonEmpty = nonEmptyCache
    val metricId = metric.id
    val qRows = queries
      .select(col(qIdCol).cast("long"), col(qVecCol).cast("array<double>"))
      .filter(col(qVecCol).isNotNull)
      .as[(Long, Array[Double])].collect()
    // per query: the probeLists nearest non-empty buckets (driver —
    // |q| × lists distances over broadcast-small centroids)
    val probedOf: Array[Array[Int]] =
      qRows.map { case (_, qv) => probed(qv, nonEmpty).toArray }
    // inverted: bucket -> ordinals of the queries probing it
    val byBucket: Map[Int, Array[Int]] = probedOf.zipWithIndex
      .flatMap { case (bs, qi) => bs.map(_ -> qi) }
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2) }
    val qB = spark.sparkContext.broadcast(qRows)
    val idxB = spark.sparkContext.broadcast(byBucket)
    val idCol = buckets.columns
      .filterNot(c => c == "__bucket" || c == vecCol).head
    val localTopK = buckets
      .select(col("__bucket"), col(idCol).cast("long"),
        col(vecCol).cast("array<double>"))
      .as[(Int, Long, Array[Double])]
      .mapPartitions { it =>
        val qs = qB.value; val inv = idxB.value
        val ord = Ordering.Tuple2[Double, Long]
        val heaps = Array.fill(qs.length)(
          collection.mutable.PriorityQueue.empty[(Double, Long)](ord))
        it.foreach { case (b, did, dv) =>
          inv.get(b) match {
            case Some(qis) =>
              var i = 0
              while (i < qis.length) {
                val qi = qis(i)
                val dist = NearestCentroid.distance(dv, qs(qi)._2, metricId)
                val h = heaps(qi)
                if (h.size < k) h.enqueue((dist, did))
                else if (ord.lt((dist, did), h.head)) {
                  h.dequeue(); h.enqueue((dist, did))
                }
                i += 1
              }
            case None => ()
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          // NearestCentroid's L2 is the squared form (rank-equivalent);
          // emitted dist must match l2_dist (WITH sqrt), like Knn.join
          h.iterator.map { case (dist, did) =>
            (qs(qi)._1, did,
              if (metricId == 0) math.sqrt(dist) else dist) } }
      }.toDF("q_id", "d_id", "dist")
    val w = Window.partitionBy("q_id")
      .orderBy(col("dist").asc, col("d_id").asc)
    localTopK
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }
}

object IvfFlat {

  /** Max training-set size (rows × dim doubles) trained driver-locally:
    * 2^23 doubles = 64 MB. Above it, iterations run distributed. */
  val driverTrainLimit: Long = 1L << 23

  private[index] def nonEmptyBuckets(buckets: DataFrame): Seq[Int] =
    buckets.select("__bucket").distinct().collect().map(_.getInt(0)).toSeq

  private def recompute(sums: Array[Array[Double]], counts: Array[Long],
      lists: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(lists) { b =>
      if (counts(b) == 0) new Array[Double](dim) // empty -> zeros (ref :69-73)
      else {
        val a = new Array[Double](dim); var p = 0
        while (p < dim) { a(p) = sums(b)(p) / counts(b); p += 1 }
        a
      }
    }

  /** True when `a` and `b` hold the same doubles bit for bit (raw bits:
    * `0.0` differs from `-0.0`, a NaN equals itself). A Lloyd round is a
    * function of its input centroids' bits, so a round whose output
    * is [[sameBits]] its input is a fixed point: every later round
    * repeats it exactly. */
  private[index] def sameBits(a: Array[Array[Double]],
      b: Array[Array[Double]]): Boolean = {
    if (a.length != b.length) return false // fewer seeds than lists
    var i = 0
    while (i < a.length) {
      val x = a(i); val y = b(i); var p = 0
      while (p < x.length) {
        if (java.lang.Double.doubleToRawLongBits(x(p)) !=
            java.lang.Double.doubleToRawLongBits(y(p))) return false
        p += 1
      }
      i += 1
    }
    true
  }

  /** Sequential Lloyd's over driver-held vectors — bit-exact analogue of
    * the reference loop (`ivfflat_index.cpp:86-89`). Returns
    * (last-assignment centroids, final updated centroids, rounds run):
    * the reference buckets rows with the first and ranks probes with
    * the second (FindCentroids fills buckets before the update lands).
    * `iterations` caps the rounds; they stop early at the fixed point
    * ([[sameBits]]), where both centroid sets are equal and equal to
    * what the remaining rounds would return. */
  private[index] def localLloyd(vecs: Array[Array[Double]],
      init: Array[Array[Double]], lists: Int, iterations: Int,
      metric: DistanceMetric.Value)
      : (Array[Array[Double]], Array[Array[Double]], Int) = {
    val (assignCs, cs, rounds, _) =
      lloyd(vecs, init, lists, iterations, metric)
    (assignCs, cs, rounds)
  }

  /** [[localLloyd]], plus the last round's bucket of each vector — the
    * nearest of the last-assignment centroids, the bucket the model's
    * layout gives its row. */
  private def lloyd(vecs: Array[Array[Double]],
      init: Array[Array[Double]], lists: Int, iterations: Int,
      metric: DistanceMetric.Value)
      : (Array[Array[Double]], Array[Array[Double]], Int, Array[Int]) = {
    var cs = init
    var assignCs = init
    val dim = init(0).length
    val metricId = metric.id
    val buckets = new Array[Int](vecs.length)
    var rounds = 0
    var fixed = false
    while (rounds < iterations && !fixed) {
      val sums = Array.fill(lists)(new Array[Double](dim))
      val counts = new Array[Long](lists)
      var j = 0
      while (j < vecs.length) {
        val v = vecs(j)
        val b = NearestCentroid.nearest(v, cs, metricId)
        buckets(j) = b
        val s = sums(b); var p = 0
        while (p < dim) { s(p) += v(p); p += 1 }
        counts(b) += 1
        j += 1
      }
      assignCs = cs
      cs = recompute(sums, counts, lists, dim)
      rounds += 1
      fixed = sameBits(cs, assignCs)
    }
    (assignCs, cs, rounds, buckets)
  }

  /** Build per the reference recipe. `df` must contain `idCols` and
    * `vecCol`; input order for seeding = ascending first id column. */
  def build(
      df: DataFrame,
      idCols: Seq[String],
      vecCol: String,
      lists: Int,
      probeLists: Int,
      metric: DistanceMetric.Value = DistanceMetric.L2,
      iterations: Int = 50,
      sampleFraction: Double = 1.0,
      driverTrainLimit: Long = IvfFlat.driverTrainLimit): IvfFlatModel =
    train(df, idCols, vecCol, lists, probeLists, metric, iterations,
      sampleFraction, driverTrainLimit)._1

  /** [[build]], plus the model's posting lists over `idCols.head` when
    * the build already holds them: training covered every row
    * (`sampleFraction >= 1`) on the driver, so the last Lloyd round's
    * assignment is each row's bucket in the model's layout. */
  private[index] def train(
      df: DataFrame,
      idCols: Seq[String],
      vecCol: String,
      lists: Int,
      probeLists: Int,
      metric: DistanceMetric.Value = DistanceMetric.L2,
      iterations: Int = 50,
      sampleFraction: Double = 1.0,
      driverTrainLimit: Long = IvfFlat.driverTrainLimit)
      : (IvfFlatModel, Option[VectorIndexes.PostingLists]) = {
    import df.sparkSession.implicits._
    require(iterations >= 1, "ivfflat: iterations must be >= 1")
    val data = df.select((idCols :+ vecCol).map(col): _*)
      .withColumn(vecCol, col(vecCol).cast("array<double>"))
      .filter(col(vecCol).isNotNull) // null vectors are unindexable
    val trainData =
      if (sampleFraction >= 1.0) data
      else data.sample(withReplacement = false, sampleFraction, seed = 42)
    val (n, maxDim) = Hnsw.corpusShape(trainData, vecCol)
    require(n > 0, "ivfflat: empty input")

    // Seed: first `lists` vectors in input order (reference :82-84).
    // Lloyd's, at most `iterations` rounds (reference :86-89 always
    // runs 50), stopping at the fixed point (`sameBits`) with the full
    // count's result, bit for bit. The at-scale recipe is "train on a
    // (sampled) set that fits the driver, assign full-scan distributed"
    // — same as the reference, whose BuildIndex holds every vector in
    // memory anyway. The driver path collects (id, vector) once,
    // unboxed, and takes as seeds the first `lists` in id order (a
    // stable sort on the driver, nulls first as `orderBy` puts them).
    // When the training set is too big even sampled,
    // fall back to one shuffle-free job per iteration
    // (per-partition bucket sums merged on the driver in partition
    // order — deterministic for a fixed partitioning, unlike a
    // treeAggregate whose merge order floats with scheduling).
    //
    // Reference subtlety (BuildIndex :86-89 + FindCentroids :61-75):
    // the FINAL buckets are the assignment pass of the LAST iteration,
    // made against the 49-times-updated centroids, while `centroids_`
    // receives one more update from that same pass. We reproduce that:
    // rows are bucketed with `assignCs`, the model ranks probes with
    // the once-more-updated `centroids` (equal to `assignCs` when the
    // rounds stopped at the fixed point).
    val (assignCs, centroids, listed) =
      if (n * maxDim <= driverTrainLimit) {
        // rounds sum in collect (partition) order; seeds and posting
        // lists follow id order
        val rows = trainData.select(col(idCols.head).cast("long"), col(vecCol))
          .as[(Option[Long], Array[Double])].collect()
        val vecs = rows.map(_._2)
        val byId = rows.indices.sortBy(rows(_)._1).toArray
        val (a, f, _, buckets) =
          lloyd(vecs, byId.take(lists).map(vecs), lists, iterations, metric)
        val posting =
          if (sampleFraction < 1.0) None
          else {
            val at = byId.filter(rows(_)._1.isDefined)
            Some(VectorIndexes.PostingLists(at.map(rows(_)._1.get),
              at.map(buckets)))
          }
        (a, f, posting)
      } else {
        trainData.cache()
        var centroids: Array[Array[Double]] = trainData
          .orderBy(col(idCols.head).asc).limit(lists)
          .select(vecCol).as[Array[Double]].collect()
        var assignCs = centroids
        val dim = centroids(0).length
        val vecRdd = trainData.select(vecCol).rdd
          .map(_.getSeq[Double](0).toArray)
        vecRdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val metricId = metric.id
        var rounds = 0
        var fixed = false
        while (rounds < iterations && !fixed) {
          val c = centroids
          val parts = vecRdd.mapPartitionsWithIndex { (pid, it) =>
            val s = Array.fill(lists)(new Array[Double](dim))
            val cnt = new Array[Long](lists)
            it.foreach { v =>
              val b = NearestCentroid.nearest(v, c, metricId)
              val sb = s(b); var p = 0
              while (p < dim) { sb(p) += v(p); p += 1 }
              cnt(b) += 1
            }
            Iterator.single((pid, s, cnt))
          }.collect().sortBy(_._1) // merge in partition order: deterministic
          val sums = Array.fill(lists)(new Array[Double](dim))
          val counts = new Array[Long](lists)
          parts.foreach { case (_, s, cnt) =>
            var b = 0
            while (b < lists) {
              val x = sums(b); val y = s(b); var p = 0
              while (p < dim) { x(p) += y(p); p += 1 }
              counts(b) += cnt(b); b += 1
            }
          }
          assignCs = c
          centroids = recompute(sums, counts, lists, dim)
          rounds += 1
          fixed = sameBits(centroids, c)
        }
        vecRdd.unpersist()
        trainData.unpersist()
        (assignCs, centroids, None)
      }

    val buckets = data.withColumn("__bucket",
      NearestCentroid.column(col(vecCol), assignCs, metric))
      .select((Seq("__bucket") ++ idCols ++ Seq(vecCol)).map(col): _*)
    (IvfFlatModel(centroids, metric, probeLists, vecCol, buckets), listed)
  }

  /** Reopen a persisted index — fully self-contained from `/meta`.
    * When a `/stream` directory exists (rows appended by streaming
    * ingestion, [[graft.streaming.StreamOps.ivfIngest]]), its rows are
    * unioned in: both layouts are partitioned by `__bucket`, so probe
    * filters prune partitions across both sides. */
  def load(spark: SparkSession, path: String): IvfFlatModel = {
    val meta = spark.read.parquet(path + "/meta").collect()
      .sortBy(_.getInt(0))
    val centroids = meta.map(_.getSeq[Double](1).toArray)
    val base = spark.read.parquet(path + "/buckets")
    val streamPath = new org.apache.hadoop.fs.Path(path + "/stream")
    val fs = streamPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a stream dir that exists but has no committed files yet (sink
    // initialized, first batch pending) has no inferable schema —
    // treat it as empty rather than failing the load
    val buckets =
      if (fs.exists(streamPath)) {
        // the catch covers ONLY the schema-inference read (no committed
        // files yet); a DRIFTED stream schema must fail the select/union
        // below loudly — silently dropping streamed vectors would make
        // them vanish from search results
        val st =
          try Some(spark.read.parquet(path + "/stream"))
          catch { // schema-inference failure == no committed files
            case _: org.apache.spark.sql.AnalysisException => None
          }
        st.map(t => base.unionByName(t.select(base.columns.map(col): _*)))
          .getOrElse(base)
      } else base
    IvfFlatModel(centroids, DistanceMetric(meta(0).getInt(2)),
      meta(0).getInt(3), meta(0).getString(4), buckets)
  }
}
