package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NearestCentroid

/** Product quantization — the storage-side scale lever the reference
  * lacks (its vectors stay float arrays in the heap; at 100TB the
  * vectors ARE the dataset, and 64 dims × 8 bytes → M bytes/row is a
  * 64× working-set cut for the candidate-generation scan).
  *
  * Train: split the dimension into M subspaces; per subspace run the
  * same seeded k-means the IVFFlat build uses (first-K seed, capped
  * rounds that stop at the fixed point, deterministic) over a
  * driver-held sample — codebooks are M × K × (dim/M) doubles, tiny.
  * Encode: one distributed pass mapping each vector to M one-byte
  * codes.
  *
  * Serve (asymmetric distance, ADC): per query build the M × K table
  * of exact sub-distances query-vs-codeword on the driver, broadcast
  * it, and the scan scores each row with M table lookups — no float
  * vector is read. Shortlist the top C candidates per partition
  * (bounded heap, same shape as Knn.join), then RE-RANK the C
  * survivors exactly by joining back to the true vectors.
  * `shortlist >= n` degenerates to exact brute force — the
  * configuration the DuckDB oracle pins (q67), while PqSpec gates the
  * compressed configuration's recall.
  */
final case class PqModel(
    codebooks: Array[Array[Array[Double]]], // [m][k][dsub]
    dim: Int,
    codes: DataFrame) { // (id, code: Array[Byte])

  val m: Int = codebooks.length
  private val dsub = dim / m

  def unpersist(): Unit = codes.unpersist()

  /** ADC shortlist over an arbitrary (id, code) frame — shared by the
    * plain PQ scan and IVF-PQ's bucket-pruned scan so there is ONE
    * copy of the LUT/heap logic. L2 only: the per-subspace
    * sum-of-sub-distances decomposition is an L2 identity. Returns a
    * single-column (__cand_id) frame of the C best candidates per
    * partition. */
  private[index] def adcShortlist(codeRows: DataFrame,
      query: Seq[Double], shortlist: Int): DataFrame = {
    val spark = codeRows.sparkSession
    import spark.implicits._
    val q = query.toArray
    // driver-side lookup table: exact distance from the query's m-th
    // sub-vector to every codeword (M*K doubles — tiny)
    val lut: Array[Array[Double]] = Array.tabulate(m) { mi =>
      val qs = java.util.Arrays.copyOfRange(q, mi * dsub, (mi + 1) * dsub)
      codebooks(mi).map(cw => NearestCentroid.distance(qs, cw, 0))
    }
    val lutB = spark.sparkContext.broadcast(lut)
    val c = shortlist
    codeRows.select(col("id"), col("code"))
      .as[(Long, Array[Byte])].mapPartitions { it =>
        val t = lutB.value
        // bounded heap: keep the C best approximate scores per partition
        val heap = collection.mutable.PriorityQueue
          .empty[(Double, Long)](Ordering.Tuple2[Double, Long])
        it.foreach { case (id, code) =>
          var s = 0.0
          var mi = 0
          while (mi < code.length) { s += t(mi)(code(mi) & 0xff); mi += 1 }
          if (heap.size < c) heap.enqueue((s, id))
          else if (s < heap.head._1) { heap.dequeue(); heap.enqueue((s, id)) }
        }
        heap.iterator.map(_._2)
      }.toDF("__cand_id")
  }

  /** Exact top-k via ADC shortlist + exact re-rank. `data` must be the
    * encoded table's source (id + vector) for the re-rank join. */
  def scan(data: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, shortlist: Int): DataFrame = {
    val cand = adcShortlist(codes, query, shortlist)
    // exact re-rank of the C survivors only
    Knn.bruteForce(
      data.join(cand, data(idCol) === col("__cand_id"), "left_semi"),
      vecCol, query, k, tieBreak = Some(idCol))
  }

  /** Batch KNN JOIN through the compressed codes — the PQ member of
    * the batch-serving family (Knn.join brute, IvfFlatModel.knnJoin,
    * Hnsw.knnJoin): top-k data neighbors for EVERY query row in one
    * job. Queries are broadcast (small side by contract); each code
    * partition builds the per-query ADC LUTs ONCE (|q| × M × K
    * sub-distances, tiny), scans its codes once with M byte-lookups
    * per (row, query) — no float vector is read — and keeps a bounded
    * heap of the `shortlist` best per query. The exact re-rank joins
    * true vectors back for the merged shortlist only, so the shuffle
    * is O(partitions × shortlist) rows per query, never |data|.
    * shortlist >= n degenerates to the exact brute join (the oracle
    * configuration); PqSpec-style recall applies when compressed.
    * Output: (q_id, d_id, dist, rk), L2, ties broken by d_id. */
  def knnJoin(queries: DataFrame, qIdCol: String, qVecCol: String,
      data: DataFrame, dIdCol: String, dVecCol: String, k: Int,
      shortlist: Int): DataFrame = {
    val qRows = Pq.collectQueries(queries, qIdCol, qVecCol)
    val cand = Pq.adcCandidates(codes, qRows, codebooks, shortlist, None)
    Knn.exactRerank(cand, queries, qIdCol, qVecCol,
      data, dIdCol, dVecCol, k)
  }

  /** Incremental insert — the InsertVectorEntry contract
    * (reference vector_index.h:11-32): encode the new rows with the
    * FROZEN codebooks and append. Standard PQ practice — codebooks are
    * never retrained on insert; if the data distribution drifts far
    * from the training sample the quantization error grows and the
    * remedy is a rebuild, not an in-place retrain (retraining would
    * silently invalidate every previously issued code). Functional:
    * the original model remains valid; the caller owns unpersisting
    * whichever copy it retires. */
  def insert(rows: DataFrame, idCol: String, vecCol: String): PqModel = {
    val appended = codes
      .unionByName(Pq.encode(rows, idCol, vecCol, codebooks))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    appended.count() // materialize while the old cache is live
    copy(codes = appended)
  }

  /** Persist the code table + codebooks — the restart story for the
    * compressed layout (the codes ARE the serving working set; without
    * this every restart pays the full distributed re-encode). Reopen
    * with [[Pq.load]]. */
  def save(path: String): Unit = {
    val spark = codes.sparkSession
    import spark.implicits._
    codes.write.mode("overwrite").parquet(path + "/codes")
    codebooks.zipWithIndex.flatMap { case (cb, mi) =>
      cb.zipWithIndex.map { case (cw, ki) => (mi, ki, cw.toSeq) }
    }.toSeq.toDF("mi", "ki", "cw")
      .repartition(1).write.mode("overwrite").parquet(path + "/codebooks")
  }
}

object Pq {

  /** Seeded subspace k-means, reference-style: first-K seed, at most
    * `iterations` rounds (stopping early at the fixed point, which
    * changes no codeword), empty cluster -> zero codeword — literally
    * `IvfFlat.localLloyd`, per subspace, trained on a deterministic
    * UNIFORM sample (seeded Bernoulli — a positional take() would
    * train on whatever the first partitions hold). */
  def build(df: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int = 256, iterations: Int = 10,
      sampleFraction: Double = 0.25): PqModel = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long"),
        col(vecCol).cast("array<double>"))
      .filter(col(vecCol).isNotNull)
      .as[(Long, Array[Double])]
    var sample = base
      .sample(withReplacement = false, sampleFraction, seed = 42)
      .map(_._2).collect()
    if (sample.isEmpty) sample = base.map(_._2).take(64) // tiny inputs
    require(sample.nonEmpty, "pq: empty input")
    val dim = sample(0).length
    require(dim % m == 0, s"pq: dim $dim not divisible by m=$m")
    val dsub = dim / m
    val codebooks = Array.tabulate(m) { mi =>
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, mi * dsub, (mi + 1) * dsub))
      val kk = math.min(k, sub.length)
      IvfFlat.localLloyd(sub, sub.take(kk).map(_.clone()), kk,
        iterations, org.apache.spark.sql.graft.DistanceMetric.L2)._2
    }
    val codes = encode(df, idCol, vecCol, codebooks)
      // the codes ARE the serving working set — persist, or every
      // scan re-runs the distributed encode
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    PqModel(codebooks, dim, codes)
  }

  /** One distributed pass mapping each vector to M one-byte codes
    * against broadcast codebooks — shared by build and insert so there
    * is ONE copy of the encoder. Returns an UNPERSISTED (id, code)
    * frame; callers own caching. */
  private[index] def encode(df: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dsub = codebooks(0)(0).length
    val cbB = spark.sparkContext.broadcast(codebooks)
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .filter(col(vecCol).isNotNull)
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        val cb = cbB.value
        val code = new Array[Byte](cb.length)
        var mi = 0
        while (mi < cb.length) {
          val qs =
            java.util.Arrays.copyOfRange(v, mi * dsub, (mi + 1) * dsub)
          var best = 0; var bestD = Double.MaxValue; var j = 0
          while (j < cb(mi).length) {
            val d = NearestCentroid.distance(qs, cb(mi)(j), 0)
            if (d < bestD) { best = j; bestD = d }
            j += 1
          }
          code(mi) = best.toByte
          mi += 1
        }
        (id, code)
      }.toDF("id", "code")
  }

  /** Broadcast-small query collection shared by the batch joins. */
  private[index] def collectQueries(queries: DataFrame,
      qIdCol: String, qVecCol: String): Array[(Long, Array[Double])] = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries
      .select(col(qIdCol).cast("long"), col(qVecCol).cast("array<double>"))
      .filter(col(qVecCol).isNotNull)
      .as[(Long, Array[Double])].collect()
  }

  /** THE per-partition batch-ADC candidate scan — one copy shared by
    * [[PqModel.knnJoin]] (probed = None: every row scored for every
    * query) and [[IvfPqModel.knnJoin]] (probed(i)(b) gates whether
    * query i scores rows in bucket b). Builds each query's M × K LUT
    * once per partition, scores M byte-lookups per (row, query), keeps
    * a bounded heap of the `shortlist` best per query. Returns
    * (q_id, __cand_id) for [[Knn.exactRerank]]. */
  private[index] def adcCandidates(codeRows: DataFrame,
      qRows: Array[(Long, Array[Double])],
      codebooks: Array[Array[Array[Double]]], shortlist: Int,
      probed: Option[Array[Array[Boolean]]]): DataFrame = {
    val spark = codeRows.sparkSession
    import spark.implicits._
    val ds = codebooks(0)(0).length
    val cbB = spark.sparkContext.broadcast(codebooks)
    val qB = spark.sparkContext.broadcast(qRows)
    val pB = spark.sparkContext.broadcast(probed)
    val c = shortlist
    val rows =
      (if (probed.isDefined)
         codeRows.select(col("id"), col("code"), col("__bucket"))
       else codeRows.select(col("id"), col("code"), lit(0).as("__bucket")))
        .as[(Long, Array[Byte], Int)]
    rows.mapPartitions { it =>
      val cbs = cbB.value; val qs = qB.value
      val pb = pB.value.orNull // null = score every (row, query)
      val kk = cbs(0).length
      // LUT flattened to ONE array per query (mi*K + code index): the
      // scoring loop below runs |rows| × |queries| × M times — one
      // array indirection instead of two is a measured ~2x on the
      // 1M-row vector_scale corpus
      val luts: Array[Array[Double]] = qs.map { case (_, qv) =>
        val flat = new Array[Double](cbs.length * kk)
        var mi = 0
        while (mi < cbs.length) {
          val s = java.util.Arrays.copyOfRange(qv, mi * ds, (mi + 1) * ds)
          var j = 0
          while (j < kk) {
            flat(mi * kk + j) = NearestCentroid.distance(s, cbs(mi)(j), 0)
            j += 1
          }
          mi += 1
        }
        flat
      }
      val ord = Ordering.Tuple2[Double, Long]
      val heaps = Array.fill(qs.length)(
        collection.mutable.PriorityQueue.empty[(Double, Long)](ord))
      it.foreach { case (id, code, b) =>
        var i = 0
        while (i < qs.length) {
          if (pb == null || pb(i)(b)) {
            val t = luts(i); var s = 0.0; var mi = 0
            while (mi < code.length) {
              s += t(mi * kk + (code(mi) & 0xff)); mi += 1
            }
            val h = heaps(i)
            if (h.size < c) h.enqueue((s, id))
            else if (ord.lt((s, id), h.head)) {
              h.dequeue(); h.enqueue((s, id))
            }
          }
          i += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
        h.iterator.map(e => (qs(i)._1, e._2)) }
    }.toDF("q_id", "__cand_id")
  }

  /** Codebooks (tiny) back to the driver — shared by [[load]] and
    * [[IvfPq.load]] (whose code table has its own bucketed layout). */
  private[index] def loadCodebooks(spark: SparkSession, path: String)
      : Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(path + "/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = rows.map(_._1).max + 1
    Array.tabulate(m) { mi =>
      rows.filter(_._1 == mi).sortBy(_._2).map(_._3)
    }
  }

  /** Reopen a [[PqModel.save]]d index: codebooks (tiny) to the driver,
    * codes as a persisted distributed table. */
  def load(spark: SparkSession, path: String): PqModel = {
    val codebooks = loadCodebooks(spark, path)
    val dim = codebooks.map(_.head.length).sum
    val codes = spark.read.parquet(path + "/codes")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    PqModel(codebooks, dim, codes)
  }
}
