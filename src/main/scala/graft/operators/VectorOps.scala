package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DistanceMetric

import graft.Tables
import graft.functions.VectorFunctions
import graft.index.{Hnsw, IvfFlat, Knn, VectorIndexes}

/** Vector capability suite over the embeddings table (500 rows × dim 64
  * at sf0.01; Array[Float] cast to Array[Double] = reference VECTOR).
  *
  * Oracles use DuckDB's list_distance / list_inner_product /
  * list_cosine_similarity over DOUBLE[] casts; distances are rounded to
  * 6 decimals on both sides. IVFFlat with probe_lists = lists is EXACT,
  * so its results must hash-match the brute-force oracle — that is the
  * correctness gate for the index build itself (the reference pins the
  * same property in vector.04 via small exact scans).
  */
object VectorOps {

  type Q = (SparkSession, String) => DataFrame

  /** The constant query vector: embedding of vec_id 0 (single-row
    * driver lookup — the reference's constant ARRAY[..] literal). */
  private def queryVec(s: SparkSession, d: String): Seq[Double] =
    Tables.load(s, d, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)

  /** Per-PROCESS scratch root, recursively deleted on JVM exit: within
    * a process, repeated Verify/Bench invocations reuse one directory
    * per (kind, dataset) via overwrite mode (no per-run accumulation);
    * across processes the roots are disjoint, so a concurrent run can
    * never clobber parquet files another process's loaded model is
    * still lazily reading. Dataset key is the sanitized path itself —
    * no hash, no collisions. */
  private lazy val scratchRoot: java.io.File = {
    val f = java.nio.file.Files.createTempDirectory("graft_idx_").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(x: java.io.File): Unit = {
        Option(x.listFiles).foreach(_.foreach(del))
        x.delete(): Unit
      }
      del(f)
    }))
    f
  }

  private def idxDir(kind: String, d: String): String =
    new java.io.File(scratchRoot,
      s"${kind}_${d.replaceAll("[^A-Za-z0-9._-]", "_")}").getAbsolutePath

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")

  /** The q137 prefix-dim shortlist, split out so PlanShapeSpec asserts
    * the TopK shape of the EXACT construction the query runs (a
    * re-implemented copy in the spec could silently diverge). 32 of 64
    * dims, top-100: the measured-stable configuration on these
    * non-MRL synthetic vectors (recall 0.8-1.0 at every sf). */
  private[graft] def matryoshkaShortlist(s: SparkSession, d: String,
      q: Seq[Double]): DataFrame = {
    val HeadDims = 32
    val headCos = Knn.distCol(
      slice(col("embedding").cast("array<double>"), 1, HeadDims),
      q.take(HeadDims), DistanceMetric.Cosine)
    emb(s, d).orderBy(headCos.desc, col("vec_id").asc).limit(100) // TopK
  }

  /** The q37 approximate path: LSH-candidate filter + exact cosine
    * top-k among candidates. Shared by the q37 gate and DedupSpec's
    * numeric recall assertion. */
  private[graft] def annLshTopK(s: SparkSession, d: String, k: Int)
      : DataFrame = {
    val q = queryVec(s, d)
    val dim = q.length
    val rnd = new scala.util.Random(42)
    val planes: Array[Array[Double]] =
      Array.fill(64)(Array.fill(dim)(rnd.nextGaussian()))
    val qbits: Array[Boolean] =
      planes.map(p => p.zip(q).map { case (a, b) => a * b }.sum > 0)
    val cand = org.apache.spark.sql.graft.HyperplaneLshMatch.column(
      col("embedding"), planes, qbits, tables = 8, maxHamming = 1)
    val cosCol = Knn.distCol(col("embedding").cast("array<double>"), q,
      DistanceMetric.Cosine)
    emb(s, d).filter(cand)
      .orderBy(cosCol.desc, col("vec_id").asc) // true nearest: max cos
      .limit(k).select("vec_id")
  }

  val queries: Map[String, Q] = Map(
    // Per-label centroid (prototype) vectors — the class-prototype /
    // cluster-summary pass training pipelines run over embedding
    // corpora. Shape: posexplode to (label, pos, x) then ONE
    // partial+final hash aggregation — at 100TB only (labels × dim)
    // accumulator cells cross the wire, never vectors. Decimal sums
    // make the per-position means cross-engine exact.
    "q90_label_centroids" -> ((s, d) => {
      Tables.load(s, d, "embeddings")
        .select(col("label"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg(count(lit(1)).as("n"),
          round(sum(col("x").cast("decimal(28,12)")).cast("double")
            / count(lit(1)), 8).as("mean"))
    }),

    // K-means clustering exposed as a product operator (topic/bucket
    // assignment over an embedding corpus — the IVFFlat trainer IS a
    // reference-recipe k-means, reused here for the user-facing op).
    // The result (centroid positions/sizes) cannot be recomputed by a
    // SQL oracle, so the DRIVER-CHECKABLE surface is the invariant
    // that defines a valid assignment: every vector sits in its
    // NEAREST centroid's cluster, re-verified through an INDEPENDENT
    // distance path (VectorDistance l2 + array_min, not the
    // NearestCentroid expression that produced the assignment).
    "q102_kmeans_clusters" -> ((s, d) => {
      import s.implicits._
      val model = IvfFlat.build(Tables.load(s, d, "embeddings"),
        Seq("vec_id"), "embedding", lists = 8, probeLists = 8)
      val v = col("embedding").cast("array<double>")
      val assigned = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), v.as("v"),
          org.apache.spark.sql.graft.NearestCentroid.column(
            v, model.centroids, org.apache.spark.sql.graft
              .DistanceMetric.L2).as("cluster"))
      val dists = array(model.centroids.map(c =>
        VectorFunctions.l2Dist(col("v"), VectorFunctions.vecLit(c.toSeq))): _*)
      val checked = assigned
        .withColumn("mismatch",
          element_at(dists, col("cluster") + 1) > array_min(dists))
      val row = checked.agg(
        sum(when(col("mismatch"), 1L).otherwise(0L)),
        count(lit(1))).head()
      Seq((row.getLong(0), row.getLong(0) == 0L, row.getLong(1), 8))
        .toDF("mismatches", "all_nearest", "n_vectors", "k")
    }),

    // Int8 symmetric quantization audit — the 4× storage cut (float32
    // -> int8 + one scale/vector) applied to an embedding corpus, with
    // its reconstruction error bound VERIFIED: per vector, scale s =
    // amax/127 (amax via codegen'd array_max/min — no interpreted
    // lambda), q = round(x/s), and round-to-nearest guarantees
    // |x - q*s| <= s/2 = amax/254. All per-element work is narrow
    // (posexplode with amax riding along); the only shuffle is the
    // per-label report. Error stats are decimal-summed -> the oracle
    // checks VALUES, not just the gate.
    "q94_int8_quant" -> ((s, d) => {
      val v = col("embedding").cast("array<double>")
      val amax = greatest(array_max(v), abs(array_min(v)))
      val e = Tables.load(s, d, "embeddings")
        .select(col("label"), amax.as("amax"), posexplode(v).as(Seq("pos", "x")))
        .withColumn("q", when(col("amax") > 0,
          round(col("x") / col("amax") * 127.0)).otherwise(0.0))
        .withColumn("err", when(col("amax") > 0,
          abs(col("x") - col("q") * col("amax") / 127.0)).otherwise(0.0))
      e.groupBy("label").agg(
        count(lit(1)).as("n_vals"),
        round(sum(round(col("err"), 12).cast("decimal(24,12)"))
          .cast("double") / count(lit(1)), 8).as("mean_abs_err"),
        round(max(col("err")), 8).as("max_abs_err"),
        min(col("err") <= col("amax") / 254.0 + 1e-12).as("bound_ok"))
    }),

    // JOHNSON–LINDENSTRAUSS sign projection + distance-preservation
    // audit — the dimensionality-reduction step ahead of a 100 TB ANN
    // build (project 64 → 16 dims, then index the short vectors):
    // y_j = Σ_i x_i·s(i,j) with a deterministic ±1 sign grid, E‖y‖²
    // = k‖x‖², so the audited ratio ‖Δy‖²/(k‖Δx‖²) concentrates near
    // 1 with spread ~√(2/k). Everything is order-free exact: per-term
    // products round to 9dp and DECIMAL-sum through a keyed agg (the
    // projection is posexplode × a broadcast 16-row j grid — never a
    // per-row fold whose float order an engine could change), squared
    // diffs round to 8dp and DECIMAL-sum per adjacent (v, v+1) pair.
    // One summary row: pair census + mean/min/max ratio + the
    // fraction inside [0.5, 2].
    "q244_jl_projection" -> ((s, d) => jlAudit(
      Tables.load(s, d, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")), k = 16)),

    // HYBRID SEARCH capstone: BM25 keyword retrieval fused with vector
    // similarity by reciprocal-rank fusion (RRF, k=60) — the RAG
    // retrieval shape. Scale discipline: each modality first generates
    // its TOP-100 candidates with a scale-safe TakeOrdered (never a
    // global rank window over the corpus); ranks are then assigned
    // within the tiny candidate sets, fused with a full outer join
    // (a doc missing from one list contributes 0 from it), top-10 out.
    // BM25 (k1=1.2, b=0.75) is exact rational+ln arithmetic on
    // (tf, df, len, avglen) — every score value-checked by DuckDB.
    "q100_hybrid_search" -> ((s, d) => {
      val terms = Seq("spark", "join", "vector")
      val docs = Tables.load(s, d, "documents")
      val toks = docs.select(col("doc_id"),
        explode(graft.operators.TextOps.tokens(col("text"))).as("t"))
      val lens = docs.select(col("doc_id"),
        size(graft.operators.TextOps.tokens(col("text")))
          .cast("double").as("len"))
      val nDocs = docs.count()
      val avgLen = lens.agg(sum(col("len")) / count(lit(1)))
        .head.getDouble(0)
      val tf = toks.filter(col("t").isInCollection(terms))
        .groupBy("doc_id", "t").agg(count(lit(1)).cast("double").as("tf"))
      val df = tf.groupBy("t").agg(count(lit(1)).cast("double").as("df"))
      val k1 = 1.2; val b = 0.75
      val bm25 = tf.join(broadcast(df), "t").join(lens, "doc_id")
        .withColumn("idf",
          log(lit(1.0) + (lit(nDocs.toDouble) - col("df") + 0.5)
            / (col("df") + 0.5)))
        .withColumn("s", col("idf") * col("tf") * (k1 + 1.0)
          / (col("tf") + (lit(1.0 - b) + col("len") * b / avgLen) * k1))
        .groupBy("doc_id")
        .agg(round(sum(round(col("s"), 10).cast("decimal(20,10)"))
          .cast("double"), 8).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id").asc).limit(100)
      val q = queryVec(s, d)
      // cosv rounded to 8 BEFORE any ordering: ranks feed the fused
      // score, so cross-engine ulp noise in the similarity must not be
      // able to swap two near-tied candidates (the bm25 side rounds
      // for the same reason)
      val cos = emb(s, d)
        .select(col("vec_id").as("doc_id"),
          round(VectorFunctions.cosineSimilarity(
            col("embedding").cast("array<double>"),
            VectorFunctions.vecLit(q)), 8).as("cosv"))
        .orderBy(col("cosv").desc, col("doc_id").asc).limit(100)
      // BOUNDED single-partition rank: both inputs are top-100 lists
      // (TakeOrderedAndProject above), so one partition IS the right
      // plan — the constant partition key states that on purpose
      // instead of tripping WindowExec's no-partition warning (which
      // flags the unbounded-input case this is not). The corpus-sized
      // ranking never happens: only the two candidate lists are ranked.
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
        .orderBy(col("bm25").desc, col("doc_id").asc)
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
        .orderBy(col("cosv").desc, col("doc_id").asc)
      val rb = bm25.withColumn("rb", row_number().over(wb))
      val rc = cos.withColumn("rc", row_number().over(wc))
      rb.join(rc, Seq("doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60.0) + col("rb")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60.0) + col("rc")), lit(0.0)), 8))
        .orderBy(col("rrf").desc, col("doc_id").asc).limit(10)
        .select(col("doc_id"), col("rrf"),
          coalesce(col("rb"), lit(-1)).as("bm25_rank"),
          coalesce(col("rc"), lit(-1)).as("cos_rank"))
    }),

    // Pure distance-expression eval, no table (vector.01-insert-scan.slt
    // shape) — exercises the SQL registration path.
    "q29_vector_expr_eval" -> ((s, _) => {
      VectorFunctions.register(s)
      s.sql("""SELECT round(l2_dist(array(1.0D,1.0D,1.0D), array(-1.0D,-1.0D,-1.0D)), 6) AS l2,
               round(inner_product(array(1.0D,2.0D,3.0D), array(4.0D,5.0D,6.0D)), 6) AS ip,
               round(cosine_similarity(array(1.0D,0.0D), array(1.0D,1.0D)), 6) AS cos""")
    }),

    // Naive KNN, no index (vector.02-naive-knn.slt): ORDER BY dist LIMIT k
    // -> TakeOrderedAndProject.
    "q30_knn_l2" -> ((s, d) => {
      Knn.bruteForce(emb(s, d), "embedding", queryVec(s, d), 10,
          DistanceMetric.L2, Some("vec_id"))
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
    }),
    "q31_knn_cosine" -> ((s, d) => {
      // reference quirk: ascending raw cosine similarity = least similar
      // first (vector_expression.h:40-58) — reproduced literally.
      Knn.bruteForce(emb(s, d), "embedding", queryVec(s, d), 10,
          DistanceMetric.Cosine, Some("vec_id"))
        .select(col("vec_id"), round(col("dist"), 6).as("sim"))
    }),
    // FILTERED vector search — the metadata-predicate + KNN combo
    // (the feature every production vector store needs and the
    // reference lacks): top-10 MOST-similar cosine neighbors among
    // vectors whose document is English. PRE-filter semantics (filter
    // then exact top-k among survivors — never "top-k then filter",
    // which under-returns). The doc-id semi-join prunes before any
    // distance is computed; distances stay codegen'd; top-k is
    // TakeOrderedAndProject.
    "q99_filtered_knn" -> ((s, d) => {
      val en = Tables.load(s, d, "documents")
        .filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id"))
      val filtered = emb(s, d).join(en, Seq("vec_id"), "left_semi")
      val q = queryVec(s, d)
      filtered
        .select(col("vec_id"),
          VectorFunctions.cosineSimilarity(
            col("embedding").cast("array<double>"),
            VectorFunctions.vecLit(q)).as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), round(col("sim"), 6).as("sim"))
    }),

    "q32_knn_ip" -> ((s, d) => {
      Knn.bruteForce(emb(s, d), "embedding", queryVec(s, d), 10,
          DistanceMetric.InnerProduct, Some("vec_id"))
        .select(col("vec_id"), round(col("dist"), 6).as("ip"))
    }),

    // IVFFlat with probe_lists = lists: exact -> must match the
    // brute-force oracle (index-build correctness gate).
    "q33_ivfflat_exact" -> ((s, d) => {
      val model = IvfFlat.build(emb(s, d), Seq("vec_id"), "embedding",
        lists = 8, probeLists = 8)
      model.scan(queryVec(s, d), 10, tieBreak = Some("vec_id"))
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
    }),

    // Delete-after-index — the lifecycle twin of q34: build on the
    // full table, DELETE every vec_id % 7 == 0 (including vec 0, the
    // query vector itself — a broken delete leaves it at distance 0,
    // the loudest possible failure), KNN must see only survivors.
    // probe=lists keeps it exact so the filtered brute oracle applies.
    "q261_ivfflat_delete" -> ((s, d) => {
      val model = IvfFlat.build(emb(s, d), Seq("vec_id"), "embedding",
          lists = 8, probeLists = 8)
        .delete(col("vec_id") % 7 === 0)
      model.scan(queryVec(s, d), 10, tieBreak = Some("vec_id"))
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
    }),

    // HNSW delete — the lifecycle piece q261 gives IVF, on the graph
    // index: tombstones (search routes THROUGH deleted vertices —
    // unlinking them would tear the small-world graph — but never
    // returns one), beam widened by the tombstone count. Probe-all
    // ef makes the survivor top-10 EXACT, so the q261 filtered brute
    // oracle applies verbatim; the deleted set again includes the
    // query vector itself (vec 0 at distance 0 — the loudest leak).
    "q270_hnsw_delete" -> ((s, d) => {
      import s.implicits._
      val all = emb(s, d)
      val idx = Hnsw.build(all, "vec_id", "embedding",
        m = 8, efConstruction = 64, efSearch = 1 << 24)
      all.filter(col("vec_id") % 7 === 0).select("vec_id")
        .collect().foreach(r => idx.delete(r.getLong(0)))
      idx.scan(queryVec(s, d).toArray, 10)
        .toDF("vec_id", "dist")
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
    }),

    // Insert-after-index (vector.04/05.slt semantics): build on a prefix,
    // insert the rest, KNN must see the new rows. probe=lists keeps it
    // exact so the full-table oracle applies.
    "q34_ivfflat_insert" -> ((s, d) => {
      val all = emb(s, d)
      val model = IvfFlat.build(all.filter(col("vec_id") < 400),
        Seq("vec_id"), "embedding", lists = 8, probeLists = 8)
      val updated = model.insert(all.filter(col("vec_id") >= 400)
        .select(col("vec_id"), col("embedding").cast("array<double>")))
      updated.scan(queryVec(s, d), 10, tieBreak = Some("vec_id"))
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
    }),

    // Approximate paths, reshaped into DRIVER-CHECKABLE recall gates:
    // the approximate top-k itself can never value-match a SQL oracle,
    // but its recall AGAINST THE EXACT top-k (whose computation is
    // separately value-pinned by q30) is a deterministic property of
    // the seeded build — so the query emits `recall_ok` plus the
    // exact-side row count the oracle genuinely recomputes. IndexSpec/
    // DedupSpec keep the tighter numeric recall assertions.
    "q35_ivfflat_probe" -> ((s, d) => {
      import s.implicits._
      val model = IvfFlat.build(emb(s, d), Seq("vec_id"), "embedding",
        lists = 8, probeLists = 2)
      val q = queryVec(s, d)
      val approx = model.scan(q, 10, tieBreak = Some("vec_id"))
        .select("vec_id")
      val exact = Knn.bruteForce(emb(s, d), "embedding", q, 10,
        DistanceMetric.L2, Some("vec_id")).select("vec_id")
      val hits = approx.join(exact, Seq("vec_id"), "left_semi").count()
      val n = exact.count()
      graft.GateMetrics.putRecall("q35_ivfflat_probe", hits.toDouble / n)
      Seq((hits.toDouble / n >= 0.5, n)).toDF("recall_ok", "n_exact")
    }),
    "q36_hnsw_knn" -> ((s, d) => {
      import s.implicits._
      val idx = Hnsw.build(emb(s, d), "vec_id", "embedding",
        m = 8, efConstruction = 64, efSearch = 40)
      val q = queryVec(s, d)
      val approx = Hnsw.scanAsDf(s, idx, q, 10)
        .select(col("id").as("vec_id"))
      val exact = Knn.bruteForce(emb(s, d), "embedding", q, 10,
        DistanceMetric.L2, Some("vec_id")).select("vec_id")
      val hits = approx.join(exact, Seq("vec_id"), "left_semi").count()
      val n = exact.count()
      graft.GateMetrics.putRecall("q36_hnsw_knn", hits.toDouble / n)
      Seq((hits.toDouble / n >= 0.7, n)).toDF("recall_ok", "n_exact")
    }),

    // Broadcast HNSW batch KNN join: graph shipped to executors once,
    // probed per query row — zero-shuffle serving. Configured
    // probe-all (ef_search >= |data|): the beam search visits the
    // whole connected graph, so the result is EXACT and shares the
    // brute-force join oracle — the correctness gate for the graph
    // build + join plumbing itself. IndexSpec covers the approximate
    // (small-ef) configuration's recall.
    "q55_hnsw_knn_join" -> ((s, d) => {
      val e = emb(s, d)
      val idx = Hnsw.build(e, "vec_id", "embedding",
        m = 8, efConstruction = 64, efSearch = 1 << 24)
      Hnsw.knnJoin(e.filter(col("vec_id") < 20), "vec_id", "embedding",
          idx, k = 5)
        .select(col("q_id"), col("d_id"), round(col("dist"), 6).as("dist"),
          col("rk"))
    }),

    // Partition-parallel HNSW (the scale path: sub-graph per partition
    // built inside mapPartitions, merged top-k serve), INCLUDING
    // incremental insert: build on a prefix, insert the rest into the
    // live sub-graphs (InsertVectorEntry contract). Probe-all
    // ef_search makes each sub-graph search exhaustive, so the merged
    // top-k is exact -> brute-force oracle over the FULL table gates
    // both the partitioned build and the insert routing; IndexSpec
    // covers the approximate configuration's recall.
    "q39_hnsw_partitioned" -> ((s, d) => {
      import s.implicits._
      val all = emb(s, d)
      val idx = Hnsw.buildPartitioned(all.filter(col("vec_id") < 400),
        "vec_id", "embedding",
        m = 8, efConstruction = 64, efSearch = 1 << 24, numPartitions = 4)
      val updated = idx.insert(all.filter(col("vec_id") >= 400),
        "vec_id", "embedding")
      idx.unpersist()
      updated.scan(queryVec(s, d).toArray, 10)
        .toDF("vec_id", "dist")
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
    }),

    // Product-quantization KNN: 8x1-byte codes per vector + ADC
    // shortlist + exact re-rank (index/Pq.scala — the 64x working-set
    // cut for the candidate scan at 100TB). Configured with
    // shortlist >= |data| here, which makes the re-rank exhaustive
    // and the result EXACT -> brute-force oracle gates the encode/
    // ADC/re-rank plumbing; PqSpec-in-IndexSpec gates the compressed
    // configuration's recall.
    "q67_pq_knn" -> ((s, d) => {
      val e = emb(s, d)
      val model = graft.index.Pq.build(e, "vec_id", "embedding",
        m = 8, k = 64)
      // serve from a SAVED+RELOADED index: the oracle also gates the
      // persistence round-trip (codes + codebooks survive a restart).
      // Deterministic per-dataset path + overwrite mode — repeated
      // Verify/Bench invocations reuse ONE directory instead of
      // leaking a code-table copy into /tmp per run
      val dir = idxDir("graft_pq", d)
      model.save(dir)
      model.unpersist()
      val loaded = graft.index.Pq.load(s, dir)
      loaded.scan(e, "vec_id", "embedding", queryVec(s, d), 10,
          shortlist = 1 << 24)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
    }),

    // IVF-PQ: k-means routing prunes WHICH buckets are read, PQ codes
    // shrink WHAT is read, exact re-rank restores true distances — the
    // standard billion-scale ANN layout, composed from the IVF and PQ
    // components. Exact-configured here (probe=lists, shortlist>=n)
    // -> brute-force oracle; IndexSpec gates the pruned+compressed
    // configuration's recall.
    "q69_ivfpq_knn" -> ((s, d) => {
      val e = emb(s, d)
      val model = graft.index.IvfPq.build(e, "vec_id", "embedding",
        lists = 8, m = 8, k = 64)
      // serve from a SAVED+RELOADED index (bucketed parquet: probes
      // are partition pruning) — the oracle gates the round-trip;
      // deterministic reused path, see q67
      val dir = idxDir("graft_ivfpq", d)
      model.save(dir)
      model.unpersist()
      val loaded = graft.index.IvfPq.load(s, dir)
      loaded.scan(e, "vec_id", "embedding", queryVec(s, d), 10,
          probeLists = 8, shortlist = 1 << 24)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
    }),

    // Random-hyperplane LSH ANN, 8 tables x 8 bits with multi-probe
    // (accept per-table hamming <= 1): candidates = rows near the query
    // bucket in >= 1 table — a narrow, codegen'd filter (no shuffle) —
    // then exact top-k cosine among candidates. The 100TB shape:
    // persist bucket keys once, partition by them, and probing becomes
    // partition pruning. Emits the recall gate row (see q35); DedupSpec
    // keeps the numeric recall assertion.
    "q37_ann_lsh" -> ((s, d) => {
      import s.implicits._
      val q = queryVec(s, d)
      val cosCol = Knn.distCol(col("embedding").cast("array<double>"), q,
        DistanceMetric.Cosine)
      val approx = annLshTopK(s, d, 10)
      val exact = emb(s, d)
        .orderBy(cosCol.desc, col("vec_id").asc)
        .limit(10).select("vec_id")
      val hits = approx.join(exact, Seq("vec_id"), "left_semi").count()
      val n = exact.count()
      graft.GateMetrics.putRecall("q37_ann_lsh", hits.toDouble / n)
      Seq((hits.toDouble / n >= 0.5, n)).toDF("recall_ok", "n_exact")
    }),

    // Sign-bit binary quantization serve path: each embedding
    // compressed 32x into ONE 64-bit code (codegen'd SignBits64, one
    // narrow pass), shortlist by Hamming distance to the query's code
    // (bit_count(xor) — integer ops on 8 bytes/vector instead of
    // float math on 256), exact cosine re-rank of the top-50, recall
    // gate against the exact top-10 (whose computation q31 pins).
    // The scale story: the code table is 32x smaller than the
    // vectors, so the shortlist pass scans a corpus that fits where
    // the raw vectors never would — the standard first tier of an
    // embedding-retrieval cascade (complements int8 q94 / PQ q67).
    "q120_binary_quant_knn" -> ((s, d) => {
      import s.implicits._
      val q = queryVec(s, d)
      val qCode = org.apache.spark.sql.graft.SignBits64.bits(q)
      val ham = bit_count(col("code").bitwiseXOR(lit(qCode)))
      val shortlist = emb(s, d)
        .select(col("vec_id"), col("embedding"),
          org.apache.spark.sql.graft.SignBits64.column(col("embedding"))
            .as("code"))
        // 100 (5% of the sf0.1 corpus): 50 measured recall exactly at
        // the 0.5 gate — now that BENCH_DETAIL carries the numeric
        // recall, the cascade runs with headroom (measured 0.8 at 100)
        .orderBy(ham.asc, col("vec_id").asc).limit(100) // TopK, no sort-all
      val cosCol = Knn.distCol(col("embedding").cast("array<double>"), q,
        DistanceMetric.Cosine)
      val approx = shortlist.orderBy(cosCol.desc, col("vec_id").asc)
        .limit(10).select("vec_id")
      val exact = emb(s, d)
        .orderBy(cosCol.desc, col("vec_id").asc)
        .limit(10).select("vec_id")
      val hits = approx.join(exact, Seq("vec_id"), "left_semi").count()
      val n = exact.count()
      graft.GateMetrics.putRecall("q120_binary_quant_knn", hits.toDouble / n)
      Seq((hits.toDouble / n >= 0.5, n)).toDF("recall_ok", "n_exact")
    }),

    // Matryoshka-style truncated-dimension cascade (the MRL serving
    // shape): rank on the 32-dim PREFIX of the 64-dim embedding (half
    // the multiply-adds and bytes per candidate — at 100TB the scan
    // reads half the vector bytes via parquet column pruning when
    // heads are stored as their own column), shortlist top-100, then
    // exact full-dimension re-rank of the shortlist only. Same gate
    // idiom as q120: approx top-10 vs brute top-10 recall >= 0.5, with
    // n_exact the DuckDB-recomputable denominator. (These synthetic
    // embeddings are NOT MRL-trained — the prefix carries only its
    // proportional share of the cosine mass — so head=32/S=100 is the
    // measured-stable configuration: recall 0.8-1.0 at every sf.)
    "q137_matryoshka_knn" -> ((s, d) => {
      import s.implicits._
      val q = queryVec(s, d)
      val shortlist = matryoshkaShortlist(s, d, q)
      val cosCol = Knn.distCol(col("embedding").cast("array<double>"), q,
        DistanceMetric.Cosine)
      val approx = shortlist.orderBy(cosCol.desc, col("vec_id").asc)
        .limit(10).select("vec_id")
      val exact = emb(s, d)
        .orderBy(cosCol.desc, col("vec_id").asc)
        .limit(10).select("vec_id")
      val hits = approx.join(exact, Seq("vec_id"), "left_semi").count()
      val n = exact.count()
      graft.GateMetrics.putRecall("q137_matryoshka_knn", hits.toDouble / n)
      Seq((hits.toDouble / n >= 0.5, n)).toDF("recall_ok", "n_exact")
    }),

    // Per-DIMENSION embedding statistics report — the model-table
    // audit an embedding pipeline runs per batch: dim-wise mean and
    // second moment catch collapsed dimensions, scaling bugs, and
    // non-normalized batches before they poison an index build.
    // posexplode is NARROW (no shuffle); the groupBy lands on the
    // |dims| key so partial aggregation reduces each partition to
    // |dims| rows before the one tiny exchange — at 100TB the moved
    // bytes are dims x partitions, independent of row count. Sums
    // carried in DECIMAL(28,10) (deterministic cross-engine; float
    // accumulation order is not), one final double division.
    "q138_vector_stats" -> ((s, d) =>
      emb(s, d)
        .select(posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "x")))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          round(sum(col("x").cast("decimal(28,10)")).cast("double")
            / count(lit(1)), 6).as("mean"),
          round(sum((col("x") * col("x")).cast("decimal(28,10)"))
            .cast("double") / count(lit(1)), 6).as("mean_sq"),
          round(min("x"), 6).as("x_min"),
          round(max("x"), 6).as("x_max"))),

    // INT8 SCALAR-QUANTIZATION AUDIT — the compression decision every
    // embedding store makes before PQ: per-vector symmetric int8
    // (scale = max|x|/127, q_i = round(x_i/s), dequant q_i·s), audited
    // per label by reconstruction MSE and worst absolute error. Spark
    // shape: all per-element work is ONE codegen'd transform+aggregate
    // over the array (no explode — at 100 TB the per-row fold beats a
    // dim× row blow-up), per-row stats round to 8 then DECIMAL-sum per
    // label, so the agg is order-exact. Zero vectors (s = 0) are
    // guarded and counted.
    "q228_int8_quant" -> ((s, d) => int8QuantAudit(emb(s, d))),

    // Batch KNN JOIN — top-k neighbors for a whole query set in ONE
    // job (the Spark-native serving form; SURVEY §2.4). Brute variant:
    // broadcast query set, single data scan, window top-k per query.
    "q26_knn_join_brute" -> ((s, d) => {
      val e = emb(s, d)
      Knn.join(e.filter(col("vec_id") < 20), "embedding", "vec_id",
          e, "embedding", "vec_id", k = 5)
        .select(col("q_id"), col("d_id"), round(col("dist"), 6).as("dist"),
          col("rk"))
    }),

    // Compressed variant: per-partition ADC scan over M-byte codes
    // (broadcast per-query LUTs), bounded shortlist, exact re-rank.
    // shortlist >= n -> exact, same oracle as the brute join; the
    // compressed configuration's recall is gated in IndexSpec.
    "q75_pq_knn_join" -> ((s, d) => {
      val e = emb(s, d)
      val model = graft.index.Pq.build(e, "vec_id", "embedding",
        m = 8, k = 64)
      model.knnJoin(e.filter(col("vec_id") < 20), "vec_id", "embedding",
          e, "vec_id", "embedding", k = 5, shortlist = 1 << 24)
        .select(col("q_id"), col("d_id"), round(col("dist"), 6).as("dist"),
          col("rk"))
    }),

    // Full billion-scale-layout variant: per-query bucket pruning +
    // ADC over M-byte codes + exact re-rank. probe=lists AND
    // shortlist >= n -> exact, same oracle as the brute join.
    "q78_ivfpq_knn_join" -> ((s, d) => {
      val e = emb(s, d)
      val model = graft.index.IvfPq.build(e, "vec_id", "embedding",
        lists = 8, m = 8, k = 64)
      model.knnJoin(e.filter(col("vec_id") < 20), "vec_id", "embedding",
          e, "vec_id", "embedding", k = 5, probeLists = 8,
          shortlist = 1 << 24)
        .select(col("q_id"), col("d_id"), round(col("dist"), 6).as("dist"),
          col("rk"))
    }),

    // Indexed variant: probe-ranked bucket join; probe=lists -> exact,
    // same oracle as the brute join.
    "q27_knn_join_ivf" -> ((s, d) => {
      val e = emb(s, d)
      val model = IvfFlat.build(e, Seq("vec_id"), "embedding",
        lists = 8, probeLists = 8)
      model.knnJoin(e.filter(col("vec_id") < 20), "vec_id", "embedding", 5)
        .select(col("q_id"), col("vec_id").as("d_id"),
          round(col("dist"), 6).as("dist"), col("rk"))
    }),

    // Inverted-serve twin of q27: broadcast bucket->probing-queries
    // index + per-partition bounded heaps (IvfFlatModel.knnJoinHeap) —
    // the many-queries batch shape VectorScaleBench measures beating
    // brute force at 1M rows (the window-join variant's candidate-pair
    // shuffle is the cost it deletes). probe=lists -> exact, same
    // oracle as the brute join; IndexSpec additionally pins
    // row-identity with knnJoin under partial probes.
    "q141_knn_join_ivf_heap" -> ((s, d) => {
      val e = emb(s, d)
      val model = IvfFlat.build(e, Seq("vec_id"), "embedding",
        lists = 8, probeLists = 8)
      model.knnJoinHeap(e.filter(col("vec_id") < 20), "vec_id",
          "embedding", 5)
        .select(col("q_id"), col("d_id"),
          round(col("dist"), 6).as("dist"), col("rk"))
    }),

    // Hard-negative mining — the batch that builds (anchor, negative)
    // training pairs for contrastive embedding finetuning: for each
    // anchor (deterministic 1-in-20 id sample) the top-5 most
    // cosine-similar corpus vectors with a DIFFERENT label ("hard"
    // because they look like positives but aren't). PRE-filter
    // semantics: the label predicate gates candidates BEFORE top-k
    // (post-filtering under-returns, same contract as q99). Scale
    // shape: anchors are the tiny side and BROADCAST, so the corpus
    // never shuffles for the join; cosine stays a codegen expression;
    // the per-anchor top-k is one exchange keyed by anchor over
    // (anchor_id, neg_id, cos) triples — vectors are dropped before
    // the shuffle. At corpus scale the q141 inverted-serve heap
    // serves the same shape with the label predicate evaluated inside
    // the bucket scan (a residual filter on the probe path), deleting
    // the candidate shuffle entirely.
    "q145_hard_negatives" -> ((s, d) => {
      val e = emb(s, d)
      val anchors = e.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("anchor_id"),
          col("embedding").cast("array<double>").as("av"),
          col("label").as("al"))
      val cand = e.select(col("vec_id").as("neg_id"),
        col("embedding").cast("array<double>").as("nv"),
        col("label").as("nl"))
      val scored = cand.join(broadcast(anchors), col("nl") =!= col("al"))
        .select(col("anchor_id"), col("neg_id"),
          VectorFunctions.cosineSimilarity(col("av"), col("nv")).as("cos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("anchor_id").orderBy(col("cos").desc, col("neg_id").asc)
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("anchor_id"), col("neg_id"), col("rk"),
          round(col("cos"), 6).as("cos"))
    }),

    // The KNN optimizer rule end-to-end (reference
    // OptimizeAsVectorIndexScan): a PLAIN orderBy(dist).limit(k) query
    // is silently served through the registered IVFFlat index via a
    // candidate-id filter; probe=lists keeps it exact, so the brute-force
    // oracle applies. Materialized eagerly so the session-global rule +
    // index registration can be dropped before other queries plan.
    "q38_knn_rewrite" -> ((s, d) => {
      val e = emb(s, d)
      val q = queryVec(s, d)
      VectorIndexes.enableRewrite(s)
      VectorIndexes.createIvfFlat("q38_idx", "embeddings", e,
        "vec_id", "embedding", lists = 8, probeLists = 8)
      try {
        val dist = VectorFunctions.l2Dist(col("embedding"),
          VectorFunctions.vecLit(q))
        val df = e.orderBy(dist.asc, col("vec_id").asc).limit(10)
          .select(col("vec_id"), round(dist, 6).as("dist"))
        val plan = df.queryExecution.optimizedPlan.toString
        require(plan.contains("__graft_knn_id"), "knn rewrite did not fire")
        val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
        df.collect().foreach(rows.add)
        s.createDataFrame(rows, df.schema)
      } finally VectorIndexes.drop("q38_idx")
    }),

    // RANGE (radius) search — "every vector within distance r of q",
    // the query shape of recall evals and fixed-threshold near-dup
    // mining. The at-scale path reuses the IVFFlat partitioning as a
    // metric tree: per bucket b we precompute R_b = max dist(member,
    // centroid_b) (one narrow agg; `lists` rows to the driver), and a
    // bucket can contain a hit only if dist(q, c_b) <= r + R_b
    // (triangle inequality) — on the persisted bucketed layout that
    // test is partition PRUNING, same as q33/q69. The emitted filter
    // (and the DuckDB oracle) compare round(dist,6) <= r, so a true
    // distance in (r, r+5e-7] still rounds INTO the result set — the
    // pruning bound is padded by that half-ulp-of-rounding (5e-7) so
    // the bound stays SOUND against the rounded contract and pruned ==
    // brute ROW FOR ROW; how much it PRUNES depends on
    // cluster tightness (on the near-uniform 64-dim test embeddings
    // R_b spans the data diameter and every bucket survives — the
    // honest high-dim reality; IndexSpec pins hard pruning on a
    // clustered fixture, where production embedding corpora live).
    "q124_radius_search" -> ((s, d) =>
      radiusSearchOn(emb(s, d), "vec_id", "embedding",
        queryVec(s, d), r = 1.25, lists = 8)._1),

    // MaxSim late-interaction scoring (the ColBERT retrieval shape):
    // a multi-vector query Q scores a multi-vector document D as
    // Σ_{q∈Q} max_{v∈D} cos(q, v). Here Q = vec_ids 0..3 and label
    // groups stand in for documents. Scale shape: Q is tiny and
    // BROADCAST; the per-(doc, q) max is a partial+final agg over the
    // corpus (one exchange on the doc key); per-q maxima are rounded
    // to 6 before the DECIMAL sum so the fused score is cross-engine
    // exact. Vectors never collect to the driver.
    "q132_maxsim" -> ((s, d) => {
      val e = emb(s, d)
      val qs = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("q_id"),
          col("embedding").cast("array<double>").as("qv"))
      e.select(col("label"), col("embedding").cast("array<double>").as("v"))
        .crossJoin(broadcast(qs))
        .select(col("label"), col("q_id"),
          round(VectorFunctions.cosineSimilarity(col("v"), col("qv")), 6)
            .as("cos"))
        .groupBy("label", "q_id").agg(max("cos").as("mx"))
        .groupBy("label")
        .agg(round(sum(col("mx").cast("decimal(18,6)")).cast("double"), 6)
          .as("maxsim"), count(lit(1)).as("n_q"))
    }),

    // Retrieval EVALUATION harness: MRR@10 and nDCG@10 of the q137
    // Matryoshka cascade (prefix-32 shortlist → full-dim top-10)
    // against the exact ranking, per query — the IR metrics a serving
    // stack reports, computed entirely in-engine AND recomputable by
    // the oracle because both rankings are declarative (no opaque
    // index state). Graded relevance = 11 − exact_rank; DCG terms are
    // per-term rounded DECIMALs (exact sums), one double ratio at the
    // end; ties broken by vec_id in both engines; the query vector
    // itself is EXCLUDED (it would pin MRR to 1 and measure nothing).
    "q182_retrieval_metrics" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val qs = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val joined = e.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          VectorFunctions.cosineSimilarity(col("v"), col("qv")).as("cos"),
          VectorFunctions.cosineSimilarity(
            slice(col("v"), 1, 32), slice(col("qv"), 1, 32)).as("pcos"))
        .persist()
      val wq = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      val exact = joined.withColumn("erk", row_number().over(
          wq.orderBy(col("cos").desc, col("vec_id").asc)))
        .filter(col("erk") <= 10)
        .select("q_id", "vec_id", "erk")
      val approx = joined.withColumn("prk", row_number().over(
          wq.orderBy(col("pcos").desc, col("vec_id").asc)))
        .filter(col("prk") <= 100)
        .withColumn("ark", row_number().over(
          wq.orderBy(col("cos").desc, col("vec_id").asc)))
        .filter(col("ark") <= 10)
        .select("q_id", "vec_id", "ark")
      val rel = approx.join(exact, Seq("q_id", "vec_id"), "left")
        .withColumn("gain",
          coalesce(lit(11) - col("erk"), lit(0)).cast("double"))
        .withColumn("dterm", round(col("gain") / log2(col("ark") + 1), 8)
          .cast("decimal(20,8)"))
      val dcg = rel.groupBy("q_id").agg(
        sum(col("dterm")).as("dcg"),
        max(when(col("erk") === 1, col("ark"))).as("top1_rank"))
      val idcg = exact.withColumn("iterm",
          round((lit(11) - col("erk")).cast("double")
            / log2(col("erk") + 1), 8).cast("decimal(20,8)"))
        .groupBy("q_id").agg(sum(col("iterm")).as("idcg"))
      joined.unpersist()
      dcg.join(idcg, "q_id")
        .select(col("q_id"),
          round(coalesce(lit(1.0) / col("top1_rank"), lit(0.0)), 6)
            .as("mrr"),
          round(col("dcg").cast("double") / col("idcg").cast("double"), 6)
            .as("ndcg"))
        .orderBy(col("q_id").asc)
    }),

    // Dominant principal component via POWER ITERATION — distributed
    // linear algebra with a cross-engine-exact recurrence. The
    // distributed part is the Gram (second-moment) matrix: one
    // vec_id-keyed self-join of the posexploded coordinates with
    // per-term floor-scaling to 1e-12 LONGs, so the (i,j) partial+
    // final sums are exact integers in ANY accumulation order (a
    // float Gram would differ between engines in the last ulps). The
    // eigensolve then runs on the dim²-BOUNDED matrix (64×64 — O(dim²)
    // driver collect, the IvfFlat-centroid discipline): 60 rounds of
    // w = Cv with the same floor-scaled integer sums, norms from
    // 1e-6-scaled integer squares, and v floor-truncated to 9
    // decimals each round — every float op appears in the identical
    // order in the DuckDB oracle's 60 unrolled CTE rounds, so the
    // loadings match exactly, not approximately. v0 = 1/√64 = 0.125
    // (exact in binary). Top-8 |loading| dims + the eigenvalue.
    "q169_pca_power" -> ((s, d) => {
      import s.implicits._
      val S = 1e12
      val x = emb(s, d).select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("i", "xi")))
      val gram = x
        .join(x.select(col("vec_id"), col("i").as("j"),
          col("xi").as("xj")), "vec_id")
        .select(col("i"), col("j"),
          floor(col("xi").cast("double") * col("xj").cast("double")
            * lit(S)).cast("long").as("t"))
        .groupBy("i", "j").agg(sum("t").as("cl"))
      val cRows = gram.collect() // dim² rows — bounded at any corpus size
      val dim = cRows.map(_.getInt(0)).max + 1
      val c = Array.ofDim[Long](dim, dim)
      cRows.foreach(r => c(r.getInt(0))(r.getInt(1)) = r.getLong(2))
      var v = Array.fill(dim)(0.125)
      var lambda = 0.0
      for (_ <- 1 to 60) {
        val ws = Array.tabulate(dim) { i =>
          var acc = 0L
          var j = 0
          while (j < dim) {
            acc += math.floor(c(i)(j) / S * v(j) * S).toLong
            j += 1
          }
          acc
        }
        var n2 = 0L
        ws.foreach { wsc =>
          val w = wsc / S
          n2 += math.floor(w * w * 1e6).toLong
        }
        val norm = math.sqrt(n2 / 1e6)
        lambda = norm
        v = ws.map(wsc => math.floor(wsc / S / norm * 1e9) / 1e9)
      }
      (0 until dim).map(i => (i, v(i)))
        .toDF("dim", "loading")
        .orderBy(abs(col("loading")).desc, col("dim").asc).limit(8)
        .select(col("dim"), round(col("loading"), 6).as("loading"),
          round(lit(lambda), 6).as("eigenvalue"))
    })
  )

  /** q228's audit over a (label, embedding) frame: per label, the
    * reconstruction stats of per-vector symmetric int8 quantization.
    * Split out so VectorSpec pins the closed forms: an all-zero
    * vector is counted and contributes zero error; a vector whose
    * components are exact multiples of max|x|/127 reconstructs
    * EXACTLY (mse = 0); a known 2-component vector's mse matches the
    * hand-computed value. */
  private[graft] def int8QuantAudit(e: DataFrame): DataFrame = {
    // materialize the per-row scale in its own projection step so the
    // fold computing it runs once per ROW, not once per element
    val staged = e.select(col("label"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("s", aggregate(col("v"), lit(0.0),
        (acc, x) => greatest(acc, abs(x))) / lit(127.0))
    // s = 0 (zero vector) => every component is exactly 0: errors 0
    val errs = when(col("s") === 0.0,
      transform(col("v"), _ => lit(0.0))).otherwise(
      transform(col("v"),
        x => x - round(x / col("s"), 0) * col("s")))
    val mse = aggregate(errs, lit(0.0), (a, x) => a + x * x) /
      size(col("v")).cast("double")
    val maxerr = aggregate(errs, lit(0.0),
      (a, x) => greatest(a, abs(x)))
    staged.select(col("label"),
        round(mse, 8).cast("decimal(20,8)").as("mse8"),
        round(maxerr, 8).as("me8"),
        when(col("s") === 0.0, 1L).otherwise(0L).as("z"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("mse8")).cast("double") / count(lit(1)), 8)
          .as("avg_mse"),
        max(col("me8")).as("max_abs_err"),
        sum(col("z")).as("n_zero_vecs"))
  }

  /** q124's engine: exact radius search over the IVF bucketed layout.
    * Returns (result, bucketsProbed, totalNonEmptyBuckets) so specs
    * can assert soundness AND pruning without re-deriving the model. */
  private[graft] def radiusSearchOn(df: DataFrame, idCol: String,
      vecCol: String, q: Seq[Double], r: Double, lists: Int)
      : (DataFrame, Int, Int) = {
    val model = IvfFlat.build(df, Seq(idCol), vecCol,
      lists = lists, probeLists = lists)
    val centArr = array(model.centroids.map(c =>
      VectorFunctions.vecLit(c.toSeq)): _*)
    // R_b per bucket: max member->own-centroid distance (narrow scan,
    // one partial+final agg; result is `lists` rows).
    val radii: Map[Int, Double] = model.buckets
      .select(col("__bucket"),
        VectorFunctions.l2Dist(col(vecCol),
          element_at(centArr, col("__bucket") + 1)).as("dc"))
      .groupBy("__bucket").agg(max(col("dc")).as("rb"))
      .collect().map(row => row.getInt(0) -> row.getDouble(1)).toMap
    val qDist: Int => Double = b => {
      val c = model.centroids(b)
      math.sqrt(c.zip(q).map { case (a, x) => val t = a - x; t * t }.sum)
    }
    // r + 5e-7: the result filter is on round(dist, 6), which admits
    // true distances up to r + 5e-7 — the bound must admit them too.
    val probed =
      radii.keys.toSeq.filter(b => qDist(b) <= r + 5e-7 + radii(b))
    val res = model.buckets
      .filter(col("__bucket").isInCollection(probed))
      .select(col(idCol),
        round(VectorFunctions.l2Dist(col(vecCol),
          VectorFunctions.vecLit(q)), 6).as("dist"))
      .filter(col("dist") <= r)
    (res, probed.size, radii.size)
  }

  /** q244's JL audit over a (vec_id, v: array<double>) frame: sign
    * s(i,j) = ±1 from ((i·1103515245 + j·12345) mod 97) mod 2 — pure
    * integer, identical in both engines; y via posexplode × the
    * broadcast k-row grid and ONE keyed DECIMAL agg (order-free);
    * adjacent (v, v+1) pairs audited by ‖Δy‖²/(k·‖Δx‖²). Split out so
    * VectorDistanceSpec pins the closed forms (zero/identical vectors
    * degenerate, a hand-signed 1-dim case, scale invariance of the
    * ratio). */
  private[graft] def jlAudit(e: DataFrame, k: Int): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val dims = e.select(col("vec_id"), posexplode(col("v"))
      .as(Seq("i", "x"))).localCheckpoint(true)
    val grid = broadcast(s.range(k).select(col("id").as("j")))
    val sign = when(((col("i").cast("long") * 1103515245L
      + col("j") * 12345L) % 97 % 2) === 0, lit(1.0)).otherwise(lit(-1.0))
    val proj = dims.crossJoin(grid)
      .select(col("vec_id"), col("j"),
        round(col("x") * sign, 9).cast("decimal(28,9)").as("t"))
      .groupBy("vec_id", "j")
      .agg(sum("t").cast("double").as("y"))
    def pairSq(t: DataFrame, key: String, v: String): DataFrame = t
      .select(col("vec_id").as("id"), col(key).as("kk"),
        col(v).as("a"))
      .join(t.select((col("vec_id") - 1).as("id"), col(key).as("kk"),
        col(v).as("b")), Seq("id", "kk"))
      .select(col("id"),
        round((col("a") - col("b")) * (col("a") - col("b")), 8)
          .cast("decimal(28,8)").as("d2"))
      .groupBy("id").agg(sum("d2").cast("double").as("sq"))
    val o2 = pairSq(dims, "i", "x").withColumnRenamed("sq", "o2")
    val p2 = pairSq(proj, "j", "y").withColumnRenamed("sq", "p2")
    val sc = o2.join(p2, "id")
      .withColumn("ratio", when(col("o2") > 0,
        round(col("p2") / (lit(k.toDouble) * col("o2")), 6)))
    sc.agg(count(lit(1)).as("n_pairs"),
      sum(when(col("ratio").isNull, 1L).otherwise(0L))
        .as("n_degenerate"),
      when(count(col("ratio")) > 0,
        round(sum(col("ratio").cast("decimal(28,6)")).cast("double")
          / count(col("ratio")), 6)).as("mean_ratio"),
      min("ratio").as("min_ratio"), max("ratio").as("max_ratio"),
      when(count(col("ratio")) > 0,
        round(sum(when(col("ratio").between(0.5, 2.0), 1L)
          .otherwise(0L)).cast("double") / count(col("ratio")), 6))
        .as("frac_in_band"))
  }

  private val bruteOracle =
    """SELECT vec_id, round(list_distance(CAST(embedding AS DOUBLE[]),
      |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS dist
      |FROM embeddings
      |ORDER BY list_distance(CAST(embedding AS DOUBLE[]),
      |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), vec_id
      |LIMIT 10""".stripMargin

  val oracles: Map[String, String] = Map(
    // q244: identical integer sign grid, identical rounded-term
    // DECIMAL sums through GROUP BYs (never a float list fold whose
    // order an engine could change), identical pair algebra
    "q244_jl_projection" ->
      """WITH e AS (
        |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |), dims AS MATERIALIZED (
        |  SELECT vec_id, i - 1 AS i, v[i] AS x
        |  FROM e, unnest(range(1, len(v) + 1)) AS u(i)
        |), proj AS MATERIALIZED (
        |  SELECT vec_id, j,
        |    CAST(sum(CAST(round(x * (CASE WHEN
        |        (i * 1103515245 + j * 12345) % 97 % 2 = 0
        |      THEN 1.0 ELSE -1.0 END), 9) AS DECIMAL(28,9)))
        |      AS DOUBLE) AS y
        |  FROM dims, unnest(range(0, 16)) AS w(j)
        |  GROUP BY 1, 2
        |), po AS (
        |  SELECT a.vec_id AS id,
        |    CAST(sum(CAST(round((a.x - b.x) * (a.x - b.x), 8)
        |      AS DECIMAL(28,8))) AS DOUBLE) AS o2
        |  FROM dims a JOIN dims b
        |    ON b.vec_id = a.vec_id + 1 AND a.i = b.i
        |  GROUP BY 1
        |), pp AS (
        |  SELECT a.vec_id AS id,
        |    CAST(sum(CAST(round((a.y - b.y) * (a.y - b.y), 8)
        |      AS DECIMAL(28,8))) AS DOUBLE) AS p2
        |  FROM proj a JOIN proj b
        |    ON b.vec_id = a.vec_id + 1 AND a.j = b.j
        |  GROUP BY 1
        |), sc AS (
        |  SELECT id, CASE WHEN o2 > 0
        |    THEN round(p2 / (16 * o2), 6) END AS ratio
        |  FROM po JOIN pp USING (id)
        |)
        |SELECT count(*)::BIGINT AS n_pairs,
        |  CAST(sum(CASE WHEN ratio IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_degenerate,
        |  CASE WHEN count(ratio) > 0 THEN
        |    round(CAST(sum(CAST(ratio AS DECIMAL(28,6))) AS DOUBLE)
        |      / count(ratio), 6) END AS mean_ratio,
        |  min(ratio) AS min_ratio, max(ratio) AS max_ratio,
        |  CASE WHEN count(ratio) > 0 THEN
        |    round(sum(CASE WHEN ratio BETWEEN 0.5 AND 2.0
        |      THEN 1 ELSE 0 END)::DOUBLE / count(ratio), 6) END
        |    AS frac_in_band
        |FROM sc""".stripMargin,
    "q102_kmeans_clusters" ->
      """SELECT CAST(0 AS BIGINT) AS mismatches, true AS all_nearest,
        |  count(*) AS n_vectors, 8 AS k
        |FROM embeddings""".stripMargin,
    // round(x) ties: Spark HALF_UP vs DuckDB away-from-zero agree for
    // every non-negative-vs-negative case except an EXACT .5 in binary
    // — measure-zero for float data (and amax hits map to exactly
    // ±127.0, not a tie)
    "q94_int8_quant" ->
      """WITH e AS (
        |  SELECT label,
        |    greatest(list_max(CAST(embedding AS DOUBLE[])),
        |      abs(list_min(CAST(embedding AS DOUBLE[])))) AS amax,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x
        |  FROM embeddings
        |), q AS (
        |  SELECT label, amax, x,
        |    CASE WHEN amax > 0 THEN round(x / amax * 127.0) ELSE 0 END AS q
        |  FROM e
        |), er AS (
        |  SELECT label, amax,
        |    CASE WHEN amax > 0 THEN abs(x - q * amax / 127.0) ELSE 0 END AS err
        |  FROM q
        |)
        |SELECT label, count(*) AS n_vals,
        |  round(sum(CAST(round(err, 12) AS DECIMAL(24,12)))::DOUBLE
        |    / count(*), 8) AS mean_abs_err,
        |  round(max(err), 8) AS max_abs_err,
        |  bool_and(err <= amax / 254.0 + 1e-12) AS bound_ok
        |FROM er GROUP BY label""".stripMargin,
    // NB the inner CAST TO DOUBLE is load-bearing: DuckDB casts
    // FLOAT -> DECIMAL by scaling in float precision (garbage past ~7
    // significant digits); float -> double -> decimal is exact.
    "q90_label_centroids" ->
      """SELECT label, pos, count(*) AS n,
        |  round(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12)))::DOUBLE
        |    / count(*), 8) AS mean
        |FROM (SELECT label, unnest(embedding) AS x,
        |        generate_subscripts(embedding, 1) - 1 AS pos
        |      FROM embeddings)
        |GROUP BY label, pos""".stripMargin,
    "q29_vector_expr_eval" ->
      """SELECT round(list_distance([1.0,1.0,1.0]::DOUBLE[], [-1.0,-1.0,-1.0]::DOUBLE[]), 6) AS l2,
        |  round(list_inner_product([1.0,2.0,3.0]::DOUBLE[], [4.0,5.0,6.0]::DOUBLE[]), 6) AS ip,
        |  round(list_cosine_similarity([1.0,0.0]::DOUBLE[], [1.0,1.0]::DOUBLE[]), 6) AS cos""".stripMargin,
    "q30_knn_l2" -> bruteOracle,
    "q100_hybrid_search" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
        |  FROM documents
        |), lens AS (
        |  SELECT doc_id,
        |    len(string_split_regex(lower(trim(text)), '\s+'))::DOUBLE AS len
        |  FROM documents
        |), stats AS (SELECT count(*)::DOUBLE AS n FROM documents),
        |avgl AS (SELECT sum(len) / count(*) AS avglen FROM lens),
        |tf AS (
        |  SELECT doc_id, t, count(*)::DOUBLE AS tf FROM toks
        |  WHERE t IN ('spark', 'join', 'vector') GROUP BY doc_id, t
        |), df AS (SELECT t, count(*)::DOUBLE AS df FROM tf GROUP BY t),
        |sc AS (
        |  SELECT doc_id, round(sum(CAST(round(
        |      ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avglen)),
        |    10) AS DECIMAL(20,10)))::DOUBLE, 8) AS bm25
        |  FROM tf JOIN df USING (t) JOIN lens USING (doc_id), stats, avgl
        |  GROUP BY doc_id
        |), rb AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)
        |    AS rb
        |  FROM (SELECT * FROM sc ORDER BY bm25 DESC, doc_id ASC LIMIT 100)
        |), cosx AS (
        |  SELECT vec_id AS doc_id,
        |    round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
        |       WHERE vec_id = 0)), 8) AS cosv
        |  FROM embeddings
        |), rc AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY cosv DESC, doc_id ASC)
        |    AS rc
        |  FROM (SELECT * FROM cosx ORDER BY cosv DESC, doc_id ASC LIMIT 100)
        |)
        |SELECT COALESCE(rb.doc_id, rc.doc_id) AS doc_id,
        |  round(COALESCE(1.0 / (60 + rb), 0) + COALESCE(1.0 / (60 + rc), 0), 8)
        |    AS rrf,
        |  COALESCE(rb, -1) AS bm25_rank, COALESCE(rc, -1) AS cos_rank
        |FROM rb FULL OUTER JOIN rc ON rb.doc_id = rc.doc_id
        |ORDER BY rrf DESC, doc_id ASC LIMIT 10""".stripMargin,
    "q99_filtered_knn" ->
      """SELECT vec_id,
        |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
        |     WHERE vec_id = 0)), 6) AS sim
        |FROM embeddings e JOIN documents dd ON e.vec_id = dd.doc_id
        |WHERE dd.lang = 'en'
        |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
        |     WHERE vec_id = 0)) DESC, vec_id ASC
        |LIMIT 10""".stripMargin,
    "q31_knn_cosine" ->
      """SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS sim
        |FROM embeddings
        |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), vec_id
        |LIMIT 10""".stripMargin,
    "q32_knn_ip" ->
      """SELECT vec_id, round(list_inner_product(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS ip
        |FROM embeddings
        |ORDER BY list_inner_product(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), vec_id
        |LIMIT 10""".stripMargin,
    "q33_ivfflat_exact" -> bruteOracle,
    "q34_ivfflat_insert" -> bruteOracle,
    // q270: identical survivor set to q261 — probe-all ef makes the
    // tombstoned HNSW exact, so the same filtered brute oracle gates
    // the graph index's delete path
    "q270_hnsw_delete" ->
      """SELECT vec_id, round(list_distance(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS dist
        |FROM embeddings WHERE vec_id % 7 <> 0
        |ORDER BY list_distance(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), vec_id
        |LIMIT 10""".stripMargin,
    // q261: brute force over the SURVIVORS (the query vector vec_id=0
    // is itself deleted — dist 0 must be gone)
    "q261_ivfflat_delete" ->
      """SELECT vec_id, round(list_distance(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS dist
        |FROM embeddings WHERE vec_id % 7 <> 0
        |ORDER BY list_distance(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), vec_id
        |LIMIT 10""".stripMargin,
    // recall gates: the oracle recomputes the exact-side count; the
    // recall_ok flag is the in-engine assertion the driver now sees
    "q35_ivfflat_probe" ->
      s"""SELECT true AS recall_ok, count(*) AS n_exact
        |FROM ($bruteOracle)""".stripMargin,
    "q36_hnsw_knn" ->
      s"""SELECT true AS recall_ok, count(*) AS n_exact
        |FROM ($bruteOracle)""".stripMargin,
    "q37_ann_lsh" ->
      """SELECT true AS recall_ok, count(*) AS n_exact FROM (
        |  SELECT vec_id FROM embeddings
        |  ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
        |     WHERE vec_id = 0)) DESC, vec_id
        |  LIMIT 10)""".stripMargin,
    "q120_binary_quant_knn" ->
      """SELECT true AS recall_ok, count(*) AS n_exact FROM (
        |  SELECT vec_id FROM embeddings
        |  ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
        |     WHERE vec_id = 0)) DESC, vec_id
        |  LIMIT 10)""".stripMargin,
    "q137_matryoshka_knn" ->
      """SELECT true AS recall_ok, count(*) AS n_exact FROM (
        |  SELECT vec_id FROM embeddings
        |  ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
        |     WHERE vec_id = 0)) DESC, vec_id
        |  LIMIT 10)""".stripMargin,
    // two parallel unnests ZIP positionally in DuckDB = posexplode;
    // identical DECIMAL(28,10) accumulation, ::BIGINT off HUGEINT
    "q138_vector_stats" ->
      """WITH u AS (
        |  SELECT unnest(range(len(embedding))) AS dim,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x
        |  FROM embeddings
        |)
        |SELECT dim, count(*)::BIGINT AS n,
        |  round(sum(CAST(x AS DECIMAL(28,10)))::DOUBLE / count(*), 6)
        |    AS mean,
        |  round(sum(CAST(x * x AS DECIMAL(28,10)))::DOUBLE / count(*), 6)
        |    AS mean_sq,
        |  round(min(x), 6) AS x_min, round(max(x), 6) AS x_max
        |FROM u GROUP BY dim""".stripMargin,
    // q228: same per-row quantize→dequantize fold (1-arg round is
    // half-away-from-zero in both engines, matching Spark's HALF_UP),
    // same rounded-to-8 DECIMAL label sums
    "q228_int8_quant" ->
      """WITH b AS (
        |  SELECT label, CAST(embedding AS DOUBLE[]) AS v,
        |    list_max(list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> abs(x))) / 127.0 AS s
        |  FROM embeddings
        |), er AS (
        |  SELECT label, s, len(v) AS d,
        |    CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
        |      ELSE list_transform(v, x -> x - round(x / s) * s) END AS e
        |  FROM b
        |), r AS (
        |  SELECT label,
        |    CAST(round(list_sum(list_transform(e, x -> x * x))
        |      / d, 8) AS DECIMAL(20,8)) AS mse8,
        |    round(list_max(list_transform(e, x -> abs(x))), 8) AS me8,
        |    CASE WHEN s = 0 THEN 1 ELSE 0 END AS z
        |  FROM er
        |)
        |SELECT label, count(*) AS n_vecs,
        |  round(sum(mse8)::DOUBLE / count(*), 8) AS avg_mse,
        |  max(me8) AS max_abs_err,
        |  CAST(sum(z) AS BIGINT) AS n_zero_vecs
        |FROM r GROUP BY label""".stripMargin,

    "q38_knn_rewrite" -> bruteOracle,
    "q26_knn_join_brute" -> knnJoinOracle,
    "q27_knn_join_ivf" -> knnJoinOracle,
    "q141_knn_join_ivf_heap" -> knnJoinOracle,
    "q145_hard_negatives" ->
      """WITH a AS (
        |  SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av,
        |    label AS al
        |  FROM embeddings WHERE vec_id % 20 = 0),
        |sc AS (
        |  SELECT a.anchor_id, e.vec_id AS neg_id,
        |    list_cosine_similarity(a.av, CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM a JOIN embeddings e ON e.label <> a.al),
        |rnk AS (
        |  SELECT anchor_id, neg_id, cos, row_number() OVER (
        |    PARTITION BY anchor_id ORDER BY cos DESC, neg_id ASC) AS rk
        |  FROM sc)
        |SELECT anchor_id, neg_id, rk, round(cos, 6) AS cos
        |FROM rnk WHERE rk <= 5""".stripMargin,
    "q75_pq_knn_join" -> knnJoinOracle,
    "q78_ivfpq_knn_join" -> knnJoinOracle,
    "q55_hnsw_knn_join" -> knnJoinOracle,
    "q39_hnsw_partitioned" -> bruteOracle,
    "q67_pq_knn" -> bruteOracle,
    "q69_ivfpq_knn" -> bruteOracle,
    "q124_radius_search" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  round(list_distance(CAST(embedding AS DOUBLE[]),
        |    (SELECT qv FROM q)), 6) AS dist
        |FROM embeddings
        |WHERE round(list_distance(CAST(embedding AS DOUBLE[]),
        |    (SELECT qv FROM q)), 6) <= 1.25""".stripMargin,
    "q132_maxsim" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 4
        |), d AS (
        |  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), m AS (
        |  SELECT label, q_id,
        |    max(round(list_cosine_similarity(v, qv), 6)) AS mx
        |  FROM d CROSS JOIN q GROUP BY 1, 2
        |)
        |SELECT label,
        |  round(CAST(sum(CAST(mx AS DECIMAL(18,6))) AS DOUBLE), 6) AS maxsim,
        |  count(*) AS n_q
        |FROM m GROUP BY label""".stripMargin,
    "q182_retrieval_metrics" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 8
        |), j AS (
        |  SELECT q.q_id, e.vec_id,
        |    list_cosine_similarity(e.v, q.qv) AS cos,
        |    list_cosine_similarity(e.v[1:32], q.qv[1:32]) AS pcos
        |  FROM e, q WHERE e.vec_id <> q.q_id
        |), ex AS (
        |  SELECT q_id, vec_id, erk FROM (
        |    SELECT q_id, vec_id, row_number() OVER
        |      (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS erk
        |    FROM j) WHERE erk <= 10
        |), sl AS (
        |  SELECT q_id, vec_id, cos FROM (
        |    SELECT q_id, vec_id, cos, row_number() OVER
        |      (PARTITION BY q_id ORDER BY pcos DESC, vec_id) AS prk
        |    FROM j) WHERE prk <= 100
        |), ap AS (
        |  SELECT q_id, vec_id, ark FROM (
        |    SELECT q_id, vec_id, row_number() OVER
        |      (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS ark
        |    FROM sl) WHERE ark <= 10
        |), rel AS (
        |  SELECT ap.q_id, ap.ark, ex.erk,
        |    CAST(round(coalesce(11 - ex.erk, 0)::DOUBLE
        |      / log2(ap.ark + 1), 8) AS DECIMAL(20,8)) AS dterm
        |  FROM ap LEFT JOIN ex
        |    ON ap.q_id = ex.q_id AND ap.vec_id = ex.vec_id
        |), d AS (
        |  SELECT q_id, sum(dterm) AS dcg,
        |    max(CASE WHEN erk = 1 THEN ark END) AS top1_rank
        |  FROM rel GROUP BY 1
        |), i AS (
        |  SELECT q_id, sum(CAST(round((11 - erk)::DOUBLE
        |    / log2(erk + 1), 8) AS DECIMAL(20,8))) AS idcg
        |  FROM ex GROUP BY 1
        |)
        |SELECT d.q_id,
        |  round(coalesce(1.0 / top1_rank, 0.0), 6) AS mrr,
        |  round(dcg::DOUBLE / idcg::DOUBLE, 6) AS ndcg
        |FROM d JOIN i ON d.q_id = i.q_id
        |ORDER BY d.q_id""".stripMargin,
    "q169_pca_power" -> ("""WITH x AS MATERIALIZED (
        |  SELECT vec_id, i, embedding[i + 1]::DOUBLE AS xi
        |  FROM embeddings, unnest(range(0, 64)) AS r(i)
        |), c AS MATERIALIZED (
        |  SELECT a.i AS i, b.i AS j,
        |    CAST(sum(CAST(floor(a.xi * b.xi * 1e12) AS BIGINT))
        |      AS BIGINT) AS cl
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id
        |  GROUP BY 1, 2
        |), v0 AS MATERIALIZED (
        |  SELECT i AS j, 0.125::DOUBLE AS vj
        |  FROM (SELECT DISTINCT i FROM x)
        |)""".stripMargin
      + (1 to 60).map(r => s"""
, w$r AS MATERIALIZED (
  SELECT c.i,
    CAST(sum(CAST(floor(c.cl / 1e12 * v.vj * 1e12) AS BIGINT))
      AS BIGINT) AS ws
  FROM c JOIN v${r - 1} v ON c.j = v.j GROUP BY 1
), n$r AS MATERIALIZED (
  SELECT sqrt(CAST(sum(CAST(floor((ws / 1e12) * (ws / 1e12) * 1e6)
    AS BIGINT)) AS BIGINT) / 1e6) AS nrm FROM w$r
), v$r AS MATERIALIZED (
  SELECT i AS j, floor(ws / 1e12 / nrm * 1e9) / 1e9 AS vj
  FROM w$r, n$r
)""").mkString
      + """
SELECT j AS dim, round(vj, 6) AS loading,
  round((SELECT nrm FROM n60), 6) AS eigenvalue
FROM v60 ORDER BY abs(vj) DESC, dim LIMIT 8""")
  )

  private lazy val knnJoinOracle =
    """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id < 20),
      |     d AS (SELECT vec_id AS d_id, CAST(embedding AS DOUBLE[]) AS dv
      |           FROM embeddings)
      |SELECT q_id, d_id, round(dist, 6) AS dist, rk FROM (
      |  SELECT q.q_id, d.d_id, list_distance(d.dv, q.qv) AS dist,
      |    row_number() OVER (PARTITION BY q.q_id
      |      ORDER BY list_distance(d.dv, q.qv), d.d_id) AS rk
      |  FROM q CROSS JOIN d)
      |WHERE rk <= 5""".stripMargin
}
