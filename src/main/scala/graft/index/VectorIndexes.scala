package graft.index

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.{DistanceMetric, ListedBucket, VectorDistanceApi}

/** Vector-index catalog and index selection.
  *
  * Mirrors the reference's `Catalog::CreateVectorIndex` metadata
  * (`src/include/catalog/catalog.h:293-350`: index name, table, column,
  * method, distance fn, options) and the optimizer's index selection
  * (`src/optimizer/vector_index_scan.cpp:29-62` MatchVectorIndex):
  *   - session var `vector_index_method` ∈ ivfflat | hnsw | none | unset
  *     (reference `optimizer.cpp:26`), here the Spark conf
  *     `graft.vector_index_method`;
  *   - unset: prefer an index with the matching distance fn, else any
  *     index on the column (the reference's documented quirk, `:52-59`);
  *   - none: always brute-force.
  */
object VectorIndexes {

  /** A registered index as the KNN rewrite serves it. Contract: an
    * index's ids are the row ids of the table it indexes (`idCol`; the
    * engine's `__rid`), so the rewrite can filter that table to them. */
  sealed trait Model {
    /** The row ids a KNN for `query` must rank — the rewrite keeps the
      * query's own Sort+Limit, which ranks them with exact distances. */
    def candidateIds(query: Array[Double], k: Int): Array[Long]
  }

  /** IVFFlat served from `lists`, its posting lists on the driver;
    * `m` is the bucketed model the batch paths and `save` use (an
    * engine index's `m.buckets` is `lists.layout` over its table). */
  final case class IvfModel(m: IvfFlatModel, idCol: String)(
      val lists: PostingLists) extends Model {
    /** Every id in the `probe_lists` nearest non-empty lists. */
    def candidateIds(query: Array[Double], k: Int): Array[Long] =
      lists.candidateIds(m.probed(query, lists.nonEmpty))
  }
  object IvfModel {
    /** `m` with posting lists collected from its buckets. */
    def of(m: IvfFlatModel, idCol: String): IvfModel =
      IvfModel(m, idCol)(PostingLists.empty.add(m.buckets, idCol))
  }

  /** IVFFlat posting lists as one assignment: each listed row id
    * (`ids`, ascending; no vectors) and its bucket (`buckets`, same
    * position). Rows above `maxId` are the ones an INSERT adds. */
  final case class PostingLists(ids: Array[Long], buckets: Array[Int]) {
    def maxId: Long = if (ids.isEmpty) -1L else ids.last

    /** The buckets holding at least one id. */
    lazy val nonEmpty: Seq[Int] = buckets.distinct.toSeq

    /** These lists plus the rows of `rows`, a frame in the bucket
      * layout (`__bucket`, `idCol`) whose ids all lie above `maxId`:
      * one (bucket, id) collect. */
    def add(rows: DataFrame, idCol: String): PostingLists = {
      import org.apache.spark.sql.functions.col
      val pairs = rows.filter(col(idCol).isNotNull)
        .select(col(idCol).cast("long"), col("__bucket")).collect()
        .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
      require(pairs.isEmpty || ids.isEmpty || pairs.head._1 > maxId,
        s"posting lists: new id ${pairs.head._1} is not above $maxId")
      if (pairs.isEmpty) this
      else PostingLists(ids ++ pairs.map(_._1), buckets ++ pairs.map(_._2))
    }

    /** The ids listed in `probed` buckets, ascending. */
    def candidateIds(probed: Seq[Int]): Array[Long] = {
      val mask = new Array[Boolean](if (probed.isEmpty) 0 else probed.max + 1)
      probed.foreach(b => mask(b) = true)
      val out = Array.newBuilder[Long]
      var i = 0
      while (i < ids.length) {
        val b = buckets(i)
        if (b < mask.length && mask(b)) out += ids(i)
        i += 1
      }
      out.result()
    }

    /** `rows` in the bucket layout (`__bucket`, `idCol`, `vecCol`, the
      * columns [[IvfFlatModel.assign]] selects), each at its listed
      * bucket; rows these lists do not hold are left out. */
    def layout(rows: DataFrame, idCol: String, vecCol: String): DataFrame = {
      import org.apache.spark.sql.functions.col
      val bucket = VectorDistanceApi.column(ListedBucket(
        VectorDistanceApi.expression(col(idCol).cast("long")), ids, buckets))
      rows.select(bucket.as("__bucket"), col(idCol),
          col(vecCol).cast("array<double>").as(vecCol))
        .filter(col("__bucket").isNotNull)
    }
  }
  object PostingLists {
    val empty: PostingLists = PostingLists(Array.emptyLongArray, Array.emptyIntArray)
  }
  final case class HnswModel(idx: HnswIndex, idCol: String) extends Model {
    def candidateIds(query: Array[Double], k: Int): Array[Long] =
      idx.scanIds(query, k)
  }

  final case class IndexMeta(
      name: String, table: String, column: String, method: String,
      metric: DistanceMetric.Value, model: Model,
      idCol: String = "",
      /** Canonicalized leaf of the indexed table's plan — how the
        * optimizer rule recognizes the table inside arbitrary queries
        * (the reference matches SeqScan table OIDs instead,
        * vector_index_scan.cpp:44-50). */
      leaf: Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
        None)

  private val registry = TrieMap.empty[String, IndexMeta]

  def register(meta: IndexMeta): Unit = registry.put(meta.name, meta)
  def drop(name: String): Unit = registry.remove(name)
  def get(name: String): Option[IndexMeta] = registry.get(name)
  def list(): Seq[IndexMeta] = registry.values.toSeq

  private def leafOf(df: DataFrame) = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    if (leaves.length == 1) Some(leaves.head.canonicalized) else None
  }

  def createIvfFlat(name: String, table: String, df: DataFrame,
      idCol: String, vecCol: String, lists: Int, probeLists: Int,
      metric: DistanceMetric.Value = DistanceMetric.L2): IvfFlatModel = {
    val (m, trained) =
      IvfFlat.train(df, Seq(idCol), vecCol, lists, probeLists, metric)
    val served = trained.fold(IvfModel.of(m, idCol))(IvfModel(m, idCol)(_))
    register(IndexMeta(name, table, vecCol, "ivfflat", metric, served, idCol,
      leafOf(df)))
    m
  }

  def createHnsw(name: String, table: String, df: DataFrame,
      idCol: String, vecCol: String, m: Int, efConstruction: Int,
      efSearch: Int,
      metric: DistanceMetric.Value = DistanceMetric.L2): HnswIndex = {
    val idx = Hnsw.build(df, idCol, vecCol, m, efConstruction, efSearch,
      metric)
    register(IndexMeta(name, table, vecCol, "hnsw", metric,
      HnswModel(idx, idCol), idCol, leafOf(df)))
    idx
  }

  /** Persist the registry: one `_registry` parquet of metadata rows
    * plus each index's own persisted layout under `root/<name>/`
    * (IVFFlat's bucketed parquet via `IvfFlatModel.save`; the
    * driver-side HNSW graph Java-serialized — it is a driver object by
    * design, see SURVEY §8.4). The reference's catalog is
    * equally in-memory (catalog.h:293-350) — this is scale-hardening
    * beyond parity: an engine restart reopens its indexes instead of
    * rebuilding them. */
  def saveRegistry(spark: SparkSession, root: String): Unit = {
    import spark.implicits._
    val metas = list().sortBy(_.name)
    metas.foreach { m =>
      m.model match {
        case IvfModel(mm, _) => mm.save(s"$root/${m.name}/ivf")
        case HnswModel(idx, _) =>
          // Hadoop FS, not java.io: the registry root may be hdfs://
          // or s3a:// — the parquet pieces already go through the
          // FileSystem API, the blob must too (ADVICE r4)
          val p = new org.apache.hadoop.fs.Path(s"$root/${m.name}/hnsw.bin")
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val oos = new java.io.ObjectOutputStream(fs.create(p, true))
          try oos.writeObject(idx) finally oos.close()
      }
    }
    metas.map(m => (m.name, m.table, m.column, m.method, m.metric.id,
        m.idCol))
      .toDF("name", "table", "column", "method", "metric", "id_col")
      .repartition(1).write.mode("overwrite").parquet(s"$root/_registry")
  }

  /** Reopen a persisted registry: every entry is registered with its
    * reloaded model (IVFFlat posting lists re-collected from the saved
    * layout) and `leaf = None` — callers that route the
    * optimizer rule re-derive leaves against their current table
    * plans (Engine.loadIndexRegistry does). */
  def loadRegistry(spark: SparkSession, root: String): Seq[IndexMeta] =
    spark.read.parquet(s"$root/_registry").collect().toSeq.map { r =>
      val name = r.getAs[String]("name")
      val method = r.getAs[String]("method")
      val idCol = r.getAs[String]("id_col")
      val model = method match {
        case "ivfflat" =>
          IvfModel.of(IvfFlat.load(spark, s"$root/$name/ivf"), idCol)
        case "hnsw" =>
          val p = new org.apache.hadoop.fs.Path(s"$root/$name/hnsw.bin")
          val fs =
            p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val ois = new java.io.ObjectInputStream(fs.open(p))
          val idx = try ois.readObject().asInstanceOf[HnswIndex]
            finally ois.close()
          HnswModel(idx, idCol)
        case other => sys.error(s"unknown persisted index method $other")
      }
      val meta = IndexMeta(name, r.getAs[String]("table"),
        r.getAs[String]("column"), method,
        DistanceMetric(r.getAs[Int]("metric")), model, idCol, None)
      register(meta)
      meta
    }

  /** Index selection per MatchVectorIndex (see object doc), keyed by
    * the indexed table's canonicalized plan leaf — the optimizer rule
    * only knows the plan. */
  def selectByLeaf(
      leaf: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      column: String, metric: DistanceMetric.Value,
      method: String): Option[IndexMeta] = {
    val candidates = registry.values
      .filter(m => m.leaf.contains(leaf) && m.column == column)
      .toSeq.sortBy(_.name)
    method match {
      case "none" => None
      case "ivfflat" | "hnsw" =>
        candidates.find(m => m.method == method && m.metric == metric)
      case _ => // unset: prefer matching metric, else any (reference :52-59)
        candidates.find(_.metric == metric).orElse(candidates.headOption)
    }
  }

  /** Attach the KNN rewrite rule and the KNN top-k operator's planner
    * strategy to an existing session (for config-time wiring use
    * spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions).
    * Idempotent. */
  def enableRewrite(spark: SparkSession): Unit = {
    import org.apache.spark.sql.graft.{VectorIndexScanRule, VectorTopKStrategy}
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[VectorIndexScanRule]))
      spark.experimental.extraOptimizations = cur :+ new VectorIndexScanRule(spark)
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(VectorTopKStrategy))
      spark.experimental.extraStrategies = strategies :+ VectorTopKStrategy
  }
}
