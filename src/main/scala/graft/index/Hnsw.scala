package graft.index

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.{DistanceMetric, NearestCentroid}

/** HNSW ANN index.
  *
  * Graph construction is inherently sequential per-insert, so the build
  * runs on the driver over the collected (id, vector) pairs — the same
  * trade the reference makes implicitly by being single-node
  * (`src/storage/index/hnsw_index.cpp:180-185`, BuildIndex = shuffle +
  * insert one-by-one). Hyperparameters follow the reference exactly
  * (`hnsw_index.cpp:51-54`): m_max = m, m_max0 = m², m_l = 1/ln(m);
  * random level = floor(-ln(U) * m_l) (`:207-209`); greedy best-first
  * SearchLayer with a candidate min-heap and a result max-heap bounded
  * by ef (`:86-130`); neighbor selection = simple m-nearest (`:62-83`).
  *
  * "Distance" is ComputeDistance's raw value (L2 with sqrt, raw inner
  * product, raw cosine similarity) minimized — reproducing the
  * reference's ordering for ALL metrics, including the quirky
  * least-similar-first IP/cosine behavior (SURVEY §7.4).
  *
  * Serving: the graph is a small immutable structure; ship it with
  * `broadcast` and probe per-partition for batch KNN-join, or query it
  * on the driver for single lookups. At 100TB the scale path is
  * `Hnsw.buildPartitioned`: HNSW-per-partition sub-graphs persisted
  * distributed (executor memory, never collected), probed in place,
  * merged top-k.
  *
  * Determinism: seeded RNG (default 42) + deterministic insert order
  * (caller sorts) make builds reproducible; recall properties are
  * asserted in HnswSpec rather than exact rows, matching how the
  * reference's own tests only pin `statement ok` for HNSW.
  */
final class HnswIndex(
    val m: Int,
    val efConstruction: Int,
    val efSearch: Int,
    val metric: DistanceMetric.Value,
    seed: Long = 42L) extends Serializable {

  private val mMax = m
  private val mMax0 = m * m
  private val mL = 1.0 / math.log(m.toDouble)
  private val rng = new Random(seed)
  private val metricId = metric.id

  // The vectors, held once and contiguously: vertex v's vector is
  // store(v * dim until (v + 1) * dim) and its external id ids(v), in
  // insertion order. `ids.length` is the row capacity (the store holds
  // that many rows): exact after [[Hnsw.build]] (it reserves the
  // corpus), and an insert past it grows both by
  // [[Hnsw.growthRows]] — at most 1/8 of the rows or one small block,
  // never a doubling — so a live index carries bounded slack and
  // appends stay amortized O(1). `dim` is fixed by the first vector.
  private var dim: Int = -1
  private var n: Int = 0
  private var store: Array[Double] = Array.emptyDoubleArray
  private var ids: Array[Long] = Array.emptyLongArray

  // layers(l) = adjacency for layer l as a DENSE array indexed by
  // vertex (null slot = vertex absent from the layer); layer 0 holds
  // every vertex. Neighbor lists are flat int arrays sized to their
  // entries ([[Hnsw.Nbrs]]); the hot path allocates nothing per visit.
  private val layers =
    mutable.ArrayBuffer[mutable.ArrayBuffer[Hnsw.Nbrs]](
      mutable.ArrayBuffer())
  private var entryPoint: Int = -1

  // Epoch-stamped visited marks, one set per thread that walks this
  // graph and reused across its searchLayer calls (an int array instead
  // of a hash set per search). Per thread because scans of one graph
  // may run at once: Hnsw.knnJoin probes one broadcast graph from
  // several tasks. Transient: recreated lazily after deserialization.
  @transient private lazy val visited =
    ThreadLocal.withInitial[Hnsw.Marks](() => new Hnsw.Marks)

  /** Grow `layers(layer)` so slot `v` exists, and make the vertex a
    * member of the layer (empty neighbor list) if it wasn't. */
  private def slot(layer: Int, v: Int): Unit = {
    val adj = layers(layer)
    while (adj.length <= v) adj += null
    if (adj(v) == null) adj(v) = new Hnsw.Nbrs
  }

  /** The neighbor list of `v` in `layer`, or null when the vertex is
    * not a member (dense array ⇒ also null past the end). */
  @inline private def nbrsOf(layer: Int, v: Int): Hnsw.Nbrs = {
    val adj = layers(layer)
    if (v < adj.length) adj(v) else null
  }

  /** ComputeDistance from `q(qo until qo + dim)` to vertex `v`, read in
    * place from the store (L2 takes its sqrt here). */
  private def dist(q: Array[Double], qo: Int, v: Int): Double = {
    val d = NearestCentroid.distanceAt(q, qo, dim, store, v * dim, metricId)
    if (metricId == 0) math.sqrt(d) else d
  }

  /** [[dist]] to each of `vs(0 until cnt)`, into `out(0 until cnt)`:
    * four vertices per [[NearestCentroid.distance4]] pass, the rest one
    * by one. Every value has [[dist]]'s bits (each sum keeps its
    * element order), so batching changes no heap decision and no
    * edge. */
  private def distances(q: Array[Double], qo: Int, vs: Array[Int],
      cnt: Int, out: Array[Double]): Unit = {
    var j = 0
    while (j + 4 <= cnt) {
      NearestCentroid.distance4(q, qo, dim, store, vs(j) * dim,
        store, vs(j + 1) * dim, store, vs(j + 2) * dim,
        store, vs(j + 3) * dim, metricId, out, j)
      j += 4
    }
    while (j < cnt) {
      out(j) = NearestCentroid.distanceAt(q, qo, dim, store, vs(j) * dim,
        metricId)
      j += 1
    }
    if (metricId == 0) {
      j = 0
      while (j < cnt) { out(j) = math.sqrt(out(j)); j += 1 }
    }
  }

  /** Marks the vertices of `vs(0 until cnt)` not yet visited in `epoch`
    * visited, in list order, gathers them into `g` and scores them
    * against `q`; returns how many were gathered. */
  private def gather(q: Array[Double], vs: Array[Int], cnt: Int,
      mark: Array[Int], epoch: Int, g: Hnsw.Batch): Int = {
    g.fit(cnt)
    var c = 0
    var j = 0
    while (j < cnt) {
      val t = vs(j)
      if (mark(t) != epoch) {
        mark(t) = epoch; g.vs(c) = t; c += 1
      }
      j += 1
    }
    distances(q, 0, g.vs, c, g.ds)
    c
  }

  def size: Int = n

  /** Highest external id ever inserted (-1 when empty) — the insert
    * watermark callers should use; `size` under-counts relative to row
    * ids whenever unindexable (null-vector) rows were skipped. */
  def maxId: Long = if (n == 0) -1L else _maxId
  private var _maxId: Long = -1L

  /** Tombstoned (soft-deleted) slots. Search still ROUTES THROUGH
    * them — physically unlinking vertices would tear holes in the
    * small-world graph and silently cost recall on untouched ids —
    * but a tombstone can never be RETURNED. This is the production
    * HNSW delete (soft delete + filtered search, compaction
    * deferred to a rebuild); [[scanFull]] widens its beam by the
    * tombstone count so a probe-all scan stays EXACT over the
    * survivors. */
  private val deleted = new java.util.BitSet()
  private var nDeleted = 0

  /** Tombstone every slot whose external id equals `id`; returns
    * whether anything was newly deleted. */
  def delete(id: Long): Boolean = {
    var i = 0
    var hit = false
    while (i < n) {
      if (ids(i) == id && !deleted.get(i)) {
        deleted.set(i); nDeleted += 1; hit = true
      }
      i += 1
    }
    hit
  }

  def deletedCount: Int = nDeleted

  /** Greedy best-first search in one layer (reference SearchLayer,
    * hnsw_index.cpp:86-130): candidates min-heap, results max-heap
    * bounded by ef. Returns up to ef vertices, distance-ascending.
    * Heaps are primitive (double, int) binary heaps ([[Hnsw.DIHeap]] —
    * max-heap = min-heap on the negated distance), visited tracking is
    * the epoch array — zero boxing anywhere in the walk. An expanded
    * vertex's unvisited neighbours are gathered and scored as a batch
    * ([[gather]]), then offered to the heaps one by one in list order —
    * the same pushes, in the same order, as scoring each on the way. */
  private def searchLayer(layer: Int, query: Array[Double], ef: Int,
      entries: Array[Int]): Array[Int] = {
    val marks = visited.get
    if (marks.mark.length < n) marks.mark = new Array[Int](ids.length)
    marks.epoch += 1
    val mark = marks.mark
    val epoch = marks.epoch
    val cand = new Hnsw.DIHeap   // min-heap on distance
    val result = new Hnsw.DIHeap // max-heap: keys stored negated
    val g = new Hnsw.Batch
    var c = gather(query, entries, entries.length, mark, epoch, g)
    var i = 0
    while (i < c) {
      cand.push(g.ds(i), g.vs(i)); result.push(-g.ds(i), g.vs(i)); i += 1
    }
    while (result.size > ef) result.pop()
    var done = false
    while (cand.size > 0 && !done) {
      val d = cand.headKey
      val v = cand.headVal
      cand.pop()
      if (result.size > 0 && d > -result.headKey) done = true
      else {
        val nb = nbrsOf(layer, v)
        if (nb != null) {
          c = gather(query, nb.a, nb.n, mark, epoch, g)
          var j = 0
          while (j < c) {
            val nd = g.ds(j)
            if (result.size < ef || nd < -result.headKey) {
              cand.push(nd, g.vs(j)); result.push(-nd, g.vs(j))
              if (result.size > ef) result.pop()
            }
            j += 1
          }
        }
      }
    }
    // drain the max-heap back-to-front → distance-ascending ids
    val out = new Array[Int](result.size)
    var k = result.size - 1
    while (k >= 0) {
      out(k) = result.headVal; result.pop(); k -= 1
    }
    out
  }

  private def connect(layer: Int, a: Int, b: Int): Unit = {
    slot(layer, a); slot(layer, b)
    layers(layer)(a).add(b)
    layers(layer)(b).add(a)
  }

  /** Degree-bound pruning: over-degree vertices keep only the m
    * nearest of their CURRENT neighbors.
    *
    * INTENTIONAL DEVIATION from the reference's PurgeEdges
    * (hnsw_index.cpp:154-170), which re-selects the m nearest among
    * ALL vertices in the layer (an O(layer) rescan that also re-links
    * to vertices that were never neighbors), and from its descent
    * that inserts path edges into `layers_[level]` rather than the
    * layer being descended (hnsw_index.cpp:240). Both are
    * reference-implementation quirks, not published-HNSW semantics;
    * we follow the paper (prune within the neighbor set). The graphs
    * therefore differ structurally; parity is pinned at the
    * RESULT level — recall bounds in IndexSpec, and exact equality
    * with brute force under probe-all ef (q55/q39 oracles). */
  private def prune(layer: Int, v: Int): Unit = {
    val maxDeg = if (layer == 0) mMax0 else mMax
    val nbrs = nbrsOf(layer, v)
    if (nbrs != null && nbrs.n > maxDeg) {
      val ds = new Array[Double](nbrs.n)
      distances(store, v * dim, nbrs.a, nbrs.n, ds)
      val keep = Hnsw.nearestK(ds, nbrs.a, nbrs.n, m)
      var i = 0
      while (i < nbrs.n) {
        val old = nbrsOf(layer, nbrs.a(i))
        if (old != null) old.remove(v)
        i += 1
      }
      nbrs.setTo(keep)
      i = 0
      while (i < keep.length) {
        slot(layer, keep(i)); layers(layer)(keep(i)).add(v); i += 1
      }
    }
  }

  /** Row capacity for exactly `rows` vectors of `d` doubles — what
    * [[Hnsw.build]] reserves before inserting a corpus it has counted. */
  private[index] def reserve(rows: Int, d: Int): Unit = {
    if (dim < 0) dim = d
    if (rows > ids.length) resize(rows)
  }

  private def resize(rows: Int): Unit = {
    store = java.util.Arrays.copyOf(store, rows * dim)
    ids = java.util.Arrays.copyOf(ids, rows)
  }

  /** Insert (reference InsertVectorEntry, hnsw_index.cpp:204-279):
    * geometric random level, descend with ef=1 above the target level,
    * connect to up to efConstruction neighbors on target..0, prune.
    * The vector is copied into the store. */
  def insert(id: Long, vec: Array[Double]): Unit = {
    if (dim < 0) dim = vec.length
    require(vec.length == dim,
      s"hnsw: a vector of dim ${vec.length} in an index of dim $dim")
    val v = n
    if (v == ids.length) resize(v + Hnsw.growthRows(v))
    System.arraycopy(vec, 0, store, v * dim, dim)
    ids(v) = id
    n += 1
    if (id > _maxId) _maxId = id
    val level = math.floor(-math.log(rng.nextDouble()) * mL).toInt
    if (entryPoint < 0) {
      while (layers.length <= level) layers += mutable.ArrayBuffer()
      (0 to level).foreach(l => slot(l, v))
      entryPoint = v
      return
    }
    val topLevel = layers.length - 1
    var eps: Array[Int] = Array(entryPoint)
    var l = topLevel
    while (l > math.min(level, topLevel)) {
      eps = searchLayer(l, vec, 1, eps); l -= 1
    }
    while (l >= 0) {
      val found = searchLayer(l, vec, efConstruction, eps)
      slot(l, v)
      found.foreach(n => connect(l, v, n))
      prune(l, v)
      found.foreach(n => prune(l, n))
      eps = found
      l -= 1
    }
    if (level > topLevel) {
      while (layers.length <= level) {
        layers += mutable.ArrayBuffer()
        slot(layers.length - 1, v)
      }
      entryPoint = v
    }
  }

  /** The `k` nearest live vertices, nearest first (reference
    * ScanVectorKey, hnsw_index.cpp:188-201): descend layers with
    * efSearch, then a layer-0 search with max(k, efSearch). `ef` > 0
    * overrides the build-time efSearch for THIS scan — the
    * recall-vs-time knob a serving layer tunes without rebuilding the
    * graph (VectorScaleBench's hard-corpus sweep uses it).
    *
    * Probe-all mode (ef >= |vectors|): seed the layer-0 search with
    * EVERY vertex instead of the greedy descent. The beam with ef >= n
    * then ranks all n vertices, so the result is exact even if
    * degree-bound pruning ever disconnected the graph — the
    * guarantee q55/q39's brute-force oracles rely on; connectivity
    * alone would be an empirical assumption. */
  private def nearest(query: Array[Double], k: Int, ef: Int): Array[Int] = {
    if (entryPoint < 0) return Array.emptyIntArray
    require(query.length == dim,
      s"hnsw: a query of dim ${query.length} against an index of dim $dim")
    val efUse = if (ef > 0) ef else efSearch
    val eps0: Array[Int] =
      if (efUse >= n) Array.range(0, n)
      else {
        var eps: Array[Int] = Array(entryPoint)
        var l = layers.length - 1
        while (l > 0) { eps = searchLayer(l, query, efUse, eps); l -= 1 }
        eps
      }
    // beam widened by the tombstone count: with ef >= n (probe-all)
    // every survivor is ranked, so filter-then-take(k) is exact
    searchLayer(0, query, math.max(k + nDeleted, efUse), eps0)
      .iterator.filterNot(v => deleted.get(v)).take(k).toArray
  }

  /** KNN scan: (id, distance) of the `k` nearest, nearest first. */
  def scan(query: Array[Double], k: Int, ef: Int = -1)
      : Seq[(Long, Double)] =
    nearest(query, k, ef).toSeq.map(v => (ids(v), dist(query, 0, v)))

  /** The ids of [[scan]]'s answer, without its distances. */
  def scanIds(query: Array[Double], k: Int, ef: Int = -1): Array[Long] =
    nearest(query, k, ef).map(ids(_))

  /** scan() + a copy of each stored vector. */
  def scanFull(query: Array[Double], k: Int, ef: Int = -1)
      : Seq[(Long, Array[Double], Double)] =
    nearest(query, k, ef).toSeq.map(v => (ids(v),
      java.util.Arrays.copyOfRange(store, v * dim, (v + 1) * dim),
      dist(query, 0, v)))

  /** What the index holds: the store's cells and those in use, and each
    * neighbor list's (capacity, entries). */
  private[index] def footprint: Hnsw.Footprint =
    Hnsw.Footprint(store.length, n * math.max(dim, 0),
      layers.flatMap(_.iterator.filter(_ != null).map(l => (l.a.length, l.n)))
        .toIndexedSeq)

  /** The graph: per layer, each vertex slot's neighbor ids in stored
    * order (null = not a member), and the entry point. */
  private[index] def graph: (IndexedSeq[IndexedSeq[Array[Int]]], Int) =
    (layers.map(_.map(l =>
      if (l == null) null else java.util.Arrays.copyOf(l.a, l.n))
      .toIndexedSeq).toIndexedSeq, entryPoint)
}

object Hnsw {

  /** The `k` ids of `vs(0 until n)` with the smallest `ds`, nearest
    * first, ordered by `java.lang.Double.compare` on the distance and
    * then by id — the total order of the boxed
    * `sortBy(i => (ds(i), vs(i))).take(k)`, kept by insertion into a
    * k-slot sorted buffer instead. */
  private[index] def nearestK(ds: Array[Double], vs: Array[Int], n: Int,
      k: Int): Array[Int] = {
    val kk = math.min(k, n)
    val kd = new Array[Double](kk)
    val kv = new Array[Int](kk)
    var size = 0
    var i = 0
    while (i < n) {
      val d = ds(i); val v = vs(i)
      var j = size // insertion point: after every kept entry <= (d, v)
      while (j > 0 && {
        val c = java.lang.Double.compare(d, kd(j - 1))
        c < 0 || (c == 0 && v < kv(j - 1))
      }) j -= 1
      if (j < kk) {
        val moved = math.min(size, kk - 1) - j
        System.arraycopy(kd, j, kd, j + 1, moved)
        System.arraycopy(kv, j, kv, j + 1, moved)
        kd(j) = d; kv(j) = v
        if (size < kk) size += 1
      }
      i += 1
    }
    kv
  }

  /** Flat-int-array neighbor list: append with a linear dup check,
    * swap-remove — the degree bound (m² at layer 0) keeps `n` tiny, so
    * linear scans over a primitive array are faster than any hash set
    * and allocate nothing. Capacity policy: a full list grows by half
    * (at least 4 slots), and a list left with far fewer entries than
    * slots — a layer-0 list cut from m² + 1 to m by `prune`'s
    * [[setTo]], or one thinned by `remove`s — shrinks to its entries.
    * So every list keeps capacity <= 1.5 × entries + 8 (a doubling
    * policy left a cut layer-0 list at 128 slots for 8 edges).
    * Serializable so sub-graphs survive the deep-copy insert path and
    * the registry's saved graph unchanged. */
  private[index] final class Nbrs extends Serializable {
    var a: Array[Int] = new Array[Int](8)
    var n: Int = 0
    def add(x: Int): Unit = {
      var i = 0
      while (i < n) { if (a(i) == x) return; i += 1 }
      if (n == a.length)
        a = java.util.Arrays.copyOf(a, n + math.max(n >> 1, 4))
      a(n) = x; n += 1
    }
    def remove(x: Int): Unit = {
      var i = 0
      while (i < n) {
        if (a(i) == x) {
          n -= 1; a(i) = a(n)
          if (loose) a = java.util.Arrays.copyOf(a, n)
          return
        }
        i += 1
      }
    }
    def setTo(xs: Array[Int]): Unit = {
      n = xs.length
      if (n > a.length || loose) a = java.util.Arrays.copyOf(xs, n)
      else System.arraycopy(xs, 0, a, 0, n)
    }
    private def loose: Boolean = a.length > n + (n >> 1) + 8
  }

  /** One thread's visited marks for [[HnswIndex]] walks: vertex v is
    * visited in the current walk when `mark(v) == epoch`. */
  private[index] final class Marks {
    var mark: Array[Int] = Array.emptyIntArray
    var epoch: Int = 0
  }

  /** searchLayer's scratch for one batch: the gathered vertices and
    * their distances. Method-local; never serialized. */
  private[index] final class Batch {
    var vs: Array[Int] = new Array[Int](16)
    var ds: Array[Double] = new Array[Double](16)
    def fit(cnt: Int): Unit =
      if (cnt > vs.length) {
        vs = new Array[Int](cnt); ds = new Array[Double](cnt)
      }
  }

  /** Primitive (double key, int value) binary min-heap — push a
    * negated key for max-heap behavior. Method-local in searchLayer;
    * never serialized. Ties pop in the order the heap's sift leaves
    * them, so the walk is reproducible only while pushes keep their
    * order — which batched scoring does. */
  private[index] final class DIHeap {
    private var ks = new Array[Double](64)
    private var vs = new Array[Int](64)
    var size: Int = 0
    def headKey: Double = ks(0)
    def headVal: Int = vs(0)
    def push(k: Double, v: Int): Unit = {
      if (size == ks.length) {
        ks = java.util.Arrays.copyOf(ks, size * 2)
        vs = java.util.Arrays.copyOf(vs, size * 2)
      }
      var i = size; size += 1
      while (i > 0 && k < ks((i - 1) >> 1)) {
        val p = (i - 1) >> 1
        ks(i) = ks(p); vs(i) = vs(p); i = p
      }
      ks(i) = k; vs(i) = v
    }
    def pop(): Unit = {
      size -= 1
      val k = ks(size); val v = vs(size)
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        if (l >= size) done = true
        else {
          val c = if (l + 1 < size && ks(l + 1) < ks(l)) l + 1 else l
          if (ks(c) < k) { ks(i) = ks(c); vs(i) = vs(c); i = c }
          else done = true
        }
      }
      ks(i) = k; vs(i) = v
    }
  }

  /** Rows an insert into a full store of `rows` rows adds: 1/8 of them,
    * at least 16 — bounded slack (never a doubling) with amortized O(1)
    * appends. */
  private[index] def growthRows(rows: Int): Int = math.max(rows >> 3, 16)

  /** [[HnswIndex]]'s memory: vector cells held and in use, and each
    * neighbor list's (capacity, entries). */
  private[index] final case class Footprint(vectorCells: Int, usedCells: Int,
      lists: IndexedSeq[(Int, Int)]) {
    def listCapacity: Long = lists.iterator.map(_._1.toLong).sum
    def listEntries: Long = lists.iterator.map(_._2.toLong).sum
  }

  /** Max corpus (rows × dim doubles) collected for the single
    * driver-built graph: 2^23 doubles = 64 MB — the same bound
    * [[IvfFlat.driverTrainLimit]] applies to its driver-local k-means.
    * Above it [[build]] refuses loudly (the collect would OOM the
    * driver long before the graph finishes): [[buildPartitioned]] is
    * the scale path. */
  val driverBuildLimit: Long = 1L << 23

  /** One cheap agg job: (rows with a vector, max vector length), (0, 0)
    * when there are none. Far cheaper than the collect it guards; the
    * IVFFlat build uses it to choose its training path too. */
  private[index] def corpusShape(df: DataFrame, vecCol: String)
      : (Long, Int) = {
    import org.apache.spark.sql.functions._
    val r = df.filter(col(vecCol).isNotNull)
      .agg(count(lit(1)), max(size(col(vecCol).cast("array<double>"))))
      .head()
    if (r.isNullAt(1)) (0L, 0) else (r.getLong(0), r.getInt(1))
  }

  /** Collect (id, vec) to the driver, unboxed, and build sequentially
    * into a store sized to the corpus. Inserted in id order (a stable
    * sort on the driver) for reproducibility (the reference shuffles
    * with an unseeded RNG — we pin determinism instead; recall is
    * equivalent). BOUNDED at [[driverBuildLimit]] cells: an
    * over-threshold corpus must go through [[buildPartitioned]] —
    * failing fast here beats an OOM mid-collect. */
  def build(df: DataFrame, idCol: String, vecCol: String,
      m: Int, efConstruction: Int, efSearch: Int,
      metric: DistanceMetric.Value = DistanceMetric.L2,
      seed: Long = 42L,
      driverLimit: Long = driverBuildLimit): HnswIndex = {
    import org.apache.spark.sql.functions._
    import df.sparkSession.implicits._
    val (rows, dim) = corpusShape(df, vecCol)
    val cells = rows * dim
    require(cells <= driverLimit,
      s"Hnsw.build: corpus is $cells doubles (> $driverLimit = 64 MB " +
        "driver bound) — use Hnsw.buildPartitioned for over-threshold " +
        "corpora")
    val corpus = df
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .filter(col(vecCol).isNotNull) // null vectors are unindexable
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val idx = new HnswIndex(m, efConstruction, efSearch, metric, seed)
    if (corpus.nonEmpty) idx.reserve(corpus.length, corpus(0)._2.length)
    corpus.foreach { case (id, v) => idx.insert(id, v) }
    idx
  }

  /** Serve a KNN scan as a DataFrame (id, dist), distance-ascending. */
  def scanAsDf(spark: SparkSession, idx: HnswIndex,
      query: Seq[Double], k: Int): DataFrame = {
    import spark.implicits._
    idx.scan(query.toArray, k).toDF("id", "dist")
  }

  /** Batch KNN JOIN served from a BROADCAST graph: ship the immutable
    * index to executors once, probe it per query row inside
    * mapPartitions — queries stay partition-parallel, the graph walk
    * is local, no shuffle at all. The serving shape for "many queries
    * against one index" (the reference can only scan one query at a
    * time through its executor tree). */
  def knnJoin(queries: DataFrame, qIdCol: String, qVecCol: String,
      idx: HnswIndex, k: Int): DataFrame = {
    val spark = queries.sparkSession
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(idx)
    queries
      .select(col(qIdCol).cast("long"), col(qVecCol).cast("array<double>"))
      .filter(col(qVecCol).isNotNull)
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val index = bc.value
        it.flatMap { case (qId, qv) =>
          index.scan(qv.toArray, k).zipWithIndex.map {
            case ((dId, dist), i) => (qId, dId, dist, i + 1)
          }
        }
      }
      .toDF("q_id", "d_id", "dist", "rk")
  }

  /** The 100TB-scale HNSW: one independent sub-graph per partition,
    * built in PARALLEL inside mapPartitions (sequential insert is the
    * single-node bottleneck — partitioning is what removes it), served
    * by probing every sub-graph WHERE IT LIVES and merging only the
    * per-partition top-k candidates. Search cost is P small graph
    * walks instead of one; recall is >= the monolithic graph's because
    * each sub-graph is searched independently (no cross-partition
    * edges to mislead the greedy descent).
    *
    * The sub-indexes stay distributed: an RDD of graph objects,
    * persisted deserialized in executor memory (spilling to disk) —
    * an RDD on purpose: a graph index is genuine per-partition
    * imperative state, and the deserialized-object cache means zero
    * per-query rehydration, which a Dataset[Array[Byte]] of
    * serialized blobs could not offer. The driver only ever receives
    * merged top-k rows, never a graph. */
  final class DistributedHnswIndex(
      @transient val parts: org.apache.spark.rdd.RDD[HnswIndex]) {

    /** One job per lookup: probe each cached sub-graph locally, emit
      * its k candidates, takeOrdered merges the P*k survivors. */
    def scan(query: Array[Double], k: Int): Seq[(Long, Double)] = {
      val q = query
      parts.flatMap(_.scan(q, k))
        .takeOrdered(k)(Ordering.by { case (id, d) => (d, id) }).toSeq
    }

    /** Batch KNN join: broadcast the query batch once, probe every
      * sub-graph per query where it lives, then one bounded window
      * merge over P*k rows per query. Queries are the small side by
      * construction (the big side is the indexed corpus). `ef` > 0
      * overrides each sub-graph's build-time efSearch per scan. */
    def knnJoin(queries: DataFrame, qIdCol: String, qVecCol: String,
        k: Int, ef: Int = -1): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val spark = queries.sparkSession
      import spark.implicits._
      val qs = queries
        .select(col(qIdCol).cast("long"), col(qVecCol).cast("array<double>"))
        .filter(col(qVecCol).isNotNull)
        .as[(Long, Array[Double])].collect()
      val bc = parts.sparkContext.broadcast(qs)
      val local = parts.mapPartitions { it =>
        it.flatMap { idx =>
          bc.value.iterator.flatMap { case (qid, qv) =>
            idx.scan(qv, k, ef).map { case (did, d) => (qid, did, d) }
          }
        }
      }
      val w = Window.partitionBy("q_id")
        .orderBy(col("dist").asc, col("d_id").asc)
      spark.createDataFrame(local).toDF("q_id", "d_id", "dist")
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= k)
        .select(col("q_id"), col("d_id"), col("dist"), col("__rk").as("rk"))
    }

    /** Incremental insert (the InsertVectorEntry contract every
      * reference index declares, vector_index.h:11-32): route each new
      * row to a partition by id hash — correctness does not depend on
      * WHICH sub-graph receives a row, since scans probe every
      * sub-graph; routing only shapes balance — and extend that
      * partition's sub-graph. Functional: each touched sub-graph is
      * deep-copied (serialization round-trip) before mutation, the new
      * RDD is materialized before returning, and the original index
      * remains valid — never mutate objects living in another RDD's
      * cache. Partitions that were empty at build time grow a fresh
      * sub-graph with the same hyperparameters. */
    def insert(rows: DataFrame, idCol: String, vecCol: String)
        : DistributedHnswIndex = {
      import org.apache.spark.sql.functions._
      // ship ONLY the 4 hyperparameters to the driver — parts.first()
      // would deserialize partition 0's entire sub-graph (vectors +
      // links) for 4 scalars
      val (m0, efc0, efs0, met0) = parts
        .map(p => (p.m, p.efConstruction, p.efSearch, p.metric)).first()
      val routed = rows
        .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
        .filter(col(vecCol).isNotNull)
        .repartition(parts.partitions.length, col(idCol))
      val newParts = parts.zipPartitions(routed.rdd) { (idxIt, rowIt) =>
        val fresh = rowIt
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          .toSeq.sortBy(_._1) // deterministic insert order
        if (fresh.isEmpty) idxIt
        else {
          val idx =
            if (idxIt.hasNext) Hnsw.deepCopy(idxIt.next())
            else new HnswIndex(m0, efc0, efs0, met0,
              42L + org.apache.spark.TaskContext.getPartitionId())
          fresh.foreach { case (id, v) => idx.insert(id, v) }
          Iterator.single(idx) ++ idxIt
        }
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      newParts.count() // materialize the copies while `parts` is live
      new DistributedHnswIndex(newParts)
    }

    def numParts: Int = parts.partitions.length
    def size: Long = parts.map(_.size.toLong).sum().toLong
    def unpersist(): Unit = parts.unpersist()
  }

  /** Deep copy via a serialization round-trip — the safe way to derive
    * a mutated sub-graph from an object held in an RDD cache. */
  private[index] def deepCopy(idx: HnswIndex): HnswIndex = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(idx); oos.close()
    val ois = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    ois.readObject().asInstanceOf[HnswIndex]
  }

  def buildPartitioned(df: DataFrame, idCol: String, vecCol: String,
      m: Int, efConstruction: Int, efSearch: Int,
      metric: DistanceMetric.Value = DistanceMetric.L2,
      numPartitions: Int = 0, seed: Long = 42L): DistributedHnswIndex = {
    import org.apache.spark.sql.functions._
    val base = df
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .filter(col(vecCol).isNotNull)
    val parts =
      (if (numPartitions > 0) base.repartition(numPartitions, col(idCol))
       else base)
      .rdd.mapPartitionsWithIndex { (pid, it) =>
        val idx = new HnswIndex(m, efConstruction, efSearch, metric,
          seed + pid)
        // sort within partition for reproducible builds
        it.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          .toSeq.sortBy(_._1)
          .foreach { case (id, v) => idx.insert(id, v) }
        // ALWAYS emit the (possibly empty) sub-graph: it carries the
        // hyperparameters, so an index built over an empty table (the
        // create-index-then-insert flow) still has a params template
        // for insert() to extend — and scans over empty graphs are free
        Iterator.single(idx)
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    new DistributedHnswIndex(parts)
  }
}
