package graft.index

import org.apache.spark.sql.Row
import org.apache.spark.sql.graft.DistanceMetric
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** The HNSW graph and its footprint are pinned.
  *
  * Golden digests: each seeded corpus below (L2, inner product, cosine;
  * duplicate rows and tied distances; dims 2-64) is built row by row,
  * and the digest covers every layer's neighbor lists in stored order,
  * the entry point, and the answers of a probe-all and a default-ef
  * `scanFull` (ids, vector bits, distance bits). The expected values
  * were recorded by running this object's `digest` against the
  * nested-array HNSW the flat store replaced: the storage, the batched
  * distance kernel and the list-capacity policy change no distance, no
  * heap decision and no edge. A change that alters the graph on purpose
  * — ROADMAP item 2, keeping every inserted row reachable — re-records
  * these digests and says so.
  */
class HnswLayoutSpec extends SparkSpecBase {
  import HnswLayoutSpec._

  private val golden: Map[String, String] = Map(
    "l2-clustered-64" -> "eec30cadc3834c03",
    "ip-uniform-16" -> "047a9515d0c679ee",
    "cosine-uniform-8" -> "1a945a720f24715c",
    "l2-grid-dups-2" -> "299acf1eb61b36c0",
    "cosine-scaled-dups-3" -> "1948e4960315a851",
    "ip-int-ties-4" -> "6fe2d7d8cd57be1d")

  test("graph, entry point and scans equal the recorded digests") {
    val got = cases.map(c => c.name -> digest(c, insertAll(c))).toMap
    val diff = cases.map(_.name).filter(n => got(n) != golden(n))
    assert(diff.isEmpty, diff.map(n =>
      s"$n: got ${got(n)}, recorded ${golden(n)}").mkString("; "))
  }

  test("Hnsw.build gives the graph of insert called row by row") {
    cases.foreach { c =>
      val rows = c.vecs.indices.map(i => Row(c.ids(i), c.vecs(i).toSeq))
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("v", ArrayType(DoubleType))))
      // rows in reverse id order over 3 partitions: the build sorts
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.reverse, 3), schema)
      val built = Hnsw.build(df, "id", "v", c.m, c.efc, c.efs, c.metric,
        c.seed)
      assert(digest(c, built) == digest(c, insertAll(c)), c.name)
      assert(sameGraph(built, insertAll(c)), c.name)
    }
  }

  test("a 5k-row build holds n x dim cells and right-sized lists") {
    val n = 5000
    val dim = 16
    val rnd = new scala.util.Random(5)
    val rows = (0 until n).map(i =>
      Row(i.toLong, Seq.fill(dim)(rnd.nextGaussian())))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(DoubleType))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      schema)
    val idx = Hnsw.build(df, "id", "v", m = 8, efConstruction = 32,
      efSearch = 16)
    val f = idx.footprint
    assert(f.vectorCells == n * dim && f.usedCells == n * dim)
    val loose = f.lists.filter { case (cap, entries) =>
      cap > 1.5 * entries + 8 }
    assert(loose.isEmpty, s"${loose.size} lists over 1.5 x entries + 8: " +
      loose.take(5).mkString(", "))
    assert(f.listCapacity <= 1.5 * f.listEntries + 8 * f.lists.size)
    // single-row inserts grow the store by at most max(rows / 8, 16)
    // rows at a time, never doubling it
    val more = new scala.util.Random(6)
    (0 until 50).foreach { i =>
      idx.insert(n + i, Array.fill(dim)(more.nextGaussian()))
      val g = idx.footprint
      assert(g.usedCells == (n + i + 1) * dim)
      assert(g.vectorCells - g.usedCells <=
        Hnsw.growthRows(idx.size) * dim, s"insert $i: $g")
    }
    assert(idx.footprint.vectorCells < 2 * idx.footprint.usedCells)
  }

  test("deepCopy keeps scans identical and still accepts inserts") {
    val c = cases.head
    val idx = insertAll(c)
    val copy = Hnsw.deepCopy(idx)
    assert(sameGraph(copy, idx) && digest(c, copy) == digest(c, idx))
    val before = digest(c, idx)
    val v = Array.fill(c.dim)(0.5)
    copy.insert(99999L, v)
    assert(copy.scanIds(v, 1, ef = copy.size) sameElements Array(99999L))
    assert(copy.size == idx.size + 1)
    assert(digest(c, idx) == before, "the original changed")
  }

  test("scanFull hands out copies of the stored vectors") {
    val c = cases.head
    val idx = insertAll(c)
    val q = c.queries.head
    val first = idx.scanFull(q, 3, ef = idx.size)
    first.foreach { case (_, vec, _) => java.util.Arrays.fill(vec, 0.0) }
    val again = idx.scanFull(q, 3, ef = idx.size)
    assert(again.map(_._1) == first.map(_._1))
    assert(again.forall(_._2.exists(_ != 0.0)))
  }

  private def sameGraph(a: HnswIndex, b: HnswIndex): Boolean = {
    val (la, ea) = a.graph
    val (lb, eb) = b.graph
    ea == eb && la.length == lb.length && la.zip(lb).forall { case (x, y) =>
      x.length == y.length && x.zip(y).forall {
        case (null, null) => true
        case (p, q) => p != null && q != null && p.sameElements(q)
      }
    }
  }
}

object HnswLayoutSpec {

  final case class Corpus(name: String, metric: DistanceMetric.Value,
      dim: Int, m: Int, efc: Int, efs: Int, seed: Long,
      ids: Array[Long], vecs: Array[Array[Double]],
      queries: Seq[Array[Double]])

  private def corpus(name: String, metric: DistanceMetric.Value, dim: Int,
      n: Int, m: Int, efc: Int, efs: Int, seed: Long)(
      gen: scala.util.Random => Array[Double]): Corpus = {
    val rnd = new scala.util.Random(seed)
    val vecs = Array.fill(n)(gen(rnd))
    // ids ascending but not dense, so ids and vertex slots differ
    val ids = Array.tabulate(n)(i => 3L * i + 1)
    Corpus(name, metric, dim, m, efc, efs, seed, ids, vecs,
      Seq.fill(4)(gen(rnd)) :+ vecs(n / 2).clone())
  }

  lazy val cases: Seq[Corpus] = {
    val centers = {
      val r = new scala.util.Random(64)
      Array.fill(12)(Array.fill(64)(r.nextDouble() * 10))
    }
    Seq(
      corpus("l2-clustered-64", DistanceMetric.L2, 64, 1200, 8, 32, 16, 7L) {
        r => centers(r.nextInt(12)).map(_ + r.nextGaussian() * 0.5) },
      corpus("ip-uniform-16", DistanceMetric.InnerProduct, 16, 600, 6, 24,
        12, 11L) { r => Array.fill(16)(r.nextDouble() * 2 - 1) },
      corpus("cosine-uniform-8", DistanceMetric.Cosine, 8, 600, 5, 20, 10,
        13L) { r => Array.fill(8)(r.nextGaussian()) },
      // integer grid with 49 distinct points: duplicate rows and
      // tied distances everywhere
      corpus("l2-grid-dups-2", DistanceMetric.L2, 2, 500, 4, 16, 8, 17L) {
        r => Array.fill(2)(r.nextInt(7).toDouble) },
      // a few directions at several scales: equal cosines, -0.0 cells
      corpus("cosine-scaled-dups-3", DistanceMetric.Cosine, 3, 400, 4, 12,
        8, 19L) { r =>
        val dirs = Array(Array(1.0, 0.0, -0.0), Array(0.0, 2.0, 1.0),
          Array(-1.0, 1.0, 1.0), Array(3.0, -1.0, 0.5))
        dirs(r.nextInt(dirs.length)).map(_ * (1 + r.nextInt(4))) },
      corpus("ip-int-ties-4", DistanceMetric.InnerProduct, 4, 300, 4, 12, 8,
        23L) { r => Array.fill(4)((r.nextInt(5) - 2).toDouble) })
  }

  def insertAll(c: Corpus): HnswIndex = {
    val idx = new HnswIndex(c.m, c.efc, c.efs, c.metric, c.seed)
    c.ids.indices.foreach(i => idx.insert(c.ids(i), c.vecs(i)))
    idx
  }

  /** SHA-256 (first 16 hex digits) of the per-layer neighbor lists in
    * stored order, the entry point, and a probe-all and a default-ef
    * `scanFull` of each query (ids, vector bits, distance bits). */
  def digest(c: Corpus, idx: HnswIndex): String = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bytes)
    val (layers, entry) = idx.graph
    out.writeInt(layers.length)
    layers.foreach { slots =>
      out.writeInt(slots.length)
      slots.foreach { l =>
        if (l == null) out.writeInt(-1)
        else { out.writeInt(l.length); l.foreach(out.writeInt) }
      }
    }
    out.writeInt(entry)
    c.queries.foreach { q =>
      Seq(idx.size, -1).foreach { ef =>
        val res = idx.scanFull(q, 10, ef)
        out.writeInt(res.length)
        res.foreach { case (id, v, d) =>
          out.writeLong(id)
          v.foreach(x => out.writeLong(java.lang.Double.doubleToRawLongBits(x)))
          out.writeLong(java.lang.Double.doubleToRawLongBits(d))
        }
      }
    }
    out.flush()
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(bytes.toByteArray).take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
