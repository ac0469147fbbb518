package graft.perfbench

/** Seeded inputs. Every value is a pure function of (seed, key) through
  * splitmix64, so the same seed gives the same corpus, queries and
  * statement order in any JVM and under any partitioning, and a
  * different seed gives different ones.
  *
  * Vector components sit on a 1e-6 grid: the shortest decimal rendering
  * of such a double parses back to the same double, so a vector written
  * into SQL text reaches the engine bit-identical to the copy the
  * benchmark computes its exact answers from. */
object Gen {
  val Dim = 64
  val Centers = 256

  /** splitmix64 finalizer over `x0 + golden gamma`. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def key(a: Long, b: Long, c: Long = 0L): Long = mix(mix(mix(a) + b) + c)

  /** Uniform in [-1, 1) from the top 53 bits of the stream key. */
  def unit(k: Long): Double = (mix(k) >>> 11) * (1.0 / (1L << 53)) * 2.0 - 1.0

  private def grid(x: Double): Double = math.rint(x * 1e6) / 1e6

  /** Row `id`'s vector: a seed-chosen center plus ±0.1 noise. Centers
    * are ≈ 6.5 apart in L2 at dim 64 and clusters ≈ 0.46 wide, so true
    * neighbours are intra-cluster. */
  def vec(seed: Long, id: Long): Array[Double] = {
    val c = java.lang.Math.floorMod(key(seed, 1L, id), Centers.toLong)
    Array.tabulate(Dim) { j =>
      grid(unit(key(seed, 2L, c * Dim + j)) + 0.1 * unit(key(seed, 3L, id * Dim + j)))
    }
  }

  /** Query `i`: a perturbed copy of a seed-chosen corpus row, so every
    * query has genuine near neighbours. */
  def query(seed: Long, n: Long, i: Int): Array[Double] = {
    val base = vec(seed, java.lang.Math.floorMod(key(seed, 4L, i), n))
    Array.tabulate(Dim)(j => grid(base(j) + 0.02 * unit(key(seed, 5L, i.toLong * Dim + j))))
  }

  /** Seeded Fisher-Yates shuffle. */
  def shuffle[A](seed: Long, salt: Long, xs: Seq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = java.lang.Math.floorMod(key(seed, salt, i.toLong), (i + 1).toLong).toInt
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  def below(seed: Long, salt: Long, i: Long, n: Int): Int =
    java.lang.Math.floorMod(key(seed, salt, i), n.toLong).toInt

  /** `ARRAY [..]` literal in the engine's SQL dialect. */
  def sqlArray(v: Array[Double]): String =
    v.map(java.lang.Double.toString).mkString("ARRAY [", ", ", "]")

  def l2sq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var j = 0
    while (j < a.length) { val d = a(j) - b(j); s += d * d; j += 1 }
    s
  }

  /** Exact top-`k` ids by L2 among `ids` passing `keep`, nearest first
    * (ties by id, the engine's brute-force order). */
  def exactTopK(q: Array[Double], ids: Array[Long], vecs: Array[Array[Double]],
      k: Int, keep: Long => Boolean = _ => true): Seq[Long] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)]
    var i = 0
    while (i < ids.length) {
      if (keep(ids(i))) {
        val d = l2sq(q, vecs(i))
        if (heap.size < k) heap.enqueue((d, ids(i)))
        else if (Ordering[(Double, Long)].lt((d, ids(i)), heap.head)) {
          heap.dequeue(); heap.enqueue((d, ids(i)))
        }
      }
      i += 1
    }
    heap.toSeq.sorted.map(_._2)
  }
}
