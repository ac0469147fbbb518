package graft.index

import org.apache.spark.graft.JobCounter
import org.apache.spark.sql.Row
import org.apache.spark.sql.graft.{DistanceMetric, NearestCentroid}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.SparkSpecBase

/** Lloyd's rounds stop at their fixed point without changing the
  * result: both training paths of [[IvfFlat]] equal a fixed-round loop
  * written here, bit for bit, for any cap. */
class LloydFixedPointSpec extends SparkSpecBase {
  import LloydFixedPointSpec._

  test("localLloyd == the fixed-round loop, bit for bit, at caps 1, 2, 50 and generated") {
    val params = Test.Parameters.default.withMinSuccessfulTests(200)
      .withWorkers(1).withInitialSeed(Seed(20261018L))
    val prop = Prop.forAllNoShrink(cases) { c =>
      val init = c.vecs.take(c.lists)
      val f = Seq(1, 2, 50, c.cap).flatMap { cap =>
        val (a, b, rounds) = IvfFlat.localLloyd(c.vecs, init, c.lists, cap,
          c.metric)
        val (ra, rb, fixedAt) = fixedRounds(c.vecs, init, c.lists, cap, c.metric)
        (if (!sameBits(a, ra) || !sameBits(b, rb)) Seq(s"cap $cap: centroids differ")
         else Nil) ++
          (if (rounds != fixedAt.getOrElse(cap)) Seq(
            s"cap $cap: ran $rounds rounds, fixed point at $fixedAt") else Nil) ++
          // L2 Lloyd's settles on well-separated clusters
          (if (c.kind == "clustered" && c.metric == DistanceMetric.L2 &&
              cap == 50 && rounds >= cap)
            Seq(s"clustered corpus ran all $cap rounds") else Nil)
      }
      f.isEmpty :| s"${c.kind} ${c.metric} lists ${c.lists}: ${f.mkString("; ")}"
    }
    val res = Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  test("a corpus that has not converged by the cap returns the capped result") {
    // 0..99 on a line seeded with 0 and 1: the two means creep apart
    // for several rounds before the split settles
    val vecs = Array.tabulate(100)(i => Array(i.toDouble))
    val init = vecs.take(2)
    val (_, _, full) = fixedRounds(vecs, init, 2, 50, DistanceMetric.L2)
    assert(full.exists(_ > 4), s"fixed point at $full")
    Seq(1, 2, 3, 4).foreach { cap =>
      val (a, b, rounds) = IvfFlat.localLloyd(vecs, init, 2, cap,
        DistanceMetric.L2)
      val (ra, rb, _) = fixedRounds(vecs, init, 2, cap, DistanceMetric.L2)
      assert(rounds == cap)
      assert(sameBits(a, ra) && sameBits(b, rb), s"cap $cap")
      assert(!sameBits(a, b), s"cap $cap: not converged, yet a == b")
    }
  }

  test("distributed path stops at the fixed point: fewer Lloyd jobs, same centroids and buckets") {
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(5)(Array.fill(4)(rnd.nextDouble() * 20))
    val rows = (0 until 300).map { i =>
      val c = centers(rnd.nextInt(centers.length))
      Row(i.toLong, c.map(_ + rnd.nextGaussian() * 0.3).toSeq)
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(DoubleType))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      schema).cache()
    try {
      // the fixed-round loop: per-partition sums, merged in partition order
      val parts = df.select("v").rdd.glom().collect()
        .map(_.map(_.getSeq[Double](0).toArray))
      val init = df.orderBy("id").limit(8).select("v").collect()
        .map(_.getSeq[Double](0).toArray)
      val (ra, rb, fixedAt) = distributedFixedRounds(parts, init, 8, 50)
      val r = fixedAt.getOrElse(fail("clustered corpus never converged"))
      def build(cap: Int) = JobCounter.jobsOf(spark.sparkContext) {
        IvfFlat.build(df, Seq("id"), "v", lists = 8, probeLists = 8,
          iterations = cap, driverTrainLimit = 0L)
      }
      val (one, jobs1) = build(1)
      val (m, jobs50) = build(50)
      // one job per round; the rest of the build is the same for any cap
      val lloydJobs = jobs50 - jobs1 + 1
      assert(lloydJobs == r && r < 50, s"$lloydJobs Lloyd jobs, fixed point $r")
      assert(sameBits(m.centroids, rb), "final centroids")
      assert(sameBits(ra, rb), "assignment centroids at the fixed point")
      val (oa, ob, _) = distributedFixedRounds(parts, init, 8, 1)
      assert(sameBits(one.centroids, ob))
      val buckets = m.buckets.select("id", "v", "__bucket").collect()
      assert(buckets.length == rows.length)
      buckets.foreach { row =>
        val v = row.getSeq[Double](1).toArray
        assert(row.getInt(2) == nearest(v, ra, DistanceMetric.L2),
          s"row ${row.getLong(0)}")
      }
      one.buckets.select("v", "__bucket").collect().foreach { row =>
        assert(row.getInt(1) ==
          nearest(row.getSeq[Double](0).toArray, oa, DistanceMetric.L2))
      }
    } finally df.unpersist()
  }
}

object LloydFixedPointSpec {
  final case class Case(kind: String, vecs: Array[Array[Double]], lists: Int,
      metric: DistanceMetric.Value, cap: Int)

  def sameBits(a: Array[Array[Double]], b: Array[Array[Double]]): Boolean =
    a.length == b.length && a.indices.forall(i =>
      a(i).map(java.lang.Double.doubleToRawLongBits).toSeq ==
        b(i).map(java.lang.Double.doubleToRawLongBits).toSeq)

  /** First centroid with the least distance by `<` (as the engine). */
  def nearest(v: Array[Double], cs: Array[Array[Double]],
      metric: DistanceMetric.Value): Int =
    cs.indices.foldLeft(0) { (best, i) =>
      if (NearestCentroid.distance(v, cs(i), metric.id) <
        NearestCentroid.distance(v, cs(best), metric.id)) i else best
    }

  private def sumsOf(vecs: Array[Array[Double]], cs: Array[Array[Double]],
      lists: Int, metric: DistanceMetric.Value)
      : (Array[Array[Double]], Array[Long]) = {
    val dim = cs(0).length
    val sums = Array.fill(lists)(new Array[Double](dim))
    val counts = new Array[Long](lists)
    vecs.foreach { v =>
      val b = nearest(v, cs, metric)
      for (p <- 0 until dim) sums(b)(p) += v(p)
      counts(b) += 1
    }
    (sums, counts)
  }

  private def means(sums: Array[Array[Double]], counts: Array[Long])
      : Array[Array[Double]] =
    sums.indices.map(b =>
      if (counts(b) == 0) new Array[Double](sums(b).length)
      else sums(b).map(_ / counts(b))).toArray

  /** `rounds` plain Lloyd rounds, never stopping early: (assignment
    * centroids, final centroids, first round whose output equals its
    * input). */
  def fixedRounds(vecs: Array[Array[Double]], init: Array[Array[Double]],
      lists: Int, rounds: Int, metric: DistanceMetric.Value)
      : (Array[Array[Double]], Array[Array[Double]], Option[Int]) =
    loop(init, rounds) { cs =>
      val (sums, counts) = sumsOf(vecs, cs, lists, metric)
      means(sums, counts)
    }

  /** The distributed round: L2 sums per partition, merged into zeroed
    * sums in partition order. */
  def distributedFixedRounds(parts: Array[Array[Array[Double]]],
      init: Array[Array[Double]], lists: Int, rounds: Int)
      : (Array[Array[Double]], Array[Array[Double]], Option[Int]) =
    loop(init, rounds) { cs =>
      val dim = cs(0).length
      val sums = Array.fill(lists)(new Array[Double](dim))
      val counts = new Array[Long](lists)
      parts.foreach { part =>
        val (s, n) = sumsOf(part, cs, lists, DistanceMetric.L2)
        for (b <- 0 until lists) {
          for (p <- 0 until dim) sums(b)(p) += s(b)(p)
          counts(b) += n(b)
        }
      }
      means(sums, counts)
    }

  private def loop(init: Array[Array[Double]], rounds: Int)(
      round: Array[Array[Double]] => Array[Array[Double]])
      : (Array[Array[Double]], Array[Array[Double]], Option[Int]) = {
    var cs = init
    var assignCs = init
    var fixedAt: Option[Int] = None
    for (r <- 1 to rounds) {
      assignCs = cs
      cs = round(cs)
      if (fixedAt.isEmpty && sameBits(cs, assignCs)) fixedAt = Some(r)
    }
    (assignCs, cs, fixedAt)
  }

  private val metrics = Gen.oneOf(DistanceMetric.L2,
    DistanceMetric.InnerProduct, DistanceMetric.Cosine)

  private def vec(dim: Int): Gen[Array[Double]] =
    Gen.listOfN(dim, Gen.choose(-1.0, 1.0)).map(_.toArray)

  private val clustered: Gen[(String, Array[Array[Double]], Int)] = for {
    dim <- Gen.choose(1, 6)
    k <- Gen.choose(1, 5)
    centers <- Gen.listOfN(k, vec(dim))
    n <- Gen.choose(k, 150)
    picks <- Gen.listOfN(n, Gen.choose(0, k - 1))
    noise <- Gen.listOfN(n, vec(dim))
    lists <- Gen.choose(1, 8)
  } yield ("clustered", picks.zip(noise).map { case (c, e) =>
      centers(c).zip(e).map { case (x, d) => x * 20 + d * 0.5 } }.toArray,
    lists)

  private val uniform = for {
    dim <- Gen.choose(1, 6)
    n <- Gen.choose(1, 150)
    vs <- Gen.listOfN(n, vec(dim))
    lists <- Gen.choose(1, 10)
  } yield ("uniform", vs.toArray, lists)

  /** Rows drawn from a small pool of distinct vectors; `lists` may
    * exceed the pool, so some clusters stay empty (zero centroids). */
  private val duplicates = for {
    dim <- Gen.choose(1, 4)
    d <- Gen.choose(1, 6)
    pool <- Gen.listOfN(d, vec(dim))
    n <- Gen.choose(1, 80)
    picks <- Gen.listOfN(n, Gen.choose(0, d - 1))
    lists <- Gen.choose(1, d + 4)
  } yield ("duplicates", picks.map(pool(_)).toArray, lists)

  /** Exactly `lists` > number of distinct vectors, with every distinct
    * vector among the seeds. */
  private val fewDistinct = for {
    dim <- Gen.choose(1, 4)
    d <- Gen.choose(1, 4)
    pool <- Gen.listOfN(d, vec(dim))
    extra <- Gen.choose(1, 4)
    n <- Gen.choose(d + extra, 60)
    picks <- Gen.listOfN(n - d, Gen.choose(0, d - 1))
  } yield ("lists>distinct", (pool ++ picks.map(pool(_))).toArray, d + extra)

  val cases: Gen[Case] = for {
    corpus <- Gen.oneOf(clustered, uniform, duplicates, fewDistinct)
    metric <- metrics
    cap <- Gen.choose(1, 60)
  } yield Case(corpus._1, corpus._2, corpus._3, metric, cap)
}
