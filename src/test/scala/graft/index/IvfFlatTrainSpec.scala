package graft.index

import org.apache.spark.sql.Row
import org.apache.spark.sql.graft.{DistanceMetric, NearestCentroid}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.SparkSpecBase

/** IVFFlat's training: the batched argmin kernel is the one-at-a-time
  * argmin, and a full driver-side build hands out the posting lists its
  * bucketed layout holds, with the centroids of the reference recipe. */
class IvfFlatTrainSpec extends SparkSpecBase {
  import IvfFlatTrainSpec._
  import LloydFixedPointSpec.{fixedRounds, sameBits}

  test("nearest == the one-at-a-time argmin, ties, -0.0 and NaN included") {
    val params = Test.Parameters.default.withMinSuccessfulTests(1000)
      .withWorkers(1).withInitialSeed(Seed(20261019L))
    val prop = Prop.forAllNoShrink(argminCases) { case (v, cs, metricId) =>
      val got = NearestCentroid.nearest(v, cs, metricId)
      val want = oneAtATime(v, cs, metricId)
      val four =
        if (cs.length < 4) true
        else {
          val out = new Array[Double](5)
          NearestCentroid.distance4(v, 0, v.length, cs(0), 0, cs(1), 0,
            cs(2), 0, cs(3), 0, metricId, out, 1)
          (0 until 4).forall(i =>
            bits(out(i + 1)) == bits(plain(v, cs(i), metricId)))
        }
      (got == want && four) :|
        s"metric $metricId: nearest $got, one at a time $want, distance4 $four"
    }
    val res = Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  test("a full driver build's posting lists are its layout's; " +
      "centroids are the reference recipe's") {
    // ids scattered over 4 partitions, so partition order != id order
    val rnd = new scala.util.Random(3)
    val centers = Array.fill(6)(Array.fill(5)(rnd.nextDouble() * 10))
    val rows = rnd.shuffle((0 until 400).toList).map { id =>
      val c = centers(rnd.nextInt(centers.length))
      Row(id.toLong, c.map(_ + rnd.nextGaussian()).toSeq)
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(DoubleType))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      schema).cache()
    try {
      Seq(DistanceMetric.L2, DistanceMetric.InnerProduct,
          DistanceMetric.Cosine).foreach { metric =>
        val (m, trained) = IvfFlat.train(df, Seq("id"), "v", lists = 8,
          probeLists = 8, metric)
        val lists = trained.getOrElse(fail(s"$metric: no posting lists"))
        val layout = VectorIndexes.PostingLists.empty.add(m.buckets, "id")
        assert(lists.ids.toSeq == layout.ids.toSeq, metric)
        assert(lists.buckets.toSeq == layout.buckets.toSeq, metric)
        // seeds: the first 8 by id; rounds sum in collect order
        val init = df.orderBy("id").limit(8).select("v").collect()
          .map(_.getSeq[Double](0).toArray)
        val vecs = df.select("v").collect().map(_.getSeq[Double](0).toArray)
        val (_, want, _) = fixedRounds(vecs, init, 8, 50, metric)
        assert(sameBits(m.centroids, want), metric)
      }
      val (_, sampled) = IvfFlat.train(df, Seq("id"), "v", lists = 8,
        probeLists = 8, sampleFraction = 0.5)
      assert(sampled.isEmpty, "a sampled build trains on some rows only")
      val (_, distributed) = IvfFlat.train(df, Seq("id"), "v", lists = 8,
        probeLists = 8, driverTrainLimit = 0L)
      assert(distributed.isEmpty, "the distributed path keeps no assignment")
      // the engine's path registers the trained lists
      VectorIndexes.createIvfFlat("train_ivf", "train_t", df, "id", "v", 8, 2)
      VectorIndexes.get("train_ivf").map(_.model) match {
        case Some(served @ VectorIndexes.IvfModel(m, _)) =>
          val layout = VectorIndexes.PostingLists.empty.add(m.buckets, "id")
          assert(served.lists.ids.toSeq == layout.ids.toSeq)
          assert(served.lists.buckets.toSeq == layout.buckets.toSeq)
        case other => fail(s"train_ivf is not an ivfflat index: $other")
      }
    } finally {
      VectorIndexes.drop("train_ivf")
      df.unpersist()
    }
  }
}

object IvfFlatTrainSpec {
  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** The distance formula written out plainly, one vector at a time. */
  def plain(a: Array[Double], b: Array[Double], metricId: Int): Double =
    metricId match {
      case 0 => a.indices.foldLeft(0.0) { (acc, i) =>
        val d = a(i) - b(i); acc + d * d }
      case 1 => a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
      case _ =>
        var dot = 0.0; var na = 0.0; var nb = 0.0
        a.indices.foreach { i =>
          dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
        dot / (math.sqrt(na) * math.sqrt(nb))
    }

  /** First centroid whose distance is strictly below every earlier
    * best — FindCentroid's argmin. */
  def oneAtATime(v: Array[Double], cs: Array[Array[Double]],
      metricId: Int): Int = {
    var best = 0
    var bestD = plain(v, cs(0), metricId)
    for (i <- 1 until cs.length) {
      val d = plain(v, cs(i), metricId)
      if (d < bestD) { best = i; bestD = d }
    }
    best
  }

  /** Cells from a small set (ties everywhere), with -0.0 and NaN. */
  private val cell: Gen[Double] = Gen.frequency(
    6 -> Gen.oneOf(0.0, 1.0, -1.0, 0.5, 2.0),
    1 -> Gen.const(-0.0),
    1 -> Gen.const(Double.NaN),
    3 -> Gen.choose(-3.0, 3.0))

  val argminCases: Gen[(Array[Double], Array[Array[Double]], Int)] = for {
    dim <- Gen.choose(1, 6)
    k <- Gen.choose(1, 13)
    v <- Gen.listOfN(dim, cell)
    cs <- Gen.listOfN(k, Gen.listOfN(dim, cell))
    dup <- Gen.choose(0, k - 1) // a repeated centroid: an exact tie
    metricId <- Gen.choose(0, 2)
  } yield (v.toArray, (cs :+ cs(dup)).map(_.toArray).toArray, metricId)
}
