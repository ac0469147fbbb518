package graft.index

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** HNSW pruning keeps the same neighbours as the boxed
  * `sortBy((dist, id)).take(m)` it replaced. */
class HnswPruneSpec extends AnyFunSuite {

  /** A neighbour list: distinct ids, distances drawn from a small set
    * so that ties are common (with both zeros and a NaN). */
  private val lists: Gen[(Array[Double], Array[Int], Int)] = for {
    n <- Gen.choose(0, 40)
    ids <- Gen.pick(n, 0 until 200)
    order <- Gen.listOfN(n, Gen.long)
    ds <- Gen.listOfN(n, Gen.frequency(
      8 -> Gen.choose(0, 6).map(_ * 0.5),
      1 -> Gen.const(-0.0),
      1 -> Gen.const(Double.NaN),
      2 -> Gen.choose(0.0, 3.0)))
    m <- Gen.choose(1, 45)
  } yield (ds.toArray, ids.toSeq.zip(order).sortBy(_._2).map(_._1).toArray, m)

  test("nearestK == boxed sortBy((dist, id)).take(m), ties included") {
    val params = Test.Parameters.default.withMinSuccessfulTests(500)
      .withWorkers(1).withInitialSeed(Seed(20261018L))
    val prop = Prop.forAllNoShrink(lists) { case (ds, ids, m) =>
      val boxed = ids.indices.map(i => (ds(i), ids(i)))
        .sortBy(t => (t._1, t._2)).take(m).map(_._2)
      // a longer backing array, as a neighbour list's buffer has
      val got = Hnsw.nearestK(ds, ids ++ Array(-1, -2), ids.length, m).toSeq
      (got == boxed) :| s"got $got, boxed $boxed"
    }
    val res = Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }
}
