package graft.index

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.graft.DistanceMetric
import org.scalatest.funsuite.AnyFunSuite

/** Scans of one HNSW graph may run at once (`Hnsw.knnJoin` probes one
  * broadcast graph from several tasks): each walk keeps its own visited
  * marks, so every concurrent answer equals the same scan run alone. */
class HnswConcurrencySpec extends AnyFunSuite {

  test("3 threads scanning one graph get the answers of scans run alone") {
    val dim = 16
    val rnd = new scala.util.Random(55)
    val idx = new HnswIndex(8, 32, 16, DistanceMetric.L2, 42L)
    (0 until 3000).foreach(i =>
      idx.insert(i.toLong, Array.fill(dim)(rnd.nextGaussian())))
    val queries = Array.fill(300)(Array.fill(dim)(rnd.nextGaussian()))
    def answer(q: Array[Double]): Seq[(Long, Double)] =
      idx.scanFull(q, 10, ef = 64).map { case (id, _, d) => (id, d) }
    val alone = queries.map(answer)
    val pool = Executors.newFixedThreadPool(3)
    try {
      // each thread walks the queries from its own offset, so the three
      // are at different queries at any moment
      val futures = (0 until 3).map { t =>
        pool.submit(new Callable[Seq[Int]] {
          def call(): Seq[Int] = queries.indices.map(i => (i + t * 100) % queries.length)
            .filter(i => answer(queries(i)) != alone(i))
        })
      }
      val wrong = futures.map(_.get(120, TimeUnit.SECONDS))
      assert(wrong.forall(_.isEmpty), wrong.map(_.size).mkString("wrong answers per thread: ", ", ", ""))
    } finally pool.shutdownNow()
  }
}
