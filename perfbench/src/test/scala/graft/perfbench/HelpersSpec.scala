package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("tail percentile: highest ladder step with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty, "19 samples: even p50 has only 9 beyond")
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0), "p75 of 39 has 9 beyond")
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    // the chosen step always leaves >= 10 samples strictly above its rank
    (1 to 3000).foreach { n =>
      Stats.tailPercentile(n).foreach { p =>
        assert(n - Stats.rank(p, n) >= 10, s"n=$n p=$p")
      }
    }
  }

  test("tail value: nearest-rank percentile, or the maximum with too few samples") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.tail(xs) == ((75.0, 30.0)))
    assert(Stats.tail(Seq(3.0, 9.0, 1.0)) == ((100.0, 9.0)))
    assert(Stats.percentile(xs, 50) == 20.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("recall@10 counts the exact top-10 found, in any order") {
    val truth = (1L to 10L)
    assert(Stats.recallAtK(truth.reverse, truth) == 1.0)
    assert(Stats.recallAtK((4L to 13L), truth) == 0.7)
    assert(Stats.recallAtK(Seq(1L, 1L, 2L), truth) == 0.2, "duplicates count once")
    assert(Stats.recallAtK(Nil, truth) == 0.0)
  }

  test("failure accounting: errors, wrong answers, overrun then skipped") {
    val l = new Ledger
    l.ok(); l.ok()
    l.wrongAnswer("top-10 differs")
    l.error("boom")
    assert((l.attempted, l.failed, l.wrong, l.aborted) == ((4L, 2L, 1L, false)))
    l.overrun("over the limit")
    assert(l.aborted)
    l.skipped(5)
    assert((l.attempted, l.failed) == ((10L, 8L)))
    assert(l.failedFrac == 0.8)
    assert(l.messages == Seq("top-10 differs", "boom", "over the limit"))
  }

  test("client: an overrun fails the statement and every later one without running") {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val l = new Ledger
      val c = new Client(spark, 0.2, new Tracer(false), None, l)
      assert(c.run("fast")(_ => 1)().map(_.value).contains(1))
      assert(c.run("wrong")(_ => 2)(v => if (v != 3) Some("want 3") else None).isEmpty)
      assert(c.run("slow")(_ => Thread.sleep(2000))().isEmpty)
      var ran = false
      assert(c.run("after")(_ => ran = true)().isEmpty)
      assert(!ran)
      assert((l.attempted, l.failed, l.wrong) == ((4L, 3L, 1L)))
      c.shutdown()
    } finally spark.stop()
  }

  test("seed determinism: corpora, queries and statement order") {
    def inputs(seed: Long) = (
      (0L until 50L).map(Gen.vec(seed, _).toSeq),
      (0 until 8).map(Gen.query(seed, 1000, _).toSeq),
      (0L until 60L).map(Workloads.serveSchedule(seed, _)))
    assert(inputs(7) == inputs(7))
    val (a, b) = (inputs(7), inputs(8))
    assert(a._1 != b._1 && a._2 != b._2 && a._3 != b._3)
  }

  test("knn_serve: a fixed statement count per --seconds, so a fixed tail percentile") {
    assert(Workloads.serveStatements(20) == 40)
    assert(Stats.tailPercentile(Workloads.serveStatements(20).toInt).contains(75.0))
  }

  test("schedule: every block holds the block's shapes, in varying order") {
    val n = Workloads.BlockShapes.length
    val blocks = (0L until 300L).grouped(n).map(_.map(Workloads.serveSchedule(11, _))).toSeq
    blocks.foreach(b => assert(b.sorted == Workloads.BlockShapes.sorted))
    assert(blocks.distinct.length > 1)
  }

  test("vectors round-trip exactly through SQL text") {
    val v = Gen.vec(3, 42)
    val parsed = Gen.sqlArray(v).stripPrefix("ARRAY [").stripSuffix("]")
      .split(",").map(s => BigDecimal(s.trim).toDouble)
    assert(parsed.sameElements(v))
    assert(v.forall(x => math.abs(x * 1e6 - math.rint(x * 1e6)) < 1e-6))
  }

  test("exact top-k: nearest first, filter honoured") {
    val vecs = Array(Array(0.0), Array(3.0), Array(1.0), Array(2.0))
    val ids = Array(10L, 11L, 12L, 13L)
    assert(Gen.exactTopK(Array(0.1), ids, vecs, 3) == Seq(10L, 12L, 13L))
    assert(Gen.exactTopK(Array(0.1), ids, vecs, 2, _ % 2 == 1) == Seq(13L, 11L))
  }

  test("trace: parents by containment and self time per layer") {
    val spans = Seq(
      Span(1, "stmt", "bench", 1, 0, 0, 100),
      Span(2, "collect", "engine", 1, 1, 10, 90),
      Span(3, "optimization", "plan", 1, -1, 20, 40),
      Span(4, "job", "spark.job", 1, -1, 30, 35),
      Span(5, "job", "spark.job", 1, -1, 50, 80))
    val r = Tracer.resolveParents(spans).map(s => s.id -> s.parent).toMap
    assert(r == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 2L))
    val self = Tracer.selfMsByLayer(spans)
    assert(self("bench") == 0.020)
    assert(self("engine") == 0.030)
    assert(self("plan") == 0.015)
    assert(self("spark.job") == 0.035)
  }
}
