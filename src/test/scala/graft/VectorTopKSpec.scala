package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.graft.VectorTopKExec
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed


/** Property: `ORDER BY <distance> LIMIT k` over a cached table, planned
  * as [[VectorTopKExec]], answers as Spark's TakeOrderedAndProject does
  * over an uncached copy of the same rows. Generated tables hold NULL,
  * duplicate and zero vectors (cosine against a zero vector is NaN) and
  * small integer coordinates (tied distances); queries cover all three
  * metrics, `WHERE` filters, an id tie-break key, a projected distance,
  * and k = 1, k = rows and k > rows. With the tie-break the order is
  * total and the answers are equal row for row; without it the
  * multisets of sort keys are. On the cached side, `collect`,
  * `rdd.collect` and `toLocalIterator` give the same rows. */
class VectorTopKSpec extends SparkSpecBase {
  import VectorTopKSpec._

  private lazy val engine = new Engine(spark) // distance functions, strategy

  private def frame(c: Case): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(c.rows.map { case (id, v) =>
      Row(id, v.map(_.toSeq).orNull) }, c.partitions), Schema)

  private def arr(v: Seq[Double]): String =
    v.map(x => s"CAST($x AS DOUBLE)").mkString("array(", ", ", ")")

  private def sql(view: String, q: Query): String = {
    val dist = s"${q.metric}(v, ${arr(q.vec)})"
    s"SELECT id${if (q.selectDist) s", $dist AS d" else ""} FROM $view" +
      q.filter.fold("")(f => s" WHERE $f") +
      s" ORDER BY $dist${if (q.tieBreak) ", id" else ""} LIMIT ${q.k}"
  }

  /** A distance as a comparable key: null stays None, -0.0 is 0.0 and
    * every NaN is one value, as Spark's ordering treats them. */
  private def key(d: java.lang.Double): Option[Long] =
    Option(d).map(x => java.lang.Double.doubleToLongBits(x + 0.0))

  private def failures(c: Case): Seq[String] = {
    engine
    val cached = frame(c).cache()
    cached.count()
    cached.createOrReplaceTempView("topk_cached")
    frame(c).createOrReplaceTempView("topk_plain")
    try c.queries.flatMap { q =>
      val got = spark.sql(sql("topk_cached", q))
      val want = spark.sql(sql("topk_plain", q))
      val plan = got.queryExecution.executedPlan
      val wantPlan = want.queryExecution.executedPlan
      val rows = got.collect().toSeq
      val expected = want.collect().toSeq
      val viaRdd = got.rdd.collect().toSeq
      import scala.jdk.CollectionConverters._
      val viaIterator = got.toLocalIterator().asScala.toSeq
      def keys(rs: Seq[Row]): Seq[Option[Long]] = {
        val dist = spark.sql(s"SELECT id, ${q.metric}(v, ${arr(q.vec)}) " +
          "FROM topk_plain").collect()
          .map(r => r.getInt(0) -> r.get(1).asInstanceOf[java.lang.Double]).toMap
        rs.map(r => key(dist(r.getInt(0)))).sortBy(_.toString)
      }
      val msg = s"$q over ${c.rows.length} rows in ${c.partitions} parts"
      (if (plan.collectFirst { case t: VectorTopKExec => t }.isEmpty ||
           plan.collectFirst { case t: TakeOrderedAndProjectExec => t }.nonEmpty)
         Seq(s"$msg: cached side planned as\n$plan") else Nil) ++
      (if (wantPlan.collectFirst { case t: TakeOrderedAndProjectExec => t }.isEmpty)
         Seq(s"$msg: uncached side planned as\n$wantPlan") else Nil) ++
      (if (rows.length != math.min(q.k, c.rows.count(r => q.keeps(r._1))))
         Seq(s"$msg: ${rows.length} rows") else Nil) ++
      (if (q.tieBreak && rows != expected)
         Seq(s"$msg: $rows, TakeOrderedAndProject $expected")
       else if (!q.tieBreak && keys(rows) != keys(expected))
         Seq(s"$msg: keys ${keys(rows)}, TakeOrderedAndProject ${keys(expected)}")
       else Nil) ++
      (if (viaRdd != rows || viaIterator != rows)
         Seq(s"$msg: collect $rows, rdd $viaRdd, iterator $viaIterator") else Nil)
    } finally {
      cached.unpersist()
      spark.catalog.dropTempView("topk_cached")
      spark.catalog.dropTempView("topk_plain")
    }
  }

  test("VectorTopK answers as TakeOrderedAndProject over the same rows") {
    val params = Test.Parameters.default.withMinSuccessfulTests(40)
      .withWorkers(1).withInitialSeed(Seed(20261019L))
    val prop = Prop.forAllNoShrink(cases) { c =>
      val f = failures(c)
      f.isEmpty :| f.mkString("; ")
    }
    val res = Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  test("a plan the strategy does not match keeps TakeOrderedAndProject") {
    engine
    val c = Case(Seq(1 -> Some(Vector(1.0, 0.0, 0.0)),
      2 -> Some(Vector(0.0, 1.0, 0.0))), 2, Nil)
    val cached = frame(c).cache()
    cached.createOrReplaceTempView("topk_cached")
    try {
      val q = arr(Seq(1.0, 0.0, 0.0))
      // first key not a distance; a nondeterministic filter; a distance
      // between two columns
      Seq(s"SELECT id FROM topk_cached ORDER BY id, l2_dist(v, $q) LIMIT 1",
        s"SELECT id FROM topk_cached WHERE rand(7) < 0.5 ORDER BY l2_dist(v, $q) LIMIT 1",
        "SELECT id FROM topk_cached ORDER BY l2_dist(v, v) LIMIT 1").foreach { s =>
        val plan = spark.sql(s).queryExecution.executedPlan
        assert(plan.collectFirst { case t: VectorTopKExec => t }.isEmpty &&
          plan.collectFirst { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
          s"$s:\n$plan")
      }
    } finally {
      cached.unpersist()
      spark.catalog.dropTempView("topk_cached")
    }
  }
}

object VectorTopKSpec {
  val Schema: StructType = StructType(Seq(StructField("id", IntegerType),
    StructField("v", ArrayType(DoubleType))))

  final case class Query(metric: String, vec: Seq[Double],
      filter: Option[String], mod: Int, rem: Int, tieBreak: Boolean,
      selectDist: Boolean, k: Int) {
    def keeps(id: Int): Boolean = filter.isEmpty || id % mod == rem
    override def toString: String =
      s"$metric(v, $vec)${filter.fold("")(f => s" WHERE $f")}" +
        s"${if (tieBreak) " +id" else ""}${if (selectDist) " +d" else ""} k=$k"
  }
  final case class Case(rows: Seq[(Int, Option[Vector[Double]])],
      partitions: Int, queries: Seq[Query])

  private val Dim = 3
  private val coord: Gen[Double] = Gen.frequency(
    3 -> Gen.choose(-2, 2).map(_.toDouble), // ties
    1 -> Gen.choose(-1.0, 1.0))
  private val vec: Gen[Vector[Double]] = Gen.frequency(
    8 -> Gen.listOfN(Dim, coord).map(_.toVector),
    1 -> Gen.const(Vector.fill(Dim)(0.0)))

  private def rowsOf(n: Int): Gen[Seq[(Int, Option[Vector[Double]])]] =
    Gen.listOfN(n, Gen.frequency(6 -> vec.map(Some(_)), 1 -> Gen.const(None)))
      .flatMap { vs =>
        // some rows repeat an earlier row's vector
        Gen.sequence[Seq[Option[Vector[Double]]], Option[Vector[Double]]](
          vs.indices.map(i =>
            if (i == 0) Gen.const(vs(i))
            else Gen.frequency(4 -> Gen.const(vs(i)),
              1 -> Gen.choose(0, i - 1).map(vs(_)))))
          .map(_.zipWithIndex.map { case (v, i) => (i * 3 + 1, v) })
      }

  private def query(n: Int): Gen[Query] = for {
    metric <- Gen.oneOf("l2_dist", "inner_product", "cosine_similarity")
    v <- vec
    mod <- Gen.choose(2, 3)
    rem <- Gen.choose(0, mod - 1)
    filtered <- Gen.oneOf(true, false)
    tie <- Gen.oneOf(true, false)
    selectDist <- Gen.oneOf(true, false)
    k <- Gen.oneOf(Gen.const(1), Gen.const(math.max(n, 1)),
      Gen.const(n + 3), Gen.choose(1, math.max(n, 1)))
  } yield Query(metric, v, if (filtered) Some(s"id % $mod = $rem") else None,
    mod, rem, tie, selectDist, k)

  val cases: Gen[Case] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 8 -> Gen.choose(1, 30))
    rows <- rowsOf(n)
    parts <- Gen.choose(1, 4)
    queries <- Gen.listOfN(3, query(n))
  } yield Case(rows, parts, queries)
}
