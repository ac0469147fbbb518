package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

/** Property: generated DML sequences on one table agree with a
  * driver-side model. Statements mix INSERT VALUES, INSERT SELECT,
  * UPDATE and DELETE over values that do not cast, vectors of the wrong
  * dim and NULL vectors. After every statement:
  *  - an accepted one replies the model's count and leaves the model's
  *    rows, each existing row under its `__rid`;
  *  - a rejected one fails with the binder's message, a cast failure
  *    ahead of a dim failure, and leaves every row and `__rid` as it
  *    was;
  *  - `__rid`s are unique, and the ids an INSERT assigns lie above the
  *    live max before it. */
class DmlModelSpec extends SparkSpecBase {
  import DmlModelSpec._

  /** `__rid` -> row, as the engine stores the table */
  private def snapshot(e: Engine): Seq[(Long, R)] =
    e.table("dm").select(Engine.RowId, "v", "n").collect().toSeq.map(r =>
      r.getLong(0) -> R(Option(r.getSeq[Double](1)).map(_.toSeq),
        if (r.isNullAt(2)) None else Some(r.getInt(2))))

  private def sqlVec(v: Option[Seq[Double]]): String =
    v.fold("NULL")(_.mkString("ARRAY [", ", ", "]"))

  private def sqlN(n: N): String = n match {
    case Good(i) => s"'$i'"
    case Bad(s) => s"'$s'"
    case NullN => "NULL"
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  /** What the binder makes of new rows: None accepts them, otherwise
    * the rule that rejects them, cast ahead of dim. */
  private def rejection(rows: Seq[(Option[Seq[Double]], N)]): Option[String] =
    if (rows.exists(_._2.isInstanceOf[Bad])) Some("cast")
    else if (rows.exists(_._1.exists(_.length != Dim))) Some("dim")
    else None

  private def failures(c: Case): Seq[String] = {
    val e = new Engine(spark)
    spark.createDataFrame(java.util.List.of(c.source.zipWithIndex.map {
      case ((v, n), k) => Row(k, v.orNull, n match {
        case Good(i) => i.toString
        case Bad(s) => s
        case NullN => null
      })
    }: _*), SourceSchema).createOrReplaceTempView("dm_src")
    e.executeSql(s"CREATE TABLE dm(v VECTOR($Dim), n integer)")
    c.stmts.flatMap { s =>
      val before = snapshot(e)
      val rows = before.toMap
      val matched = (m: Int, r: Int) => rows.filter(_._2.n.exists(_ % m == r))
      // the statement, the count and rows the model expects, or the
      // rule that rejects it
      val (sql, expect): (String, Either[String, (Long, Seq[(Option[Long], R)])]) = s match {
        case InsertValues(vs) =>
          val sql = "INSERT INTO dm VALUES " +
            vs.map { case (v, n) => s"(${sqlVec(v)}, ${sqlN(n)})" }.mkString(", ")
          sql -> rejection(vs).toLeft(inserted(rows, vs))
        case InsertSelect(m, r) =>
          val vs = c.source.zipWithIndex.collect { case (row, k) if k % m == r => row }
          s"INSERT INTO dm SELECT v, s FROM dm_src WHERE k % $m = $r" ->
            rejection(vs).toLeft(inserted(rows, vs))
        case UpdateVec(v, m, r) =>
          val hit = matched(m, r)
          val sql = s"UPDATE dm SET v = ${sqlVec(v)} WHERE n % $m = $r"
          if (hit.nonEmpty && v.exists(_.length != Dim)) sql -> Left("dim")
          else sql -> Right(hit.size.toLong -> rows.toSeq.map { case (id, row) =>
            Some(id) -> (if (hit.contains(id)) row.copy(v = v) else row) })
        case UpdateN(m, r) =>
          val hit = matched(m, r)
          s"UPDATE dm SET n = n + 1 WHERE n % $m = $r" ->
            Right(hit.size.toLong -> rows.toSeq.map { case (id, row) =>
              Some(id) -> (if (hit.contains(id)) row.copy(n = row.n.map(_ + 1)) else row) })
        case Delete(m, r) =>
          val hit = matched(m, r)
          s"DELETE FROM dm WHERE n % $m = $r" ->
            Right(hit.size.toLong -> rows.toSeq.filterNot(p => hit.contains(p._1))
              .map { case (id, row) => Some(id) -> row })
      }
      val got = scala.util.Try(e.executeSql(sql).head().getLong(0))
      val after = snapshot(e)
      val ids = after.map(_._1)
      val unique =
        if (ids.distinct.length != ids.length) Seq(s"$sql: duplicate __rid in $ids") else Nil
      unique ++ ((got, expect) match {
        case (scala.util.Failure(t), Left(rule)) =>
          val msg = messages(t)
          val named = rule match {
            case "cast" => msg.contains("type mismatch inserting into dm (value does not cast)") ||
              msg.contains("CAST_INVALID_INPUT")
            case _ => msg.contains(s"vector dim mismatch for dm.v (want $Dim)")
          }
          (if (!named) Seq(s"$sql: rejected by $rule, but: $msg") else Nil) ++
            (if (after.sortBy(_._1) != before.sortBy(_._1))
               Seq(s"$sql: rejected, yet rows went ${before.sorted} -> ${after.sorted}") else Nil)
        case (scala.util.Failure(t), Right(_)) => Seq(s"$sql: failed: ${messages(t)}")
        case (scala.util.Success(n), Left(rule)) => Seq(s"$sql: accepted ($n), want $rule rejection")
        case (scala.util.Success(n), Right((cnt, want))) =>
          val (kept, fresh) = want.partition(_._1.isDefined)
          val newIds = ids.filterNot(rows.contains)
          val liveMax = (-1L +: rows.keys.toSeq).max
          (if (n != cnt) Seq(s"$sql: count $n, model $cnt") else Nil) ++
            (if (after.filter(p => rows.contains(p._1)).sortBy(_._1) !=
                 kept.map(p => p._1.get -> p._2).sortBy(_._1))
               Seq(s"$sql: kept rows ${after.sorted}, model ${kept.sorted}") else Nil) ++
            (if (after.filterNot(p => rows.contains(p._1)).map(_._2).sorted !=
                 fresh.map(_._2).sorted)
               Seq(s"$sql: new rows ${after.sorted}, model ${fresh.sorted}") else Nil) ++
            (if (newIds.exists(_ <= liveMax))
               Seq(s"$sql: new ids $newIds not above the live max $liveMax") else Nil)
      })
    }
  }

  /** The model after an accepted INSERT: every row kept under its id,
    * the new rows cast (`Good` values), under ids the engine picks. */
  private def inserted(rows: Map[Long, R],
      vs: Seq[(Option[Seq[Double]], N)]): (Long, Seq[(Option[Long], R)]) =
    vs.length.toLong -> (rows.toSeq.map { case (id, r) => Some(id) -> r } ++
      vs.map { case (v, n) => None -> R(v, n match { case Good(i) => Some(i); case _ => None }) })

  test("DML sequences: counts, rows, rejections and __rids follow the model") {
    val params = Test.Parameters.default.withMinSuccessfulTests(12)
      .withWorkers(1).withInitialSeed(Seed(20261019L))
    val prop = Prop.forAllNoShrink(cases) { c =>
      val f = failures(c)
      f.isEmpty :| f.mkString("; ")
    }
    val res = Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }
}

object DmlModelSpec {
  val Dim = 2

  final case class R(v: Option[Seq[Double]], n: Option[Int])
  implicit val rowOrdering: Ordering[R] = Ordering.by((r: R) =>
    (r.v.map(_.mkString(",")), r.n))

  /** an inserted `n`: a string that casts to an integer, one that does
    * not, or NULL */
  sealed trait N
  final case class Good(i: Int) extends N
  final case class Bad(s: String) extends N
  case object NullN extends N

  sealed trait Stmt
  final case class InsertValues(rows: Seq[(Option[Seq[Double]], N)]) extends Stmt
  final case class InsertSelect(mod: Int, rem: Int) extends Stmt
  final case class UpdateVec(v: Option[Seq[Double]], mod: Int, rem: Int) extends Stmt
  final case class UpdateN(mod: Int, rem: Int) extends Stmt
  final case class Delete(mod: Int, rem: Int) extends Stmt
  final case class Case(source: Seq[(Option[Seq[Double]], N)], stmts: Seq[Stmt])

  val SourceSchema = StructType(Seq(StructField("k", IntegerType),
    StructField("v", ArrayType(DoubleType)), StructField("s", StringType)))

  /** quarters: every coordinate renders and parses back exactly */
  private val vec: Gen[Option[Seq[Double]]] = Gen.frequency(
    6 -> Gen.listOfN(Dim, Gen.choose(-8, 8).map(_ / 4.0)).map(Some(_)),
    1 -> Gen.oneOf(1, 3).flatMap(d => Gen.listOfN(d, Gen.choose(-8, 8).map(_ / 4.0)))
      .map(Some(_)),
    1 -> Gen.const(None))
  private val n: Gen[N] = Gen.frequency(
    8 -> Gen.choose(-9, 20).map(Good(_)),
    1 -> Gen.oneOf("x7", "7x", "abc").map(Bad(_)),
    1 -> Gen.const(NullN))
  private val row = Gen.zip(vec, n)
  private val modRem: Gen[(Int, Int)] =
    Gen.choose(1, 4).flatMap(m => Gen.choose(0, m - 1).map(m -> _))
  private val stmt: Gen[Stmt] = Gen.frequency(
    4 -> Gen.choose(1, 4).flatMap(Gen.listOfN(_, row)).map(InsertValues(_)),
    2 -> modRem.map { case (m, r) => InsertSelect(m, r) },
    2 -> Gen.zip(vec, modRem).map { case (v, (m, r)) => UpdateVec(v, m, r) },
    1 -> modRem.map { case (m, r) => UpdateN(m, r) },
    2 -> modRem.map { case (m, r) => Delete(m, r) })
  val cases: Gen[Case] = for {
    size <- Gen.choose(0, 8)
    source <- Gen.listOfN(size, row)
    k <- Gen.choose(3, 7)
    stmts <- Gen.listOfN(k, stmt)
  } yield Case(source, stmts)
}
