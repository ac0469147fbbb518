package graft

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.QueryVector
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

/** Property: the one-literal query vector that [[Engine.rewriteExprs]]
  * writes for an `ARRAY [..]` of plain numerals is, bit for bit and in
  * type, what `array(CAST(x AS DOUBLE), ...)` gives; where that form
  * fails, or where some element is not a plain numeral, the rewrite
  * writes that form itself, so types, values and errors stay the same.
  * Numerals come with and without signs, as `.5` and `5.`, with
  * exponents, as 19–40-digit integers and decimals, near
  * `Double.MaxValue`, and out of range. */
class QueryVectorSpec extends SparkSpecBase {
  import QueryVectorSpec._

  private lazy val engine = new Engine(spark)

  /** the array's values as raw bits with the column's type, or the error */
  private def eval(sql: String): Either[String, (String, Seq[Long])] =
    Try {
      val df: DataFrame = spark.sql(sql)
      val v = df.collect().head.getSeq[Double](0)
      (df.schema.head.dataType.json, v.map(java.lang.Double.doubleToRawLongBits))
    }.toEither.left.map(e => e.getClass.getName)

  private def castForm(xs: Seq[String]): String =
    xs.map(x => s"CAST($x AS DOUBLE)").mkString("SELECT array(", ", ", ")")

  test("the one-literal vector equals the cast form bit for bit, or both fail") {
    var literal = 0; var failed = 0; var mixed = 0
    val params = Test.Parameters.default.withMinSuccessfulTests(400)
      .withWorkers(1).withInitialSeed(Seed(20261020L))
    val prop = Prop.forAllNoShrink(array) { case (xs, plain) =>
      val text = engine.rewriteExprs(xs.mkString("SELECT ARRAY [", ", ", "]"))
      val old = castForm(xs)
      val (want, got) = (eval(old), eval(text))
      val ok =
        if (!plain) { mixed += 1; text == old }
        else if (want.isLeft) { failed += 1; text == old }
        else { literal += 1; text.contains(QueryVector.Function) && got == want }
      ok :| s"${xs.mkString(", ")}\n  rewritten: $text\n  cast form: $want\n  literal:   $got"
    }
    val res = Test.check(params, prop)
    assert(res.passed, res.status.toString)
    // the generator reaches every branch
    assert(literal > 50 && failed > 10 && mixed > 10, s"$literal / $failed / $mixed")
  }

  test("signed zeros, underflow and the range edges, one by one") {
    def bits(x: String) = QueryVector.numeral(x).map(java.lang.Double.doubleToRawLongBits)
    val negZero = Some(java.lang.Double.doubleToRawLongBits(-0.0))
    val zero = Some(0L)
    // a decimal has no negative zero; an exponent literal is a double
    assert(bits("-0.0") == zero && bits("-0") == zero && bits("-0e0") == negZero)
    assert(bits("1e-400") == zero && bits("-1e-400") == negZero)
    assert(QueryVector.numeral("1.7976931348623157e308").contains(Double.MaxValue))
    // above Double.MaxValue as a decimal, though it rounds to it: rejected
    assert(QueryVector.numeral("1.7976931348623158e308").isEmpty)
    assert(QueryVector.numeral("1e400").isEmpty && QueryVector.numeral("-1e400").isEmpty)
    assert(QueryVector.numeral("1" * 38).nonEmpty && QueryVector.numeral("1" * 39).isEmpty)
    Seq("", "NULL", "1D", "2F", "3L", "1BD", "- 1", "+-1", "1e", ".", "1.5.2", "0x10")
      .foreach(x => assert(QueryVector.numeral(x).isEmpty, x))
    Seq(".5", "5.", "+5", "5.e3", ".5E-3", "007").foreach { x =>
      val text = engine.rewriteExprs(s"SELECT ARRAY [$x]")
      assert(text.contains(QueryVector.Function) && eval(text) == eval(castForm(Seq(x))), x)
    }
  }
}

object QueryVectorSpec {
  private val digits: Gen[String] = for {
    n <- Gen.frequency(6 -> Gen.choose(1, 6), 2 -> Gen.choose(7, 18), 2 -> Gen.choose(19, 40))
    ds <- Gen.listOfN(n, Gen.numChar)
  } yield ds.mkString

  private val sign: Gen[String] = Gen.frequency(4 -> "", 3 -> "-", 1 -> "+")

  private val exponent: Gen[String] = for {
    e <- Gen.oneOf("e", "E")
    s <- Gen.oneOf("", "+", "-")
    n <- Gen.frequency(4 -> Gen.choose(0, 30), 2 -> Gen.oneOf(300, 307, 308, 309),
      2 -> Gen.oneOf(320, 323, 324, 325, 400))
  } yield s"$e$s$n"

  /** `digits`, `digits.digits`, `.digits`, `digits.`, each maybe with an
    * exponent; the engine's own output (`Double.toString`); the range
    * edges */
  val numeral: Gen[String] = Gen.frequency(
    6 -> (for {
      s <- sign
      body <- Gen.oneOf(digits, for { a <- digits; b <- digits } yield s"$a.$b",
        digits.map("." + _), digits.map(_ + "."))
      e <- Gen.frequency(2 -> Gen.const(""), 1 -> exponent)
    } yield s + body + e),
    2 -> Gen.choose(-1e6, 1e6).map(java.lang.Double.toString),
    2 -> Gen.oneOf("0", "-0", "0.0", "-0.0", "0e0", "-0e0", "-0.0e0", ".0", "0.",
      "1.7976931348623157e308", "1.7976931348623158e308", "-1.7976931348623157E308",
      "179769313486231570000000000000000000000", "4.9e-324", "2.5e-324", "1e-400",
      "9223372036854775807", "9223372036854775808", "-2147483648", "2147483648"))

  /** an element no numeral rule covers: NULL, an expression, a typed
    * literal, a string */
  private val other: Gen[String] =
    Gen.oneOf("NULL", "1 + 1", "abs(-2)", "1D", "2.5F", "3L", "1BD", "'1.5'", "CAST(1 AS INT)")

  /** 1–4 elements and whether all of them are numerals */
  val array: Gen[(Seq[String], Boolean)] = for {
    n <- Gen.choose(1, 4)
    withOther <- Gen.frequency(4 -> false, 1 -> true)
    xs <- Gen.listOfN(n, numeral)
    o <- other
    at <- Gen.choose(0, n)
  } yield if (withOther) (xs.patch(at, Seq(o), 0), false) else (xs, true)
}
