package graft

import scala.util.matching.Regex

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property: [[Engine.rewriteOp]] gives what a fixed-point loop of full
  * regex passes gives (the loop is kept here as written before the
  * early exits), over generated text with nested and repeated `<->`,
  * `<#>` and `<=>`, quoted literals holding the operators, function
  * calls, `array(..)` and `ARRAY [..]` operands. */
class RewriteOpSpec extends AnyFunSuite {
  import RewriteOpSpec._

  test("rewriteOp equals the pass-until-unchanged loop") {
    val params = Test.Parameters.default.withMinSuccessfulTests(2000)
      .withWorkers(1).withInitialSeed(Seed(20261019L))
    val prop = Prop.forAllNoShrink(text) { s =>
      val results = Ops.map { case (op, fn) =>
        (op, Engine.rewriteOp(s, op, fn), fixedPoint(s, op, fn))
      }
      val chained = Ops.foldLeft(s) { case (t, (op, fn)) => Engine.rewriteOp(t, op, fn) }
      val chainedRef = Ops.foldLeft(s) { case (t, (op, fn)) => fixedPoint(t, op, fn) }
      val bad = results.filter { case (_, got, want) => got != want }
      (bad.isEmpty && chained == chainedRef) :|
        s"$s: ${bad.mkString("; ")} chained $chained vs $chainedRef"
    }
    val res = Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  test("a rewrite the generator must reach: nested operands") {
    assert(Engine.rewriteOp("f(a <-> b) <-> c", "<->", "l2_dist") ==
      fixedPoint("f(a <-> b) <-> c", "<->", "l2_dist"))
    assert(Engine.rewriteOp("x <#> y", "<->", "l2_dist") == "x <#> y")
  }
}

object RewriteOpSpec {
  val Ops = Seq("<->" -> "l2_dist", "<#>" -> "inner_product",
    "<=>" -> "cosine_similarity")

  /** The operator rewrite as it was: full passes until one changes
    * nothing. */
  def fixedPoint(sql: String, op: String, fn: String): String = {
    val inner = """(?:[^()]|\([^()]*\))*"""
    val operand = s"""(array\\($inner\\)|[\\w.]+\\($inner\\)|[\\w.]+)"""
    val re = new Regex("(?i)" + operand + """\s*""" + Regex.quote(op) +
      """\s*""" + operand)
    var out = sql
    var prev = ""
    while (prev != out) {
      prev = out
      out = re.replaceAllIn(out, m =>
        Regex.quoteReplacement(s"$fn(${m.group(1)}, ${m.group(2)})"))
    }
    out
  }

  private val space: Gen[String] = Gen.oneOf("", " ", "  ", "\n")
  private val op: Gen[String] = Gen.oneOf("<->", "<#>", "<=>", "<>", "<")
  private val number: Gen[String] = Gen.oneOf("1", "2.5", "-0.0", "1e3")
  private val ident: Gen[String] = Gen.oneOf("v", "t.v", "a1", "emb", "ARRAY", "x.y.z")
  private val quoted: Gen[String] = for {
    a <- Gen.oneOf("", "a ", "v ")
    o <- op
    b <- Gen.oneOf("", " b", "'' c")
  } yield s"'$a$o$b'"

  private def operand(depth: Int): Gen[String] =
    if (depth <= 0) Gen.frequency(4 -> ident, 2 -> number, 1 -> quoted)
    else Gen.frequency(
      4 -> ident,
      1 -> number,
      1 -> quoted,
      2 -> Gen.listOfN(3, number).map(_.mkString("array(", ", ", ")")),
      1 -> Gen.listOfN(2, number).map(_.mkString("ARRAY [", ", ", "]")),
      2 -> Gen.lzy(expr(depth - 1)).map(e => s"f($e)"),
      2 -> Gen.lzy(expr(depth - 1)).map(e => s"($e)"))

  private def expr(depth: Int): Gen[String] = for {
    n <- Gen.choose(1, 4)
    first <- operand(depth)
    rest <- Gen.listOfN(n - 1, for {
      s1 <- space; o <- op; s2 <- space; x <- operand(depth)
    } yield s"$s1$o$s2$x")
  } yield first + rest.mkString

  val text: Gen[String] = for {
    head <- Gen.oneOf("SELECT ", "", "ORDER BY ")
    e <- expr(3)
    tail <- Gen.oneOf("", " LIMIT 3", ", id FROM t")
  } yield head + e + tail
}
