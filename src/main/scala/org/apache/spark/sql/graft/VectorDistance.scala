/* Lives under org.apache.spark.sql to access private[sql] helpers
 * (ExpressionUtils, AbstractDataType) — the standard pattern for
 * libraries adding native Catalyst expressions. */
package org.apache.spark.sql.graft

import scala.util.Try

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, CreateArray, ExpectsInputTypes, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The three vector distance functions of the reference, as native
  * Catalyst expressions with whole-stage codegen.
  *
  * Semantics pinned by reference `src/include/execution/expressions/
  * vector_expression.h:19-63` (ComputeDistance):
  *  - l2_dist: Euclidean distance WITH sqrt.
  *  - inner_product: RAW dot product, NOT negated (ordering by it
  *    ascending returns least-similar first — reproduced literally).
  *  - cosine_similarity: dot/(|a||b|), NOT 1-cos.
  * Return type DECIMAL in the reference == C double
  * (`src/type/decimal_type.cpp:25-33`) -> DoubleType here.
  * Dimension mismatch asserts in the reference; we throw too.
  */
object DistanceMetric extends Enumeration {
  val L2, InnerProduct, Cosine = Value
}

case class VectorDistance(
    left: Expression,
    right: Expression,
    metric: DistanceMetric.Value)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = metric match {
    case DistanceMetric.L2           => "l2_dist"
    case DistanceMetric.InnerProduct => "inner_product"
    case DistanceMetric.Cosine       => "cosine_similarity"
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    require(n == y.numElements(),
      s"vector dimension mismatch: $n vs ${y.numElements()}")
    metric match {
      case DistanceMetric.L2 =>
        var acc = 0.0; var i = 0
        while (i < n) {
          val d = x.getDouble(i) - y.getDouble(i); acc += d * d; i += 1
        }
        math.sqrt(acc)
      case DistanceMetric.InnerProduct =>
        var acc = 0.0; var i = 0
        while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
        acc
      case DistanceMetric.Cosine =>
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < n) {
          val xv = x.getDouble(i); val yv = y.getDouble(i)
          dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // every local must be freshName'd: two distance expressions can
      // land in the same generated function (e.g. one projection
      // computing l2 and cosine) and fixed names collide
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val body = metric match {
        case DistanceMetric.L2 =>
          s"""
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $d = $a.getDouble($i) - $b.getDouble($i);
           |  $acc += $d * $d;
           |}
           |${ev.value} = java.lang.Math.sqrt($acc);
           """.stripMargin
        case DistanceMetric.InnerProduct =>
          s"""
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $acc;
           """.stripMargin
        case DistanceMetric.Cosine =>
          s"""
           |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $xv = $a.getDouble($i); double $yv = $b.getDouble($i);
           |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
           |}
           |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
           """.stripMargin
      }
      s"""
       |int $n = $a.numElements();
       |if ($n != $b.numElements()) {
       |  throw new IllegalArgumentException(
       |    "vector dimension mismatch: " + $n + " vs " + $b.numElements());
       |}
       |$body
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDistance =
    copy(left = newLeft, right = newRight)
}

/** Column/Expression bridge + SQL registration for the distances. */
object VectorDistanceApi {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  private def asDoubleArray(c: Column): Column = c.cast("array<double>")

  def dist(a: Column, b: Column, m: DistanceMetric.Value): Column =
    column(VectorDistance(
      expression(asDoubleArray(a)), expression(asDoubleArray(b)), m))

  /** Register SQL names so spark.sql("... l2_dist(a,b) ...") works,
    * mirroring the reference planner's hard-coded function table
    * (`src/planner/expression_factory.cpp:104-112`). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def wrap(m: DistanceMetric.Value)(exprs: Seq[Expression]): Expression =
      VectorDistance(exprs(0), exprs(1), m)
    reg.createOrReplaceTempFunction("l2_dist",
      wrap(DistanceMetric.L2), "built-in")
    reg.createOrReplaceTempFunction("inner_product",
      wrap(DistanceMetric.InnerProduct), "built-in")
    reg.createOrReplaceTempFunction("cosine_similarity",
      wrap(DistanceMetric.Cosine), "built-in")
    // function form of the vector constructor (reference
    // expression_factory.cpp:125-127); children coerced to double like
    // the binder's all-DECIMAL ARRAY rule (array_expression.h:27-58)
    reg.createOrReplaceTempFunction("construct_array",
      (exprs: Seq[Expression]) => CreateArray(
        exprs.map(Cast(_, org.apache.spark.sql.types.DoubleType))),
      "built-in")
    reg.createOrReplaceTempFunction(QueryVector.Function, QueryVector.build, "built-in")
  }

  // Descriptors for SparkSessionExtensions.injectFunction.
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  private def descriptor(name: String, m: DistanceMetric.Value) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[VectorDistance].getName, name),
      (exprs: Seq[Expression]) => VectorDistance(exprs(0), exprs(1), m)
        : Expression)
  def l2FuncDescriptor = descriptor("l2_dist", DistanceMetric.L2)
  def ipFuncDescriptor = descriptor("inner_product", DistanceMetric.InnerProduct)
  def cosFuncDescriptor = descriptor("cosine_similarity", DistanceMetric.Cosine)
}

/** A query vector of plain numerals, `ARRAY [0.5, -1, 2e-3]`, as one
  * `array<double>` literal. `graft.Engine.rewriteExprs` writes such an
  * ARRAY as `__graft_vector('<d>,<d>,...')` where it would otherwise write
  * `array(CAST(x AS DOUBLE), ...)`: Spark parses one string token instead
  * of a cast per element, and analysis and optimization see one literal,
  * so a statement's fixed cost does not grow with the vector's dimension.
  * Each value is the double the cast form gives, bit for bit. */
object QueryVector {
  /** the SQL name of the literal's builder */
  val Function = "__graft_vector"

  /** an optional sign, digits with an optional point, an optional exponent */
  private val Numeral = """[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?""".r

  /** `CAST(<text> AS DOUBLE)` as Spark parses and evaluates it, for a plain
    * numeral; None for any other text and for a numeral the parser rejects.
    * The literal is the one Spark's `AstBuilder` makes of the text: with an
    * exponent a double, range-checked against `Double.MinValue` and
    * `Double.MaxValue` as it does; with a point a decimal; otherwise an int,
    * a long or a decimal, the first that holds it. A decimal of more than 38
    * digits fails there and here. A leading `+` is a unary plus, which keeps
    * the value; a leading `-` is part of the literal. Spark's own `Cast` then
    * converts it, so no conversion rule is restated here. */
  def numeral(text: String): Option[Double] =
    if (!Numeral.matches(text) || SQLConf.get.exponentLiteralAsDecimalEnabled) None
    else Try {
      val t = text.stripPrefix("+")
      val lit =
        if (t.exists(c => c == 'e' || c == 'E')) {
          val v = BigDecimal(t)
          require(!(v < Double.MinValue || v > Double.MaxValue), s"$t out of range")
          Literal(t.toDouble)
        }
        else if (t.contains('.')) Literal(BigDecimal(t).underlying())
        else BigDecimal(t) match {
          case v if v.isValidInt => Literal(v.intValue)
          case v if v.isValidLong => Literal(v.longValue)
          case v => Literal(v.underlying())
        }
      Cast(lit, DoubleType).eval().asInstanceOf[Double]
    }.toOption

  /** The SQL call for `values`, each written as `java.lang.Double.toString`
    * gives it, which `parseDouble` reads back to the same bits. */
  def sql(values: Seq[Double]): String =
    values.map(java.lang.Double.toString).mkString(s"$Function('", ",", "')")

  /** The literal of one [[sql]] call: the value and type the cast form
    * folds to (a non-null array of non-null doubles). */
  def build(args: Seq[Expression]): Expression = args match {
    case Seq(Literal(s: UTF8String, _: StringType)) =>
      val values = s.toString.split(',').map(v => java.lang.Double.parseDouble(v): Any)
      Literal(new GenericArrayData(values), ArrayType(DoubleType, containsNull = false))
    case _ => throw new IllegalArgumentException(s"$Function takes one string of doubles")
  }
}
