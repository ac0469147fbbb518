package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, IntegerType}

/** argmin over a (small, broadcast-as-literal) centroid set — the
  * assignment step of IVFFlat k-means, as a codegen'd expression so the
  * whole assign pass stays inside whole-stage codegen.
  *
  * Tie-break: first centroid wins (strict `<`), matching the reference's
  * FindCentroid (`src/storage/index/ivfflat_index.cpp:45-57`). Both the
  * interpreted and the generated path call [[NearestCentroid.nearest]],
  * the one argmin kernel IVFFlat's training uses too.
  */
case class NearestCentroid(
    child: Expression,
    centroids: Array[Array[Double]],
    metric: DistanceMetric.Value)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"

  override protected def nullSafeEval(input: Any): Any =
    NearestCentroid.nearest(input.asInstanceOf[ArrayData].toDoubleArray(),
      centroids, metric.id)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    // MODULE$ call: no reliance on a static forwarder on the case class
    // (one is not emitted when a case-class member shadows the name).
    val cls = NearestCentroid.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $cls.nearest($a.toDoubleArray(), $cRef, ${metric.id});")
  }

  override protected def withNewChildInternal(c: Expression): NearestCentroid =
    copy(child = c)
}

object NearestCentroid {
  /** Shared by interpreted + generated code. metricId matches
    * DistanceMetric value ids (0=L2, 1=IP, 2=Cosine). L2 here skips the
    * sqrt — argmin is unaffected and it saves a transcendental per pair. */
  def distance(a: Array[Double], b: Array[Double], metricId: Int): Double =
    distanceAt(a, 0, a.length, b, 0, metricId)

  /** [[distance]] of `q(qo until qo + n)` to `b(bo until bo + n)` — the
    * form that reads a vector in place inside a flat store. */
  def distanceAt(q: Array[Double], qo: Int, n: Int,
      b: Array[Double], bo: Int, metricId: Int): Double =
    metricId match {
      case 0 =>
        var acc = 0.0; var i = 0
        while (i < n) { val d = q(qo + i) - b(bo + i); acc += d * d; i += 1 }
        acc
      case 1 =>
        var acc = 0.0; var i = 0
        while (i < n) { acc += q(qo + i) * b(bo + i); i += 1 }
        acc
      case _ =>
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < n) {
          val x = q(qo + i); val y = b(bo + i)
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
    }

  /** [[distanceAt]] from `q(qo until qo + n)` to four vectors at once,
    * written to `out(at until at + 4)`. Each of the four sums runs over
    * the elements in the same order as [[distanceAt]]'s, so every value
    * is bit-identical to it (the JVM neither reorders nor fuses
    * floating-point adds); the four independent sums only let the CPU
    * overlap their latencies and loads. */
  def distance4(q: Array[Double], qo: Int, n: Int,
      b0: Array[Double], o0: Int, b1: Array[Double], o1: Int,
      b2: Array[Double], o2: Int, b3: Array[Double], o3: Int,
      metricId: Int, out: Array[Double], at: Int): Unit =
    metricId match {
      case 0 =>
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0; var i = 0
        while (i < n) {
          val x = q(qo + i)
          val d0 = x - b0(o0 + i); val d1 = x - b1(o1 + i)
          val d2 = x - b2(o2 + i); val d3 = x - b3(o3 + i)
          s0 += d0 * d0; s1 += d1 * d1; s2 += d2 * d2; s3 += d3 * d3
          i += 1
        }
        out(at) = s0; out(at + 1) = s1; out(at + 2) = s2; out(at + 3) = s3
      case 1 =>
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0; var i = 0
        while (i < n) {
          val x = q(qo + i)
          s0 += x * b0(o0 + i); s1 += x * b1(o1 + i)
          s2 += x * b2(o2 + i); s3 += x * b3(o3 + i)
          i += 1
        }
        out(at) = s0; out(at + 1) = s1; out(at + 2) = s2; out(at + 3) = s3
      case _ =>
        // na is the same sum for all four: computed once, same bits
        var na = 0.0; var i = 0
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
        var n0 = 0.0; var n1 = 0.0; var n2 = 0.0; var n3 = 0.0
        while (i < n) {
          val x = q(qo + i)
          val y0 = b0(o0 + i); val y1 = b1(o1 + i)
          val y2 = b2(o2 + i); val y3 = b3(o3 + i)
          na += x * x
          s0 += x * y0; s1 += x * y1; s2 += x * y2; s3 += x * y3
          n0 += y0 * y0; n1 += y1 * y1; n2 += y2 * y2; n3 += y3 * y3
          i += 1
        }
        val qn = math.sqrt(na)
        out(at) = s0 / (qn * math.sqrt(n0))
        out(at + 1) = s1 / (qn * math.sqrt(n1))
        out(at + 2) = s2 / (qn * math.sqrt(n2))
        out(at + 3) = s3 / (qn * math.sqrt(n3))
    }

  /** Index of the centroid nearest `vec` — the first one on ties
    * (strict `<` in centroid order, so a NaN distance never wins and a
    * NaN at centroid 0 keeps 0), as FindCentroid does. Scores four
    * centroids per [[distance4]] pass; the comparisons then run one by
    * one in centroid order, so the answer is the one-at-a-time
    * argmin's. */
  def nearest(vec: Array[Double], centroids: Array[Array[Double]],
      metricId: Int): Int = {
    val n = vec.length
    val d = new Array[Double](4)
    var best = 0
    var bestD = 0.0
    var i = 0
    while (i < centroids.length) {
      val k = math.min(4, centroids.length - i)
      if (k == 4)
        distance4(vec, 0, n, centroids(i), 0, centroids(i + 1), 0,
          centroids(i + 2), 0, centroids(i + 3), 0, metricId, d, 0)
      else {
        var j = 0
        while (j < k) {
          d(j) = distanceAt(vec, 0, n, centroids(i + j), 0, metricId); j += 1
        }
      }
      var j = 0
      while (j < k) {
        if (i + j == 0 || d(j) < bestD) { best = i + j; bestD = d(j) }
        j += 1
      }
      i += 4
    }
    best
  }

  def column(vec: Column, centroids: Array[Array[Double]],
      metric: DistanceMetric.Value): Column =
    VectorDistanceApi.column(NearestCentroid(
      VectorDistanceApi.expression(vec.cast("array<double>")),
      centroids, metric))
}
