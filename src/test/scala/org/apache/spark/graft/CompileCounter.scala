package org.apache.spark.graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Counts the classes Spark's code generator compiles while a block runs:
  * every compile (a miss in the generator's cache) records one
  * compilation time, and a cache hit records none. The count is the
  * whole JVM's, so run the block with no other Spark work in flight. */
object CompileCounter {
  def compiledBy[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }
}
