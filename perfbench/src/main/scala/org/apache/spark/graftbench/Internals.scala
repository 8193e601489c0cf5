package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.WholeStageCodegenExec

/** The few Spark internals the benchmark reads; they are package-private, so
  * the accessors live in Spark's package namespace. */
object Internals {
  /** Block until every queued listener event has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Cumulative whole-stage codegen time of this JVM, in nanoseconds. */
  def codegenNanos: Long = WholeStageCodegenExec.codeGenTime

  /** Number of Janino compilations this JVM has run (codegen cache misses). */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
