package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** The SQL executions a session has run, read from the session's SQL status
  * store — the only record of the plan a streaming micro-batch ran (the
  * query's own DataFrame reads the memoized sink). The store and the
  * listener bus are `private[sql]` / `private[spark]`, hence the shim. */
object ExecutionPlans {
  private def store(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore

  /** The largest execution id recorded so far (−1 when there is none). */
  def lastId(spark: SparkSession): Long = {
    spark.sparkContext.listenerBus.waitUntilEmpty()
    store(spark).executionsList().map(_.executionId).maxOption.getOrElse(-1L)
  }

  /** (id, description, physical plan) of every execution after `afterId`,
    * in id order, once every queued listener event has been delivered (an
    * adaptive plan's description is its final plan). */
  def after(spark: SparkSession, afterId: Long): Seq[(Long, String, String)] = {
    spark.sparkContext.listenerBus.waitUntilEmpty()
    store(spark).executionsList().filter(_.executionId > afterId)
      .sortBy(_.executionId)
      .map(e => (e.executionId, e.description, e.physicalPlanDescription))
  }
}
