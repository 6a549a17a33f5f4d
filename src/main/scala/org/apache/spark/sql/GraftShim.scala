package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Expression bridge. Spark 4 made these conversions
  * `private[sql]` (they live in `classic.ExpressionUtils`); a library
  * defining native Catalyst expressions needs exactly these two hooks, so
  * this shim re-exports them from inside the package. Public Spark API
  * only — no internal behavior is altered.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Release a checkpoint-produced frame (the `LogicalRDD` a
    * `localCheckpoint(true)` or `checkpoint(true)` returns): unpersist its
    * cached blocks and delete its reliable checkpoint files. Iterative
    * loops checkpoint per round; without this the superseded rounds'
    * blocks and files accumulate for the session's lifetime. Safe ONLY
    * once nothing will read the frame again — a locally-checkpointed RDD
    * has no recompute path, and a reliable one reads its files.
    */
  def releaseCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach { rdd =>
      if (rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
        rdd.unpersist(blocking = false)
      rdd.getCheckpointFile.foreach { file =>
        val path = new org.apache.hadoop.fs.Path(file)
        path.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(path, true)
      }
    }

  /** Block until every listener has processed every event posted so far
    * (the bus is asynchronous; a job's end event is posted before its
    * action returns, so after this a listener has seen the whole job).
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Post-hoc SQL function registration on a live session (the config-time
    * path is `spark.sql.extensions=graft.GraftExtensions`).
    */
  def registerFunction(
      spark: SparkSession, name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
