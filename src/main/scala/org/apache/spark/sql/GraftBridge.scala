package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark's private[sql] Column↔Expression converters (the
  * classic-mode ColumnNode API, Spark 4) plus the session's
  * TableFunctionRegistry. Standard extension-library pattern — keeps
  * all other graft code outside Spark's namespace. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** FULL ColumnNode→Expression conversion via the session converter.
    * [[expression]] merely wraps non-expression nodes in a lazy
    * `ColumnNodeExpression`, which the DataFrame API converts during its
    * own analysis — but an expression injected through the FUNCTION
    * REGISTRY bypasses that path and the wrapper survives to codegen
    * ("Cannot generate code for expression: columnnodeexpression").
    * Registry builders must convert eagerly with this. */
  def resolvedExpression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** Register a session-scoped table-valued function: `name(args...)`
    * becomes usable in FROM position of any spark.sql statement. The
    * builder runs at analysis time and returns the plan the call
    * resolves to — the Spark-native equivalent of injectTableFunction,
    * but attachable to an ALREADY-BUILT session (the Engine façade
    * wraps user sessions, it doesn't construct them). */
  def registerTableFunction(spark: SparkSession, name: String,
                            builder: Seq[Expression] => LogicalPlan): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.tableFunctionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** The analyzed-input logical plan of a DataFrame (for table-function
    * builders that assemble results with the DataFrame API). */
  def logicalPlan(df: Dataset[Row]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.logical

  /** Release the storage blocks behind a `localCheckpoint`ed frame.
    * `Dataset.unpersist` only clears CacheManager entries — a local
    * checkpoint's blocks are an RDD-LEVEL persist on the LogicalRDD's
    * backing RDD and stay resident until GC otherwise. Iterative
    * operators (Graph CC) rotate one checkpoint per round and must
    * release the previous round's blocks deterministically. */
  def unpersistCheckpoint(df: Dataset[Row]): Unit =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))

  /** The Hadoop configuration for the CURRENT context: the active
    * session's `sc.hadoopConfiguration` on the driver, or one rebuilt
    * from the executor's SparkConf (`spark.hadoop.*` + credentials
    * applied) via SparkHadoopUtil — never a bare `new Configuration()`,
    * which silently drops fs settings/credentials on any non-default
    * filesystem. */
  def hadoopConf(): org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(org.apache.spark.deploy.SparkHadoopUtil.get.conf)

  /** Block until the listener bus has delivered every queued event —
    * lets tests assert "this code launched no Spark job" without racing
    * the async status listeners. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
