package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.StructType

/** A leaf plan whose result is computed by a DRIVER-SIDE builder at
  * EXECUTION time — the escape hatch for operators that are inherently
  * iterative (connected components: one Spark action per round) but
  * must still be reachable from a lazily-analyzed SQL statement.
  *
  * Without this, a table-valued function wrapping an iterative operator
  * has to run its rounds while the OUTER statement is being analyzed:
  * `EXPLAIN` silently executes the most expensive job in the system,
  * and every re-analysis (prepare, view expansion, retry) re-runs it.
  * With it, analysis sees only a fixed-schema leaf; the builder fires
  * the first time a task actually needs rows.
  *
  * The schema is declared up front (it must be derivable without
  * running anything — e.g. "one column, the id's type"); the builder
  * must produce exactly that column layout. [[GraftDeferred.frame]]
  * memoizes the builder, so plan-tree copies (canonicalization, AQE
  * re-optimization) and repeated actions share one computation. */
case class GraftDeferredScan(output: Seq[Attribute], build: () => DataFrame)
    extends LeafNode
    with org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation {
  /** Conservative stats: never let the optimizer broadcast a side whose
    * size is unknowable before execution (cluster labels can be
    * corpus-scale). */
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = conf.defaultSizeInBytes)

  /** Self-join support: when one deferred leaf (a shared temp view, the
    * round-15 cross-statement reuse) appears on BOTH sides of a join,
    * DeduplicateRelations needs fresh attribute ids per occurrence —
    * exactly what LogicalRDD does. The memoized `build` thunk is shared
    * by every instance, so the underlying computation still runs once. */
  override def newInstance(): GraftDeferredScan =
    copy(output = output.map(_.newInstance()))
}

/** Physical counterpart: runs the builder's plan as a nested query
  * execution and hands its row RDD to the parent operator. */
case class GraftDeferredScanExec(output: Seq[Attribute], build: () => DataFrame)
    extends LeafExecNode {
  override protected def doExecute(): RDD[InternalRow] = {
    val df = build()
    val got = df.schema.map(_.dataType)
    val want = output.map(_.dataType)
    require(got == want,
      s"deferred builder produced schema $got, declared $want")
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd
  }
}

object GraftDeferredStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case d: GraftDeferredScan => GraftDeferredScanExec(d.output, d.build) :: Nil
    case _ => Nil
  }
}

object GraftDeferred {
  /** A DataFrame over a [[GraftDeferredScan]] whose builder runs at most
    * once, with the planning strategy installed on the session
    * (idempotent). */
  def frame(spark: SparkSession, schema: StructType)
           (build: => DataFrame): DataFrame = {
    lazy val built = build
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.experimental.synchronized {
      if (!cs.experimental.extraStrategies.contains(GraftDeferredStrategy))
        cs.experimental.extraStrategies =
          cs.experimental.extraStrategies :+ GraftDeferredStrategy
    }
    classic.Dataset.ofRows(cs, GraftDeferredScan(
      DataTypeUtils.toAttributes(schema), () => built))
  }
}
