package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Materialization mode for diamond-DAG reuse frames.
  *
  * Several operators here build diamonds: a compact sketch frame
  * (signatures, per-doc hashes, bucket aggregates) feeds two or more
  * downstream joins. Column pruning specializes each branch, so
  * ReuseExchange never fires and the corpus-scale upstream chain would
  * execute once per branch (measured: 4 corpus scans per minhash run).
  * The fix is truncating lineage at the compact frame.
  *
  * HOW it is truncated is one rule, applied by [[Reuse.truncate]] and
  * decided by the deployment, not by the call: when the application
  * has a checkpoint dir (Spark's `spark.checkpoint.dir`, read when the
  * `SparkContext` starts, or `sc.setCheckpointDir`), the frame is
  * written as a reliable checkpoint under it — it survives executor
  * loss under dynamic allocation or preemption, at the cost of a cache
  * pass and a file write. Otherwise it takes a non-eager
  * `localCheckpoint` — executor-local blocks, zero extra jobs, right
  * for local and static-allocation runs; blocks die with their
  * executor. `Graph` makes the same choice with [[Reuse.reliable]].
  *
  * WHETHER a frame is truncated is the mode:
  *  - [[Reuse.Off]]: no truncation — branches recompute, predicate
  *    pushdown and column pruning flow through the operator boundary
  *    (pick when upstream is a cheap selective scan, or when a caller
  *    composes the operator under its own materialization).
  *  - [[Reuse.Local]]: [[Reuse.truncate]] now, unless the plan has a
  *    deferred leaf.
  *  - [[Reuse.LocalDeferred]]: [[Reuse.truncate]] behind a deferred
  *    leaf, at first execution.
  */
sealed trait Reuse {
  /** Apply this mode's lineage truncation to a reuse frame. */
  def apply(df: DataFrame): DataFrame
}

object Reuse {
  /** True iff the application has a checkpoint dir, so truncation
    * writes reliable checkpoints instead of executor-local blocks. */
  def reliable(spark: SparkSession): Boolean =
    spark.sparkContext.getCheckpointDir.isDefined

  /** The one lineage-truncation primitive: a non-eager checkpoint whose
    * plan becomes a LogicalRDD now and whose data is stored by the
    * frame's first action. On the reliable path the pre-checkpoint
    * persist keeps the checkpoint's file-write job reading fresh cache
    * instead of recomputing; the cache is reference-tracked
    * (ContextCleaner releases it on GC — a plan builder has no
    * post-action hook to release it deterministically the way Graph's
    * round loop does). */
  def truncate(df: DataFrame): DataFrame =
    if (reliable(df.sparkSession))
      df.persist(StorageLevel.MEMORY_AND_DISK).checkpoint(false)
    else df.localCheckpoint(false)

  /** True iff the frame's plan contains a [[org.apache.spark.sql.GraftDeferredScan]]
    * leaf. Checkpointing (even non-eager) calls `queryExecution.toRdd`,
    * i.e. PHYSICAL PLANNING AT CONSTRUCTION TIME — on a deferred leaf
    * that invokes the builder, which (a) breaks the deferred TVFs'
    * EXPLAIN-launches-no-job contract when the construction happens
    * during SQL analysis, and (b) can DEADLOCK: analysis holds the
    * SessionCatalog monitor while the builder's own Dataset analysis
    * (possibly on another thread via a memoized LazyRef) waits for that
    * same monitor. [[Local]] therefore degrades to no-op on such
    * plans — the deferred builder is memoized, so its expensive part
    * (the driver-side action) still runs once. */
  private def hasDeferredLeaf(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case _: org.apache.spark.sql.GraftDeferredScan => ()
    }.isDefined

  case object Off extends Reuse {
    def apply(df: DataFrame): DataFrame = df
  }

  case object Local extends Reuse {
    def apply(df: DataFrame): DataFrame =
      if (hasDeferredLeaf(df)) df else truncate(df)
  }

  /** SQL-façade variant of [[Local]]: the same [[truncate]],
    * constructed behind a [[org.apache.spark.sql.GraftDeferredScan]]
    * leaf so NOTHING materializes at plan-construction/analysis time.
    *
    * Why it exists: checkpointing grabs `queryExecution.toRdd`, and
    * under AQE that call materializes every upstream query stage — at
    * ANALYSIS time when the truncation runs inside a SQL TVF builder.
    * SQL temp views store PARSED plans (not analyzed ones), so every
    * downstream statement re-analyzes the whole view chain and
    * re-invokes the upstream TVF builders: in a TVF pipeline each
    * CREATE VIEW re-ran and re-checkpointed the entire upstream chain
    * (measured round 12: `e_sql_pipeline3` at 3× its Scala twin, 21
    * jobs vs 11, all fired during analysis — BASELINE.md). The
    * deferred leaf moves the single checkpoint to FIRST EXECUTION,
    * shared across plan-tree copies via the memoized thunk, so CREATE
    * VIEW / EXPLAIN / prepare launch no job at all.
    *
    * SHARING BOUNDARY: the memoized checkpoint is per BUILDER INVOCATION —
    * one statement's plan tree. SQL temp views store PARSED plans, so
    * each EXECUTED downstream statement re-invokes the TVF builder and
    * gets a fresh thunk: the upstream chain still recomputes (and
    * re-checkpoints) once per executed statement. What this mode
    * eliminates is the analysis-time work (CREATE VIEW / EXPLAIN /
    * prepare re-running the chain); cross-STATEMENT reuse is the
    * caller's job (materialize the view to a store and read it back).
    *
    * Unlike [[Local]] this does NOT degrade on deferred-leaf inputs:
    * with no analysis-time `toRdd`, the EXPLAIN-fires-jobs and
    * catalog-monitor-deadlock hazards that degradation guards against
    * cannot occur — the nested leaf simply builds (memoized) when the
    * outer checkpoint first materializes, at execution. */
  case object LocalDeferred extends Reuse {
    def apply(df: DataFrame): DataFrame =
      org.apache.spark.sql.GraftDeferred.frame(df.sparkSession, df.schema)(
        truncate(df))
  }
}
