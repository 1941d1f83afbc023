package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.Builtins

/** Façade reproducing the reference's API surface (SURVEY.md §3:
  * `ExoSQL.query/2`, `explain/2`, `parse`+`execute` split,
  * `format_result/1` — `lib/exosql.ex` [U]) on top of Spark SQL.
  *
  * The reference's "context" (database name → extractor) maps to the
  * Spark catalog: [[Catalog.registerParquetDb]] registers a namespace of
  * external parquet tables; DSv2 connectors in [[graft.sources]] cover
  * the extractor-style pluggable sources. Queries spanning several
  * namespaces work exactly like exosql's cross-extractor joins — except
  * planned and executed by Catalyst/Tungsten instead of a row-at-a-time
  * interpreter.
  *
  * A caller who hands `Engine` a session they built themselves should set
  * `spark.sql.codegen.cache.maxEntries` on their builder, as
  * [[graft.Tables.session]] does: at Spark's default of 100 the
  * compiled-class cache is smaller than graft's working set and repeated
  * statements recompile their generated code.
  */
class Engine(val spark: SparkSession) {
  Builtins.registerAll(spark)
  LlmSql.registerAll(spark)

  /** exosql `ExoSQL.query(sql, context)`: dialect shim ($vars,
    * DISTINCT ON) then Catalyst. Lazy — nothing executes until the
    * result is consumed. */
  def query(sql: String, vars: Map[String, Any] = Map.empty): DataFrame = {
    val rewritten = Dialect.rewrite(sql)
    if (vars.isEmpty) spark.sql(rewritten)
    else spark.sql(rewritten, vars)
  }

  /** exosql `ExoSQL.explain(sql, context)` — plan without executing.
    * mode: simple | extended | codegen | cost | formatted. */
  def explain(sql: String, mode: String = "formatted",
              vars: Map[String, Any] = Map.empty): String =
    query(sql, vars).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString(mode))

  /** exosql parse/execute split: rewrite once, run many times with
    * different variables. Only the dialect rewrite is done once: each
    * `run` re-parses, re-analyzes and re-optimizes the text. What runs
    * reuse is the compiled generated classes, held in the JVM-wide cache
    * that [[graft.Tables.session]] sizes. */
  def prepare(sql: String): Engine.Prepared = {
    val rewritten = Dialect.rewrite(sql)
    new Engine.Prepared(spark, rewritten)
  }

  /** exosql `format_result/1`: render a result as an aligned ASCII
    * table. Materializes at most `maxRows` + 1 rows. */
  def formatResult(df: DataFrame, maxRows: Int = 50): String = {
    val cols = df.columns
    val rows = df.limit(maxRows + 1).collect()
    val shown = rows.take(maxRows)
    val cells = shown.map(_.toSeq.map {
      case null => ""
      case a: Array[_] => a.mkString("[", ",", "]")
      // collection.Seq, not Seq: Spark hands array columns back as
      // mutable.ArraySeq, which is NOT an immutable (default) Seq in
      // Scala 2.13 — bare `Seq` silently fell through to toString
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => v.toString
    })
    val widths = cols.indices.map { i =>
      (cols(i).length +: cells.map(_(i).length)).max
    }
    def fmtRow(vals: Seq[String]): String =
      vals.zip(widths).map { case (v, w) => v.padTo(w, ' ') }.mkString(" | ")
    val sb = new StringBuilder
    sb ++= fmtRow(cols.toIndexedSeq) += '\n'
    sb ++= widths.map("-" * _).mkString("-+-") += '\n'
    cells.foreach(r => { sb ++= fmtRow(r) += '\n' })
    if (rows.length > maxRows) sb ++= s"... (truncated at $maxRows rows)\n"
    sb.toString
  }
}

object Engine {
  /** A rewritten statement, executable with per-run variables. */
  final class Prepared(spark: SparkSession, val rewrittenSql: String) {
    def run(vars: Map[String, Any] = Map.empty): DataFrame =
      if (vars.isEmpty) spark.sql(rewrittenSql)
      else spark.sql(rewrittenSql, vars)
  }
}

/** The reference's "context": database-name → table source mapping
  * (`lib/exosql.ex` [U]). Here: catalog namespaces of external (zero-copy)
  * parquet tables, so `SELECT ... FROM tpch.customer JOIN logs.events`
  * spans "databases" exactly like exosql's cross-extractor queries. */
object Catalog {
  /** Register every parquet table in `dir` under namespace `db`.
    * `events` gets a conversion view whose `ts` conversion comes from
    * [[graft.Tables.eventsRaw]]. */
  def registerParquetDb(spark: SparkSession, db: String, dir: String,
                        tables: Seq[String] = graft.Tables.all): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    tables.foreach {
      case "events" =>
        val (_, tsExpr) = graft.Tables.eventsRaw(spark, dir)
        spark.sql(s"""CREATE TABLE IF NOT EXISTS $db._events_raw
                      USING parquet LOCATION '$dir/events.parquet'""")
        spark.sql(s"""CREATE VIEW IF NOT EXISTS $db.events AS
                      SELECT event_id, $tsExpr AS ts,
                             user_id, event_type, value, props
                      FROM $db._events_raw""")
      case t =>
        spark.sql(s"""CREATE TABLE IF NOT EXISTS $db.$t
                      USING parquet LOCATION '$dir/$t.parquet'""")
    }
  }

  def dropDb(spark: SparkSession, db: String): Unit =
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
}
