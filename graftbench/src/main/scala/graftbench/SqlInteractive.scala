package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.engine.{Catalog, Dialect, Engine}

/** exosql's own use: one client sends ad-hoc SQL over small federated
  * parquet data and collects each result through `Engine.query`. The
  * statements come from the generated stream (templates with seeded
  * parameters, a share of them repeating an earlier text exactly). The
  * first result of each distinct text is written out for the DuckDB check
  * that runs after the process ends; a repeat must equal the first run of
  * its text. */
final class SqlInteractive(spark: SparkSession, in: String, work: String) extends Workload {
  import SqlInteractive.Stmt

  private val stream: IndexedSeq[Stmt] =
    Json.read(s"$in/sql_stream.json").elements().asScala.map { n =>
      Stmt(n.get("sql").asText, Json.scalars(n.get("vars")), n.get("write").asBoolean,
        n.get("text_id").asLong, n.get("warmup").asBoolean)
    }.toIndexedSeq
  /** Statements in one cycle of the template order. */
  private val cycle = Json.read(s"$in/inputs.json").get("cycle").asInt
  private val engine = new Engine(spark)
  private val tables = s"$in/tables"

  private def register(savedDir: String): Unit = {
    Seq("tpch", "logs", "saved").foreach(Catalog.dropDb(spark, _))
    Catalog.registerParquetDb(spark, "tpch", tables,
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem"))
    Catalog.registerParquetDb(spark, "logs", tables, Seq("events"))
    engine.query("CREATE DATABASE saved")
    engine.query(s"""CREATE TABLE saved.results (qid BIGINT, k STRING, n BIGINT)
                     USING parquet LOCATION '$savedDir'""")
  }

  def prepare(round: Int): Unit = register(s"$work/saved-setup-$round")

  /** Run the stream's warm-up statements: its first cycle of the template order. */
  def warmUp(): Unit =
    stream.takeWhile(_.warmup).foreach(s => engine.query(s.sql, s.vars).collect())

  /** The timed statements: whole cycles of the stream's template order
    * after the warm-up, one per [[SqlInteractive.CycleSeconds]] of
    * `seconds`, so every run times the same number and mix. */
  def run(seconds: Double, trace: Trace): Outcome = {
    register(s"$work/saved")
    val warm = stream.count(_.warmup)
    val n = math.max(1, math.round(seconds / SqlInteractive.CycleSeconds).toInt) * cycle
    require(stream.length >= warm + n, s"the stream holds ${stream.length} statements, $n timed")
    // first results go to a file as they come, so the session's retained
    // memory at the end does not include them; a repeat is compared with
    // the hash of its text's first result
    val resultsPath = s"$work/sql_results.jsonl"
    val results = new java.io.PrintWriter(resultsPath)
    val firstRun = mutable.Map.empty[Long, Int]
    val executed = mutable.ArrayBuffer.empty[Long]
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    var failed, rowsOut = 0L
    val t0 = System.nanoTime()
    stream.slice(warm, warm + n).foreach { s =>
      // the dialect rewrite, timed on its own outside the op: Engine.query
      // runs it again inside
      val rewriteMs = if (trace.enabled) Trace.ms(Dialect.rewrite(s.sql)) else 0.0
      val (rows, rec0) = trace.op(if (s.write) "save" else "select") {
        val df = trace.span("engine.query")(engine.query(s.sql, s.vars))
        trace.span("exec.collect")(df.collect())
      }
      val rec = if (rec0.traced) rec0.copy(layer = rec0.layer + ("rewrite_ms" -> rewriteMs))
        else rec0
      ops += rec
      executed += s.textId
      if (rec.traced) rowsOut += rows.length
      val got = rows.toSeq.map(plain)
      val hash = got.map(_.mkString("\u0001")).sorted.##
      firstRun.get(s.textId) match {
        case None =>
          firstRun(s.textId) = hash
          results.println(Json.obj("text_id" -> s.textId, "rows" -> got))
        case Some(first) => if (first != hash) failed += 1
      }
    }
    results.close()
    val loopS = (System.nanoTime() - t0) / 1e9
    val traced = ops.filter(_.traced)
    val scanRows = traced.map(_.layer.getOrElse("scan_rows", 0.0)).sum
    Outcome(ops.toSeq, Set("select", "save"), ops.filter(_.kind == "save").map(_.wallMs).toSeq,
      ops.length / loopS,
      attempted = ops.length, failed = failed,
      layers = Map("sources.rows_per_result" ->
        (if (rowsOut > 0) scanRows / rowsOut else 0.0)),
      report = Map("executed" -> executed, "saved_dir" -> s"$work/saved",
        "results_file" -> resultsPath))
  }

  /** A result row as JSON-ready values: timestamps as ISO text. */
  private def plain(r: Row): Seq[Any] = r.toSeq.map {
    case t: java.sql.Timestamp => t.toLocalDateTime.toString
    case t: java.time.LocalDateTime => t.toString
    case t: java.time.Instant => t.toString
    case d: java.math.BigDecimal => d.doubleValue
    case v => v
  }
}

object SqlInteractive {
  /** About how long one warm cycle of the template order takes on a
    * 4-core host; it only converts `seconds` into a number of cycles. */
  val CycleSeconds = 6.0

  private final case class Stmt(sql: String, vars: Map[String, Any], write: Boolean,
                                textId: Long, warmup: Boolean)
}
