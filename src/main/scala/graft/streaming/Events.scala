package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming operators over the events schema (SURVEY.md §2.8 — absent
  * in the reference, a beyond-parity addition the driver mandates).
  *
  * Every transform here takes a plain DataFrame and works identically on
  * a batch frame or a `readStream` frame — Structured Streaming's
  * unification. Tests run each one both ways (file-stream → memory sink
  * vs. batch) and assert equality; the batch forms also sit in the
  * DuckDB oracle gate (`st_*` queries) since windowed aggregation
  * semantics are SQL-expressible.
  *
  * Scale posture: tumbling/sliding aggs are partial-aggregable keyed
  * state; watermarks bound state size; sessionization uses
  * `session_window` (mergeable state) rather than whole-stream sorts.
  */
object Events {

  /** File-based streaming read of the events table, with the read type
    * and the ts conversion of [[graft.Tables.eventsRaw]] — the same rule
    * as the batch `Tables.load`. */
  def readStream(spark: SparkSession, dir: String): DataFrame = {
    val (raw, ts) = graft.Tables.eventsRaw(spark, dir)
    spark.readStream
      .schema(raw.schema)
      // the file-stream source wants a directory; events.parquet is a
      // single file inside the sf dir, so glob-filter to it
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("ts", expr(ts))
  }

  /** Tumbling-window counts/sums per event type. */
  def tumbling(events: DataFrame, width: String = "1 hour"): DataFrame =
    events.groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("total"))

  /** Sliding-window event counts (each event lands in width/slide
    * windows). */
  def sliding(events: DataFrame, width: String = "2 hours",
              slide: String = "1 hour"): DataFrame =
    events.groupBy(window(col("ts"), width, slide))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))

  /** Session windows per user: gap-based sessionization. */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("first_ts"))
      .select(col("user_id"), col("session_window.start").as("s_start"),
        col("n_events"))

  /** Streaming dedup by event_id within the watermark horizon. */
  def dedup(events: DataFrame, late: String = "2 hours"): DataFrame =
    events.withWatermark("ts", late).dropDuplicates("event_id")

  /** Stream-stream interval join: each purchase paired with the same
    * user's clicks from the preceding `horizon`. Watermarks on BOTH
    * sides + the time-range predicate are what let Structured Streaming
    * bound the join state (clicks older than purchase-watermark −
    * horizon are dropped); identical code path works in batch. Returns
    * (p_event, user_id, p_ts, c_event) pairs. */
  def purchaseClickJoin(events: DataFrame, horizon: String = "1 hour",
                        late: String = "2 hours"): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", late)
    val c = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_event"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", late)
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $horizon"))
      .select(col("p_event"), col("user_id"), col("p_ts"), col("c_event"))
  }

  /** Static per-user dimension derived in batch: first-seen timestamp.
    * The static side of [[enrich]]. */
  def userDim(events: DataFrame): DataFrame =
    events.groupBy(col("user_id")).agg(min(col("ts")).as("first_seen"))

  /** Stream-static join — the standard dimension-enrichment shape: each
    * (possibly streaming) event is joined to a broadcast STATIC
    * dimension table. No streaming state is kept (the static side is
    * simply available to every micro-batch), which is why this scales
    * to any stream rate; identical code path works in batch. */
  def enrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("first_seen"))

  case class UserTotal(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state (mapGroupsWithState): running per-user totals —
    * the arbitrary-stateful-processing escape hatch (SURVEY §2.8). */
  def userRunningTotals(events: DataFrame): Dataset[UserTotal] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserTotal, UserTotal](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { r => n += 1; tot += r._2 }
          val next = UserTotal(uid, n, tot)
          state.update(next)
          next
      }
  }

  /** Run any events-transform as a stream into an in-memory table and
    * block until the file source is exhausted. Returns the sink name. */
  def runToMemory(spark: SparkSession, transformed: DataFrame, name: String,
                  outputMode: OutputMode = OutputMode.Complete()): String = {
    val q = transformed.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .start()
    q.processAllAvailable()
    q.stop()
    name
  }
}
