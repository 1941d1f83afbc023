package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/scan inventory — SURVEY.md §2.1 (S1 parquet is every other
  * query's scan; S2–S5 are the DSv2 extractor connectors; S6 is
  * generate_series in CoreQueries). The http-stub and range extractors
  * are deterministic, so the DSv2 read path itself sits in the oracle
  * gate; env/metrics are environment-dependent → rows-only. */
object SourceQueries {

  private def read(s: SparkSession, extractor: String, opts: (String, String)*) = {
    val r = s.read.format("graft-extractor").option("extractor", extractor)
    opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  /** Fixture dir for the CSV extractor gate (absolute so the query and
    * the driver's DuckDB oracle read the same files regardless of cwd). */
  private val csvFixtureDir = "/root/repo/src/test/resources/csv"
  private val jsonlFixtureDir = "/root/repo/src/test/resources/jsonl"

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_csv_coercion" -> ((s, _) => {
      import s.implicits._
      // exosql dynamic coercion (SURVEY §1.3): all-strings CSV column in
      // numeric comparison + arithmetic; 'oops'/'' parse to NULL and drop
      // out of the filter instead of raising (ANSI would throw here —
      // CsvCoercion flips the implicit casts to TRY for CSV columns)
      graft.sources.Csv.table(s, s"$csvFixtureDir/readings.csv")
        .filter($"value" > 0.0)
        .select($"sensor", $"value",
          ($"value" * 2.0).as("doubled"),
          ($"value" + 1.0).as("plus1"))
    }),
    "s8_jsonl" -> ((s, _) => {
      import s.implicits._
      graft.sources.Jsonl.table(s, s"$jsonlFixtureDir/docs.jsonl")
        .select($"doc_id", $"text", $"source",
          size($"tags").cast("int").as("n_tags"))
    }),
    "s2_http_qual" -> ((s, _) => {
      import s.implicits._
      read(s, "http", "url" -> "http://stub.local/api", "rows" -> "50")
        .filter($"id" === 7)
        .select($"id", $"requested_url", $"payload", $"score")
    }),
    "s2_http_full" -> ((s, _) => {
      import s.implicits._
      read(s, "http", "url" -> "http://stub.local/api", "rows" -> "50")
        .select($"id", $"requested_url", $"payload", $"score")
    }),
    "s3_metrics" -> ((s, _) => {
      import s.implicits._
      read(s, "metrics").select($"metric", ($"value" > 0).as("positive"))
    }),
    "s4_env" -> ((s, _) => {
      import s.implicits._
      read(s, "env").filter($"name" === "PATH").select($"name")
    }),
    "s5_range_pushdown" -> ((s, _) => {
      import s.implicits._
      read(s, "range", "start" -> "1", "end" -> "100000", "slices" -> "8")
        .filter($"id" > 99000 && $"id" < 99500)
        .select($"id", $"square")
    }),
    "s7_sink_roundtrip" -> ((s, d) => {
      import s.implicits._
      // the SINK path under the oracle (S7 was the one closable
      // untested-by-oracle component): write the corpus PARTITIONED BY
      // lang — the layout a training-data export actually uses — then
      // read the files back and aggregate; the oracle aggregates the
      // source table directly, so any write/read corruption (lost rows,
      // partition-column mangling, type drift) hash-mismatches
      val out = Stores.dir("documents_by_lang")
      graft.Tables.load(s, d, "documents")
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      s.read.parquet(out)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
          min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
    }),
    "s9_warc" -> ((s, d) => {
      import s.implicits._
      // the raw-crawl record round-trip: the corpus framed as WARC
      // records across 4 files (the distributed sink), read back
      // through the DSv2 "warc" extractor with a 64 KiB split size —
      // small enough that sf>=0.01 files split MID-RECORD, so the gate
      // exercises record-boundary resynchronization, not just parsing.
      // Header fields AND a payload checksum are oracle-compared, so a
      // duplicated, dropped, or mis-framed record hash-mismatches.
      val out = Stores.dir("warc_fixture")
      val docs = graft.Tables.load(s, d, "documents")
        .select($"doc_id",
          concat(lit("http://graft.local/doc/"), $"doc_id").as("uri"),
          $"text")
      graft.sources.Warc.write(docs, "doc_id", "uri", "text", out,
        nFiles = 4)
      read(s, "warc", "path" -> out, "splitBytes" -> "65536")
        .select($"record_id", $"warc_date", $"target_uri",
          $"content_length",
          graft.operators.Dedup.sharedHash($"payload").as("payload_hash"))
    }),
    "s9_warc_gz" -> ((s, d) => {
      import s.implicits._
      // the COMPRESSED crawl round-trip: same corpus, framed as ONE
      // GZIP MEMBER PER RECORD (`.warc.gz`, the actual Common-Crawl
      // layout) and read back through the same extractor with a
      // 16 KiB split — far below the compressed file size, so tasks
      // must resynchronize to gzip member boundaries (raw magic scan
      // + inflate-validate), not just inflate from offset 0. Oracle
      // identical to s9_warc: headers + payload checksum.
      val out = Stores.dir("warc_gz_fixture")
      val docs = graft.Tables.load(s, d, "documents")
        .select($"doc_id",
          concat(lit("http://graft.local/doc/"), $"doc_id").as("uri"),
          $"text")
      graft.sources.Warc.write(docs, "doc_id", "uri", "text", out,
        nFiles = 4, gzip = true)
      read(s, "warc", "path" -> out, "splitBytes" -> "16384")
        .select($"record_id", $"warc_date", $"target_uri",
          $"content_length",
          graft.operators.Dedup.sharedHash($"payload").as("payload_hash"))
    }),
    "s7_jsonl_roundtrip" -> ((s, d) => {
      import s.implicits._
      // the JSONL sink (the interchange format S8 reads): write the
      // corpus as newline-delimited JSON, read it back through the S8
      // reader path, aggregate INCLUDING a text checksum — JSON string
      // escaping round-trips or the hash mismatches the parquet-sourced
      // oracle
      val out = Stores.dir("documents_jsonl")
      graft.Tables.load(s, d, "documents")
        .select($"doc_id", $"lang", $"text")
        .write.mode("overwrite").json(out)
      s.read.json(out)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length($"text")).as("sum_chars"),
          // 32-bit hash: the sum stays far from Long overflow (the
          // 60-bit variant would overflow within 8 rows)
          sum(graft.operators.Dedup.sharedHash($"text")).as("text_sum"),
          min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
    })
  )

  def oracle: Map[String, String] = Map(
    "s1_csv_coercion" ->
      s"""SELECT sensor, value,
                 try_cast(value AS DOUBLE) * 2 AS doubled,
                 try_cast(value AS DOUBLE) + 1 AS plus1
          FROM read_csv('$csvFixtureDir/readings.csv',
                        header=true, all_varchar=true)
          WHERE try_cast(value AS DOUBLE) > 0""",
    "s8_jsonl" ->
      s"""SELECT doc_id, text, source, CAST(len(tags) AS INTEGER) AS n_tags
          FROM read_json('$jsonlFixtureDir/docs.jsonl',
                         format='newline_delimited')""",
    "s2_http_qual" ->
      """SELECT CAST(7 AS BIGINT) AS id,
                'http://stub.local/api?id=7' AS requested_url,
                'payload-7' AS payload, 3.5 AS score""",
    "s2_http_full" ->
      """SELECT v AS id, 'http://stub.local/api' AS requested_url,
                'payload-' || v AS payload, v * 0.5 AS score
         FROM generate_series(1, 50) t(v)""",
    "s5_range_pushdown" ->
      """SELECT v AS id, v * v AS square FROM generate_series(1, 100000) t(v)
         WHERE v > 99000 AND v < 99500""",
    "s7_sink_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM documents GROUP BY lang""",
    "s7_jsonl_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(length(text)) AS BIGINT) AS sum_chars,
                CAST(sum(CAST(('0x'||substr(md5(text),1,8)) AS BIGINT)) AS BIGINT) AS text_sum,
                min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM documents GROUP BY lang""",
    // the WARC round-trip must reproduce the source table: ids, the
    // fixed fixture date, URIs, byte lengths, payload checksums
    "s9_warc" ->
      """SELECT '<urn:graft:' || doc_id || '>' AS record_id,
                '2026-01-01T00:00:00Z' AS warc_date,
                'http://graft.local/doc/' || doc_id AS target_uri,
                CAST(strlen(text) AS BIGINT) AS content_length,
                CAST(('0x'||substr(md5(text),1,8)) AS BIGINT) AS payload_hash
         FROM documents""",
    // the gzip-member layout must reproduce the identical record set —
    // compression is framing, not content
    "s9_warc_gz" ->
      """SELECT '<urn:graft:' || doc_id || '>' AS record_id,
                '2026-01-01T00:00:00Z' AS warc_date,
                'http://graft.local/doc/' || doc_id AS target_uri,
                CAST(strlen(text) AS BIGINT) AS content_length,
                CAST(('0x'||substr(md5(text),1,8)) AS BIGINT) AS payload_hash
         FROM documents"""
    // s3_metrics / s4_env: environment-dependent — driver rows-only check
  )
}
