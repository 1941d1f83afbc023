package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog helper over the driver-generated parquet testdata
  * (TESTDATA.md / FIXTURES.md §A). The reference serves every table on
  * demand through an "extractor" (serverboards/exosql `lib/exosql.ex` [U],
  * see SURVEY.md §1.2); here the equivalent role is played by Spark's
  * parquet source — lazy, columnar, with predicate pushdown and column
  * pruning for free. Custom extractor-style connectors live in
  * [[graft.sources]].
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      val (raw, ts) = eventsRaw(spark, dir)
      raw.withColumn("ts", org.apache.spark.sql.functions.expr(ts))
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** `events.parquet` as read, with the SQL expression that turns its
    * `ts` into a session-UTC TimestampType column. The test data has
    * carried events.ts two ways across generations: TIMESTAMP(NANOS) (which
    * Spark's reader rejects — read nanos as long, floor to micros) and
    * plain µs TIMESTAMP (read as NTZ under inferTimestampNTZ). The read
    * type picks the conversion, so [[load]] and
    * [[graft.engine.Catalog.registerParquetDb]]'s view, and the DuckDB
    * oracle, see identical µs wall-clock values either way. */
  def eventsRaw(spark: SparkSession, dir: String): (DataFrame, String) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    (raw, if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      "timestamp_micros(ts div 1000)" else "CAST(ts AS TIMESTAMP)")
  }

  /** Last dir registered per session — registerAll is called from every
    * SQL-surface query builder, and each call re-reads ten parquet
    * footers on the driver (~0.7 s at sf0.1: measured as the constant
    * overhead every `e_*` bench key paid over its Scala twin). Weak keys
    * so dropped sessions can be collected. */
  private val registeredDirs =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** Register every testdata table as a temp view named after the table.
    * Idempotent per (session, dir): repeat calls are no-ops unless the
    * dir switched or a canonical view was dropped (cheap in-memory
    * catalog probes). A view REPLACED under a canonical name is not
    * detected — callers own those names. */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    if (dir == registeredDirs.get(spark) &&
        all.forall(n => spark.catalog.tableExists(n))) return
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
    registeredDirs.put(spark, dir)
  }

  /** Entries in Spark's JVM-wide cache of compiled generated classes.
    * Spark's default, 100, is smaller than graft's working set (one
    * 18-statement `sql_interactive` cycle compiles about 160 classes), so
    * its LRU evicted each class before its next use and repeated
    * statements recompiled. README "Sessions" has the sizing and the
    * heap cost. */
  val CodegenCacheEntries = 1000

  /** The one place graft builds a SparkSession. local[cpus] but every
    * choice (AQE, shuffle partitions, broadcast threshold) is the one
    * you'd make on a multi-executor cluster; partition counts come from
    * data size, not hardware assumptions. The codegen cache size is a
    * static conf that Spark reads once per JVM, when the code generator
    * is first used, so it can only go on the builder. */
  def session(appName: String,
              cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
              partitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .withExtensions(graft.sources.CsvCoercion.extensions)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
