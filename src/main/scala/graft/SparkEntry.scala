package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory of SURVEY.md §2, one entry per
  * operator row (keys carry the §2 row id). `oracleSql` holds the DuckDB
  * equivalent for the driver's hash-compare gate.
  */
object SparkEntry {

  /** Flagship query (TPC-H Q5 shape over the driver testdata): 6-way join +
    * aggregation + sort. Dimension tables broadcast; the lineitem⋈orders
    * join is the only shuffle pair at scale. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val customer = Tables.load(spark, d, "customer")
    val orders = Tables.load(spark, d, "orders")
    val lineitem = Tables.load(spark, d, "lineitem")
    val supplier = Tables.load(spark, d, "supplier")
    val nation = Tables.load(spark, d, "nation")
    val region = Tables.load(spark, d, "region")
    lineitem
      .join(orders, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(customer), $"o_custkey" === $"c_custkey")
      .join(broadcast(supplier),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(region.filter($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"revenue".desc)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    disjoint(CoreQueries.defs, FunctionQueries.defs, LlmQueries.defs,
      EngineQueries.defs, StoreTwins.defs, SourceQueries.defs,
      StreamQueries.defs, ExtraQueries.defs)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    disjoint(CoreQueries.oracle, FunctionQueries.oracle, LlmQueries.oracle,
      EngineQueries.oracle, StoreTwins.oracle, SourceQueries.oracle,
      StreamQueries.oracle, ExtraQueries.oracle)

  /** The union of the registries `parts`; a key stated in more than one
    * of them is refused, not shadowed. */
  private[graft] def disjoint[V](parts: Iterable[(String, V)]*): Map[String, V] = {
    val twice = parts.flatMap(_.map(_._1)).groupBy(identity)
      .collect { case (k, ks) if ks.size > 1 => k }
    require(twice.isEmpty,
      s"query keys stated twice: ${twice.toSeq.sorted.mkString(", ")}")
    parts.flatten.toMap
  }
}
