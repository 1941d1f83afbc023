package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (local[4] keeps test startup light). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Tables.session("graft-test", cpus = 4, partitions = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

/** t1 smoke (SURVEY.md §5): every declared operator runs on sf0.001. */
class SmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry flagship query returns rows") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length > 0)
    assert(rows.map(_.getAs[Double]("revenue")).forall(_ > 0))
  }

  test("every declared query has an oracle or is explicitly oracle-free") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // oracle-free queries are allowed (driver does rows-only check) but
    // must be deliberate — keep this list in sync when adding them.
    // llm_serving_latency reports wall-clock percentiles — the values
    // are nondeterministic by nature; schema + per-surface rows are
    // the checkable facts (rows-only driver check)
    val allowedOracleFree = Set("s3_metrics", "s4_env",
      "llm_serving_latency", "llm_latency_trend")
    assert(missing == allowedOracleFree, s"queries without oracle: $missing")
  }

  test("a query key stated in two registries is refused, not shadowed") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.disjoint(Map("k" -> 1, "a" -> 2), Seq("b" -> 3), Map("k" -> 4)))
    assert(e.getMessage.contains("stated twice: k"))
    assert(SparkEntry.disjoint(Map("a" -> 1), Seq("b" -> 2)) == Map("a" -> 1, "b" -> 2))
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"query $name executes on sf0.001") {
      val df = fn(spark, TestSpark.sf)
      assert(df.columns.nonEmpty)
      df.collect() // must not throw
    }
  }
}
