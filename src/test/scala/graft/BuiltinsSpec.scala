package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Builtins

/** Unit coverage for the exosql builtin surface (SURVEY.md §2.7),
  * including the SQL-registry names and the nondeterministic functions
  * that can't go through the DuckDB oracle. */
class BuiltinsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("exo_join joins like exosql's join: a null element as \"\", an empty list as \"\"") {
    val row = spark.sql("""SELECT array('a', NULL, 'b') AS xs,
                                  CAST(array() AS ARRAY<STRING>) AS empty,
                                  CAST(NULL AS ARRAY<STRING>) AS none""")
      .select(Builtins.exo_join(col("xs"), ","), Builtins.exo_join(col("empty"), ","),
        Builtins.exo_join(col("none"), ","))
      .head()
    assert(row.getString(0) == "a,,b")
    assert(row.getString(1) == "")
    assert(row.isNullAt(2))
  }

  test("urlparse part names mean the same under a tr-TR default locale") {
    Builtins.registerAll(spark)
    val url = "http://u@h.example:81/a/b.txt?x=1"
    val saved = java.util.Locale.getDefault
    try {
      // tr-TR upper-cases 'i' to dotted 'İ': "file" -> "FİLE"
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
      val row = spark.sql(
        s"SELECT urlparse('$url', 'file'), urlparse('$url', 'authority')").head()
      assert(row.getString(0) == "/a/b.txt?x=1")
      assert(row.getString(1) == "u@h.example:81")
      val api = spark.range(1).select(Builtins.urlparse(lit(url), "file"),
        Builtins.urlparse(lit(url), "authority")).head()
      assert(api.getString(0) == "/a/b.txt?x=1")
      assert(api.getString(1) == "u@h.example:81")
    } finally java.util.Locale.setDefault(saved)
  }

  test("SQL registry exposes exosql names") {
    Builtins.registerAll(spark)
    val row = spark.sql(
      """SELECT strftime(timestamp '2020-01-05 13:04:05', '%Y-%m-%dT%H:%M:%S %j %w %A') AS a,
                exo_substr('hello world', -5) AS b,
                exo_substr('hello world', 2, 3) AS c,
                jp('{"k": 87, "nested": {"x": 1}}', 'k') AS d,
                jp('{"nested": {"x": 1}}', '$.nested.x') AS e,
                to_number('3.5') AS f,
                to_number('nope') AS g,
                exo_trunc(-2.7) AS h,
                to_datetime(1577836800) AS i,
                exo_to_timestamp(timestamp '2020-01-01 00:00:00') AS j,
                urlparse('https://u@ex.com:8080/a/b?x=1&y=2#frag', 'host') AS k,
                element_at(urlparse('https://ex.com:8080/a/b?x=1#f'), 'port') AS l,
                element_at(regex_named('red widget', '(?<c>[a-z]+) (?<o>[a-z]+)'), 'o') AS m
      """).head()
    assert(row.getString(0) == "2020-01-05T13:04:05 005 0 Sunday")
    assert(row.getString(1) == "world")
    assert(row.getString(2) == "ell")
    assert(row.getString(3) == "87")
    assert(row.getString(4) == "1")
    assert(row.getDouble(5) == 3.5)
    assert(row.isNullAt(6))
    assert(row.getLong(7) == -2L)
    assert(row.getTimestamp(8).toInstant.getEpochSecond == 1577836800L)
    assert(row.getLong(9) == 1577836800L)
    assert(row.getString(10) == "ex.com")
    assert(row.getString(11) == "8080")
    assert(row.getString(12) == "widget")
  }

  test("Column-built registry functions execute from SQL text (regex/regex_all/randint)") {
    // regression: registry builders that assemble their expression with
    // the Column API must convert through the session ColumnNode
    // converter — the lazy wrapper from ExpressionUtils.expression
    // survives to codegen when injected via the function registry
    // ("Cannot generate code for expression: columnnodeexpression")
    Builtins.registerAll(spark)
    val r = spark.sql(
      """SELECT regex('abc123def', '[0-9]+') AS a,
                regex('red widget', '([a-z]+) ([a-z]+)', 2) AS b,
                regex_all('s1 x s2 y s3', '(s[0-9])') AS c,
                randint(5, 10) AS d""").head()
    assert(r.getString(0) == "123")
    assert(r.getString(1) == "widget")
    assert(r.getSeq[String](2) == Seq("s1", "s2", "s3"))
    val d = r.getLong(3)
    assert(d >= 5 && d < 10)
  }

  test("builtins refuse a wrong argument count by quoting their signature") {
    Builtins.registerAll(spark)
    for ((sql, sig) <- Seq(
      "SELECT strftime(timestamp '2020-01-01 00:00:00') AS s" -> "strftime(ts, fmt)",
      """SELECT json('{}', 1) AS j""" -> "json(text)")) {
      val e = intercept[Exception](spark.sql(sql).collect())
      val causes = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists {
        case i: IllegalArgumentException => i.getMessage.contains(s"expected $sig, got")
        case _ => false
      }, s"$sql -> ${causes.map(_.toString).mkString(" | ")}")
    }
  }

  test("to_number: exosql's permissive one-argument parse, Spark's two-argument format") {
    Builtins.registerAll(spark)
    val r = spark.sql(
      """SELECT to_number('3.5') AS a, to_number('nope') AS b,
                to_number('78.12', '99.99') AS c""")
    assert(r.schema("a").dataType == org.apache.spark.sql.types.DoubleType)
    assert(r.schema("c").dataType == org.apache.spark.sql.types.DecimalType(4, 2))
    val row = r.head()
    assert(row.getDouble(0) == 3.5)
    assert(row.isNullAt(1))
    assert(row.getDecimal(2) == new java.math.BigDecimal("78.12"))
  }

  test("strftime unknown verbs pass through literally; %% escapes") {
    Builtins.registerAll(spark)
    val r = spark.sql(
      "SELECT strftime(timestamp '2020-06-01 00:00:00', '100%% %Q done') AS s").head()
    assert(r.getString(0) == "100% %Q done")
  }

  test("nondeterministic builtins: now / random / randint bounds") {
    import spark.implicits._
    val df = spark.range(1000).select(
      current_timestamp().as("now"),
      rand().as("r"),
      Builtins.randint(lit(5), lit(10)).as("ri"))
    val rows = df.collect()
    assert(rows.forall { r =>
      val ri = r.getAs[Long]("ri"); ri >= 5 && ri < 10
    })
    assert(rows.map(_.getAs[Double]("r")).distinct.length > 900)
  }

  test("generate_series array form matches exosql inclusive semantics") {
    val r = spark.sql("SELECT sequence(1, 5) AS s, sequence(0, 10, 2) AS s2").head()
    assert(r.getSeq[Int](0) == Seq(1, 2, 3, 4, 5))
    assert(r.getSeq[Int](1) == Seq(0, 2, 4, 6, 8, 10))
  }

  test("to_datetime 2-arg strftime format + json builtin") {
    graft.functions.Builtins.registerAll(spark)
    val r = spark.sql(
      """SELECT to_datetime('05/03/2021 14:30:00', '%d/%m/%Y %H:%M:%S') AS a,
                CAST(variant_get(json('{"k": {"x": 42}}'), '$.k.x') AS INT) AS b""").head()
    assert(r.getTimestamp(0).toString == "2021-03-05 14:30:00.0")
    assert(r.getInt(1) == 42)
  }

  test("to_datetime permissive forms") {
    Builtins.registerAll(spark)
    val r = spark.sql(
      """SELECT to_datetime('2020-03-04 05:06:07') AS a,
                to_datetime('2020-03-04') AS b,
                to_datetime('garbage') AS c,
                to_datetime(1577836800.5) AS d""").head()
    assert(r.getTimestamp(0).toString == "2020-03-04 05:06:07.0")
    assert(r.getTimestamp(1).toString == "2020-03-04 00:00:00.0")
    assert(r.isNullAt(2))
    assert(r.getTimestamp(3).toInstant.toEpochMilli == 1577836800500L)
  }

  test("exo_substr edge cases match DuckDB substr semantics") {
    Builtins.registerAll(spark)
    val r = spark.sql(
      """SELECT exo_substr('hello', -10, 3) AS a, exo_substr('hello', 0) AS b,
                exo_substr('hello', 1, 0) AS c, exo_substr('hello', -3) AS d""").head()
    assert(r.getString(0) == "")
    assert(r.getString(1) == "hello")
    assert(r.getString(2) == "")
    assert(r.getString(3) == "llo")
  }

  test("levenshtein matches classic edit-distance cases") {
    val r = spark.sql(
      """SELECT levenshtein('kitten', 'sitting') AS a,
                levenshtein('', 'abc') AS b,
                levenshtein('same', 'same') AS c""").head()
    assert(r.getInt(0) == 3 && r.getInt(1) == 3 && r.getInt(2) == 0)
  }
}
