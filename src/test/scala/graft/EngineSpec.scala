package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Catalog, Dialect, Engine}

/** Façade behavior: dialect rewrites, variables, prepare/run split,
  * format_result, explain, multi-database catalog (SURVEY.md §3). */
class EngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val engine = new Engine(spark)

  test("$var rewrite skips strings and quoted identifiers") {
    assert(Dialect.rewriteVars("SELECT $a, '$b', \"$c\" FROM t WHERE x > $min_v")
      == "SELECT :a, '$b', \"$c\" FROM t WHERE x > :min_v")
  }

  test("query with variables (exosql $var form)") {
    Tables.registerAll(spark, TestSpark.sf)
    val df = engine.query(
      "SELECT count(*) AS n FROM orders WHERE o_totalprice > $min_price",
      Map("min_price" -> 300000.0))
    val n = df.head().getLong(0)
    assert(n > 0)
    val all = engine.query("SELECT count(*) AS n FROM orders").head().getLong(0)
    assert(n < all)
  }

  test("DISTINCT ON rewrite matches manual window query") {
    Tables.registerAll(spark, TestSpark.sf)
    val via = engine.query(
      """SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey, c_acctbal
         FROM customer ORDER BY c_nationkey, c_acctbal DESC, c_custkey""")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val manual = spark.sql(
      """SELECT c_nationkey, c_custkey FROM (
           SELECT c_nationkey, c_custkey,
                  row_number() OVER (PARTITION BY c_nationkey
                                     ORDER BY c_acctbal DESC, c_custkey) rn
           FROM customer) WHERE rn = 1""")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(via == manual && via.size == 25)
  }

  test("DISTINCT ON with trailing LIMIT/OFFSET applies them after dedup") {
    Tables.registerAll(spark, TestSpark.sf)
    val rows = engine.query(
      """SELECT DISTINCT ON (c_nationkey) c_nationkey, c_acctbal
         FROM customer ORDER BY c_nationkey, c_acctbal DESC LIMIT 5""").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3, 4))
    val noOrder = engine.query(
      """SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey
         FROM customer LIMIT 3""").collect()
    assert(noOrder.length == 3)
  }

  test("bare-identifier LIMIT in a rewrite path is refused, not mangled") {
    // the rewriter cannot claim `LIMIT <name>` (indistinguishable from an
    // alias named limit) — DISTINCT ON / set-op statements using one get
    // a targeted error instead of mangled SQL (README SQL-surface notes)
    val e1 = intercept[IllegalArgumentException] {
      Dialect.rewriteDistinctOn(
        "SELECT DISTINCT ON (k) k, v FROM t ORDER BY k LIMIT cnt")
    }
    assert(e1.getMessage.contains("bare-identifier"))
    val e2 = intercept[IllegalArgumentException] {
      Dialect.rewriteDistinctOn(
        "SELECT DISTINCT ON (k) k AS id FROM t UNION ALL SELECT k FROM u LIMIT cnt OFFSET 2")
    }
    assert(e2.getMessage.contains("bare-identifier"))
    // aliases NAMED limit mid-statement keep working (operand position
    // is followed by FROM, not tail position)
    val ok = Dialect.rewriteDistinctOn(
      "SELECT DISTINCT ON (k) k, v AS limit FROM t ORDER BY k")
    assert(!ok.toUpperCase.contains("DISTINCT ON"))
  }

  test("graft_quantile_filter optional accuracy arg selects the GK estimator") {
    Tables.registerAll(spark, TestSpark.sf)
    import graft.operators.Sampling
    import org.apache.spark.sql.functions.col
    val viaSql = engine.query(
      "SELECT count(*) AS n FROM graft_quantile_filter('documents', 'n_chars', 0.25, 10000)")
      .head().getLong(0)
    val viaScala = Sampling.keepAboveQuantile(
      spark.table("documents"), col("n_chars"), 0.25, accuracy = Some(10000)).count()
    assert(viaSql == viaScala && viaSql > 0)
    // 3-arg form (exact estimator) still parses and keeps <= the corpus
    val exact = engine.query(
      "SELECT count(*) AS n FROM graft_quantile_filter('documents', 'n_chars', 0.25)")
      .head().getLong(0)
    assert(exact > 0 && exact <= spark.table("documents").count())
  }

  test("reuse-tail options reject typos instead of silently mapping to Off") {
    Tables.registerAll(spark, TestSpark.sf)
    def chain(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    // 'Local' is a typo for 'local' — it must error, not quietly disable
    // input truncation (three surfaces share the tail: line_dedup and
    // the two quantile filters)
    for (sql <- Seq(
      "SELECT count(*) AS n FROM graft_quantile_filter('documents', 'n_chars', 0.25, 0, 'Local')",
      "SELECT count(*) AS n FROM graft_quantile_filter_by('documents', 'lang', 'n_chars', 0.25, 0, 'truncate')",
      "SELECT count(*) AS n FROM graft_line_dedup('documents', 'doc_id', 'text', 3, 'LOCAL')")) {
      val e = intercept[Exception] { engine.query(sql).collect() }
      assert(chain(e).contains("unrecognized reuse option"), s"$sql -> ${chain(e)}")
    }
    // the documented lowercase forms (and the explicit 'off') still work
    val n1 = engine.query(
      "SELECT count(*) AS n FROM graft_quantile_filter('documents', 'n_chars', 0.25, 0, 'off')")
      .head().getLong(0)
    val n2 = engine.query(
      "SELECT count(*) AS n FROM graft_quantile_filter('documents', 'n_chars', 0.25, 0, 'local')")
      .head().getLong(0)
    assert(n1 == n2 && n1 > 0)
  }

  test("identifiers containing keyword substrings survive the rewrite") {
    Tables.registerAll(spark, TestSpark.sf)
    // 'valid_from'-style names must not be split as FROM/LIMIT keywords
    val r = engine.query(
      """SELECT DISTINCT ON (c_nationkey) c_nationkey AS key_from, c_custkey AS row_limit
         FROM customer ORDER BY c_nationkey, c_custkey LIMIT 3""").collect()
    assert(r.length == 3 && r.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    // $ inside a backtick-quoted identifier is untouched
    assert(graft.engine.Dialect.rewriteVars("SELECT `price$usd` FROM t")
      == "SELECT `price$usd` FROM t")
  }

  test("$var rewrite skips SQL comments") {
    assert(Dialect.rewriteVars("SELECT $a -- not $b\nFROM t /* nor $c */ WHERE x > $d")
      == "SELECT :a -- not $b\nFROM t /* nor $c */ WHERE x > :d")
  }

  test("DISTINCT ON keys may contain parens/keywords inside string literals") {
    val out = Dialect.rewriteDistinctOn(
      "SELECT DISTINCT ON (split_part(c, '(', 1)) c, v FROM t")
    assert(out.contains("PARTITION BY split_part(c, '(', 1)"))
    // a ')' inside a string in the tail must not break FROM detection
    val out2 = Dialect.rewriteDistinctOn(
      "SELECT DISTINCT ON (k) k, ')' AS paren FROM t ORDER BY k")
    assert(out2.contains("PARTITION BY k") && out2.contains("')' AS paren"))
  }

  test("DISTINCT ON in CTE bodies and subqueries is rewritten in place") {
    val cte = Dialect.rewriteDistinctOn(
      "WITH x AS (SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v) SELECT * FROM x")
    assert(cte.startsWith("WITH x AS ("))
    assert(cte.contains("PARTITION BY k") && cte.endsWith("SELECT * FROM x"))
    assert(!cte.toUpperCase.contains("DISTINCT ON"))
    // both levels of a nested DISTINCT ON get their own window rewrite
    val both = Dialect.rewriteDistinctOn(
      "SELECT DISTINCT ON (k) k FROM (SELECT DISTINCT ON (j) j AS k FROM t)")
    assert("PARTITION BY".r.findAllIn(both).size == 2)
    assert(both.contains("PARTITION BY k") && both.contains("PARTITION BY j"))
    assert(!both.toUpperCase.contains("DISTINCT ON"))
    // a scalar-subquery DISTINCT ON inside a WHERE clause
    val where = Dialect.rewriteDistinctOn(
      "SELECT a FROM t WHERE b IN (SELECT DISTINCT ON (k) k FROM u)")
    assert(where.startsWith("SELECT a FROM t WHERE b IN (") &&
      where.contains("PARTITION BY k"))
    // ...but the phrase inside a string literal is NOT a DISTINCT ON
    val ok = Dialect.rewriteDistinctOn(
      "SELECT 'use DISTINCT ON (k) here' AS hint FROM t")
    assert(ok.contains("hint"))
  }

  test("nested DISTINCT ON executes correctly end to end") {
    Tables.registerAll(spark, TestSpark.sf)
    val via = engine.query(
      """WITH top_cust AS (
           SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey, c_acctbal
           FROM customer ORDER BY c_nationkey, c_acctbal DESC, c_custkey)
         SELECT c_nationkey, c_custkey FROM top_cust""")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val manual = spark.sql(
      """SELECT c_nationkey, c_custkey FROM (
           SELECT c_nationkey, c_custkey,
                  row_number() OVER (PARTITION BY c_nationkey
                                     ORDER BY c_acctbal DESC, c_custkey) rn
           FROM customer) WHERE rn = 1""")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(via == manual && via.size == 25)
  }

  test("QUALIFY rewrites to a window-filter subquery at any depth") {
    // top level, trailing ORDER BY/LIMIT stay outside the subquery
    val top = Dialect.rewriteQualify(
      "SELECT k, row_number() OVER (ORDER BY v) AS rn FROM t QUALIFY rn = 1 ORDER BY k LIMIT 5")
    assert(top.contains("(rn = 1) AS __graft_q"))
    assert(top.contains("WHERE __graft_q ORDER BY k LIMIT 5"))
    // inside a CTE body
    val cte = Dialect.rewriteQualify(
      "WITH x AS (SELECT k, v FROM t QUALIFY max(v) OVER (PARTITION BY k) = v) SELECT * FROM x")
    assert(cte.startsWith("WITH x AS (") && cte.endsWith("SELECT * FROM x"))
    assert(cte.contains("__graft_q"))
    // set-op arm: parenthesized and rewritten in place (round 4 —
    // previously refused); QUALIFY inside a string untouched
    val arm = Dialect.rewriteQualify(
      "SELECT k FROM t QUALIFY rn = 1 UNION ALL SELECT k FROM u")
    assert(arm.contains("__graft_q") && arm.contains("UNION ALL (SELECT k FROM u)"))
    assert(Dialect.rewriteQualify("SELECT 'QUALIFY rn' AS s FROM t")
      == "SELECT 'QUALIFY rn' AS s FROM t")
  }

  test("QUALIFY executes end to end and matches the window form") {
    Tables.registerAll(spark, TestSpark.sf)
    val via = engine.query(
      """SELECT c_nationkey, c_custkey,
                row_number() OVER (PARTITION BY c_nationkey
                                   ORDER BY c_acctbal DESC, c_custkey) AS rn
         FROM customer QUALIFY rn <= 2""")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    val manual = spark.sql(
      """SELECT c_nationkey, c_custkey, rn FROM (
           SELECT c_nationkey, c_custkey,
                  row_number() OVER (PARTITION BY c_nationkey
                                     ORDER BY c_acctbal DESC, c_custkey) rn
           FROM customer) WHERE rn <= 2""")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    assert(via == manual && via.size == 50)
  }

  test("DISTINCT ON in a set-operation arm rewrites within the arm") {
    // first arm, unparenthesized: the arm carries no ORDER BY (grammar
    // reserves a top-level one for the statement), so the window order
    // falls back to the keys — PostgreSQL's contract
    val r1 = Dialect.rewriteDistinctOn(
      "SELECT DISTINCT ON (k) k, v FROM t UNION ALL SELECT k, v FROM u")
    assert(r1.contains("PARTITION BY k ORDER BY k"))
    assert(r1.contains("UNION ALL (SELECT k, v FROM u)"))
    // LATER arm with a statement-level ORDER BY: the union-level ORDER
    // BY v must NOT be hijacked as the dedup order, and must survive
    // outside the arms
    val r2 = Dialect.rewriteDistinctOn(
      "SELECT k, v FROM t UNION ALL SELECT DISTINCT ON (k) k, v FROM u ORDER BY v")
    assert(r2.contains("PARTITION BY k ORDER BY k"))
    assert(r2.trim.endsWith("ORDER BY v"))
    assert(r2.contains("(SELECT k, v FROM t) UNION ALL"))
    // parenthesized arm keeps its own arm-level ORDER BY as dedup order
    val r3 = Dialect.rewriteDistinctOn(
      "(SELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v DESC) UNION (SELECT k, v FROM u)")
    assert(r3.contains("PARTITION BY k ORDER BY k, v DESC"))
    assert(r3.contains("UNION (SELECT k, v FROM u)"))
    // a WITH prefix scopes over every arm and must stay outside
    val r4 = Dialect.rewriteDistinctOn(
      "WITH c AS (SELECT 1 AS k, 2 AS v) SELECT DISTINCT ON (k) k, v FROM c UNION SELECT k, v FROM c")
    assert(r4.startsWith("WITH c AS (SELECT 1 AS k, 2 AS v) ("))
    assert(r4.contains("UNION (SELECT k, v FROM c)"))
    // a set-op arm nested inside a CTE body rewrites within the body
    val r6 = Dialect.rewriteDistinctOn(
      """WITH u AS (SELECT DISTINCT ON (k) k, v FROM t UNION ALL SELECT k, v FROM w)
         SELECT * FROM u""")
    assert(r6.contains("PARTITION BY k ORDER BY k"))
    assert(r6.contains("UNION ALL (SELECT k, v FROM w)"))
    assert(r6.trim.endsWith("SELECT * FROM u"))
    // a `* EXCEPT (cols)` projection must not mask the LATER genuine
    // set operator (setOpOccurrences scans every occurrence)
    val r5 = Dialect.rewriteDistinctOn(
      "SELECT DISTINCT ON (k) * EXCEPT (v) FROM t EXCEPT SELECT k FROM u")
    assert(r5.contains("EXCEPT (SELECT k FROM u)"))
    assert(r5.contains("PARTITION BY k"))
    // and with no set op at all it is still not treated as one
    val ok = Dialect.rewriteDistinctOn(
      "SELECT DISTINCT ON (k) * EXCEPT (v) FROM t ORDER BY k")
    assert(ok.contains("PARTITION BY k"))
    assert(!ok.contains("(SELECT DISTINCT"))
  }

  test("QUALIFY in a set-operation arm rewrites within the arm") {
    // the arm's predicate must not swallow the UNION text after it
    val r1 = Dialect.rewriteQualify(
      "SELECT k, row_number() OVER (ORDER BY v) AS rn FROM t QUALIFY rn = 1 UNION ALL SELECT k, 1 FROM u")
    assert(r1.contains("__graft_q"))
    assert(r1.contains("UNION ALL (SELECT k, 1 FROM u)"))
    assert(!r1.contains("__graft_q UNION"))
    // later arm + statement tail
    val r2 = Dialect.rewriteQualify(
      "SELECT k, 1 AS rn FROM u UNION SELECT k, row_number() OVER (ORDER BY v) AS rn FROM t QUALIFY rn = 1 ORDER BY k LIMIT 5")
    assert(r2.contains("(SELECT k, 1 AS rn FROM u) UNION"))
    assert(r2.trim.endsWith("ORDER BY k LIMIT 5"))
  }

  test("QUALIFY clause position: after string literals and parenthesized predicates") {
    // a string literal completes a token — QUALIFY after it is a clause
    val r1 = Dialect.rewriteQualify(
      "SELECT k FROM t WHERE c = 'x' QUALIFY row_number() OVER (ORDER BY v) = 1")
    assert(r1.contains("__graft_q"), r1)
    // a parenthesized predicate is a valid predicate start
    val r2 = Dialect.rewriteQualify(
      "SELECT k, row_number() OVER (ORDER BY v) AS rn FROM t QUALIFY (rn = 1)")
    assert(r2.contains("__graft_q"), r2)
    // QUALIFY directly after a FROM-subquery's ')' is a clause (the
    // formerly-documented false negative)
    val r3 = Dialect.rewriteQualify(
      "SELECT x FROM (SELECT 1 AS x FROM t) QUALIFY row_number() OVER (ORDER BY x) = 1")
    assert(r3.contains("__graft_q"), r3)
    // ...but an implicit alias after ')' is NOT (alias is followed by
    // ',' / FROM / end, never a predicate)
    for (sql <- Seq(
      "SELECT f(x) qualify FROM t",
      "SELECT f(x) qualify, y FROM t",
      "SELECT f(x) qualify",
      "SELECT 'lit', qualify FROM t",
      "SELECT a FROM t WHERE qualify = 'x'"))
      assert(Dialect.rewriteQualify(sql) == sql, s"mangled: $sql")
  }

  test("identifier uses of 'qualify' are never rewritten") {
    for (sql <- Seq(
      "SELECT a AS qualify FROM t",
      "SELECT qualify FROM t",
      "SELECT a FROM t WHERE qualify = 1",
      "SELECT a FROM t JOIN qualify ON t.id = qualify.id",
      "SELECT a, qualify FROM t GROUP BY qualify",
      "SELECT sum(qualify) FROM t"))
      assert(Dialect.rewriteQualify(sql) == sql, s"mangled: $sql")
    // clause position still fires after WHERE/GROUP BY tails
    val ok = Dialect.rewriteQualify(
      "SELECT k FROM t WHERE v > 5 QUALIFY row_number() OVER (ORDER BY v) = 1")
    assert(ok.contains("__graft_q"))
  }

  test("scanners respect backslash escapes and nested comments") {
    // backslash-escaped quote inside a literal must not desync the lexer
    assert(Dialect.rewriteVars("SELECT 'it\\'s $a' AS c, $b FROM t")
      == "SELECT 'it\\'s $a' AS c, :b FROM t")
    // Spark supports nested bracketed comments
    assert(Dialect.rewriteVars("/* o /* i */ still comment $a */ SELECT $b")
      == "/* o /* i */ still comment $a */ SELECT :b")
    // the phrase in a backslash-escaped literal is not a DISTINCT ON
    val ok = Dialect.rewriteDistinctOn(
      "SELECT DISTINCT ON (k) k, 'don\\'t use DISTINCT ON (j)' AS hint FROM t")
    assert(ok.contains("PARTITION BY k") && ok.contains("hint"))
  }

  test("double-quoted string literals respect backslash escapes") {
    // Spark's default lexer: "..." is a string literal with \" escapes
    assert(Dialect.rewriteVars("SELECT \"don\\\"t touch $x\" AS c, $y FROM t")
      == "SELECT \"don\\\"t touch $x\" AS c, :y FROM t")
  }

  test("hints between SELECT and DISTINCT ON are refused, not dropped") {
    val e = intercept[IllegalArgumentException] {
      Dialect.rewriteDistinctOn(
        "SELECT /*+ REPARTITION(64) */ DISTINCT ON (k) k, v FROM t")
    }
    assert(e.getMessage.contains("hint"))
  }

  test("leading comments don't block a top-level DISTINCT ON") {
    val out = Dialect.rewriteDistinctOn(
      "-- dedupe per key\nSELECT DISTINCT ON (k) k, v FROM t ORDER BY k, v")
    assert(out.contains("PARTITION BY k"))
    val out2 = Dialect.rewriteDistinctOn(
      "/* block */ SELECT DISTINCT ON (k) k, v FROM t")
    assert(out2.contains("PARTITION BY k"))
  }

  test("a literal that grows when upper-cased does not hide DISTINCT ON's FROM") {
    // 'ß' upper-cases to "SS": keyword offsets taken from an upper-cased
    // copy of the statement drift past the real FROM
    Tables.registerAll(spark, TestSpark.sf)
    val sql = """SELECT DISTINCT ON (c_nationkey) c_nationkey, 'straße' AS x
                 FROM customer ORDER BY c_nationkey"""
    val out = Dialect.rewrite(sql)
    assert(out.contains("PARTITION BY c_nationkey ORDER BY c_nationkey"), out)
    val rows = engine.query(sql).collect()
    assert(rows.length == 25 && rows.forall(_.getString(1) == "straße"))
  }

  test("a literal that grows when upper-cased does not hide QUALIFY") {
    Tables.registerAll(spark, TestSpark.sf)
    val sql = """SELECT c_nationkey, 'straße' AS x,
                   row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn
                 FROM customer QUALIFY rn = 1"""
    assert(Dialect.rewrite(sql).contains("(rn = 1) AS __graft_q"))
    assert(engine.query(sql).count() == 25)
  }

  test("lower-case keywords are matched under any default locale") {
    // tr-TR upper-cases 'i' to 'İ', so "distinct" never equalled DISTINCT
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
    try {
      val d = Dialect.rewrite("select distinct on (k) k, v from t order by k limit 3")
      assert(d.contains("PARTITION BY k ORDER BY k") && d.endsWith("ORDER BY k limit 3"), d)
      val q = Dialect.rewrite(
        "select k, row_number() over (order by v) as rn from t qualify rn = 1 order by k")
      assert(q.contains("(rn = 1) AS __graft_q") && q.endsWith("WHERE __graft_q order by k"), q)
    } finally java.util.Locale.setDefault(saved)
  }

  test("a comment may sit between DISTINCT and ON") {
    for (sql <- Seq(
      "SELECT DISTINCT /* c */ ON (k) k, v FROM t ORDER BY k",
      "SELECT DISTINCT -- c\nON (k) k, v FROM t ORDER BY k")) {
      val out = Dialect.rewriteDistinctOn(sql)
      assert(out.startsWith("SELECT k, v FROM (") &&
        out.contains("PARTITION BY k ORDER BY k"), out)
    }
  }

  test("prepare once, run with different vars") {
    Tables.registerAll(spark, TestSpark.sf)
    val p = engine.prepare("SELECT count(*) AS n FROM orders WHERE o_orderstatus = $st")
    val f = p.run(Map("st" -> "F")).head().getLong(0)
    val o = p.run(Map("st" -> "O")).head().getLong(0)
    assert(f > 0 && o > 0 && f != o)
  }

  test("a repeated pass over literal-distinct statements compiles no class") {
    // Spark's JVM-wide compiled-class cache holds 100 entries by default:
    // a working set past that thrashes its LRU and every repeat
    // recompiles. Tables.session sizes the cache for graft's working set.
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val texts = (1 to 60).map(i =>
      s"SELECT id % ${i + 1} AS k, sum(id * $i) FROM range(64) WHERE id > $i GROUP BY 1")
    def compiles(): Long = {
      val before = METRIC_COMPILATION_TIME.getCount
      texts.foreach(t => engine.query(t).collect())
      METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compiles()
    assert(first > 100, s"the statements must outgrow Spark's default cache: $first")
    assert(compiles() == 0)
  }

  test("format_result renders an aligned ascii table") {
    Tables.registerAll(spark, TestSpark.sf)
    val s = engine.formatResult(
      engine.query("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"))
    assert(s.linesIterator.next().matches("r_regionkey \\| r_name\\s*"))
    assert(s.contains("MIDDLE EAST"))
    val truncated = engine.formatResult(
      engine.query("SELECT * FROM orders"), maxRows = 3)
    assert(truncated.contains("truncated at 3 rows"))
    assert(truncated.linesIterator.size == 6) // header + sep + 3 rows + note
  }

  test("explain returns a plan without executing") {
    Tables.registerAll(spark, TestSpark.sf)
    val plan = engine.explain(
      "SELECT l_orderkey FROM lineitem WHERE l_quantity > 49", mode = "formatted")
    assert(plan.contains("Scan parquet"))
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(l_quantity"))
  }

  test("multi-database catalog: cross-namespace join (exosql federation shape)") {
    Catalog.registerParquetDb(spark, "dba", TestSpark.sf, Seq("customer", "nation"))
    Catalog.registerParquetDb(spark, "dbb", TestSpark.sf, Seq("orders"))
    try {
      val df = engine.query(
        """SELECT n.n_name, count(*) AS n_orders
           FROM dba.customer c
           JOIN dbb.orders o ON c.c_custkey = o.o_custkey
           JOIN dba.nation n ON c.c_nationkey = n.n_nationkey
           GROUP BY n.n_name""")
      assert(df.count() == 25)
    } finally {
      Catalog.dropDb(spark, "dba"); Catalog.dropDb(spark, "dbb")
    }
  }

  test("events conversion view in catalog namespace") {
    Catalog.registerParquetDb(spark, "dbe", TestSpark.sf, Seq("events"))
    try {
      val df = engine.query("SELECT count(*) AS n FROM dbe.events WHERE year(ts) = 2024")
      assert(df.head().getLong(0) > 0)
    } finally Catalog.dropDb(spark, "dbe")
  }

  test("set-op tail split matches ORDER<newline>BY and ignores limit/offset aliases") {
    Tables.registerAll(spark, TestSpark.sf)
    // legal SQL puts ANY whitespace between ORDER and BY — the
    // statement-level ordering must stay OUTSIDE the arm parens (a
    // single-space literal match used to absorb it into the last arm)
    val nl = engine.query(
      """SELECT DISTINCT ON (c_custkey) c_custkey AS id, c_acctbal AS val
         FROM customer WHERE c_nationkey < 3
         UNION ALL
         SELECT o_custkey AS id, o_totalprice AS val FROM orders
         WHERE o_orderkey < 50
         ORDER
         BY id, val""").collect()
    val sp = engine.query(
      """SELECT DISTINCT ON (c_custkey) c_custkey AS id, c_acctbal AS val
         FROM customer WHERE c_nationkey < 3
         UNION ALL
         SELECT o_custkey AS id, o_totalprice AS val FROM orders
         WHERE o_orderkey < 50
         ORDER BY id, val""").collect()
    assert(nl.nonEmpty && nl.toSeq == sp.toSeq,
      "ORDER\\nBY must split identically to ORDER BY")
    // a last-arm implicit alias named `offset` is NOT the statement
    // tail (it is followed by FROM, not an operand) — the old bare
    // token match cut the arm mid-select-list into mangled SQL
    val r = Dialect.rewrite(
      """SELECT DISTINCT ON (c_custkey) c_custkey AS id, c_acctbal AS v
         FROM customer
         UNION ALL
         SELECT o_custkey AS id, o_totalprice offset FROM orders""")
    assert(r.replaceAll("\\s+", " ").contains("o_totalprice offset FROM orders)"),
      s"alias named offset must stay inside its arm: $r")
  }

  test("LIMIT with expression operands is the statement tail; aliases are not") {
    Tables.registerAll(spark, TestSpark.sf)
    // parenthesized operand: the LIMIT must be peeled off and applied
    // AFTER dedup (outside the rewritten window subquery)
    val r = Dialect.rewrite(
      """SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey, c_acctbal
         FROM customer ORDER BY c_nationkey, c_acctbal DESC, c_custkey LIMIT (5)""")
    assert(r.trim.endsWith("LIMIT (5)"), s"limit must stay outside the window form: $r")
    assert(engine.query(
      """SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey, c_acctbal
         FROM customer ORDER BY c_nationkey, c_acctbal DESC, c_custkey LIMIT (5)""")
      .count() == 5)
    // function-call operand detected too
    val fr = Dialect.rewrite(
      """SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey
         FROM customer ORDER BY c_nationkey, c_custkey LIMIT least(3, 7)""")
    assert(fr.trim.endsWith("LIMIT least(3, 7)"))
    // an alias named limit followed by FROM (subquery) is NOT a tail —
    // FROM-then-paren must not read as a function call
    val ar = Dialect.rewrite(
      "SELECT DISTINCT ON (a) a, b limit FROM (SELECT 1 AS a, 2 AS b) t ORDER BY a, b")
    val arn = ar.replaceAll("\\s+", " ")
    assert(arn.contains("SELECT a, b limit FROM ("),
      s"alias named limit must stay in the outer select list: $ar")
    assert(arn.endsWith("ORDER BY a, b"),
      s"no spurious LIMIT tail may be peeled: $ar")
  }

  test("subquery alias 'qualify' before table-context keywords is not a clause") {
    Tables.registerAll(spark, TestSpark.sf)
    // NATURAL JOIN after an alias named qualify: alias reading, no
    // rewrite; the statement must execute as written
    val sql =
      """SELECT qualify.r_regionkey, t.r_name
         FROM (SELECT r_regionkey FROM region) qualify
         NATURAL JOIN (SELECT r_regionkey, r_name FROM region) t"""
    assert(Dialect.rewrite(sql) == sql)
    assert(engine.query(sql).count() == 5)
    // TABLESAMPLE after the alias: rewrite must not fire — the user
    // gets Spark's own parse error at the right position instead of
    // mangled spliced SQL (Spark's grammar wants TABLESAMPLE before the
    // alias, so this is rewrite-contract-only)
    val ts =
      """SELECT qualify.r_regionkey
         FROM (SELECT r_regionkey FROM region) qualify TABLESAMPLE (100 PERCENT)"""
    assert(Dialect.rewrite(ts) == ts)
    // and with Spark's accepted ordering the alias still parses + runs
    val ok =
      """SELECT qualify.r_regionkey
         FROM region TABLESAMPLE (100 PERCENT) qualify"""
    assert(Dialect.rewrite(ok) == ok)
    assert(engine.query(ok).count() == 5)
  }

  test("cluster TVF: EXPLAIN launches no Spark job (CC rounds are deferred)") {
    Tables.registerAll(spark, TestSpark.sf)
    val sc = spark.sparkContext
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    sc.addSparkListener(listener)
    try {
      val plan = engine.explain(
        "SELECT * FROM graft_cluster_keep('documents', 'doc_id', 'text', 0.5)")
      assert(plan.contains("GraftDeferredScan"),
        "the CC rounds must sit behind a deferred-scan leaf")
      val planBest = engine.explain(
        "SELECT * FROM graft_cluster_best('documents', 'doc_id', 'text', 0.5, 'n_chars')")
      assert(planBest.contains("GraftDeferredScan"))
      // k-means training (semdedup) has the same deferred contract
      val planSem = engine.explain(
        "SELECT * FROM graft_semdedup('embeddings', 'vec_id', 'embedding', 8, 1, 0.99)")
      assert(planSem.contains("GraftDeferredScan"),
        "semdedup's Lloyd training must sit behind a deferred-scan leaf")
      // the bloom sketch build (an action) has the same deferred contract
      val planBloom = engine.explain(
        """SELECT * FROM graft_decontaminate_bloom(
             'documents', 'documents', 'doc_id', 'text', 13, 65536, 1048576)""")
      assert(planBloom.contains("GraftDeferredScan"),
        "the bloom sketch build must sit behind a deferred-scan leaf")
      // the percent-rank boundary sketch (an action) likewise
      val planRank = engine.explain(
        "SELECT * FROM graft_rank_norm('documents', 'doc_id', 'n_chars', 16)")
      assert(planRank.contains("GraftDeferredScan"),
        "the rank-norm boundary sketch must sit behind a deferred-scan leaf")
      // cluster-balanced sampling trains k-means too — same contract
      val planCs = engine.explain(
        """SELECT * FROM graft_cluster_sample(
             'embeddings', 'vec_id', 'embedding', 8, 1, 20, 'csamp:')""")
      assert(planCs.contains("GraftDeferredScan"),
        "cluster-sample's Lloyd training must sit behind a deferred-scan leaf")
      // the per-group rank's boundary sketch likewise
      val planRankBy = engine.explain(
        "SELECT * FROM graft_rank_norm_by('documents', 'doc_id', 'lang', 'n_chars', 16)")
      assert(planRankBy.contains("GraftDeferredScan"),
        "rank-norm-by's boundary sketch must sit behind a deferred-scan leaf")
      // the ANN TVFs that collect centroids/codebooks likewise
      val planIvf = engine.explain(
        "SELECT * FROM graft_ann_ivf('embeddings', 'vec_id', 'embedding', 0, 10, 8, 2)")
      assert(planIvf.contains("GraftDeferredScan"),
        "ann-ivf's centroid collection must sit behind a deferred-scan leaf")
      val planPq = engine.explain(
        "SELECT * FROM graft_ann_pq('embeddings', 'vec_id', 'embedding', 0, 10, 4, 16, 8)")
      assert(planPq.contains("GraftDeferredScan"),
        "ann-pq's codebook/LUT collection must sit behind a deferred-scan leaf")
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      assert(jobs == 0,
        s"EXPLAIN of the cluster TVFs must launch no Spark job, saw $jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("graft_dhash64 scalar: SQL == Multimodal.dHash, null payload -> 0") {
    Tables.registerAll(spark, TestSpark.sf)
    graft.operators.Multimodal.asMedia(
        Tables.load(spark, TestSpark.sf, "documents"), "doc_id", "text")
      .createOrReplaceTempView("dh_media")
    val viaSql = engine.query(
        "SELECT doc_id, graft_dhash64(payload) AS dhash FROM dh_media")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaScala = graft.operators.Multimodal.dHash(spark.table("dh_media"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaSql == viaScala && viaSql.nonEmpty)
    // NULL payload hashes to 0 (the composed form's summed-otherwise
    // contract), NOT null — the scalar is safe under coalesce-free SQL
    assert(engine.query("SELECT graft_dhash64(CAST(NULL AS BINARY)) AS h")
      .head().getLong(0) == 0L)
  }

  test("pruned/residual/image-cluster TVFs: EXPLAIN launches no Spark job") {
    Tables.registerAll(spark, TestSpark.sf)
    // serving artifacts built BEFORE the listener counts (training is
    // an action and not what this pin measures); codes stay a lazy view
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val sim = graft.operators.Similarity
    val cents = sim.collectCentroids(emb, "vec_id", "embedding", 4)
    val cbs = sim.pqCodebooks(emb, "vec_id", "embedding",
      m = 4, subDim = 16, nCodes = 4)
    sim.centroidsToDf(spark, cents).createOrReplaceTempView("njp_cells")
    sim.codebooksToDf(spark, cbs).createOrReplaceTempView("njp_cbs")
    sim.ivfPqEncode(emb, "vec_id", "embedding", cents, cbs, 16)
      .createOrReplaceTempView("njp_codes")
    emb.filter(org.apache.spark.sql.functions.col("vec_id") < 3)
      .createOrReplaceTempView("njp_queries")
    graft.operators.Multimodal.asMedia(
        Tables.load(spark, TestSpark.sf, "documents"), "doc_id", "text")
      .createOrReplaceTempView("njp_media")
    spark.sql("SELECT 1 AS query_id, 'hash join' AS qtext")
      .createOrReplaceTempView("njp_bm25_q")
    graft.operators.TextAnalysis.bm25Index(
        Tables.load(spark, TestSpark.sf, "documents"), "doc_id", "text")
      .createOrReplaceTempView("njp_bm25_p")
    graft.operators.TextAnalysis.bm25DocLens(
        spark.table("njp_bm25_p"), "doc_id")
      .createOrReplaceTempView("njp_bm25_d")
    val sc = spark.sparkContext
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    sc.addSparkListener(listener)
    try {
      val planKnn = engine.explain(
        """SELECT * FROM graft_knn_join_pruned('njp_codes', 'njp_cells',
             'njp_cbs', 'njp_queries', 'vec_id', 'vec_id', 'embedding', 5, 2, 1)""")
      assert(planKnn.contains("GraftDeferredScan"),
        "the probe-cell-union collect must sit behind a deferred-scan leaf")
      val planRes = engine.explain(
        """SELECT * FROM graft_ann_residual_stored('njp_codes', 'njp_cells',
             'njp_cbs', 'embeddings', 'vec_id', 'embedding', 0, 10, 2)""")
      assert(planRes.contains("GraftDeferredScan"),
        "residual artifact reconstruction must sit behind a deferred-scan leaf")
      val planImg = engine.explain(
        "SELECT * FROM graft_image_clusters('njp_media', 'doc_id', 'payload', 3, 4)")
      assert(planImg.contains("GraftDeferredScan"),
        "the image CC rounds must sit behind a deferred-scan leaf")
      val planBpe = engine.explain(
        "SELECT * FROM graft_bpe_train('documents', 'doc_id', 'text', 4)")
      assert(planBpe.contains("GraftDeferredScan"),
        "the BPE merge rounds must sit behind a deferred-scan leaf")
      val planSq = engine.explain(
        "SELECT * FROM graft_ann_sq('embeddings', 'vec_id', 'embedding', 0, 10)")
      assert(planSq.contains("GraftDeferredScan"),
        "the SQ query-vector lookup must sit behind a deferred-scan leaf")
      val planIvfSq = engine.explain(
        "SELECT * FROM graft_ann_ivf_sq('embeddings', 'vec_id', 'embedding', 0, 10, 8, 2)")
      assert(planIvfSq.contains("GraftDeferredScan"),
        "IVF-SQ centroid collection must sit behind a deferred-scan leaf")
      sim.sqEncode(emb, "vec_id", "embedding")
        .createOrReplaceTempView("njp_sq_codes")
      val planSqSt = engine.explain(
        """SELECT * FROM graft_ann_sq_stored('njp_sq_codes', 'embeddings',
             'vec_id', 'embedding', 0, 10)""")
      assert(planSqSt.contains("GraftDeferredScan"),
        "stored-SQ query-vector lookup must sit behind a deferred-scan leaf")
      sim.ivfSqEncode(emb, "vec_id", "embedding", cents)
        .createOrReplaceTempView("njp_ivfsq_codes")
      val planIvfSqSt = engine.explain(
        """SELECT * FROM graft_ann_ivf_sq_stored('njp_ivfsq_codes', 'njp_cells',
             'embeddings', 'vec_id', 'embedding', 0, 10, 2)""")
      assert(planIvfSqSt.contains("GraftDeferredScan"),
        "stored-IVF-SQ centroid reconstruction must sit behind a deferred-scan leaf")
      val planCompact = engine.explain(
        """SELECT * FROM graft_store_compact('njp_codes', 'vec_id', '',
             'target/test_sink/njp_compact', 'cell', 1)""")
      assert(planCompact.contains("GraftDeferredScan"),
        "the compaction rewrite must sit behind a deferred-scan leaf")
      val planBm25J = engine.explain(
        """SELECT * FROM graft_bm25_join('njp_bm25_p', 'njp_bm25_d',
             'njp_bm25_q', 'doc_id', 'query_id', 'qtext', 5)""")
      assert(planBm25J.contains("GraftDeferredScan"),
        "the query-term-union collect must sit behind a deferred-scan leaf")
      val planMmr = engine.explain(
        """SELECT * FROM graft_mmr('njp_queries', 'vec_id', 'embedding',
             'vec_id', 3, 0.7)""")
      assert(planMmr.contains("GraftDeferredScan"),
        "the MMR greedy rounds must sit behind a deferred-scan leaf")
      val planPrf = engine.explain(
        """SELECT * FROM graft_bm25_prf('documents', 'doc_id', 'text',
             'hash,join', 5, 3, 2)""")
      assert(planPrf.contains("GraftDeferredScan"),
        "the PRF feedback round must sit behind a deferred-scan leaf")
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      assert(jobs == 0,
        s"EXPLAIN of the pruned/residual/image TVFs must launch no job, saw $jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("cluster TVF executes lazily and matches the Scala API (incl. algo arg)") {
    import spark.implicits._
    Tables.registerAll(spark, TestSpark.sf)
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val pairs = graft.operators.Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.5)
    val api = graft.operators.Graph.keepClusterRepresentatives(
      docs.select($"doc_id"), "doc_id", pairs)
      .collect().map(_.getLong(0)).sorted
    val viaSql = engine.query(
      "SELECT * FROM graft_cluster_keep('documents', 'doc_id', 'text', 0.5)")
    val got = viaSql.collect().map(_.getLong(0)).sorted
    assert(got.sameElements(api))
    // repeated actions on the same statement reuse the memoized rounds
    assert(viaSql.count() == api.length)
    // the optional algo argument pins the star variant — same contract
    val star = engine.query(
      "SELECT * FROM graft_cluster_keep('documents', 'doc_id', 'text', 0.5, 'star')")
      .collect().map(_.getLong(0)).sorted
    assert(star.sameElements(api))
  }

  test("format_result golden layout: widths, null rendering, separator") {
    import spark.implicits._
    // exosql's exact ASCII layout can't be diffed (reference tree is
    // empty) — freeze OURS so the API boundary stops drifting silently
    val df = Seq((1L, "alpha", Option(1.5)), (22L, "b", Option.empty[Double]))
      .toDF("id", "name", "score")
    val out = engine.formatResult(df.orderBy($"id"))
    val expected =
      "id | name  | score\n" +
      "---+-------+------\n" +
      "1  | alpha | 1.5  \n" +
      "22 | b     |      \n"
    assert(out == expected)
  }

  test("format_result golden truncation marker and array rendering") {
    import spark.implicits._
    val df = Seq((1, Seq("a", "b")), (2, Seq("c")), (3, Seq.empty[String]))
      .toDF("id", "arr")
    val out = engine.formatResult(df.orderBy($"id"), maxRows = 2)
    val expected =
      "id | arr  \n" +
      "---+------\n" +
      "1  | [a,b]\n" +
      "2  | [c]  \n" +
      "... (truncated at 2 rows)\n"
    assert(out == expected)
  }

  test("LLM table functions run from SQL and match the Scala API") {
    Tables.registerAll(spark, TestSpark.sf)
    val viaSql = engine.query(
      "SELECT * FROM graft_exact_dedup('documents', 'doc_id', 'text')")
    val viaApi = graft.operators.Dedup.exactDedup(
      Tables.load(spark, TestSpark.sf, "documents"), "doc_id", "text")
    assert(viaSql.exceptAll(viaApi).isEmpty && viaApi.exceptAll(viaSql).isEmpty)
    // execution is lazy/distributed: the TVF resolves to the same plan,
    // so the partial-agg dedup shape survives the SQL entry point
    val p = viaSql.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"))
  }

  test("every §2.10 pipeline is SQL-callable and matches its Scala twin") {
    Tables.registerAll(spark, TestSpark.sf)
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    def same(sql: String, api: org.apache.spark.sql.DataFrame): Unit = {
      val viaSql = engine.query(sql)
      assert(viaSql.exceptAll(api).isEmpty && api.exceptAll(viaSql).isEmpty, sql)
    }
    same("SELECT * FROM graft_simhash_pairs('documents','doc_id','text',3)",
      graft.operators.Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3))
    same("SELECT * FROM graft_boilerplate('documents','doc_id','text',3,5)",
      graft.operators.TextAnalysis.topShinglesByDf(docs, "doc_id", "text", 3, 5))
    same("SELECT * FROM graft_sample_strat('documents','source','text','doc_id',5,'s:')",
      graft.operators.Sampling.exactKPerStratum(docs,
        org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("text"), 5,
        Seq(org.apache.spark.sql.functions.col("doc_id")), salt = "s:"))
    // the store-backed twins: one pair per graft.queries.Stores fixture
    // family, each key building its own store, compared row for row
    // with columns in sorted-name order
    def rows(key: String): (Seq[String], Seq[String]) = {
      val df = SparkEntry.queries(key)(spark, TestSpark.sf)
      val cols = df.columns.toSeq.sorted
      (cols, df.select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toString).toSeq.sorted)
    }
    Seq(
      "llm_bm25_append" -> "e_sql_bm25_append",
      "llm_ann_index_append" -> "e_sql_ann_append",
      "llm_ann_sq_append" -> "e_sql_ann_sq_append",
      "llm_ann_ivf_sq_stored" -> "e_sql_ann_ivf_sq_stored",
      "llm_minhash_index_delete" -> "e_sql_minhash_delete",
      "llm_fp_append" -> "e_sql_fp_append",
      "llm_image_append" -> "e_sql_image_append",
      "llm_audio_append" -> "e_sql_audio_append",
      "llm_video_append" -> "e_sql_video_append",
      "llm_trigram_kn_append" -> "e_sql_trigram_kn_append",
      "llm_lr_eval" -> "e_sql_lr_eval",
      "llm_unigram_tokenize" -> "e_sql_unigram_tokenize",
      "llm_decontam_roundtrip" -> "e_sql_decontam_roundtrip",
      "llm_bpe_count" -> "e_sql_bpe_count"
    ).foreach { case (scalaKey, sqlKey) =>
      val ((apiCols, api), (sqlCols, viaSql)) = (rows(scalaKey), rows(sqlKey))
      assert(apiCols == sqlCols, s"$scalaKey $apiCols vs $sqlKey $sqlCols")
      assert(api.nonEmpty && api == viaSql, s"$scalaKey vs $sqlKey")
    }
  }

  test("LLM table functions compose with catalog namespaces and filters") {
    Catalog.registerParquetDb(spark, "dbtvf", TestSpark.sf, Seq("documents"))
    try {
      val n = engine.query(
        """SELECT count(*) AS n
           FROM graft_chunk('dbtvf.documents', 'doc_id', 'text', 64, 16)
           WHERE n_tokens = 64""").head().getLong(0)
      assert(n > 0)
    } finally Catalog.dropDb(spark, "dbtvf")
  }

  test("LLM table functions refuse wrong arity and non-literal args loudly") {
    Tables.registerAll(spark, TestSpark.sf)
    val e1 = intercept[Exception](
      engine.query("SELECT * FROM graft_chunk('documents', 'doc_id')").collect())
    assert(e1.getMessage.contains("graft_chunk(table, id_col, text_col"))
    val e2 = intercept[Exception](engine.query(
      "SELECT * FROM graft_minhash_pairs('documents', 'doc_id', 'text', rand())")
      .collect())
    assert(e2.getMessage.contains("literal"))
  }

  test("every graft SQL function is named and sized by its signature alone") {
    engine // registers the functions on the session
    def chain(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    def graftNames(fns: Seq[org.apache.spark.sql.catalyst.FunctionIdentifier]) =
      fns.map(_.funcName).filter(_.startsWith("graft_")).distinct.sorted
    val tvfs = graftNames(spark.sessionState.tableFunctionRegistry.listFunction())
    val scalars = graftNames(spark.sessionState.functionRegistry.listFunction())
    assert(tvfs.nonEmpty && scalars.nonEmpty)
    for ((names, call) <- Seq[(Seq[String], (String, String) => String)](
           (tvfs, (n, as) => s"SELECT * FROM $n($as)"),
           (scalars, (n, as) => s"SELECT $n($as)"));
         name <- names) {
      def refusal(n: Int): String = chain(intercept[Exception](
        spark.sql(call(name, Seq.fill(n)("'x'").mkString(", "))).collect()))
      val sig = """expected (.+?), got 0 argument\(s\)""".r
        .findFirstMatchIn(refusal(0)).map(_.group(1))
        .getOrElse(fail(s"$name(): no signature in ${refusal(0)}"))
      assert(sig.takeWhile(_ != '(') == name, sig)
      val max = sig.substring(sig.indexOf('(') + 1, sig.length - 1)
        .replaceAll("""[\[\]]""", "").split(",").count(_.trim.nonEmpty)
      assert(refusal(max + 1).contains(s"expected $sig, got ${max + 1} argument(s)"), sig)
    }
  }

  test("signature parsing: each [ opens an optional group; registration runs once per session") {
    import graft.engine.SqlFunction.{OncePerSession, Signature}
    val rep = Signature("graft_gopher_rep(table, id_col, text_col[, top_n, dup_n])")
    assert(rep.name == "graft_gopher_rep" && rep.arities == Set(3, 5))
    assert(Signature("graft_quantile_filter(table, value_col, q[, accuracy_or_0[, 'local']])")
      .arities == Set(3, 4, 5))
    assert(Signature("graft_sentences(table, id_col, text_col)").arities == Set(3))
    val e = intercept[IllegalArgumentException](rep.args(Seq.empty))
    assert(e.getMessage == s"expected ${rep.text}, got 0 argument(s)")
    // a registration that throws partway leaves the session unmarked, so
    // the next call retries instead of leaving functions silently missing
    val once = new OncePerSession
    intercept[IllegalStateException](once(spark)(throw new IllegalStateException("partial")))
    var runs = 0
    once(spark)(runs += 1)
    once(spark)(runs += 1)
    assert(runs == 1)
  }
}
