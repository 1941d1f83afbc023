package graft.engine

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Registration of graft's SQL functions, each declared by ONE signature
  * string:
  *
  * {{{
  *   tableFunction(spark, "graft_chunk(table, id_col, text_col, chunk_tokens, overlap)") { a =>
  *     TextAnalysis.chunk(a.table(0), a.str(1), a.str(2), a.int(3), a.int(4))
  *   }
  * }}}
  *
  * The text before `(` is the registered name. The parameters give the
  * accepted argument counts: the full count, plus the count before each
  * `[` that opens an optional group, so `f(a, b[, c[, d]])` accepts 2, 3
  * or 4 arguments and `f(a[, b, c])` accepts 1 or 3. Any other count is
  * refused at analysis with `expected <signature>, got N argument(s)`.
  */
object SqlFunction {

  /** A parsed signature: the registered name and the accepted counts. */
  final case class Signature(text: String) {
    private val open = text.indexOf('(')
    require(open > 0 && text.endsWith(")"), s"malformed SQL signature: $text")
    val name: String = text.take(open)
    val arities: Set[Int] = {
      val params = text.substring(open + 1, text.length - 1)
      def count(s: String): Int =
        s.filterNot("[]".contains(_)).split(',').count(_.trim.nonEmpty)
      (params.indices.filter(params(_) == '[').map(i => count(params.take(i)))
        :+ count(params)).toSet
    }

    /** The reader for one call, after the argument-count check. */
    def args(es: Seq[Expression]): Args = {
      if (!arities(es.length)) throw new IllegalArgumentException(
        s"expected $text, got ${es.length} argument(s)")
      new Args(name, es)
    }
  }

  /** One call's arguments, read on behalf of the function `fn` so every
    * error names it. Arguments parameterize plan construction, so the
    * typed readers accept literals only. */
  final class Args(val fn: String, es: Seq[Expression]) {
    def apply(i: Int): Expression = es(i)
    def has(i: Int): Boolean = i < es.length

    private def lit(i: Int): Any = {
      require(es(i).foldable, s"$fn: arguments must be literals, got: ${es(i).sql}")
      es(i).eval()
    }
    def str(i: Int): String = String.valueOf(lit(i))
    def int(i: Int): Int = lit(i) match {
      case n: java.lang.Number => n.intValue
      case other => throw new IllegalArgumentException(
        s"$fn: expected an integer, got $other")
    }
    // for id-valued params: intValue would silently TRUNCATE a bigint
    // literal above Int.MaxValue (routine for shifted doc/vec ids)
    def lng(i: Int): Long = lit(i) match {
      case n: java.lang.Number => n.longValue
      case other => throw new IllegalArgumentException(
        s"$fn: expected an integer, got $other")
    }
    def dbl(i: Int): Double = lit(i) match {
      case n: java.lang.Number => n.doubleValue // covers Decimal literals
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"$fn: expected a number, got $other")
    }
    /** A comma-separated list literal, blanks dropped. */
    def csv(i: Int): Seq[String] =
      str(i).split(",").map(_.trim).filter(_.nonEmpty).toSeq

    /** A table-name argument, resolved through the active session
      * catalog (temp views, `db.table` namespaces — anything
      * spark.table sees). */
    def table(i: Int): DataFrame = SparkSession.active.table(str(i))

    // optional reuse-tail argument: anything other than the documented
    // 'local' (or an explicit 'off') is REJECTED — a typo like 'Local'
    // silently disabling input truncation is the failure mode this guards
    def reuse(i: Int): graft.operators.Reuse = str(i) match {
      // 'local' maps to the DEFERRED local checkpoint on the SQL
      // surface: TVF builders run at analysis, and SQL temp views
      // re-analyze per downstream statement — an eager Reuse.Local
      // here re-ran the upstream chain once per CREATE VIEW (see
      // Reuse.LocalDeferred's scaladoc; BASELINE.md round-12)
      case "local" => graft.operators.Reuse.LocalDeferred
      case "off"   => graft.operators.Reuse.Off
      case other => throw new IllegalArgumentException(
        s"$fn: unrecognized reuse option '$other' (expected 'local' or 'off')")
    }
    // optional pre-tokenization tail for the BPE family: 'pretok'
    // selects the Sennrich-style class split (TextAnalysis.pretokPattern),
    // 'ws' the whitespace default; anything else refuses loudly (the
    // reuse typo-guard convention)
    def pretok(i: Int): Boolean = str(i) match {
      case "pretok" => true
      case "ws"     => false
      case other => throw new IllegalArgumentException(
        s"$fn: unrecognized pre-tokenization option '$other' (expected 'pretok' or 'ws')")
    }
  }

  /** Register a session-scoped table-valued function, usable in FROM
    * position. The body runs at analysis and returns the frame whose
    * logical plan the call resolves to. */
  def tableFunction(spark: SparkSession, sig: String)
                   (body: Args => DataFrame): Unit = {
    val s = Signature(sig)
    GraftBridge.registerTableFunction(spark, s.name,
      es => GraftBridge.logicalPlan(body(s.args(es))))
  }

  /** Register a session-scoped scalar function; the body returns the
    * call's (fully converted) expression. */
  def scalarFunction(spark: SparkSession, sig: String)
                    (body: Args => Expression): Unit = {
    val s = Signature(sig)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      s.name, es => body(s.args(es)), "scala_udf")
  }

  /** Runs a registration once per session: re-running
    * `createOrReplaceTempFunction` logs a "replaced a previously
    * registered function" WARN per function, and the registrars are
    * called per [[Engine]] and per SQL-surface query builder. A session
    * is marked done only after its registration finishes, so a thread
    * that finds it unmarked waits on the lock for a registration running
    * elsewhere instead of returning before the functions exist. The
    * registering thread itself may re-enter (the lock is reentrant and
    * the session is marked running); a registration that throws leaves
    * the session unmarked, so the next call retries instead of leaving
    * functions silently missing. Weak keys let dropped sessions be
    * collected. */
  final class OncePerSession {
    private def weakSet() = java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))
    private val done = weakSet()
    private val running = weakSet()

    def apply(spark: SparkSession)(register: => Unit): Unit =
      if (!done.contains(spark)) synchronized {
        if (!done.contains(spark) && running.add(spark))
          try { register; done.add(spark) }
          finally running.remove(spark)
      }
  }
}
