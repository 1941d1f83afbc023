package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Cast, Concat, DateFormatClass, DayOfWeek, EvalMode, Expression, GetJsonObject, Literal, ParseUrl, Subtract, UnixTimestamp}
import org.apache.spark.sql.types._
import graft.engine.SqlFunction
import graft.engine.SqlFunction.scalarFunction

/** The exosql scalar-function surface (SURVEY.md §2.7; reference
  * `lib/builtins.ex` [U]) re-expressed Spark-first.
  *
  * Most names map 1:1 to codegen'd `org.apache.spark.sql.functions`;
  * the Column helpers here cover only the exosql-specific semantics —
  * strftime %-verb translation (composed from `date_format` pieces, so it
  * stays inside whole-stage codegen), permissive casts, negative-index
  * substr, named-group regex, urlparse.
  *
  * `registerAll` additionally exposes the exosql names to SQL via the
  * session function registry (`strftime`, `jp`, `regex`, ...).
  */
object Builtins {

  // ── datetime ──────────────────────────────────────────────────────────

  /** C-strftime verb → java DateTimeFormatter pattern (for the verbs that
    * translate 1:1). %w (Sunday=0 weekday) and %s (epoch) need expression
    * composition, handled in [[strftime]]. */
  private val strftimeVerbs: Map[Char, String] = Map(
    'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd",
    'H' -> "HH", 'I' -> "hh", 'M' -> "mm", 'S' -> "ss",
    'j' -> "DDD", 'a' -> "EEE", 'A' -> "EEEE", 'b' -> "MMM",
    'B' -> "MMMM", 'p' -> "a", 'f' -> "SSSSSS", 'Z' -> "zz")

  /** exosql `strftime(dt, fmt)` — a concat of `date_format` chunks and
    * computed pieces, built directly as a Catalyst expression tree (shared
    * by the Column API and the SQL function registry); codegen-friendly,
    * no UDF. */
  /** strftime-style format → java DateTimeFormatter pattern (for parse
    * directions like 2-arg to_datetime; only 1:1 verbs supported). */
  def strftimeToJavaPattern(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        val v = fmt.charAt(i + 1)
        if (v == '%') sb += '%'
        else sb ++= strftimeVerbs.getOrElse(v,
          throw new IllegalArgumentException(s"to_datetime: unsupported verb %$v"))
        i += 2
      } else {
        if (c.isLetter) { sb += '\''; sb += c; sb += '\'' } else sb += c
        i += 1
      }
    }
    sb.toString
  }

  def strftimeExpr(ts: Expression, fmt: String): Expression = {
    val chunks = scala.collection.mutable.ArrayBuffer[Expression]()
    def fmtChunk(p: String): Expression = DateFormatClass(ts, Literal(p))
    val sb = new StringBuilder // pending literal text, quoted for java fmt
    def flushLiteral(): Unit = if (sb.nonEmpty) {
      chunks += Literal(sb.toString)
      sb.clear()
    }
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        val v = fmt.charAt(i + 1)
        v match {
          case '%' => sb += '%'
          case 'w' => // weekday, Sunday=0 — Spark dayofweek is Sunday=1
            flushLiteral()
            chunks += Cast(Subtract(DayOfWeek(ts), Literal(1)), StringType)
          case 's' => // epoch seconds
            flushLiteral()
            chunks += Cast(UnixTimestamp(ts, Literal("yyyy-MM-dd HH:mm:ss")), StringType)
          case verb if strftimeVerbs.contains(verb) =>
            flushLiteral(); chunks += fmtChunk(strftimeVerbs(verb))
          case other => sb += '%' += other // unknown verb: literal, like C
        }
        i += 2
      } else { sb += c; i += 1 }
    }
    flushLiteral()
    if (chunks.isEmpty) Literal("") else Concat(chunks.toSeq)
  }

  def strftime(ts: Column, fmt: String): Column = col(strftimeExpr(expression(ts), fmt))

  /** exosql `to_datetime(x)` — permissive to-timestamp (epoch numbers,
    * ISO strings, dates). */
  def to_datetime(c: Column): Column = col(ToDatetime(expression(c)))

  /** exosql `to_timestamp(dt)` → epoch seconds (NOT Spark's to_timestamp —
    * registered in SQL as `exo_to_timestamp` to avoid shadowing). */
  def exo_to_timestamp(c: Column): Column = unix_timestamp(c)

  // ── strings ───────────────────────────────────────────────────────────

  def exo_substr(s: Column, start: Column, len: Column): Column =
    col(ExoSubstr(expression(s), expression(start), expression(len)))
  def exo_substr(s: Column, start: Int): Column =
    exo_substr(s, lit(start), lit(Int.MaxValue))
  def exo_substr(s: Column, start: Int, len: Int): Column =
    exo_substr(s, lit(start), lit(len))

  /** exosql `join(list, sep)` (list → string). Like exosql, which
    * joins each element's string form, a null element joins as "" rather
    * than being skipped. */
  def exo_join(list: Column, sep: String): Column = array_join(list, sep, "")

  /** exosql `to_string(x)` — permissive term → string. */
  def to_string(c: Column): Column = c.cast(StringType)

  /** exosql `to_number(x)` — permissive parse, null on failure. */
  def to_number(c: Column): Column = c.try_cast(DoubleType)

  /** exosql `format(fmt, args...)` — printf-style. */
  def format(fmt: String, args: Column*): Column = format_string(fmt, args: _*)

  // ── regex / json / url ────────────────────────────────────────────────

  /** exosql `regex(s, re)` — first full match ("" if none). */
  def regex(s: Column, re: String): Column = regexp_extract(s, re, 0)
  /** exosql `regex(s, re, group)` — capture group of first match. */
  def regex(s: Column, re: String, group: Int): Column = regexp_extract(s, re, group)
  /** exosql `regex(s, re)` named-group form → map(name → capture). */
  def regex_named(s: Column, re: Column): Column =
    col(RegexNamed(expression(s), expression(re)))
  /** exosql `regex_all(s, re)` — all matches (group 1 if present, else 0). */
  def regex_all(s: Column, re: String, group: Int = 0): Column =
    regexp_extract_all(s, lit(re), lit(group))

  /** exosql `jp(json, path)` — JSONPath extraction; bare keys get `$.`. */
  def jp(json: Column, path: String): Column = {
    val p = if (path.startsWith("$")) path else "$." + path
    get_json_object(json, p)
  }

  /** exosql `urlparse(url)` → map of components. */
  def urlparse(url: Column): Column = col(UrlParseMap(expression(url)))
  /** exosql `urlparse(url, part)` — single component (scheme/host/port/
    * path/query/fragment/user, or `query.<param>`). */
  def urlparse(url: Column, part: String): Column = urlPartArgs(part) match {
    case Seq(p, key) => parse_url(url, lit(p), lit(key))
    case Seq(p) => parse_url(url, lit(p))
  }

  /** `urlparse`'s part name as Spark `parse_url` arguments: the part,
    * plus the key of a `query.<param>` part. Names are upper-cased under
    * `Locale.ROOT`, so `'file'` means FILE under every default locale. */
  private def urlPartArgs(part: String): Seq[String] = part match {
    case q if q.startsWith("query.") => Seq("QUERY", q.drop(6))
    case "scheme" => Seq("PROTOCOL")
    case "user" => Seq("USERINFO")
    case other => Seq(other.toUpperCase(java.util.Locale.ROOT))
  }

  // ── numbers / misc ────────────────────────────────────────────────────

  /** exosql `trunc(x)` — truncate toward zero. */
  def exo_trunc(c: Column): Column = c.cast(LongType)

  /** exosql `randint(a, b)` — uniform int in [a, b). */
  def randint(a: Column, b: Column): Column = floor(rand() * (b - a) + a).cast(LongType)

  /** exosql `generate_series(a, b[, step])` as an array (explode for the
    * FROM-position table form, SURVEY §2.1 S6). */
  def generate_series(a: Column, b: Column, step: Column): Column = sequence(a, b, step)
  def generate_series(a: Column, b: Column): Column = sequence(a, b)

  // width_bucket, coalesce, nullif, round, now, datediff, split, concat,
  // lower, upper, trim: Spark built-ins of the same name — no wrapper.

  private def expression(c: Column): Expression =
    org.apache.spark.sql.GraftBridge.expression(c)

  private def col(e: Expression): Column =
    org.apache.spark.sql.GraftBridge.column(e)

  private val registered = new SqlFunction.OncePerSession

  /** Expose exosql names to SQL. Spark-colliding names (`to_timestamp`)
    * get an `exo_` prefix rather than shadowing the standard function.
    * Idempotent per session: repeat calls are no-ops. */
  def registerAll(spark: SparkSession): Unit = registered(spark) {
    def lit2str(e: Expression): String = e match {
      case Literal(v, _: StringType) if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"expected foldable string literal, got $other")
    }
    scalarFunction(spark, "strftime(ts, fmt)")(a =>
      strftimeExpr(a(0), lit2str(a(1))))
    scalarFunction(spark, "to_datetime(x[, fmt])") { a =>
      if (a.has(1)) // exosql 2-arg form: strftime-style format
        new org.apache.spark.sql.catalyst.expressions.ParseToTimestamp(
          a(0), Literal(strftimeToJavaPattern(lit2str(a(1)))))
      else ToDatetime(a(0))
    }
    scalarFunction(spark, "json(text)")(a =>
      org.apache.spark.sql.catalyst.expressions.variant.ParseJson(a(0)))
    scalarFunction(spark, "exo_to_timestamp(ts)")(a =>
      UnixTimestamp(a(0), Literal("yyyy-MM-dd HH:mm:ss")))
    scalarFunction(spark, "exo_substr(s, start[, len])")(a =>
      ExoSubstr(a(0), a(1), if (a.has(2)) a(2) else Literal(Int.MaxValue)))
    scalarFunction(spark, "jp(json, path)") { a =>
      val p = lit2str(a(1))
      GetJsonObject(a(0), Literal(if (p.startsWith("$")) p else "$." + p))
    }
    scalarFunction(spark, "regex_named(s, re)")(a => RegexNamed(a(0), a(1)))
    scalarFunction(spark, "urlparse(url[, part])") { a =>
      val u = a(0)
      if (!a.has(1)) UrlParseMap(u)
      else ParseUrl(u +: urlPartArgs(lit2str(a(1))).map(Literal(_)))
    }
    // the exosql one-argument form; Spark's own builtin owns the
    // two-argument `to_number(expr, fmt)`, so that form is handed back to it
    scalarFunction(spark, "to_number(x[, fmt])")(a =>
      if (a.has(1)) FunctionRegistry.builtin.lookupFunction(
        FunctionIdentifier("to_number"), Seq(a(0), a(1)))
      else Cast(a(0), DoubleType, None, EvalMode.TRY))
    scalarFunction(spark, "to_string(x)")(a => Cast(a(0), StringType))
    scalarFunction(spark, "generate_series(start, stop[, step])")(a =>
      org.apache.spark.sql.catalyst.expressions.Sequence(
        a(0), a(1), Option.when(a.has(2))(a(2)), None))
    scalarFunction(spark, "exo_trunc(x)")(a => Cast(a(0), LongType))
    // registry-injected expressions built from the Column API must be
    // FULLY converted (session converter) — the lazy ColumnNodeExpression
    // wrapper [[GraftBridge.expression]] returns survives to codegen when
    // it enters a plan through the function registry instead of the
    // DataFrame API (see GraftBridge.resolvedExpression)
    def resolved(c: Column): Expression =
      org.apache.spark.sql.GraftBridge.resolvedExpression(spark, c)
    scalarFunction(spark, "randint(a, b)")(a =>
      resolved(randint(col(a(0)), col(a(1)))))
    scalarFunction(spark, "regex(s, re[, group])") { a =>
      val re = lit2str(a(1))
      resolved(regexp_extract(col(a(0)), re,
        if (a.has(2)) a(2).eval().asInstanceOf[Number].intValue() else 0))
    }
    scalarFunction(spark, "regex_all(s, re[, group])")(a =>
      resolved(regexp_extract_all(col(a(0)), col(a(1)),
        if (a.has(2)) col(a(2)) else lit(0))))
  }
}
