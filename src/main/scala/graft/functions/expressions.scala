package graft.functions

import java.util.regex.Pattern
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for reference semantics Spark's built-ins
  * don't cover (serverboards/exosql `lib/builtins.ex` [U], SURVEY.md §2.7).
  *
  * All are `CodegenFallback` scalar expressions — they sit outside
  * whole-stage codegen but evaluate tight JVM code with per-partition
  * compiled-regex/pattern caches; none appear in scan/join/agg hot paths.
  */

/** exosql `substr(s, start[, len])` with Elixir `String.slice` semantics:
  * 1-based positive start; negative start counts from the end; start 0 is
  * the whole string; out-of-range → "". Matches DuckDB `substr` for the
  * same inputs (verified empirically), so it is oracle-comparable. */
case class ExoSubstr(str: Expression, start: Expression, len: Expression)
    extends TernaryExpression with CodegenFallback {
  override def first: Expression = str
  override def second: Expression = start
  override def third: Expression = len
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def nullSafeEval(s: Any, st: Any, ln: Any): Any = {
    val full = s.asInstanceOf[UTF8String].toString
    val n = full.length
    val startRaw = st.asInstanceOf[Number].intValue()
    val lenRaw = ln.asInstanceOf[Number].intValue()
    if (lenRaw <= 0) return UTF8String.fromString("")
    val begin0 =
      if (startRaw > 0) startRaw - 1
      else if (startRaw == 0) 0
      else n + startRaw
    if (begin0 >= n) return UTF8String.fromString("")
    val b = math.max(begin0, 0)
    // negative start beyond the front shortens the slice (DuckDB behavior)
    val effLen = if (begin0 < 0) lenRaw + begin0 else lenRaw
    if (effLen <= 0) return UTF8String.fromString("")
    val e = math.min(b.toLong + effLen, n.toLong).toInt
    UTF8String.fromString(full.substring(b, e))
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** exosql `regex(s, re)` named-capture form: returns a map of named groups
  * of the FIRST match (empty map if no match, null on null input).
  * Reference: exosql builds a map when the pattern has named groups
  * (`lib/builtins.ex` [U]). */
case class RegexNamed(str: Expression, regex: Expression)
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = str
  override def right: Expression = regex
  override def dataType: DataType = MapType(StringType, StringType)
  override def nullable: Boolean = true

  @transient private lazy val groupName = Pattern.compile("\\(\\?<([a-zA-Z][a-zA-Z0-9]*)>")
  @transient private var cachedSrc: String = _
  @transient private var cachedPat: Pattern = _
  @transient private var cachedNames: Seq[String] = _

  private def compiled(re: String): (Pattern, Seq[String]) = {
    if (cachedSrc != re) {
      cachedSrc = re
      cachedPat = Pattern.compile(re)
      val m = groupName.matcher(re)
      val names = scala.collection.mutable.ArrayBuffer[String]()
      while (m.find()) names += m.group(1)
      cachedNames = names.toSeq
    }
    (cachedPat, cachedNames)
  }

  override def nullSafeEval(s: Any, re: Any): Any = {
    val (pat, names) = compiled(re.toString)
    val m = pat.matcher(s.toString)
    if (!m.find()) {
      new ArrayBasedMapData(new GenericArrayData(Array.empty[Any]),
        new GenericArrayData(Array.empty[Any]))
    } else {
      val ks = names.map(n => UTF8String.fromString(n): Any).toArray
      val vs = names.map { n =>
        val g = m.group(n)
        if (g == null) null else UTF8String.fromString(g): Any
      }.toArray
      new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
    }
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(l, r)
}

/** exosql `to_datetime(x)` — permissive conversion to timestamp:
  * int/long → epoch seconds; double → epoch seconds with fraction;
  * string → ISO8601/`yyyy-MM-dd[ HH:mm:ss]` parse (null on failure);
  * timestamp/date pass through. (`lib/builtins.ex` [U]) */
case class ToDatetime(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true

  // epoch seconds representable as micros in a Long; NaN/inf/overflow →
  // null instead of a silently saturated/garbled timestamp
  private def fracSecsToMicros(secs: Double): Any = {
    val micros = secs * 1e6
    // upper bound is >= : Long.MaxValue.toDouble rounds UP to 2^63,
    // so micros == 2^63 would pass a > check yet saturate in toLong
    if (micros.isNaN || micros < Long.MinValue.toDouble || micros >= Long.MaxValue.toDouble) null
    else micros.toLong
  }

  override def nullSafeEval(v: Any): Any = child.dataType match {
    case LongType =>
      val s = v.asInstanceOf[Long]
      if (s < Long.MinValue / 1000000L || s > Long.MaxValue / 1000000L) null
      else s * 1000000L
    case IntegerType => v.asInstanceOf[Int].toLong * 1000000L
    case DoubleType => fracSecsToMicros(v.asInstanceOf[Double])
    case FloatType => fracSecsToMicros(v.asInstanceOf[Float].toDouble)
    case _: DecimalType =>
      fracSecsToMicros(v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble)
    case TimestampType => v
    case DateType => DateTimeUtils.daysToMicros(v.asInstanceOf[Int], java.time.ZoneOffset.UTC)
    case _: StringType =>
      DateTimeUtils.stringToTimestamp(v.asInstanceOf[UTF8String], java.time.ZoneOffset.UTC)
        .map(l => l: Any).orNull
    case dt => throw new IllegalArgumentException(s"to_datetime: unsupported type $dt")
  }

  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** exosql `urlparse(url)` → map of URL components (scheme, host, port,
  * path, query, fragment, user). (`lib/builtins.ex` [U]) */
case class UrlParseMap(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = MapType(StringType, StringType)
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val parts: Seq[(String, String)] =
      try {
        val u = new java.net.URI(v.toString)
        Seq(
          "scheme" -> u.getScheme,
          "host" -> u.getHost,
          "port" -> (if (u.getPort == -1) null else u.getPort.toString),
          "path" -> u.getPath,
          "query" -> u.getQuery,
          "fragment" -> u.getFragment,
          "user" -> u.getUserInfo)
      } catch { case _: Exception => Seq.empty }
    val present = parts.filter(_._2 != null)
    new ArrayBasedMapData(
      new GenericArrayData(present.map(p => UTF8String.fromString(p._1): Any).toArray),
      new GenericArrayData(present.map(p => UTF8String.fromString(p._2): Any).toArray))
  }

  override protected def withNewChildInternal(c: Expression) = copy(c)
}

/** Unicode normalization (the mandatory first step of a text-cleaning
  * pipeline — mixed NFC/NFD sources hash-split identical text, so every
  * dedup/fingerprint operator upstream of this is form-sensitive):
  * `form` ∈ NFC | NFD | NFKC | NFKD via `java.text.Normalizer`.
  * Oracle-comparable: DuckDB's `nfc_normalize` (utf8proc) and the JDK
  * implement the same Unicode normalization spec, so NFC results agree;
  * the K/D forms are spec-pinned (no DuckDB builtin to compare).
  * Per-row scalar, CodegenFallback like every expression here — never
  * in a scan/join/agg hot path. */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression with CodegenFallback {
  @transient private lazy val f = java.text.Normalizer.Form.valueOf(form.toUpperCase(java.util.Locale.ROOT))
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    // fast path: Normalizer.isNormalized is a cheap scan and true for
    // the overwhelming majority of real text — skip the copy
    if (java.text.Normalizer.isNormalized(s, f)) v
    else UTF8String.fromString(java.text.Normalizer.normalize(s, f))
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
