package graft.engine

import scala.collection.mutable.ArrayBuffer

/** exosql SQL-dialect shim (SURVEY.md §3, §7.3): the reference's parser
  * accepts `$var` placeholders and PostgreSQL-style `DISTINCT ON`
  * (`lib/parser.ex`, `src/sql_parser.yrl` [U]). Rather than forking
  * Spark's parser, both are handled as source-to-source rewrites before
  * `spark.sql` — `$var` becomes a Spark named parameter (`:var`), and
  * `DISTINCT ON (keys)` becomes a row_number window.
  *
  * One lexer, [[lex]], is the only code here that reads a statement
  * character by character. It knows single-quote and double-quote
  * strings (with backslash escapes, Spark's default lexing), backtick
  * identifiers, `--` line comments and NESTED bracketed comments (Spark
  * supports `/* a /* b */ c */`). Every finder searches its tokens, so
  * text inside any of those never influences a rewrite, and a keyword
  * is one word token compared with `equalsIgnoreCase`: no case-mapped
  * copy of the statement, no dependence on the default locale. Splices
  * cut the statement at token offsets; each rewrite pass re-lexes its
  * result.
  */
object Dialect {

  private object Kind extends Enumeration {
    // Word: letters, digits and '_'; Str: '…' or "…"; Quoted: `…`;
    // Param: `$name`; Punct: any other single character
    val Word, Str, Quoted, Comment, Space, Param, Punct = Value
  }
  import Kind._

  /** Token `index` of a statement, at offsets `[start, end)`. `depth` is
    * the paren depth before it; for a paren, `mate` is the index of its
    * partner (-1 when unbalanced). */
  private final class Tok(val kind: Kind.Value, val start: Int, val end: Int,
      val depth: Int, val index: Int) {
    var mate: Int = -1
    def code: Boolean = kind != Space && kind != Comment
  }

  /** A statement and its tokens; every search below is a token search. */
  private final class Lexed(val sql: String, val toks: IndexedSeq[Tok]) {
    def text(t: Tok): String = sql.substring(t.start, t.end)
    def char(t: Tok): Char = sql.charAt(t.start)
    def isChar(t: Tok, c: Char): Boolean = t.kind == Punct && char(t) == c
    /** `t` is the keyword `kw`, in any case (`equalsIgnoreCase` on the
      * token, without copying it). */
    def is(t: Tok, kw: String): Boolean = t.kind == Word &&
      t.end - t.start == kw.length && sql.regionMatches(true, t.start, kw, 0, kw.length)
    def isAny(t: Tok, kws: Set[String]): Boolean = t.kind == Word && kws.exists(is(t, _))
    /** First code token (not whitespace or a comment) at/after offset `from`. */
    def nextCode(from: Int): Option[Tok] = toks.find(t => t.start >= from && t.code)
    def prevCode(t: Tok): Option[Tok] =
      (t.index - 1 to 0 by -1).iterator.map(toks).find(_.code)
    /** Every paren-depth-0 `kw` at/after offset `from`, in order. */
    def topLevel(kw: String, from: Int = 0): Iterator[Tok] =
      toks.iterator.filter(t => t.start >= from && t.depth == 0 && is(t, kw))
    def mate(t: Tok): Option[Tok] = Option.when(t.mate >= 0)(toks(t.mate))
    /** Innermost `(` enclosing `t`. */
    def enclosing(t: Tok): Option[Tok] = (t.index - 1 to 0 by -1).iterator.map(toks)
      .find(u => isChar(u, '(') && (u.mate < 0 || u.mate > t.index))
  }

  private def isIdentChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** Split `sql` into tokens, with paren depths and mates, in one pass. */
  private def lex(sql: String): Lexed = {
    val toks = ArrayBuffer.empty[Tok]
    var open = List.empty[Tok] // unmatched '(' tokens, innermost first
    var depth = 0
    var i = 0
    val n = sql.length
    def at(j: Int, c: Char): Boolean = j < n && sql.charAt(j) == c
    def identEnd(j: Int): Int = { var k = j; while (k < n && isIdentChar(sql.charAt(k))) k += 1; k }
    def past(j: Int): Int = if (j < 0) n else j + 1
    while (i < n) {
      val start = i
      val c = sql.charAt(i)
      i += 1
      val kind = c match {
        // double-quoted text is a string literal in Spark's default lexer
        // (not an identifier), so backslash escapes apply there too
        case '\'' | '"' =>
          while (i < n && sql.charAt(i) != c) i += (if (sql.charAt(i) == '\\') 2 else 1)
          i = math.min(i + 1, n); Str
        case '`' => i = past(sql.indexOf('`', i)); Quoted
        case '-' if at(i, '-') => i = past(sql.indexOf('\n', i)); Comment
        case '/' if at(i, '*') =>
          var nest = 1; i += 1
          while (i < n && nest > 0) {
            if (at(i, '*') && at(i + 1, '/')) { nest -= 1; i += 2 }
            else if (at(i, '/') && at(i + 1, '*')) { nest += 1; i += 2 }
            else i += 1
          }
          Comment
        case '$' if i < n && (sql.charAt(i).isLetter || sql.charAt(i) == '_') =>
          i = identEnd(i); Param
        case _ if c.isWhitespace => while (i < n && sql.charAt(i).isWhitespace) i += 1; Space
        case _ if isIdentChar(c) => i = identEnd(i); Word
        case _ => Punct
      }
      val t = new Tok(kind, start, i, depth, toks.length)
      if (c == '(') { depth += 1; open ::= t }
      else if (kind == Punct && c == ')') {
        depth -= 1
        open match {
          case o :: rest => o.mate = t.index; t.mate = o.index; open = rest
          case Nil =>
        }
      }
      toks += t
    }
    new Lexed(sql, toks.toIndexedSeq)
  }

  /** `o`'s value, or the `require` failure `msg`. */
  private def need[A](o: Option[A])(msg: => String): A = { require(o.isDefined, msg); o.get }

  /** Rewrite `$name` → `:name` (Spark named-parameter marker), skipping
    * string literals, quoted identifiers, and comments. */
  def rewriteVars(sql: String): String = {
    val out = new StringBuilder(sql)
    for (t <- lex(sql).toks if t.kind == Param) out.setCharAt(t.start, ':')
    out.toString
  }

  /** First top-level `ORDER BY` at/after `from` as (start of ORDER,
    * just past BY) — SQL permits ANY whitespace/comments between the
    * two words, so a literal "ORDER BY" single-space match would let
    * `ORDER\nBY` slip past a tail split and be silently swallowed into
    * a parenthesized arm. */
  private def topLevelOrderBy(l: Lexed, from: Int = 0): Option[(Int, Int)] =
    l.topLevel("ORDER", from).flatMap(o =>
      l.nextCode(o.end).filter(l.is(_, "BY")).map(by => (o.start, by.end))).nextOption()

  /** Keywords that may legitimately be followed by `(` — an alias named
    * limit/offset followed by e.g. `FROM (SELECT ...)` must not make
    * the keyword-then-paren look like a function-call operand. */
  private val notAFunction = Set("FROM", "WHERE", "JOIN", "ON", "USING",
    "AND", "OR", "NOT", "IN", "EXISTS", "VALUES", "GROUP", "HAVING",
    "WHEN", "THEN", "ELSE", "CASE", "SELECT", "UNION", "INTERSECT",
    "EXCEPT", "DISTINCT", "ALL", "OVER", "PARTITION", "ORDER", "BY",
    "LATERAL", "CROSS", "INNER", "LEFT", "RIGHT", "FULL", "NATURAL",
    "TABLESAMPLE", "PIVOT", "UNPIVOT", "WINDOW", "AS", "BETWEEN", "LIKE")

  /** Whether the LIMIT/OFFSET keyword `t` starts a *clause*: it must be
    * followed by a plausible operand — number literal, `:`/`?`/`$`
    * parameter marker, ALL (LIMIT), a parenthesized expression
    * (`LIMIT (5)`, `LIMIT (SELECT n FROM cfg)`), or a function call
    * (`LIMIT least(10, n)` — an identifier directly followed by `(`).
    * A select-list column alias named `limit`/`offset` is followed by
    * ',', a keyword, or end-of-region — never by any of those operand
    * shapes (an alias followed by `(` is a syntax error) — so treating
    * it as the statement tail (and splicing mangled SQL) is excluded
    * while real expression operands stay detected. A BARE identifier
    * operand (`LIMIT n`) is indistinguishable from an alias and is not
    * claimed; parameter markers cover that use. */
  private def claimsOperand(l: Lexed, t: Tok): Boolean = l.nextCode(t.end).exists { op =>
    val c = l.char(op)
    def fnCall = op.kind == Word && !c.isDigit && !l.isAny(op, notAFunction) &&
      l.nextCode(op.end).exists(l.isChar(_, '('))
    c.isDigit || c == ':' || c == '?' || c == '$' || c == '(' ||
      (l.is(t, "LIMIT") && l.is(op, "ALL")) || fnCall
  }

  /** Start of the first top-level LIMIT/OFFSET clause at/after `from`. */
  private def limitStart(l: Lexed, from: Int = 0): Option[Int] =
    Seq("LIMIT", "OFFSET").flatMap(kw =>
      l.topLevel(kw, from).find(claimsOperand(l, _)).map(_.start)).minOption

  /** Start of a region's tail: its first top-level ORDER BY, LIMIT or
    * OFFSET clause at/after `from`. */
  private def tailStart(l: Lexed, from: Int = 0): Option[Int] =
    (topLevelOrderBy(l, from).map(_._1) ++ limitStart(l, from)).minOption

  /** Refuse a top-level `LIMIT <bare identifier>` at/after `from` in a
    * region a rewrite is about to restructure. [[claimsOperand]]
    * deliberately does not CLAIM a bare-identifier operand (an alias
    * NAMED `limit` is indistinguishable from the clause without a full
    * parse), so the splice would leave such a LIMIT inside the rewritten
    * subquery's ORDER BY tail — mangled SQL instead of a clear error.
    * Only occurrences whose operand token sits in tail position (end of
    * region, or followed by OFFSET) are flagged, so aliases named
    * `limit` mid-statement keep working. Also documented in README
    * ("SQL-surface notes"). */
  private def rejectBareLimitOperand(l: Lexed, from: Int = 0): Unit =
    for (t <- l.topLevel("LIMIT", from) if !claimsOperand(l, t); op <- l.nextCode(t.end)
         if op.kind == Word && !l.char(op).isDigit && !l.isAny(op, notAFunction) &&
           l.nextCode(op.end).forall(l.is(_, "OFFSET")))
      throw new IllegalArgumentException(
        s"LIMIT with a bare-identifier operand ('LIMIT ${l.text(op)}') cannot " +
          "be combined with a DISTINCT ON / QUALIFY / set-operation " +
          "rewrite (the rewriter cannot safely claim it): use a literal " +
          "LIMIT, a parameter marker, or a parenthesized expression")

  /** The first `DISTINCT ON (` at any depth: its DISTINCT token and the
    * key list's open paren. Comments may sit between the three. */
  private def distinctOn(l: Lexed): Option[(Tok, Tok)] =
    l.toks.iterator.filter(l.is(_, "DISTINCT")).flatMap(d =>
      l.nextCode(d.end).filter(l.is(_, "ON")).flatMap(on => l.nextCode(on.end))
        .filter(l.isChar(_, '(')).map(d -> _)).nextOption()

  /** The query region holding `t`, as offsets: inside its innermost
    * enclosing parens (subquery/CTE body), or the whole statement. */
  private def region(l: Lexed, t: Tok): (Int, Int) = l.enclosing(t) match {
    case None => (0, l.sql.length)
    case Some(open) => (open.end, need(l.mate(open))(s"unbalanced parens in: ${l.sql}").start)
  }

  private val setOps = Set("UNION", "INTERSECT", "EXCEPT")

  /** Every validated top-level set-operator occurrence, ascending:
    * (kwStart, armStart) where armStart is past the operator keyword and
    * its optional ALL/DISTINCT quantifier. An occurrence counts only if
    * followed by a SELECT/ALL/DISTINCT token or a parenthesized arm —
    * so `* EXCEPT (cols)` in a select list doesn't count: EXCEPT-the-
    * set-op is followed by SELECT/ALL/DISTINCT/`(SELECT`, EXCEPT-the-
    * projection by a plain column list. EVERY occurrence of each keyword
    * is examined — a failed validation (a `* EXCEPT (cols)` projection,
    * an identifier named `union`) must not mask a later genuine operator
    * in the same region. */
  private def setOpOccurrences(l: Lexed): Seq[(Int, Int)] =
    l.toks.filter(t => t.depth == 0 && l.isAny(t, setOps)).flatMap { t =>
      l.nextCode(t.end).flatMap { nxt =>
        if (l.is(nxt, "SELECT")) Some(nxt.start)
        else if (l.is(nxt, "ALL") || l.is(nxt, "DISTINCT")) l.nextCode(nxt.end).map(_.start)
        // parenthesized arm: the parens hold a query, never the column
        // list of an EXCEPT-projection
        else if (l.isChar(nxt, '(')) l.nextCode(nxt.end)
          .filter(in => l.is(in, "SELECT") || l.is(in, "WITH") || l.isChar(in, '('))
          .map(_ => nxt.start)
        else None
      }.map(t.start -> _)
    }

  /** Where arm 1 of a set-op statement begins: past an optional
    * `WITH [RECURSIVE] name [(cols)] AS (body), ...` prefix — CTEs
    * scope over EVERY arm, so they must stay outside the arm parens. */
  private def armOneStart(l: Lexed): Int = {
    val stmt = l.sql
    val first = l.nextCode(0)
    if (!first.exists(l.is(_, "WITH"))) return first.fold(0)(_.start)
    var from = l.nextCode(first.get.end).fold(-1)(t =>
      if (l.is(t, "RECURSIVE")) l.nextCode(t.end).fold(-1)(_.start) else t.start)
    var armStart = -1
    while (armStart < 0) {
      // each CTE item: name [(cols)] AS (body) — the item's AS is at
      // top level (a column list's parens close before it), the body's
      // parens carry everything else
      val as = need(l.topLevel("AS", from).nextOption())(s"malformed WITH clause in: $stmt")
      val open = need(l.nextCode(as.end).filter(l.isChar(_, '(')))(
        s"malformed CTE body in: $stmt")
      val close = need(l.mate(open))(s"unbalanced CTE parens in: $stmt")
      val after = need(l.nextCode(close.end))(s"WITH clause without a main query in: $stmt")
      if (l.isChar(after, ',')) from = after.end
      else armStart = after.start
    }
    armStart
  }

  /** Wrap every arm of a top-level set operation in parens so each arm
    * becomes its own independent rewrite region. The WITH prefix and the
    * statement-level ORDER BY/LIMIT/OFFSET tail stay outside (SQL
    * grammar permits a top-level ORDER BY only after the LAST arm — an
    * unparenthesized arm cannot carry one, which is exactly what makes
    * this parenthesization semantics-preserving). */
  private def parenthesizeSetOpArms(l: Lexed, occs: Seq[(Int, Int)]): String = {
    val stmt = l.sql
    // a bare-identifier LIMIT in the statement tail cannot be claimed
    // as part of the outer tail — refuse before splicing mangled SQL
    rejectBareLimitOperand(l, occs.last._2)
    val start = armOneStart(l)
    val tailIdx = tailStart(l, occs.last._2).getOrElse(stmt.length)
    val starts = start +: occs.map(_._2)
    val ends = occs.map(_._1) :+ tailIdx
    val sb = new StringBuilder(stmt.substring(0, start))
    for (k <- starts.indices) {
      if (k > 0) {
        sb += ' '; sb ++= stmt.substring(ends(k - 1), starts(k)).trim; sb += ' '
      }
      val arm = lex(stmt.substring(starts(k), ends(k)).trim)
      if (arm.toks.headOption.exists(t => arm.isChar(t, '(') && t.mate == arm.toks.length - 1))
        sb ++= arm.sql
      else { sb += '('; sb ++= arm.sql; sb += ')' }
    }
    if (tailIdx < stmt.length) { sb += ' '; sb ++= stmt.substring(tailIdx).trim }
    sb.toString
  }

  /** When the region `[start, end)` of `full` holds a top-level set
    * operation, `full` with the region's arms parenthesized, so the
    * rewrite loop recurses into the (now unambiguous) arm region. */
  private def splitSetOpArms(full: String, start: Int, end: Int, what: String): Option[String] = {
    val stmt = lex(full.substring(start, end))
    val occs = setOpOccurrences(stmt)
    Option.when(occs.nonEmpty) {
      val split = parenthesizeSetOpArms(stmt, occs)
      if (split == stmt.sql)
        throw new IllegalArgumentException(
          s"$what could not be isolated to a set-operation arm in: ${stmt.sql}")
      full.substring(0, start) + split + full.substring(end)
    }
  }

  /** Apply `step` to the re-lexed statement until it finds nothing more
    * to rewrite (at most 64 passes). */
  private def untilDone(sql: String, what: String)(step: Lexed => Option[String]): String = {
    var cur = sql
    var pass = 0
    while (pass < 64) step(lex(cur)) match {
      case Some(next) => cur = next; pass += 1
      case None => return cur
    }
    throw new IllegalStateException(
      s"$what rewrite did not terminate after 64 passes: $sql")
  }

  /** Rewrite every `SELECT DISTINCT ON (k1, k2) list FROM tail
    * [ORDER BY o] [LIMIT n [OFFSET m]]` — top-level, in subqueries, and
    * in CTE bodies — into a row_number window over (k1, k2) ordered by
    * `o` (or the keys when absent), keeping the first row per key group;
    * LIMIT/OFFSET apply after dedup and output ordering follows the
    * ORDER BY, like PostgreSQL/exosql.
    *
    * Each occurrence is rewritten within its own query region: from its
    * owning SELECT to the closing paren of the innermost enclosing
    * parens (subquery/CTE body) or end of statement. A DISTINCT ON in a
    * set-operation arm (UNION/INTERSECT/EXCEPT at the same level) is
    * handled by first parenthesizing every arm (WITH prefix and the
    * statement-level ORDER BY/LIMIT/OFFSET stay outside) and then
    * recursing into the arm region — an unparenthesized arm cannot
    * grammatically carry its own ORDER BY, so its window order falls
    * back to the keys, exactly PostgreSQL's contract. */
  def rewriteDistinctOn(sql: String): String =
    untilDone(sql, "DISTINCT ON")(l =>
      distinctOn(l).map { case (d, open) => rewriteOneDistinctOn(l, d, open) })

  /** Rewrite the `DISTINCT ON` at `d` (key list opening at `keysOpen`),
    * splicing the windowed form back into the surrounding statement. */
  private def rewriteOneDistinctOn(l: Lexed, d: Tok, keysOpen: Tok): String = {
    val full = l.sql
    val sel = l.prevCode(d).filter(l.is(_, "SELECT")).getOrElse(
      throw new IllegalArgumentException(
        s"DISTINCT ON at offset ${d.start} does not directly follow a SELECT — " +
          "cannot rewrite; use a row_number() window instead"))
    val (stmtStart, regionEnd) = region(l, sel)
    val sql = full.substring(sel.start, regionEnd)
    // an optimizer hint between SELECT and DISTINCT ON would be silently
    // dropped by the rewrite (it must directly follow a SELECT) — refuse
    // loudly rather than run with different partitioning than written
    if (full.substring(sel.end, d.start).contains("/*+"))
      throw new IllegalArgumentException(
        "optimizer hints cannot be combined with DISTINCT ON (the rewrite " +
          "would drop them): apply the hint to the row_number() window form")
    // the set-op scan must cover the WHOLE enclosing statement, not just
    // the text after this SELECT — a DISTINCT ON in a LATER arm
    // (`SELECT ... UNION SELECT DISTINCT ON ...`) would otherwise hijack
    // the union-level ORDER BY as its per-key dedup order.
    splitSetOpArms(full, stmtStart, regionEnd, "DISTINCT ON").getOrElse {
      val close = need(l.mate(keysOpen))(s"unbalanced DISTINCT ON parens in: $sql")
      val keys = full.substring(keysOpen.end, close.start).trim
      val rest = lex(full.substring(close.end, regionEnd)) // "<select list> FROM <tail>"
      // LIMIT/OFFSET apply AFTER dedup (PostgreSQL) — peel them off the
      // tail so they end up on the outer query, not inside the window; a
      // bare-identifier LIMIT cannot be peeled safely — refuse loudly
      rejectBareLimitOperand(rest)
      val ob = topLevelOrderBy(rest)
      val lim = limitStart(rest, ob.fold(0)(_._2)).getOrElse(rest.sql.length)
      val bodyEnd = ob.fold(lim)(_._1)
      val orderBy = ob.fold("")(o => rest.sql.substring(o._2, lim).trim)
      val trailing = if (lim < rest.sql.length) " " + rest.sql.substring(lim).trim else ""
      val fromIdx = need(rest.topLevel("FROM").nextOption().filter(_.start < bodyEnd))(
        s"DISTINCT ON without FROM in: $sql").start
      val selectList = rest.sql.substring(0, fromIdx).trim
      val fromTail = rest.sql.substring(fromIdx, bodyEnd)
      val windowOrder = if (orderBy.nonEmpty) orderBy else keys
      val outer =
        (if (orderBy.nonEmpty) s" ORDER BY $orderBy" else "") + trailing
      // inner keeps ALL source columns so the outer select list AND the
      // outer ORDER BY may reference columns not in the projection
      // (PostgreSQL DISTINCT ON allows both)
      val outerList =
        if (selectList == "*") "* EXCEPT (__graft_rn)" else selectList
      val rewritten =
        s"""SELECT $outerList FROM (
           |  SELECT *, row_number() OVER (PARTITION BY $keys ORDER BY $windowOrder) AS __graft_rn
           |  $fromTail
           |) WHERE __graft_rn = 1$outer""".stripMargin
      full.substring(0, sel.start) + rewritten + full.substring(regionEnd)
    }
  }

  // QUALIFY is NOT reserved in Spark's grammar, so `qualify` may appear
  // as a perfectly valid column/alias/table name. An occurrence is only
  // treated as the clause keyword when it sits in CLAUSE position:
  // not where an expression/identifier is expected (prev token), and
  // followed by something that can start a predicate (next token).
  private val exprContextPrev = Set("AS", "SELECT", "BY", "ON", "AND", "OR",
    "NOT", "WHERE", "FROM", "JOIN", "HAVING", "WHEN", "THEN", "ELSE", "IN",
    "LIKE", "CASE", "DISTINCT", "ALL", "UNION", "INTERSECT", "EXCEPT",
    "BETWEEN", "IS", "OVER", "PARTITION", "RETURNING")
  private val nonPredNext = Set("FROM", "ON", "USING", "JOIN", "LEFT", "RIGHT",
    "INNER", "FULL", "CROSS", "WHERE", "GROUP", "ORDER", "LIMIT", "OFFSET",
    "UNION", "INTERSECT", "EXCEPT", "AS", "ASC", "DESC", "AND", "OR",
    // table-context keywords that may follow a subquery ALIAS named
    // `qualify`: `FROM (SELECT ...) qualify NATURAL JOIN t` is an alias,
    // not a clause — treating it as one would splice invalid SQL.
    // Known tradeoff: a genuine QUALIFY whose predicate STARTS with a
    // column named like one of these (`QUALIFY window = 1`) reads as an
    // alias — parenthesize the predicate (`QUALIFY (window = 1)`) to
    // force the clause reading.
    "NATURAL", "LATERAL", "PIVOT", "UNPIVOT", "TABLESAMPLE", "WINDOW",
    "HAVING", "SEMI", "ANTI")
  private val opChars: Set[Char] = ",.()=<>+-*/%|&^:".toSet

  /** First `QUALIFY` in CLAUSE position (any depth), or None.
    * Occurrences used as an identifier — `a AS qualify`, `WHERE qualify
    * = 1`, `JOIN qualify ON ...` — are skipped so existing schemas keep
    * working. */
  private def qualifyClause(l: Lexed): Option[Tok] = {
    def op(t: Tok) = t.kind == Punct && opChars(l.char(t))
    l.toks.find(q => l.is(q, "QUALIFY") &&
      // ')' is allowed as predecessor: `FROM (subquery) QUALIFY p` is a
      // genuine clause; the implicit-alias reading (`SELECT f(x) qualify
      // ...`) is excluded by the next-token check (an alias is followed
      // by ',', FROM, end — never a predicate start). A string literal
      // completes a token too (`WHERE c = 'x' QUALIFY ...`).
      l.prevCode(q).exists(p => (!op(p) || l.isChar(p, ')')) && !l.isAny(p, exprContextPrev)) &&
      // '(' starts a valid (parenthesized) predicate; other operator
      // chars cannot start one
      l.nextCode(q.end).exists(n => (!op(n) || l.isChar(n, '(')) && !l.isAny(n, nonPredNext)))
  }

  /** Rewrite `QUALIFY <pred>` (DuckDB/Snowflake-style window filter; not
    * in Spark's grammar) into a subquery: the predicate becomes a
    * boolean select item of the inner query (windows evaluate after
    * grouping, exactly QUALIFY's evaluation point; a NULL predicate
    * filters like false) and the outer query keeps `WHERE` plus any
    * trailing ORDER BY/LIMIT/OFFSET. Handled at any depth (subqueries,
    * CTE bodies) via the same region splice as DISTINCT ON; set-op arms
    * are parenthesized and recursed like DISTINCT ON's. Identifier uses
    * of the (non-reserved) word — aliases, columns, table names — are
    * left untouched via clause-position detection (including the
    * implicit-alias form `f(x) qualify`, excluded by the next-token
    * check). */
  def rewriteQualify(sql: String): String =
    untilDone(sql, "QUALIFY")(l => qualifyClause(l).map(rewriteOneQualify(l, _)))

  private def rewriteOneQualify(l: Lexed, q: Tok): String = {
    val full = l.sql
    val (regionStart, regionEnd) = region(l, q)
    val sql = full.substring(regionStart, regionEnd)
    // set-op arms: parenthesize and recurse, exactly like DISTINCT ON
    // (this also bounds the arm's QUALIFY predicate, which would
    // otherwise swallow the `UNION ...` text that follows it)
    splitSetOpArms(full, regionStart, regionEnd, "QUALIFY").getOrElse {
      val tail = full.substring(q.end, regionEnd)
      val cut = tailStart(lex(tail)).getOrElse(tail.length)
      val pred = tail.substring(0, cut).trim
      require(pred.nonEmpty, s"empty QUALIFY predicate in: $sql")
      val outerTail = tail.substring(cut).trim match {
        case "" => ""
        case t => " " + t
      }
      val head = lex(full.substring(regionStart, q.start))
      val fromIdx = need(head.topLevel("FROM").nextOption())(s"QUALIFY without FROM in: $sql").start
      val rewritten =
        s"""SELECT * EXCEPT (__graft_q) FROM (
           |  ${head.sql.substring(0, fromIdx).trim}, ($pred) AS __graft_q ${head.sql.substring(fromIdx)}
           |) WHERE __graft_q$outerTail""".stripMargin
      full.substring(0, regionStart) + rewritten + full.substring(regionEnd)
    }
  }

  def rewrite(sql: String): String =
    rewriteQualify(rewriteDistinctOn(rewriteVars(sql)))
}
