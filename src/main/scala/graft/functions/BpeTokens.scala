package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The shared BPE merge-application loop — ONE implementation behind
  * [[BpeCount]] (counts terminal symbols) and [[BpeTokens]] (emits
  * them), so the two serving surfaces cannot drift: per word, the
  * LOWEST-rank applicable merge is applied to all its left-to-right
  * non-overlapping occurrences, repeatedly, until none applies (the
  * published Sennrich '16 apply loop, the exact semantics
  * [[graft.operators.TextAnalysis.bpeTrain]] used when choosing the
  * merges). */
private[graft] object BpeApply {

  def rankMap(lefts: IndexedSeq[String],
              rights: IndexedSeq[String]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](lefts.length * 2)
    var i = 0
    // key = left + ' ' + right (the separator cannot occur inside a
    // symbol built from whitespace-split words — enforced upstream)
    while (i < lefts.length) {
      m.putIfAbsent(lefts(i) + " " + rights(i), i)
      i += 1
    }
    m
  }

  def codepoints(s: String): scala.collection.mutable.ArrayBuffer[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val n = Character.charCount(cp)
      out += s.substring(i, i + n)
      i += n
    }
    out
  }

  /** Spark's binary-UTF8 string order (`UTF8String.compareTo`, which
    * DuckDB's collation shares — not Java's UTF-16 order): the tie-break
    * of both tokenizer trainers and of the unigram Viterbi decode. */
  private[graft] def utf8Lt(a: String, b: String): Boolean =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0

  /** Apply ONE merge to all its left-to-right non-overlapping
    * occurrences in `syms`, in place — string `replace`'s application
    * order, the semantics the training rounds and the serve loop share
    * (and [[graft.operators.TextAnalysis.bpeTrainLocal]]'s per-round
    * step). */
  def applyMerge(syms: scala.collection.mutable.ArrayBuffer[String],
                 l: String, r: String): Unit = {
    var j = 0
    while (j < syms.length - 1) {
      if (syms(j) == l && syms(j + 1) == r) {
        syms(j) = l + r
        syms.remove(j + 1)
      }
      j += 1
    }
  }

  /** Apply the merge table to `syms` IN PLACE until no merge applies. */
  def mergeAll(syms: scala.collection.mutable.ArrayBuffer[String],
               rank: java.util.HashMap[String, Integer],
               lefts: IndexedSeq[String],
               rights: IndexedSeq[String]): Unit = {
    var done = false
    while (!done && syms.length > 1) {
      // lowest-rank pair present anywhere in the word
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.get(syms(i) + " " + syms(i + 1))
        if (r != null && r.intValue() < best) best = r.intValue()
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else applyMerge(syms, lefts(best), rights(best))
    }
  }
}

/** Tokenize-to-ids under a TRAINED BPE merge table — the missing half
  * of the tokenizer lifecycle after [[BpeCount]] (which replays the
  * same merges but emits only the LENGTH): the document's terminal
  * symbol SEQUENCE, in order across its whitespace words, each with a
  * stable vocabulary id. `size(output) == BpeCount(...)` by
  * construction (both run [[BpeApply.mergeAll]]; spec-pinned), so
  * every token-denominated operator can re-base on learned tokens.
  *
  * Stable id scheme (derivable from the merge table alone, no corpus
  * pass — the GPT-2 byte+merge-rank idea lifted to codepoints):
  *  - a single-CODEPOINT symbol's id is its Unicode codepoint
  *    (0 … 0x10FFFF); merge results always have ≥ 2 codepoints, so the
  *    ranges cannot collide;
  *  - a merged symbol's id is `0x110000 + r` where `r` is the LOWEST
  *    rank whose `left || right` equals the symbol (two merges can
  *    build the same string — ('a','bc') and ('ab','c') — and a
  *    terminal symbol only exists because SOME merge produced exactly
  *    that string, so the lookup always succeeds; min-rank makes it
  *    deterministic). The DuckDB oracle replays the scheme as
  *    `CASE WHEN length(tok)=1 THEN unicode(tok) ELSE 1114112 + min(rank) END`.
  *
  * Output element: struct(token STRING, token_id INT). Empty words and
  * NULL tokens contribute nothing; NULL input → NULL; a document with
  * no tokens yields an EMPTY array (its explode emits no rows, matching
  * the oracle's absent rows). CodegenFallback like [[BpeCount]] — the
  * merge loop dominates and is already a single compiled-JVM pass. */
case class BpeTokens(child: Expression,
                     lefts: IndexedSeq[String],
                     rights: IndexedSeq[String])
    extends UnaryExpression with CodegenFallback {

  require(lefts.length == rights.length,
    s"merge table shape drift: ${lefts.length} lefts, ${rights.length} rights")
  require(lefts.forall(s => s != null && !s.exists(_.isWhitespace)) &&
          rights.forall(s => s != null && !s.exists(_.isWhitespace)),
    "bpe merge-table symbols must be non-null and whitespace-free: the " +
      "rank-map separator (and the tokenizer itself) assume symbols come " +
      "from whitespace-split words")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("token_id", IntegerType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(_: StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bpe_tokens expects array<string> tokens, got $other")
    }

  @transient private lazy val rank = BpeApply.rankMap(lefts, rights)

  // symbol string -> vocabulary id for MERGED symbols (min rank wins;
  // single-codepoint ids come straight from the codepoint)
  @transient private lazy val mergedId: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](lefts.length * 2)
    var i = 0
    while (i < lefts.length) {
      m.putIfAbsent(lefts(i) + rights(i), 0x110000 + i)
      i += 1
    }
    m
  }

  private def idOf(sym: String): Int =
    if (sym.codePointCount(0, sym.length) == 1) sym.codePointAt(0)
    else {
      val id = mergedId.get(sym)
      // unreachable for outputs of mergeAll (a multi-codepoint terminal
      // symbol is always the result of its last-applied merge) — guards
      // internal drift loudly rather than emitting a wrong id
      if (id == null) throw new IllegalStateException(
        s"bpe_tokens: terminal symbol '$sym' not derivable from the merge table")
      id.intValue()
    }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val len = arr.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
    var t = 0
    while (t < len) {
      if (!arr.isNullAt(t)) {
        val w = arr.getUTF8String(t).toString
        if (w.nonEmpty) {
          val syms = BpeApply.codepoints(w)
          BpeApply.mergeAll(syms, rank, lefts, rights)
          var i = 0
          while (i < syms.length) {
            out += InternalRow(UTF8String.fromString(syms(i)), idOf(syms(i)))
            i += 1
          }
        }
      }
      t += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
