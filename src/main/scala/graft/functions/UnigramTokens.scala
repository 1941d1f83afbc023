package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The shared UNIGRAM-LM segmentation — one implementation behind
  * [[graft.operators.TextAnalysis.unigramTokTrain]]'s hard-EM rounds
  * (driver-side) and [[UnigramTokens]] (the serving expression), so
  * training and serving cannot drift (the [[BpeApply]] discipline for
  * the other mainstream public tokenizer family, Kudo '18
  * SentencePiece):
  *
  * per word, the segmentation into vocabulary pieces maximizing the
  * EXACT total score, where each piece's score is its round-6-quantized
  * log-probability in MICRO units (a Long) — path scores are integer
  * sums, so the argmax compares exact operands on every engine. Ties
  * break deterministically: fewer pieces first, then the
  * space-joined piece sequence ascending under UTF-8 BYTE order
  * (Spark's UTF8String / DuckDB's collation — NOT Java's UTF-16
  * compareTo, which diverges beyond the BMP). The tie-break is
  * suffix-decomposable (score and piece count are additive; for a fixed
  * head piece the joined string orders by the joined suffix), so the
  * Viterbi DP below provably returns the same winner as the oracle's
  * exhaustive path enumeration.
  *
  * A codepoint with NO vocabulary piece covering it (serving text
  * unseen at training — training always retains every corpus
  * codepoint) segments as itself with [[UnigramApply.UnkMicros]] and
  * token id 0, the SentencePiece `<unk>` convention.
  */
private[graft] object UnigramApply {

  /** log-prob of an unknown codepoint in micro units (ln p = −20). */
  val UnkMicros: Long = -20000000L

  /** micro-quantized log-probability: round(ln(cnt/total), 6) carried
    * as an exact integer count of 1e-6 units (HALF_UP — DuckDB's
    * round-half-away agrees on the negative values ln produces). */
  def micros(cnt: Long, total: Long): Long =
    BigDecimal(math.log(cnt.toDouble / total.toDouble) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact

  /** Best segmentation of `word` under the piece→micros score map:
    * suffix Viterbi with the exact (score desc, n pieces asc, joined
    * path asc) order. Returns the piece sequence. */
  def segment(word: String,
              score: java.util.HashMap[String, java.lang.Long],
              maxPieceLen: Int): IndexedSeq[String] = {
    val cps = BpeApply.codepoints(word)
    val n = cps.length
    if (n == 0) return IndexedSeq.empty
    // best(i) = (score, nPieces, joined, pieces) for the suffix at i
    val bs = new Array[Long](n + 1)
    val bn = new Array[Int](n + 1)
    val bj = new Array[String](n + 1)
    val bp = new Array[List[String]](n + 1)
    bs(n) = 0L; bn(n) = 0; bj(n) = ""; bp(n) = Nil
    var i = n - 1
    while (i >= 0) {
      var ws = 0L; var wn = 0; var wj: String = null; var wp: List[String] = null
      val maxL = math.min(maxPieceLen, n - i)
      var l = 1
      val sb = new java.lang.StringBuilder()
      while (l <= maxL) {
        sb.append(cps(i + l - 1))
        val p = sb.toString
        val mu = score.get(p)
        if (mu != null) {
          val cs = mu.longValue() + bs(i + l)
          val cn = 1 + bn(i + l)
          val cj = if (bj(i + l).isEmpty) p else p + " " + bj(i + l)
          if (wj == null || cs > ws ||
              (cs == ws && (cn < wn || (cn == wn && BpeApply.utf8Lt(cj, wj))))) {
            ws = cs; wn = cn; wj = cj; wp = p :: bp(i + l)
          }
        }
        l += 1
      }
      if (wj == null) { // unknown codepoint — <unk> singleton
        val p = cps(i)
        ws = UnkMicros + bs(i + 1)
        wn = 1 + bn(i + 1)
        wj = if (bj(i + 1).isEmpty) p else p + " " + bj(i + 1)
        wp = p :: bp(i + 1)
      }
      bs(i) = ws; bn(i) = wn; bj(i) = wj; bp(i) = wp
      i -= 1
    }
    bp(0).toIndexedSeq
  }

  def scoreMap(pieces: IndexedSeq[String],
               micros: IndexedSeq[Long]): java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](pieces.length * 2)
    var i = 0
    while (i < pieces.length) {
      m.putIfAbsent(pieces(i), java.lang.Long.valueOf(micros(i)))
      i += 1
    }
    m
  }
}

/** Tokenize-to-ids under a TRAINED unigram-LM piece table — the
  * serving expression of the SentencePiece-style family ([[BpeTokens]]
  * is the BPE family's): per whitespace word, the max-score Viterbi
  * segmentation ([[UnigramApply.segment]] — the identical routine the
  * hard-EM training rounds ran, so train and serve cannot drift), the
  * document's piece sequence emitted in order across words.
  *
  * `token_id` is the piece's 1-based position in the PASSED table order
  * (the stored table's (cnt desc, piece asc) ranking — stable across
  * serves of the same store); unknown codepoints emit id 0. Output
  * element: struct(token STRING, token_id INT); NULL input → NULL; a
  * document with no tokens yields an empty array. CodegenFallback like
  * [[BpeTokens]] — the per-word DP dominates and is one compiled-JVM
  * pass. */
case class UnigramTokens(child: Expression,
                         pieces: IndexedSeq[String],
                         micros: IndexedSeq[Long],
                         maxPieceLen: Int)
    extends UnaryExpression with CodegenFallback {

  require(pieces.nonEmpty && pieces.length == micros.length,
    s"piece table shape drift: ${pieces.length} pieces, ${micros.length} scores")
  require(pieces.forall(s => s != null && s.nonEmpty &&
      !s.exists(_.isWhitespace)),
    "unigram pieces must be non-null, non-empty and whitespace-free: " +
      "pieces come from whitespace-split words and the tie-break " +
      "separator is a space")
  require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")

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
          s"unigram_tokens expects array<string> tokens, got $other")
    }

  @transient private lazy val score = UnigramApply.scoreMap(pieces, micros)
  @transient private lazy val ids: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](pieces.length * 2)
    var i = 0
    while (i < pieces.length) { m.putIfAbsent(pieces(i), i + 1); i += 1 }
    m
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
          UnigramApply.segment(w, score, maxPieceLen).foreach { p =>
            val id = ids.get(p)
            out += InternalRow(UTF8String.fromString(p),
              if (id == null) 0 else id.intValue())
          }
        }
      }
      t += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
