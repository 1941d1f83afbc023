package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM data pipelines (driver mandate,
  * SURVEY.md §2.10): token counting, quality scoring, language ID,
  * document fingerprinting.
  *
  * Everything here is composed from codegen'd built-ins (no UDFs) and
  * is embarrassingly parallel — per-row expressions that scale linearly
  * with no shuffle. Oracle-comparable by construction: only exact string
  * ops and rational arithmetic (no transcendental functions, whose libm
  * implementations differ across engines).
  */
object TextAnalysis {

  /** A whitespace run. The class is spelled out explicitly rather
    * than `\s` for the same reason as [[pretokPattern]]: Java's `\s`
    * includes `\x0B` (vertical tab), RE2's — and therefore the DuckDB
    * oracle's — does not; the explicit class is exactly Java's `\s`,
    * so the Spark side is bit-identical to the former `\s+` form on
    * every input while the two engines now agree on `\x0B`. Every
    * oracle `string_split_regex`/`regexp_replace` whitespace split
    * carries the same explicit class (round-14 sweep). */
  private val whitespace = "[\\t\\n\\x0B\\f\\r ]+"

  /** Whitespace tokens: `text` split on [[whitespace]] runs. */
  def tokens(text: Column): Column = split(text, whitespace)

  /** BPE PRE-TOKENIZATION pattern — the Sennrich-style class split
    * every real tokenizer runs before the merge loop (GPT-2's regex is
    * the same idea with lookahead; this form is lookaround-free so
    * RE2 — and therefore the DuckDB oracle — replays it verbatim):
    * letter runs, digit runs, and runs of everything else (except
    * whitespace) are separate pre-tokens, so `word.` and `word` share
    * the stem symbol and punctuation never glues onto words. Without
    * it the learned vocabulary systematically inflates (`word.`,
    * `word,`, `word"` all train as unrelated symbols).
    *
    * The whitespace class is spelled out EXPLICITLY (`\t\n\x0B\f\r` +
    * space) rather than `\s`, because `\s` is NOT the same class in the
    * two engines that replay this pattern: Java's `\s` includes `\x0B`
    * (vertical tab), RE2's — and therefore DuckDB's — does not, so a
    * document containing `\x0B` would tokenize differently on the two
    * sides and hash-mismatch the oracle. The explicit class is exactly
    * Java's `\s`, so the Spark side is bit-identical to the former
    * `\s` form on every input. */
  val pretokPattern: String =
    "\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\t\\n\\x0B\\f\\r ]+"

  /** Pre-tokenized words under [[pretokPattern]] — the `preTokenize`
    * form of [[tokens]] for the BPE train/apply family. Never emits
    * empty or whitespace-bearing tokens (the classes exclude `\s`). */
  def pretokens(text: Column): Column =
    regexp_extract_all(text, lit(pretokPattern), lit(0))

  /** Word extraction for the BPE family: whitespace split (the
    * round-11 default, bit-stable for existing gates) or the
    * [[pretokPattern]] class split. */
  private def bpeWords(text: Column, preTokenize: Boolean): Column =
    if (preTokenize) pretokens(text) else tokens(text)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: words, numbers and single punctuation marks
    * counted separately (a cheap deterministic proxy for a real BPE). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\\t\\n\\x0B\\f\\r ]"), lit(0)))

  /** Token count under a STORED BPE merge table — the real-merges
    * upgrade of [[bpeishTokenCount]]: `merges` is a (rank, left, right)
    * frame (typically a parquet read-back — train/choose merges once,
    * store, count every run, the classifier-weights symmetry), collected
    * to the driver (vocabulary-sized — KB) and inlined into ONE compiled
    * per-row expression ([[graft.functions.BpeCount]]): per whitespace
    * word, the lowest-rank applicable merge applies to all its
    * left-to-right occurrences, repeatedly, until none applies; the doc
    * count sums terminal symbols over words. Output: (idCol, bpe_cnt).
    * The DuckDB oracle replays the identical process as a recursive CTE
    * over delimiter-wrapped symbol strings. */
  /** Collect a (rank, left, right) merge frame to rank-sorted driver
    * rows — the vocabulary-scale (KB) serve-time boundary shared by
    * [[bpeCount]] and [[bpeTokenize]]. */
  private def collectMerges(merges: DataFrame,
                            opName: String): Array[(Int, String, String)] = {
    val cols = merges.columns.toSet
    require(Set("rank", "left", "right").subsetOf(cols),
      s"merge table must carry (rank, left, right), got ${cols.toSeq.sorted.mkString(",")}")
    val m = merges.select(col("rank").cast("int"), col("left").cast("string"),
        col("right").cast("string"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    require(m.nonEmpty, s"$opName: empty merge table")
    m
  }

  def bpeCount(df: DataFrame, idCol: String, textCol: String,
               merges: DataFrame, preTokenize: Boolean = false): DataFrame = {
    val m = collectMerges(merges, "bpeCount")
    df.select(col(idCol),
      org.apache.spark.sql.GraftBridge.column(graft.functions.BpeCount(
        org.apache.spark.sql.GraftBridge.expression(
          bpeWords(col(textCol), preTokenize)),
        m.map(_._2).toIndexedSeq, m.map(_._3).toIndexedSeq)).as("bpe_cnt"))
  }

  /** The trained tokenizer as a COLUMN function — [[bpeCount]]'s
    * counting expression factored for operators that budget/pack by a
    * token-count column ([[Sampling.tokenBudget]]'s `tokenCounter`
    * hook): collect the stored merge table once (vocabulary-scale, the
    * serve-time boundary), return `text → bpe token count`. */
  def bpeCounter(merges: DataFrame,
                 preTokenize: Boolean = false): Column => Column = {
    val m = collectMerges(merges, "bpeCounter")
    val lefts = m.map(_._2).toIndexedSeq
    val rights = m.map(_._3).toIndexedSeq
    (text: Column) =>
      org.apache.spark.sql.GraftBridge.column(graft.functions.BpeCount(
        org.apache.spark.sql.GraftBridge.expression(
          bpeWords(text, preTokenize)),
        lefts, rights))
  }

  /** Tokenize-to-ids under a STORED BPE merge table — the missing half
    * of the tokenizer lifecycle after [[bpeCount]]: the document's
    * terminal symbol sequence under the trained merges, one output row
    * per token with its 1-based position and stable vocabulary id
    * ([[graft.functions.BpeTokens]]: codepoint for base symbols,
    * `0x110000 + min-rank` for merged — derivable from the merge table
    * alone). Output: (idCol, pos, token, token_id); a document with no
    * tokens emits no rows (posexplode of the empty array), matching the
    * DuckDB oracle's absent rows. `count(*) per doc == bpe_cnt` by
    * shared-loop construction (spec-pinned), so [[Sampling.tokenBudget]]
    * / [[chunk]] / [[packOffsets]] consumers can budget in LEARNED
    * tokens instead of whitespace ones. */
  def bpeTokenize(df: DataFrame, idCol: String, textCol: String,
                  merges: DataFrame, preTokenize: Boolean = false): DataFrame = {
    val m = collectMerges(merges, "bpeTokenize")
    df.select(col(idCol),
        posexplode(org.apache.spark.sql.GraftBridge.column(
          graft.functions.BpeTokens(
            org.apache.spark.sql.GraftBridge.expression(
              bpeWords(col(textCol), preTokenize)),
            m.map(_._2).toIndexedSeq, m.map(_._3).toIndexedSeq))))
      .select(col(idCol), (col("pos") + 1).cast("int").as("pos"),
        col("col.token").as("token"), col("col.token_id").as("token_id"))
  }

  /** BPE merge-table TRAINING — the learning counterpart of
    * [[bpeCount]] (the published Sennrich '16 recipe): start from
    * codepoint symbols per whitespace word, and for `nMerges` rounds
    * pick the adjacent symbol pair with the highest corpus occurrence
    * count (every adjacent position counts, weighted by word frequency;
    * ties break (count desc, left asc, right asc) — deterministic) and
    * merge all its left-to-right non-overlapping occurrences, exactly
    * the application semantics [[graft.functions.BpeCount]] will replay
    * at serve time. Output: (rank, left, right) — the table
    * [[bpeCount]] consumes, so train→store→apply round-trips.
    *
    * Scale shape — the standard recipe's, and the reason it works at
    * corpus scale: ONE corpus pass builds the (word, count) frequency
    * table, which is VOCABULARY-scale regardless of corpus size; every
    * training round runs on that table only (one pair-count aggregate +
    * one literal `replace` projection, lineage truncated per round —
    * the k-means round pattern). The per-round winner is a 1-row
    * collect; the result is nMerges driver rows. Symbol strings use the
    * delimiter-wrapped ' x  y ' form shared with the DuckDB oracle, so
    * `replace` occurrences cannot overlap or start mid-symbol. Fewer
    * than `nMerges` distinct pairs ⇒ the table ends early (every
    * remaining word is a single symbol), never an error. */
  def bpeTrain(df: DataFrame, idCol: String, textCol: String,
               nMerges: Int,
               preTokenize: Boolean = false): DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val spark = df.sparkSession
    val wf = df.select(explode(bpeWords(col(textCol), preTokenize)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    var words = Reuse.Local(wf.select(
      concat(lit(" "), array_join(split(col("w"), ""), "  "), lit(" ")).as("s"),
      col("cnt")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    var r = 0
    var exhausted = false
    while (r < nMerges && !exhausted) {
      val syms = split(trim(col("s")), "  ")
      val best = words
        .filter(size(syms) >= 2)
        .select(explode(arrays_zip(
          slice(syms, lit(1), size(syms) - 1),
          slice(syms, lit(2), size(syms) - 1))).as("p"), col("cnt"))
        .select(col("p.0").as("l"), col("p.1").as("r"), col("cnt"))
        .groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect() // bounded: the single winning pair
      if (best.isEmpty) exhausted = true
      else {
        val l = best(0).getString(0); val rt = best(0).getString(1)
        merges += ((r, l, rt))
        words = Reuse.Local(words.select(
          replace(col("s"), lit(s" $l  $rt "), lit(s" $l$rt ")).as("s"),
          col("cnt")))
        r += 1
      }
    }
    require(merges.nonEmpty,
      "bpeTrain: corpus has no adjacent symbol pairs (no multi-char words)")
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right")
  }

  /** [[bpeTrain]] for PRODUCTION vocabulary sizes — same recipe, same
    * output bit-for-bit (spec-pinned at the gate corpus), different
    * round engine: the distributed form ends every merge round in a
    * 1-row collect, i.e. nMerges SEQUENTIAL Spark jobs — fine at
    * nMerges=8, a scheduler wall at a 32k-merge vocab. This form keeps
    * the part that scales with DATA distributed (the ONE corpus pass
    * building the word-frequency table) and collects that table ONCE —
    * it is vocabulary-scale (KB–MB) regardless of corpus size, the
    * same boundary the serve path already crosses for the merge table —
    * then runs all nMerges rounds driver-side over it: pair counts are
    * one hash-map sweep, the winner the same (count desc, left asc,
    * right asc) order under Spark's binary-UTF8 string comparison
    * ([[org.apache.spark.unsafe.types.UTF8String]] — NOT Java's UTF-16
    * `compareTo`, which diverges beyond the BMP), the application
    * [[graft.functions.BpeApply.applyMerge]] — the identical
    * left-to-right loop the distributed `replace` projection and the
    * serve expressions run. */
  def bpeTrainLocal(df: DataFrame, idCol: String, textCol: String,
                    nMerges: Int, preTokenize: Boolean = false): DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val spark = df.sparkSession
    // the only corpus-scale work: one distributed word-frequency pass
    val vocab: Array[(scala.collection.mutable.ArrayBuffer[String], Long)] =
      df.select(explode(bpeWords(col(textCol), preTokenize)).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .collect()
        .map(r => (graft.functions.BpeApply.codepoints(r.getString(0)),
          r.getLong(1)))
    import graft.functions.BpeApply.utf8Lt
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    var r = 0
    var exhausted = false
    while (r < nMerges && !exhausted) {
      // pair-count sweep: every adjacent position, weighted by word
      // frequency — the distributed round's arrays_zip/groupBy/sum
      val pc = new java.util.HashMap[(String, String), java.lang.Long]()
      vocab.foreach { case (syms, cnt) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          val cur = pc.get(k)
          pc.put(k, if (cur == null) cnt else cur.longValue() + cnt)
          i += 1
        }
      }
      if (pc.isEmpty) exhausted = true
      else {
        var bl: String = null; var br: String = null; var bc = Long.MinValue
        pc.forEach { (k, v) =>
          val c = v.longValue()
          val wins = c > bc || (c == bc &&
            (utf8Lt(k._1, bl) || (k._1 == bl && utf8Lt(k._2, br))))
          if (wins) { bl = k._1; br = k._2; bc = c }
        }
        merges += ((r, bl, br))
        vocab.foreach { case (syms, _) =>
          graft.functions.BpeApply.applyMerge(syms, bl, br)
        }
        r += 1
      }
    }
    require(merges.nonEmpty,
      "bpeTrainLocal: corpus has no adjacent symbol pairs (no multi-char words)")
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right")
  }

  /** Unigram-LM tokenizer TRAINING — the other mainstream public
    * tokenizer family beside BPE (Kudo '18, SentencePiece's default):
    * seed a piece vocabulary from substring frequencies, then alternate
    * hard-EM re-estimation (segment every word by max-likelihood
    * Viterbi under the current piece scores, recount pieces from the
    * winning segmentations) with pruning to the target vocabulary.
    * Output: (token_id, piece, cnt, logp) — token_id is the 1-based
    * (cnt desc, piece asc) rank, logp the round-6-quantized
    * log-probability; [[unigramTokenize]] consumes the table, so
    * train → store → apply round-trips.
    *
    * Determinism (the cross-engine contract): piece scores are
    * round-6-quantized log-probs carried as exact MICRO-unit integers
    * ([[graft.functions.UnigramApply.micros]]), so Viterbi compares
    * exact integer sums; segmentation ties break (fewer pieces, then
    * space-joined sequence ascending under UTF-8 byte order); vocab
    * pruning ties break (cnt desc, piece asc under the same byte
    * order). Every corpus codepoint survives every round as a
    * single-char piece (count floored at 1), so training never hits
    * the `<unk>` path and coverage is total — the SentencePiece
    * character-coverage convention.
    *
    * Scale shape — the [[bpeTrainLocal]] boundary: ONE distributed
    * corpus pass builds the word-frequency table (vocabulary-scale
    * regardless of corpus size), collected once; seeding, every EM
    * round, and pruning run driver-side over that table. */
  def unigramTokTrain(df: DataFrame, idCol: String, textCol: String,
                      vocabSize: Int = 48, nRounds: Int = 2,
                      maxPieceLen: Int = 4, seedSize: Int = 64): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(nRounds >= 1, s"nRounds must be >= 1, got $nRounds")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(seedSize >= 1, s"seedSize must be >= 1, got $seedSize")
    val spark = df.sparkSession
    // the only corpus-scale work: one distributed word-frequency pass
    val wfreq: Array[(String, Long)] =
      df.select(explode(tokens(col(textCol))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
    require(wfreq.nonEmpty, "unigramTokTrain: empty corpus")
    import graft.functions.BpeApply.utf8Lt
    def byCntDesc(a: (String, Long), b: (String, Long)): Boolean =
      a._2 > b._2 || (a._2 == b._2 && utf8Lt(a._1, b._1))
    def isChar(p: String): Boolean = p.codePointCount(0, p.length) == 1
    // seed: substring occurrence counts weighted by word frequency
    val seed = scala.collection.mutable.HashMap.empty[String, Long]
    wfreq.foreach { case (w, f) =>
      val cps = graft.functions.BpeApply.codepoints(w)
      var i = 0
      while (i < cps.length) {
        val sb = new java.lang.StringBuilder()
        var l = 1
        val maxL = math.min(maxPieceLen, cps.length - i)
        while (l <= maxL) {
          sb.append(cps(i + l - 1))
          val p = sb.toString
          seed.update(p, seed.getOrElse(p, 0L) + f)
          l += 1
        }
        i += 1
      }
    }
    val chars0 = seed.toSeq.filter(t => isChar(t._1))
    var vocab: Seq[(String, Long)] = chars0 ++
      seed.toSeq.filterNot(t => isChar(t._1)).sortWith(byCntDesc).take(seedSize)
    val nChars = chars0.length
    // hard-EM + prune rounds, driver-side over the word table
    var r = 0
    while (r < nRounds) {
      val total = vocab.map(_._2).sum
      val score = new java.util.HashMap[String, java.lang.Long](vocab.size * 2)
      vocab.foreach { case (p, c) =>
        score.put(p, java.lang.Long.valueOf(
          graft.functions.UnigramApply.micros(c, total)))
      }
      val recount = scala.collection.mutable.HashMap.empty[String, Long]
      wfreq.foreach { case (w, f) =>
        graft.functions.UnigramApply.segment(w, score, maxPieceLen)
          .foreach(p => recount.update(p, recount.getOrElse(p, 0L) + f))
      }
      // chars always survive (count floored at 1 — coverage); unused
      // multi-char pieces drop; then prune to the target vocabulary
      val chars = vocab.filter(t => isChar(t._1))
        .map(t => t._1 -> math.max(recount.getOrElse(t._1, 0L), 1L))
      val multi = recount.toSeq.filterNot(t => isChar(t._1))
        .sortWith(byCntDesc).take(math.max(vocabSize - nChars, 0))
      vocab = chars ++ multi
      r += 1
    }
    val total = vocab.map(_._2).sum
    import spark.implicits._
    vocab.sortWith(byCntDesc).zipWithIndex.map { case ((p, c), i) =>
      (i + 1, p, c,
        graft.functions.UnigramApply.micros(c, total).toDouble / 1e6)
    }.toDF("token_id", "piece", "cnt", "logp")
  }

  /** Tokenize under a STORED unigram-LM piece table — the serving half
    * of the [[unigramTokTrain]] lifecycle ([[bpeTokenize]]'s sibling):
    * per whitespace word, the max-likelihood Viterbi segmentation via
    * [[graft.functions.UnigramTokens]] (the identical routine training
    * ran — one compiled per-row pass, vocabulary inlined as literals,
    * zero shuffle), emitted in order across the document as (idCol,
    * pos, token, token_id). The table is collected once (vocabulary-
    * scale — the [[bpeCount]] serve-time boundary); the maximum piece
    * length is derived from the table itself, so serve parameters
    * cannot drift from the trained artifact. */
  def unigramTokenize(df: DataFrame, idCol: String, textCol: String,
                      pieces: DataFrame): DataFrame = {
    val cols = pieces.columns.toSet
    require(Set("token_id", "piece", "logp").subsetOf(cols),
      s"piece table must carry (token_id, piece, logp), got ${cols.toSeq.sorted.mkString(",")}")
    val tbl = pieces.select(col("token_id").cast("int"),
        col("piece").cast("string"), col("logp").cast("double"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    require(tbl.nonEmpty, "unigramTokenize: empty piece table")
    require(tbl.map(_._1).toSeq == (1 to tbl.length),
      s"piece table token_ids must be exactly 1..${tbl.length} (the " +
        "unigramTokTrain rank contract)")
    val micros = tbl.map(t => BigDecimal(t._3 * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact)
    val maxLen = tbl.map(t => t._2.codePointCount(0, t._2.length)).max
    df.select(col(idCol),
        posexplode(org.apache.spark.sql.GraftBridge.column(
          graft.functions.UnigramTokens(
            org.apache.spark.sql.GraftBridge.expression(tokens(col(textCol))),
            tbl.map(_._2).toIndexedSeq, micros.toIndexedSeq, maxLen))))
      .select(col(idCol), (col("pos") + 1).cast("int").as("pos"),
        col("col.token").as("token"), col("col.token_id").as("token_id"))
  }

  /** Fraction of characters outside [a-z0-9 ] (punctuation-ish). The
    * denominator is floored at 1 (same guard as mean word length in
    * [[gopherRules]]): a zero-length document scores 0, not NULL — a
    * NULL here would silently pass negated quality filters and diverge
    * across engines on the empty-text edge. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(lower(text), "[^a-z0-9 ]", ""))).cast("double") /
      greatest(length(text), lit(1))

  private val stopwordsEn = Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

  /** Codegen'd membership count — the `size(filter(toks, isin))` HOF
    * form is interpreted per element and sits in every corpus scan's
    * per-row path (see [[graft.functions.CountInSet]]). */
  private def countIn(toks: Column, words: Seq[String]): Column =
    org.apache.spark.sql.GraftBridge.column(graft.functions.CountInSet(
      org.apache.spark.sql.GraftBridge.expression(toks), words))

  /** Fraction of tokens that are English stopwords. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    countIn(toks, stopwordsEn).cast("double") /
      greatest(size(toks), lit(1))
  }

  /** Linear quality score in [0,1]: length saturation + low punctuation +
    * stopword presence. Deliberately rational-arithmetic-only. */
  def qualityScore(text: Column): Column =
    round(
      least(length(text).cast("double") / 500.0, lit(1.0)) * 0.3 +
        (lit(1.0) - punctRatio(text)) * 0.4 +
        least(stopwordRatio(text) * 5.0, lit(1.0)) * 0.3,
      6)

  private val langStops: Seq[(String, Seq[String])] = Seq(
    "es" -> Seq("el", "la", "de", "que", "y", "un", "una", "los"),
    "fr" -> Seq("le", "les", "des", "et", "une", "est", "dans", "pour"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "en" -> stopwordsEn)

  /** Stopword-hit counts per language (n-gram-free heuristic language ID).
    * Returns the winning language code, ties broken by the fixed order
    * es > fr > de > en, defaulting to "en". */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val hits = langStops.map { case (lang, sw) =>
      lang -> countIn(toks, sw)
    }
    val Seq(es, fr, de, en) = hits.map(_._2)
    when(es > en && es >= fr && es >= de, "es")
      .when(fr > en && fr >= de, "fr")
      .when(de > en, "de")
      .otherwise("en")
  }

  /** Script classes for [[scriptOf]] in PRIORITY order (ties go to the
    * earlier entry). Char-class ranges only — valid in both Java regex
    * and RE2, so the DuckDB oracle counts identically. */
  private val scriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z]",
    "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
    "cjk" -> "[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}]",
    "arabic" -> "[\\x{0600}-\\x{06FF}]",
    "greek" -> "[\\x{0370}-\\x{03FF}]",
    "hangul" -> "[\\x{AC00}-\\x{D7AF}]",
    "devanagari" -> "[\\x{0900}-\\x{097F}]")

  /** Dominant Unicode SCRIPT of a document — [[langId]]'s multilingual
    * complement (langId separates same-script European languages;
    * script detection is the cheap first split a multilingual corpus
    * routes on): per-script character counts via portable char-class
    * ranges, argmax with ties broken by the fixed [[scriptClasses]]
    * order, `'other'` when no script character occurs. Pure per-row
    * codegen'd expression, zero shuffle. */
  def scriptOf(text: Column): Column = {
    val counts = scriptClasses.map { case (name, cls) =>
      name -> (length(text) - length(regexp_replace(text, cls, "")))
    }
    val mx = greatest(counts.map(_._2): _*)
    counts.foldLeft(when(mx <= 0, "other")) { case (acc, (name, c)) =>
      acc.when(c === mx, name)
    }.otherwise("other")
  }

  /** Document fingerprint: md5 of the whitespace-normalized lowercase
    * text. Stable across engines (md5 is md5 everywhere), usable as an
    * exact-dedup key at any scale. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), whitespace, " "))

  /** Winnowing fingerprints (the MOSS selection scheme, Schleimer/
    * Wilkerson/Aiken SIGMOD'03): hash every `k`-token shingle, slide a
    * `w`-hash window over them in document order, keep each window's
    * minimum; the DISTINCT kept hashes are the document's fingerprint
    * set. Guarantee: any run of >= w+k-1 tokens shared by two documents
    * yields at least one shared fingerprint, while storing only
    * ~2/(w+1) of the shingle hashes — the partial-overlap detector that
    * [[fingerprint]] (whole-doc) and MinHash (set-level, no positions)
    * are not. Docs with fewer than k+w-1 tokens have no full window and
    * are absent. Output: (idCol, fp).
    *
    * Scale shape: [[Dedup.shingleRowsPos]] exchanges token rows once on
    * `idCol`; both the shingle-forming `lead` and the min-in-window
    * selection run over that same (idCol, pos)-sorted partition — per-
    * task state is one window of w hashes. Only after hashing does
    * anything leave the document partition: the final distinct shuffles
    * (id, fp) pairs, 16 bytes a row, partially aggregated map-side. Ties
    * inside a window collapse in the distinct, so min (not rightmost-
    * min) selection gives the same fingerprint SET as the paper's. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1, got k=$k w=$w")
    val hs = Dedup.shingleRowsPos(df.select(col(idCol), col(textCol)),
        idCol, textCol, k)
      .select(col(idCol), col("pos"), Dedup.sharedHash60(col("s")).as("h"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    hs.select(col(idCol), min(col("h")).over(win).as("fp"),
        count(lit(1)).over(win).as("__n"))
      .filter(col("__n") === w).drop("__n")
      .distinct()
  }

  /** Exact shared-span EXTENTS — the "dedup exact substrings ≥ N
    * tokens" signal from the published dedup literature (suffix-array
    * substring dedup à la Lee et al. 2022), localized: for every
    * candidate document pair, each maximal run of ≥ `minTokens`
    * identical consecutive tokens is reported as (id_a, id_b, start_a,
    * start_b, len_tokens) — the positional information containment /
    * MinHash (set-level) and [[winnowFingerprints]] alone (membership
    * only) don't give. Multiple distinct shared runs per pair = one row
    * each.
    *
    * Pipeline, never all-pairs: candidate pairs come from shared
    * winnow fingerprints (guarantee: every pair sharing ≥ w+k−1
    * consecutive tokens is a candidate — so with the default
    * `minTokens` = w+k−1 the extent report is COMPLETE for runs at or
    * above threshold); `maxDocsPerFp` drops boilerplate fingerprints
    * shared by more than that many docs ([[Dedup.capBuckets]] — the
    * same hot-bucket fanout bound as every band join; a template
    * shared by 1000 docs is boilerplate to remove with
    * [[removeRepeatedSpans]], not a pair phenomenon to enumerate).
    * Extents then resolve RELATIONALLY: each side's positional
    * `k`-shingle hashes ([[Dedup.shingleRowsPos]]) equi-join through
    * the candidate pair on (id, 60-bit hash) — per-pair fanout is the
    * number of shared shingle occurrences, never a cross product —
    * and a match at (pos_a, pos_b) extends the run on diagonal
    * pos_a − pos_b: maximal runs are gaps-and-islands per (pair,
    * diagonal), a window whose task state is one document pair's
    * matches on one diagonal. A 60-bit shingle collision could weld a
    * spurious extent — vanishing below ~10⁹ distinct shingles and
    * reproduced identically by the oracle (same hash recipe).
    *
    * Scale shape: exchanges key on fingerprints, ids, and (id, hash)
    * tuples — text never leaves its first projection; the output
    * carries positions only, not text. */
  def sharedSpanExtents(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 8, w: Int = 4, minTokens: Int = 0,
                        maxDocsPerFp: Option[Int] = Some(64)): DataFrame = {
    val minT = if (minTokens > 0) minTokens else k + w - 1
    require(minT >= k, s"minTokens must be >= k, got $minT < $k")
    val cand = Dedup.bucketPairs(winnowFingerprints(df, idCol, textCol, k, w),
        idCol, Seq("fp"), maxDocsPerFp)
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .distinct()
    val hs = Dedup.shingleRowsPos(df.select(col(idCol), col(textCol)),
        idCol, textCol, k)
      .select(col(idCol), col("pos"), Dedup.sharedHash60(col("s")).as("__h"))
    val matches = cand
      .join(hs.select(col(idCol).as("id_a"), col("pos").as("pos_a"), col("__h")),
        "id_a")
      .join(hs.select(col(idCol).as("id_b"), col("pos").as("pos_b"), col("__h")),
        Seq("id_b", "__h"))
      .withColumn("__diag", col("pos_a") - col("pos_b"))
    val wi = Window.partitionBy(col("id_a"), col("id_b"), col("__diag"))
      .orderBy(col("pos_a"))
    matches
      .withColumn("__isl", col("pos_a") - row_number().over(wi))
      .groupBy(col("id_a"), col("id_b"), col("__diag"), col("__isl"))
      .agg(min(col("pos_a")).as("start_a"), min(col("pos_b")).as("start_b"),
        (count(lit(1)) + (k - 1)).as("len_tokens"))
      .filter(col("len_tokens") >= minT)
      .select(col("id_a"), col("id_b"), col("start_a"), col("start_b"),
        col("len_tokens"))
  }

  /** Exact-substring DEDUPLICATION — the removal half of the
    * suffix-array substring dedup recipe (Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better"): every maximal shared
    * run of ≥ `minTokens` tokens found by [[sharedSpanExtents]] keeps
    * its occurrence in the LOWEST-id document and is cut from every
    * higher-id document sharing it (deterministic keep-first, the same
    * tie-break as the cluster keep family). Output, one row per input
    * document: (id, n_tokens, n_removed, clean_text) — the
    * [[removeRepeatedSpans]] contract with exact token accounting, so a
    * fully-cloned document comes back as (id, n, n, '').
    *
    * Overlapping extents (one document sharing intersecting runs with
    * several partners) are interval-merged per document before removal,
    * so each token is counted and cut at most once.
    *
    * Scale shape: extents carry positions only ([[sharedSpanExtents]]'s
    * contract); interval merging is a window partitioned by document —
    * task state is one document's removal intervals; covered positions
    * explode via `sequence` (bounded by the corpus token count, keyed
    * (id, pos) — 12 bytes); the survivors anti-join on (id, pos) and
    * reassemble through the one inherent text-bearing exchange, the
    * per-document groupBy whose payload is exactly one copy of the
    * surviving corpus ([[removeRepeatedSpans]]'s argument). */
  def dedupExactSubstrings(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 8, w: Int = 4, minTokens: Int = 0,
                           maxDocsPerFp: Option[Int] = Some(64)): DataFrame = {
    val ext = sharedSpanExtents(df, idCol, textCol, k, w, minTokens,
      maxDocsPerFp)
    // keep-first: the run stays in id_a (the smaller id), is cut from id_b
    val ints = ext.select(col("id_b").as(idCol), col("start_b").as("__s"),
      (col("start_b") + col("len_tokens")).cast("int").as("__e"))
    val wOrd = Window.partitionBy(col(idCol)).orderBy(col("__s"), col("__e"))
    val merged = ints
      .withColumn("__pmax",
        max(col("__e")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__pmax").isNull || col("__s") > col("__pmax"), 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(wOrd))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__s")).as("__s"), max(col("__e")).as("__e"))
    val covered = merged.select(col(idCol),
      explode(sequence(col("__s"), col("__e") - 1)).as("__pos"))
    val toks = df.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("__pos", "__tok")))
    val kept = toks.join(covered, Seq(idCol, "__pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__pos"), col("__tok")))),
          _.getField("__tok"))).as("__clean"))
    df.select(col(idCol), tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("__clean"), lit("")).as("clean_text"))
  }

  /** Within-document n-gram repetition ratio (Gopher-style boilerplate /
    * repetition quality signal): 1 − distinct(ngrams)/total(ngrams).
    * High ratio = repeated boilerplate — a standard pre-training drop
    * rule. Docs with fewer than `n` tokens are absent (no n-grams).
    *
    * Scale shape: rides [[Dedup.shingleRows]] (posexplode + window-lead,
    * all codegen; one exchange on idCol) into a partial-aggregable
    * (count, count distinct) pair per doc — text never shuffles. */
  def repetitionRatio(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame = {
    val sh = Dedup.shingleRows(df, idCol, textCol, n)
    sh.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"), countDistinct(col("s")).as("n_distinct"))
      .select(col(idCol), col("n_ngrams"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams"), 6)
          .as("rep_ratio"))
  }

  /** Fixed-size token chunking with overlap — THE canonical pre-training
    * prep op (documents → training-window-sized chunks). One output row
    * per (doc, start_tok): start positions advance by
    * `chunkTokens - overlap`; every token is covered; the final chunk
    * may be short (and, when a doc's tail is shorter than the overlap,
    * consist only of already-seen tokens — callers filter on n_tokens if
    * they want to drop it).
    *
    * Scale shape: explode over a per-row start sequence then slice —
    * pure codegen'd per-row work, no shuffle; output size =
    * Σ ceil(len/stride) rows, each carrying one chunk. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            chunkTokens: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens), got $overlap of $chunkTokens")
    val stride = chunkTokens - overlap
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(0), greatest(size(col("__toks")) - 1, lit(0)),
          lit(stride))).as("start_tok"))
      .select(col(idCol), col("start_tok"),
        slice(col("__toks"), col("start_tok") + 1, lit(chunkTokens)).as("__c"))
      .select(col(idCol), col("start_tok"),
        size(col("__c")).as("n_tokens"),
        array_join(col("__c"), " ").as("chunk_text"))
  }

  /** [[chunk]] re-based on the TRAINED tokenizer — the form a real
    * pre-training prep run cuts: after tokenization a training window
    * IS a token-id sequence, so the output carries `token_ids`
    * (array<int>, the [[bpeTokenize]] ids in document order), not
    * re-joined text (BPE terminal symbols concatenate ambiguously
    * across word boundaries — ids are the faithful unit). Same window
    * convention as [[chunk]]: starts advance by `chunkTokens - overlap`
    * over the LEARNED token sequence, every token covered, final chunk
    * may be short; a doc with no tokens emits one empty-chunk row.
    *
    * Scale shape: the merge table collects once (vocabulary-scale, the
    * [[bpeCount]] serve boundary) and inlines into ONE compiled
    * expression; id extraction is a native `GetArrayStructFields` (no
    * per-token lambda); then the [[chunk]] explode+slice — pure per-row
    * work, zero shuffle. */
  def chunkBpe(df: DataFrame, idCol: String, textCol: String,
               merges: DataFrame, chunkTokens: Int = 64,
               overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens), got $overlap of $chunkTokens")
    val m = collectMerges(merges, "chunkBpe")
    val stride = chunkTokens - overlap
    val ids = org.apache.spark.sql.GraftBridge.column(graft.functions.BpeTokens(
        org.apache.spark.sql.GraftBridge.expression(tokens(col(textCol))),
        m.map(_._2).toIndexedSeq, m.map(_._3).toIndexedSeq))
      .getField("token_id")
    df.select(col(idCol), ids.as("__ids"))
      .select(col(idCol), col("__ids"),
        explode(sequence(lit(0), greatest(size(col("__ids")) - 1, lit(0)),
          lit(stride))).as("start_tok"))
      .select(col(idCol), col("start_tok"),
        slice(col("__ids"), col("start_tok") + 1, lit(chunkTokens)).as("token_ids"))
      .select(col(idCol), col("start_tok"),
        size(col("token_ids")).as("n_tokens"), col("token_ids"))
  }

  /** Sentence segmentation — decontamination, quotation detection, and
    * fine-grained dedup are often phrased at SENTENCE granularity (the
    * published eval-overlap checks match n-grams within sentences):
    * one row per sentence with its 0-based index and length. The
    * boundary rule is the standard naive heuristic (a run of text up to
    * a terminal-punctuation run `[.!?]+`, plus a terminator-less tail):
    * deliberately abbreviation-blind ("Mr. Smith" splits) — portable
    * determinism over locale smartness, like [[tokens]].
    *
    * Engine parity: the tail anchor is `\z` (absolute end), NOT `$` —
    * Java's default `$` also matches before a final newline, RE2's does
    * not; `\z` means the same thing in both. Sentences are trimmed and
    * empties dropped (a trailing newline extracts as a whitespace-only
    * tail). Per-SENTENCE array lambdas are fine (the c4LineFilters
    * precedent — the per-token HOF ban is about token granularity).
    * Pure per-row projection + explode, zero shuffle. */
  def sentenceRows(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pat = "[^.!?]+[.!?]+|[^.!?]+\\z"
    val sents = org.apache.spark.sql.functions.filter(
      transform(regexp_extract_all(col(textCol), lit(pat), lit(0)),
        s => trim(s)),
      s => length(s) > 0)
    df.select(col(idCol), posexplode(sents).as(Seq("sent_no", "sentence")))
      .select(col(idCol), col("sent_no"), col("sentence"),
        length(col("sentence")).cast("int").as("n_chars"))
  }

  /** CCNet-style sentence-level LM filter (Wenzek et al. 2020, public
    * method shape: score text segments with a language model, drop the
    * worst tail): every sentence is scored by the SENTENCE-corpus
    * bigram model ([[bigramLogProb]] over the exploded sentence frame),
    * sentences in the bottom `q` quantile of `avg_logprob` — and
    * single-token sentences, which have no bigram and are unscorable —
    * are dropped; survivors reassemble in order. Output: (idCol,
    * n_sentences, n_kept, clean_text) for EVERY input doc (a
    * fully-filtered doc keeps an empty clean_text). This is the
    * segment-granular complement of the DOC-level quantile filter: a
    * good document with one garbage boilerplate sentence loses the
    * sentence, not the document.
    *
    * Scale shape: pure composition of audited operators — sentence
    * explode (per-row projection), the bigram LM's partial-aggregable
    * hash-count frames (sentence text leaves its first projection only
    * as the reassembled output), [[Sampling.keepAboveQuantile]]'s
    * broadcast 1-row threshold (exact by default; pass `accuracy` for
    * the GK estimator at corpus scale), and an id-keyed reassembly
    * aggregate. Sentence ids are `idCol·10⁶ + sent_no` — requires
    * nonnegative ids and < 10⁶ sentences per doc (corpus documents sit
    * orders of magnitude under both; ids stay exact to 2⁶³/10⁶ ≈ 9·10¹²
    * docs). The contract is ENFORCED in-plan: a non-castable id (a
    * string/UUID id column casts to NULL, whose NULL sids would
    * silently drop every sentence through the keep join and return an
    * EMPTIED corpus), a negative id, or a doc at ≥ 10⁶ sentences (sid
    * collision across docs) raises at first execution instead — the
    * loud-failure convention of every stored-surface guard here. */
  def filterSentencesByLm(df: DataFrame, idCol: String, textCol: String,
                          q: Double = 0.2,
                          accuracy: Option[Int] = None): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0,1], got $q")
    // try_cast, not cast: under ANSI semantics a malformed id would
    // throw the generic CAST_INVALID_INPUT mid-plan; the try form lets
    // the guard below name the operator and its contract instead
    val idL = expr(s"try_cast(`$idCol` AS BIGINT)")
    // a FRACTIONAL numeric id is the one lossy case try_cast does NOT
    // null out — it TRUNCATES (3.2 and 3.9 both land on sid base
    // 3·10⁶, the exact cross-doc collision this guard exists for), so
    // the round-trip must also be checked value-wise. Scale 18, not 9:
    // the decimal cast rounds HALF_UP, so a scale-9 compare passed any
    // fractional part below 5e-10 (3.0000000001 truncated silently);
    // at scale 18 every fractional part a double ≥ 2⁻⁵² can carry in
    // the unit-or-greater range is caught (ulp(1.0) ≈ 2.2e-16 ≫
    // 5e-19), and DECIMAL(38,18) still holds any long in its 20
    // integer digits. Residual: a sub-5e-19 value in (0,1) — 1e-300
    // garbage, not an id — still rounds to 0 on both sides.
    val idExact = expr(s"try_cast(`$idCol` AS DECIMAL(38,18))") <=>
      idL.cast("decimal(38,18)")
    val sid = when(idL.isNull || idL < 0 || !idExact, raise_error(concat(
        lit("filterSentencesByLm: id "), col(idCol).cast("string"),
        lit(" does not cast losslessly to a nonnegative long — sentence " +
          "ids are idCol*1e6 + sent_no; a NULL/negative/fractional id " +
          "would silently empty or merge documents"))))
      .when(col("sent_no") >= 1000000L, raise_error(concat(
        lit("filterSentencesByLm: document "), col(idCol).cast("string"),
        lit(" has >= 1e6 sentences — sentence ids would collide across " +
          "documents; split the document upstream"))))
      .otherwise(idL * lit(1000000L) + col("sent_no"))
    val sents = Reuse.Local(sentenceRows(df, idCol, textCol)
      .select(col(idCol), col("sent_no"), col("sentence"), sid.as("__sid")))
    val lp = bigramLogProb(sents.select(col("__sid"), col("sentence")),
      "__sid", "sentence")
    val kept = Sampling.keepAboveQuantile(
      lp.select(col("__sid"), col("avg_logprob")), col("avg_logprob"), q,
      accuracy = accuracy)
    val keptSents = sents.join(kept.select(col("__sid")), Seq("__sid"), "left_semi")
    val re = keptSents.groupBy(col(idCol))
      .agg(count(lit(1)).as("__nk"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("sent_no"), col("sentence")))),
          _.getField("sentence"))).as("__clean"))
    val totals = sents.groupBy(col(idCol)).agg(count(lit(1)).as("n_sentences"))
    df.select(col(idCol)).join(totals, Seq(idCol), "left")
      .join(re, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_sentences"), lit(0L)).as("n_sentences"),
        coalesce(col("__nk"), lit(0L)).as("n_kept"),
        coalesce(col("__clean"), lit("")).as("clean_text"))
  }

  /** Global token offsets for concat-and-split sequence packing: the
    * corpus token stream in `idCol` order is cut every `seqLen` tokens
    * into training sequences; per doc this returns its running
    * token_offset and the first/last sequence index its tokens land in
    * (a doc may straddle a cut — that's the packing convention).
    *
    * Scale shape: a single global running sum would funnel the corpus
    * through one partition, so the prefix sum is HIERARCHICAL: docs are
    * bucketed by id range (`docsPerBucket`); the only single-partition
    * pass is over per-bucket token totals (one tiny row per bucket,
    * broadcast back), and the corpus-scale running sum is a
    * bucket-PARTITIONED window. Integer arithmetic end to end (`div`,
    * not floating floor) — exact at any corpus size. Requires
    * non-negative numeric ids (`div` truncates toward zero). */
  def packOffsets(df: DataFrame, idCol: String, textCol: String,
                  seqLen: Int = 2048, docsPerBucket: Int = 4096,
                  // how a document's tokens are counted: whitespace by
                  // default; pass [[bpeCounter]](merges) to pack in
                  // LEARNED tokens — the denomination a real training
                  // run cuts sequences in (the hierarchy, id order, and
                  // straddle convention are untouched)
                  tokenCounter: Column => Column = tokenCount): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    require(docsPerBucket >= 1, s"docsPerBucket must be >= 1, got $docsPerBucket")
    // read by the bucket-totals aggregate AND the offset join — one
    // tokenize pass, not two (see Dedup.minhashPairs)
    val toks = Reuse.Local(df.select(col(idCol),
      tokenCounter(col(textCol)).cast("long").as("n_toks"),
      expr(s"`$idCol` div $docsPerBucket").as("__b")))
    val totals = toks.groupBy(col("__b")).agg(sum(col("n_toks")).as("__bt"))
    val wBuckets = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals.select(col("__b"),
      coalesce(sum(col("__bt")).over(wBuckets), lit(0L)).as("__boff"))
    val wInBucket = Window.partitionBy(col("__b")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks.join(broadcast(offsets), "__b")
      .select(col(idCol), col("n_toks"),
        (col("__boff") + coalesce(sum(col("n_toks")).over(wInBucket), lit(0L)))
          .as("token_offset"))
      .select(col(idCol), col("n_toks"), col("token_offset"),
        expr(s"token_offset div $seqLen").as("first_seq"),
        // greatest() guards the zero-token corner: Spark `div` truncates
        // toward zero while the floor convention rounds down, so
        // token_offset + n_toks - 1 < token_offset would diverge at
        // negative values. Unreachable with the whitespace tokenizer
        // (n_toks >= 1 always), but a future tokenizer returning 0 gets
        // last_seq == first_seq instead of an engine-dependent answer.
        expr(s"greatest(token_offset + n_toks - 1, token_offset) div $seqLen")
          .as("last_seq"))
  }

  /** Top-`topK` n-gram shingles by document frequency — the corpus
    * boilerplate report (headers, footers, templated text) that informs
    * the df/bucket caps ([[Dedup.containmentPairs]]'s `maxShingleDf`,
    * the band joins' `maxBucketSize`). Ordered (df desc, shingle asc) —
    * a total order, so the LIMIT boundary is deterministic.
    *
    * Scale shape — HASH-FIRST, so shingle strings never cross a
    * corpus-scale exchange: the per-doc distinct and the df count run
    * on 60-bit [[Dedup.sharedHash60]] keys (8 bytes; 32 bits would
    * birthday-collide and merge counts at ~10⁵ distinct shingles); the
    * top-k boundary df comes from a TakeOrderedAndProject over (hash,
    * df) rows and broadcasts back as a 1-row bound; candidate hashes
    * (df ≥ boundary — a superset of the true top-k including boundary
    * ties) broadcast into a second corpus pass that resolves them to
    * strings with a partial-aggregable min-per-hash — strings reach an
    * exchange only as per-partition minima of ~topK candidate keys.
    * The two corpus passes are deliberate: checkpointing the EXPLODED
    * shingle rows to save the second pass would store a token-stream-
    * sized frame (the reuse-checkpoint policy is compact sketch frames
    * only). A 60-bit collision would merge two shingles' counts and
    * surface min(shingle) — vanishing below ~10⁹ distinct shingles and
    * reproduced identically by the oracle (same hash recipe). */
  /** Corpus distinct-n DIVERSITY report — the published distinct-1/2/3
    * panel (Zhu et al. '18 "Texygen"'s distinct-n, Li et al. '16's
    * diversity metric; public method shape): per n-gram size, total
    * occurrences, distinct types, and the type/occurrence ratio. Low
    * distinct-3 against a same-size reference corpus is the standard
    * mode-collapse / boilerplate-saturation signal a generation or
    * crawl pipeline dashboards BEFORE training on it.
    *
    * Hash-first like every counting op here: distinct types are counted
    * on 60-bit [[Dedup.sharedHash60]] keys (8-byte exchange, never
    * n-gram strings; the oracle counts the identical hashes, so the
    * rare 60-bit collision cannot mismatch). One [[Dedup.shingleRows]]
    * pass per n — all partial-aggregable. Output: (n, total_ngrams,
    * distinct_ngrams, diversity) ordered by n. */
  def distinctNgramReport(df: DataFrame, idCol: String, textCol: String,
                          ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"ns must be >= 1, got $ns")
    ns.map { n =>
      Dedup.shingleRows(df.select(col(idCol), col(textCol)), idCol, textCol, n)
        .select(Dedup.sharedHash60(col("s")).as("__h"))
        .agg(count(lit(1)).as("total_ngrams"),
          countDistinct(col("__h")).as("distinct_ngrams"))
        .select(lit(n).as("n"), col("total_ngrams"), col("distinct_ngrams"),
          round(col("distinct_ngrams").cast("double") /
            greatest(col("total_ngrams"), lit(1L)), 6).as("diversity"))
    }.reduce(_ unionAll _)
  }

  def topShinglesByDf(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, topK: Int = 20): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    def rows = Dedup.shingleRows(df.select(col(idCol), col(textCol)),
      idCol, textCol, n)
    // (hash, df) is fixed-width 16-byte rows — the compact frame both
    // the boundary branch and the candidate filter read; checkpoint so
    // the corpus distinct+count pass runs once, not once per branch
    val dfs = Reuse.Local(rows.select(col(idCol), Dedup.sharedHash60(col("s")).as("__h"))
      .distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("df")))
    val kth = dfs.orderBy(col("df").desc).limit(topK)
      .agg(min(col("df")).as("__dfk"))
    // the boundary-tie set is unbounded in a degenerate corpus (boundary
    // df = 1 over mostly-unique text ⇒ candidates = every hash): cap it
    // so the broadcast can never become corpus-scale. Within the cap the
    // result is EXACT (the filter keeps ≤ cap rows and the limit is a
    // no-op — measured 27–29 candidates on real corpora); past it the
    // k-th boundary group resolves by hash order instead of string
    // order — a corpus where >64·topK shingles tie at the boundary has
    // no meaningful boilerplate to report.
    val candCap = math.max(64 * topK, 1024)
    val cand = dfs.crossJoin(broadcast(kth))
      .filter(col("df") >= col("__dfk")).select(col("__h"), col("df"))
      .orderBy(col("df").desc, col("__h").asc).limit(candCap)
    rows.select(col("s"), Dedup.sharedHash60(col("s")).as("__h"))
      .join(broadcast(cand), "__h")
      .groupBy(col("__h"), col("df")).agg(min(col("s")).as("shingle"))
      .select(col("shingle"), col("df"))
      .orderBy(col("df").desc, col("shingle").asc)
      .limit(topK)
  }

  /** Token-vocabulary coverage report — the corpus statistic every
    * tokenizer-training / vocab-sizing decision reads (the Zipf curve:
    * "how much of the token stream do the top-k types cover?"): the
    * `topK` most frequent tokens with occurrence count, document
    * frequency, rank, and CUMULATIVE coverage fraction of the corpus
    * token stream.
    *
    * Scale shape — hash-first, like [[topShinglesByDf]]: occurrence/df
    * counts aggregate on 60-bit [[Dedup.sharedHash60]] keys (8-byte
    * partial-aggregable exchange; token strings never key an exchange);
    * only the ≤ `64·topK`-row candidate set (the [[topShinglesByDf]]
    * boundary-tie cap, same exactness argument) is broadcast back to
    * resolve strings; the coverage window runs over the ≤ topK-row
    * result. The corpus total is derived from the count frame — no
    * second corpus pass. The token-row frame feeds both the count pass
    * and the resolution join — the compact (hash, cnt, df) frame is the
    * thing [[Reuse.Local]] truncates. */
  def vocabReport(df: DataFrame, idCol: String, textCol: String,
                  topK: Int = 100): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    def tok = df.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
    val cnts = Reuse.Local(tok
      .select(col(idCol), Dedup.sharedHash60(col("__t")).as("__h"))
      .groupBy(col("__h"))
      .agg(count(lit(1)).as("cnt"), countDistinct(col(idCol)).as("df")))
    val total = cnts.agg(sum(col("cnt")).as("__tot"))
    val kth = cnts.orderBy(col("cnt").desc).limit(topK)
      .agg(min(col("cnt")).as("__ck"))
    val candCap = math.max(64 * topK, 1024)
    val cand = cnts.crossJoin(broadcast(kth))
      .filter(col("cnt") >= col("__ck"))
      .select(col("__h"), col("cnt"), col("df"))
      .orderBy(col("cnt").desc, col("__h").asc).limit(candCap)
    val resolved = tok.select(col("__t"), Dedup.sharedHash60(col("__t")).as("__h"))
      .join(broadcast(cand), "__h")
      .groupBy(col("__h"), col("cnt"), col("df")).agg(min(col("__t")).as("token"))
      .orderBy(col("cnt").desc, col("token").asc).limit(topK)
    val wOrd = Window.orderBy(col("cnt").desc, col("token").asc)
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    resolved.crossJoin(broadcast(total))
      .select(col("token"), col("cnt"), col("df"),
        row_number().over(wOrd).as("rank"),
        round(sum(col("cnt")).over(wCum).cast("double") / col("__tot"), 6)
          .as("coverage"))
  }

  /** Inverted BM25 index BUILD — the postings table behind
    * [[bm25TopKStored]] (index once, query forever — the production
    * retrieval shape; re-tokenizing 100 TB per query is not serving):
    * one row per (doc, term) with its tf and the doc's length
    * denormalized onto the posting (serving then never joins back to
    * the corpus). One tokenize pass, partial-aggregable count. Store
    * as plain parquet; the serve-time term filter reaches the scan as
    * a pushed `In`, so row groups that contain none of the query terms
    * are skipped on min/max stats. */
  def bm25Index(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), tokenCount(col(textCol)).cast("long").as("dl"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** The doc-length sidecar of [[bm25Index]] — one row per indexed doc,
    * derived from the postings at BUILD time (store both): the corpus
    * stats (N, Σdl) the scorer needs come from this vocabulary-free
    * one-row-per-doc table, never from a corpus-scale distinct over
    * postings at query time. */
  def bm25DocLens(index: DataFrame, idCol: String): DataFrame =
    index.groupBy(col(idCol)).agg(first(col("dl")).as("dl"))

  /** Lucene's default BM25 parameters, the ones every graft scorer uses. */
  private val K1 = 1.2
  private val B = 0.75

  /** The one-row corpus stats every BM25 scorer cross-joins: `n_docs`
    * and `total_toks` (Σ `dl` over `docs`). */
  private def bm25Stats(docs: DataFrame, dl: Column): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"), sum(dl).as("total_toks"))

  /** A (doc, term) row's BM25 contribution from its `tf`, the term's
    * `df`, the [[bm25Stats]] columns and the doc length `dl`:
    * `idf·tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` with
    * `idf = ln(1 + (N − df + 0.5)/(df + 0.5))`. The oracle mirrors this
    * exact parenthesization — every operand pairing is the same IEEE op
    * on both engines, ln the only libm call. */
  private def bm25Contrib(dl: Column): Column = {
    val avgdl = col("total_toks").cast("double") / col("n_docs")
    log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      (col("tf").cast("double") * lit(K1 + 1)) /
      (col("tf").cast("double") +
        lit(K1) * (lit(1.0) - lit(B) + lit(B) * dl.cast("double") / avgdl))
  }

  /** A pseudo-relevance-feedback candidate term's expansion score from
    * its feedback-set `tf_fb`, its `df` and `n_docs`:
    * `round(tf_fb · ln((N+1)/(df+1)), 4)`, the [[tfidfTopTerms]] idf
    * pairing. */
  private def prfScore: Column =
    round(col("tf_fb") *
      log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 4)

  /** Driver-side replica of [[Dedup.sharedHash60]] for LITERAL terms —
    * the same first-15-hex-chars-of-md5 value, computable with no data
    * read (the [[Similarity]] `probeCellsOf` discipline: the serve-time
    * pruning literal is a pure function of the query). */
  private def hash60Driver(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** [[bm25Index]] with a TERM-BUCKET partition column — the
    * cell-partitioned ANN layout brought to the lexical index: postings
    * carry `tbucket = hash60(term) mod nBuckets`, the caller writes
    * `partitionBy("tbucket")`, and [[bm25TopKStoredPruned]] computes
    * the query's bucket literals ON THE DRIVER (a pure term function —
    * zero data read) so the scan gets STATIC partition pruning: at
    * 100 TB the serve touches only the probed buckets' FILES, not
    * every row group's min/max stats. The bucket column is derivable
    * from `term`, so appends/compaction recompute it for free. */
  def bm25IndexPartitioned(df: DataFrame, idCol: String, textCol: String,
                           nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    bm25Index(df, idCol, textCol).withColumn("tbucket",
      pmod(Dedup.sharedHash60(col("term")), lit(nBuckets.toLong)).cast("int"))
  }

  /** The query terms' bucket set under the [[bm25IndexPartitioned]]
    * layout — driver-computed, distinct, sorted (deterministic literal
    * order in the plan). */
  def bm25BucketsOf(queryTerms: Seq[String], nBuckets: Int): Seq[Int] = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    queryTerms.map(t => java.lang.Math.floorMod(hash60Driver(t),
      nBuckets.toLong).toInt).distinct.sorted
  }

  /** [[bm25TopKStored]] over a bucket-PARTITIONED store: identical
    * score algebra and answer (every matching posting's term is in the
    * query set, so its bucket is in the driver-computed bucket set —
    * the bucket filter removes only non-matching rows), but the
    * `tbucket IN (...)` literal lands in PartitionFilters: partitions
    * holding none of the query's buckets are never read (PlanSpec-
    * pinned). Same oracle as the unpartitioned serve by construction. */
  def bm25TopKStoredPruned(postings: DataFrame, docLens: DataFrame,
                           idCol: String, queryTerms: Seq[String],
                           nBuckets: Int, k: Int = 25): DataFrame = {
    require(postings.columns.contains("tbucket"),
      "bm25TopKStoredPruned: store lacks `tbucket` — serve the table " +
        "bm25IndexPartitioned wrote (partitionBy(\"tbucket\"))")
    val buckets = bm25BucketsOf(queryTerms, nBuckets)
    bm25TopKStored(
      postings.filter(col("tbucket").isin(buckets.map(Integer.valueOf): _*)),
      docLens, idCol, queryTerms, k = k)
  }

  /** [[bm25TopK]] served from the STORED index — same score algebra,
    * same oracle (storage drift hash-mismatches): the term filter is a
    * literal `In` pushed into the postings scan, df is a |terms|-row
    * aggregate (postings are unique per (doc, term), so `count` IS the
    * doc frequency), stats a 1-row broadcast from the doc-length
    * sidecar, and the cut a TakeOrderedAndProject. A doc with no
    * tokens is absent from the index — it cannot match any term, and
    * the sidecar's (N, Σdl) equal the corpus's whenever every doc
    * tokenizes to ≥1 token (the whitespace tokenizer's behavior on
    * non-empty text). */
  def bm25TopKStored(postings: DataFrame, docLens: DataFrame,
                     idCol: String, queryTerms: Seq[String],
                     k: Int = 25): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopKStored: empty query")
    require(k >= 1, s"k must be >= 1, got $k")
    val tf = postings.filter(col("term").isin(queryTerms: _*))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(bm25Stats(docLens, col("dl"))))
      .select(col(idCol), bm25Contrib(col("dl")).as("__c"))
      .groupBy(col(idCol)).agg(round(sum(col("__c")), 4).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol).asc)
      .limit(k)
  }

  /** BATCH retrieval over the stored inverted index — the serving-fleet
    * shape ([[Similarity]]'s knnJoin symmetry): a TABLE of queries,
    * each a text whose whitespace terms are matched (DISTINCT per
    * query — the standard query-tf=1 BM25 convention), top-`k` docs
    * per query. Output: (queryIdCol, idCol, bm25, rank).
    *
    * Scale shape — the probe-cell-union recipe
    * ([[Similarity]] `probeCellsOf` precedent): the DISTINCT term set
    * across the query batch collects to the driver (query-batch-scale,
    * bounded by `maxTerms` with a loud refusal) and becomes a LITERAL
    * `isin`, so the postings scan carries a pushed `In` — row groups
    * holding none of the batch's terms are skipped, STATICALLY, which
    * a join against the query frame could never give the scan. df is a
    * |terms|-row aggregate, stats a 1-row broadcast from the sidecar,
    * the per-query cut a query-partitioned window (never a global
    * sort). A query with no indexed terms emits no rows. */
  def bm25Join(postings: DataFrame, docLens: DataFrame, queries: DataFrame,
               idCol: String, queryIdCol: String, queryTextCol: String,
               k: Int = 10, maxTerms: Int = 10000): DataFrame = {
    val qt = queries.select(col(queryIdCol),
        explode(array_distinct(tokens(col(queryTextCol)))).as("term"))
      .filter(length(col("term")) > 0)
    bm25JoinTerms(postings, docLens, qt, idCol, queryIdCol, k, maxTerms,
      caller = "bm25Join")
  }

  /** [[bm25Join]] from an explicit per-query TERM frame
    * (queryIdCol, term) — the entry point batch query EXPANSION needs
    * ([[bm25PrfJoin]]'s round 2 scores terms no query text contains).
    * Same driver-literal term-union pushdown, same score algebra, same
    * per-query window cut. */
  def bm25JoinTerms(postings: DataFrame, docLens: DataFrame, qt0: DataFrame,
                    idCol: String, queryIdCol: String,
                    k: Int = 10, maxTerms: Int = 10000,
                    caller: String = "bm25JoinTerms"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val qt = qt0.select(col(queryIdCol), col("term"))
    // driver-literal term union -> pushed In on the postings scan
    val termSet = qt.select(col("term")).distinct()
      .limit(maxTerms + 1).collect().map(_.getString(0))
    require(termSet.length <= maxTerms,
      s"$caller: query batch references > $maxTerms distinct terms — " +
        "split the batch (the driver-literal pushdown is bounded by design)")
    if (termSet.isEmpty) {
      // empty-batch early exit: id types must come from the INPUTS, not
      // a hardcoded long — a string-keyed caller unioning this frame
      // downstream would otherwise fail analysis on this path only
      val qIdType = qt.schema(queryIdCol).dataType
      val dIdType = postings.schema(idCol).dataType
      return qt.sparkSession.emptyDataFrame
        .select(lit(null).cast(qIdType).as(queryIdCol),
          lit(null).cast(dIdType).as(idCol),
          lit(null).cast("double").as("bm25"), lit(null).cast("int").as("rank"))
        .limit(0)
    }
    val tf = postings.filter(col("term").isin(termSet.toIndexedSeq: _*))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(bm25Stats(docLens, col("dl"))))
      .join(broadcast(qt), Seq("term"))
      .select(col(queryIdCol), col(idCol), bm25Contrib(col("dl")).as("__c"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(round(sum(col("__c")), 4).as("bm25"))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("bm25").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("bm25"), col("rank"))
  }

  /** Per-QUERY pseudo-relevance feedback over the STORED index — the
    * batch form of [[bm25Prf]] (the [[bm25Join]] symmetry), and the
    * serving-fleet shape: round 1 retrieves each query's `fbDocs`
    * feedback docs from the postings; the candidate expansion terms
    * come from the FEEDBACK DOCS' POSTINGS ROWS (a pushed-`In` on the
    * bounded |Q|·fbDocs id set — the feedback text is never
    * re-tokenized); per-query tf·idf selects `fbTerms` expansions (the
    * single-query scoring: `round(tf_fb · ln((N+1)/(df+1)), 4)`, term
    * tie-break — but the per-query cut is a WINDOW, never a per-query
    * driver loop); round 2 scores the expanded per-query term sets
    * through [[bm25JoinTerms]].
    *
    * Driver boundaries, all bounded by contract: the |Q|·fbDocs
    * feedback ids, the candidate-term union (≤ `maxTerms`, loud
    * refusal), and the |Q|·fbTerms chosen expansions (re-inlined as a
    * local frame). Every corpus-scale pass keeps a pushed-`In` scan.
    * A query whose feedback set yields no expansions (or that matched
    * nothing in round 1) serves its original terms alone.
    * Output: (queryIdCol, idCol, bm25, rank). */
  def bm25PrfJoin(postings: DataFrame, docLens: DataFrame, queries: DataFrame,
                  idCol: String, queryIdCol: String, queryTextCol: String,
                  k: Int = 10, fbDocs: Int = 10, fbTerms: Int = 5,
                  maxTerms: Int = 10000): DataFrame = {
    require(fbDocs >= 1, s"fbDocs must be >= 1, got $fbDocs")
    require(fbTerms >= 0, s"fbTerms must be >= 0, got $fbTerms")
    val spark = queries.sparkSession
    val qt = Reuse.truncate(queries.select(col(queryIdCol),
        explode(array_distinct(tokens(col(queryTextCol)))).as("term"))
      .filter(length(col("term")) > 0))
    if (fbTerms == 0)
      return bm25JoinTerms(postings, docLens, qt, idCol, queryIdCol,
        k, maxTerms, caller = "bm25PrfJoin")
    // round 1: per-query feedback docs (bounded |Q|·fbDocs rows)
    val fbPairs = Reuse.truncate(bm25JoinTerms(postings, docLens, qt, idCol,
        queryIdCol, k = fbDocs, maxTerms = maxTerms,
        caller = "bm25PrfJoin")
      .select(col(queryIdCol), col(idCol)))
    val fbIds = fbPairs.select(col(idCol)).distinct()
      .collect().map(_.get(0)).toSeq
    if (fbIds.isEmpty)
      return bm25JoinTerms(postings, docLens, qt, idCol, queryIdCol,
        k, maxTerms, caller = "bm25PrfJoin")
    // candidate terms per query from the feedback docs' POSTINGS rows:
    // pushed In on the bounded id set; each query's own terms excluded
    val fbTf = Reuse.truncate(postings.filter(col(idCol).isin(fbIds: _*))
      .select(col(idCol), col("term"), col("tf"))
      .join(broadcast(fbPairs), Seq(idCol))
      .join(broadcast(qt.withColumn("__orig", lit(1))),
        Seq(queryIdCol, "term"), "left_anti")
      .groupBy(col(queryIdCol), col("term"))
      .agg(sum(col("tf")).as("tf_fb")))
    // bounded candidate-term union -> pushed In for the df pass
    val candTerms = fbTf.select(col("term")).distinct()
      .limit(maxTerms + 1).collect().map(_.getString(0))
    require(candTerms.length <= maxTerms,
      s"bm25PrfJoin: feedback vocabulary exceeds $maxTerms terms — " +
        "shrink fbDocs (the literal-pushdown boundary is by design)")
    if (candTerms.isEmpty)
      return bm25JoinTerms(postings, docLens, qt, idCol, queryIdCol,
        k, maxTerms, caller = "bm25PrfJoin")
    val dfreq = postings
      .filter(col("term").isin(candTerms.toIndexedSeq: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docLens.agg(count(lit(1)).as("n_docs"))
    // per-query expansion pick: the single-query tf·idf score, the cut
    // a query-partitioned window
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("__score").desc, col("term").asc)
    val expansion = fbTf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(n))
      .select(col(queryIdCol), col("term"), prfScore.as("__score"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= fbTerms)
      .select(col(queryIdCol), col("term"))
      .collect()
    // expanded per-query term sets: original ∪ chosen, re-inlined as a
    // bounded local frame (|Q|·fbTerms rows)
    val expLocal = spark.createDataFrame(
      spark.sparkContext.parallelize(expansion.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        qt.schema(queryIdCol),
        org.apache.spark.sql.types.StructField("term",
          org.apache.spark.sql.types.StringType))))
    val qtExpanded = qt.select(col(queryIdCol), col("term"))
      .unionByName(expLocal).distinct()
    bm25JoinTerms(postings, docLens, qtExpanded, idCol, queryIdCol,
      k, maxTerms, caller = "bm25PrfJoin")
  }

  /** Reciprocal-rank FUSION (Cormack/Clarke/Büttcher '09) — the hybrid
    * retrieval verb that merges a lexical ranking ([[bm25TopK]]) with a
    * semantic one ([[Similarity.bruteForceTopK]] or any ANN serve):
    * each input list contributes `1 / (kRrf + rank)` for the ids it
    * ranked, contributions add, top-`k` fused ids win. Rank-only fusion
    * — BM25 scores and cosine similarities live on incomparable scales,
    * which is exactly why RRF ignores them.
    *
    * Determinism contract: the lists are FULL-OUTER-JOINED on the id
    * (never unioned and re-aggregated), so the fused sum is a single
    * projection adding the per-list terms in declared list order —
    * addition order is fixed at plan time, not partial-agg time, and
    * the oracle replays it bit-for-bit. Each `1/(kRrf+rank)` is one
    * IEEE division of exact integers. Absent-from-a-list contributes
    * `0.0` (coalesce), which is additive-identity-exact.
    *
    * Input contract: each list ranks an id AT MOST ONCE (any top-k
    * serve's output does). Enforced defensively: a min(rank)
    * pre-aggregate per list collapses a violating duplicate to its
    * best rank instead of fanning out through the outer join and
    * double-counting — identity on contract-honoring inputs.
    *
    * Scale shape: inputs are top-k lists — bounded frames (the k of the
    * upstream serves, not corpus-scale), so the full-outer chain
    * shuffles k-row frames (Spark cannot broadcast a full outer join;
    * at list sizes that is noise); the corpus-scale work already
    * happened inside the upstream serves.
    * Output: (idCol, rrf) — rrf rounded to 6, ties by id. */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, k: Int,
              kRrf: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse: no ranked lists")
    require(k >= 1, s"k must be >= 1, got $k")
    require(kRrf >= 0, s"kRrf must be >= 0, got $kRrf")
    lists.zipWithIndex.foreach { case (l, i) =>
      require(l.columns.contains(idCol) && l.columns.contains("rank"),
        s"rrfFuse: list $i must carry `$idCol` and `rank`, got " +
          l.columns.sorted.mkString(","))
    }
    val prepped = lists.zipWithIndex.map { case (l, i) =>
      // defensive min(rank) pre-aggregate: the contract says each list
      // ranks an id at most once, but a violating input would FAN OUT
      // through the full-outer chain and silently double-count — the
      // k-row aggregate is identity on contract-honoring inputs and
      // keeps the declared-order addition below intact
      l.groupBy(col(idCol)).agg(min(col("rank")).as("__r"))
        .select(col(idCol),
          (lit(1.0) / (lit(kRrf) + col("__r")).cast("double")).as(s"__c$i"))
    }
    val joined = prepped.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    joined
      .select(col(idCol),
        round(prepped.indices.map(i => coalesce(col(s"__c$i"), lit(0.0)))
          .reduce(_ + _), 6).as("rrf"))
      .orderBy(col("rrf").desc, col(idCol).asc)
      .limit(k)
  }

  /** Per-group [[rrfFuse]] — the BATCH hybrid-retrieval verb (the
    * [[bm25Join]] / [[Similarity.knnJoin]] symmetry): each list carries
    * (`byCol`, `idCol`, rank) — a per-query ranking — and fusion runs
    * WITHIN each `byCol` group. Same determinism contract as
    * [[rrfFuse]] (full-outer chain on (by, id), fixed declared-order
    * addition, coalesce-0 for a leg that didn't rank the id — a query
    * whose lexical leg matched nothing fuses to its semantic leg
    * alone). The per-group cut is a `byCol`-partitioned window, never a
    * global sort. Output: (byCol, idCol, rrf, rank). */
  def rrfFuseBy(lists: Seq[DataFrame], byCol: String, idCol: String,
                k: Int, kRrf: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuseBy: no ranked lists")
    require(k >= 1, s"k must be >= 1, got $k")
    require(kRrf >= 0, s"kRrf must be >= 0, got $kRrf")
    lists.zipWithIndex.foreach { case (l, i) =>
      require(Seq(byCol, idCol, "rank").forall(l.columns.contains),
        s"rrfFuseBy: list $i must carry `$byCol`, `$idCol` and `rank`, " +
          s"got ${l.columns.sorted.mkString(",")}")
    }
    val prepped = lists.zipWithIndex.map { case (l, i) =>
      // same defensive min(rank) pre-aggregate as [[rrfFuse]], per (by, id)
      l.groupBy(col(byCol), col(idCol)).agg(min(col("rank")).as("__r"))
        .select(col(byCol), col(idCol),
          (lit(1.0) / (lit(kRrf) + col("__r")).cast("double")).as(s"__c$i"))
    }
    val joined = prepped.reduce((a, b) =>
      a.join(b, Seq(byCol, idCol), "full_outer"))
    val w = Window.partitionBy(col(byCol))
      .orderBy(col("rrf").desc, col(idCol).asc)
    joined
      .select(col(byCol), col(idCol),
        round(prepped.indices.map(i => coalesce(col(s"__c$i"), lit(0.0)))
          .reduce(_ + _), 6).as("rrf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Crawl MEMBERSHIP delta — the companion to [[unigramKlReport]]
    * (that one asks "did the token distribution move", this one asks
    * "which documents moved"): full-outer the two snapshots on the doc
    * id, classify each id added / removed / changed / unchanged by
    * content fingerprint ([[fingerprint]] — whitespace-normalized
    * md5), and report the four counts. The go/no-go check an ingestion
    * pipeline runs between crawl generations before reprocessing.
    *
    * Scale shape: each side reduces to (id, 16-byte fp) before the one
    * full-outer shuffle on the id — text never shuffles; the classify
    * is a projection and the report a 4-row aggregate. */
  def crawlDelta(dfA: DataFrame, dfB: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    val fa = dfA.select(col(idCol), fingerprint(col(textCol)).as("__fa"))
    val fb = dfB.select(col(idCol), fingerprint(col(textCol)).as("__fb"))
    fa.join(fb, Seq(idCol), "full_outer")
      .select(when(col("__fa").isNull, "added")
        .when(col("__fb").isNull, "removed")
        .when(col("__fa") === col("__fb"), "unchanged")
        .otherwise("changed").as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("status"))
  }

  /** Query-term SNIPPET extraction — the search-result verb after the
    * retrieval verbs ([[bm25TopK]] ranks docs; this shows WHY one
    * matched): for each doc containing at least one query term, the
    * `window`-token span starting at a term hit that covers the MOST
    * term hits (ties → earliest start), re-joined with single spaces
    * (the whitespace tokenizer's normal form). Docs with no hit emit no
    * row.
    *
    * Pure per-row projection — higher-order functions only, no explode,
    * no shuffle: hit positions via an indexed transform+filter, the
    * densest-window argmax an `array_max` over (count, −start) structs
    * (lexicographic struct order ≡ count desc then start asc), the span
    * a slice+join. O(hits²) per doc — hits are query-term occurrences,
    * bounded in practice. Output: (idCol, hits, start_tok, snippet). */
  def snippetExtract(df: DataFrame, idCol: String, textCol: String,
                     queryTerms: Seq[String], window: Int): DataFrame = {
    require(queryTerms.nonEmpty, "snippetExtract: empty query")
    require(queryTerms.forall(_.nonEmpty),
      "snippetExtract: empty-string query term (would match the empty " +
        "tokens a leading/trailing-whitespace split produces)")
    require(window >= 1, s"window must be >= 1, got $window")
    val toks = tokens(col(textCol))
    // 1-based hit positions (Spark's indexed transform is 0-based)
    val idx = filter(
      transform(toks, (t, i) =>
        when(t.isInCollection(queryTerms), i + 1).otherwise(lit(-1))),
      x => x > 0)
    df.select(col(idCol), toks.as("__toks"), idx.as("__idx"))
      .filter(size(col("__idx")) > 0)
      .select(col(idCol), col("__toks"),
        array_max(transform(col("__idx"), p => struct(
          size(filter(col("__idx"), q => q >= p && q < p + window)).as("c"),
          (-p).as("np")))).as("__best"))
      .select(col(idCol),
        col("__best.c").cast("int").as("hits"),
        (-col("__best.np")).cast("int").as("start_tok"),
        array_join(slice(col("__toks"), (-col("__best.np")).cast("int"),
          lit(window)), " ").as("snippet"))
  }

  /** Per-QUERY [[snippetExtract]] — the batch serving form (the
    * [[bm25Join]] / `mmrSelectBy` symmetry): `run` is a ranked serve
    * output (queryCol, docIdCol) — a BOUNDED |Q|·k frame — and each
    * (query, doc) pair gets the densest `window`-token span of the
    * doc's text under THAT query's whitespace terms. The per-query
    * term set rides as an array column through one equi-join chain
    * (run → docs text → query terms), so the span argmax stays a pure
    * per-row HOF projection — `array_contains(qterms, t)` replacing
    * the single-query form's literal `isin`; no explode, no shuffle
    * beyond the two bounded joins. A pair whose doc holds no term
    * emits no row (the single-query contract, per pair).
    * Output: (queryCol, docIdCol, hits, start_tok, snippet). */
  def snippetJoin(run: DataFrame, docs: DataFrame, queries: DataFrame,
                  queryCol: String, docIdCol: String, textCol: String,
                  queryTextCol: String, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    Seq(queryCol, docIdCol).foreach(c =>
      require(run.columns.contains(c),
        s"snippetJoin: run must carry `$c`, got " +
          run.columns.sorted.mkString(",")))
    val qt = queries.select(col(queryCol),
      array_distinct(filter(tokens(col(queryTextCol)), t => length(t) > 0))
        .as("__qts"))
    val paired = run.select(col(queryCol), col(docIdCol))
      .join(docs.select(col(docIdCol), col(textCol)), Seq(docIdCol))
      .join(broadcast(qt), Seq(queryCol))
    val toks = tokens(col(textCol))
    val idx = filter(
      transform(toks, (t, i) =>
        when(array_contains(col("__qts"), t), i + 1).otherwise(lit(-1))),
      x => x > 0)
    paired.select(col(queryCol), col(docIdCol), toks.as("__toks"),
        idx.as("__idx"))
      .filter(size(col("__idx")) > 0)
      .select(col(queryCol), col(docIdCol), col("__toks"),
        array_max(transform(col("__idx"), p => struct(
          size(filter(col("__idx"), q => q >= p && q < p + window)).as("c"),
          (-p).as("np")))).as("__best"))
      .select(col(queryCol), col(docIdCol),
        col("__best.c").cast("int").as("hits"),
        (-col("__best.np")).cast("int").as("start_tok"),
        array_join(slice(col("__toks"), (-col("__best.np")).cast("int"),
          lit(window)), " ").as("snippet"))
  }

  /** Retrieval-QUALITY report — the eval verb after the serving verbs
    * ([[Classifier.lrEvalReport]] symmetry; [[Similarity]]'s recall
    * attestation covers index-vs-brute-force overlap, this one grades a
    * ranking against ground-truth RELEVANCE): given a ranked `run`
    * (queryCol, idCol, rank — any serve's output) and a binary
    * `relevance` pair table, one row per query with hits@k,
    * precision@k, recall@k, reciprocal rank, and nDCG@k. The relevance
    * pairs are de-duplicated here; the run is trusted to rank an id at
    * most once per query (any serve's output does).
    *
    * Determinism contract: precision/recall/RR are single IEEE
    * divisions of exact integer counts (the lrEvalReport rule — never a
    * quotient of rounded intermediates); recall/nDCG are NULL on a
    * query with no relevance rows (empty denominator), RR/nDCG are
    * 0.0/0-hit-DCG on a query with relevant docs but none retrieved.
    * Both DCG folds run in FIXED ascending-rank order (a sequential
    * `aggregate` over a sorted array — never a partial-agg SUM whose
    * association varies), and `log2` — the only libm call — sits under
    * the round-4 grid ([[tfidfTopTerms]] hardening); nDCG rounds to 4,
    * the exact ratios to 6.
    *
    * Scale shape: the run is per-query-top-k-bounded (|Q|·k rows); the
    * relevance join is an equi-semi-join on (query, id); everything
    * downstream is |Q|-row. Output ordered by query. */
  def retrievalEvalReport(run: DataFrame, relevance: DataFrame,
                          queryCol: String, idCol: String,
                          k: Int, gainCol: Option[String] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    Seq(queryCol, idCol, "rank").foreach(c =>
      require(run.columns.contains(c),
        s"retrievalEvalReport: run must carry `$c`, got " +
          run.columns.sorted.mkString(",")))
    (Seq(queryCol, idCol) ++ gainCol).foreach(c =>
      require(relevance.columns.contains(c),
        s"retrievalEvalReport: relevance must carry `$c`, got " +
          relevance.columns.sorted.mkString(",")))
    gainCol match {
      case None => retrievalEvalBinary(run, relevance, queryCol, idCol, k)
      case Some(g) => retrievalEvalGraded(run, relevance, queryCol, idCol, k, g)
    }
  }

  private def retrievalEvalBinary(run: DataFrame, relevance: DataFrame,
                                  queryCol: String, idCol: String,
                                  k: Int): DataFrame = {
    val rel = relevance.select(col(queryCol), col(idCol)).distinct()
    val nRel = rel.groupBy(col(queryCol)).agg(count(lit(1)).as("n_rel"))
    val hitRows = run.filter(col("rank") <= k)
      .select(col(queryCol), col(idCol), col("rank"))
      .join(rel, Seq(queryCol, idCol), "left_semi")
    val perQ = hitRows.groupBy(col(queryCol)).agg(
      count(lit(1)).as("__hits"),
      min(col("rank")).as("__first"),
      sort_array(collect_list(col("rank"))).as("__rks"))
    def foldDcg(rks: Column): Column =
      aggregate(rks, lit(0.0),
        (acc, r) => acc + lit(1.0) / log2(r.cast("double") + lit(1.0)))
    run.select(col(queryCol)).distinct()
      .join(nRel, Seq(queryCol), "left")
      .join(perQ, Seq(queryCol), "left")
      .select(col(queryCol),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("__hits"), lit(0L)).as("hits"),
        round(coalesce(col("__hits"), lit(0L)).cast("double") / lit(k), 6)
          .as("precision_k"),
        when(col("n_rel") > 0,
          round(coalesce(col("__hits"), lit(0L)).cast("double") /
            col("n_rel").cast("double"), 6)).as("recall_k"),
        when(col("__first").isNull, lit(0.0))
          .otherwise(round(lit(1.0) / col("__first").cast("double"), 6))
          .as("rr"),
        when(col("n_rel") > 0,
          round(
            foldDcg(coalesce(col("__rks"),
              lit(Array.empty[Int]))) /
            foldDcg(sequence(lit(1),
              least(col("n_rel"), lit(k.toLong)).cast("int"))), 4))
          .as("ndcg"))
      .orderBy(col(queryCol))
  }

  /** GRADED-relevance form (the standard 2^rel − 1 DCG gain — Järvelin
    * & Kekäläinen '02, what real judgment sets carry): `gainCol` rows
    * with gain > 0 are the relevant set (hits/recall/rr unchanged in
    * meaning); DCG weights each hit by `2^gain − 1` in ascending-rank
    * fold order, and the ideal DCG folds the query's gains sorted
    * DESCENDING over positions 1..min(n_rel, k) — the term sequence is
    * a unique multiset ordering, so both engines fold identical
    * operands. A duplicated (query, id) judgment collapses to max
    * gain. Small integer grades stay exact in double (2^g − 1). */
  private def retrievalEvalGraded(run: DataFrame, relevance: DataFrame,
                                  queryCol: String, idCol: String,
                                  k: Int, gainCol: String): DataFrame = {
    val rel = relevance.filter(col(gainCol) > 0)
      .groupBy(col(queryCol), col(idCol))
      .agg(max(col(gainCol)).cast("double").as("__g"))
    val nRel = rel.groupBy(col(queryCol)).agg(count(lit(1)).as("n_rel"))
    val hitRows = run.filter(col("rank") <= k)
      .select(col(queryCol), col(idCol), col("rank"))
      .join(rel, Seq(queryCol, idCol))
    // struct sort orders by rank (first field) — the ascending fold
    val perQ = hitRows.groupBy(col(queryCol)).agg(
      count(lit(1)).as("__hits"),
      min(col("rank")).as("__first"),
      sort_array(collect_list(struct(col("rank").cast("int").as("r"),
        col("__g").as("g")))).as("__hg"))
    val ideal = rel.groupBy(col(queryCol))
      .agg(sort_array(collect_list(col("__g")), asc = false).as("__gs"))
    def gainOf(g: Column): Column = pow(lit(2.0), g) - lit(1.0)
    val dcg = aggregate(col("__hg"), lit(0.0),
      (acc, e) => acc + gainOf(e.getField("g")) /
        log2(e.getField("r").cast("double") + lit(1.0)))
    val idcg = aggregate(
      transform(slice(col("__gs"), 1, k), (g, i) =>
        gainOf(g) / log2(i.cast("double") + lit(2.0))),
      lit(0.0), (acc, x) => acc + x)
    run.select(col(queryCol)).distinct()
      .join(nRel, Seq(queryCol), "left")
      .join(perQ, Seq(queryCol), "left")
      .join(ideal, Seq(queryCol), "left")
      .select(col(queryCol),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("__hits"), lit(0L)).as("hits"),
        round(coalesce(col("__hits"), lit(0L)).cast("double") / lit(k), 6)
          .as("precision_k"),
        when(col("n_rel") > 0,
          round(coalesce(col("__hits"), lit(0L)).cast("double") /
            col("n_rel").cast("double"), 6)).as("recall_k"),
        when(col("__first").isNull, lit(0.0))
          .otherwise(round(lit(1.0) / col("__first").cast("double"), 6))
          .as("rr"),
        when(col("n_rel") > 0,
          round(coalesce(dcg, lit(0.0)) / idcg, 4)).as("ndcg"))
      .orderBy(col(queryCol))
  }

  /** Corpus DRIFT report — smoothed unigram KL divergence between two
    * corpus snapshots in both directions (KL(A‖B), KL(B‖A)): the
    * distribution-shift check an ingestion pipeline runs between crawl
    * generations before training on the new one (a spiking KL means the
    * new crawl's token distribution moved — new spam template, encoding
    * regression, source mix change). Add-one smoothing over the UNION
    * vocabulary, so unseen-in-one-side tokens contribute finitely and
    * Σp = 1 exactly on each side.
    *
    * Scale shape: hash-first unigram counts per side (60-bit
    * [[Dedup.sharedHash60]] keys — 8-byte exchange, strings never
    * shuffle; a collision merges two tokens' counts identically in the
    * oracle), one full outer join on the hash, a 1-row broadcast
    * (V, ΣA, ΣB), and a partial-aggregable contribution sum. Engine
    * parity: each probability ratio is a quotient of EXACT integer
    * products (counts ≤ 2⁵³ — exact in double), so `ln` sees
    * bit-identical arguments on both engines; the round-4 grid masks
    * the 1-ulp libm drift ([[tfidfTopTerms]] hardening). Output: ONE
    * row (vocab_size, tot_a, tot_b, kl_ab, kl_ba). */
  def unigramKlReport(dfA: DataFrame, dfB: DataFrame,
                      textCol: String): DataFrame = {
    def counts(df: DataFrame) = df
      .select(explode(tokens(col(textCol))).as("__t"))
      .filter(length(col("__t")) > 0)
      .select(Dedup.sharedHash60(col("__t")).as("__h"))
      .groupBy(col("__h")).agg(count(lit(1)).as("c"))
    val j = counts(dfA).select(col("__h"), col("c").as("ca"))
      .join(counts(dfB).select(col("__h"), col("c").as("cb")),
        Seq("__h"), "full")
      .select(coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val stats = j.agg(count(lit(1)).as("v"),
      sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
    // p·ln(ratio) with ratio a quotient of exact integer products —
    // the oracle mirrors this exact operand pairing
    def kl(x: Column, y: Column, tx: Column, ty: Column, v: Column) =
      ((x + 1).cast("double") / (tx + v).cast("double")) *
        log(((x + 1) * (ty + v)).cast("double") /
            ((y + 1) * (tx + v)).cast("double"))
    j.crossJoin(broadcast(stats))
      .groupBy(col("v"), col("ta"), col("tb"))
      .agg(round(sum(kl(col("ca"), col("cb"), col("ta"), col("tb"), col("v"))), 4)
          .as("kl_ab"),
        round(sum(kl(col("cb"), col("ca"), col("tb"), col("ta"), col("v"))), 4)
          .as("kl_ba"))
      .select(col("v").as("vocab_size"), col("ta").as("tot_a"),
        col("tb").as("tot_b"), col("kl_ab"), col("kl_ba"))
  }

  /** Learned-token vocabulary report — [[vocabReport]] re-based on the
    * TRAINED tokenizer: per terminal symbol, corpus occurrences,
    * document frequency, rank, and cumulative coverage — the id-space
    * utilization / coverage-curve check a tokenizer run reads before
    * committing a merge table to a training run. Unlike the whitespace
    * report, no hash-first resolution pass is needed: `token_id` is
    * already a compact 4-byte key carried next to its string, so ONE
    * tokenize pass feeds a partial-aggregable (token_id, token) count.
    * The top-k boundary is total-ordered (cnt desc, token_id asc); the
    * only unpartitioned window runs over the topK-bounded rows (the
    * [[vocabReport]] convention). */
  def bpeVocabReport(df: DataFrame, idCol: String, textCol: String,
                     merges: DataFrame, topK: Int = 50,
                     preTokenize: Boolean = false): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val m = collectMerges(merges, "bpeVocabReport")
    val tk = df.select(col(idCol),
        explode(org.apache.spark.sql.GraftBridge.column(graft.functions.BpeTokens(
          org.apache.spark.sql.GraftBridge.expression(
            bpeWords(col(textCol), preTokenize)),
          m.map(_._2).toIndexedSeq, m.map(_._3).toIndexedSeq))).as("tk"))
      .select(col(idCol), col("tk.token").as("token"),
        col("tk.token_id").as("token_id"))
    val cnts = tk.groupBy(col("token_id"), col("token"))
      .agg(count(lit(1)).as("cnt"), countDistinct(col(idCol)).as("df"))
    val total = cnts.agg(sum(col("cnt")).as("__tot"))
    val top = cnts.orderBy(col("cnt").desc, col("token_id").asc).limit(topK)
    val wOrd = Window.orderBy(col("cnt").desc, col("token_id").asc)
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(total))
      .select(col("token_id"), col("token"), col("cnt"), col("df"),
        row_number().over(wOrd).as("rank"),
        round(sum(col("cnt")).over(wCum).cast("double") / col("__tot"), 6)
          .as("coverage"))
  }

  /** Count-min-sketch heavy-hitter ATTESTATION — the frequency-sketch
    * member of the sketch-contract family (HLL: `a8_hll`, GK quantiles:
    * `a8_approx_quantile`/`llm_quantile_filter_approx`, bloom:
    * decontamination): the top-`topK` tokens by EXACT occurrence count
    * (the [[vocabReport]] hash-first machinery) are each probed against
    * a count-min sketch built over the same 60-bit token hashes —
    * Spark's own `CountMinSketchAgg`, the fixed-size MERGEABLE state a
    * streaming/partitioned frequency pipeline keeps instead of exact
    * counts — and every row attests the CMS one-sided error contract:
    * `estimate >= exact` always, `estimate <= exact + ⌈eps·N⌉` with
    * probability 1−δ per item (Cormode/Muthukrishnan '05, public
    * method). The gate pins the contract (the estimates themselves are
    * sketch-layout detail, deliberately not output).
    *
    * Scale shape: the sketch build is one distributed aggregate whose
    * state is the fixed d×w counter array (KBs at eps=1e-3); only the
    * finished sketch reaches the driver — the bloom-build boundary. The
    * exact side is the audited hash-first top-k. Output: (token,
    * n_occurrences, within_contract), rank order (count desc, token). */
  /** The count-min sketch over a corpus's 60-bit token hashes — the
    * fixed-size MERGEABLE frequency state ([[heavyHittersCms]]'s build
    * step, factored out for the streaming loop): one distributed
    * aggregate whose state is the d×w counter array; only the finished
    * sketch reaches the driver. Per-shard/per-micro-batch sketches
    * built with the SAME (eps, confidence, seed) merge EXACTLY to the
    * one-shot corpus sketch (counter arrays are additive — the
    * Cormode/Muthukrishnan mergeability property; StreamingSpec pins
    * it cell-for-cell through `CountMinSketch.mergeInPlace`). None for
    * a token-free corpus (the aggregate returns a NULL sketch). */
  /** The corpus's (token, 60-bit hash) frame — the ONE tokenize+hash
    * pass every CMS surface shares (the sketch aggregate, the exact
    * top-k, and the string-resolution join all read it). */
  private def tokenHashFrame(df: DataFrame, idCol: String,
                             textCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .select(col("__t"), Dedup.sharedHash60(col("__t")).as("__h"))

  private def cmsSketchFromHashes(hashes: DataFrame, eps: Double,
                                  confidence: Double):
      Option[org.apache.spark.util.sketch.CountMinSketch] = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.CountMinSketchAgg
    require(eps > 0 && eps < 1, s"eps must be in (0,1), got $eps")
    require(confidence > 0 && confidence < 1,
      s"confidence must be in (0,1), got $confidence")
    val skBytes = hashes.agg(GraftBridge.column(new CountMinSketchAgg(
        GraftBridge.expression(col("__h")),
        Literal(eps), Literal(confidence), Literal(42)).toAggregateExpression())
      .as("cms")).head().getAs[Array[Byte]](0)
    Option(skBytes).map(b =>
      org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(b)))
  }

  def cmsSketch(df: DataFrame, idCol: String, textCol: String,
                eps: Double = 0.001, confidence: Double = 0.99):
      Option[org.apache.spark.util.sketch.CountMinSketch] =
    cmsSketchFromHashes(
      Reuse.Local(tokenHashFrame(df, idCol, textCol).select(col("__h"))),
      eps, confidence)

  def heavyHittersCms(df: DataFrame, idCol: String, textCol: String,
                      topK: Int = 20, eps: Double = 0.001,
                      confidence: Double = 0.99): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    // ONE tokenize+hash pass feeds the sketch aggregate AND the exact
    // top-k/resolve side — Reuse.Local truncates lineage so the explode is
    // not recomputed per consumer
    val tokH = Reuse.Local(tokenHashFrame(df, idCol, textCol))
    cmsSketchFromHashes(tokH.select(col("__h")), eps, confidence) match {
      case None => emptyHeavyHitters(df)
      case Some(cms) => heavyHittersCore(df, tokH, cms, topK)
    }
  }

  private def emptyHeavyHitters(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    Seq.empty[(String, Long, Boolean)]
      .toDF("token", "n_occurrences", "within_contract")
  }

  /** [[heavyHittersCms]] with the sketch build factored out: attest the
    * exact top-`topK` tokens of `df` against a PRE-BUILT sketch —
    * `None` (token-free build) yields the empty report. The streaming
    * gate passes the micro-batch-merged sketch here; merge exactness
    * makes the output identical to the one-shot form. The error bound
    * is derived FROM the sketch (`relativeError()`/`totalCount()`), so
    * a sketch built with any eps attests against its OWN contract — a
    * separately-passed eps could silently mis-attest. */
  def heavyHittersAgainstCms(df: DataFrame, idCol: String, textCol: String,
                             sketch: Option[org.apache.spark.util.sketch.CountMinSketch],
                             topK: Int = 20): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    sketch match {
      // a token-free corpus aggregates to a NULL sketch — return the
      // empty report instead of NPEing on the deserialize
      case None => emptyHeavyHitters(df)
      case Some(cms) =>
        heavyHittersCore(df, Reuse.Local(tokenHashFrame(df, idCol, textCol)),
          cms, topK)
    }
  }

  private def heavyHittersCore(df: DataFrame, tokH: DataFrame,
                               cms: org.apache.spark.util.sketch.CountMinSketch,
                               topK: Int): DataFrame = {
    // exact top-k with string resolution — the vocabReport recipe
    val cnts = tokH.groupBy(col("__h")).agg(count(lit(1)).as("cnt"))
    val kth = cnts.orderBy(col("cnt").desc).limit(topK)
      .agg(min(col("cnt")).as("__ck"))
    val candCap = math.max(64 * topK, 1024)
    val boundary = cnts.crossJoin(broadcast(kth))
      .filter(col("cnt") >= col("__ck"))
    // this op REPORTS named tokens (unlike the hash-order-contract
    // boilerplate/vocab reports): final rank is (cnt desc, token asc)
    // but the cut is (cnt desc, hash asc), so a boundary tie set larger
    // than the cap could silently exclude token-asc winners from the
    // attested top-k — refuse loudly instead. ONE bounded collect
    // (candCap+1 rows of 16 bytes) doubles as the guard AND the
    // candidate frame the resolve join broadcasts: one row past the cap
    // proves overflow with no separate count job, and the join side
    // becomes a local relation instead of recomputing the cnts subtree
    val candRows = boundary
      .orderBy(col("cnt").desc, col("__h").asc).limit(candCap + 1)
      .select(col("__h"), col("cnt")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    require(candRows.length <= candCap,
      s"heavyHittersCms: more than $candCap tokens tie at the top-$topK " +
        "count boundary (candidate cap) — the (count, token) rank " +
        "order cannot be resolved from a hash-order cut; raise topK or " +
        "report on a corpus with meaningful heavy hitters")
    val cand = df.sparkSession.createDataFrame(candRows.toIndexedSeq)
      .toDF("__h", "cnt")
    val resolved = tokH
      .join(broadcast(cand), "__h")
      .groupBy(col("__h"), col("cnt")).agg(min(col("__t")).as("token"))
      .orderBy(col("cnt").desc, col("token").asc).limit(topK)
      .collect() // bounded: topK rows
    // the sketch's OWN contract: width w counters ⇒ per-item error
    // ≤ relativeError()·N with the sketch's confidence
    val bound = math.ceil(cms.relativeError() * cms.totalCount()).toLong
    val rows = resolved.toIndexedSeq.map { r =>
      val est = cms.estimateCount(java.lang.Long.valueOf(r.getAs[Long]("__h")))
      val cnt = r.getAs[Long]("cnt")
      (r.getAs[String]("token"), cnt, est >= cnt && est <= cnt + bound)
    }
    import df.sparkSession.implicits._
    rows.toDF("token", "n_occurrences", "within_contract")
  }

  /** Repeated-span removal — the C4/RefinedWeb "line dedup" step
    * generalized to corpora without line structure: the text is cut into
    * fixed `spanTokens`-token blocks ([[chunk]] with zero overlap), every
    * block whose corpus-wide DOCUMENT frequency exceeds `maxDf` (a
    * boilerplate header/footer/template) is removed, and the survivors
    * are reassembled in order. Output: (id, n_spans, n_dropped,
    * clean_text) — one row per input document, including documents whose
    * every span was dropped (clean_text = '').
    *
    * Scale shape — hash-first, like [[topShinglesByDf]]: the df count
    * runs on 60-bit [[Dedup.sharedHash60]] keys (8-byte exchange; 32
    * bits would birthday-collide counts at ~10⁵ distinct spans); the
    * hot-span set (df > maxDf) is by nature tiny — boilerplate IS the
    * high-frequency tail — and joins back as an equi-join on the hash
    * that AQE converts to broadcast when small (an adversarial corpus
    * where it isn't small still only shuffles 8-byte keys). Span text
    * crosses one exchange: the per-document reassembly groupBy — that
    * exchange is inherent (the output carries the text) and its payload
    * is exactly one copy of the surviving corpus. Reassembly avoids a
    * window sort: collect_list(struct(start_tok, span)) + array_sort
    * inside the aggregate, so span order is restored per group with no
    * per-document window pass. */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                          spanTokens: Int = 16, maxDf: Int = 2): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    def spans = chunk(df, idCol, textCol, spanTokens, overlap = 0)
      .select(col(idCol), col("start_tok"), col("chunk_text").as("span"),
        Dedup.sharedHash60(col("chunk_text")).as("__h"))
    // two corpus tokenize+chunk passes are DELIBERATE (the
    // topShinglesByDf policy: span text is never checkpointed, compact
    // frames only) — the hot-set branch aggregates this reuse-truncated
    // per-doc-distinct (id, 8-byte hash) frame, while the text-bearing
    // flag/reassembly pass below runs fresh
    val hashes = Reuse.Local(spans.select(col(idCol), col("__h")).distinct())
    val hot = hashes
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
    spans.join(hot, Seq("__h"), "left")
      .select(col(idCol), col("start_tok"), col("span"),
        col("__df").isNotNull.as("__drop"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__drop"), 1L).otherwise(0L)).as("n_dropped"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(!col("__drop"),
            struct(col("start_tok"), col("span"))))),
          _.getField("span"))).as("clean_text"))
  }

  /** Unigram log-probability score — the perplexity-proxy quality
    * signal (CCNet ranks documents by LM perplexity; the unigram model
    * self-trained on the corpus is its deterministic, dependency-free
    * analog): avg over a document's token occurrences of
    * ln(corpus_count(token) / corpus_total). Rare-token-heavy docs
    * (gibberish, codes, OCR noise) score low; stopword-rich prose
    * scores high. Output: (id, n_tokens, avg_logprob).
    *
    * Scale shape — mirrors [[tfidfTopTerms]]: per-(doc, term) tf is a
    * partial-aggregable count; the unigram table is a partial-aggregable
    * term count over the tf frame (reused, not re-tokenized); the corpus
    * total is a broadcast single row; the score join shuffles (id, term,
    * tf) tuples — document text never leaves the first projection. The
    * quantization argument is tfidf's: round(·, 4) after the avg makes
    * the result robust to 1-ulp libm `ln` differences across engines. */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = Reuse.Local(toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf")))
    val counts = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("n_total"))
    tf.join(counts, "term").crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        round(sum(col("tf") * log(col("cnt").cast("double") / col("n_total"))) /
          sum(col("tf")), 4).as("avg_logprob"))
  }

  /** Within-document repeated-span removal — the in-document half of
    * C4's dedup (a crawled page repeating its own navigation/footer):
    * every repeat occurrence of a `spanTokens`-block INSIDE the same
    * document is cut, the first occurrence stays. Same output contract
    * as [[removeRepeatedSpans]] (id, n_spans, n_dropped, clean_text).
    *
    * Scale shape: first-occurrence ranking is a window partitioned by
    * (document, span hash) — group size is bounded by the repeats of one
    * block inside one document, so no task ever sees more than a
    * document's worth of rows; the reassembly is the same single
    * id-keyed groupBy as the corpus-wide variant. Nothing corpus-global
    * anywhere — the op is per-document by construction. */
  def dedupSpansWithinDoc(df: DataFrame, idCol: String, textCol: String,
                          spanTokens: Int = 16): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    val spans = chunk(df, idCol, textCol, spanTokens, overlap = 0)
      .select(col(idCol), col("start_tok"), col("chunk_text").as("span"),
        Dedup.sharedHash60(col("chunk_text")).as("__h"))
    val w = Window.partitionBy(col(idCol), col("__h")).orderBy(col("start_tok"))
    spans.withColumn("__rn", row_number().over(w))
      .select(col(idCol), col("start_tok"), col("span"),
        (col("__rn") > 1).as("__drop"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__drop"), 1L).otherwise(0L)).as("n_dropped"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(!col("__drop"),
            struct(col("start_tok"), col("span"))))),
          _.getField("span"))).as("clean_text"))
  }

  /** Gopher-style quality-rule filter: the published rule family
    * (token-count bounds, mean-word-length bounds, symbol ratio,
    * stopword presence) as per-rule flags plus the conjunction —
    * returned per document rather than silently filtered, so a pipeline
    * can audit WHY a document fell (the flags are what a production
    * quality dashboard aggregates). Thresholds are parameters; the
    * published defaults assume web-scale prose, so callers tune them to
    * their corpus.
    *
    * All rational arithmetic over codegen'd built-ins (mean word length
    * = non-whitespace chars / tokens — no per-token HOF), zero shuffle,
    * embarrassingly parallel. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minTokens: Int = 50, maxTokens: Int = 100000,
                  minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1,
                  minStopwordHits: Int = 2): DataFrame = {
    val (nToks, meanLen, symRatio, stops) = gopherMetrics(col(textCol))
    df.select(col(idCol), nToks.as("n_tokens"), meanLen.as("mean_word_len"),
        symRatio.as("symbol_ratio"), stops.as("stop_hits"))
      .select(col(idCol), col("n_tokens"), col("mean_word_len"),
        col("symbol_ratio"), col("stop_hits"),
        (col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
          .as("ok_len"),
        (col("mean_word_len") >= minMeanWordLen &&
          col("mean_word_len") <= maxMeanWordLen).as("ok_word_len"),
        (col("symbol_ratio") <= maxSymbolRatio).as("ok_symbols"),
        (col("stop_hits") >= minStopwordHits).as("ok_stopwords"))
      .withColumn("keep",
        col("ok_len") && col("ok_word_len") && col("ok_symbols") &&
          col("ok_stopwords"))
  }

  /** Per-(source, lang) corpus statistics panel — the dashboard query
    * every ingestion round runs (doc counts, token and char volumes,
    * document-size envelope per slice). One partial-aggregable groupBy
    * — the only exchange carries the tiny per-slice accumulator rows;
    * text reduces to counts in the first projection. avg is rounded
    * (·,4) for cross-engine float parity. */
  def corpusReport(df: DataFrame, sourceCol: String, langCol: String,
                   textCol: String): DataFrame =
    df.select(col(sourceCol), col(langCol),
        tokenCount(col(textCol)).as("__t"), length(col(textCol)).as("__c"))
      .groupBy(col(sourceCol), col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__t").cast("long")).as("n_tokens"),
        sum(col("__c").cast("long")).as("n_chars"),
        round(avg(col("__c")), 4).as("avg_chars"),
        min(col("__c")).as("min_chars"),
        max(col("__c")).as("max_chars"))

  /** The four Gopher metric columns (token count, mean word length,
    * symbol ratio, stopword hits) — shared by [[gopherRules]] (the
    * auditable panel) and [[gopherKeep]] (the bare predicate). */
  private def gopherMetrics(text: Column): (Column, Column, Column, Column) = {
    val nToks = size(tokens(text))
    val meanLen = round(
      length(regexp_replace(text, whitespace, "")).cast("double") /
        greatest(nToks, lit(1)), 6)
    val symRatio = round(punctRatio(text), 6)
    val stops = org.apache.spark.sql.GraftBridge.column(
      graft.functions.CountInSet(
        org.apache.spark.sql.GraftBridge.expression(tokens(lower(text))),
        stopwordsEn))
    (nToks, meanLen, symRatio, stops)
  }

  /** [[gopherRules]]' keep conjunction as a bare COLUMN predicate — for
    * use as a stream/batch `filter` that keeps the input's own columns
    * flowing (the panel projects them away). Identical arithmetic by
    * construction ([[gopherMetrics]] is shared). */
  def gopherKeep(text: Column,
                 minTokens: Int = 50, maxTokens: Int = 100000,
                 minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                 maxSymbolRatio: Double = 0.1,
                 minStopwordHits: Int = 2): Column = {
    val (nToks, meanLen, symRatio, stops) = gopherMetrics(text)
    nToks >= minTokens && nToks <= maxTokens &&
      meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen &&
      symRatio <= maxSymbolRatio && stops >= minStopwordHits
  }

  /** Gopher REPETITION panel (the published Table-A1 repetition section
    * — [[gopherRules]] covers the length/symbol/stopword section): per
    * document,
    *  - `dup_line_frac`: duplicate line occurrences / total lines;
    *  - `dup_line_char_frac`: characters in duplicate line occurrences
    *    / total characters across lines;
    *  - `top_ngram_char_frac`: characters covered by the most frequent
    *    `topN`-gram (count × gram length / document characters — the
    *    sliding-window accounting can exceed 1 on degenerate repetition,
    *    so it is capped at 1);
    *  - `dup_ngram_char_frac`: characters covered by ALL occurrences of
    *    repeated `dupN`-grams, capped at 1;
    * plus per-rule `ok_*` flags at the published thresholds and their
    * `keep` conjunction. "Most frequent" ties break deterministically by
    * (count, gram length, gram hash) — a total order, engine-portable.
    * Docs too short for an n-gram score 0 on that fraction (nothing is
    * repeated), never NULL.
    *
    * Scale shape: hash-first like every counting op here — lines and
    * n-grams reduce to (id, 60-bit hash, length) in their first
    * projection, so the per-(doc, hash) occurrence counts and every
    * downstream aggregate exchange fixed-width rows keyed by id/hash;
    * gram text rides only as the shingle window's payload
    * ([[bigramLogProb]]'s argument). The top-gram winner is a
    * partial-aggregable lexicographic `max(struct(c, len, hash))` — no
    * corpus window. Three passes over the corpus text (lines, topN-grams,
    * dupN-grams) are deliberate: checkpointing exploded token streams
    * would store corpus-scale frames (compact-frame policy). */
  def gopherRepetition(df: DataFrame, idCol: String, textCol: String,
                       topN: Int = 2, dupN: Int = 5,
                       maxDupLineFrac: Double = 0.30,
                       maxDupLineCharFrac: Double = 0.20,
                       maxTopNgramCharFrac: Double = 0.20,
                       maxDupNgramCharFrac: Double = 0.15): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    require(dupN >= 1, s"dupN must be >= 1, got $dupN")
    val in = df.select(col(idCol), col(textCol))
    val lineCounts = in.select(col(idCol),
        explode(split(col(textCol), "\n")).as("__line"))
      .select(col(idCol), Dedup.sharedHash60(col("__line")).as("__h"),
        length(col("__line")).cast("long").as("__len"))
      .groupBy(col(idCol), col("__h"))
      // max, not first: deterministic even under a 60-bit collision
      .agg(count(lit(1)).as("__c"), max(col("__len")).as("__len"))
    val lineAgg = lineCounts.groupBy(col(idCol))
      .agg(sum(col("__c")).as("__nl"),
        sum(col("__c") - 1).as("__dl"),
        sum(col("__c") * col("__len")).as("__lc"),
        sum((col("__c") - 1) * col("__len")).as("__dlc"))
    def gramCounts(n: Int) =
      Dedup.shingleRowsPos(in, idCol, textCol, n)
        .select(col(idCol), Dedup.sharedHash60(col("s")).as("__h"),
          length(col("s")).cast("long").as("__len"))
        .groupBy(col(idCol), col("__h"))
        .agg(count(lit(1)).as("__c"), max(col("__len")).as("__len"))
    val top = gramCounts(topN).groupBy(col(idCol))
      .agg(max(struct(col("__c"), col("__len"), col("__h"))).as("__t"))
      .select(col(idCol),
        (col("__t").getField("__c") * col("__t").getField("__len"))
          .as("__topchars"))
    val dup = gramCounts(dupN).filter(col("__c") > 1)
      .groupBy(col(idCol))
      .agg(sum(col("__c") * col("__len")).as("__dupchars"))
    val out = in
      .select(col(idCol), length(col(textCol)).cast("long").as("__nch"))
      .join(lineAgg, Seq(idCol), "left")
      .join(top, Seq(idCol), "left")
      .join(dup, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(round(col("__dl").cast("double") / col("__nl"), 6), lit(0.0))
          .as("dup_line_frac"),
        coalesce(when(col("__lc") === 0, lit(0.0))
            .otherwise(round(col("__dlc").cast("double") / col("__lc"), 6)),
          lit(0.0)).as("dup_line_char_frac"),
        // coalesce BEFORE least: least/greatest skip NULL operands (in
        // Spark and DuckDB alike), so least(1.0, NULL) is 1.0 and an
        // absent gram frame would silently flag the doc
        when(col("__nch") === 0, lit(0.0)).otherwise(
          least(lit(1.0),
            round(coalesce(col("__topchars"), lit(0L)).cast("double") /
              col("__nch"), 6))).as("top_ngram_char_frac"),
        when(col("__nch") === 0, lit(0.0)).otherwise(
          least(lit(1.0),
            round(coalesce(col("__dupchars"), lit(0L)).cast("double") /
              col("__nch"), 6))).as("dup_ngram_char_frac"))
    out.select(col(idCol), col("dup_line_frac"), col("dup_line_char_frac"),
      col("top_ngram_char_frac"), col("dup_ngram_char_frac"),
      (col("dup_line_frac") <= maxDupLineFrac).as("ok_dup_line"),
      (col("dup_line_char_frac") <= maxDupLineCharFrac).as("ok_dup_line_char"),
      (col("top_ngram_char_frac") <= maxTopNgramCharFrac).as("ok_top_ngram"),
      (col("dup_ngram_char_frac") <= maxDupNgramCharFrac).as("ok_dup_ngram"),
      (col("dup_line_frac") <= maxDupLineFrac &&
        col("dup_line_char_frac") <= maxDupLineCharFrac &&
        col("top_ngram_char_frac") <= maxTopNgramCharFrac &&
        col("dup_ngram_char_frac") <= maxDupNgramCharFrac).as("keep"))
  }

  /** C4-style line-level cleaning panel (public C4/T5 heuristics): a
    * line survives iff it ends in terminal punctuation (`. ! ? "`),
    * has ≥ `minWordsPerLine` words, and does not contain
    * `banLineSubstring` (case-insensitive — C4 drops "javascript"
    * lines); the PAGE is flagged bad if its full text contains any of
    * `banPageSubstrings` (C4: "lorem ipsum", "{") or fewer than
    * `minKeptLines` lines survive. Output per input row: (id, n_lines,
    * n_kept, ok_no_banned, ok_min_lines, keep, clean_text) — flags stay
    * auditable like [[gopherRules]]; `clean_text` is the surviving
    * lines rejoined with newlines regardless of `keep` (callers filter).
    *
    * Scale shape: a pure zero-shuffle projection. The per-line
    * predicate is an array `filter` lambda — interpreted, not
    * codegen'd, which this file's policy forbids PER TOKEN; per LINE it
    * is deliberate: the alternative (posexplode → codegen'd per-row
    * predicate → per-doc reassembly groupBy) shuffles the entire corpus
    * text through an exchange, while the lambda keeps the op
    * embarrassingly parallel and the predicate itself is cheap string
    * ops (trim/substr/instr + one split for the word count). */
  def c4LineFilters(df: DataFrame, idCol: String, textCol: String,
                    minWordsPerLine: Int = 3, minKeptLines: Int = 1,
                    banLineSubstring: String = "javascript",
                    banPageSubstrings: Seq[String] = Seq("lorem ipsum", "{")): DataFrame = {
    require(minWordsPerLine >= 1, s"minWordsPerLine must be >= 1, got $minWordsPerLine")
    require(minKeptLines >= 0, s"minKeptLines must be >= 0, got $minKeptLines")
    // the checks run against lowercased text — lower the needles too so
    // a caller passing "JavaScript" doesn't silently never match
    val banLine = banLineSubstring.toLowerCase(java.util.Locale.ROOT)
    val banPage = banPageSubstrings.map(_.toLowerCase(java.util.Locale.ROOT))
    val lines = split(col(textCol), "\n")
    def lineOk(l: Column): Column = {
      val t = trim(l)
      val terminal = substring(t, -1, 1).isin(".", "!", "?", "\"")
      val words = when(t === "", lit(0)).otherwise(size(tokens(t)))
      terminal && words >= minWordsPerLine &&
        instr(lower(t), banLine) === 0
    }
    val kept = filter(lines, lineOk(_))
    val okBanned = banPage
      .map(s => instr(lower(col(textCol)), s) === 0)
      .reduce(_ && _)
    df.select(col(idCol), size(lines).as("n_lines"), size(kept).as("n_kept"),
        okBanned.as("ok_no_banned"), array_join(kept, "\n").as("clean_text"))
      .select(col(idCol), col("n_lines"), col("n_kept"), col("ok_no_banned"),
        (col("n_kept") >= minKeptLines).as("ok_min_lines"),
        (col("ok_no_banned") && col("n_kept") >= minKeptLines).as("keep"),
        col("clean_text"))
  }

  /** Corpus-wide repeated-LINE removal — the literal C4/RefinedWeb line
    * dedup (the [[removeRepeatedSpans]] sibling for corpora that DO
    * have line structure): every line whose corpus-wide document
    * frequency exceeds `maxDf` (navigation, cookie banners, footers) is
    * cut from every document; lines shorter than `minChars` characters
    * (default 1 — i.e. only empty lines) are exempt from both counting
    * and removal, so blank-line formatting survives. Output: (id,
    * n_lines, n_dropped, clean_text) — one row per input document.
    *
    * Scale shape — identical to [[removeRepeatedSpans]]: the df count
    * runs per-doc-distinct on 60-bit [[Dedup.sharedHash60]] keys (8-byte
    * exchange), the hot set is tiny by nature and joins back
    * AQE-broadcastable, and reassembly is the window-free
    * collect_list + array_sort aggregate. Line text crosses only the
    * inherent output exchange. A hot-hash match implies equal content
    * (modulo 60-bit collision), hence equal length — so the `minChars`
    * exemption composes with the join flag without a re-count. */
  def removeRepeatedLines(df: DataFrame, idCol: String, textCol: String,
                          maxDf: Int = 1, minChars: Int = 1,
                          inputReuse: Reuse = Reuse.Off): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    require(minChars >= 0, s"minChars must be >= 0, got $minChars")
    // the hash branch and the flag/reassembly branch both read the
    // input — a cheap selective scan should recompute (default Off
    // keeps pushdown/pruning), but when `df` is an expensive DERIVED
    // chain (a filter+normalize pipeline stage), `inputReuse = Local`
    // truncates it so the chain runs once. This deliberately
    // checkpoints a text-bearing frame — the caller's storage-vs-
    // compute trade, same as the quantile filter's 'local' option.
    val in = inputReuse(df)
    def lineRows = in.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("line_no", "line")))
      .withColumn("__h", Dedup.sharedHash60(col("line")))
    val hashes = Reuse.Local(lineRows.filter(length(col("line")) >= minChars)
      .select(col(idCol), col("__h")).distinct())
    val hot = hashes
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
    lineRows.join(hot, Seq("__h"), "left")
      .select(col(idCol), col("line_no"), col("line"),
        (col("__df").isNotNull && length(col("line")) >= minChars).as("__drop"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__drop"), 1L).otherwise(0L)).as("n_dropped"),
        concat_ws("\n", transform(
          array_sort(collect_list(when(!col("__drop"),
            struct(col("line_no"), col("line"))))),
          _.getField("line"))).as("clean_text"))
  }

  private val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val phoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** PII redaction — the action [[piiScan]] is the pre-step for:
    * email- and US-phone-shaped substrings replaced with typed
    * placeholders. Same conservative portable patterns; pure codegen'd
    * per-row regex rewrite, no shuffle. */
  def piiRedact(text: Column): Column =
    regexp_replace(regexp_replace(text, emailRe, "[EMAIL]"),
      phoneRe, "[PHONE]")

  /** Bigram language-model score — [[unigramLogProb]]'s next rung on
    * the CCNet ladder (perplexity under a self-trained corpus LM):
    * avg over a document's bigram OCCURRENCES of
    * `ln((c(w1 w2)+1) / (c(w1)+V))` — add-1-smoothed conditional
    * log-likelihood, V = corpus vocabulary size. Documents whose
    * bigrams are corpus-typical score high; shuffled/gibberish word
    * salad scores low even when its UNIGRAMS are common — the failure
    * mode the unigram score cannot see. Output: (id, n_bigrams,
    * avg_logprob); documents with < 2 tokens have no bigrams and are
    * absent.
    *
    * Scale shape — tfidf-family: per-(doc, bigram) tf is partial-
    * aggregable; bigram and unigram count tables join on 60-bit
    * [[Dedup.sharedHash60]] keys (8-byte exchanges — these tables are
    * vocabulary-scale, NOT broadcastable, which is why the join is
    * relational); V is a broadcast single row; text leaves the first
    * projections only as hashes. round(·,4) absorbs libm-ln spread. */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val uh = Reuse.Local(df.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .select(col(idCol), Dedup.sharedHash60(col("w")).as("uh")))
    val cu = uh.groupBy(col("uh")).agg(count(lit(1)).as("cu"))
    val vocab = cu.agg(count(lit(1)).as("v"))
    val btf = Reuse.Local(
      Dedup.shingleRowsPos(df.select(col(idCol), col(textCol)),
          idCol, textCol, n = 2)
        .select(col(idCol), Dedup.sharedHash60(col("s")).as("bh"),
          Dedup.sharedHash60(element_at(split(col("s"), " "), 1)).as("wh"))
        .groupBy(col(idCol), col("bh"), col("wh"))
        .agg(count(lit(1)).as("tf")))
    val cb = btf.groupBy(col("bh")).agg(sum(col("tf")).as("cb"))
    btf.join(cb, "bh").join(cu, btf("wh") === cu("uh"))
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"),
        round(sum(col("tf") * log((col("cb") + 1.0) / (col("cu") + col("v")))) /
          sum(col("tf")), 4).as("avg_logprob"))
  }

  /** Interpolated Kneser-Ney TRIGRAM LM score — the top rung of the
    * CCNet perplexity ladder here ([[unigramLogProb]] → add-1
    * [[bigramLogProb]] → this): the published smoothing family real
    * perplexity filters use (Kneser & Ney '95; Chen & Goodman '99
    * interpolated form, fixed discount D). Per document, the average
    * over trigram OCCURRENCES of `ln P_KN(w3 | w1 w2)` with
    *
    *   P_KN(w3|w1w2) = (c(w1w2w3) − D)/c(w1w2·)
    *                   + D·N1+(w1w2·)/c(w1w2·) · P_KN(w3|w2)
    *   P_KN(w3|w2)   = (N1+(·w2w3) − D)/N1+(·w2·)
    *                   + D·N1+(w2·)/N1+(·w2·) · P_cont(w3)
    *   P_cont(w3)    = N1+(·w3) / N1+(··)
    *
    * where every count derives from the corpus's TRIGRAM table:
    * c(w1w2·) = Σ_w c(w1w2w), N1+(x·)/N1+(·x) = distinct-continuation
    * type counts, and the continuation-unigram support is the suffix
    * bigram types (w2,w3). Scoring the training corpus itself (the
    * CCNet self-trained convention, as the other two rungs), every
    * count in a scored position is ≥ 1, so the `max(·−D, 0)` guards of
    * the general form are identities and the formula above is total —
    * no back-off branch, no NULLs. KN's signature behavior: a word
    * frequent only inside one fixed phrase ("Francisco") gets a LOW
    * continuation probability — add-k smoothing cannot see that.
    *
    * Engine parity: counts are exact integers; each position's
    * probability is the SAME IEEE op sequence both engines evaluate
    * (fixed division/association order, D a binary-exact literal);
    * round(·,4) absorbs the single libm-ln call's 1-ulp spread — the
    * [[bigramLogProb]] contract verbatim.
    *
    * Scale shape — tfidf-family: trigram occurrences reduce to 60-bit
    * hash keys in the first projection (id + five 8-byte hashes); the
    * count tables are vocabulary-scale, joined RELATIONALLY on the
    * hashes (deliberately not broadcast); N1+(··) is a broadcast 1-row
    * total; text never crosses an exchange. Output: (id, n_trigrams,
    * avg_logprob); documents with < 3 tokens have no trigrams and are
    * absent. */
  def trigramKnLogProb(df: DataFrame, idCol: String, textCol: String,
                       discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0, 1), got $discount")
    val d = lit(discount)
    // occurrence rows: every trigram with its five hash keys
    val parts = split(col("s"), " ")
    val r = Reuse.Local(
      Dedup.shingleRowsPos(df.select(col(idCol), col(textCol)),
          idCol, textCol, n = 3)
        .select(col(idCol),
          Dedup.sharedHash60(col("s")).as("th"),
          Dedup.sharedHash60(concat_ws(" ",
            element_at(parts, 1), element_at(parts, 2))).as("bh12"),
          Dedup.sharedHash60(concat_ws(" ",
            element_at(parts, 2), element_at(parts, 3))).as("bh23"),
          Dedup.sharedHash60(element_at(parts, 2)).as("mh"),
          Dedup.sharedHash60(element_at(parts, 3)).as("w3h")))
    // trigram TYPE table (one row per distinct trigram, keys along)
    val types = Reuse.Local(r.select(col("th"), col("bh12"), col("bh23"),
      col("mh"), col("w3h")).distinct())
    val c3 = r.groupBy(col("th")).agg(count(lit(1)).as("c3"))
    // context stats: occurrences and distinct continuations of (w1,w2)
    val t12 = r.groupBy(col("bh12")).agg(count(lit(1)).as("ctx12"),
      count_distinct(col("th")).as("n1p12"))
    // continuation count of the suffix bigram: distinct w1 before (w2,w3)
    val t23 = types.groupBy(col("bh23")).agg(count(lit(1)).as("n1p23"))
    // middle-word stats: trigram types through w2; distinct w3 after w2
    val tmid = types.groupBy(col("mh")).agg(count(lit(1)).as("mid2"),
      count_distinct(col("w3h")).as("n1p2dot"))
    // continuation-unigram support: suffix bigram types
    val suffix = Reuse.Local(types.select(col("mh"), col("w3h")).distinct())
    val tw3 = suffix.groupBy(col("w3h")).agg(count(lit(1)).as("n1pw3"))
    val nbt = suffix.agg(count(lit(1)).as("nbt"))
    val tf = r.groupBy(col(idCol), col("th"), col("bh12"), col("bh23"),
      col("mh"), col("w3h")).agg(count(lit(1)).as("tf"))
    // the interpolated probability — SAME op sequence as the oracle SQL
    val puni = col("n1pw3") / col("nbt")
    val pmid = (col("n1p23") - d) / col("mid2") +
      d * col("n1p2dot") / col("mid2") * puni
    val p = (col("c3") - d) / col("ctx12") +
      d * col("n1p12") / col("ctx12") * pmid
    tf.join(c3, "th").join(t12, "bh12").join(t23, "bh23")
      .join(tmid, "mh").join(tw3, "w3h").crossJoin(broadcast(nbt))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_trigrams"),
        round(sum(col("tf") * log(p)) / sum(col("tf")), 4).as("avg_logprob"))
  }

  /** Occurrence rows for the KN family: every trigram of every doc with
    * its five 60-bit hash keys — shared by [[trigramKnLogProb]]'s
    * self-trained form (inlined there since round 13's first cut) and
    * the stored-model train/score pair below. */
  private def knTrigramRows(df: DataFrame, idCol: String,
                            textCol: String): DataFrame = {
    val parts = split(col("s"), " ")
    Dedup.shingleRowsPos(df.select(col(idCol), col(textCol)),
        idCol, textCol, n = 3)
      .select(col(idCol),
        Dedup.sharedHash60(col("s")).as("th"),
        Dedup.sharedHash60(concat_ws(" ",
          element_at(parts, 1), element_at(parts, 2))).as("bh12"),
        Dedup.sharedHash60(concat_ws(" ",
          element_at(parts, 2), element_at(parts, 3))).as("bh23"),
        Dedup.sharedHash60(element_at(parts, 2)).as("mh"),
        Dedup.sharedHash60(element_at(parts, 3)).as("w3h"))
  }

  /** TRAIN the KN trigram model as STORED count tables — the CCNet
    * deployment shape ([[trigramKnLogProb]] self-trains and re-counts
    * every run; a production filter trains the LM on the REFERENCE
    * corpus once, stores it, and scores every ingestion batch from the
    * read-back tables — the classifier-weights / BM25-index symmetry).
    * Returns the five tables, each an ordinary parquet-able frame:
    *  - `c3` (th, c3) — trigram occurrence counts;
    *  - `ctx` (bh12, ctx12, n1p12) — context totals + distinct
    *    continuations;
    *  - `sfx` (bh23, n1p23) — suffix-bigram continuation counts;
    *  - `mid` (mh, mid2, n1p2dot) — middle-word type stats;
    *  - `uni` (w3h, n1pw3, nbt, nw3) — continuation-unigram counts with
    *    the two corpus totals riding every row (window totals — the
    *    read-back side needs them on rows it does NOT match).
    * All vocabulary-scale hash-keyed frames; one tokenize pass. */
  def trigramKnTrain(corpus: DataFrame, idCol: String,
                     textCol: String): Map[String, DataFrame] = {
    val r = Reuse.Local(knTrigramRows(corpus, idCol, textCol))
    val types = Reuse.Local(r.select(col("th"), col("bh12"), col("bh23"),
      col("mh"), col("w3h")).distinct())
    Map(
      "c3" -> r.groupBy(col("th")).agg(count(lit(1)).as("c3")),
      "ctx" -> r.groupBy(col("bh12")).agg(count(lit(1)).as("ctx12"),
        count_distinct(col("th")).as("n1p12")),
      // the trigram TYPE table rides the stored model (sixth table,
      // ~the c3 table's size) — it is what makes the model APPENDABLE:
      // every continuation stat is a count of DISTINCT types, which
      // occurrence counts cannot merge (a type seen in both the stored
      // corpus and a new batch must count once); with the type set
      // stored, [[trigramKnAppend]] merges without re-reading old text
      "types" -> types) ++ knTypeTables(types)
  }

  /** The type-level KN count tables (sfx/mid/uni) from a trigram TYPE
    * table — shared by [[trigramKnTrain]] and [[trigramKnAppend]] so
    * train-from-scratch and append-merge cannot drift. */
  private def knTypeTables(types: DataFrame): Map[String, DataFrame] = {
    val suffix = types.select(col("mh"), col("w3h")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    Map(
      "sfx" -> types.groupBy(col("bh23")).agg(count(lit(1)).as("n1p23")),
      "mid" -> types.groupBy(col("mh")).agg(count(lit(1)).as("mid2"),
        count_distinct(col("w3h")).as("n1p2dot")),
      "uni" -> suffix.groupBy(col("w3h")).agg(count(lit(1)).as("n1pw3"))
        .select(col("w3h"), col("n1pw3"),
          sum(col("n1pw3")).over(w).as("nbt"),
          count(lit(1)).over(w).as("nw3")))
  }

  /** APPEND a new batch into a STORED KN trigram model — retrain-free
    * ingestion of new reference docs, the maintenance verb that puts
    * the model store under the same discipline as every other store in
    * the library (VERDICT r13 "Missing" #3). The merge law (gate +
    * spec pinned): `append(train(A), B) == train(A ∪ B)` on all six
    * tables. Counts merge at two distinct levels:
    *
    *  - OCCURRENCE counts add: `c3` and `ctx.ctx12` full-outer-join on
    *    their hash keys and sum (a trigram occurrence is an occurrence
    *    wherever it was counted);
    *  - CONTINUATION (type-level) stats do NOT add — `n1p12`, `n1p23`,
    *    `mid2`, `n1p2dot`, `n1pw3`, `nbt`, `nw3` count DISTINCT
    *    trigram/suffix types, so a type present in both generations
    *    must count once. They are recomputed from the MERGED type
    *    table (stored-types ∪ batch-types, distinct).
    *
    * Scale shape: the stored corpus is never re-tokenized — the merge
    * touches only the vocabulary-scale hash-keyed model tables and the
    * new batch's rows; text never crosses an exchange. */
  def trigramKnAppend(model: Map[String, DataFrame], batch: DataFrame,
                      idCol: String, textCol: String): Map[String, DataFrame] = {
    val need = Set("c3", "ctx", "types")
    require(need.subsetOf(model.keySet),
      s"trigramKnAppend: model must carry ${need.toSeq.sorted.mkString(",")}" +
        s" (a pre-round-14 five-table store has no type table and must " +
        s"retrain once), got ${model.keySet.toSeq.sorted.mkString(",")}")
    val rNew = Reuse.Local(knTrigramRows(batch, idCol, textCol))
    val typesNew = rNew.select(col("th"), col("bh12"), col("bh23"),
      col("mh"), col("w3h")).distinct()
    val types = Reuse.Local(model("types").unionByName(typesNew).distinct())
    val c3 = model("c3").select(col("th"), col("c3").as("__c3o"))
      .join(rNew.groupBy(col("th")).agg(count(lit(1)).as("__c3n")),
        Seq("th"), "full_outer")
      .select(col("th"), (coalesce(col("__c3o"), lit(0L)) +
        coalesce(col("__c3n"), lit(0L))).as("c3"))
    val ctxOcc = model("ctx").select(col("bh12"), col("ctx12").as("__co"))
      .join(rNew.groupBy(col("bh12")).agg(count(lit(1)).as("__cn")),
        Seq("bh12"), "full_outer")
      .select(col("bh12"), (coalesce(col("__co"), lit(0L)) +
        coalesce(col("__cn"), lit(0L))).as("ctx12"))
    // every context with an occurrence has >= 1 type, so the keysets
    // match and the join is inner
    val ctx = ctxOcc.join(
      types.groupBy(col("bh12")).agg(count(lit(1)).as("n1p12")), Seq("bh12"))
    Map("c3" -> c3, "ctx" -> ctx, "types" -> types) ++ knTypeTables(types)
  }

  /** SCORE documents under a STORED KN trigram model — the serving half
    * of [[trigramKnTrain]], with the back-off the self-trained form
    * never needs (scoring NEW text hits unseen trigrams, contexts and
    * words):
    *
    *  - unigram level: add-1 floor over the continuation counts,
    *    `P_uni = (N1+(·w3)⁰ + 1) / (N1+(··) + |W3| + 1)` — an unseen
    *    word takes the one reserved OOV slot instead of probability
    *    zero (the deterministic, engine-exact closure of the OOV hole;
    *    the TRAINED orders above keep pure interpolated KN);
    *  - middle level: `max(N1+(·w2w3)⁰ − D, 0)/N1+(·w2·)
    *    + D·N1+(w2·)/N1+(·w2·)·P_uni`, and an UNSEEN middle word backs
    *    off to `P_uni` directly (the standard unseen-context rule);
    *  - top level: `max(c(w1w2w3)⁰ − D, 0)/c(w1w2·)
    *    + D·N1+(w1w2·)/c(w1w2·)·P_mid`, unseen context → `P_mid`.
    *
    * Output: (idCol, n_trigrams, n_unseen, avg_logprob) — `n_unseen`
    * counts positions whose exact trigram the model never saw, the
    * corpus-drift signal a monitoring panel reads next to the score.
    * Scale shape: the model tables join RELATIONALLY on 60-bit hashes
    * (LEFT joins — misses are data, not errors); the two totals ride a
    * broadcast 1-row aggregate; text never crosses an exchange;
    * round(·,4) absorbs the one libm ln. */
  def trigramKnScoreStored(df: DataFrame, idCol: String, textCol: String,
                           model: Map[String, DataFrame],
                           discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0, 1), got $discount")
    val need = Set("c3", "ctx", "sfx", "mid", "uni")
    require(need.subsetOf(model.keySet),
      s"model must carry tables ${need.toSeq.sorted.mkString(",")}, got " +
        s"${model.keySet.toSeq.sorted.mkString(",")}")
    val d = lit(discount)
    val tf = knTrigramRows(df, idCol, textCol)
      .groupBy(col(idCol), col("th"), col("bh12"), col("bh23"),
        col("mh"), col("w3h")).agg(count(lit(1)).as("tf"))
    val stats = model("uni").agg(max(col("nbt")).as("nbt"),
      max(col("nw3")).as("nw3"))
    val puni = (coalesce(col("n1pw3"), lit(0L)) + lit(1.0)) /
      (col("nbt") + col("nw3") + lit(1.0))
    val pmid = when(col("mid2").isNull, puni)
      .otherwise(
        greatest(coalesce(col("n1p23"), lit(0L)) - d, lit(0.0)) / col("mid2") +
          d * col("n1p2dot") / col("mid2") * puni)
    val p = when(col("ctx12").isNull, pmid)
      .otherwise(
        greatest(coalesce(col("c3"), lit(0L)) - d, lit(0.0)) / col("ctx12") +
          d * col("n1p12") / col("ctx12") * pmid)
    tf.join(model("c3"), Seq("th"), "left")
      .join(model("ctx"), Seq("bh12"), "left")
      .join(model("sfx"), Seq("bh23"), "left")
      .join(model("mid"), Seq("mh"), "left")
      .join(model("uni").select(col("w3h"), col("n1pw3")), Seq("w3h"), "left")
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_trigrams"),
        sum(when(col("c3").isNull, col("tf")).otherwise(lit(0L)))
          .as("n_unseen"),
        round(sum(col("tf") * log(p)) / sum(col("tf")), 4).as("avg_logprob"))
  }

  /** Text normalization — the pipeline's mandatory first step (mixed
    * NFC/NFD sources hash-split identical text, so EVERY hash-keyed
    * operator in this library — exact dedup, minhash, span/line dedup,
    * fingerprints, shards — is normalization-form-sensitive):
    * Unicode-normalize (`form`, default NFC), then optionally normalize
    * CRLF/CR to LF, strip the non-whitespace C0/C1 control characters,
    * and collapse horizontal-whitespace runs (space, tab, NBSP) to one
    * space + trim. Pure per-row projection, zero shuffle.
    *
    * Oracle-comparable by construction: the regex steps use only
    * char-class ranges valid in both Java regex and RE2 (DuckDB), and
    * NFC agrees between the JDK and utf8proc (same Unicode spec). */
  def normalizeText(text: Column, form: String = "NFC",
                    normalizeNewlines: Boolean = true,
                    stripControl: Boolean = true,
                    collapseSpaces: Boolean = true): Column = {
    val norm = org.apache.spark.sql.GraftBridge.column(
      graft.functions.UnicodeNormalize(
        org.apache.spark.sql.GraftBridge.expression(text), form))
    val nl = if (normalizeNewlines) regexp_replace(norm, "\\r\\n?", "\n") else norm
    val ctrl = if (stripControl)
      regexp_replace(nl, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "") else nl
    if (collapseSpaces)
      trim(regexp_replace(ctrl, "[ \\t\\x{00A0}]+", " "))
    else ctrl
  }

  /** HTML/markup strip — the raw-crawl → text step every web-scale
    * pipeline runs before any quality or dedup pass (C4/WET-style
    * extraction, public method): drop `<script>`/`<style>` blocks WHOLE
    * (their content is code, not prose — and `1 < 2` inside them must
    * never be mistaken for a tag), drop comments, drop tags (only real
    * ones: `<` followed by an optional `/` or `!` and a letter, so
    * prose like `3 < 4` survives), unescape the common entities
    * (`&amp;` LAST so `&amp;lt;` yields the literal `&lt;`, per the
    * HTML spec's single-pass rule; unknown entities pass through),
    * then collapse all whitespace runs and trim.
    *
    * Engine-portable by construction: every regex avoids backreferences
    * (RE2 has none) and uses only `(?is)` inline flags and lazy `.*?`,
    * which Java regex and RE2 treat identically — the DuckDB oracle
    * replays the chain verbatim. Unterminated script/style blocks keep
    * their content (the lazy match needs a closer); real extraction
    * truncates such documents upstream. Pure per-row codegen'd
    * projection, zero shuffle at any scale. */
  def stripMarkup(text: Column): Column = {
    val noScript = regexp_replace(text, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)</?[a-zA-Z!][^>]*>", " ")
    val unesc = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ")
      .foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    trim(regexp_replace(replace(unesc, lit("&amp;"), lit("&")), whitespace, " "))
  }

  /** PII pattern scan (redaction pre-step every training-data pipeline
    * runs): per-row counts of email- and US-phone-shaped substrings plus
    * a drop/redact flag. Pure codegen'd per-row regexes —
    * embarrassingly parallel, no shuffle. Patterns are deliberately
    * conservative (portable across regex engines). */
  def piiScan(text: Column): Seq[Column] = Seq(
    size(regexp_extract_all(text, lit(emailRe), lit(0))).as("n_emails"),
    size(regexp_extract_all(text, lit(phoneRe), lit(0))).as("n_phones"),
    (size(regexp_extract_all(text, lit(emailRe), lit(0))) +
      size(regexp_extract_all(text, lit(phoneRe), lit(0))) > 0).as("has_pii"))

  /** Top-`topK` TF-IDF terms per document (keyword extraction — the
    * classic corpus-statistics text op an LLM-data pipeline runs for
    * topic balancing and quality heuristics).
    *
    * tfidf = tf · ln((N+1)/(df+1)); the per-doc rank orders by the
    * QUANTIZED score — (round(tfidf, 4) desc, df asc, term asc). The
    * coarse quantization is the libm hardening: a 1-ulp `ln()`
    * difference between engines (relative ~1e-16) can only flip the
    * 4-decimal rounding — and therefore the rank — if the true score
    * sits within ~1e-16 of a 5e-5 grid boundary, vanishingly unlikely;
    * the (df, term) tie-break keeps the order total either way. Ranking
    * by raw tf instead would NOT be tf-idf (a stopword with tf=10 and
    * tfidf≈0 would outrank every distinctive term).
    *
    * Scale shape: tf is a partial-aggregable (id, term) count; df a
    * partial-aggregable (term) count; N a broadcast single row; ranking
    * shuffles (id, term, tf, df) tuples only — document text never
    * leaves the first projection, and every aggregate combines
    * map-side. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    topK: Int = 3): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    // tf feeds BOTH the df aggregate and the score join; pruning
    // specializes the two branches, so without a checkpoint the corpus
    // tokenize+count chain runs twice (see Dedup.minhashPairs)
    val tf = Reuse.Local(toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .select(col(idCol), col("term"), col("tf"), col("df"),
        round(col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 4)
          .as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("df").asc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("tfidf"))
  }

  /** BM25 ranked retrieval — the standard keyword-search primitive
    * (Robertson/Spärck Jones probabilistic relevance; the Lucene-default
    * scoring shape): per query term,
    * `idf·tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` at Lucene's
    * k1 = 1.2, b = 0.75, with
    * `idf = ln(1 + (N − df + 0.5)/(df + 0.5))` (the +1 form — always
    * nonnegative, so a term in most docs cannot subtract). A training-
    * data pipeline runs this to pull topical slices out of a crawl
    * (domain-targeted subcorpora, eval-adjacent retrieval for
    * contamination triage) without an embedding pass. Output: top-`k`
    * (idCol, bm25), ordered by the QUANTIZED score (round 4 — the
    * [[tfidfTopTerms]] libm hardening: a 1-ulp cross-engine `ln` drift
    * flips the 4-decimal grid only within ~1e-16 of a boundary) desc,
    * id asc — a total order, so the LIMIT boundary is deterministic.
    *
    * Scale shape: two corpus passes — a cheap projection+aggregate for
    * (N, Σdl) (1 row, broadcast), and the term pass, whose explode is
    * filtered to the query terms by a LITERAL `isin` (no subquery ⇒ no
    * null-aware BNLJ) so only matching (id, dl, term) tuples reach the
    * partial-aggregable tf count; df is a |terms|-row aggregate of tf,
    * broadcast back. The final top-k is a TakeOrderedAndProject, never
    * a global sort. dl rides the explode instead of joining back on id
    * — a long per token beats a corpus-scale join. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int = 25): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: empty query")
    require(k >= 1, s"k must be >= 1, got $k")
    val tf = df.select(col(idCol),
        tokenCount(col(textCol)).cast("long").as("__dl"),
        explode(tokens(col(textCol))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("__dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(bm25Stats(df, tokenCount(col(textCol)).cast("long"))))
      .select(col(idCol), bm25Contrib(col("__dl")).as("__c"))
      .groupBy(col(idCol)).agg(round(sum(col("__c")), 4).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol).asc)
      .limit(k)
  }

  /** BM25 with PSEUDO-RELEVANCE FEEDBACK (RM-style query expansion,
    * Rocchio/Lavrenko lineage): round 1 retrieves `fbDocs` docs for the
    * original query, the feedback set's non-query terms are scored
    * `tf_fb · ln((N+1)/(df+1))` (the [[tfidfTopTerms]] idf pairing,
    * quantized round-4, ties by term), the top `fbTerms` join the
    * query, and round 2 re-retrieves with the expanded term set — the
    * recall-widening second pass a topical-slice pull runs when the
    * seed terms are too narrow.
    *
    * Driver boundaries (each bounded and deliberate): the fbDocs id
    * list (≤ fbDocs rows), the candidate vocabulary of the feedback
    * docs (guarded by `maxCandidates` with a loud refusal), and the
    * chosen expansion terms (≤ fbTerms) — all become LITERAL `isin`s,
    * so every corpus pass keeps the pushed-filter shape of
    * [[bm25TopK]]. Three corpus passes total (round-1 score, candidate
    * df, round-2 score) — inherent to PRF, not an implementation tax. */
  def bm25Prf(df: DataFrame, idCol: String, textCol: String,
              queryTerms: Seq[String], k: Int = 25,
              fbDocs: Int = 10, fbTerms: Int = 5,
              maxCandidates: Int = 10000): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Prf: empty query")
    require(fbDocs >= 1, s"fbDocs must be >= 1, got $fbDocs")
    require(fbTerms >= 0, s"fbTerms must be >= 0, got $fbTerms")
    val corpus = df.select(col(idCol), col(textCol))
    val fbIds = bm25TopK(corpus, idCol, textCol, queryTerms, k = fbDocs)
      .select(col(idCol)).collect().map(_.get(0)).toSeq
    if (fbIds.isEmpty || fbTerms == 0)
      return bm25TopK(corpus, idCol, textCol, queryTerms, k)
    // candidate terms + their feedback-set tf: tokenizes ONLY the
    // fbDocs-row feedback slice
    val fb = corpus.filter(col(idCol).isin(fbIds: _*))
      .select(explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0 && !col("term").isin(queryTerms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("tf_fb"))
    val cand = fb.limit(maxCandidates + 1).collect()
    require(cand.length <= maxCandidates,
      s"bm25Prf: feedback vocabulary exceeds $maxCandidates terms — " +
        "shrink fbDocs (the literal-pushdown boundary is by design)")
    val candTerms = cand.map(_.getString(0)).toSeq
    // the collected (term, tf_fb) rows come back as a bounded local
    // relation — the df pass joins against it instead of re-tokenizing
    // the feedback slice
    val fbLocal = corpus.sparkSession.createDataFrame(
      corpus.sparkSession.sparkContext.parallelize(cand.toSeq, 1),
      fb.schema)
    // one corpus pass for the candidates' document frequency (pushed
    // literal In), idf exactly the tfidfTopTerms pairing
    val dfreq = corpus
      .select(col(idCol), explode(array_distinct(tokens(col(textCol))))
        .as("term"))
      .filter(col("term").isin(candTerms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = corpus.agg(count(lit(1)).as("n_docs"))
    val expansion = dfreq.join(broadcast(fbLocal), "term")
      .crossJoin(broadcast(n))
      .select(col("term"), prfScore.as("__score"))
      .orderBy(col("__score").desc, col("term").asc)
      .limit(fbTerms)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    bm25TopK(corpus, idCol, textCol,
      (queryTerms ++ expansion).distinct, k)
  }

  /** The second-level labels under which a 2-letter ccTLD hosts its own
    * registration namespace — the documented PUBLIC-SUFFIX APPROXIMATION
    * (the full Mozilla public-suffix list is thousands of rules and a
    * moving target; these seven labels cover the dominant ccSLD pattern
    * — co.uk, com.au, ac.jp, gov.in, org.nz, net.cn, edu.sg — which is
    * the standard approximation when the list isn't shipped). */
  val ccSlds: Seq[String] = Seq("co", "com", "net", "org", "ac", "gov", "edu")

  /** Lowercased host of a URL column (port/userinfo stripped); NULL for
    * unparseable URLs — `try_parse_url`, not `parse_url`, because under
    * ANSI semantics the strict form THROWS on the first garbage URL and
    * raw crawl data always contains one. */
  def urlHost(url: Column): Column = lower(try_parse_url(url, lit("HOST")))

  /** Registrable-domain of a (lowercased) host — the key URL-level
    * curation groups and blocks by (RefinedWeb filters on it; C4's
    * badlist matching and [[Sampling.domainCap]]'s grouping both want
    * the REGISTERED site, not the subdomain): the last two labels, or
    * the last THREE when the second-to-last is a [[ccSlds]] label under
    * a 2-letter ccTLD (news.bbc.co.uk → bbc.co.uk, ads.x.example.com →
    * example.com). A bare 1/2-label host is its own domain; a NULL host
    * yields a NULL domain (guarded explicitly — the otherwise-branch
    * `concat_ws` SKIPS null arguments and would silently map every
    * unparseable URL to the empty-string domain). Pure codegen'd string
    * projection (RE2-safe split — no backreferences), zero shuffle. */
  def registrableDomain(host: Column): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    val last = element_at(labels, -1)
    val second = element_at(labels, -2)
    val ccSld = second.isin(ccSlds: _*) && length(last) === 2 && n >= 3
    // two host shapes where "the last two labels" is NOT a registrable
    // domain: a trailing-dot FQDN ("example.com.") splits to an EMPTY
    // last label (the otherwise-branch would emit "com." — concat_ws
    // keeps empty strings), and an IP-literal host ("1.2.3.4",
    // "[2001:db8::1]") has no label hierarchy at all ("3.4" is not a
    // site). Both pass through UNCHANGED — for those rows the host
    // itself is the grouping/blocklist key. RE2-safe patterns (no
    // backreferences; anchored, so no \z subtlety either).
    val ipLike = host.rlike("^\\[") || host.rlike("^(\\d+\\.)*\\d+$")
    when(host.isNull, lit(null).cast("string"))
      .when(last === "" || ipLike, host)
      .when(n <= 2, host)
      .when(ccSld, concat_ws(".", element_at(labels, -3), second, last))
      .otherwise(concat_ws(".", second, last))
  }

  /** Per-registrable-domain ingestion report — the dashboard a crawl
    * pipeline reads BEFORE setting [[Sampling.domainCap]]'s cap and the
    * blocklist ([[urlFilter]]): the `topK` domains by document count
    * with each one's share of the parseable corpus. Rows whose URL
    * yields no host are excluded from both the counts and the total
    * (they can't attest a domain — the [[urlFilter]] drop policy).
    * Ordered (n_docs desc, domain asc) — a total order, so the LIMIT
    * boundary is deterministic. Scale shape: host/domain are codegen'd
    * projections, the count partial-aggregates on the domain key, the
    * corpus total broadcasts as one row; nothing but (domain, count)
    * pairs cross an exchange. Output: (domain, n_docs, share) — rows
    * count; an id column plays no role here. */
  def domainReport(df: DataFrame, urlCol: String,
                   topK: Int = 20): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val counts = df
      .select(registrableDomain(urlHost(col(urlCol))).as("domain"))
      .filter(col("domain").isNotNull)
      .groupBy(col("domain")).agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum(col("n_docs")).as("__tot"))
    counts.crossJoin(broadcast(total))
      .select(col("domain"), col("n_docs"),
        round(col("n_docs").cast("double") / col("__tot"), 6).as("share"))
      .orderBy(col("n_docs").desc, col("domain").asc)
      .limit(topK)
  }

  /** URL/domain-level filter — the raw-crawl admission step that runs
    * BEFORE any text heuristic (RefinedWeb's URL filtering, C4's
    * badlist): parse each row's URL to its host, reduce to the
    * registrable domain, and drop rows whose domain sits in the
    * blocklist. The blocklist arrives as a DataFrame (one `domain`
    * column — at production scale a read-back parquet/curated table; it
    * is lowercased here so list casing can't silently miss) and
    * BROADCASTS into a left-anti join; rows whose URL yields no host
    * (garbage crawl URLs) are dropped — a row that cannot attest its
    * domain cannot pass a domain gate. Output: (idCol, host, domain)
    * for the survivors; compose `groupBy(domain).count` /
    * [[Sampling.domainCap]] downstream for the per-domain balancing the
    * domain key exists for. Pure projection + broadcast anti-join —
    * zero corpus-scale exchange. */
  def urlFilter(df: DataFrame, idCol: String, urlCol: String,
                blocklist: DataFrame): DataFrame = {
    require(blocklist.columns.contains("domain"),
      s"blocklist must carry a `domain` column, got " +
        blocklist.columns.mkString(","))
    val parsed = df
      .select(col(idCol), urlHost(col(urlCol)).as("host"))
      .filter(col("host").isNotNull)
      .withColumn("domain", registrableDomain(col("host")))
    parsed.join(
        broadcast(blocklist.select(lower(col("domain")).as("domain"))),
        Seq("domain"), "left_anti")
      .select(col(idCol), col("host"), col("domain"))
  }
}
