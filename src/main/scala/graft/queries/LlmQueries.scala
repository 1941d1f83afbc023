package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge
import graft.Tables
import graft.functions.SimHash32
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** LLM-data-pipeline operator inventory — SURVEY.md §2.10 (driver
  * mandate beyond the reference surface).
  *
  * The dedup/sketch pipelines hash with md5-derived values precisely so
  * the ENTIRE pipeline (shingle → minhash → band join → exact-Jaccard
  * confirm; simhash bit votes; LSH hyperplane buckets) is reproducible in
  * DuckDB SQL — these oracles verify the distributed pipeline
  * bit-for-bit, not just row counts.
  */
object LlmQueries {

  private val hashSql = "CAST(('0x'||substr(md5(s),1,8)) AS BIGINT)"

  /** The BM25 scoring CTE chain over `documents` (optionally filtered —
    * the takedown oracle scores the REMAINING corpus), shared by every
    * bm25-family oracle so the algebra (the exact parenthesization the
    * operator uses — integer (N-df) before +0.5, (b·dl)/avgdl
    * left-assoc, tf cast to double before the k1 products) cannot
    * diverge between them. Ends at `sc` = (doc_id, c). */
  private def bm25CteSql(where: String): String =
    s"""d AS (SELECT doc_id, string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+') AS toks
              FROM documents$where),
        stats AS (SELECT count(*) AS n_docs,
                         sum(len(toks)) AS total_toks FROM d),
        tok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d),
        tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM tok
               WHERE term IN ('hash', 'join', 'vector')
               GROUP BY doc_id, dl, term),
        dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        sc AS (SELECT tf.doc_id,
                 ln(1.0 + (s.n_docs - dfr.df + 0.5) / (dfr.df + 0.5)) *
                   (CAST(tf.tf AS DOUBLE) * (1.2 + 1)) /
                   (CAST(tf.tf AS DOUBLE) +
                    1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.dl AS DOUBLE) /
                           (CAST(s.total_toks AS DOUBLE) / s.n_docs))) AS c
               FROM tf JOIN dfr ON tf.term = dfr.term CROSS JOIN stats s)"""
  /** 13-token gram over a `toks` list at index `i` — shared by every
    * decontamination-family oracle so the shingle format can't diverge. */
  private val gram13Sql = (0 until 13).map(j => s"toks[i+$j]").mkString(" || ' ' || ")

  /** The `st_admission` oracle (lives here for the shared CTE helpers;
    * referenced from [[StreamQueries.oracle]]): the full admission path
    * — Gopher keep → 13-gram decontamination vs the eval slice →
    * band-candidate + exact-jaccard near-dup rejection vs the corpus —
    * each stage the same algebra as its standalone oracle. */
  private[queries] lazy val admissionOracleSql =
    s"""WITH m AS (SELECT max(doc_id) AS mx FROM documents),
        aa AS (SELECT doc_id, text FROM documents, m
               WHERE doc_id > mx - 300 AND doc_id <= mx - 200),
        inc AS (SELECT doc_id + 3000000 AS doc_id, text FROM aa
                UNION ALL
                SELECT a.doc_id + 4000000 AS doc_id,
                       a.text || ' ' || b.text || ' ' || c.text AS text
                FROM aa a
                JOIN documents b ON b.doc_id = a.doc_id - 120
                JOIN documents c ON c.doc_id = a.doc_id - 240),
        q AS (SELECT doc_id, text FROM (
                SELECT doc_id, text,
                  CAST(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')) AS INTEGER) AS n_tokens,
                  round(length(regexp_replace(text, '[\\t\\n\\x0B\\f\\r ]+', '', 'g')) * 1.0
                        / greatest(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')), 1), 6) AS mwl,
                  round((length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) * 1.0
                        / greatest(length(text), 1), 6) AS sym,
                  CAST(len(list_filter(string_split_regex(lower(text), '[\\t\\n\\x0B\\f\\r ]+'),
                       t -> t IN ($stopsEn))) AS INTEGER) AS stops
                FROM inc)
              WHERE n_tokens >= 10 AND n_tokens <= 100000
                AND mwl >= 2.0 AND mwl <= 10.0 AND sym <= 0.1 AND stops >= 1),
        qt AS (SELECT doc_id, string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+') AS toks FROM q),
        qg AS (SELECT doc_id, list_distinct(list_transform(
                 generate_series(1, len(toks) - 12), i -> $gram13Sql)) AS gs
               FROM qt WHERE len(toks) >= 13),
        qh AS (SELECT doc_id, list_distinct(list_transform(gs, s -> $hashSql)) AS hs
               FROM qg),
        evt AS (SELECT doc_id, string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+') AS toks
                FROM documents, m WHERE doc_id > mx - 100),
        evg AS (SELECT doc_id, list_distinct(list_transform(
                  generate_series(1, len(toks) - 12), i -> $gram13Sql)) AS gs
                FROM evt WHERE len(toks) >= 13),
        evh AS (SELECT DISTINCT unnest(list_distinct(list_transform(gs, s -> $hashSql))) AS eh
                FROM evg),
        contaminated AS (SELECT DISTINCT x.doc_id
                         FROM (SELECT doc_id, unnest(hs) AS eh FROM qh) x
                         JOIN evh USING (eh)),
        clean AS (SELECT doc_id, text FROM q
                  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        ${minhashSketchCtes("clean", None, "n")},
        ${minhashSketchCtes("documents", None, "c")},
        cand AS (SELECT DISTINCT x.doc_id AS id_new, y.doc_id AS id_corpus
                 FROM bandsn x JOIN bandsc y
                   ON x.band_idx = y.band_idx AND x.band_val = y.band_val),
        rejected AS (SELECT DISTINCT c.id_new AS doc_id
                     FROM cand c JOIN hsn a ON a.doc_id = c.id_new
                     JOIN hsc b ON b.doc_id = c.id_corpus
                     WHERE len(list_intersect(a.hs, b.hs)) * 1.0
                           / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.5)
        SELECT doc_id FROM clean
        WHERE doc_id NOT IN (SELECT doc_id FROM rejected)"""

  /** The BPE-train oracle as DuckDB CTEs: `nMerges` UNROLLED rounds
    * over the delimiter-wrapped symbol strings (w0 → w1 → …), each
    * round counting every adjacent symbol position weighted by word
    * frequency, picking the (count desc, l asc, r asc) winner, and
    * applying it via `replace` (left-to-right non-overlapping — the
    * bpe_count oracle's established equivalence). Ends in
    * `mAll(rank, l, r)` — the learned merge table. */
  /** The RE2-safe pre-tokenization split as a DuckDB word-extraction
    * expression — replays [[graft.operators.TextAnalysis.pretokPattern]]
    * verbatim (letter runs / digit runs / non-space-other runs; no
    * lookaround, and the whitespace class spelled explicitly because
    * Java's `\s` includes `\x0B` while RE2's does not — see the
    * pattern's scaladoc). */
  private val pretokWordsSql =
    "regexp_extract_all(text, '\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\t\\n\\x0B\\f\\r ]+')"

  private def bpeTrainCtes(nMerges: Int,
      wordsSql: String = "string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')"): String = {
    val stages = (0 until nMerges).map { i =>
      s"""p$i AS (SELECT p.l AS l, p.r AS r, sum(cnt) AS c FROM (
              SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
                       j -> {'l': syms[j], 'r': syms[j+1]})) AS p, cnt
              FROM (SELECT string_split(trim(s), '  ') AS syms, cnt
                    FROM w$i)) q
            GROUP BY 1, 2),
          b$i AS (SELECT l, r FROM p$i ORDER BY c DESC, l, r LIMIT 1),
          w${i + 1} AS (SELECT replace(w.s, ' '||b.l||'  '||b.r||' ',
                                       ' '||b.l||b.r||' ') AS s, w.cnt
                        FROM w$i w, b$i b)"""
    }.mkString(",\n          ")
    val union = (0 until nMerges)
      .map(i => s"SELECT CAST($i AS INTEGER) AS rank, l, r FROM b$i")
      .mkString("\n                    UNION ALL ")
    s"""wf AS (SELECT word, count(*) AS cnt FROM (
            SELECT unnest($wordsSql) AS word
            FROM documents) q
          WHERE length(word) > 0 GROUP BY word),
        w0 AS (SELECT ' ' || array_to_string(string_split(word, ''), '  ')
                 || ' ' AS s, cnt
               FROM wf),
        $stages,
        mAll AS ($union)"""
  }

  /** Unigram-LM tokenizer training replayed as DuckDB CTEs, ending in
    * `uvrank(token_id, piece, cnt, mu)` — the final piece table with
    * micro-quantized log-prob scores. Replays
    * [[graft.operators.TextAnalysis.unigramTokTrain]] exactly: substring
    * seed counts, then per round (a) micro scores from the current
    * vocabulary, (b) per-word max-likelihood segmentation — here by
    * EXHAUSTIVE path enumeration through a recursive CTE with the
    * identical (score desc, n pieces asc, space-joined path asc) argmax
    * the Viterbi DP provably computes, (c) recount from winning paths,
    * (d) char floor + prune to the target vocabulary. Path scores are
    * exact BIGINT micro sums, so both engines compare identical
    * operands; the single libm-ln per piece is absorbed by the micro
    * rounding (round-half-away == HALF_UP on ln's negative values). */
  private def unigramTrainCtes(vocabSize: Int, nRounds: Int,
                               maxPieceLen: Int, seedSize: Int): String = {
    val rounds = (1 to nRounds).map { r =>
      val prev = if (r == 1) "uv0" else s"uv${r - 1}"
      s"""us$r AS (SELECT piece,
                   CAST(round(ln(cnt / (SELECT sum(cnt) FROM $prev)) * 1000000) AS BIGINT) AS mu
                 FROM $prev),
          up$r AS (SELECT w, f, 1 AS i, CAST(0 AS BIGINT) AS sc, 0 AS n, '' AS path
                 FROM uwf
                 UNION ALL
                 SELECT p.w, p.f, p.i + length(s.piece), p.sc + s.mu, p.n + 1,
                        CASE WHEN p.path = '' THEN s.piece
                             ELSE p.path || ' ' || s.piece END
                 FROM up$r p JOIN us$r s
                   ON s.piece = substr(p.w, p.i, length(s.piece))
                 WHERE p.i <= length(p.w)),
          ub$r AS (SELECT w, f, path FROM (
                   SELECT w, f, path, row_number() OVER (PARTITION BY w
                     ORDER BY sc DESC, n ASC, path ASC) AS rn
                   FROM up$r WHERE i = length(w) + 1)
                 WHERE rn = 1),
          uc$r AS (SELECT piece, sum(f) AS cnt FROM (
                   SELECT unnest(string_split(path, ' ')) AS piece, f
                   FROM ub$r)
                 GROUP BY piece),
          uv$r AS (SELECT v.piece, greatest(coalesce(c.cnt, 0), 1) AS cnt
                 FROM $prev v LEFT JOIN uc$r c USING (piece)
                 WHERE length(v.piece) = 1
                 UNION ALL
                 SELECT piece, cnt FROM (
                   SELECT piece, cnt, row_number() OVER
                     (ORDER BY cnt DESC, piece) AS rn
                   FROM uc$r WHERE length(piece) > 1), unch
                 WHERE rn <= $vocabSize - nc)"""
    }.mkString(",\n          ")
    s"""uwf AS (SELECT w, count(*) AS f FROM (
               SELECT unnest(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')) AS w
               FROM documents) q
             WHERE length(w) > 0 GROUP BY w),
        useed AS (SELECT piece, sum(f) AS cnt FROM (
                  SELECT substr(w, i, l) AS piece, f
                  FROM (SELECT w, f,
                          unnest(generate_series(1, length(w))) AS i
                        FROM uwf) a
                  CROSS JOIN (SELECT unnest(generate_series(1, $maxPieceLen)) AS l) b
                  WHERE i + l - 1 <= length(w)) q
                GROUP BY piece),
        unch AS (SELECT count(*) AS nc FROM useed WHERE length(piece) = 1),
        uv0 AS (SELECT piece, cnt FROM useed WHERE length(piece) = 1
                UNION ALL
                SELECT piece, cnt FROM (
                  SELECT piece, cnt, row_number() OVER
                    (ORDER BY cnt DESC, piece) AS rn
                  FROM useed WHERE length(piece) > 1) q
                WHERE rn <= $seedSize),
        $rounds,
        uvfin AS (SELECT piece, cnt,
                  CAST(round(ln(cnt / (SELECT sum(cnt) FROM uv$nRounds)) * 1000000) AS BIGINT) AS mu
                FROM uv$nRounds),
        uvrank AS (SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS INTEGER) AS token_id,
                          piece, CAST(cnt AS BIGINT) AS cnt, mu
                 FROM uvfin)"""
  }

  /** The audio-fingerprint chain as DuckDB CTEs over relation `src`
    * (must expose doc_id, text and any carried flag columns via
    * `carry`), ending in `afp$sfx(doc_id[, carry], afp)` — the
    * [[graft.functions.AudioFp64]] Haitsma-Kalker chain replayed: 99
    * slice energies (3 frames x 33 band edges, u32(md5(slice)) mod
    * 256), bit i set when the time x band double difference is
    * positive. */
  private def audioFpCtes(src: String, sfx: String,
                          carry: String = ""): String = {
    val c = if (carry.isEmpty) "" else s", $carry"
    s"""ahx$sfx AS (SELECT doc_id$c, lower(hex(text)) AS h FROM $src),
        aen$sfx AS (SELECT doc_id$c,
                  list_transform(generate_series(0, 98), k ->
                    CAST(('0x' || substr(md5(substr(h,
                        CAST(floor(length(h)*k/99) AS INT) + 1,
                        greatest(CAST(floor(length(h)*(k+1)/99) AS INT)
                          - CAST(floor(length(h)*k/99) AS INT), 0))), 1, 8))
                      AS BIGINT) % 256) AS en
                FROM ahx$sfx),
        afp$sfx AS (SELECT doc_id$c,
                 CAST(list_sum(list_transform(generate_series(0, 63), i ->
                   CASE WHEN (en[(CAST(floor(i/32) AS INT)+1)*33 + (i%32) + 1]
                              - en[(CAST(floor(i/32) AS INT)+1)*33 + (i%32) + 2])
                           > (en[CAST(floor(i/32) AS INT)*33 + (i%32) + 1]
                              - en[CAST(floor(i/32) AS INT)*33 + (i%32) + 2])
                        THEN CASE WHEN i = 63
                                  THEN -9223372036854775808
                                  ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END
                        ELSE 0 END)) AS BIGINT) AS afp
               FROM aen$sfx)"""
  }

  /** The per-frame video hash chain as DuckDB CTEs over relation `src`
    * (doc_id, text[, carry]), ending in `vfp$sfx(doc_id[, carry],
    * frame_idx, fhash)`: frame f of 4 = the byte range
    * [(L·f)//4, (L·(f+1))//4) of the payload, taken as the ALIGNED
    * hex slice (byte k ↔ hex chars 2k+1..2k+2), then the image dHash
    * recipe (72 slice-md5 lumas, 64 gradient bits) over the frame's
    * hex — exactly what the fused DHash64 computes over the frame's
    * bytes on the Spark side. */
  private def videoFpCtes(src: String, sfx: String,
                          carry: String = ""): String = {
    val c = if (carry.isEmpty) "" else s", $carry"
    s"""vhx$sfx AS (SELECT doc_id$c, lower(hex(text)) AS h FROM $src),
        vfr$sfx AS (SELECT doc_id$c, unnest(generate_series(0, 3)) AS frame_idx, h
                 FROM vhx$sfx),
        vsl$sfx AS (SELECT doc_id$c, frame_idx,
                  substr(h, 2*(((length(h)//2)*frame_idx)//4) + 1,
                         2*((((length(h)//2)*(frame_idx+1))//4)
                            - (((length(h)//2)*frame_idx)//4))) AS fh
                FROM vfr$sfx),
        vlu$sfx AS (SELECT doc_id$c, frame_idx,
                  list_transform(generate_series(0, 71), k ->
                    CAST(('0x' || substr(md5(substr(fh,
                        CAST(floor(length(fh)*k/72) AS INT) + 1,
                        greatest(CAST(floor(length(fh)*(k+1)/72) AS INT)
                          - CAST(floor(length(fh)*k/72) AS INT), 0))), 1, 8))
                      AS BIGINT) % 256) AS lu
                FROM vsl$sfx),
        vfp$sfx AS (SELECT doc_id$c, frame_idx,
                 CAST(list_sum(list_transform(generate_series(0, 63), i ->
                   CASE WHEN lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 2]
                             > lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 1]
                        THEN CASE WHEN i = 63
                                  THEN -9223372036854775808
                                  ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END
                        ELSE 0 END)) AS BIGINT) AS fhash
               FROM vlu$sfx)"""
  }

  /** The dHash chain as DuckDB CTEs over relation `src` (doc_id, text),
    * ending in `dh$sfx(doc_id, dhash)` — the llm_image_dups chain with
    * suffixed names so the mixed-modality oracle can hash two relations
    * (store + incoming payloads) in one statement. */
  private def dhashCtes(src: String, sfx: String): String =
    s"""hx$sfx AS (SELECT doc_id, lower(hex(text)) AS h FROM $src),
        lum$sfx AS (SELECT doc_id,
                  list_transform(generate_series(0, 71), k ->
                    CAST(('0x' || substr(md5(substr(h,
                        CAST(floor(length(h)*k/72) AS INT) + 1,
                        greatest(CAST(floor(length(h)*(k+1)/72) AS INT)
                          - CAST(floor(length(h)*k/72) AS INT), 0))), 1, 8))
                      AS BIGINT) % 256) AS lu
                FROM hx$sfx),
        dh$sfx AS (SELECT doc_id,
                 CAST(list_sum(list_transform(generate_series(0, 63), i ->
                   CASE WHEN lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 2]
                             > lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 1]
                        THEN CASE WHEN i = 63
                                  THEN -9223372036854775808
                                  ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END
                        ELSE 0 END)) AS BIGINT) AS dhash
               FROM lum$sfx)"""

  /** The `llm_pipeline9` oracle: the mixed-modality admission — the
    * st_admission TEXT path (Gopher → decontamination → minhash probe)
    * over the incoming rows' text, AND a dHash probe of each row's
    * MEDIA payload vs the corpus frame; admitted = survives both. */
  private[queries] lazy val pipeline9OracleSql =
    s"""WITH m AS (SELECT max(doc_id) AS mx FROM documents),
        aa AS (SELECT doc_id, text FROM documents, m
               WHERE doc_id > mx - 300 AND doc_id <= mx - 200),
        nov AS (SELECT a.doc_id, a.text AS atext,
                       a.text || ' ' || b.text || ' ' || c.text AS ntext
                FROM aa a
                JOIN documents b ON b.doc_id = a.doc_id - 120
                JOIN documents c ON c.doc_id = a.doc_id - 240),
        inc AS (SELECT doc_id + 3000000 AS doc_id, text, text AS pay FROM aa
                UNION ALL
                SELECT doc_id + 4000000, ntext, atext FROM nov
                UNION ALL
                SELECT doc_id + 5000000, text, reverse(text) FROM aa
                UNION ALL
                SELECT doc_id + 6000000, ntext, reverse(atext) FROM nov),
        q AS (SELECT doc_id, text FROM (
                SELECT doc_id, text,
                  CAST(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')) AS INTEGER) AS n_tokens,
                  round(length(regexp_replace(text, '[\\t\\n\\x0B\\f\\r ]+', '', 'g')) * 1.0
                        / greatest(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')), 1), 6) AS mwl,
                  round((length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) * 1.0
                        / greatest(length(text), 1), 6) AS sym,
                  CAST(len(list_filter(string_split_regex(lower(text), '[\\t\\n\\x0B\\f\\r ]+'),
                       t -> t IN ($stopsEn))) AS INTEGER) AS stops
                FROM inc)
              WHERE n_tokens >= 10 AND n_tokens <= 100000
                AND mwl >= 2.0 AND mwl <= 10.0 AND sym <= 0.1 AND stops >= 1),
        qt AS (SELECT doc_id, string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+') AS toks FROM q),
        qg AS (SELECT doc_id, list_distinct(list_transform(
                 generate_series(1, len(toks) - 12), i -> $gram13Sql)) AS gs
               FROM qt WHERE len(toks) >= 13),
        qh AS (SELECT doc_id, list_distinct(list_transform(gs, s -> $hashSql)) AS hs
               FROM qg),
        evt AS (SELECT doc_id, string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+') AS toks
                FROM documents, m WHERE doc_id > mx - 100),
        evg AS (SELECT doc_id, list_distinct(list_transform(
                  generate_series(1, len(toks) - 12), i -> $gram13Sql)) AS gs
                FROM evt WHERE len(toks) >= 13),
        evh AS (SELECT DISTINCT unnest(list_distinct(list_transform(gs, s -> $hashSql))) AS eh
                FROM evg),
        contaminated AS (SELECT DISTINCT x.doc_id
                         FROM (SELECT doc_id, unnest(hs) AS eh FROM qh) x
                         JOIN evh USING (eh)),
        clean AS (SELECT doc_id, text FROM q
                  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        ${minhashSketchCtes("clean", None, "n")},
        ${minhashSketchCtes("documents", None, "c")},
        cand AS (SELECT DISTINCT x.doc_id AS id_new, y.doc_id AS id_corpus
                 FROM bandsn x JOIN bandsc y
                   ON x.band_idx = y.band_idx AND x.band_val = y.band_val),
        rejected AS (SELECT DISTINCT c.id_new AS doc_id
                     FROM cand c JOIN hsn a ON a.doc_id = c.id_new
                     JOIN hsc b ON b.doc_id = c.id_corpus
                     WHERE len(list_intersect(a.hs, b.hs)) * 1.0
                           / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.5),
        pays AS (SELECT doc_id, pay AS text FROM inc),
        ${dhashCtes("pays", "p")},
        store AS (SELECT doc_id, text FROM documents),
        ${dhashCtes("store", "s")},
        rejected_media AS (SELECT DISTINCT n.doc_id
                           FROM dhp n JOIN dhs c
                             ON bit_count(xor(n.dhash, c.dhash)) <= 3)
        SELECT doc_id FROM clean
        WHERE doc_id NOT IN (SELECT doc_id FROM rejected)
          AND doc_id NOT IN (SELECT doc_id FROM rejected_media)"""

  /** Shared by `llm_decontaminate` and `llm_decontaminate_bloom` — the
    * bloom path is a bandwidth optimization with identical output. */
  private lazy val decontaminateOracleSql =
    s"""WITH m AS (SELECT max(doc_id) AS mx FROM documents),
        t AS (SELECT doc_id, string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+') AS toks
              FROM documents),
        g AS (SELECT doc_id,
                list_distinct(list_transform(generate_series(1, len(toks) - 12),
                  i -> $gram13Sql)) AS gs
              FROM t WHERE len(toks) >= 13),
        h AS (SELECT doc_id,
                list_distinct(list_transform(gs, s -> $hashSql)) AS hs
              FROM g),
        ev AS (SELECT DISTINCT unnest(hs) AS eh FROM h, m WHERE doc_id > mx - 100),
        co AS (SELECT doc_id, unnest(hs) AS eh FROM h, m WHERE doc_id <= mx - 100),
        hits AS (SELECT doc_id, count(*) AS c
                 FROM co JOIN ev USING (eh) GROUP BY doc_id)
        SELECT d.doc_id, coalesce(hits.c, 0) AS eval_shingles,
               coalesce(hits.c, 0) > 0 AS contaminated
        FROM (SELECT doc_id FROM documents, m WHERE doc_id <= mx - 100) d
        LEFT JOIN hits USING (doc_id)"""

  /** The Gopher repetition panel as DuckDB CTEs over a relation `src`
    * (doc_id, text), ending in `fr(doc_id, dup_line_frac,
    * dup_line_char_frac, top_ngram_char_frac, dup_ngram_char_frac)` —
    * shared by the llm_gopher_rep oracle (planted fixture src) and the
    * pipeline4 oracle (raw documents src), single-sourced to prevent
    * drift. Same 60-bit hash recipe as the Spark twin; the top-gram tie
    * breaks by (count, len, hash) on both sides. */
  private val gopherRepCtes: String =
    """l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM src),
       lh AS (SELECT doc_id,
                CAST(('0x'||substr(md5(line),1,15)) AS BIGINT) AS h,
                count(*) AS c, max(length(line)) AS len
              FROM l GROUP BY 1, 2),
       la AS (SELECT doc_id, sum(c) AS nl, sum(c-1) AS dl,
                sum(c*len) AS lc, sum((c-1)*len) AS dlc
              FROM lh GROUP BY doc_id),
       t AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS toks,
               length(text) AS nch FROM src),
       g2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1])) AS s
              FROM t WHERE len(toks) >= 2),
       g2h AS (SELECT doc_id, CAST(('0x'||substr(md5(s),1,15)) AS BIGINT) AS h,
                count(*) AS c, max(length(s)) AS len FROM g2 GROUP BY 1, 2),
       top2 AS (SELECT doc_id, c * len AS topchars FROM (
                  SELECT doc_id, c, len,
                    row_number() OVER (PARTITION BY doc_id
                      ORDER BY c DESC, len DESC, h DESC) AS rn
                  FROM g2h) WHERE rn = 1),
       g5 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 4),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                     toks[i+3] || ' ' || toks[i+4])) AS s
              FROM t WHERE len(toks) >= 5),
       g5h AS (SELECT doc_id, CAST(('0x'||substr(md5(s),1,15)) AS BIGINT) AS h,
                count(*) AS c, max(length(s)) AS len FROM g5 GROUP BY 1, 2),
       dup5 AS (SELECT doc_id, sum(c*len) AS dupchars FROM g5h WHERE c > 1
                GROUP BY doc_id),
       fr AS (SELECT b.doc_id,
                coalesce(round(CAST(la.dl AS DOUBLE) / la.nl, 6), 0.0)
                  AS dup_line_frac,
                coalesce(CASE WHEN la.lc = 0 THEN 0.0
                  ELSE round(CAST(la.dlc AS DOUBLE) / la.lc, 6) END, 0.0)
                  AS dup_line_char_frac,
                CASE WHEN b.nch = 0 THEN 0.0
                  ELSE least(1.0, round(CAST(coalesce(t2.topchars, 0) AS DOUBLE)
                                        / b.nch, 6)) END AS top_ngram_char_frac,
                CASE WHEN b.nch = 0 THEN 0.0
                  ELSE least(1.0, round(CAST(coalesce(d5.dupchars, 0) AS DOUBLE)
                                        / b.nch, 6)) END AS dup_ngram_char_frac
              FROM (SELECT doc_id, length(text) AS nch FROM src) b
              LEFT JOIN la USING (doc_id)
              LEFT JOIN top2 t2 USING (doc_id)
              LEFT JOIN dup5 d5 USING (doc_id))"""

  /** The keep conjunction over `fr`'s fraction columns (published
    * Gopher thresholds) — shared by the panel oracle and pipeline4. */
  private val gopherRepKeep: String =
    """(dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
        AND top_ngram_char_frac <= 0.20 AND dup_ngram_char_frac <= 0.15)"""

  /** The last `n` documents by id — the slice where the driver plants
    * near-duplicates — selected via a broadcast 1-row max bound.
    * Shared by the containment gates (and mirrored in their oracles'
    * `WHERE doc_id > max - n` subquery). */
  private def nearDupTail(s: SparkSession, d: String, n: Int): DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, d, "documents")
    val gen = Stores.split(docs, "doc_id")
    gen.newer(n).select($"doc_id", $"text")
  }

  /** DuckDB CTEs `t` (tail-slice tokens) and `g` (distinct trigrams) —
    * the shared prefix of both containment oracles. */
  private lazy val tailTrigramCtes =
    """t AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS toks
            FROM documents
            WHERE doc_id > (SELECT max(doc_id) - 300 FROM documents)),
       g AS (SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(toks) - 2),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gs
             FROM t WHERE len(toks) >= 3)"""

  /** The MinHash-LSH pipeline as DuckDB CTEs ending in
    * `pairs(id_a, id_b, jaccard)`, over source relation `src`; `cap`
    * inserts the hot-bucket guard (buckets with more than `cap` members
    * dropped before the candidate join — mirroring
    * Dedup.minhashPairs(maxBucketSize)). */
  /** The minhash SKETCH side of the pipeline as CTEs ending in
    * `bands$sfx` (and exposing `hs$sfx`), over source relation `src`;
    * `sfx` disambiguates the CTE names so two sides (incremental-dedup
    * oracle) can coexist in one statement. */
  private def minhashSketchCtes(src: String, cap: Option[Int],
                                sfx: String): String = {
    val bandsOut = if (cap.isDefined) s"bands0$sfx" else s"bands$sfx"
    val capCtes = cap.map(k => s""",
        keep$sfx AS (SELECT band_idx, band_val FROM bands0$sfx
                 GROUP BY 1, 2 HAVING count(*) <= $k),
        bands$sfx AS (SELECT b.doc_id, b.band_idx, b.band_val
                  FROM bands0$sfx b JOIN keep$sfx USING (band_idx, band_val))""")
      .getOrElse("")
    s"""t$sfx AS (SELECT doc_id, string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+') toks FROM $src),
        sh$sfx AS (SELECT doc_id,
                 list_distinct(list_transform(generate_series(1, len(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) sh
               FROM t$sfx WHERE len(toks) >= 3),
        hs$sfx AS (SELECT doc_id, list_distinct(list_transform(sh, s -> $hashSql)) hs FROM sh$sfx),
        sig$sfx AS (SELECT doc_id,
                  list_transform(generate_series(0, 15), i ->
                    list_min(list_transform(hs, h -> (h * (2*i + 1) + 101*i + 17) % 4294967311))) sig
                FROM hs$sfx),
        $bandsOut AS (SELECT doc_id, b.i AS band_idx,
                    CAST(sig[4*b.i+1] AS VARCHAR) || '_' || CAST(sig[4*b.i+2] AS VARCHAR) || '_' ||
                    CAST(sig[4*b.i+3] AS VARCHAR) || '_' || CAST(sig[4*b.i+4] AS VARCHAR) AS band_val
                  FROM sig$sfx CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) b)$capCtes"""
  }

  private def minhashCtesFrom(src: String, cap: Option[Int] = None): String =
    s"""${minhashSketchCtes(src, cap, "")},
        cand AS (SELECT DISTINCT x.doc_id id_a, y.doc_id id_b
                 FROM bands x JOIN bands y
                   ON x.band_idx = y.band_idx AND x.band_val = y.band_val
                      AND x.doc_id < y.doc_id),
        pairs AS (SELECT c.id_a, c.id_b,
                         len(list_intersect(a.hs, b.hs)) * 1.0
                           / len(list_distinct(list_concat(a.hs, b.hs))) AS jaccard
                  FROM cand c JOIN hs a ON a.doc_id = c.id_a JOIN hs b ON b.doc_id = c.id_b
                  WHERE len(list_intersect(a.hs, b.hs)) * 1.0
                          / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.5)"""

  private lazy val minhashCtes = minhashCtesFrom("documents")


  /** DuckDB expression for the LSH bucket of a DOUBLE[] column `v`,
    * using the same deterministic hyperplanes as Similarity.planeSigns. */
  private def bucketSql(planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (plane, p) =>
      val arr = plane.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_inner_product(v, $arr) > 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_text_stats" -> ((s, d) => {
      import s.implicits._
      Tables.load(s, d, "documents").select(
        $"doc_id",
        TextAnalysis.tokenCount($"text").as("token_cnt"),
        TextAnalysis.bpeishTokenCount($"text").as("bpeish_cnt"),
        round(TextAnalysis.punctRatio($"text"), 6).as("punct_ratio"),
        round(TextAnalysis.stopwordRatio($"text"), 6).as("stop_ratio"),
        TextAnalysis.qualityScore($"text").as("quality"))
    }),
    "llm_chunk" -> ((s, d) =>
      TextAnalysis.chunk(Tables.load(s, d, "documents"), "doc_id", "text",
        chunkTokens = 64, overlap = 16)),
    "llm_chunk_bpe" -> ((s, d) => {
      import s.implicits._
      // chunking denominated in LEARNED tokens — the window a real
      // pre-training run cuts: the stored merge table drives BpeTokens
      // and the training window is the doc's token-ID sequence (joined
      // to a comma string for the engine-portable compare, the
      // llm_multimodal_frames array convention; the cast to
      // array<string> is a native Cast, no per-element lambda)
      val out = Stores.dir("bpe_merges_chunk")
      Stores.bpeMerges(s, out)
      TextAnalysis.chunkBpe(Tables.load(s, d, "documents"), "doc_id",
          "text", s.read.parquet(out), chunkTokens = 64, overlap = 16)
        .select($"doc_id", $"start_tok", $"n_tokens",
          array_join($"token_ids".cast("array<string>"), ",").as("token_ids"))
    }),
    "llm_mix" -> ((s, d) => {
      import s.implicits._
      // weighted corpus mixing (70% "web" slice + 30% "books" slice):
      // independent deterministic gates, reproducible at any scale
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val web = graft.operators.Sampling
        .bernoulli(docs, $"text", rateBp = 7000, salt = "mixweb:")
        .select($"doc_id", lit("web").as("source_ds"))
      val books = graft.operators.Sampling
        .bernoulli(docs, $"text", rateBp = 3000, salt = "mixbooks:")
        .select($"doc_id", lit("books").as("source_ds"))
      web.unionAll(books)
    }),
    "llm_rep_ratio" -> ((s, d) =>
      TextAnalysis.repetitionRatio(
        Tables.load(s, d, "documents"), "doc_id", "text", n = 3)),
    "llm_pii_scan" -> ((s, d) => {
      import s.implicits._
      Tables.load(s, d, "documents")
        .select($"doc_id" +: TextAnalysis.piiScan($"text"): _*)
    }),
    "llm_pii_redact" -> ((s, d) => {
      import s.implicits._
      Tables.load(s, d, "documents")
        .select($"doc_id", TextAnalysis.piiRedact($"text").as("redacted"))
    }),
    "llm_cluster_best" -> ((s, d) => {
      import s.implicits._
      // cluster dedup keeping the HIGHEST-QUALITY member (id tie-break)
      // instead of the min id — the production representative choice
      val docs = Tables.load(s, d, "documents")
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        k = 16, nBands = 4, threshold = 0.5)
      graft.operators.Graph.keepBestRepresentatives(
        docs.select($"doc_id", TextAnalysis.qualityScore($"text").as("q")),
        "doc_id", "q", pairs)
    }),
    "llm_langid" -> ((s, d) => {
      import s.implicits._
      Tables.load(s, d, "documents")
        .select($"doc_id", TextAnalysis.langId($"text").as("lang_guess"))
    }),
    "llm_fingerprint" -> ((s, d) => {
      import s.implicits._
      Tables.load(s, d, "documents")
        .select($"doc_id", TextAnalysis.fingerprint($"text").as("fp"))
    }),
    "llm_exact_dedup" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      // corpus with planted exact duplicates (ids shifted by 100000):
      // dedup must return exactly the original ids
      val corpus = docs.unionAll(docs.select(($"doc_id" + 100000).as("doc_id"), $"text"))
      Dedup.exactDedup(corpus, "doc_id", "text")
    }),
    "llm_minhash_pairs" -> ((s, d) => {
      import s.implicits._
      Dedup.minhashPairs(Tables.load(s, d, "documents"), "doc_id", "text",
        k = 16, nBands = 4, threshold = 0.5)
    }),
    "llm_minhash_capped" -> ((s, d) => {
      import s.implicits._
      // hot-bucket guard gate: 60 exact clones of the max-id doc share
      // ALL FOUR band buckets (identical signatures), so each of those
      // buckets holds 61+ docs; maxBucketSize=40 drops them BEFORE the
      // self-join, killing the 1800+-pair quadratic clone fanout, while
      // the planted near-dup tail pairs (small buckets) survive
      val tail = nearDupTail(s, d, 300)
      val mx = tail.agg(max($"doc_id").as("m"))
      val clones = tail.crossJoin(broadcast(mx)).filter($"doc_id" === $"m")
        .select(explode(sequence(lit(1), lit(60))).as("__i"), $"text")
        .select(($"__i" + 2000000).cast("long").as("doc_id"), $"text")
      Dedup.minhashPairs(tail.unionAll(clones), "doc_id", "text",
        k = 16, nBands = 4, threshold = 0.5, maxBucketSize = Some(40))
    }),
    "llm_dedup_clusters" -> ((s, d) => {
      import s.implicits._
      // pairs -> transitive clusters: one label per connected component
      val pairs = Dedup.minhashPairs(Tables.load(s, d, "documents"),
        "doc_id", "text", k = 16, nBands = 4, threshold = 0.5)
      graft.operators.Graph.connectedComponents(pairs, "id_a", "id_b")
        .select($"node".as("doc_id"), $"component".as("cluster"))
    }),
    "llm_containment" -> ((s, d) =>
      // sub-document duplication over the planted near-dup tail: high
      // |A∩B|/min containment even where Jaccard stays low
      Dedup.containmentPairs(nearDupTail(s, d, 300),
        "doc_id", "text", n = 3, threshold = 0.5)),
    "llm_containment_dfcap" -> ((s, d) =>
      // same tail, but with the production hot-key guard: trigrams
      // shared by more than 50 of the 300 docs are boilerplate (this
      // tiny synthetic vocabulary has plenty) and are dropped before
      // the self-join; containment re-ranks over the kept shingles
      Dedup.containmentPairs(nearDupTail(s, d, 300),
        "doc_id", "text", n = 3, threshold = 0.5, maxShingleDf = Some(50))),
    "llm_decontaminate" -> ((s, d) => {
      import s.implicits._
      // train/eval contamination sweep: eval = the last-100-doc slice
      // (where the planted near-dup tail lives, so overlaps exist),
      // corpus = everything else; flag any shared 13-gram
      val docs = Tables.load(s, d, "documents")
      val gen = Stores.split(docs, "doc_id")
      val ev = gen.newer(100).select($"doc_id", $"text")
      val corpus = gen.older(100).select($"doc_id", $"text")
      Dedup.decontaminate(corpus, ev, "doc_id", "text", n = 13)
    }),
    "llm_decontaminate_bloom" -> ((s, d) => {
      import s.implicits._
      // the huge-eval-set scale path: bloom prefilter + exact confirm
      // join — same fixture, same oracle, IDENTICAL output by contract
      val docs = Tables.load(s, d, "documents")
      val gen = Stores.split(docs, "doc_id")
      val ev = gen.newer(100).select($"doc_id", $"text")
      val corpus = gen.older(100).select($"doc_id", $"text")
      // sketch sized to the ~100-doc eval set (the 8 MB production
      // default would only bloat this plan's inlined literal)
      Dedup.decontaminateBloom(corpus, ev, "doc_id", "text", n = 13,
        expectedItems = 1L << 16, numBits = 1L << 20)
    }),
    "llm_decontam_roundtrip" -> ((s, d) => {
      import s.implicits._
      // the PRODUCTION admission-control composition: build the eval
      // decontamination index once, persist sketch + hash frame to
      // parquet, reconstruct from the files, probe the corpus — same
      // fixture and oracle as llm_decontaminate_bloom, so any drift
      // through the storage round-trip hash-mismatches
      val out = Stores.dir("decontam_index")
      val docs = Tables.load(s, d, "documents")
      val gen = Stores.split(docs, "doc_id")
      val ev = gen.newer(100).select($"doc_id", $"text")
      val corpus = gen.older(100).select($"doc_id", $"text")
      val idx = Stores.decontamIndex(ev)
      Stores.decontam(idx, out)
      val stored = Stores.readDecontam(s, out)
      Dedup.decontaminateStored(corpus, stored, "doc_id", "text")
    }),
    "llm_contamination" -> ((s, d) => {
      import s.implicits._
      // graded eval-overlap: the llm_decontaminate fixture (eval =
      // tail-100 slice, corpus = the rest), scored as the FRACTION of
      // each corpus doc's distinct 13-grams found in the eval set and
      // flagged at 20% — the PaLM/GPT-4-style threshold that separates
      // quoting one benchmark question from verbatim inclusion
      val docs = Tables.load(s, d, "documents")
      val gen = Stores.split(docs, "doc_id")
      val ev = gen.newer(100).select($"doc_id", $"text")
      val corpus = gen.older(100).select($"doc_id", $"text")
      Dedup.contaminationFraction(corpus, ev, "doc_id", "text",
        n = 13, minFrac = 0.2)
    }),
    "llm_token_budget" -> ((s, d) =>
      // deterministic 10k-token fill in salted-hash order (~1/3 of the
      // corpus at this SF); 64 hash-range buckets so the hierarchical
      // prefix sum really tiers (the llm_pack recipe, hash order)
      graft.operators.Sampling.tokenBudget(Tables.load(s, d, "documents"),
        "doc_id", "text", budget = 10000L, numBuckets = 64)),
    "llm_token_budget_bpe" -> ((s, d) => {
      import s.implicits._
      // the budget fill re-based on LEARNED tokens — the denomination
      // a real training run fills in: the stored merge table (parquet
      // roundtrip, the llm_bpe_count store) drives tokenBudget's
      // counter, so n_toks is the trained tokenizer's count while the
      // hash order / hierarchy / boundary-doc contract are unchanged.
      // Oracle composes the recursive apply CTE into the budget window
      val out = Stores.dir("bpe_merges_budget")
      Stores.bpeMerges(s, out)
      graft.operators.Sampling.tokenBudget(
        Tables.load(s, d, "documents"), "doc_id", "text",
        budget = 10000L, numBuckets = 64,
        tokenCounter = TextAnalysis.bpeCounter(s.read.parquet(out)))
    }),
    "llm_token_budget_group" -> ((s, d) =>
      // language-balanced fill: 4k tokens PER language (a global budget
      // would let the dominant language eat the fill)
      graft.operators.Sampling.tokenBudgetByGroup(
        Tables.load(s, d, "documents"),
        "doc_id", "lang", "text", budget = 4000L, numBuckets = 64)),
    "llm_rank_norm" -> ((s, d) =>
      // exact corpus percent-rank of a score column (n_chars carries
      // heavy ties, exercising the tie-sharing contract); 16 sketch
      // buckets so the bucketed hierarchy really tiers at this SF
      graft.operators.Sampling.percentRank(
        Tables.load(s, d, "documents"), "doc_id", "n_chars",
        numBuckets = 16)),
    "llm_rank_norm_group" -> ((s, d) =>
      // per-LANGUAGE percent-rank (the CCNet per-language bucketing):
      // one global boundary sketch, exact rank within every lang
      graft.operators.Sampling.percentRankByGroup(
        Tables.load(s, d, "documents"), "doc_id", "lang", "n_chars",
        numBuckets = 16)),
    "llm_pack" -> ((s, d) =>
      // concat-and-split packing offsets: 512-token training sequences,
      // 64-doc buckets so the hierarchical prefix sum really tiers
      TextAnalysis.packOffsets(Tables.load(s, d, "documents"),
        "doc_id", "text", seqLen = 512, docsPerBucket = 64)),
    "llm_pack_bpe" -> ((s, d) => {
      // packing offsets denominated in LEARNED tokens: the stored merge
      // table drives packOffsets' counter, so sequence cuts land on the
      // trained tokenizer's stream while the hierarchical prefix sum,
      // id order, and straddle convention are unchanged. Oracle
      // composes the recursive apply CTE into the pack window
      val out = Stores.dir("bpe_merges_pack")
      Stores.bpeMerges(s, out)
      TextAnalysis.packOffsets(Tables.load(s, d, "documents"),
        "doc_id", "text", seqLen = 512, docsPerBucket = 64,
        tokenCounter = TextAnalysis.bpeCounter(s.read.parquet(out)))
    }),
    "llm_cluster_star" -> ((s, d) => {
      import s.implicits._
      // same clusters as llm_dedup_clusters but via the O(log n)
      // Large-Star/Small-Star algorithm (the any-diameter scale path)
      val pairs = Dedup.minhashPairs(Tables.load(s, d, "documents"),
        "doc_id", "text", k = 16, nBands = 4, threshold = 0.5)
      graft.operators.Graph.connectedComponentsStar(pairs, "id_a", "id_b")
        .select($"node".as("doc_id"), $"component".as("cluster"))
    }),
    "llm_cluster_keep" -> ((s, d) => {
      import s.implicits._
      // the production cluster-dedup call path: one representative (min
      // id) per connected component PLUS every pair-less row untouched
      val docs = Tables.load(s, d, "documents")
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        k = 16, nBands = 4, threshold = 0.5)
      graft.operators.Graph.keepClusterRepresentatives(
        docs.select($"doc_id"), "doc_id", pairs)
    }),
    "llm_ngram_jaccard" -> ((s, d) => {
      import s.implicits._
      // last 300 ids — where the generator plants near-dup clusters —
      // so the query exercises real pairs at every scale factor
      val docs = Tables.load(s, d, "documents")
      val gen = Stores.split(docs, "doc_id")
      Dedup.ngramJaccardPairs(
        gen.newer(300).select($"doc_id", $"text"),
        "doc_id", "text", n = 3, threshold = 0.3)
    }),
    "llm_simhash" -> ((s, d) => {
      import s.implicits._
      Tables.load(s, d, "documents").select(
        $"doc_id",
        GraftBridge.column(SimHash32(
          GraftBridge.expression(TextAnalysis.tokens($"text")))).as("simhash"))
    }),
    "llm_cosine" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.load(s, d, "embeddings")
      val q = emb.filter($"vec_id" === 0).select($"embedding".as("__qvec"))
      emb.crossJoin(broadcast(q))
        .filter($"vec_id" =!= 0)
        .select($"vec_id",
          round(Similarity.cosine($"embedding", $"__qvec"), 6).as("cos_sim"))
    }),
    "llm_ann_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(Tables.load(s, d, "embeddings"),
        "vec_id", "embedding", queryId = 0, k = 10)),
    "llm_ann_lsh" -> ((s, d) =>
      Similarity.lshTopK(Tables.load(s, d, "embeddings"),
        "vec_id", "embedding", queryId = 0, k = 10, nPlanes = 6, dim = 64)),
    "llm_ann_ivf" -> ((s, d) =>
      Similarity.ivfTopK(Tables.load(s, d, "embeddings"),
        "vec_id", "embedding", queryId = 0, k = 10, nCells = 8, probes = 2)),
    "llm_ann_ivf_trained" -> ((s, d) => {
      // the production IVF flow end-to-end: train cells with two Lloyd
      // rounds, then search the trained index (not the seed init)
      val emb = Tables.load(s, d, "embeddings")
      val cents = Similarity.centroidsOf(
        Similarity.kmeansTrain(emb, "vec_id", "embedding", nCells = 8, iters = 2))
      Similarity.ivfTopKWith(emb, "vec_id", "embedding", cents,
        queryId = 0, k = 10, probes = 2)
    }),
    "llm_cluster_sample" -> ((s, d) => {
      import s.implicits._
      // cluster-balanced subsample (diversity-preserving selection):
      // exactly k per trained k-means cell, membership a pure function
      // of (salt, id) — kmeansTrain ∘ cellOf ∘ exactKPerStratum
      val emb = Tables.load(s, d, "embeddings")
      val cents = Similarity.centroidsOf(
        Similarity.kmeansTrain(emb, "vec_id", "embedding", nCells = 8, iters = 2))
      val assigned = emb.select($"vec_id", $"embedding",
        Similarity.cellOf($"embedding", cents).as("cell"))
      graft.operators.Sampling.exactKPerStratum(
          assigned, stratum = $"cell", key = $"vec_id".cast("string"),
          k = 20, tieBreak = Seq($"vec_id"), salt = "csamp:")
        .select($"vec_id", $"cell")
    }),
    "llm_ann_pq" -> ((s, d) => {
      // PQ/ADC (the memory-bounded ANN serving path): 4×16-dim
      // subspaces, 8-entry seed codebooks; the corpus is encoded to 4
      // code columns once, the query becomes 32 driver-side LUT dots,
      // scoring is a codes-only projection + TakeOrdered
      val emb = Tables.load(s, d, "embeddings")
      Similarity.pqTopK(emb, "vec_id", "embedding",
        Stores.codebooks(emb),
        subDim = 16, queryId = 0, k = 10)
    }),
    "llm_ann_ivf_pq" -> ((s, d) => {
      // the production index composed: coarse cells prune the scan
      // (seed centroids, 2 probes), PQ/ADC scores within probed cells
      val emb = Tables.load(s, d, "embeddings")
      Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        Similarity.collectCentroids(emb, "vec_id", "embedding", nCells = 8),
        Stores.codebooks(emb),
        subDim = 16, queryId = 0, k = 10, probes = 2)
    }),
    "llm_ann_ivf_pq_residual" -> ((s, d) => {
      // the FULL published recipe: cells prune, then PQ quantizes the
      // RESIDUAL x − centroid_cell against residual-trained codebooks;
      // serving adds the per-probed-cell constant q·centroid to the
      // standard LUT sum (q·x̂ = q·c + Σ q_s·r̂_s). Same (m, nCodes)
      // budget as llm_ann_ivf_pq — LlmOpsSpec pins recall ≥ the
      // no-residual variant
      val emb = Tables.load(s, d, "embeddings")
      val cents = Stores.seedCells(emb)
      Similarity.ivfPqTopKResidual(emb, "vec_id", "embedding", cents,
        Similarity.pqCodebooksResidual(emb, "vec_id", "embedding", cents,
          m = 4, subDim = 16, nCodes = 8),
        subDim = 16, queryId = 0, k = 10, probes = 2)
    }),
    "llm_ann_residual_stored" -> ((s, d) => {
      // the residual index SERVED FROM STORAGE, cell-partitioned: same
      // layout as the no-residual store (partition pruning, appends,
      // takedown all apply unchanged); identical output to the
      // in-memory residual path — same oracle, so artifact drift
      // hash-mismatches
      val out = Stores.dir("ann_residual_store")
      val emb = Tables.load(s, d, "embeddings")
      val cents = Stores.seedCells(emb)
      val cbs = Similarity.pqCodebooksResidual(emb, "vec_id", "embedding",
        cents, m = 4, subDim = 16, nCodes = 8)
      Stores.putByCell(s"$out/codes",
        Similarity.ivfPqEncodeResidual(emb, "vec_id", "embedding", cents, cbs, 16))
      Similarity.ivfPqTopKResidualStored(s.read.parquet(s"$out/codes"),
        "vec_id", cents, cbs, subDim = 16,
        Similarity.queryVecOf(emb, "vec_id", "embedding", 0),
        k = 10, probes = 2, excludeId = Some(0L))
    }),
    "llm_ann_index_roundtrip" -> ((s, d) => {
      // the COMPLETE ANN serving index through storage: cells,
      // codebooks, and cell-tagged codes written as three plain parquet
      // tables, reconstructed from the files, served via stored IVF-PQ
      // — identical output to the in-memory llm_ann_ivf_pq (same
      // oracle), so any artifact drift hash-mismatches. After the one
      // encode pass the vectors are never read again; the query vector
      // arrives explicitly (the serving coordinator holds it)
      val out = Stores.dir("ann_index")
      val emb = Tables.load(s, d, "embeddings")
      val cents = Stores.seedCells(emb)
      val cbs = Stores.codebooks(emb)
      Stores.ivfPq(s, cents, cbs, out,
        Stores.ivfPqCodes(emb, cents, cbs))
      val (cents2, cbs2) = Stores.readIvfPq(s, out)
      Similarity.ivfPqTopKStored(s.read.parquet(s"$out/codes"), "vec_id",
        cents2, cbs2, subDim = 16,
        Similarity.queryVecOf(emb, "vec_id", "embedding", 0),
        k = 10, probes = 2, excludeId = Some(0L))
    }),
    "llm_ann_partition_prune" -> ((s, d) => {
      // the 100 TB serving claim made checkable: the codes table is
      // WRITTEN partitionBy("cell") — the on-disk layout a production
      // index uses — and stored serving probes it with a literal
      // `cell IN (...)` filter, so the scan opens ONLY the probed
      // cells' files (PlanSpec pins PartitionFilters on the cell key).
      // Same artifacts and parameters as llm_ann_index_roundtrip ⇒ the
      // same llm_ann_ivf_pq oracle — a pruning bug that drops or adds
      // cells hash-mismatches
      val out = Stores.dir("ann_index_part")
      val emb = Tables.load(s, d, "embeddings")
      val cents = Stores.seedCells(emb)
      val cbs = Stores.codebooks(emb)
      Stores.putByCell(s"$out/codes", Stores.ivfPqCodes(emb, cents, cbs))
      Similarity.ivfPqTopKStored(s.read.parquet(s"$out/codes"), "vec_id",
        cents, cbs, subDim = 16,
        Similarity.queryVecOf(emb, "vec_id", "embedding", 0),
        k = 10, probes = 2, excludeId = Some(0L))
    }),
    "llm_ann_sq" -> ((s, d) =>
      // int8 scalar-quantized serving (the SQ rung of the quantization
      // family): per-vector max-abs scale + signed-byte codes, scored
      // as exact cosine over the DEQUANTIZED vectors — the whole chain
      // is untrained per-row arithmetic, so the oracle replays it
      // bit-for-bit (floor-based round-half-up is engine-portable)
      Similarity.sqTopK(Tables.load(s, d, "embeddings"),
        "vec_id", "embedding", queryId = 0, k = 10)),
    "llm_ann_sq_stored" -> ((s, d) => {
      // the SQ path THROUGH STORAGE: int8-valued codes + one double
      // scale per vector written to parquet, read back, served — same
      // oracle as the in-memory form, so storage drift hash-mismatches
      val out = Stores.dir("sq_codes")
      val emb = Tables.load(s, d, "embeddings")
      Stores.sq(out, emb)
      Similarity.sqTopKStored(s.read.parquet(out), "vec_id",
        Similarity.queryVecOf(emb, "vec_id", "embedding", 0),
        k = 10, excludeId = Some(0L))
    }),
    "llm_ann_ivf_sq" -> ((s, d) => {
      // the IVF×SQ composition: coarse cells prune, int8 dequant cosine
      // scores the probed cells — in-memory form composes THROUGH the
      // stored path
      val emb = Tables.load(s, d, "embeddings")
      Similarity.ivfSqTopK(emb, "vec_id", "embedding",
        Stores.seedCells(emb),
        queryId = 0, k = 10, probes = 2)
    }),
    "llm_ann_ivf_sq_stored" -> ((s, d) => {
      // the IVF×SQ store at its 100 TB layout: codes partitionBy(cell),
      // serving probes with the driver-literal cell filter — static
      // partition pruning (PlanSpec pins PartitionFilters); same oracle
      // as the in-memory form
      val out = Stores.dir("ivf_sq_codes")
      val emb = Tables.load(s, d, "embeddings")
      val cents = Stores.seedCells(emb)
      Stores.ivfSqCodes(out, emb, cents)
      Similarity.ivfSqTopKStored(s.read.parquet(out), "vec_id", cents,
        Similarity.queryVecOf(emb, "vec_id", "embedding", 0),
        k = 10, probes = 2, excludeId = Some(0L))
    }),
    "llm_ann_sq_append" -> ((s, d) => {
      import s.implicits._
      // SQ index MAINTENANCE: per-row encode means the delta IS the
      // append (the fp/dHash symmetry, no artifacts to drift) — gen A
      // written, gen B's codes parquet-appended, the union served; same
      // oracle as llm_ann_sq, so a lost append hash-mismatches
      val out = Stores.dir("sq_codes_append")
      val emb = Tables.load(s, d, "embeddings")
      val gen = Stores.split(emb, "vec_id")
      val a = gen.older(100).select($"vec_id", $"embedding")
      val b = gen.newer(100).select($"vec_id", $"embedding")
      Stores.sq(out, a, b)
      Similarity.sqTopKStored(s.read.parquet(out), "vec_id",
        Similarity.queryVecOf(emb, "vec_id", "embedding", 0),
        k = 10, excludeId = Some(0L))
    }),
    "llm_ann_pq_stored" -> ((s, d) => {
      // the PQ SERVING path: encode once, write the m-int code table to
      // parquet, read it back, score with the query LUTs — the vectors
      // are never touched after the encode (same oracle as llm_ann_pq,
      // so storage drift hash-mismatches)
      val out = Stores.dir("pq_codes")
      val emb = Tables.load(s, d, "embeddings")
      val cb = Stores.codebooks(emb)
      Stores.put(out, Similarity.pqEncode(emb, "vec_id", "embedding", cb, subDim = 16))
      Similarity.pqTopKStored(s.read.parquet(out), "vec_id", cb,
        subDim = 16,
        Similarity.queryVecOf(emb, "vec_id", "embedding", 0),
        k = 10, excludeId = Some(0L))
    }),
    "llm_embedding_dups" -> ((s, d) => {
      import s.implicits._
      // corpus with planted duplicates (ids shifted by 10000): the
      // LSH-bucketed pairwise dedup must find exactly the planted pairs
      val emb = Tables.load(s, d, "embeddings").select($"vec_id", $"embedding")
      val corpus = emb.unionAll(
        emb.select(($"vec_id" + 10000).as("vec_id"), $"embedding"))
      Similarity.embeddingNearDups(corpus, "vec_id", "embedding",
        simThreshold = 0.99, nPlanes = 6, dim = 64)
    }),
    "llm_sample" -> ((s, d) => {
      import s.implicits._
      // deterministic stratified sample: md5-gated per-stratum rates
      // (10% / 25% / 50% bp) — membership is a pure function of the
      // text, stable across partitionings/engines (unlike df.sample)
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      graft.operators.Sampling.stratified(docs,
          stratum = pmod($"doc_id", lit(3)), key = $"text",
          rates = Seq((lit(0), 1000), (lit(1), 2500), (lit(2), 5000)),
          salt = "mix1:")
        .select($"doc_id", pmod($"doc_id", lit(3)).as("stratum"))
    }),
    "llm_sample_k" -> ((s, d) => {
      import s.implicits._
      // exact-size deterministic sample: 200 docs with the smallest
      // salted text hash; doc_id tie-break makes the boundary total
      // (the corpus contains byte-identical texts)
      graft.operators.Sampling.exactK(
          Tables.load(s, d, "documents").select($"doc_id", $"text"),
          $"text", k = 200, tieBreak = Seq($"doc_id"), salt = "eval:")
        .select($"doc_id")
    }),
    "llm_sample_weighted" -> ((s, d) => {
      import s.implicits._
      // weighted exact-k sample (DLT priority sampling): 200 docs drawn
      // ∝ n_chars — longer docs proportionally likelier, membership a
      // pure function of (salt, text, weight); the emitted priority is
      // the DLT estimator input (the 201st priority would be τ)
      graft.operators.Sampling.weightedK(
          Tables.load(s, d, "documents").select($"doc_id", $"text", $"n_chars"),
          $"text", $"n_chars", k = 200, tieBreak = Seq($"doc_id"),
          salt = "wpri:")
        .select($"doc_id", $"n_chars".as("weight"), $"priority")
    }),
    "llm_sample_weighted_strat" -> ((s, d) => {
      import s.implicits._
      // per-source weighted draw: 10 docs per source ∝ n_chars — the
      // balanced-but-quality-weighted eval-set shape; two-phase
      // pre-split keeps a dominant source off the single-task window
      graft.operators.Sampling.weightedKPerStratum(
          Tables.load(s, d, "documents")
            .select($"doc_id", $"source", $"text", $"n_chars"),
          stratum = $"source", key = $"text", weight = $"n_chars", k = 10,
          tieBreak = Seq($"doc_id"), salt = "wps:")
        .select($"doc_id", $"source", $"priority")
    }),
    "llm_tfidf" -> ((s, d) =>
      TextAnalysis.tfidfTopTerms(
        Tables.load(s, d, "documents"), "doc_id", "text", topK = 3)),
    "llm_bm25_stored" -> ((s, d) => {
      import s.implicits._
      // retrieval THROUGH the inverted index: postings + doc-length
      // sidecar written once (index once, query forever — serving
      // never re-tokenizes the corpus), read back, served. Same oracle
      // as llm_bm25, so storage drift hash-mismatches
      val out = Stores.dir("bm25_index")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      Stores.bm25(out, Seq(Stores.bm25Index(docs)))
      TextAnalysis.bm25TopKStored(s.read.parquet(s"$out/postings"),
        s.read.parquet(s"$out/doclens"), "doc_id",
        queryTerms = Seq("hash", "join", "vector"), k = 25)
    }),
    "llm_bm25_join" -> ((s, d) => {
      import s.implicits._
      // BATCH retrieval over the stored index — the serving-fleet
      // shape (the knn_join symmetry): three queries, one of which
      // matches nothing (absent from the output, not zero-scored);
      // the batch's distinct terms become a driver-literal pushed In
      // on the postings scan (the probe-cell-union recipe)
      val out = Stores.dir("bm25_index_join")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      Stores.bm25(out, Seq(Stores.bm25Index(docs)))
      val queries = Seq((1, "hash join"), (2, "vector scan slow"),
        (3, "zzzunknown")).toDF("query_id", "qtext")
      TextAnalysis.bm25Join(s.read.parquet(s"$out/postings"),
        s.read.parquet(s"$out/doclens"), queries,
        "doc_id", "query_id", "qtext", k = 10)
    }),
    "llm_bm25_append" -> ((s, d) => {
      import s.implicits._
      // inverted-index MAINTENANCE: postings are per-doc rows, so the
      // delta IS the append (the fp/dHash/SQ symmetry — df and corpus
      // stats are RECOMPUTED from the store at query time, so no
      // global statistic goes stale): generation A written, generation
      // B's postings + doc lengths parquet-appended, the union served;
      // same oracle as llm_bm25 — a lost append hash-mismatches
      val out = Stores.dir("bm25_index_append")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val gen = Stores.split(docs, "doc_id")
      val a = gen.older(100).select($"doc_id", $"text")
      val b = gen.newer(100).select($"doc_id", $"text")
      Stores.bm25(out, Seq(a, b).map(Stores.bm25Index))
      TextAnalysis.bm25TopKStored(s.read.parquet(s"$out/postings"),
        s.read.parquet(s"$out/doclens"), "doc_id",
        queryTerms = Seq("hash", "join", "vector"), k = 25)
    }),
    "llm_corpus_kl" -> ((s, d) => {
      import s.implicits._
      // corpus drift between two crawl generations (reference = all but
      // the last 100 docs, new = the last 100 — the contamination
      // split): smoothed unigram KL both directions, one report row
      val docs = Tables.load(s, d, "documents")
      val gen = Stores.split(docs, "doc_id")
      val a = gen.older(100).select($"doc_id", $"text")
      val b = gen.newer(100).select($"doc_id", $"text")
      TextAnalysis.unigramKlReport(a, b, "text")
    }),
    "llm_bm25" -> ((s, d) =>
      // BM25 keyword retrieval: the 25 most relevant docs for a 3-term
      // query at the Lucene-default (k1=1.2, b=0.75) parameters — the
      // topical-slice pull a pipeline runs before any embedding pass.
      // Oracle replays the identical algebra (same parenthesization;
      // ln the only libm call, hardened by the round-4 rank grid)
      TextAnalysis.bm25TopK(Tables.load(s, d, "documents"), "doc_id",
        "text", queryTerms = Seq("hash", "join", "vector"), k = 25)),
    "llm_bm25_delete" -> ((s, d) => {
      import s.implicits._
      // inverted-index TAKEDOWN (the minhash/fp/dHash store symmetry):
      // postings and the doc-length sidecar are per-doc rows, so the
      // tombstone anti-join IS the delete — and because df and corpus
      // stats are recomputed from the store at query time, the removed
      // docs stop influencing every score component (df, N, avgdl), not
      // just the result list. Oracle: the llm_bm25 algebra over the
      // remaining corpus.
      val out = Stores.dir("bm25_index_delete")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      Stores.bm25(out, Seq(Stores.bm25Index(docs)))
      val tomb = docs.select($"doc_id").filter($"doc_id" % 7 === 0)
      TextAnalysis.bm25TopKStored(
        Dedup.storePurge(s.read.parquet(s"$out/postings"), "doc_id", tomb),
        Dedup.storePurge(s.read.parquet(s"$out/doclens"), "doc_id", tomb),
        "doc_id", queryTerms = Seq("hash", "join", "vector"), k = 25)
    }),
    "llm_bm25_compact" -> ((s, d) => {
      import s.implicits._
      // the retrieval store's maintenance lifecycle CLOSED (append ✓
      // delete ✓ → compact): a postings store holding two appended
      // generations plus a tombstone set is physically rewritten to
      // versioned paths — purged docs gone from the FILES, the two
      // generations' deltas consolidated — and serving the compacted
      // store must equal the llm_bm25_delete answer (same tombstones
      // over the full corpus). A compact that loses a posting,
      // resurrects a tombstoned doc, or drops a doc-length row
      // hash-mismatches.
      val out = Stores.dir("bm25_index_compact")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val gen = Stores.split(docs, "doc_id")
      val a = gen.older(100).select($"doc_id", $"text")
      val b = gen.newer(100).select($"doc_id", $"text")
      val tomb = docs.select($"doc_id").filter($"doc_id" % 7 === 0)
      // each path compacts right after its own appends land
      val compacted = new Array[org.apache.spark.sql.DataFrame](2)
      Stores.bm25(out, Seq(a, b).map(Stores.bm25Index),
        postingsThen = () =>
          compacted(0) = Dedup.storeCompact(s.read.parquet(s"$out/postings"),
            "doc_id", Some(tomb), s"$out/postings_v2"),
        doclensThen = () =>
          compacted(1) = Dedup.storeCompact(s.read.parquet(s"$out/doclens"),
            "doc_id", Some(tomb), s"$out/doclens_v2"))
      TextAnalysis.bm25TopKStored(compacted(0), compacted(1), "doc_id",
        queryTerms = Seq("hash", "join", "vector"), k = 25)
    }),
    "llm_bm25_pruned" -> ((s, d) => {
      import s.implicits._
      // the lexical index under the cell-partitioned ANN discipline:
      // postings written partitionBy(tbucket) (tbucket = hash60(term)
      // mod 8 — derivable from the term, so maintenance recomputes it
      // free), serving computes the query's bucket literals ON THE
      // DRIVER (pure function, zero data read) => STATIC partition
      // pruning on the postings scan. Identical answer to the
      // unpartitioned serve by construction — same oracle.
      val out = Stores.dir("bm25_index_pruned")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      Stores.bm25ByBucket(out, Seq(Stores.bm25BucketIndex(docs)))
      TextAnalysis.bm25TopKStoredPruned(
        s.read.parquet(s"$out/postings"), s.read.parquet(s"$out/doclens"),
        "doc_id", queryTerms = Seq("hash", "join", "vector"),
        nBuckets = 8, k = 25)
    }),
    "llm_bm25_pruned_compact" -> ((s, d) => {
      import s.implicits._
      // partitioned-store MAINTENANCE: the bucket-partitioned postings
      // written in TWO generations + tombstones, physically rewritten
      // by storeCompact WITH partitionCols = tbucket — the partition
      // layout survives the rewrite (PlanSpec pins PartitionFilters on
      // the compacted store), and the pruned serve over it equals the
      // llm_bm25_delete answer (same tombstones over the full corpus).
      val out = Stores.dir("bm25_pruned_compact")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val gen = Stores.split(docs, "doc_id")
      val a = gen.older(100).select($"doc_id", $"text")
      val b = gen.newer(100).select($"doc_id", $"text")
      val tomb = docs.select($"doc_id").filter($"doc_id" % 7 === 0)
      // each path compacts right after its own appends land
      val compacted = new Array[org.apache.spark.sql.DataFrame](2)
      Stores.bm25ByBucket(out, Seq(a, b).map(Stores.bm25BucketIndex),
        postingsThen = () =>
          compacted(0) = Dedup.storeCompact(s.read.parquet(s"$out/postings"),
            "doc_id", Some(tomb), s"$out/postings_v2",
            partitionCols = Seq("tbucket")),
        doclensThen = () =>
          compacted(1) = Dedup.storeCompact(s.read.parquet(s"$out/doclens"),
            "doc_id", Some(tomb), s"$out/doclens_v2"))
      TextAnalysis.bm25TopKStoredPruned(compacted(0), compacted(1), "doc_id",
        queryTerms = Seq("hash", "join", "vector"), nBuckets = 8, k = 25)
    }),
    "llm_bm25_selective_compact" -> ((s, d) => {
      import s.implicits._
      // partition-SELECTIVE maintenance on the bucket-partitioned
      // postings: the same two-generation + tombstone fixture as
      // llm_bm25_pruned_compact, but only tombstone-bearing tbucket
      // partitions are rewritten, IN PLACE — untouched buckets' files
      // stay byte-identical (LlmOpsSpec pins the file statuses) — and
      // the pruned serve over the compacted store still equals the
      // llm_bm25_delete answer (same oracle). Doc-lengths stay a flat
      // store: full storeCompact is correct there (every doc row is a
      // candidate, there is no partition to spare).
      val out = Stores.dir("bm25_selective_compact")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val gen = Stores.split(docs, "doc_id")
      val a = gen.older(100).select($"doc_id", $"text")
      val b = gen.newer(100).select($"doc_id", $"text")
      val tomb = docs.select($"doc_id").filter($"doc_id" % 7 === 0)
      // each path compacts right after its own appends land
      val compacted = new Array[org.apache.spark.sql.DataFrame](2)
      Stores.bm25ByBucket(out, Seq(a, b).map(Stores.bm25BucketIndex),
        postingsThen = () =>
          compacted(0) = Dedup.storeCompactSelective(s, s"$out/postings",
            "doc_id", tomb, Seq("tbucket"), s"$out/postings_staging"),
        doclensThen = () =>
          compacted(1) = Dedup.storeCompact(s.read.parquet(s"$out/doclens"),
            "doc_id", Some(tomb), s"$out/doclens_v2"))
      TextAnalysis.bm25TopKStoredPruned(compacted(0), compacted(1), "doc_id",
        queryTerms = Seq("hash", "join", "vector"), nBuckets = 8, k = 25)
    }),
    "llm_pipeline13" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // the BATCH SERVING chain — pipeline12 at query-batch scale,
      // composing this round's batch verbs: per-query lexical top-20
      // (bm25Join over the stored-index frames) + per-query semantic
      // top-20 (knnJoin) -> per-query RRF fusion to 10 -> per-query
      // MMR diversification to 3 (rel = rrf, vectors joined back).
      // Every stage is query-keyed — no cross-query coupling, no
      // per-query driver loop. Oracle: the hybrid-join CTE algebra +
      // three unrolled per-query MMR rounds.
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val emb = Tables.load(s, d, "embeddings")
      val ix = graft.operators.Reuse.Local(
        TextAnalysis.bm25Index(docs, "doc_id", "text"))
      val dls = TextAnalysis.bm25DocLens(ix, "doc_id")
      val queries = Seq((1L, "hash join"), (2L, "vector scan slow"),
        (3L, "zzzunknown")).toDF("query_id", "qtext")
      val bmRanked = TextAnalysis.bm25Join(ix, dls, queries,
          "doc_id", "query_id", "qtext", k = 20)
        .select($"query_id", $"doc_id", $"rank")
      val qvecs = emb.filter($"vec_id".isin(1L, 2L, 3L))
        .select($"vec_id".as("query_id"), $"embedding")
      val annRanked = Similarity.knnJoin(qvecs, emb, "query_id", "vec_id",
          "embedding", "embedding", k = 20, excludeSelf = true)
        .withColumn("rank", row_number().over(Window.partitionBy($"query_id")
          .orderBy($"cos_sim".desc, $"neighbor_id".asc)))
        .select($"query_id", $"neighbor_id".as("doc_id"), $"rank")
      val fused = TextAnalysis.rrfFuseBy(Seq(bmRanked, annRanked),
        "query_id", "doc_id", k = 10)
      val cand = fused
        .join(emb.select($"vec_id".as("doc_id"), $"embedding"), Seq("doc_id"))
        .select($"query_id", $"doc_id", $"embedding", $"rrf")
      Similarity.mmrSelectBy(cand, "query_id", "doc_id", "embedding",
        "rrf", k = 3, lam = 0.7)
    }),
    "llm_hybrid_rrf" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // HYBRID retrieval: the lexical top-50 (BM25 over the documents)
      // and the semantic top-50 (exact cosine vs query vector 0) fused
      // by reciprocal rank — the two-tower retrieval front end. The
      // windows rank the already-cut 50-row lists (bounded frames, not
      // corpus-scale sorts); doc_id and vec_id share the corpus id
      // domain (TESTDATA).
      val bm = TextAnalysis.bm25TopK(Tables.load(s, d, "documents"),
          "doc_id", "text", queryTerms = Seq("hash", "join", "vector"),
          k = 50)
        .withColumn("rank", row_number().over(
          Window.orderBy($"bm25".desc, $"doc_id".asc)))
      val ann = Similarity.bruteForceTopK(Tables.load(s, d, "embeddings"),
          "vec_id", "embedding", queryId = 0, k = 50)
        .withColumnRenamed("vec_id", "doc_id")
        .withColumn("rank", row_number().over(
          Window.orderBy($"cos_sim".desc, $"doc_id".asc)))
      TextAnalysis.rrfFuse(Seq(bm, ann), "doc_id", k = 20)
    }),
    "llm_hybrid_join" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // BATCH hybrid retrieval — the serving-fleet shape: a TABLE of
      // queries, each with a lexical text AND a semantic query vector
      // (vec_id 1..3 — the id domains coincide, TESTDATA), both legs
      // ranked per query at k=20, fused by reciprocal rank WITHIN each
      // query. Query 3's lexical text matches nothing — its fusion is
      // the semantic leg alone (absent-leg-contributes-zero, gated).
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val emb = Tables.load(s, d, "embeddings")
      val ix = graft.operators.Reuse.Local(
        TextAnalysis.bm25Index(docs, "doc_id", "text"))
      val dls = TextAnalysis.bm25DocLens(ix, "doc_id")
      val queries = Seq((1L, "hash join"), (2L, "vector scan slow"),
        (3L, "zzzunknown")).toDF("query_id", "qtext")
      val bmRanked = TextAnalysis.bm25Join(ix, dls, queries,
          "doc_id", "query_id", "qtext", k = 20)
        .select($"query_id", $"doc_id", $"rank")
      val qvecs = emb.filter($"vec_id".isin(1L, 2L, 3L))
        .select($"vec_id".as("query_id"), $"embedding")
      val annRanked = Similarity.knnJoin(qvecs, emb, "query_id", "vec_id",
          "embedding", "embedding", k = 20, excludeSelf = true)
        .withColumn("rank", row_number().over(Window.partitionBy($"query_id")
          .orderBy($"cos_sim".desc, $"neighbor_id".asc)))
        .select($"query_id", $"neighbor_id".as("doc_id"), $"rank")
      TextAnalysis.rrfFuseBy(Seq(bmRanked, annRanked),
        "query_id", "doc_id", k = 10)
    }),
    "llm_pipeline12" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // the SERVING chain end to end — what a search endpoint actually
      // returns: hybrid top-10 (lexical k=20 + semantic k=20, RRF-fused)
      // → MMR diversification to 5 (rel = the fused rrf score) →
      // query-term snippets for the survivors (an ANN-sourced doc with
      // no lexical hit keeps a NULL snippet — the left join is part of
      // the contract). Every stage individually gated (llm_hybrid_rrf /
      // llm_mmr / llm_snippet); the composition pins the interplay.
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val emb = Tables.load(s, d, "embeddings")
      val bm = TextAnalysis.bm25TopK(docs, "doc_id", "text",
          queryTerms = Seq("hash", "join", "vector"), k = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy($"bm25".desc, $"doc_id".asc)))
      val ann = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queryId = 0, k = 20)
        .withColumnRenamed("vec_id", "doc_id")
        .withColumn("rank", row_number().over(
          Window.orderBy($"cos_sim".desc, $"doc_id".asc)))
      val fused = TextAnalysis.rrfFuse(Seq(bm, ann), "doc_id", k = 10)
      val cand = fused.join(
        emb.select($"vec_id".as("doc_id"), $"embedding"), Seq("doc_id"))
      val sel = Similarity.mmrSelect(cand, "doc_id", "embedding", "rrf",
        k = 5, lam = 0.7)
      val selDocs = docs.join(sel.select($"doc_id"), Seq("doc_id"),
        "left_semi")
      val snips = TextAnalysis.snippetExtract(selDocs, "doc_id", "text",
        Seq("hash", "join", "vector"), window = 12)
      sel.select($"doc_id", $"mmr", $"rank")
        .join(snips, Seq("doc_id"), "left")
        .orderBy($"rank")
    }),
    "llm_crawl_delta" -> ((s, d) => {
      import s.implicits._
      // membership drift between two crawl generations: generation B
      // drops the first 51 docs, edits the 50 docs before the split
      // point, and adds the last 100 — the report must count each class
      // exactly (added 100 / removed 51 / changed 50 / unchanged rest)
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val gen = Stores.split(docs, "doc_id")
      val a = gen.older(100).select($"doc_id", $"text")
      val b = gen.where($"doc_id" > 50 && gen.atMost(150)).select($"doc_id", $"text")
        .unionAll(gen.where(gen.above(150) && gen.atMost(100))
          .select($"doc_id", concat($"text", lit(" rev2")).as("text")))
        .unionAll(gen.newer(100).select($"doc_id", $"text"))
      TextAnalysis.crawlDelta(a, b, "doc_id", "text")
    }),
    "llm_bm25_prf" -> ((s, d) =>
      // query EXPANSION retrieval: round 1 pulls 10 feedback docs for
      // the seed terms, their top-5 tf·idf non-query terms widen the
      // query, round 2 re-retrieves — the recall-widening pass a
      // topical-slice pull runs when the seed terms are too narrow
      TextAnalysis.bm25Prf(Tables.load(s, d, "documents"), "doc_id",
        "text", queryTerms = Seq("hash", "join", "vector"), k = 25,
        fbDocs = 10, fbTerms = 5)),
    "llm_bm25_prf_join" -> ((s, d) => {
      import s.implicits._
      // BATCH pseudo-relevance feedback over the stored index — the
      // serving-fleet PRF shape: per-query feedback docs from round 1,
      // expansion terms from the feedback docs' POSTINGS (never a
      // re-tokenize), per-query tf·idf pick via a window (no per-query
      // driver loop), round 2 through the expanded term sets. The
      // no-match query serves its original terms alone.
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val ix = graft.operators.Reuse.Local(
        TextAnalysis.bm25Index(docs, "doc_id", "text"))
      val dls = TextAnalysis.bm25DocLens(ix, "doc_id")
      val queries = Seq((1L, "hash join"), (2L, "vector scan slow"),
        (3L, "zzzunknown")).toDF("query_id", "qtext")
      TextAnalysis.bm25PrfJoin(ix, dls, queries, "doc_id", "query_id",
        "qtext", k = 10, fbDocs = 5, fbTerms = 3)
    }),
    "llm_snippet_join" -> ((s, d) => {
      import s.implicits._
      // BATCH snippets — the serving form at query-batch scale: the
      // bm25Join top-5 per query feeds per-(query, doc) snippet
      // extraction under THAT query's terms (the per-query term set
      // rides as an array column; the span argmax stays a pure HOF
      // projection). The no-match query has no run rows; a pair whose
      // doc lacks every term emits no row.
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val ix = graft.operators.Reuse.Local(
        TextAnalysis.bm25Index(docs, "doc_id", "text"))
      val dls = TextAnalysis.bm25DocLens(ix, "doc_id")
      val queries = Seq((1L, "hash join"), (2L, "vector scan slow"),
        (3L, "zzzunknown")).toDF("query_id", "qtext")
      val run = TextAnalysis.bm25Join(ix, dls, queries,
        "doc_id", "query_id", "qtext", k = 5)
      TextAnalysis.snippetJoin(run, docs, queries,
        "query_id", "doc_id", "text", "qtext", window = 12)
    }),
    "llm_mmr" -> ((s, d) => {
      import s.implicits._
      // DIVERSIFIED selection after retrieval: the exact top-50 for
      // query vector 0 re-ranked by maximal marginal relevance at
      // λ=0.7, five greedy picks — the relevance-vs-redundancy balance
      // a RAG context assembler runs on the serve output. Oracle: the
      // five rounds UNROLLED in DuckDB (the bpe_train precedent), same
      // quantized score and id tie-break each round.
      val emb = Tables.load(s, d, "embeddings")
      val cand = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queryId = 0, k = 50)
        .join(emb.select($"vec_id", $"embedding"), Seq("vec_id"))
      Similarity.mmrSelect(cand, "vec_id", "embedding", "cos_sim",
        k = 5, lam = 0.7)
    }),
    "llm_mmr_join" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // BATCH diversified re-ranking — the pipeline12 serving chain at
      // query-batch scale (the knnJoin/rrfFuseBy symmetry): each of
      // queries 1..3's exact top-20 re-ranked by per-query MMR at
      // λ=0.7, three picks each, in k SHARED Spark rounds (no
      // per-query driver loop, no cross-query coupling — every
      // join/window is query-keyed). Oracle: the three rounds unrolled
      // per query with query-partitioned argmax windows.
      val emb = Tables.load(s, d, "embeddings")
      val qvecs = emb.filter($"vec_id".isin(1L, 2L, 3L))
        .select($"vec_id".as("query_id"), $"embedding")
      val cand = Similarity.knnJoin(qvecs, emb, "query_id", "vec_id",
          "embedding", "embedding", k = 20, excludeSelf = true)
        .join(emb.select($"vec_id".as("neighbor_id"), $"embedding"),
          Seq("neighbor_id"))
        .select($"query_id", $"neighbor_id".as("doc_id"), $"embedding",
          $"cos_sim")
      Similarity.mmrSelectBy(cand, "query_id", "doc_id", "embedding",
        "cos_sim", k = 3, lam = 0.7)
    }),
    "llm_snippet" -> ((s, d) =>
      // search-result snippets: for every doc holding at least one of
      // the retrieval terms, the densest 12-token window starting at a
      // hit (ties → earliest) — the "why did this match" verb after
      // llm_bm25's ranking; pure per-row projection, no shuffle
      TextAnalysis.snippetExtract(Tables.load(s, d, "documents"),
        "doc_id", "text", queryTerms = Seq("hash", "join", "vector"),
        window = 12)),
    "llm_pipeline11" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // the RETRIEVAL-ERA chain end to end: Gopher keep → exact dedup
      // over a planted-duplicate crawl (keep lowest id) → BM25 index of
      // the surviving corpus built and STORED → batch hybrid serve (the
      // lexical leg from the stored index, the semantic leg over the
      // embeddings of SURVIVING docs only, RRF-fused per query). Every
      // stage is individually gated (llm_gopher / llm_exact_dedup /
      // llm_bm25_join / llm_hybrid_join); the composition pins their
      // interplay — a rejected or duplicate doc must be invisible to
      // retrieval, and the index's df/N/avgdl must reflect the
      // rejections.
      val out = Stores.dir("pipeline11")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val crawl = docs.unionAll(
        docs.select(($"doc_id" + 500000).as("doc_id"), $"text"))
      val kept = crawl.filter(TextAnalysis.gopherKeep($"text",
        minTokens = 10, maxTokens = 100000, minMeanWordLen = 2.0,
        maxMeanWordLen = 10.0, maxSymbolRatio = 0.1, minStopwordHits = 1))
      val fp = kept.select($"doc_id", $"text",
        TextAnalysis.fingerprint($"text").as("fp"))
      val winners = fp.groupBy($"fp").agg(min($"doc_id").as("doc_id"))
      // the surviving corpus feeds BOTH the index build and the
      // semantic leg's semi-join — one gopher+dedup pass, not two
      val deduped = graft.operators.Reuse.Local(
        fp.join(winners, Seq("fp", "doc_id"), "left_semi")
          .select($"doc_id", $"text"))
      Stores.bm25(out, Seq(Stores.bm25Index(deduped)))
      val queries = Seq((1L, "hash join"), (2L, "vector scan slow"),
        (3L, "zzzunknown")).toDF("query_id", "qtext")
      val bmRanked = TextAnalysis.bm25Join(
          s.read.parquet(s"$out/postings"),
          s.read.parquet(s"$out/doclens"), queries,
          "doc_id", "query_id", "qtext", k = 20)
        .select($"query_id", $"doc_id", $"rank")
      val emb = Tables.load(s, d, "embeddings")
      val corpusEmb = emb.join(
        deduped.select($"doc_id".as("vec_id")), Seq("vec_id"), "left_semi")
      val qvecs = emb.filter($"vec_id".isin(1L, 2L, 3L))
        .select($"vec_id".as("query_id"), $"embedding")
      val annRanked = Similarity.knnJoin(qvecs, corpusEmb,
          "query_id", "vec_id", "embedding", "embedding",
          k = 20, excludeSelf = true)
        .withColumn("rank", row_number().over(Window.partitionBy($"query_id")
          .orderBy($"cos_sim".desc, $"neighbor_id".asc)))
        .select($"query_id", $"neighbor_id".as("doc_id"), $"rank")
      TextAnalysis.rrfFuseBy(Seq(bmRanked, annRanked),
        "query_id", "doc_id", k = 10)
    }),
    "llm_retrieval_eval" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // retrieval-QUALITY report: the semantic top-10 run for query
      // vectors 1..3 graded against label-match ground truth (relevant
      // = same embeddings.label, self excluded) — hits/precision/
      // recall@10, reciprocal rank, nDCG@10 per query. The eval verb a
      // serving fleet runs nightly against a judged set.
      val emb = Tables.load(s, d, "embeddings")
      val qvecs = emb.filter($"vec_id".isin(1L, 2L, 3L))
        .select($"vec_id".as("query_id"), $"embedding", $"label")
      val run = Similarity.knnJoin(
          qvecs.select($"query_id", $"embedding"), emb,
          "query_id", "vec_id", "embedding", "embedding",
          k = 10, excludeSelf = true)
        .withColumn("rank", row_number().over(Window.partitionBy($"query_id")
          .orderBy($"cos_sim".desc, $"neighbor_id".asc)))
        .select($"query_id", $"neighbor_id".as("doc_id"), $"rank")
      val rel = qvecs.select($"query_id", $"label")
        .join(emb.select($"vec_id".as("doc_id"), $"label"), Seq("label"))
        .filter($"doc_id" =!= $"query_id")
        .select($"query_id", $"doc_id")
      TextAnalysis.retrievalEvalReport(run, rel, "query_id", "doc_id",
        k = 10)
    }),
    "llm_retrieval_eval_graded" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // GRADED-relevance eval (the 2^rel - 1 DCG — what real judgment
      // sets carry): same run as llm_retrieval_eval; relevance carries
      // gain 2 for label-match, gain 1 for adjacent labels (|diff| = 1)
      // — expressed as an EQUI-join via the exploded {l-1, l, l+1} key
      // list (never a range BNLJ). Binary path untouched (its gate is
      // the bit-stability pin).
      val emb = Tables.load(s, d, "embeddings")
      val qvecs = emb.filter($"vec_id".isin(1L, 2L, 3L))
        .select($"vec_id".as("query_id"), $"embedding", $"label")
      val run = Similarity.knnJoin(
          qvecs.select($"query_id", $"embedding"), emb,
          "query_id", "vec_id", "embedding", "embedding",
          k = 10, excludeSelf = true)
        .withColumn("rank", row_number().over(Window.partitionBy($"query_id")
          .orderBy($"cos_sim".desc, $"neighbor_id".asc)))
        .select($"query_id", $"neighbor_id".as("doc_id"), $"rank")
      val ql = qvecs.select($"query_id", $"label".as("__ql"),
        explode(array($"label" - 1, $"label", $"label" + 1)).as("__jl"))
      val relG = emb.select($"vec_id".as("doc_id"), $"label")
        .join(broadcast(ql), $"label" === $"__jl")
        .filter($"doc_id" =!= $"query_id")
        .select($"query_id", $"doc_id",
          when($"label" === $"__ql", 2).otherwise(1).as("rel"))
      TextAnalysis.retrievalEvalReport(run, relG, "query_id", "doc_id",
        k = 10, gainCol = Some("rel"))
    }),
    "llm_serving_latency" -> ((s, d) => {
      import s.implicits._
      // serving-SLO attestation (the ANN-recall precedent): the three
      // serving surfaces — stored BM25 top-k, stored int8-SQ ANN
      // top-k, and their RRF hybrid — timed per REQUEST (fresh plan
      // construction + execution, what a query-per-request fleet pays)
      // over a handful of repetitions; p50/p95/min/max per surface as
      // a queryable frame. Wall-clock => rows-only gate by design
      // (the s3_metrics convention).
      import org.apache.spark.sql.expressions.Window
      val out = Stores.dir("serving_latency")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val emb = Tables.load(s, d, "embeddings")
      val ix = Stores.bm25Index(docs)
      // three independent store sinks — overlap the SETUP (§2.6); the
      // timed serve loop below is untouched. The sqEncode sink and the
      // query-vector fetch share nothing with `ix`, so they run OUTSIDE
      // the eager-shared group (nesting it keeps them overlapping the
      // index materialization — measured r15: eager-materializing ix
      // ahead of ALL three actions serialized sqEncode behind the
      // tokenize pass and cost ~2 s)
      val qvecRef = new java.util.concurrent.atomic.AtomicReference[
        IndexedSeq[Double]]()
      graft.operators.Par.jobs(
        () => Stores.bm25(out, Seq(ix)),
        () => Stores.sq(s"$out/sq", emb),
        () => qvecRef.set(emb.filter($"vec_id" === 0L)
          .select($"embedding".cast("array<double>")).head().getSeq[Double](0)
          .toIndexedSeq))
      val qvec = Option(qvecRef.get()).getOrElse(sys.error(
        "llm_serving_latency: no query vector for vec_id 0 in embeddings"))
      def bmServe() = TextAnalysis.bm25TopKStored(
        s.read.parquet(s"$out/postings"), s.read.parquet(s"$out/doclens"),
        "doc_id", queryTerms = Seq("hash", "join", "vector"), k = 10)
      def annServe() = Similarity.sqTopKStored(
        s.read.parquet(s"$out/sq"), "vec_id", qvec, k = 10,
        excludeId = Some(0L))
      def hybridServe() = {
        val bm = bmServe().withColumn("rank", row_number().over(
          Window.orderBy($"bm25".desc, $"doc_id".asc)))
        val ann = annServe().withColumnRenamed("vec_id", "doc_id")
          .withColumn("rank", row_number().over(
            Window.orderBy($"sq_score".desc, $"doc_id".asc)))
        TextAnalysis.rrfFuse(Seq(bm, ann), "doc_id", k = 10)
      }
      graft.operators.ServingLatency.latencyReport(s, Seq(
        "ann_sq_stored_topk" -> (() => annServe()),
        "bm25_stored_topk" -> (() => bmServe()),
        "hybrid_rrf_topk" -> (() => hybridServe())), runs = 5)
    }),
    "llm_latency_trend" -> ((s, d) => {
      import s.implicits._
      // the SLO REGRESSION gate: two attestation rounds appended to the
      // trend store (wiped per invocation — the gate is its own
      // fixture), output = the second round's per-surface latencies
      // with deltas vs the first. Wall-clock values => rows-only (the
      // llm_serving_latency convention); the delta arithmetic itself is
      // deterministic and spec-pinned on planted report frames.
      val out = Stores.dir("latency_trend")
      val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$out/store"), true)
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val gen = Stores.split(docs, "doc_id")
      val slice = gen.newer(200).select($"doc_id", $"text")
      Stores.bm25(out, Seq(Stores.bm25Index(slice)))
      def bmServe() = TextAnalysis.bm25TopKStored(
        s.read.parquet(s"$out/postings"), s.read.parquet(s"$out/doclens"),
        "doc_id", queryTerms = Seq("hash", "join"), k = 5)
      def report() = graft.operators.ServingLatency.latencyReport(s, Seq(
        "bm25_stored_topk" -> (() => bmServe())), runs = 2, warmup = 0)
      graft.operators.ServingLatency.latencyTrend(report(), s"$out/store")
      graft.operators.ServingLatency.latencyTrend(report(), s"$out/store")
    }),
    "llm_hybrid_eval" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // the eval verb pointed at the PRODUCTION ranking: the batch
      // hybrid serve (bm25Join + knnJoin -> rrfFuseBy, the
      // llm_hybrid_join chain) graded against label-match relevance —
      // what a serving fleet actually measures nightly (grading the
      // fused output, not one leg). Oracle composes the hybrid CTE
      // algebra with the eval CTEs.
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val emb = Tables.load(s, d, "embeddings")
      val ix = graft.operators.Reuse.Local(
        TextAnalysis.bm25Index(docs, "doc_id", "text"))
      val dls = TextAnalysis.bm25DocLens(ix, "doc_id")
      val queries = Seq((1L, "hash join"), (2L, "vector scan slow"),
        (3L, "zzzunknown")).toDF("query_id", "qtext")
      val bmRanked = TextAnalysis.bm25Join(ix, dls, queries,
          "doc_id", "query_id", "qtext", k = 20)
        .select($"query_id", $"doc_id", $"rank")
      val qvecs = emb.filter($"vec_id".isin(1L, 2L, 3L))
        .select($"vec_id".as("query_id"), $"embedding")
      val annRanked = Similarity.knnJoin(qvecs, emb, "query_id", "vec_id",
          "embedding", "embedding", k = 20, excludeSelf = true)
        .withColumn("rank", row_number().over(Window.partitionBy($"query_id")
          .orderBy($"cos_sim".desc, $"neighbor_id".asc)))
        .select($"query_id", $"neighbor_id".as("doc_id"), $"rank")
      val run = TextAnalysis.rrfFuseBy(Seq(bmRanked, annRanked),
          "query_id", "doc_id", k = 10)
        .select($"query_id", $"doc_id", $"rank")
      val rel = emb.filter($"vec_id".isin(1L, 2L, 3L))
        .select($"vec_id".as("query_id"), $"label")
        .join(emb.select($"vec_id".as("doc_id"), $"label"), Seq("label"))
        .filter($"doc_id" =!= $"query_id")
        .select($"query_id", $"doc_id")
      TextAnalysis.retrievalEvalReport(run, rel, "query_id", "doc_id",
        k = 10)
    }),
    "llm_boilerplate" -> ((s, d) =>
      // corpus boilerplate report: the 20 highest-document-frequency
      // trigrams — what a production run reads to set maxShingleDf /
      // maxBucketSize before the dedup passes
      TextAnalysis.topShinglesByDf(
        Tables.load(s, d, "documents"), "doc_id", "text", n = 3, topK = 20)),
    "llm_vocab" -> ((s, d) =>
      // vocabulary Zipf report: top-100 token types with occurrence
      // count, doc frequency, and cumulative corpus coverage
      TextAnalysis.vocabReport(
        Tables.load(s, d, "documents"), "doc_id", "text", topK = 100)),
    "llm_sample_strat" -> ((s, d) => {
      import s.implicits._
      // balanced eval set: exactly 10 docs per source, membership a
      // pure function of (salt, text) with doc_id tie-break — same
      // determinism contract as llm_sample_k, per stratum
      graft.operators.Sampling.exactKPerStratum(
          Tables.load(s, d, "documents").select($"doc_id", $"source", $"text"),
          stratum = $"source", key = $"text", k = 10,
          tieBreak = Seq($"doc_id"), salt = "strat:")
        .select($"doc_id", $"source")
    }),
    "llm_domain_cap" -> ((s, d) => {
      import s.implicits._
      // RefinedWeb-style source balancing: each source keeps at most
      // its 15 LONGEST docs (quality-aware cap, n_chars as the score);
      // sources at/under the cap keep everything; score ties resolve
      // through the salted-hash + doc_id total order
      graft.operators.Sampling.domainCap(
          Tables.load(s, d, "documents")
            .select($"doc_id", $"source", $"n_chars", $"text"),
          domain = $"source", key = $"text", k = 15,
          tieBreak = Seq($"doc_id"), by = Some($"n_chars"))
        .select($"doc_id", $"source", $"n_chars")
    }),
    "llm_simhash_pairs" -> ((s, d) => {
      import s.implicits._
      // corpus + exact clones of the last 300 ids (where near-dup
      // clusters are planted): banded simhash must surface the planted
      // hamming-0 pairs plus any genuine near-dups
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val gen = Stores.split(docs, "doc_id")
      val recent = gen.newer(300).select(($"doc_id" + 1000000).as("doc_id"), $"text")
      Dedup.simhashPairs(docs.unionAll(recent), "doc_id", "text",
        hashBits = 60, nBands = 4, maxHamming = 3)
    }),
    "llm_simhash_wide" -> ((s, d) => {
      import s.implicits._
      // 120-bit (2-word) sketch over a bounded corpus + exact clones:
      // the multi-word widening for corpora past simhashPairs' ceiling
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val gen = Stores.split(docs, "doc_id")
      val recent = gen.newer(300).select($"doc_id", $"text")
      val corpus = recent.unionAll(
        recent.select(($"doc_id" + 1000000).as("doc_id"), $"text"))
      Dedup.simhashPairsWide(corpus, "doc_id", "text",
        words = 2, bandsPerWord = 2, maxHamming = 3)
    }),
    "llm_kmeans" -> ((s, d) =>
      Similarity.kmeansIterate(Tables.load(s, d, "embeddings"),
        "vec_id", "embedding", nCells = 8)),
    "llm_kmeans2" -> ((s, d) =>
      // full training loop, two rounds: round-2 assignment runs against
      // the DERIVED (round-1) centroids — bit-exact across engines
      // because round boundaries quantize coordinates to 6 decimals
      Similarity.kmeansTrain(Tables.load(s, d, "embeddings"),
        "vec_id", "embedding", nCells = 8, iters = 2)),
    "llm_pipeline" -> ((s, d) => {
      import s.implicits._
      // the full training-data preparation chain: score -> language
      // filter -> quality filter -> exact dedup (keep lowest id), over a
      // corpus with planted duplicates
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val corpus = docs.unionAll(docs.select(($"doc_id" + 500000).as("doc_id"), $"text"))
      val scored = corpus.select($"doc_id",
        TextAnalysis.qualityScore($"text").as("quality"),
        TextAnalysis.langId($"text").as("lang"),
        TextAnalysis.fingerprint($"text").as("fp"),
        TextAnalysis.tokenCount($"text").as("token_cnt"))
      // the filtered frame feeds both the winners aggregate and the
      // semi-join left side; the per-row scoring (quality/langid/md5)
      // is the expensive part — run it once (see Dedup.minhashPairs)
      val filtered = scored.filter($"quality" >= 0.5 && $"lang" === "en")
        .localCheckpoint(false)
      // keep-lowest-id dedup as groupBy-min + semi-join: the aggregate
      // shuffles only (fp, doc_id) pairs with map-side partial min, and
      // no whole-row sort happens anywhere — unlike the row_number
      // window form (kept in Dedup.exactDedupRows for DISTINCT-ON
      // parity), which shuffles AND sorts full rows per fp partition.
      // The semi-join is on BOTH (fp, doc_id) so a doc_id that happens
      // to equal another group's winner id can't leak through; like any
      // keyed dedup this assumes doc_id is unique per row (two rows
      // sharing fp AND doc_id are bit-identical here by construction).
      val winners = filtered.groupBy($"fp").agg(min($"doc_id").as("doc_id"))
      filtered.join(winners, Seq("fp", "doc_id"), "left_semi")
        .select($"doc_id", $"fp", $"token_cnt", $"quality")
    }),
    "llm_pipeline10" -> ((s, d) => {
      import s.implicits._
      // the TOKENIZER-ERA prep chain end to end: exact dedup over a
      // planted-duplicate crawl (keep lowest id) → deterministic
      // 8k-token budget fill denominated in LEARNED tokens (the stored
      // merge table drives the counter) → training windows emitted as
      // token-ID sequences. Every stage is individually oracle-gated
      // (llm_exact_dedup / llm_token_budget_bpe / llm_chunk_bpe); the
      // composition pins their interplay — the first pipeline whose
      // accounting AND output are both in learned tokens
      val out = Stores.dir("bpe_merges_p10")
      Stores.bpeMerges(s, out)
      val merges = s.read.parquet(out)
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val corpus = docs.unionAll(
        docs.select(($"doc_id" + 500000).as("doc_id"), $"text"))
      val fp = corpus.select($"doc_id", $"text",
        TextAnalysis.fingerprint($"text").as("fp"))
      val winners = fp.groupBy($"fp").agg(min($"doc_id").as("doc_id"))
      val deduped = fp.join(winners, Seq("fp", "doc_id"), "left_semi")
        .select($"doc_id", $"text")
      val kept = graft.operators.Sampling.tokenBudget(deduped, "doc_id",
        "text", budget = 8000L, numBuckets = 64,
        tokenCounter = TextAnalysis.bpeCounter(merges))
      val sel = kept.select($"doc_id").join(deduped, "doc_id")
      TextAnalysis.chunkBpe(sel, "doc_id", "text", merges,
          chunkTokens = 64, overlap = 16)
        .select($"doc_id", $"start_tok", $"n_tokens",
          array_join($"token_ids".cast("array<string>"), ",").as("token_ids"))
    }),
    "llm_multimodal_meta" -> ((s, d) => {
      import s.implicits._
      Multimodal.asMedia(Tables.load(s, d, "documents"), "doc_id", "text")
        .select($"doc_id", $"meta.n_bytes".as("n_bytes"),
          $"meta.content_hash".as("content_hash"),
          $"meta.media_type".as("media_type"))
    }),
    "llm_bpe_count" -> ((s, d) => {
      import s.implicits._
      // trained-tokenizer token counts: a merge table chosen once (here
      // 8 common-English merges, incl. the chained th→the / an→and
      // ranks that exercise merge-on-merged-symbol), STORED to parquet,
      // read back, and applied as one compiled per-row expression —
      // train once, count every ingestion run
      val out = Stores.dir("bpe_merges")
      Stores.bpeMerges(s, out)
      TextAnalysis.bpeCount(
        Tables.load(s, d, "documents").select($"doc_id", $"text"),
        "doc_id", "text", s.read.parquet(out))
    }),
    "llm_bpe_tokenize" -> ((s, d) => {
      import s.implicits._
      // tokenize-to-IDS under the stored merge table — the tokenizer
      // lifecycle's serving half beyond counting: each document's
      // terminal symbol SEQUENCE (1-based pos) with the stable
      // vocabulary id (codepoint for base symbols, 0x110000 + min-rank
      // for merged ones — derivable from the merge table alone). The
      // oracle replays the recursive-CTE apply and emits the symbols
      // with the same id CASE; count(*) per doc == llm_bpe_count's
      // bpe_cnt by shared-loop construction (spec-pinned)
      val out = Stores.dir("bpe_merges_tok")
      Stores.bpeMerges(s, out)
      TextAnalysis.bpeTokenize(
        Tables.load(s, d, "documents").select($"doc_id", $"text"),
        "doc_id", "text", s.read.parquet(out))
    }),
    "llm_bpe_vocab" -> ((s, d) => {
      // learned-token vocabulary report: occurrences / doc frequency /
      // rank / cumulative coverage per terminal symbol under the
      // stored merge table — the id-space utilization check before a
      // training run. Oracle composes the tokenize CTE into the
      // llm_vocab report shape
      val out = Stores.dir("bpe_merges_vocab")
      Stores.bpeMerges(s, out)
      TextAnalysis.bpeVocabReport(Tables.load(s, d, "documents"),
        "doc_id", "text", s.read.parquet(out), topK = 50)
    }),
    "llm_bpe_train" -> ((s, d) =>
      // BPE merge-table TRAINING on the corpus itself (the Sennrich
      // recipe): one corpus pass builds the vocabulary-scale word
      // frequencies, then 8 rounds of highest-count adjacent-pair
      // merging (count desc, left asc, right asc ties) with
      // left-to-right non-overlapping application — exactly what
      // BpeCount will replay at serve time. Oracle = 8 unrolled DuckDB
      // rounds over the same wrapped symbol strings
      TextAnalysis.bpeTrain(
        Tables.load(s, d, "documents").select(
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text")),
        "doc_id", "text", nMerges = 8)),
    "llm_unigram_tok_train" -> ((s, d) =>
      // unigram-LM (SentencePiece-style) tokenizer training — the
      // other mainstream public tokenizer family beside BPE: substring
      // seed, hard-EM Viterbi re-estimation + prune rounds, micro-
      // quantized log-prob scores. Oracle = the same seed/EM/prune
      // rounds unrolled in DuckDB with exhaustive path enumeration per
      // word (the Viterbi DP's provably-identical argmax)
      TextAnalysis.unigramTokTrain(
        Tables.load(s, d, "documents").select(
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text")),
        "doc_id", "text", vocabSize = 48, nRounds = 2,
        maxPieceLen = 4, seedSize = 64)),
    "llm_unigram_tokenize" -> ((s, d) => {
      import s.implicits._
      // the serving half: train -> STORE -> tokenize the corpus under
      // the read-back piece table (Viterbi segmentation per word via
      // the compiled per-row expression, vocabulary inlined)
      val out = Stores.dir("unigram_pieces")
      Stores.unigramPieces(Tables.load(s, d, "documents").select($"doc_id", $"text"), out)
      TextAnalysis.unigramTokenize(
        Tables.load(s, d, "documents").select($"doc_id", $"text"),
        "doc_id", "text", s.read.parquet(out))
    }),
    "llm_bpe_train_local" -> ((s, d) =>
      // the PRODUCTION-vocab training engine: the corpus pass stays
      // distributed, the vocabulary-scale word table collects ONCE and
      // all merge rounds run driver-side — no per-round scheduler
      // round-trip. Same oracle as llm_bpe_train (the 8 unrolled DuckDB
      // rounds): the two engines are bit-equal, spec-pinned too
      TextAnalysis.bpeTrainLocal(
        Tables.load(s, d, "documents").select(
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text")),
        "doc_id", "text", nMerges = 8)),
    "llm_bpe_pretok" -> ((s, d) =>
      // PRE-TOKENIZED training (VERDICT r11 "What's missing" #1): the
      // Sennrich-style class split (letters / digits / other runs —
      // TextAnalysis.pretokPattern, lookaround-free so RE2 replays it)
      // runs BEFORE the merge loop, so `word.` and `word` contribute
      // the same stem and punctuation never glues onto words. Same
      // production train engine (bpeTrainLocal) behind the flag;
      // existing whitespace gates stay bit-stable. Oracle = the 8
      // unrolled DuckDB rounds over the SAME class split
      TextAnalysis.bpeTrainLocal(
        Tables.load(s, d, "documents").select(
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text")),
        "doc_id", "text", nMerges = 8, preTokenize = true)),
    "llm_bpe_roundtrip" -> ((s, d) => {
      import s.implicits._
      // the tokenizer LIFECYCLE closed: train on the corpus, STORE the
      // merge table, read it back, count every document under the
      // learned tokenizer — the llm_bpe_count surface with the VALUES
      // fixture replaced by the corpus-trained table. Oracle composes
      // the unrolled train rounds with the recursive apply replay
      val out = Stores.dir("bpe_merges_trained")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      Stores.put(out, TextAnalysis.bpeTrain(docs, "doc_id", "text", nMerges = 8))
      TextAnalysis.bpeCount(docs, "doc_id", "text", s.read.parquet(out))
    }),
    "llm_image_dups" -> ((s, d) => {
      import s.implicits._
      // perceptual near-dup over the media column: the tail-300 long
      // docs as media payloads, plus SAME-LENGTH locally-edited clones
      // (chars 11–14 overwritten — the stub-luma analog of a local
      // image edit: only the cells covering the edit move). The banded
      // dHash pairing must find each (original, edited-clone) pair at
      // hamming ≤ 3 — plus whatever exact-duplicate texts the corpus
      // already contains at hamming 0 — and nothing else; the oracle
      // replays the full hex→slice-md5→gradient→hamming chain and
      // brute-forces ALL pairs (banded recall is exact below nBands)
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val media = Stores.media(docs)
      Multimodal.imageNearDups(
        Multimodal.asMedia(media.slice.unionAll(media.edited), "doc_id", "text"),
        maxHamming = 3, nBands = 4)
    }),
    "llm_audio_fp" -> ((s, d) => {
      import s.implicits._
      // the AUDIO modality's fingerprint surface (the dHash family's
      // remaining sibling): one 64-bit Haitsma-Kalker energy-difference
      // fingerprint per media row — 3 frames x 33 band energies from
      // the stub decode's slice-md5 grid, bit = sign of the time x band
      // double difference. Pure zero-shuffle projection; the oracle
      // replays the full hex -> slice-energy -> double-difference chain
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val media = Stores.media(docs)
      Multimodal.audioFp(Multimodal.asMedia(media.slice, "doc_id", "text"))
    }),
    "llm_audio_dups" -> ((s, d) => {
      import s.implicits._
      // audio near-dup pairs: the llm_image_dups fixture (same-length
      // local edits — the stub-energy analog of a locally-edited audio
      // clip: only the frames covering the edit move) through the
      // banded audio-fingerprint pairing; banded recall is exact below
      // nBands, so the oracle brute-forces ALL pairs
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val media = Stores.media(docs)
      Multimodal.audioNearDups(
        Multimodal.asMedia(media.slice.unionAll(media.edited), "doc_id", "text"),
        maxHamming = 3, nBands = 4)
    }),
    "llm_audio_probe" -> ((s, d) => {
      import s.implicits._
      // incremental audio admission: the corpus slice's fingerprints
      // STORED (8 bytes a row, payloads never touched again), the
      // edited-clone shard probed against the read-back frame — the
      // llm_image_incr discipline on the audio modality
      val out = Stores.dir("audio_fp_store")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val media = Stores.media(docs)
      Stores.audioFp(out, media.slice)
      Multimodal.audioNearDupsBetween(
          Multimodal.asMedia(media.edited, "doc_id", "text"),
          s.read.parquet(out), maxHamming = 3, nBands = 4)
        .dropDuplicates("id_new", "id_corpus")
    }),
    "llm_audio_append" -> ((s, d) => {
      import s.implicits._
      // audio-store MAINTENANCE (the llm_image_append symmetry, closing
      // the audio family's lifecycle gap): the fingerprint store built
      // in two generations — gen A written, gen B's 8-byte delta
      // parquet-APPENDED (audioFp over just the new media IS the
      // delta) — and clones of EITHER generation must hit the read-back
      // union. Same oracle as llm_audio_probe (the full-slice store),
      // so a lost append under-reports pairs and hash-mismatches
      val out = Stores.dir("audio_fp_append")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val media = Stores.media(docs)
      Stores.audioFp(out, media.gens: _*)
      Multimodal.audioNearDupsBetween(
          Multimodal.asMedia(media.edited, "doc_id", "text"),
          s.read.parquet(out), maxHamming = 3, nBands = 4)
        .dropDuplicates("id_new", "id_corpus")
    }),
    "llm_audio_delete" -> ((s, d) => {
      import s.implicits._
      // takedown on the audio fingerprint store (the storePurge law on
      // the audio index): the full-slice frame written once, tombstoned
      // ids (doc_id % 5 == 1) purged AT READ — an anti-join, no
      // rebuild, payloads never re-read — and the edited-clone shard
      // probed against the purged store: clones of purged tracks ADMIT
      // again, survivors' clones still bounce
      val out = Stores.dir("audio_fp_delete")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val media = Stores.media(docs)
      Stores.audioFp(out, media.slice)
      val tomb = media.slice.filter($"doc_id" % 5 === 1).select($"doc_id")
      val purged = graft.operators.Dedup.storePurge(
        s.read.parquet(out), "doc_id", tomb)
      Multimodal.audioNearDupsBetween(
          Multimodal.asMedia(media.edited, "doc_id", "text"),
          purged, maxHamming = 3, nBands = 4)
        .dropDuplicates("id_new", "id_corpus")
    }),
    "llm_audio_compact" -> ((s, d) => {
      import s.implicits._
      // audio-store compaction — the family's lifecycle closed (append
      // + delete gates above): two generations, the llm_audio_delete
      // tombstones purged from the FILES via storeCompact, deltas
      // consolidated, the edited-clone shard probed against the
      // compacted store. Same fixture algebra as llm_audio_delete =>
      // its oracle gates this: a compact that loses an 8-byte row or
      // resurrects a purged track hash-mismatches.
      val out = Stores.dir("audio_fp_compact")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val media = Stores.media(docs)
      Stores.audioFp(s"$out/store", media.gens: _*)
      val tomb = media.slice.filter($"doc_id" % 5 === 1).select($"doc_id")
      val compacted = graft.operators.Dedup.storeCompact(
        s.read.parquet(s"$out/store"), "doc_id", Some(tomb), s"$out/store_v2")
      Multimodal.audioNearDupsBetween(
          Multimodal.asMedia(media.edited, "doc_id", "text"),
          compacted, maxHamming = 3, nBands = 4)
        .dropDuplicates("id_new", "id_corpus")
    }),
    "llm_video_frames" -> ((s, d) => {
      import s.implicits._
      // the VIDEO modality's frame table: stub frame-sample (4
      // contiguous byte ranges) + the image family's fused dHash per
      // frame — the 8-bytes-per-frame index a video store persists;
      // oracle replays per-frame hashes over aligned hex slices
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val media = Stores.media(docs)
      Multimodal.videoFrames(Multimodal.asMedia(media.slice, "doc_id", "text"))
    }),
    "llm_video_dups" -> ((s, d) => {
      import s.implicits._
      // video near-dup pairs: the same-length edit perturbs ONLY frame
      // 0 (the temporal locality the frame cut is for), so each clone
      // matches its original on frames 1-3 at hamming 0 — over the
      // minFrames=3 bar whatever frame 0 does. Oracle = brute-force
      // all-pairs frame-aligned hamming count (recall exact below
      // nBands per frame).
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val media = Stores.media(docs)
      Multimodal.videoNearDups(
        Multimodal.asMedia(media.slice.unionAll(media.edited), "doc_id", "text"),
        maxHamming = 3, nBands = 4, minFrames = 3)
    }),
    "llm_video_probe" -> ((s, d) => {
      import s.implicits._
      // incremental video admission: the slice's FRAME TABLE stored (8
      // bytes x 4 frames a row, payloads never re-read), the
      // edited-clone shard probed against the read-back store — the
      // llm_audio_probe discipline with the temporal matched-frame
      // count as the admission criterion
      val out = Stores.dir("video_frames_store")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val media = Stores.media(docs)
      Stores.videoFrames(out, media.slice)
      Multimodal.videoNearDupsBetween(
        Multimodal.asMedia(media.edited, "doc_id", "text"),
        s.read.parquet(out), maxHamming = 3, nBands = 4, minFrames = 3)
    }),
    "llm_video_append" -> ((s, d) => {
      import s.implicits._
      // video-store MAINTENANCE: the frame table built in two
      // generations (videoFrames over the new media IS the delta) —
      // clones of EITHER generation must hit the read-back union; the
      // llm_video_probe oracle (full-slice store) gates a lost append
      val out = Stores.dir("video_frames_append")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val media = Stores.media(docs)
      Stores.videoFrames(out, media.gens: _*)
      Multimodal.videoNearDupsBetween(
        Multimodal.asMedia(media.edited, "doc_id", "text"),
        s.read.parquet(out), maxHamming = 3, nBands = 4, minFrames = 3)
    }),
    "llm_video_delete" -> ((s, d) => {
      import s.implicits._
      // takedown on the video frame store: tombstoned ids purged AT
      // READ (anti-join on doc_id — ALL of a video's frame rows go
      // together), clones of purged videos ADMIT again, survivors'
      // clones still bounce
      val out = Stores.dir("video_frames_delete")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val media = Stores.media(docs)
      Stores.videoFrames(out, media.slice)
      val tomb = media.slice.filter($"doc_id" % 5 === 1).select($"doc_id")
      val purged = graft.operators.Dedup.storePurge(
        s.read.parquet(out), "doc_id", tomb)
      Multimodal.videoNearDupsBetween(
        Multimodal.asMedia(media.edited, "doc_id", "text"),
        purged, maxHamming = 3, nBands = 4, minFrames = 3)
    }),
    "llm_video_compact" -> ((s, d) => {
      import s.implicits._
      // video-store compaction — the family's lifecycle closed: two
      // generations, the tombstones purged from the FILES via
      // storeCompact, deltas consolidated, the clone shard probed
      // against the compacted store (the llm_video_delete oracle)
      val out = Stores.dir("video_frames_compact")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val media = Stores.media(docs)
      Stores.videoFrames(s"$out/store", media.gens: _*)
      val tomb = media.slice.filter($"doc_id" % 5 === 1).select($"doc_id")
      val compacted = graft.operators.Dedup.storeCompact(
        s.read.parquet(s"$out/store"), "doc_id", Some(tomb), s"$out/store_v2")
      Multimodal.videoNearDupsBetween(
        Multimodal.asMedia(media.edited, "doc_id", "text"),
        compacted, maxHamming = 3, nBands = 4, minFrames = 3)
    }),
    "llm_image_dups_capped" -> ((s, d) => {
      import s.implicits._
      // the hot-bucket guard GATED: the llm_image_dups fixture plus a
      // PLANTED degenerate population — 40 byte-identical "blank"
      // payloads (the constant-media crawl case) whose every
      // (band_idx, band_val) bucket floods past the cap and is dropped
      // WHOLE, killing the C(40,2) quadratic pair blowup, while the
      // genuine (original, edited-clone) pairs sit in size-2 buckets
      // and survive every band. Oracle = the brute-force chain with the
      // banding + bucket-count filter replayed: a pair survives iff it
      // shares at least one UNCAPPED band
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val media = Stores.media(docs)
      val flood = s.range(40).select(($"id" + 9000000).as("doc_id"),
        lit("~" * 450).as("text"))
      Multimodal.imageNearDups(
        Multimodal.asMedia(media.slice.unionAll(media.edited).unionAll(flood),
          "doc_id", "text"),
        maxHamming = 3, nBands = 4, maxBucketSize = Some(8))
    }),
    "llm_image_incr" -> ((s, d) => {
      import s.implicits._
      // incremental perceptual admission: the corpus slice's dHash
      // frame written ONCE (8 bytes/row — payloads never re-read), the
      // edited-clone shard probed per row against the read-back store;
      // every clone must hit its original (the llm_image_dups fixture
      // split into its store/probe halves)
      val out = Stores.dir("image_dhash_store")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val media = Stores.media(docs)
      Stores.dHash(out, media.slice)
      Multimodal.imageNearDupsBetween(
          Multimodal.asMedia(media.edited, "doc_id", "text"),
          s.read.parquet(out), maxHamming = 3, nBands = 4)
        .dropDuplicates("id_new", "id_corpus")
    }),
    "llm_image_append" -> ((s, d) => {
      import s.implicits._
      // image-index MAINTENANCE (the fp_append symmetry): the dHash
      // store is built in two generations — gen A written, gen B's
      // 8-byte delta parquet-APPENDED (dHash over just the new media IS
      // the delta) — and clones of EITHER generation must hit the
      // read-back union. Same oracle as llm_image_incr (the full-slice
      // store), so a lost append under-reports pairs and hash-mismatches
      val out = Stores.dir("image_dhash_append")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val media = Stores.media(docs)
      Stores.dHash(out, media.gens: _*)
      Multimodal.imageNearDupsBetween(
          Multimodal.asMedia(media.edited, "doc_id", "text"),
          s.read.parquet(out), maxHamming = 3, nBands = 4)
        .dropDuplicates("id_new", "id_corpus")
    }),
    "llm_image_delete" -> ((s, d) => {
      import s.implicits._
      // takedown on the dHash store (the storePurge law extended to the
      // image index): the full-slice frame written once, the tombstoned
      // ids (doc_id % 5 == 1) purged AT READ — an anti-join, no rebuild,
      // the payloads never re-read — and the edited-clone shard probed
      // against the purged store: clones of purged images ADMIT again
      // (their originals are forgotten), survivors' clones still bounce.
      // Oracle = the incremental probe over the remaining corpus only
      val out = Stores.dir("image_dhash_delete")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val media = Stores.media(docs)
      Stores.dHash(out, media.slice)
      val tomb = media.slice.filter($"doc_id" % 5 === 1).select($"doc_id")
      val purged = graft.operators.Dedup.storePurge(
        s.read.parquet(out), "doc_id", tomb)
      Multimodal.imageNearDupsBetween(
          Multimodal.asMedia(media.edited, "doc_id", "text"),
          purged, maxHamming = 3, nBands = 4)
        .dropDuplicates("id_new", "id_corpus")
    }),
    "llm_image_compact" -> ((s, d) => {
      import s.implicits._
      // dHash store compaction — the image index's lifecycle closed
      // (append + delete gates above): the slice written in TWO
      // generations, the llm_image_delete tombstones (doc_id % 5 == 1)
      // purged from the FILES via storeCompact, deltas consolidated,
      // and the edited-clone shard probed against the compacted store.
      // Same fixture algebra as llm_image_delete => its oracle gates
      // this: a compact that loses an 8-byte row or resurrects a
      // purged original hash-mismatches.
      val out = Stores.dir("image_dhash_compact")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val media = Stores.media(docs)
      Stores.dHash(s"$out/store", media.gens: _*)
      val tomb = media.slice.filter($"doc_id" % 5 === 1).select($"doc_id")
      val compacted = graft.operators.Dedup.storeCompact(
        s.read.parquet(s"$out/store"), "doc_id", Some(tomb), s"$out/store_v2")
      Multimodal.imageNearDupsBetween(
          Multimodal.asMedia(media.edited, "doc_id", "text"),
          compacted, maxHamming = 3, nBands = 4)
        .dropDuplicates("id_new", "id_corpus")
    }),
    "llm_image_clusters" -> ((s, d) => {
      import s.implicits._
      // image near-dup CLUSTERS: two independent same-length edits of
      // each original (different positions — the edits need not pair
      // with EACH OTHER, only with the original) and the dHash pair set
      // closed into connected components via Large-Star/Small-Star —
      // transitivity makes the (original, edit1, edit2) triple ONE
      // cluster, the canonical keep-one-per-cluster input for media
      // dedup
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val media = Stores.media(docs)
      val e1 = media.slice.select(($"doc_id" + 3000000).as("doc_id"),
        concat(substring($"text", 1, 10), lit("QQQQ"),
          expr("substring(text, 15)")).as("text"))
      val e2 = media.slice.select(($"doc_id" + 6000000).as("doc_id"),
        concat(substring($"text", 1, 29), lit("ZZZZ"),
          expr("substring(text, 34)")).as("text"))
      val payloads = Multimodal.asMedia(
        media.slice.unionAll(e1).unionAll(e2), "doc_id", "text")
      graft.operators.Graph.connectedComponentsStar(
          Multimodal.imageNearDups(payloads, maxHamming = 3, nBands = 4),
          "id_a", "id_b")
        .select($"node".as("doc_id"), $"component".as("cluster"))
    }),
    "llm_pipeline8" -> ((s, d) => {
      import s.implicits._
      // the MULTIMODAL ingestion front door: crawl media (tail-300 long
      // docs + same-length locally-edited near-dup clones) → perceptual
      // dHash dedup keep-first (every pair's higher id drops — the
      // C4-style greedy representative) → decode → resize geometry for
      // the survivors. The composition a media-corpus build runs before
      // handing payloads to the actual scaler fleet
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val media = Stores.media(docs)
      val payloads = Multimodal.asMedia(
        media.slice.unionAll(media.edited), "doc_id", "text")
      val dupIds = Multimodal.imageNearDups(payloads, maxHamming = 3, nBands = 4)
        .select($"id_b".as("doc_id")).distinct()
      Multimodal.resizePlan(Multimodal.decode(
        payloads.join(dupIds, Seq("doc_id"), "left_anti")))
    }),
    "llm_admission_selfdedup" -> ((s, d) => {
      import s.implicits._
      // the one window the stored index cannot cover: INTERNAL
      // duplicates within a single micro-batch (the same page fetched
      // twice, syndicated copies landing together) — probing each row
      // against the store admits EVERY copy because none is stored yet.
      // admitBatch keep-firsts within the batch (every near-dup pair's
      // higher id drops — the pipeline8 C4-greedy rule), THEN probes
      // survivors: corpus clones bounce at the store, each novel admits
      // exactly once (its in-batch clone dropped at the keep-first)
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val gen = Stores.split(docs, "doc_id")
      val a = gen.where(gen.above(300) && gen.atMost(200)).select($"doc_id", $"text")
      val novel = a.select($"doc_id".as("aid"), $"text".as("atext"))
        .join(docs.select($"doc_id".as("bid"), $"text".as("btext")),
          $"aid" - 120 === $"bid")
        .join(docs.select($"doc_id".as("cid"), $"text".as("ctext")),
          $"aid" - 240 === $"cid")
        .select($"aid", concat_ws(" ", $"atext", $"btext", $"ctext").as("ntext"))
      val batch = a.select(($"doc_id" + 3000000).as("doc_id"), $"text")
        .unionAll(novel.select(($"aid" + 4000000).as("doc_id"),
          $"ntext".as("text")))
        .unionAll(novel.select(($"aid" + 5000000).as("doc_id"),
          $"ntext".as("text")))
      graft.streaming.Corpus.admitBatch(batch,
          Dedup.minhashIndex(docs, "doc_id", "text"), "doc_id", "text")
        .select($"doc_id")
    }),
    "llm_admission_selfdedup_media" -> ((s, d) => {
      import s.implicits._
      // the IMAGE side of the intra-batch window: a micro-batch
      // carrying the same payload twice admits every copy under the
      // per-row store probe (the dHash store has seen none of them).
      // admitBatchMedia keep-firsts within the batch (banded dHash
      // pairs, higher id drops), THEN probes the stored frame: corpus
      // payload clones bounce at the store, each novel payload admits
      // exactly once (its in-batch twin dropped at the keep-first)
      val out = Stores.dir("selfdedup_media")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val gen = Stores.split(docs, "doc_id")
      val a = gen.where(gen.above(300) && gen.atMost(200)).select($"doc_id", $"text")
      Stores.dHash(out, docs)
      val batch = a.select(($"doc_id" + 3000000).as("doc_id"),
          $"text".as("pay"))
        .unionAll(a.select(($"doc_id" + 4000000).as("doc_id"),
          reverse($"text").as("pay")))
        .unionAll(a.select(($"doc_id" + 5000000).as("doc_id"),
          reverse($"text").as("pay")))
      graft.streaming.Corpus.admitBatchMedia(batch, s.read.parquet(out),
          "doc_id", "pay")
        .select($"doc_id")
    }),
    "llm_pipeline9" -> ((s, d) => {
      import s.implicits._
      // pipeline9 — the MIXED-MODALITY ingestion front door: each
      // incoming row carries BOTH a text and a media payload (the
      // actual multimodal training-data shape); a row is admitted only
      // if the TEXT path (gopher keep → 13-gram decontamination vs the
      // eval slice → minhash probe vs the stored corpus index) AND the
      // MEDIA path (per-row dHash probe vs the stored corpus frame)
      // both pass. Four incoming groups isolate every rejection
      // combination: text-clone+media-clone (both bounce),
      // text-novel+media-clone (media bounces), text-clone+media-novel
      // (text bounces), both-novel (ADMITTED)
      val out = Stores.dir("pipeline9")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val gen = Stores.split(docs, "doc_id")
      val a = gen.where(gen.above(300) && gen.atMost(200)).select($"doc_id", $"text")
      val novel = a.select($"doc_id".as("aid"), $"text".as("atext"))
        .join(docs.select($"doc_id".as("bid"), $"text".as("btext")),
          $"aid" - 120 === $"bid")
        .join(docs.select($"doc_id".as("cid"), $"text".as("ctext")),
          $"aid" - 240 === $"cid")
        .select($"aid", $"atext",
          concat_ws(" ", $"atext", $"btext", $"ctext").as("ntext"))
      // the fixture feeds the TEXT path and the MEDIA probe, and `clean`
      // below feeds both the minhash probe and the text-OK anti-join —
      // truncate lineage at each fan-out so the fixture-join chain runs
      // once, not three times (guide §3.3)
      val incoming = graft.operators.Reuse.Local(a
        .select(($"doc_id" + 3000000).as("doc_id"), $"text", $"text".as("pay"))
        .unionAll(novel.select(($"aid" + 4000000).as("doc_id"),
          $"ntext".as("text"), $"atext".as("pay")))
        .unionAll(a.select(($"doc_id" + 5000000).as("doc_id"), $"text",
          reverse($"text").as("pay")))
        .unionAll(novel.select(($"aid" + 6000000).as("doc_id"),
          $"ntext".as("text"), reverse($"atext").as("pay"))))
      // the stores, written once at corpus-build time: the text minhash
      // index frames and the 8-byte-per-row media dHash frame
      val idx = Dedup.minhashIndex(docs, "doc_id", "text")
      // three independent store sinks — overlap (guide §2.6)
      graft.operators.Par.jobs(
        () => Stores.minhash(idx, s"$out/mh"),
        () => Stores.dHash(s"$out/dh", docs))
      val ev = gen.newer(100).select($"doc_id", $"text")
      // TEXT path (quality filter and decontamination anti-join both
      // preserve the payload column — the row stays whole)
      val quality = incoming.filter(TextAnalysis.gopherKeep($"text",
        minTokens = 10, maxTokens = 100000, minMeanWordLen = 2.0,
        maxMeanWordLen = 10.0, maxSymbolRatio = 0.1, minStopwordHits = 1))
      val clean = graft.operators.Reuse.Local(
        graft.streaming.Corpus.cleanAgainst(
          quality, ev, "doc_id", "text", n = 13))
      val mhHits = graft.streaming.Corpus.admitProbe(
          clean.select($"doc_id", $"text"),
          Stores.readMinhash(s, s"$out/mh"), "doc_id", "text")
        .select($"id_new".as("doc_id")).distinct()
      val textOk = clean.join(broadcast(mhHits), Seq("doc_id"), "left_anti")
      // MEDIA path: per-row dHash probe of the payload column
      val imgHits = Multimodal.imageNearDupsBetween(
          Multimodal.asMedia(incoming.select($"doc_id", $"pay"),
            "doc_id", "pay"),
          s.read.parquet(s"$out/dh"), maxHamming = 3, nBands = 4)
        .select($"id_new".as("doc_id")).distinct()
      textOk.join(broadcast(imgHits), Seq("doc_id"), "left_anti").select($"doc_id")
    }),
    "llm_multimodal_resize" -> ((s, d) => {
      import s.implicits._
      Multimodal.resizePlan(
        Multimodal.decode(
          Multimodal.asMedia(Tables.load(s, d, "documents"), "doc_id", "text")))
    }),
    "llm_multimodal_frames" -> ((s, d) => {
      import s.implicits._
      Multimodal.frameTasks(
        Multimodal.decode(
          Multimodal.asMedia(Tables.load(s, d, "documents"), "doc_id", "text")))
    }),
    "llm_multimodal_decode" -> ((s, d) => {
      import s.implicits._
      // scalar-only projection of the decode+feature stage: the driver's
      // compare can't sort an array column, so the frame list is emitted
      // as its size + a csv rendering (lossless for the check)
      Multimodal.features(
        Multimodal.decode(
          Multimodal.asMedia(Tables.load(s, d, "documents"), "doc_id", "text")))
        .select($"doc_id", $"width", $"height", $"n_frames", $"res_class",
          size($"sampled_frames").as("n_sampled"),
          array_join(transform($"sampled_frames", _.cast("string")), ",")
            .as("frames_csv"),
          $"mean_luma")
    }),
    "llm_minhash_incr" -> ((s, d) => {
      import s.implicits._
      // incremental-ingestion dedup: the tail-300 slice re-ingested
      // under new ids must pair with its corpus originals (jaccard 1.0)
      // plus any genuine near-dups — and with NOTHING within a side
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val gen = Stores.split(docs, "doc_id")
      val incoming = gen.newer(300).select(($"doc_id" + 3000000).as("doc_id"), $"text")
      Dedup.minhashPairsBetween(incoming, docs, "doc_id", "text",
        k = 16, nBands = 4, threshold = 0.5)
    }),
    "llm_exact_incr" -> ((s, d) => {
      import s.implicits._
      // the FIRST admission check of every ingestion run: exact dedup
      // against a persisted fingerprint store — byte-identical
      // re-ingests bounce, genuinely new docs pass. The incoming shard
      // mixes clones of corpus docs (must all bounce) with suffixed
      // variants (must all pass); the store is (fp) parquet — 16 bytes
      // a row, the cheapest index a corpus can keep
      val out = Stores.dir("fingerprint_store")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      Stores.fingerprints(out, docs)
      val gen = Stores.split(docs, "doc_id")
      val tail = gen.newer(300)
      val incoming = tail.select(($"doc_id" + 3000000).as("doc_id"), $"text")
        .unionAll(tail.select(($"doc_id" + 4000000).as("doc_id"),
          concat($"text", lit(" novel suffix")).as("text")))
      incoming.join(s.read.parquet(out),
          TextAnalysis.fingerprint($"text") === $"fp", "left_anti")
        .select($"doc_id")
    }),
    "llm_minhash_index_roundtrip" -> ((s, d) => {
      import s.implicits._
      // the PRODUCTION incremental-dedup composition, end to end: build
      // the corpus band/sketch index once, persist both frames to
      // parquet, reconstruct the index from the files, probe the
      // incoming shard against it — same oracle as llm_minhash_incr, so
      // any drift through the storage round-trip hash-mismatches
      val out = Stores.dir("minhash_index")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val gen = Stores.split(docs, "doc_id")
      val incoming = gen.newer(300).select(($"doc_id" + 3000000).as("doc_id"), $"text")
      val idx = Dedup.minhashIndex(docs, "doc_id", "text", k = 16, nBands = 4)
      Stores.minhash(idx, out)
      val stored = Stores.readMinhash(s, out)
      Dedup.minhashProbe(incoming, stored, "doc_id", "text",
        k = 16, nBands = 4, threshold = 0.5)
    }),
    "llm_minhash_index_append" -> ((s, d) => {
      import s.implicits._
      // the ingestion loop CLOSED: the corpus index is built in two
      // generations — build(A) written to parquet, the admitted shard B
      // appended via the union API over the READ-BACK frames — and the
      // re-ingested tail-300 slice probes the appended index. Oracle =
      // the full-corpus probe (llm_minhash_incr), so a lost or drifted
      // append under-reports pairs and hash-mismatches
      val out = Stores.dir("minhash_index_append")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val gen = Stores.split(docs, "doc_id")
      val a = gen.older(150).select($"doc_id", $"text")
      val b = gen.newer(150).select($"doc_id", $"text")
      val incoming = gen.newer(300).select(($"doc_id" + 3000000).as("doc_id"), $"text")
      val idxA = Dedup.minhashIndex(a, "doc_id", "text", k = 16, nBands = 4)
      Stores.minhash(idxA, out)
      val appended = Dedup.minhashIndexAppend(
        Stores.readMinhash(s, out),
        b, "doc_id", "text", k = 16, nBands = 4)
      Dedup.minhashProbe(incoming, appended, "doc_id", "text",
        k = 16, nBands = 4, threshold = 0.5)
    }),
    "llm_minhash_index_delete" -> ((s, d) => {
      import s.implicits._
      // takedown on the dedup index: the full-corpus store written
      // once, the tombstoned ids (doc_id % 7 == 2) PURGED from the
      // read-back frames — an anti-join at read, no rebuild, no corpus
      // re-read — and the re-ingested tail probed: clones of purged
      // docs now ADMIT (their originals are forgotten), clones of
      // remaining docs still bounce. Oracle = the incremental probe
      // over the remaining corpus only
      val out = Stores.dir("minhash_index_delete")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val gen = Stores.split(docs, "doc_id")
      val incoming = gen.newer(300).select(($"doc_id" + 3000000).as("doc_id"), $"text")
      val idx = Dedup.minhashIndex(docs, "doc_id", "text", k = 16, nBands = 4)
      Stores.minhash(idx, out)
      val tomb = docs.filter($"doc_id" % 7 === 2).select($"doc_id")
      val purged = Dedup.MinhashIndex(
        Dedup.storePurge(s.read.parquet(s"$out/bands"), "doc_id", tomb),
        Dedup.storePurge(s.read.parquet(s"$out/sets"), "doc_id", tomb))
      Dedup.minhashProbe(incoming, purged, "doc_id", "text",
        k = 16, nBands = 4, threshold = 0.5)
    }),
    "llm_ann_index_delete" -> ((s, d) => {
      import s.implicits._
      // takedown on the SERVING index: tombstoned vectors (vec_id % 10
      // == 3 — including seed id 3, whose deletion must NOT perturb the
      // stored cells/codebooks: they are corpus statistics, not member
      // data) vanish from results with no retraining; serving the
      // purged codes equals serving a fresh encode of the remaining
      // corpus bit-for-bit (per-row encode — spec-pinned)
      val out = Stores.dir("ann_index_delete")
      val emb = Tables.load(s, d, "embeddings")
      val cents = Stores.seedCells(emb)
      val cbs = Stores.codebooks(emb)
      Stores.put(s"$out/codes", Stores.ivfPqCodes(emb, cents, cbs))
      val tomb = emb.filter($"vec_id" % 10 === 3).select($"vec_id")
      Similarity.ivfPqTopKStored(
        Dedup.storePurge(s.read.parquet(s"$out/codes"), "vec_id", tomb),
        "vec_id", cents, cbs, subDim = 16,
        Similarity.queryVecOf(emb, "vec_id", "embedding", 0),
        k = 10, probes = 2, excludeId = Some(0L))
    }),
    "llm_ann_index_compact" -> ((s, d) => {
      import s.implicits._
      // the maintenance lifecycle's LAST verb (append ✓ delete ✓ →
      // compact): a cell-partitioned codes store that has accumulated
      // an appended generation AND a tombstone set is physically
      // rewritten to a new versioned path — purged rows gone from the
      // files, one consolidated file set per cell — and serving the
      // compacted store must equal serving the logical
      // purge(append(...)) view: same fixture and artifacts as
      // llm_ann_index_delete, so the SAME oracle gates both (a compact
      // that loses a row, resurrects a tombstone, or breaks the cell
      // layout hash-mismatches)
      val out = Stores.dir("ann_index_compact")
      val emb = Tables.load(s, d, "embeddings")
      val gen = Stores.split(emb, "vec_id")
      val a = gen.older(100).select($"vec_id", $"embedding")
      val b = gen.newer(100).select($"vec_id", $"embedding")
      val cents = Stores.seedCells(emb)
      val cbs = Stores.codebooks(emb)
      // generation A written, generation B appended (one more file set
      // per cell — the state a production index is in before compaction)
      Stores.putByCell(s"$out/codes",
        Stores.ivfPqCodes(a, cents, cbs), Stores.ivfPqCodes(b, cents, cbs))
      val tomb = emb.filter($"vec_id" % 10 === 3).select($"vec_id")
      val compacted = Dedup.storeCompact(s.read.parquet(s"$out/codes"),
        "vec_id", Some(tomb), s"$out/codes_v2", partitionCols = Seq("cell"))
      Similarity.ivfPqTopKStored(compacted, "vec_id", cents, cbs,
        subDim = 16, Similarity.queryVecOf(emb, "vec_id", "embedding", 0),
        k = 10, probes = 2, excludeId = Some(0L))
    }),
    "llm_ann_selective_compact" -> ((s, d) => {
      import s.implicits._
      // the 100 TB maintenance verb on the cell-partitioned codes
      // store: same two-generation + tombstone fixture as
      // llm_ann_index_compact, but the rewrite touches ONLY
      // tombstone-bearing cells IN PLACE (dynamic partition overwrite
      // via a staging path) — untouched cells' files stay
      // byte-identical (LlmOpsSpec pins the file statuses) — and
      // serving the selectively-compacted store must equal the
      // llm_ann_index_delete answer (same oracle)
      val out = Stores.dir("ann_selective_compact")
      val emb = Tables.load(s, d, "embeddings")
      val gen = Stores.split(emb, "vec_id")
      val a = gen.older(100).select($"vec_id", $"embedding")
      val b = gen.newer(100).select($"vec_id", $"embedding")
      val cents = Stores.seedCells(emb)
      val cbs = Stores.codebooks(emb)
      Stores.putByCell(s"$out/codes",
        Stores.ivfPqCodes(a, cents, cbs), Stores.ivfPqCodes(b, cents, cbs))
      val tomb = emb.filter($"vec_id" % 10 === 3).select($"vec_id")
      val compacted = Dedup.storeCompactSelective(s, s"$out/codes",
        "vec_id", tomb, Seq("cell"), s"$out/codes_staging")
      Similarity.ivfPqTopKStored(compacted, "vec_id", cents, cbs,
        subDim = 16, Similarity.queryVecOf(emb, "vec_id", "embedding", 0),
        k = 10, probes = 2, excludeId = Some(0L))
    }),
    "llm_fp_append" -> ((s, d) => {
      import s.implicits._
      // the fingerprint store's append path (the llm_exact_incr store,
      // maintained instead of rebuilt): generation A written, the
      // admitted shard's fingerprints landed as a parquet APPEND, and
      // the mixed clone/novel incoming shard probed against the
      // read-back union — clones of EITHER generation must bounce
      val out = Stores.dir("fingerprint_store_append")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val gen = Stores.split(docs, "doc_id")
      Stores.fingerprints(out, gen.older(150), gen.newer(150))
      val tail = gen.newer(300)
      val incoming = tail.select(($"doc_id" + 3000000).as("doc_id"), $"text")
        .unionAll(tail.select(($"doc_id" + 4000000).as("doc_id"),
          concat($"text", lit(" novel suffix")).as("text")))
      incoming.join(s.read.parquet(out),
          TextAnalysis.fingerprint($"text") === $"fp", "left_anti")
        .select($"doc_id")
    }),
    "llm_fp_compact" -> ((s, d) => {
      import s.implicits._
      // the fingerprint store's maintenance lifecycle closed (append
      // gate above; delete is the storePurge law): the two-generation
      // store plus a tombstone fp set is PHYSICALLY rewritten — purged
      // fingerprints gone from the FILES, the append deltas
      // consolidated — and the mixed clone/novel shard probed against
      // the compacted store: clones of forgotten docs ADMIT again,
      // clones of surviving docs still bounce. A compact that loses an
      // fp row or resurrects a tombstone hash-mismatches.
      val out = Stores.dir("fingerprint_store_compact")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val gen = Stores.split(docs, "doc_id")
      Stores.fingerprints(s"$out/store", gen.older(150), gen.newer(150))
      val tomb = docs.filter($"doc_id" % 7 === 0)
        .select(TextAnalysis.fingerprint($"text").as("fp")).distinct()
      val compacted = graft.operators.Dedup.storeCompact(
        s.read.parquet(s"$out/store"), "fp", Some(tomb), s"$out/store_v2")
      val tail = gen.newer(300)
      val incoming = tail.select(($"doc_id" + 3000000).as("doc_id"), $"text")
        .unionAll(tail.select(($"doc_id" + 4000000).as("doc_id"),
          concat($"text", lit(" novel suffix")).as("text")))
      incoming.join(compacted,
          TextAnalysis.fingerprint($"text") === $"fp", "left_anti")
        .select($"doc_id")
    }),
    "llm_url_filter" -> ((s, d) => {
      import s.implicits._
      // URL/domain-level admission (the RefinedWeb/C4 pre-text gate):
      // a deterministic URL fixture mixing subdomains, a ccSLD host
      // (bbc.co.uk), an uppercase host, ports, and garbage non-URLs;
      // blocked registrable domains anti-join out, unparseable rows
      // drop, survivors carry (host, domain) for downstream domainCap
      val docs = Tables.load(s, d, "documents").select($"doc_id")
      val urls = docs.select($"doc_id",
        when($"doc_id" % 6 === 0,
            concat(lit("https://www.example.com/a/"), $"doc_id"))
          .when($"doc_id" % 6 === 1,
            concat(lit("http://blog.spamsite.com/p?id="), $"doc_id"))
          .when($"doc_id" % 6 === 2,
            concat(lit("https://news.bbc.co.uk:443/story/"), $"doc_id"))
          .when($"doc_id" % 6 === 3, lit("http://EXAMPLE.com/x"))
          .when($"doc_id" % 6 === 4, lit("https://ads.tracker.net/c"))
          .otherwise(concat(lit("not a url "), $"doc_id")).as("url"))
      val blocklist = s.createDataFrame(
        Seq(Tuple1("spamsite.com"), Tuple1("Tracker.NET"))).toDF("domain")
      TextAnalysis.urlFilter(urls, "doc_id", "url", blocklist)
    }),
    "llm_split" -> ((s, d) => {
      import s.implicits._
      // deterministic train/val/test cut: disjoint + exhaustive hash
      // RANGES (independent gates can double-assign or orphan rows);
      // byte-identical documents land in the same split by construction
      graft.operators.Sampling.splitByHash(
          Tables.load(s, d, "documents").select($"doc_id", $"text"),
          $"text", Seq("train" -> 9800, "val" -> 100, "test" -> 100),
          salt = "split:")
        .select($"doc_id", $"split")
    }),
    "llm_split_leakage" -> ((s, d) => {
      import s.implicits._
      // cross-split contamination sweep — the check a training run does
      // AFTER cutting splits: which train docs share a 13-gram with the
      // held-out test split (near-dups can straddle the hash cut even
      // though exact clones cannot)
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val sp = graft.operators.Sampling.splitByHash(docs, $"text",
        Seq("train" -> 9800, "val" -> 100, "test" -> 100), salt = "split:")
      Dedup.decontaminate(
        sp.filter($"split" === "train").select($"doc_id", $"text"),
        sp.filter($"split" === "test").select($"doc_id", $"text"),
        "doc_id", "text", n = 13)
    }),
    "llm_c4_filters" -> ((s, d) => {
      import s.implicits._
      // C4 line-level cleaning panel over a planted multi-line fixture
      // (testdata text is single-line): every doc gains a
      // no-terminal-punct line; doc_id strata plant a javascript line
      // (line rule), a 2-word line (word-count rule), a brace line and
      // a lorem-ipsum line (page rules)
      val planted = Tables.load(s, d, "documents").select($"doc_id", concat(
        $"text", lit("\nno terminal punctuation line\n"),
        when($"doc_id" % 5 === 0, "Please enable javascript to continue reading.")
          .otherwise("A perfectly fine closing sentence."),
        when($"doc_id" % 7 === 0, "\nshort one.").otherwise(""),
        when($"doc_id" % 11 === 0, "\ncode sample { return 0; }").otherwise(""),
        when($"doc_id" % 13 === 0, "\nLorem ipsum dolor sit amet.").otherwise("")
      ).as("text"))
      TextAnalysis.c4LineFilters(planted, "doc_id", "text",
        minWordsPerLine = 3, minKeptLines = 2)
    }),
    "llm_line_dedup" -> ((s, d) => {
      import s.implicits._
      // corpus-wide line dedup over a planted multi-line fixture: a
      // newsletter line shared by every doc (hot, cut), an empty line
      // (exempt), a per-doc unique closing line (kept); duplicate
      // single-line texts in the base corpus count hot too
      val planted = Tables.load(s, d, "documents").select($"doc_id", concat(
        $"text",
        lit("\nSubscribe to our newsletter today.\n\nUnique closing line for document "),
        $"doc_id".cast("string"), lit(".")).as("text"))
      TextAnalysis.removeRepeatedLines(planted, "doc_id", "text", maxDf = 1)
    }),
    "llm_temperature_mix" -> ((s, d) => {
      import s.implicits._
      // tempered multinomial source mixing: alpha=0.5 upweights small
      // sources, target 25% of the corpus; membership is a pure
      // function of (salt, text) given the per-source count table
      graft.operators.Sampling.temperatureMix(
          Tables.load(s, d, "documents").select($"doc_id", $"source", $"text"),
          $"source", $"text", alpha = 0.5, targetFraction = 0.25)
        .select($"doc_id", $"source")
    }),
    "llm_corpus_report" -> ((s, d) =>
      // the per-(source, lang) ingestion dashboard panel
      TextAnalysis.corpusReport(
        Tables.load(s, d, "documents"), "source", "lang", "text")),
    "llm_bigram_lp" -> ((s, d) =>
      // bigram LM score: corpus-typical word ORDER scores high — the
      // signal the unigram score cannot see
      TextAnalysis.bigramLogProb(
        Tables.load(s, d, "documents"), "doc_id", "text")),
    "llm_trigram_kn" -> ((s, d) =>
      // interpolated Kneser-Ney trigram LM score — the published
      // smoothing family real perplexity filters use; continuation
      // counts demote fixed-phrase-only words where add-k cannot
      TextAnalysis.trigramKnLogProb(
        Tables.load(s, d, "documents"), "doc_id", "text")),
    "llm_trigram_kn_stored" -> ((s, d) => {
      import s.implicits._
      // the CCNet deployment shape: the KN model trained on the
      // REFERENCE half (even doc_ids), its five count tables STORED,
      // and the WHOLE corpus scored from the read-back tables — odd
      // docs hit unseen trigrams/contexts, exercising every back-off
      // branch; n_unseen is the drift signal. The oracle replays
      // train-on-half + branchy scoring from the parquet inputs.
      val out = Stores.dir("kn_model")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val model = TextAnalysis.trigramKnTrain(
        docs.filter($"doc_id" % 2 === 0), "doc_id", "text")
      Stores.knModel(model, out)
      TextAnalysis.trigramKnScoreStored(docs, "doc_id", "text",
        Stores.readKnModel(s, model, out))
    }),
    "llm_trigram_kn_append" -> ((s, d) => {
      import s.implicits._
      // KN model MAINTENANCE (VERDICT r13 "Missing" #3): the reference
      // half arrives in TWO generations — gen A (doc_id % 4 == 0)
      // trained and STORED, gen B (doc_id % 4 == 2) merged in via
      // trigramKnAppend from the READ-BACK store (occurrence counts
      // add, continuation stats recomputed from the merged type
      // table; gen A's text never re-read). A∪B is exactly the stored
      // gate's reference half (even ids), so that gate's oracle
      // (train-on-evens + score-all replay) gates the merge law
      // append(train(A), B) == train(A ∪ B) end-to-end: any drifted
      // count shifts a back-off branch and hash-mismatches.
      val out = Stores.dir("kn_model_append")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val mA = TextAnalysis.trigramKnTrain(
        docs.filter($"doc_id" % 4 === 0), "doc_id", "text")
      // v2 is merged from v1's read-back, so the two stores are written
      // one after the other
      Stores.knModel(mA, s"$out/v1")
      val stored = Stores.readKnModel(s, mA, s"$out/v1")
      val merged = TextAnalysis.trigramKnAppend(stored,
        docs.filter($"doc_id" % 4 === 2), "doc_id", "text")
      Stores.knModel(merged, s"$out/v2")
      TextAnalysis.trigramKnScoreStored(docs, "doc_id", "text",
        Stores.readKnModel(s, merged, s"$out/v2"))
    }),
    "llm_script" -> ((s, d) => {
      import s.implicits._
      // script detection over a planted multilingual fixture: one
      // stratum per script class, a digits-only 'other' case, and two
      // latin-dominant cases (raw text; text with a trace of cyrillic)
      val docs = Tables.load(s, d, "documents")
      val t = when($"doc_id" % 9 === 0, "ДДДДД")
        .when($"doc_id" % 9 === 1, "中中中中")
        .when($"doc_id" % 9 === 2, "اااااا")
        .when($"doc_id" % 9 === 3, "ααααα")
        .when($"doc_id" % 9 === 4, "가가가")
        .when($"doc_id" % 9 === 5, "कककक")
        .when($"doc_id" % 9 === 6, lit("123 456"))
        .when($"doc_id" % 9 === 7, concat($"text", lit(" ДД")))
        .otherwise($"text")
      docs.select($"doc_id", TextAnalysis.scriptOf(t).as("script"))
    }),
    "llm_normalize" -> ((s, d) => {
      import s.implicits._
      // Unicode + whitespace normalization over a planted fixture: every
      // doc gains a decomposed é (e + U+0301), an NBSP, a decomposed ï,
      // a CRLF, a control char and padding spaces; NFC + cleanup must
      // yield identical text to DuckDB's nfc_normalize + regex chain
      val planted = Tables.load(s, d, "documents").select($"doc_id",
        concat($"text", lit("  cafe\u0301 \u00a0 nai\u0308ve\r\nx\u0001y  "))
          .as("text"))
      planted.select($"doc_id",
        TextAnalysis.normalizeText($"text").as("norm_text"),
        length(TextAnalysis.normalizeText($"text")).as("n_chars_norm"))
    }),
    "llm_sentences" -> ((s, d) => {
      import s.implicits._
      // planted suffix exercises the corners: ellipsis run, mixed ?!,
      // a terminator-less tail, and a trailing newline (the \z anchor —
      // Java's $ would also match before it, RE2's would not)
      val planted = Tables.load(s, d, "documents").select($"doc_id",
        concat($"text", lit(" Ellipsis... mixed?! A tail without terminator\n"))
          .as("text"))
      TextAnalysis.sentenceRows(planted, "doc_id", "text")
    }),
    "llm_html_strip" -> ((s, d) => {
      import s.implicits._
      Tables.load(s, d, "documents")
        .select($"doc_id",
          TextAnalysis.stripMarkup(concat(lit(htmlPre), $"text", lit(htmlPost)))
            .as("clean_text"))
        .select($"doc_id", $"clean_text",
          length($"clean_text").cast("int").as("n_chars"))
    }),
    "llm_pipeline14" -> ((s, d) => {
      import s.implicits._
      // crawl-to-corpus FROM THE RECORD FORMAT (VERDICT r13 "Missing"
      // #4 — the exosql "SQL to whatever" identity applied to the
      // crawl layout): the DOUBLED corpus html-wrapped and framed as
      // per-record-GZIP WARC members (the S9 sink, Common-Crawl
      // layout), read back through the byte-range-split extractor
      // (16 KiB splits — gzip member resync exercised), doc ids
      // recovered from the record header, then llm_pipeline5's prep
      // chain (markup strip → normalize → Gopher panel → exact dedup,
      // clones provably removed) ending in token-offset PACK. The
      // oracle replays the chain from the documents table — the WARC
      // leg must be an exact round-trip, so one mis-framed, dropped,
      // or duplicated record shifts text → dedup → pack offsets and
      // hash-mismatches.
      val out = Stores.dir("pipeline14_warc")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val base = docs.unionAll(
        docs.select(($"doc_id" + 700000).as("doc_id"), $"text"))
      val wrapped = base.select($"doc_id",
        concat(lit("http://graft.local/doc/"), $"doc_id").as("uri"),
        concat(lit(htmlPre), $"text", lit(htmlPost)).as("html"))
      graft.sources.Warc.write(wrapped, "doc_id", "uri", "html", out,
        nFiles = 4, gzip = true)
      val records = s.read.format("graft-extractor")
        .option("extractor", "warc").option("path", out)
        // split size derived from the ACTUAL part-file size: ~4 split
        // boundaries per gzip member file (resync exercised —
        // ExtractorSpec pins split-size invariance) at ANY corpus
        // scale, capped at 256 KiB so bench scale keeps the ~30×
        // fewer scan tasks vs the original 16 KiB (guide §6; the
        // RESULT is split-invariant) — ADVICE r14
        .option("splitBytes",
          graft.sources.Warc.resyncSplitBytes(s, out).toString).load()
      val stripped = records.select(
        regexp_extract($"record_id", "[0-9]+", 0).cast("long").as("doc_id"),
        TextAnalysis.stripMarkup($"payload").as("text"))
      val normed = stripped.select($"doc_id",
        TextAnalysis.normalizeText($"text").as("text"))
      val keepIds = TextAnalysis.gopherRules(normed, "doc_id", "text",
          minTokens = 10, maxTokens = 100000, minMeanWordLen = 2.0,
          maxMeanWordLen = 10.0, maxSymbolRatio = 0.2, minStopwordHits = 1)
        .filter($"keep").select($"doc_id")
      val deduped = Dedup.exactDedupRows(normed.join(keepIds, "doc_id"),
        "doc_id", "text")
      TextAnalysis.packOffsets(deduped, "doc_id", "text",
        seqLen = 512, docsPerBucket = 64)
    }),
    "llm_pipeline5" -> ((s, d) => {
      import s.implicits._
      import graft.operators.Sampling
      // the raw-CRAWL ingestion flow end to end: markup strip →
      // normalize → Gopher panel (symbol threshold 0.2 — the stripped
      // fixture legitimately keeps its entity/comparison symbols) →
      // exact dedup keep-first → deterministic shards. The corpus is
      // DOUBLED so dedup provably removes the clones; order_key is the
      // exact surviving-text checksum (the pipeline2/3 convention)
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val base = docs.unionAll(
        docs.select(($"doc_id" + 700000).as("doc_id"), $"text"))
      val stripped = base.select($"doc_id",
        TextAnalysis.stripMarkup(concat(lit(htmlPre), $"text", lit(htmlPost)))
          .as("text"))
      val normed = stripped.select($"doc_id",
        TextAnalysis.normalizeText($"text").as("text"))
      val keepIds = TextAnalysis.gopherRules(normed, "doc_id", "text",
          minTokens = 10, maxTokens = 100000, minMeanWordLen = 2.0,
          maxMeanWordLen = 10.0, maxSymbolRatio = 0.2, minStopwordHits = 1)
        .filter($"keep").select($"doc_id")
      val deduped = Dedup.exactDedupRows(normed.join(keepIds, "doc_id"),
        "doc_id", "text")
      Sampling.assignShards(deduped, $"text", numShards = 8, salt = "p5:")
        .select($"doc_id", $"shard", $"order_key")
    }),
    "llm_span_dedup" -> ((s, d) =>
      // C4-style repeated-span removal: 16-token blocks present in more
      // than one document (the planted near-dup clusters guarantee hot
      // spans at every SF) are cut; survivors reassemble in order
      TextAnalysis.removeRepeatedSpans(
        Tables.load(s, d, "documents"), "doc_id", "text",
        spanTokens = 16, maxDf = 1)),
    "llm_semdedup" -> ((s, d) => {
      import s.implicits._
      // SemDeDup end-to-end: train cells on the base corpus (one Lloyd
      // round), then dedup the corpus + planted clones (ids shifted by
      // 10000) — every clone is cosine-1.0 with its original in the
      // same cell, so the keep-set is exactly the originals plus any
      // genuine semantic dups' representatives
      val emb = Tables.load(s, d, "embeddings").select($"vec_id", $"embedding")
      val corpus = emb.unionAll(
        emb.select(($"vec_id" + 10000).as("vec_id"), $"embedding"))
      val cents = Similarity.centroidsOf(
        Similarity.kmeansTrain(emb, "vec_id", "embedding", nCells = 8, iters = 1))
      Similarity.semanticDedup(corpus, "vec_id", "embedding", cents,
        simThreshold = 0.99)
    }),
    "llm_distinct_n" -> ((s, d) =>
      // corpus distinct-1/2/3 diversity panel — the mode-collapse /
      // boilerplate-saturation dashboard read before training
      TextAnalysis.distinctNgramReport(
        Tables.load(s, d, "documents"), "doc_id", "text")),
    "llm_cms_heavy_hitters" -> ((s, d) =>
      // count-min-sketch frequency attestation: the top-20 exact tokens
      // each probed against the fixed-size mergeable sketch; the gate
      // pins the one-sided error contract (est >= exact, est <= exact
      // + ceil(eps*N)) — the estimates themselves are sketch detail
      TextAnalysis.heavyHittersCms(
        Tables.load(s, d, "documents"), "doc_id", "text",
        topK = 20, eps = 0.001, confidence = 0.99)),
    "llm_sentence_filter" -> ((s, d) =>
      // CCNet-style segment filter: drop each corpus's worst-quintile
      // sentences by bigram-LM score (and unscorable single-token
      // sentences), keep documents with their surviving text — the
      // segment-granular complement of the doc-level quantile filter
      TextAnalysis.filterSentencesByLm(
        Tables.load(s, d, "documents"), "doc_id", "text", q = 0.2)),
    "llm_knn_join" -> ((s, d) => {
      import s.implicits._
      // batch ANN serving: ten query vectors' exact top-5 neighbors in
      // ONE statement — queries broadcast, per-query top-k through the
      // (query, bucket) pre-split so no single-task window
      val emb = Tables.load(s, d, "embeddings").select($"vec_id", $"embedding")
      Similarity.knnJoin(emb.filter($"vec_id" < 10), emb,
        "vec_id", "vec_id", "embedding", "embedding", k = 5,
        excludeSelf = true)
    }),
    "llm_knn_join_ivf" -> ((s, d) => {
      import s.implicits._
      // the corpus-scale path: queries expand to their 2 nearest cells,
      // the corpus assigns to its one cell, and the cross join becomes
      // a cell EQUI-join — each corpus row scored only against the
      // queries probing its cell
      val emb = Tables.load(s, d, "embeddings").select($"vec_id", $"embedding")
      val cents = Stores.seedCells(emb)
      Similarity.ivfKnnJoin(emb.filter($"vec_id" < 10), emb,
        "vec_id", "vec_id", "embedding", "embedding", cents,
        k = 5, probes = 2, excludeSelf = true)
    }),
    "llm_ann_recall" -> ((s, d) => {
      import s.implicits._
      // recall ATTESTATION as a first-class report: the IVF-pruned
      // batch serving's recall@5 vs its brute-force twin, per query —
      // serving quality as a queryable artifact like the sketch
      // contracts. Both sides are the audited knn operators, so the
      // oracle composes the two existing replays verbatim
      val emb = Tables.load(s, d, "embeddings").select($"vec_id", $"embedding")
      Similarity.annRecallReport(emb.filter($"vec_id" < 10), emb,
        "vec_id", "vec_id", "embedding", "embedding",
        Stores.seedCells(emb),
        k = 5, probes = 2)
    }),
    "llm_knn_join_stored" -> ((s, d) => {
      import s.implicits._
      // the production serving fleet's shape: a BATCH of query vectors
      // against the STORED index — cells/codebooks/codes written once
      // as plain parquet, read back, and the ten-query batch served via
      // probe-cell equi-join + per-query in-plan ADC LUTs; the corpus
      // vectors are never read after the encode
      val out = Stores.dir("knn_stored")
      val emb = Tables.load(s, d, "embeddings")
      val cents = Stores.seedCells(emb)
      val cbs = Stores.codebooks(emb)
      Stores.ivfPq(s, cents, cbs, out,
        Stores.ivfPqCodes(emb, cents, cbs))
      val (cents2, cbs2) = Stores.readIvfPq(s, out)
      Similarity.ivfPqKnnJoinStored(
        emb.filter($"vec_id" < 10).select($"vec_id", $"embedding"),
        s.read.parquet(s"$out/codes"), "vec_id", "vec_id", "embedding",
        cents2, cbs2, subDim = 16, k = 5, probes = 2, excludeSelf = true)
    }),
    "llm_knn_join_pruned" -> ((s, d) => {
      import s.implicits._
      // the batch serving path over a cell-PARTITIONED store: the ten
      // queries' distinct probe-cell union (≤ nCells ids at any |Q|)
      // pushes into the scan as a literal filter — static partition
      // pruning for the whole batch; output identical to
      // llm_knn_join_stored (same oracle), PlanSpec pins the
      // PartitionFilters
      val out = Stores.dir("knn_stored_part")
      val emb = Tables.load(s, d, "embeddings")
      val cents = Stores.seedCells(emb)
      val cbs = Stores.codebooks(emb)
      Stores.putByCell(s"$out/codes", Stores.ivfPqCodes(emb, cents, cbs))
      Similarity.ivfPqKnnJoinStoredPruned(
        emb.filter($"vec_id" < 10).select($"vec_id", $"embedding"),
        s.read.parquet(s"$out/codes"), "vec_id", "vec_id", "embedding",
        cents, cbs, subDim = 16, k = 5, probes = 2, excludeSelf = true)
    }),
    "llm_knn_join_rerank" -> ((s, d) => {
      import s.implicits._
      // the COMPLETE production serving flow: stored-index ADC proposes
      // each query's top-15, exact cosine re-ranks only those — the
      // vector table is consulted solely through the broadcast
      // candidate-pair join
      val out = Stores.dir("knn_rerank")
      val emb = Tables.load(s, d, "embeddings")
      val cents = Stores.seedCells(emb)
      val cbs = Stores.codebooks(emb)
      Stores.put(s"$out/codes", Stores.ivfPqCodes(emb, cents, cbs))
      Similarity.ivfPqKnnJoinStoredRerank(
        emb.filter($"vec_id" < 10).select($"vec_id", $"embedding"),
        s.read.parquet(s"$out/codes"), emb,
        "vec_id", "vec_id", "embedding", "embedding",
        cents, cbs, subDim = 16, k = 5, probes = 2, candC = 15,
        excludeSelf = true)
    }),
    "llm_ann_index_append" -> ((s, d) => {
      import s.implicits._
      // ANN index MAINTENANCE (the minhash-append symmetry): the index
      // was built when only generation A existed; new vectors arrive,
      // are encoded with the READ-BACK cells/codebooks (never
      // retrained), and their codes parquet-APPEND into the stored
      // codes table. Serving over the appended store must equal the
      // fresh full-corpus build — encode is per-row, so the oracle is
      // the llm_ann_ivf_pq family (A holds the lowest ids, hence the
      // same seed cells/codebooks as the full corpus)
      val out = Stores.dir("ann_index_append")
      val emb = Tables.load(s, d, "embeddings")
      val gen = Stores.split(emb, "vec_id")
      val a = gen.older(100).select($"vec_id", $"embedding")
      val b = gen.newer(100).select($"vec_id", $"embedding")
      val cents = Stores.seedCells(a)
      val cbs = Stores.codebooks(a)
      Stores.ivfPq(s, cents, cbs, out,
        Stores.ivfPqCodes(a, cents, cbs))
      // the maintenance run: read back the artifacts, encode ONLY the
      // new generation, append
      val (cents2, cbs2) = Stores.readIvfPq(s, out)
      Stores.ivfPqCodes(b, cents2, cbs2)
        .write.mode("append").parquet(s"$out/codes")
      Similarity.ivfPqTopKStored(s.read.parquet(s"$out/codes"), "vec_id",
        cents2, cbs2, subDim = 16,
        Similarity.queryVecOf(emb, "vec_id", "embedding", 0),
        k = 10, probes = 2, excludeId = Some(0L))
    }),
    "llm_pipeline7" -> ((s, d) => {
      import s.implicits._
      // the crawl FRONT DOOR composed end to end from the round-8
      // surface: URL/domain admission (blocklist anti-join) →
      // per-domain cap (no source dominates) → Gopher quality gate →
      // deterministic 5k-token budget fill → training shards. Every
      // stage is individually oracle-gated; the composition pins their
      // interplay
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val urls = docs.select($"doc_id",
        when($"doc_id" % 6 === 0,
            concat(lit("https://www.example.com/a/"), $"doc_id"))
          .when($"doc_id" % 6 === 1,
            concat(lit("http://blog.spamsite.com/p?id="), $"doc_id"))
          .when($"doc_id" % 6 === 2,
            concat(lit("https://news.bbc.co.uk:443/story/"), $"doc_id"))
          .when($"doc_id" % 6 === 3, lit("http://EXAMPLE.com/x"))
          .when($"doc_id" % 6 === 4, lit("https://ads.tracker.net/c"))
          .otherwise(concat(lit("not a url "), $"doc_id")).as("url"))
      val blocklist = s.createDataFrame(
        Seq(Tuple1("spamsite.com"), Tuple1("tracker.net"))).toDF("domain")
      val admitted = TextAnalysis.urlFilter(urls, "doc_id", "url", blocklist)
        .select($"doc_id", $"domain")
        .join(docs, "doc_id")
      val capped = graft.operators.Sampling.domainCap(admitted, $"domain",
        $"text", k = 60, tieBreak = Seq($"doc_id"))
      val quality = capped.filter(TextAnalysis.gopherKeep($"text",
        minTokens = 10, maxTokens = 100000, minMeanWordLen = 2.0,
        maxMeanWordLen = 10.0, maxSymbolRatio = 0.1, minStopwordHits = 1))
      val budgeted = graft.operators.Sampling.tokenBudget(
        quality.select($"doc_id", $"text"), "doc_id", "text",
        budget = 5000L, numBuckets = 64)
      graft.operators.Sampling.assignShards(
          budgeted.join(docs, "doc_id"), $"text", numShards = 8,
          salt = "shard:")
        .select($"doc_id", $"n_toks", $"token_offset", $"shard", $"order_key")
    }),
    "llm_quality_classifier" -> ((s, d) => {
      import s.implicits._
      // the GPT-3-style LR quality filter end-to-end: train on a
      // deterministic labeled fixture (pos = even-id docs as-is, neg =
      // odd-id docs uppercased — any reproducible corruption gives the
      // hashed features a learnable signal), persist the weight frame,
      // score the corpus from the READ-BACK weights — train once,
      // store, serve every ingestion run
      val out = Stores.dir("quality_lr")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      Stores.lrWeights(s, docs, out)
      graft.operators.Classifier.lrScore(docs, "doc_id", "text",
        s.read.parquet(out), buckets = 64)
    }),
    "llm_lr_eval" -> ((s, d) => {
      import s.implicits._
      // the classifier's EVAL report — the verb that decides whether
      // the trained filter is usable: per candidate threshold, the
      // confusion counts and precision/recall/F1 over the labeled
      // fixture (resubstitution — the fixture trains on all labels;
      // the report's algebra is what the gate pins). Oracle extends
      // the llm_quality_classifier replay with the threshold panel
      val out = Stores.dir("quality_lr_eval")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val (pos, neg) = Stores.lrWeights(s, docs, out)
      graft.operators.Classifier.lrEvalReport(pos, neg, "doc_id", "text",
        s.read.parquet(out), buckets = 64)
    }),
    "llm_lr_calibration" -> ((s, d) => {
      import s.implicits._
      // the classifier's CALIBRATION report (the reliability-diagram
      // table): same trained fixture as llm_lr_eval, scores bucketed
      // into 10 equal-width bins, mean_score vs frac_pos per bin —
      // what decides whether the score is usable as a sampling WEIGHT,
      // not just a threshold
      val out = Stores.dir("quality_lr_calibration")
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val (pos, neg) = Stores.lrWeights(s, docs, out)
      graft.operators.Classifier.lrCalibrationReport(pos, neg, "doc_id",
        "text", s.read.parquet(out), buckets = 64, nBins = 10)
    }),
    "llm_domain_report" -> ((s, d) => {
      import s.implicits._
      // the pre-blocklist crawl dashboard: top domains by doc count +
      // corpus share, over the same deterministic URL fixture as
      // llm_url_filter (garbage URLs excluded from counts AND total)
      val docs = Tables.load(s, d, "documents").select($"doc_id")
      val urls = docs.select($"doc_id",
        when($"doc_id" % 6 === 0,
            concat(lit("https://www.example.com/a/"), $"doc_id"))
          .when($"doc_id" % 6 === 1,
            concat(lit("http://blog.spamsite.com/p?id="), $"doc_id"))
          .when($"doc_id" % 6 === 2,
            concat(lit("https://news.bbc.co.uk:443/story/"), $"doc_id"))
          .when($"doc_id" % 6 === 3, lit("http://EXAMPLE.com/x"))
          .when($"doc_id" % 6 === 4, lit("https://ads.tracker.net/c"))
          .otherwise(concat(lit("not a url "), $"doc_id")).as("url"))
      TextAnalysis.domainReport(urls, "url", topK = 20)
    }),
    "llm_ann_rerank" -> ((s, d) => {
      // two-stage retrieval: IVF-PQ proposes the ADC top-20, exact
      // cosine re-ranks ONLY those 20 (the only vector read besides the
      // query lookup) — quantization error bought back at bounded cost
      val emb = Tables.load(s, d, "embeddings")
      Similarity.ivfPqTopKRerank(emb, "vec_id", "embedding",
        Similarity.collectCentroids(emb, "vec_id", "embedding", nCells = 8),
        Stores.codebooks(emb),
        subDim = 16, queryId = 0, k = 10, probes = 2, candC = 20)
    }),
    "llm_embed_outliers" -> ((s, d) => {
      import s.implicits._
      // per-cell typicality filter: assign to nearest seed centroid,
      // keep the 75% of each cell most similar to its own centroid —
      // the curation pass that drops encoder failures / mislabeled
      // vectors without emptying diffuse-but-healthy cells
      val emb = Tables.load(s, d, "embeddings").select($"vec_id", $"embedding")
      val cents = Stores.seedCells(emb)
      Similarity.embeddingOutliers(emb, "vec_id", "embedding", cents, q = 0.25)
    }),
    "llm_shards" -> ((s, d) => {
      import s.implicits._
      // deterministic global shuffle: shard + independent within-shard
      // order key, both pure functions of the text — the pre-write step
      // that randomizes training order reproducibly
      graft.operators.Sampling.assignShards(
          Tables.load(s, d, "documents").select($"doc_id", $"text"),
          $"text", numShards = 32, salt = "shard:")
        .select($"doc_id", $"shard", $"order_key")
    }),
    "llm_overlap_extents" -> ((s, d) => {
      import s.implicits._
      // planted-overlap fixture: the tail-100 slice re-ingested under
      // new ids guarantees whole-document shared runs; extents must
      // localize them (start/length per side) plus any genuine
      // in-corpus overlaps ≥ w+k-1 = 11 tokens
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val gen = Stores.split(docs, "doc_id")
      val clones = gen.newer(100).select(($"doc_id" + 3000000).as("doc_id"), $"text")
      TextAnalysis.sharedSpanExtents(docs.unionAll(clones),
        "doc_id", "text", k = 8, w = 4)
    }),
    "llm_substr_dedup" -> ((s, d) => {
      import s.implicits._
      // same planted-overlap fixture as llm_overlap_extents: the
      // tail-100 clones must come back fully cut (n_removed = n_tokens,
      // clean_text = ''), their originals untouched by keep-first
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val gen = Stores.split(docs, "doc_id")
      val clones = gen.newer(100).select(($"doc_id" + 3000000).as("doc_id"), $"text")
      TextAnalysis.dedupExactSubstrings(docs.unionAll(clones),
        "doc_id", "text", k = 8, w = 4)
    }),
    "llm_shards_roundtrip" -> ((s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // assignShards' documented WRITE recipe, end to end: one exchange
      // keyed by the int shard column, a partition-local sort, parquet
      // out, read back. The read-back is audited for BOTH membership
      // (per-shard counts/checksums vs the oracle recomputing the
      // hashes) and PER-SHARD ORDER: rows are numbered in physical read
      // order (monotonically_increasing_id = (split, position); each
      // shard is contiguous within its written file at gate scale) and
      // n_inversions counts order_key decreases along that order — the
      // oracle pins it to 0, so a lost or misordered write
      // hash-mismatches
      val out = Stores.dir("documents_sharded")
      graft.operators.Sampling.assignShards(
          Tables.load(s, d, "documents").select($"doc_id", $"text"),
          $"text", numShards = 8, salt = "shard:")
        .select($"doc_id", $"shard", $"order_key")
        .repartition(8, $"shard")
        .sortWithinPartitions($"shard", $"order_key")
        .write.mode("overwrite").parquet(out)
      val rb = s.read.parquet(out)
        .withColumn("__mid", monotonically_increasing_id())
      val w = Window.partitionBy($"shard").orderBy($"__mid")
      rb.withColumn("__prev", lag($"order_key", 1).over(w))
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"__prev" > $"order_key", 1L).otherwise(0L)).as("n_inversions"),
          sum($"order_key").as("sum_order"),
          min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
    }),
    "llm_span_dedup_doc" -> ((s, d) =>
      // in-document half of C4 dedup: bigram blocks (small enough to
      // repeat inside this corpus's docs) cut after their first
      // occurrence, per document
      TextAnalysis.dedupSpansWithinDoc(
        Tables.load(s, d, "documents"), "doc_id", "text", spanTokens = 2)),
    "llm_gopher" -> ((s, d) =>
      // Gopher rule family with thresholds tuned to this corpus's short
      // synthetic docs (the published web defaults would drop everything)
      TextAnalysis.gopherRules(
        Tables.load(s, d, "documents"), "doc_id", "text",
        minTokens = 10, maxTokens = 100000,
        minMeanWordLen = 2.0, maxMeanWordLen = 10.0,
        maxSymbolRatio = 0.1, minStopwordHits = 1)),
    "llm_gopher_rep" -> ((s, d) => {
      import s.implicits._
      // the repetition section of the Gopher panel, on a fixture that
      // exercises both flag polarities: every 7th doc is its own text
      // doubled (dup 5-grams cover ~everything), every 5th gains a
      // twice-repeated footer line (duplicate lines)
      val fixture = Tables.load(s, d, "documents").select($"doc_id",
        concat(
          when($"doc_id" % 7 === 0, concat($"text", lit(" "), $"text"))
            .otherwise($"text"),
          when($"doc_id" % 5 === 0,
            lit("\nrepeated footer line\nrepeated footer line"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.gopherRepetition(fixture, "doc_id", "text")
    }),
    "llm_quantile_filter" -> ((s, d) => {
      import s.implicits._
      // relative-threshold pruning: drop the shortest quartile
      graft.operators.Sampling.keepAboveQuantile(
          Tables.load(s, d, "documents").select($"doc_id", $"n_chars"),
          $"n_chars", q = 0.25)
    }),
    "llm_quantile_by_group" -> ((s, d) => {
      import s.implicits._
      // CCNet-style per-language relative threshold: drop each lang's
      // shortest quartile (a global cut would gut short-doc languages)
      graft.operators.Sampling.keepAboveQuantileByGroup(
          Tables.load(s, d, "documents").select($"doc_id", $"lang", $"n_chars"),
          $"lang", $"n_chars", q = 0.25)
    }),
    "llm_unigram_lp" -> ((s, d) =>
      // perplexity-proxy quality score, unigram model self-trained on
      // the corpus
      TextAnalysis.unigramLogProb(
        Tables.load(s, d, "documents"), "doc_id", "text")),
    "llm_quantile_filter_approx" -> ((s, d) => {
      import s.implicits._
      // attestation for keepAboveQuantile's GK mode (the 100 TB path for
      // unbounded continuous columns) — same gate recipe as
      // a8_approx_quantile: pin the exact threshold both engines agree
      // on, attest the sketch CONTRACT (the approx boundary is an actual
      // element whose rank sits within eps = 1/accuracy of the target)
      val acc = 1000
      val docs = Tables.load(s, d, "documents").select($"n_chars")
      val thr = docs.agg(
        expr("percentile(n_chars, 0.25)").as("__te"),
        expr(s"approx_percentile(n_chars, 0.25, $acc)").cast("double").as("__ta"),
        count(lit(1)).as("__n"))
      docs.crossJoin(broadcast(thr))
        .groupBy($"__te", $"__ta", $"__n")
        .agg(sum(when($"n_chars" <= $"__ta", 1L).otherwise(0L)).as("__le"),
          sum(when($"n_chars" < $"__ta", 1L).otherwise(0L)).as("__lt"))
        .select(round($"__te", 4).as("thr_exact"),
          ($"__le" >= floor((lit(0.25) - 1.0 / acc) * $"__n") &&
            $"__lt" <= ceil((lit(0.25) + 1.0 / acc) * $"__n"))
            .as("rank_within_contract"))
    }),
    "llm_winnow" -> ((s, d) =>
      // MOSS winnowing fingerprints: trigram shingle hashes, w=4
      // selection window — the POSITIONAL partial-overlap sketch that
      // whole-doc fingerprints (no positions) and MinHash (set-level)
      // are not; any shared run of >= w+k-1 tokens shares a fingerprint
      TextAnalysis.winnowFingerprints(
        Tables.load(s, d, "documents"), "doc_id", "text", k = 3, w = 4)),
    "llm_pipeline2" -> ((s, d) => {
      import s.implicits._
      // the round-5 prep flow end to end: Gopher rule filter -> corpus
      // repeated-span removal -> deterministic shard assignment. The
      // order_key (a pure hash of clean_text) makes the compare verify
      // the reassembled text exactly without shipping it
      val docs = Tables.load(s, d, "documents")
      val kept = TextAnalysis.gopherRules(docs, "doc_id", "text",
          minTokens = 10, maxTokens = 100000,
          minMeanWordLen = 2.0, maxMeanWordLen = 10.0,
          maxSymbolRatio = 0.1, minStopwordHits = 1)
        .filter($"keep").select($"doc_id")
      val cleaned = TextAnalysis.removeRepeatedSpans(
          docs.join(kept, "doc_id").select($"doc_id", $"text"),
          "doc_id", "text", spanTokens = 16, maxDf = 1)
        .select($"doc_id", $"n_dropped", $"clean_text")
      graft.operators.Sampling.assignShards(cleaned, $"clean_text",
          numShards = 32, salt = "shard:")
        .select($"doc_id", $"n_dropped", $"shard", $"order_key")
    }),
    "llm_pipeline3" -> ((s, d) => {
      import s.implicits._
      import graft.operators.Sampling
      // the round-6 web-corpus prep flow end to end: C4 line rules ->
      // Unicode/whitespace normalization -> corpus line dedup -> keep
      // docs above the 25th length percentile -> best-25-per-source cap
      // -> deterministic shards. The order_key (a pure hash of the
      // deduped text) verifies the surviving text exactly without
      // shipping it
      val fixture = Tables.load(s, d, "documents").select($"doc_id", $"source",
        concat(
          $"text", lit(" end.\nno terminal punctuation line\n"),
          when($"doc_id" % 5 === 0, "Please enable javascript to continue reading.")
            .otherwise("A perfectly fine closing sentence."),
          when($"doc_id" % 11 === 0, "\ncode sample { return 0; }").otherwise(""),
          when($"doc_id" % 13 === 0, "\nLorem ipsum dolor sit amet.").otherwise("")
        ).as("text"))
      val c4 = TextAnalysis.c4LineFilters(fixture, "doc_id", "text",
        minWordsPerLine = 3, minKeptLines = 1)
      val cleaned = c4.filter($"keep")
        .select($"doc_id", TextAnalysis.normalizeText($"clean_text").as("text"))
      // the c4+normalize chain is expensive and feeds both line-dedup
      // branches — truncate it (same 'local' the SQL twin passes)
      val deduped = TextAnalysis.removeRepeatedLines(cleaned, "doc_id", "text",
          maxDf = 1, inputReuse = graft.operators.Reuse.Local)
        .join(fixture.select($"doc_id", $"source"), "doc_id")
        .select($"doc_id", $"source", $"clean_text",
          length($"clean_text").as("n_clean"))
      // the upstream chain is expensive — truncate it so the quantile
      // diamond (threshold agg + filter) computes it once
      val kept = Sampling.keepAboveQuantile(deduped, $"n_clean", 0.25,
        reuse = graft.operators.Reuse.Local)
      val capped = Sampling.domainCap(kept, $"source", $"clean_text", k = 25,
        tieBreak = Seq($"doc_id"), by = Some($"n_clean"))
      Sampling.assignShards(capped, $"clean_text", numShards = 8, salt = "p3:")
        .select($"doc_id", $"source", $"n_clean", $"shard", $"order_key")
    }),
    "llm_pipeline4" -> ((s, d) => {
      import s.implicits._
      import graft.operators.Sampling
      // the round-6b data-selection flow end to end: repetition panel
      // -> quality score -> exact percent-rank (keep the top 75%) ->
      // deterministic 8k-token budget -> shards. The order_key (a pure
      // hash of text) verifies the surviving text exactly
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val kept = docs.join(
        TextAnalysis.gopherRepetition(docs, "doc_id", "text")
          .filter($"keep").select($"doc_id"), "doc_id")
      val scored = kept.select($"doc_id", $"text",
        TextAnalysis.qualityScore($"text").as("quality"))
      val top = Sampling.percentRank(scored, "doc_id", "quality",
          numBuckets = 16)
        .filter($"pct_rank" >= 0.25).select($"doc_id")
      val sel = Sampling.tokenBudget(docs.join(top, "doc_id"),
        "doc_id", "text", budget = 8000L, numBuckets = 64)
      Sampling.assignShards(
          sel.join(docs, "doc_id")
            .select($"doc_id", $"text", $"n_toks", $"token_offset"),
          $"text", numShards = 8, salt = "p4:")
        .select($"doc_id", $"n_toks", $"token_offset", $"shard", $"order_key")
    }),
    "llm_dsir" -> ((s, d) => {
      import s.implicits._
      // DSIR importance weights: how much does each document resemble
      // the English subset? target = lang='en' docs, raw = whole corpus
      val docs = Tables.load(s, d, "documents")
      graft.operators.Sampling.importanceWeights(
        docs, docs.filter($"lang" === "en"), "doc_id", "text",
        buckets = 1024)
    }),
    "llm_pipeline6" -> ((s, d) => {
      import s.implicits._
      import graft.operators.Sampling
      // the round-7 selection flow: quality-WEIGHTED balanced draw —
      // Gopher keep → quality score as the sampling weight →
      // per-language weighted priority draw (25 docs per lang; a
      // language's best docs are likelier but not certain — the
      // diversity-preserving alternative to a hard top-k) → shards
      val docs = Tables.load(s, d, "documents")
        .select($"doc_id", $"lang", $"text")
      val kept = docs.filter(TextAnalysis.gopherKeep($"text",
        minTokens = 10, maxTokens = 100000, minMeanWordLen = 2.0,
        maxMeanWordLen = 10.0, maxSymbolRatio = 0.1, minStopwordHits = 1))
      val scored = kept.select($"doc_id", $"lang", $"text",
        TextAnalysis.qualityScore($"text").as("quality"))
      val sel = Sampling.weightedKPerStratum(scored, $"lang", $"text",
        $"quality", k = 25, tieBreak = Seq($"doc_id"), salt = "p6:")
      Sampling.assignShards(sel, $"text", numShards = 4, salt = "p6s:")
        .select($"doc_id", $"lang", $"priority", $"shard", $"order_key")
    })
  )

  private val stopsEn = "'the','a','of','and','to','in','is','it','for','on'"

  /** The full LR train-then-score replay (2 GD rounds, round-6 grids,
    * exact-decimal accumulations) over the even/odd labeled fixture,
    * ending at `ep` = (tid, p, y) — shared by the eval and calibration
    * oracles so the scoring replay cannot diverge between them. */
  private lazy val lrEvalScoreCtes: String =
    """pos AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
          neg AS (SELECT doc_id, upper(text) AS text FROM documents
                  WHERE doc_id % 2 = 1),
          feats AS (
            SELECT 'p:' || CAST(doc_id AS VARCHAR) AS tid, bucket,
                   count(*) AS tf, 1.0 AS y
            FROM (SELECT doc_id,
                    CAST(CAST(('0x'||substr(md5(t),1,15)) AS BIGINT) % 64 AS INTEGER) AS bucket
                  FROM (SELECT doc_id, unnest(string_split_regex(text, '[\t\n\x0B\f\r ]+')) AS t
                        FROM pos))
            GROUP BY 1, bucket
            UNION ALL
            SELECT 'n:' || CAST(doc_id AS VARCHAR), bucket, count(*), 0.0
            FROM (SELECT doc_id,
                    CAST(CAST(('0x'||substr(md5(t),1,15)) AS BIGINT) % 64 AS INTEGER) AS bucket
                  FROM (SELECT doc_id, unnest(string_split_regex(text, '[\t\n\x0B\f\r ]+')) AS t
                        FROM neg))
            GROUP BY 1, bucket),
          nn AS (SELECT count(DISTINCT tid) AS n FROM feats),
          g1 AS (SELECT bucket,
                        CAST(sum(CAST(tf * (y - 0.5) AS DECIMAL(20,10))) AS DOUBLE)
                          / nn.n AS g
                 FROM feats, nn GROUP BY bucket, nn.n),
          w1 AS (SELECT bucket, round(0.5 * g, 6) AS w FROM g1),
          z2 AS (SELECT f.tid,
                        round(CAST(sum(CAST(f.tf * coalesce(w1.w, 0.0)
                          AS DECIMAL(20,10))) AS DOUBLE), 6) AS z
                 FROM feats f LEFT JOIN w1 USING (bucket) GROUP BY f.tid),
          p2 AS (SELECT tid, round(1.0 / (1.0 + exp(-z)), 6) AS p FROM z2),
          g2 AS (SELECT f.bucket,
                        CAST(sum(CAST(f.tf *
                          ((CASE WHEN f.tid LIKE 'p:%' THEN 1.0 ELSE 0.0 END)
                            - p2.p) AS DECIMAL(20,10))) AS DOUBLE) / nn.n AS g
                 FROM feats f JOIN p2 USING (tid), nn GROUP BY f.bucket, nn.n),
          w2 AS (SELECT coalesce(w1.bucket, g2.bucket) AS bucket,
                        round(coalesce(w1.w, 0) + 0.5 * coalesce(g2.g, 0), 6) AS w
                 FROM w1 FULL JOIN g2 ON w1.bucket = g2.bucket),
          ez AS (SELECT f.tid,
                        round(CAST(sum(CAST(f.tf * coalesce(w2.w, 0.0)
                          AS DECIMAL(20,10))) AS DOUBLE), 6) AS z
                 FROM feats f LEFT JOIN w2 USING (bucket) GROUP BY f.tid),
          ep AS (SELECT tid, round(1.0 / (1.0 + exp(-z)), 6) AS p,
                        CASE WHEN tid LIKE 'p:%' THEN 1 ELSE 0 END AS y
                 FROM ez)"""

  /** The batch-hybrid fusion algebra (both legs ranked at 20, RRF-fused
    * per query, cut at 10): expects CTEs `hdocs` (doc_id, text — the
    * lexical corpus) and `hce` (vec_id, v DOUBLE[] — the semantic
    * corpus side) upstream; ends with the final SELECT. Shared by
    * llm_hybrid_join and llm_pipeline11 so the fusion algebra cannot
    * diverge between the standalone and composed forms. */
  /** The batch-hybrid CTE chain up through `hrk` (per-query fused
    * ranking) — shared by the hybrid-join oracles and pipeline13's
    * (which appends the per-query MMR unroll on top). */
  private lazy val hybridJoinCtesSql: String =
    s"""hq(query_id, qtext) AS (
          SELECT * FROM (VALUES (1, 'hash join'), (2, 'vector scan slow'),
                                (3, 'zzzunknown'))),
        hqt AS (SELECT DISTINCT query_id, t AS term FROM (
                 SELECT query_id,
                        unnest(string_split_regex(qtext, '[\\t\\n\\x0B\\f\\r ]+')) AS t
                 FROM hq) WHERE length(t) > 0),
        hd AS (SELECT doc_id, string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+') AS toks
               FROM hdocs),
        hstats AS (SELECT count(*) AS n_docs,
                          sum(len(toks)) AS total_toks FROM hd),
        htok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
                 FROM hd),
        htf AS (SELECT doc_id, dl, term, count(*) AS tf FROM htok
                WHERE term IN (SELECT DISTINCT term FROM hqt)
                GROUP BY doc_id, dl, term),
        hdfr AS (SELECT term, count(*) AS df FROM htf GROUP BY term),
        hsc AS (SELECT hqt.query_id, htf.doc_id,
                  ln(1.0 + (s.n_docs - hdfr.df + 0.5) / (hdfr.df + 0.5)) *
                    (CAST(htf.tf AS DOUBLE) * (1.2 + 1)) /
                    (CAST(htf.tf AS DOUBLE) +
                     1.2 * (1.0 - 0.75 + 0.75 * CAST(htf.dl AS DOUBLE) /
                            (CAST(s.total_toks AS DOUBLE) / s.n_docs))) AS c
                FROM htf JOIN hdfr ON htf.term = hdfr.term
                JOIN hqt ON htf.term = hqt.term CROSS JOIN hstats s),
        hagg AS (SELECT query_id, doc_id, round(sum(c), 4) AS bm25
                 FROM hsc GROUP BY query_id, doc_id),
        hbmr AS (SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY bm25 DESC, doc_id ASC) AS r
                 FROM hagg),
        hbmk AS (SELECT query_id, doc_id, r FROM hbmr WHERE r <= 20),
        hqv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id IN (1, 2, 3)),
        hann AS (SELECT hqv.query_id, e.vec_id AS doc_id,
                   round(list_cosine_similarity(e.v, hqv.v), 6) AS cos_sim
                 FROM hce e JOIN hqv ON e.vec_id <> hqv.query_id),
        hannr AS (SELECT query_id, doc_id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY cos_sim DESC, doc_id ASC) AS r
                  FROM hann),
        hannk AS (SELECT query_id, doc_id, r FROM hannr WHERE r <= 20),
        hf AS (SELECT coalesce(b.query_id, a.query_id) AS query_id,
                 coalesce(b.doc_id, a.doc_id) AS doc_id,
                 round(coalesce(CAST(1.0 AS DOUBLE) / (60 + b.r), 0.0) +
                       coalesce(CAST(1.0 AS DOUBLE) / (60 + a.r), 0.0),
                       6) AS rrf
               FROM hbmk b FULL OUTER JOIN hannk a
                 ON b.query_id = a.query_id AND b.doc_id = a.doc_id),
        hrk AS (SELECT query_id, doc_id, rrf,
                  CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY rrf DESC, doc_id ASC) AS INT) AS rank
                FROM hf)"""

  private lazy val hybridJoinTailSql: String =
    s"""$hybridJoinCtesSql
        SELECT query_id, doc_id, rrf, rank FROM hrk WHERE rank <= 10"""

  /** Raw-crawl fixture around every doc (shared by the html-strip gate
    * and pipeline5, Scala AND SQL sides): style + script blocks (the
    * script contains `1 < 2 && x > 0` — eaten as a tag if block removal
    * were skipped), a comment, attributed tags, the handled entities,
    * and the UNhandled &copy; that must pass through. No single quotes,
    * so it splices into a SQL literal verbatim. */
  private[queries] val htmlPre = "<!DOCTYPE html><html><head><style type=\"text/css\">" +
    "p{color:red}</style><script>if (1 < 2 && x > 0) { y = \"a&b\"; }" +
    "</script></head><body><h1>Title</h1><p class=\"a\">"
  private[queries] val htmlPost = "</p><!-- hidden note --> 3 &lt; 4 &amp;&amp; y &gt; 1&nbsp;" +
    "&quot;it&#39;s&quot; &copy; fine</body></html>"

  /** The markup-strip chain as DuckDB CTEs: expects `d(doc_id, h)`,
    * yields `f(doc_id, clean_text)` — the exact algebra of
    * [[graft.operators.TextAnalysis.stripMarkup]]. */
  private val stripChainSql =
    """s1 AS (SELECT doc_id, regexp_replace(h, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM d),
       s2 AS (SELECT doc_id, regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
       s3 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
       s4 AS (SELECT doc_id, regexp_replace(t, '(?s)</?[a-zA-Z!][^>]*>', ' ', 'g') AS t FROM s3),
       u AS (SELECT doc_id,
               replace(replace(replace(replace(replace(replace(replace(t,
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
                 '&apos;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t
             FROM s4),
       f AS (SELECT doc_id, trim(regexp_replace(t, '[\t\n\x0B\f\r ]+', ' ', 'g')) AS clean_text FROM u)"""

  /** Shared WITH-clause prefix for the overlap-extents family: planted
    * tail-100 clones → positional 8-gram 60-bit hashes → winnow
    * fingerprints (w=4, df-cap 64) → candidate pairs → diagonal
    * gaps-and-islands (`isl`) — the same algebra as
    * [[graft.operators.TextAnalysis.sharedSpanExtents]], so extents
    * match bit-for-bit. Both the extents report and the removal oracle
    * build on this prefix; keeping it single-sourced prevents drift. */
  private val overlapCtes: String = {
    val gram8 = (0 until 8).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""m AS (SELECT max(doc_id) AS mx FROM documents),
          alldocs AS (SELECT doc_id, text FROM documents
                      UNION ALL
                      SELECT doc_id + 3000000, text FROM documents, m
                      WHERE doc_id > mx - 100),
          t AS (SELECT doc_id, string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+') AS toks
                FROM alldocs),
          i AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS i
                FROM t WHERE len(toks) >= 8),
          h AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
                       CAST(('0x'||substr(md5($gram8),1,15)) AS BIGINT) AS h
                FROM i),
          wv AS (SELECT doc_id,
                        min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                        count(*) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS n
                 FROM h),
          fps AS (SELECT DISTINCT doc_id, fp FROM wv WHERE n = 4),
          fcap AS (SELECT doc_id, fp FROM (
                     SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS c
                     FROM fps)
                   WHERE c <= 64),
          cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM fcap a JOIN fcap b
                     ON a.fp = b.fp AND a.doc_id < b.doc_id),
          mt AS (SELECT c.id_a, c.id_b, x.pos AS pos_a, y.pos AS pos_b
                 FROM cand c
                 JOIN h x ON x.doc_id = c.id_a
                 JOIN h y ON y.doc_id = c.id_b AND y.h = x.h),
          isl AS (SELECT id_a, id_b, pos_a - pos_b AS diag, pos_a, pos_b,
                         pos_a - row_number() OVER (
                           PARTITION BY id_a, id_b, pos_a - pos_b
                           ORDER BY pos_a) AS g
                  FROM mt)"""
  }

  def oracle: Map[String, String] = oracleBase ++ Map(
    "llm_bpe_train_local" -> oracleBase("llm_bpe_train"),
    "llm_bm25_pruned" -> oracleBase("llm_bm25"),
    "llm_bm25_pruned_compact" -> oracleBase("llm_bm25_delete"),
    // selective compaction must serve the same takedown answer as the
    // full rewrite — same oracles gate both rewrite disciplines
    "llm_bm25_selective_compact" -> oracleBase("llm_bm25_delete"),
    "llm_ann_selective_compact" -> oracleBase("llm_ann_index_delete"),
    // the storage round-trips must reproduce the recompute paths
    // exactly — same oracles, so storage drift hash-mismatches
    "llm_minhash_index_roundtrip" -> oracleBase("llm_minhash_incr"),
    "llm_ann_pq_stored" -> oracleBase("llm_ann_pq"),
    "llm_ann_sq_stored" -> oracleBase("llm_ann_sq"),
    "llm_ann_sq_append" -> oracleBase("llm_ann_sq"),
    "llm_ann_ivf_sq_stored" -> oracleBase("llm_ann_ivf_sq"),
    // the full-index storage round-trip is output-identical by contract
    "llm_ann_index_roundtrip" -> oracleBase("llm_ann_ivf_pq"),
    // cell-partitioned serving reads only probed-cell files — output
    // must still be the in-memory IVF-PQ's exactly
    "llm_ann_partition_prune" -> oracleBase("llm_ann_ivf_pq"),
    // the batch form: pre-filtering the codes read to the queries'
    // probe-cell union is invisible to the cell equi-join's result
    "llm_knn_join_pruned" -> oracleBase("llm_knn_join_stored"),
    // the residual storage round-trip is output-identical by contract
    "llm_ann_residual_stored" -> oracleBase("llm_ann_ivf_pq_residual"),
    // append(build(A), B) ≡ build(A∪B): the appended index must probe
    // exactly like the full-corpus index — a lost/drifted append
    // under-reports pairs and hash-mismatches
    "llm_minhash_index_append" -> oracleBase("llm_minhash_incr"),
    // the appended fingerprint store must bounce clones of EITHER
    // generation — membership-identical to the full-corpus store
    "llm_fp_append" -> oracleBase("llm_exact_incr"),
    // appended ANN codes serve exactly like the fresh full-corpus build
    // (encode is per-row; generation A holds the lowest ids, so the
    // seed cells/codebooks match the full corpus's)
    "llm_ann_index_append" -> oracleBase("llm_ann_ivf_pq"),
    // the appended dHash store must probe exactly like the full-slice
    // build — dHash is per-row, the append IS the delta
    "llm_image_append" -> oracleBase("llm_image_incr"),
    "llm_image_compact" -> oracleBase("llm_image_delete"),
    // the audio fingerprint store's lifecycle (append/compact) gates
    // on the same algebra: append serves like the full-slice store,
    // compaction serves like the logical purge view
    "llm_audio_append" -> oracleBase("llm_audio_probe"),
    "llm_audio_compact" -> oracleBase("llm_audio_delete"),
    // the video frame store's lifecycle gates on the same algebra
    "llm_video_append" -> oracleBase("llm_video_probe"),
    "llm_video_compact" -> oracleBase("llm_video_delete"),
    // the appended KN model must score exactly like one trained from
    // scratch on the unioned reference half (merge law) — the stored
    // gate's train-on-evens oracle replays it
    "llm_trigram_kn_append" -> oracleBase("llm_trigram_kn_stored"),
    // physical compaction is invisible to serving: the rewritten store
    // (tombstones dropped from the files, deltas consolidated) must
    // serve exactly like the logical purge view — the delete oracle
    "llm_ann_index_compact" -> oracleBase("llm_ann_index_delete"),
    // the inverted-index storage round-trip and its append must serve
    // exactly like the direct corpus scorer — the llm_bm25 oracle
    "llm_bm25_stored" -> oracleBase("llm_bm25"),
    "llm_bm25_append" -> oracleBase("llm_bm25"),
    // compaction of the appended+tombstoned postings store is invisible
    // to serving — the retrieval takedown oracle (same tombstone set)
    "llm_bm25_compact" -> oracleBase("llm_bm25_delete"))

  private lazy val oracleBase: Map[String, String] = Map(
    "llm_ann_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
          c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
          assigned AS (
            SELECT vec_id, v, cid AS cell FROM (
              SELECT e.vec_id, e.v, c.cid,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) rk
              FROM e CROSS JOIN c) WHERE rk = 1),
          qc AS (SELECT a.v AS qv, c.cid AS cell,
                        row_number() OVER (
                          ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid) rk
                 FROM assigned a CROSS JOIN c WHERE a.vec_id = 0)
          SELECT a.vec_id, round(list_cosine_similarity(a.v, q.qv), 6) AS cos_sim
          FROM assigned a JOIN (SELECT qv, cell FROM qc WHERE rk <= 2) q
            ON a.cell = q.cell
          WHERE a.vec_id <> 0
          ORDER BY cos_sim DESC, a.vec_id LIMIT 10""",
    // train-then-search: round-2 centroids (identical CTE chain to
    // llm_kmeans2) become the index cells; assignment + probe + top-k
    "llm_ann_ivf_trained" ->
      """WITH cent0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                        FROM embeddings ORDER BY vec_id LIMIT 8),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          s1 AS (SELECT e.vec_id, e.v, c.cid,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
                 FROM e CROSS JOIN cent0 c),
          a1 AS (SELECT vec_id, v, cid AS cell FROM s1 WHERE rk = 1),
          ex1 AS (SELECT cell,
                         CAST(unnest(generate_series(1, len(v))) - 1 AS INTEGER) AS pos,
                         unnest(v) AS elem
                  FROM a1),
          up1 AS (SELECT cell, pos,
                         round(CAST(sum(CAST(elem AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS c_val
                  FROM ex1 GROUP BY cell, pos),
          cent1 AS (SELECT cell AS cid, list(c_val ORDER BY pos) AS cv
                    FROM up1 GROUP BY cell),
          s2 AS (SELECT e.vec_id, e.v, c.cid,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
                 FROM e CROSS JOIN cent1 c),
          a2 AS (SELECT vec_id, v, cid AS cell FROM s2 WHERE rk = 1),
          ex2 AS (SELECT cell,
                         CAST(unnest(generate_series(1, len(v))) - 1 AS INTEGER) AS pos,
                         unnest(v) AS elem
                  FROM a2),
          up2 AS (SELECT cell, pos,
                         round(CAST(sum(CAST(elem AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS c_val
                  FROM ex2 GROUP BY cell, pos),
          cent2 AS (SELECT cell AS cid, list(c_val ORDER BY pos) AS cv
                    FROM up2 GROUP BY cell),
          s3 AS (SELECT e.vec_id, e.v, c.cid,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
                 FROM e CROSS JOIN cent2 c),
          a3 AS (SELECT vec_id, v, cid AS cell FROM s3 WHERE rk = 1),
          qc AS (SELECT a.v AS qv, c.cid AS cell,
                        row_number() OVER (
                          ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid) rk
                 FROM a3 a CROSS JOIN cent2 c WHERE a.vec_id = 0)
          SELECT a.vec_id, round(list_cosine_similarity(a.v, q.qv), 6) AS cos_sim
          FROM a3 a JOIN (SELECT qv, cell FROM qc WHERE rk <= 2) q
            ON a.cell = q.cell
          WHERE a.vec_id <> 0
          ORDER BY cos_sim DESC, a.vec_id LIMIT 10""",
    // cluster-balanced sample: the llm_kmeans2 train chain (two Lloyd
    // rounds, cent0 -> cent2) assigns cells; then exactly 20 per cell by
    // the salted-hash total order (llm_sample_strat's idiom, cast key)
    "llm_cluster_sample" ->
      """WITH cent0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                        FROM embeddings ORDER BY vec_id LIMIT 8),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          s1 AS (SELECT e.vec_id, e.v, c.cid,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
                 FROM e CROSS JOIN cent0 c),
          a1 AS (SELECT vec_id, v, cid AS cell FROM s1 WHERE rk = 1),
          ex1 AS (SELECT cell,
                         CAST(unnest(generate_series(1, len(v))) - 1 AS INTEGER) AS pos,
                         unnest(v) AS elem
                  FROM a1),
          up1 AS (SELECT cell, pos,
                         round(CAST(sum(CAST(elem AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS c_val
                  FROM ex1 GROUP BY cell, pos),
          cent1 AS (SELECT cell AS cid, list(c_val ORDER BY pos) AS cv
                    FROM up1 GROUP BY cell),
          s2 AS (SELECT e.vec_id, e.v, c.cid,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
                 FROM e CROSS JOIN cent1 c),
          a2 AS (SELECT vec_id, v, cid AS cell FROM s2 WHERE rk = 1),
          ex2 AS (SELECT cell,
                         CAST(unnest(generate_series(1, len(v))) - 1 AS INTEGER) AS pos,
                         unnest(v) AS elem
                  FROM a2),
          up2 AS (SELECT cell, pos,
                         round(CAST(sum(CAST(elem AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS c_val
                  FROM ex2 GROUP BY cell, pos),
          cent2 AS (SELECT cell AS cid, list(c_val ORDER BY pos) AS cv
                    FROM up2 GROUP BY cell),
          s3 AS (SELECT e.vec_id, e.v, c.cid,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
                 FROM e CROSS JOIN cent2 c),
          a3 AS (SELECT vec_id, cid AS cell FROM s3 WHERE rk = 1)
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY cell
                     ORDER BY CAST(('0x'||substr(md5('csamp:'||CAST(vec_id AS VARCHAR)),1,8)) AS BIGINT) NULLS LAST,
                              CAST(vec_id AS VARCHAR) NULLS LAST,
                              vec_id NULLS LAST) AS rn
            FROM a3)
          WHERE rn <= 20""",
    // PQ/ADC: seed codebooks = sub-vectors of the 8 lowest ids; encode =
    // per-(vec,subspace) argmin of round(|c|^2 - 2 x_s.c, 6) with ties
    // to the lowest code id (the Spark array_min-over-struct order);
    // score = sum over subspaces of the query LUT entries
    "llm_ann_pq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          seed AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8),
          sub AS (SELECT unnest(generate_series(0, 3)) AS s),
          cb AS (SELECT sub.s, seed.vec_id AS cid,
                        seed.v[sub.s*16+1 : sub.s*16+16] AS cv
                 FROM sub CROSS JOIN seed),
          enc AS (SELECT vec_id, s, cid AS code FROM (
                    SELECT e.vec_id, b.s, b.cid,
                           row_number() OVER (PARTITION BY e.vec_id, b.s
                             ORDER BY round(list_inner_product(b.cv, b.cv)
                               - 2 * list_inner_product(e.v[b.s*16+1 : b.s*16+16], b.cv), 6) ASC,
                             b.cid ASC) AS rk
                    FROM e CROSS JOIN cb b) WHERE rk = 1),
          q AS (SELECT v FROM e WHERE vec_id = 0),
          lut AS (SELECT b.s, b.cid,
                         list_inner_product(q.v[b.s*16+1 : b.s*16+16], b.cv) AS d
                  FROM cb b CROSS JOIN q)
          SELECT enc.vec_id, round(sum(lut.d), 6) AS adc_score
          FROM enc JOIN lut ON enc.s = lut.s AND enc.code = lut.cid
          WHERE enc.vec_id <> 0
          GROUP BY enc.vec_id
          ORDER BY adc_score DESC, enc.vec_id LIMIT 10""",
    // IVF-PQ: llm_ann_ivf's coarse assignment + probe prunes to 2
    // cells; llm_ann_pq's codebook/encode/LUT chain scores the pruned
    // set only
    "llm_ann_ivf_pq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
          a AS (SELECT vec_id, v, cid AS cell FROM (
                  SELECT e.vec_id, e.v, c.cid,
                         row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
                  FROM e CROSS JOIN cent c) WHERE rk = 1),
          qc AS (SELECT c.cid AS cell,
                        row_number() OVER (
                          ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.cid) AS rk
                 FROM cent c CROSS JOIN (SELECT v FROM e WHERE vec_id = 0) q),
          pr AS (SELECT a.vec_id, a.v FROM a
                 JOIN (SELECT cell FROM qc WHERE rk <= 2) p ON a.cell = p.cell
                 WHERE a.vec_id <> 0),
          seed AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8),
          sub AS (SELECT unnest(generate_series(0, 3)) AS s),
          cb AS (SELECT sub.s, seed.vec_id AS cid,
                        seed.v[sub.s*16+1 : sub.s*16+16] AS cv
                 FROM sub CROSS JOIN seed),
          enc AS (SELECT vec_id, s, cid AS code FROM (
                    SELECT pr.vec_id, b.s, b.cid,
                           row_number() OVER (PARTITION BY pr.vec_id, b.s
                             ORDER BY round(list_inner_product(b.cv, b.cv)
                               - 2 * list_inner_product(pr.v[b.s*16+1 : b.s*16+16], b.cv), 6) ASC,
                             b.cid ASC) AS rk
                    FROM pr CROSS JOIN cb b) WHERE rk = 1),
          q AS (SELECT v FROM e WHERE vec_id = 0),
          lut AS (SELECT b.s, b.cid,
                         list_inner_product(q.v[b.s*16+1 : b.s*16+16], b.cv) AS d
                  FROM cb b CROSS JOIN q)
          SELECT enc.vec_id, round(sum(lut.d), 6) AS adc_score
          FROM enc JOIN lut ON enc.s = lut.s AND enc.code = lut.cid
          GROUP BY enc.vec_id
          ORDER BY adc_score DESC, enc.vec_id LIMIT 10""",
    // residual IVF-PQ: the ivf_pq oracle with the residual chain —
    // residuals rv = v − centroid_cell per assigned row, codebooks
    // seeded from the 8 LOWEST ids' residuals, encode argmin over the
    // residual distances, serving score = q·centroid_cell (per-cell
    // constant) + Σ_s LUT over residual codebooks
    "llm_ann_ivf_pq_residual" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
          a AS (SELECT vec_id, v, cid AS cell FROM (
                  SELECT e.vec_id, e.v, c.cid,
                         row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
                  FROM e CROSS JOIN cent c) WHERE rk = 1),
          r AS (SELECT a.vec_id, a.cell,
                       list_transform(generate_series(1, len(a.v)),
                                      i -> a.v[i] - c.cv[i]) AS rv
                FROM a JOIN cent c ON a.cell = c.cid),
          qc AS (SELECT c.cid AS cell,
                        row_number() OVER (
                          ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.cid) AS rk
                 FROM cent c CROSS JOIN (SELECT v FROM e WHERE vec_id = 0) q),
          pr AS (SELECT r.vec_id, r.cell, r.rv FROM r
                 JOIN (SELECT cell FROM qc WHERE rk <= 2) p ON r.cell = p.cell
                 WHERE r.vec_id <> 0),
          seed AS (SELECT vec_id, rv FROM r ORDER BY vec_id LIMIT 8),
          sub AS (SELECT unnest(generate_series(0, 3)) AS s),
          cb AS (SELECT sub.s, seed.vec_id AS cid,
                        seed.rv[sub.s*16+1 : sub.s*16+16] AS cv
                 FROM sub CROSS JOIN seed),
          enc AS (SELECT vec_id, cell, s, cid AS code FROM (
                    SELECT pr.vec_id, pr.cell, b.s, b.cid,
                           row_number() OVER (PARTITION BY pr.vec_id, b.s
                             ORDER BY round(list_inner_product(b.cv, b.cv)
                               - 2 * list_inner_product(pr.rv[b.s*16+1 : b.s*16+16], b.cv), 6) ASC,
                             b.cid ASC) AS rk
                    FROM pr CROSS JOIN cb b) WHERE rk = 1),
          q AS (SELECT v FROM e WHERE vec_id = 0),
          lut AS (SELECT b.s, b.cid,
                         list_inner_product(q.v[b.s*16+1 : b.s*16+16], b.cv) AS d
                  FROM cb b CROSS JOIN q),
          cc AS (SELECT c.cid AS cell, list_inner_product(q.v, c.cv) AS cd
                 FROM cent c CROSS JOIN q)
          SELECT enc.vec_id, round(cc.cd + sum(lut.d), 6) AS adc_score
          FROM enc JOIN lut ON enc.s = lut.s AND enc.code = lut.cid
               JOIN cc ON enc.cell = cc.cell
          GROUP BY enc.vec_id, cc.cd
          ORDER BY adc_score DESC, enc.vec_id LIMIT 10""",
    // BPE apply replayed as a recursive CTE: each word is a
    // delimiter-wrapped symbol string (' a  n  d '), one recursion step
    // applies the LOWEST-rank merge present via string replace —
    // replace IS left-to-right non-overlapping application, and the
    // double-space wrapping makes mid-symbol false matches impossible —
    // terminal states are those no merge touches; symbols = spaces/2
    "llm_bpe_count" ->
      """WITH RECURSIVE
          m(rank, l, r) AS (
            SELECT * FROM (VALUES (0,'t','h'),(1,'th','e'),(2,'i','n'),
                                  (3,'a','n'),(4,'an','d'),(5,'e','r'),
                                  (6,'o','n'),(7,'r','e'))),
          t AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS ws
                FROM documents),
          w AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS wi, ws
                FROM t),
          w2 AS (SELECT doc_id, wi, ws[wi] AS word FROM w
                 WHERE length(ws[wi]) > 0),
          init AS (SELECT doc_id, wi,
                     ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS s
                   FROM w2),
          bpe AS (
            SELECT doc_id, wi, s FROM init
            UNION ALL
            SELECT doc_id, wi,
                   replace(s, ' '||l||'  '||r||' ', ' '||l||r||' ') AS s
            FROM (SELECT b.doc_id, b.wi, b.s, m.l, m.r,
                         row_number() OVER (PARTITION BY b.doc_id, b.wi
                                            ORDER BY m.rank) AS rn
                  FROM bpe b JOIN m
                    ON position(' '||m.l||'  '||m.r||' ' IN b.s) > 0)
            WHERE rn = 1),
          term AS (SELECT doc_id, wi, s FROM bpe b
                   WHERE NOT EXISTS (SELECT 1 FROM m
                     WHERE position(' '||m.l||'  '||m.r||' ' IN b.s) > 0)),
          cnt AS (SELECT doc_id,
                    (length(s) - length(replace(s, ' ', ''))) // 2 AS c
                  FROM term)
          SELECT d.doc_id, CAST(coalesce(sum(cnt.c), 0) AS INTEGER) AS bpe_cnt
          FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc_id
          GROUP BY d.doc_id""",
    // the apply replay extended to EMIT the terminal symbols: same
    // recursive CTE, then each word's wrapped string splits back to its
    // symbol list, positions number (word, symbol) order, and the id
    // CASE replays the stable scheme (single-codepoint -> unicode(),
    // merged -> 1114112 + the lowest rank whose l||r equals the symbol)
    "llm_bpe_tokenize" ->
      """WITH RECURSIVE
          m(rank, l, r) AS (
            SELECT * FROM (VALUES (0,'t','h'),(1,'th','e'),(2,'i','n'),
                                  (3,'a','n'),(4,'an','d'),(5,'e','r'),
                                  (6,'o','n'),(7,'r','e'))),
          t AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS ws
                FROM documents),
          w AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS wi, ws
                FROM t),
          w2 AS (SELECT doc_id, wi, ws[wi] AS word FROM w
                 WHERE length(ws[wi]) > 0),
          init AS (SELECT doc_id, wi,
                     ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS s
                   FROM w2),
          bpe AS (
            SELECT doc_id, wi, s FROM init
            UNION ALL
            SELECT doc_id, wi,
                   replace(s, ' '||l||'  '||r||' ', ' '||l||r||' ') AS s
            FROM (SELECT b.doc_id, b.wi, b.s, m.l, m.r,
                         row_number() OVER (PARTITION BY b.doc_id, b.wi
                                            ORDER BY m.rank) AS rn
                  FROM bpe b JOIN m
                    ON position(' '||m.l||'  '||m.r||' ' IN b.s) > 0)
            WHERE rn = 1),
          term AS (SELECT doc_id, wi, s FROM bpe b
                   WHERE NOT EXISTS (SELECT 1 FROM m
                     WHERE position(' '||m.l||'  '||m.r||' ' IN b.s) > 0)),
          sy AS (SELECT doc_id, wi, string_split(trim(s), '  ') AS a FROM term),
          ix AS (SELECT doc_id, wi, unnest(generate_series(1, len(a))) AS si, a
                 FROM sy),
          tk AS (SELECT doc_id, wi, si, a[si] AS token FROM ix)
          SELECT doc_id,
                 CAST(row_number() OVER (PARTITION BY doc_id
                                         ORDER BY wi, si) AS INT) AS pos,
                 token,
                 CAST(CASE WHEN length(token) = 1 THEN unicode(token)
                      ELSE 1114112 + (SELECT min(m2.rank) FROM m m2
                                      WHERE m2.l || m2.r = token)
                      END AS INT) AS token_id
          FROM tk""",
    // learned-token vocab report: the tokenize CTEs feed the
    // llm_vocab-shaped (cnt, df, rank, coverage) report
    "llm_bpe_vocab" ->
      """WITH RECURSIVE
          m(rank, l, r) AS (
            SELECT * FROM (VALUES (0,'t','h'),(1,'th','e'),(2,'i','n'),
                                  (3,'a','n'),(4,'an','d'),(5,'e','r'),
                                  (6,'o','n'),(7,'r','e'))),
          t0 AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS ws
                 FROM documents),
          w AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS wi, ws
                FROM t0),
          w2 AS (SELECT doc_id, wi, ws[wi] AS word FROM w
                 WHERE length(ws[wi]) > 0),
          init AS (SELECT doc_id, wi,
                     ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS s
                   FROM w2),
          bpe AS (
            SELECT doc_id, wi, s FROM init
            UNION ALL
            SELECT doc_id, wi,
                   replace(s, ' '||l||'  '||r||' ', ' '||l||r||' ') AS s
            FROM (SELECT b.doc_id, b.wi, b.s, m.l, m.r,
                         row_number() OVER (PARTITION BY b.doc_id, b.wi
                                            ORDER BY m.rank) AS rn
                  FROM bpe b JOIN m
                    ON position(' '||m.l||'  '||m.r||' ' IN b.s) > 0)
            WHERE rn = 1),
          term AS (SELECT doc_id, wi, s FROM bpe b
                   WHERE NOT EXISTS (SELECT 1 FROM m
                     WHERE position(' '||m.l||'  '||m.r||' ' IN b.s) > 0)),
          sy AS (SELECT doc_id, wi, string_split(trim(s), '  ') AS a FROM term),
          ix AS (SELECT doc_id, wi, unnest(generate_series(1, len(a))) AS si, a
                 FROM sy),
          tkk AS (SELECT doc_id, a[si] AS token,
                    CAST(CASE WHEN length(a[si]) = 1 THEN unicode(a[si])
                         ELSE 1114112 + (SELECT min(m2.rank) FROM m m2
                                         WHERE m2.l || m2.r = a[si])
                         END AS INT) AS token_id
                  FROM ix),
          c AS (SELECT token_id, token, count(*) AS cnt,
                       count(DISTINCT doc_id) AS df
                FROM tkk GROUP BY token_id, token),
          tot AS (SELECT sum(cnt) AS tot FROM c),
          top AS (SELECT * FROM c ORDER BY cnt DESC, token_id ASC LIMIT 50)
          SELECT token_id, token, CAST(cnt AS BIGINT) AS cnt,
                 CAST(df AS BIGINT) AS df,
                 CAST(row_number() OVER (ORDER BY cnt DESC, token_id ASC)
                   AS INTEGER) AS rank,
                 round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, token_id ASC
                         ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                       / (SELECT tot FROM tot), 6) AS coverage
          FROM top""",
    // the learned merge table: 8 unrolled training rounds
    "llm_bpe_train" ->
      s"""WITH ${bpeTrainCtes(8)}
          SELECT rank, l AS "left", r AS "right" FROM mAll""",
    // unigram-LM tokenizer training: seed/EM/prune rounds unrolled,
    // per-word argmax by exhaustive path enumeration (provably the
    // Viterbi DP's winner under the shared tie-break)
    "llm_unigram_tok_train" ->
      s"""WITH RECURSIVE
          ${unigramTrainCtes(48, 2, 4, 64)}
          SELECT token_id, piece, cnt, mu / 1000000.0 AS logp
          FROM uvrank""",
    // the serving half: train replay composed with the per-word
    // segmentation under the FINAL table's micro scores, pieces
    // exploded in word order with document-level positions
    "llm_unigram_tokenize" ->
      s"""WITH RECURSIVE
          ${unigramTrainCtes(48, 2, 4, 64)},
          udt AS (SELECT doc_id, string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+') AS ws
                  FROM documents),
          udw AS (SELECT doc_id, wi, ws[wi] AS w FROM (
                    SELECT doc_id, ws,
                           unnest(generate_series(1, len(ws))) AS wi
                    FROM udt) q
                  WHERE length(ws[wi]) > 0),
          usw AS (SELECT DISTINCT w FROM udw),
          upt AS (SELECT w, 1 AS i, CAST(0 AS BIGINT) AS sc, 0 AS n,
                         '' AS path
                  FROM usw
                  UNION ALL
                  -- LEFT JOIN mirrors UnigramApply.segment's <unk>
                  -- fallback EXACTLY: when no piece covers position i
                  -- the join yields one null row -> a 1-codepoint step
                  -- scored at UnkMicros (-20000000); when pieces match,
                  -- only piece steps are enumerated (the Scala fallback
                  -- is conditional, not a competing alternative)
                  SELECT p.w,
                         p.i + CASE WHEN s.piece IS NULL THEN 1
                                    ELSE length(s.piece) END,
                         p.sc + CASE WHEN s.piece IS NULL
                                     THEN CAST(-20000000 AS BIGINT)
                                     ELSE s.mu END,
                         p.n + 1,
                         CASE WHEN p.path = '' THEN
                                coalesce(s.piece, substr(p.w, p.i, 1))
                              ELSE p.path || ' ' ||
                                coalesce(s.piece, substr(p.w, p.i, 1)) END
                  FROM upt p LEFT JOIN uvrank s
                    ON s.piece = substr(p.w, p.i, length(s.piece))
                  WHERE p.i <= length(p.w)),
          ubt AS (SELECT w, path FROM (
                    SELECT w, path, row_number() OVER (PARTITION BY w
                      ORDER BY sc DESC, n ASC, path ASC) AS rn
                    FROM upt WHERE i = length(w) + 1) q
                  WHERE rn = 1),
          uwtok AS (SELECT w, pi, string_split(path, ' ')[pi] AS token
                    FROM (SELECT w, path,
                            unnest(generate_series(1,
                              len(string_split(path, ' ')))) AS pi
                          FROM ubt) q),
          useq AS (SELECT d.doc_id, d.wi, t.pi, t.token
                   FROM udw d JOIN uwtok t USING (w))
          SELECT doc_id,
                 CAST(row_number() OVER (PARTITION BY doc_id
                   ORDER BY wi, pi) AS INTEGER) AS pos,
                 token,
                 CAST(coalesce(r.token_id, 0) AS INTEGER) AS token_id
          FROM useq LEFT JOIN uvrank r ON r.piece = useq.token""",
    // pre-tokenized training: identical unrolled rounds, the word
    // extraction swapped for the class split (RE2-safe — no lookaround)
    "llm_bpe_pretok" ->
      s"""WITH ${bpeTrainCtes(8, pretokWordsSql)}
          SELECT rank, l AS "left", r AS "right" FROM mAll""",
    // train (unrolled rounds) composed with the recursive apply replay:
    // m = the learned table instead of the VALUES fixture
    "llm_bpe_roundtrip" ->
      s"""WITH RECURSIVE
          ${bpeTrainCtes(8)},
          m(rank, l, r) AS (SELECT rank, l, r FROM mAll),
          dt AS (SELECT doc_id, string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+') AS ws
                 FROM documents),
          dwi AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS wi, ws
                  FROM dt),
          dw2 AS (SELECT doc_id, wi, ws[wi] AS word FROM dwi
                  WHERE length(ws[wi]) > 0),
          init AS (SELECT doc_id, wi,
                     ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS s
                   FROM dw2),
          bpe AS (
            SELECT doc_id, wi, s FROM init
            UNION ALL
            SELECT doc_id, wi,
                   replace(s, ' '||l||'  '||r||' ', ' '||l||r||' ') AS s
            FROM (SELECT b.doc_id, b.wi, b.s, m.l, m.r,
                         row_number() OVER (PARTITION BY b.doc_id, b.wi
                                            ORDER BY m.rank) AS rn
                  FROM bpe b JOIN m
                    ON position(' '||m.l||'  '||m.r||' ' IN b.s) > 0)
            WHERE rn = 1),
          term AS (SELECT doc_id, wi, s FROM bpe b
                   WHERE NOT EXISTS (SELECT 1 FROM m
                     WHERE position(' '||m.l||'  '||m.r||' ' IN b.s) > 0)),
          cnt AS (SELECT doc_id,
                    (length(s) - length(replace(s, ' ', ''))) // 2 AS c
                  FROM term)
          SELECT d.doc_id, CAST(coalesce(sum(cnt.c), 0) AS INTEGER) AS bpe_cnt
          FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc_id
          GROUP BY d.doc_id""",
    // incremental form: clones (the probe side) against the corpus
    // slice (the stored side) — same dHash chain, cross-set pairs only
    "llm_image_incr" ->
      """WITH m AS (SELECT max(doc_id) AS mx FROM documents),
          sl AS (SELECT doc_id, text FROM documents, m
                 WHERE doc_id > mx - 300 AND length(text) >= 400),
          base AS (SELECT doc_id, text, 0 AS is_new FROM sl
                   UNION ALL
                   SELECT doc_id + 3000000,
                          substr(text, 1, 10) || 'QQQQ' || substr(text, 15),
                          1
                   FROM sl),
          hx AS (SELECT doc_id, is_new, lower(hex(text)) AS h FROM base),
          lum AS (SELECT doc_id, is_new,
                    list_transform(generate_series(0, 71), k ->
                      CAST(('0x' || substr(md5(substr(h,
                          CAST(floor(length(h)*k/72) AS INT) + 1,
                          greatest(CAST(floor(length(h)*(k+1)/72) AS INT)
                            - CAST(floor(length(h)*k/72) AS INT), 0))), 1, 8))
                        AS BIGINT) % 256) AS lu
                  FROM hx),
          dh AS (SELECT doc_id, is_new,
                   CAST(list_sum(list_transform(generate_series(0, 63), i ->
                     CASE WHEN lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 2]
                               > lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 1]
                          THEN CASE WHEN i = 63
                                    THEN -9223372036854775808
                                    ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END
                          ELSE 0 END)) AS BIGINT) AS dhash
                 FROM lum)
          SELECT n.doc_id AS id_new, c.doc_id AS id_corpus,
                 CAST(bit_count(xor(n.dhash, c.dhash)) AS INT) AS hamming
          FROM dh n JOIN dh c ON n.is_new = 1 AND c.is_new = 0
          WHERE bit_count(xor(n.dhash, c.dhash)) <= 3""",
    // the audio fingerprint surface: full chain replay per row
    "llm_audio_fp" ->
      s"""WITH m AS (SELECT max(doc_id) AS mx FROM documents),
          sl AS (SELECT doc_id, text FROM documents, m
                 WHERE doc_id > mx - 300 AND length(text) >= 400),
          ${audioFpCtes("sl", "1")}
          SELECT doc_id, afp FROM afp1""",
    // audio near-dup pairs: brute-force ALL pairs at the banded
    // operator's threshold (recall exact below nBands)
    "llm_audio_dups" ->
      s"""WITH m AS (SELECT max(doc_id) AS mx FROM documents),
          sl AS (SELECT doc_id, text FROM documents, m
                 WHERE doc_id > mx - 300 AND length(text) >= 400),
          base AS (SELECT doc_id, text FROM sl
                   UNION ALL
                   SELECT doc_id + 3000000,
                          substr(text, 1, 10) || 'QQQQ' || substr(text, 15)
                   FROM sl),
          ${audioFpCtes("base", "2")}
          SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                 CAST(bit_count(xor(x.afp, y.afp)) AS INT) AS hamming
          FROM afp2 x JOIN afp2 y ON x.doc_id < y.doc_id
          WHERE bit_count(xor(x.afp, y.afp)) <= 3""",
    // incremental audio admission: cross-set pairs only (probe vs store)
    "llm_audio_probe" ->
      s"""WITH m AS (SELECT max(doc_id) AS mx FROM documents),
          sl AS (SELECT doc_id, text FROM documents, m
                 WHERE doc_id > mx - 300 AND length(text) >= 400),
          base AS (SELECT doc_id, text, 0 AS is_new FROM sl
                   UNION ALL
                   SELECT doc_id + 3000000,
                          substr(text, 1, 10) || 'QQQQ' || substr(text, 15),
                          1
                   FROM sl),
          ${audioFpCtes("base", "3", carry = "is_new")}
          SELECT n.doc_id AS id_new, c.doc_id AS id_corpus,
                 CAST(bit_count(xor(n.afp, c.afp)) AS INT) AS hamming
          FROM afp3 n JOIN afp3 c ON n.is_new = 1 AND c.is_new = 0
          WHERE bit_count(xor(n.afp, c.afp)) <= 3""",
    // audio takedown: the probe with the STORE side restricted to the
    // un-tombstoned corpus (doc_id % 5 <> 1) — purged tracks' clones
    // vanish from the pair set, survivors' clones remain
    "llm_audio_delete" ->
      s"""WITH m AS (SELECT max(doc_id) AS mx FROM documents),
          sl AS (SELECT doc_id, text FROM documents, m
                 WHERE doc_id > mx - 300 AND length(text) >= 400),
          base AS (SELECT doc_id, text, 0 AS is_new FROM sl
                   WHERE doc_id % 5 <> 1
                   UNION ALL
                   SELECT doc_id + 3000000,
                          substr(text, 1, 10) || 'QQQQ' || substr(text, 15),
                          1
                   FROM sl),
          ${audioFpCtes("base", "4", carry = "is_new")}
          SELECT n.doc_id AS id_new, c.doc_id AS id_corpus,
                 CAST(bit_count(xor(n.afp, c.afp)) AS INT) AS hamming
          FROM afp4 n JOIN afp4 c ON n.is_new = 1 AND c.is_new = 0
          WHERE bit_count(xor(n.afp, c.afp)) <= 3""",
    // the video frame table: per-frame dHash over aligned hex slices
    "llm_video_frames" ->
      s"""WITH m AS (SELECT max(doc_id) AS mx FROM documents),
          sl AS (SELECT doc_id, text FROM documents, m
                 WHERE doc_id > mx - 300 AND length(text) >= 400),
          ${videoFpCtes("sl", "1")}
          SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx, fhash
          FROM vfp1""",
    // video near-dup pairs: brute-force all-pairs FRAME-ALIGNED
    // hamming, count matched frames, keep pairs at >= 3 of 4 (recall
    // exact below nBands per frame, so the banded operator equals this)
    "llm_video_dups" ->
      s"""WITH m AS (SELECT max(doc_id) AS mx FROM documents),
          sl AS (SELECT doc_id, text FROM documents, m
                 WHERE doc_id > mx - 300 AND length(text) >= 400),
          base AS (SELECT doc_id, text FROM sl
                   UNION ALL
                   SELECT doc_id + 3000000,
                          substr(text, 1, 10) || 'QQQQ' || substr(text, 15)
                   FROM sl),
          ${videoFpCtes("base", "2")}
          SELECT id_a, id_b, n_frames_matched FROM (
            SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                   CAST(count(*) AS BIGINT) AS n_frames_matched
            FROM vfp2 x JOIN vfp2 y
              ON x.doc_id < y.doc_id AND x.frame_idx = y.frame_idx
             AND bit_count(xor(x.fhash, y.fhash)) <= 3
            GROUP BY x.doc_id, y.doc_id) q
          WHERE n_frames_matched >= 3""",
    // incremental video admission: cross-set frame-aligned pairs only
    "llm_video_probe" ->
      s"""WITH m AS (SELECT max(doc_id) AS mx FROM documents),
          sl AS (SELECT doc_id, text FROM documents, m
                 WHERE doc_id > mx - 300 AND length(text) >= 400),
          base AS (SELECT doc_id, text, 0 AS is_new FROM sl
                   UNION ALL
                   SELECT doc_id + 3000000,
                          substr(text, 1, 10) || 'QQQQ' || substr(text, 15),
                          1
                   FROM sl),
          ${videoFpCtes("base", "3", carry = "is_new")}
          SELECT id_new, id_corpus, n_frames_matched FROM (
            SELECT n.doc_id AS id_new, c.doc_id AS id_corpus,
                   CAST(count(*) AS BIGINT) AS n_frames_matched
            FROM vfp3 n JOIN vfp3 c
              ON n.is_new = 1 AND c.is_new = 0
             AND n.frame_idx = c.frame_idx
             AND bit_count(xor(n.fhash, c.fhash)) <= 3
            GROUP BY n.doc_id, c.doc_id) q
          WHERE n_frames_matched >= 3""",
    // video takedown: the probe with the STORE side restricted to the
    // un-tombstoned corpus — purged videos' clones vanish, survivors'
    // clones remain
    "llm_video_delete" ->
      s"""WITH m AS (SELECT max(doc_id) AS mx FROM documents),
          sl AS (SELECT doc_id, text FROM documents, m
                 WHERE doc_id > mx - 300 AND length(text) >= 400),
          base AS (SELECT doc_id, text, 0 AS is_new FROM sl
                   WHERE doc_id % 5 <> 1
                   UNION ALL
                   SELECT doc_id + 3000000,
                          substr(text, 1, 10) || 'QQQQ' || substr(text, 15),
                          1
                   FROM sl),
          ${videoFpCtes("base", "4", carry = "is_new")}
          SELECT id_new, id_corpus, n_frames_matched FROM (
            SELECT n.doc_id AS id_new, c.doc_id AS id_corpus,
                   CAST(count(*) AS BIGINT) AS n_frames_matched
            FROM vfp4 n JOIN vfp4 c
              ON n.is_new = 1 AND c.is_new = 0
             AND n.frame_idx = c.frame_idx
             AND bit_count(xor(n.fhash, c.fhash)) <= 3
            GROUP BY n.doc_id, c.doc_id) q
          WHERE n_frames_matched >= 3""",
    // takedown: the llm_image_incr probe with the STORE side restricted
    // to the un-tombstoned corpus (doc_id % 5 <> 1) — purged originals'
    // clones vanish from the pair set, survivors' clones remain
    "llm_image_delete" ->
      """WITH m AS (SELECT max(doc_id) AS mx FROM documents),
          sl AS (SELECT doc_id, text FROM documents, m
                 WHERE doc_id > mx - 300 AND length(text) >= 400),
          base AS (SELECT doc_id, text, 0 AS is_new FROM sl
                   WHERE doc_id % 5 <> 1
                   UNION ALL
                   SELECT doc_id + 3000000,
                          substr(text, 1, 10) || 'QQQQ' || substr(text, 15),
                          1
                   FROM sl),
          hx AS (SELECT doc_id, is_new, lower(hex(text)) AS h FROM base),
          lum AS (SELECT doc_id, is_new,
                    list_transform(generate_series(0, 71), k ->
                      CAST(('0x' || substr(md5(substr(h,
                          CAST(floor(length(h)*k/72) AS INT) + 1,
                          greatest(CAST(floor(length(h)*(k+1)/72) AS INT)
                            - CAST(floor(length(h)*k/72) AS INT), 0))), 1, 8))
                        AS BIGINT) % 256) AS lu
                  FROM hx),
          dh AS (SELECT doc_id, is_new,
                   CAST(list_sum(list_transform(generate_series(0, 63), i ->
                     CASE WHEN lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 2]
                               > lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 1]
                          THEN CASE WHEN i = 63
                                    THEN -9223372036854775808
                                    ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END
                          ELSE 0 END)) AS BIGINT) AS dhash
                 FROM lum)
          SELECT n.doc_id AS id_new, c.doc_id AS id_corpus,
                 CAST(bit_count(xor(n.dhash, c.dhash)) AS INT) AS hamming
          FROM dh n JOIN dh c ON n.is_new = 1 AND c.is_new = 0
          WHERE bit_count(xor(n.dhash, c.dhash)) <= 3""",
    // image clusters: the dHash pair set over (original, edit1, edit2)
    // closed by recursive reachability — min reachable id per node
    "llm_image_clusters" ->
      """WITH RECURSIVE
          m AS (SELECT max(doc_id) AS mx FROM documents),
          sl AS (SELECT doc_id, text FROM documents, m
                 WHERE doc_id > mx - 300 AND length(text) >= 400),
          base AS (SELECT doc_id, text FROM sl
                   UNION ALL
                   SELECT doc_id + 3000000,
                          substr(text, 1, 10) || 'QQQQ' || substr(text, 15)
                   FROM sl
                   UNION ALL
                   SELECT doc_id + 6000000,
                          substr(text, 1, 29) || 'ZZZZ' || substr(text, 34)
                   FROM sl),
          hx AS (SELECT doc_id, lower(hex(text)) AS h FROM base),
          lum AS (SELECT doc_id,
                    list_transform(generate_series(0, 71), k ->
                      CAST(('0x' || substr(md5(substr(h,
                          CAST(floor(length(h)*k/72) AS INT) + 1,
                          greatest(CAST(floor(length(h)*(k+1)/72) AS INT)
                            - CAST(floor(length(h)*k/72) AS INT), 0))), 1, 8))
                        AS BIGINT) % 256) AS lu
                  FROM hx),
          dh AS (SELECT doc_id,
                   CAST(list_sum(list_transform(generate_series(0, 63), i ->
                     CASE WHEN lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 2]
                               > lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 1]
                          THEN CASE WHEN i = 63
                                    THEN -9223372036854775808
                                    ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END
                          ELSE 0 END)) AS BIGINT) AS dhash
                 FROM lum),
          pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                    FROM dh a JOIN dh b ON a.doc_id < b.doc_id
                    WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
          edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                    UNION ALL SELECT id_b, id_a FROM pairs),
          reach(id, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
          SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id""",
    // pipeline8 = the image-dups chain → drop every pair's higher id →
    // the decode/resize replay over the survivors
    "llm_pipeline8" ->
      """WITH m AS (SELECT max(doc_id) AS mx FROM documents),
          sl AS (SELECT doc_id, text FROM documents, m
                 WHERE doc_id > mx - 300 AND length(text) >= 400),
          base AS (SELECT doc_id, text FROM sl
                   UNION ALL
                   SELECT doc_id + 3000000,
                          substr(text, 1, 10) || 'QQQQ' || substr(text, 15)
                   FROM sl),
          hx AS (SELECT doc_id, lower(hex(text)) AS h FROM base),
          lum AS (SELECT doc_id,
                    list_transform(generate_series(0, 71), k ->
                      CAST(('0x' || substr(md5(substr(h,
                          CAST(floor(length(h)*k/72) AS INT) + 1,
                          greatest(CAST(floor(length(h)*(k+1)/72) AS INT)
                            - CAST(floor(length(h)*k/72) AS INT), 0))), 1, 8))
                        AS BIGINT) % 256) AS lu
                  FROM hx),
          dh AS (SELECT doc_id,
                   CAST(list_sum(list_transform(generate_series(0, 63), i ->
                     CASE WHEN lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 2]
                               > lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 1]
                          THEN CASE WHEN i = 63
                                    THEN -9223372036854775808
                                    ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END
                          ELSE 0 END)) AS BIGINT) AS dhash
                 FROM lum),
          dropped AS (SELECT DISTINCT b.doc_id
                      FROM dh a JOIN dh b ON a.doc_id < b.doc_id
                      WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
          kept AS (SELECT doc_id, text FROM base
                   WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
          acc AS (SELECT doc_id,
                         CAST(('0x'||substr(md5(text),1,8)) AS BIGINT) AS a
                  FROM kept),
          dd AS (SELECT doc_id,
                        CAST(320 + a % 1600 AS INTEGER) AS width,
                        CAST(240 + (a >> 7) % 840 AS INTEGER) AS height
                 FROM acc),
          sc AS (SELECT doc_id, width, height,
                        least(1.0, least(1280.0 / width, 720.0 / height)) AS s
                 FROM dd)
          SELECT doc_id, width, height, round(s, 6) AS scale,
                 CAST(floor(width * s / 2) * 2 AS INTEGER) AS out_w,
                 CAST(floor(height * s / 2) * 2 AS INTEGER) AS out_h
          FROM sc""",
    "llm_pipeline9" -> pipeline9OracleSql,
    // intra-batch keep-first (pairs within the batch, higher id drops)
    // then the stored-index probe over the survivors
    "llm_admission_selfdedup" ->
      s"""WITH m AS (SELECT max(doc_id) AS mx FROM documents),
          aa AS (SELECT doc_id, text FROM documents, m
                 WHERE doc_id > mx - 300 AND doc_id <= mx - 200),
          nov AS (SELECT a.doc_id,
                         a.text || ' ' || b.text || ' ' || c.text AS ntext
                  FROM aa a
                  JOIN documents b ON b.doc_id = a.doc_id - 120
                  JOIN documents c ON c.doc_id = a.doc_id - 240),
          inc AS (SELECT doc_id + 3000000 AS doc_id, text FROM aa
                  UNION ALL SELECT doc_id + 4000000, ntext FROM nov
                  UNION ALL SELECT doc_id + 5000000, ntext FROM nov),
          ${minhashSketchCtes("inc", None, "i")},
          candi AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
                    FROM bandsi x JOIN bandsi y
                      ON x.band_idx = y.band_idx AND x.band_val = y.band_val
                         AND x.doc_id < y.doc_id),
          losers AS (SELECT DISTINCT c.id_b AS doc_id
                     FROM candi c JOIN hsi a ON a.doc_id = c.id_a
                     JOIN hsi b ON b.doc_id = c.id_b
                     WHERE len(list_intersect(a.hs, b.hs)) * 1.0
                           / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.5),
          reps AS (SELECT doc_id, text FROM inc
                   WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
          ${minhashSketchCtes("reps", None, "n")},
          ${minhashSketchCtes("documents", None, "c")},
          cand AS (SELECT DISTINCT x.doc_id AS id_new, y.doc_id AS id_corpus
                   FROM bandsn x JOIN bandsc y
                     ON x.band_idx = y.band_idx AND x.band_val = y.band_val),
          rejected AS (SELECT DISTINCT c.id_new AS doc_id
                       FROM cand c JOIN hsn a ON a.doc_id = c.id_new
                       JOIN hsc b ON b.doc_id = c.id_corpus
                       WHERE len(list_intersect(a.hs, b.hs)) * 1.0
                             / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.5)
          SELECT doc_id FROM reps
          WHERE doc_id NOT IN (SELECT doc_id FROM rejected)""",
    // the image intra-batch window replayed: dhash chain over the
    // batch, brute-force within-batch pairs (banded recall is exact
    // under nBands) with higher-id drop, survivors against the corpus
    // store at hamming <= 3
    "llm_admission_selfdedup_media" ->
      """WITH m AS (SELECT max(doc_id) AS mx FROM documents),
          aa AS (SELECT doc_id, text FROM documents, m
                 WHERE doc_id > mx - 300 AND doc_id <= mx - 200),
          b AS (SELECT doc_id + 3000000 AS doc_id, text AS pay FROM aa
                UNION ALL SELECT doc_id + 4000000, reverse(text) FROM aa
                UNION ALL SELECT doc_id + 5000000, reverse(text) FROM aa),
          hx AS (SELECT doc_id, lower(hex(pay)) AS h FROM b),
          lum AS (SELECT doc_id,
                    list_transform(generate_series(0, 71), k ->
                      CAST(('0x' || substr(md5(substr(h,
                          CAST(floor(length(h)*k/72) AS INT) + 1,
                          greatest(CAST(floor(length(h)*(k+1)/72) AS INT)
                            - CAST(floor(length(h)*k/72) AS INT), 0))), 1, 8))
                        AS BIGINT) % 256) AS lu
                  FROM hx),
          dhb AS (SELECT doc_id,
                    CAST(list_sum(list_transform(generate_series(0, 63), i ->
                      CASE WHEN lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 2]
                                > lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 1]
                           THEN CASE WHEN i = 63
                                     THEN -9223372036854775808
                                     ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END
                           ELSE 0 END)) AS BIGINT) AS dhash
                  FROM lum),
          losers AS (SELECT DISTINCT y.doc_id
                     FROM dhb x JOIN dhb y ON x.doc_id < y.doc_id
                     WHERE bit_count(xor(x.dhash, y.dhash)) <= 3),
          reps AS (SELECT doc_id, dhash FROM dhb
                   WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
          shx AS (SELECT doc_id, lower(hex(text)) AS h FROM documents),
          slum AS (SELECT doc_id,
                     list_transform(generate_series(0, 71), k ->
                       CAST(('0x' || substr(md5(substr(h,
                           CAST(floor(length(h)*k/72) AS INT) + 1,
                           greatest(CAST(floor(length(h)*(k+1)/72) AS INT)
                             - CAST(floor(length(h)*k/72) AS INT), 0))), 1, 8))
                         AS BIGINT) % 256) AS lu
                   FROM shx),
          dhs AS (SELECT doc_id,
                    CAST(list_sum(list_transform(generate_series(0, 63), i ->
                      CASE WHEN lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 2]
                                > lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 1]
                           THEN CASE WHEN i = 63
                                     THEN -9223372036854775808
                                     ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END
                           ELSE 0 END)) AS BIGINT) AS dhash
                  FROM slum),
          rejected AS (SELECT DISTINCT r.doc_id
                       FROM reps r JOIN dhs c
                         ON bit_count(xor(r.dhash, c.dhash)) <= 3)
          SELECT doc_id FROM reps
          WHERE doc_id NOT IN (SELECT doc_id FROM rejected)""",
    // perceptual dHash near-dup: the full chain replayed — lower-hex
    // payload, 72 slice-md5 lumas, 64 gradient bits (bit 63 is the
    // BIGINT sign bit: DuckDB's checked << overflows at 63, so it lands
    // as the min-long literal — two's complement, matching Spark's
    // shiftleft), brute-force pairs (banded recall is exact < nBands)
    "llm_image_dups" ->
      """WITH m AS (SELECT max(doc_id) AS mx FROM documents),
          sl AS (SELECT doc_id, text FROM documents, m
                 WHERE doc_id > mx - 300 AND length(text) >= 400),
          base AS (SELECT doc_id, text FROM sl
                   UNION ALL
                   SELECT doc_id + 3000000,
                          substr(text, 1, 10) || 'QQQQ' || substr(text, 15)
                   FROM sl),
          hx AS (SELECT doc_id, lower(hex(text)) AS h FROM base),
          lum AS (SELECT doc_id,
                    list_transform(generate_series(0, 71), k ->
                      CAST(('0x' || substr(md5(substr(h,
                          CAST(floor(length(h)*k/72) AS INT) + 1,
                          greatest(CAST(floor(length(h)*(k+1)/72) AS INT)
                            - CAST(floor(length(h)*k/72) AS INT), 0))), 1, 8))
                        AS BIGINT) % 256) AS lu
                  FROM hx),
          dh AS (SELECT doc_id,
                   CAST(list_sum(list_transform(generate_series(0, 63), i ->
                     CASE WHEN lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 2]
                               > lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 1]
                          THEN CASE WHEN i = 63
                                    THEN -9223372036854775808
                                    ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END
                          ELSE 0 END)) AS BIGINT) AS dhash
                 FROM lum)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
          FROM dh a JOIN dh b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""",
    // capped variant: same dhash chain over the flood-extended fixture,
    // then the banding replayed ((dhash >> 16b) & 65535 — DuckDB's
    // arithmetic shift is mask-equivalent to shiftrightunsigned under
    // & 65535) with buckets > 8 dropped whole; a pair survives iff it
    // shares at least one uncapped band and hamming <= 3
    "llm_image_dups_capped" ->
      """WITH m AS (SELECT max(doc_id) AS mx FROM documents),
          sl AS (SELECT doc_id, text FROM documents, m
                 WHERE doc_id > mx - 300 AND length(text) >= 400),
          base AS (SELECT doc_id, text FROM sl
                   UNION ALL
                   SELECT doc_id + 3000000,
                          substr(text, 1, 10) || 'QQQQ' || substr(text, 15)
                   FROM sl
                   UNION ALL
                   SELECT 9000000 + g.k, repeat('~', 450)
                   FROM generate_series(0, 39) g(k)),
          hx AS (SELECT doc_id, lower(hex(text)) AS h FROM base),
          lum AS (SELECT doc_id,
                    list_transform(generate_series(0, 71), k ->
                      CAST(('0x' || substr(md5(substr(h,
                          CAST(floor(length(h)*k/72) AS INT) + 1,
                          greatest(CAST(floor(length(h)*(k+1)/72) AS INT)
                            - CAST(floor(length(h)*k/72) AS INT), 0))), 1, 8))
                        AS BIGINT) % 256) AS lu
                  FROM hx),
          dh AS (SELECT doc_id,
                   CAST(list_sum(list_transform(generate_series(0, 63), i ->
                     CASE WHEN lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 2]
                               > lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 1]
                          THEN CASE WHEN i = 63
                                    THEN -9223372036854775808
                                    ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END
                          ELSE 0 END)) AS BIGINT) AS dhash
                 FROM lum),
          bands AS (SELECT doc_id, dhash, b.band_idx,
                           (dhash >> (16 * b.band_idx)) & 65535 AS band_val
                    FROM dh, (VALUES (0),(1),(2),(3)) b(band_idx)),
          keep AS (SELECT band_idx, band_val FROM bands
                   GROUP BY 1, 2 HAVING count(*) <= 8),
          kb AS (SELECT bands.doc_id, bands.dhash, bands.band_idx,
                        bands.band_val
                 FROM bands JOIN keep USING (band_idx, band_val))
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
          FROM kb a JOIN kb b ON a.band_idx = b.band_idx
                             AND a.band_val = b.band_val
                             AND a.doc_id < b.doc_id
          WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""",
    "llm_pipeline" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents
                          UNION ALL SELECT doc_id + 500000, text FROM documents),
          scored AS (
            SELECT doc_id,
                   round(least(length(text) * 1.0 / 500.0, 1.0) * 0.3
                         + (1.0 - (length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) * 1.0 / greatest(length(text), 1)) * 0.4
                         + least(len(list_filter(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+'), t -> t IN ($stopsEn))) * 1.0
                                 / greatest(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')), 1) * 5.0, 1.0) * 0.3, 6) AS quality,
                   CASE WHEN es > en AND es >= fr AND es >= de THEN 'es'
                        WHEN fr > en AND fr >= de THEN 'fr'
                        WHEN de > en THEN 'de'
                        ELSE 'en' END AS lang,
                   md5(regexp_replace(lower(text), '[\\t\\n\\x0B\\f\\r ]+', ' ', 'g')) AS fp,
                   CAST(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')) AS INTEGER) AS token_cnt
            FROM (SELECT doc_id, text,
                    len(list_filter(toks, t -> t IN ('el','la','de','que','y','un','una','los'))) AS es,
                    len(list_filter(toks, t -> t IN ('le','les','des','et','une','est','dans','pour'))) AS fr,
                    len(list_filter(toks, t -> t IN ('der','die','das','und','ist','ein','nicht','mit'))) AS de,
                    len(list_filter(toks, t -> t IN ($stopsEn))) AS en
                  FROM (SELECT doc_id, text, string_split_regex(lower(text), '[\\t\\n\\x0B\\f\\r ]+') toks FROM corpus)))
          SELECT doc_id, fp, token_cnt, quality FROM (
            SELECT doc_id, fp, token_cnt, quality,
                   row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM scored WHERE quality >= 0.5 AND lang = 'en')
          WHERE rn = 1""",
    // tokenizer-era pipeline: fingerprint dedup → learned-token budget
    // window (the llm_token_budget_bpe algebra, n_toks = len(ids)) →
    // id-sequence chunks (the llm_chunk_bpe cut) — ONE apply chain
    // feeds both the counting and the windows
    "llm_pipeline10" ->
      """WITH RECURSIVE
          m(rank, l, r) AS (
            SELECT * FROM (VALUES (0,'t','h'),(1,'th','e'),(2,'i','n'),
                                  (3,'a','n'),(4,'an','d'),(5,'e','r'),
                                  (6,'o','n'),(7,'r','e'))),
          corpus AS (SELECT doc_id, text FROM documents
                     UNION ALL SELECT doc_id + 500000, text FROM documents),
          dd AS (SELECT doc_id, text FROM (
                   SELECT doc_id, text,
                          row_number() OVER (
                            PARTITION BY md5(regexp_replace(lower(text), '[\t\n\x0B\f\r ]+', ' ', 'g'))
                            ORDER BY doc_id) AS rn
                   FROM corpus) WHERE rn = 1),
          t0 AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS ws FROM dd),
          w AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS wi, ws
                FROM t0),
          w2 AS (SELECT doc_id, wi, ws[wi] AS word FROM w
                 WHERE length(ws[wi]) > 0),
          init AS (SELECT doc_id, wi,
                     ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS s
                   FROM w2),
          bpe AS (
            SELECT doc_id, wi, s FROM init
            UNION ALL
            SELECT doc_id, wi,
                   replace(s, ' '||l||'  '||r||' ', ' '||l||r||' ') AS s
            FROM (SELECT b.doc_id, b.wi, b.s, m.l, m.r,
                         row_number() OVER (PARTITION BY b.doc_id, b.wi
                                            ORDER BY m.rank) AS rn
                  FROM bpe b JOIN m
                    ON position(' '||m.l||'  '||m.r||' ' IN b.s) > 0)
            WHERE rn = 1),
          term AS (SELECT doc_id, wi, s FROM bpe b
                   WHERE NOT EXISTS (SELECT 1 FROM m
                     WHERE position(' '||m.l||'  '||m.r||' ' IN b.s) > 0)),
          sy AS (SELECT doc_id, wi, string_split(trim(s), '  ') AS a FROM term),
          ix AS (SELECT doc_id, wi, unnest(generate_series(1, len(a))) AS si, a
                 FROM sy),
          tk AS (SELECT doc_id, wi, si,
                   CAST(CASE WHEN length(a[si]) = 1 THEN unicode(a[si])
                        ELSE 1114112 + (SELECT min(m2.rank) FROM m m2
                                        WHERE m2.l || m2.r = a[si])
                        END AS INT) AS tid
                 FROM ix),
          idl AS (SELECT doc_id, list(tid ORDER BY wi, si) AS ids
                  FROM tk GROUP BY doc_id),
          al AS (SELECT d.doc_id, d.text,
                        coalesce(i.ids, CAST([] AS INT[])) AS ids
                 FROM dd d LEFT JOIN idl i ON d.doc_id = i.doc_id),
          o AS (SELECT doc_id, ids,
                  CAST(coalesce(sum(len(ids)) OVER (
                    ORDER BY CAST(('0x'||substr(md5('budget:'||text),1,8)) AS BIGINT),
                             doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                    AS off
                FROM al),
          sel AS (SELECT doc_id, ids FROM o WHERE off < 8000),
          c AS (SELECT doc_id, ids,
                       unnest(range(0, greatest(len(ids), 1), 48)) AS start_tok
                FROM sel)
         SELECT doc_id, CAST(start_tok AS INTEGER) AS start_tok,
                CAST(len(ids[start_tok+1 : start_tok+64]) AS INTEGER) AS n_tokens,
                array_to_string(CAST(ids[start_tok+1 : start_tok+64] AS VARCHAR[]),
                                ',') AS token_ids
         FROM c""",
    "llm_text_stats" ->
      s"""SELECT doc_id,
                 CAST(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')) AS INTEGER) AS token_cnt,
                 CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\\t\\n\\x0B\\f\\r ]', 0)) AS INTEGER) AS bpeish_cnt,
                 round(punct, 6) AS punct_ratio,
                 round(stop, 6) AS stop_ratio,
                 round(least(length(text) * 1.0 / 500.0, 1.0) * 0.3
                       + (1.0 - punct) * 0.4
                       + least(stop * 5.0, 1.0) * 0.3, 6) AS quality
          FROM (SELECT doc_id, text,
                  (length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) * 1.0
                    / greatest(length(text), 1) AS punct,
                  len(list_filter(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+'),
                      t -> t IN ($stopsEn))) * 1.0
                    / greatest(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')), 1) AS stop
                FROM documents)""",
    "llm_langid" ->
      s"""SELECT doc_id,
                 CASE WHEN es > en AND es >= fr AND es >= de THEN 'es'
                      WHEN fr > en AND fr >= de THEN 'fr'
                      WHEN de > en THEN 'de'
                      ELSE 'en' END AS lang_guess
          FROM (SELECT doc_id,
                  len(list_filter(toks, t -> t IN ('el','la','de','que','y','un','una','los'))) AS es,
                  len(list_filter(toks, t -> t IN ('le','les','des','et','une','est','dans','pour'))) AS fr,
                  len(list_filter(toks, t -> t IN ('der','die','das','und','ist','ein','nicht','mit'))) AS de,
                  len(list_filter(toks, t -> t IN ($stopsEn))) AS en
                FROM (SELECT doc_id, string_split_regex(lower(text), '[\\t\\n\\x0B\\f\\r ]+') toks FROM documents))""",
    // 64-token chunks, stride 48 (overlap 16); slices clamp at the tail
    "llm_chunk" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS toks
                    FROM documents),
          c AS (SELECT doc_id, toks,
                       unnest(range(0, greatest(len(toks), 1), 48)) AS start_tok
                FROM t)
         SELECT doc_id, CAST(start_tok AS INTEGER) AS start_tok,
                CAST(len(toks[start_tok+1 : start_tok+64]) AS INTEGER) AS n_tokens,
                array_to_string(toks[start_tok+1 : start_tok+64], ' ') AS chunk_text
         FROM c""",
    // learned-token chunking: the llm_bpe_tokenize apply CTEs feed a
    // per-doc ordered id list; the window cut is llm_chunk's
    "llm_chunk_bpe" ->
      """WITH RECURSIVE
          m(rank, l, r) AS (
            SELECT * FROM (VALUES (0,'t','h'),(1,'th','e'),(2,'i','n'),
                                  (3,'a','n'),(4,'an','d'),(5,'e','r'),
                                  (6,'o','n'),(7,'r','e'))),
          t0 AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS ws
                 FROM documents),
          w AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS wi, ws
                FROM t0),
          w2 AS (SELECT doc_id, wi, ws[wi] AS word FROM w
                 WHERE length(ws[wi]) > 0),
          init AS (SELECT doc_id, wi,
                     ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS s
                   FROM w2),
          bpe AS (
            SELECT doc_id, wi, s FROM init
            UNION ALL
            SELECT doc_id, wi,
                   replace(s, ' '||l||'  '||r||' ', ' '||l||r||' ') AS s
            FROM (SELECT b.doc_id, b.wi, b.s, m.l, m.r,
                         row_number() OVER (PARTITION BY b.doc_id, b.wi
                                            ORDER BY m.rank) AS rn
                  FROM bpe b JOIN m
                    ON position(' '||m.l||'  '||m.r||' ' IN b.s) > 0)
            WHERE rn = 1),
          term AS (SELECT doc_id, wi, s FROM bpe b
                   WHERE NOT EXISTS (SELECT 1 FROM m
                     WHERE position(' '||m.l||'  '||m.r||' ' IN b.s) > 0)),
          sy AS (SELECT doc_id, wi, string_split(trim(s), '  ') AS a FROM term),
          ix AS (SELECT doc_id, wi, unnest(generate_series(1, len(a))) AS si, a
                 FROM sy),
          tk AS (SELECT doc_id, wi, si,
                   CAST(CASE WHEN length(a[si]) = 1 THEN unicode(a[si])
                        ELSE 1114112 + (SELECT min(m2.rank) FROM m m2
                                        WHERE m2.l || m2.r = a[si])
                        END AS INT) AS tid
                 FROM ix),
          ids AS (SELECT doc_id, list(tid ORDER BY wi, si) AS ids
                  FROM tk GROUP BY doc_id),
          al AS (SELECT d.doc_id, coalesce(i.ids, CAST([] AS INT[])) AS ids
                 FROM documents d LEFT JOIN ids i ON d.doc_id = i.doc_id),
          c AS (SELECT doc_id, ids,
                       unnest(range(0, greatest(len(ids), 1), 48)) AS start_tok
                FROM al)
         SELECT doc_id, CAST(start_tok AS INTEGER) AS start_tok,
                CAST(len(ids[start_tok+1 : start_tok+64]) AS INTEGER) AS n_tokens,
                array_to_string(CAST(ids[start_tok+1 : start_tok+64] AS VARCHAR[]),
                                ',') AS token_ids
         FROM c""",
    "llm_mix" ->
      """SELECT doc_id, 'web' AS source_ds FROM documents
         WHERE CAST(('0x'||substr(md5('mixweb:'||text),1,8)) AS BIGINT) % 10000 < 7000
         UNION ALL
         SELECT doc_id, 'books' AS source_ds FROM documents
         WHERE CAST(('0x'||substr(md5('mixbooks:'||text),1,8)) AS BIGINT) % 10000 < 3000""",
    // within-doc trigram repetition (docs with >= 3 tokens only)
    "llm_rep_ratio" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS toks
                    FROM documents),
          g AS (SELECT doc_id,
                       list_transform(generate_series(1, len(toks) - 2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS gs
                FROM t WHERE len(toks) >= 3)
         SELECT doc_id, len(gs) AS n_ngrams,
                round(1.0 - len(list_distinct(gs)) * 1.0 / len(gs), 6) AS rep_ratio
         FROM g""",
    "llm_pii_scan" ->
      """SELECT doc_id,
                len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
                len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
                len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
                  + len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) > 0 AS has_pii
         FROM documents""",
    "llm_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '[\t\n\x0B\f\r ]+', ' ', 'g')) AS fp
         FROM documents""",
    "llm_exact_dedup" ->
      """SELECT md5(regexp_replace(lower(text), '[\t\n\x0B\f\r ]+', ' ', 'g')) AS fp,
                min(doc_id) AS doc_id
         FROM (SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 100000, text FROM documents)
         GROUP BY 1""",
    // fingerprint-store admission: clones bounce, suffixed variants pass
    "llm_exact_incr" ->
      """WITH m AS (SELECT max(doc_id) AS m FROM documents),
          tail AS (SELECT doc_id, text FROM documents, m WHERE doc_id > m.m - 300),
          inc AS (SELECT doc_id + 3000000 AS doc_id, text FROM tail
                  UNION ALL
                  SELECT doc_id + 4000000, text || ' novel suffix' FROM tail),
          store AS (SELECT DISTINCT md5(regexp_replace(lower(text), '[\t\n\x0B\f\r ]+', ' ', 'g')) AS fp
                    FROM documents)
          SELECT doc_id FROM inc
          WHERE md5(regexp_replace(lower(text), '[\t\n\x0B\f\r ]+', ' ', 'g'))
                NOT IN (SELECT fp FROM store)""",
    // fp store compaction: the incremental probe against the store
    // MINUS the tombstoned fingerprints (physical purge semantics)
    "llm_fp_compact" ->
      """WITH m AS (SELECT max(doc_id) AS m FROM documents),
          tail AS (SELECT doc_id, text FROM documents, m WHERE doc_id > m.m - 300),
          inc AS (SELECT doc_id + 3000000 AS doc_id, text FROM tail
                  UNION ALL
                  SELECT doc_id + 4000000, text || ' novel suffix' FROM tail),
          tombfp AS (SELECT DISTINCT md5(regexp_replace(lower(text), '[\t\n\x0B\f\r ]+', ' ', 'g')) AS fp
                     FROM documents WHERE doc_id % 7 = 0),
          store AS (SELECT DISTINCT md5(regexp_replace(lower(text), '[\t\n\x0B\f\r ]+', ' ', 'g')) AS fp
                    FROM documents),
          compacted AS (SELECT fp FROM store
                        WHERE fp NOT IN (SELECT fp FROM tombfp))
          SELECT doc_id FROM inc
          WHERE md5(regexp_replace(lower(text), '[\t\n\x0B\f\r ]+', ' ', 'g'))
                NOT IN (SELECT fp FROM compacted)""",
    "llm_minhash_pairs" ->
      s"""WITH $minhashCtes
          SELECT id_a, id_b, jaccard FROM pairs""",
    // same pipeline over tail+clones with the bucket cap: the oversized
    // (boilerplate) buckets drop before the candidate join
    "llm_minhash_capped" ->
      s"""WITH tail AS (SELECT doc_id, text FROM documents
                        WHERE doc_id > (SELECT max(doc_id) - 300 FROM documents)),
          clones AS (SELECT CAST(2000000 + i.i AS BIGINT) AS doc_id, s.text
                     FROM (SELECT text FROM tail
                           WHERE doc_id = (SELECT max(doc_id) FROM tail)) s
                     CROSS JOIN (SELECT unnest(generate_series(1, 60)) AS i) i),
          corpus AS (SELECT doc_id, text FROM tail
                     UNION ALL SELECT doc_id, text FROM clones),
          ${minhashCtesFrom("corpus", cap = Some(40))}
          SELECT id_a, id_b, jaccard FROM pairs""",
    // near-dup CLUSTERS: the minhash pairs closed under transitivity —
    // DuckDB replicates Graph.connectedComponents with a recursive
    // reachability CTE (UNION dedups states, so cycles terminate);
    // cluster label = min doc_id reachable, exactly min-label
    // propagation's fixpoint
    "llm_dedup_clusters" ->
      s"""WITH RECURSIVE $minhashCtes,
          edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                    UNION ALL SELECT id_b, id_a FROM pairs),
          reach(id, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
          SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id""",
    // containment over distinct hashed trigram shingles (shared-md5
    // hash, so both engines count identical key sets)
    "llm_containment" ->
      s"""WITH $tailTrigramCtes,
          h AS (SELECT doc_id,
                       list_distinct(list_transform(gs, s -> $hashSql)) AS hs
                FROM g)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 round(len(list_intersect(a.hs, b.hs)) * 1.0
                         / least(len(a.hs), len(b.hs)), 6) AS containment
          FROM h a JOIN h b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.hs, b.hs)) * 1.0
                  / least(len(a.hs), len(b.hs)) >= 0.5""",
    // containment with the document-frequency hot-key cap: shingle
    // hashes shared by > 50 docs are dropped before the pair join;
    // row shapes mirror the Spark join (e = distinct (doc, hash) rows)
    "llm_containment_dfcap" ->
      s"""WITH $tailTrigramCtes,
          e AS (SELECT doc_id, unnest(list_distinct(list_transform(gs,
                  s -> $hashSql))) AS h
                FROM g),
          keep AS (SELECT h FROM e GROUP BY h HAVING count(*) <= 50),
          ek AS (SELECT doc_id, h FROM e JOIN keep USING (h)),
          sizes AS (SELECT doc_id, count(*) AS sz FROM ek GROUP BY doc_id),
          ov AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS ov
                 FROM ek a JOIN ek b ON a.h = b.h AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
          SELECT ida AS id_a, idb AS id_b,
                 round(ov * 1.0 / least(sa.sz, sb.sz), 6) AS containment
          FROM ov
          JOIN sizes sa ON ida = sa.doc_id
          JOIN sizes sb ON idb = sb.doc_id
          WHERE ov * 1.0 / least(sa.sz, sb.sz) >= 0.5""",
    // 13-gram train/eval overlap; hashes via the shared-md5 recipe so
    // both engines count identical key sets
    "llm_decontaminate" -> decontaminateOracleSql,
    // the bloom path is a bandwidth optimization with IDENTICAL output
    // (false positives only cost a probe in the exact confirm join), so
    // the same oracle verifies it
    "llm_decontaminate_bloom" -> decontaminateOracleSql,
    // storage round-trip is output-identical to the inline bloom path
    "llm_decontam_roundtrip" -> decontaminateOracleSql,
    // graded variant: totals + hits in one aggregate, fraction = exact
    // integer division in double (IEEE-deterministic, compared raw)
    "llm_contamination" ->
      s"""WITH m AS (SELECT max(doc_id) AS mx FROM documents),
          t AS (SELECT doc_id, string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+') AS toks
                FROM documents),
          g AS (SELECT doc_id,
                  list_distinct(list_transform(generate_series(1, len(toks) - 12),
                    i -> $gram13Sql)) AS gs
                FROM t WHERE len(toks) >= 13),
          h AS (SELECT doc_id,
                  list_distinct(list_transform(gs, s -> $hashSql)) AS hs
                FROM g),
          ev AS (SELECT DISTINCT unnest(hs) AS eh FROM h, m WHERE doc_id > mx - 100),
          co AS (SELECT doc_id, unnest(hs) AS eh FROM h, m WHERE doc_id <= mx - 100),
          agg AS (SELECT co.doc_id, count(*) AS t, count(ev.eh) AS c
                  FROM co LEFT JOIN ev ON co.eh = ev.eh GROUP BY co.doc_id)
          SELECT d.doc_id, coalesce(agg.c, 0) AS eval_shingles,
                 coalesce(agg.t, 0) AS total_shingles,
                 CASE WHEN coalesce(agg.t, 0) = 0 THEN 0.0
                      ELSE CAST(agg.c AS DOUBLE) / agg.t END AS overlap_frac,
                 CASE WHEN coalesce(agg.t, 0) = 0 THEN 0.0
                      ELSE CAST(agg.c AS DOUBLE) / agg.t END >= 0.2 AS contaminated
          FROM (SELECT doc_id FROM documents, m WHERE doc_id <= mx - 100) d
          LEFT JOIN agg USING (doc_id)""",
    // global exclusive prefix over (hash, id) order == the hierarchical
    // bucket-offset + within-bucket form (buckets are contiguous order
    // ranges); boundary doc kept (token_offset < budget)
    "llm_token_budget" ->
      """WITH t AS (SELECT doc_id,
               CAST(len(string_split_regex(text, '[\t\n\x0B\f\r ]+')) AS BIGINT) AS n_toks,
               CAST(('0x'||substr(md5('budget:'||text),1,8)) AS BIGINT) AS h
             FROM documents),
          o AS (SELECT doc_id, n_toks,
                  CAST(coalesce(sum(n_toks) OVER (ORDER BY h, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                    AS token_offset
                FROM t)
          SELECT doc_id, n_toks, token_offset FROM o WHERE token_offset < 10000""",
    // the budget window over LEARNED token counts: the recursive apply
    // CTE (llm_bpe_count's, verbatim) feeds n_toks; the hash order and
    // the exclusive-prefix cut are the llm_token_budget oracle's
    "llm_token_budget_bpe" ->
      """WITH RECURSIVE
          m(rank, l, r) AS (
            SELECT * FROM (VALUES (0,'t','h'),(1,'th','e'),(2,'i','n'),
                                  (3,'a','n'),(4,'an','d'),(5,'e','r'),
                                  (6,'o','n'),(7,'r','e'))),
          t0 AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS ws
                 FROM documents),
          w AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS wi, ws
                FROM t0),
          w2 AS (SELECT doc_id, wi, ws[wi] AS word FROM w
                 WHERE length(ws[wi]) > 0),
          init AS (SELECT doc_id, wi,
                     ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS s
                   FROM w2),
          bpe AS (
            SELECT doc_id, wi, s FROM init
            UNION ALL
            SELECT doc_id, wi,
                   replace(s, ' '||l||'  '||r||' ', ' '||l||r||' ') AS s
            FROM (SELECT b.doc_id, b.wi, b.s, m.l, m.r,
                         row_number() OVER (PARTITION BY b.doc_id, b.wi
                                            ORDER BY m.rank) AS rn
                  FROM bpe b JOIN m
                    ON position(' '||m.l||'  '||m.r||' ' IN b.s) > 0)
            WHERE rn = 1),
          term AS (SELECT doc_id, wi, s FROM bpe b
                   WHERE NOT EXISTS (SELECT 1 FROM m
                     WHERE position(' '||m.l||'  '||m.r||' ' IN b.s) > 0)),
          cnt AS (SELECT doc_id,
                    (length(s) - length(replace(s, ' ', ''))) // 2 AS c
                  FROM term),
          t AS (SELECT d.doc_id,
                  CAST(coalesce(sum(cnt.c), 0) AS BIGINT) AS n_toks,
                  CAST(('0x'||substr(md5('budget:'||d.text),1,8)) AS BIGINT) AS h
                FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc_id
                GROUP BY d.doc_id, d.text),
          o AS (SELECT doc_id, n_toks,
                  CAST(coalesce(sum(n_toks) OVER (ORDER BY h, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                    AS token_offset
                FROM t)
          SELECT doc_id, n_toks, token_offset FROM o WHERE token_offset < 10000""",
    // the per-group hierarchy must equal the per-group plain window
    "llm_token_budget_group" ->
      """WITH t AS (SELECT doc_id, lang,
               CAST(len(string_split_regex(text, '[\t\n\x0B\f\r ]+')) AS BIGINT) AS n_toks,
               CAST(('0x'||substr(md5('budget:'||text),1,8)) AS BIGINT) AS h
             FROM documents),
          o AS (SELECT doc_id, lang, n_toks,
                  CAST(coalesce(sum(n_toks) OVER (PARTITION BY lang
                    ORDER BY h, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                    AS token_offset
                FROM t)
          SELECT doc_id, lang, n_toks, token_offset FROM o
          WHERE token_offset < 4000""",
    // the bucketed hierarchical rank must equal the plain global window:
    // rank() with min-rank tie sharing, percent_rank = (rank-1)/(N-1)
    "llm_rank_norm" ->
      """SELECT doc_id, n_chars,
                CAST(rank() OVER (ORDER BY n_chars) AS BIGINT) AS rnk,
                percent_rank() OVER (ORDER BY n_chars) AS pct_rank
         FROM documents""",
    "llm_rank_norm_group" ->
      """SELECT doc_id, lang, n_chars,
                CAST(rank() OVER (PARTITION BY lang ORDER BY n_chars) AS BIGINT) AS rnk,
                percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS pct_rank
         FROM documents""",
    // global running token offsets (the hierarchical prefix sum must
    // equal DuckDB's single global window) + integer-division seq cuts
    "llm_pack" ->
      """WITH t AS (SELECT doc_id,
                      CAST(len(string_split_regex(text, '[\t\n\x0B\f\r ]+')) AS BIGINT) AS n_toks
                    FROM documents),
          o AS (SELECT doc_id, n_toks,
                  CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                    AS token_offset
                FROM t)
          SELECT doc_id, n_toks, token_offset,
                 token_offset // 512 AS first_seq,
                 (token_offset + n_toks - 1) // 512 AS last_seq
          FROM o""",
    // learned-token packing: the recursive apply CTE (llm_bpe_count's)
    // feeds n_toks; the id-order prefix sum and seq cuts are llm_pack's
    // (greatest mirrors the operator's zero-token straddle guard)
    "llm_pack_bpe" ->
      """WITH RECURSIVE
          m(rank, l, r) AS (
            SELECT * FROM (VALUES (0,'t','h'),(1,'th','e'),(2,'i','n'),
                                  (3,'a','n'),(4,'an','d'),(5,'e','r'),
                                  (6,'o','n'),(7,'r','e'))),
          t0 AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS ws
                 FROM documents),
          w AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS wi, ws
                FROM t0),
          w2 AS (SELECT doc_id, wi, ws[wi] AS word FROM w
                 WHERE length(ws[wi]) > 0),
          init AS (SELECT doc_id, wi,
                     ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS s
                   FROM w2),
          bpe AS (
            SELECT doc_id, wi, s FROM init
            UNION ALL
            SELECT doc_id, wi,
                   replace(s, ' '||l||'  '||r||' ', ' '||l||r||' ') AS s
            FROM (SELECT b.doc_id, b.wi, b.s, m.l, m.r,
                         row_number() OVER (PARTITION BY b.doc_id, b.wi
                                            ORDER BY m.rank) AS rn
                  FROM bpe b JOIN m
                    ON position(' '||m.l||'  '||m.r||' ' IN b.s) > 0)
            WHERE rn = 1),
          term AS (SELECT doc_id, wi, s FROM bpe b
                   WHERE NOT EXISTS (SELECT 1 FROM m
                     WHERE position(' '||m.l||'  '||m.r||' ' IN b.s) > 0)),
          cnt AS (SELECT doc_id,
                    (length(s) - length(replace(s, ' ', ''))) // 2 AS c
                  FROM term),
          t AS (SELECT d.doc_id,
                  CAST(coalesce(sum(cnt.c), 0) AS BIGINT) AS n_toks
                FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc_id
                GROUP BY d.doc_id),
          o AS (SELECT doc_id, n_toks,
                  CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                    AS token_offset
                FROM t)
          SELECT doc_id, n_toks, token_offset,
                 token_offset // 512 AS first_seq,
                 greatest(token_offset + n_toks - 1, token_offset) // 512
                   AS last_seq
          FROM o""",
    // the star algorithm must produce the identical cluster labeling
    "llm_cluster_star" ->
      s"""WITH RECURSIVE $minhashCtes,
          edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                    UNION ALL SELECT id_b, id_a FROM pairs),
          reach(id, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
          SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id""",
    // end-to-end cluster dedup: every document survives EXCEPT non-min
    // members of a connected component (singletons pass through)
    "llm_cluster_keep" ->
      s"""WITH RECURSIVE $minhashCtes,
          edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                    UNION ALL SELECT id_b, id_a FROM pairs),
          reach(id, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
          losers AS (SELECT id FROM reach GROUP BY id HAVING id <> min(r))
          SELECT doc_id FROM documents
          WHERE doc_id NOT IN (SELECT id FROM losers)""",
    "llm_pii_redact" ->
      """SELECT doc_id,
                regexp_replace(regexp_replace(text,
                  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
                  '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS redacted
         FROM documents""",
    // best-quality representative per minhash cluster (quality formula
    // identical to llm_text_stats; singletons keep themselves)
    "llm_cluster_best" ->
      s"""WITH RECURSIVE $minhashCtes,
          edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                    UNION ALL SELECT id_b, id_a FROM pairs),
          reach(id, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
          comp AS (SELECT id, min(r) AS c FROM reach GROUP BY id),
          q AS (SELECT doc_id,
                  round(least(length(text) * 1.0 / 500.0, 1.0) * 0.3
                        + (1.0 - (length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) * 1.0 / greatest(length(text), 1)) * 0.4
                        + least(len(list_filter(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+'), t -> t IN ($stopsEn))) * 1.0
                                / greatest(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')), 1) * 5.0, 1.0) * 0.3, 6) AS q
                FROM documents),
          labeled AS (SELECT q.doc_id, q.q, coalesce(comp.c, q.doc_id) AS c
                      FROM q LEFT JOIN comp ON comp.id = q.doc_id)
          SELECT doc_id FROM (
            SELECT doc_id, row_number() OVER (PARTITION BY c
                     ORDER BY q DESC, doc_id) AS rn
            FROM labeled)
          WHERE rn = 1""",
    "llm_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') toks
                    FROM documents
                    WHERE doc_id > (SELECT max(doc_id) - 300 FROM documents)),
         sh AS (SELECT doc_id,
                  list_distinct(list_transform(generate_series(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) sh
                FROM t WHERE len(toks) >= 3)
         SELECT a.doc_id id_a, b.doc_id id_b,
                len(list_intersect(a.sh, b.sh)) * 1.0
                  / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.sh, b.sh)) * 1.0
                 / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3""",
    "llm_simhash" ->
      s"""SELECT doc_id,
                 CAST(list_sum(list_transform(generate_series(0, 31), b ->
                   CASE WHEN list_sum(list_transform(hs, h ->
                          CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                        THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))
                   AS BIGINT) AS simhash
          FROM (SELECT doc_id,
                  list_transform(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+'), s -> $hashSql) hs
                FROM documents)""",
    "llm_cosine" ->
      """SELECT e.vec_id,
                round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cos_sim
         FROM embeddings e
         CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0) q
         WHERE e.vec_id <> 0""",
    "llm_ann_topk" ->
      """SELECT e.vec_id,
                round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cos_sim
         FROM embeddings e
         CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id = 0) q
         WHERE e.vec_id <> 0
         ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
    // int8 scalar quantization replayed bit-for-bit: max-abs/127 scale,
    // floor(x/scale + 0.5) codes (engine-portable round-half-up), exact
    // cosine over the dequantized lists; zero vectors code to all-zero
    "llm_ann_sq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          s AS (SELECT vec_id, v,
                       list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc
                FROM e),
          xh AS (SELECT vec_id,
                   CASE WHEN sc = 0 THEN list_transform(v, x -> 0.0)
                        ELSE list_transform(v, x -> floor(x / sc + 0.5) * sc)
                   END AS xh
                 FROM s),
          q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
                WHERE vec_id = 0)
          SELECT x.vec_id,
                 round(list_cosine_similarity(x.xh, q.qv), 6) AS sq_score
          FROM xh x CROSS JOIN q
          WHERE x.vec_id <> 0
          ORDER BY sq_score DESC, x.vec_id LIMIT 10""",
    // IVF×SQ: the llm_ann_ivf cell assignment + probe composed with the
    // SQ dequant-cosine tail — the query vector stays RAW (the serving
    // coordinator holds it; only the corpus is quantized)
    "llm_ann_ivf_sq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
          c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
          assigned AS (
            SELECT vec_id, v, cid AS cell FROM (
              SELECT e.vec_id, e.v, c.cid,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) rk
              FROM e CROSS JOIN c) WHERE rk = 1),
          sq AS (SELECT vec_id, cell, v,
                        list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc
                 FROM assigned),
          xh AS (SELECT vec_id, cell,
                   CASE WHEN sc = 0 THEN list_transform(v, x -> 0.0)
                        ELSE list_transform(v, x -> floor(x / sc + 0.5) * sc)
                   END AS xh
                 FROM sq),
          qc AS (SELECT a.v AS qv, c.cid AS cell,
                        row_number() OVER (
                          ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid) rk
                 FROM assigned a CROSS JOIN c WHERE a.vec_id = 0)
          SELECT x.vec_id, round(list_cosine_similarity(x.xh, q.qv), 6) AS sq_score
          FROM xh x JOIN (SELECT qv, cell FROM qc WHERE rk <= 2) q
            ON x.cell = q.cell
          WHERE x.vec_id <> 0
          ORDER BY sq_score DESC, x.vec_id LIMIT 10""",
    "llm_ann_lsh" -> {
      val planes = Similarity.planeSigns(6, 64)
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
          b AS (SELECT vec_id, v, ${bucketSql(planes)} AS bucket FROM base),
          q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
          SELECT b.vec_id, round(list_cosine_similarity(b.v, q.qv), 6) AS cos_sim
          FROM b, q
          WHERE bit_count(xor(b.bucket, q.qb)) <= 1 AND b.vec_id <> 0
          ORDER BY cos_sim DESC, b.vec_id LIMIT 10"""
    },
    "llm_embedding_dups" -> {
      val planes = Similarity.planeSigns(6, 64)
      s"""WITH corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
                          UNION ALL
                          SELECT vec_id + 10000, CAST(embedding AS DOUBLE[]) FROM embeddings),
          b AS (SELECT vec_id, v, ${bucketSql(planes)} AS bucket FROM corpus)
          SELECT x.vec_id AS id_a, y.vec_id AS id_b,
                 round(list_cosine_similarity(x.v, y.v), 6) AS cos_sim
          FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
          WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.99"""
    },
    "llm_sample" ->
      """SELECT doc_id, doc_id % 3 AS stratum
         FROM documents
         WHERE CAST(('0x'||substr(md5('mix1:'||text),1,8)) AS BIGINT) % 10000 <
               CASE doc_id % 3 WHEN 0 THEN 1000 WHEN 1 THEN 2500 ELSE 5000 END""",
    "llm_sample_k" ->
      """SELECT doc_id FROM documents
         ORDER BY CAST(('0x'||substr(md5('eval:'||text),1,8)) AS BIGINT) NULLS LAST,
                  text NULLS LAST, doc_id NULLS LAST
         LIMIT 200""",
    // DLT priority = w / u, u = (h+1)·2⁻³² — one exact power-of-two
    // scale + one correctly-rounded division, engine-exact (the literal
    // is 2⁻³²'s shortest decimal); ranked on the ROUNDED priority (the
    // stated ordering contract, shared with the per-stratum form)
    "llm_sample_weighted" ->
      """SELECT doc_id, n_chars AS weight,
                round(CAST(n_chars AS DOUBLE) /
                  ((CAST(('0x'||substr(md5('wpri:'||text),1,8)) AS BIGINT) + 1)
                    * 2.3283064365386963e-10), 6) AS priority
         FROM documents
         ORDER BY round(CAST(n_chars AS DOUBLE) /
                  ((CAST(('0x'||substr(md5('wpri:'||text),1,8)) AS BIGINT) + 1)
                    * 2.3283064365386963e-10), 6) DESC NULLS LAST,
                  text NULLS LAST, doc_id NULLS LAST
         LIMIT 200""",
    // per-stratum variant ranks on the ROUNDED priority (the stated
    // ordering contract) under the same text/doc_id total order
    "llm_sample_weighted_strat" ->
      """SELECT doc_id, source, priority FROM (
           SELECT doc_id, source, priority,
                  row_number() OVER (PARTITION BY source
                    ORDER BY priority DESC NULLS LAST,
                             text NULLS LAST, doc_id NULLS LAST) AS rn
           FROM (SELECT doc_id, source, text,
                        round(CAST(n_chars AS DOUBLE) /
                          ((CAST(('0x'||substr(md5('wps:'||text),1,8)) AS BIGINT) + 1)
                            * 2.3283064365386963e-10), 6) AS priority
                 FROM documents))
         WHERE rn <= 10""",
    "llm_sample_strat" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source
                    ORDER BY CAST(('0x'||substr(md5('strat:'||text),1,8)) AS BIGINT) NULLS LAST,
                             text NULLS LAST, doc_id NULLS LAST) AS rn
           FROM documents)
         WHERE rn <= 10""",
    // quality-aware per-source cap: n_chars DESC first, then the same
    // salted-hash total order as llm_sample_strat
    "llm_domain_cap" ->
      """SELECT doc_id, source, n_chars FROM (
           SELECT doc_id, source, n_chars,
                  row_number() OVER (PARTITION BY source
                    ORDER BY n_chars DESC NULLS LAST,
                             CAST(('0x'||substr(md5('domcap:'||text),1,8)) AS BIGINT) NULLS LAST,
                             text NULLS LAST, doc_id NULLS LAST) AS rn
           FROM documents)
         WHERE rn <= 15""",
    "llm_minhash_incr" ->
      s"""WITH newdocs AS (SELECT doc_id + 3000000 AS doc_id, text FROM documents
                           WHERE doc_id > (SELECT max(doc_id) - 300 FROM documents)),
          ${minhashSketchCtes("newdocs", None, "n")},
          ${minhashSketchCtes("documents", None, "c")},
          cand AS (SELECT DISTINCT x.doc_id id_new, y.doc_id id_corpus
                   FROM bandsn x JOIN bandsc y
                     ON x.band_idx = y.band_idx AND x.band_val = y.band_val)
          SELECT c.id_new, c.id_corpus,
                 len(list_intersect(a.hs, b.hs)) * 1.0
                   / len(list_distinct(list_concat(a.hs, b.hs))) AS jaccard
          FROM cand c
          JOIN hsn a ON a.doc_id = c.id_new
          JOIN hsc b ON b.doc_id = c.id_corpus
          WHERE len(list_intersect(a.hs, b.hs)) * 1.0
                  / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.5""",
    // takedown: the incremental probe against the REMAINING corpus only
    // (tombstoned ids purged from the stored frames at read) — clones
    // of purged docs pair with nothing, clones of survivors still hit
    "llm_minhash_index_delete" ->
      s"""WITH remaining AS (SELECT doc_id, text FROM documents
                             WHERE doc_id % 7 <> 2),
          newdocs AS (SELECT doc_id + 3000000 AS doc_id, text FROM documents
                      WHERE doc_id > (SELECT max(doc_id) - 300 FROM documents)),
          ${minhashSketchCtes("newdocs", None, "n")},
          ${minhashSketchCtes("remaining", None, "c")},
          cand AS (SELECT DISTINCT x.doc_id id_new, y.doc_id id_corpus
                   FROM bandsn x JOIN bandsc y
                     ON x.band_idx = y.band_idx AND x.band_val = y.band_val)
          SELECT c.id_new, c.id_corpus,
                 len(list_intersect(a.hs, b.hs)) * 1.0
                   / len(list_distinct(list_concat(a.hs, b.hs))) AS jaccard
          FROM cand c
          JOIN hsn a ON a.doc_id = c.id_new
          JOIN hsc b ON b.doc_id = c.id_corpus
          WHERE len(list_intersect(a.hs, b.hs)) * 1.0
                  / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.5""",
    // takedown on the serving index: cells/codebooks stay the FULL
    // corpus's (stored statistics — deletion does not retrain), only
    // the scored set excludes the tombstoned ids
    "llm_ann_index_delete" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
          a AS (SELECT vec_id, v, cid AS cell FROM (
                  SELECT e.vec_id, e.v, c.cid,
                         row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
                  FROM e CROSS JOIN cent c) WHERE rk = 1),
          qc AS (SELECT c.cid AS cell,
                        row_number() OVER (
                          ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.cid) AS rk
                 FROM cent c CROSS JOIN (SELECT v FROM e WHERE vec_id = 0) q),
          pr AS (SELECT a.vec_id, a.v FROM a
                 JOIN (SELECT cell FROM qc WHERE rk <= 2) p ON a.cell = p.cell
                 WHERE a.vec_id <> 0 AND a.vec_id % 10 <> 3),
          seed AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8),
          sub AS (SELECT unnest(generate_series(0, 3)) AS s),
          cb AS (SELECT sub.s, seed.vec_id AS cid,
                        seed.v[sub.s*16+1 : sub.s*16+16] AS cv
                 FROM sub CROSS JOIN seed),
          enc AS (SELECT vec_id, s, cid AS code FROM (
                    SELECT pr.vec_id, b.s, b.cid,
                           row_number() OVER (PARTITION BY pr.vec_id, b.s
                             ORDER BY round(list_inner_product(b.cv, b.cv)
                               - 2 * list_inner_product(pr.v[b.s*16+1 : b.s*16+16], b.cv), 6) ASC,
                             b.cid ASC) AS rk
                    FROM pr CROSS JOIN cb b) WHERE rk = 1),
          q AS (SELECT v FROM e WHERE vec_id = 0),
          lut AS (SELECT b.s, b.cid,
                         list_inner_product(q.v[b.s*16+1 : b.s*16+16], b.cv) AS d
                  FROM cb b CROSS JOIN q)
          SELECT enc.vec_id, round(sum(lut.d), 6) AS adc_score
          FROM enc JOIN lut ON enc.s = lut.s AND enc.code = lut.cid
          GROUP BY enc.vec_id
          ORDER BY adc_score DESC, enc.vec_id LIMIT 10""",
    "llm_split" ->
      """SELECT doc_id,
                CASE WHEN h < 9800 THEN 'train'
                     WHEN h < 9900 THEN 'val'
                     ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 coalesce(CAST(('0x'||substr(md5('split:'||text),1,8)) AS BIGINT) % 10000, 0) AS h
               FROM documents)""",
    "llm_split_leakage" -> {
      s"""WITH sp AS (SELECT doc_id, text,
               CASE WHEN coalesce(CAST(('0x'||substr(md5('split:'||text),1,8)) AS BIGINT) % 10000, 0) < 9800 THEN 'train'
                    WHEN coalesce(CAST(('0x'||substr(md5('split:'||text),1,8)) AS BIGINT) % 10000, 0) < 9900 THEN 'val'
                    ELSE 'test' END AS split
             FROM documents),
          t AS (SELECT doc_id, split, string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+') AS toks
                FROM sp),
          g AS (SELECT doc_id, split,
                  list_distinct(list_transform(generate_series(1, len(toks) - 12),
                    i -> $gram13Sql)) AS gs
                FROM t WHERE len(toks) >= 13),
          h AS (SELECT doc_id, split,
                  list_distinct(list_transform(gs, s -> $hashSql)) AS hs
                FROM g),
          ev AS (SELECT DISTINCT unnest(hs) AS eh FROM h WHERE split = 'test'),
          co AS (SELECT doc_id, unnest(hs) AS eh FROM h WHERE split = 'train'),
          hits AS (SELECT doc_id, count(*) AS c
                   FROM co JOIN ev USING (eh) GROUP BY doc_id)
          SELECT d.doc_id, coalesce(hits.c, 0) AS eval_shingles,
                 coalesce(hits.c, 0) > 0 AS contaminated
          FROM (SELECT doc_id FROM sp WHERE split = 'train') d
          LEFT JOIN hits USING (doc_id)"""
    },
    // C4 line panel: same planted fixture, list_filter with the same
    // three line rules (terminal punct, >= 3 words, no 'javascript'),
    // page flags from the full text
    "llm_c4_filters" ->
      """WITH d AS (SELECT doc_id,
                text || chr(10) || 'no terminal punctuation line' || chr(10) ||
                CASE WHEN doc_id % 5 = 0 THEN 'Please enable javascript to continue reading.'
                     ELSE 'A perfectly fine closing sentence.' END ||
                CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'short one.' ELSE '' END ||
                CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'code sample { return 0; }' ELSE '' END ||
                CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'Lorem ipsum dolor sit amet.' ELSE '' END
                AS text
              FROM documents),
          k AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines,
                       list_filter(string_split(text, chr(10)), x ->
                         substr(trim(x), -1, 1) IN ('.', '!', '?', '"')
                         AND (CASE WHEN trim(x) = '' THEN 0
                              ELSE len(string_split_regex(trim(x), '[\t\n\x0B\f\r ]+')) END) >= 3
                         AND NOT contains(lower(x), 'javascript')) AS kept
                FROM d)
          SELECT doc_id, CAST(len(lines) AS INTEGER) AS n_lines,
                 CAST(len(kept) AS INTEGER) AS n_kept,
                 (NOT contains(lower(text), 'lorem ipsum')
                  AND NOT contains(lower(text), '{')) AS ok_no_banned,
                 (len(kept) >= 2) AS ok_min_lines,
                 ((NOT contains(lower(text), 'lorem ipsum')
                   AND NOT contains(lower(text), '{'))
                  AND len(kept) >= 2) AS keep,
                 coalesce(array_to_string(kept, chr(10)), '') AS clean_text
          FROM k""",
    // line dedup: same planted fixture; a line's doc-frequency counts
    // DISTINCT documents on the 60-bit hash, lines in > 1 document are
    // cut (empty lines exempt), survivors reassemble by position
    "llm_line_dedup" ->
      """WITH d AS (SELECT doc_id,
                text || chr(10) || 'Subscribe to our newsletter today.' ||
                chr(10) || chr(10) || 'Unique closing line for document ' ||
                doc_id || '.' AS text
              FROM documents),
          lx AS (SELECT doc_id, generate_subscripts(l, 1) AS ln, unnest(l) AS line
                 FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM d)),
          hot AS (SELECT h FROM (
                    SELECT h, count(*) AS df FROM (
                      SELECT DISTINCT doc_id,
                             CAST(('0x'||substr(md5(line),1,15)) AS BIGINT) AS h
                      FROM lx WHERE length(line) >= 1)
                    GROUP BY h)
                  WHERE df > 1),
          flagged AS (SELECT x.doc_id, x.ln, x.line,
                             (h.h IS NOT NULL AND length(x.line) >= 1) AS dropit
                      FROM lx x LEFT JOIN hot h
                        ON CAST(('0x'||substr(md5(x.line),1,15)) AS BIGINT) = h.h)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
                 CAST(sum(CASE WHEN dropit THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                 coalesce(string_agg(CASE WHEN NOT dropit THEN line END,
                                     chr(10) ORDER BY ln), '') AS clean_text
          FROM flagged GROUP BY doc_id""",
    // round-6 flagship: the full web-corpus prep chain — C4 line rules,
    // normalize, corpus line dedup, 25th-pct length filter, per-source
    // cap, shards — each stage the same algebra as its standalone oracle
    "llm_pipeline3" ->
      """WITH d AS (SELECT doc_id, source,
                text || ' end.' || chr(10) || 'no terminal punctuation line' || chr(10) ||
                CASE WHEN doc_id % 5 = 0 THEN 'Please enable javascript to continue reading.'
                     ELSE 'A perfectly fine closing sentence.' END ||
                CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'code sample { return 0; }' ELSE '' END ||
                CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'Lorem ipsum dolor sit amet.' ELSE '' END
                AS text
              FROM documents),
          c4 AS (SELECT doc_id, source,
                        coalesce(array_to_string(list_filter(string_split(text, chr(10)), x ->
                          substr(trim(x), -1, 1) IN ('.', '!', '?', '"')
                          AND (CASE WHEN trim(x) = '' THEN 0
                               ELSE len(string_split_regex(trim(x), '[\t\n\x0B\f\r ]+')) END) >= 3
                          AND NOT contains(lower(x), 'javascript')), chr(10)), '') AS ct,
                        (NOT contains(lower(text), 'lorem ipsum')
                         AND NOT contains(lower(text), '{')) AS okb,
                        len(list_filter(string_split(text, chr(10)), x ->
                          substr(trim(x), -1, 1) IN ('.', '!', '?', '"')
                          AND (CASE WHEN trim(x) = '' THEN 0
                               ELSE len(string_split_regex(trim(x), '[\t\n\x0B\f\r ]+')) END) >= 3
                          AND NOT contains(lower(x), 'javascript'))) AS nk
                 FROM d),
          norm AS (SELECT doc_id, source,
                          trim(regexp_replace(
                            regexp_replace(
                              regexp_replace(nfc_normalize(ct), '\r\n?', chr(10), 'g'),
                              '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
                            '[ \t\x{00A0}]+', ' ', 'g')) AS nt
                   FROM c4 WHERE okb AND nk >= 1),
          lx AS (SELECT doc_id, source, generate_subscripts(l, 1) AS ln, unnest(l) AS line
                 FROM (SELECT doc_id, source, string_split(nt, chr(10)) AS l FROM norm)),
          hot AS (SELECT h FROM (
                    SELECT h, count(*) AS df FROM (
                      SELECT DISTINCT doc_id,
                             CAST(('0x'||substr(md5(line),1,15)) AS BIGINT) AS h
                      FROM lx WHERE length(line) >= 1)
                    GROUP BY h)
                  WHERE df > 1),
          flagged AS (SELECT x.doc_id, x.source, x.ln, x.line,
                             (h.h IS NOT NULL AND length(x.line) >= 1) AS dropit
                      FROM lx x LEFT JOIN hot h
                        ON CAST(('0x'||substr(md5(x.line),1,15)) AS BIGINT) = h.h),
          dedup AS (SELECT doc_id, source,
                           coalesce(string_agg(CASE WHEN NOT dropit THEN line END,
                                               chr(10) ORDER BY ln), '') AS ct2
                    FROM flagged GROUP BY doc_id, source),
          q AS (SELECT doc_id, source, ct2, length(ct2) AS n_clean FROM dedup),
          kept AS (SELECT q.* FROM q
                   WHERE n_clean >= (SELECT quantile_cont(n_clean, 0.25) FROM q)),
          capped AS (SELECT doc_id, source, ct2, n_clean FROM (
                       SELECT *, row_number() OVER (PARTITION BY source
                         ORDER BY n_clean DESC NULLS LAST,
                                  CAST(('0x'||substr(md5('domcap:'||ct2),1,8)) AS BIGINT) NULLS LAST,
                                  ct2 NULLS LAST, doc_id NULLS LAST) AS rn
                       FROM kept)
                     WHERE rn <= 25)
          SELECT doc_id, source, CAST(n_clean AS INTEGER) AS n_clean,
                 CAST(CAST(('0x'||substr(md5('p3:'||ct2),1,8)) AS BIGINT) % 8 AS INTEGER) AS shard,
                 CAST(('0x'||substr(md5('ord:p3:'||ct2),1,8)) AS BIGINT) AS order_key
          FROM capped""",
    // bigram LM: identical hash-keyed count algebra; the IEEE ln
    // argument is built with the same op sequence so only libm's 1-ulp
    // spread is in play — absorbed by round(.,4)
    "llm_bigram_lp" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS tk
                    FROM documents),
          uh AS (SELECT doc_id, CAST(('0x'||substr(md5(w),1,15)) AS BIGINT) AS h
                 FROM (SELECT doc_id, unnest(tk) AS w FROM t)),
          cu AS (SELECT h, count(*) AS cu FROM uh GROUP BY h),
          v AS (SELECT count(*) AS v FROM cu),
          b AS (SELECT doc_id, tk[i] AS w1, tk[i] || ' ' || tk[i+1] AS bg
                FROM (SELECT doc_id, tk,
                             unnest(generate_series(1, len(tk) - 1)) AS i
                      FROM t WHERE len(tk) >= 2)),
          btf AS (SELECT doc_id,
                         CAST(('0x'||substr(md5(bg),1,15)) AS BIGINT) AS bh,
                         CAST(('0x'||substr(md5(w1),1,15)) AS BIGINT) AS wh,
                         count(*) AS tf
                  FROM b GROUP BY 1, 2, 3),
          cb AS (SELECT bh, sum(tf) AS cb FROM btf GROUP BY bh)
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
                 round(sum(tf * ln((cb + 1.0) / (cu + v))) / sum(tf), 4)
                   AS avg_logprob
          FROM btf JOIN cb USING (bh) JOIN cu ON cu.h = btf.wh, v
          GROUP BY doc_id""",
    // interpolated KN trigram: identical trigram-table-derived count
    // algebra on the same 60-bit hashes; each position's probability is
    // the SAME IEEE op sequence (fixed division/association order,
    // D = 0.75 binary-exact), so only libm-ln spread is in play —
    // absorbed by round(.,4)
    "llm_trigram_kn" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS tk
                    FROM documents),
          tr AS (SELECT doc_id,
                        tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS tg,
                        tk[i] || ' ' || tk[i+1] AS b12,
                        tk[i+1] || ' ' || tk[i+2] AS b23,
                        tk[i+1] AS w2, tk[i+2] AS w3
                 FROM (SELECT doc_id, tk,
                              unnest(generate_series(1, len(tk) - 2)) AS i
                       FROM t WHERE len(tk) >= 3)),
          r AS (SELECT doc_id,
                       CAST(('0x'||substr(md5(tg),1,15)) AS BIGINT) AS th,
                       CAST(('0x'||substr(md5(b12),1,15)) AS BIGINT) AS bh12,
                       CAST(('0x'||substr(md5(b23),1,15)) AS BIGINT) AS bh23,
                       CAST(('0x'||substr(md5(w2),1,15)) AS BIGINT) AS mh,
                       CAST(('0x'||substr(md5(w3),1,15)) AS BIGINT) AS w3h
                FROM tr),
          types AS (SELECT DISTINCT th, bh12, bh23, mh, w3h FROM r),
          c3 AS (SELECT th, count(*) AS c3 FROM r GROUP BY th),
          t12 AS (SELECT bh12, count(*) AS ctx12,
                         count(DISTINCT th) AS n1p12 FROM r GROUP BY bh12),
          t23 AS (SELECT bh23, count(*) AS n1p23 FROM types GROUP BY bh23),
          tmid AS (SELECT mh, count(*) AS mid2,
                          count(DISTINCT w3h) AS n1p2dot
                   FROM types GROUP BY mh),
          sfx AS (SELECT DISTINCT mh, w3h FROM types),
          -- nbt rides tw3 as a window total rather than a 1-row cross
          -- join: a bare cross product among five dimension joins sends
          -- DuckDB's join-order optimizer into a cartesian blowup
          tw3 AS (SELECT w3h, count(*) AS n1pw3,
                         CAST(sum(count(*)) OVER () AS BIGINT) AS nbt
                  FROM sfx GROUP BY w3h),
          tf AS (SELECT doc_id, th, bh12, bh23, mh, w3h, count(*) AS tf
                 FROM r GROUP BY 1, 2, 3, 4, 5, 6)
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_trigrams,
                 round(sum(tf * ln(
                   (c3 - 0.75) / ctx12 + 0.75 * n1p12 / ctx12 *
                     ((n1p23 - 0.75) / mid2 + 0.75 * n1p2dot / mid2 *
                       (n1pw3 / nbt)))) / sum(tf), 4) AS avg_logprob
          FROM tf JOIN c3 USING (th) JOIN t12 USING (bh12)
               JOIN t23 USING (bh23) JOIN tmid USING (mh)
               JOIN tw3 USING (w3h)
          GROUP BY doc_id""",
    // stored-model KN scoring: counts trained on the EVEN half only,
    // every doc scored with the branchy back-off (unseen trigram ->
    // discounted-to-zero numerator; unseen context/middle -> back off a
    // level; unseen word -> the add-1 OOV slot at the unigram floor)
    "llm_trigram_kn_stored" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS tk
                    FROM documents),
          tr AS (SELECT doc_id,
                        tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS tg,
                        tk[i] || ' ' || tk[i+1] AS b12,
                        tk[i+1] || ' ' || tk[i+2] AS b23,
                        tk[i+1] AS w2, tk[i+2] AS w3
                 FROM (SELECT doc_id, tk,
                              unnest(generate_series(1, len(tk) - 2)) AS i
                       FROM t WHERE len(tk) >= 3)),
          r AS (SELECT doc_id,
                       CAST(('0x'||substr(md5(tg),1,15)) AS BIGINT) AS th,
                       CAST(('0x'||substr(md5(b12),1,15)) AS BIGINT) AS bh12,
                       CAST(('0x'||substr(md5(b23),1,15)) AS BIGINT) AS bh23,
                       CAST(('0x'||substr(md5(w2),1,15)) AS BIGINT) AS mh,
                       CAST(('0x'||substr(md5(w3),1,15)) AS BIGINT) AS w3h
                FROM tr),
          rt AS (SELECT * FROM r WHERE doc_id % 2 = 0),
          types AS (SELECT DISTINCT th, bh12, bh23, mh, w3h FROM rt),
          c3 AS (SELECT th, count(*) AS c3 FROM rt GROUP BY th),
          t12 AS (SELECT bh12, count(*) AS ctx12,
                         count(DISTINCT th) AS n1p12 FROM rt GROUP BY bh12),
          t23 AS (SELECT bh23, count(*) AS n1p23 FROM types GROUP BY bh23),
          tmid AS (SELECT mh, count(*) AS mid2,
                          count(DISTINCT w3h) AS n1p2dot
                   FROM types GROUP BY mh),
          sfx AS (SELECT DISTINCT mh, w3h FROM types),
          tw3 AS (SELECT w3h, count(*) AS n1pw3,
                         CAST(sum(count(*)) OVER () AS BIGINT) AS nbt,
                         CAST(count(*) OVER () AS BIGINT) AS nw3
                  FROM sfx GROUP BY w3h),
          st AS (SELECT max(nbt) AS nbt, max(nw3) AS nw3 FROM tw3),
          tf AS (SELECT doc_id, th, bh12, bh23, mh, w3h, count(*) AS tf
                 FROM r GROUP BY 1, 2, 3, 4, 5, 6),
          jt AS (SELECT f.*, st.nbt, st.nw3 FROM tf f, st),
          j AS (SELECT f.doc_id, f.tf, f.nbt, f.nw3, c.c3, x.ctx12,
                       x.n1p12, s23.n1p23, m.mid2, m.n1p2dot, u.n1pw3
                FROM jt f
                LEFT JOIN c3 c USING (th)
                LEFT JOIN t12 x USING (bh12)
                LEFT JOIN t23 s23 USING (bh23)
                LEFT JOIN tmid m USING (mh)
                LEFT JOIN (SELECT w3h, n1pw3 FROM tw3) u USING (w3h))
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_trigrams,
                 CAST(sum(CASE WHEN c3 IS NULL THEN tf ELSE 0 END)
                   AS BIGINT) AS n_unseen,
                 round(sum(tf * ln(
                   CASE WHEN ctx12 IS NULL THEN
                     CASE WHEN mid2 IS NULL THEN
                       (coalesce(n1pw3, 0) + 1.0) / (nbt + nw3 + 1.0)
                     ELSE
                       greatest(coalesce(n1p23, 0) - 0.75, 0.0) / mid2
                         + 0.75 * n1p2dot / mid2 *
                           ((coalesce(n1pw3, 0) + 1.0) / (nbt + nw3 + 1.0))
                     END
                   ELSE
                     greatest(coalesce(c3, 0) - 0.75, 0.0) / ctx12
                       + 0.75 * n1p12 / ctx12 *
                         (CASE WHEN mid2 IS NULL THEN
                            (coalesce(n1pw3, 0) + 1.0) / (nbt + nw3 + 1.0)
                          ELSE
                            greatest(coalesce(n1p23, 0) - 0.75, 0.0) / mid2
                              + 0.75 * n1p2dot / mid2 *
                                ((coalesce(n1pw3, 0) + 1.0)
                                  / (nbt + nw3 + 1.0))
                          END)
                   END)) / sum(tf), 4) AS avg_logprob
          FROM j GROUP BY doc_id""",
    // script detection: same planted fixture via chr() codepoints, same
    // portable char-class counts, same priority-ordered argmax
    "llm_script" ->
      """WITH p AS (SELECT doc_id,
                CASE CAST(doc_id % 9 AS INTEGER)
                  WHEN 0 THEN repeat(chr(1044), 5)
                  WHEN 1 THEN repeat(chr(20013), 4)
                  WHEN 2 THEN repeat(chr(1575), 6)
                  WHEN 3 THEN repeat(chr(945), 5)
                  WHEN 4 THEN repeat(chr(44032), 3)
                  WHEN 5 THEN repeat(chr(2325), 4)
                  WHEN 6 THEN '123 456'
                  WHEN 7 THEN text || ' ' || repeat(chr(1044), 2)
                  ELSE text END AS t
              FROM documents),
          c AS (SELECT doc_id,
                length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')) AS lat,
                length(t) - length(regexp_replace(t, '[\x{0400}-\x{04FF}]', '', 'g')) AS cyr,
                length(t) - length(regexp_replace(t, '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]', '', 'g')) AS cjk,
                length(t) - length(regexp_replace(t, '[\x{0600}-\x{06FF}]', '', 'g')) AS ara,
                length(t) - length(regexp_replace(t, '[\x{0370}-\x{03FF}]', '', 'g')) AS gre,
                length(t) - length(regexp_replace(t, '[\x{AC00}-\x{D7AF}]', '', 'g')) AS han,
                length(t) - length(regexp_replace(t, '[\x{0900}-\x{097F}]', '', 'g')) AS dev
                FROM p)
          SELECT doc_id,
                 CASE WHEN greatest(lat, cyr, cjk, ara, gre, han, dev) <= 0 THEN 'other'
                      WHEN lat = greatest(lat, cyr, cjk, ara, gre, han, dev) THEN 'latin'
                      WHEN cyr = greatest(lat, cyr, cjk, ara, gre, han, dev) THEN 'cyrillic'
                      WHEN cjk = greatest(lat, cyr, cjk, ara, gre, han, dev) THEN 'cjk'
                      WHEN ara = greatest(lat, cyr, cjk, ara, gre, han, dev) THEN 'arabic'
                      WHEN gre = greatest(lat, cyr, cjk, ara, gre, han, dev) THEN 'greek'
                      WHEN han = greatest(lat, cyr, cjk, ara, gre, han, dev) THEN 'hangul'
                      ELSE 'devanagari' END AS script
          FROM c""",
    // tempered mixing: same rate algebra (round(.,6) before the floor
    // absorbs libm pow spread), same salted hash gate
    "llm_temperature_mix" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
          t AS (SELECT sum(n) AS nn, sum(pow(n, 0.5)) AS z FROM c),
          r AS (SELECT source,
                       CAST(least(10000, floor(round(
                         10000 * 0.25 * nn * pow(n, 0.5) / z / n, 6))) AS INTEGER) AS bp
                FROM c, t)
          SELECT d.doc_id, d.source
          FROM documents d JOIN r USING (source)
          WHERE CAST(('0x'||substr(md5('mix:'||text),1,8)) AS BIGINT) % 10000 < bp""",
    // per-(source, lang) statistics panel
    "llm_corpus_report" ->
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(len(string_split_regex(text, '[\t\n\x0B\f\r ]+'))) AS BIGINT) AS n_tokens,
                CAST(sum(length(text)) AS BIGINT) AS n_chars,
                round(avg(length(text)), 4) AS avg_chars,
                CAST(min(length(text)) AS INTEGER) AS min_chars,
                CAST(max(length(text)) AS INTEGER) AS max_chars
         FROM documents GROUP BY source, lang""",
    // normalization: same planted fixture via chr() codepoints; NFC
    // (utf8proc vs JDK — same Unicode spec), CRLF->LF, control strip,
    // horizontal-whitespace collapse + trim, in the same order
    "llm_normalize" ->
      """WITH d AS (SELECT doc_id,
                text || '  cafe' || chr(769) || ' ' || chr(160) || ' nai' ||
                chr(776) || 've' || chr(13) || chr(10) || 'x' || chr(1) || 'y  '
                AS text
              FROM documents),
          n AS (SELECT doc_id,
                trim(regexp_replace(
                  regexp_replace(
                    regexp_replace(nfc_normalize(text), '\r\n?', chr(10), 'g'),
                    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
                  '[ \t\x{00A0}]+', ' ', 'g')) AS norm_text
              FROM d)
          SELECT doc_id, norm_text,
                 CAST(length(norm_text) AS INTEGER) AS n_chars_norm
          FROM n""",
    // sentence segmentation: identical fixture + identical RE2-safe
    // pattern (terminal-punct runs; \z-anchored tail), trim + drop-empty
    "llm_sentences" ->
      """WITH d AS (SELECT doc_id,
               text || ' Ellipsis... mixed?! A tail without terminator' || chr(10) AS text
             FROM documents),
          s AS (SELECT doc_id, list_filter(list_transform(
                  regexp_extract_all(text, '[^.!?]+[.!?]+|[^.!?]+\z'),
                  x -> trim(x)), x -> length(x) > 0) AS ss
                FROM d)
          SELECT doc_id, sent_no, sentence,
                 CAST(length(sentence) AS INTEGER) AS n_chars
          FROM (SELECT doc_id,
                       CAST(generate_subscripts(ss, 1) - 1 AS INTEGER) AS sent_no,
                       unnest(ss) AS sentence
                FROM s)""",
    // markup strip: identical fixture + identical regex/replace chain
    // (RE2-safe patterns — no backreferences; &amp; unescapes LAST)
    "llm_html_strip" ->
      s"""WITH d AS (SELECT doc_id, '$htmlPre' || text || '$htmlPost' AS h
                     FROM documents),
          $stripChainSql
          SELECT doc_id, clean_text,
                 CAST(length(clean_text) AS INTEGER) AS n_chars
          FROM f""",
    // raw-crawl pipeline: strip chain over the DOUBLED corpus →
    // normalize (llm_normalize's chain) → gopher keep (llm_gopher's
    // formulas, symbol 0.2) → keep-first dedup on the fingerprint →
    // shard/order hashes (llm_shards' idiom, salt p5:)
    "llm_pipeline5" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents
                        UNION ALL SELECT doc_id + 700000, text FROM documents),
          d AS (SELECT doc_id, '$htmlPre' || text || '$htmlPost' AS h FROM base),
          $stripChainSql,
          n AS (SELECT doc_id,
                  trim(regexp_replace(
                    regexp_replace(
                      regexp_replace(nfc_normalize(clean_text), '\\r\\n?', chr(10), 'g'),
                      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
                    '[ \\t\\x{00A0}]+', ' ', 'g')) AS text
                FROM f),
          g AS (SELECT doc_id, text,
                  CAST(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')) AS INTEGER) AS n_tokens,
                  round(length(regexp_replace(text, '[\\t\\n\\x0B\\f\\r ]+', '', 'g')) * 1.0
                        / greatest(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')), 1), 6) AS mean_word_len,
                  round((length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) * 1.0
                        / greatest(length(text), 1), 6) AS symbol_ratio,
                  CAST(len(list_filter(string_split_regex(lower(text), '[\\t\\n\\x0B\\f\\r ]+'),
                       t -> t IN ($stopsEn))) AS INTEGER) AS stop_hits
                FROM n),
          k AS (SELECT doc_id, text FROM g
                WHERE n_tokens >= 10 AND n_tokens <= 100000
                  AND mean_word_len >= 2.0 AND mean_word_len <= 10.0
                  AND symbol_ratio <= 0.2 AND stop_hits >= 1),
          dd AS (SELECT doc_id, text FROM (
                   SELECT doc_id, text, row_number() OVER (
                     PARTITION BY md5(regexp_replace(lower(text), '[\\t\\n\\x0B\\f\\r ]+', ' ', 'g'))
                     ORDER BY doc_id) AS rn FROM k) WHERE rn = 1)
          SELECT doc_id,
                 CAST(CAST(('0x'||substr(md5('p5:'||text),1,8)) AS BIGINT) % 8 AS INTEGER) AS shard,
                 CAST(('0x'||substr(md5('ord:p5:'||text),1,8)) AS BIGINT) AS order_key
          FROM dd""",
    // crawl-to-corpus: the WARC leg is an exact round-trip, so the
    // oracle replays llm_pipeline5's strip/normalize/gopher/dedup chain
    // from the documents table and ends in llm_pack's prefix-sum tail
    // (id order is preserved by the 64-doc bucket tiering)
    "llm_pipeline14" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents
                        UNION ALL SELECT doc_id + 700000, text FROM documents),
          d AS (SELECT doc_id, '$htmlPre' || text || '$htmlPost' AS h FROM base),
          $stripChainSql,
          n AS (SELECT doc_id,
                  trim(regexp_replace(
                    regexp_replace(
                      regexp_replace(nfc_normalize(clean_text), '\\r\\n?', chr(10), 'g'),
                      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
                    '[ \\t\\x{00A0}]+', ' ', 'g')) AS text
                FROM f),
          g AS (SELECT doc_id, text,
                  CAST(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')) AS INTEGER) AS n_tokens,
                  round(length(regexp_replace(text, '[\\t\\n\\x0B\\f\\r ]+', '', 'g')) * 1.0
                        / greatest(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')), 1), 6) AS mean_word_len,
                  round((length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) * 1.0
                        / greatest(length(text), 1), 6) AS symbol_ratio,
                  CAST(len(list_filter(string_split_regex(lower(text), '[\\t\\n\\x0B\\f\\r ]+'),
                       t -> t IN ($stopsEn))) AS INTEGER) AS stop_hits
                FROM n),
          k AS (SELECT doc_id, text FROM g
                WHERE n_tokens >= 10 AND n_tokens <= 100000
                  AND mean_word_len >= 2.0 AND mean_word_len <= 10.0
                  AND symbol_ratio <= 0.2 AND stop_hits >= 1),
          dd AS (SELECT doc_id, text FROM (
                   SELECT doc_id, text, row_number() OVER (
                     PARTITION BY md5(regexp_replace(lower(text), '[\\t\\n\\x0B\\f\\r ]+', ' ', 'g'))
                     ORDER BY doc_id) AS rn FROM k) WHERE rn = 1),
          t AS (SELECT doc_id,
                  CAST(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')) AS BIGINT) AS n_toks
                FROM dd),
          o AS (SELECT doc_id, n_toks,
                  CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                    AS token_offset
                FROM t)
          SELECT doc_id, n_toks, token_offset,
                 token_offset // 512 AS first_seq,
                 (token_offset + n_toks - 1) // 512 AS last_seq
          FROM o""",
    // 16-token blocks; a block's doc-frequency counts DISTINCT documents
    // on the 60-bit shared hash (mirroring the Spark distinct-on-hash),
    // blocks in > 1 document are cut, survivors reassemble by position
    "llm_span_dedup" ->
      """WITH toks AS (
            SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
            FROM (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS t
                  FROM documents)),
          spans AS (
            SELECT doc_id, pos // 16 AS blk,
                   string_agg(tok, ' ' ORDER BY pos) AS span
            FROM toks GROUP BY doc_id, blk),
          hot AS (
            SELECT h FROM (
              SELECT h, count(*) AS df FROM (
                SELECT DISTINCT doc_id,
                       CAST(('0x'||substr(md5(span),1,15)) AS BIGINT) AS h
                FROM spans)
              GROUP BY h)
            WHERE df > 1),
          flagged AS (
            SELECT s.doc_id, s.blk, s.span, h.h IS NOT NULL AS dropit
            FROM spans s LEFT JOIN hot h
              ON CAST(('0x'||substr(md5(s.span),1,15)) AS BIGINT) = h.h)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                 CAST(sum(CASE WHEN dropit THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                 coalesce(string_agg(CASE WHEN NOT dropit THEN span END,
                                     ' ' ORDER BY blk), '') AS clean_text
          FROM flagged GROUP BY doc_id""",
    // SemDeDup: one Lloyd round on the base corpus (cent0 -> cent1,
    // identical CTE chain to llm_ann_ivf_trained's first round), clones
    // assigned with the trained cells, within-cell cosine pairs at
    // >= 0.99, keep = ids never appearing as a pair's larger side
    "llm_semdedup" ->
      """WITH cent0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                        FROM embeddings ORDER BY vec_id LIMIT 8),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          s1 AS (SELECT e.vec_id, e.v, c.cid,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
                 FROM e CROSS JOIN cent0 c),
          a1 AS (SELECT vec_id, v, cid AS cell FROM s1 WHERE rk = 1),
          ex1 AS (SELECT cell,
                         CAST(unnest(generate_series(1, len(v))) - 1 AS INTEGER) AS pos,
                         unnest(v) AS elem
                  FROM a1),
          up1 AS (SELECT cell, pos,
                         round(CAST(sum(CAST(elem AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS c_val
                  FROM ex1 GROUP BY cell, pos),
          cent1 AS (SELECT cell AS cid, list(c_val ORDER BY pos) AS cv
                    FROM up1 GROUP BY cell),
          corpus AS (SELECT vec_id, v FROM e
                     UNION ALL SELECT vec_id + 10000, v FROM e),
          s2 AS (SELECT x.vec_id, x.v, c.cid,
                        row_number() OVER (PARTITION BY x.vec_id
                          ORDER BY list_cosine_similarity(x.v, c.cv) DESC, c.cid) AS rk
                 FROM corpus x CROSS JOIN cent1 c),
          a2 AS (SELECT vec_id, v, cid AS cell FROM s2 WHERE rk = 1),
          pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                    FROM a2 a JOIN a2 b
                      ON a.cell = b.cell AND a.vec_id < b.vec_id
                    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.99)
          SELECT x.vec_id, x.cell FROM a2 x
          WHERE x.vec_id NOT IN (SELECT id_b FROM pairs)""",
    // occurrence and distinct counts per n on the shared 60-bit hashes
    // (counting identical hashes on both sides, so the rare collision
    // cannot mismatch)
    "llm_distinct_n" ->
      """WITH t AS (SELECT string_split_regex(text, '[\t\n\x0B\f\r ]+') AS toks FROM documents),
          a AS (SELECT 1 AS n, s FROM (SELECT unnest(toks) AS s FROM t)
                UNION ALL
                SELECT 2, toks[i] || ' ' || toks[i+1]
                FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
                      FROM t WHERE len(toks) >= 2)
                UNION ALL
                SELECT 3, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                FROM (SELECT toks, unnest(generate_series(1, len(toks) - 2)) AS i
                      FROM t WHERE len(toks) >= 3)),
          h AS (SELECT n, CAST(('0x'||substr(md5(s),1,15)) AS BIGINT) AS h FROM a)
         SELECT n, CAST(count(*) AS BIGINT) AS total_ngrams,
                CAST(count(DISTINCT h) AS BIGINT) AS distinct_ngrams,
                round(count(DISTINCT h) * 1.0 / greatest(count(*), 1), 6)
                  AS diversity
         FROM h GROUP BY n""",
    // exact top-20 token counts (the llm_vocab algebra and tie order);
    // the contract flag is attested Spark-side and must hold
    "llm_cms_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(string_split_regex(text, '[\t\n\x0B\f\r ]+')) AS t
                      FROM documents),
          c AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t)
         SELECT t AS token, CAST(cnt AS BIGINT) AS n_occurrences,
                true AS within_contract
         FROM c ORDER BY cnt DESC, t ASC LIMIT 20""",
    // sentence explode (the llm_sentences algebra, raw fixture) ->
    // bigram LM over sentences-as-docs (the llm_bigram_lp algebra,
    // sid = doc_id*1e6 + sent_no) -> bottom-quintile + unscorable drop
    // -> in-order reassembly; every doc reports, filtered-empty as ''
    "llm_sentence_filter" ->
      """WITH s0 AS (SELECT doc_id, list_filter(list_transform(
                       regexp_extract_all(text, '[^.!?]+[.!?]+|[^.!?]+\z'),
                       x -> trim(x)), x -> length(x) > 0) AS ss
                     FROM documents),
          sid AS (SELECT doc_id,
                         CAST(generate_subscripts(ss, 1) - 1 AS INTEGER) AS sent_no,
                         unnest(ss) AS sentence,
                         doc_id * 1000000 + (generate_subscripts(ss, 1) - 1) AS sid
                  FROM s0),
          t AS (SELECT sid, string_split_regex(sentence, '[\t\n\x0B\f\r ]+') AS tk FROM sid),
          uh AS (SELECT CAST(('0x'||substr(md5(w),1,15)) AS BIGINT) AS h
                 FROM (SELECT unnest(tk) AS w FROM t)),
          cu AS (SELECT h, count(*) AS cu FROM uh GROUP BY h),
          v AS (SELECT count(*) AS v FROM cu),
          b AS (SELECT sid, tk[i] AS w1, tk[i] || ' ' || tk[i+1] AS bg
                FROM (SELECT sid, tk,
                             unnest(generate_series(1, len(tk) - 1)) AS i
                      FROM t WHERE len(tk) >= 2)),
          btf AS (SELECT sid,
                         CAST(('0x'||substr(md5(bg),1,15)) AS BIGINT) AS bh,
                         CAST(('0x'||substr(md5(w1),1,15)) AS BIGINT) AS wh,
                         count(*) AS tf
                  FROM b GROUP BY 1, 2, 3),
          cb AS (SELECT bh, sum(tf) AS cb FROM btf GROUP BY bh),
          lp AS (SELECT sid, round(sum(tf * ln((cb + 1.0) / (cu + v))) / sum(tf), 4)
                        AS alp
                 FROM btf JOIN cb USING (bh) JOIN cu ON cu.h = btf.wh, v
                 GROUP BY sid),
          thr AS (SELECT quantile_cont(alp, 0.2) AS t FROM lp),
          keptq AS (SELECT sid FROM lp, thr WHERE alp >= t),
          re AS (SELECT x.doc_id, count(*) AS n_kept,
                        string_agg(x.sentence, ' ' ORDER BY x.sent_no) AS clean_text
                 FROM sid x JOIN keptq USING (sid) GROUP BY x.doc_id),
          tot AS (SELECT doc_id, count(*) AS n_sentences FROM sid GROUP BY doc_id)
         SELECT d.doc_id,
                coalesce(tot.n_sentences, 0) AS n_sentences,
                coalesce(re.n_kept, 0) AS n_kept,
                coalesce(re.clean_text, '') AS clean_text
         FROM (SELECT doc_id FROM documents) d
         LEFT JOIN tot USING (doc_id) LEFT JOIN re USING (doc_id)""",
    // per-query exact top-k: rank on the ROUNDED similarity (the scored
    // column Spark orders on), neighbor-id tie-break
    "llm_knn_join" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 10),
          c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
                FROM embeddings),
          s AS (SELECT q.query_id, c.neighbor_id,
                       round(list_cosine_similarity(c.cv, q.qv), 6) AS cos_sim,
                       row_number() OVER (PARTITION BY q.query_id
                         ORDER BY round(list_cosine_similarity(c.cv, q.qv), 6) DESC NULLS LAST,
                                  c.neighbor_id NULLS LAST) AS rn
                FROM c CROSS JOIN q
                WHERE c.neighbor_id <> q.query_id)
         SELECT query_id, neighbor_id, cos_sim FROM s WHERE rn <= 5""",
    // IVF-pruned variant: corpus rows carry their argmax cell, queries
    // their top-2 cells (both ranked on the UNROUNDED similarity, tie
    // lowest cid — the cellOf/topCellsOf contract), candidates from the
    // cell equi-join only
    "llm_knn_join_ivf" ->
      """WITH cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                       FROM embeddings ORDER BY vec_id LIMIT 8),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          ca AS (SELECT e.vec_id, c.cid,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
                 FROM e CROSS JOIN cent c),
          corpus AS (SELECT e.vec_id AS neighbor_id, e.v AS cv2, a.cid AS cell
                     FROM e JOIN (SELECT vec_id, cid FROM ca WHERE rk = 1) a
                       USING (vec_id)),
          qry AS (SELECT e.vec_id AS query_id, e.v AS qv, a.cid AS cell
                  FROM e JOIN (SELECT vec_id, cid FROM ca WHERE rk <= 2) a
                    USING (vec_id)
                  WHERE e.vec_id < 10),
          s AS (SELECT q.query_id, c.neighbor_id,
                       round(list_cosine_similarity(c.cv2, q.qv), 6) AS cos_sim,
                       row_number() OVER (PARTITION BY q.query_id
                         ORDER BY round(list_cosine_similarity(c.cv2, q.qv), 6) DESC NULLS LAST,
                                  c.neighbor_id NULLS LAST) AS rn
                FROM corpus c JOIN qry q ON c.cell = q.cell
                WHERE c.neighbor_id <> q.query_id)
         SELECT query_id, neighbor_id, cos_sim FROM s WHERE rn <= 5""",
    // the recall report: the exact and IVF knn replays composed —
    // per-query overlap of the two top-5 sets, recall = hits / n_exact
    "llm_ann_recall" ->
      """WITH cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                       FROM embeddings ORDER BY vec_id LIMIT 8),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          sx AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                        row_number() OVER (PARTITION BY q.vec_id
                          ORDER BY round(list_cosine_similarity(c.v, q.v), 6) DESC NULLS LAST,
                                   c.vec_id NULLS LAST) AS rn
                 FROM e c CROSS JOIN (SELECT * FROM e WHERE vec_id < 10) q
                 WHERE c.vec_id <> q.vec_id),
          ex AS (SELECT query_id, neighbor_id FROM sx WHERE rn <= 5),
          ca AS (SELECT e.vec_id, c.cid,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
                 FROM e CROSS JOIN cent c),
          corpus AS (SELECT e.vec_id AS neighbor_id, e.v AS cv2, a.cid AS cell
                     FROM e JOIN (SELECT vec_id, cid FROM ca WHERE rk = 1) a
                       USING (vec_id)),
          qry AS (SELECT e.vec_id AS query_id, e.v AS qv, a.cid AS cell
                  FROM e JOIN (SELECT vec_id, cid FROM ca WHERE rk <= 2) a
                    USING (vec_id)
                  WHERE e.vec_id < 10),
          sa AS (SELECT q.query_id, c.neighbor_id,
                        row_number() OVER (PARTITION BY q.query_id
                          ORDER BY round(list_cosine_similarity(c.cv2, q.qv), 6) DESC NULLS LAST,
                                   c.neighbor_id NULLS LAST) AS rn
                 FROM corpus c JOIN qry q ON c.cell = q.cell
                 WHERE c.neighbor_id <> q.query_id),
          ap AS (SELECT query_id, neighbor_id FROM sa WHERE rn <= 5),
          nex AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY query_id),
          nhit AS (SELECT ex.query_id, count(*) AS c
                   FROM ex JOIN ap ON ex.query_id = ap.query_id
                     AND ex.neighbor_id = ap.neighbor_id
                   GROUP BY ex.query_id)
          SELECT n.query_id, CAST(n.n_exact AS BIGINT) AS n_exact,
                 CAST(coalesce(h.c, 0) AS BIGINT) AS n_hit,
                 round(coalesce(h.c, 0) * 1.0 / n.n_exact, 6) AS recall_at_k
          FROM nex n LEFT JOIN nhit h ON n.query_id = h.query_id""",
    // batch serving against the stored index: corpus rows carry their
    // argmax cell (the encode-time cellOf), queries their top-2 cells
    // and a per-query LUT over the seed codebooks; pairs from the cell
    // equi-join, score = sum of the query's LUT entries at the stored
    // codes, rank on the ROUNDED score per query
    "llm_knn_join_stored" ->
      """WITH cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                       FROM embeddings ORDER BY vec_id LIMIT 8),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          ca AS (SELECT e.vec_id, c.cid,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
                 FROM e CROSS JOIN cent c),
          corpus AS (SELECT e.vec_id AS neighbor_id, a.cid AS cell
                     FROM e JOIN (SELECT vec_id, cid FROM ca WHERE rk = 1) a
                       USING (vec_id)),
          qry AS (SELECT e.vec_id AS query_id, a.cid AS cell
                  FROM e JOIN (SELECT vec_id, cid FROM ca WHERE rk <= 2) a
                    USING (vec_id)
                  WHERE e.vec_id < 10),
          seed AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8),
          sub AS (SELECT unnest(generate_series(0, 3)) AS s),
          cb AS (SELECT sub.s, seed.vec_id AS cid,
                        seed.v[sub.s*16+1 : sub.s*16+16] AS cv
                 FROM sub CROSS JOIN seed),
          enc AS (SELECT vec_id, s, cid AS code FROM (
                    SELECT e.vec_id, b.s, b.cid,
                           row_number() OVER (PARTITION BY e.vec_id, b.s
                             ORDER BY round(list_inner_product(b.cv, b.cv)
                               - 2 * list_inner_product(e.v[b.s*16+1 : b.s*16+16], b.cv), 6) ASC,
                             b.cid ASC) AS rk
                    FROM e CROSS JOIN cb b) WHERE rk = 1),
          qv AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 10),
          lut AS (SELECT qv.query_id, b.s, b.cid,
                         list_inner_product(qv.v[b.s*16+1 : b.s*16+16], b.cv) AS d
                  FROM cb b CROSS JOIN qv),
          pairs AS (SELECT q.query_id, c.neighbor_id
                    FROM corpus c JOIN qry q ON c.cell = q.cell
                    WHERE c.neighbor_id <> q.query_id),
          sc AS (SELECT p.query_id, p.neighbor_id, round(sum(l.d), 6) AS adc_score
                 FROM pairs p
                 JOIN enc ON enc.vec_id = p.neighbor_id
                 JOIN lut l ON l.query_id = p.query_id
                           AND l.s = enc.s AND l.cid = enc.code
                 GROUP BY p.query_id, p.neighbor_id)
         SELECT query_id, neighbor_id, adc_score FROM (
           SELECT query_id, neighbor_id, adc_score,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY adc_score DESC NULLS LAST,
                             neighbor_id NULLS LAST) AS rn
           FROM sc)
         WHERE rn <= 5""",
    // batch two-stage retrieval: the llm_knn_join_stored chain proposes
    // each query's ADC top-15, exact cosine over only those candidates
    // ranks the final 5 per query
    "llm_knn_join_rerank" ->
      """WITH cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                       FROM embeddings ORDER BY vec_id LIMIT 8),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          ca AS (SELECT e.vec_id, c.cid,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
                 FROM e CROSS JOIN cent c),
          corpus AS (SELECT e.vec_id AS neighbor_id, a.cid AS cell
                     FROM e JOIN (SELECT vec_id, cid FROM ca WHERE rk = 1) a
                       USING (vec_id)),
          qry AS (SELECT e.vec_id AS query_id, a.cid AS cell
                  FROM e JOIN (SELECT vec_id, cid FROM ca WHERE rk <= 2) a
                    USING (vec_id)
                  WHERE e.vec_id < 10),
          seed AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8),
          sub AS (SELECT unnest(generate_series(0, 3)) AS s),
          cb AS (SELECT sub.s, seed.vec_id AS cid,
                        seed.v[sub.s*16+1 : sub.s*16+16] AS cv
                 FROM sub CROSS JOIN seed),
          enc AS (SELECT vec_id, s, cid AS code FROM (
                    SELECT e.vec_id, b.s, b.cid,
                           row_number() OVER (PARTITION BY e.vec_id, b.s
                             ORDER BY round(list_inner_product(b.cv, b.cv)
                               - 2 * list_inner_product(e.v[b.s*16+1 : b.s*16+16], b.cv), 6) ASC,
                             b.cid ASC) AS rk
                    FROM e CROSS JOIN cb b) WHERE rk = 1),
          qv AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 10),
          lut AS (SELECT qv.query_id, b.s, b.cid,
                         list_inner_product(qv.v[b.s*16+1 : b.s*16+16], b.cv) AS d
                  FROM cb b CROSS JOIN qv),
          pairs AS (SELECT q.query_id, c.neighbor_id
                    FROM corpus c JOIN qry q ON c.cell = q.cell
                    WHERE c.neighbor_id <> q.query_id),
          sc AS (SELECT p.query_id, p.neighbor_id, round(sum(l.d), 6) AS adc_score
                 FROM pairs p
                 JOIN enc ON enc.vec_id = p.neighbor_id
                 JOIN lut l ON l.query_id = p.query_id
                           AND l.s = enc.s AND l.cid = enc.code
                 GROUP BY p.query_id, p.neighbor_id),
          cand AS (SELECT query_id, neighbor_id FROM (
                     SELECT query_id, neighbor_id,
                            row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_score DESC NULLS LAST,
                                       neighbor_id NULLS LAST) AS rn
                     FROM sc) WHERE rn <= 15),
          ex AS (SELECT c.query_id, c.neighbor_id,
                        round(list_cosine_similarity(cv2.v, qv2.v), 6) AS cos_sim
                 FROM cand c
                 JOIN e cv2 ON cv2.vec_id = c.neighbor_id
                 JOIN e qv2 ON qv2.vec_id = c.query_id)
         SELECT query_id, neighbor_id, cos_sim FROM (
           SELECT query_id, neighbor_id, cos_sim,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC NULLS LAST,
                             neighbor_id NULLS LAST) AS rn
           FROM ex)
         WHERE rn <= 5""",
    // the front-door chain replayed stage by stage: url fixture →
    // registrable domain + blocklist → domain cap (the llm_domain_cap
    // row_number algebra) → Gopher keep (the admission predicate on
    // rounded stats) → exclusive-prefix token budget → shard/order keys
    "llm_pipeline7" ->
      s"""WITH u AS (SELECT doc_id,
                      CASE doc_id % 6
                        WHEN 0 THEN 'www.example.com'
                        WHEN 1 THEN 'blog.spamsite.com'
                        WHEN 2 THEN 'news.bbc.co.uk'
                        WHEN 3 THEN 'example.com'
                        WHEN 4 THEN 'ads.tracker.net'
                        ELSE NULL END AS host
                    FROM documents),
          p AS (SELECT doc_id, host, string_split(host, '.') AS ls
                FROM u WHERE host IS NOT NULL),
          dd AS (SELECT doc_id,
                       CASE WHEN len(ls) <= 2 THEN host
                            WHEN list_contains(['co','com','net','org','ac','gov','edu'], ls[-2])
                                 AND length(ls[-1]) = 2 AND len(ls) >= 3
                            THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
                            ELSE ls[-2] || '.' || ls[-1] END AS domain
                FROM p),
          adm AS (SELECT dd.doc_id, dd.domain, doc.text
                  FROM dd JOIN documents doc USING (doc_id)
                  WHERE dd.domain NOT IN ('spamsite.com', 'tracker.net')),
          capped AS (SELECT doc_id, text FROM (
                       SELECT doc_id, text,
                              row_number() OVER (PARTITION BY domain
                                ORDER BY CAST(('0x'||substr(md5('domcap:'||text),1,8)) AS BIGINT) NULLS LAST,
                                         text NULLS LAST, doc_id NULLS LAST) AS rn
                       FROM adm) WHERE rn <= 60),
          q AS (SELECT doc_id, text FROM (
                  SELECT doc_id, text,
                    CAST(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')) AS INTEGER) AS n_tokens,
                    round(length(regexp_replace(text, '[\\t\\n\\x0B\\f\\r ]+', '', 'g')) * 1.0
                          / greatest(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')), 1), 6) AS mwl,
                    round((length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) * 1.0
                          / greatest(length(text), 1), 6) AS sym,
                    CAST(len(list_filter(string_split_regex(lower(text), '[\\t\\n\\x0B\\f\\r ]+'),
                         t -> t IN ($stopsEn))) AS INTEGER) AS stops
                  FROM capped)
                WHERE n_tokens >= 10 AND n_tokens <= 100000
                  AND mwl >= 2.0 AND mwl <= 10.0 AND sym <= 0.1 AND stops >= 1),
          t AS (SELECT doc_id, text,
                       CAST(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')) AS BIGINT) AS n_toks,
                       CAST(('0x'||substr(md5('budget:'||text),1,8)) AS BIGINT) AS h
                FROM q),
          o AS (SELECT doc_id, text, n_toks,
                       CAST(coalesce(sum(n_toks) OVER (ORDER BY h, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                         AS token_offset
                FROM t)
         SELECT doc_id, n_toks, token_offset,
                CAST(CAST(('0x'||substr(md5('shard:'||text),1,8)) AS BIGINT) % 8 AS INTEGER) AS shard,
                CAST(('0x'||substr(md5('ord:shard:'||text),1,8)) AS BIGINT) AS order_key
         FROM o WHERE token_offset < 5000""",
    // two batch-GD rounds replayed in SQL: iteration 1 has w=0 so
    // sigmoid is exactly 0.5 (pure count algebra); iteration 2 runs the
    // quantized sigmoid on the 6-decimal logit; every corpus-scale sum
    // accumulates in DECIMAL(20,10) (the kmeans recipe) and weights
    // land on the 1e-6 grid at each boundary — bit-identical GD state
    // in any correctly-rounding engine
    "llm_quality_classifier" ->
      """WITH pos AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
          neg AS (SELECT doc_id, upper(text) AS text FROM documents
                  WHERE doc_id % 2 = 1),
          feats AS (
            SELECT 'p:' || CAST(doc_id AS VARCHAR) AS tid, bucket,
                   count(*) AS tf, 1.0 AS y
            FROM (SELECT doc_id,
                    CAST(CAST(('0x'||substr(md5(t),1,15)) AS BIGINT) % 64 AS INTEGER) AS bucket
                  FROM (SELECT doc_id, unnest(string_split_regex(text, '[\t\n\x0B\f\r ]+')) AS t
                        FROM pos))
            GROUP BY 1, bucket
            UNION ALL
            SELECT 'n:' || CAST(doc_id AS VARCHAR), bucket, count(*), 0.0
            FROM (SELECT doc_id,
                    CAST(CAST(('0x'||substr(md5(t),1,15)) AS BIGINT) % 64 AS INTEGER) AS bucket
                  FROM (SELECT doc_id, unnest(string_split_regex(text, '[\t\n\x0B\f\r ]+')) AS t
                        FROM neg))
            GROUP BY 1, bucket),
          nn AS (SELECT count(DISTINCT tid) AS n FROM feats),
          g1 AS (SELECT bucket,
                        CAST(sum(CAST(tf * (y - 0.5) AS DECIMAL(20,10))) AS DOUBLE)
                          / nn.n AS g
                 FROM feats, nn GROUP BY bucket, nn.n),
          w1 AS (SELECT bucket, round(0.5 * g, 6) AS w FROM g1),
          z2 AS (SELECT f.tid,
                        round(CAST(sum(CAST(f.tf * coalesce(w1.w, 0.0)
                          AS DECIMAL(20,10))) AS DOUBLE), 6) AS z
                 FROM feats f LEFT JOIN w1 USING (bucket) GROUP BY f.tid),
          p2 AS (SELECT tid, round(1.0 / (1.0 + exp(-z)), 6) AS p FROM z2),
          g2 AS (SELECT f.bucket,
                        CAST(sum(CAST(f.tf *
                          ((CASE WHEN f.tid LIKE 'p:%' THEN 1.0 ELSE 0.0 END)
                            - p2.p) AS DECIMAL(20,10))) AS DOUBLE) / nn.n AS g
                 FROM feats f JOIN p2 USING (tid), nn GROUP BY f.bucket, nn.n),
          w2 AS (SELECT coalesce(w1.bucket, g2.bucket) AS bucket,
                        round(coalesce(w1.w, 0) + 0.5 * coalesce(g2.g, 0), 6) AS w
                 FROM w1 FULL JOIN g2 ON w1.bucket = g2.bucket),
          sf AS (SELECT doc_id, bucket, count(*) AS tf
                 FROM (SELECT doc_id,
                         CAST(CAST(('0x'||substr(md5(t),1,15)) AS BIGINT) % 64 AS INTEGER) AS bucket
                       FROM (SELECT doc_id, unnest(string_split_regex(text, '[\t\n\x0B\f\r ]+')) AS t
                             FROM documents))
                 GROUP BY doc_id, bucket),
          zz AS (SELECT sf.doc_id,
                        round(CAST(sum(CAST(sf.tf * coalesce(w2.w, 0.0)
                          AS DECIMAL(20,10))) AS DOUBLE), 6) AS z
                 FROM sf LEFT JOIN w2 USING (bucket) GROUP BY sf.doc_id)
         SELECT doc_id, z, round(1.0 / (1.0 + exp(-z)), 6) AS quality_score
         FROM zz""",
    // the eval panel over the trained weights: same replay to w2, then
    // score the labeled fixture and count the confusion per threshold —
    // every metric ONE division of exact integer counts (F1 from counts,
    // never from the rounded P/R)
    // calibration: the same scoring replay, equal-width bins on the
    // round-6 grid, DECIMAL-exact mean, count-exact fraction
    "llm_lr_calibration" ->
      s"""WITH $lrEvalScoreCtes,
          bins AS (SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin,
                          p, y
                   FROM ep),
          agg AS (SELECT bin, count(*) AS n, sum(y) AS n_pos,
                         sum(CAST(p AS DECIMAL(18,6))) AS s
                  FROM bins GROUP BY bin)
          SELECT bin, n, CAST(n_pos AS BIGINT) AS n_pos,
                 round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6)
                   AS mean_score,
                 round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6)
                   AS frac_pos
          FROM agg ORDER BY bin""",
    "llm_lr_eval" ->
      s"""WITH $lrEvalScoreCtes,
          th AS (SELECT CAST(t AS DOUBLE) AS threshold
                 FROM (VALUES (0.3), (0.5), (0.7)) v(t)),
          cf AS (SELECT th.threshold,
                   sum(CASE WHEN y = 1 AND p >= th.threshold THEN 1 ELSE 0 END) AS tp,
                   sum(CASE WHEN y = 0 AND p >= th.threshold THEN 1 ELSE 0 END) AS fp,
                   sum(CASE WHEN y = 1 AND p < th.threshold THEN 1 ELSE 0 END) AS fn,
                   sum(CASE WHEN y = 0 AND p < th.threshold THEN 1 ELSE 0 END) AS tn
                 FROM ep CROSS JOIN th GROUP BY th.threshold)
          SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
                 CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
                 CASE WHEN tp + fp > 0
                   THEN round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 4)
                   END AS "precision",
                 CASE WHEN tp + fn > 0
                   THEN round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 4)
                   END AS recall,
                 CASE WHEN 2*tp + fp + fn > 0
                   THEN round(CAST(2*tp AS DOUBLE) / CAST(2*tp + fp + fn AS DOUBLE), 4)
                   END AS f1
          FROM cf""",
    // top domains by doc count + corpus share over the llm_url_filter
    // fixture (garbage URLs excluded from counts and total)
    "llm_domain_report" ->
      """WITH u AS (SELECT doc_id,
                      CASE doc_id % 6
                        WHEN 0 THEN 'www.example.com'
                        WHEN 1 THEN 'blog.spamsite.com'
                        WHEN 2 THEN 'news.bbc.co.uk'
                        WHEN 3 THEN 'example.com'
                        WHEN 4 THEN 'ads.tracker.net'
                        ELSE NULL END AS host
                    FROM documents),
          p AS (SELECT doc_id, host, string_split(host, '.') AS ls
                FROM u WHERE host IS NOT NULL),
          d AS (SELECT CASE WHEN len(ls) <= 2 THEN host
                            WHEN list_contains(['co','com','net','org','ac','gov','edu'], ls[-2])
                                 AND length(ls[-1]) = 2 AND len(ls) >= 3
                            THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
                            ELSE ls[-2] || '.' || ls[-1] END AS domain
                FROM p),
          c AS (SELECT domain, count(*) AS n_docs FROM d GROUP BY domain),
          t AS (SELECT sum(n_docs) AS tot FROM c)
         SELECT domain, CAST(n_docs AS BIGINT) AS n_docs,
                round(n_docs * 1.0 / tot, 6) AS share
         FROM c, t
         ORDER BY n_docs DESC, domain ASC LIMIT 20""",
    // two-stage retrieval: the llm_ann_ivf_pq chain proposes the ADC
    // top-20, exact cosine over ONLY those candidates ranks the final 10
    "llm_ann_rerank" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
          a AS (SELECT vec_id, v, cid AS cell FROM (
                  SELECT e.vec_id, e.v, c.cid,
                         row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
                  FROM e CROSS JOIN cent c) WHERE rk = 1),
          qc AS (SELECT c.cid AS cell,
                        row_number() OVER (
                          ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.cid) AS rk
                 FROM cent c CROSS JOIN (SELECT v FROM e WHERE vec_id = 0) q),
          pr AS (SELECT a.vec_id, a.v FROM a
                 JOIN (SELECT cell FROM qc WHERE rk <= 2) p ON a.cell = p.cell
                 WHERE a.vec_id <> 0),
          seed AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8),
          sub AS (SELECT unnest(generate_series(0, 3)) AS s),
          cb AS (SELECT sub.s, seed.vec_id AS cid,
                        seed.v[sub.s*16+1 : sub.s*16+16] AS cv
                 FROM sub CROSS JOIN seed),
          enc AS (SELECT vec_id, s, cid AS code FROM (
                    SELECT pr.vec_id, b.s, b.cid,
                           row_number() OVER (PARTITION BY pr.vec_id, b.s
                             ORDER BY round(list_inner_product(b.cv, b.cv)
                               - 2 * list_inner_product(pr.v[b.s*16+1 : b.s*16+16], b.cv), 6) ASC,
                             b.cid ASC) AS rk
                    FROM pr CROSS JOIN cb b) WHERE rk = 1),
          q AS (SELECT v FROM e WHERE vec_id = 0),
          lut AS (SELECT b.s, b.cid,
                         list_inner_product(q.v[b.s*16+1 : b.s*16+16], b.cv) AS d
                  FROM cb b CROSS JOIN q),
          adc AS (SELECT enc.vec_id, round(sum(lut.d), 6) AS adc_score
                  FROM enc JOIN lut ON enc.s = lut.s AND enc.code = lut.cid
                  GROUP BY enc.vec_id),
          cand AS (SELECT vec_id FROM adc
                   ORDER BY adc_score DESC, vec_id LIMIT 20)
         SELECT e.vec_id, round(list_cosine_similarity(e.v, q.v), 6) AS cos_sim
         FROM e JOIN cand USING (vec_id) CROSS JOIN q
         ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
    // host from the fixture construction (the parse half is gated by
    // f_urlparse); the registrable-domain heuristic and blocklist
    // anti-join re-derived in DuckDB string algebra
    "llm_url_filter" ->
      """WITH u AS (SELECT doc_id,
                      CASE doc_id % 6
                        WHEN 0 THEN 'www.example.com'
                        WHEN 1 THEN 'blog.spamsite.com'
                        WHEN 2 THEN 'news.bbc.co.uk'
                        WHEN 3 THEN 'example.com'
                        WHEN 4 THEN 'ads.tracker.net'
                        ELSE NULL END AS host
                    FROM documents),
          p AS (SELECT doc_id, host, string_split(host, '.') AS ls
                FROM u WHERE host IS NOT NULL),
          d AS (SELECT doc_id, host,
                       CASE WHEN len(ls) <= 2 THEN host
                            WHEN list_contains(['co','com','net','org','ac','gov','edu'], ls[-2])
                                 AND length(ls[-1]) = 2 AND len(ls) >= 3
                            THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
                            ELSE ls[-2] || '.' || ls[-1] END AS domain
                FROM p)
         SELECT doc_id, host, domain FROM d
         WHERE domain NOT IN ('spamsite.com', 'tracker.net')""",
    // nearest seed centroid (argmax cosine, tie lowest cid — the cellOf
    // contract), cosine to the OWN centroid rounded to 6, then the
    // per-cell exact-quantile keep (quantile_cont == Spark percentile)
    "llm_embed_outliers" ->
      """WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                    FROM embeddings ORDER BY vec_id LIMIT 8),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          s AS (SELECT e.vec_id, c.cid,
                       round(list_cosine_similarity(e.v, c.cv), 6) AS centroid_sim,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
                FROM e CROSS JOIN c),
          a AS (SELECT vec_id, cid AS cell, centroid_sim FROM s WHERE rk = 1),
          t AS (SELECT cell, quantile_cont(centroid_sim, 0.25) AS thr
                FROM a GROUP BY cell)
         SELECT a.vec_id, a.cell, a.centroid_sim
         FROM a JOIN t ON a.cell = t.cell
         WHERE a.centroid_sim >= t.thr""",
    // shard = hash(salt||text) mod 32; order_key an independent salt —
    // the exact md5 recipe of Sampling.saltedHash
    "llm_shards" ->
      """SELECT doc_id,
                CAST(CAST(('0x'||substr(md5('shard:'||text),1,8)) AS BIGINT) % 32 AS INTEGER) AS shard,
                CAST(('0x'||substr(md5('ord:shard:'||text),1,8)) AS BIGINT) AS order_key
         FROM documents""",
    // candidates from capped winnow fingerprints (k=8, w=4, cap 64),
    // extents via diagonal gaps-and-islands over positional 8-gram
    // hash matches — the same algebra as the Spark op, so extents
    // match bit-for-bit
    "llm_overlap_extents" ->
      s"""WITH $overlapCtes
          SELECT id_a, id_b, min(pos_a) AS start_a, min(pos_b) AS start_b,
                 CAST(count(*) + 7 AS BIGINT) AS len_tokens
          FROM isl GROUP BY id_a, id_b, diag, g
          HAVING count(*) + 7 >= 11""",
    // removal: extents keep-first (cut from id_b), intervals merged per
    // doc by the running-max island trick, covered positions dropped,
    // survivors reassembled in token order — same algebra as the op
    "llm_substr_dedup" ->
      s"""WITH $overlapCtes,
          ext AS (SELECT id_b AS doc_id, min(pos_b) AS s,
                         min(pos_b) + count(*) + 7 AS e
                  FROM isl GROUP BY id_a, id_b, diag, g
                  HAVING count(*) + 7 >= 11),
          ord AS (SELECT doc_id, s, e,
                         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
                  FROM ext),
          isl2 AS (SELECT doc_id, s, e,
                          sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                            OVER (PARTITION BY doc_id ORDER BY s, e) AS grp
                   FROM ord),
          merged AS (SELECT doc_id, min(s) AS s, max(e) AS e
                     FROM isl2 GROUP BY doc_id, grp),
          cov AS (SELECT doc_id, unnest(generate_series(s, e - 1)) AS pos
                  FROM merged),
          tokpos AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS tok
                     FROM (SELECT doc_id, toks,
                             unnest(generate_series(1, len(toks))) AS i
                           FROM t)),
          kept AS (SELECT tp.doc_id, tp.pos, tp.tok
                   FROM tokpos tp LEFT JOIN cov c
                     ON c.doc_id = tp.doc_id AND c.pos = tp.pos
                   WHERE c.pos IS NULL),
          ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                        string_agg(tok, ' ' ORDER BY pos) AS clean
                 FROM kept GROUP BY doc_id)
          SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
                 CAST(len(t.toks) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed,
                 coalesce(ka.clean, '') AS clean_text
          FROM t LEFT JOIN ka ON ka.doc_id = t.doc_id""",
    // the round-trip: membership via per-shard count/order_key checksum
    // (the oracle recomputes both hashes), order via the pinned-0
    // inversion count — any write/read corruption or ordering loss
    // breaks one of them
    "llm_shards_roundtrip" ->
      """WITH a AS (
           SELECT doc_id,
                  CAST(CAST(('0x'||substr(md5('shard:'||text),1,8)) AS BIGINT) % 8 AS INTEGER) AS shard,
                  CAST(('0x'||substr(md5('ord:shard:'||text),1,8)) AS BIGINT) AS order_key
           FROM documents)
         SELECT shard, count(*) AS n_docs,
                CAST(0 AS BIGINT) AS n_inversions,
                CAST(sum(order_key) AS BIGINT) AS sum_order,
                min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM a GROUP BY shard""",
    // within-doc variant: rank occurrences of each block inside its
    // document (first stays), reassemble by position
    "llm_span_dedup_doc" ->
      """WITH toks AS (
            SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
            FROM (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS t
                  FROM documents)),
          spans AS (
            SELECT doc_id, pos // 2 AS blk,
                   string_agg(tok, ' ' ORDER BY pos) AS span
            FROM toks GROUP BY doc_id, blk),
          r AS (
            SELECT doc_id, blk, span,
                   row_number() OVER (
                     PARTITION BY doc_id,
                       CAST(('0x'||substr(md5(span),1,15)) AS BIGINT)
                     ORDER BY blk) AS rn
            FROM spans)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                 CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                 coalesce(string_agg(CASE WHEN rn = 1 THEN span END,
                                     ' ' ORDER BY blk), '') AS clean_text
          FROM r GROUP BY doc_id""",
    // Gopher rule panel: token bounds, mean word length (non-whitespace
    // chars / tokens), symbol ratio, stopword presence
    "llm_gopher" ->
      s"""SELECT doc_id, n_tokens, mean_word_len, symbol_ratio, stop_hits,
                 (n_tokens >= 10 AND n_tokens <= 100000) AS ok_len,
                 (mean_word_len >= 2.0 AND mean_word_len <= 10.0) AS ok_word_len,
                 (symbol_ratio <= 0.1) AS ok_symbols,
                 (stop_hits >= 1) AS ok_stopwords,
                 ((n_tokens >= 10 AND n_tokens <= 100000)
                  AND (mean_word_len >= 2.0 AND mean_word_len <= 10.0)
                  AND (symbol_ratio <= 0.1)
                  AND (stop_hits >= 1)) AS keep
          FROM (SELECT doc_id,
                  CAST(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')) AS INTEGER) AS n_tokens,
                  round(length(regexp_replace(text, '[\\t\\n\\x0B\\f\\r ]+', '', 'g')) * 1.0
                        / greatest(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')), 1), 6) AS mean_word_len,
                  round((length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) * 1.0
                        / greatest(length(text), 1), 6) AS symbol_ratio,
                  CAST(len(list_filter(string_split_regex(lower(text), '[\\t\\n\\x0B\\f\\r ]+'),
                       t -> t IN ($stopsEn))) AS INTEGER) AS stop_hits
                FROM documents)""",
    // Gopher repetition section: per-(doc, 60-bit hash) occurrence
    // counts over lines / 2-grams / 5-grams — same hash recipe as the
    // Spark twin so collision behavior (vanishing) is mirrored; the
    // top-gram tie breaks by (count, len, hash) on both sides
    "llm_gopher_rep" ->
      s"""WITH src AS (SELECT doc_id,
              (CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text ELSE text END) ||
              (CASE WHEN doc_id % 5 = 0
                    THEN chr(10) || 'repeated footer line' || chr(10) || 'repeated footer line'
                    ELSE '' END) AS text
            FROM documents),
          $gopherRepCtes
          SELECT doc_id, dup_line_frac, dup_line_char_frac,
                 top_ngram_char_frac, dup_ngram_char_frac,
                 dup_line_frac <= 0.30 AS ok_dup_line,
                 dup_line_char_frac <= 0.20 AS ok_dup_line_char,
                 top_ngram_char_frac <= 0.20 AS ok_top_ngram,
                 dup_ngram_char_frac <= 0.15 AS ok_dup_ngram,
                 $gopherRepKeep AS keep
          FROM fr""",
    // pipeline4: repetition keep -> quality -> percent-rank top 75% ->
    // 8k-token budget in salted-hash order -> shard assignment; each
    // stage is the same algebra as its standalone oracle
    "llm_pipeline4" ->
      s"""WITH src AS (SELECT doc_id, text FROM documents),
          $gopherRepCtes,
          rep AS (SELECT doc_id FROM fr WHERE $gopherRepKeep),
          q AS (SELECT d.doc_id, d.text,
                  round(least(length(d.text) * 1.0 / 500.0, 1.0) * 0.3
                    + (1.0 - (length(d.text) - length(regexp_replace(lower(d.text), '[^a-z0-9 ]', '', 'g'))) * 1.0
                        / greatest(length(d.text), 1)) * 0.4
                    + least(len(list_filter(string_split_regex(d.text, '[\\t\\n\\x0B\\f\\r ]+'),
                          t -> t IN ($stopsEn))) * 1.0
                        / greatest(len(string_split_regex(d.text, '[\\t\\n\\x0B\\f\\r ]+')), 1) * 5.0,
                        1.0) * 0.3, 6) AS quality
                FROM documents d JOIN rep USING (doc_id)),
          r AS (SELECT doc_id, text,
                  percent_rank() OVER (ORDER BY quality) AS pr FROM q),
          tb0 AS (SELECT doc_id, text,
                    CAST(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')) AS BIGINT) AS n_toks,
                    CAST(('0x'||substr(md5('budget:'||text),1,8)) AS BIGINT) AS h
                  FROM r WHERE pr >= 0.25),
          tb AS (SELECT doc_id, text, n_toks,
                   CAST(coalesce(sum(n_toks) OVER (ORDER BY h, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                     AS token_offset
                 FROM tb0)
          SELECT doc_id, n_toks, token_offset,
                 CAST(CAST(('0x'||substr(md5('p4:'||text),1,8)) AS BIGINT) % 8
                   AS INTEGER) AS shard,
                 CAST(('0x'||substr(md5('ord:p4:'||text),1,8)) AS BIGINT) AS order_key
          FROM tb WHERE token_offset < 8000""",
    // pipeline6: Gopher keep (rounded-metric comparisons, the
    // llm_gopher algebra) -> quality scalar (the pipeline4 q CTE) ->
    // DLT priority from the quality weight -> per-language rounded-
    // priority window -> shards
    "llm_pipeline6" ->
      s"""WITH g AS (SELECT doc_id, lang, text FROM (
              SELECT d.doc_id, d.lang, d.text,
                CAST(len(string_split_regex(d.text, '[\\t\\n\\x0B\\f\\r ]+')) AS INTEGER) AS n_tokens,
                round(length(regexp_replace(d.text, '[\\t\\n\\x0B\\f\\r ]+', '', 'g')) * 1.0
                      / greatest(len(string_split_regex(d.text, '[\\t\\n\\x0B\\f\\r ]+')), 1), 6) AS mean_word_len,
                round((length(d.text) - length(regexp_replace(lower(d.text), '[^a-z0-9 ]', '', 'g'))) * 1.0
                      / greatest(length(d.text), 1), 6) AS symbol_ratio,
                CAST(len(list_filter(string_split_regex(lower(d.text), '[\\t\\n\\x0B\\f\\r ]+'),
                     t -> t IN ($stopsEn))) AS INTEGER) AS stop_hits
              FROM documents d)
            WHERE n_tokens >= 10 AND n_tokens <= 100000
              AND mean_word_len >= 2.0 AND mean_word_len <= 10.0
              AND symbol_ratio <= 0.1 AND stop_hits >= 1),
          q AS (SELECT doc_id, lang, text,
                  round(least(length(text) * 1.0 / 500.0, 1.0) * 0.3
                    + (1.0 - (length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) * 1.0
                        / greatest(length(text), 1)) * 0.4
                    + least(len(list_filter(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+'),
                          t -> t IN ($stopsEn))) * 1.0
                        / greatest(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')), 1) * 5.0,
                        1.0) * 0.3, 6) AS quality
                FROM g),
          p AS (SELECT doc_id, lang, text,
                  round(quality /
                    ((CAST(('0x'||substr(md5('p6:'||text),1,8)) AS BIGINT) + 1)
                      * 2.3283064365386963e-10), 6) AS priority
                FROM q),
          w AS (SELECT doc_id, lang, text, priority,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY priority DESC NULLS LAST,
                             text NULLS LAST, doc_id NULLS LAST) AS rn
                FROM p)
         SELECT doc_id, lang, priority,
                CAST(CAST(('0x'||substr(md5('p6s:'||text),1,8)) AS BIGINT) % 4
                  AS INTEGER) AS shard,
                CAST(('0x'||substr(md5('ord:p6s:'||text),1,8)) AS BIGINT) AS order_key
         FROM w WHERE rn <= 25""",
    // exact interpolated quantile threshold (quantile_cont == Spark
    // percentile, parity pinned by a11_percentile)
    "llm_quantile_filter" ->
      """SELECT doc_id, n_chars FROM documents
         WHERE n_chars >= (SELECT quantile_cont(n_chars, 0.25) FROM documents)""",
    // per-group threshold table joined back (Spark percentile ==
    // quantile_cont, the a11 parity)
    "llm_quantile_by_group" ->
      """WITH t AS (SELECT lang, quantile_cont(n_chars, 0.25) AS thr
                    FROM documents GROUP BY lang)
         SELECT d.doc_id, d.lang, d.n_chars
         FROM documents d JOIN t ON d.lang = t.lang
         WHERE d.n_chars >= t.thr""",
    // exact threshold pinned (quantile_cont == Spark percentile, a11
    // parity); the rank contract is attested Spark-side and must hold
    "llm_quantile_filter_approx" ->
      """SELECT round(quantile_cont(n_chars, 0.25), 4) AS thr_exact,
                true AS rank_within_contract
         FROM documents""",
    // winnowing: per-position trigram 60-bit hashes, min over each
    // 4-hash sliding window (full windows only), DISTINCT kept hashes —
    // the same window algebra as the Spark twin, so the fingerprint
    // SETS match bit-for-bit
    "llm_winnow" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS toks
                    FROM documents),
          i AS (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - 2)) AS i
                FROM t WHERE len(toks) >= 3),
          h AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
                       CAST(('0x'||substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),1,15)) AS BIGINT) AS h
                FROM i),
          w AS (SELECT doc_id,
                       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                       count(*) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS n
                FROM h)
          SELECT DISTINCT doc_id, fp FROM w WHERE n = 4""",
    // unigram self-trained log-prob; round(.,4) is the tfidf libm-ln
    // quantization argument
    "llm_unigram_lp" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(text, '[\t\n\x0B\f\r ]+')) AS term
                       FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
          c AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY term),
          n AS (SELECT sum(cnt) AS total FROM c)
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
                round(sum(tf * ln(cnt * 1.0 / total)) / sum(tf), 4) AS avg_logprob
         FROM tf JOIN c USING (term) CROSS JOIN n
         GROUP BY doc_id""",
    // gopher keep-filter -> span removal over the SURVIVORS -> shard
    // hashes of the reassembled text (order_key doubles as an exact
    // clean_text checksum)
    "llm_pipeline2" ->
      s"""WITH kept AS (
            SELECT doc_id, text FROM (
              SELECT doc_id, text,
                CAST(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')) AS INTEGER) AS n_tokens,
                round(length(regexp_replace(text, '[\\t\\n\\x0B\\f\\r ]+', '', 'g')) * 1.0
                      / greatest(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')), 1), 6) AS mwl,
                round((length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) * 1.0
                      / greatest(length(text), 1), 6) AS sym,
                len(list_filter(string_split_regex(lower(text), '[\\t\\n\\x0B\\f\\r ]+'),
                    t -> t IN ($stopsEn))) AS stops
              FROM documents)
            WHERE n_tokens >= 10 AND n_tokens <= 100000
              AND mwl >= 2.0 AND mwl <= 10.0 AND sym <= 0.1 AND stops >= 1),
          toks AS (
            SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
            FROM (SELECT doc_id, string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+') AS t FROM kept)),
          spans AS (
            SELECT doc_id, pos // 16 AS blk,
                   string_agg(tok, ' ' ORDER BY pos) AS span
            FROM toks GROUP BY doc_id, blk),
          hot AS (
            SELECT h FROM (
              SELECT h, count(*) AS df FROM (
                SELECT DISTINCT doc_id,
                       CAST(('0x'||substr(md5(span),1,15)) AS BIGINT) AS h
                FROM spans)
              GROUP BY h)
            WHERE df > 1),
          flagged AS (
            SELECT s.doc_id, s.blk, s.span, h.h IS NOT NULL AS dropit
            FROM spans s LEFT JOIN hot h
              ON CAST(('0x'||substr(md5(s.span),1,15)) AS BIGINT) = h.h),
          cleaned AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN dropit THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                   coalesce(string_agg(CASE WHEN NOT dropit THEN span END,
                                       ' ' ORDER BY blk), '') AS clean_text
            FROM flagged GROUP BY doc_id)
          SELECT doc_id, n_dropped,
                 CAST(CAST(('0x'||substr(md5('shard:'||clean_text),1,8)) AS BIGINT) % 32 AS INTEGER) AS shard,
                 CAST(('0x'||substr(md5('ord:shard:'||clean_text),1,8)) AS BIGINT) AS order_key
          FROM cleaned""",
    "llm_boilerplate" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS toks
                    FROM documents),
          g AS (SELECT doc_id,
                  list_distinct(list_transform(generate_series(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gs
                FROM t WHERE len(toks) >= 3),
          e AS (SELECT doc_id, unnest(gs) AS shingle FROM g)
         SELECT shingle, count(*) AS df FROM e
         GROUP BY shingle ORDER BY df DESC, shingle LIMIT 20""",
    // vocabulary coverage: counts by token STRING (the Spark side counts
    // 60-bit hashes and resolves — identical barring a 2^-60 collision)
    "llm_vocab" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '[\t\n\x0B\f\r ]+')) AS t
                      FROM documents),
          c AS (SELECT t, count(*) AS cnt, count(DISTINCT doc_id) AS df
                FROM tok GROUP BY t),
          tot AS (SELECT sum(cnt) AS tot FROM c),
          top AS (SELECT t, cnt, df FROM c ORDER BY cnt DESC, t ASC LIMIT 100)
          SELECT t AS token, CAST(cnt AS BIGINT) AS cnt, CAST(df AS BIGINT) AS df,
                 CAST(row_number() OVER (ORDER BY cnt DESC, t ASC) AS INTEGER) AS rank,
                 round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, t ASC
                         ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                       / (SELECT tot FROM tot), 6) AS coverage
          FROM top""",
    // corpus drift: the same smoothed-KL algebra — every ln argument a
    // quotient of exact integer products, so both engines feed libm
    // identical bits; round-4 masks the 1-ulp tail
    "llm_corpus_kl" ->
      """WITH mm AS (SELECT max(doc_id) AS m FROM documents),
          ta_ AS (SELECT unnest(string_split_regex(text, '[\t\n\x0B\f\r ]+')) AS t
                  FROM documents, mm WHERE doc_id <= mm.m - 100),
          tb_ AS (SELECT unnest(string_split_regex(text, '[\t\n\x0B\f\r ]+')) AS t
                  FROM documents, mm WHERE doc_id > mm.m - 100),
          ca_ AS (SELECT CAST(('0x'||substr(md5(t),1,15)) AS BIGINT) AS h,
                         count(*) AS c
                  FROM ta_ WHERE length(t) > 0 GROUP BY 1),
          cb_ AS (SELECT CAST(('0x'||substr(md5(t),1,15)) AS BIGINT) AS h,
                         count(*) AS c
                  FROM tb_ WHERE length(t) > 0 GROUP BY 1),
          j AS (SELECT coalesce(ca_.c, 0) AS ca, coalesce(cb_.c, 0) AS cb
                FROM ca_ FULL OUTER JOIN cb_ ON ca_.h = cb_.h),
          s AS (SELECT count(*) AS v, sum(ca) AS ta, sum(cb) AS tb FROM j)
          SELECT CAST(s.v AS BIGINT) AS vocab_size,
                 CAST(s.ta AS BIGINT) AS tot_a,
                 CAST(s.tb AS BIGINT) AS tot_b,
                 round(sum((CAST(ca + 1 AS DOUBLE) / CAST(s.ta + s.v AS DOUBLE)) *
                   ln(CAST((ca + 1) * (s.tb + s.v) AS DOUBLE) /
                      CAST((cb + 1) * (s.ta + s.v) AS DOUBLE))), 4) AS kl_ab,
                 round(sum((CAST(cb + 1 AS DOUBLE) / CAST(s.tb + s.v AS DOUBLE)) *
                   ln(CAST((cb + 1) * (s.ta + s.v) AS DOUBLE) /
                      CAST((ca + 1) * (s.tb + s.v) AS DOUBLE))), 4) AS kl_ba
          FROM j CROSS JOIN s GROUP BY s.v, s.ta, s.tb""",
    // batch BM25: per-query distinct terms, the same per-posting
    // algebra, a query-partitioned top-k window; the no-match query
    // emits no rows
    "llm_bm25_join" ->
      """WITH q(query_id, qtext) AS (
            SELECT * FROM (VALUES (1, 'hash join'), (2, 'vector scan slow'),
                                  (3, 'zzzunknown'))),
          qt AS (SELECT DISTINCT query_id, t AS term FROM (
                   SELECT query_id,
                          unnest(string_split_regex(qtext, '[\t\n\x0B\f\r ]+')) AS t
                   FROM q) WHERE length(t) > 0),
          d AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS toks
                FROM documents),
          stats AS (SELECT count(*) AS n_docs,
                           sum(len(toks)) AS total_toks FROM d),
          tok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d),
          tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM tok
                 WHERE term IN (SELECT DISTINCT term FROM qt)
                 GROUP BY doc_id, dl, term),
          dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          sc AS (SELECT qt.query_id, tf.doc_id,
                   ln(1.0 + (s.n_docs - dfr.df + 0.5) / (dfr.df + 0.5)) *
                     (CAST(tf.tf AS DOUBLE) * (1.2 + 1)) /
                     (CAST(tf.tf AS DOUBLE) +
                      1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.dl AS DOUBLE) /
                             (CAST(s.total_toks AS DOUBLE) / s.n_docs))) AS c
                 FROM tf JOIN dfr ON tf.term = dfr.term
                 JOIN qt ON tf.term = qt.term CROSS JOIN stats s),
          agg AS (SELECT query_id, doc_id, round(sum(c), 4) AS bm25
                  FROM sc GROUP BY query_id, doc_id),
          rk AS (SELECT query_id, doc_id, bm25,
                   CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rank
                 FROM agg)
          SELECT query_id, doc_id, bm25, rank FROM rk WHERE rank <= 10""",
    // BM25: the same algebra with the operator's exact parenthesization
    // — integer (N-df) before +0.5, (b·dl)/avgdl left-assoc, tf cast to
    // double before the k1 products — so every IEEE op pairs the same
    // operands on both engines; ln is the only libm call (round-4 grid)
    "llm_bm25" ->
      s"""WITH ${bm25CteSql("")}
          SELECT doc_id, round(sum(c), 4) AS bm25
          FROM sc GROUP BY doc_id
          ORDER BY bm25 DESC, doc_id ASC LIMIT 25""",
    // takedown: the identical algebra over the REMAINING corpus — df,
    // N, and avgdl all shift with the tombstoned docs, so a purge that
    // only dropped result rows (without recomputing stats) would
    // hash-mismatch here
    "llm_bm25_delete" ->
      s"""WITH ${bm25CteSql(" WHERE doc_id % 7 <> 0")}
          SELECT doc_id, round(sum(c), 4) AS bm25
          FROM sc GROUP BY doc_id
          ORDER BY bm25 DESC, doc_id ASC LIMIT 25""",
    // pipeline12: the serving chain replayed — k=20 legs, rrf fuse to
    // 10, the llm_mmr greedy unrolled with rel = rrf, the snippet
    // algebra left-joined (NULL for the termless ANN-sourced doc)
    "llm_pipeline12" ->
      s"""WITH ${bm25CteSql("")},
          bm AS (SELECT doc_id, round(sum(c), 4) AS bm25
                 FROM sc GROUP BY doc_id
                 ORDER BY bm25 DESC, doc_id ASC LIMIT 20),
          bmr AS (SELECT doc_id, row_number() OVER (
                    ORDER BY bm25 DESC, doc_id ASC) AS r FROM bm),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings),
          q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
          ann AS (SELECT e.vec_id AS doc_id,
                    round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
                  FROM e CROSS JOIN q WHERE e.vec_id <> 0
                  ORDER BY cos_sim DESC, e.vec_id LIMIT 20),
          annr AS (SELECT doc_id, row_number() OVER (
                     ORDER BY cos_sim DESC, doc_id ASC) AS r FROM ann),
          fused AS (SELECT doc_id, rrf FROM (
              SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
                round(coalesce(CAST(1.0 AS DOUBLE) / (60 + b.r), 0.0) +
                      coalesce(CAST(1.0 AS DOUBLE) / (60 + a.r), 0.0),
                      6) AS rrf
              FROM bmr b FULL OUTER JOIN annr a ON b.doc_id = a.doc_id)
            ORDER BY rrf DESC, doc_id ASC LIMIT 10),
          cand AS (SELECT f.doc_id AS id, e.v, f.rrf AS rel
                   FROM fused f JOIN e ON e.vec_id = f.doc_id),
          lam AS (SELECT CAST(0.700000 AS DECIMAL(7,6)) AS l,
                         CAST(0.300000 AS DECIMAL(7,6)) AS m),
          s1 AS (SELECT c.id, c.v, CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)), 6) AS DOUBLE) AS mmr
                 FROM cand c CROSS JOIN lam
                 ORDER BY mmr DESC, c.id LIMIT 1),
          s2 AS (SELECT c.id, c.v,
                   CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)) - lam.m * CAST(
                     round(list_cosine_similarity(c.v, s1.v), 6) AS DECIMAL(18,6)), 6) AS DOUBLE) AS mmr
                 FROM cand c CROSS JOIN lam CROSS JOIN s1
                 WHERE c.id <> s1.id
                 ORDER BY mmr DESC, c.id LIMIT 1),
          s3 AS (SELECT c.id, c.v,
                   CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)) - lam.m * CAST(greatest(
                     round(list_cosine_similarity(c.v, s1.v), 6),
                     round(list_cosine_similarity(c.v, s2.v), 6)) AS DECIMAL(18,6)), 6) AS DOUBLE) AS mmr
                 FROM cand c CROSS JOIN lam CROSS JOIN s1 CROSS JOIN s2
                 WHERE c.id NOT IN (s1.id, s2.id)
                 ORDER BY mmr DESC, c.id LIMIT 1),
          s4 AS (SELECT c.id, c.v,
                   CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)) - lam.m * CAST(greatest(greatest(
                     round(list_cosine_similarity(c.v, s1.v), 6),
                     round(list_cosine_similarity(c.v, s2.v), 6)),
                     round(list_cosine_similarity(c.v, s3.v), 6)) AS DECIMAL(18,6)), 6) AS DOUBLE) AS mmr
                 FROM cand c CROSS JOIN lam CROSS JOIN s1 CROSS JOIN s2
                 CROSS JOIN s3
                 WHERE c.id NOT IN (s1.id, s2.id, s3.id)
                 ORDER BY mmr DESC, c.id LIMIT 1),
          s5 AS (SELECT c.id, c.v,
                   CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)) - lam.m * CAST(greatest(greatest(greatest(
                     round(list_cosine_similarity(c.v, s1.v), 6),
                     round(list_cosine_similarity(c.v, s2.v), 6)),
                     round(list_cosine_similarity(c.v, s3.v), 6)),
                     round(list_cosine_similarity(c.v, s4.v), 6)) AS DECIMAL(18,6)), 6) AS DOUBLE) AS mmr
                 FROM cand c CROSS JOIN lam CROSS JOIN s1 CROSS JOIN s2
                 CROSS JOIN s3 CROSS JOIN s4
                 WHERE c.id NOT IN (s1.id, s2.id, s3.id, s4.id)
                 ORDER BY mmr DESC, c.id LIMIT 1),
          sel AS (SELECT id, mmr, 1 AS rank FROM s1
                  UNION ALL SELECT id, mmr, 2 FROM s2
                  UNION ALL SELECT id, mmr, 3 FROM s3
                  UNION ALL SELECT id, mmr, 4 FROM s4
                  UNION ALL SELECT id, mmr, 5 FROM s5),
          d2 AS (SELECT documents.doc_id,
                        string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+') AS toks
                 FROM documents JOIN sel ON documents.doc_id = sel.id),
          ix2 AS (SELECT doc_id, toks,
                    list_filter(list_transform(toks,
                      (t, i) -> CASE WHEN t IN ('hash', 'join', 'vector')
                                     THEN i ELSE -1 END),
                      x -> x > 0) AS idx
                  FROM d2),
          best2 AS (SELECT doc_id, toks,
                      list_max(list_transform(idx, p ->
                        [len(list_filter(idx,
                           qq -> qq >= p AND qq < p + 12)), -p])) AS bb
                    FROM ix2 WHERE len(idx) > 0)
          SELECT sel.id AS doc_id, sel.mmr, sel.rank,
                 CAST(bb[1] AS INTEGER) AS hits,
                 CAST(-bb[2] AS INTEGER) AS start_tok,
                 array_to_string(toks[-bb[2] : -bb[2] + 11], ' ')
                   AS snippet
          FROM sel LEFT JOIN best2 ON best2.doc_id = sel.id
          ORDER BY sel.rank""",
    // crawl delta: the same fingerprint, the same full-outer classify
    "llm_crawl_delta" ->
      """WITH m AS (SELECT max(doc_id) AS mx FROM documents),
          a AS (SELECT doc_id,
                  md5(regexp_replace(lower(text), '[\t\n\x0B\f\r ]+', ' ', 'g')) AS fa
                FROM documents, m WHERE doc_id <= mx - 100),
          b0 AS (SELECT doc_id, text FROM documents, m
                 WHERE doc_id > 50 AND doc_id <= mx - 150
                 UNION ALL
                 SELECT doc_id, text || ' rev2' FROM documents, m
                 WHERE doc_id > mx - 150 AND doc_id <= mx - 100
                 UNION ALL
                 SELECT doc_id, text FROM documents, m
                 WHERE doc_id > mx - 100),
          b AS (SELECT doc_id,
                  md5(regexp_replace(lower(text), '[\t\n\x0B\f\r ]+', ' ', 'g')) AS fb
                FROM b0),
          j AS (SELECT CASE WHEN a.fa IS NULL THEN 'added'
                            WHEN b.fb IS NULL THEN 'removed'
                            WHEN a.fa = b.fb THEN 'unchanged'
                            ELSE 'changed' END AS status
                FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
          SELECT status, count(*) AS n_docs FROM j
          GROUP BY status ORDER BY status""",
    // PRF: round 1 is the shared bm25 CTE chain; the feedback slice's
    // candidate terms score with the tfidf idf pairing (round-4 grid,
    // term tie-break); round 2 re-runs the identical score algebra
    // over the expanded term set
    "llm_bm25_prf" ->
      s"""WITH ${bm25CteSql("")},
          fbids AS (SELECT doc_id FROM (
              SELECT doc_id, round(sum(c), 4) AS bm25
              FROM sc GROUP BY doc_id
              ORDER BY bm25 DESC, doc_id ASC LIMIT 10)),
          cand AS (SELECT t AS term, count(*) AS tf_fb FROM (
              SELECT unnest(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')) AS t
              FROM documents JOIN fbids USING (doc_id))
            WHERE length(t) > 0
              AND t NOT IN ('hash', 'join', 'vector')
            GROUP BY t),
          dfq AS (SELECT term, count(*) AS df FROM (
              SELECT doc_id,
                     unnest(list_distinct(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')))
                       AS term
              FROM documents)
            WHERE term IN (SELECT term FROM cand)
            GROUP BY term),
          nn AS (SELECT count(*) AS n_docs FROM documents),
          expt AS (SELECT term FROM (
              SELECT c.term,
                     round(c.tf_fb * ln((nn.n_docs + 1) * 1.0
                       / (dfq.df + 1)), 4) AS s
              FROM cand c JOIN dfq USING (term) CROSS JOIN nn)
            ORDER BY s DESC, term ASC LIMIT 5),
          qts AS (SELECT 'hash' AS term UNION ALL SELECT 'join'
                  UNION ALL SELECT 'vector'
                  UNION SELECT term FROM expt),
          tf2 AS (SELECT doc_id, dl, term, count(*) AS tf FROM tok
                  WHERE term IN (SELECT term FROM qts)
                  GROUP BY doc_id, dl, term),
          dfr2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY term),
          sc2 AS (SELECT tf2.doc_id,
                    ln(1.0 + (s.n_docs - dfr2.df + 0.5) / (dfr2.df + 0.5)) *
                      (CAST(tf2.tf AS DOUBLE) * (1.2 + 1)) /
                      (CAST(tf2.tf AS DOUBLE) +
                       1.2 * (1.0 - 0.75 + 0.75 * CAST(tf2.dl AS DOUBLE) /
                              (CAST(s.total_toks AS DOUBLE) / s.n_docs)))
                      AS c
                  FROM tf2 JOIN dfr2 ON tf2.term = dfr2.term
                  CROSS JOIN stats s)
          SELECT doc_id, round(sum(c), 4) AS bm25
          FROM sc2 GROUP BY doc_id
          ORDER BY bm25 DESC, doc_id ASC LIMIT 25""",
    // batch PRF: the per-query replay — round-1 ranking, feedback
    // postings tf, per-query tf·idf expansion window, round-2 ranking
    "llm_bm25_prf_join" ->
      """WITH q(query_id, qtext) AS (
            SELECT * FROM (VALUES (1, 'hash join'), (2, 'vector scan slow'),
                                  (3, 'zzzunknown'))),
          qt AS (SELECT DISTINCT query_id, t AS term FROM (
                   SELECT query_id,
                          unnest(string_split_regex(qtext, '[\t\n\x0B\f\r ]+')) AS t
                   FROM q) WHERE length(t) > 0),
          d AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS toks
                FROM documents),
          stats AS (SELECT count(*) AS n_docs,
                           sum(len(toks)) AS total_toks FROM d),
          tok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d),
          tf1 AS (SELECT doc_id, dl, term, count(*) AS tf FROM tok
                  WHERE term IN (SELECT DISTINCT term FROM qt)
                  GROUP BY doc_id, dl, term),
          dfr1 AS (SELECT term, count(*) AS df FROM tf1 GROUP BY term),
          sc1 AS (SELECT qt.query_id, tf1.doc_id,
                    ln(1.0 + (s.n_docs - dfr1.df + 0.5) / (dfr1.df + 0.5)) *
                      (CAST(tf1.tf AS DOUBLE) * (1.2 + 1)) /
                      (CAST(tf1.tf AS DOUBLE) +
                       1.2 * (1.0 - 0.75 + 0.75 * CAST(tf1.dl AS DOUBLE) /
                              (CAST(s.total_toks AS DOUBLE) / s.n_docs))) AS c
                  FROM tf1 JOIN dfr1 ON tf1.term = dfr1.term
                  JOIN qt ON tf1.term = qt.term CROSS JOIN stats s),
          rk1 AS (SELECT query_id, doc_id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY bm25 DESC, doc_id ASC) AS r
                  FROM (SELECT query_id, doc_id, round(sum(c), 4) AS bm25
                        FROM sc1 GROUP BY query_id, doc_id)),
          fb AS (SELECT query_id, doc_id FROM rk1 WHERE r <= 5),
          post AS (SELECT doc_id, dl, term, count(*) AS tf FROM tok
                   GROUP BY doc_id, dl, term),
          fbtf AS (SELECT f.query_id, p.term, sum(p.tf) AS tf_fb
                   FROM post p JOIN fb f ON p.doc_id = f.doc_id
                   WHERE NOT EXISTS (SELECT 1 FROM qt
                     WHERE qt.query_id = f.query_id AND qt.term = p.term)
                   GROUP BY f.query_id, p.term),
          dfq AS (SELECT term, count(*) AS df FROM post
                  WHERE term IN (SELECT DISTINCT term FROM fbtf)
                  GROUP BY term),
          nn AS (SELECT count(*) AS n_docs FROM d),
          expt AS (SELECT query_id, term FROM (
                     SELECT query_id, term, row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY s DESC, term ASC) AS rn
                     FROM (SELECT f.query_id, f.term,
                             round(f.tf_fb * ln((nn.n_docs + 1) * 1.0
                               / (dfq.df + 1)), 4) AS s
                           FROM fbtf f JOIN dfq USING (term)
                           CROSS JOIN nn))
                   WHERE rn <= 3),
          qt2 AS (SELECT query_id, term FROM qt
                  UNION SELECT query_id, term FROM expt),
          tf2 AS (SELECT doc_id, dl, term, count(*) AS tf FROM tok
                  WHERE term IN (SELECT DISTINCT term FROM qt2)
                  GROUP BY doc_id, dl, term),
          dfr2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY term),
          sc2 AS (SELECT qt2.query_id, tf2.doc_id,
                    ln(1.0 + (s.n_docs - dfr2.df + 0.5) / (dfr2.df + 0.5)) *
                      (CAST(tf2.tf AS DOUBLE) * (1.2 + 1)) /
                      (CAST(tf2.tf AS DOUBLE) +
                       1.2 * (1.0 - 0.75 + 0.75 * CAST(tf2.dl AS DOUBLE) /
                              (CAST(s.total_toks AS DOUBLE) / s.n_docs))) AS c
                  FROM tf2 JOIN dfr2 ON tf2.term = dfr2.term
                  JOIN qt2 ON tf2.term = qt2.term CROSS JOIN stats s),
          rk2 AS (SELECT query_id, doc_id, bm25,
                    CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rank
                  FROM (SELECT query_id, doc_id, round(sum(c), 4) AS bm25
                        FROM sc2 GROUP BY query_id, doc_id))
          SELECT query_id, doc_id, bm25, rank FROM rk2 WHERE rank <= 10""",
    // MMR: the five greedy rounds unrolled — each round the argmax of
    // round(λ·rel − (1−λ)·max cos-to-selected, 6) with id tie-break;
    // (1−λ) spelled CAST(1.0 AS DOUBLE) - 0.7 so the constant is the
    // operator's exact IEEE subtraction, not a 0.3 literal
    "llm_mmr" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
          q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
          cand AS (SELECT e.vec_id AS id, e.v,
                     round(list_cosine_similarity(e.v, q.qv), 6) AS rel
                   FROM e CROSS JOIN q WHERE e.vec_id <> 0
                   ORDER BY rel DESC, e.vec_id LIMIT 50),
          lam AS (SELECT CAST(0.700000 AS DECIMAL(7,6)) AS l,
                         CAST(0.300000 AS DECIMAL(7,6)) AS m),
          s1 AS (SELECT c.id, c.v, c.rel, CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)), 6) AS DOUBLE) AS mmr
                 FROM cand c CROSS JOIN lam
                 ORDER BY mmr DESC, c.id LIMIT 1),
          s2 AS (SELECT c.id, c.v, c.rel,
                   CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)) - lam.m * CAST(
                     round(list_cosine_similarity(c.v, s1.v), 6) AS DECIMAL(18,6)), 6) AS DOUBLE) AS mmr
                 FROM cand c CROSS JOIN lam CROSS JOIN s1
                 WHERE c.id <> s1.id
                 ORDER BY mmr DESC, c.id LIMIT 1),
          s3 AS (SELECT c.id, c.v, c.rel,
                   CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)) - lam.m * CAST(greatest(
                     round(list_cosine_similarity(c.v, s1.v), 6),
                     round(list_cosine_similarity(c.v, s2.v), 6)) AS DECIMAL(18,6)), 6) AS DOUBLE) AS mmr
                 FROM cand c CROSS JOIN lam CROSS JOIN s1 CROSS JOIN s2
                 WHERE c.id NOT IN (s1.id, s2.id)
                 ORDER BY mmr DESC, c.id LIMIT 1),
          s4 AS (SELECT c.id, c.v, c.rel,
                   CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)) - lam.m * CAST(greatest(greatest(
                     round(list_cosine_similarity(c.v, s1.v), 6),
                     round(list_cosine_similarity(c.v, s2.v), 6)),
                     round(list_cosine_similarity(c.v, s3.v), 6)) AS DECIMAL(18,6)), 6) AS DOUBLE) AS mmr
                 FROM cand c CROSS JOIN lam CROSS JOIN s1 CROSS JOIN s2
                 CROSS JOIN s3
                 WHERE c.id NOT IN (s1.id, s2.id, s3.id)
                 ORDER BY mmr DESC, c.id LIMIT 1),
          s5 AS (SELECT c.id, c.v, c.rel,
                   CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)) - lam.m * CAST(greatest(greatest(greatest(
                     round(list_cosine_similarity(c.v, s1.v), 6),
                     round(list_cosine_similarity(c.v, s2.v), 6)),
                     round(list_cosine_similarity(c.v, s3.v), 6)),
                     round(list_cosine_similarity(c.v, s4.v), 6)) AS DECIMAL(18,6)), 6) AS DOUBLE) AS mmr
                 FROM cand c CROSS JOIN lam CROSS JOIN s1 CROSS JOIN s2
                 CROSS JOIN s3 CROSS JOIN s4
                 WHERE c.id NOT IN (s1.id, s2.id, s3.id, s4.id)
                 ORDER BY mmr DESC, c.id LIMIT 1)
          SELECT id AS vec_id, rel AS cos_sim, mmr, 1 AS rank FROM s1
          UNION ALL SELECT id, rel, mmr, 2 FROM s2
          UNION ALL SELECT id, rel, mmr, 3 FROM s3
          UNION ALL SELECT id, rel, mmr, 4 FROM s4
          UNION ALL SELECT id, rel, mmr, 5 FROM s5""",
    // batch snippets: the bm25-join top-5 run feeds the per-pair
    // snippet replay with list_contains over each query's term list
    "llm_snippet_join" ->
      """WITH q(query_id, qtext) AS (
            SELECT * FROM (VALUES (1, 'hash join'), (2, 'vector scan slow'),
                                  (3, 'zzzunknown'))),
          qt AS (SELECT DISTINCT query_id, t AS term FROM (
                   SELECT query_id,
                          unnest(string_split_regex(qtext, '[\t\n\x0B\f\r ]+')) AS t
                   FROM q) WHERE length(t) > 0),
          d AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS toks
                FROM documents),
          stats AS (SELECT count(*) AS n_docs,
                           sum(len(toks)) AS total_toks FROM d),
          tok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM d),
          tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM tok
                 WHERE term IN (SELECT DISTINCT term FROM qt)
                 GROUP BY doc_id, dl, term),
          dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          sc AS (SELECT qt.query_id, tf.doc_id,
                   ln(1.0 + (s.n_docs - dfr.df + 0.5) / (dfr.df + 0.5)) *
                     (CAST(tf.tf AS DOUBLE) * (1.2 + 1)) /
                     (CAST(tf.tf AS DOUBLE) +
                      1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.dl AS DOUBLE) /
                             (CAST(s.total_toks AS DOUBLE) / s.n_docs))) AS c
                 FROM tf JOIN dfr ON tf.term = dfr.term
                 JOIN qt ON tf.term = qt.term CROSS JOIN stats s),
          agg AS (SELECT query_id, doc_id, round(sum(c), 4) AS bm25
                  FROM sc GROUP BY query_id, doc_id),
          rk AS (SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY bm25 DESC, doc_id ASC) AS rank
                 FROM agg),
          run AS (SELECT query_id, doc_id FROM rk WHERE rank <= 5),
          qts AS (SELECT query_id, list(DISTINCT term) AS qterms
                  FROM qt GROUP BY query_id),
          pair AS (SELECT r.query_id, r.doc_id, d.toks, s.qterms
                   FROM run r JOIN d ON d.doc_id = r.doc_id
                   JOIN qts s ON s.query_id = r.query_id),
          ix AS (SELECT query_id, doc_id, toks,
                   list_filter(list_transform(toks,
                     (t, i) -> CASE WHEN list_contains(qterms, t)
                                    THEN i ELSE -1 END), x -> x > 0) AS idx
                 FROM pair),
          hit AS (SELECT query_id, doc_id, toks, idx FROM ix
                  WHERE len(idx) > 0),
          best AS (SELECT query_id, doc_id, toks,
                     list_max(list_transform(idx, p ->
                       [len(list_filter(idx, q2 -> q2 >= p AND q2 < p + 12)),
                        -p])) AS b
                   FROM hit)
          SELECT query_id, doc_id, CAST(b[1] AS INTEGER) AS hits,
                 CAST(-b[2] AS INTEGER) AS start_tok,
                 array_to_string(toks[-b[2] : -b[2] + 11], ' ') AS snippet
          FROM best""",
    // batch MMR: three rounds unrolled PER QUERY — query-partitioned
    // argmax windows, the same quantized score (each cosine round-6
    // before the max/blend) and id tie-break as the single-query form
    "llm_mmr_join" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
          qv AS (SELECT vec_id AS query_id, v FROM e
                 WHERE vec_id IN (1, 2, 3)),
          ann AS (SELECT qv.query_id, e.vec_id AS id, e.v,
                    round(list_cosine_similarity(e.v, qv.v), 6) AS rel
                  FROM e JOIN qv ON e.vec_id <> qv.query_id),
          cand AS (SELECT query_id, id, v, rel FROM (
                     SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY rel DESC, id ASC) AS rn FROM ann)
                   WHERE rn <= 20),
          lam AS (SELECT CAST(0.700000 AS DECIMAL(7,6)) AS l,
                         CAST(0.300000 AS DECIMAL(7,6)) AS m),
          s1 AS (SELECT query_id, id, v, rel, mmr FROM (
                   SELECT c.query_id, c.id, c.v, c.rel,
                          CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)), 6) AS DOUBLE) AS mmr,
                          row_number() OVER (PARTITION BY c.query_id
                            ORDER BY CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)), 6) AS DOUBLE) DESC, c.id ASC)
                            AS rn
                   FROM cand c CROSS JOIN lam) WHERE rn = 1),
          s2 AS (SELECT query_id, id, v, rel, mmr FROM (
                   SELECT c.query_id, c.id, c.v, c.rel,
                          CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)) - lam.m * CAST(
                            round(list_cosine_similarity(c.v, s1.v), 6) AS DECIMAL(18,6)), 6) AS DOUBLE)
                            AS mmr,
                          row_number() OVER (PARTITION BY c.query_id
                            ORDER BY CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)) - lam.m * CAST(
                              round(list_cosine_similarity(c.v, s1.v), 6) AS DECIMAL(18,6)), 6) AS DOUBLE)
                              DESC, c.id ASC) AS rn
                   FROM cand c
                   JOIN s1 ON s1.query_id = c.query_id AND c.id <> s1.id
                   CROSS JOIN lam) WHERE rn = 1),
          s3 AS (SELECT query_id, id, v, rel, mmr FROM (
                   SELECT c.query_id, c.id, c.v, c.rel,
                          CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)) - lam.m * CAST(greatest(
                            round(list_cosine_similarity(c.v, s1.v), 6),
                            round(list_cosine_similarity(c.v, s2.v), 6)) AS DECIMAL(18,6)), 6) AS DOUBLE)
                            AS mmr,
                          row_number() OVER (PARTITION BY c.query_id
                            ORDER BY CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)) - lam.m * CAST(greatest(
                              round(list_cosine_similarity(c.v, s1.v), 6),
                              round(list_cosine_similarity(c.v, s2.v), 6)) AS DECIMAL(18,6)), 6) AS DOUBLE)
                              DESC, c.id ASC) AS rn
                   FROM cand c
                   JOIN s1 ON s1.query_id = c.query_id AND c.id <> s1.id
                   JOIN s2 ON s2.query_id = c.query_id AND c.id <> s2.id
                   CROSS JOIN lam) WHERE rn = 1)
          SELECT query_id, id AS doc_id, rel AS cos_sim, mmr, 1 AS rank
          FROM s1
          UNION ALL SELECT query_id, id, rel, mmr, 2 FROM s2
          UNION ALL SELECT query_id, id, rel, mmr, 3 FROM s3""",
    // snippets: the same indexed-lambda hit positions, the same
    // (count, −start) lexicographic argmax, inclusive list slice
    "llm_snippet" ->
      """WITH d AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS toks
                    FROM documents),
          ix AS (SELECT doc_id, toks,
                   list_filter(list_transform(toks,
                     (t, i) -> CASE WHEN t IN ('hash', 'join', 'vector')
                                    THEN i ELSE -1 END), x -> x > 0) AS idx
                 FROM d),
          hit AS (SELECT doc_id, toks, idx FROM ix WHERE len(idx) > 0),
          best AS (SELECT doc_id, toks,
                     list_max(list_transform(idx, p ->
                       [len(list_filter(idx, q -> q >= p AND q < p + 12)),
                        -p])) AS b
                   FROM hit)
          SELECT doc_id, CAST(b[1] AS INTEGER) AS hits,
                 CAST(-b[2] AS INTEGER) AS start_tok,
                 array_to_string(toks[-b[2] : -b[2] + 11], ' ') AS snippet
          FROM best""",
    // retrieval eval: the same exact-cosine run, label-match relevance,
    // count-exact ratios (single divisions), DCG folds replayed with
    // the same ascending-rank association (window cumulative sum ==
    // Spark's sequential fold), log2 under the round-4 grid
    "llm_retrieval_eval" ->
      """WITH qv AS (SELECT vec_id AS query_id,
                            CAST(embedding AS DOUBLE[]) AS v, label
                     FROM embeddings WHERE vec_id IN (1, 2, 3)),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
                FROM embeddings),
          ann AS (SELECT qv.query_id, e.vec_id AS doc_id,
                    round(list_cosine_similarity(e.v, qv.v), 6) AS cos_sim
                  FROM e JOIN qv ON e.vec_id <> qv.query_id),
          run AS (SELECT query_id, doc_id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY cos_sim DESC, doc_id ASC) AS rank
                  FROM ann),
          topk AS (SELECT * FROM run WHERE rank <= 10),
          rel AS (SELECT qv.query_id, e.vec_id AS doc_id
                  FROM e JOIN qv ON e.label = qv.label
                               AND e.vec_id <> qv.query_id),
          nr AS (SELECT query_id, count(*) AS n_rel FROM rel
                 GROUP BY query_id),
          h AS (SELECT t.query_id, t.rank FROM topk t
                JOIN rel r ON t.query_id = r.query_id
                          AND t.doc_id = r.doc_id),
          hc AS (SELECT query_id, rank,
                   sum(CAST(1.0 AS DOUBLE) / log2(rank + 1.0))
                     OVER (PARTITION BY query_id ORDER BY rank) AS cum
                 FROM h),
          -- dcg = the LAST cumulative value (terms positive, so max ==
          -- the final row's cum, bit-identically): an ordered window
          -- fold, matching the operator's ascending-rank sequential
          -- association — an unordered SUM would leave the stated
          -- determinism contract unenforced on the oracle side
          pq AS (SELECT query_id, count(*) AS hits, min(rank) AS first_rank,
                   max(cum) AS dcg
                 FROM hc GROUP BY query_id),
          ser AS (SELECT i, sum(CAST(1.0 AS DOUBLE) / log2(i + 1.0))
                         OVER (ORDER BY i) AS cum
                  FROM generate_series(1, 10) AS g(i)),
          ideal AS (SELECT nr.query_id, s.cum AS idcg
                    FROM nr JOIN ser s ON s.i = least(nr.n_rel, 10)),
          q AS (SELECT DISTINCT query_id FROM run)
          SELECT q.query_id,
                 coalesce(nr.n_rel, 0) AS n_rel,
                 coalesce(pq.hits, 0) AS hits,
                 round(CAST(coalesce(pq.hits, 0) AS DOUBLE) / 10, 6)
                   AS precision_k,
                 CASE WHEN nr.n_rel > 0 THEN
                   round(CAST(coalesce(pq.hits, 0) AS DOUBLE) /
                         CAST(nr.n_rel AS DOUBLE), 6) END AS recall_k,
                 CASE WHEN pq.first_rank IS NULL THEN 0.0
                      ELSE round(CAST(1.0 AS DOUBLE) / pq.first_rank, 6)
                 END AS rr,
                 CASE WHEN nr.n_rel > 0 THEN
                   round(coalesce(pq.dcg, 0.0) / ideal.idcg, 4)
                 END AS ndcg
          FROM q LEFT JOIN nr ON q.query_id = nr.query_id
                 LEFT JOIN pq ON q.query_id = pq.query_id
                 LEFT JOIN ideal ON q.query_id = ideal.query_id
          ORDER BY q.query_id""",
    // graded-relevance eval: gain 2 label-match / 1 adjacent label;
    // DCG = ordered cumulative (2^g - 1)/log2(rank+1) (max == last);
    // ideal = gains sorted desc over positions 1..10, same ordered fold
    "llm_retrieval_eval_graded" ->
      """WITH qv AS (SELECT vec_id AS query_id,
                            CAST(embedding AS DOUBLE[]) AS v, label
                     FROM embeddings WHERE vec_id IN (1, 2, 3)),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
                FROM embeddings),
          ann AS (SELECT qv.query_id, e.vec_id AS doc_id,
                    round(list_cosine_similarity(e.v, qv.v), 6) AS cos_sim
                  FROM e JOIN qv ON e.vec_id <> qv.query_id),
          run AS (SELECT query_id, doc_id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY cos_sim DESC, doc_id ASC) AS rank
                  FROM ann),
          topk AS (SELECT * FROM run WHERE rank <= 10),
          rel AS (SELECT qv.query_id, e.vec_id AS doc_id,
                    CASE WHEN e.label = qv.label THEN 2 ELSE 1 END AS g
                  FROM e JOIN qv ON abs(e.label - qv.label) <= 1
                                AND e.vec_id <> qv.query_id),
          nr AS (SELECT query_id, count(*) AS n_rel FROM rel
                 GROUP BY query_id),
          h AS (SELECT t.query_id, t.rank, r.g FROM topk t
                JOIN rel r ON t.query_id = r.query_id
                          AND t.doc_id = r.doc_id),
          hc AS (SELECT query_id, rank,
                   sum((pow(CAST(2.0 AS DOUBLE), g) - 1.0) / log2(rank + 1.0))
                     OVER (PARTITION BY query_id ORDER BY rank) AS cum
                 FROM h),
          pq AS (SELECT query_id, count(*) AS hits, min(rank) AS first_rank,
                   max(cum) AS dcg
                 FROM hc GROUP BY query_id),
          ig AS (SELECT query_id, g,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY g DESC) AS i
                 FROM rel),
          ic AS (SELECT query_id, i,
                   sum((pow(CAST(2.0 AS DOUBLE), g) - 1.0) / log2(i + 1.0))
                     OVER (PARTITION BY query_id ORDER BY i) AS cum
                 FROM ig WHERE i <= 10),
          ideal AS (SELECT query_id, max(cum) AS idcg FROM ic
                    GROUP BY query_id),
          q AS (SELECT DISTINCT query_id FROM run)
          SELECT q.query_id,
                 coalesce(nr.n_rel, 0) AS n_rel,
                 coalesce(pq.hits, 0) AS hits,
                 round(CAST(coalesce(pq.hits, 0) AS DOUBLE) / 10, 6)
                   AS precision_k,
                 CASE WHEN nr.n_rel > 0 THEN
                   round(CAST(coalesce(pq.hits, 0) AS DOUBLE) /
                         CAST(nr.n_rel AS DOUBLE), 6) END AS recall_k,
                 CASE WHEN pq.first_rank IS NULL THEN 0.0
                      ELSE round(CAST(1.0 AS DOUBLE) / pq.first_rank, 6)
                 END AS rr,
                 CASE WHEN nr.n_rel > 0 THEN
                   round(coalesce(pq.dcg, 0.0) / ideal.idcg, 4)
                 END AS ndcg
          FROM q LEFT JOIN nr ON q.query_id = nr.query_id
                 LEFT JOIN pq ON q.query_id = pq.query_id
                 LEFT JOIN ideal ON q.query_id = ideal.query_id
          ORDER BY q.query_id""",
    // batch hybrid: both legs ranked per query (the llm_bm25_join qt/tf
    // algebra; exact cosine), full-outer fusion on (query_id, doc_id),
    // a query-partitioned top-k window — never a global sort
    // pipeline13: the hybrid-join fused top-10 per query feeds three
    // unrolled per-query MMR rounds (rel = rrf, vectors joined back,
    // the decimal-grid blend)
    "llm_pipeline13" ->
      s"""WITH hdocs AS (SELECT doc_id, text FROM documents),
          hce AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
          $hybridJoinCtesSql,
          fused AS (SELECT query_id, doc_id, rrf FROM hrk WHERE rank <= 10),
          cand AS (SELECT f.query_id, f.doc_id AS id, e.v, f.rrf AS rel
                   FROM fused f JOIN hce e ON e.vec_id = f.doc_id),
          lam AS (SELECT CAST(0.700000 AS DECIMAL(7,6)) AS l,
                         CAST(0.300000 AS DECIMAL(7,6)) AS m),
          s1 AS (SELECT query_id, id, v, rel, mmr FROM (
                   SELECT c.query_id, c.id, c.v, c.rel,
                          CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)), 6) AS DOUBLE) AS mmr,
                          row_number() OVER (PARTITION BY c.query_id
                            ORDER BY CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)), 6) AS DOUBLE)
                              DESC, c.id ASC) AS rn
                   FROM cand c CROSS JOIN lam) WHERE rn = 1),
          s2 AS (SELECT query_id, id, v, rel, mmr FROM (
                   SELECT c.query_id, c.id, c.v, c.rel,
                          CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)) - lam.m * CAST(
                            round(list_cosine_similarity(c.v, s1.v), 6) AS DECIMAL(18,6)), 6) AS DOUBLE)
                            AS mmr,
                          row_number() OVER (PARTITION BY c.query_id
                            ORDER BY CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)) - lam.m * CAST(
                              round(list_cosine_similarity(c.v, s1.v), 6) AS DECIMAL(18,6)), 6) AS DOUBLE)
                              DESC, c.id ASC) AS rn
                   FROM cand c
                   JOIN s1 ON s1.query_id = c.query_id AND c.id <> s1.id
                   CROSS JOIN lam) WHERE rn = 1),
          s3 AS (SELECT query_id, id, v, rel, mmr FROM (
                   SELECT c.query_id, c.id, c.v, c.rel,
                          CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)) - lam.m * CAST(
                            greatest(
                              round(list_cosine_similarity(c.v, s1.v), 6),
                              round(list_cosine_similarity(c.v, s2.v), 6)) AS DECIMAL(18,6)), 6) AS DOUBLE)
                            AS mmr,
                          row_number() OVER (PARTITION BY c.query_id
                            ORDER BY CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)) - lam.m * CAST(
                              greatest(
                                round(list_cosine_similarity(c.v, s1.v), 6),
                                round(list_cosine_similarity(c.v, s2.v), 6)) AS DECIMAL(18,6)), 6) AS DOUBLE)
                              DESC, c.id ASC) AS rn
                   FROM cand c
                   JOIN s1 ON s1.query_id = c.query_id AND c.id <> s1.id
                   JOIN s2 ON s2.query_id = c.query_id AND c.id <> s2.id
                   CROSS JOIN lam) WHERE rn = 1)
          SELECT query_id, id AS doc_id, rel AS rrf, mmr, 1 AS rank
          FROM s1
          UNION ALL SELECT query_id, id, rel, mmr, 2 FROM s2
          UNION ALL SELECT query_id, id, rel, mmr, 3 FROM s3""",
    // hybrid eval: the fused per-query ranking graded against
    // label-match relevance — the llm_retrieval_eval algebra with the
    // run swapped for the hybrid-join chain
    "llm_hybrid_eval" ->
      s"""WITH hdocs AS (SELECT doc_id, text FROM documents),
          hce AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
          $hybridJoinCtesSql,
          run AS (SELECT query_id, doc_id, rank FROM hrk WHERE rank <= 10),
          qv AS (SELECT vec_id AS query_id, label FROM embeddings
                 WHERE vec_id IN (1, 2, 3)),
          el AS (SELECT vec_id, label FROM embeddings),
          topk AS (SELECT * FROM run WHERE rank <= 10),
          rel AS (SELECT qv.query_id, el.vec_id AS doc_id
                  FROM el JOIN qv ON el.label = qv.label
                               AND el.vec_id <> qv.query_id),
          nr AS (SELECT query_id, count(*) AS n_rel FROM rel
                 GROUP BY query_id),
          h AS (SELECT t.query_id, t.rank FROM topk t
                JOIN rel r ON t.query_id = r.query_id
                          AND t.doc_id = r.doc_id),
          hc AS (SELECT query_id, rank,
                   sum(CAST(1.0 AS DOUBLE) / log2(rank + 1.0))
                     OVER (PARTITION BY query_id ORDER BY rank) AS cum
                 FROM h),
          pq AS (SELECT query_id, count(*) AS hits, min(rank) AS first_rank,
                   max(cum) AS dcg
                 FROM hc GROUP BY query_id),
          ser AS (SELECT i, sum(CAST(1.0 AS DOUBLE) / log2(i + 1.0))
                         OVER (ORDER BY i) AS cum
                  FROM generate_series(1, 10) AS g(i)),
          ideal AS (SELECT nr.query_id, s2.cum AS idcg
                    FROM nr JOIN ser s2 ON s2.i = least(nr.n_rel, 10)),
          q2 AS (SELECT DISTINCT query_id FROM run)
          SELECT q2.query_id,
                 coalesce(nr.n_rel, 0) AS n_rel,
                 coalesce(pq.hits, 0) AS hits,
                 round(CAST(coalesce(pq.hits, 0) AS DOUBLE) / 10, 6)
                   AS precision_k,
                 CASE WHEN nr.n_rel > 0 THEN
                   round(CAST(coalesce(pq.hits, 0) AS DOUBLE) /
                         CAST(nr.n_rel AS DOUBLE), 6) END AS recall_k,
                 CASE WHEN pq.first_rank IS NULL THEN 0.0
                      ELSE round(CAST(1.0 AS DOUBLE) / pq.first_rank, 6)
                 END AS rr,
                 CASE WHEN nr.n_rel > 0 THEN
                   round(coalesce(pq.dcg, 0.0) / ideal.idcg, 4)
                 END AS ndcg
          FROM q2 LEFT JOIN nr ON q2.query_id = nr.query_id
                 LEFT JOIN pq ON q2.query_id = pq.query_id
                 LEFT JOIN ideal ON q2.query_id = ideal.query_id
          ORDER BY q2.query_id""",
    "llm_hybrid_join" ->
      s"""WITH hdocs AS (SELECT doc_id, text FROM documents),
          hce AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
          $hybridJoinTailSql""",
    // pipeline11: gopher keep → exact dedup over the planted-duplicate
    // crawl → the same batch-hybrid fusion algebra, both legs over the
    // SURVIVING corpus only (the index's df/N/avgdl shift with the
    // rejections — a stats shortcut hash-mismatches)
    "llm_pipeline11" ->
      s"""WITH crawl AS (SELECT doc_id, text FROM documents
                         UNION ALL
                         SELECT doc_id + 500000, text FROM documents),
          hkept AS (SELECT doc_id, text FROM (
                   SELECT doc_id, text,
                     CAST(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')) AS INTEGER) AS n_tokens,
                     round(length(regexp_replace(text, '[\\t\\n\\x0B\\f\\r ]+', '', 'g')) * 1.0
                           / greatest(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')), 1), 6) AS mwl,
                     round((length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) * 1.0
                           / greatest(length(text), 1), 6) AS sym,
                     CAST(len(list_filter(string_split_regex(lower(text), '[\\t\\n\\x0B\\f\\r ]+'),
                          t -> t IN ($stopsEn))) AS INTEGER) AS stops
                   FROM crawl)
                 WHERE n_tokens >= 10 AND n_tokens <= 100000
                   AND mwl >= 2.0 AND mwl <= 10.0
                   AND sym <= 0.1 AND stops >= 1),
          hded AS (SELECT min(doc_id) AS doc_id FROM (
                     SELECT doc_id,
                       md5(regexp_replace(lower(text), '[\\t\\n\\x0B\\f\\r ]+', ' ', 'g')) AS fp
                     FROM hkept) GROUP BY fp),
          hdocs AS (SELECT k.doc_id, k.text FROM hkept k
                    JOIN hded USING (doc_id)),
          hce AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v
                  FROM embeddings e JOIN hded ON e.vec_id = hded.doc_id),
          $hybridJoinTailSql""",
    // hybrid RRF: the lexical top-50 and the semantic top-50 ranked,
    // FULL-OUTER-joined on the doc id (fixed two-term addition — the
    // operator's determinism contract), 1/(60+rank) contributions
    "llm_hybrid_rrf" ->
      s"""WITH ${bm25CteSql("")},
          bm AS (SELECT doc_id, round(sum(c), 4) AS bm25
                 FROM sc GROUP BY doc_id
                 ORDER BY bm25 DESC, doc_id ASC LIMIT 50),
          bmr AS (SELECT doc_id, row_number() OVER (
                    ORDER BY bm25 DESC, doc_id ASC) AS r FROM bm),
          ann AS (SELECT e.vec_id AS doc_id,
                    round(list_cosine_similarity(
                      CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cos_sim
                  FROM embeddings e
                  CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) qv
                              FROM embeddings WHERE vec_id = 0) q
                  WHERE e.vec_id <> 0
                  ORDER BY cos_sim DESC, e.vec_id LIMIT 50),
          annr AS (SELECT doc_id, row_number() OVER (
                     ORDER BY cos_sim DESC, doc_id ASC) AS r FROM ann),
          f AS (SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
                  round(coalesce(CAST(1.0 AS DOUBLE) / (60 + b.r), 0.0) +
                        coalesce(CAST(1.0 AS DOUBLE) / (60 + a.r), 0.0),
                        6) AS rrf
                FROM bmr b FULL OUTER JOIN annr a ON b.doc_id = a.doc_id)
          SELECT doc_id, rrf FROM f
          ORDER BY rrf DESC, doc_id ASC LIMIT 20""",
    "llm_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(text, '[\t\n\x0B\f\r ]+')) AS term
                       FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
          dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          n AS (SELECT count(*) AS n_docs FROM documents),
          scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
                            round(tf.tf * ln((n.n_docs + 1) * 1.0 / (dfq.df + 1)), 4) AS tfidf
                     FROM tf JOIN dfq USING (term) CROSS JOIN n),
          ranked AS (SELECT doc_id, term, tf, tfidf,
                            CAST(row_number() OVER (PARTITION BY doc_id
                              ORDER BY tfidf DESC, df ASC, term) AS INTEGER) AS rank
                     FROM scored)
          SELECT doc_id, rank, term, tf, tfidf FROM ranked WHERE rank <= 3""",
    "llm_simhash_pairs" -> {
      val h60 = "CAST(('0x'||substr(md5(s),1,15)) AS BIGINT)"
      s"""WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text FROM documents
            WHERE doc_id > (SELECT max(doc_id) - 300 FROM documents)),
          hs AS (SELECT doc_id,
                   list_transform(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+'), s -> $h60) AS hs
                 FROM corpus),
          sh AS (SELECT doc_id,
                   CAST(list_sum(list_transform(generate_series(0, 59), b ->
                     CASE WHEN list_sum(list_transform(hs, h ->
                            CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                          THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))
                     AS BIGINT) AS sh
                 FROM hs),
          bands AS (SELECT doc_id, sh, b.i AS band_idx,
                           (sh >> (15 * CAST(b.i AS INTEGER))) & 32767 AS band_val
                    FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) b)
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                 CAST(bit_count(xor(x.sh, y.sh)) AS INTEGER) AS hamming
          FROM bands x JOIN bands y
            ON x.band_idx = y.band_idx AND x.band_val = y.band_val
               AND x.doc_id < y.doc_id
          WHERE bit_count(xor(x.sh, y.sh)) <= 3"""
    },
    "llm_simhash_wide" -> {
      def word(w: Int) =
        s"""CAST(list_sum(list_transform(generate_series(0, 59), b ->
              CASE WHEN list_sum(list_transform(hs$w, h ->
                     CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                   THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))
              AS BIGINT)"""
      def hs(w: Int) =
        s"list_transform(toks, s -> CAST(('0x'||substr(md5('$w:'||s),1,15)) AS BIGINT)) AS hs$w"
      s"""WITH bounded AS (
            SELECT doc_id, text FROM documents
            WHERE doc_id > (SELECT max(doc_id) - 300 FROM documents)),
          corpus AS (SELECT doc_id, text FROM bounded
                     UNION ALL SELECT doc_id + 1000000, text FROM bounded),
          t AS (SELECT doc_id, string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+') toks FROM corpus),
          hws AS (SELECT doc_id, ${hs(0)}, ${hs(1)} FROM t),
          sh AS (SELECT doc_id, ${word(0)} AS w0, ${word(1)} AS w1 FROM hws),
          bands AS (
            SELECT doc_id, w0, w1, b.i AS band_idx,
                   CASE WHEN b.i = 0 THEN w0 & 1073741823
                        WHEN b.i = 1 THEN (w0 >> 30) & 1073741823
                        WHEN b.i = 2 THEN w1 & 1073741823
                        ELSE (w1 >> 30) & 1073741823 END AS band_val
            FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) b)
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                 CAST(bit_count(xor(x.w0, y.w0)) + bit_count(xor(x.w1, y.w1))
                      AS INTEGER) AS hamming
          FROM bands x JOIN bands y
            ON x.band_idx = y.band_idx AND x.band_val = y.band_val
               AND x.doc_id < y.doc_id
          WHERE bit_count(xor(x.w0, y.w0)) + bit_count(xor(x.w1, y.w1)) <= 3"""
    },
    "llm_kmeans" ->
      """WITH cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                       FROM embeddings ORDER BY vec_id LIMIT 8),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          scored AS (SELECT e.vec_id, e.v, c.cid,
                            row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
                     FROM e CROSS JOIN cent c),
          assigned AS (SELECT vec_id, v, cid AS cell FROM scored WHERE rk = 1),
          ex AS (SELECT cell,
                        CAST(unnest(generate_series(1, len(v))) - 1 AS INTEGER) AS pos,
                        unnest(v) AS elem
                 FROM assigned)
          SELECT cell, pos,
                 round(CAST(sum(CAST(elem AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS c_val,
                 count(*) AS n
          FROM ex GROUP BY cell, pos""",
    "llm_kmeans2" ->
      """WITH cent0 AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                        FROM embeddings ORDER BY vec_id LIMIT 8),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          s1 AS (SELECT e.vec_id, e.v, c.cid,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
                 FROM e CROSS JOIN cent0 c),
          a1 AS (SELECT vec_id, v, cid AS cell FROM s1 WHERE rk = 1),
          ex1 AS (SELECT cell,
                         CAST(unnest(generate_series(1, len(v))) - 1 AS INTEGER) AS pos,
                         unnest(v) AS elem
                  FROM a1),
          up1 AS (SELECT cell, pos,
                         round(CAST(sum(CAST(elem AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS c_val
                  FROM ex1 GROUP BY cell, pos),
          cent1 AS (SELECT cell AS cid, list(c_val ORDER BY pos) AS cv
                    FROM up1 GROUP BY cell),
          s2 AS (SELECT e.vec_id, e.v, c.cid,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
                 FROM e CROSS JOIN cent1 c),
          a2 AS (SELECT vec_id, v, cid AS cell FROM s2 WHERE rk = 1),
          ex2 AS (SELECT cell,
                         CAST(unnest(generate_series(1, len(v))) - 1 AS INTEGER) AS pos,
                         unnest(v) AS elem
                  FROM a2)
          SELECT cell, pos,
                 round(CAST(sum(CAST(elem AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS c_val,
                 count(*) AS n
          FROM ex2 GROUP BY cell, pos""",
    "llm_multimodal_meta" ->
      """SELECT doc_id,
                CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
                sha256(text) AS content_hash,
                CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END AS media_type
         FROM documents""",
    // the decode stub derives everything from the first 8 md5 hex chars
    // of the payload (see Multimodal.decodeStub), so the whole stage is
    // reproducible in SQL and hash-verified, not rows-only
    // letterbox geometry from the md5-derived dims: same IEEE double ops
    // both engines, so floor/scale agree bit-exactly
    "llm_multimodal_resize" ->
      """WITH acc AS (SELECT doc_id,
                             CAST(('0x'||substr(md5(text),1,8)) AS BIGINT) AS a
                      FROM documents),
          d AS (SELECT doc_id,
                       CAST(320 + a % 1600 AS INTEGER) AS width,
                       CAST(240 + (a >> 7) % 840 AS INTEGER) AS height
                FROM acc),
          s AS (SELECT doc_id, width, height,
                       least(1.0, least(1280.0 / width, 720.0 / height)) AS sc
                FROM d)
          SELECT doc_id, width, height, round(sc, 6) AS scale,
                 CAST(floor(width * sc / 2) * 2 AS INTEGER) AS out_w,
                 CAST(floor(height * sc / 2) * 2 AS INTEGER) AS out_h
          FROM s""",
    "llm_multimodal_frames" ->
      """WITH acc AS (SELECT doc_id,
                             CAST(('0x'||substr(md5(text),1,8)) AS BIGINT) AS a
                      FROM documents),
          d AS (SELECT doc_id, CAST(1 + (a >> 13) % 240 AS INTEGER) AS n_frames
                FROM acc)
          SELECT doc_id, CAST(unnest(range(0, n_frames, 30)) AS INTEGER) AS frame_idx
          FROM d""",
    "llm_multimodal_decode" ->
      """WITH acc AS (SELECT doc_id,
                             CAST(('0x'||substr(md5(text),1,8)) AS BIGINT) AS a
                      FROM documents),
          d AS (SELECT doc_id,
                       CAST(320 + a % 1600 AS INTEGER) AS width,
                       CAST(240 + (a >> 7) % 840 AS INTEGER) AS height,
                       CAST(1 + (a >> 13) % 240 AS INTEGER) AS n_frames,
                       round(((a >> 3) % 256) / 255.0, 6) AS mean_luma
                FROM acc)
          SELECT doc_id, width, height, n_frames,
                 CASE WHEN width >= 1280 THEN 'hd' ELSE 'sd' END AS res_class,
                 CAST(len(range(0, n_frames, 30)) AS INTEGER) AS n_sampled,
                 array_to_string(range(0, n_frames, 30), ',') AS frames_csv,
                 mean_luma
          FROM d""",
    // DSIR importance weights: hashed unigram+bigram bucket counts, add-1
    // smoothed target/raw log-likelihood ratio per bucket, bag-of-feature
    // sum per doc. The per-bucket ln argument is built with the EXACT
    // same IEEE op sequence as the Spark twin ((cnt+1.0)/(total+B), then
    // ratio) so only libm's 1-ulp ln spread is in play — absorbed by
    // round(.,4) (the tfidf quantization argument).
    "llm_dsir" ->
      """WITH tok AS (SELECT doc_id, lang, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS t
                      FROM documents),
          uni AS (SELECT doc_id, lang, unnest(t) AS g FROM tok),
          bi AS (SELECT doc_id, lang, t[i] || ' ' || t[i+1] AS g
                 FROM (SELECT doc_id, lang, t,
                              unnest(generate_series(1, len(t) - 1)) AS i
                       FROM tok WHERE len(t) >= 2)),
          feats AS (SELECT doc_id, lang,
                           CAST(('0x'||substr(md5(g),1,15)) AS BIGINT) % 1024 AS f
                    FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
          cr AS (SELECT f, count(*) AS cr FROM feats GROUP BY f),
          ct AS (SELECT f, count(*) AS ct FROM feats WHERE lang = 'en' GROUP BY f),
          tot AS (SELECT (SELECT sum(cr) FROM cr) AS r,
                         (SELECT coalesce(sum(ct), 0) FROM ct) AS t),
          lw AS (SELECT cr.f,
                        ln(((coalesce(ct.ct, 0) + 1.0) / (tot.t + 1024)) /
                           ((cr.cr + 1.0) / (tot.r + 1024))) AS lw
                 FROM cr LEFT JOIN ct USING (f), tot)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
                 round(sum(lw), 4) AS log_w
          FROM feats JOIN lw USING (f)
          GROUP BY doc_id"""
  )
}
