package graft.queries

/** The SQL recipes that two or more query keys spell, each written once:
  * the DuckDB oracle CTE chains and the fixture fragments the Spark-SQL
  * views share with them. An oracle composes these instead of carrying
  * a copy, so a recipe cannot drift between the keys that replay it.
  * Every member is SQL text; none touches a session. */
private[graft] object SqlRecipes {

  /** u32 of md5 over lambda variable `s` — the shared shingle hash. */
  val hashSql = "CAST(('0x'||substr(md5(s),1,8)) AS BIGINT)"

  /** The BM25 scoring CTE chain over `documents` (optionally filtered —
    * the takedown oracle scores the REMAINING corpus), shared by every
    * bm25-family oracle so the algebra (the exact parenthesization the
    * operator uses — integer (N-df) before +0.5, (b·dl)/avgdl
    * left-assoc, tf cast to double before the k1 products) cannot
    * diverge between them. Ends at `sc` = (doc_id, c). */
  def bm25CteSql(where: String): String =
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
  val gram13Sql = (0 until 13).map(j => s"toks[i+$j]").mkString(" || ' ' || ")

  /** The RE2-safe pre-tokenization split as a DuckDB word-extraction
    * expression — replays [[graft.operators.TextAnalysis.pretokPattern]]
    * verbatim (letter runs / digit runs / non-space-other runs; no
    * lookaround, and the whitespace class spelled explicitly because
    * Java's `\s` includes `\x0B` while RE2's does not — see the
    * pattern's scaladoc). */
  val pretokWordsSql =
    "regexp_extract_all(text, '\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\t\\n\\x0B\\f\\r ]+')"

  /** The BPE-train oracle as DuckDB CTEs: `nMerges` UNROLLED rounds
    * over the delimiter-wrapped symbol strings (w0 → w1 → …), each
    * round counting every adjacent symbol position weighted by word
    * frequency, picking the (count desc, l asc, r asc) winner, and
    * applying it via `replace` (left-to-right non-overlapping — the
    * bpe_count oracle's established equivalence). Ends in
    * `mAll(rank, l, r)` — the learned merge table. */
  def bpeTrainCtes(nMerges: Int,
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
  def unigramTrainCtes(vocabSize: Int, nRounds: Int,
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
  def audioFpCtes(src: String, sfx: String,
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

  /** The image dHash kernel's 72 slice lumas of hex column `h`:
    * u32(md5(slice)) mod 256 per slice, slice k covering hex chars
    * [⌊L·k/72⌋, ⌊L·(k+1)/72⌋). */
  val lumaSql: String =
    """list_transform(generate_series(0, 71), k ->
         CAST(('0x' || substr(md5(substr(h,
             CAST(floor(length(h)*k/72) AS INT) + 1,
             greatest(CAST(floor(length(h)*(k+1)/72) AS INT)
               - CAST(floor(length(h)*k/72) AS INT), 0))), 1, 8))
           AS BIGINT) % 256)"""

  /** The 64-bit difference hash over luma list `lu`: bit i set when the
    * right neighbour is brighter. Bit 63 is the BIGINT sign bit
    * (DuckDB's checked << overflows at 63), so it lands as the min-long
    * literal — two's complement, matching Spark's shiftleft. */
  val dhashBitsSql: String =
    """CAST(list_sum(list_transform(generate_series(0, 63), i ->
         CASE WHEN lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 2]
                   > lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 1]
              THEN CASE WHEN i = 63
                        THEN -9223372036854775808
                        ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END
              ELSE 0 END)) AS BIGINT)"""

  /** The per-frame video hash chain as DuckDB CTEs over relation `src`
    * (doc_id, text[, carry]), ending in `vfp$sfx(doc_id[, carry],
    * frame_idx, fhash)`: frame f of 4 = the byte range
    * [(L·f)//4, (L·(f+1))//4) of the payload, taken as the ALIGNED
    * hex slice (byte k ↔ hex chars 2k+1..2k+2), then the image dHash
    * kernel over the frame's hex — exactly what the fused DHash64
    * computes over the frame's bytes on the Spark side. */
  def videoFpCtes(src: String, sfx: String,
                          carry: String = ""): String = {
    val c = if (carry.isEmpty) "" else s", $carry"
    s"""vhx$sfx AS (SELECT doc_id$c, lower(hex(text)) AS h FROM $src),
        vfr$sfx AS (SELECT doc_id$c, unnest(generate_series(0, 3)) AS frame_idx, h
                 FROM vhx$sfx),
        vsl$sfx AS (SELECT doc_id$c, frame_idx,
                  substr(h, 2*(((length(h)//2)*frame_idx)//4) + 1,
                         2*((((length(h)//2)*(frame_idx+1))//4)
                            - (((length(h)//2)*frame_idx)//4))) AS h
                FROM vfr$sfx),
        vlu$sfx AS (SELECT doc_id$c, frame_idx, $lumaSql AS lu FROM vsl$sfx),
        vfp$sfx AS (SELECT doc_id$c, frame_idx, $dhashBitsSql AS fhash
                    FROM vlu$sfx)"""
  }

  /** The dHash chain as DuckDB CTEs over relation `src` (`cols`, text),
    * ending in `dh$sfx(cols, dhash)`; the suffix lets one statement hash
    * several relations (store + incoming payloads). */
  def dhashCtes(src: String, sfx: String = "", cols: String = "doc_id"): String =
    s"""hx$sfx AS (SELECT $cols, lower(hex(text)) AS h FROM $src),
        lum$sfx AS (SELECT $cols, $lumaSql AS lu FROM hx$sfx),
        dh$sfx AS (SELECT $cols, $dhashBitsSql AS dhash FROM lum$sfx)"""

  /** The Gopher repetition panel as DuckDB CTEs over a relation `src`
    * (doc_id, text), ending in `fr(doc_id, dup_line_frac,
    * dup_line_char_frac, top_ngram_char_frac, dup_ngram_char_frac)` —
    * shared by the llm_gopher_rep oracle (planted fixture src) and the
    * pipeline4 oracle (raw documents src), single-sourced to prevent
    * drift. Same 60-bit hash recipe as the Spark twin; the top-gram tie
    * breaks by (count, len, hash) on both sides. */
  val gopherRepCtes: String =
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
  val gopherRepKeep: String =
    """(dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
        AND top_ngram_char_frac <= 0.20 AND dup_ngram_char_frac <= 0.15)"""

  /** DuckDB CTEs `t` (tail-slice tokens) and `g` (distinct trigrams) —
    * the shared prefix of both containment oracles. */
  lazy val tailTrigramCtes =
    """t AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS toks
            FROM documents
            WHERE doc_id > (SELECT max(doc_id) - 300 FROM documents)),
       g AS (SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(toks) - 2),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gs
             FROM t WHERE len(toks) >= 3)"""

  /** The minhash SKETCH side of the pipeline as CTEs ending in
    * `bands$sfx` (and exposing `hs$sfx`), over source relation `src`;
    * `sfx` disambiguates the CTE names so two sides (incremental-dedup
    * oracle) can coexist in one statement. */
  def minhashSketchCtes(src: String, cap: Option[Int],
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

  /** The MinHash-LSH pipeline as DuckDB CTEs ending in
    * `pairs(id_a, id_b, jaccard)`, over source relation `src`; `cap`
    * inserts the hot-bucket guard (buckets with more than `cap` members
    * dropped before the candidate join — mirroring
    * Dedup.minhashPairs(maxBucketSize)). */
  def minhashCtesFrom(src: String, cap: Option[Int] = None): String =
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

  lazy val minhashCtes = minhashCtesFrom("documents")

  /** DuckDB expression for the LSH bucket of a DOUBLE[] column `v`,
    * using the same deterministic hyperplanes as Similarity.planeSigns. */
  def bucketSql(planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (plane, p) =>
      val arr = plane.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_inner_product(v, $arr) > 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")

  val stopsEn = "'the','a','of','and','to','in','is','it','for','on'"

  /** Two batch-GD rounds of the hashed-bucket LR replayed over the
    * even/odd labeled fixture (`pos` evens, `neg` upper-cased odds):
    * iteration 1 has w = 0 so sigmoid is exactly 0.5, iteration 2 runs
    * the quantized sigmoid on the 6-decimal logit; every corpus-scale
    * sum accumulates in DECIMAL(20,10) and weights land on the 1e-6
    * grid, ending at `w2(bucket, w)` with `feats(tid, bucket, tf, y)`. */
  val lrTrainCtes: String =
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
                 FROM w1 FULL JOIN g2 ON w1.bucket = g2.bucket)"""

  /** The full LR train-then-score replay (2 GD rounds, round-6 grids,
    * exact-decimal accumulations) over the even/odd labeled fixture,
    * ending at `ep` = (tid, p, y) — shared by the eval and calibration
    * oracles so the scoring replay cannot diverge between them. */
  lazy val lrEvalScoreCtes: String =
    s"""$lrTrainCtes,
          ez AS (SELECT f.tid,
                        round(CAST(sum(CAST(f.tf * coalesce(w2.w, 0.0)
                          AS DECIMAL(20,10))) AS DOUBLE), 6) AS z
                 FROM feats f LEFT JOIN w2 USING (bucket) GROUP BY f.tid),
          ep AS (SELECT tid, round(1.0 / (1.0 + exp(-z)), 6) AS p,
                        CASE WHEN tid LIKE 'p:%' THEN 1 ELSE 0 END AS y
                 FROM ez)"""

  /** The batch-hybrid CTE chain up through `hrk` (per-query fused
    * ranking) — shared by the hybrid-join oracles and pipeline13's
    * (which appends the per-query MMR unroll on top). */
  lazy val hybridJoinCtesSql: String =
    s"""hq(query_id, qtext) AS (SELECT * FROM $queryTextsValues),
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

  /** The batch-hybrid fusion algebra (both legs ranked at 20, RRF-fused
    * per query, cut at 10): expects CTEs `hdocs` (doc_id, text — the
    * lexical corpus) and `hce` (vec_id, v DOUBLE[] — the semantic
    * corpus side) upstream; ends with the final SELECT. Shared by
    * llm_hybrid_join and llm_pipeline11 so the fusion algebra cannot
    * diverge between the standalone and composed forms. */
  lazy val hybridJoinTailSql: String =
    s"""$hybridJoinCtesSql
        SELECT query_id, doc_id, rrf, rank FROM hrk WHERE rank <= 10"""

  /** Raw-crawl fixture around every doc (shared by the html-strip gate
    * and pipeline5, Scala AND SQL sides): style + script blocks (the
    * script contains `1 < 2 && x > 0` — eaten as a tag if block removal
    * were skipped), a comment, attributed tags, the handled entities,
    * and the UNhandled &copy; that must pass through. No single quotes,
    * so it splices into a SQL literal verbatim. */
  val htmlPre = "<!DOCTYPE html><html><head><style type=\"text/css\">" +
    "p{color:red}</style><script>if (1 < 2 && x > 0) { y = \"a&b\"; }" +
    "</script></head><body><h1>Title</h1><p class=\"a\">"
  val htmlPost = "</p><!-- hidden note --> 3 &lt; 4 &amp;&amp; y &gt; 1&nbsp;" +
    "&quot;it&#39;s&quot; &copy; fine</body></html>"

  /** The markup-strip chain as DuckDB CTEs: expects `d(doc_id, h)`,
    * yields `f(doc_id, clean_text)` — the exact algebra of
    * [[graft.operators.TextAnalysis.stripMarkup]]. */
  val stripChainSql =
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
  val overlapCtes: String = {
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

  /** The media slice as CTEs `m(mx)` and `sl(doc_id, text)`: the last
    * 300 ids with at least 400 chars. Valid in DuckDB and Spark SQL. */
  val mediaSlice: String =
    """m AS (SELECT max(doc_id) AS mx FROM documents),
       sl AS (SELECT doc_id, text FROM documents, m
              WHERE doc_id > mx - 300 AND length(text) >= 400)"""

  /** A slice row's same-length edited clone: chars 11–14 become QQQQ. */
  val mediaCloneSql = "substr(text, 1, 10) || 'QQQQ' || substr(text, 15)"

  /** A second, independent same-length edit: chars 30–33 become ZZZZ. */
  val mediaClone2Sql = "substr(text, 1, 29) || 'ZZZZ' || substr(text, 34)"

  /** [[mediaSlice]] plus `base(doc_id, text)`: the slice and one edited
    * clone per row at id + 3,000,000; `more` appends UNION ALL arms. */
  def mediaPairsCtes(more: String = ""): String =
    s"""$mediaSlice,
        base AS (SELECT doc_id, text FROM sl
                 UNION ALL
                 SELECT doc_id + 3000000, $mediaCloneSql
                 FROM sl$more)"""

  /** [[mediaSlice]] plus `base(doc_id, text, is_new)`: the store side
    * (the slice, narrowed by `storeWhere`) at 0, the clones at 1. */
  def mediaProbeCtes(storeWhere: String = ""): String =
    s"""$mediaSlice,
        base AS (SELECT doc_id, text, 0 AS is_new FROM sl$storeWhere
                 UNION ALL
                 SELECT doc_id + 3000000, $mediaCloneSql, 1
                 FROM sl)"""

  /** Spark SQL: the slice as `(doc_id, payload BINARY)`. */
  val mediaPayloadsSql: String =
    s"WITH $mediaSlice SELECT doc_id, CAST(text AS BINARY) AS payload FROM sl"

  /** Spark SQL: a slice row's edited clone ([[mediaCloneSql]]) as BINARY. */
  val mediaClonePayload: String =
    "CAST(concat(substring(text, 1, 10), 'QQQQ', substring(text, 15)) AS BINARY)"

  /** Spark SQL: [[mediaPayloadsSql]] plus each row's edited clone at
    * id + 3,000,000 — the media pair fixture. */
  val mediaPairPayloadsSql: String =
    s"$mediaPayloadsSql UNION ALL SELECT doc_id + 3000000, $mediaClonePayload FROM sl"

  /** The fixture BPE merge table, (rank, left, right). */
  val bpeMerges: Seq[(Int, String, String)] = Seq(
    (0, "t", "h"), (1, "th", "e"), (2, "i", "n"), (3, "a", "n"),
    (4, "an", "d"), (5, "e", "r"), (6, "o", "n"), (7, "r", "e"))

  /** [[bpeMerges]] as a `(VALUES …)` row source (DuckDB and Spark SQL). */
  val bpeMergesValues: String =
    bpeMerges.map { case (r, a, b) => s"($r,'$a','$b')" }.mkString("(VALUES ", ",", ")")

  /** Spark SQL: [[bpeMerges]] as temp view `name(rank, left, right)`. */
  def bpeMergesView(name: String): String =
    s"CREATE OR REPLACE TEMPORARY VIEW $name AS SELECT * FROM $bpeMergesValues AS m(rank, left, right)"

  /** DuckDB: [[bpeMerges]] as CTE `m(rank, l, r)`. */
  val bpeMergesCte: String = s"m(rank, l, r) AS (SELECT * FROM $bpeMergesValues)"

  /** BPE apply replayed over `src(doc_id, text)` with the merge table
    * `m(rank, l, r)` in scope (needs WITH RECURSIVE): words split (`t`),
    * numbered (`w`) and kept non-empty (`w2`); each word a
    * delimiter-wrapped symbol string (' a  n  d ') in `init`; one `bpe`
    * recursion step applies the LOWEST-rank merge present via replace —
    * left-to-right non-overlapping application, and the double-space
    * wrapping makes mid-symbol false matches impossible; `term(doc_id,
    * wi, s)` holds the states no merge touches. `t`, `w` and `w2` rename
    * the word CTEs where a statement already uses those names. */
  def bpeApplyCtes(src: String = "documents", t: String = "t0",
                   w: String = "w", w2: String = "w2"): String =
    s"""$t AS (SELECT doc_id, string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+') AS ws
               FROM $src),
        $w AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS wi, ws
               FROM $t),
        $w2 AS (SELECT doc_id, wi, ws[wi] AS word FROM $w
                WHERE length(ws[wi]) > 0),
        init AS (SELECT doc_id, wi,
                   ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS s
                 FROM $w2),
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
                   WHERE position(' '||m.l||'  '||m.r||' ' IN b.s) > 0))"""

  /** `cnt(doc_id, c)`: each terminal word's symbol count (spaces / 2). */
  val bpeCountCte: String =
    """cnt AS (SELECT doc_id,
                 (length(s) - length(replace(s, ' ', ''))) // 2 AS c
               FROM term)"""

  /** `sy`, `ix(doc_id, wi, si, a)`: each terminal word split back into
    * its symbol list `a`, one row per symbol position `si`. */
  val bpeSymbolCtes: String =
    """sy AS (SELECT doc_id, wi, string_split(trim(s), '  ') AS a FROM term),
       ix AS (SELECT doc_id, wi, unnest(generate_series(1, len(a))) AS si, a
              FROM sy)"""

  /** The stable token id of symbol `tok`: a single codepoint is its
    * unicode(), a merged symbol 1114112 + the lowest rank whose l||r
    * spells it. */
  def bpeTokenIdSql(tok: String): String =
    s"""CAST(CASE WHEN length($tok) = 1 THEN unicode($tok)
             ELSE 1114112 + (SELECT min(m2.rank) FROM m m2
                             WHERE m2.l || m2.r = $tok)
             END AS INT)"""

  /** `e(vec_id, v)`: the embeddings as DOUBLE[] lists. */
  val embeddingsCte: String =
    "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"

  /** `name(cid, cv)`: the 8 lowest-id embeddings as seed cells. */
  def seedCellsCte(name: String): String =
    s"""$name AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings ORDER BY vec_id LIMIT 8)"""

  /** `ca(vec_id, cid, rk)`: every `e` row's rank over the seed cells
    * `cent` (cosine desc, lowest cid) — rk 1 is the cellOf argmax. */
  val cellRankCte: String =
    """ca AS (SELECT e.vec_id, c.cid,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
              FROM e CROSS JOIN cent c)"""

  /** Lloyd round r's scoring `s$r`: every `e` row ranked over the cells
    * `cent${r-1}` (cosine desc, lowest cid). */
  def lloydScoreCte(r: Int): String =
    s"""s$r AS (SELECT e.vec_id, e.v, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
            FROM e CROSS JOIN cent${r - 1} c)"""

  /** One Lloyd round r: assignment `a$r`, per-position elements `ex$r`,
    * the DECIMAL-exact mean on the 1e-6 grid `up$r`, and the new cells
    * `cent$r(cid, cv)`. */
  private def lloydRoundCtes(r: Int): String =
    s"""${lloydScoreCte(r)},
        a$r AS (SELECT vec_id, v, cid AS cell FROM s$r WHERE rk = 1),
        ex$r AS (SELECT cell,
                   CAST(unnest(generate_series(1, len(v))) - 1 AS INTEGER) AS pos,
                   unnest(v) AS elem
                 FROM a$r),
        up$r AS (SELECT cell, pos,
                   round(CAST(sum(CAST(elem AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6) AS c_val
                 FROM ex$r GROUP BY cell, pos),
        cent$r AS (SELECT cell AS cid, list(c_val ORDER BY pos) AS cv
                   FROM up$r GROUP BY cell)"""

  /** k-means from the seed cells `cent0` over `e`: `rounds` Lloyd
    * rounds, ending in `cent$rounds`. */
  def kmeansCtes(rounds: Int): String =
    (Seq(seedCellsCte("cent0"), embeddingsCte) ++ (1 to rounds).map(lloydRoundCtes))
      .mkString(",\n")

  /** The IVF coarse stage over `e`: seed cells `cent(cid, cv)` and each
    * row's cell `a(vec_id, v, cell)`. */
  val ivfCellCtes: String =
    """cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
       a AS (SELECT vec_id, v, cid AS cell FROM (
               SELECT e.vec_id, e.v, c.cid,
                      row_number() OVER (PARTITION BY e.vec_id
                        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
               FROM e CROSS JOIN cent c) WHERE rk = 1)"""

  /** The IVF coarse stage as the single-query IVF oracles spell it:
    * `e(vec_id, v)`, seed cells `c(cid, cv)` and each row's cell
    * `assigned(vec_id, v, cell)`. */
  val ivfAssignedCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       c AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
       assigned AS (
         SELECT vec_id, v, cid AS cell FROM (
           SELECT e.vec_id, e.v, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) rk
           FROM e CROSS JOIN c) WHERE rk = 1)"""

  /** `qc(qv, cell, rk)`: the query row's vector and its ranking of the
    * cells `c`, over [[ivfAssignedCtes]]. */
  val ivfAssignedQueryCte: String =
    """qc AS (SELECT a.v AS qv, c.cid AS cell,
                     row_number() OVER (
                       ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid) rk
              FROM assigned a CROSS JOIN c WHERE a.vec_id = 0)"""

  /** `qc(cell, rk)`: the query row's (vec_id 0) ranking of the cells. */
  val ivfQueryCellsCte: String =
    """qc AS (SELECT c.cid AS cell,
                     row_number() OVER (
                       ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.cid) AS rk
              FROM cent c CROSS JOIN (SELECT v FROM e WHERE vec_id = 0) q)"""

  /** PQ codes: codebooks seeded from the 8 lowest ids of `e` (4
    * subspaces of 16 dims) as `cb(s, cid, cv)`, and `enc(vec_id, s,
    * code)` — each `src(vec_id, v)` row coded per subspace by argmin
    * round(|c|² − 2·x_s·c, 6), ties to the lowest code id (the Spark
    * array_min-over-struct order). */
  def pqCodesCtes(src: String): String =
    s"""seed AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8),
        sub AS (SELECT unnest(generate_series(0, 3)) AS s),
        cb AS (SELECT sub.s, seed.vec_id AS cid,
                      seed.v[sub.s*16+1 : sub.s*16+16] AS cv
               FROM sub CROSS JOIN seed),
        enc AS (SELECT vec_id, s, cid AS code FROM (
                  SELECT $src.vec_id, b.s, b.cid,
                         row_number() OVER (PARTITION BY $src.vec_id, b.s
                           ORDER BY round(list_inner_product(b.cv, b.cv)
                             - 2 * list_inner_product($src.v[b.s*16+1 : b.s*16+16], b.cv), 6) ASC,
                           b.cid ASC) AS rk
                  FROM $src CROSS JOIN cb b) WHERE rk = 1)"""

  /** The query vector `q(v)` (vec_id 0) and its ADC lookup table
    * `lut(s, cid, d)` over the codebooks `cb`. */
  val pqLutCtes: String =
    """q AS (SELECT v FROM e WHERE vec_id = 0),
       lut AS (SELECT b.s, b.cid,
                      list_inner_product(q.v[b.s*16+1 : b.s*16+16], b.cv) AS d
               FROM cb b CROSS JOIN q)"""

  /** IVF-PQ up to the ADC join: [[ivfCellCtes]], the query's top-2 cells
    * prune to `pr(vec_id, v)` (non-query rows, `where` narrowing
    * further), [[pqCodesCtes]] over `pr` and [[pqLutCtes]]. */
  def ivfPqCtes(where: String = ""): String =
    s"""$embeddingsCte,
        $ivfCellCtes,
        $ivfQueryCellsCte,
        pr AS (SELECT a.vec_id, a.v FROM a
               JOIN (SELECT cell FROM qc WHERE rk <= 2) p ON a.cell = p.cell
               WHERE a.vec_id <> 0$where),
        ${pqCodesCtes("pr")},
        $pqLutCtes"""

  /** Connected components over `pairs(id_a, id_b)` (needs WITH
    * RECURSIVE): symmetric `edges` and the reachability closure
    * `reach(id, r)` — UNION dedups states, so cycles terminate, and
    * min(r) per id is min-label propagation's fixpoint. */
  val componentsCtes: String =
    """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                 UNION ALL SELECT id_b, id_a FROM pairs),
       reach(id, r) AS (
         SELECT src, src FROM edges
         UNION
         SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)"""

  /** The MMR blend of greedy round k over candidates `c`: round(λ·rel −
    * (1−λ)·max cos-to-selected, 6) on the DECIMAL grid, each cosine
    * rounded to 6 before the max; round 1 has no selected set. */
  private def mmrScoreSql(k: Int): String =
    if (k == 1) "CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)), 6) AS DOUBLE)"
    else {
      val sim = (1 until k)
        .map(j => s"round(list_cosine_similarity(c.v, s$j.v), 6)")
        .reduceLeft((a, b) => s"greatest($a, $b)")
      s"CAST(round(lam.l * CAST(c.rel AS DECIMAL(18,6)) - lam.m * CAST($sim AS DECIMAL(18,6)), 6) AS DOUBLE)"
    }

  private val mmrLambdaCte =
    """lam AS (SELECT CAST(0.700000 AS DECIMAL(7,6)) AS l,
                      CAST(0.300000 AS DECIMAL(7,6)) AS m)"""

  /** MMR's greedy rounds unrolled over `cand(id, v, rel)`: the weights
    * `lam`, then `s1`…`s$n`, each the argmax of the round's blend with
    * id tie-break; `cols` is what each round keeps of its pick. */
  def mmrCtes(n: Int, cols: String = "c.id, c.v"): String =
    (mmrLambdaCte +: (1 to n).map { k =>
      val prev = (1 until k).map(j => s"s$j")
      val from = ("cand c" +: "lam" +: prev).mkString(" CROSS JOIN ")
      val where =
        if (k == 1) ""
        else if (k == 2) " WHERE c.id <> s1.id"
        else prev.map(p => s"$p.id").mkString(" WHERE c.id NOT IN (", ", ", ")")
      s"""s$k AS (SELECT $cols, ${mmrScoreSql(k)} AS mmr
                 FROM $from$where
                 ORDER BY mmr DESC, c.id LIMIT 1)"""
    }).mkString(",\n")

  /** [[mmrCtes]] per query over `cand(query_id, id, v, rel)`: each round
    * a query-partitioned argmax window, picks joined back per query. */
  def mmrJoinCtes(n: Int): String =
    (mmrLambdaCte +: (1 to n).map { k =>
      val score = mmrScoreSql(k)
      val joins = (1 until k)
        .map(j => s" JOIN s$j ON s$j.query_id = c.query_id AND c.id <> s$j.id").mkString
      s"""s$k AS (SELECT query_id, id, v, rel, mmr FROM (
                 SELECT c.query_id, c.id, c.v, c.rel, $score AS mmr,
                        row_number() OVER (PARTITION BY c.query_id
                          ORDER BY $score DESC, c.id ASC) AS rn
                 FROM cand c$joins CROSS JOIN lam) WHERE rn = 1)"""
    }).mkString(",\n")

  /** The admission batch as CTEs `m(mx)` and `aa(doc_id, text)`: ids in
    * (mx − 300, mx − 200]. Valid in DuckDB and Spark SQL. */
  val admissionBatchCtes: String =
    """m AS (SELECT max(doc_id) AS mx FROM documents),
       aa AS (SELECT doc_id, text FROM documents, m
              WHERE doc_id > mx - 300 AND doc_id <= mx - 200)"""

  /** `name(doc_id, text)`: the rows of `src` that pass the Gopher
    * admission rules on rounded stats (token bounds, mean word length,
    * symbol ratio 0.1, at least one stopword). */
  def gopherKeepCte(name: String, src: String): String =
    s"""$name AS (SELECT doc_id, text FROM (
          SELECT doc_id, text,
            CAST(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')) AS INTEGER) AS n_tokens,
            round(length(regexp_replace(text, '[\\t\\n\\x0B\\f\\r ]+', '', 'g')) * 1.0
                  / greatest(len(string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+')), 1), 6) AS mwl,
            round((length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) * 1.0
                  / greatest(length(text), 1), 6) AS sym,
            CAST(len(list_filter(string_split_regex(lower(text), '[\\t\\n\\x0B\\f\\r ]+'),
                 t -> t IN ($stopsEn))) AS INTEGER) AS stops
          FROM $src)
        WHERE n_tokens >= 10 AND n_tokens <= 100000
          AND mwl >= 2.0 AND mwl <= 10.0 AND sym <= 0.1 AND stops >= 1)"""

  /** The admission TEXT path over the incoming rows `inc(doc_id, text)`:
    * Gopher keep `q` → 13-gram decontamination against the eval slice
    * (ids > mx − 100) → `clean` → band-candidate + exact-jaccard (≥ 0.5)
    * near-dups of the corpus in `rejected(doc_id)`. */
  lazy val admissionTextCtes: String =
    s"""${gopherKeepCte("q", "inc")},
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
                           / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.5)"""

  /** 13-gram decontamination over `documents`: `m(mx)`, tokens `t`,
    * distinct grams `g`, their hashes `h(doc_id, hs)`, the eval slice's
    * hashes `ev(eh)` (ids > mx − 100) and the corpus side `co(doc_id, eh)`. */
  lazy val decontamCtes: String =
    s"""m AS (SELECT max(doc_id) AS mx FROM documents),
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
        co AS (SELECT doc_id, unnest(hs) AS eh FROM h, m WHERE doc_id <= mx - 100)"""

  /** Raw-crawl cleanup over `base(doc_id, text)`: the markup fixture `d`,
    * the strip chain, normalization `n` (CRLF, control strip, horizontal
    * whitespace), Gopher stats `g` and keep `k` (symbol ratio 0.2), and
    * keep-first exact dedup `dd(doc_id, text)` on the fingerprint. */
  lazy val crawlCleanCtes: String =
    s"""d AS (SELECT doc_id, '$htmlPre' || text || '$htmlPost' AS h FROM base),
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
                   ORDER BY doc_id) AS rn FROM k) WHERE rn = 1)"""

  /** The trigram-KN inputs: tokens `t(doc_id, tk)`, each position's
    * trigram / bigrams / words `tr`, and their 60-bit hashes `r(doc_id,
    * th, bh12, bh23, mh, w3h)`. */
  val trigramKnCtes: String =
    """t AS (SELECT doc_id, string_split_regex(text, '[\t\n\x0B\f\r ]+') AS tk
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
             FROM tr)"""

  /** The three fixture queries of the batch retrieval gates. */
  val queryTextsValues: String =
    "(VALUES (1, 'hash join'), (2, 'vector scan slow'), (3, 'zzzunknown'))"

  /** `q(query_id, qtext)`: the fixture queries; `qt(query_id, term)`:
    * each query's distinct non-empty terms. */
  val queryTermCtes: String =
    s"""q(query_id, qtext) AS (SELECT * FROM $queryTextsValues),
        qt AS (SELECT DISTINCT query_id, t AS term FROM (
                 SELECT query_id,
                        unnest(string_split_regex(qtext, '[\\t\\n\\x0B\\f\\r ]+')) AS t
                 FROM q) WHERE length(t) > 0)"""

  /** Batch BM25 over [[queryTermCtes]]: the per-(query, doc) score
    * `agg(query_id, doc_id, bm25)` — the [[bm25CteSql]] algebra. */
  val bm25JoinCtes: String =
    s"""$queryTermCtes,
       d AS (SELECT doc_id, string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+') AS toks
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
               FROM sc GROUP BY query_id, doc_id)"""

  /** The cell equi-join of the batch kNN gates over [[cellRankCte]]:
    * corpus rows at their argmax cell `corpus(neighbor_id, cell)`, the
    * first 10 ids as queries at their top-2 cells `qry(query_id, cell)`;
    * `corpusVec` / `queryVec` add a vector column to each. */
  def knnCellCtes(corpusVec: String = "", queryVec: String = ""): String = {
    def col(c: String) = if (c.isEmpty) "" else s" $c,"
    s"""corpus AS (SELECT e.vec_id AS neighbor_id,${col(corpusVec)} a.cid AS cell
                   FROM e JOIN (SELECT vec_id, cid FROM ca WHERE rk = 1) a
                     USING (vec_id)),
        qry AS (SELECT e.vec_id AS query_id,${col(queryVec)} a.cid AS cell
                FROM e JOIN (SELECT vec_id, cid FROM ca WHERE rk <= 2) a
                  USING (vec_id)
                WHERE e.vec_id < 10)"""
  }

  /** Batch ADC serving against the stored index: [[knnCellCtes]] pairs
    * scored by each query's LUT over the seed codebooks at the stored
    * codes, `sc(query_id, neighbor_id, adc_score)`. */
  lazy val knnStoredCtes: String =
    s"""${seedCellsCte("cent")},
        $embeddingsCte,
        $cellRankCte,
        ${knnCellCtes()},
        ${pqCodesCtes("e")},
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
               GROUP BY p.query_id, p.neighbor_id)"""

  /** The url fixture: each doc's planted `host` (NULL for every sixth)
    * in `u`, and its dot-split labels `p(doc_id, host, ls)`. */
  val urlHostCtes: String =
    """u AS (SELECT doc_id,
                   CASE doc_id % 6
                     WHEN 0 THEN 'www.example.com'
                     WHEN 1 THEN 'blog.spamsite.com'
                     WHEN 2 THEN 'news.bbc.co.uk'
                     WHEN 3 THEN 'example.com'
                     WHEN 4 THEN 'ads.tracker.net'
                     ELSE NULL END AS host
                 FROM documents),
       p AS (SELECT doc_id, host, string_split(host, '.') AS ls
             FROM u WHERE host IS NOT NULL)"""

  /** The registrable-domain heuristic over labels `ls`: the last two
    * labels, or three under a two-letter ccTLD's co/com/net/… label. */
  val registrableDomainSql: String =
    """CASE WHEN len(ls) <= 2 THEN host
            WHEN list_contains(['co','com','net','org','ac','gov','edu'], ls[-2])
                 AND length(ls[-1]) = 2 AND len(ls) >= 3
            THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
            ELSE ls[-2] || '.' || ls[-1] END"""

  /** The text-quality scalar of column `text`: length, symbol and
    * stopword terms blended 0.3 / 0.4 / 0.3 on the round-6 grid. */
  def qualitySql(text: String): String =
    s"""round(least(length($text) * 1.0 / 500.0, 1.0) * 0.3
          + (1.0 - (length($text) - length(regexp_replace(lower($text), '[^a-z0-9 ]', '', 'g'))) * 1.0
              / greatest(length($text), 1)) * 0.4
          + least(len(list_filter(string_split_regex($text, '[\\t\\n\\x0B\\f\\r ]+'),
                t -> t IN ($stopsEn))) * 1.0
              / greatest(len(string_split_regex($text, '[\\t\\n\\x0B\\f\\r ]+')), 1) * 5.0,
              1.0) * 0.3, 6)"""

  /** The stopword language guess over per-language hit counts es, fr,
    * de, en (priority-ordered argmax, English by default). */
  val langGuessSql: String =
    """CASE WHEN es > en AND es >= fr AND es >= de THEN 'es'
            WHEN fr > en AND fr >= de THEN 'fr'
            WHEN de > en THEN 'de'
            ELSE 'en' END"""

  /** The per-language stopword hit counts es, fr, de, en over `toks`. */
  lazy val langCountsSql: String =
    s"""len(list_filter(toks, t -> t IN ('el','la','de','que','y','un','una','los'))) AS es,
        len(list_filter(toks, t -> t IN ('le','les','des','et','une','est','dans','pour'))) AS fr,
        len(list_filter(toks, t -> t IN ('der','die','das','und','ist','ein','nicht','mit'))) AS de,
        len(list_filter(toks, t -> t IN ($stopsEn))) AS en"""

  /** `o(doc_id, n_toks, token_offset)`: the exclusive running token sum
    * over `t(doc_id, n_toks, h)` in (hash, id) order — the token-budget
    * window. */
  val budgetOffsetsCte: String =
    """o AS (SELECT doc_id, n_toks,
               CAST(coalesce(sum(n_toks) OVER (ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                 AS token_offset
             FROM t)"""

  /** `o(doc_id, n_toks, token_offset)`: the exclusive running token sum
    * over `t(doc_id, n_toks)` in id order — the packing offsets. */
  val packOffsetsCte: String =
    """o AS (SELECT doc_id, n_toks,
               CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                 AS token_offset
             FROM t)"""

  /** Span dedup over `src(doc_id, text)`: 16-token blocks `spans(doc_id,
    * blk, span)`, blocks in more than one document (DISTINCT documents
    * on the 60-bit hash) in `hot`, and `flagged(..., dropit)`. */
  def spanDedupCtes(src: String): String =
    s"""toks AS (
          SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
          FROM (SELECT doc_id, string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+') AS t
                FROM $src)),
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
            ON CAST(('0x'||substr(md5(s.span),1,15)) AS BIGINT) = h.h)"""

  /** The dense retrieval run for queries 1–3: `qv(query_id, v, label)`,
    * `e(vec_id, v, label)`, exact cosine `ann` and the per-query
    * ranking `run(query_id, doc_id, rank)`. */
  val denseRunCtes: String =
    """qv AS (SELECT vec_id AS query_id,
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
               FROM ann)"""

  /** The retrieval-eval report over query list `q(query_id)`, relevant
    * counts `nr`, hit stats `pq(hits, first_rank, dcg)` and `ideal(idcg)`:
    * count-exact precision / recall, reciprocal rank, nDCG@10. */
  def irMetricsSql(q: String): String =
    s"""SELECT $q.query_id,
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
        FROM $q LEFT JOIN nr ON $q.query_id = nr.query_id
               LEFT JOIN pq ON $q.query_id = pq.query_id
               LEFT JOIN ideal ON $q.query_id = ideal.query_id
        ORDER BY $q.query_id"""

  /** The minhash probe of new docs against the corpus: the band
    * candidates of sketches `n` (new) and `c` (corpus) as `cand(id_new,
    * id_corpus)`, then the exact-jaccard confirm at ≥ 0.5. */
  val minhashProbeSql: String =
    """cand AS (SELECT DISTINCT x.doc_id id_new, y.doc_id id_corpus
                FROM bandsn x JOIN bandsc y
                  ON x.band_idx = y.band_idx AND x.band_val = y.band_val)
       SELECT c.id_new, c.id_corpus,
              len(list_intersect(a.hs, b.hs)) * 1.0
                / len(list_distinct(list_concat(a.hs, b.hs))) AS jaccard
       FROM cand c
       JOIN hsn a ON a.doc_id = c.id_new
       JOIN hsc b ON b.doc_id = c.id_corpus
       WHERE len(list_intersect(a.hs, b.hs)) * 1.0
               / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.5"""
}
