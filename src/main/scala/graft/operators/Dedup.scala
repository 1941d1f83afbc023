package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM data pipelines (SURVEY.md §2.10):
  * exact, MinHash+LSH near-dup, n-gram Jaccard, SimHash.
  *
  * 100 TB posture:
  *  - exact dedup is a hash-shuffle on a 16-byte digest, never on the
  *    document body;
  *  - MinHash-LSH shuffles on (band_idx, band_hash) keys only — candidate
  *    generation is a self-equi-join on small keys, the full cross product
  *    is never materialized;
  *  - signatures are fixed-width arrays (k longs/doc) regardless of doc
  *    size, so memory per row is bounded.
  *
  * Hashing is md5-based (`sharedHash`) so every step is reproducible in
  * any engine that has md5 — which is what makes the DuckDB oracle able
  * to verify the whole pipeline bit-for-bit.
  */
object Dedup {

  /** 32-bit hash shared across engines: first 8 hex chars of md5 as a
    * long. (xxhash64 would be faster but is Spark-specific; this keeps
    * the pipeline engine-reproducible. Swap via `hashCol` if desired.) */
  def sharedHash(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** 60-bit shared hash (first 15 md5 hex chars) — for keys that are
    * COUNTED rather than bucketed: a 32-bit space starts colliding at
    * ~10⁵ distinct keys (birthday bound), which would silently merge
    * counts; 60 bits holds to ~10⁹. Same recipe as the simhash oracles
    * (`CAST(('0x'||substr(md5(s),1,15)) AS BIGINT)` in DuckDB). */
  def sharedHash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Distinct word n-gram shingles of a text column.
    *
    * PERF: `text` should be a plain attribute; the tokenization is
    * aliased to its own projection first (see [[withShingles]]) because
    * the shingle lambda references the token array 3n times and
    * interpreted HOF evaluation would otherwise re-run the regex split
    * per reference. */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesOfTokens(TextAnalysis.tokens(text), n)

  /** Shingles from an already-materialized token-array column. */
  def shinglesOfTokens(toks: Column, n: Int = 3): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(n), size(toks)), i =>
        concat_ws(" ", (n - 1 to 0 by -1).map(k => element_at(toks, i - k)): _*))))
      .otherwise(array().cast("array<string>"))

  /** Shingles as ROWS — the shape that scales and benches 7x faster
    * than any array-lambda form (HOF lambdas are interpreted): posexplode
    * tokens, window `lead` to form the n-gram, all codegen/window
    * machinery. One exchange on `idCol` which downstream per-id
    * aggregates reuse. */
  def shingleRows(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 3): DataFrame =
    shingleRowsPos(df, idCol, textCol, n).drop("pos")

  /** [[shingleRows]] keeping the shingle's 0-based token START position
    * as `pos` — positional consumers (winnowing's sliding-window
    * selection) need the in-document order, and the `pos`-ordered window
    * they run next reuses this exchange AND sort on `idCol`. */
  def shingleRowsPos(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3): DataFrame = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    val exploded = df.select(col(idCol),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("__pos", "__tok")))
    if (n == 1)
      exploded.select(col(idCol), col("__pos").as("pos"), col("__tok").as("s"))
    else {
      val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      val leads = (1 until n).map(k => lead(col("__tok"), k).over(w))
      exploded.select(col(idCol), col("__pos").as("pos"),
          concat_ws(" ", (col("__tok") +: leads): _*).as("s"),
          leads.last.isNotNull.as("__ok"))
        .filter(col("__ok")).drop("__ok")
    }
  }

  /** MinHash signature (k values) over hashed shingles: perm_i(h) =
    * ((2i+1)*h + 101i+17) mod p, p prime > 2^32.
    *
    * NOTE: array-lambda form — fine for one-off signatures, but lambda
    * (higher-order-function) expressions are interpreted, not codegen'd,
    * and get re-evaluated per downstream reference. The pair pipeline
    * below uses the explode + partial-min-aggregate form instead, which
    * is the shape that scales. */
  def minhashSignature(hashedShingles: Column, k: Int = 16): Column = {
    val p = 4294967311L
    transform(sequence(lit(0), lit(k - 1)), i =>
      array_min(transform(hashedShingles, h =>
        (h * (i * 2 + 1) + i * 101 + 17) % p)))
  }

  /** Hot-bucket guard for banded self-joins: count rows per bucket key
    * and drop buckets larger than `cap` BEFORE the join. This is the
    * standard production-LSH bound on within-bucket pair fanout — a
    * degenerate (band_idx, band_val) bucket of k docs (templated
    * boilerplate, near-empty docs, adversarial collisions) would emit
    * k² candidate pairs into a single reducer, and AQE skew-split can't
    * help because the blowup is in the join OUTPUT, not the partition.
    * Dropping a bucket costs recall only on pairs whose every OTHER
    * shared band is also oversized — for boilerplate buckets that is
    * exactly the intent. Mirrors `maxShingleDf` in [[containmentPairs]];
    * the count shuffles the same keys the self-join shuffles, so the
    * plan shape (band-key-only exchange) is unchanged. */
  private[operators] def capBuckets(banded: DataFrame, keys: Seq[String],
                                    cap: Option[Int]): DataFrame = cap match {
    case Some(k) =>
      require(k >= 1, s"maxBucketSize must be >= 1, got $k")
      val keep = banded.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") <= k)
        .select(keys.map(col): _*)
      banded.join(keep, keys)
    case None => banded
  }

  /** The (band_idx, band_val) bucket key of every banded join. */
  private[graft] val BandKey: Seq[String] = Seq("band_idx", "band_val")

  /** The banded candidate rows: one row per (`keep` columns, band_idx,
    * band_val), where band `b`'s value is `bandVals(b)`. The caller
    * computes the band values from its own sketch (simhash and dHash
    * bit ranges, `_`-joined minhash minima); this only explodes them. */
  private[graft] def bandRows(df: DataFrame, keep: Seq[String],
                              bandVals: Seq[Column]): DataFrame = {
    val bandStructs = array(bandVals.zipWithIndex.map { case (v, b) =>
      struct(lit(b).as("band_idx"), v.as("band_val")) }: _*)
    df.select(keep.map(col) :+ explode(bandStructs).as("band"): _*)
      .select(keep.map(col) ++ Seq(col("band.band_idx"), col("band.band_val")): _*)
  }

  /** The banded candidate self-join every near-duplicate operator runs:
    * cap hot buckets ([[capBuckets]]), then equi-join `banded` with
    * itself on `keys` with `x.idCol < y.idCol`, so each unordered pair
    * meets once per shared bucket. Returns the join with its sides
    * aliased `x` and `y`; the caller selects, confirms and collapses
    * multi-bucket hits. The exchange carries only the columns the
    * caller kept in `banded`. */
  private[graft] def bucketPairs(banded: DataFrame, idCol: String,
                                 keys: Seq[String], cap: Option[Int]): DataFrame = {
    val b = capBuckets(banded, keys, cap)
    b.as("x").join(b.as("y"),
      keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) &&
        col(s"x.$idCol") < col(s"y.$idCol"))
  }

  /** Exact dedup: keep the lowest id per fingerprint. Shuffles only
    * (digest, id) pairs; `min` aggregates map-side. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(TextAnalysis.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy(col("fp")).agg(min(col(idCol)).as(idCol))

  /** Exact dedup keeping whole rows (DISTINCT-ON-style, via window). */
  def exactDedupRows(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(TextAnalysis.fingerprint(col(textCol)))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** MinHash-LSH candidate pairs + Jaccard confirmation on hashed
    * shingle sets. Returns (id_a, id_b, jaccard) for pairs sharing ≥1
    * band AND with hashed-shingle-set Jaccard ≥ `threshold`.
    *
    * The 100 TB shape: shingles are EXPLODED to (id, hash) rows so the
    * md5 hashing runs once in a codegen'd projection (array-lambda HOFs
    * are interpreted and re-evaluated per reference — 100×+ slower);
    * the k permutation minima are k map-side-partial `min` aggregates in
    * ONE hash aggregate; candidate generation shuffles only
    * (band_idx, band_val) keys; the confirm stage joins fixed-width
    * long-array sketches, never document text. `maxBucketSize` is the
    * 100 TB hot-bucket guard (see [[capBuckets]]). */
  /** The per-document minhash sketch frame: (id, hset, s0..s{k-1}) —
    * hashed-shingle set + k permutation minima as ONE partial-aggregable
    * hash aggregate, lineage-truncated by [[Reuse.Local]]. The band self-join
    * and the confirm joins reference this frame several times; column
    * pruning specializes each branch (sig-only vs hset-only), so
    * ReuseExchange never fires and without truncation the corpus
    * tokenize→window→aggregate chain would execute once per reference
    * (verified: 4 scans, 0 reuse). With it, what repeats is a scan of
    * compact fixed-width sketch rows; blocks are reclaimed by the
    * ContextCleaner when the plan is unreferenced. */
  private def minhashSets(df: DataFrame, idCol: String, textCol: String,
                          k: Int): DataFrame = {
    val p = 4294967311L
    // (id, h) rows via the relational shingle shape; duplicates are
    // collapsed by collect_set / unaffected by min, so no distinct needed
    val hs = shingleRows(df.select(col(idCol), col(textCol)), idCol, textCol)
      .select(col(idCol), sharedHash(col("s")).as("h"))
    val sigAggs = (0 until k).map(i =>
      min((col("h") * (2 * i + 1) + (101 * i + 17)) % p).as(s"s$i"))
    Reuse.Local(hs.groupBy(col(idCol)).agg(
      collect_set(col("h")).as("hset"), sigAggs: _*))
  }

  /** (id, band_idx, band_val) rows of a [[minhashSets]] frame: band b's
    * value is its k/nBands minima joined with `_`. */
  private def bandsOf(sets: DataFrame, idCol: String,
                      k: Int, nBands: Int): DataFrame = {
    val rowsPerBand = k / nBands
    bandRows(sets, Seq(idCol), (0 until nBands).map(b =>
      concat_ws("_", (0 until rowsPerBand).map(r => col(s"s${b * rowsPerBand + r}")): _*)))
  }

  /** Jaccard of two hashed-shingle-set columns. */
  private def jaccardOf(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 16, nBands: Int = 4, threshold: Double = 0.5,
                   maxBucketSize: Option[Int] = None): DataFrame = {
    val sets = minhashSets(df, idCol, textCol, k)
    val cand = bucketPairs(bandsOf(sets, idCol, k, nBands), idCol, BandKey,
        maxBucketSize)
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .distinct()
    val keyed = sets.select(col(idCol), col("hset"))
    cand
      .join(keyed.select(col(idCol).as("id_a"), col("hset").as("h_a")), "id_a")
      .join(keyed.select(col(idCol).as("id_b"), col("hset").as("h_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        jaccardOf(col("h_a"), col("h_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** A static corpus's precomputed LSH probe structures: `bands` =
    * (id, band_idx, band_val) rows (hot buckets already capped), `sets`
    * = the per-doc sketch frame (id, hset, s0..s{k-1}). Built once by
    * [[minhashIndex]] and probed many times — the admission-check /
    * streaming shape where the corpus side is fixed while new shards
    * arrive. At production scale both frames would be WRITTEN (parquet,
    * bucketed by band_val / id) and read back per ingestion run; here
    * the [[Reuse.Local]] truncation gives the same compute-once property within
    * a session. */
  case class MinhashIndex(bands: DataFrame, sets: DataFrame)

  /** Precompute a static corpus's [[MinhashIndex]]: one relational
    * sketch pass (the scalable explode + partial-min-aggregate shape),
    * reuse-truncated so every probe — batch or per micro-batch — reads
    * compact fixed-width sketch rows instead of re-tokenizing the
    * corpus. `maxBucketSize` caps the CORPUS side's hot buckets here,
    * at build time, so no probe ever meets a boilerplate bucket. */
  def minhashIndex(corpus: DataFrame, idCol: String, textCol: String,
                   k: Int = 16, nBands: Int = 4,
                   maxBucketSize: Option[Int] = None): MinhashIndex = {
    val sets = minhashSets(corpus, idCol, textCol, k)
    MinhashIndex(
      capBuckets(bandsOf(sets, idCol, k, nBands), BandKey, maxBucketSize),
      sets)
  }

  /** ASYMMETRIC near-dup pairs: candidates between `newDf` and `corpus`
    * only — never within a side. The incremental-ingestion shape: a new
    * crawl shard is deduplicated AGAINST the existing corpus before
    * admission (within-shard dedup is a separate [[minhashPairs]] run).
    * Returns (id_new, id_corpus, jaccard).
    *
    * Scale shape identical to [[minhashPairs]] — band-key-only
    * exchanges, fixed-width sketches, text never shuffles — but the
    * band join is new×corpus instead of a self-join, so candidate
    * fanout is |new-bucket|·|corpus-bucket| per key, not quadratic in
    * the corpus. `maxBucketSize` caps the CORPUS side's hot buckets (a
    * boilerplate bucket in the old corpus is exactly what a new spam
    * shard collides with); the new side is assumed shard-sized. At
    * production scale the corpus sketch frame would be precomputed and
    * stored — compose via [[minhashPairs]]'s building blocks if so.
    * Ids are reported as-is; sides sharing an id space is the caller's
    * contract (a shared id appears as a pair like any other). */
  def minhashPairsBetween(newDf: DataFrame, corpus: DataFrame,
                          idCol: String, textCol: String,
                          k: Int = 16, nBands: Int = 4,
                          threshold: Double = 0.5,
                          maxBucketSize: Option[Int] = None): DataFrame =
    minhashProbe(newDf,
      minhashIndex(corpus, idCol, textCol, k, nBands, maxBucketSize),
      idCol, textCol, k, nBands, threshold)

  /** Probe a precomputed [[MinhashIndex]] with a new shard — the second
    * half of [[minhashPairsBetween]], decoupled so the index can come
    * from STORAGE: at production scale the corpus's band/sketch frames
    * are written once (parquet, bucketed by band_val / id) and every
    * ingestion run reads them back — the corpus text is never touched
    * again. `index.bands`/`index.sets` are plain DataFrames, so
    * `MinhashIndex(spark.read.parquet(…), spark.read.parquet(…))`
    * reconstructs the index exactly (the llm_minhash_index_roundtrip
    * gate pins result equality with the recompute path). The index must
    * have been built with the same `k` and `nBands`. */
  def minhashProbe(newDf: DataFrame, index: MinhashIndex,
                   idCol: String, textCol: String,
                   k: Int = 16, nBands: Int = 4,
                   threshold: Double = 0.5): DataFrame = {
    // parameter drift between build and probe makes the band join match
    // NOTHING — the probe would silently report "no duplicates" and
    // ADMIT them. k is mechanically checkable from the stored schema:
    // sets must carry EXACTLY s0..s{k-1} (excluding idCol/hset, so an
    // id column named like "s3" or appended read-back metadata neither
    // miscounts nor spuriously rejects). nBands is checked lazily from
    // the data: band_val carries k/nBands "_"-joined minima, so a
    // per-row segment-count guard on the stored bands raises at first
    // execution instead of silently admitting every duplicate.
    requireIndexK(index, idCol, k, "probe")
    val rowsPerBand = k / nBands
    val bandsChecked = index.bands.withColumn("band_val",
      when(size(split(col("band_val"), "_", -1)) === rowsPerBand, col("band_val"))
        .otherwise(raise_error(concat(
          lit("stored index band_val carries "),
          size(split(col("band_val"), "_", -1)).cast("string"),
          lit(s" minima per band but probe k=$k/nBands=$nBands expects " +
            s"$rowsPerBand — probe with the index's build parameters")))))
    val setsNew = minhashSets(newDf, idCol, textCol, k)
    val bNew = bandsOf(setsNew, idCol, k, nBands)
    val cand = bNew.as("x").join(bandsChecked.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val"))
      .select(col(s"x.$idCol").as("id_new"), col(s"y.$idCol").as("id_corpus"))
      .distinct()
    cand
      .join(setsNew.select(col(idCol).as("id_new"), col("hset").as("h_a")), "id_new")
      .join(index.sets.select(col(idCol).as("id_corpus"), col("hset").as("h_b")),
        "id_corpus")
      .select(col("id_new"), col("id_corpus"),
        jaccardOf(col("h_a"), col("h_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The stored-index k-parameter guard shared by [[minhashProbe]] and
    * [[minhashIndexAppend]]: the sets frame must carry EXACTLY
    * s0..s{k-1} (excluding idCol/hset so s-like id names and appended
    * metadata neither miscount nor spuriously reject). */
  private def requireIndexK(index: MinhashIndex, idCol: String, k: Int,
                            verb: String): Unit = {
    val expectedSig = (0 until k).map(i => s"s$i").toSet
    val actualSig = index.sets.columns
      .filterNot(c => c == idCol || c == "hset").filter(_.matches("s\\d+")).toSet
    require(actualSig == expectedSig,
      s"stored index carries ${actualSig.size} signature columns " +
        s"(${actualSig.toSeq.sorted.mkString(",")}) but $verb k=$k expects " +
        s"exactly s0..s${k - 1} — $verb with the index's build parameters")
  }

  /** APPEND admitted documents into a [[MinhashIndex]] — the maintenance
    * step that closes the ingestion loop (probe → admit → append):
    * without it a production pipeline re-sketches the whole corpus each
    * run or lets the stored index drift behind reality. The admitted
    * docs are sketched with the scalable [[minhashSets]] pass and their
    * band/sets rows UNIONED onto the index frames — per-document
    * sketches are independent, so `append(build(A), B) ≡ build(A ∪ B)`
    * bit-for-bit (LlmOpsSpec pins the law) PROVIDED the build used no
    * `maxBucketSize` cap: the cap is a global count over the corpus, so
    * a capped index must re-cap after append ([[capBuckets]] over the
    * appended bands) rather than assume the law. At storage level the
    * same delta frames are what a parquet `mode("append")` write adds —
    * the in-memory union and the storage append cannot diverge (the
    * llm_minhash_index_append gate probes the appended store against
    * the full-corpus oracle).
    *
    * The same k-schema guard as the probe applies: appending with
    * drifted build parameters would interleave incompatible sketches
    * and silently miss every cross-shard duplicate. `newDocs` ids are
    * the caller's contract (re-appending an already-indexed id simply
    * duplicates its bands, like any store double-write). */
  def minhashIndexAppend(index: MinhashIndex, newDocs: DataFrame,
                         idCol: String, textCol: String,
                         k: Int = 16, nBands: Int = 4): MinhashIndex = {
    requireIndexK(index, idCol, k, "append")
    require(k % nBands == 0, s"nBands must divide k, got k=$k nBands=$nBands")
    // k alone does not pin the band layout: an append with the store's k
    // but a DRIFTED nBands would union band rows with a different
    // segment count, and a parquet `mode("append")` persists the
    // corruption before the probe-side rowsPerBand guard could fire —
    // the store is already mixed by the time anything raises. The
    // stored layout is observable from one band_val (k/nBands
    // "_"-joined minima), so check it EAGERLY, before the union exists:
    // one 1-row job against the compact bands frame, on an operation
    // that is about to write anyway. An empty bands frame (empty or
    // band-less store) has no layout to drift from and passes.
    index.bands.select(size(split(col("band_val"), "_", -1)))
      .head(1).headOption.foreach { r =>
        require(r.getInt(0) == k / nBands,
          s"stored index band_val carries ${r.getInt(0)} minima per band " +
            s"but append k=$k/nBands=$nBands expects ${k / nBands} — " +
            "append with the index's build parameters")
      }
    val setsNew = minhashSets(newDocs, idCol, textCol, k)
    MinhashIndex(
      index.bands.unionByName(bandsOf(setsNew, idCol, k, nBands)),
      index.sets.unionByName(setsNew))
  }

  /** Tombstone DELETE over any id-keyed stored index frame — the
    * takedown / right-to-be-forgotten corner of index maintenance
    * (append ✓, now delete): rows whose id appears in `tombstones` drop
    * via a LEFT ANTI join applied AT READ, no store rewrite, no corpus
    * re-read. Works on every store this engine keeps (minhash
    * bands/sets, fingerprint frames keyed by id, ANN codes, dHash
    * frames) because they are all plain id-keyed parquet.
    *
    * Laws (spec-pinned): `purge(append(S, B), B.ids) == S` row-for-row
    * when B's ids are disjoint from S's, and serving a purged ANN codes
    * store equals serving a fresh encode of the remaining corpus
    * bit-for-bit (encode is per-row; cells/codebooks are corpus
    * STATISTICS, not member data — they survive their seed members'
    * deletion, so takedown needs no retraining). The join strategy is
    * left to Catalyst/AQE: takedown lists are usually broadcast-sized,
    * but a court-ordered bulk purge still only shuffles (id) keys. */
  def storePurge(store: DataFrame, idCol: String,
                 tombstones: DataFrame): DataFrame = {
    require(tombstones.columns.contains(idCol),
      s"tombstone frame must carry the store's id column `$idCol`, got " +
        s"${tombstones.columns.sorted.mkString(",")}")
    store.join(tombstones.select(col(idCol)).distinct(), Seq(idCol), "left_anti")
  }

  /** Physically COMPACT a stored index — the maintenance op that keeps
    * the append/takedown lifecycle sustainable at 100 TB (append ✓,
    * delete ✓, now compact): every parquet APPEND lands one more file
    * set per maintenance run, and every [[storePurge]] tombstone is
    * re-applied at EVERY read forever. Compaction rewrites the store
    * once to a NEW versioned path (never in place — a Spark job cannot
    * safely overwrite its own input, and versioned stores give readers
    * an atomic cutover): tombstoned rows drop PHYSICALLY, the
    * accumulated deltas consolidate — a `partitionCols` layout (the
    * cell-partitioned ANN codes) shuffles hashed on the partition keys
    * so each output directory lands ~one file and static pruning keeps
    * working; a flat store (fingerprints, minhash bands, dHash frames)
    * rewrites to `numFiles` files. `repartition`, not `coalesce`:
    * coalesce would cap the purge anti-join's parallelism at the output
    * file count — one extra shuffle of the store's (already compact)
    * rows is the right trade at any scale. Returns the read-back frame;
    * an ACTION (runs the rewrite), like every store-writing surface.
    *
    * Law (gate + spec pinned): serving the compacted store equals
    * serving the logical `purge(appended store)` view row-for-row, and
    * the per-directory file count actually drops to ~1. */
  def storeCompact(store: DataFrame, idCol: String,
                   tombstones: Option[DataFrame], outPath: String,
                   partitionCols: Seq[String] = Nil,
                   numFiles: Int = 1): DataFrame = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val spark = store.sparkSession
    val purged = tombstones.map(storePurge(store, idCol, _)).getOrElse(store)
    if (partitionCols.nonEmpty)
      purged.repartition(partitionCols.map(col): _*)
        .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(outPath)
    else
      purged.repartition(numFiles)
        .write.mode("overwrite").parquet(outPath)
    spark.read.parquet(outPath)
  }

  /** PARTITION-SELECTIVE compaction over a partitioned store directory
    * — the 100 TB form of [[storeCompact]]: rewrite ONLY the partitions
    * that contain tombstoned rows and leave every untouched partition's
    * files byte-identical (not read, not copied, not rewritten). A
    * full-store rewrite is the scale-killer maintenance verb: at 100 TB
    * of postings/codes, a takedown touching 3 of 65k buckets must cost
    * 3 buckets, not 100 TB.
    *
    * Protocol (Hive-style dynamic partition overwrite, each step a
    * separate job so no job ever reads and writes the same path):
    *  1. affected = distinct partition values holding ≥1 tombstoned row
    *     — a bounded driver boundary (≤ the tombstone list's partition
    *     spread; `maxAffectedPartitions` refuses loudly past the bound);
    *  2. the affected partitions are re-read under a literal partition
    *     filter (STATIC pruning — the untouched 99.99% is never
    *     opened), purged, and consolidated to `stagingPath`;
    *  3. the staged rows cut over into the store via dynamic partition
    *     overwrite (only the staged partitions' directories are
    *     replaced); partitions whose EVERY row was tombstoned stage no
    *     rows, which dynamic overwrite would silently leave in place —
    *     their directories are deleted explicitly (driver-side FS ops,
    *     bounded by `maxAffectedPartitions`).
    *
    * This verb mutates `storePath` IN PLACE (the versioned-path
    * discipline of [[storeCompact]] would have to copy the untouched
    * 99.99% to the new version, defeating the point without a
    * manifest-based table format) — an OFFLINE maintenance verb:
    * concurrent readers mid-cutover can see a partition's old and
    * another's new files, exactly like any Hive dynamic-overwrite
    * maintenance job. The read-own-input hazard does not arise: the
    * affected rows land in `stagingPath` first, and the cutover job's
    * input is the staging directory, never the store.
    *
    * Laws (gate + spec pinned): serving the selectively-compacted store
    * equals serving the logical `purge(store)` view row-for-row;
    * untouched partition files are BYTE-IDENTICAL (same name, length,
    * mtime); fully-tombstoned partitions' directories disappear; the
    * partition layout (and so static pruning) survives. */
  def storeCompactSelective(spark: org.apache.spark.sql.SparkSession,
                            storePath: String, idCol: String,
                            tombstones: DataFrame,
                            partitionCols: Seq[String],
                            stagingPath: String,
                            maxAffectedPartitions: Int = 4096): DataFrame = {
    require(partitionCols.nonEmpty,
      "storeCompactSelective: partitionCols must be non-empty — " +
        "selective compaction is defined by partition boundaries (use " +
        "storeCompact for a flat store)")
    require(stagingPath != storePath,
      "storeCompactSelective: stagingPath must differ from storePath")
    require(maxAffectedPartitions >= 1,
      s"maxAffectedPartitions must be >= 1, got $maxAffectedPartitions")
    val store = spark.read.parquet(storePath)
    partitionCols.foreach(p => require(store.columns.contains(p),
      s"storeCompactSelective: partition column `$p` not in store " +
        s"(${store.columns.sorted.mkString(",")})"))
    // pin the documented numeric-bucket contract: a non-integral value
    // can round-trip through Hive partition-type inference with a
    // DIFFERENT representation (e.g. the string "0123" re-inferred as
    // int 123), so the computed directory fragment would silently miss
    // the on-disk directory and the purge law would break without error
    partitionCols.foreach { p =>
      import org.apache.spark.sql.types._
      val dt = store.schema(p).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"storeCompactSelective: partition column `$p` is " +
          s"${dt.simpleString} — only integral bucket/cell partition " +
          "columns are supported (string/other values can re-infer to a " +
          "different partition representation, breaking the fragment " +
          "match); use storeCompact for such layouts")
    }
    // 1. affected partitions — the bounded driver boundary
    val affected = store
      .join(tombstones.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
      .select(partitionCols.map(col): _*).distinct()
      .limit(maxAffectedPartitions + 1).collect()
    require(affected.length <= maxAffectedPartitions,
      s"storeCompactSelective: tombstones touch > $maxAffectedPartitions " +
        "partitions — a takedown spread over the whole store is a full " +
        "rewrite; use storeCompact (or raise maxAffectedPartitions)")
    if (affected.isEmpty) return store // nothing to do — zero writes
    // partition-value → Hive directory fragment; refuse values the
    // layout would escape (every store here partitions on numeric
    // buckets/cells, so the refusal is a contract, not a limitation)
    def frag(r: org.apache.spark.sql.Row): String =
      partitionCols.zipWithIndex.map { case (c, i) =>
        // NULL rows live in __HIVE_DEFAULT_PARTITION__: the pruned
        // filter (col === NULL) matches nothing and the fragment
        // `c=null` matches no directory — without this guard the
        // tombstoned rows of a NULL partition would silently survive
        require(r.get(i) != null,
          s"storeCompactSelective: NULL partition value for `$c` — the " +
            "NULL bucket cannot be addressed by directory fragment; " +
            "compact it with storeCompact")
        val v = String.valueOf(r.get(i))
        require(v.matches("[-A-Za-z0-9_.]+"),
          s"storeCompactSelective: partition value `$v` for `$c` needs " +
            "Hive escaping — only plain alphanumeric partition values " +
            "are supported")
        s"$c=$v"
      }.mkString("/")
    val affectedFrags = affected.map(frag).toSet
    // 2. static-pruned read of ONLY the affected partitions, purged,
    //    consolidated to staging (~one file per partition)
    val prunedFilter =
      if (partitionCols.size == 1)
        col(partitionCols.head).isin(affected.map(_.get(0)).toIndexedSeq: _*)
      else affected.map(r => partitionCols.zipWithIndex.map { case (c, i) =>
        col(c) === lit(r.get(i)) }.reduce(_ && _)).reduce(_ || _)
    storePurge(store.filter(prunedFilter), idCol, tombstones)
      .repartition(partitionCols.map(col): _*)
      .write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(stagingPath)
    // 3. cutover: which affected partitions staged rows (FS listing —
    //    no Spark read of an empty parquet dir)
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listFrags(base: org.apache.hadoop.fs.Path, prefix: String,
                  depth: Int): Seq[String] =
      fs.listStatus(base).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap { s =>
          val f = if (prefix.isEmpty) s.getPath.getName
                  else s"$prefix/${s.getPath.getName}"
          if (depth == 1) Seq(f) else listFrags(s.getPath, f, depth - 1)
        }
    val stagedFrags = listFrags(new org.apache.hadoop.fs.Path(stagingPath),
      "", partitionCols.size).toSet
    if (stagedFrags.nonEmpty)
      spark.read.parquet(stagingPath)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCols: _*).parquet(storePath)
    // fully-tombstoned partitions: no staged rows ⇒ delete their dirs
    (affectedFrags -- stagedFrags).foreach { f =>
      fs.delete(new org.apache.hadoop.fs.Path(storePath, f), true)
    }
    spark.read.parquet(storePath)
  }

  /** SimHash banded near-dup pairs: sketch every document to a
    * `hashBits`-bit simhash, explode it into `nBands` equal bit-bands,
    * candidate pairs share a (band_idx, band_val) bucket, and the
    * confirm stage filters on full-sketch hamming distance ≤
    * `maxHamming`. Returns (id_a, id_b, hamming).
    *
    * Scale shape mirrors [[minhashPairs]]: the band join shuffles only
    * (band_idx, band_val, id, sketch) — 8-byte sketches, never text —
    * and a pair colliding in any band is caught (a pair within hamming
    * h survives in some band whenever the h flipped bits miss one band,
    * which is guaranteed for h < nBands). Bucket count per band is
    * 2^(hashBits/nBands), so hashBits must GROW with the corpus (same
    * occupancy law as [[Similarity.autoPlanes]]): 32/4 to ~10⁶ docs,
    * 60/4 to ~10⁸; past that, a multi-word (128-bit) sketch with 16-bit
    * bands keeps expected occupancy bounded. `maxBucketSize` is the
    * hot-bucket guard (see [[capBuckets]]). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   hashBits: Int = 60, nBands: Int = 4,
                   maxHamming: Int = 3,
                   maxBucketSize: Option[Int] = None): DataFrame = {
    require(hashBits % nBands == 0, s"hashBits $hashBits must split into $nBands bands")
    val bandBits = hashBits / nBands
    val mask = (1L << bandBits) - 1
    // the sketch frame is read by both self-join sides (and the bucket
    // cap's count): checkpoint the compact (id, 8-byte sketch) rows so
    // the corpus tokenize+simhash pass runs ONCE (see minhashPairs)
    val sh = Reuse.Local(df.select(col(idCol),
      org.apache.spark.sql.GraftBridge.column(graft.functions.SimHashN(
        org.apache.spark.sql.GraftBridge.expression(TextAnalysis.tokens(col(textCol))),
        hashBits)).as("sh")))
    val banded = bandRows(sh, Seq(idCol, "sh"), (0 until nBands).map(b =>
      shiftright(col("sh"), b * bandBits).bitwiseAND(lit(mask))))
    bucketPairs(banded, idCol, BandKey, maxBucketSize)
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Multi-word simhash sketch: `words` independent 60-bit simhashes
    * (word w's token hash salts the md5 with "w:"), as an array<long>
    * column — 120 bits at words=2, 240 at words=4. This is the
    * documented widening past [[simhashPairs]]'s single-long ceiling
    * (~10⁸ docs): band count grows with words, so expected bucket
    * occupancy stays bounded as the corpus grows another 100×. */
  def simhashWide(toks: Column, words: Int = 2): Column = {
    require(words >= 1, s"words must be >= 1, got $words")
    array((0 until words).map { w =>
      org.apache.spark.sql.GraftBridge.column(graft.functions.SimHashN(
        org.apache.spark.sql.GraftBridge.expression(toks), 60, s"$w:"))
    }: _*)
  }

  /** Banded near-dup pairs over the multi-word sketch: each 60-bit word
    * splits into `bandsPerWord` bands (30-bit bands at the default —
    * 2^30 buckets per band); candidates share any (band_idx, band_val);
    * confirm on TOTAL hamming distance across all words. Same scale
    * shape as [[simhashPairs]] — only (band, id, sketch) tuples shuffle,
    * and `maxBucketSize` bounds hot buckets (see [[capBuckets]]). */
  def simhashPairsWide(df: DataFrame, idCol: String, textCol: String,
                       words: Int = 2, bandsPerWord: Int = 2,
                       maxHamming: Int = 3,
                       maxBucketSize: Option[Int] = None): DataFrame = {
    require(60 % bandsPerWord == 0, s"bandsPerWord $bandsPerWord must divide 60")
    val bandBits = 60 / bandsPerWord
    val mask = (1L << bandBits) - 1
    val sh = Reuse.Local(df.select(col(idCol),
      simhashWide(TextAnalysis.tokens(col(textCol)), words).as("sh"))) // one corpus pass — see simhashPairs
    val banded = bandRows(sh, Seq(idCol, "sh"),
      for (w <- 0 until words; b <- 0 until bandsPerWord)
        yield shiftright(element_at(col("sh"), w + 1), b * bandBits).bitwiseAND(lit(mask)))
    val hamming = (0 until words).map(w =>
      bit_count(element_at(col("x.sh"), w + 1)
        .bitwiseXOR(element_at(col("y.sh"), w + 1))))
      .reduce(_ + _)
    bucketPairs(banded, idCol, BandKey, maxBucketSize)
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Brute-force n-gram Jaccard over all pairs of `df` (bounded input!);
    * the oracle-checkable ground truth that `minhashPairs` approximates. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = Reuse.Local(shingleRows(df.select(col(idCol), col(textCol)), idCol, textCol, n)
      .groupBy(col(idCol)).agg(collect_set(col("s")).as("sh"))) // shingle sets built once for both sides
    sh.as("x").join(sh.as("y"), col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        (size(array_intersect(col("x.sh"), col("y.sh"))).cast("double") /
          size(array_union(col("x.sh"), col("y.sh")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Shingle CONTAINMENT pairs: |A ∩ B| / min(|A|, |B|) ≥ `threshold` —
    * the sub-document duplication signal Jaccard misses (a page pasted
    * inside a 10× larger page has high containment but low Jaccard).
    *
    * Unlike the bounded-quadratic [[ngramJaccardPairs]] ground truth,
    * this is the SCALABLE shape: shingles are hashed to 8-byte keys (the
    * shared-md5 recipe, so the DuckDB oracle reproduces counts exactly),
    * candidate pairs come from a shingle-key equi-join (text never
    * shuffles), and the per-pair overlap is a partial-aggregable count.
    * `maxShingleDf` is the guard a 100 TB run needs: a document-
    * frequency cap dropping boilerplate shingles before the self-join
    * (the classic hot-key bound); the join/agg shape is unchanged. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.5,
                       maxShingleDf: Option[Int] = None): DataFrame = {
    // referenced by the df-cap count, both overlap sides, and sizes —
    // checkpoint the compact (id, 8-byte hash) rows so the corpus
    // shingle pass runs once (see minhashPairs)
    val sh0 = Reuse.Local(shingleRows(df.select(col(idCol), col(textCol)), idCol, textCol, n)
      .select(col(idCol), sharedHash(col("s")).as("h"))
      .distinct())
    // the hot-key bound a production run needs: shingles shared by more
    // than maxShingleDf docs are boilerplate — drop them BEFORE the
    // self-join (a df-10⁴ shingle would otherwise fan out 10⁸ pairs).
    // Sizes count the KEPT set, so containment is a ratio over the same
    // shingle space on both axes.
    val sh = maxShingleDf match {
      case Some(k) =>
        val keep = sh0.groupBy(col("h")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= k).select(col("h"))
        sh0.join(keep, "h")
      case None => sh0
    }
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val overlaps = sh.select(col(idCol).as("id_a"), col("h"))
      .join(sh.select(col(idCol).as("id_b"), col("h")), "h")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("ov"))
    // threshold on the UNROUNDED ratio (matching the oracle's WHERE);
    // round(…,6) is display-only, same as ngramJaccardPairs
    overlaps
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("ov").cast("double") / least(col("sz_a"), col("sz_b"))).as("raw"))
      .filter(col("raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("raw"), 6).as("containment"))
  }

  /** Benchmark decontamination: for every corpus row, the count of
    * DISTINCT n-token shingles it shares with `evalSet`, plus a drop
    * flag — the train/test contamination sweep run before shipping
    * pre-training data (13-token grams is the published convention).
    * Corpus rows shorter than n tokens have no shingles and come back
    * clean; every corpus id appears in the output.
    *
    * Scale shape: eval benchmarks are MBs while the corpus is TBs, so
    * the eval shingle-hash set (8-byte [[sharedHash]] keys) is
    * BROADCAST and the corpus side is a broadcast semi-join — corpus
    * text never shuffles; the only corpus-scale exchange is
    * [[shingleRows]]' idCol window, whose partitioning the per-doc
    * distinct+count reuses. The shared hash makes the match set
    * engine-reproducible (the DuckDB oracle counts identical keys). */
  /** [[decontaminate]]'s huge-eval-set scale path — SAME output, down
    * to the row ((id, eval_shingles, contaminated) for every corpus id;
    * the shared oracle verifies both): when the eval side is too big to
    * broadcast as a hash set (the `maxInlineHashes` ceiling the
    * streaming variant enforces), probe a BLOOM FILTER of the eval
    * shingle hashes first and run the exact confirming semi-join only
    * over the candidate rows.
    *
    * Scale shape: the bloom is built DISTRIBUTED
    * (`BloomFilterAggregate` over the 8-byte hash frame — the same
    * machinery Spark's runtime join filters use); only the finished
    * sketch (`numBits`/8 bytes, default 8 MB) reaches the driver — a
    * bounded boundary like the k-means centroids — and returns inlined
    * in a codegen'd `might_contain` filter, so the corpus side drops
    * non-candidate shingles BEFORE any exchange. The confirming join is
    * deliberately relational (NOT broadcast — the eval set being
    * un-broadcastable is the premise); it shuffles only the candidate
    * (id, hash) pairs, which the bloom has already thinned by ~the
    * corpus's clean fraction. False positives cost a probe in the
    * confirm join, never a wrong answer. */
  def decontaminateBloom(corpus: DataFrame, evalSet: DataFrame,
                         idCol: String, textCol: String, n: Int = 13,
                         expectedItems: Long = 4000000L,
                         numBits: Long = 1L << 26): DataFrame =
    // build + probe in one pass — the inline twin of the stored path,
    // so the two can never diverge; count validation is skipped (the
    // hash frame was built one line up, it cannot have drifted)
    decontaminateStored(corpus,
      decontamIndex(evalSet, idCol, textCol, n, expectedItems, numBits),
      idCol, textCol, validateCount = false)

  /** A PERSISTED decontamination index — the admission-control artifact
    * a production ingestion fleet reads instead of re-shingling the
    * benchmark suite on every run: `sketch` is ONE row (`bf` the
    * serialized bloom filter over eval shingle hashes — NULL for an
    * empty eval set — plus the build parameters `n`/`expected_items`/
    * `num_bits` and the hash-frame row count `n_hashes`); `hashes` is
    * the exact eval shingle-hash frame (`h` BIGINT) the confirming join
    * probes. Both are plain DataFrames, so
    * `DecontamIndex(spark.read.parquet(…), spark.read.parquet(…))`
    * reconstructs the index exactly (the llm_decontam_roundtrip gate
    * pins result equality with the inline path). The [[MinhashIndex]]
    * symmetry, for decontamination. */
  case class DecontamIndex(sketch: DataFrame, hashes: DataFrame)

  /** Build a [[DecontamIndex]] from an eval/benchmark set: shingle,
    * hash, distinct (the [[decontaminate]] frame), then ONE aggregate
    * pass produces both the bloom sketch and the row count recorded for
    * the probe-side drift guard. The [[Reuse.Local]] checkpoint makes the
    * sketch action and the returned hash frame share one computation. */
  def decontamIndex(evalSet: DataFrame, idCol: String, textCol: String,
                    n: Int = 13, expectedItems: Long = 4000000L,
                    numBits: Long = 1L << 26): DecontamIndex = {
    import org.apache.spark.sql.{GraftBridge, Row}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types._
    require(expectedItems > 0 && numBits > 0)
    require(n >= 1, s"shingle size must be >= 1, got $n")
    val evalH = Reuse.Local(shingleRows(evalSet.select(col(idCol), col(textCol)),
        idCol, textCol, n)
      .select(sharedHash(col("s")).as("h")).distinct())
    val built = evalH.agg(
      GraftBridge.column(new BloomFilterAggregate(
          GraftBridge.expression(col("h")),
          Literal(expectedItems), Literal(numBits)).toAggregateExpression())
        .as("bf"),
      count(lit(1)).as("n_hashes")).head()
    val schema = StructType(Seq(
      StructField("bf", BinaryType, nullable = true),
      StructField("n", IntegerType, nullable = false),
      StructField("expected_items", LongType, nullable = false),
      StructField("num_bits", LongType, nullable = false),
      StructField("n_hashes", LongType, nullable = false)))
    val sketch = evalSet.sparkSession.createDataFrame(
      java.util.Arrays.asList(Row(built.getAs[Array[Byte]]("bf"), n,
        expectedItems, numBits, built.getAs[Long]("n_hashes"))), schema)
    DecontamIndex(sketch, evalH)
  }

  /** Probe a (possibly read-back) [[DecontamIndex]] — [[decontaminateBloom]]
    * with the build factored out: the shingle size comes from the STORED
    * sketch row (parameter drift is impossible by construction), the
    * bloom bytes inline into a codegen'd `might_contain` prefilter, and
    * the exact confirming semi-join runs against the stored hash frame.
    * `validateCount` (on by default for read-back indexes) checks the
    * hash frame's row count against the sketch's recorded `n_hashes`
    * LAZILY in-plan — a truncated or partially-copied hash frame would
    * otherwise silently under-report contamination, the one drift mode
    * the exact confirm join cannot absorb (bloom false positives cost a
    * probe, never a wrong answer; missing confirm rows DO). The guard
    * rides the OUTPUT frame (one row per corpus id): a guard projected
    * onto `index.hashes` evaluates zero rows when the frame is FULLY
    * truncated and fails open, and one on the bloom-candidate side dies
    * the same way — an EMPTY confirm build side lets AQE empty-relation
    * propagation collapse the semi-join before any candidate row would
    * evaluate it. The output left join cannot collapse, so every probe
    * run over a non-empty corpus checks the count exactly once per row
    * and raises on ANY count drift, full or partial. */
  /** The validated single sketch row of a (possibly read-back)
    * [[DecontamIndex]] — (shingle n, recorded hash count, bloom bytes).
    * Shared by [[decontaminateStored]] and the streaming admission's
    * stored-store composition so the schema/single-row refusals cannot
    * drift between the two probe surfaces. */
  private[graft] def decontamSketchRow(
      index: DecontamIndex): (Int, Long, Array[Byte]) = {
    val have = index.sketch.columns.toSet
    require(Set("bf", "n", "n_hashes").subsetOf(have),
      s"decontamination sketch must carry bf/n/n_hashes, got " +
        index.sketch.columns.mkString(","))
    // a doubly-written/unioned sketch store is drift, not a choice —
    // refuse instead of silently probing with whichever row came first
    val srows = index.sketch.limit(2).collect()
    require(srows.length == 1,
      s"decontamination sketch must be exactly one row, got " +
        s"${srows.length}${if (srows.length == 2) "+" else ""} — " +
        "rebuild or re-copy the index")
    (srows(0).getAs[Int]("n"), srows(0).getAs[Long]("n_hashes"),
      srows(0).getAs[Array[Byte]]("bf"))
  }

  def decontaminateStored(corpus: DataFrame, index: DecontamIndex,
                          idCol: String, textCol: String,
                          validateCount: Boolean = true): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    val (ng, nHashes, bloomBytes) = decontamSketchRow(index)
    val corpusH = shingleRows(corpus.select(col(idCol), col(textCol)),
        idCol, textCol, ng)
      .select(col(idCol), sharedHash(col("s")).as("h")).distinct()
    // empty eval set -> null sketch -> nothing can match
    val cand =
      if (bloomBytes == null) corpusH.filter(lit(false))
      else corpusH.filter(GraftBridge.column(BloomFilterMightContain(
        Literal(bloomBytes,
          org.apache.spark.sql.types.BinaryType),
        GraftBridge.expression(col("h")))))
    val hits = cand.join(index.hashes, Seq("h"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("eval_shingles"))
    val joined = corpus.select(col(idCol)).join(hits, Seq(idCol), "left")
    if (!validateCount)
      joined.select(col(idCol),
        coalesce(col("eval_shingles"), lit(0L)).as("eval_shingles"),
        (coalesce(col("eval_shingles"), lit(0L)) > 0).as("contaminated"))
    else {
      // the guard rides the OUTPUT frame, not the hash frame or the
      // bloom-candidate side: a zero-row hash frame has no rows to
      // carry a projection guard, and an EMPTY confirm build side lets
      // AQE's empty-relation propagation collapse the semi-join before
      // any candidate row would evaluate one — the output left join
      // cannot collapse (one row per corpus id), so every probe run
      // over a non-empty corpus checks the count exactly once per row
      val cnt = index.hashes.groupBy().agg(count(lit(1)).as("__nh"))
      joined.crossJoin(broadcast(cnt))
        .withColumn("__es",
          when(col("__nh") === nHashes,
            coalesce(col("eval_shingles"), lit(0L)))
            .otherwise(raise_error(concat(
              lit("stored decontamination index drift: hash frame carries "),
              col("__nh").cast("string"),
              lit(s" rows but the sketch recorded $nHashes — rebuild or " +
                "re-copy the index")))))
        .select(col(idCol), col("__es").as("eval_shingles"),
          (col("__es") > 0).as("contaminated"))
    }
  }

  def decontaminate(corpus: DataFrame, evalSet: DataFrame,
                    idCol: String, textCol: String, n: Int = 13): DataFrame = {
    val evalH = shingleRows(evalSet.select(col(idCol), col(textCol)),
        idCol, textCol, n)
      .select(sharedHash(col("s")).as("h")).distinct()
    val corpusH = shingleRows(corpus.select(col(idCol), col(textCol)),
        idCol, textCol, n)
      .select(col(idCol), sharedHash(col("s")).as("h")).distinct()
    val hits = corpusH.join(broadcast(evalH), Seq("h"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("eval_shingles"))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("eval_shingles"), lit(0L)).as("eval_shingles"),
        (coalesce(col("eval_shingles"), lit(0L)) > 0).as("contaminated"))
  }

  /** Contamination FRACTION — the graded variant of [[decontaminate]]:
    * per document, |distinct n-grams ∩ eval set| / |distinct n-grams|,
    * flagged at `minFrac`. The any-single-13-gram flag (GPT-3 appendix C)
    * is this with minFrac → 0⁺; the published follow-ups (PaLM, GPT-4)
    * report and threshold on the overlap FRACTION, which separates a
    * long document that merely quotes one benchmark question from a
    * verbatim benchmark inclusion.
    *
    * Scale shape: identical to [[decontaminate]] — eval hashes broadcast,
    * corpus text never crosses an exchange — except hits and totals come
    * from ONE aggregate over the (id, hash) frame (a broadcast left join
    * marks eval membership; the count and the conditional sum share the
    * id-keyed exchange) instead of a second corpus pass. Documents too
    * short to have any n-gram (< n tokens) report 0/0 → fraction 0.0,
    * never NULL — nothing to contaminate, and a NULL would silently pass
    * a negated filter. The fraction is a single IEEE double division of
    * two exact integers, so the oracle compares it raw (README
    * "Correctness method"). */
  def contaminationFraction(corpus: DataFrame, evalSet: DataFrame,
                            idCol: String, textCol: String, n: Int = 13,
                            minFrac: Double = 0.8): DataFrame = {
    require(minFrac >= 0.0 && minFrac <= 1.0,
      s"minFrac must be in [0, 1], got $minFrac")
    val evalH = shingleRows(evalSet.select(col(idCol), col(textCol)),
        idCol, textCol, n)
      .select(sharedHash(col("s")).as("h")).distinct()
    val corpusH = shingleRows(corpus.select(col(idCol), col(textCol)),
        idCol, textCol, n)
      .select(col(idCol), sharedHash(col("s")).as("h")).distinct()
    val counted = corpusH
      .join(broadcast(evalH.select(col("h"), lit(1L).as("__e"))),
        Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("total_shingles"),
        sum(coalesce(col("__e"), lit(0L))).as("eval_shingles"))
    corpus.select(col(idCol))
      .join(counted, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("eval_shingles"), lit(0L)).as("eval_shingles"),
        coalesce(col("total_shingles"), lit(0L)).as("total_shingles"))
      .withColumn("overlap_frac",
        when(col("total_shingles") === 0, lit(0.0))
          .otherwise(col("eval_shingles").cast("double") / col("total_shingles")))
      .withColumn("contaminated", col("overlap_frac") >= minFrac)
  }
}
