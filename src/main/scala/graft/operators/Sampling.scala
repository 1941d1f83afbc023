package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for LLM data pipelines (SURVEY.md
  * §2.10 adjunct): reproducible corpus subsetting for training mixes.
  *
  * `df.sample()` is seed-stable only for a fixed partitioning — add an
  * executor, lose a file split, and the sample changes. These operators
  * gate on a content/key hash instead, so the same row is kept or
  * dropped regardless of cluster layout, partition count, or engine —
  * the property a 100 TB training-data pipeline needs for reproducible
  * mixes and for incremental re-runs (a re-ingested document lands on
  * the same side of the gate). md5-based ([[Dedup.sharedHash]]) so the
  * DuckDB oracle verifies the exact sample membership bit-for-bit.
  *
  * Per-row codegen'd projection + filter: zero shuffle, scales linearly.
  */
object Sampling {

  /** The salted sampling hash — single definition so the rate gates and
    * exact-k sampler can never silently diverge on the salting scheme. */
  private def saltedHash(key: Column, salt: String): Column =
    Dedup.sharedHash(concat(lit(salt), key))

  /** Keep iff hash(salt || key) mod 10000 < rate_bp (basis points —
    * rate_bp = 100 → 1%). Salt separates independent samples of the
    * same corpus (train/val/test splits use distinct salts). */
  def hashGate(key: Column, saltedRateBp: Column, salt: String): Column =
    pmod(saltedHash(key, salt), lit(10000)) < saltedRateBp

  /** Bernoulli sample at `rateBp` basis points, keyed on `key`. */
  def bernoulli(df: DataFrame, key: Column, rateBp: Int,
                salt: String = "sample"): DataFrame = {
    require(rateBp >= 0 && rateBp <= 10000, s"rate must be 0..10000 bp, got $rateBp")
    df.filter(hashGate(key, lit(rateBp), salt))
  }

  /** Deterministic EXACT-k sample: the k rows with the smallest salted
    * key hash. Same reproducibility as [[bernoulli]] (membership is a
    * pure function of the key) but with an exact output size — the shape
    * for "give me exactly 10k eval docs". Plans TakeOrderedAndProject:
    * per-partition top-k, k·partitions rows to one reducer, no full
    * sort. Nested like the rate gates: exactK(n) ⊆ exactK(m) for n ≤ m
    * (same hash order).
    *
    * Determinism at the LIMIT boundary requires a TOTAL order: pass the
    * row's unique id as `tieBreak` — duplicate keys (real corpora have
    * byte-identical docs) would otherwise make boundary selection
    * partition-order-dependent. NULL keys hash to NULL and sort LAST
    * (matching SQL engines' default), so they never displace real rows. */
  def exactK(df: DataFrame, key: Column, k: Int, tieBreak: Seq[Column],
             salt: String = "sample"): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    val order = saltedHash(key, salt).asc_nulls_last +: key.asc_nulls_last +:
      tieBreak.map(_.asc_nulls_last)
    df.orderBy(order: _*).limit(k)
  }

  /** Deterministic WEIGHTED exact-k sample — priority sampling
    * (Duffield/Lund/Thorup, JACM'07, public method): each row gets
    * priority `w / u` with `u = (h+1)·2⁻³²` uniform on (0,1] derived
    * from the salted key hash, and the k highest priorities win.
    * Selection probability grows with weight (a weight-w row beats a
    * weight-1 row whenever its u/w quotient is smaller), membership is
    * a pure function of (salt, key, weight) — the [[exactK]]
    * reproducibility contract, weighted. The shape for "sample 10k
    * docs ∝ quality score" / length-proportional eval draws; the k+1-th
    * priority is DLT's threshold τ for unbiased subset-sum estimates.
    *
    * Oracle-parity note: the priority is ONE exact scale by a power of
    * two (h+1 ≤ 2³² is exact in binary64, ·2⁻³² shifts the exponent)
    * followed by ONE correctly-rounded IEEE division — bit-identical in
    * any IEEE engine, so the DuckDB oracle can rank on the same value
    * with no transcendental-libm drift (the reason this uses DLT's
    * w/u and not Efraimidis–Spirakis' u^(1/w)).
    *
    * NULL/negative handling: NULL keys or weights give NULL priority →
    * NULLS LAST, never displacing real rows; weights must be >= 0
    * (weight 0 → priority 0, sorts after every positive row). Same
    * total-order requirement as [[exactK]]: pass the unique id as
    * `tieBreak` so equal (priority, key) boundaries are deterministic.
    *
    * The ordering contract is the ROUNDED priority (6 decimals — the
    * emitted `priority` column), identical to [[weightedKPerStratum]]'s,
    * so the per-stratum form really is this operator within every
    * stratum: two priorities colliding at 6 decimals select the SAME
    * subset through either entry point (ordering on the raw value here
    * would let a 6-decimal collision pick different winners than the
    * stratified form — a one-in-10⁶ contract divergence the gates'
    * fixtures would never surface).
    *
    * Plan shape: zero-exchange projection + TakeOrderedAndProject —
    * per-partition top-k, k·partitions rows to one reducer, the corpus
    * is never sorted or shuffled. */
  def weightedK(df: DataFrame, key: Column, weight: Column, k: Int,
                tieBreak: Seq[Column], salt: String = "wsample"): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    val pri = round(priorityOf(key, weight, salt), 6)
    val order = pri.desc_nulls_last +: key.asc_nulls_last +:
      tieBreak.map(_.asc_nulls_last)
    df.withColumn("priority", pri)
      .orderBy(order: _*).limit(k)
  }

  /** The DLT priority `w / u`, `u = (h+1)·2⁻³²` — shared by
    * [[weightedK]] and [[weightedKPerStratum]] so the two can never
    * diverge on the sampling law. NULL key/weight → NULL priority;
    * negative weights raise. */
  private def priorityOf(key: Column, weight: Column, salt: String): Column = {
    // 2⁻³² as its shortest decimal repr — parses to exactly 2⁻³² in any
    // correctly-rounding engine, so the oracle can use the same literal
    val u = (saltedHash(key, salt) + lit(1L)).cast("double") *
      lit(2.3283064365386963e-10)
    when(weight.cast("double") >= 0, weight.cast("double") / u)
      .when(weight.isNull, lit(null).cast("double"))
      .otherwise(raise_error(concat(
        lit("weightedK: negative weight "), weight.cast("string"),
        lit(" — weights must be >= 0"))))
  }

  /** Per-STRATUM deterministic weighted exact-k — [[weightedK]] within
    * every stratum ("200 docs per language, drawn ∝ quality score"),
    * with [[exactKPerStratum]]'s two-phase (stratum, hash-bucket)
    * pre-split so a dominant stratum never sorts through one task. The
    * ordering contract is the ROUNDED priority (6 decimals — already
    * engine-exact before the round) over the key + tieBreak total
    * order, so the per-bucket containment argument applies unchanged
    * and membership stays layout/engine-invariant. Output: the input
    * columns plus `priority`. */
  def weightedKPerStratum(df: DataFrame, stratum: Column, key: Column,
                          weight: Column, k: Int, tieBreak: Seq[Column],
                          salt: String = "wsample",
                          preSplit: Int = 32): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    val scored = df.withColumn("priority",
      round(priorityOf(key, weight, salt), 6))
    val order = col("priority").desc_nulls_last +: key.asc_nulls_last +:
      tieBreak.map(_.asc_nulls_last)
    twoPhaseTopK(scored, stratum, order, key, k, salt, preSplit)
  }

  /** Deterministic exact-k PER STRATUM: within every stratum, the k
    * rows with the smallest salted key hash — same hash and total-order
    * contract as [[exactK]], so membership is layout- and
    * engine-invariant. The shape for balanced eval sets ("10 docs from
    * every source").
    *
    * A dominant stratum (one source = 90% of the corpus) is exactly the
    * skew AQE's skew-join split doesn't fix — a single stratum window
    * would sort most of the corpus through one task. So the top-k is
    * TWO-PHASE: phase 1 ranks within (stratum, hash-derived salt
    * bucket) — `preSplit` parallel tasks per stratum, each keeping at
    * most k rows; phase 2 ranks the ≤ k·preSplit survivors per stratum.
    * The bucket is a pure function of the same salted key hash, so the
    * result is BIT-IDENTICAL to the one-window form (the true per-
    * stratum top-k under a total order is contained in the union of
    * per-bucket top-k), and membership stays layout/engine-invariant. */
  def exactKPerStratum(df: DataFrame, stratum: Column, key: Column, k: Int,
                       tieBreak: Seq[Column],
                       salt: String = "sample",
                       preSplit: Int = 32): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    val order = saltedHash(key, salt).asc_nulls_last +: key.asc_nulls_last +:
      tieBreak.map(_.asc_nulls_last)
    twoPhaseTopK(df, stratum, order, key, k, salt, preSplit)
  }

  /** The shared two-phase per-stratum top-k: phase 1 ranks within
    * (stratum, hash-derived salt bucket), phase 2 ranks the ≤ k·preSplit
    * survivors per stratum. Bit-identical to the single-window form for
    * ANY total `order` — restricting a row's competition to its own
    * bucket can only improve its rank, so the true per-stratum top-k is
    * contained in the union of per-bucket top-k — while a dominant
    * stratum (one source = 90% of the corpus) sorts through `preSplit`
    * parallel tasks instead of one. NULL keys hash to NULL and land in
    * one shared bucket — consistent with their NULLS LAST placement (at
    * most k of them can win anyway). */
  private[operators] def twoPhaseTopK(df: DataFrame, stratum: Column,
                                      order: Seq[Column], key: Column, k: Int,
                                      salt: String, preSplit: Int): DataFrame = {
    require(preSplit >= 1, s"preSplit must be >= 1, got $preSplit")
    val bucket = pmod(saltedHash(key, salt), lit(preSplit))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(stratum, bucket).orderBy(order: _*)
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(stratum).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") <= k).drop("__rn")
      .withColumn("__rn", row_number().over(w2))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Per-domain/source cap — the RefinedWeb-style corpus-balancing step
    * between dedup and mixing: keep AT MOST `k` documents per domain,
    * so no single crawl source dominates the training mix. Domains at
    * or under the cap keep EVERYTHING (the keep-all contract that
    * distinguishes a cap from a sample); domains over it keep exactly
    * `k`, selected deterministically:
    *  - `by = None` (default): the k smallest salted key hashes — an
    *    unbiased, layout/engine-invariant subsample ([[exactK]]'s
    *    contract, per domain).
    *  - `by = Some(score)`: the k HIGHEST scores (quality-aware cap —
    *    "keep each domain's best k"), score ties broken by the same
    *    salted hash + `tieBreak` total order so membership stays
    *    deterministic on real corpora with duplicate scores.
    *
    * Same two-phase (domain, hash-bucket) pre-split as
    * [[exactKPerStratum]] — the dominant domain IS the expected case
    * here (capping exists because one source swamps the corpus), so the
    * single-window skew trap matters: phase 1 caps each of `preSplit`
    * buckets in parallel, phase 2 ranks ≤ k·preSplit survivors.
    * Bit-identical to the one-window form by the containment argument
    * (holds for any total order, including the score-first one). */
  def domainCap(df: DataFrame, domain: Column, key: Column, k: Int,
                tieBreak: Seq[Column], by: Option[Column] = None,
                salt: String = "domcap:",
                preSplit: Int = 32): DataFrame = {
    require(k >= 1, s"cap must be >= 1, got $k")
    val order = by.map(_.desc_nulls_last).toSeq ++
      (saltedHash(key, salt).asc_nulls_last +: key.asc_nulls_last +:
        tieBreak.map(_.asc_nulls_last))
    twoPhaseTopK(df, domain, order, key, k, salt, preSplit)
  }

  /** Deterministic N-way SPLIT (train/val/test): range-partition the
    * salted key hash into cumulative basis-point intervals. Unlike
    * independent [[bernoulli]] gates, the splits are DISJOINT and
    * EXHAUSTIVE by construction — every row lands in exactly one split,
    * the property a train/val/test cut must have (independent gates can
    * double-assign or orphan rows). Membership is a pure function of
    * (salt, key): layout/engine-invariant, and a re-ingested document
    * lands in the same split (no test-set leakage on incremental
    * re-runs). NULL keys hash to bucket 0 — the first split.
    *
    * Appends a `split` label column; a pure codegen'd projection, zero
    * shuffle at any scale. `splits` are (name, basis points), summing
    * to 10000. */
  def splitByHash(df: DataFrame, key: Column, splits: Seq[(String, Int)],
                  salt: String = "split"): DataFrame = {
    require(splits.size >= 2, "need at least two splits")
    splits.foreach { case (n, bp) =>
      require(bp >= 1 && bp <= 10000, s"split $n rate must be 1..10000 bp, got $bp")
    }
    require(splits.map(_._2).sum == 10000,
      s"split rates must sum to 10000 bp, got ${splits.map(_._2).sum}")
    val h = coalesce(pmod(saltedHash(key, salt), lit(10000)), lit(0))
    val cuts = splits.map(_._2).scanLeft(0)(_ + _).tail
    val label = splits.init.zip(cuts.init).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), cut)) =>
        Some(acc.fold(when(h < cut, name))(_.when(h < cut, name)))
    }.get.otherwise(splits.last._1)
    df.withColumn("split", label)
  }

  /** Deterministic training-shard assignment — the "global shuffle"
    * every training run does before writing its final dataset: shard =
    * hash(salt‖key) mod numShards, plus an INDEPENDENT salted hash as
    * the within-shard order key (independent so shard membership and
    * intra-shard order aren't correlated). Both are pure functions of
    * (salt, key): the same document lands in the same shard at the same
    * position regardless of cluster layout, partition count, or engine —
    * and an incremental re-run appends into a stable order.
    *
    * This op is a pure codegen'd projection (zero shuffle); the physical
    * reshuffle belongs to the WRITE: `repartition(numShards, $"shard")
    * .sortWithinPartitions($"shard", $"order_key")` — one exchange keyed
    * by an int column, one partition-local sort, no global sort at any
    * corpus size. */
  def assignShards(df: DataFrame, key: Column, numShards: Int,
                   salt: String = "shard"): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    df.withColumn("shard",
        pmod(saltedHash(key, salt), lit(numShards)).cast("int"))
      .withColumn("order_key", saltedHash(key, "ord:" + salt))
  }

  /** Corpus-quantile filter — "drop the bottom quartile by length /
    * quality score", the relative-threshold pruning step that adapts to
    * the corpus instead of hard-coding a cutoff. Keeps rows where
    * `value >= quantile_q(value)`; the threshold is a broadcast single
    * row, the filter a per-row comparison.
    *
    * The estimator is SELECTABLE:
    *  - `accuracy = None` (default): EXACT interpolated percentile
    *    (engine-portable — DuckDB's `quantile_cont` interpolates
    *    identically, proven by the a11 gate). Exact `percentile`
    *    aggregates a value→count map — fine for DISCRETE score/length
    *    columns, but on an unbounded continuous column (a double
    *    quality score) that map is O(distinct values) single-aggregate
    *    state: corpus-scale at 100 TB.
    *  - `accuracy = Some(a)`: the GK `approx_percentile` sketch —
    *    bounded memory at any scale, boundary rank within N/a of the
    *    target (the llm_quantile_filter_approx gate attests the rank
    *    contract the way a8_approx_quantile does for the raw sketch).
    *    The threshold is an actual element of the column, so the filter
    *    stays a broadcast 1-row comparison.
    *
    * `df` feeds BOTH the threshold aggregate and the output filter — a
    * diamond. `reuse` truncates it (default Off: the usual input is a
    * cheap selective scan where recompute keeps pushdown/pruning; pass
    * `Reuse.Local` when the input is an expensive derived frame, as the
    * pipeline3 gate does). */
  def keepAboveQuantile(df: DataFrame, value: Column, q: Double,
                        accuracy: Option[Int] = None,
                        reuse: Reuse = Reuse.Off): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0,1], got $q")
    accuracy.foreach(a => require(a >= 1, s"accuracy must be >= 1, got $a"))
    val est = accuracy match {
      case Some(a) => percentile_approx(value, lit(q), lit(a)).cast("double")
      case None => percentile(value, lit(q))
    }
    val in = reuse(df)
    val thr = in.agg(est.as("__thr"))
    in.crossJoin(broadcast(thr)).filter(value >= col("__thr")).drop("__thr")
  }

  /** Per-GROUP corpus-quantile filter — "drop each LANGUAGE's bottom
    * quartile by quality": the CCNet-style relative threshold computed
    * within every group instead of globally ([[keepAboveQuantile]]'s
    * group-wise sibling — a global cut would gut low-scoring languages
    * entirely). Same selectable estimator contract: exact interpolated
    * `percentile` by default (value→count buffer per GROUP — fine for
    * discrete columns), `accuracy = Some(a)` for the GK sketch when the
    * column is continuous at scale.
    *
    * Scale shape: the threshold table is one row per group — bounded by
    * group cardinality (languages/sources: hundreds), broadcast; the
    * filter is an equi-join + per-row comparison. NULL groups drop (the
    * equi-join — [[temperatureMix]]'s policy; coalesce upstream if
    * null-group rows must participate). `reuse` truncates the
    * threshold/filter diamond like the global variant. */
  def keepAboveQuantileByGroup(df: DataFrame, group: Column, value: Column,
                               q: Double, accuracy: Option[Int] = None,
                               reuse: Reuse = Reuse.Off): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0,1], got $q")
    accuracy.foreach(a => require(a >= 1, s"accuracy must be >= 1, got $a"))
    val est = accuracy match {
      case Some(a) => percentile_approx(value, lit(q), lit(a)).cast("double")
      case None => percentile(value, lit(q))
    }
    val in = reuse(df)
    val thr = in.groupBy(group.as("__g")).agg(est.as("__thr"))
    in.join(broadcast(thr), group === col("__g"))
      .filter(value >= col("__thr"))
      .drop("__g", "__thr")
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — public method
    * description only): score every raw-corpus document by how much it
    * resembles a TARGET corpus under hashed bag-of-n-gram unigram+bigram
    * features. Per feature bucket `f` (n-gram hash mod `buckets`), the
    * add-1-smoothed log-likelihood ratio
    * `lw_f = ln(((cnt_target_f+1)/(T+B)) / ((cnt_raw_f+1)/(R+B)))`;
    * a document's `log_w` is the sum of `lw_f` over its feature
    * OCCURRENCES (bag semantics — repeated n-grams count repeatedly,
    * as in the paper). Selection composes: rank by `log_w` (the
    * deterministic engine-portable variant of the paper's Gumbel-noised
    * top-k — production adds per-doc Gumbel noise seeded from a salted
    * hash) via [[exactK]]/[[domainCap]] with `by = Some(log_w)`.
    *
    * Output: (idCol, n_feats, log_w); log_w rounded to 4 decimals (the
    * tfidf libm-ln quantization argument — a 1-ulp `ln` divergence
    * between engines cannot flip a 5e-5 grid except on a ~1e-13 knife
    * edge). Documents with at least one token appear; the empty document
    * has no features and is absent.
    *
    * Scale shape: both distributions are `buckets`-row bounded
    * aggregates (partial-aggregable counts — map-side combine does the
    * heavy lifting), joined into ONE broadcast bucket table; scoring is
    * a broadcast join + id-keyed partial-aggregable sum, so the only
    * corpus-scale exchanges carry (id, bucket-int) pairs and the
    * id-keyed bigram window. Text never keys an exchange. The raw
    * feature frame feeds both the raw counts and the scoring join — a
    * diamond, truncated via [[Reuse.Local]] like every sibling. */
  def importanceWeights(raw: DataFrame, target: DataFrame,
                        idCol: String, textCol: String,
                        buckets: Int = 1024): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    def featsOf(df: DataFrame): DataFrame = {
      val uni = Dedup.shingleRowsPos(df.select(col(idCol), col(textCol)),
        idCol, textCol, n = 1)
      val bi = Dedup.shingleRowsPos(df.select(col(idCol), col(textCol)),
        idCol, textCol, n = 2)
      uni.unionByName(bi)
        .select(col(idCol), pmod(Dedup.sharedHash60(col("s")), lit(buckets)).as("__f"))
    }
    val rawFeats = Reuse.Local(featsOf(raw))
    val cntR = rawFeats.groupBy(col("__f")).agg(count(lit(1)).as("__cr"))
    // cntT is referenced twice (its own total + the bucket join) — the
    // ≤buckets-row count frame is the compact thing to truncate, so the
    // target tokenize+window chain runs once
    val cntT = Reuse.Local(featsOf(target).groupBy(col("__f"))
      .agg(count(lit(1)).as("__ct")))
    val totals = cntR.agg(sum(col("__cr")).as("__r"))
      .crossJoin(broadcast(cntT.agg(sum(col("__ct")).as("__t"))))
    // bucket table: ≤ `buckets` rows — buckets absent from the target
    // smooth to cnt 0; buckets absent from raw can't be probed (every
    // scored feature came from raw), so a left join is exact
    val bucketLw = cntR
      .join(cntT, Seq("__f"), "left")
      .crossJoin(broadcast(totals))
      .select(col("__f"),
        log(((coalesce(col("__ct"), lit(0L)) + 1.0) / (col("__t") + buckets)) /
          ((col("__cr") + 1.0) / (col("__r") + buckets))).as("__lw"))
    rawFeats.join(broadcast(bucketLw), "__f")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"),
        round(sum(col("__lw")), 4).as("log_w"))
  }

  /** Temperature-weighted source mixing (the published multinomial
    * sampling recipe — T5/mT5/GPT-3 mix sources with p_s ∝ n_s^α,
    * α < 1 upweighting small sources): derive each source's sampling
    * rate from its OWN corpus counts so the sampled mix approaches the
    * tempered distribution at `targetFraction` of the corpus, then gate
    * rows with the deterministic salted hash (layout/engine-invariant,
    * like every sampler here). rate_s = min(1, t·N·p_s / n_s) with
    * p_s = n_s^α / Σ n_s^α, floored to basis points.
    *
    * Engine parity: the rate arithmetic uses `pow` (libm) and then a
    * FLOOR — round(·,6) before the floor absorbs the 1-ulp cross-engine
    * `pow` spread (the tfidf quantization argument) so the basis-point
    * table is bit-identical in the oracle.
    *
    * Scale shape: the rate table is one tiny per-source aggregate
    * (partial-aggregable count) broadcast back; the gate itself is a
    * per-row codegen'd filter — no corpus-scale exchange at all.
    *
    * NULL sources are dropped (the rate join is an equi-join and SQL
    * nulls never equal) — coalesce the source column upstream if
    * null-source rows must participate. */
  def temperatureMix(df: DataFrame, source: Column, key: Column,
                     alpha: Double, targetFraction: Double,
                     salt: String = "mix:"): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    require(targetFraction > 0 && targetFraction <= 1,
      s"targetFraction must be in (0,1], got $targetFraction")
    // the per-source count frame feeds both the totals and the rate
    // table — truncate the tiny frame so the corpus aggregates once
    // (two corpus passes total: this count + the gate scan, the minimum
    // for a derived-rate gate)
    val counts = Reuse.Local(df.groupBy(source.as("__src"))
      .agg(count(lit(1)).as("__n")))
    val tot = counts.agg(sum(col("__n")).as("__tot"),
      sum(pow(col("__n"), alpha)).as("__z"))
    val rates = counts.crossJoin(broadcast(tot))
      .select(col("__src"),
        least(lit(10000L), floor(round(
          lit(10000.0 * targetFraction) * col("__tot") * pow(col("__n"), alpha) /
            col("__z") / col("__n"), 6))).cast("int").as("__bp"))
    df.join(broadcast(rates), source === col("__src"))
      .filter(hashGate(key, col("__bp"), salt))
      .drop("__src", "__bp")
  }

  /** Deterministic token-budget cut — "a reproducible N-token subset of
    * the corpus": fill `budget` tokens in salted-hash order and stop.
    * Training runs are budgeted in TOKENS, not documents; a Bernoulli
    * rate gate ([[bernoulli]]) needs the corpus token total to hit a
    * token target and still only hits it in expectation. This operator
    * is exact: order docs by (hash(salt||text), id) — a total order,
    * layout/engine-invariant — and keep every doc whose EXCLUSIVE
    * running token total is still under `budget` (the boundary doc is
    * kept, so the selection reaches at least `budget` tokens whenever
    * the corpus has them — the concat-and-split convention of
    * [[TextAnalysis.packOffsets]]). Nested: budget b₁ ≤ b₂ ⇒
    * selection(b₁) ⊆ selection(b₂) (same hash order), so curriculum
    * ablations at 1B/10B/100B tokens are strict supersets.
    *
    * Scale shape: a single global running sum would funnel the corpus
    * through one task, so the prefix sum is HIERARCHICAL (the
    * [[TextAnalysis.packOffsets]] recipe, transposed to hash order):
    * `__b = hash div (2³²/numBuckets)` is monotone in the (hash, id)
    * order, so buckets are CONTIGUOUS order ranges and the global
    * exclusive prefix = broadcast per-bucket offset (a tiny
    * ≤ numBuckets-row single-partition pass) + a bucket-PARTITIONED
    * within-bucket window. Text reduces to (id, n_toks, hash) in the
    * first projection and never crosses an exchange. NULL text rows
    * hash NULL and are never selected (no deterministic position —
    * matching [[hashGate]]'s NULL policy); `idCol` must be unique (the
    * boundary tie-break, [[exactK]]'s contract).
    *
    * Output: (idCol, n_toks, token_offset) for the selected docs. */
  def tokenBudget(df: DataFrame, idCol: String, textCol: String,
                  budget: Long, salt: String = "budget:",
                  numBuckets: Int = 1024,
                  // how a document's tokens are counted: whitespace by
                  // default; pass TextAnalysis.bpeCounter(merges) to
                  // budget in LEARNED tokens — the denomination a real
                  // training run fills in (the hash order, hierarchy,
                  // and nesting contract are untouched)
                  tokenCounter: Column => Column = TextAnalysis.tokenCount)
      : DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(numBuckets >= 1 && numBuckets <= (1 << 20),
      s"numBuckets must be in [1, 2^20], got $numBuckets")
    val width = math.max(1L, (1L << 32) / numBuckets)
    // read by the bucket-totals aggregate AND the offset join — one
    // tokenize+hash pass, not two (the packOffsets diamond)
    val toks = Reuse.Local(df.select(col(idCol),
        tokenCounter(col(textCol)).cast("long").as("n_toks"),
        saltedHash(col(textCol), salt).as("__h"))
      .filter(col("__h").isNotNull)
      .withColumn("__b", expr(s"`__h` div $width")))
    val totals = toks.groupBy(col("__b")).agg(sum(col("n_toks")).as("__bt"))
    val wBuckets = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals.select(col("__b"),
      coalesce(sum(col("__bt")).over(wBuckets), lit(0L)).as("__boff"))
    val wInBucket = Window.partitionBy(col("__b"))
      .orderBy(col("__h").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    toks.join(broadcast(offsets), Seq("__b"))
      .select(col(idCol), col("n_toks"),
        (col("__boff") + coalesce(sum(col("n_toks")).over(wInBucket), lit(0L)))
          .as("token_offset"))
      .filter(col("token_offset") < budget)
  }

  /** Per-GROUP token-budget cut — "N tokens per LANGUAGE", the
    * language-balanced form of [[tokenBudget]] (a global budget lets
    * the dominant language eat the fill; budgeting per group is the
    * published mixing recipe's constraint expressed in tokens). Same
    * contract per group: fill `budget` tokens in salted-hash order,
    * boundary doc kept, nested across budgets, layout/engine-invariant.
    *
    * Same hierarchical prefix sum, partitioned one level deeper: bucket
    * ranges are contiguous per (group, bucket); per-group bucket
    * offsets come from a window over the tiny totals frame; the
    * corpus-facing window partitions by (group, bucket). The join back
    * is null-safe (`<=>`) — a NULL group budgets as its own group, the
    * [[percentRankByGroup]] convention. NULL text hashes NULL and is
    * never selected. Output: (idCol, groupCol, n_toks, token_offset)
    * where token_offset is the WITHIN-group exclusive prefix.
    *
    * The broadcast offsets frame is |groups|×numBuckets rows worst
    * case — bounded for the documented group columns (languages /
    * sources: hundreds) but corpus-scale for a high-cardinality column
    * like domain. `maxBroadcastRows` guards that LAZILY: a one-row
    * count of the actual offsets frame is checked in-plan, so a
    * too-large frame raises at first execution instead of silently
    * collecting to the driver (and the guard never runs a job at
    * call time). */
  def tokenBudgetByGroup(df: DataFrame, idCol: String, groupCol: String,
                         textCol: String, budget: Long,
                         salt: String = "budget:",
                         numBuckets: Int = 1024,
                         maxBroadcastRows: Long = 1L << 20): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(numBuckets >= 1 && numBuckets <= (1 << 20),
      s"numBuckets must be in [1, 2^20], got $numBuckets")
    require(maxBroadcastRows >= 1,
      s"maxBroadcastRows must be >= 1, got $maxBroadcastRows")
    val width = math.max(1L, (1L << 32) / numBuckets)
    val toks = Reuse.Local(df.select(col(idCol), col(groupCol).as("__grp"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_toks"),
        saltedHash(col(textCol), salt).as("__h"))
      .filter(col("__h").isNotNull)
      .withColumn("__b", expr(s"`__h` div $width")))
    val totals = toks.groupBy(col("__grp"), col("__b"))
      .agg(sum(col("n_toks")).as("__bt"))
    val wBuckets = Window.partitionBy(col("__grp")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals.select(col("__grp"), col("__b"),
      coalesce(sum(col("__bt")).over(wBuckets), lit(0L)).as("__boff"))
    // |offsets| == |totals|; the 1-row count distributes (a plain agg,
    // no single-task window) and the per-row check fails the broadcast
    // build fast when the group column is high-cardinality
    val offCount = totals.groupBy().agg(count(lit(1)).as("__noff"))
    val offsetsChecked = offsets.crossJoin(offCount)
      .select(col("__grp"), col("__b"),
        when(col("__noff") <= maxBroadcastRows, col("__boff"))
          .otherwise(raise_error(concat(
            lit("tokenBudgetByGroup: bucket-offset frame has "),
            col("__noff").cast("string"),
            lit(s" rows (> maxBroadcastRows=$maxBroadcastRows) — the group " +
              s"column is too high-cardinality to broadcast |groups|×" +
              s"$numBuckets offsets; lower numBuckets or budget per a " +
              "bounded-cardinality column"))))
          .as("__boff"))
    val wInBucket = Window.partitionBy(col("t.__grp"), col("t.__b"))
      .orderBy(col("t.__h").asc, col(s"t.$idCol").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    toks.as("t").join(broadcast(offsetsChecked).as("o"),
        col("t.__grp") <=> col("o.__grp") && col("t.__b") === col("o.__b"))
      .select(col(s"t.$idCol"), col("t.__grp").as(groupCol), col("t.n_toks"),
        (col("o.__boff") +
          coalesce(sum(col("t.n_toks")).over(wInBucket), lit(0L)))
          .as("token_offset"))
      .filter(col("token_offset") < budget)
  }

  /** EXACT corpus percent-rank of a score column — the normalization
    * step behind percentile-phrased quality rules (CCNet buckets by
    * perplexity percentile; "keep the top 30%" thresholds are
    * percentile statements): every row gets its global `rank()` and
    * SQL `percent_rank()` = (rank−1)/(N−1), ties sharing the min rank.
    * [[keepAboveQuantile]] answers one threshold; this returns the
    * whole transform, so head/middle/tail bucketing and cross-corpus
    * score calibration compose downstream as plain projections.
    *
    * Scale shape: a global rank window would sort the corpus through
    * one task. Instead: (1) a GK sketch (`approx_percentile`) proposes
    * `numBuckets−1` boundary values — ONE bounded-size action, the
    * documented KB-scale driver boundary (like the IVF centroids);
    * (2) bucket assignment is an inlined codegen'd CASE chain over the
    * boundary literals (the [[stratified]] recipe — no join, no HOF,
    * zero shuffle), and because assignment is a PURE FUNCTION of the
    * value, equal values can never straddle buckets, so per-bucket
    * `rank()` + broadcast bucket offsets compose to the EXACT global
    * rank — sketch error moves bucket SIZES, never the answer (at
    * worst a skewed bucket ranks more rows in one task); (3) the only
    * unpartitioned window runs over the ≤ numBuckets-row count frame.
    * NULL scores are excluded (no rank position — the
    * [[keepAboveQuantile]] comparison-drop policy). The pct_rank
    * division is two exact integers in IEEE double — oracle-raw. */
  def percentRank(df: DataFrame, idCol: String, valueCol: String,
                  numBuckets: Int = 64): DataFrame = {
    require(numBuckets >= 1 && numBuckets <= 4096,
      s"numBuckets must be in [1, 4096], got $numBuckets")
    val in = Reuse.Local(df.select(col(idCol), col(valueCol).as("__v"))
      .filter(col("__v").isNotNull))
    val bucket: Column =
      if (numBuckets == 1) lit(0)
      else {
        val ps = (1 until numBuckets).map(_.toDouble / numBuckets)
        val row = in.agg(percentile_approx(col("__v"),
          array(ps.map(lit): _*), lit(10000)).as("bs")).head()
        val bs: Seq[Any] =
          if (row.isNullAt(0)) Nil else row.getSeq[Any](0).distinct
        if (bs.isEmpty) lit(0)
        else bs.tail.zipWithIndex.foldLeft(
          when(col("__v") < lit(bs.head), lit(0))) {
            case (acc, (b, i)) => acc.when(col("__v") < lit(b), lit(i + 1))
          }.otherwise(lit(bs.length))
      }
    val marked = in.withColumn("__bk", bucket)
    val counts = marked.groupBy(col("__bk")).agg(count(lit(1)).as("__c"))
    val wOff = Window.orderBy(col("__bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.orderBy(col("__bk"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = counts.select(col("__bk"),
      coalesce(sum(col("__c")).over(wOff), lit(0L)).as("__off"),
      sum(col("__c")).over(wTot).as("__n"))
    val wRank = Window.partitionBy(col("__bk")).orderBy(col("__v"))
    marked.join(broadcast(offsets), Seq("__bk"))
      .select(col(idCol), col("__v"), col("__n"),
        (col("__off") + rank().over(wRank)).as("rnk"))
      .select(col(idCol), col("__v").as(valueCol), col("rnk"),
        when(col("__n") === 1, lit(0.0))
          .otherwise((col("rnk") - 1).cast("double") / (col("__n") - 1))
          .as("pct_rank"))
  }

  /** Per-GROUP exact percent-rank — [[percentRank]] computed WITHIN
    * every group ("bucket each language by its own perplexity
    * percentile", the CCNet recipe — a global rank would compare
    * languages against each other's score scales). Same hierarchical
    * construction, one level deeper: ONE global GK boundary sketch
    * proposes the value buckets (assignment stays a pure zero-shuffle
    * function of the value — boundaries need not be per-group, they
    * only shape bucket SIZES); per-(group, bucket) counts make a tiny
    * frame whose per-group running sum gives the offsets; per-(group,
    * bucket) `rank()` + offset = the EXACT per-group rank by the same
    * ties-never-straddle argument. The only group-partitioned windows
    * run over the counts frame (≤ groups·numBuckets rows). NULL
    * values are excluded; NULL groups form their own group (window
    * partitioning treats NULL as a key, unlike the quantile filter's
    * equi-join — documented asymmetry). */
  def percentRankByGroup(df: DataFrame, idCol: String, groupCol: String,
                         valueCol: String, numBuckets: Int = 64): DataFrame = {
    require(numBuckets >= 1 && numBuckets <= 4096,
      s"numBuckets must be in [1, 4096], got $numBuckets")
    val in = Reuse.Local(df.select(col(idCol), col(groupCol).as("__grp"),
        col(valueCol).as("__v"))
      .filter(col("__v").isNotNull))
    val bucket: Column =
      if (numBuckets == 1) lit(0)
      else {
        val ps = (1 until numBuckets).map(_.toDouble / numBuckets)
        val row = in.agg(percentile_approx(col("__v"),
          array(ps.map(lit): _*), lit(10000)).as("bs")).head()
        val bs: Seq[Any] =
          if (row.isNullAt(0)) Nil else row.getSeq[Any](0).distinct
        if (bs.isEmpty) lit(0)
        else bs.tail.zipWithIndex.foldLeft(
          when(col("__v") < lit(bs.head), lit(0))) {
            case (acc, (b, i)) => acc.when(col("__v") < lit(b), lit(i + 1))
          }.otherwise(lit(bs.length))
      }
    val marked = in.withColumn("__bk", bucket)
    val counts = marked.groupBy(col("__grp"), col("__bk"))
      .agg(count(lit(1)).as("__c"))
    val wOff = Window.partitionBy(col("__grp")).orderBy(col("__bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(col("__grp")).orderBy(col("__bk"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = counts.select(col("__grp"), col("__bk"),
      coalesce(sum(col("__c")).over(wOff), lit(0L)).as("__off"),
      sum(col("__c")).over(wTot).as("__n"))
    // null-SAFE group match: groupBy ranks NULL as its own group (the
    // SQL PARTITION BY model), so the join back must too — a plain
    // equi-join would silently drop every NULL-group row
    val wRank = Window.partitionBy(col("m.__grp"), col("m.__bk"))
      .orderBy(col("m.__v"))
    marked.as("m").join(broadcast(offsets).as("o"),
        col("m.__grp") <=> col("o.__grp") && col("m.__bk") === col("o.__bk"))
      .select(col(s"m.$idCol"), col("m.__grp"), col("m.__v"), col("o.__n"),
        (col("o.__off") + rank().over(wRank)).as("rnk"))
      .select(col(idCol), col("__grp").as(groupCol), col("__v").as(valueCol),
        col("rnk"),
        when(col("__n") === 1, lit(0.0))
          .otherwise((col("rnk") - 1).cast("double") / (col("__n") - 1))
          .as("pct_rank"))
  }

  /** Stratified sample: per-stratum rates (basis points), rows in
    * strata missing from `rates` are dropped. The rate lookup is a
    * codegen'd CASE chain — no join, no shuffle; the gate stays a pure
    * projection even with thousands of strata. */
  def stratified(df: DataFrame, stratum: Column, key: Column,
                 rates: Seq[(Column, Int)], salt: String = "sample"): DataFrame = {
    require(rates.nonEmpty, "at least one stratum rate required")
    rates.foreach { case (_, bp) =>
      require(bp >= 0 && bp <= 10000, s"rate must be 0..10000 bp, got $bp")
    }
    val rate = rates.tail.foldLeft(
      when(stratum === rates.head._1, lit(rates.head._2))) {
      case (acc, (v, bp)) => acc.when(stratum === v, lit(bp))
    }.otherwise(lit(0))
    df.filter(hashGate(key, rate, salt))
  }
}
