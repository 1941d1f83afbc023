package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** GPT-3-style QUALITY CLASSIFIER (Brown et al. 2020 appendix A, public
  * method shape: a logistic-regression classifier over hashed document
  * features, trained positive = curated corpus / negative = raw crawl,
  * then used to score and filter the crawl): hashed bag-of-words
  * features (token → 60-bit [[Dedup.sharedHash60]] mod `buckets`),
  * batch-gradient logistic regression trained DISTRIBUTIVELY, scoring
  * as a broadcast join + per-doc aggregate. The trained weight vector is
  * `buckets` doubles — the KB-scale driver boundary of the k-means
  * centroid recipe, collected once per iteration and re-broadcast.
  *
  * Engine-exact determinism (the [[Similarity.kmeansStep]] /
  * tfidf-quantization recipe, applied to GD):
  *  - every corpus-scale sum (logits, gradients) accumulates in
  *    DECIMAL(20,10) — double accumulation order differs run-to-run
  *    under AQE and across engines; decimal sums are exact;
  *  - the sigmoid (the one libm call) is computed on the 6-decimal
  *    ROUNDED logit and its output is itself rounded to 6 decimals — a
  *    1-ulp cross-engine `exp` spread can only flip the rounding on a
  *    ~1e-10 knife edge (the tfidf argument);
  *  - weights land on the 1e-6 grid after every update (round(·,6)),
  *    so each iteration starts from bit-identical state in any
  *    correctly-rounding engine. The quantization is part of the
  *    operator contract, like the k-means centroid rounding.
  *
  * 100 TB posture: the feature frame is (id, bucket, tf) rows — text
  * never leaves its first projection; logits/gradients are
  * partial-aggregable hash aggregates keyed by id/bucket; weights ride
  * a broadcast ≤`buckets`-row join. One pass per iteration plus one
  * scoring pass — iters is small (the published filters train once and
  * score forever; the stored-weights path serves that).
  */
object Classifier {

  /** (id, bucket, tf) hashed bag-of-words features; `label` tags the
    * frame when training. Docs with no tokens emit no rows. */
  private def featuresOf(df: DataFrame, idCol: String, textCol: String,
                         buckets: Int): DataFrame =
    df.select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("__t"))
      .select(col(idCol),
        pmod(Dedup.sharedHash60(col("__t")), lit(buckets)).cast("int").as("bucket"))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("tf"))

  /** Per-doc logit z = Σ_f tf·w_f against a broadcast weight frame
    * (`bucket`, `w`), accumulated in exact decimal. Buckets absent from
    * the weight frame contribute 0 (left join + coalesce). */
  private def logitOf(feats: DataFrame, weights: DataFrame,
                      idCol: String): DataFrame =
    feats.join(broadcast(weights), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(round(sum((col("tf") * coalesce(col("w"), lit(0.0)))
        .cast(DecimalType(20, 10))).cast("double"), 6).as("z"))

  /** σ(z) on the quantized logit, itself quantized — the one libm call,
    * hardened per the scaladoc. Public: the stream-side scorer
    * ([[graft.streaming.Corpus.scoreQualityStream]]) shares it so the
    * two scoring surfaces cannot diverge on the quantization contract. */
  def sigmoidQ(z: Column): Column =
    round(lit(1.0) / (lit(1.0) + exp(-z)), 6)

  /** Train `iters` batch-GD rounds; returns the weight frame
    * (bucket, w) — one row per feature bucket that occurs in the
    * training set, weights on the 1e-6 grid. `pos`/`neg` are the
    * labeled corpora (y = 1 / 0). Initial weights are zero, so
    * iteration 1's sigmoid is exactly 0.5 — the first update is pure
    * count algebra, engine-exact with no libm at all. */
  def lrTrain(pos: DataFrame, neg: DataFrame, idCol: String,
              textCol: String, buckets: Int = 256, iters: Int = 2,
              lr: Double = 0.5): Array[(Int, Double)] = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets must be in [2, 2^20], got $buckets")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // disjoint id spaces: prefix the label into the training id so a
    // shared id between pos and neg cannot merge two documents' rows
    val featsPlan = featuresOf(pos, idCol, textCol, buckets)
        .select(concat(lit("p:"), col(idCol).cast("string")).as("__tid"),
          col("bucket"), col("tf"), lit(1.0).as("__y"))
      .unionByName(featuresOf(neg, idCol, textCol, buckets)
        .select(concat(lit("n:"), col(idCol).cast("string")).as("__tid"),
          col("bucket"), col("tf"), lit(0.0).as("__y")))
    // Hash-partition the design matrix by __tid so every per-epoch job
    // (the logit groupBy(__tid), the gradient's feats⋈p join on __tid,
    // and the distinct-count below) reads blocks already clustered on
    // its key — 3 corpus-frame exchanges per epoch become 0 (only the
    // ≤`buckets`-row gradient aggregate still shuffles). The decimal
    // accumulators make the result partitioning-invariant.
    //
    // persist(), NOT localCheckpoint: a checkpoint PLANNED under AQE
    // captures its LogicalRDD with UnknownPartitioning (AQE only knows
    // the final partitioning at runtime), so the epochs would
    // re-shuffle anyway; planning it with AQE off preserves the
    // clustering but runs the whole featurize chain non-coalesced
    // (~0.8 s/key at sf0.1 — measured, r15). A cached InMemoryRelation
    // gives both: the cache fill runs under AQE, and (with the default
    // canChangeCachedPlanOutputPartitioning=false) its outputPartitioning
    // stays HashPartitioning(__tid) for every consumer. feats is fully
    // consumed inside this call, so it is unpersisted on every exit path
    // (a failed guard or epoch included) — no cache entry outlives the
    // train. Read once per iteration — never re-tokenize.
    val feats = featsPlan.repartition(col("__tid")).persist()
    try {
      val n = feats.select(col("__tid")).distinct().count()
      require(n > 0, "lrTrain: empty training set")
      var w = Array.empty[(Int, Double)] // all-zero weights, sparsely
      var i = 0
      while (i < iters) {
        val wDf = weightsToDf(pos.sparkSession, w)
        val p = logitOf(feats.select(col("__tid"), col("bucket"), col("tf")),
            wDf, "__tid")
          .select(col("__tid"), sigmoidQ(col("z")).as("__p"))
        // grad_f = Σ_docs tf·(y − p) / N ; update w += lr·grad (rounded
        // to the 1e-6 grid — the iteration-boundary contract)
        val grad = feats.join(p, "__tid")
          .groupBy(col("bucket"))
          .agg((sum((col("tf") * (col("__y") - col("__p")))
            .cast(DecimalType(20, 10))).cast("double") / n).as("g"))
        val gMap = grad.collect() // ≤ buckets rows — the KB-scale boundary
          .map(r => r.getInt(0) -> r.getDouble(1)).toMap
        val keys = (w.map(_._1).toSet ++ gMap.keySet).toArray.sorted
        val wMap = w.toMap
        w = keys.map { b =>
          b -> BigDecimal(wMap.getOrElse(b, 0.0) + lr * gMap.getOrElse(b, 0.0))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
        i += 1
      }
      w
    } finally feats.unpersist()
  }

  /** Weight vector ⇄ plain DataFrame (bucket, w) — the classifier's
    * serving artifact as an ordinary parquet-able table, the
    * [[Similarity.centroidsToDf]] symmetry: train once, store, score
    * every ingestion run from the read-back frame. */
  def weightsToDf(spark: org.apache.spark.sql.SparkSession,
                  w: Array[(Int, Double)]): DataFrame =
    spark.createDataFrame(w.toIndexedSeq).toDF("bucket", "w")

  def weightsFromDf(df: DataFrame): Array[(Int, Double)] =
    df.select(col("bucket").cast("int"), col("w").cast("double"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)

  /** Score a corpus under a trained/read-back weight frame: per doc,
    * the quantized logit and σ(logit) as `quality_score`. Documents
    * with at least one token appear (the feature frame's contract);
    * compose [[Sampling.keepAboveQuantile]] / a threshold filter
    * downstream. Scale shape: one feature pass + broadcast weight join
    * + id-keyed decimal aggregate — text never crosses an exchange. */
  def lrScore(df: DataFrame, idCol: String, textCol: String,
              weights: DataFrame, buckets: Int = 256): DataFrame =
    logitOf(featuresOf(df, idCol, textCol, buckets), weights, idCol)
      .select(col(idCol), col("z"), sigmoidQ(col("z")).as("quality_score"))

  /** Loud-refusal guard for the labeled-eval contract shared by
    * [[lrEvalReport]] and [[lrCalibrationReport]]: `pos` and `neg` ids
    * must be DISJOINT — a doc id present in both would union twice and
    * fan out through the score join, silently double-counting rows.
    *
    * The guard is IN-PLAN (a broadcast equi-join against the shared-id
    * set, refusing per offending row via `raise_error` on the label
    * column), not an eager peek: the former limit-1 semi-join collect
    * fired a Spark job at plan-CONSTRUCTION time, which inside the
    * `graft_lr_eval` / `graft_lr_calibration` TVF builders meant a job
    * at SQL ANALYSIS time, re-fired on every re-analysis of a
    * downstream temp-view chain — the exact façade-regression class
    * [[Reuse.LocalDeferred]] exists to kill. Now plan construction and
    * analysis launch no job; the refusal fires at first execution. The
    * label column carries the guard so neither branch of the report's
    * downstream aggregates can prune it away. */
  private def labeledDisjoint(pos: DataFrame, neg: DataFrame,
                              idCol: String, textCol: String,
                              fn: String): DataFrame = {
    val labeled = pos.select(col(idCol), col(textCol), lit(1L).as("__y"))
      .unionByName(
        neg.select(col(idCol), col(textCol), lit(0L).as("__y")))
    val dups = pos.select(col(idCol))
      .join(neg.select(col(idCol)), Seq(idCol), "left_semi")
      .select(col(idCol), lit(true).as("__dup"))
    labeled.join(broadcast(dups), Seq(idCol), "left")
      .select(col(idCol), col(textCol),
        when(col("__dup").isNull, col("__y")).otherwise(raise_error(concat(
          lit(s"$fn: pos and neg share id "), col(idCol).cast("string"),
          lit(" — labeled eval corpora must be disjoint (a shared id " +
            "double-counts through the score join)")))).as("__y"))
  }

  /** Classifier EVALUATION report — the verb after train/store/serve/
    * stream that decides whether the filter is USABLE: score a labeled
    * eval set under the stored weights and report, per candidate
    * decision threshold, the confusion counts and precision/recall/F1 —
    * what a pipeline owner reads to pick the quality-filter cutoff (and
    * to veto a drifted retrain). `pos`/`neg` are the labeled eval
    * corpora (y = 1 / 0); their ids must be disjoint (the training
    * fixture's even/odd convention — a shared id would cross-label its
    * rows through the score join).
    *
    * Engine parity: scores are the round-6 [[sigmoidQ]] grid (the
    * scoring contract), and every reported metric is ONE division of
    * exact integer counts — precision tp/(tp+fp), recall tp/(tp+fn),
    * F1 as 2·tp/(2·tp+fp+fn) directly from counts (never from the
    * rounded P/R, which would compound grids) — so both engines divide
    * identical operands; round-4 for the grid convention. Undefined
    * metrics (empty denominator) are NULL, not 0 — "no positives
    * predicted" and "precision zero" are different facts.
    *
    * Scale shape: one scoring pass (broadcast weight join), labels ride
    * the id join, thresholds explode from a literal array (|thresholds|
    * × eval rows, partial-aggregable counts). Output: one row per
    * threshold, ordered. */
  def lrEvalReport(pos: DataFrame, neg: DataFrame, idCol: String,
                   textCol: String, weights: DataFrame,
                   buckets: Int = 256,
                   thresholds: Seq[Double] = Seq(0.3, 0.5, 0.7)): DataFrame = {
    require(thresholds.nonEmpty, "lrEvalReport: empty threshold list")
    val labeled = labeledDisjoint(pos, neg, idCol, textCol, "lrEvalReport")
    val scored = lrScore(labeled.select(col(idCol), col(textCol)),
        idCol, textCol, weights, buckets)
      .join(labeled.select(col(idCol), col("__y")), Seq(idCol))
    val conf = scored
      .select(col("quality_score"), col("__y"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .groupBy(col("threshold"))
      .agg(
        sum(when(col("__y") === 1 && col("quality_score") >= col("threshold"),
          1L).otherwise(0L)).as("tp"),
        sum(when(col("__y") === 0 && col("quality_score") >= col("threshold"),
          1L).otherwise(0L)).as("fp"),
        sum(when(col("__y") === 1 && col("quality_score") < col("threshold"),
          1L).otherwise(0L)).as("fn"),
        sum(when(col("__y") === 0 && col("quality_score") < col("threshold"),
          1L).otherwise(0L)).as("tn"))
    conf.select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0,
          round(col("tp").cast("double") /
            (col("tp") + col("fp")).cast("double"), 4)).as("precision"),
        when(col("tp") + col("fn") > 0,
          round(col("tp").cast("double") /
            (col("tp") + col("fn")).cast("double"), 4)).as("recall"),
        when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
          round((lit(2) * col("tp")).cast("double") /
            (lit(2) * col("tp") + col("fp") + col("fn")).cast("double"), 4))
          .as("f1"))
      .orderBy(col("threshold"))
  }

  /** CALIBRATION report — [[lrEvalReport]] answers "is the filter
    * usable at threshold t"; this answers "do its scores MEAN what
    * they say": scores bucket into `nBins` equal-width probability
    * bins, and a calibrated filter has mean_score ≈ frac_pos in every
    * bin (the reliability-diagram table). A filter can have good F1
    * and still be badly calibrated — and a quality-weighted sampler
    * ([[graft.operators.Sampling.weightedKPerStratum]] driven by the
    * score) silently inherits any miscalibration.
    *
    * Engine parity: scores are already on the round-6 [[sigmoidQ]]
    * grid, so the bin index `least(floor(p·nBins), nBins−1)` pairs
    * identical IEEE operands on both engines; mean_score accumulates
    * the grid-exact scores in DECIMAL (the money-aggregate recipe —
    * partial-agg order cannot move it) with ONE terminal division, and
    * frac_pos is one division of exact counts. Output: one row per
    * occupied bin (bin, n, n_pos, mean_score, frac_pos), ordered. */
  def lrCalibrationReport(pos: DataFrame, neg: DataFrame, idCol: String,
                          textCol: String, weights: DataFrame,
                          buckets: Int = 256,
                          nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val labeled = labeledDisjoint(pos, neg, idCol, textCol,
      "lrCalibrationReport")
    val scored = lrScore(labeled.select(col(idCol), col(textCol)),
        idCol, textCol, weights, buckets)
      .join(labeled.select(col(idCol), col("__y")), Seq(idCol))
    scored
      .select(least(floor(col("quality_score") * nBins), lit(nBins - 1))
          .cast("int").as("bin"),
        col("quality_score"), col("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("__y")).as("n_pos"),
        sum(col("quality_score").cast(DecimalType(18, 6))).as("__s"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("__s").cast("double") / col("n").cast("double"), 6)
          .as("mean_score"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("frac_pos"))
      .orderBy(col("bin"))
  }
}
