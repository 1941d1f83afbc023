package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, TextAnalysis}

/** Streaming corpus preparation (SURVEY §2.8 × §2.10): incremental
  * document ingestion with benchmark decontamination against a STATIC
  * eval set — the shape a production pipeline runs when new crawl
  * shards arrive continuously but the eval benchmarks are fixed.
  *
  * The key design point is STATELESSNESS: the batch operator
  * ([[Dedup.decontaminate]]) explodes shingles and re-aggregates per
  * document, which on a stream would demand keyed state; here each
  * document is one row whose shingles are one ARRAY column, and
  * contamination is a stream-static LEFT ANTI join against the
  * broadcast eval hash set — no watermark, no state store, identical
  * code path in batch (the oracle gate) and streaming (StreamingSpec
  * parity). */
object Corpus {

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-based streaming read of the documents table. */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(schema)
      // the file-stream source wants a directory; documents.parquet is
      // a single file inside the sf dir, so glob-filter to it
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)),
    StructField("label", IntegerType)))

  /** File-based streaming read of the embeddings table — the vector
    * ingestion stream the semantic-admission probe consumes. */
  def readEmbeddingsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(embeddingsSchema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)

  /** Documents sharing NO n-token shingle with `evalDocs` — the
    * decontamination KEEP-side as a stateless per-row filter. The eval
    * hash set is computed with the batch relational shape and collected
    * ONCE (it's static and benchmark-sized — MBs vs corpus TBs); each
    * incoming document is then probed by ONE fused expression
    * ([[graft.functions.ShingleContaminated]]) that builds gram bytes,
    * digests, and hash-probes with early exit — no per-row HOF lambda
    * tree, no join. Docs with fewer than `n` tokens have no shingles
    * and pass clean, matching [[Dedup.decontaminate]].
    *
    * `maxInlineHashes` is the plan-size ceiling on the inlined probe
    * set (default 2²⁰ ≈ 8 MB of longs). Above it, a BATCH input falls
    * back to the relational shingle semi-join (identical keep set, no
    * driver-resident hash array); a STREAMING input is refused loudly —
    * run the batch semi-join inside `foreachBatch` instead, where each
    * micro-batch is a plain DataFrame. */
  /** Streaming incremental-admission dedup — the stream-static
    * counterpart of [[Dedup.minhashPairsBetween]]: each incoming
    * document is sketched PER ROW and probed against a precomputed
    * static-corpus [[Dedup.MinhashIndex]]. Returns (id_new, id_corpus,
    * jaccard) for near-dup hits at `threshold`; a doc with no rows in
    * the output is admissible.
    *
    * STATELESS by construction, the same design point as
    * [[cleanAgainst]]: the relational sketch (explode shingles, window,
    * per-doc aggregate) would demand keyed state on a stream, so the
    * probe side computes its sketch as one per-row projection —
    * [[Dedup.shingles]] → hash → [[Dedup.minhashSignature]] (the SAME
    * permutation recipe as the corpus index, so band values align) —
    * then explodes its nBands band rows and stream-static-joins the
    * index: bands on (band_idx, band_val), sketches on id_corpus, a
    * per-row Jaccard filter. No watermark, no state store; identical
    * code path in batch (the st_minhash oracle gate proves it equals
    * [[Dedup.minhashPairsBetween]]) and streaming (StreamingSpec
    * parity). The array-lambda sketch is interpreted, not codegen'd —
    * acceptable because it runs over the micro-batch-sized NEW side
    * only; the corpus-scale side was sketched once, relationally, at
    * index build.
    *
    * DUPLICATE CONTRACT: a pair sharing b bands appears b times (the
    * batch op's candidate `distinct` would be stateful on a stream).
    * Admission semantics (does this doc have ANY hit?) are unaffected;
    * batch callers `dropDuplicates(id_new, id_corpus)`, streaming
    * exact-pair consumers collapse per micro-batch in `foreachBatch`.
    *
    * Docs with fewer tokens than a shingle have no sketch and emit no
    * rows (admitted clean), matching the batch operator's absent-row
    * behavior. */
  def admitProbe(docs: DataFrame, index: Dedup.MinhashIndex,
                 idCol: String, textCol: String,
                 k: Int = 16, nBands: Int = 4,
                 threshold: Double = 0.5): DataFrame = {
    require(k % nBands == 0, s"nBands must divide k, got k=$k nBands=$nBands")
    val rowsPerBand = k / nBands
    // ONE fused per-row expression for the whole sketch (hset + k-perm
    // signature): the composable HOF form — shingle lambdas, hex-md5
    // sharedHash per element, signature transform — is interpreted and
    // cost ~8 s per 300-doc micro-batch at sf0.1; the compiled
    // single-pass expression is the stream-safe twin of the batch
    // explode/aggregate shape (graft.functions.MinhashSketch scaladoc)
    val sk = docs
      .select(col(idCol).as("id_new"),
        org.apache.spark.sql.GraftBridge.column(graft.functions.MinhashSketch(
          org.apache.spark.sql.GraftBridge.expression(
            TextAnalysis.tokens(col(textCol))), 3, k)).as("__mh"))
      .filter(col("__mh").isNotNull)
      .select(col("id_new"), col("__mh.hset").as("__hset"),
        col("__mh.sig").as("__sig"))
    val probe = Dedup.bandRows(sk, Seq("id_new", "__hset"), (0 until nBands).map(b =>
      concat_ws("_", (0 until rowsPerBand).map(r =>
        element_at(col("__sig"), b * rowsPerBand + r + 1)): _*)))
    probe
      .join(index.bands.select(col(idCol).as("id_corpus"),
        col("band_idx"), col("band_val")), Dedup.BandKey)
      .join(index.sets.select(col(idCol).as("id_corpus"),
        col("hset").as("__hb")), Seq("id_corpus"))
      .select(col("id_new"), col("id_corpus"),
        (size(array_intersect(col("__hset"), col("__hb"))).cast("double") /
          size(array_union(col("__hset"), col("__hb")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** One micro-batch's COMPLETE dedup admission, intra-batch duplicates
    * included — the production hole [[admitProbe]] alone leaves open: a
    * crawl micro-batch routinely carries internal near-duplicates (the
    * same page fetched twice, syndicated copies landing together), and
    * probing each row against the STORED index admits every copy,
    * because none of them is in the store yet. This helper runs inside
    * `foreachBatch` (batch code on a micro-batch-sized frame, like the
    * admit→append loop's store maintenance):
    *
    *  1. intra-batch keep-first — [[Dedup.minhashPairs]] WITHIN the
    *     batch, then every pair's higher id drops (the pipeline8
    *     C4-greedy representative rule: a doc pairing with ANY lower id
    *     is never the keeper — deterministic, no iterative CC needed);
    *  2. the survivors probe the stored index ([[admitProbe]]) and
    *     admit only on zero hits.
    *
    * Appending the admitted rows' delta then keeps the NEXT batch's
    * copies out via the store — this closes the one window (within a
    * single micro-batch) the store cannot cover. */
  def admitBatch(batch: DataFrame, index: Dedup.MinhashIndex,
                 idCol: String, textCol: String,
                 k: Int = 16, nBands: Int = 4,
                 threshold: Double = 0.5): DataFrame = {
    // the micro-batch frame fans out three ways (the intra-batch pair
    // sketch, the keep-first anti-join, and — via `reps` — the store
    // probe plus the final anti-join): truncate lineage at each fan-out
    // so an expensive upstream batch fixture runs once, not 3-4 times
    // (guide §3.3; callers hand plain per-micro-batch frames here, so
    // localCheckpoint is legal)
    val b = graft.operators.Reuse.Local(batch)
    val losers = Dedup.minhashPairs(b, idCol, textCol,
        k = k, nBands = nBands, threshold = threshold)
      .select(col("id_b").as(idCol)).distinct()
    val reps = graft.operators.Reuse.Local(
      b.join(broadcast(losers), Seq(idCol), "left_anti"))
    val hits = admitProbe(reps, index, idCol, textCol, k, nBands, threshold)
      .select(col("id_new").as(idCol)).distinct()
    // losers/hits are micro-batch-bounded id sets — broadcast them so
    // the anti-joins never shuffle the batch side (guide §3.1)
    reps.join(broadcast(hits), Seq(idCol), "left_anti")
  }

  /** [[admitBatch]] for MEDIA — the image side of the intra-batch
    * window: a crawl micro-batch carrying the same image fetched twice
    * admits every copy under the per-row store probe, because the dHash
    * store has seen none of them. Same two stages, dHash algebra:
    *
    *  1. intra-batch keep-first — [[graft.operators.Multimodal.imageNearDups]]
    *     WITHIN the batch (banded, recall exact for maxHamming <
    *     nBands), every pair's higher id drops (the same deterministic
    *     C4-greedy rule as the text form);
    *  2. survivors probe the STORED hash frame
    *     ([[graft.operators.Multimodal.imageNearDupsBetween]]) and
    *     admit only on zero hits.
    *
    * Runs inside `foreachBatch` like [[admitBatch]]; appending the
    * admitted rows' 8-byte dHash delta then covers the next batch.
    * `batch` carries the raw payload column (string or binary) —
    * [[graft.operators.Multimodal.asMedia]] wraps it here, and every
    * input column passes through to the admitted output. */
  def admitBatchMedia(batch: DataFrame, corpusHashes: DataFrame,
                      idCol: String, payCol: String,
                      maxHamming: Int = 3, nBands: Int = 4): DataFrame = {
    import graft.operators.Multimodal
    // same fan-out as [[admitBatch]] — truncate lineage at the batch
    // frame and at the keep-first survivors (guide §3.3)
    val b = graft.operators.Reuse.Local(batch)
    val losers = Multimodal.imageNearDups(
        Multimodal.asMedia(b.select(col(idCol), col(payCol)),
          idCol, payCol),
        idCol, maxHamming = maxHamming, nBands = nBands)
      .select(col("id_b").as(idCol)).distinct()
    val reps = graft.operators.Reuse.Local(
      b.join(broadcast(losers), Seq(idCol), "left_anti"))
    val hits = Multimodal.imageNearDupsBetween(
        Multimodal.asMedia(reps.select(col(idCol), col(payCol)),
          idCol, payCol),
        corpusHashes, idCol, maxHamming = maxHamming, nBands = nBands)
      .select(col("id_new").as(idCol)).distinct()
    reps.join(broadcast(hits), Seq(idCol), "left_anti")
  }

  /** [[cleanAgainst]] from a STORED decontamination index — the
    * production-restart shape: the benchmark suite was shingled ONCE at
    * index build ([[Dedup.decontamIndex]]); an ingestion-fleet restart
    * reads the persisted hash frame back and resumes admission with
    * ZERO recomputation of the eval side. The shingle size comes from
    * the stored sketch row (parameter drift impossible), and the
    * collected hash count is checked against the sketch's recorded
    * `n_hashes` EAGERLY here (the composition collects the hashes to
    * the driver anyway — a truncated/partially-copied frame refuses
    * before any stream starts, the [[Dedup.decontaminateStored]] drift
    * guard at the stream boundary). The probe itself is the same fused
    * per-row expression as [[cleanAgainst]] — stateless, stream-safe,
    * identical keep set (StreamingSpec pins stream == batch == the
    * recompute path). */
  def cleanAgainstStored(docs: DataFrame, index: Dedup.DecontamIndex,
                         idCol: String, textCol: String,
                         maxInlineHashes: Int = 1 << 20): DataFrame = {
    require(maxInlineHashes >= 1, s"maxInlineHashes must be >= 1, got $maxInlineHashes")
    val (n, nHashes, _) = Dedup.decontamSketchRow(index)
    require(nHashes <= maxInlineHashes,
      s"stored decontamination index records $nHashes hashes — too big to " +
        s"inline into a streaming plan (ceiling $maxInlineHashes). Probe " +
        "per micro-batch with Dedup.decontaminateStored inside foreachBatch, " +
        "or raise maxInlineHashes if the driver can hold the set.")
    val evalH: Array[Long] = index.hashes
      .select(col("h").cast("long")).limit(maxInlineHashes + 1)
      .collect().map(_.getLong(0))
    require(evalH.length == nHashes,
      s"stored decontamination index drift: hash frame carries " +
        s"${evalH.length} rows but the sketch recorded $nHashes — rebuild " +
        "or re-copy the index")
    val contaminated = org.apache.spark.sql.GraftBridge.column(
      graft.functions.ShingleContaminated(
        org.apache.spark.sql.GraftBridge.expression(TextAnalysis.tokens(col(textCol))),
        n, evalH.toIndexedSeq))
    docs.filter(!coalesce(contaminated, lit(false)))
  }

  /** STREAM-SAFE LR quality scoring — [[graft.operators.Classifier.lrScore]]
    * for the admission stream: each document's logit is ONE compiled
    * per-row pass ([[graft.functions.LrLogit]]: token → 60-bit hash
    * bucket → per-bucket tf → exact-decimal Σ tf·w → round 6), so
    * scoring is stateless — the batch scorer's (id, bucket) aggregates
    * would demand keyed state on a stream. The fused expression
    * replaces the interpreted per-token HOF chain (the
    * [[graft.functions.MinhashSketch]] precedent — same shape, same
    * ~100× class win on the admission path) AND upgrades the numeric
    * contract: the old form accumulated doubles in token order, which
    * could land on the opposite side of the round(·,6) grid from the
    * batch scorer on a knife edge; the fused form computes the batch
    * aggregate's decimal sum IDENTICALLY, so stream == batch holds
    * per-doc on ANY corpus, not just the gate fixtures (LlmOpsSpec pins
    * bit-parity against lrScore; StreamingSpec pins the streamed path).
    * Output: (idCol, z, quality_score) — the
    * [[graft.operators.Classifier.lrScore]] shape. The one divergence
    * from the batch scorer: a NULL text row scores NULL z /
    * quality_score here, where the batch feature frame simply has no
    * rows for it and omits the doc (empty-STRING text is identical on
    * both surfaces — `split` yields one empty token whose bucket weight
    * both paths look up). */
  def scoreQualityStream(docs: DataFrame, idCol: String, textCol: String,
                         weights: Array[(Int, Double)],
                         buckets: Int): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val z = org.apache.spark.sql.GraftBridge.column(
      graft.functions.LrLogit(
        org.apache.spark.sql.GraftBridge.expression(
          TextAnalysis.tokens(col(textCol))),
        buckets,
        weights.map(_._1).toIndexedSeq,
        weights.map(_._2).toIndexedSeq))
    docs.select(col(idCol), z.as("z"))
      .select(col(idCol), col("z"),
        graft.operators.Classifier.sigmoidQ(col("z")).as("quality_score"))
  }

  def cleanAgainst(docs: DataFrame, evalDocs: DataFrame,
                   idCol: String, textCol: String, n: Int = 13,
                   maxInlineHashes: Int = 1 << 20): DataFrame = {
    require(maxInlineHashes >= 1, s"maxInlineHashes must be >= 1, got $maxInlineHashes")
    // read by the ceiling peek AND (on the fallback path) the semi-join:
    // truncate lineage so the eval shingle pass runs once (the frame is
    // benchmark-sized 8-byte rows — compact by the reuse policy)
    val evalHDf = graft.operators.Reuse.truncate(Dedup.shingleRows(
        evalDocs.select(col(idCol), col(textCol)), idCol, textCol, n)
      .select(Dedup.sharedHash(col("s")).as("h")).distinct())
    // peek one past the ceiling — never collects an unbounded set
    val evalH: Array[Long] = evalHDf.limit(maxInlineHashes + 1)
      .collect().map(_.getLong(0))
    if (evalH.length <= maxInlineHashes) {
      val contaminated = org.apache.spark.sql.GraftBridge.column(
        graft.functions.ShingleContaminated(
          org.apache.spark.sql.GraftBridge.expression(TextAnalysis.tokens(col(textCol))),
          n, evalH.toIndexedSeq))
      // FILTER semantics: every input column passes through, so the
      // clean frame composes directly into the next pipeline stage
      docs.filter(!coalesce(contaminated, lit(false)))
    } else if (docs.isStreaming) {
      throw new IllegalArgumentException(
        s"eval set exceeds $maxInlineHashes distinct $n-gram hashes — too big " +
          "to inline into a streaming plan. Run the batch semi-join inside " +
          "foreachBatch (each micro-batch is a plain DataFrame), or raise " +
          "maxInlineHashes if the driver can hold the set.")
    } else {
      // batch fallback: same KEEP contract via the relational join —
      // corpus text never shuffles, only (id, 8-byte hash) rows; the
      // join strategy (broadcast vs shuffle) is left to Catalyst/AQE
      // since "too big to inline" need not mean "too big to broadcast"
      val docH = Dedup.shingleRows(docs.select(col(idCol), col(textCol)),
          idCol, textCol, n)
        .select(col(idCol), Dedup.sharedHash(col("s")).as("h"))
      val dirty = docH.join(evalHDf, Seq("h"), "left_semi")
        .select(col(idCol)).distinct()
      docs.join(dirty, Seq(idCol), "left_anti")
    }
  }

  /** Hybrid SERVING on the query stream — the retrieval fleet's
    * per-micro-batch step ([[graft.operators.TextAnalysis.bm25Join]] +
    * [[graft.operators.Similarity.knnJoin]] +
    * [[graft.operators.TextAnalysis.rrfFuseBy]] against STATIC stored
    * frames): each arriving batch of (query id, query text) rows serves
    * both legs and fuses per query, STATELESSLY — per-query
    * independence makes the streamed union equal the one-shot batch
    * serve over all queries exactly (the st_hybrid_serve gate; a
    * query's result depends only on its own row and the static
    * stores). Run it inside `foreachBatch`; each micro-batch is a
    * plain DataFrame. Output: (queryIdCol, docIdCol, rrf, rank). */
  def serveHybrid(queries: DataFrame, postings: DataFrame,
                  docLens: DataFrame, emb: DataFrame,
                  docIdCol: String, queryIdCol: String,
                  queryTextCol: String, vecIdCol: String, vecCol: String,
                  kLeg: Int = 20, kFused: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ta = graft.operators.TextAnalysis
    val bmRanked = ta.bm25Join(postings, docLens, queries,
        docIdCol, queryIdCol, queryTextCol, k = kLeg)
      .select(col(queryIdCol), col(docIdCol), col("rank"))
    val qvecs = queries.select(col(queryIdCol))
      .join(emb.select(col(vecIdCol).as(queryIdCol), col(vecCol)),
        Seq(queryIdCol))
    val annRanked = graft.operators.Similarity.knnJoin(qvecs, emb,
        queryIdCol, vecIdCol, vecCol, vecCol, k = kLeg, excludeSelf = true)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(queryIdCol))
          .orderBy(col("cos_sim").desc, col("neighbor_id").asc)))
      .select(col(queryIdCol), col("neighbor_id").as(docIdCol), col("rank"))
    ta.rrfFuseBy(Seq(bmRanked, annRanked), queryIdCol, docIdCol,
      k = kFused)
  }
}
