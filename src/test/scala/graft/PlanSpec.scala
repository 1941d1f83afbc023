package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape guards (the 100 TB posture, SURVEY.md §4): these assert
  * the properties that make the queries scale — pushdown reaching the
  * parquet scan, column pruning, broadcast joins for dimension tables,
  * top-k instead of full sort. A refactor that silently loses one of
  * these still passes correctness; this suite is what catches it. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sf).queryExecution.executedPlan.toString

  test("filters are pushed to the parquet scan") {
    val p = plan("p2_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(p.contains("LessThan(l_shipdate"))
    // the full filter list is truncated in toString; the quantity
    // predicate is visible in DataFilters
    assert(p.contains("(l_qua") || p.contains("GreaterThan(l_quantity"))
  }

  test("column pruning: scans read only referenced columns") {
    val p = plan("o1_order_limit")
    val scan = p.linesIterator.find(_.contains("FileScan parquet")).get
    assert(scan.contains("o_orderkey") && scan.contains("o_totalprice"))
    assert(!scan.contains("o_orderdate") && !scan.contains("o_orderpriority"))
  }

  test("dimension joins broadcast; fact side streams") {
    val p = plan("j1_inner")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "small-dim join must not sort-merge at this scale")
    // the selective customer filter must reach its scan
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"))
  }

  test("order+limit plans TakeOrderedAndProject (top-k, no full sort)") {
    assert(plan("o1_order_limit").contains("TakeOrderedAndProject"))
    assert(plan("llm_ann_topk").contains("TakeOrderedAndProject"))
  }

  test("bm25 stored serving: term filter pushed into the postings scan; top-k; no corpus re-tokenize") {
    val p = plan("llm_bm25_stored")
    assert(p.contains("TakeOrderedAndProject"))
    // the literal In reaches the parquet scan: row groups without the
    // query terms skip on min/max stats
    assert(p.contains("PushedFilters: [In(term"),
      s"term filter must push into the postings scan:\n${p.take(2000)}")
    // serving reads the index, never the documents table
    assert(!p.contains("documents.parquet"),
      "stored serving must not re-tokenize the corpus")
  }

  test("bm25 takedown serving: term filter still pushed below the tombstone anti-join") {
    val p = plan("llm_bm25_delete")
    assert(p.contains("TakeOrderedAndProject"))
    // the purge is a left-anti on doc_id ABOVE the scan — the literal
    // term In must still reach the postings parquet scan beneath it
    assert(p.contains("PushedFilters: [In(term"),
      s"term filter must push into the purged postings scan:\n${p.take(2000)}")
  }

  test("snippet extraction is a shuffle-free per-row projection") {
    val p = plan("llm_snippet")
    assert(!p.contains("Exchange"),
      s"snippetExtract must not shuffle:\n${p.take(1500)}")
    assert(!p.contains("Generate"),
      "snippetExtract must use higher-order functions, not explode")
  }

  test("hybrid RRF: the fused cut is a bounded top-k, not a global sort of the corpus") {
    val p = plan("llm_hybrid_rrf")
    assert(p.contains("TakeOrderedAndProject"),
      "the fused ranking must cut with top-k")
  }

  test("bm25: top-k not full sort; df and stats broadcast; terms filter is a literal In") {
    val p = plan("llm_bm25")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    assert(!p.contains("CartesianProduct"))
    // the |terms|-row df frame and the 1-row stats frame broadcast —
    // the corpus-scale tf frame never sort-merges against them
    assert(p.contains("BroadcastExchange"))
    assert(!p.contains("SortMergeJoin"),
      "tiny df/stats frames must broadcast, not sort-merge")
    // literal isin, not a subquery: term IN (hash, join, vector)
    assert(p.contains("hash") && p.contains("vector"))
  }

  test("flagship entry broadcasts all dimension tables") {
    val p = SparkEntry.entry(spark).queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("BroadcastExchange")) >= 4)
    assert(p.contains("EqualTo(r_name,ASIA)"), "region filter must push to scan")
  }

  test("partial aggregation (map-side combine) in grouped aggregates") {
    val p = plan("a1_groupby")
    assert(p.contains("HashAggregate"))
    // partial + final pair around the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("packOffsets: doc-stream window is bucket-partitioned, not global") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val qe = SparkEntry.queries("llm_pack")(spark, TestSpark.sf).queryExecution
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.size == 2, s"expected 2 windows (bucket offsets + in-bucket), got ${wins.size}")
    val unpart = wins.filter(_.partitionSpec.isEmpty)
    assert(unpart.size == 1, "exactly one unpartitioned window (the tiny bucket-offset pass)")
    assert(unpart.head.child.output.map(_.name).contains("__bt"),
      "the unpartitioned window must run over per-bucket totals, never the doc stream")
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "the corpus running sum must be bucket-partitioned")
  }

  test("decontaminate: eval set broadcasts; corpus side semi-joins") {
    val p = plan("llm_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "eval shingle hashes must broadcast into a semi-join (corpus never shuffles for the match)")
  }

  test("no accidental cartesian/nested-loop joins across the inventory") {
    // BNLJ is legitimate only where the build side is a broadcast
    // single-row/bounded set or the op is an intentional cross/brute-force
    val allowedBnlj = Set("j4_cross", "llm_ann_lsh", "llm_ann_topk",
      "llm_ann_ivf", "llm_ann_ivf_trained", "llm_ann_ivf_pq",
      // same 1-row query-vector × centroid-frame probe-cell selection
      // as llm_ann_ivf_pq, from the stored artifacts (append = the
      // same serving path over the parquet-appended codes)
      "llm_ann_index_roundtrip", "llm_ann_index_append",
      // broadcast 1-row max-vec-id bound building the two appended
      // generations before the physical rewrite
      "llm_ann_index_compact", "e_sql_ann_compact",
      // same fixture bound; the selective rewrite itself reads only
      // tombstone-bearing cells under a literal partition filter
      "llm_ann_selective_compact", "e_sql_ann_selective_compact",
      // broadcast 1-row corpus total under the domain-share division
      "llm_domain_report", "e_sql_domain_report",
      // broadcast 1-row (N, Σdl) corpus stats under the BM25 score
      // (the append form adds the broadcast 1-row max-id fixture bound)
      "llm_bm25", "e_sql_bm25", "llm_bm25_stored", "llm_bm25_append",
      "e_sql_bm25_stored", "llm_bm25_join", "e_sql_bm25_join",
      // same broadcast 1-row (N, Σdl) stats over the purged/appended
      // store views (the streamed form adds the broadcast 1-row max-id
      // slice bound)
      "llm_bm25_delete", "e_sql_bm25_delete", "e_sql_bm25_append",
      "st_bm25_append", "llm_bm25_compact",
      // same broadcast 1-row (N, Σdl) stats + 1-row max-id fixture
      // bound, served over the two graft_store_compact rewrites
      "e_sql_bm25_compact",
      // same broadcast 1-row (N, Σdl) stats over the bucket-partitioned
      // store (the bucket filter is a partition filter, not a join)
      "llm_bm25_pruned", "e_sql_bm25_pruned",
      // same stats shape + the 1-row max-id fixture bound over the
      // compacted partitioned store
      "llm_bm25_pruned_compact",
      // same shape over the selectively-compacted store (bucket filter
      // = partition filter, tombstone purge = anti hash join)
      "llm_bm25_selective_compact", "e_sql_bm25_selective_compact",
      // the batch-snippet run IS bm25Join (same broadcast 1-row stats);
      // the snippet stage itself is two bounded equi-joins + a HOF
      // projection
      "llm_snippet_join", "e_sql_snippet_join",
      // pipeline13 composes the hybrid-join legs (bm25 stats BNLJ + the
      // knn broadcast query-batch cross join); fusion and MMR rounds
      // are by-keyed equi-joins + by-partitioned windows
      "llm_pipeline13", "e_sql_pipeline13",
      // serving-latency fixture: the BM25 surface carries the same
      // broadcast 1-row stats; the fixture build adds no join at all
      "llm_serving_latency",
      // trend gate: same BM25-stats shape + the 1-row max-id slice bound
      "llm_latency_trend",
      // broadcast 1-row max-doc-id bound building the two appended
      // generations + the clone/novel probe (the llm_fp_append shape)
      "llm_fp_compact", "e_sql_fp_compact",
      // broadcast 1-row max-doc-id bound building the slice/generation
      // fixture (the llm_image_delete shape); pairing = banded equi-join
      "llm_image_compact", "e_sql_image_compact",
      // PRF's round-2 serve is the same broadcast 1-row stats shape
      "llm_bm25_prf", "e_sql_bm25_prf",
      // batch PRF: both rounds are the bm25Join stats shape
      "llm_bm25_prf_join", "e_sql_bm25_prf_join",
      // broadcast 1-row max-doc-id bounds building the two generations
      "llm_crawl_delta",
      // broadcast 1-row max-doc-id slice bounds in the streamed-sample
      // batch-parity fixtures
      "st_sample_k", "st_sample_weighted",
      // hybrid fusion: the BM25 leg's broadcast 1-row stats + the ANN
      // leg's broadcast 1-row query vector; the fusion itself is a
      // bounded full-outer SMJ on the id (the batch form's semantic leg
      // is llm_knn_join's broadcast query-batch cross join)
      "llm_hybrid_rrf", "e_sql_hybrid_rrf",
      "llm_hybrid_join", "e_sql_hybrid_join",
      // the streamed serving gate appends the same hybrid-join legs
      "st_hybrid_serve",
      // the eval run IS llm_knn_join's broadcast query-batch cross join
      "llm_retrieval_eval", "e_sql_retrieval_eval",
      // same run leg; the graded relevance itself is an EQUI-join on
      // the exploded adjacent-label key list
      "llm_retrieval_eval_graded", "e_sql_retrieval_eval_graded",
      // hybrid eval: the run IS the hybrid-join chain (bm25 stats BNLJ
      // + the knn broadcast query-batch cross join)
      "llm_hybrid_eval", "e_sql_hybrid_eval",
      // batch MMR's candidate stage IS llm_knn_join's broadcast
      // query-batch cross join; the MMR rounds are by-keyed equi-joins
      // + by-partitioned windows
      "llm_mmr_join", "e_sql_mmr_join",
      // pipeline11 composes both hybrid legs (bm25 stats BNLJ + the knn
      // broadcast cross join) over the surviving corpus
      "llm_pipeline11", "e_sql_pipeline11",
      // broadcast 1-row max-doc-id split bound + 1-row (V, ΣA, ΣB)
      // stats under the KL contributions
      "llm_corpus_kl", "e_sql_corpus_kl", "st_corpus_kl",
      // the rerank's candidate stage IS llm_ann_ivf_pq (same bounded
      // probe-cell selection); the exact stage adds only a broadcast
      // semi-join + 1-row query-vector literal
      "llm_ann_rerank",
      // broadcast 1-row max-doc-id bound building the incoming shard
      // (the llm_exact_incr fixture against the appended store)
      "llm_fp_append",
      // broadcast 1-row max-doc-id bound building the edited-clone
      // fixture; the pairing itself is the banded dHash equi-join
      "llm_image_dups", "e_sql_image_dups", "llm_image_incr",
      "e_sql_image_incr", "llm_image_append", "e_sql_image_append",
      "llm_image_dups_capped", "llm_image_delete", "e_sql_image_delete",
      // same broadcast 1-row max-doc-id fixture bound; the audio
      // pairing/probe are the same banded equi-joins on the afp
      "llm_audio_fp", "e_sql_audio_fp", "llm_audio_dups",
      "e_sql_audio_dups", "llm_audio_probe", "e_sql_audio_probe",
      // the audio lifecycle gates reuse the identical broadcast 1-row
      // max-doc-id fixture bound (append = two generations, delete =
      // purge view, compact = storeCompact rewrite); the probes stay
      // banded equi-joins on the afp
      "llm_audio_append", "e_sql_audio_append",
      "llm_audio_delete", "e_sql_audio_delete",
      "llm_audio_compact", "e_sql_audio_compact",
      // the video family rides the same broadcast 1-row max-doc-id
      // fixture bound; candidates join on the (frame, band) equi-keys
      "llm_video_frames", "e_sql_video_frames",
      "llm_video_dups", "e_sql_video_dups",
      "llm_video_probe", "e_sql_video_probe",
      "llm_video_append", "e_sql_video_append",
      "llm_video_delete", "e_sql_video_delete",
      "llm_video_compact", "e_sql_video_compact",
      "e_sql_image_clusters", "st_image_admission_append",
      "llm_pipeline8", "e_sql_pipeline8", "st_image_admission",
      // broadcast 1-row max-doc-id bound building the mixed-modality
      // fixture; both admission probes are equi-joins (bands; dHash
      // bands) and the exact/minhash/image rejections are anti hash
      // joins — NOT IN forms were rewritten LEFT ANTI to keep it so
      "llm_pipeline9", "e_sql_pipeline9", "e_sql_fp_append",
      // the closed mixed loop: same broadcast 1-row fixture bound as
      // llm_pipeline9; every probe/rejection an equi-/anti hash join
      "st_pipeline9",
      // broadcast 1-row max-doc-id bound building the micro-batch
      // fixture; both stages are band equi-joins + anti hash joins
      "llm_admission_selfdedup", "e_sql_admission_selfdedup",
      "llm_admission_selfdedup_media", "e_sql_admission_selfdedup_media",
      "e_sql_ann_topk", "e_sql_ann_lsh",
      "llm_cosine", "e_sql_cosine",
      "llm_ngram_jaccard",
      // broadcast of a 1-row bound/total (max doc_id; corpus N)
      "llm_simhash_pairs", "llm_simhash_wide", "llm_tfidf", "llm_containment",
      "llm_containment_dfcap", "llm_decontaminate", "llm_decontaminate_bloom",
      "llm_minhash_capped",
      // broadcast 1-row max-doc-id fixture bound + the stored index's
      // broadcast 1-row n_hashes drift guard on the confirm frame
      "llm_decontam_roundtrip", "e_sql_decontam_roundtrip",
      // same broadcast 1-row max-doc-id eval/corpus split as
      // llm_decontaminate (the fraction itself is equi-join + aggregate)
      "llm_contamination",
      // SQL-façade twin of llm_tfidf (same broadcast 1-row corpus count)
      "e_sql_tfidf",
      // broadcast 1-row max-doc-id bound for the corpus/eval split
      // (the probe itself is a pure filter since round 4)
      "st_decontaminate",
      // broadcast 1-row max-doc-id bound building the incoming shard;
      // the admission itself is a left-anti hash join on the fingerprint
      "llm_exact_incr",
      // broadcast 1-row max-doc-id bound building the re-ingested slice;
      // the admission probe itself is equi-joins on (band_idx, band_val)
      // and id_corpus (llm_minhash_incr hides the same bound behind its
      // reuse-truncated sketch leaf)
      "st_minhash",
      // same broadcast 1-row max-vec-id fixture bound; the semantic
      // probe itself is the cell equi-join
      "st_semdedup",
      // broadcast 1-row max-doc-id bound building the admission fixture
      // (the path itself: codegen'd quality filter, inlined-hash
      // decontamination, band equi-joins, id anti-join); the stored
      // variant is the same fixture over read-back stores
      "st_admission", "st_admission_stored",
      // broadcast 1-row max-doc-id bound building the planted-overlap
      // clones; extent resolution itself is equi-joins on fp/id/hash
      "llm_overlap_extents", "llm_substr_dedup",
      // exact ndv x HLL sketch joined as two broadcast 1-row aggregates
      // (the fused form plans an Expand with per-key HLL buffers)
      "a8_hll",
      // broadcast 1-row top-k boundary df (hash-first boilerplate report)
      "llm_boilerplate", "e_sql_boilerplate",
      // broadcast 1-row top-k boundary count + corpus token total
      // (hash-first vocabulary report)
      "llm_vocab", "e_sql_vocab",
      // broadcast 1-row corpus token total under the coverage division
      // (learned-token vocabulary report)
      "llm_bpe_vocab", "e_sql_bpe_vocab",
      // broadcast 1-row quantile threshold (exact and GK-attestation)
      "llm_quantile_filter", "e_sql_quantile_filter",
      "llm_quantile_filter_approx",
      // pipeline3 embeds the quantile filter's broadcast 1-row threshold
      "llm_pipeline3", "e_sql_pipeline3",
      // broadcast 1-row corpus totals feeding the per-source rate table
      "llm_temperature_mix", "e_sql_temperature_mix",
      // broadcast 1-row offsets-frame row count (the maxBroadcastRows
      // cardinality guard on the per-group bucket offsets)
      "llm_token_budget_group", "e_sql_token_budget_group",
      // exact kNN join: the bounded QUERY side broadcast-cross-joins the
      // corpus by design (|Q|·|C| scoring is the exact answer); the IVF
      // variant replaces it with a cell equi-join and is NOT allowlisted
      "llm_knn_join", "e_sql_knn_join",
      // the recall report's exact side IS llm_knn_join's broadcast
      // query-batch cross join (the brute-force twin a recall audit
      // inherently scores); the approx side is the cell equi-join
      "llm_ann_recall",
      // broadcast 1-row corpus token total (unigram model) / vocabulary
      // size (bigram model)
      "llm_unigram_lp", "e_sql_unigram_lp",
      "llm_bigram_lp", "e_sql_bigram_lp",
      // broadcast 1-row continuation-type total (N1+(..)) under the KN
      // interpolation; the count tables join relationally on hashes
      "llm_trigram_kn", "e_sql_trigram_kn",
      // the stored-model form adds only the broadcast 1-row (nbt, nw3)
      // totals; the five model tables LEFT-join relationally — the
      // streamed twin st_trigram_kn scores each micro-batch with the
      // exact same stored-model join shape (r13 omission: the key was
      // added after the full-suite run; the BNLJ is the same benign
      // 1-row totals broadcast)
      "llm_trigram_kn_stored", "e_sql_trigram_kn_stored", "st_trigram_kn",
      // the append verb's gate SERVES through the same stored-model
      // join (broadcast 1-row totals); the merge itself is outer
      // equi-joins on the hash keys + the type-table re-aggregation
      "llm_trigram_kn_append", "e_sql_trigram_kn_append",
      // sentence filter composes the bigram model (broadcast 1-row
      // vocabulary size) + the quantile filter (broadcast 1-row
      // threshold) — both classes already allowlisted standalone
      "llm_sentence_filter", "e_sql_sentence_filter",
      // broadcast 1-row raw/target distribution totals (DSIR smoothing
      // denominators); the bucket table itself equi-joins on __f
      "llm_dsir", "e_sql_dsir")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val p = fn(spark, TestSpark.sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name plans a CartesianProduct")
      if (p.contains("BroadcastNestedLoopJoin"))
        assert(allowedBnlj(name), s"$name unexpectedly plans a BNLJ")
    }
  }

  test("IVF assignment is a shuffle-free projection (no exchange, no window)") {
    val p = plan("llm_ann_ivf")
    // cell = argmax over inlined centroid literals: the corpus side must
    // reach the broadcast probe-cell join without any hash exchange, and
    // the old crossJoin+row_number assignment shape must not come back
    assert(!p.contains("Exchange hashpartitioning"),
      "IVF must not hash-shuffle the corpus to assign cells")
    assert(!p.contains("Window"),
      "IVF cell assignment must be a projection, not a row_number window")
  }

  test("PQ scoring is a codes-only projection (no exchange, no join, top-k)") {
    val p = plan("llm_ann_pq")
    // encode = argmin over inlined codebook literals, score = CASE-chain
    // LUT sum: the corpus must reach TakeOrdered without any exchange,
    // window, or join — the memory-bounded ANN serving shape
    assert(!p.contains("Exchange"), "PQ scoring must not shuffle the corpus")
    assert(!p.contains("Window") && !p.contains("Join"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("IVF-PQ: no corpus shuffle — prune by broadcast probe cells, ADC, top-k") {
    val p = plan("llm_ann_ivf_pq")
    assert(!p.contains("Exchange hashpartitioning"),
      "IVF-PQ must not hash-shuffle the corpus")
    assert(!p.contains("Window"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("stored kNN serving: cell equi-join, codes-only corpus side, no cartesian") {
    val qe = SparkEntry.queries("llm_knn_join_stored")(spark, TestSpark.sf)
      .queryExecution
    val p = qe.executedPlan.toString
    // pairing must be the broadcast cell EQUI-join, never a cross shape
    assert(p.contains("BroadcastHashJoin"), "probe-cell pairing must be a BHJ")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // vectors are read ONLY on the bounded query side: exactly one scan
    // carries the embedding column; the corpus side reads the codes
    // table (sparkPlan, not executedPlan — the AQE wrapper hides
    // children from collect)
    val scans = qe.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val vecScans = scans.filter(_.output.exists(_.name == "embedding"))
    assert(vecScans.size == 1,
      s"only the bounded query side may read vectors, got ${vecScans.size} vector scans")
    assert(scans.exists(_.output.exists(_.name.startsWith("code_"))),
      "the corpus side must serve from the stored codes table")
  }

  test("cell-partitioned stored serving: PartitionFilters prune to the probe cells") {
    val qe = SparkEntry.queries("llm_ann_partition_prune")(spark, TestSpark.sf)
      .queryExecution
    val scans = qe.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val codeScans = scans.filter(_.output.exists(_.name.startsWith("code_")))
    assert(codeScans.nonEmpty, "expected a scan over the stored codes table")
    codeScans.foreach { f =>
      // the probe must reach the scan as a PARTITION filter on the cell
      // key (static pruning: non-probed cells' files are never opened),
      // not as a post-scan data filter
      assert(f.partitionFilters.exists(_.references.exists(_.name == "cell")),
        s"probe-cell selection must be a partition filter, got " +
          s"partitionFilters=${f.partitionFilters}")
      // and only the 2 probed cells of the 8 survive pruning
      assert(f.selectedPartitions.partitionCount == 2,
        s"expected 2 probed cell partitions, scan reads " +
          s"${f.selectedPartitions.partitionCount}")
    }
  }

  test("IVF-SQ stored serving: PartitionFilters prune to the probe cells") {
    val qe = SparkEntry.queries("llm_ann_ivf_sq_stored")(spark, TestSpark.sf)
      .queryExecution
    val scans = qe.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val sqScans = scans.filter(_.output.exists(_.name == "q"))
    assert(sqScans.nonEmpty, "expected a scan over the stored SQ codes table")
    sqScans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "cell")),
        s"SQ probe-cell selection must be a partition filter, got " +
          s"partitionFilters=${f.partitionFilters}")
      assert(f.selectedPartitions.partitionCount == 2,
        s"expected 2 probed cell partitions, scan reads " +
          s"${f.selectedPartitions.partitionCount}")
    }
  }

  test("bucket-partitioned BM25 serving: PartitionFilters prune to the query's term buckets") {
    val qe = SparkEntry.queries("llm_bm25_pruned")(spark, TestSpark.sf)
      .queryExecution
    val scans = qe.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val postScans = scans.filter(_.output.exists(_.name == "tf"))
    assert(postScans.nonEmpty, "expected a scan over the stored postings")
    val expected = graft.operators.TextAnalysis
      .bm25BucketsOf(Seq("hash", "join", "vector"), 8).length
    postScans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "tbucket")),
        s"term-bucket selection must be a partition filter, got " +
          s"partitionFilters=${f.partitionFilters}")
      assert(f.selectedPartitions.partitionCount == expected,
        s"expected $expected probed bucket partitions, scan reads " +
          s"${f.selectedPartitions.partitionCount}")
    }
  }

  test("compacted bucket-partitioned BM25 store: partition layout and pruning survive the rewrite") {
    val qe = SparkEntry.queries("llm_bm25_pruned_compact")(spark, TestSpark.sf)
      .queryExecution
    val scans = qe.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val postScans = scans.filter(f => f.output.exists(_.name == "tf") &&
      f.relation.location.rootPaths.exists(_.toString.contains("postings_v2")))
    assert(postScans.nonEmpty,
      "expected a scan over the COMPACTED postings store")
    val expected = graft.operators.TextAnalysis
      .bm25BucketsOf(Seq("hash", "join", "vector"), 8).length
    postScans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "tbucket")),
        s"compaction must preserve the partition layout, got " +
          s"partitionFilters=${f.partitionFilters}")
      assert(f.selectedPartitions.partitionCount == expected,
        s"expected $expected probed bucket partitions on the compacted " +
          s"store, scan reads ${f.selectedPartitions.partitionCount}")
    }
  }

  test("SELECTIVELY-compacted BM25 store: partition layout and static pruning survive the in-place rewrite") {
    val qe = SparkEntry.queries("llm_bm25_selective_compact")(spark, TestSpark.sf)
      .queryExecution
    val scans = qe.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // the serve reads the store path itself (in-place maintenance) —
    // identify the postings scan by its schema + path
    val postScans = scans.filter(f => f.output.exists(_.name == "tf") &&
      f.relation.location.rootPaths.exists(_.toString
        .contains("bm25_selective_compact/postings")))
    assert(postScans.nonEmpty,
      "expected a scan over the selectively-compacted postings store")
    val expected = graft.operators.TextAnalysis
      .bm25BucketsOf(Seq("hash", "join", "vector"), 8).length
    postScans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "tbucket")),
        s"selective compaction must preserve the partition layout, got " +
          s"partitionFilters=${f.partitionFilters}")
      assert(f.selectedPartitions.partitionCount == expected,
        s"expected $expected probed bucket partitions on the selectively-" +
          s"compacted store, scan reads ${f.selectedPartitions.partitionCount}")
    }
  }

  test("batch stored serving over a partitioned store: PartitionFilters + codes-only corpus side") {
    val qe = SparkEntry.queries("llm_knn_join_pruned")(spark, TestSpark.sf)
      .queryExecution
    val scans = qe.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val codeScans = scans.filter(_.output.exists(_.name.startsWith("code_")))
    assert(codeScans.nonEmpty, "expected a scan over the stored codes table")
    codeScans.foreach { f =>
      assert(f.partitionFilters.exists(_.references.exists(_.name == "cell")),
        s"the batch probe-cell union must be a partition filter, got " +
          s"partitionFilters=${f.partitionFilters}")
    }
    // and the batch pins carry over: vectors only on the query side
    val vecScans = scans.filter(_.output.exists(_.name == "embedding"))
    assert(vecScans.size == 1,
      s"only the bounded query side may read vectors, got ${vecScans.size}")
  }

  test("rerank reads vectors only for ADC candidates (semi-join gate)") {
    val p = plan("llm_ann_rerank")
    // the exact stage must reach the vector scan through a broadcast
    // LeftSemi on the candC candidate ids — never a full-corpus cosine
    assert(p.contains("LeftSemi"),
      "the exact cosine stage must be gated by the candidate semi-join")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("url filter: broadcast blocklist anti-join, zero corpus exchange") {
    val p = plan("llm_url_filter")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "the blocklist must broadcast into a left-anti join")
    assert(!p.contains("Exchange hashpartitioning"),
      "domain admission must not shuffle the corpus")
  }

  test("LR scoring: broadcast weight join; text never keys an exchange") {
    val p = plan("llm_quality_classifier")
    assert(p.contains("BroadcastHashJoin"),
      "the weight frame must broadcast into the feature join")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, "the per-doc aggregates shuffle (id/bucket keys)")
    assert(!exchanges.exists(_.contains("text")), "document text must never shuffle")
  }

  test("minhash pipeline shuffles band keys, not documents") {
    val p = plan("llm_minhash_pairs")
    // the self-join key is the band tuple — no text column crosses it
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text")), "document text must never shuffle")
  }

  test("incremental dedup (between) shuffles band keys, not documents") {
    val p = plan("llm_minhash_incr")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text")), "document text must never shuffle")
  }

  test("streaming admission probe shuffles band keys, not documents") {
    // batch-parity plan of the stream-static probe: the per-row sketch
    // is a projection on the probe side; only band tuples / id_corpus
    // key exchanges — document text never shuffles
    val p = plan("st_minhash")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text")), "document text must never shuffle")
  }

  test("capped minhash still shuffles band keys only, never documents") {
    val p = plan("llm_minhash_capped")
    // the bucket-size count groups by the SAME key the self-join
    // shuffles on — the cap must not introduce a text-bearing exchange
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text")), "document text must never shuffle")
  }

  test("cluster-best winner selection is a partial aggregate, not a corpus window") {
    val p = plan("llm_cluster_best")
    // the winner per component must come from map-side-combining max_by
    // over (score, -id); a row_number window would sort whole
    // components through single tasks
    assert(!p.contains("Window"),
      "winner selection must be max_by, not a row_number window")
    // SortAggregate (max_by's struct buffer isn't hash-aggregable) but
    // still a partial/final pair — the combine happens map-side
    assert(p.contains("partial_max_by"), "max_by must combine map-side")
  }

  test("cluster TVFs: CC rounds deferred behind a leaf; no corpus window in the statement") {
    // the iterative rounds must NOT run during planning (this very call
    // builds executedPlan — pre-round-5 it executed the whole minhash+CC
    // job here); the outer statement stays a lazy anti-join / deferred
    // leaf. The winner aggregation inside graft_cluster_best routes
    // through the same keepBestRepresentatives whose partial_max_by
    // shape the llm_cluster_best pin above guards.
    val keep = plan("e_sql_cluster_keep")
    assert(keep.contains("GraftDeferredScan"),
      "graft_cluster_keep must defer the CC rounds, not run them at analysis")
    assert(keep.contains("LeftAnti"),
      "the corpus side must stay a declarative anti-join")
    val best = plan("e_sql_cluster_best")
    assert(best.contains("GraftDeferredScan"))
    assert(!best.contains("Window"), "no corpus window in the outer statement")
  }

  test("pii redaction is a pure codegen projection (no shuffle, no join)") {
    val p = plan("llm_pii_redact")
    assert(!p.contains("Exchange") && !p.contains("Join"))
    assert(p.linesIterator.next().trim.startsWith("*("),
      "redaction must stay inside whole-stage codegen")
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    import spark.implicits._
    // Catalyst's InjectRuntimeFilter: a selective dimension predicate
    // becomes a bloom_filter_agg on the build side and a might_contain
    // pre-filter on the fact scan — at 100 TB this skips fact rows
    // before the shuffle. Thresholds lowered to model the size ratio a
    // cluster would see.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = Tables.load(spark, TestSpark.sf, "lineitem")
      val o = Tables.load(spark, TestSpark.sf, "orders")
        .filter($"o_totalprice" > 400000)
      val q = li.join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority").agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      val opt = q.queryExecution.optimizedPlan.toString
      assert(opt.contains("bloom_filter_agg") && opt.contains("might_contain"),
        s"selective join should inject a runtime bloom filter:\n$opt")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("exact-k sampling plans TakeOrderedAndProject (top-k, no full sort)") {
    val p = plan("llm_sample_k")
    assert(p.contains("TakeOrderedAndProject"),
      s"exactK must be a per-partition top-k, not a full sort:\n$p")
  }

  test("IVF kNN join: cell EQUI-join (no cartesian), pre-split per-query windows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val qe = SparkEntry.queries("llm_knn_join_ivf")(spark, TestSpark.sf)
      .queryExecution
    val p = qe.executedPlan.toString
    // the whole point of the IVF variant: the query×corpus pairing is an
    // equi-join on the cell id, never a nested-loop cross join
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"IVF kNN join must pair via the cell equi-join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the bounded query side must broadcast into the cell join:\n$p")
    // per-query top-k through the (query, bucket) pre-split
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.size == 2 && wins.exists(_.partitionSpec.size == 2),
      "per-query top-k must be the two-phase pre-split")
  }

  test("embedding outlier filter: vectors never shuffle; thresholds broadcast back") {
    val p = plan("llm_embed_outliers")
    // per-cell thresholds come back as a broadcast join, and the only
    // hash exchange is the (cell)-keyed threshold aggregate — the
    // embedding column itself must never key or ride an exchange
    assert(p.contains("BroadcastHashJoin"),
      s"per-cell thresholds must broadcast:\n$p")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(!exchanges.exists(_.contains("embedding")),
      s"vectors must not ride an exchange:\n${exchanges.mkString("\n")}")
  }

  test("weighted sampling: zero-exchange projection + TakeOrderedAndProject") {
    val p = plan("llm_sample_weighted")
    assert(p.contains("TakeOrderedAndProject"),
      s"weightedK must be a per-partition top-k, not a full sort:\n$p")
    // priority is a pure projection of (weight, hash) — the corpus is
    // never shuffled on the way to the top-k
    assert(!p.contains("Exchange hashpartitioning"),
      s"weightedK must not shuffle the corpus:\n$p")
  }

  test("boilerplate report: no corpus-scale string-keyed exchange") {
    val p = plan("llm_boilerplate")
    // df counting and the top-k boundary run on 60-bit hash keys; the
    // only shuffles partition on doc_id (shingleRows' window) or __h —
    // never on the shingle string itself
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(e => e.contains("shingle") || e.contains("(s#")),
      s"shingle strings must not key an exchange:\n${exchanges.mkString("\n")}")
  }

  test("per-stratum sampling: corpus window is (stratum, bucket)-pre-split") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // a dominant stratum must not sort the corpus through one task: the
    // window touching the full input partitions by (stratum, salt
    // bucket); only the ≤ k·preSplit survivors see the per-stratum window
    val qe = SparkEntry.queries("llm_sample_strat")(spark, TestSpark.sf).queryExecution
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.size == 2, s"expected pre-split + survivor windows, got ${wins.size}")
    assert(wins.forall(_.partitionSpec.nonEmpty), "no global window allowed")
    assert(wins.exists(_.partitionSpec.size == 2),
      "the corpus-facing window must partition by (stratum, bucket)")
  }

  test("per-stratum weighted sampling: corpus window is (stratum, bucket)-pre-split") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // same skew-proof two-phase contract as llm_sample_strat, with the
    // priority ordering on top
    val qe = SparkEntry.queries("llm_sample_weighted_strat")(spark, TestSpark.sf)
      .queryExecution
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.size == 2, s"expected pre-split + survivor windows, got ${wins.size}")
    assert(wins.forall(_.partitionSpec.nonEmpty), "no global window allowed")
    assert(wins.exists(_.partitionSpec.size == 2),
      "the corpus-facing window must partition by (stratum, bucket)")
  }

  test("domain cap: corpus window is (domain, bucket)-pre-split") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // capping exists BECAUSE one source dominates — so the skew-proof
    // two-phase shape matters most here: same pin as llm_sample_strat
    val qe = SparkEntry.queries("llm_domain_cap")(spark, TestSpark.sf).queryExecution
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.size == 2, s"expected pre-split + survivor windows, got ${wins.size}")
    assert(wins.forall(_.partitionSpec.nonEmpty), "no global window allowed")
    assert(wins.exists(_.partitionSpec.size == 2),
      "the corpus-facing window must partition by (domain, bucket)")
  }

  test("per-group quantile filter: tiny threshold agg broadcast back, no corpus shuffle") {
    val p = plan("llm_quantile_by_group")
    assert(p.contains("BroadcastHashJoin"),
      "the per-group threshold table must broadcast")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.size <= 1,
      s"only the group-keyed threshold agg may exchange, saw:\n${exchanges.mkString("\n")}")
    // the optimizer collapses the __g alias to the raw group column
    exchanges.foreach(e => assert(e.contains("lang") || e.contains("__g"),
      s"the one exchange must key on the group, saw: $e"))
  }

  test("cluster sample: zero-exchange cell assignment + pre-split windows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // cell = argmax over inlined centroid literals (no exchange to
    // assign), then the same two-phase (cell, bucket) sampler shape
    val qe = SparkEntry.queries("llm_cluster_sample")(spark, TestSpark.sf).queryExecution
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.size == 2, s"expected pre-split + survivor windows, got ${wins.size}")
    assert(wins.forall(_.partitionSpec.nonEmpty), "no global window allowed")
    assert(wins.exists(_.partitionSpec.size == 2),
      "the corpus-facing window must partition by (cell, bucket)")
    assert(!qe.executedPlan.toString.contains("Join"),
      "cell assignment must be a projection, not a centroid join")
  }

  test("deterministic sampling is a pure scan+filter (zero exchange)") {
    val p = plan("llm_sample")
    assert(!p.contains("Exchange"),
      "hash-gated sampling must not shuffle — it is a per-row projection")
    // executedPlan.toString marks whole-stage codegen spans with "*(n)"
    assert(p.linesIterator.next().trim.startsWith("*("),
      "sample gate must stay codegen'd")
  }

  test("ts_resample: partial bucket agg, day-partitioned fill (no global window)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val p = plan("ts_resample")
    // the bucket aggregate materializes ONCE behind a reuse checkpoint
    // (read by both the day-close branch and the dense-grid join), so
    // its map-side partial pair is no longer in this plan string; the
    // equivalent shape is pinned on a1_groupby. What must hold here:
    // the final plan reads the checkpointed buckets, it does not
    // re-aggregate events per branch
    assert(!p.contains("partial_sum"),
      "events must not be re-aggregated downstream of the checkpoint")
    // the forward-fill window over the DENSE grid must be partitioned
    // (by day) — a global ORDER BY-only window serializes the whole
    // timeline into one task. The only unpartitioned window allowed is
    // the day-level carry (one row per day, broadcast back).
    val qe = SparkEntry.queries("ts_resample")(spark, TestSpark.sf).queryExecution
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.size == 2, s"expected day-carry + in-day fill, got ${wins.size}")
    val unpart = wins.filter(_.partitionSpec.isEmpty)
    assert(unpart.size == 1, "exactly one unpartitioned window (the tiny day frame)")
    assert(unpart.head.child.output.map(_.name).contains("__close"),
      "the unpartitioned window must run over per-day closes, never the dense grid")
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "the dense-grid forward fill must stay day-partitioned")
  }

  test("w5_range_frame: range window partitioned by user, not global") {
    val p = plan("w5_range_frame")
    val win = p.linesIterator.find(_.contains("Window [")).get
    assert(win.contains("user_id"), s"range frame must partition by user_id: $win")
  }

  test("span dedup: df count keys on span hashes, never span strings") {
    val p = plan("llm_span_dedup")
    // the hot-span document-frequency count and its join back key on the
    // 60-bit __h hash; span text crosses an exchange only as the payload
    // of the per-document reassembly groupBy (keyed on doc_id)
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(e => e.contains("span#") || e.contains("chunk_text#")),
      s"span strings must not key an exchange:\n${exchanges.mkString("\n")}")
  }

  test("c4 line panel is a pure scan+project (zero exchange)") {
    val p = plan("llm_c4_filters")
    assert(!p.contains("Exchange"),
      "the line panel is per-row array filtering — it must not shuffle")
  }

  test("line dedup: df count keys on line hashes, never line strings") {
    val p = plan("llm_line_dedup")
    // same contract as span dedup: the hot-line df count and its join
    // back key on the 60-bit __h hash; line text crosses an exchange
    // only as the payload of the per-document reassembly groupBy
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("line#")),
      s"line strings must not key an exchange:\n${exchanges.mkString("\n")}")
  }

  test("winnow: one doc-keyed exchange reused by both windows; hash-only distinct") {
    val p = plan("llm_winnow")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    // exactly ONE shuffle: the doc_id exchange feeds the shingle-forming
    // lead window, the min-in-window selection (same partition spec +
    // compatible sort), AND the final distinct — doc_id partitioning
    // already clusters (doc_id, fp) duplicates, so EnsureRequirements
    // inserts no second exchange; the (doc_id, fp) dedup combines
    // map-side first (partial HashAggregate on 16-byte rows)
    assert(exchanges.size == 1 && exchanges.head.contains("doc_id"),
      s"expected one shared doc_id exchange:\n${exchanges.mkString("\n")}")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "the (doc_id, fp) distinct must partially aggregate")
    // token/shingle strings may ride the window exchange as payload but
    // must never KEY an exchange
    assert(!exchanges.exists(e => e.contains("(s#") || e.contains("__tok")),
      s"strings must not key an exchange:\n${exchanges.mkString("\n")}")
  }

  test("overlap extents: hash/id-keyed exchanges only; islands window is pair-scoped") {
    val p = plan("llm_overlap_extents")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    // fingerprint join, positional-hash joins, islands window — every
    // exchange keys on fingerprints/ids/hashes; token and shingle
    // strings never leave their first projection (the output carries
    // positions, not text)
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(e => e.contains("text") || e.contains("(s#") ||
        e.contains("__tok")),
      s"text must not key an exchange:\n${exchanges.mkString("\n")}")
    // the gaps-and-islands window partitions by (id_a, id_b, diag) —
    // task state is one pair's matches on one diagonal, never global
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val qe = SparkEntry.queries("llm_overlap_extents")(spark, TestSpark.sf).queryExecution
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.forall(_.partitionSpec.nonEmpty), "no global window allowed")
    assert(wins.exists(_.partitionSpec.size == 3),
      "the islands window must partition by (id_a, id_b, diag)")
  }

  test("substring removal: windows doc/pair-scoped; strings never key an exchange") {
    val p = plan("llm_substr_dedup")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    // the reassembly groupBy keys on doc_id (its token payload is the
    // one inherent text crossing); everything else keys on
    // fingerprints/ids/hashes/positions
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(e => e.contains("text") || e.contains("(s#") ||
        e.contains("__tok")),
      s"text must not key an exchange:\n${exchanges.mkString("\n")}")
    // every window is bounded: islands by (id_a, id_b, diag), interval
    // merge by doc — task state is one pair's diagonal or one doc's
    // removal intervals, never corpus-global
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val qe = SparkEntry.queries("llm_substr_dedup")(spark, TestSpark.sf).queryExecution
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "no global window allowed")
  }

  test("semdedup: cell assignment is a projection; pair join keys on cell") {
    val p = plan("llm_semdedup")
    assert(!p.contains("Window"),
      "cell assignment must be the argmax projection, not a row_number window")
    assert(!p.contains("CartesianProduct"))
    // the within-cell pair join is an EQUI-join on the cell id (hash
    // exchange at scale; broadcast of the checkpointed side at this SF)
    val joins = p.linesIterator.filter(_.contains("HashJoin")).toSeq
    assert(joins.exists(j => j.contains("[cell#") || j.contains("(cell#")),
      s"the pair join must key on the cell id:\n${joins.mkString("\n")}")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(!exchanges.exists(_.contains("embedding")),
      "vectors must never key an exchange")
  }

  test("shard assignment is a pure projection (zero exchange)") {
    val p = plan("llm_shards")
    assert(!p.contains("Exchange"),
      "assignShards must not shuffle — the physical reshuffle belongs to the write")
    assert(p.linesIterator.next().trim.startsWith("*("),
      "shard/order-key hashing must stay codegen'd")
  }

  test("within-doc span dedup: occurrence window is (doc, hash)-partitioned") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val qe = SparkEntry.queries("llm_span_dedup_doc")(spark, TestSpark.sf).queryExecution
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    assert(wins.forall(_.partitionSpec.nonEmpty), "no global window allowed")
    // the occurrence-ranking window keys on (document, span hash) so no
    // task ever holds more than one document's repeats of one block
    assert(wins.exists(_.partitionSpec.size == 2),
      "the ranking window must partition by (doc, span-hash)")
  }

  test("gopher rule panel is a pure scan+project (zero exchange)") {
    val p = plan("llm_gopher")
    assert(!p.contains("Exchange"),
      "the rule panel is per-row arithmetic — it must not shuffle")
  }

  test("quantile filter: threshold broadcasts as one row; corpus never shuffles") {
    val p = plan("llm_quantile_filter")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the quantile threshold must broadcast")
    assert(!p.contains("Exchange hashpartitioning"),
      "the corpus side must stream through the filter unshuffled")
  }

  test("bloom decontaminate: inlined might_contain prefilter before the confirm join") {
    val p = plan("llm_decontaminate_bloom")
    assert(p.contains("might_contain"),
      "corpus shingles must probe the inlined bloom sketch before any join")
    assert(p.contains("LeftSemi"),
      "the exact confirm must remain a semi-join on the hash key")
  }

  test("bigram LM: exchanges key on id/hash columns, never token strings") {
    val p = plan("llm_bigram_lp")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    // (doc_id window for bigram forming) + hash-keyed count/join
    // exchanges; token/bigram strings ride only as window payload
    assert(exchanges.forall(e =>
      e.contains("doc_id") || e.contains("bh") || e.contains("wh") ||
        e.contains("uh")),
      s"bigram LM must exchange only id/hash keys:\n${exchanges.mkString("\n")}")
    assert(p.contains("partial"), "count tables must combine map-side")
  }

  test("dsir: bucket table broadcasts; exchanges key on id/bucket only") {
    val p = plan("llm_dsir")
    // the <=buckets-row log-ratio table must broadcast into the scoring
    // join — the corpus-scale side never shuffles on the bucket key
    assert(p.contains("BroadcastHashJoin"),
      "the bucket log-ratio table must broadcast into the scoring join")
    // every hash exchange carries (id, bucket-int) or window rows keyed
    // by id — document text never keys an exchange
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty &&
      exchanges.forall(e => e.contains("doc_id") || e.contains("__f")),
      s"dsir must exchange only id/bucket keys:\n${exchanges.mkString("\n")}")
    assert(p.contains("partial"), "bucket counts must combine map-side")
  }

  test("kmeans iteration shuffles only (cell, pos) accumulators") {
    val p = plan("llm_kmeans")
    // assignment is the inlined-centroid projection (no window); the
    // only hash exchange carries the (cell, pos) partial aggregates
    assert(!p.contains("Window"))
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty &&
      exchanges.forall(e => e.contains("cell") && e.contains("pos")),
      s"kmeans must exchange only cell/pos accumulator rows:\n${exchanges.mkString("\n")}")
    assert(p.contains("partial"), "centroid sums must combine map-side")
  }

  test("token budget: running sum is bucket-partitioned; exchanges key on bucket only") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // the packOffsets hierarchy, transposed to hash order: exactly one
    // unpartitioned window and it runs over per-bucket totals (tiny),
    // never the doc stream; the corpus running sum is bucket-partitioned
    val qe = SparkEntry.queries("llm_token_budget")(spark, TestSpark.sf).queryExecution
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.size == 2, s"expected 2 windows (bucket offsets + in-bucket), got ${wins.size}")
    val unpart = wins.filter(_.partitionSpec.isEmpty)
    assert(unpart.size == 1, "exactly one unpartitioned window (the tiny bucket-offset pass)")
    assert(unpart.head.child.output.map(_.name).contains("__bt"),
      "the unpartitioned window must run over per-bucket totals, never the doc stream")
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "the corpus running sum must be bucket-partitioned")
    // text reduces to (id, n_toks, hash) in the first projection — every
    // hash exchange carries the bucket key, never document text
    val p = plan("llm_token_budget")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(_.contains("__b")),
      s"token budget must exchange only bucket keys:\n${exchanges.mkString("\n")}")
  }

  test("gopher repetition: hash-first — every exchange keys on the doc id") {
    val p = plan("llm_gopher_rep")
    // lines and n-grams reduce to (id, hash, len) before any exchange;
    // the shingle windows and all occurrence-count aggregates key on
    // doc_id (± the 60-bit hash) — line/gram strings never key a shuffle
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(_.contains("doc_id")),
      s"repetition panel must exchange only id/hash keys:\n${exchanges.mkString("\n")}")
    assert(p.contains("partial"), "occurrence counts must combine map-side")
  }

  test("percent rank: rank window bucket-partitioned; offsets tiny and broadcast") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val qe = SparkEntry.queries("llm_rank_norm")(spark, TestSpark.sf).queryExecution
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    // exactly one unpartitioned window and it runs over the per-bucket
    // COUNT frame (≤ numBuckets rows), never the corpus
    val unpart = wins.filter(_.partitionSpec.isEmpty)
    assert(unpart.size == 1, s"expected 1 unpartitioned window, got ${unpart.size}")
    assert(unpart.head.child.output.map(_.name).contains("__c"),
      "the unpartitioned window must run over per-bucket counts")
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "the corpus rank window must be bucket-partitioned")
    // bucket assignment is an inlined CASE chain — every hash exchange
    // carries the bucket key, and the offsets side broadcasts
    val p = plan("llm_rank_norm")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(_.contains("__bk")),
      s"percent rank must exchange only bucket keys:\n${exchanges.mkString("\n")}")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "bucket offsets must broadcast back to the corpus side")
  }

  test("contamination fraction: eval broadcasts; hits+totals share one id-keyed aggregate") {
    val p = plan("llm_contamination")
    assert(p.contains("BroadcastHashJoin"),
      "eval shingle hashes must broadcast (corpus never shuffles for the match)")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty &&
      exchanges.forall(e => e.contains("doc_id") || e.contains("h#")),
      s"contamination must exchange only id/hash keys:\n${exchanges.mkString("\n")}")
    assert(p.contains("partial"), "the count+sum aggregate must combine map-side")
  }

  test("lrTrain epochs shuffle only the bucket aggregate, never __tid") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val corpus = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"text")
    // the hash-exchange keys of each per-epoch gradient plan (output
    // (bucket, g)) executed by one 2-epoch lrTrain
    def gradientExchangeKeys(): Seq[Seq[Set[String]]] = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
          plans.add(qe)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        graft.operators.Classifier.lrTrain(corpus.filter($"doc_id" % 2 === 0),
          corpus.filter($"doc_id" % 2 === 1), "doc_id", "text", iters = 2)
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      } finally spark.listenerManager.unregister(listener)
      val helper = new AdaptiveSparkPlanHelper {}
      scala.jdk.CollectionConverters.IteratorHasAsScala(plans.iterator).asScala.toSeq
        .filter(_.analyzed.output.map(_.name) == Seq("bucket", "g"))
        .map(qe => helper.collect(qe.executedPlan) {
          case e: ShuffleExchangeExec => e.outputPartitioning match {
            case h: HashPartitioning =>
              h.expressions.flatMap(_.references.map(_.name)).toSet
            case other => Set(other.toString)
          }
        })
    }
    // the design matrix is cached hash-partitioned on __tid and the
    // cache reports that partitioning, so the logit aggregate and the
    // feats-p join read it in place (without the repartition both
    // shuffle on __tid every epoch)
    val keys = gradientExchangeKeys()
    assert(keys.size == 2, s"expected one gradient plan per epoch, saw ${keys.size}")
    assert(keys.forall(_ == Seq(Set("bucket"))),
      s"an epoch shuffled more than its bucket aggregate: $keys")
  }
}
