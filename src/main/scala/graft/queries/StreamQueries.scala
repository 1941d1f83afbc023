package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import graft.streaming.Events

/** Batch-parity forms of the streaming operators (SURVEY.md §2.8) —
  * identical code paths run in StreamingSpec as actual streams; here the
  * same transforms run in batch so windowed/sessionized semantics sit in
  * the DuckDB oracle gate. Money-free counts; window starts compared as
  * truncated timestamps. */
object StreamQueries {

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st_tumbling" -> ((s, d) =>
      Events.tumbling(Tables.load(s, d, "events"), "1 hour")
        .select("w_start", "event_type", "n")),
    "st_sliding" -> ((s, d) =>
      Events.sliding(Tables.load(s, d, "events"), "2 hours", "1 hour")),
    "st_session" -> ((s, d) =>
      Events.sessions(Tables.load(s, d, "events"), "30 minutes")),
    "st_enrich" -> ((s, d) => {
      // stream-static dimension enrichment (batch-parity form; the
      // stream path runs in StreamingSpec)
      val ev = Tables.load(s, d, "events")
      Events.enrich(ev, Events.userDim(ev))
    }),
    "st_join" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // stream-stream interval join (batch-parity form): clicks per
      // purchase from the preceding hour, aggregated per purchase
      Events.purchaseClickJoin(Tables.load(s, d, "events"), "1 hour")
        .groupBy(col("p_event"), col("user_id"))
        .agg(count(lit(1)).as("n_clicks_1h"))
    }),
    "st_minhash" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // streaming incremental-admission dedup (batch-parity form; the
      // stream path runs in StreamingSpec): the tail-300 slice
      // re-ingested under new ids, probed per-row against the static
      // corpus MinhashIndex — must equal minhashPairsBetween exactly
      // (same split, permutations, threshold as llm_minhash_incr, whose
      // oracle this reuses)
      val docs = Tables.load(s, d, "documents").select(col("doc_id"), col("text"))
      val gen = Stores.split(docs, "doc_id")
      val incoming = gen.newer(300)
        .select((col("doc_id") + 3000000).as("doc_id"), col("text"))
      val idx = graft.operators.Dedup.minhashIndex(docs, "doc_id", "text")
      graft.streaming.Corpus.admitProbe(incoming, idx, "doc_id", "text")
        .dropDuplicates("id_new", "id_corpus")
    }),
    "st_admission" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // THE complete continuous-ingestion admission path (batch-parity
      // form; streamed end-to-end in StreamingSpec): quality rules ->
      // decontamination vs the static eval slice -> near-dup probe vs
      // the static corpus index. Admitted = incoming docs surviving all
      // three — every stage stateless/stream-static by construction
      val docs = Tables.load(s, d, "documents").select(col("doc_id"), col("text"))
      val gen = Stores.split(docs, "doc_id")
      // incoming mixes CLONES of corpus docs (near-dup probe rejects
      // them) with NOVEL docs built by concatenating three distant
      // corpus docs (pairwise jaccard vs any one original ~ 1/3 < 0.5
      // -> admitted unless quality/decontamination drops them); all
      // component docs sit below the eval slice
      val a = gen.where(gen.above(300) && gen.atMost(200))
      val clones = a.select((col("doc_id") + 3000000).as("doc_id"), col("text"))
      val novel = a.select(col("doc_id").as("aid"), col("text").as("atext"))
        .join(docs.select(col("doc_id").as("bid"), col("text").as("btext")),
          col("aid") - 120 === col("bid"))
        .join(docs.select(col("doc_id").as("cid"), col("text").as("ctext")),
          col("aid") - 240 === col("cid"))
        .select((col("aid") + 4000000).as("doc_id"),
          concat_ws(" ", col("atext"), col("btext"), col("ctext")).as("text"))
      val incoming = clones.unionAll(novel)
      val ev = gen.newer(100).select(col("doc_id"), col("text"))
      val quality = incoming.filter(graft.operators.TextAnalysis.gopherKeep(
        col("text"), minTokens = 10, maxTokens = 100000,
        minMeanWordLen = 2.0, maxMeanWordLen = 10.0,
        maxSymbolRatio = 0.1, minStopwordHits = 1))
      val clean = graft.streaming.Corpus.cleanAgainst(
        quality, ev, "doc_id", "text", n = 13)
      val idx = graft.operators.Dedup.minhashIndex(docs, "doc_id", "text")
      val hits = graft.streaming.Corpus.admitProbe(clean, idx, "doc_id", "text")
        .select(col("id_new").as("doc_id")).distinct()
      clean.select(col("doc_id")).join(hits, Seq("doc_id"), "left_anti")
    }),
    "st_quality_lr" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // model-based quality scoring ON THE STREAM (batch-parity form;
      // streamed in StreamingSpec): the LR classifier trains once on
      // the labeled fixture, persists its weight frame, and the
      // read-back weights inline into a stateless per-row scoring
      // expression — the admission fleet's "score every incoming doc
      // under the stored model" step. Same oracle as
      // llm_quality_classifier (the batch scorer's algebra), so the
      // two scoring surfaces are pinned equal on this corpus
      val out = Stores.dir("quality_lr_stream")
      val docs = Tables.load(s, d, "documents").select(col("doc_id"), col("text"))
      Stores.lrWeights(s, docs, out)
      graft.streaming.Corpus.scoreQualityStream(docs, "doc_id", "text",
        graft.operators.Classifier.weightsFromDf(s.read.parquet(out)),
        buckets = 64)
    }),
    "st_admission_stored" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // st_admission with EVERY index read back from parquet — the
      // production-restart attestation: a fleet restart resumes
      // admission with zero recomputation of the eval suite or the
      // corpus sketches. Same fixture and oracle as st_admission, so
      // any drift through storage hash-mismatches
      val out = Stores.dir("admission_stores")
      val docs = Tables.load(s, d, "documents").select(col("doc_id"), col("text"))
      val gen = Stores.split(docs, "doc_id")
      val a = gen.where(gen.above(300) && gen.atMost(200))
      val clones = a.select((col("doc_id") + 3000000).as("doc_id"), col("text"))
      val novel = a.select(col("doc_id").as("aid"), col("text").as("atext"))
        .join(docs.select(col("doc_id").as("bid"), col("text").as("btext")),
          col("aid") - 120 === col("bid"))
        .join(docs.select(col("doc_id").as("cid"), col("text").as("ctext")),
          col("aid") - 240 === col("cid"))
        .select((col("aid") + 4000000).as("doc_id"),
          concat_ws(" ", col("atext"), col("btext"), col("ctext")).as("text"))
      val incoming = clones.unionAll(novel)
      val ev = gen.newer(100).select(col("doc_id"), col("text"))
      // write both stores once (the index-build run), read them back
      val dcIdx = Stores.decontamIndex(ev)
      val mhIdx = graft.operators.Dedup.minhashIndex(docs, "doc_id", "text")
      // four independent store sinks (two per index, each pair off one
      // checkpointed sketch frame) — overlap them (guide §2.6)
      graft.operators.Par.jobs(
        () => Stores.decontam(dcIdx, s"$out/decontam"),
        () => Stores.minhash(mhIdx, s"$out/minhash"))
      val dcStored = Stores.readDecontam(s, s"$out/decontam")
      val mhStored = Stores.readMinhash(s, s"$out/minhash")
      val quality = incoming.filter(graft.operators.TextAnalysis.gopherKeep(
        col("text"), minTokens = 10, maxTokens = 100000,
        minMeanWordLen = 2.0, maxMeanWordLen = 10.0,
        maxSymbolRatio = 0.1, minStopwordHits = 1))
      // `clean` feeds BOTH the minhash probe and the final anti-join —
      // truncate lineage so the fixture-join + quality + decontam chain
      // runs once, not twice (guide §3.3)
      val clean = graft.operators.Reuse.Local(
        graft.streaming.Corpus.cleanAgainstStored(
          quality, dcStored, "doc_id", "text"))
      val hits = graft.streaming.Corpus.admitProbe(clean, mhStored,
          "doc_id", "text")
        .select(col("id_new").as("doc_id")).distinct()
      clean.select(col("doc_id")).join(broadcast(hits), Seq("doc_id"), "left_anti")
    }),
    "st_admission_append" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.operators.{Dedup, TextAnalysis}
      // the continuously-ingesting fleet's FULL cycle, closed (batch-
      // parity form; StreamingSpec runs it as a real two-micro-batch
      // stream under foreachBatch): micro-batch 1 is admitted against
      // the STORED indexes, the admitted docs' fingerprints and minhash
      // bands/sets are APPENDED back to the stores, and micro-batch 2 —
      // exact and near clones of batch-1 admits — probes the RE-READ
      // stores and must bounce on BOTH append paths (exact clones at
      // the appended fingerprint store, near clones at the appended
      // minhash index; neither existed before the append). The final
      // admitted set is batch-1's alone == st_admission's output (same
      // fixture, same oracle) — a LOST append admits batch-2 rows and
      // hash-mismatches; a WRONG append changes batch-1 admission and
      // mismatches too
      val out = Stores.dir("admission_append")
      val docs = Tables.load(s, d, "documents").select(col("doc_id"), col("text"))
      val gen = Stores.split(docs, "doc_id")
      val a = gen.where(gen.above(300) && gen.atMost(200))
      val clones = a.select((col("doc_id") + 3000000).as("doc_id"), col("text"))
      val novel = a.select(col("doc_id").as("aid"), col("text").as("atext"))
        .join(docs.select(col("doc_id").as("bid"), col("text").as("btext")),
          col("aid") - 120 === col("bid"))
        .join(docs.select(col("doc_id").as("cid"), col("text").as("ctext")),
          col("aid") - 240 === col("cid"))
        .select((col("aid") + 4000000).as("doc_id"),
          concat_ws(" ", col("atext"), col("btext"), col("ctext")).as("text"))
      val batch1 = clones.unionAll(novel)
      val ev = gen.newer(100).select(col("doc_id"), col("text"))
      // the stores, written once at corpus-build time: a fingerprint
      // store (exact stage) and the minhash band/sketch index
      val mh = Dedup.minhashIndex(docs, "doc_id", "text")
      // three independent store sinks — overlap them (guide §2.6)
      graft.operators.Par.jobs(
        () => Stores.fingerprints(s"$out/fp", docs),
        () => Stores.minhash(mh, s"$out/mh"))
      // one micro-batch's admission against the CURRENT stores: quality
      // -> decontamination -> exact (fp anti-join) -> near-dup probe
      def admitted(batch: DataFrame): DataFrame = {
        val quality = batch.filter(TextAnalysis.gopherKeep(col("text"),
          minTokens = 10, maxTokens = 100000,
          minMeanWordLen = 2.0, maxMeanWordLen = 10.0,
          maxSymbolRatio = 0.1, minStopwordHits = 1))
        val clean = graft.streaming.Corpus.cleanAgainst(
          quality, ev, "doc_id", "text", n = 13)
        // `fresh` feeds BOTH the minhash probe (a sketch pass over its
        // text) and the final anti-join below — truncate lineage so the
        // fixture-join + quality + decontam + fp-anti chain runs once
        // per micro-batch, not twice (guide §3.3)
        val fresh = graft.operators.Reuse.Local(
          clean.join(s.read.parquet(s"$out/fp"),
              TextAnalysis.fingerprint(col("text")) === col("fp"), "left_anti")
            .select(col("doc_id"), col("text")))
        val mhStored = Stores.readMinhash(s, s"$out/mh")
        val hits = graft.streaming.Corpus.admitProbe(fresh, mhStored,
            "doc_id", "text")
          .select(col("id_new").as("doc_id")).distinct()
        fresh.join(broadcast(hits), Seq("doc_id"), "left_anti")
      }
      // batch 1: admit, SINK the admitted docs (they are written in any
      // real pipeline — and the sink is what decouples the probe reads
      // from the appends below), then append their fingerprints and
      // their band/sketch DELTA to the stores. minhashIndex over just
      // the admitted docs IS the delta minhashIndexAppend unions — a
      // parquet mode("append") of its frames is the same store
      admitted(batch1).write.mode("overwrite").parquet(s"$out/admitted_b1")
      val adm1 = s.read.parquet(s"$out/admitted_b1")
      val delta = Dedup.minhashIndex(adm1, "doc_id", "text")
      // the three append deltas target three distinct paths — overlap
      // them too (each path's overwrite above already completed)
      graft.operators.Par.jobs(
        () => adm1.select(TextAnalysis.fingerprint(col("text")).as("fp"))
          .distinct().write.mode("append").parquet(s"$out/fp"),
        () => graft.operators.Par.jobs(Seq(delta.sets),
          () => delta.bands.write.mode("append").parquet(s"$out/mh/bands"),
          () => delta.sets.write.mode("append").parquet(s"$out/mh/sets")))
      // batch 2: exact clones (fp-append path) + near clones with one
      // prepended never-in-corpus token (minhash-append path — the
      // fingerprint differs but ~all shingles are shared, jaccard ≈ 1)
      val batch2 = adm1.select((col("doc_id") + 5000000).as("doc_id"), col("text"))
        .unionAll(adm1.select((col("doc_id") + 6000000).as("doc_id"),
          concat(lit("zqx "), col("text")).as("text")))
      adm1.select(col("doc_id"))
        .unionAll(admitted(batch2).select(col("doc_id")))
    }),
    "st_image_admission" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.operators.Multimodal
      // streaming MULTIMODAL admission (batch-parity form; the stream
      // path runs in StreamingSpec): incoming media rows hash per row —
      // a pure builtin projection, stateless — and probe the STORED
      // corpus dHash frame; the image counterpart of st_minhash. Same
      // fixture and oracle as llm_image_incr, so drift through the
      // streaming surface hash-mismatches
      val out = Stores.dir("st_image_dhash")
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val media = Stores.media(docs)
      Stores.dHash(out, media.slice)
      Multimodal.imageNearDupsBetween(
          Multimodal.asMedia(media.edited, "doc_id", "text"),
          s.read.parquet(out), maxHamming = 3, nBands = 4)
        .dropDuplicates("id_new", "id_corpus")
    }),
    "st_image_admission_append" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.operators.Multimodal
      // the image admit→append loop CLOSED (batch-parity form;
      // StreamingSpec runs it as a real two-micro-batch stream under
      // foreachBatch): micro-batch 1 — exact clones of the corpus media
      // (bounce at the stored dHash frame) + novel reversed payloads
      // (admitted) — probes the store, the admitted rows are SUNK (the
      // decoupling that keeps probe reads off the in-flight append),
      // their 8-byte dHash delta is parquet-APPENDED, and micro-batch 2
      // — exact clones AND same-length local edits of batch-1 admits —
      // must fully bounce off the re-read appended store (a 4-char edit
      // spans ≤ 2 adjacent luma cells ⇒ ≤ 3 gradient bits ⇒ within
      // maxHamming deterministically). Final admitted set = batch 1's
      // alone; a lost append admits batch-2 rows and hash-mismatches
      val out = Stores.dir("image_admission_append")
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val media = Stores.media(docs)
      Stores.dHash(s"$out/dh", media.slice)
      def admitted(batch: DataFrame): DataFrame = {
        val hits = Multimodal.imageNearDupsBetween(
            Multimodal.asMedia(batch, "doc_id", "text"),
            s.read.parquet(s"$out/dh"), maxHamming = 3, nBands = 4)
          .select(col("id_new").as("doc_id")).distinct()
        batch.join(hits, Seq("doc_id"), "left_anti")
      }
      val batch1 = media.slice
        .select((col("doc_id") + 3000000).as("doc_id"), col("text"))
        .unionAll(media.slice.select((col("doc_id") + 4000000).as("doc_id"),
          reverse(col("text")).as("text")))
      admitted(batch1).write.mode("overwrite").parquet(s"$out/admitted_b1")
      val adm1 = s.read.parquet(s"$out/admitted_b1")
      Multimodal.dHash(Multimodal.asMedia(adm1, "doc_id", "text"))
        .write.mode("append").parquet(s"$out/dh")
      val batch2 = adm1
        .select((col("doc_id") + 5000000).as("doc_id"), col("text"))
        .unionAll(adm1.select((col("doc_id") + 6000000).as("doc_id"),
          concat(substring(col("text"), 1, 29), lit("ZZZZ"),
            expr("substring(text, 34)")).as("text")))
      adm1.select(col("doc_id"))
        .unionAll(admitted(batch2).select(col("doc_id")))
    }),
    "st_sample_k" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // streamed DETERMINISTIC sampling (batch-parity form;
      // StreamingSpec runs the real two-micro-batch MemoryStream):
      // min-k under the salted-hash total order is ASSOCIATIVE, so each
      // arriving micro-batch's candidates MERGE with the stored current
      // sample — exactK over the union, k-row state forever — and the
      // final store must equal the one-shot batch sample over the whole
      // corpus (the llm_sample_k oracle): a lost batch or a
      // non-associative shortcut hash-mismatches. Versioned store paths
      // because a parquet store cannot be overwritten from its own
      // read.
      val out = Stores.dir("st_sample_k")
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val gen = Stores.split(docs, "doc_id")
      val slices = Seq(
        gen.older(300),
        gen.where(gen.above(300) && gen.atMost(100)),
        gen.newer(100))
        .map(_.select(col("doc_id"), col("text")))
      var prev: Option[String] = None
      slices.zipWithIndex.foreach { case (slice, i) =>
        val cur = prev.map(p => slice.unionByName(s.read.parquet(p)))
          .getOrElse(slice)
        val path = s"$out/v$i"
        graft.operators.Sampling.exactK(cur, col("text"), k = 200,
            tieBreak = Seq(col("doc_id")), salt = "eval:")
          .write.mode("overwrite").parquet(path)
        prev = Some(path)
      }
      s.read.parquet(prev.get).select(col("doc_id"))
    }),
    "st_sample_weighted" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // streamed WEIGHTED sampling: max-k by DLT priority is
      // associative exactly like st_sample_k's min-k (priority is a
      // pure function of (salt, key, weight), so it recomputes at every
      // merge from the stored base columns — no priority ever persists
      // stale); same merge loop, same StreamingSpec-pinned mechanics,
      // gated on the one-shot llm_sample_weighted oracle
      val out = Stores.dir("st_sample_weighted")
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"))
      val gen = Stores.split(docs, "doc_id")
      val slices = Seq(
        gen.older(300),
        gen.where(gen.above(300) && gen.atMost(100)),
        gen.newer(100))
        .map(_.select(col("doc_id"), col("text"), col("n_chars")))
      var prev: Option[String] = None
      slices.zipWithIndex.foreach { case (slice, i) =>
        val cur = prev.map(p => slice.unionByName(s.read.parquet(p)))
          .getOrElse(slice)
        val path = s"$out/v$i"
        graft.operators.Sampling.weightedK(cur, col("text"),
            col("n_chars"), k = 200, tieBreak = Seq(col("doc_id")),
            salt = "wpri:")
          .select(col("doc_id"), col("text"), col("n_chars"))
          .write.mode("overwrite").parquet(path)
        prev = Some(path)
      }
      graft.operators.Sampling.weightedK(s.read.parquet(prev.get),
          col("text"), col("n_chars"), k = 200,
          tieBreak = Seq(col("doc_id")), salt = "wpri:")
        .select(col("doc_id"), col("n_chars").as("weight"),
          col("priority"))
    }),
    "st_bm25_append" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.operators.TextAnalysis
      // the RETRIEVAL store on the ingestion stream (batch-parity form;
      // StreamingSpec runs the real two-micro-batch MemoryStream under
      // foreachBatch): each arriving micro-batch of docs contributes
      // its postings + doc-length delta as a parquet APPEND — per-doc
      // rows, so the delta IS the append, and df/N/avgdl recompute from
      // the store at query time so no global statistic goes stale. The
      // final store must serve exactly what a fresh one-shot build
      // serves (the llm_bm25 oracle); a lost micro-batch, a double
      // append, or a stale-stats shortcut all hash-mismatch. Three
      // micro-batches here (vs llm_bm25_append's two generations) so
      // the sequencing itself is exercised.
      val out = Stores.dir("st_bm25_append")
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val gen = Stores.split(docs, "doc_id")
      val slices = Seq(
        gen.older(200),
        gen.where(gen.above(200) && gen.atMost(100)),
        gen.newer(100))
      // per micro-batch, the postings delta and the doclens delta are
      // independent sinks off one checkpointed index — overlap them
      // (guide §2.6); the batch SEQUENCE itself stays strictly ordered
      // (that ordering is what this gate exercises)
      slices.zipWithIndex.foreach { case (slice, i) =>
        val mode = if (i == 0) "overwrite" else "append"
        val ix = graft.operators.Reuse.Local(TextAnalysis.bm25Index(
          slice.select(col("doc_id"), col("text")), "doc_id", "text"))
        graft.operators.Par.jobs(Seq(ix),
          () => ix.write.mode(mode).parquet(s"$out/postings"),
          () => TextAnalysis.bm25DocLens(ix, "doc_id")
            .write.mode(mode).parquet(s"$out/doclens"))
      }
      TextAnalysis.bm25TopKStored(s.read.parquet(s"$out/postings"),
        s.read.parquet(s"$out/doclens"), "doc_id",
        queryTerms = Seq("hash", "join", "vector"), k = 25)
    }),
    "st_hybrid_serve" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.operators.TextAnalysis
      // hybrid retrieval SERVING on the query stream (batch-parity
      // form; StreamingSpec runs the real two-micro-batch MemoryStream
      // under foreachBatch): the stored lexical index and the
      // embeddings corpus are STATIC; each arriving micro-batch of
      // queries serves both legs + fusion statelessly and APPENDS its
      // results. Per-query independence makes the appended union equal
      // the one-shot batch serve exactly — the llm_hybrid_join
      // algebra, whose oracle gates this. Batch split 1 / {2, 3} so
      // the sequencing itself is exercised.
      val out = Stores.dir("st_hybrid_serve")
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val emb = Tables.load(s, d, "embeddings")
      Stores.bm25(out, Seq(Stores.bm25Index(docs)))
      val post = s.read.parquet(s"$out/postings")
      val dls = s.read.parquet(s"$out/doclens")
      import s.implicits._
      val allQ = Seq((1L, "hash join"), (2L, "vector scan slow"),
        (3L, "zzzunknown"))
      val batches = Seq(allQ.take(1), allQ.drop(1))
      batches.zipWithIndex.foreach { case (qs, i) =>
        val mode = if (i == 0) "overwrite" else "append"
        graft.streaming.Corpus.serveHybrid(
            qs.toDF("query_id", "qtext"), post, dls, emb,
            "doc_id", "query_id", "qtext", "vec_id", "embedding",
            kLeg = 20, kFused = 10)
          .write.mode(mode).parquet(s"$out/results")
      }
      s.read.parquet(s"$out/results")
        .select($"query_id", $"doc_id", $"rrf", $"rank")
    }),
    "st_pipeline9" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import graft.operators.{Dedup, Multimodal, TextAnalysis}
      // the MIXED-MODALITY ingestion loop CLOSED (batch-parity form;
      // StreamingSpec runs it as a real two-micro-batch stream under
      // foreachBatch): llm_pipeline9's admission — gopher → 13-gram
      // decontamination → minhash probe AND per-row dHash probe, both
      // against STORED indexes — runs per micro-batch, the admitted
      // rows are SUNK, and BOTH deltas append (the minhash band/sketch
      // frames of the admitted texts, the 8-byte dHash rows of the
      // admitted payloads). Micro-batch 2 must fully bounce off the
      // RE-READ appended stores: 'zqx '-prepended near-clones of
      // batch-1 admits carry NOVEL payloads (the appended minhash index
      // is their only rejector) while fresh 3-doc concat texts carry
      // EXACT clones of admitted payloads (the appended dHash frame is
      // theirs — hamming 0, banding exact). Final admitted set =
      // batch 1's alone == llm_pipeline9's output (same fixture, same
      // oracle); a lost append on EITHER store admits batch-2 rows and
      // hash-mismatches
      val out = Stores.dir("st_pipeline9")
      val docs = Tables.load(s, d, "documents").select(col("doc_id"), col("text"))
      val gen = Stores.split(docs, "doc_id")
      val a = gen.where(gen.above(300) && gen.atMost(200))
        .select(col("doc_id"), col("text"))
      val novel = a.select(col("doc_id").as("aid"), col("text").as("atext"))
        .join(docs.select(col("doc_id").as("bid"), col("text").as("btext")),
          col("aid") - 120 === col("bid"))
        .join(docs.select(col("doc_id").as("cid"), col("text").as("ctext")),
          col("aid") - 240 === col("cid"))
        .select(col("aid"), col("atext"),
          concat_ws(" ", col("atext"), col("btext"), col("ctext")).as("ntext"))
      val batch1 = a
        .select((col("doc_id") + 3000000).as("doc_id"), col("text"),
          col("text").as("pay"))
        .unionAll(novel.select((col("aid") + 4000000).as("doc_id"),
          col("ntext").as("text"), col("atext").as("pay")))
        .unionAll(a.select((col("doc_id") + 5000000).as("doc_id"), col("text"),
          reverse(col("text")).as("pay")))
        .unionAll(novel.select((col("aid") + 6000000).as("doc_id"),
          col("ntext").as("text"), reverse(col("atext")).as("pay")))
      val ev = gen.newer(100).select(col("doc_id"), col("text"))
      // corpus-build time: both stores on disk
      val idx = Dedup.minhashIndex(docs, "doc_id", "text")
      // three independent store sinks — overlap (guide §2.6)
      graft.operators.Par.jobs(
        () => Stores.minhash(idx, s"$out/mh"),
        () => Stores.dHash(s"$out/dh", docs))
      // one micro-batch's mixed admission against the CURRENT stores
      def admitted(batch0: DataFrame): DataFrame = {
        // the micro-batch fixture feeds the TEXT path and the MEDIA
        // probe, and `clean` feeds both the minhash probe and the
        // text-OK anti-join — truncate lineage at each fan-out so the
        // fixture-join chain runs once per micro-batch, not three
        // times (guide §3.3)
        val batch = graft.operators.Reuse.Local(batch0)
        val quality = batch.filter(TextAnalysis.gopherKeep(col("text"),
          minTokens = 10, maxTokens = 100000, minMeanWordLen = 2.0,
          maxMeanWordLen = 10.0, maxSymbolRatio = 0.1, minStopwordHits = 1))
        val clean = graft.operators.Reuse.Local(
          graft.streaming.Corpus.cleanAgainst(
            quality, ev, "doc_id", "text", n = 13))
        val mhHits = graft.streaming.Corpus.admitProbe(
            clean.select(col("doc_id"), col("text")),
            Stores.readMinhash(s, s"$out/mh"), "doc_id", "text")
          .select(col("id_new").as("doc_id")).distinct()
        val textOk = clean.join(broadcast(mhHits), Seq("doc_id"), "left_anti")
        val imgHits = Multimodal.imageNearDupsBetween(
            Multimodal.asMedia(batch.select(col("doc_id"), col("pay")),
              "doc_id", "pay"),
            s.read.parquet(s"$out/dh"), maxHamming = 3, nBands = 4)
          .select(col("id_new").as("doc_id")).distinct()
        textOk.join(broadcast(imgHits), Seq("doc_id"), "left_anti")
      }
      // batch 1: admit, sink, append BOTH deltas (the sink decouples
      // the probe reads from the in-flight appends)
      admitted(batch1).write.mode("overwrite").parquet(s"$out/admitted_b1")
      val adm1 = s.read.parquet(s"$out/admitted_b1")
      val delta = Dedup.minhashIndex(adm1, "doc_id", "text")
      // three independent append deltas, three distinct paths — overlap
      graft.operators.Par.jobs(
        () => graft.operators.Par.jobs(Seq(delta.sets),
          () => delta.bands.write.mode("append").parquet(s"$out/mh/bands"),
          () => delta.sets.write.mode("append").parquet(s"$out/mh/sets")),
        () => Multimodal.dHash(Multimodal.asMedia(
            adm1.select(col("doc_id"), col("pay")), "doc_id", "pay"))
          .write.mode("append").parquet(s"$out/dh"))
      // batch 2: (a) near-clone text + novel payload; (b) fresh 3-doc
      // concat (components -60/-180, sharing only atext with the
      // appended text → shingle jaccard ≪ 0.5) + exact payload clone
      val b2a = adm1.select((col("doc_id") + 10000000).as("doc_id"),
        concat(lit("zqx "), col("text")).as("text"),
        reverse(col("text")).as("pay"))
      val b2b = adm1.select((col("doc_id") - 6000000).as("aid"), col("pay"))
        .join(docs.select(col("doc_id").as("a2id"), col("text").as("atext")),
          col("aid") === col("a2id"))
        .join(docs.select(col("doc_id").as("b2id"), col("text").as("b2text")),
          col("aid") - 60 === col("b2id"))
        .join(docs.select(col("doc_id").as("c2id"), col("text").as("c2text")),
          col("aid") - 180 === col("c2id"))
        .select((col("aid") + 11000000).as("doc_id"),
          concat_ws(" ", col("atext"), col("b2text"), col("c2text")).as("text"),
          col("pay"))
      adm1.select(col("doc_id"))
        .unionAll(admitted(b2a.unionAll(b2b)).select(col("doc_id")))
    }),
    "st_semdedup" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // streaming SEMANTIC admission (batch-parity form; the stream
      // path runs in StreamingSpec): incoming vector clones probed
      // per-row against the static corpus cells — the embedding
      // counterpart of st_minhash. Both cell assignments are pure
      // projections, the probe a stateless stream-static equi-join
      val emb = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val gen = Stores.split(emb, "vec_id")
      val incoming = gen.newer(100)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
      val cents = graft.operators.Similarity.collectCentroids(
        emb, "vec_id", "embedding", 8)
      graft.operators.Similarity.semanticPairsBetween(incoming, emb,
        "vec_id", "vec_id", "embedding", "embedding", cents,
        simThreshold = 0.99)
    }),
    "st_cms_heavy_hitters" -> ((s, d) =>
      // the frequency dashboard ON THE INGESTION STREAM (batch-parity
      // form; StreamingSpec builds one CMS per micro-batch and
      // CountMinSketch.mergeInPlace's them — counter arrays are
      // additive, so the merged sketch equals the one-shot corpus
      // sketch CELL-FOR-CELL and this batch form IS the stream's
      // output): the second stateful streaming aggregate beside
      // st_corpus_report, pinning the mergeable-sketch contract
      // `exact <= estimate <= exact + ceil(eps*N)` per attested token
      graft.operators.TextAnalysis.heavyHittersCms(
        Tables.load(s, d, "documents"), "doc_id", "text",
        topK = 20, eps = 0.001, confidence = 0.99)),
    "st_corpus_kl" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // drift monitoring ON the ingestion stream (batch-parity form;
      // StreamingSpec runs the real two-micro-batch foreachBatch loop
      // and pins row parity): each arriving micro-batch is scored
      // against the STATIC reference corpus — the per-generation KL
      // row a crawl dashboard plots before admitting a generation
      val docs = Tables.load(s, d, "documents")
      val gen = Stores.split(docs, "doc_id")
      val ref = gen.older(100).select(col("doc_id"), col("text"))
      val b1 = gen.where(gen.above(100) && gen.atMost(50))
        .select(col("doc_id"), col("text"))
      val b2 = gen.newer(50).select(col("doc_id"), col("text"))
      graft.operators.TextAnalysis.unigramKlReport(ref, b1, "text")
        .select(lit(1).as("batch_id"), col("*"))
        .unionByName(
          graft.operators.TextAnalysis.unigramKlReport(ref, b2, "text")
            .select(lit(2).as("batch_id"), col("*")))
    }),
    "st_corpus_report" -> ((s, d) =>
      // the ingestion dashboard ON THE INGESTION STREAM (batch-parity
      // form; StreamingSpec runs the identical transform as a
      // complete-mode streaming aggregate): same panel and oracle as
      // llm_corpus_report — counts/sums/min/max merge exactly, and the
      // double avg is exact-integer addition below 2^53 so the
      // incremental merge order cannot change it
      graft.operators.TextAnalysis.corpusReport(
        Tables.load(s, d, "documents"), "source", "lang", "text")),
    "st_trigram_kn" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // streamed stored-model KN scoring (batch-parity form; the
      // stream path runs per micro-batch in StreamingSpec): the LM
      // trained on the even half and STORED, the ingestion stream
      // scored from the read-back tables — per-batch scoring is exact
      // because every trigram of a doc arrives with its row (per-doc
      // aggregate, no cross-row state). Same artifacts recipe and
      // oracle as llm_trigram_kn_stored.
      val out = Stores.dir("kn_model_stream")
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val model = graft.operators.TextAnalysis.trigramKnTrain(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      Stores.knModel(model, out)
      graft.operators.TextAnalysis.trigramKnScoreStored(docs, "doc_id",
        "text", Stores.readKnModel(s, model, out))
    }),
    "st_quality" -> ((s, d) =>
      // streaming quality gate (batch-parity form): the Gopher panel is
      // a stateless pure projection, so the identical transform runs on
      // a document stream (StreamingSpec parity case) — same thresholds
      // and oracle as llm_gopher
      graft.operators.TextAnalysis.gopherRules(
        Tables.load(s, d, "documents"), "doc_id", "text",
        minTokens = 10, maxTokens = 100000,
        minMeanWordLen = 2.0, maxMeanWordLen = 10.0,
        maxSymbolRatio = 0.1, minStopwordHits = 1)),
    "st_decontaminate" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // streaming decontamination (batch-parity form): incoming corpus
      // docs sharing any 13-gram with the static last-100-doc eval set
      // are dropped — stateless stream-static anti-join, the stream
      // path runs in StreamingSpec
      val docs = Tables.load(s, d, "documents")
      val gen = Stores.split(docs, "doc_id")
      val ev = gen.newer(100).select(col("doc_id"), col("text"))
      val corpus = gen.older(100).select(col("doc_id"), col("text"))
      graft.streaming.Corpus.cleanAgainst(corpus, ev, "doc_id", "text", n = 13)
        .select(col("doc_id"))
    })
  )

  def oracle: Map[String, String] = Map(
    // the composed admission-path oracle lives in LlmQueries (shared
    // CTE helpers)
    "st_admission" -> LlmQueries.admissionOracleSql,
    // the stored-store restart path is output-identical by contract
    "st_admission_stored" -> LlmQueries.admissionOracleSql,
    // the closed admit→append loop: batch 2 (clones of batch-1 admits)
    // must FULLY bounce off the appended stores, so the admitted set is
    // batch 1's alone — st_admission's exact output and oracle
    "st_admission_append" -> LlmQueries.admissionOracleSql,
    // the stream-side per-row scorer lands on the same round(·,6)
    // logits as the batch scorer's exact-decimal algebra
    "st_quality_lr" -> LlmQueries.oracle("llm_quality_classifier"),
    "st_hybrid_serve" -> LlmQueries.oracle("llm_hybrid_join"),
    // stateless per-row panel — identical to llm_gopher's oracle
    "st_quality" -> LlmQueries.oracle("llm_gopher"),
    "st_trigram_kn" -> LlmQueries.oracle("llm_trigram_kn_stored"),
    // complete-mode streaming aggregate — identical to the batch panel
    "st_corpus_report" -> LlmQueries.oracle("llm_corpus_report"),
    // per-micro-batch drift rows: the llm_corpus_kl algebra applied to
    // each generation against the static reference
    "st_corpus_kl" ->
      """WITH mm AS (SELECT max(doc_id) AS m FROM documents),
          ra AS (SELECT unnest(string_split_regex(text, '[\t\n\x0B\f\r ]+')) AS t
                 FROM documents, mm WHERE doc_id <= mm.m - 100),
          rc AS (SELECT CAST(('0x'||substr(md5(t),1,15)) AS BIGINT) AS h,
                        count(*) AS c
                 FROM ra WHERE length(t) > 0 GROUP BY 1),
          b1 AS (SELECT unnest(string_split_regex(text, '[\t\n\x0B\f\r ]+')) AS t
                 FROM documents, mm
                 WHERE doc_id > mm.m - 100 AND doc_id <= mm.m - 50),
          c1 AS (SELECT CAST(('0x'||substr(md5(t),1,15)) AS BIGINT) AS h,
                        count(*) AS c
                 FROM b1 WHERE length(t) > 0 GROUP BY 1),
          b2 AS (SELECT unnest(string_split_regex(text, '[\t\n\x0B\f\r ]+')) AS t
                 FROM documents, mm WHERE doc_id > mm.m - 50),
          c2 AS (SELECT CAST(('0x'||substr(md5(t),1,15)) AS BIGINT) AS h,
                        count(*) AS c
                 FROM b2 WHERE length(t) > 0 GROUP BY 1),
          j1 AS (SELECT coalesce(rc.c, 0) AS ca, coalesce(c1.c, 0) AS cb
                 FROM rc FULL OUTER JOIN c1 ON rc.h = c1.h),
          s1 AS (SELECT count(*) AS v, sum(ca) AS ta, sum(cb) AS tb FROM j1),
          j2 AS (SELECT coalesce(rc.c, 0) AS ca, coalesce(c2.c, 0) AS cb
                 FROM rc FULL OUTER JOIN c2 ON rc.h = c2.h),
          s2 AS (SELECT count(*) AS v, sum(ca) AS ta, sum(cb) AS tb FROM j2)
          SELECT 1 AS batch_id, CAST(s1.v AS BIGINT) AS vocab_size,
                 CAST(s1.ta AS BIGINT) AS tot_a, CAST(s1.tb AS BIGINT) AS tot_b,
                 round(sum((CAST(ca + 1 AS DOUBLE) / CAST(s1.ta + s1.v AS DOUBLE)) *
                   ln(CAST((ca + 1) * (s1.tb + s1.v) AS DOUBLE) /
                      CAST((cb + 1) * (s1.ta + s1.v) AS DOUBLE))), 4) AS kl_ab,
                 round(sum((CAST(cb + 1 AS DOUBLE) / CAST(s1.tb + s1.v AS DOUBLE)) *
                   ln(CAST((cb + 1) * (s1.ta + s1.v) AS DOUBLE) /
                      CAST((ca + 1) * (s1.tb + s1.v) AS DOUBLE))), 4) AS kl_ba
          FROM j1 CROSS JOIN s1 GROUP BY s1.v, s1.ta, s1.tb
          UNION ALL
          SELECT 2 AS batch_id, CAST(s2.v AS BIGINT) AS vocab_size,
                 CAST(s2.ta AS BIGINT) AS tot_a, CAST(s2.tb AS BIGINT) AS tot_b,
                 round(sum((CAST(ca + 1 AS DOUBLE) / CAST(s2.ta + s2.v AS DOUBLE)) *
                   ln(CAST((ca + 1) * (s2.tb + s2.v) AS DOUBLE) /
                      CAST((cb + 1) * (s2.ta + s2.v) AS DOUBLE))), 4) AS kl_ab,
                 round(sum((CAST(cb + 1 AS DOUBLE) / CAST(s2.tb + s2.v AS DOUBLE)) *
                   ln(CAST((cb + 1) * (s2.ta + s2.v) AS DOUBLE) /
                      CAST((ca + 1) * (s2.tb + s2.v) AS DOUBLE))), 4) AS kl_ba
          FROM j2 CROSS JOIN s2 GROUP BY s2.v, s2.ta, s2.tb""",
    "st_tumbling" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start,
                event_type, count(*) AS n
         FROM events GROUP BY 1, 2""",
    // each event falls into 2 sliding windows: trunc(ts) and trunc(ts)-1h
    "st_sliding" ->
      """SELECT w_start, count(*) AS n FROM (
           SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start FROM events
           UNION ALL
           SELECT CAST(date_trunc('hour', ts) - INTERVAL 1 HOUR AS TIMESTAMP) FROM events)
         GROUP BY 1""",
    // gaps-and-islands sessionization, 30-minute gap. Boundary verified
    // empirically (StreamingSpec): Spark session_window MERGES events
    // exactly gap-apart (closed interval), so a new session starts only
    // when the gap is strictly greater — hence '>' here.
    "st_session" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
         flagged AS (
           SELECT user_id, ts,
                  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            > INTERVAL 30 MINUTE
                         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       THEN 1 ELSE 0 END AS new_s
           FROM e),
         numbered AS (
           SELECT user_id, ts,
                  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM flagged)
         SELECT user_id, min(ts) AS s_start, count(*) AS n_events
         FROM numbered GROUP BY user_id, sid""",
    "st_enrich" ->
      """SELECT e.event_id, e.user_id, e.event_type, d.first_seen
         FROM events e
         LEFT JOIN (SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS first_seen
                    FROM events GROUP BY user_id) d
           ON e.user_id = d.user_id""",
    "st_join" ->
      """SELECT p.event_id AS p_event, p.user_id, count(*) AS n_clicks_1h
         FROM events p JOIN events c
           ON p.user_id = c.user_id
          AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
         WHERE p.event_type = 'purchase' AND c.event_type = 'click'
         GROUP BY 1, 2""",
    // same pair set as the batch incremental dedup — the stream-static
    // probe is bit-equal to minhashPairsBetween on the same split
    "st_minhash" -> LlmQueries.oracle("llm_minhash_incr"),
    // the stream-safe per-row image probe is the same computation as
    // the batch incremental form — one oracle (StreamingSpec pins the
    // actual stream == batch)
    "st_image_admission" -> LlmQueries.oracle("llm_image_incr"),
    // micro-batch CMS sketches merge exactly (additive counters), so
    // the stream's report shares the batch gate's oracle verbatim
    "st_cms_heavy_hitters" -> LlmQueries.oracle("llm_cms_heavy_hitters"),
    // the streamed append loop must serve exactly the fresh-build
    // retrieval answer over the whole corpus
    "st_bm25_append" -> LlmQueries.oracle("llm_bm25"),
    // the merged streamed sample must equal the one-shot batch sample
    "st_sample_k" -> LlmQueries.oracle("llm_sample_k"),
    "st_sample_weighted" -> LlmQueries.oracle("llm_sample_weighted"),
    // the closed mixed-modality loop: batch 2 (near-clone texts with
    // novel payloads, fresh texts with exact clones of admitted
    // payloads) fully bounces off the appended stores, so the final
    // admitted set is batch 1's alone — llm_pipeline9's oracle verbatim
    "st_pipeline9" -> LlmQueries.oracle("llm_pipeline9"),
    // the closed image loop: dhash chain replayed over store, batch 1,
    // and the batch-2 edits; admission = NOT EXISTS a store hash within
    // hamming 3; batch 2 probes the APPENDED store (gen-0 ∪ adm1)
    "st_image_admission_append" ->
      """WITH m AS (SELECT max(doc_id) AS mx FROM documents),
          sl AS (SELECT doc_id, text FROM documents, m
                 WHERE doc_id > mx - 300 AND length(text) >= 400),
          b1 AS (SELECT doc_id + 3000000 AS doc_id, text FROM sl
                 UNION ALL
                 SELECT doc_id + 4000000, reverse(text) FROM sl),
          allt AS (SELECT 0 AS grp, doc_id, text FROM sl
                   UNION ALL SELECT 1, doc_id, text FROM b1),
          hx AS (SELECT grp, doc_id, lower(hex(text)) AS h FROM allt),
          lum AS (SELECT grp, doc_id,
                    list_transform(generate_series(0, 71), k ->
                      CAST(('0x' || substr(md5(substr(h,
                          CAST(floor(length(h)*k/72) AS INT) + 1,
                          greatest(CAST(floor(length(h)*(k+1)/72) AS INT)
                            - CAST(floor(length(h)*k/72) AS INT), 0))), 1, 8))
                        AS BIGINT) % 256) AS lu
                  FROM hx),
          dh AS (SELECT grp, doc_id,
                   CAST(list_sum(list_transform(generate_series(0, 63), i ->
                     CASE WHEN lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 2]
                               > lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 1]
                          THEN CASE WHEN i = 63
                                    THEN -9223372036854775808
                                    ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END
                          ELSE 0 END)) AS BIGINT) AS dhash
                 FROM lum),
          adm1 AS (SELECT b.doc_id, b.text, n.dhash
                   FROM b1 b JOIN dh n ON n.grp = 1 AND n.doc_id = b.doc_id
                   WHERE NOT EXISTS (
                     SELECT 1 FROM dh c WHERE c.grp = 0
                     AND bit_count(xor(n.dhash, c.dhash)) <= 3)),
          store2 AS (SELECT dhash FROM dh WHERE grp = 0
                     UNION ALL SELECT dhash FROM adm1),
          edits AS (SELECT doc_id + 6000000 AS doc_id,
                           substr(text, 1, 29) || 'ZZZZ' || substr(text, 34) AS text
                    FROM adm1),
          hx2 AS (SELECT doc_id, lower(hex(text)) AS h FROM edits),
          lum2 AS (SELECT doc_id,
                     list_transform(generate_series(0, 71), k ->
                       CAST(('0x' || substr(md5(substr(h,
                           CAST(floor(length(h)*k/72) AS INT) + 1,
                           greatest(CAST(floor(length(h)*(k+1)/72) AS INT)
                             - CAST(floor(length(h)*k/72) AS INT), 0))), 1, 8))
                         AS BIGINT) % 256) AS lu
                   FROM hx2),
          dh2 AS (SELECT doc_id,
                    CAST(list_sum(list_transform(generate_series(0, 63), i ->
                      CASE WHEN lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 2]
                                > lu[CAST(floor(i/8) AS INT)*9 + (i%8) + 1]
                           THEN CASE WHEN i = 63
                                     THEN -9223372036854775808
                                     ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END
                           ELSE 0 END)) AS BIGINT) AS dhash
                  FROM lum2),
          b2h AS (SELECT doc_id + 5000000 AS doc_id, dhash FROM adm1
                  UNION ALL SELECT doc_id, dhash FROM dh2),
          adm2 AS (SELECT n.doc_id FROM b2h n
                   WHERE NOT EXISTS (
                     SELECT 1 FROM store2 c
                     WHERE bit_count(xor(n.dhash, c.dhash)) <= 3))
          SELECT doc_id FROM adm1
          UNION ALL SELECT doc_id FROM adm2""",
    // seed-centroid cells (the cellOf argmax contract on both sides,
    // probes = 1), exact-cosine confirm at 0.99 on the clone slice
    "st_semdedup" ->
      """WITH cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                       FROM embeddings ORDER BY vec_id LIMIT 8),
          e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          m AS (SELECT max(vec_id) AS mx FROM embeddings),
          ca AS (SELECT e.vec_id, c.cid,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rk
                 FROM e CROSS JOIN cent c),
          corpus AS (SELECT e.vec_id AS id_corpus, e.v, a.cid AS cell
                     FROM e JOIN (SELECT vec_id, cid FROM ca WHERE rk = 1) a
                       USING (vec_id)),
          newv AS (SELECT e.vec_id + 10000 AS id_new, e.v AS qv, a.cid AS cell
                   FROM e JOIN (SELECT vec_id, cid FROM ca WHERE rk = 1) a
                     USING (vec_id), m
                   WHERE e.vec_id > m.mx - 100)
         SELECT n.id_new, c.id_corpus,
                round(list_cosine_similarity(n.qv, c.v), 6) AS cos_sim
         FROM newv n JOIN corpus c ON n.cell = c.cell
         WHERE round(list_cosine_similarity(n.qv, c.v), 6) >= 0.99""",
    // the KEEP side of llm_decontaminate: corpus docs sharing no
    // 13-gram with the eval slice (short docs have no shingles → clean)
    "st_decontaminate" -> {
      val gram13 = (0 until 13).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
      val hashSql = "CAST(('0x'||substr(md5(s),1,8)) AS BIGINT)"
      s"""WITH m AS (SELECT max(doc_id) AS mx FROM documents),
          t AS (SELECT doc_id, string_split_regex(text, '[\\t\\n\\x0B\\f\\r ]+') AS toks
                FROM documents),
          g AS (SELECT doc_id,
                  list_distinct(list_transform(generate_series(1, len(toks) - 12),
                    i -> $gram13)) AS gs
                FROM t WHERE len(toks) >= 13),
          h AS (SELECT doc_id,
                  list_distinct(list_transform(gs, s -> $hashSql)) AS hs
                FROM g),
          ev AS (SELECT DISTINCT unnest(hs) AS eh FROM h, m WHERE doc_id > mx - 100),
          co AS (SELECT doc_id, unnest(hs) AS eh FROM h, m WHERE doc_id <= mx - 100),
          dirty AS (SELECT DISTINCT doc_id FROM co JOIN ev USING (eh))
          SELECT d.doc_id
          FROM (SELECT doc_id FROM documents, m WHERE doc_id <= mx - 100) d
          WHERE d.doc_id NOT IN (SELECT doc_id FROM dirty)"""
    }
  )
}
