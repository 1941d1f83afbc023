package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Multimodal, Similarity}

/** Property-level checks for the LLM-pipeline operators that the DuckDB
  * oracle can't express (recall bounds, sketch quality, stub determinism). */
class LlmOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  def docs = Tables.load(spark, TestSpark.sf, "documents")
  def emb = Tables.load(spark, TestSpark.sf, "embeddings")

  test("minhash LSH finds high-jaccard pairs (recall vs brute force)") {
    import spark.implicits._
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.7)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.7)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "testdata should contain planted near-dup pairs")
    val recall = (truth & found).size.toDouble / truth.size
    assert(recall >= 0.9, s"minhash recall $recall below 0.9 (found ${found.size} of ${truth.size})")
    // precision: every reported pair really has jaccard >= threshold
    // (guaranteed by the exact confirm stage, so found ⊆ truth)
    assert((found -- truth).isEmpty)
  }

  test("simhash hamming distance separates near-dups from random pairs") {
    import spark.implicits._
    import org.apache.spark.sql.GraftBridge
    val sh = docs.select($"doc_id",
      GraftBridge.column(graft.functions.SimHash32(
        GraftBridge.expression(split($"text", "\\s+")))).as("simhash"))
    val nearDups = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.7)
    val joined = nearDups
      .join(sh.select($"doc_id".as("id_a"), $"simhash".as("h_a")), "id_a")
      .join(sh.select($"doc_id".as("id_b"), $"simhash".as("h_b")), "id_b")
      .select(bit_count($"h_a".bitwiseXOR($"h_b")).as("ham"))
    val avgNear = joined.agg(avg($"ham")).head().getDouble(0)
    // random-pair baseline: consecutive unrelated ids from the front
    val base = sh.filter($"doc_id" < 100)
    val rand = base.as("x").join(base.as("y"),
        col("x.doc_id") + 50 === col("y.doc_id"))
      .select(bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("ham"))
      .agg(avg($"ham")).head().getDouble(0)
    assert(avgNear < rand,
      s"near-dup avg hamming $avgNear should be below random baseline $rand")
  }

  test("LSH ANN recall vs brute-force top-k") {
    import spark.implicits._
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0, 10)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val approx = Similarity.lshTopK(emb, "vec_id", "embedding", 0, 10, nPlanes = 6)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"LSH recall@10 $recall unexpectedly low")
    // with fewer planes, buckets are larger → recall must not decrease
    val approx3 = Similarity.lshTopK(emb, "vec_id", "embedding", 0, 10, nPlanes = 3)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert((exact & approx3).size >= (exact & approx).size)
  }

  test("ANN recall report: probes=nCells attests 1.0 everywhere; report is consistent") {
    import spark.implicits._
    val cents = Similarity.collectCentroids(emb, "vec_id", "embedding", 8)
    val q = emb.filter($"vec_id" < 10)
    // probing EVERY cell degrades ivfKnnJoin to the exact join, so the
    // attestation must read 1.0 for every query — the report's own
    // self-check, like the sketch contracts' one-sided bounds
    val full = Similarity.annRecallReport(q, emb, "vec_id", "vec_id",
        "embedding", "embedding", cents, k = 5, probes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(full.length == 10)
    assert(full.forall(t => t._2 == 5 && t._3 == 5 && t._4 == 1.0),
      s"probes=nCells must attest recall 1.0: ${full.take(3).toSeq}")
    // at probes=2 the report stays internally consistent: hits bounded
    // by exact count, recall = hits/exact on the rounded grid
    val p2 = Similarity.annRecallReport(q, emb, "vec_id", "vec_id",
        "embedding", "embedding", cents, k = 5, probes = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(p2.forall { case (ex, hit, rec) =>
      hit >= 0 && hit <= ex &&
        math.abs(rec - math.round(hit.toDouble / ex * 1e6) / 1e6) < 1e-12
    })
  }

  test("PQ/ADC ANN: deterministic, reasonable recall, trained codebooks work") {
    import spark.implicits._
    // unit-norm corpus (checked in testdata) ⇒ inner product ≈ cosine,
    // so the cosine brute-force top-k is the fair ADC ground truth
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0, 10)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = 4, subDim = 16, nCodes = 8)
    assert(cb.length == 4 && cb.forall(_.length == 8)
      && cb.forall(_.forall(_._2.length == 16)))
    val pq1 = Similarity.pqTopK(emb, "vec_id", "embedding", cb, 16, 0, 10)
      .select($"vec_id").collect().map(_.getLong(0))
    val pq2 = Similarity.pqTopK(emb, "vec_id", "embedding", cb, 16, 0, 10)
      .select($"vec_id").collect().map(_.getLong(0))
    assert(pq1.sameElements(pq2), "PQ must be deterministic")
    val recall = (exact & pq1.toSet).size.toDouble / exact.size
    assert(recall >= 0.2, s"PQ recall@10 $recall unexpectedly low")
    // Lloyd-trained codebooks: the production build path must encode the
    // whole corpus (every row gets m codes) and return a full top-k
    val cbT = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = 4, subDim = 16, nCodes = 8, iters = 1)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cbT, 16)
    assert(codes.count() == emb.count())
    assert(codes.columns.toSeq == Seq("vec_id", "code_0", "code_1", "code_2", "code_3"))
    val pqT = Similarity.pqTopK(emb, "vec_id", "embedding", cbT, 16, 0, 10).collect()
    assert(pqT.length == 10)
  }

  test("IVF-PQ ANN: deterministic, recall no worse than both stages imply") {
    import spark.implicits._
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0, 10)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val cents = Similarity.collectCentroids(emb, "vec_id", "embedding", 8)
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding", 4, 16, 8)
    val r1 = Similarity.ivfPqTopK(emb, "vec_id", "embedding", cents, cb, 16, 0, 10)
      .select($"vec_id").collect().map(_.getLong(0))
    val r2 = Similarity.ivfPqTopK(emb, "vec_id", "embedding", cents, cb, 16, 0, 10)
      .select($"vec_id").collect().map(_.getLong(0))
    assert(r1.sameElements(r2), "IVF-PQ must be deterministic")
    assert(r1.length == 10)
    // compounding stages can only lose recall vs pure PQ restricted to
    // the probed cells — sanity floor, not a tight bound
    val recall = (exact & r1.toSet).size.toDouble / exact.size
    assert(recall >= 0.1, s"IVF-PQ recall@10 $recall unexpectedly low")
    // all-cells probe degrades to pure PQ (same candidate set)
    val allCells = Similarity.ivfPqTopK(emb, "vec_id", "embedding", cents, cb,
        16, 0, 10, probes = 8)
      .select($"vec_id").collect().map(_.getLong(0))
    val purePq = Similarity.pqTopK(emb, "vec_id", "embedding", cb, 16, 0, 10)
      .select($"vec_id").collect().map(_.getLong(0))
    assert(allCells.sameElements(purePq),
      "probing every cell must equal pure PQ")
  }

  test("ANN guard rails: PQ geometry, missing query id, stored-index k drift") {
    import org.apache.spark.sql.functions.col
    // m*subDim beyond the embedding dimension must fail loudly, not
    // silently zero half the score mass
    val e1 = intercept[IllegalArgumentException] {
      Similarity.pqCodebooks(emb, "vec_id", "embedding",
        m = 4, subDim = 32, nCodes = 8)
    }
    assert(e1.getMessage.contains("embedding dimension"))
    // a missing query id names itself instead of 'next on empty iterator'
    val e2 = intercept[IllegalArgumentException] {
      Similarity.queryVecOf(emb, "vec_id", "embedding", queryId = 99999999L)
    }
    assert(e2.getMessage.contains("99999999"))
    // probing a stored index with a drifted k refuses instead of
    // silently admitting duplicates (the band join would match nothing)
    val idx = Dedup.minhashIndex(docs.select(col("doc_id"), col("text")),
      "doc_id", "text", k = 16, nBands = 4)
    val e3 = intercept[IllegalArgumentException] {
      Dedup.minhashProbe(docs.select(col("doc_id"), col("text")), idx,
        "doc_id", "text", k = 8, nBands = 4)
    }
    assert(e3.getMessage.contains("16") && e3.getMessage.contains("8"))
  }

  test("stored-surface drift guards: s-like id col, metadata cols, nBands, PQ codes") {
    import org.apache.spark.sql.functions.{col, lit}
    def chain(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    // an id column NAMED like a signature column must not miscount the
    // stored k (the guard excludes idCol instead of regex-counting)
    val renamed = docs.select(col("doc_id").as("s99"), col("text")).limit(50)
    val idx = Dedup.minhashIndex(renamed, "s99", "text", k = 16, nBands = 4)
    assert(Dedup.minhashProbe(renamed, idx, "s99", "text",
      k = 16, nBands = 4).count() > 0)
    // appended read-back metadata columns must not spuriously reject
    val idxMeta = Dedup.MinhashIndex(idx.bands,
      idx.sets.withColumn("ingested_at", lit("r7")))
    assert(Dedup.minhashProbe(renamed, idxMeta, "s99", "text",
      k = 16, nBands = 4).count() > 0)
    // an EXTRA s-column IS drift — reject with the column named
    val e1 = intercept[IllegalArgumentException] {
      Dedup.minhashProbe(renamed, Dedup.MinhashIndex(idx.bands,
        idx.sets.withColumn("s16", lit(0L))), "s99", "text", k = 16, nBands = 4)
    }
    assert(e1.getMessage.contains("s16"))
    // nBands drift: checked lazily from the stored band_val shape — the
    // probe RAISES at first execution instead of matching nothing and
    // silently admitting every duplicate
    val e2 = intercept[Exception] {
      Dedup.minhashProbe(renamed, idx, "s99", "text",
        k = 16, nBands = 8).collect()
    }
    assert(chain(e2).contains("minima per band"), chain(e2))
    // a stored PQ code outside the codebook's cid set raises instead of
    // scoring NULL (which would sort last and return wrong top-k)
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = 4, subDim = 16, nCodes = 8)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb, subDim = 16)
    val q = Similarity.queryVecOf(emb, "vec_id", "embedding", 0)
    val e3b = intercept[Exception] {
      Similarity.pqTopKStored(codes.withColumn("code_0", lit(999999L)),
        "vec_id", cb, 16, q, 10).collect()
    }
    assert(chain(e3b).contains("out of codebook range"), chain(e3b))
    // the un-drifted stored path still serves
    assert(Similarity.pqTopKStored(codes, "vec_id", cb, 16, q, 10,
      excludeId = Some(0L)).count() == 10)
  }

  test("CMS heavy hitters: contract rows, empty corpus, determinism") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val a = TextAnalysis.heavyHittersCms(docs, "doc_id", "text", topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(a.length == 10 && a.forall(_._3),
      "every top token must sit inside the CMS one-sided error contract")
    // deterministic (fixed seed, order-independent counters)
    val b = TextAnalysis.heavyHittersCms(docs.repartition(13), "doc_id",
      "text", topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(a.sameElements(b))
    // a token-free corpus reports empty instead of NPEing on the sketch
    val empty = TextAnalysis.heavyHittersCms(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    assert(empty.count() == 0)
  }

  test("sentence filter: threshold monotone, q=0 keeps every scorable sentence") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val d = docs.select($"doc_id", $"text").limit(200)
    def kept(q: Double) = TextAnalysis.filterSentencesByLm(d, "doc_id", "text", q)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val loose = kept(0.0)
    val tight = kept(0.5)
    // n_sentences identical; a higher cut can only drop more
    assert(loose.keySet == tight.keySet)
    assert(loose.forall { case (id, (ns, nk)) =>
      tight(id)._1 == ns && tight(id)._2 <= nk })
    // q=0 keeps every SCORABLE sentence (only single-token ones drop)
    val sents = TextAnalysis.sentenceRows(d, "doc_id", "text")
      .select($"doc_id", $"sentence").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1))).toMap
    assert(loose.forall { case (id, (ns, nk)) =>
      val scorable = sents.getOrElse(id, Array.empty[String])
        .count(_.split("\\s+").length >= 2)
      nk == scorable && ns == sents.getOrElse(id, Array.empty[String]).length
    })
  }

  test("kNN join: agrees with bruteForceTopK; all-cells IVF degrades to exact") {
    import spark.implicits._
    val e = emb.select($"vec_id", $"embedding")
    val q = e.filter($"vec_id" < 10)
    val exact = Similarity.knnJoin(q, e, "vec_id", "vec_id",
      "embedding", "embedding", k = 5, excludeSelf = true)
    val rows = exact.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exactly k neighbors per query
    assert(rows.groupBy(_._1).forall(_._2.length == 5) &&
      rows.map(_._1).distinct.length == 10)
    // per-query result equals the single-query operator
    val one = Similarity.bruteForceTopK(e, "vec_id", "embedding", 3L, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fromJoin = rows.filter(_._1 == 3L).sortBy(x => (-x._3, x._2))
      .map(x => (x._2, x._3)).toSeq
    assert(fromJoin == one, s"join result for query 3 must equal bruteForceTopK")
    // probing every cell removes the coarse-prune loss entirely
    val cents = Similarity.collectCentroids(e, "vec_id", "embedding", 8)
    val all = Similarity.ivfKnnJoin(q, e, "vec_id", "vec_id",
        "embedding", "embedding", cents, k = 5, probes = 8,
        excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(all == rows.toSet, "probes = nCells must equal the exact join")
    // the pruned form keeps reasonable recall
    val pruned = Similarity.ivfKnnJoin(q, e, "vec_id", "vec_id",
        "embedding", "embedding", cents, k = 5, probes = 2,
        excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pruned & rows.map(x => (x._1, x._2)).toSet).size.toDouble /
      rows.length
    assert(recall >= 0.3, s"IVF kNN join recall $recall unexpectedly low")
  }

  test("MinhashSketch expression matches the HOF sketch bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.GraftBridge
    // the fused per-row sketch must be indistinguishable from the
    // composable HOF form it replaced in the streaming probe — same
    // distinct-hash set (first-occurrence order) and same k-perm minima
    val d = docs.select($"doc_id", $"text").limit(200)
    val hof = d.select($"doc_id",
        array_distinct(transform(Dedup.shingles($"text"),
          s => Dedup.sharedHash(s))).as("hset"))
      .filter(size($"hset") > 0)
      .select($"doc_id", $"hset", Dedup.minhashSignature($"hset", 16).as("sig"))
      .collect().map(r => (r.getLong(0),
        (r.getSeq[Long](1).toList, r.getSeq[Long](2).toList))).toMap
    val fused = d.select($"doc_id",
        GraftBridge.column(graft.functions.MinhashSketch(
          GraftBridge.expression(split($"text", "\\s+")), 3, 16)).as("mh"))
      .filter($"mh".isNotNull)
      .select($"doc_id", $"mh.hset".as("hset"), $"mh.sig".as("sig"))
      .collect().map(r => (r.getLong(0),
        (r.getSeq[Long](1).toList, r.getSeq[Long](2).toList))).toMap
    assert(fused.nonEmpty && fused == hof)
  }

  test("decontamination index: storage symmetry and truncated-hash-frame guard") {
    import spark.implicits._
    def chain(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val docs2 = docs.select($"doc_id", $"text")
    val mx = docs2.agg(max($"doc_id")).head().getLong(0)
    val ev = docs2.filter($"doc_id" > mx - 100)
    val corpus = docs2.filter($"doc_id" <= mx - 100)
    val idx = Dedup.decontamIndex(ev, "doc_id", "text", n = 13,
      expectedItems = 1L << 16, numBits = 1L << 20)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // the inline bloom path and the stored probe agree row for row
    val inline = asSet(Dedup.decontaminateBloom(corpus, ev, "doc_id", "text",
      n = 13, expectedItems = 1L << 16, numBits = 1L << 20))
    val stored = asSet(Dedup.decontaminateStored(corpus, idx, "doc_id", "text"))
    assert(inline == stored && inline.exists(_._3),
      "stored probe must match the inline path (with real contamination hit)")
    // a truncated hash frame raises instead of silently under-reporting
    // contamination (the one drift the exact confirm join cannot absorb)
    val truncated = Dedup.DecontamIndex(idx.sketch, idx.hashes.limit(3))
    val e = intercept[Exception] {
      Dedup.decontaminateStored(corpus, truncated, "doc_id", "text").collect()
    }
    assert(chain(e).contains("decontamination index drift"), chain(e))
    // a sketch frame missing its metadata refuses by name
    val e2 = intercept[IllegalArgumentException] {
      Dedup.decontaminateStored(corpus,
        Dedup.DecontamIndex(idx.sketch.drop("n_hashes"), idx.hashes),
        "doc_id", "text")
    }
    assert(e2.getMessage.contains("n_hashes"))
    // a doubly-written sketch (two rows) refuses instead of probing
    // with whichever row came first
    val e3 = intercept[IllegalArgumentException] {
      Dedup.decontaminateStored(corpus,
        Dedup.DecontamIndex(idx.sketch.unionAll(idx.sketch), idx.hashes),
        "doc_id", "text")
    }
    assert(e3.getMessage.contains("exactly one row"))
  }

  test("weightedK: layout-invariant, weight-monotone, scale-invariant, guards negatives") {
    import spark.implicits._
    import graft.operators.Sampling
    val d = docs.select($"doc_id", $"text", $"n_chars")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id").collect().map(_.getLong(0)).toSet
    val a = ids(Sampling.weightedK(d, $"text", $"n_chars", 100,
      Seq($"doc_id"), salt = "wt:"))
    // membership is a pure function of (salt, key, weight) — layout must
    // not matter
    val b = ids(Sampling.weightedK(d.repartition(13), $"text", $"n_chars",
      100, Seq($"doc_id"), salt = "wt:"))
    assert(a == b && a.size == 100)
    // scaling every weight by a constant preserves the priority ORDER,
    // so membership is identical (priorities scale linearly)
    val scaled = ids(Sampling.weightedK(
      d.select($"doc_id", $"text", ($"n_chars" * 7).as("w")),
      $"text", $"w", 100, Seq($"doc_id"), salt = "wt:"))
    assert(scaled == a)
    // a weight-0 row can never displace a positive-weight row
    val zeroed = Sampling.weightedK(
      d.select($"doc_id", $"text",
        when($"doc_id" % 2 === 0, lit(0)).otherwise($"n_chars").as("w")),
      $"text", $"w", 100, Seq($"doc_id"), salt = "wt:")
    assert(zeroed.select($"doc_id").collect()
      .forall(_.getLong(0) % 2 == 1), "zero-weight rows must sort last")
    // heavier rows win more often: weight 1000 on odd ids vs 1 on even
    val biased = Sampling.weightedK(
      d.select($"doc_id", $"text",
        when($"doc_id" % 2 === 1, lit(1000)).otherwise(lit(1)).as("w")),
      $"text", $"w", 100, Seq($"doc_id"), salt = "wt:")
    val oddFrac = biased.filter($"doc_id" % 2 === 1).count().toDouble / 100
    assert(oddFrac >= 0.9, s"1000:1 weights should dominate, got $oddFrac")
    // negative weights raise instead of silently winning/losing
    def chain(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val e = intercept[Exception] {
      Sampling.weightedK(
        d.select($"doc_id", $"text", ($"n_chars" * -1).as("w")),
        $"text", $"w", 10, Seq($"doc_id"), salt = "wt:").collect()
    }
    assert(chain(e).contains("weights must be >= 0"), chain(e))
  }

  test("tokenBudgetByGroup: high-cardinality group column fails the broadcast loudly") {
    import spark.implicits._
    import graft.operators.Sampling
    def chain(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val d = docs.select($"doc_id", $"lang", $"text")
    // the guard is lazy (plan construction runs no job) and fails the
    // broadcast build with the limit named when the offsets frame
    // exceeds maxBroadcastRows
    val guarded = Sampling.tokenBudgetByGroup(d, "doc_id", "lang", "text",
      budget = 4000L, numBuckets = 64, maxBroadcastRows = 2L)
    val e = intercept[Exception] { guarded.collect() }
    assert(chain(e).contains("maxBroadcastRows"), chain(e))
    // a bound that fits changes nothing
    val ok = Sampling.tokenBudgetByGroup(d, "doc_id", "lang", "text",
      budget = 4000L, numBuckets = 64)
    assert(ok.count() > 0)
  }

  test("IVF ANN: deterministic, bounded scan, reasonable recall") {
    import spark.implicits._
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0, 10)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val ivf1 = Similarity.ivfTopK(emb, "vec_id", "embedding", 0, 10, nCells = 8, probes = 2)
      .select($"vec_id").collect().map(_.getLong(0))
    val ivf2 = Similarity.ivfTopK(emb, "vec_id", "embedding", 0, 10, nCells = 8, probes = 2)
      .select($"vec_id").collect().map(_.getLong(0))
    assert(ivf1.sameElements(ivf2), "IVF must be deterministic")
    val recall = (exact & ivf1.toSet).size.toDouble / exact.size
    assert(recall >= 0.2, s"IVF recall@10 $recall unexpectedly low")
    // more probes must not reduce recall
    val ivfAll = Similarity.ivfTopK(emb, "vec_id", "embedding", 0, 10, nCells = 8, probes = 8)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(ivfAll == exact, "probing every cell must equal brute force")
  }

  test("embedding near-dup bucket count scales with the corpus") {
    import spark.implicits._
    // occupancy math: 2^P buckets, expected occupancy n/2^P ≤ target
    assert(Similarity.autoPlanes(1L << 30, 1024) == 20)
    assert(Similarity.autoPlanes(1L << 40, 1024) == 30)
    assert(Similarity.autoPlanes(100, 1024) == 1)
    for (n <- Seq(1L << 20, 1L << 25, 1L << 33); t <- Seq(64L, 1024L)) {
      val p = Similarity.autoPlanes(n, t)
      assert(n.toDouble / math.pow(2.0, p) <= t.toDouble,
        s"autoPlanes($n, $t) = $p leaves occupancy above target")
    }
    // auto-derived P still finds every planted exact duplicate: identical
    // vectors produce identical sign patterns at ANY plane count
    val e = emb.select($"vec_id", $"embedding")
    val nBase = e.count()
    val corpus = e.unionAll(e.select(($"vec_id" + 10000).as("vec_id"), $"embedding"))
    val dups = Similarity.embeddingNearDups(corpus, "vec_id", "embedding",
      simThreshold = 0.99)
    assert(dups.filter($"id_b" === $"id_a" + 10000).count() == nBase)
  }

  test("connected components close pair chains transitively") {
    import spark.implicits._
    import graft.operators.Graph
    // A~B, B~C, C~D chain + separate E~F + isolated G (no pair):
    // min-per-pair would keep B and C; cluster dedup must not
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = Graph.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    val rows = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("id")
    val kept = Graph.keepClusterRepresentatives(rows, "id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 99L), s"kept $kept")
  }

  test("hash sampling is partition-invariant and rate-accurate") {
    import spark.implicits._
    import graft.operators.Sampling
    val d = docs.select($"doc_id", $"text")
    val base = Sampling.bernoulli(d, $"text", rateBp = 2500)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    // same rows regardless of physical layout — df.sample can't do this
    val repart = Sampling.bernoulli(d.repartition(7, $"doc_id"), $"text", rateBp = 2500)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(repart == base)
    // observed rate within a loose binomial bound of 25%
    val rate = base.size.toDouble / d.count()
    assert(rate > 0.15 && rate < 0.35, s"observed rate $rate far from 0.25")
    // a different salt draws an (essentially) independent sample
    val other = Sampling.bernoulli(d, $"text", rateBp = 2500, salt = "other")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(other != base)
  }

  test("banded simhash finds every planted exact clone at hamming 0") {
    import spark.implicits._
    val d = docs.select($"doc_id", $"text").limit(200)
    val corpus = d.unionAll(d.select(($"doc_id" + 50000).as("doc_id"), $"text"))
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text",
      hashBits = 60, nBands = 4, maxHamming = 3)
    val exact = pairs.filter($"id_b" === $"id_a" + 50000 && $"hamming" === 0)
    // identical token arrays hash identically in every band
    assert(exact.count() == d.count())
  }

  test("wide simhash: words are independent; clones collide at hamming 0") {
    import spark.implicits._
    val d = docs.select($"doc_id", $"text").limit(150)
    // the two 60-bit words come from differently-salted hashes — if the
    // salt were ignored they'd be identical for every doc
    val sh = d.select(Dedup.simhashWide(
      graft.operators.TextAnalysis.tokens($"text"), words = 2).as("sh"))
      .collect().map(_.getSeq[Long](0))
    assert(sh.forall(_.length == 2))
    assert(sh.count(w => w(0) == w(1)) < sh.length / 10,
      "salted words must differ for (almost) every doc")
    val corpus = d.unionAll(d.select(($"doc_id" + 70000).as("doc_id"), $"text"))
    val exact = Dedup.simhashPairsWide(corpus, "doc_id", "text",
        words = 2, bandsPerWord = 2, maxHamming = 3)
      .filter($"id_b" === $"id_a" + 70000 && $"hamming" === 0)
    assert(exact.count() == d.count())
  }

  test("kmeans iteration partitions the corpus and averages per cell") {
    import spark.implicits._
    val out = Similarity.kmeansIterate(emb, "vec_id", "embedding", nCells = 4)
      .collect()
    val dim = emb.select(size($"embedding")).first().getInt(0)
    val cells = out.map(_.getAs[Long]("cell")).distinct
    // every (cell, pos) present exactly once; counts consistent per cell
    assert(out.length == cells.length * dim)
    val byCell = out.groupBy(_.getAs[Long]("cell"))
    byCell.foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("n")).distinct.length == 1,
        "member count must be identical across a cell's positions")
    }
    // membership covers the whole corpus exactly once
    assert(byCell.values.map(_.head.getAs[Long]("n")).sum == emb.count())
  }

  test("kmeans training: one round equals kmeansIterate; later rounds still partition") {
    import spark.implicits._
    val one = Similarity.kmeansTrain(emb, "vec_id", "embedding", nCells = 4, iters = 1)
      .collect().map(_.toSeq).toSet
    val iter = Similarity.kmeansIterate(emb, "vec_id", "embedding", nCells = 4)
      .collect().map(_.toSeq).toSet
    assert(one == iter)
    val three = Similarity.kmeansTrain(emb, "vec_id", "embedding", nCells = 4, iters = 3)
      .collect()
    // round-3 assignment still covers the whole corpus exactly once
    assert(three.groupBy(_.getAs[Long]("cell")).values
      .map(_.head.getAs[Long]("n")).sum == emb.count())
  }

  test("tfidf top terms: bounded per doc, ranked, deterministic") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val out = TextAnalysis.tfidfTopTerms(docs.limit(100), "doc_id", "text", topK = 3)
    val byDoc = out.collect().groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.nonEmpty)
    byDoc.values.foreach { rows =>
      assert(rows.length <= 3)
      assert(rows.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rows.length))
      assert(rows.map(_.getAs[String]("term")).distinct.length == rows.length)
    }
  }

  test("bm25: scores match an independent reimplementation; saturation and idf ordering hold") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // fixture with known tf/dl: 'rare' in one doc, 'common' in three,
    // repeated occurrences exercising the k1 saturation
    val fx = Seq(
      (1L, "rare common pad pad"),          // rare x1, common x1, dl 4
      (2L, "common common pad pad pad pad"),// common x2, dl 6
      (3L, "common pad"),                   // common x1, dl 2
      (4L, "pad pad pad")                   // no query terms
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(fx, "doc_id", "text",
        Seq("rare", "common"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the same formula, independently in plain Scala
    val n = 4.0; val avgdl = (4 + 6 + 2 + 3).toDouble / 4
    def idf(df: Int) = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def term(tf: Int, dl: Int, df: Int) =
      idf(df) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = Map(
      1L -> r4(term(1, 4, 1) + term(1, 4, 3)),
      2L -> r4(term(2, 6, 3)),
      3L -> r4(term(1, 2, 3)))
    assert(got == want, s"got $got want $want")
    // doc 4 (no query terms) is absent, not zero-scored
    assert(!got.contains(4L))
    // idf ordering: the rare term's single occurrence outscores the
    // common term's in the same document
    assert(term(1, 4, 1) > term(1, 4, 3))
    // saturation: per-term score is bounded by idf*(k1+1) at any tf
    assert(term(100, 4, 3) < idf(3) * 2.2)
    // guards refuse by name
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopK(fx, "doc_id", "text", Seq.empty, k = 5)
    }
    assert(e.getMessage.contains("bm25TopK"))
  }

  test("multimodal decode is deterministic and keeps the batch shape") {
    val media = Multimodal.asMedia(docs, "doc_id", "text")
    assert(media.schema("payload").dataType.typeName == "binary")
    val a = Multimodal.features(Multimodal.decode(media)).collect()
    val b = Multimodal.features(Multimodal.decode(media.repartition(7))).collect()
    assert(a.map(_.getAs[Long]("doc_id")).sorted.sameElements(
      b.map(_.getAs[Long]("doc_id")).sorted))
    val byId = b.map(r => r.getAs[Long]("doc_id") -> r).toMap
    a.foreach { r =>
      val o = byId(r.getAs[Long]("doc_id"))
      assert(r.getAs[Int]("width") == o.getAs[Int]("width"))
      assert(r.getAs[Double]("mean_luma") == o.getAs[Double]("mean_luma"))
    }
    val d = a.head
    assert(d.getAs[Int]("width") >= 320 && d.getAs[Int]("height") >= 240)
  }

  test("zero-frame media yields empty frame lists, not a sequence error") {
    import spark.implicits._
    // a real decoder reports n_frames = 0 for corrupt files / stills —
    // the stub never does, so build Decoded rows directly
    val decoded = Seq(
      Multimodal.Decoded(1L, 640, 480, 0, 0.5),
      Multimodal.Decoded(2L, 640, 480, 61, 0.5)).toDS()
    val feats = Multimodal.features(decoded).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[Int](r.fieldIndex("sampled_frames")).toList).toMap
    assert(feats(1L).isEmpty && feats(2L) == List(0, 30, 60))
    val tasks = Multimodal.frameTasks(decoded).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(tasks.toSet == Set((2L, 0), (2L, 30), (2L, 60)))
  }

  test("array-form minhash signature matches the aggregate-form minima") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val sample = docs.filter($"doc_id" < 20)
    // aggregate form (the pipeline's shape)
    val p = 4294967311L
    val hs = Dedup.shingleRows(sample.select($"doc_id", $"text"), "doc_id", "text")
      .select($"doc_id", Dedup.sharedHash($"s").as("h"))
    val aggSig = hs.groupBy($"doc_id")
      .agg(min(($"h" * 1 + 17) % p).as("s0"), min(($"h" * 3 + 118) % p).as("s1"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // array-lambda form over the same shingle sets
    val arrSig = hs.groupBy($"doc_id").agg(collect_list($"h").as("hl"))
      .select($"doc_id", Dedup.minhashSignature($"hl", k = 2).as("sig"))
      .collect().map(r => r.getLong(0) -> {
        val s = r.getSeq[Long](1); (s(0), s(1))
      }).toMap
    assert(aggSig == arrSig)
  }

  test("exact dedup keeps exactly one representative per distinct text") {
    import spark.implicits._
    val base = docs.select($"doc_id", $"text")
    val tripled = base
      .unionAll(base.select(($"doc_id" + 100000).as("doc_id"), $"text"))
      .unionAll(base.select(($"doc_id" + 200000).as("doc_id"), $"text"))
    val kept = Dedup.exactDedup(tripled, "doc_id", "text")
    assert(kept.count() == base.select($"text").distinct().count())
    // min-id policy: every kept id is an original id
    assert(kept.filter($"doc_id" >= 100000).count() == 0)
    val rows = Dedup.exactDedupRows(tripled, "doc_id", "text")
    assert(rows.count() == kept.count())
    assert(rows.columns.toSeq == Seq("doc_id", "text"))
  }

  test("chunk: fixed stride, clamped tail, full token coverage") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "only two"),                               // shorter than one chunk
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunk(df, "doc_id", "text", chunkTokens = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    // stride = 4 - 1 = 3: starts 0,3,6,9; the tail chunk clamps to 1 token
    assert(d1.map(_._2).toSeq == Seq(0, 3, 6, 9))
    assert(d1.map(_._3).toSeq == Seq(4, 4, 4, 1))
    assert(d1.head._4 == "t1 t2 t3 t4" && d1.last._4 == "t10")
    // every token appears in some chunk (coverage law)
    assert(d1.flatMap(_._4.split(" ")).toSet == (1 to 10).map(i => s"t$i").toSet)
    // a doc shorter than chunkTokens yields exactly one short chunk
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, 2, "only two")))
    intercept[IllegalArgumentException] {
      TextAnalysis.chunk(df, "doc_id", "text", chunkTokens = 4, overlap = 4)
    }
  }

  test("containmentPairs: subset containment 1.0, distinct shingle counting") {
    import spark.implicits._
    // B contains all of A's trigrams plus more: containment(A,B) = 1.0
    // while jaccard is only 3/6 — the signal this op exists for
    val df = Seq(
      (1L, "a b c d e"),                 // trigrams: abc bcd cde
      (2L, "a b c d e f g h"),           // those 3 + def efg fgh
      (3L, "a b c a b c a b c a b"),     // repeated trigrams: 3 DISTINCT
      (4L, "p q r s t u v w"),           // unrelated
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(df, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.keySet == Set((1L, 2L)), s"unexpected pairs: $pairs")
    assert(pairs((1L, 2L)) == 1.0)
    // doc 3's repeats must count ONCE: overlap with doc 1 is {abc} only,
    // containment 1/3 < 0.5 — if duplicates were kept the ratio inflates
    val low = Dedup.containmentPairs(df, "doc_id", "text", n = 3, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(low.get((1L, 3L)).contains(0.333333))
  }

  test("containmentPairs df cap drops boilerplate shingles before pairing") {
    import spark.implicits._
    // every doc opens with the same 6-token header; bodies are disjoint.
    // The 4 pure-header trigrams have df = 6; every body trigram df = 1.
    val header = "h1 h2 h3 h4 h5 h6"
    val df = (1L to 6L).map(i =>
      (i, header + " " + (1 to 10).map(j => s"b${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    // uncapped: all 15 pairs share exactly the 4 header trigrams
    // (4 of 14 distinct trigrams each = 0.2857 containment)
    val uncapped = Dedup.containmentPairs(df, "doc_id", "text",
      n = 3, threshold = 0.2).collect()
    assert(uncapped.length == 15)
    assert(uncapped.forall(_.getDouble(2) == 0.285714))
    // df cap 5 removes the header shingles before the self-join:
    // nothing is left in common, no pairs at any threshold
    val capped = Dedup.containmentPairs(df, "doc_id", "text",
      n = 3, threshold = 0.2, maxShingleDf = Some(5)).collect()
    assert(capped.isEmpty)
  }

  test("LSH bucket cap kills the planted hot-bucket pair fanout") {
    import spark.implicits._
    // 30 exact clones share every band bucket (identical signatures) —
    // the degenerate boilerplate bucket; docs 100/101 are an unrelated
    // duplicate pair living in their own size-2 buckets
    val clone = "c1 c2 c3 c4 c5 c6 c7 c8"
    val pairText = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"
    val df = ((1L to 30L).map(i => (i, clone)) ++
      Seq((100L, pairText), (101L, pairText))).toDF("doc_id", "text")
    // uncapped: the clone bucket fans out C(30,2) = 435 pairs
    val un = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.5).collect()
    assert(un.count(r => r.getLong(0) <= 30 && r.getLong(1) <= 30) == 435)
    val capped = Dedup.minhashPairs(df, "doc_id", "text", threshold = 0.5,
      maxBucketSize = Some(10)).collect()
    assert(!capped.exists(r => r.getLong(0) <= 30 && r.getLong(1) <= 30),
      "oversized clone buckets must drop before the self-join")
    assert(capped.exists(r => r.getLong(0) == 100L && r.getLong(1) == 101L),
      "small-bucket genuine pair must survive the cap")
    // same guard on both simhash band joins
    val sim = Dedup.simhashPairs(df, "doc_id", "text",
      maxBucketSize = Some(10)).collect()
    assert(!sim.exists(r => r.getLong(0) <= 30 && r.getLong(1) <= 30))
    assert(sim.exists(r => r.getLong(0) == 100L && r.getLong(1) == 101L))
    val wide = Dedup.simhashPairsWide(df, "doc_id", "text",
      maxBucketSize = Some(10)).collect()
    assert(!wide.exists(r => r.getLong(0) <= 30 && r.getLong(1) <= 30))
    assert(wide.exists(r => r.getLong(0) == 100L && r.getLong(1) == 101L))
    // and on the embedding near-dup bucket join
    val vecs = ((1L to 25L).map(i => (i, Seq(1.0, 0.0, 0.0, 0.0))) ++
      Seq((100L, Seq(0.0, 1.0, 0.0, 0.0)), (101L, Seq(0.0, 1.0, 0.0, 0.0))))
      .toDF("vec_id", "embedding")
    val edups = Similarity.embeddingNearDups(vecs, "vec_id", "embedding",
      simThreshold = 0.99, nPlanes = 3, dim = 4, maxBucketSize = Some(10))
      .collect()
    assert(!edups.exists(r => r.getLong(0) <= 25 && r.getLong(1) <= 25),
      "the 25-clone vector bucket must drop")
    assert(edups.exists(r => r.getLong(0) == 100L && r.getLong(1) == 101L))
  }

  test("packOffsets hierarchical prefix sum equals one global running sum") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.expressions.Window
    val rows = TextAnalysis.packOffsets(docs, "doc_id", "text",
      seqLen = 512, docsPerBucket = 64).collect()
    val out = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val w = Window.orderBy($"doc_id").rowsBetween(Window.unboundedPreceding, -1)
    val naive = docs
      .select($"doc_id", TextAnalysis.tokenCount($"text").cast("long").as("n"))
      .select($"doc_id", $"n", coalesce(sum($"n").over(w), lit(0L)).as("off"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == naive)
    // seq indices are integer cuts of the offset stream
    rows.foreach { r =>
      val (off, n, first, last) = (r.getLong(2), r.getLong(1), r.getLong(3), r.getLong(4))
      assert(first == off / 512 && last == (off + n - 1) / 512 && first <= last)
    }
  }

  test("decontaminate counts distinct shared 13-grams; short docs pass clean") {
    import spark.implicits._
    import graft.operators.Dedup
    val ev = Seq((100L, (1 to 14).map(i => s"e$i").mkString(" "))) // two 13-grams
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "x " + (1 to 14).map(i => s"e$i").mkString(" ")), // shares both
      (2L, (1 to 20).map(i => s"c$i").mkString(" ")),        // clean
      (3L, "a b c"),                                          // < 13 tokens
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, ev, "doc_id", "text", n = 13)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got == Map(1L -> (2L, true), 2L -> (0L, false), 3L -> (0L, false)))
  }

  test("exact-k per stratum: balanced, nested, and layout-invariant") {
    import spark.implicits._
    import graft.operators.Sampling
    val df = docs.select($"doc_id", $"source", $"text")
    val k5 = Sampling.exactKPerStratum(df, $"source", $"text", 5,
      Seq($"doc_id"), salt = "strat:")
    // exactly k per stratum (every source has >= 5 docs in testdata)
    val counts = k5.groupBy($"source").count().collect()
    assert(counts.nonEmpty && counts.forall(_.getLong(1) == 5L))
    // nesting: k=5 sample is a subset of the k=10 sample (same hash order)
    val k10 = Sampling.exactKPerStratum(df, $"source", $"text", 10,
      Seq($"doc_id"), salt = "strat:")
    assert(k5.select($"doc_id").exceptAll(k10.select($"doc_id")).isEmpty)
    // layout invariance: membership survives a repartition
    val reparted = Sampling.exactKPerStratum(df.repartition(7), $"source",
      $"text", 5, Seq($"doc_id"), salt = "strat:")
    assert(k5.select($"doc_id").exceptAll(reparted.select($"doc_id")).isEmpty)
  }

  test("exact-k per stratum: dominant stratum pre-split is bit-identical") {
    import spark.implicits._
    import graft.operators.Sampling
    // one stratum = 90% of rows — the skew case the two-phase top-k
    // exists for; preSplit=1 degenerates to the single-window form, so
    // equality proves the pre-split changes the PLAN, not the answer
    val df = (1L to 2000L).map { i =>
      (i, if (i <= 1800) "hot" else s"cold${i % 4}", s"doc $i text ${i * 7 % 13}")
    }.toDF("doc_id", "source", "text")
    val split = Sampling.exactKPerStratum(df, $"source", $"text", 7,
      Seq($"doc_id"), salt = "strat:", preSplit = 32)
    val single = Sampling.exactKPerStratum(df, $"source", $"text", 7,
      Seq($"doc_id"), salt = "strat:", preSplit = 1)
    assert(split.select($"doc_id").exceptAll(single.select($"doc_id")).isEmpty &&
      single.select($"doc_id").exceptAll(split.select($"doc_id")).isEmpty,
      "two-phase per-stratum top-k must be bit-identical to the one-window form")
    assert(split.groupBy($"source").count().collect().forall(_.getLong(1) == 7L))
    // fewer survivors than k in a bucket-sparse stratum still works:
    // a stratum with < k rows returns all of them
    val tiny = Sampling.exactKPerStratum(
      df.filter($"source" === "cold1").limit(3), $"source", $"text", 7,
      Seq($"doc_id"), salt = "strat:")
    assert(tiny.count() == 3)
  }

  test("minhashPairsBetween == cross-side slice of the pooled self-join") {
    import spark.implicits._
    val d = docs.select($"doc_id", $"text")
    val m = d.agg(max($"doc_id").as("m"))
    val incoming = d.crossJoin(broadcast(m)).filter($"doc_id" > $"m" - 200)
      .select(($"doc_id" + 3000000).as("doc_id"), $"text")
    val between = Dedup.minhashPairsBetween(incoming, d, "doc_id", "text",
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // pooled self-join over the disjoint-union corpus, restricted to
    // cross-side pairs: corpus ids < 3000000 <= new ids, so a cross
    // pair surfaces as (id_a=corpus, id_b=new)
    val pooled = Dedup.minhashPairs(incoming.unionAll(d), "doc_id", "text",
      threshold = 0.5)
      .filter($"id_a" < 3000000 && $"id_b" >= 3000000)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    assert(between == pooled && between.nonEmpty,
      s"between=${between.size} pooled=${pooled.size}")
    // every re-ingested doc must at least match its byte-identical
    // original at jaccard 1.0
    assert(between.exists { case (n, c) => n == c + 3000000 })
  }

  test("splitByHash: disjoint, exhaustive, layout-invariant, clone-consistent") {
    import spark.implicits._
    import graft.operators.Sampling
    val d = docs.select($"doc_id", $"text")
    val total = d.count()
    val sp = Sampling.splitByHash(d, $"text",
      Seq("train" -> 9000, "val" -> 500, "test" -> 500), salt = "split:")
    // exhaustive + disjoint by construction: one label per row, counts
    // sum to the corpus
    val counts = sp.groupBy($"split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts.values.sum == total)
    // roughly proportional (10% tolerance bands at 5%/90% rates)
    assert(counts("train").toDouble / total > 0.8)
    assert(counts("test").toDouble / total < 0.15)
    // layout invariance: same membership after repartition
    val re = Sampling.splitByHash(d.repartition(7), $"text",
      Seq("train" -> 9000, "val" -> 500, "test" -> 500), salt = "split:")
    assert(sp.exceptAll(re).isEmpty && re.exceptAll(sp).isEmpty)
    // byte-identical texts land in the SAME split (no cross-split
    // leakage of exact clones — the property independent gates lack)
    val clones = Sampling.splitByHash(
      d.unionAll(d.select($"doc_id" + 1000000, $"text")), $"text",
      Seq("train" -> 9000, "val" -> 500, "test" -> 500), salt = "split:")
    assert(clones.groupBy($"text").agg(countDistinct($"split").as("n"))
      .filter($"n" > 1).isEmpty)
    // validation: rates must sum to 10000
    intercept[IllegalArgumentException] {
      Sampling.splitByHash(d, $"text", Seq("a" -> 5000, "b" -> 4000))
    }
  }

  test("reuse modes change the materialization, not the answer") {
    import spark.implicits._
    import graft.operators.Reuse
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1))
    val local = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .select($"id_a", $"id_b").collect().map(key).toSet
    // Off: no lineage truncation — branches recompute, pruning flows
    // through; the pair set must be identical
    val off = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5,
        reuse = Reuse.Off)
      .select($"id_a", $"id_b").collect().map(key).toSet
    assert(off == local && local.nonEmpty)
    // Off really removes the checkpoint: no LogicalRDD leaf in the plan
    val offPlan = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5,
      reuse = Reuse.Off).queryExecution.analyzed
    assert(offPlan.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }.isEmpty, "Reuse.Off must not truncate lineage")
    // Reliable: checkpoint files under a real dir, same answer
    val dir = java.nio.file.Files.createTempDirectory("graft-reuse-ck").toString
    val rel = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5,
        reuse = Reuse.Reliable(dir))
      .select($"id_a", $"id_b").collect().map(key).toSet
    assert(rel == local)
    // round-6 reuse-takers: Off == Local bit-equal on their diamonds
    import graft.operators.TextAnalysis
    def lines(r: Reuse) = TextAnalysis.removeRepeatedLines(
        docs.select($"doc_id", $"text"), "doc_id", "text", maxDf = 1, reuse = r)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(lines(Reuse.Off) == lines(Reuse.Local))
    // the opt-in INPUT truncation must be bit-equal too
    def linesIn(r: Reuse) = TextAnalysis.removeRepeatedLines(
        docs.select($"doc_id", $"text"), "doc_id", "text", maxDf = 1,
        inputReuse = r)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(linesIn(Reuse.Local) == lines(Reuse.Off))
    def bigram(r: Reuse) = TextAnalysis.bigramLogProb(
        docs.select($"doc_id", $"text"), "doc_id", "text", reuse = r)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(bigram(Reuse.Off) == bigram(Reuse.Local))
  }

  test("Reuse.LocalDeferred: bit-equal to Off, deferred leaf in plan, ZERO jobs before first action") {
    import spark.implicits._
    import graft.operators.{Reuse, TextAnalysis}
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"text")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // plan construction + analysis + EXPLAIN launch no job — the
      // SQL-surface contract (an eager Local fires AQE stage
      // materialization through localCheckpoint's toRdd at analysis)
      val defd = TextAnalysis.removeRepeatedLines(docs, "doc_id", "text",
        maxDf = 1, inputReuse = Reuse.LocalDeferred)
      assert(defd.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.GraftDeferredScan => l
      }.isDefined, "LocalDeferred must plant a deferred leaf")
      defd.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Thread.sleep(300)
      assert(jobs.get == 0,
        s"LocalDeferred construction/EXPLAIN fired ${jobs.get} job(s)")
      // and the answer is bit-equal to the untruncated form
      val got = defd.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      val off = TextAnalysis.removeRepeatedLines(docs, "doc_id", "text",
          maxDf = 1, inputReuse = Reuse.Off).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
      assert(got == off)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("topShinglesByDf counts each doc once and orders deterministically") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // header trigrams appear in all 4 docs (df=4) even when a doc
    // repeats them; body trigrams are per-doc
    val header = "h1 h2 h3"
    val df = (1L to 4L).map(i =>
      (i, s"$header $header b${i}_1 b${i}_2 b${i}_3")).toDF("doc_id", "text")
    val top = TextAnalysis.topShinglesByDf(df, "doc_id", "text", n = 3, topK = 3)
      .collect()
    assert(top.head.getString(0) == "h1 h2 h3" && top.head.getLong(1) == 4L)
    // within-doc repetition must NOT inflate df (distinct per doc)
    assert(top.forall(_.getLong(1) <= 4L))
    // deterministic tie-break: equal-df shingles come back sorted
    val ties = top.filter(_.getLong(1) == top(1).getLong(1)).map(_.getString(0))
    assert(ties.sameElements(ties.sorted))
  }

  test("corpus mix gates are deterministic, independent, and rate-accurate") {
    import spark.implicits._
    import graft.operators.Sampling
    val d = docs.select($"doc_id", $"text")
    val n = d.count().toDouble
    def gate(bp: Int, salt: String) =
      Sampling.bernoulli(d, $"text", rateBp = bp, salt = salt)
        .select($"doc_id").collect().map(_.getLong(0)).toSet
    val web = gate(7000, "mixweb:")
    val books = gate(3000, "mixbooks:")
    // deterministic: the same gate twice is bit-identical
    assert(gate(7000, "mixweb:") == web)
    // rate within 5 points of nominal at this corpus size
    assert(math.abs(web.size / n - 0.7) < 0.05, s"web rate ${web.size / n}")
    assert(math.abs(books.size / n - 0.3) < 0.05, s"books rate ${books.size / n}")
    // independent salts: the books slice is NOT a subset of the web slice
    // (P(subset) under independence is astronomically small)
    assert((books -- web).nonEmpty && (books & web).nonEmpty)
  }

  test("removeRepeatedSpans cuts shared blocks and reassembles in order") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // span size 2: "x1 x2" is the boilerplate block shared by all three
    // docs; every other block is unique to its doc
    val df = Seq(
      (1L, "x1 x2 a1 a2 a3"),
      (2L, "b1 b2 x1 x2 b3"),
      (3L, "x1 x2 c1 c2")).toDF("doc_id", "text")
    val out = TextAnalysis.removeRepeatedSpans(df, "doc_id", "text",
        spanTokens = 2, maxDf = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1: blocks [x1 x2][a1 a2][a3] -> drop the first
    assert(out(1L) == ((3L, 1L, "a1 a2 a3")))
    // doc 2: [b1 b2][x1 x2][b3] -> middle cut, order of survivors kept
    assert(out(2L) == ((3L, 1L, "b1 b2 b3")))
    // doc 3: [x1 x2][c1 c2] -> half survives
    assert(out(3L) == ((2L, 1L, "c1 c2")))
    // a doc whose EVERY span is hot comes back empty, not absent
    val clones = Seq((1L, "x1 x2"), (2L, "x1 x2")).toDF("doc_id", "text")
    val all = TextAnalysis.removeRepeatedSpans(clones, "doc_id", "text", 2, 1)
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(all == Map(1L -> "", 2L -> ""))
  }

  test("semanticDedup keeps the lowest id per within-cell duplicate group") {
    import spark.implicits._
    import graft.operators.Similarity
    val base = emb.select($"vec_id", $"embedding")
    val corpus = base.unionAll(
      base.select(($"vec_id" + 10000).as("vec_id"), $"embedding"))
    val cents = Similarity.centroidsOf(
      Similarity.kmeansTrain(base, "vec_id", "embedding", nCells = 8, iters = 1))
    val kept = Similarity.semanticDedup(corpus, "vec_id", "embedding",
      cents, simThreshold = 0.99).collect().map(_.getLong(0)).toSet
    val baseIds = base.collect().map(_.getLong(0)).toSet
    // every planted clone (cosine 1.0 with its original, same cell) is
    // dropped; every original survives
    assert(kept == baseIds, s"expected exactly the originals, got ${kept.size}")
    // pairs are symmetric-free and above threshold
    val pairs = Similarity.semanticNearDups(corpus, "vec_id", "embedding",
      cents, simThreshold = 0.99).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(_.getDouble(2) >= 0.99))
  }

  test("dedupSpansWithinDoc keeps first occurrences only, per document") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // doc 1 repeats [x1 x2] twice more; doc 2 shares the block but has
    // no internal repeat — within-doc dedup must NOT touch it
    val df = Seq(
      (1L, "x1 x2 a1 a2 x1 x2 x1 x2"),
      (2L, "x1 x2 b1 b2")).toDF("doc_id", "text")
    val out = TextAnalysis.dedupSpansWithinDoc(df, "doc_id", "text", spanTokens = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((4L, 2L, "x1 x2 a1 a2")))
    assert(out(2L) == ((2L, 0L, "x1 x2 b1 b2")))
  }

  test("gopherRules: each rule flags independently; keep is the conjunction") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "the of and to in is it for on a b c"), // 12 toks, stopword-rich
      (2L, "zz"),                                  // too short
      (3L, "!!! ??? *** ### $$$ %%% @@@ &&& ((( ))) ___ +++") // symbols
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(df, "doc_id", "text",
        minTokens = 10, maxTokens = 100, minMeanWordLen = 1.0,
        maxMeanWordLen = 10.0, maxSymbolRatio = 0.2, minStopwordHits = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8),
          r.getBoolean(9)))).toMap
    assert(out(1L) == ((true, true, true, true, true)))
    assert(out(2L)._1 == false && out(2L)._5 == false) // fails length only...
    assert(out(2L)._3 == true)                          // ...symbols fine
    assert(out(3L)._3 == false && out(3L)._4 == false && out(3L)._5 == false)
    assert(out(3L)._1 == true) // 12 tokens — length rule passes
  }

  test("winnowFingerprints: the w+k-1 shared-run guarantee; short docs absent") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // MOSS guarantee at defaults (k=5, w=4): any run of >= w+k-1 = 8
    // tokens shared by two documents yields >= 1 shared fingerprint,
    // regardless of the differing surroundings
    val shared = "q1 q2 q3 q4 q5 q6 q7 q8"
    val df = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon"),
      (2L, s"zeta eta $shared theta iota kappa lambda mu")
    ).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(df, "doc_id", "text")
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    assert((fps(1L) intersect fps(2L)).nonEmpty,
      "docs sharing a w+k-1 token run must share a fingerprint")
    // rows are DISTINCT (id, fp) pairs — the kept set, not per-window rows
    assert(fps(1L).size < 1 + 8) // far fewer fingerprints than shingles
    // a doc with fewer than k+w-1 tokens has no full window -> absent
    val short = TextAnalysis.winnowFingerprints(
      Seq((3L, "a b c d e f g")).toDF("doc_id", "text"), "doc_id", "text")
    assert(short.count() == 0)
  }

  test("gopherRules: empty text yields false flags, never NULL") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // a zero-length doc must get symbol_ratio 0 and keep=false (the
    // word-length rule), not NULL from a 0/0 division that would slip
    // through negated filters and diverge across engines
    val out = TextAnalysis.gopherRules(Seq((1L, "")).toDF("doc_id", "text"),
        "doc_id", "text", minTokens = 1).collect().head
    assert(!out.isNullAt(3) && out.getDouble(3) == 0.0) // symbol_ratio
    assert(!out.isNullAt(7) && out.getBoolean(7))       // ok_symbols
    assert(!out.isNullAt(9) && !out.getBoolean(9))      // keep = false
  }

  test("keepAboveQuantile keeps exactly the upper (1-q) mass incl. boundary") {
    import spark.implicits._
    import graft.operators.Sampling
    val df = (1L to 100L).map(i => (i, i)).toDF("id", "v")
    val kept = Sampling.keepAboveQuantile(df, $"v", 0.25)
      .collect().map(_.getLong(0)).toSet
    // quantile_cont(0.25) over 1..100 = 25.75 -> keep 26..100
    assert(kept == (26L to 100L).toSet)
    // q=0 keeps everything; q=1 keeps only the max
    assert(Sampling.keepAboveQuantile(df, $"v", 0.0).count() == 100)
    assert(Sampling.keepAboveQuantile(df, $"v", 1.0)
      .collect().map(_.getLong(0)).toSet == Set(100L))
  }

  test("sharedSpanExtents: planted run localized exactly; short overlaps absent") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // doc 1 tokens: 5 unique + the 12-token shared run + 3 unique
    //   -> run starts at pos 5
    // doc 2 tokens: 2 unique + the same run + 4 unique -> starts at pos 2
    val run = (1 to 12).map(i => s"r$i").mkString(" ")
    val df = Seq(
      (1L, s"a1 a2 a3 a4 a5 $run z1 z2 z3"),
      (2L, s"b1 b2 $run y1 y2 y3 y4"),
      // doc 3 shares only a 7-token run with doc 1 — below the
      // k+w-1 = 11 guarantee/threshold, must not be reported
      (3L, s"c1 c2 ${(1 to 7).map(i => s"a$i").mkString(" ")} c3")
    ).toDF("doc_id", "text")
    val ext = TextAnalysis.sharedSpanExtents(df, "doc_id", "text", k = 8, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    assert(ext.toSeq == Seq((1L, 2L, 5, 2, 12L)),
      s"expected the exact planted extent, got ${ext.mkString(", ")}")
  }

  test("dedupExactSubstrings: keep-first removal; overlapping extents merge") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // doc 4 = u1..u20; doc 1 carries u1..u12, doc 2 carries u7..u18 —
    // two 12-token extents against doc 4 whose intervals [0,12) and
    // [6,18) OVERLAP and must merge to [0,18): doc 4 loses 18 tokens
    // exactly once, keeps "u19 u20". Docs 1 and 2 are the lower ids in
    // every pair (their mutual overlap u7..u12 is 6 < 11 tokens, no
    // extent) so they come back untouched.
    val u = (1 to 20).map(i => s"u$i")
    val df = Seq(
      (1L, s"a1 a2 ${u.take(12).mkString(" ")} a3"),
      (2L, s"b1 ${u.slice(6, 18).mkString(" ")} b2 b3"),
      (4L, u.mkString(" "))
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dedupExactSubstrings(df, "doc_id", "text",
        k = 8, w = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((15L, 0L, s"a1 a2 ${u.take(12).mkString(" ")} a3")))
    assert(out(2L) == ((15L, 0L, s"b1 ${u.slice(6, 18).mkString(" ")} b2 b3")))
    assert(out(4L) == ((20L, 18L, "u19 u20")),
      s"overlapping intervals must merge; got ${out(4L)}")
  }

  test("shard round-trip inversion audit is not vacuous: unsorted write flags") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // same audit as llm_shards_roundtrip, over a write that SKIPS
    // sortWithinPartitions: the inversion count must be nonzero, or the
    // gate's pinned-0 column would be proving nothing
    val out = "target/gate_sink/spec_unsorted_shards"
    graft.operators.Sampling.assignShards(
        Tables.load(spark, TestSpark.sf, "documents").select($"doc_id", $"text"),
        $"text", numShards = 2, salt = "shard:")
      .select($"doc_id", $"shard", $"order_key")
      .repartition(2, $"shard") // deliberately NOT sorted within partitions
      .write.mode("overwrite").parquet(out)
    val rb = spark.read.parquet(out)
      .withColumn("__mid", org.apache.spark.sql.functions.monotonically_increasing_id())
    val w = Window.partitionBy($"shard").orderBy($"__mid")
    val inversions = rb.withColumn("__prev", lag($"order_key", 1).over(w))
      .agg(sum(when($"__prev" > $"order_key", 1L).otherwise(0L))).head().getLong(0)
    assert(inversions > 0, "hash-ordered keys written unsorted must show inversions")
  }

  test("domainCap: keep-all under the cap, best-k over it, preSplit-invariant") {
    import spark.implicits._
    import graft.operators.Sampling
    // domain a: 3 docs (under cap) — ALL kept, including the low scorers;
    // domain b: 6 docs (over cap) — exactly the 4 highest scores kept
    val df = Seq(
      ("a", 1L, 10), ("a", 2L, 1), ("a", 3L, 5),
      ("b", 4L, 9), ("b", 5L, 2), ("b", 6L, 7), ("b", 7L, 8),
      ("b", 8L, 1), ("b", 9L, 6)
    ).toDF("dom", "id", "score")
    val kept = Sampling.domainCap(df, $"dom", $"id".cast("string"), k = 4,
        tieBreak = Seq($"id"), by = Some($"score"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(kept.count(_._1 == "a") == 3, "under-cap domain must keep everything")
    assert(kept.filter(_._1 == "b").map(_._2) == Set(4L, 6L, 7L, 9L),
      "over-cap domain must keep exactly the k best scores")
    // the two-phase pre-split is bit-identical to the single-window form
    // for the score-first order too (containment argument)
    def run(ps: Int) = Sampling.domainCap(df, $"dom", $"id".cast("string"),
        k = 4, tieBreak = Seq($"id"), by = Some($"score"), preSplit = ps)
      .collect().map(_.getLong(1)).toSet
    assert(run(1) == run(32))
    // hash-selection mode (by = None): deterministic across repeats and
    // still keep-all under the cap
    val h1 = Sampling.domainCap(df, $"dom", $"id".cast("string"), k = 4,
      tieBreak = Seq($"id")).collect().map(_.getLong(1)).toSet
    val h2 = Sampling.domainCap(df, $"dom", $"id".cast("string"), k = 4,
      tieBreak = Seq($"id")).collect().map(_.getLong(1)).toSet
    assert(h1 == h2 && h1.count(_ <= 3L) == 3)
  }

  test("keepAboveQuantile approx mode: boundary is a real element within rank contract") {
    import spark.implicits._
    import graft.operators.Sampling
    val df = (1L to 1000L).map(i => (i, i)).toDF("id", "v")
    // GK at accuracy 10000 over n=1000: rank error <= n/accuracy = 0.1
    // rows, so the boundary element must be the rank-250 value (v=250)
    // and the kept set differs from exact (threshold 250.75 -> 750
    // rows) by at most the boundary element itself
    val kept = Sampling.keepAboveQuantile(df, $"v", 0.25, accuracy = Some(10000))
      .count()
    assert(kept == 750 || kept == 751, s"kept $kept outside the rank contract")
    // low accuracy still returns an element of the column (the filter
    // stays a broadcast 1-row comparison, never an interpolated value)
    val thrRows = Sampling.keepAboveQuantile(df, $"v", 0.25, accuracy = Some(10))
      .agg(org.apache.spark.sql.functions.min($"v")).collect().head.getLong(0)
    assert((1L to 1000L).contains(thrRows))
  }

  test("unigramLogProb: common-token docs outrank rare-token docs; exact values") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val df = Seq((1L, "a a a a"), (2L, "q r s t")).toDF("doc_id", "text")
    // corpus: a=4, q=r=s=t=1, total 8 -> doc1 = ln(1/2), doc2 = ln(1/8)
    val out = TextAnalysis.unigramLogProb(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L)._1 == 4L && out(2L)._1 == 4L)
    assert(out(1L)._2 == math.rint(math.log(0.5) * 1e4) / 1e4)
    assert(out(2L)._2 == math.rint(math.log(0.125) * 1e4) / 1e4)
    assert(out(1L)._2 > out(2L)._2)
  }

  test("assignShards: deterministic, layout-invariant, balanced, order-independent") {
    import spark.implicits._
    import graft.operators.Sampling
    val d = docs.select($"doc_id", $"text")
    def run(part: Int) = Sampling.assignShards(d.repartition(part), $"text",
        numShards = 8, salt = "t:")
      .select($"doc_id", $"shard", $"order_key").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val a = run(4)
    // layout-invariant: same assignment under a different partitioning
    assert(run(13) == a)
    // shards in range and roughly balanced (multinomial at n=500)
    val sizes = a.values.groupBy(_._1).view.mapValues(_.size)
    assert(sizes.keys.forall(s => s >= 0 && s < 8))
    assert(sizes.values.min > 0)
    // order key is independent of the shard hash: within a shard the
    // order keys are not constant and not correlated with doc_id order
    val oneShard = a.values.filter(_._1 == sizes.keys.head).map(_._2).toSeq
    assert(oneShard.distinct.size > 1)
  }

  test("bigramLogProb: typical word order outranks shuffled; exact values") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // corpus unigrams: a x4, b x1 -> V=2, c(a)=4, c(b)=1
    // bigrams: "a a" x2 (doc1), "a b" x1 (doc2)
    val df = Seq((1L, "a a a"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    assert(out(1L) == ((2L, r4(math.log(3.0 / 6.0)))))
    assert(out(2L) == ((1L, r4(math.log(2.0 / 6.0)))))
    // word ORDER discriminates where unigrams cannot: same bag of
    // words, opposite order -> the corpus-typical order scores higher
    val ord = Seq((1L, "x y x y x y"), (2L, "x y x y x y"),
      (3L, "y x y x y x")).toDF("doc_id", "text")
    val s = TextAnalysis.bigramLogProb(ord, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s(1L) > s(3L),
      s"typical order should outrank reversed: ${s(1L)} vs ${s(3L)}")
    // a one-token document has no bigrams and is absent
    val one = TextAnalysis.bigramLogProb(
      Seq((9L, "solo")).toDF("doc_id", "text"), "doc_id", "text")
    assert(one.count() == 0)
  }

  test("scriptOf: majority script wins; ties break by priority; no-script is other") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    def run(s: String) = Seq(Tuple1(s)).toDF("t")
      .select(TextAnalysis.scriptOf($"t").as("s")).collect().head.getString(0)
    assert(run("hello world") == "latin")
    assert(run("Привет мир") == "cyrillic")
    assert(run("中文文本测试") == "cjk")
    assert(run("ひらがなとカタカナ") == "cjk") // kana counts as cjk
    assert(run("مرحبا بالعالم") == "arabic")
    assert(run("γειά σου κόσμε") == "greek")
    assert(run("안녕하세요") == "hangul")
    assert(run("नमस्ते दुनिया") == "devanagari")
    assert(run("12345 !?.") == "other")
    assert(run("") == "other")
    // majority: latin text with a trace of cyrillic stays latin
    assert(run("mostly english text Д") == "latin")
    // tie (2 latin vs 2 cyrillic chars) breaks by priority order
    assert(run("abДД") == "latin")
  }

  test("temperatureMix: layout-invariant, tempering upweights small sources") {
    import spark.implicits._
    import graft.operators.Sampling
    val d = docs.select($"doc_id", $"source", $"text")
    def run(part: Int) = Sampling.temperatureMix(d.repartition(part),
        $"source", $"text", alpha = 0.5, targetFraction = 0.25)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val a = run(4)
    assert(run(13) == a, "membership must not depend on physical layout")
    // overall volume lands near the target (loose binomial bound)
    val frac = a.size.toDouble / d.count()
    assert(frac > 0.15 && frac < 0.40, s"sampled fraction $frac far from 0.25")
    // alpha < 1 tempers: on a skewed hand-built corpus (testdata sources
    // are uniform-sized) the small source's sampling rate must exceed
    // the large source's. n=400 vs 25 at alpha=.5, t=.25 gives expected
    // rates 0.2125 vs 0.85 — far outside binomial noise
    val skew = ((1 to 400).map(i => (i.toLong, "big", s"big doc number $i")) ++
      (1 to 25).map(i => (i + 1000L, "small", s"small doc number $i")))
      .toDF("doc_id", "source", "text")
    val bySrc = skew.groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = Sampling.temperatureMix(skew, $"source", $"text", 0.5, 0.25)
      .groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rSmall = sampled.getOrElse("small", 0L).toDouble / bySrc("small")
    val rBig = sampled.getOrElse("big", 0L).toDouble / bySrc("big")
    assert(rSmall > rBig + 0.2,
      s"tempering should upweight the small source: small=$rSmall big=$rBig")
    // alpha = 1 degenerates to the uniform rate: both sources sampled
    // at ~the global target
    val uni = Sampling.temperatureMix(skew, $"source", $"text", 1.0, 0.25)
      .groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val uniBig = uni.getOrElse("big", 0L).toDouble / bySrc("big")
    assert(uniBig > 0.15 && uniBig < 0.35,
      s"alpha=1 must sample at ~the target rate, saw $uniBig")
  }

  test("corpusReport: exact panel on a hand-built corpus") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "web", "en", "one two three"),
      (2L, "web", "en", "four five"),
      (3L, "web", "de", "sechs"),
      (4L, "book", "en", "a b c d")).toDF("doc_id", "source", "lang", "text")
    val out = TextAnalysis.corpusReport(df, "source", "lang", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getInt(6), r.getInt(7)))).toMap
    assert(out(("web", "en")) == ((2L, 5L, 22L, 11.0, 9, 13)))
    assert(out(("web", "de")) == ((1L, 1L, 5L, 5.0, 5, 5)))
    assert(out(("book", "en")) == ((1L, 4L, 7L, 7.0, 7, 7)))
  }

  test("decontaminateBloom: bit-equal to the broadcast path; empty eval set is clean") {
    import spark.implicits._
    val d = docs.select($"doc_id", $"text")
    val m = d.agg(max($"doc_id")).head.getLong(0)
    val ev = d.filter($"doc_id" > m - 100)
    val corpus = d.filter($"doc_id" <= m - 100)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val exact = key(Dedup.decontaminate(corpus, ev, "doc_id", "text", n = 13))
    val bloom = key(Dedup.decontaminateBloom(corpus, ev, "doc_id", "text",
      n = 13, expectedItems = 1L << 16, numBits = 1L << 20))
    assert(bloom == exact, "bloom path must be output-identical (FPs only cost probes)")
    assert(exact.exists(_._3), "fixture should contain contaminated docs")
    // a deliberately tiny, saturated sketch still yields exact results —
    // saturation only degrades the prefilter's selectivity
    val tiny = key(Dedup.decontaminateBloom(corpus, ev, "doc_id", "text",
      n = 13, expectedItems = 4L, numBits = 64L))
    assert(tiny == exact)
    // empty eval set -> null sketch -> everything clean
    val none = Dedup.decontaminateBloom(corpus, ev.filter(lit(false)),
      "doc_id", "text", n = 13, expectedItems = 16L, numBits = 256L)
    assert(none.filter($"contaminated").count() == 0)
  }

  test("normalizeText: NFC composition, newline/control/space cleanup, NFKC forms") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    def run(s: String, form: String = "NFC") =
      Seq(Tuple1(s)).toDF("t")
        .select(TextAnalysis.normalizeText($"t", form).as("n"))
        .collect().head.getString(0)
    // decomposed -> composed; CRLF/CR -> LF; control stripped; NBSP +
    // space runs collapse; ends trimmed
    assert(run("cafe\u0301") == "caf\u00e9")
    assert(run("a\r\nb\rc") == "a\nb\nc")
    assert(run("x\u0001y\u007fz") == "xyz")
    assert(run("  a \u00a0\t b  ") == "a b")
    // newlines survive the horizontal-whitespace collapse
    assert(run("line one.\n\nline two.") == "line one.\n\nline two.")
    // NFKC additionally folds compatibility forms: ligature fi, circled
    // digit, fullwidth letter (spec-pinned; DuckDB has no NFKC builtin)
    assert(run("\ufb01le \u2460 \uff21", form = "NFKC") == "file 1 A")
    // idempotent and identity on already-clean ASCII
    val clean = "The quick brown fox."
    assert(run(clean) == clean && run(run(clean)) == clean)
    // null passes through
    val n = Seq(Tuple1(null: String)).toDF("t")
      .select(TextAnalysis.normalizeText($"t").as("n")).collect().head
    assert(n.isNullAt(0))
  }

  test("stripMarkup: blocks, tags, entities, pass-throughs") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    def run(s: String) =
      Seq(Tuple1(s)).toDF("t")
        .select(TextAnalysis.stripMarkup($"t").as("n"))
        .collect().head.getString(0)
    // script/style vanish WHOLE — the `1 < 2` inside must not leak or
    // be half-eaten as a tag; comments and attributed tags vanish
    assert(run("""a<script>if (1 < 2) x = "<b>";</script>b""") == "a b")
    assert(run("""a<style media="x">p > span { }</style>b""") == "a b")
    assert(run("a<!-- <b>hidden</b> -->b") == "a b")
    assert(run("""<p class="x" data-y="1">text</p>""") == "text")
    assert(run("<!DOCTYPE html><BR/>x</BR>") == "x")
    // prose comparisons survive: `<` not followed by a letter is text
    assert(run("3 < 4 and x >1") == "3 < 4 and x >1")
    // entities: handled set unescapes, &amp; LAST (single-pass rule),
    // unknown entities pass through
    assert(run("&lt;tag&gt; &quot;q&quot; it&#39;s a&nbsp;b") ==
      "<tag> \"q\" it's a b")
    assert(run("&amp;lt; &amp;&amp;") == "&lt; &&")
    assert(run("&copy; 2024") == "&copy; 2024")
    // whitespace collapses across removed blocks; ends trim
    assert(run("  <div>\n a \n</div>  \t b ") == "a b")
    // unterminated script keeps content (documented); null passes through
    assert(run("a<script>var x;") == "a var x;")
    val n = Seq(Tuple1(null: String)).toDF("t")
      .select(TextAnalysis.stripMarkup($"t").as("n")).collect().head
    assert(n.isNullAt(0))
  }

  test("c4LineFilters: line rules and page rules on a hand-built page") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val page =
      "A good opening sentence here.\n" +      // kept
      "no terminal punctuation\n" +            // dropped: no terminal punct
      "Too few.\n" +                           // dropped: 2 words
      "Please enable javascript to read.\n" +  // dropped: banned word
      "  Trailing spaces still fine.  \n" +    // kept (trimmed before checks)
      ""                                       // dropped: empty
    val df = Seq((1L, page), (2L, "Lorem Ipsum dolor sit amet."),
      (3L, "A brace { appears mid sentence.")).toDF("doc_id", "text")
    val out = TextAnalysis.c4LineFilters(df, "doc_id", "text",
        minWordsPerLine = 3, minKeptLines = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5), r.getString(6)))).toMap
    assert(out(1L) == ((6, 2, true, true, true,
      "A good opening sentence here.\n  Trailing spaces still fine.  ")))
    // page rules: lorem ipsum (case-insensitive) and brace flag the page
    // even though their single line passes the line rules
    assert(out(2L)._3 == false && out(2L)._5 == false && out(2L)._2 == 1)
    assert(out(3L)._3 == false && out(3L)._5 == false)
  }

  test("removeRepeatedLines: hot lines cut everywhere, short lines exempt, order kept") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val boiler = "Subscribe to our newsletter."
    val df = Seq(
      (1L, s"alpha body one\n$boiler\n\nunique tail one"),
      (2L, s"$boiler\nbeta body two\n\nunique tail two"),
      (3L, s"gamma body three\n$boiler")).toDF("doc_id", "text")
    val out = TextAnalysis.removeRepeatedLines(df, "doc_id", "text", maxDf = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // boiler is in 3 docs > maxDf=2 -> cut; the empty line (minChars=1
    // exemption) survives in place; everything else df=1 -> kept
    assert(out(1L) == ((4L, 1L, "alpha body one\n\nunique tail one")))
    assert(out(2L) == ((4L, 1L, "beta body two\n\nunique tail two")))
    assert(out(3L) == ((2L, 1L, "gamma body three")))
    // at maxDf=3 nothing is hot
    val none = TextAnalysis.removeRepeatedLines(df, "doc_id", "text", maxDf = 3)
      .agg(sum($"n_dropped")).collect().head.getLong(0)
    assert(none == 0L)
  }

  test("importanceWeights: target-like docs score positive, unlike negative; exact values") {
    import spark.implicits._
    import graft.operators.Sampling
    // raw: doc1 target-vocab, doc2 disjoint vocab; target = doc1's text.
    // Features (uni+bi bag): doc1 {a x3, "a a" x2}, doc2 {z x3, "z z" x2}
    // -> R=10, T=5, B=1024; with no bucket collisions the per-bucket
    // log-ratios are fully hand-computable.
    val raw = Seq((1L, "a a a"), (2L, "z z z")).toDF("doc_id", "text")
    val target = Seq((1L, "a a a")).toDF("doc_id", "text")
    val out = Sampling.importanceWeights(raw, target, "doc_id", "text",
        buckets = 1024)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    val lwA = math.log(((3 + 1.0) / (5 + 1024)) / ((3 + 1.0) / (10 + 1024)))
    val lwAA = math.log(((2 + 1.0) / (5 + 1024)) / ((2 + 1.0) / (10 + 1024)))
    val lwZ = math.log(((0 + 1.0) / (5 + 1024)) / ((3 + 1.0) / (10 + 1024)))
    val lwZZ = math.log(((0 + 1.0) / (5 + 1024)) / ((2 + 1.0) / (10 + 1024)))
    assert(out(1L)._1 == 5L && out(2L)._1 == 5L)
    assert(out(1L)._2 == r4(3 * lwA + 2 * lwAA))
    assert(out(2L)._2 == r4(3 * lwZ + 2 * lwZZ))
    // the guarantee: a doc drawn from the target distribution outranks
    // one with zero target-vocabulary overlap
    assert(out(1L)._2 > 0 && out(2L)._2 < 0 && out(1L)._2 > out(2L)._2)
  }

  test("tokenBudget: nested, layout-invariant, hierarchy-invariant, boundary fill") {
    import spark.implicits._
    import graft.operators.Sampling
    val d = docs.select($"doc_id", $"text")
    def sel(b: Long, nb: Int = 64, part: Int = 4) =
      Sampling.tokenBudget(d.repartition(part), "doc_id", "text",
          budget = b, numBuckets = nb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val a = sel(5000)
    assert(a.nonEmpty && a.length < d.count(),
      "budget must select a strict non-empty subset at this SF")
    // membership is a pure function of (salt, text) — not of layout
    assert(sel(5000, part = 13).toSet == a.toSet)
    // bucketing granularity is invisible: 1 bucket IS the global
    // window, so the hierarchical decomposition is proven bit-equal
    assert(sel(5000, nb = 1).toSet == a.toSet)
    assert(sel(5000, nb = 1024).toSet == a.toSet)
    // nested: a smaller budget selects a subset of a larger one
    val b = sel(12000)
    assert(a.map(_._1).toSet.subsetOf(b.map(_._1).toSet))
    // boundary convention: every kept doc's EXCLUSIVE prefix is under
    // budget, the fill reaches at least the budget, and removing the
    // boundary doc drops under it (no over-selection)
    assert(a.forall(_._3 < 5000))
    val total = a.map(_._2).sum
    assert(total >= 5000)
    val last = a.maxBy(_._3)
    assert(total - last._2 < 5000)
    // offsets are internally consistent: each doc's offset equals the
    // token sum of the docs selected before it
    assert(last._3 == total - last._2)
  }

  test("gopherRepetition: hand-exact fractions, caps, short-doc zeros, flag polarity") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val d = Seq(
      (1L, "a b a b"),                          // top 2-gram "a b" ×2 (3 chars) / 7 chars
      (2L, "x y\nfoo\nfoo"),                    // 3 lines, 1 duplicate (3 of 9 line chars)
      (3L, "w1 w2 w3 w4 w5 w1 w2 w3 w4 w5"),    // 5-gram ×2 → 28 of 29 chars duplicated
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRepetition(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val o1 = out(1L)
    assert(o1.getDouble(1) == 0.0 && o1.getDouble(2) == 0.0)
    assert(o1.getDouble(3) == r6(6.0 / 7))
    assert(o1.getDouble(4) == 0.0, "no 5-grams in a 4-token doc → 0.0, never NULL")
    assert(!o1.getBoolean(7) && !o1.getBoolean(9), "top-gram rule must flag doc 1")
    val o2 = out(2L)
    assert(o2.getDouble(1) == r6(1.0 / 3) && o2.getDouble(2) == r6(3.0 / 9))
    assert(!o2.getBoolean(5) && !o2.getBoolean(9), "dup-line rule must flag doc 2")
    val o3 = out(3L)
    // every tied top 2-gram has 5 chars ×2 occurrences → 10/29 either way
    assert(o3.getDouble(3) == r6(10.0 / 29))
    assert(o3.getDouble(4) == r6(28.0 / 29))
    assert(!o3.getBoolean(8) && !o3.getBoolean(9), "dup-5-gram rule must flag doc 3")
    val o4 = out(4L)
    (1 to 4).foreach(i => assert(o4.getDouble(i) == 0.0,
      "the empty doc scores 0 on every fraction"))
    assert(o4.getBoolean(9), "the empty doc repeats nothing — keep")
  }

  test("percentRank: bucketing- and layout-invariant, tie-sharing, exact values, NULL policy") {
    import spark.implicits._
    import graft.operators.Sampling
    val d = docs.select($"doc_id", $"n_chars")
    def run(nb: Int, part: Int = 4) =
      Sampling.percentRank(d.repartition(part), "doc_id", "n_chars",
          numBuckets = nb)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
        .toMap
    val a = run(16)
    // 1 bucket IS the plain global rank window — the sketch-bucketed
    // hierarchy must be bit-equal to it (sketch error moves bucket
    // sizes, never the answer), at any granularity and any layout
    assert(run(1) == a)
    assert(run(64) == a)
    assert(run(16, part = 13) == a)
    // hand-exact with ties: 10, 20, 20, 30 → ranks 1, 2, 2, 4
    val t = Seq((1L, 10L), (2L, 20L), (3L, 20L), (4L, 30L)).toDF("id", "v")
    val out = Sampling.percentRank(t, "id", "v", numBuckets = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((1L, 0.0)))
    assert(out(2L) == ((2L, 1.0 / 3)) && out(3L) == ((2L, 1.0 / 3)),
      "ties must share the min rank")
    assert(out(4L) == ((4L, 1.0)))
    // NULL scores have no rank position and are excluded
    val withNull = Seq((1L, Some(10L)), (2L, None)).toDF("id", "v")
    val nn = Sampling.percentRank(withNull, "id", "v", numBuckets = 4).collect()
    assert(nn.map(_.getLong(0)).toSet == Set(1L))
    // the N == 1 corner: a single row is percent-rank 0.0, not 0/0
    assert(nn.head.getDouble(3) == 0.0)
  }

  test("tokenBudgetByGroup: bucketing/layout-invariant, nested budgets, NULL group kept") {
    import spark.implicits._
    import graft.operators.Sampling
    val d = docs.select($"doc_id", $"lang", $"text")
    def run(budget: Long, nb: Int, part: Int = 4) =
      Sampling.tokenBudgetByGroup(d.repartition(part), "doc_id", "lang",
          "text", budget, numBuckets = nb)
        .collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
        .toMap
    val a = run(4000, 64)
    // 1 bucket IS the plain per-group running sum; any bucketing/layout
    // must be bit-equal (contiguous-range containment, per group)
    assert(run(4000, 1) == a)
    assert(run(4000, 64, part = 13) == a)
    // nested: a smaller budget selects a SUBSET with identical offsets
    val b = run(2000, 64)
    assert(b.keySet.subsetOf(a.keySet) && b.forall { case (k, v) => a(k) == v })
    // NULL group budgets as its own group (null-safe join back)
    val t = Seq((1L, Some("x"), "a b c"), (2L, None, "d e f"))
      .toDF("id", "g", "text")
    val nn = Sampling.tokenBudgetByGroup(t, "id", "g", "text", budget = 10)
      .collect().map(_.getLong(0)).toSet
    assert(nn == Set(1L, 2L), "NULL group must keep its rows")
  }

  test("percentRankByGroup: per-group exactness, bucketing/layout-invariant, NULL group keeps its rows") {
    import spark.implicits._
    import graft.operators.Sampling
    val d = docs.select($"doc_id", $"lang", $"n_chars")
    def run(nb: Int, part: Int = 4) =
      Sampling.percentRankByGroup(d.repartition(part), "doc_id", "lang",
          "n_chars", numBuckets = nb)
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
        .toMap
    val a = run(16)
    // 1 bucket IS the plain per-group rank window — the shared global
    // boundary sketch must be bit-equal to it at any granularity/layout
    assert(run(1) == a)
    assert(run(64) == a)
    assert(run(16, part = 13) == a)
    // hand-exact: groups rank independently; a NULL group is ITS OWN
    // group (window partitioning, unlike the quantile filter's equi-join)
    val t = Seq((1L, Some("x"), 10L), (2L, Some("x"), 20L),
        (3L, Some("y"), 5L), (4L, None, 7L))
      .toDF("id", "g", "v")
    val out = Sampling.percentRankByGroup(t, "id", "g", "v", numBuckets = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((1L, 0.0)) && out(2L) == ((2L, 1.0)))
    assert(out(3L) == ((1L, 0.0)), "singleton group is pct 0.0, not 0/0")
    assert(out(4L) == ((1L, 0.0)), "NULL group must keep its rows")
  }

  test("contaminationFraction: exact fractions, 0-gram docs score 0.0, any-hit agrees with decontaminate") {
    import spark.implicits._
    // trigrams: doc1 {"a b c","b c d"}, doc2 none (too short),
    // doc3 {"p q r","q r s","r s t"}; eval = {"a b c"} → doc1 = 1/2
    val corpus = Seq((1L, "a b c d"), (2L, "x y"), (3L, "p q r s t"))
      .toDF("doc_id", "text")
    val ev = Seq((10L, "a b c")).toDF("doc_id", "text")
    val out = Dedup.contaminationFraction(corpus, ev, "doc_id", "text",
        n = 3, minFrac = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(1L) == ((1L, 2L, 0.5, true)))
    assert(out(2L) == ((0L, 0L, 0.0, false)), "0/0 must be 0.0, never NULL")
    assert(out(3L) == ((0L, 3L, 0.0, false)))
    // minFrac → 0⁺ degenerates to decontaminate's any-hit flag
    val anyHit = Dedup.decontaminate(corpus, ev, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    out.foreach { case (id, (_, _, frac, _)) =>
      assert((frac > 0.0) == anyHit(id),
        s"doc $id: fraction ${frac} disagrees with decontaminate flag ${anyHit(id)}")
    }
  }

  private def causeChain(t: Throwable): String = Iterator.iterate(t)(_.getCause)
    .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

  test("round-8 loud-failure guards: sentence-filter sid contract") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // a STRING/UUID id corpus raises at first execution instead of
    // silently returning every doc with clean_text = ''
    val bad = Seq(("u-1", "One sentence here. Two sentences here."),
      ("u-2", "Hi there friend. Bye now friend.")).toDF("doc_id", "text")
    val e1 = intercept[Exception] {
      TextAnalysis.filterSentencesByLm(bad, "doc_id", "text", 0.2).collect()
    }
    assert(causeChain(e1).contains("does not cast"), causeChain(e1))
    // negative ids raise (sid collision across docs)
    val neg = Seq((-1L, "One sentence here. Two sentences here.")).toDF("doc_id", "text")
    val e2 = intercept[Exception] {
      TextAnalysis.filterSentencesByLm(neg, "doc_id", "text", 0.2).collect()
    }
    assert(causeChain(e2).contains("does not cast"), causeChain(e2))
    // NUMERIC string ids cast fine and keep working (the guard must not
    // over-reject)
    val ok = Seq(("7", "Good sentence one here. Good sentence two here."),
      ("8", "Another fine doc. With two sentences.")).toDF("doc_id", "text")
    assert(TextAnalysis.filterSentencesByLm(ok, "doc_id", "text", 0.2)
      .count() == 2)
    // a 10⁶-sentence document raises instead of colliding sids
    val big = spark.range(1).select(lit(5L).as("doc_id"),
      org.apache.spark.sql.functions.repeat(lit("a. "), 1000001).as("text"))
    val e3 = intercept[Exception] {
      TextAnalysis.filterSentencesByLm(big, "doc_id", "text", 0.2).collect()
    }
    assert(causeChain(e3).contains("1e6 sentences"), causeChain(e3))
  }

  test("round-8 loud-failure guards: EMPTY decontam hash frame, CMS tie cut") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // a FULLY truncated (zero-row) hash frame must still raise: the
    // guard rides the bloom-candidate side, so any probed row trips it
    // even though the hash frame has no rows to carry a guard column
    val corpus = docs.select($"doc_id", $"text").filter($"doc_id" < 300)
    val ev = docs.select($"doc_id", $"text")
      .filter($"doc_id" >= 250 && $"doc_id" < 300) // ⊂ corpus ⇒ candidates certain
    val idx = Dedup.decontamIndex(ev, "doc_id", "text", n = 13,
      expectedItems = 1L << 12, numBits = 1L << 16)
    val e = intercept[Exception] {
      Dedup.decontaminateStored(corpus,
        Dedup.DecontamIndex(idx.sketch, idx.hashes.limit(0)),
        "doc_id", "text").collect()
    }
    assert(causeChain(e).contains("decontamination index drift"), causeChain(e))
    // CMS: a boundary tie set past the candidate cap refuses instead of
    // silently excluding token-asc winners from the attested top-k
    val uniq = spark.range(3000).select($"id".as("doc_id"),
      concat(lit("tok"), $"id").as("text"))
    val e2 = intercept[IllegalArgumentException] {
      TextAnalysis.heavyHittersCms(uniq, "doc_id", "text", topK = 1)
    }
    assert(e2.getMessage.contains("tie"), e2.getMessage)
  }

  test("weighted sampling: per-stratum with one stratum equals the global form") {
    import spark.implicits._
    import graft.operators.Sampling
    // the unified ordering contract (both rank on the ROUNDED priority):
    // the per-stratum form really is weightedK within every stratum
    val d = docs.select($"doc_id", $"text", $"n_chars")
    val g = Sampling.weightedK(d, $"text", $"n_chars", 50, Seq($"doc_id"),
      salt = "wlaw:").select($"doc_id").collect().map(_.getLong(0)).toSet
    val ps = Sampling.weightedKPerStratum(d, lit(1), $"text", $"n_chars", 50,
      Seq($"doc_id"), salt = "wlaw:")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(g == ps && g.size == 50)
  }

  test("stored kNN join: single-query all-probe parity, per-query parity, drift guards") {
    import spark.implicits._
    val cents = Similarity.collectCentroids(emb, "vec_id", "embedding", 8)
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding", 4, 16, 8)
    val codes = Similarity.ivfPqEncode(emb, "vec_id", "embedding", cents, cb, 16)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"neighbor_id", $"adc_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy(p => (-p._2, p._1)).toSeq
    // probing every cell with one query reproduces pqTopKStored exactly
    val batch = rows(Similarity.ivfPqKnnJoinStored(
      emb.filter($"vec_id" === 0), codes, "vec_id", "vec_id", "embedding",
      cents, cb, 16, k = 10, probes = 8, excludeSelf = true))
    val single = Similarity.pqTopKStored(codes.drop("cell"), "vec_id", cb, 16,
        Similarity.queryVecOf(emb, "vec_id", "embedding", 0), 10,
        excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(batch == single, s"batch=$batch single=$single")
    // each batch query's rows equal the single-query IVF-PQ path
    val b2 = Similarity.ivfPqKnnJoinStored(
      emb.filter($"vec_id" < 3), codes, "vec_id", "vec_id", "embedding",
      cents, cb, 16, k = 5, probes = 2, excludeSelf = true)
    (0L until 3L).foreach { q =>
      val got = rows(b2.filter($"query_id" === q))
      val want = Similarity.ivfPqTopK(emb, "vec_id", "embedding", cents, cb,
          16, q, 5, probes = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"query $q: got=$got want=$want")
    }
    // a codes table missing its code columns refuses by name
    val e1 = intercept[IllegalArgumentException] {
      Similarity.ivfPqKnnJoinStored(emb.filter($"vec_id" === 0),
        codes.drop("code_2"), "vec_id", "vec_id", "embedding",
        cents, cb, 16, k = 5)
    }
    assert(e1.getMessage.contains("expected code_0..code_3"))
    // a drifted stored code raises instead of scoring NULL
    val e2 = intercept[Exception] {
      Similarity.ivfPqKnnJoinStored(emb.filter($"vec_id" === 0),
        codes.withColumn("code_0", lit(999999L)), "vec_id", "vec_id",
        "embedding", cents, cb, 16, k = 5, probes = 8).collect()
    }
    assert(causeChain(e2).contains("out of codebook range"), causeChain(e2))
  }

  test("store takedown laws: purge∘append identity; purged ANN serving == fresh encode of remaining") {
    import spark.implicits._
    val docs6 = docs.select($"doc_id", $"text").filter($"doc_id" < 120)
    val a = docs6.filter($"doc_id" < 100)
    val b = docs6.filter($"doc_id" >= 100)
    // purge(append(S, B), B.ids) == S row-for-row (disjoint ids)
    val idxA = Dedup.minhashIndex(a, "doc_id", "text", k = 8, nBands = 4)
    val appended = Dedup.minhashIndexAppend(idxA, b, "doc_id", "text",
      k = 8, nBands = 4)
    val purged = Dedup.MinhashIndex(
      Dedup.storePurge(appended.bands, "doc_id", b.select($"doc_id")),
      Dedup.storePurge(appended.sets, "doc_id", b.select($"doc_id")))
    def bandRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(bandRows(purged.bands.select($"doc_id", $"band_idx", $"band_val"))
      == bandRows(idxA.bands.select($"doc_id", $"band_idx", $"band_val")))
    assert(purged.sets.select($"doc_id", $"hset").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSet ==
      idxA.sets.select($"doc_id", $"hset").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSet)
    // serving a purged ANN codes store == serving a fresh encode of the
    // remaining corpus, bit-for-bit (per-row encode; cells/codebooks
    // are corpus statistics and survive their seed members' deletion)
    val cents = Similarity.collectCentroids(emb, "vec_id", "embedding", 8)
    val cbs = Similarity.pqCodebooks(emb, "vec_id", "embedding", 4, 16, 8)
    val codes = Similarity.ivfPqEncode(emb, "vec_id", "embedding", cents, cbs, 16)
    val tomb = emb.filter($"vec_id" % 10 === 3).select($"vec_id")
    val qv = Similarity.queryVecOf(emb, "vec_id", "embedding", 0)
    def serve(c: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqTopKStored(c, "vec_id", cents, cbs, 16, qv,
          k = 10, probes = 2, excludeId = Some(0L))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaPurge = serve(Dedup.storePurge(codes, "vec_id", tomb))
    val viaFresh = serve(Similarity.ivfPqEncode(
      emb.join(tomb, Seq("vec_id"), "left_anti"),
      "vec_id", "embedding", cents, cbs, 16))
    assert(viaPurge == viaFresh && viaPurge.nonEmpty)
    // and a tombstoned id really is forgotten
    assert(!viaPurge.exists(_._1 % 10 == 3))
    // a tombstone frame without the id column refuses by name
    val e = intercept[IllegalArgumentException] {
      Dedup.storePurge(codes, "vec_id", tomb.select($"vec_id".as("id")))
    }
    assert(e.getMessage.contains("vec_id"))
  }

  test("store compaction: tombstones physically gone, per-cell files consolidate, content == purge view") {
    import spark.implicits._
    val out = "target/test_sink/compact"
    val cents = Similarity.collectCentroids(emb, "vec_id", "embedding", 8)
    val cbs = Similarity.pqCodebooks(emb, "vec_id", "embedding", 4, 16, 8)
    val a = emb.filter($"vec_id" < 300).select($"vec_id", $"embedding")
    val b = emb.filter($"vec_id" >= 300).select($"vec_id", $"embedding")
    Similarity.ivfPqEncode(a, "vec_id", "embedding", cents, cbs, 16)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$out/codes")
    Similarity.ivfPqEncode(b, "vec_id", "embedding", cents, cbs, 16)
      .write.mode("append").partitionBy("cell").parquet(s"$out/codes")
    def filesPerCell(p: String): Map[String, Int] = {
      val root = new java.io.File(p)
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    // the pre-compaction state: the append left >1 file set in cells
    // both generations touched
    assert(filesPerCell(s"$out/codes").values.exists(_ >= 2),
      "fixture must accumulate appended file sets")
    val store = spark.read.parquet(s"$out/codes")
    val tomb = emb.filter($"vec_id" % 10 === 3).select($"vec_id")
    val compacted = Dedup.storeCompact(store, "vec_id", Some(tomb),
      s"$out/codes_v2", partitionCols = Seq("cell"))
    // physical: every cell directory is ONE consolidated file
    val after = filesPerCell(s"$out/codes_v2")
    assert(after.nonEmpty && after.values.forall(_ == 1), s"got $after")
    // tombstoned rows are gone from the FILES, not merely filtered
    assert(spark.read.parquet(s"$out/codes_v2")
      .filter($"vec_id" % 10 === 3).count() == 0)
    // content == the logical purge view, row-for-row
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", $"cell".cast("long"), $"code_0", $"code_3")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows(compacted) == rows(Dedup.storePurge(store, "vec_id", tomb)))
    // flat-store form: content identity and the declared file count
    val fp = docs.select($"doc_id",
      graft.operators.TextAnalysis.fingerprint($"text").as("fp"))
    fp.filter($"doc_id" < 100).write.mode("overwrite").parquet(s"$out/fp")
    fp.filter($"doc_id" >= 100).write.mode("append").parquet(s"$out/fp")
    val flat = Dedup.storeCompact(spark.read.parquet(s"$out/fp"), "doc_id",
      None, s"$out/fp_v2", numFiles = 2)
    assert(new java.io.File(s"$out/fp_v2").listFiles()
      .count(_.getName.endsWith(".parquet")) == 2)
    assert(flat.count() == fp.count())
  }

  test("storeCompactSelective: untouched partitions byte-identical, affected consolidated, emptied dirs deleted, purge law") {
    import spark.implicits._
    val out = "target/test_sink/selective_compact"
    // 8 cells (id % 8), two appended generations per cell
    val base = (0L until 80L).map(i => (i, s"payload_$i", (i % 8).toInt))
      .toDF("id", "payload", "cell")
    base.filter($"id" < 40).write.mode("overwrite")
      .partitionBy("cell").parquet(s"$out/store")
    base.filter($"id" >= 40).write.mode("append")
      .partitionBy("cell").parquet(s"$out/store")
    // tombstones: two ids in cell 3; EVERY id in cell 5 (the
    // fully-tombstoned-partition edge) — cells 0,1,2,4,6,7 untouched
    val tomb = base.filter($"cell" === 5).select($"id")
      .unionByName(Seq(3L, 11L).toDF("id"))
    val expect = base.join(tomb, Seq("id"), "left_anti")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def files(frag: String): Set[(String, Long, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/store/$frag"))
        .filter(_.getPath.getName.startsWith("part-"))
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
        .toSet
    val untouched = Seq(0, 1, 2, 4, 6, 7)
    val beforeUntouched = untouched.map(c => c -> files(s"cell=$c")).toMap
    val before3 = files("cell=3")
    assert(before3.size >= 2, "fixture must accumulate appended file sets")
    val got = Dedup.storeCompactSelective(spark, s"$out/store", "id",
      tomb, Seq("cell"), s"$out/staging")
    // untouched partitions: the very same files (name, length, mtime)
    untouched.foreach { c =>
      assert(files(s"cell=$c") == beforeUntouched(c),
        s"cell=$c was rewritten by a compaction that should not touch it")
    }
    // the affected partition rewrote and consolidated to one file
    val after3 = files("cell=3")
    assert(after3.intersect(before3).isEmpty && after3.size == 1,
      s"cell=3 must consolidate: before=$before3 after=$after3")
    // the fully-tombstoned partition's directory is GONE (dynamic
    // overwrite alone would have left its old files — resurrection)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/store/cell=5")),
      "fully-tombstoned partition dir must be deleted")
    // content == the logical purge view, row-for-row
    assert(got.select($"id", $"payload", $"cell").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet == expect)
    // tombstones touching nothing → zero writes anywhere
    val beforeAll = (untouched :+ 3).map(c => files(s"cell=$c")).toSet
    Dedup.storeCompactSelective(spark, s"$out/store", "id",
      Seq(999999L).toDF("id"), Seq("cell"), s"$out/staging2")
    assert((untouched :+ 3).map(c => files(s"cell=$c")).toSet == beforeAll,
      "a no-op takedown must not rewrite anything")
    // over-spread tombstones refuse loudly instead of a silent
    // full-store rewrite
    val e = intercept[IllegalArgumentException] {
      Dedup.storeCompactSelective(spark, s"$out/store", "id",
        base.select($"id"), Seq("cell"), s"$out/staging3",
        maxAffectedPartitions = 2)
    }
    assert(e.getMessage.contains("storeCompactSelective"))
    // and serving-shape sanity: a read of one cell off the compacted
    // store still plans a partition filter (pruning survives)
    val p = spark.read.parquet(s"$out/store").filter($"cell" === 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(cell"),
      s"pruning must survive selective compaction, plan:\n$p")
  }

  test("storeCompactSelective: MULTI-column partition layout (nested dirs, OR-tree filter)") {
    import spark.implicits._
    val out = "target/test_sink/selective_compact_multi"
    // 2 x 3 nested partitions (cell, shard), two generations
    val base = (0L until 60L).map(i =>
        (i, s"p_$i", (i % 2).toInt, (i % 3).toInt))
      .toDF("id", "payload", "cell", "shard")
    base.filter($"id" < 30).write.mode("overwrite")
      .partitionBy("cell", "shard").parquet(s"$out/store")
    base.filter($"id" >= 30).write.mode("append")
      .partitionBy("cell", "shard").parquet(s"$out/store")
    // tombstones live in exactly ONE leaf partition: (cell=1, shard=2)
    // -> ids with id%2==1 and id%3==2 (5, 11, ...)
    val tomb = Seq(5L, 11L).toDF("id")
    val expect = base.join(tomb, Seq("id"), "left_anti")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getInt(2), r.getInt(3))).toSet
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def files(frag: String): Set[(String, Long, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/store/$frag"))
        .filter(_.getPath.getName.startsWith("part-"))
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
        .toSet
    val untouched = for (c <- 0 to 1; s <- 0 to 2
                         if !(c == 1 && s == 2)) yield s"cell=$c/shard=$s"
    val before = untouched.map(f => f -> files(f)).toMap
    val beforeHot = files("cell=1/shard=2")
    assert(beforeHot.size >= 2, "fixture must accumulate appended files")
    val got = Dedup.storeCompactSelective(spark, s"$out/store", "id",
      tomb, Seq("cell", "shard"), s"$out/staging")
    untouched.foreach { f =>
      assert(files(f) == before(f), s"$f rewritten — only the tombstone-" +
        "bearing leaf partition may rewrite")
    }
    val afterHot = files("cell=1/shard=2")
    assert(afterHot.intersect(beforeHot).isEmpty && afterHot.size == 1,
      s"the affected leaf must consolidate: $afterHot")
    assert(got.select($"id", $"payload", $"cell", $"shard").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
      .toSet == expect)
  }

  test("trigramKnLogProb: independent recount; continuation counts demote fixed-phrase words at EQUAL unigram frequency") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // 'francisco' and 'well' both occur exactly 5 times, but francisco
    // follows only {san, likes} while well follows {eats, sleeps, eat,
    // likes} — the Kneser-Ney signature case add-k smoothing cannot see
    val fixture = Seq(
      (1L, "san francisco eats well"),
      (2L, "san francisco sleeps well"),
      (3L, "dogs eat well too"),
      (4L, "cats eat well too"),
      (5L, "he likes francisco"),
      (6L, "he likes well"),
      (7L, "san francisco again yes"),
      (8L, "san francisco more words"),
      (9L, "short one"))
    val df = fixture.toDF("doc_id", "text")
    val got = TextAnalysis.trigramKnLogProb(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // independent driver-side recount of the full interpolated formula
    val D = 0.75
    val tris = fixture.flatMap { case (id, t) =>
      val tk = t.split("\\s+")
      (0 to tk.length - 3).map(i => (id, (tk(i), tk(i + 1), tk(i + 2))))
    }
    val c3 = tris.groupBy(_._2).map { case (k, v) => k -> v.size }
    val ctx12 = tris.groupBy(t => (t._2._1, t._2._2))
      .map { case (k, v) => k -> v.size }
    val types = tris.map(_._2).distinct
    val n1p12 = types.groupBy(t => (t._1, t._2)).map { case (k, v) => k -> v.size }
    val n1p23 = types.groupBy(t => (t._2, t._3)).map { case (k, v) => k -> v.size }
    val mid2 = types.groupBy(_._2).map { case (k, v) => k -> v.size }
    val n1p2dot = types.groupBy(_._2)
      .map { case (k, v) => k -> v.map(_._3).distinct.size }
    val sfx = types.map(t => (t._2, t._3)).distinct
    val n1pw3 = sfx.groupBy(_._2).map { case (k, v) => k -> v.size }
    val nbt = sfx.size
    val want = fixture.flatMap { case (id, t) =>
      val tk = t.split("\\s+")
      val ps = (0 to tk.length - 3).map { i =>
        val (w1, w2, w3) = (tk(i), tk(i + 1), tk(i + 2))
        val puni = n1pw3(w3).toDouble / nbt
        val pmid = (n1p23((w2, w3)) - D) / mid2(w2) +
          D * n1p2dot(w2) / mid2(w2) * puni
        math.log((c3((w1, w2, w3)) - D) / ctx12((w1, w2)) +
          D * n1p12((w1, w2)) / ctx12((w1, w2)) * pmid)
      }
      if (ps.isEmpty) None else Some(id -> (ps.size.toLong, ps.sum / ps.size))
    }.toMap
    assert(got.keySet == want.keySet, "sub-3-token docs must be absent")
    want.foreach { case (id, (n, lp)) =>
      assert(got(id)._1 == n)
      assert(math.abs(got(id)._2 - lp) <= 6e-5,
        s"doc $id: got ${got(id)._2} want ~$lp")
    }
    // the probe pair: identical context 'he likes', novel trigram on
    // each side, EQUAL unigram counts — only predecessor diversity
    // differs, and KN must score the diverse continuation higher
    assert(tris.map(_._2._3).count(_ == "francisco") +
      tris.map(_._2._2).count(_ == "francisco") > 0) // fixture sanity
    assert(got(5L)._2 < got(6L)._2,
      "KN must demote the fixed-phrase-only continuation: " +
        s"francisco=${got(5L)._2} well=${got(6L)._2}")
    // discount bounds refuse loudly
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.trigramKnLogProb(df, "doc_id", "text", discount = 1.0)
    }
    assert(e.getMessage.contains("discount"))
  }

  test("video frames: temporal locality, banded matched-count == brute force, minFrames gate, null edge") {
    import spark.implicits._
    val base = "The quick brown fox jumps over the lazy dog once more. " * 8
    val docs = Seq(
      (1L, base),
      // same-length edit INSIDE frame 0 (bytes 10-13)
      (2L, base.substring(0, 10) + "QQQQ" + base.substring(14)),
      // same-length edit INSIDE frame 3 (bytes 400-409 of 448)
      (3L, base.substring(0, 400) + "ZZZZZZZZZZ" + base.substring(410)),
      (4L, "completely unrelated content that shares nothing at all here. " * 7))
      .toDF("doc_id", "text")
    val media = Multimodal.asMedia(docs, "doc_id", "text")
    val vf = Multimodal.videoFrames(media).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(vf.size == 16, "4 docs x 4 frames")
    // temporal locality: an edit in one frame's byte range leaves every
    // OTHER frame's hash bit-identical
    for (f <- 1 to 3)
      assert(vf((2L, f)) == vf((1L, f)), s"frame $f drifted under a frame-0 edit")
    for (f <- 0 to 2)
      assert(vf((3L, f)) == vf((1L, f)), s"frame $f drifted under a frame-3 edit")
    // banded operator == brute-force frame-aligned matched-frame count
    def brute(minFrames: Int): Set[(Long, Long, Long)] = {
      val ids = Seq(1L, 2L, 3L, 4L)
      (for {
        a <- ids; b <- ids if a < b
        n = (0 to 3).count(f =>
          java.lang.Long.bitCount(vf((a, f)) ^ vf((b, f))) <= 3)
        if n >= minFrames
      } yield (a, b, n.toLong)).toSet
    }
    def banded(minFrames: Int) =
      Multimodal.videoNearDups(media, minFrames = minFrames).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded(3) == brute(3), "minFrames=3 banded != brute")
    assert(banded(1) == brute(1), "minFrames=1 banded != brute")
    // the fixture's point: each clone matches its original on >= 3
    // frames (the untouched ones at hamming 0)
    assert(brute(3).exists { case (a, b, _) => a == 1L && b == 2L })
    assert(brute(3).exists { case (a, b, _) => a == 1L && b == 3L })
    // probe form agrees with the self-join form on the same split
    val store = Multimodal.videoFrames(
      Multimodal.asMedia(docs.filter($"doc_id" === 1L), "doc_id", "text"))
    val probed = Multimodal.videoNearDupsBetween(
        Multimodal.asMedia(docs.filter($"doc_id" > 1L), "doc_id", "text"),
        store, minFrames = 3).collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getLong(2))).toSet
    assert(probed == brute(3).filter { case (a, _, _) => a == 1L }
      .map { case (a, b, n) => (a, b, n) })
    // null payload -> 0L per frame (the DHash64 convention, frame-wise)
    val nullRows = Multimodal.videoFrames(Seq(
        (9L, null.asInstanceOf[Array[Byte]])).toDF("doc_id", "payload"))
      .collect()
    assert(nullRows.length == 4 && nullRows.forall(r => r.getLong(2) == 0L))
    // contract refusals
    intercept[IllegalArgumentException] {
      Multimodal.videoNearDups(media, maxHamming = 4, nBands = 4)
    }
    intercept[IllegalArgumentException] {
      Multimodal.videoNearDups(media, minFrames = 5)
    }
  }

  test("audio fingerprint: determinism, null/empty edges, edit locality, banded pairs == brute force") {
    import spark.implicits._
    val slice = docs.select($"doc_id", $"text")
      .filter($"doc_id" < 150 && length($"text") >= 400)
    val media = Multimodal.asMedia(slice, "doc_id", "text")
    def fps(m: org.apache.spark.sql.DataFrame) =
      Multimodal.audioFp(m).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    val fp1 = fps(media)
    assert(fp1.nonEmpty && fp1 == fps(media), "fingerprints must be deterministic")
    // null payload -> 0L (the DHash64 convention); empty payload defined
    val edge = Multimodal.audioFp(Seq(
        (1L, null.asInstanceOf[Array[Byte]]),
        (2L, Array.emptyByteArray)).toDF("doc_id", "payload"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(edge(1L) == 0L)
    // edit LOCALITY: a same-length local edit perturbs only the frames
    // covering it — each perturbed band edge flips at most 2 bits
    val edited = slice.select($"doc_id",
      concat(substring($"text", 1, 10), lit("QQQQ"),
        expr("substring(text, 15)")).as("text"))
    val fpE = fps(Multimodal.asMedia(edited, "doc_id", "text"))
    val hams = fp1.keys.toSeq.map(id =>
      java.lang.Long.bitCount(fp1(id) ^ fpE(id)))
    assert(hams.max <= 12,
      s"a local edit must perturb few bits, got max hamming ${hams.max}")
    // banded pairs == brute force (recall exact for maxHamming < nBands)
    val pooled = Multimodal.asMedia(
      slice.unionAll(edited.select(($"doc_id" + 3000000).as("doc_id"),
        $"text")), "doc_id", "text")
    val got = Multimodal.audioNearDups(pooled, maxHamming = 3, nBands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val all = fps(pooled)
    val brute = (for {
      a <- all.keys; b <- all.keys if a < b
      h = java.lang.Long.bitCount(all(a) ^ all(b)) if h <= 3
    } yield (a, b, h)).toSet
    assert(got == brute, s"banded=${got.size} brute=${brute.size}")
    // stored probe == cross-set brute force, through the parquet store
    val store = "target/test_sink/audio_fp_spec"
    Multimodal.audioFp(media).write.mode("overwrite").parquet(store)
    val probeMedia = Multimodal.asMedia(
      edited.select(($"doc_id" + 3000000).as("doc_id"), $"text"),
      "doc_id", "text")
    val probed = Multimodal.audioNearDupsBetween(probeMedia,
        spark.read.parquet(store), maxHamming = 3, nBands = 4)
      .dropDuplicates("id_new", "id_corpus")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val bruteX = (for {
      n <- all.keys if n >= 3000000L; c <- all.keys if c < 3000000L
      h = java.lang.Long.bitCount(all(n) ^ all(c)) if h <= 3
    } yield (n, c, h)).toSet
    assert(probed == bruteX)
    // banded exact-recall contract refuses out-of-range thresholds
    val e = intercept[IllegalArgumentException] {
      Multimodal.audioNearDups(media, maxHamming = 4, nBands = 4)
    }
    assert(e.getMessage.contains("nBands"))
  }

  test("latencyTrend: append-stamped run_seq, exact per-surface deltas, NULL baselines") {
    import spark.implicits._
    import graft.operators.ServingLatency
    val store = "target/test_sink/latency_trend_spec"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store), true)
    def rep(rows: Seq[(String, Int, Long, Double, Double, Double, Double)]) =
      rows.toDF("surface", "n_runs", "rows", "p50_ms", "p95_ms",
        "min_ms", "max_ms")
    // first round: run_seq 1, no baseline -> NULL prevs and deltas
    val r1 = ServingLatency.latencyTrend(rep(Seq(
      ("ann", 5, 10L, 100.0, 200.0, 90.0, 210.0),
      ("bm25", 5, 10L, 50.0, 80.0, 45.0, 85.0))), store).collect()
    assert(r1.map(_.getString(0)).toSeq == Seq("ann", "bm25"),
      "trend report must be surface-ordered")
    assert(r1.forall(r => r.getLong(1) == 1L && r.isNullAt(4) &&
      r.isNullAt(5) && r.isNullAt(6) && r.isNullAt(7)))
    // second round: exact delta arithmetic (+10% ann, -50% bm25), a
    // first-seen surface has no baseline
    val r2 = ServingLatency.latencyTrend(rep(Seq(
      ("ann", 5, 10L, 110.0, 220.0, 90.0, 230.0),
      ("bm25", 5, 10L, 25.0, 40.0, 20.0, 45.0),
      ("new_surface", 5, 10L, 10.0, 20.0, 9.0, 21.0))), store).collect()
    val byS = r2.map(r => r.getString(0) -> r).toMap
    assert(byS("ann").getLong(1) == 2L)
    assert(byS("ann").getDouble(6) == 10.0 && byS("ann").getDouble(7) == 10.0)
    assert(byS("bm25").getDouble(6) == -50.0 &&
      byS("bm25").getDouble(7) == -50.0)
    assert(byS("new_surface").isNullAt(4) && byS("new_surface").isNullAt(6))
    // the store ACCUMULATED both rounds (append, never overwrite)
    assert(spark.read.parquet(store).count() == 5)
    // an SLO gate is now a queryable filter over the trend frame
    assert(r2.count(r => !r.isNullAt(7) && r.getDouble(7) > 5.0) == 1)
    // malformed report refuses by name
    val e = intercept[IllegalArgumentException] {
      ServingLatency.latencyTrend(
        Seq(("x", 1)).toDF("surface", "n_runs"), store)
    }
    assert(e.getMessage.contains("latencyTrend"))
    // the SQL twin appends a third round through the deferred TVF and
    // reports the same delta arithmetic (110 -> 220 = +100%)
    rep(Seq(("ann", 5, 10L, 220.0, 440.0, 200.0, 450.0)))
      .createOrReplaceTempView("lat_rep3")
    val eng = new graft.engine.Engine(spark)
    val r3 = eng.query(
      s"SELECT * FROM graft_latency_trend('lat_rep3', '$store')").collect()
    assert(r3.length == 1 && r3(0).getLong(1) == 3L &&
      r3(0).getDouble(6) == 100.0 && r3(0).getDouble(7) == 100.0)
    assert(spark.read.parquet(store).count() == 6)
  }

  test("trigramKnScoreStored: every back-off branch hand-checked; seen-half == zero unseen; store round-trip") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val train = Seq((2L, "a b c d"), (4L, "a b c e")).toDF("doc_id", "text")
    val model = TextAnalysis.trigramKnTrain(train, "doc_id", "text")
    // trained tables, hand-derivable: trigrams abc(2) bcd(1) bce(1);
    // ctx ab(2,{abc}=1) bc(2,{bcd,bce}=2); sfx types bc(1) cd(1) ce(1);
    // mid b(1 type,{c}=1) c(2 types,{d,e}=2); uni suffix types
    // (b,c),(c,d),(c,e) -> c:1 d:1 e:1, nbt=3, nw3=3
    val uni = model("uni").collect()
    assert(uni.length == 3 && uni.forall(r =>
      r.getLong(r.fieldIndex("nbt")) == 3L &&
      r.getLong(r.fieldIndex("nw3")) == 3L))
    // probe docs exercising each branch:
    //  1: "a b c"   seen trigram
    //  3: "a b e"   unseen trigram, seen ctx ab, seen mid b? (w2=b,w3=e:
    //     sfx be unseen, mid b seen)
    //  5: "z b c"   unseen ctx zb, seen mid b, sfx bc seen
    //  7: "q q q"   everything unseen (incl. the word itself)
    val probe = Seq((1L, "a b c"), (3L, "a b e"), (5L, "z b c"),
      (7L, "q q q")).toDF("doc_id", "text")
    val got = TextAnalysis.trigramKnScoreStored(probe, "doc_id", "text",
        model).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val D = 0.75
    def puni(n1pw3: Long) = (n1pw3 + 1.0) / (3L + 3L + 1.0)
    // doc 1: trigram abc c3=2, ctx ab(2,1); pmid: sfx bc n1p23=1, mid
    // b(mid2=1, n1p2dot=1), puni(c)=2/7
    val pmid1 = (1 - D) / 1 + D * 1 / 1.0 * puni(1)
    val p1 = (2 - D) / 2 + D * 1 / 2.0 * pmid1
    // doc 3: abe unseen (c3=0), ctx ab seen; w2=b w3=e: sfx be unseen
    // (n1p23=0), mid b seen; puni(e)=2/7
    val pmid3 = math.max(0 - D, 0) / 1 + D * 1 / 1.0 * puni(1)
    val p3 = math.max(0 - D, 0) / 2 + D * 1 / 2.0 * pmid3
    // doc 5: ctx zb unseen -> back off to pmid; w2=b w3=c: sfx bc seen
    // (1), mid b seen; puni(c)=2/7
    val p5 = (1 - D) / 1 + D * 1 / 1.0 * puni(1)
    // doc 7: ctx qq unseen, mid q unseen -> puni(q) with n1pw3=0
    val p7 = puni(0)
    def r4(x: Double) = BigDecimal(math.log(x))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((1L, 0L, r4(p1))), s"seen: ${got(1L)} want ${r4(p1)}")
    assert(got(3L) == ((1L, 1L, r4(p3))), s"unseen trigram: ${got(3L)}")
    assert(got(5L) == ((1L, 1L, r4(p5))), s"unseen context: ${got(5L)}")
    assert(got(7L) == ((1L, 1L, r4(p7))), s"full OOV: ${got(7L)}")
    // scoring the training half itself: zero unseen anywhere
    val self = TextAnalysis.trigramKnScoreStored(train, "doc_id", "text",
      model).collect()
    assert(self.forall(_.getLong(2) == 0L))
    // parquet round-trip serves identically
    val out = "target/test_sink/kn_model_spec"
    model.foreach { case (k, v) =>
      v.write.mode("overwrite").parquet(s"$out/$k")
    }
    val rt = TextAnalysis.trigramKnScoreStored(probe, "doc_id", "text",
        model.keys.map(k => k -> spark.read.parquet(s"$out/$k")).toMap)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(rt == got)
    // a model missing a table refuses by name
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.trigramKnScoreStored(probe, "doc_id", "text",
        model - "uni")
    }
    assert(e.getMessage.contains("model"))
  }

  test("trigramKnAppend: append(train(A), B) == train(A ∪ B) table-for-table; five-table stores refuse") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // gen B overlaps gen A's vocabulary (shared trigram "b c e", shared
    // contexts/suffixes) so the merge law is exercised where it can
    // break: occurrence counts must ADD while continuation (type-level)
    // stats must DEDUP across generations
    val genA = Seq((2L, "a b c d"), (4L, "a b c e")).toDF("doc_id", "text")
    val genB = Seq((6L, "b c e f"), (8L, "x y z a b c")).toDF("doc_id", "text")
    val out = "target/test_sink/kn_append_spec"
    val mA = TextAnalysis.trigramKnTrain(genA, "doc_id", "text")
    mA.foreach { case (k, v) => v.write.mode("overwrite").parquet(s"$out/$k") }
    val stored = mA.keys.map(k => k -> spark.read.parquet(s"$out/$k")).toMap
    val merged = TextAnalysis.trigramKnAppend(stored, genB, "doc_id", "text")
    val full = TextAnalysis.trigramKnTrain(genA.unionAll(genB), "doc_id", "text")
    assert(merged.keySet == full.keySet)
    for (k <- full.keys) {
      val m = merged(k).collect().map(_.toSeq).toSet
      val f = full(k).collect().map(_.toSeq).toSet
      assert(m == f, s"KN table `$k` drifted under append: merged=$m full=$f")
    }
    // and the merged model SERVES identically to the from-scratch one
    val probe = Seq((1L, "a b c"), (3L, "q q q")).toDF("doc_id", "text")
    def serve(mdl: Map[String, org.apache.spark.sql.DataFrame]) =
      TextAnalysis.trigramKnScoreStored(probe, "doc_id", "text", mdl)
        .collect().map(_.toSeq).toSet
    assert(serve(merged) == serve(full))
    // a pre-round-14 five-table store has no type table — loud refusal
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.trigramKnAppend(stored - "types", genB, "doc_id", "text")
    }
    assert(e.getMessage.contains("types"))
  }

  test("unigram-LM tokenizer: round-trip, Viterbi == exhaustive enumeration, reassembly, determinism") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq((1L, "banana bandana anna"),
      (2L, "banana banana band an"),
      (3L, "nab nab anna banana")).toDF("doc_id", "text")
    val tblDf = TextAnalysis.unigramTokTrain(docs, "doc_id", "text",
      vocabSize = 8, nRounds = 2, maxPieceLen = 3, seedSize = 12)
    val pieces = tblDf.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // token ids are exactly 1..n in (cnt desc, piece asc) order
    assert(pieces.map(_._1).toSeq == (1 to pieces.length))
    // coverage: every corpus codepoint survives as a single-char piece
    val chars = docs.collect().flatMap(_.getString(1).replace(" ", "")).toSet
    assert(chars.subsetOf(
      pieces.map(_._2).filter(_.length == 1).map(_.head).toSet))
    // the point of the family: a multi-char piece was learned
    assert(pieces.exists(_._2.length > 1))
    // training is deterministic
    val again = TextAnalysis.unigramTokTrain(docs, "doc_id", "text",
        vocabSize = 8, nRounds = 2, maxPieceLen = 3, seedSize = 12)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(again.toSeq == pieces.toSeq)
    // tokenize: vocabulary closure + per-doc reassembly
    val toks = TextAnalysis.unigramTokenize(docs, "doc_id", "text", tblDf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    assert(toks.forall(_._4 > 0), "every token must be a vocabulary piece")
    val reassembled = toks.groupBy(_._1).map { case (id, ts) =>
      id -> ts.sortBy(_._2).map(_._3).mkString }
    assert(reassembled == docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).replace(" ", "")).toMap)
    // stored round-trip: the parquet-read-back table serves identically
    tblDf.write.mode("overwrite").parquet("target/test_sink/unigram_rt")
    val rt = TextAnalysis.unigramTokenize(docs, "doc_id", "text",
        spark.read.parquet("target/test_sink/unigram_rt"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    assert(rt.length == toks.length && rt.toSet == toks.toSet)
    // Viterbi DP == EXHAUSTIVE path enumeration under the shared
    // (score desc, n pieces asc, joined path asc) tie-break — the
    // independent argmax the DuckDB oracle also runs
    val mu = pieces.map(p => p._2 -> BigDecimal(p._4 * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact).toMap
    def enum(w: String): Seq[(Long, Int, String)] =
      if (w.isEmpty) Seq((0L, 0, ""))
      else (1 to math.min(3, w.length)).flatMap { l =>
        val p = w.substring(0, l)
        mu.get(p).toSeq.flatMap { m =>
          enum(w.substring(l)).map { case (s, n, j) =>
            (m + s, n + 1, if (j.isEmpty) p else p + " " + j)
          }
        }
      }
    val words = docs.collect().flatMap(_.getString(1).split(" ")).distinct
    val wdf = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toSeq.toDF("doc_id", "text")
    val wtoks = TextAnalysis.unigramTokenize(wdf, "doc_id", "text", tblDf)
      .collect().groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.sortBy(_.getInt(1)).map(_.getString(2)).toSeq }
    words.zipWithIndex.foreach { case (w, i) =>
      val best = enum(w).sortWith((a, b) => a._1 > b._1 ||
        (a._1 == b._1 && (a._2 < b._2 ||
          (a._2 == b._2 && a._3 < b._3)))).head
      assert(wtoks(i.toLong) == best._3.split(" ").toSeq,
        s"word '$w': DP gave ${wtoks(i.toLong)}, enumeration $best")
    }
    // a piece table with drifted ids refuses loudly
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.unigramTokenize(docs, "doc_id", "text",
        tblDf.filter($"token_id" > 1))
    }
    assert(e.getMessage.contains("token_id"))
  }

  test("BPE train: frequency order, deterministic ties, merge-on-merged, early exhaustion") {
    import spark.implicits._
    val df = Seq((1L, "aaa ab aaa low lower lowest"),
                 (2L, "ab ab low low")).toDF("doc_id", "text")
    val m = graft.operators.TextAnalysis.bpeTrain(df, "doc_id", "text", nMerges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    // hand-derivable training trace: ('l','o') 5 occurrences beats
    // ('a','a') 4 (aaa counts BOTH adjacent positions); the round-1
    // winner merges ON the round-0 merged symbol ('lo','w'); applying
    // ('a','a') left-to-right turns aaa into (aa, a), so ('aa','a')
    // appears in a LATER round — the apply semantics BpeCount replays
    assert(m == Seq((0, "l", "o"), (1, "lo", "w"), (2, "a", "a"),
      (3, "a", "b"), (4, "aa", "a")), s"unexpected merge trace: $m")
    // determinism: identical input, identical table
    val m2 = graft.operators.TextAnalysis.bpeTrain(df, "doc_id", "text", nMerges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(m2 == m)
    // roundtrip: the learned table applied by bpeCount — aaa and ab
    // collapse to single symbols, low to one, lower/lowest to 3/4
    val cnt = graft.operators.TextAnalysis.bpeCount(df, "doc_id", "text",
        graft.operators.TextAnalysis.bpeTrain(df, "doc_id", "text", nMerges = 5))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(cnt == Map(1L -> 11, 2L -> 4), s"roundtrip counts: $cnt")
    // early exhaustion: asking for more merges than distinct pairs ends
    // the table when every word is one symbol — never an error
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val mt = graft.operators.TextAnalysis.bpeTrain(tiny, "doc_id", "text", nMerges = 10)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(mt == Seq(("a", "b")), s"exhausted table: $mt")
    // no multi-char words at all: loud refusal, not an empty table
    val e = intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.bpeTrain(Seq((1L, "a b c")).toDF("doc_id", "text"),
        "doc_id", "text", nMerges = 3)
    }
    assert(e.getMessage.contains("bpeTrain"))
  }

  test("BPE train local == distributed, bit-for-bit, on fixtures and the gate corpus") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    // the hand-traced fixture (ties, merge-on-merged, both adjacent
    // positions of aaa) — the two engines must agree on every round
    val df = Seq((1L, "aaa ab aaa low lower lowest"),
                 (2L, "ab ab low low")).toDF("doc_id", "text")
    assert(rows(TextAnalysis.bpeTrainLocal(df, "doc_id", "text", 5)) ==
      rows(TextAnalysis.bpeTrain(df, "doc_id", "text", 5)))
    // early exhaustion parity
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    assert(rows(TextAnalysis.bpeTrainLocal(tiny, "doc_id", "text", 10)) ==
      rows(TextAnalysis.bpeTrain(tiny, "doc_id", "text", 10)))
    // loud refusal parity
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bpeTrainLocal(Seq((1L, "a b c")).toDF("doc_id", "text"),
        "doc_id", "text", 3)
    }
    assert(e.getMessage.contains("bpeTrainLocal"))
    // the gate corpus at nMerges=8 — the driver-side rounds must replay
    // the distributed rounds exactly (the llm_bpe_train oracle covers
    // both gates; this pins the engines against EACH OTHER)
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"text")
    assert(rows(TextAnalysis.bpeTrainLocal(docs, "doc_id", "text", 8)) ==
      rows(TextAnalysis.bpeTrain(docs, "doc_id", "text", 8)))
  }

  test("BPE pre-tokenization: word./word share the stem; engines agree; whitespace path unchanged") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // under the whitespace split, `word.` and `word` are unrelated
    // symbols; the class split peels the punctuation run off first
    val df = Seq((1L, "word word. word, word word. other.")).toDF("doc_id", "text")
    val m = TextAnalysis.bpeTrainLocal(df, "doc_id", "text", nMerges = 6,
      preTokenize = true)
    // distributed trainer agrees under the same split
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(rows(m) == rows(TextAnalysis.bpeTrain(df, "doc_id", "text",
      nMerges = 6, preTokenize = true)))
    // tokenize under the learned table: every `word` occurrence —
    // whether it appeared bare, before '.', or before ',' — yields the
    // SAME stem token with the SAME id, and punctuation stands alone
    val toks = TextAnalysis.bpeTokenize(df, "doc_id", "text", m,
        preTokenize = true)
      .collect().map(r => (r.getString(2), r.getInt(3))).toSeq
    val wordIds = toks.filter(_._1 == "word").map(_._2).distinct
    assert(toks.count(_._1 == "word") == 5,
      s"expected 5 shared 'word' stems, got $toks")
    assert(wordIds.length == 1, s"stem ids drifted: $wordIds")
    assert(toks.contains(("." , '.'.toInt)) && toks.contains((",", ','.toInt)),
      s"punctuation must tokenize standalone: $toks")
    // and the count surface agrees with the tokenize surface
    val cnt = TextAnalysis.bpeCount(df, "doc_id", "text", m,
      preTokenize = true).collect().head.getInt(1)
    assert(cnt == toks.length)
    // the default path is bit-stable: preTokenize=false == the
    // round-11 whitespace behavior
    val mWs = TextAnalysis.bpeTrainLocal(df, "doc_id", "text", nMerges = 6)
    assert(rows(mWs) == rows(TextAnalysis.bpeTrain(df, "doc_id", "text", 6)))
    assert(rows(mWs) != rows(m), "pretok must actually change training here")
  }

  test("BPE count: chained merges, rank order, left-to-right non-overlap, guards") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val merges = Seq((0, "t", "h"), (1, "th", "e"), (2, "i", "n"),
        (3, "a", "n"), (4, "an", "d"), (5, "e", "r"), (6, "o", "n"),
        (7, "r", "e"))
      .toDF("rank", "left", "right")
    val docs = Seq(
      (1L, "and"),      // a n d → an d → and           = 1
      (2L, "the"),      // t h e → th e → the           = 1
      (3L, "there"),    // t h e r e → the r e → the re = 2
      (4L, "inner"),    // i n n e r → in n e r → in n er = 3
      (5L, "xyz"),      // no merge applies             = 3
      (6L, "the and"),  // 1 + 1                        = 2
      (7L, ""),         // empty word contributes 0     = 0
      (8L, "ononon")    // o n ... left-to-right: on on on = 3
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bpeCount(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 3,
      6L -> 2, 7L -> 0, 8L -> 3), s"got $got")
    // rank order matters: with (a,n) ranked ABOVE (n,d), "and" merges
    // a+n first and (an,d) then applies; flipping ranks changes the path
    val flipped = Seq((0, "n", "d"), (1, "a", "n")).toDF("rank", "left", "right")
    val g2 = TextAnalysis.bpeCount(docs.filter($"doc_id" === 1), "doc_id",
        "text", flipped)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(g2 == Map(1L -> 2), s"a nd (no (a,nd) merge): $g2") // a + nd
    // a merge table without the contract columns refuses by name
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bpeCount(docs, "doc_id", "text",
        Seq((0, "a", "b")).toDF("rank", "l", "r"))
    }
    assert(e.getMessage.contains("rank, left, right"))
  }

  test("BPE tokenize: sequence, stable ids, and size(tokens) == BpeCount on the corpus") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val merges = Seq((0, "t", "h"), (1, "th", "e"), (2, "i", "n"),
        (3, "a", "n"), (4, "an", "d"), (5, "e", "r"), (6, "o", "n"),
        (7, "r", "e"))
      .toDF("rank", "left", "right")
    val docs = Seq(
      (1L, "there and"), // the|re  an|d → tokens the,re,and
      (2L, "xyz"),       // base symbols only: codepoint ids
      (3L, "")           // no tokens → no rows
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTokenize(docs, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2))
    // ids: merged symbol → 0x110000 + min rank building exactly that
    // string ('the' ← rank 1 th+e; 're' ← rank 7 r+e; 'and' ← rank 4
    // an+d); base symbol → its codepoint
    val B = 0x110000
    assert(got.toSeq == Seq(
      (1L, 1, "the", B + 1), (1L, 2, "re", B + 7), (1L, 3, "and", B + 4),
      (2L, 1, "x", 'x'.toInt), (2L, 2, "y", 'y'.toInt), (2L, 3, "z", 'z'.toInt)),
      s"got ${got.toSeq}")
    // the tokenizer roundtrip contract on REAL corpus text: per-doc
    // token count equals BpeCount bit-for-bit (shared merge loop)
    val corpus = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"text")
    val sizes = TextAnalysis.bpeTokenize(corpus, "doc_id", "text", merges)
      .groupBy($"doc_id").count()
    val cnts = TextAnalysis.bpeCount(corpus, "doc_id", "text", merges)
    val drift = cnts.join(sizes, Seq("doc_id"), "left")
      .filter(org.apache.spark.sql.functions.coalesce($"count",
          org.apache.spark.sql.functions.lit(0L)) =!= $"bpe_cnt".cast("long"))
      .count()
    assert(drift == 0L, s"$drift docs where size(tokens) != bpe_cnt")
  }

  test("BPE chunk/pack: overlap-0 chunks reassemble the tokenize sequence; pack n_toks == BpeCount") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    val merges = Seq((0, "t", "h"), (1, "th", "e"), (2, "i", "n"),
        (3, "a", "n"), (4, "an", "d"), (5, "e", "r"), (6, "o", "n"),
        (7, "r", "e"))
      .toDF("rank", "left", "right")
    val corpus = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"text")
    // coverage/order/no-duplication: overlap-0 chunks concatenated in
    // start_tok order are EXACTLY the bpeTokenize id sequence (a prime
    // chunk size so cuts land mid-word-run, not on a convenient stride)
    val viaChunks = TextAnalysis.chunkBpe(corpus, "doc_id", "text", merges,
        chunkTokens = 7, overlap = 0)
      .groupBy($"doc_id")
      .agg(flatten(transform(
        array_sort(collect_list(struct($"start_tok", $"token_ids"))),
        _.getField("token_ids"))).as("chunk_ids"))
    val direct = TextAnalysis.bpeTokenize(corpus, "doc_id", "text", merges)
      .groupBy($"doc_id")
      .agg(collect_list(struct($"pos", $"token_id")).as("tk"))
      .select($"doc_id",
        transform(array_sort($"tk"), _.getField("token_id")).as("seq_ids"))
    val drift = viaChunks.join(direct, Seq("doc_id"), "full")
      .filter(!($"chunk_ids" <=> $"seq_ids")).count()
    assert(drift == 0L, s"$drift docs where chunk reassembly != tokenize sequence")
    // the BPE-counted pack: n_toks is the trained tokenizer's count,
    // bit-for-bit (shared merge loop via bpeCounter)
    val packed = TextAnalysis.packOffsets(corpus, "doc_id", "text",
      seqLen = 512, docsPerBucket = 64,
      tokenCounter = TextAnalysis.bpeCounter(merges))
    val cnts = TextAnalysis.bpeCount(corpus, "doc_id", "text", merges)
    val nDrift = packed.join(cnts, Seq("doc_id"), "full")
      .filter(!($"n_toks" <=> $"bpe_cnt".cast("long"))).count()
    assert(nDrift == 0L, s"$nDrift docs where pack n_toks != bpe_cnt")
  }

  test("bm25 bucket-partitioned serving: pruned == unpartitioned bit-for-bit; bucket literals replay the in-plan hash; guard refuses") {
    import spark.implicits._
    import graft.operators.{Dedup, TextAnalysis}
    val corpus = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"text")
    val part = TextAnalysis.bm25IndexPartitioned(corpus, "doc_id", "text",
      nBuckets = 8).localCheckpoint(false)
    val dls = TextAnalysis.bm25DocLens(part, "doc_id")
    // driver bucket == in-plan bucket for every indexed term (the
    // probeCellsOf discipline: pruning literals must replay the data
    // path exactly or pruning silently loses postings)
    val mismatch = part.select($"term", $"tbucket").distinct()
      .withColumn("__drv",
        org.apache.spark.sql.functions.pmod(
          Dedup.sharedHash60($"term"), org.apache.spark.sql.functions.lit(8L))
          .cast("int"))
      .filter($"tbucket" =!= $"__drv").count()
    assert(mismatch == 0L)
    val terms = Seq("hash", "join", "vector")
    terms.foreach { t =>
      val drv = TextAnalysis.bm25BucketsOf(Seq(t), 8).head
      val inPlan = part.filter($"term" === t).select($"tbucket")
        .distinct().collect().map(_.getInt(0)).toSeq
      assert(inPlan.isEmpty || inPlan == Seq(drv),
        s"term '$t': driver bucket $drv vs in-plan $inPlan")
    }
    // identical answer with and without the partition filter
    val pruned = TextAnalysis.bm25TopKStoredPruned(part, dls, "doc_id",
      terms, nBuckets = 8, k = 25).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = TextAnalysis.bm25TopKStored(part.drop("tbucket"), dls,
      "doc_id", terms, k = 25).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pruned == full)
    // a store without the bucket column refuses loudly
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopKStoredPruned(part.drop("tbucket"), dls,
        "doc_id", terms, nBuckets = 8)
    }
    assert(e.getMessage.contains("tbucket"))
  }

  test("bm25Join: per-query rows == the single-query stored scorer; no-match query absent; term cap refuses") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val corpus = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"text")
    val idx = TextAnalysis.bm25Index(corpus, "doc_id", "text")
      .localCheckpoint(false)
    val dls = TextAnalysis.bm25DocLens(idx, "doc_id")
    val queries = Seq((1, "hash join"), (2, "vector scan slow"),
      (3, "zzzunknown")).toDF("query_id", "qtext")
    val joined = TextAnalysis.bm25Join(idx, dls, queries,
        "doc_id", "query_id", "qtext", k = 7)
      .collect().groupBy(_.getInt(0))
    // the no-match query emits nothing (absent, not zero-scored)
    assert(!joined.contains(3))
    // each matching query's rows equal the single-query scorer's
    for ((qid, terms) <- Seq(1 -> Seq("hash", "join"),
                             2 -> Seq("vector", "scan", "slow"))) {
      val single = TextAnalysis.bm25TopKStored(idx, dls, "doc_id",
          terms, k = 7)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val batch = joined(qid).sortBy(_.getInt(3))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(batch == single, s"query $qid: batch $batch vs single $single")
    }
    // the driver-literal pushdown is bounded by design: a batch over
    // the cap refuses by name
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bm25Join(idx, dls, queries, "doc_id", "query_id",
        "qtext", k = 5, maxTerms = 2)
    }
    assert(e.getMessage.contains("bm25Join"))
    // empty-term-set early exit derives id TYPES from the inputs — a
    // string-keyed caller must get a string-schema empty frame (the
    // hardcoded-long form failed downstream unions at analysis)
    val sIdx = idx.select(concat(lit("d"), $"doc_id").as("doc_id"),
      $"dl", $"term", $"tf")
    // whitespace-only text → zero tokens → the early-exit path
    val sQueries = Seq(("qa", "  ")).toDF("query_id", "qtext")
    val empty = TextAnalysis.bm25Join(sIdx, dls, sQueries,
      "doc_id", "query_id", "qtext", k = 3)
    assert(empty.count() == 0)
    assert(empty.schema("query_id").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(empty.schema("doc_id").dataType ==
      org.apache.spark.sql.types.StringType)
    // and it unions cleanly against a real string-keyed result shape
    val shaped = Seq(("qa", "d1", 1.0, 1)).toDF("query_id", "doc_id", "bm25", "rank")
    assert(shaped.unionByName(empty).count() == 1)
  }

  test("rrfFuse: fused scores equal hand-computed reciprocal-rank sums; k cuts; guards refuse") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // id 10 ranked by both lists, 11 only by A, 12 by both, 13 only by B
    val a = Seq((10L, 1), (11L, 2), (12L, 3)).toDF("id", "rank")
    val b = Seq((12L, 1), (10L, 2), (13L, 3)).toDF("id", "rank")
    def c(r: Int) = 1.0 / (60 + r)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // contributions add in declared list order (A's term first) — the
    // operator's fixed-addition determinism contract
    val want = Seq(10L -> r6(c(1) + c(2)), 11L -> r6(c(2) + 0.0),
        12L -> r6(c(3) + c(1)), 13L -> r6(c(3) + 0.0))
      .sortBy { case (i, s) => (-s, i) }
    val got = TextAnalysis.rrfFuse(Seq(a, b), "id", k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
    // k cuts the fused ranking, not the inputs
    assert(TextAnalysis.rrfFuse(Seq(a, b), "id", k = 2)
      .collect().map(_.getLong(0)).toSeq == want.take(2).map(_._1))
    // a single list is the identity ranking under 1/(kRrf+rank)
    assert(TextAnalysis.rrfFuse(Seq(a), "id", k = 3)
      .collect().map(_.getLong(0)).toSeq == Seq(10L, 11L, 12L))
    // guards refuse by name: no lists; a list without the rank column
    val e1 = intercept[IllegalArgumentException] {
      TextAnalysis.rrfFuse(Seq.empty, "id", k = 5)
    }
    assert(e1.getMessage.contains("rrfFuse"))
    val e2 = intercept[IllegalArgumentException] {
      TextAnalysis.rrfFuse(Seq(a.drop("rank")), "id", k = 5)
    }
    assert(e2.getMessage.contains("rrfFuse"))
  }

  test("rrfFuseBy: fusion is per group; a group absent from one leg fuses to the other alone; guards refuse") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // group 1 ranked by both legs; group 2 only by leg B
    val a = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("q", "id", "rank")
    val b = Seq((1L, 11L, 1), (2L, 12L, 1), (2L, 13L, 2))
      .toDF("q", "id", "rank")
    def c(r: Int) = 1.0 / (60 + r)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextAnalysis.rrfFuseBy(Seq(a, b), "q", "id", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    // group 1: id 11 fused across both legs outranks id 10's single leg
    // (c(2)+c(1) > c(1)); group 2: leg B's ranking passes through
    val want = Set(
      (1L, 11L, r6(c(2) + c(1)), 1), (1L, 10L, r6(c(1) + 0.0), 2),
      (2L, 12L, r6(0.0 + c(1)), 1), (2L, 13L, r6(0.0 + c(2)), 2))
    assert(got == want)
    // k cuts within each group independently
    val cut = TextAnalysis.rrfFuseBy(Seq(a, b), "q", "id", k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cut == Set((1L, 11L), (2L, 12L)))
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.rrfFuseBy(Seq(a.drop("q")), "q", "id", k = 5)
    }
    assert(e.getMessage.contains("rrfFuseBy"))
  }

  test("retrievalEvalReport: metrics match hand-computed values; zero-hit and empty-relevance edge rows") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // q1: relevant {10,11,12}, retrieved hits at ranks 1 and 3
    // q2: relevant {20}, no hits in the run
    // q3: no relevance rows at all
    val run = Seq(
      (1L, 10L, 1), (1L, 99L, 2), (1L, 11L, 3),
      (2L, 98L, 1), (2L, 97L, 2),
      (3L, 96L, 1)).toDF("q", "id", "rank")
    val rel = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L))
      .toDF("q", "id")
    val got = TextAnalysis.retrievalEvalReport(run, rel, "q", "id", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3),
        if (r.isNullAt(4)) null else r.getDouble(4),
        r.getDouble(5),
        if (r.isNullAt(6)) null else r.getDouble(6))).toSeq
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // q1: dcg = 1/log2(2) + 1/log2(4); idcg over min(3,3) ideal ranks
    val dcg1 = 1.0 / lg2(2.0) + 1.0 / lg2(4.0)
    val idcg1 = 1.0 / lg2(2.0) + 1.0 / lg2(3.0) + 1.0 / lg2(4.0)
    assert(got == Seq(
      (1L, 3L, 2L, r6(2.0 / 3), r6(2.0 / 3), 1.0, r4(dcg1 / idcg1)),
      (2L, 1L, 0L, 0.0, 0.0, 0.0, 0.0),
      (3L, 0L, 0L, 0.0, null, 0.0, null)))
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.retrievalEvalReport(run.drop("rank"), rel, "q", "id", 3)
    }
    assert(e.getMessage.contains("retrievalEvalReport"))
  }

  test("snippetExtract: densest window wins, ties go earliest, no-hit docs absent, window truncates at doc end") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq(
      // hits at 2 and 4 cluster (window 3 from pos 2 covers both);
      // the lone hit at 9 loses
      (1L, "x hash y hash z a b c hash"),
      // two windows each cover 1 hit → earliest start (pos 1) wins
      (2L, "hash a b c d e hash"),
      // no hits → absent
      (3L, "nothing to see here"),
      // hit on the last token → snippet truncates to the doc end
      (4L, "a b hash")).toDF("doc_id", "text")
    val got = TextAnalysis.snippetExtract(docs, "doc_id", "text",
        Seq("hash"), window = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getString(3))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 2, 2, "hash y hash"),
      (2L, 1, 1, "hash a b"),
      (4L, 1, 3, "hash")))
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.snippetExtract(docs, "doc_id", "text", Seq.empty, 3)
    }
    assert(e.getMessage.contains("snippetExtract"))
  }

  test("bm25Prf: expansion terms pull in docs the seed query cannot see; fbTerms=0 degenerates to plain bm25") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // seed term 'alpha' hits docs 1-2; their dominant co-term 'bravo'
    // also lives in doc 3, which the seed query can never retrieve
    val docs = Seq(
      (1L, "alpha bravo bravo"),
      (2L, "alpha bravo common"),
      (3L, "bravo bravo delta"),
      (4L, "echo foxtrot common"),
      (5L, "golf hotel common")).toDF("doc_id", "text")
    val plain = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      Seq("alpha"), k = 5).collect().map(_.getLong(0)).toSet
    assert(plain == Set(1L, 2L), "the seed query must not reach doc 3")
    // feedback docs 1-2: tf_fb(bravo)=3 beats tf_fb(common)=1 at equal
    // df — 'bravo' expands the query into doc 3
    val prf = TextAnalysis.bm25Prf(docs, "doc_id", "text", Seq("alpha"),
      k = 5, fbDocs = 2, fbTerms = 1).collect().map(_.getLong(0)).toSet
    assert(prf == Set(1L, 2L, 3L),
      s"expansion ('bravo') must pull in doc 3, got $prf")
    // fbTerms = 0 is exactly the plain query
    val zero = TextAnalysis.bm25Prf(docs, "doc_id", "text", Seq("alpha"),
      k = 5, fbDocs = 2, fbTerms = 0)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val base = TextAnalysis.bm25TopK(docs, "doc_id", "text", Seq("alpha"),
      k = 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(zero == base)
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bm25Prf(docs, "doc_id", "text", Seq("alpha"),
        k = 5, fbDocs = 2, fbTerms = 1, maxCandidates = 1)
    }
    assert(e.getMessage.contains("bm25Prf"))
  }

  test("snippetJoin: per-pair rows equal the single-query extractor under each query's terms") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"text")
    val queries = Seq((1L, "hash join"), (2L, "vector scan slow"))
      .toDF("query_id", "qtext")
    val ix = TextAnalysis.bm25Index(docs, "doc_id", "text")
      .localCheckpoint(false)
    val dls = TextAnalysis.bm25DocLens(ix, "doc_id")
    val run = TextAnalysis.bm25Join(ix, dls, queries,
      "doc_id", "query_id", "qtext", k = 4).localCheckpoint(false)
    val batch = TextAnalysis.snippetJoin(run, docs, queries,
        "query_id", "doc_id", "text", "qtext", window = 12)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getString(4))).toSet
    val single = Seq(1L -> Seq("hash", "join"),
        2L -> Seq("vector", "scan", "slow")).flatMap { case (q, terms) =>
      val runDocs = run.filter($"query_id" === q).select($"doc_id")
      TextAnalysis.snippetExtract(docs.join(runDocs, Seq("doc_id")),
          "doc_id", "text", terms, window = 12)
        .collect()
        .map(r => (q, r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    }.toSet
    assert(batch == single, s"batch $batch vs single $single")
  }

  test("servingLatency: one row per surface, min <= p50 <= p95 <= max, row counts carried") {
    val rep = graft.operators.ServingLatency.latencyReport(spark, Seq(
      "b_tiny" -> (() => spark.range(5).toDF("id")),
      "a_tiny" -> (() => spark.range(10).toDF("id"))), runs = 3, warmup = 0)
    val rows = rep.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a_tiny", "b_tiny"))
    rows.foreach { r =>
      assert(r.getDouble(5) <= r.getDouble(3) && r.getDouble(3) <= r.getDouble(4)
        && r.getDouble(4) <= r.getDouble(6),
        s"percentile ordering violated: $r")
    }
    assert(rows.map(_.getLong(2)).toSeq == Seq(10L, 5L))
  }

  test("mmrSelectBy: per-group results equal independent single-query runs (no cross-query coupling); cap refuses per group") {
    import spark.implicits._
    import graft.operators.Similarity
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val qvecs = emb.filter($"vec_id".isin(1L, 2L, 3L))
      .select($"vec_id".as("query_id"), $"embedding")
    val cand = Similarity.knnJoin(qvecs, emb, "query_id", "vec_id",
        "embedding", "embedding", k = 15, excludeSelf = true)
      .join(emb.select($"vec_id".as("neighbor_id"), $"embedding"),
        Seq("neighbor_id"))
      .select($"query_id", $"neighbor_id".as("doc_id"), $"embedding",
        $"cos_sim")
      .localCheckpoint(false)
    val batch = Similarity.mmrSelectBy(cand, "query_id", "doc_id",
        "embedding", "cos_sim", k = 3, lam = 0.7)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(3)).setScale(6, BigDecimal.RoundingMode.HALF_UP),
        r.getInt(4)))
      .toSet
    // each group re-ranked ALONE must reproduce its batch rows exactly
    // — the semantic no-cross-query-coupling proof
    val single = (1L to 3L).flatMap { q =>
      Similarity.mmrSelect(cand.filter($"query_id" === q)
          .select($"doc_id", $"embedding", $"cos_sim"),
          "doc_id", "embedding", "cos_sim", k = 3, lam = 0.7)
        .collect()
        .map(r => (q, r.getLong(0),
          BigDecimal(r.getDouble(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP),
          r.getInt(3)))
    }.toSet
    assert(batch == single, s"batch $batch vs single $single")
    val e = intercept[IllegalArgumentException] {
      Similarity.mmrSelectBy(cand, "query_id", "doc_id", "embedding",
        "cos_sim", k = 2, lam = 0.7, maxPerQuery = 5)
    }
    assert(e.getMessage.contains("mmrSelectBy"))
  }

  test("mmrSelect: a redundant near-duplicate of the first pick loses to a diverse candidate; candidate cap refuses") {
    import spark.implicits._
    import graft.operators.Similarity
    // c1 most relevant; c2 nearly identical to c1 (cos ≈ 1); c3
    // orthogonal to c1 with lower relevance. Pure relevance order would
    // be c1, c2, c3 — MMR at λ=0.5 must demote the near-duplicate.
    val cand = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0.90),
      (2L, Seq(1.0f, 0.01f, 0.0f, 0.0f), 0.89),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 0.50))
      .toDF("id", "vec", "rel")
    val got = Similarity.mmrSelect(cand, "id", "vec", "rel",
        k = 3, lam = 0.5)
      .collect().map(r => (r.getLong(0), r.getInt(3))).toSeq
    assert(got == Seq((1L, 1), (3L, 2), (2L, 3)),
      s"MMR must pick the diverse candidate second, got $got")
    // first pick's score is λ·rel quantized; later scores strictly
    // reflect the diversity penalty
    val full = Similarity.mmrSelect(cand, "id", "vec", "rel",
        k = 3, lam = 0.5)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(full(1L) == 0.45)
    assert(full(2L) < 0.0, "the near-duplicate's penalty must dominate")
    val e = intercept[IllegalArgumentException] {
      Similarity.mmrSelect(cand, "id", "vec", "rel", k = 2, lam = 0.5,
        maxCandidates = 2)
    }
    assert(e.getMessage.contains("mmrSelect"))
  }

  test("lrEvalReport: counts match an independent recount; NULL metrics on empty denominators") {
    import spark.implicits._
    import graft.operators.Classifier
    val corpus = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"text").filter($"doc_id" < 300)
    val trainPos = corpus.filter($"doc_id" % 2 === 0)
    val trainNeg = corpus.filter($"doc_id" % 2 === 1)
      .select($"doc_id", org.apache.spark.sql.functions.upper($"text").as("text"))
    val w = Classifier.weightsToDf(spark,
      Classifier.lrTrain(trainPos, trainNeg, "doc_id", "text",
        buckets = 64, iters = 2, lr = 0.5))
    // eval on a CROSSED set — positives uppercased (they look like
    // training negatives), negatives as-is — so the confusion matrix is
    // genuinely mixed, not the separable fixture's all-ones
    val evalPos = trainPos
      .select(($"doc_id" + 1000000).as("doc_id"),
        org.apache.spark.sql.functions.upper($"text").as("text"))
    val evalNeg = trainNeg.select(($"doc_id" + 2000000).as("doc_id"), $"text")
    val ths = Seq(0.3, 0.5, 0.7)
    val got = Classifier.lrEvalReport(evalPos, evalNeg, "doc_id", "text",
        w, buckets = 64, thresholds = ths)
      .collect().map(r => r.getDouble(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // independent recount from the scorer's own output
    val scores = Classifier.lrScore(
        evalPos.unionByName(evalNeg), "doc_id", "text", w, buckets = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val want = ths.map { t =>
      val tp = scores.count { case (id, p) => id < 2000000 && p >= t }
      val fp = scores.count { case (id, p) => id >= 2000000 && p >= t }
      val fn = scores.count { case (id, p) => id < 2000000 && p < t }
      val tn = scores.count { case (id, p) => id >= 2000000 && p < t }
      t -> (tp.toLong, fp.toLong, fn.toLong, tn.toLong)
    }.toMap
    assert(got == want, s"got $got want $want")
    // the crossed eval really confuses the filter (nonzero off-diagonal)
    assert(got.values.exists { case (_, fp, fn, _) => fp > 0 || fn > 0 })
    // threshold above the score range: no positives predicted ->
    // precision NULL (not 0), recall 0, tn full
    val edge = Classifier.lrEvalReport(evalPos, evalNeg, "doc_id", "text",
        w, buckets = 64, thresholds = Seq(1.1)).collect()(0)
    assert(edge.isNullAt(edge.fieldIndex("precision")))
    assert(edge.getDouble(edge.fieldIndex("recall")) == 0.0)
    assert(edge.getLong(edge.fieldIndex("tp")) == 0)
  }

  test("lrTrain: weights are input-partitioning-invariant (the exact-decimal contract the __tid-clustered checkpoint relies on)") {
    import spark.implicits._
    import graft.operators.Classifier
    // round 15 clusters the checkpointed design matrix by __tid so the
    // per-epoch jobs shuffle nothing; that is only sound because every
    // corpus-scale sum accumulates in DECIMAL (order-free). Pin it: the
    // trained weights must be bit-identical under ANY input partitioning.
    val corpus = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"text").filter($"doc_id" < 200)
    val pos = corpus.filter($"doc_id" % 2 === 0)
    val neg = corpus.filter($"doc_id" % 2 === 1)
      .select($"doc_id", org.apache.spark.sql.functions.upper($"text").as("text"))
    val w1 = Classifier.lrTrain(pos, neg, "doc_id", "text",
      buckets = 64, iters = 2, lr = 0.5)
    val w2 = Classifier.lrTrain(pos.repartition(7), neg.repartition(3),
      "doc_id", "text", buckets = 64, iters = 2, lr = 0.5)
    assert(w1.nonEmpty && w1.sameElements(w2),
      "lrTrain weights must not depend on input partitioning")
  }

  test("lrEval/lrCalibration disjoint guard is IN-PLAN: zero jobs at construction, loud refusal at execution") {
    import spark.implicits._
    import graft.operators.Classifier
    val corpus = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"text").filter($"doc_id" < 100)
    val pos = corpus.filter($"doc_id" % 2 === 0)
    val negShared = corpus // overlaps pos on every even id
    val w = Classifier.weightsToDf(spark, Array((1, 0.5), (2, -0.25)))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      // construction + EXPLAIN of BOTH reports launch no job — the
      // former eager semi-join peek fired one per construction, which
      // inside the TVF builders meant a job per SQL (re-)analysis
      val eval = Classifier.lrEvalReport(pos, negShared, "doc_id",
        "text", w, buckets = 64)
      val cal = Classifier.lrCalibrationReport(pos, negShared, "doc_id",
        "text", w, buckets = 64)
      eval.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      cal.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      assert(jobs.get == 0,
        s"report construction/EXPLAIN fired ${jobs.get} job(s) — the " +
          "disjointness guard must be in-plan, not an eager peek")
      // the refusal still fires, at execution, naming the shared id
      def chain(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
      val e1 = intercept[Exception] { eval.collect() }
      assert(chain(e1).contains("lrEvalReport: pos and neg share id"),
        s"unexpected failure: ${chain(e1)}")
      val e2 = intercept[Exception] { cal.collect() }
      assert(chain(e2).contains("lrCalibrationReport: pos and neg share id"),
        s"unexpected failure: ${chain(e2)}")
      // disjoint inputs pass through the guard untouched
      val negDisjoint = corpus.filter($"doc_id" % 2 === 1)
      assert(Classifier.lrEvalReport(pos, negDisjoint, "doc_id", "text",
        w, buckets = 64).collect().nonEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("corpus KL drift: identity is exactly 0, divergence nonnegative, drift moves the needle") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val corpus = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"text").filter($"doc_id" < 200)
    // KL(A‖A) == 0 EXACTLY: every ratio is a quotient of identical
    // integer products, ln(1.0) == 0.0 bitwise — no tolerance needed
    val self = TextAnalysis.unigramKlReport(corpus, corpus, "text").collect()(0)
    assert(self.getAs[Double]("kl_ab") == 0.0 && self.getAs[Double]("kl_ba") == 0.0)
    assert(self.getAs[Long]("tot_a") == self.getAs[Long]("tot_b"))
    // a drifted snapshot (every doc's text flooded with one token)
    // diverges positively in both directions (Gibbs)
    val drifted = corpus.select($"doc_id",
      org.apache.spark.sql.functions.concat($"text",
        org.apache.spark.sql.functions.lit(" spamtoken spamtoken spamtoken")).as("text"))
    val kl = TextAnalysis.unigramKlReport(corpus, drifted, "text").collect()(0)
    assert(kl.getAs[Double]("kl_ab") > 0.0 && kl.getAs[Double]("kl_ba") > 0.0)
    // the union vocabulary includes the token unseen in A
    assert(kl.getAs[Long]("vocab_size") == self.getAs[Long]("vocab_size") + 1)
  }

  test("BPE vocab report: counts reconcile with BpeCount; coverage monotone to 1 when topK covers all") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val merges = Seq((0, "t", "h"), (1, "th", "e"), (2, "i", "n"),
        (3, "a", "n"), (4, "an", "d"), (5, "e", "r"), (6, "o", "n"),
        (7, "r", "e"))
      .toDF("rank", "left", "right")
    val corpus = Tables.load(spark, TestSpark.sf, "documents")
      .select($"doc_id", $"text")
    val rep = TextAnalysis.bpeVocabReport(corpus, "doc_id", "text", merges,
        topK = 10000)
      .collect()
    // Σ cnt over the (here complete) vocabulary == Σ BpeCount: the
    // report and the counter run the same merge loop
    val totalTokens = TextAnalysis.bpeCount(corpus, "doc_id", "text", merges)
      .agg(org.apache.spark.sql.functions.sum($"bpe_cnt")).collect()(0).getLong(0)
    assert(rep.map(_.getAs[Long]("cnt")).sum == totalTokens)
    // rank is 1..n in cnt-desc order; coverage is monotone to 1.0
    val byRank = rep.sortBy(_.getAs[Int]("rank"))
    assert(byRank.map(_.getAs[Int]("rank")).toSeq == (1 to rep.length))
    val cov = byRank.map(_.getAs[Double]("coverage"))
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b })
    assert(math.abs(cov.last - 1.0) < 1e-9)
    // token_id <-> token is a bijection in the report
    assert(rep.map(_.getAs[Int]("token_id")).distinct.length == rep.length)
    assert(rep.map(_.getAs[String]("token")).distinct.length == rep.length)
  }

  test("image dHash near-dup: local edits pair, rewrites don't, banding is exact under nBands") {
    import spark.implicits._
    val base = Seq.tabulate(6)(i =>
      (i.toLong, s"doc $i " + (0 until 200).map(j => s"w${(i * 7 + j) % 97}").mkString(" ")))
    val media = Multimodal.asMedia(
      (base ++
        // same-length local edit of doc 0: must pair with it at small hamming
        Seq((100L, base(0)._2.patch(20, "XXXX", 4))) ++
        // exact clone of doc 1: hamming 0
        Seq((101L, base(1)._2))
      ).toDF("doc_id", "text"), "doc_id", "text")
    val pairs = Multimodal.imageNearDups(media, maxHamming = 3, nBands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.exists(p => p._1 == 0L && p._2 == 100L && p._3 <= 3),
      s"local edit must pair with its original: $pairs")
    assert(pairs.contains((1L, 101L, 0)), s"exact clone must pair at hamming 0: $pairs")
    // unrelated docs stay far apart — no cross pairs
    assert(pairs.forall(p => Set((0L, 100L), (1L, 101L)).contains((p._1, p._2))),
      s"unexpected pairs: $pairs")
    // banded recall is exact below nBands: brute-force agrees
    val dh = Multimodal.dHash(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- dh.keys; b <- dh.keys if a < b
      h = java.lang.Long.bitCount(dh(a) ^ dh(b)) if h <= 3
    } yield (a, b, h)).toSet
    assert(pairs == brute, s"banded=$pairs brute=$brute")
    // maxHamming >= nBands would lose pairs silently — refused
    val e = intercept[IllegalArgumentException] {
      Multimodal.imageNearDups(media, maxHamming = 4, nBands = 4)
    }
    assert(e.getMessage.contains("nBands"))
  }

  test("image banding: sign bit cannot break band equality (mask, not mod)") {
    import spark.implicits._
    // h1 sets bit 63 (negative long); h2 differs at bit 63 plus one bit
    // each in bands 1 and 2 (nBands=4 → 16-bit bands). Bands 0 and 3
    // of the LOW bits agree... band 3 differs (bit 63), bands 1/2 differ
    // (bits 20, 40) — ONLY band 0 is untouched, so the pigeonhole
    // match rides entirely on band 0. A sign-following `%` on the
    // unshifted band 0 makes h1's band value negative and h2's positive,
    // silently dropping the pair.
    val h1 = (1L << 63) | (1L << 20) | (1L << 40) | 0xBEEFL
    val h2 = 0xBEEFL
    assert(java.lang.Long.bitCount(h1 ^ h2) == 3)
    val dh = Seq((1L, h1), (2L, h2)).toDF("doc_id", "dhash")
    val bands = Multimodal.bandRowsOf(dh, "doc_id", 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(3)))
    // every band value sits in [0, 2^16) — never negative
    assert(bands.forall { case (_, _, v) => v >= 0L && v < (1L << 16) },
      s"band values must be masked unsigned: ${bands.mkString(",")}")
    // band 0 values are EQUAL across the pair (both 0xBEEF)
    val b0 = bands.filter(_._2 == 0).map(b => b._1 -> b._3).toMap
    assert(b0 == Map(1L -> 0xBEEFL, 2L -> 0xBEEFL), s"band 0: $b0")
    // and the nBands=64 single-bit-band edge keeps the raw hash
    val w1 = Multimodal.bandRowsOf(dh, "doc_id", 1)
      .filter($"doc_id" === 1L).select($"band_val").head().getLong(0)
    assert(w1 == h1, "w=64 band must carry the raw hash unchanged")
  }

  test("fused DHash64 == composed 72-slice chain, bit for bit (null/empty included)") {
    import spark.implicits._
    // real texts (the gate fixture shape), a same-length local edit, an
    // exact clone, a short payload (slices go empty), a 1-char payload,
    // an empty payload, and a NULL payload (composed form sums to 0)
    val base = Seq.tabulate(5)(i =>
      (i.toLong, s"doc $i " + (0 until 150).map(j => s"w${(i * 11 + j) % 89}").mkString(" ")))
    val rows = base ++ Seq(
      (100L, base(0)._2.patch(20, "XXXX", 4)),
      (101L, base(1)._2),
      (102L, "tiny"),
      (103L, "x"),
      (104L, ""),
      (105L, null.asInstanceOf[String]))
    val media = Multimodal.asMedia(rows.toDF("doc_id", "text"), "doc_id", "text")
    val fused = Multimodal.dHash(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val composed = Multimodal.dHashComposed(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused == composed,
      s"fused/composed drift: ${fused.toSeq.sorted} vs ${composed.toSeq.sorted}")
    assert(fused(105L) == 0L, "null payload must hash to 0 (composed-form contract)")
    assert(fused(104L) == 0L, "empty payload: all 72 slices empty, constant luma, 0 bits")
    // the hash is genuinely non-degenerate on real payloads
    assert(base.map(b => fused(b._1)).distinct.size == base.size)
  }

  test("image hot-bucket cap: flooded band buckets are dropped, bounded join") {
    import spark.implicits._
    // a degenerate population: 8 CONSTANT payloads (all identical —
    // every band of every pair collides) + one genuine near-dup pair
    val blank = "~" * 400
    val distinct = Seq.tabulate(2)(i =>
      (100L + i, s"doc $i " + (0 until 200).map(j => s"w${(i * 7 + j) % 97}").mkString(" ")))
    val rows = Seq.tabulate(8)(i => (i.toLong, blank)) ++
      distinct ++ Seq((200L, distinct(0)._2))  // exact clone of 100
    val media = Multimodal.asMedia(rows.toDF("doc_id", "text"), "doc_id", "text")
    val uncapped = Multimodal.imageNearDups(media, maxHamming = 3, nBands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the blank flood pairs quadratically without a cap: C(8,2) = 28
    assert(uncapped.count(p => p._1 < 100L && p._2 < 100L) == 28)
    assert(uncapped.contains((100L, 200L)))
    val capped = Multimodal.imageNearDups(media, maxHamming = 3, nBands = 4,
        maxBucketSize = Some(4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // flooded buckets (8 > 4) dropped whole; the genuine pair's buckets
    // are size 2 and survive every band
    assert(!capped.exists(p => p._1 < 100L && p._2 < 100L),
      s"flooded bucket must be dropped: $capped")
    assert(capped.contains((100L, 200L)), s"genuine pair must survive: $capped")
    // the between-form caps the CORPUS side the same way
    val stored = Multimodal.dHash(
      Multimodal.asMedia((Seq.tabulate(8)(i => (i.toLong, blank)) ++ distinct)
        .toDF("doc_id", "text"), "doc_id", "text"))
    val incoming = Multimodal.asMedia(
      Seq((300L, blank), (301L, distinct(1)._2)).toDF("doc_id", "text"),
      "doc_id", "text")
    val between = Multimodal.imageNearDupsBetween(incoming, stored,
        maxHamming = 3, nBands = 4, maxBucketSize = Some(4))
      .select($"id_new", $"id_corpus").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!between.exists(_._1 == 300L),
      s"blank probe into a capped flooded corpus bucket must not pair: $between")
    assert(between.contains((301L, 101L)),
      s"genuine probe must still pair: $between")
  }

  test("SQ: int8 range, quantization-error bound, recall floor, zero-vector safety") {
    import spark.implicits._
    val codes = Similarity.sqEncode(emb, "vec_id", "embedding")
    val raw = emb.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    codes.collect().foreach { r =>
      val id = r.getLong(0); val scale = r.getDouble(1)
      val q = r.getSeq[Int](2)
      // signed-byte range (the 1-byte/dim storage claim)
      assert(q.forall(c => c >= -127 && c <= 127),
        s"codes out of int8 range for $id: ${q.filter(c => c < -127 || c > 127)}")
      // dequantization error bound: |q_i*scale - x_i| <= scale/2
      q.zip(raw(id)).foreach { case (c, x) =>
        assert(math.abs(c * scale - x) <= scale / 2 + 1e-12,
          s"quantization error above scale/2 for $id: code $c scale $scale x $x") }
    }
    // recall floor vs exact cosine: int8 over 64 dims loses little
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0, 10)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val sq = Similarity.sqTopK(emb, "vec_id", "embedding", 0, 10)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert((exact & sq).size >= 8,
      s"SQ recall@10 collapsed: ${(exact & sq).size}/10")
    // zero vector: all-zero codes, scale 0, null score (never NaN) —
    // and it cannot enter a top-k over positive similarities
    val withZero = emb.select($"vec_id", $"embedding")
      .unionAll(Seq((99999L, Seq.fill(64)(0f))).toDF("vec_id", "embedding"))
    val zc = Similarity.sqEncode(withZero, "vec_id", "embedding")
      .filter($"vec_id" === 99999L).head()
    assert(zc.getDouble(1) == 0.0 && zc.getSeq[Int](2).forall(_ == 0))
    val served = Similarity.sqTopK(withZero, "vec_id", "embedding", 0, 10)
      .collect()
    assert(!served.exists(_.getLong(0) == 99999L))
    assert(served.forall(r => !r.isNullAt(1) && !r.getDouble(1).isNaN))
  }

  test("round-10 compiled expressions: interpreted eval == generated code") {
    import spark.implicits._
    // force both expression factory modes over the same plans and pin
    // bit-identical rows — the direct eval/doGenCode parity proof for
    // SqEncode, SqDequant, and CellResidual (the oracles prove it
    // transitively; this pins it without DuckDB in the loop)
    val cents = Similarity.collectCentroids(emb, "vec_id", "embedding", 4)
    def run(): (Set[(Long, Double, Seq[Int])], Set[(Long, Long, Seq[Double])], Set[(Long, Long)]) = {
      val enc = Similarity.sqEncode(emb, "vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Int](2))).toSet
      val res = Similarity.residualAssign(emb, "vec_id", "embedding", cents)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2))).toSet
      val dh = graft.operators.Multimodal.dHash(
          graft.operators.Multimodal.asMedia(
            Tables.load(spark, TestSpark.sf, "documents"), "doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (enc, res, dh)
    }
    val mode = "spark.sql.codegen.factoryMode"
    val old = spark.conf.get(mode, "FALLBACK")
    try {
      spark.conf.set(mode, "NO_CODEGEN")
      val interpreted = run()
      spark.conf.set(mode, "CODEGEN_ONLY")
      val generated = run()
      assert(interpreted == generated,
        "interpreted and generated evaluation diverged")
      assert(interpreted._1.nonEmpty && interpreted._2.nonEmpty &&
        interpreted._3.nonEmpty)
    } finally spark.conf.set(mode, old)
  }

  test("IVF-SQ: probes = nCells degrades to plain SQ exactly; pruning only loses probe misses") {
    import spark.implicits._
    val cents = Similarity.collectCentroids(emb, "vec_id", "embedding", 8)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id").collect().map(_.getLong(0)).toSeq
    // probing EVERY cell covers the whole corpus — the composed path
    // must reproduce the unpartitioned SQ serve row-for-row
    val all = Similarity.ivfSqTopK(emb, "vec_id", "embedding", cents,
      queryId = 0, k = 10, probes = 8)
    val plain = Similarity.sqTopK(emb, "vec_id", "embedding", 0, 10)
    assert(ids(all) == ids(plain), "probes = nCells must equal plain SQ")
    // a 2-probe serve returns a subset of the probed cells' rows and
    // keeps most of the recall on this fixture
    val pruned = ids(Similarity.ivfSqTopK(emb, "vec_id", "embedding", cents,
      queryId = 0, k = 10, probes = 2)).toSet
    assert((pruned & ids(plain).toSet).size >= 5,
      s"2-probe IVF-SQ recall collapsed: ${(pruned & ids(plain).toSet).size}")
  }

  test("residual IVF-PQ: recall >= the no-residual variant at equal (m, nCodes)") {
    import spark.implicits._
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0, 10)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val cents = Similarity.collectCentroids(emb, "vec_id", "embedding", 8)
    val plain = Similarity.ivfPqTopK(emb, "vec_id", "embedding", cents,
        Similarity.pqCodebooks(emb, "vec_id", "embedding", 4, 16, 8),
        16, 0, 10, probes = 2)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val res = Similarity.ivfPqTopKResidual(emb, "vec_id", "embedding", cents,
        Similarity.pqCodebooksResidual(emb, "vec_id", "embedding", cents,
          4, 16, 8),
        16, 0, 10, probes = 2)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    // the codebook budget spent on the residual distribution (centered
    // within each cell) beats the same budget on absolute position
    val rPlain = (exact & plain).size
    val rRes = (exact & res).size
    assert(rRes >= rPlain,
      s"residual recall@10 $rRes below no-residual $rPlain")
    assert(rRes > 0, "residual serving must recover true neighbors")
    // trained residual codebooks (2 Lloyd rounds per subspace) are at
    // least as good as seeds on the same fixture
    val resTrained = Similarity.ivfPqTopKResidual(emb, "vec_id", "embedding",
        cents,
        Similarity.pqCodebooksResidual(emb, "vec_id", "embedding", cents,
          4, 16, 8, iters = 2),
        16, 0, 10, probes = 2)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert((exact & resTrained).nonEmpty)
  }

  test("production-dimension PQ (m=8, nCodes=256): compiles in whole-stage codegen, serves") {
    import spark.implicits._
    // the shape that killed the per-code CASE-chain LUT: m·nCodes = 2,048
    // branches per row (and 2,048 broadcast columns in the batch form)
    // guaranteed a 64KB-method codegen fallback at the published standard
    // PQ parameters; the array-LUT form is constant expression size
    val cents = Similarity.collectCentroids(emb, "vec_id", "embedding", 8)
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, subDim = 8, nCodes = 256)
    assert(cb.length == 8 && cb.forall(_.length == 256))
    val codes = Similarity.ivfPqEncode(emb, "vec_id", "embedding", cents, cb, 8)
    val served = Similarity.ivfPqKnnJoinStored(
      emb.filter($"vec_id" < 3), codes, "vec_id", "vec_id", "embedding",
      cents, cb, subDim = 8, k = 5, probes = 2, excludeSelf = true)
    // AQE off so executedPlan exposes its WholeStageCodegen subtrees to
    // codegenStringSeq directly; codegen fallback off so a compile
    // failure THROWS instead of silently interpreting
    val oldFb = spark.conf.get("spark.sql.codegen.fallback")
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.codegen.fallback", "false")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      assert(served.collect().length == 15) // 3 queries × k=5
      // and no whole-stage subtree's compiled methods approach the 64KB
      // JIT-refusal/fallback limit (hugeMethodLimit default 65535)
      import org.apache.spark.sql.execution.debug._
      val stats = codegenStringSeq(served.queryExecution.executedPlan)
      assert(stats.nonEmpty, "expected whole-stage codegen subtrees")
      stats.foreach { case (_, _, bc) =>
        assert(bc.maxMethodCodeSize < 65535,
          s"a generated method hit ${bc.maxMethodCodeSize} bytes") }
      // same guarantee for the single-query stored path (driver-built LUT)
      val single = Similarity.ivfPqTopKStored(codes, "vec_id", cents, cb,
        subDim = 8, Similarity.queryVecOf(emb, "vec_id", "embedding", 0),
        k = 5, probes = 2, excludeId = Some(0L))
      val sStats = codegenStringSeq(single.queryExecution.executedPlan)
      assert(sStats.nonEmpty)
      sStats.foreach { case (_, _, bc) => assert(bc.maxMethodCodeSize < 65535) }
      // the RESIDUAL chain at the same production dimensions: the encode
      // (CellResidual assignment+subtraction feeding 8 PqCodeOf codes)
      // is the one full-corpus vector pass of a residual index build —
      // it must compile in whole-stage codegen, not fall back
      val rcb = Similarity.pqCodebooksResidual(emb, "vec_id", "embedding",
        cents, m = 8, subDim = 8, nCodes = 256)
      val rCodes = Similarity.ivfPqEncodeResidual(
        emb, "vec_id", "embedding", cents, rcb, 8)
      assert(rCodes.collect().length == emb.count())
      val eStats = codegenStringSeq(rCodes.queryExecution.executedPlan)
      assert(eStats.nonEmpty, "residual encode must run in whole-stage codegen")
      eStats.foreach { case (_, _, bc) =>
        assert(bc.maxMethodCodeSize < 65535,
          s"residual encode generated method hit ${bc.maxMethodCodeSize} bytes") }
      val rServed = Similarity.ivfPqTopKResidualStored(rCodes, "vec_id",
        cents, rcb, subDim = 8,
        Similarity.queryVecOf(emb, "vec_id", "embedding", 0),
        k = 5, probes = 2, excludeId = Some(0L))
      assert(rServed.collect().length == 5)
      val rStats = codegenStringSeq(rServed.queryExecution.executedPlan)
      assert(rStats.nonEmpty)
      rStats.foreach { case (_, _, bc) => assert(bc.maxMethodCodeSize < 65535) }
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", oldFb)
      spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
    }
  }

  test("rerank: recall >= pure ADC, unbounded candC degrades to exact-over-probed-cells") {
    import spark.implicits._
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0, 10)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val cents = Similarity.collectCentroids(emb, "vec_id", "embedding", 8)
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding", 4, 16, 8)
    val adc = Similarity.ivfPqTopK(emb, "vec_id", "embedding", cents, cb,
      16, 0, 10, probes = 2).select($"vec_id").collect().map(_.getLong(0)).toSet
    val rr = Similarity.ivfPqTopKRerank(emb, "vec_id", "embedding", cents, cb,
        16, 0, 10, probes = 2, candC = 20)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert((exact & rr).size >= (exact & adc).size,
      s"re-ranking a candidate superset must not lose recall: " +
        s"rr=${(exact & rr).size} adc=${(exact & adc).size}")
    // candC covering every probed row degrades to EXACT cosine over the
    // probed cells — ivfTopKWith's answer, bit for bit
    val rrAll = Similarity.ivfPqTopKRerank(emb, "vec_id", "embedding", cents,
        cb, 16, 0, 10, probes = 2, candC = 1000000)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ivf = Similarity.ivfTopKWith(emb, "vec_id", "embedding", cents,
        0, 10, probes = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rrAll == ivf, s"rrAll=$rrAll ivf=$ivf")
    // a candidate budget below k refuses
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKRerank(emb, "vec_id", "embedding", cents, cb,
        16, 0, 10, candC = 5)
    }
    assert(e.getMessage.contains("candC"))
  }

  test("minhash index append law: append(build(A), B) == build(A∪B) bit-for-bit") {
    import spark.implicits._
    val base = docs.select($"doc_id", $"text").filter($"doc_id" < 300)
    val a = base.filter($"doc_id" < 200)
    val b = base.filter($"doc_id" >= 200)
    val idxA = Dedup.minhashIndex(a, "doc_id", "text", k = 16, nBands = 4)
    val appended = Dedup.minhashIndexAppend(idxA, b, "doc_id", "text",
      k = 16, nBands = 4)
    val full = Dedup.minhashIndex(base, "doc_id", "text", k = 16, nBands = 4)
    def bandsSet(i: Dedup.MinhashIndex) = i.bands.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(bandsSet(appended) == bandsSet(full),
      "appended band rows must equal the fresh build's")
    def setsSet(i: Dedup.MinhashIndex) = i.sets.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).sorted.toList,
        (2 until 18).map(r.getLong).toList)).toSet
    assert(setsSet(appended) == setsSet(full),
      "appended sketch rows must equal the fresh build's")
    // appending with drifted build parameters refuses
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashIndexAppend(idxA, b, "doc_id", "text", k = 8, nBands = 4)
    }
    assert(e.getMessage.contains("append"))
    // SAME k but drifted nBands passes the k-schema guard — the eager
    // stored-band_val layout check must refuse BEFORE anything unions
    // (a parquet append would persist the mixed store first otherwise)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.minhashIndexAppend(idxA, b, "doc_id", "text", k = 16, nBands = 8)
    }
    assert(e2.getMessage.contains("minima per band"), e2.getMessage)
  }

  test("batch two-stage retrieval: recall >= stored ADC; all-probe unbounded candC == exact kNN join") {
    import spark.implicits._
    val cents = Similarity.collectCentroids(emb, "vec_id", "embedding", 8)
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding", 4, 16, 8)
    val codes = Similarity.ivfPqEncode(emb, "vec_id", "embedding", cents, cb, 16)
    val queries = emb.filter($"vec_id" < 5).select($"vec_id", $"embedding")
    def byQuery(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (q, rs) =>
        q -> rs.map(t => (t._2, t._3)).sortBy(p => (-p._2, p._1)).toSeq }
    // probing every cell with unbounded candC degrades to the EXACT
    // kNN join, bit for bit (candidates = the whole corpus)
    val rrAll = byQuery(Similarity.ivfPqKnnJoinStoredRerank(queries, codes,
      emb, "vec_id", "vec_id", "embedding", "embedding", cents, cb, 16,
      k = 5, probes = 8, candC = 1000000, excludeSelf = true))
    val exact = byQuery(Similarity.knnJoin(queries, emb, "vec_id", "vec_id",
      "embedding", "embedding", k = 5, excludeSelf = true))
    assert(rrAll == exact, s"rrAll=$rrAll exact=$exact")
    // per query, re-ranked recall vs exact is >= the pure stored-ADC
    // path's (re-ranking a superset can only promote true neighbors)
    val adc = byQuery(Similarity.ivfPqKnnJoinStored(queries, codes,
      "vec_id", "vec_id", "embedding", cents, cb, 16, k = 5, probes = 2,
      excludeSelf = true))
    val rr = byQuery(Similarity.ivfPqKnnJoinStoredRerank(queries, codes,
      emb, "vec_id", "vec_id", "embedding", "embedding", cents, cb, 16,
      k = 5, probes = 2, candC = 15, excludeSelf = true))
    exact.foreach { case (q, want) =>
      val wantIds = want.map(_._1).toSet
      val adcHits = adc(q).map(_._1).toSet & wantIds
      val rrHits = rr(q).map(_._1).toSet & wantIds
      assert(rrHits.size >= adcHits.size,
        s"query $q: rerank recall ${rrHits.size} < ADC ${adcHits.size}")
    }
    // a candidate budget below k refuses
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqKnnJoinStoredRerank(queries, codes, emb, "vec_id",
        "vec_id", "embedding", "embedding", cents, cb, 16, k = 5, candC = 3)
    }
    assert(e.getMessage.contains("candC"))
  }

  test("domainReport: garbage URLs excluded from counts and total; NULL-host domain is NULL") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "https://a.example.com/x"), (2L, "https://b.example.com/y"),
      (3L, "http://only.org/z"), (4L, "garbage"), (5L, "also garbage"))
      .toDF("id", "url")
    val out = TextAnalysis.domainReport(df, "url", topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // 3 parseable rows: example.com 2/3, only.org 1/3 — garbage absent
    // from the rows AND the denominator
    assert(out.toSeq == Seq(("example.com", 2L, 0.666667),
      ("only.org", 1L, 0.333333)), out.toSeq.toString)
    // the NULL-host guard: registrableDomain(NULL) is NULL, never the
    // concat_ws empty string
    val dom = df.select(TextAnalysis.registrableDomain(
        TextAnalysis.urlHost($"url")).as("d"))
      .collect().map(r => Option(r.getString(0)))
    assert(dom.count(_.isEmpty) == 2, dom.mkString(","))
    assert(!dom.flatten.contains(""), "NULL host must never yield ''")
  }

  test("LR quality classifier: separates classes, deterministic, weights round-trip") {
    import spark.implicits._
    import graft.operators.Classifier
    val base = docs.select($"doc_id", $"text").filter($"doc_id" < 300)
    val pos = base.filter($"doc_id" % 2 === 0)
    val neg = base.filter($"doc_id" % 2 === 1)
      .select($"doc_id", upper($"text").as("text"))
    val w = Classifier.lrTrain(pos, neg, "doc_id", "text",
      buckets = 64, iters = 2, lr = 0.5)
    // deterministic: retraining on a repartitioned input gives
    // bit-identical weights (decimal sums + grid quantization)
    val w2 = Classifier.lrTrain(pos.repartition(7), neg.repartition(5),
      "doc_id", "text", buckets = 64, iters = 2, lr = 0.5)
    assert(w.toSeq == w2.toSeq)
    // the classifier separates the classes it was trained on
    val wDf = Classifier.weightsToDf(spark, w)
    def meanScore(df: org.apache.spark.sql.DataFrame) =
      Classifier.lrScore(df, "doc_id", "text", wDf, buckets = 64)
        .agg(avg($"quality_score")).head().getDouble(0)
    val mp = meanScore(pos)
    val mn = meanScore(neg)
    assert(mp > mn + 0.1,
      s"pos mean $mp must clearly exceed neg mean $mn")
    // the weight frame round-trips parquet bit-for-bit
    val out = "target/test_sink/lr_weights"
    wDf.write.mode("overwrite").parquet(out)
    assert(Classifier.weightsFromDf(spark.read.parquet(out)).toSeq == w.toSeq)
    // degenerate inputs refuse loudly, and the refusal leaves no cached
    // design matrix behind
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      Classifier.lrTrain(pos.filter(lit(false)), neg.filter(lit(false)),
        "doc_id", "text", buckets = 64)
    }
    assert(e.getMessage.contains("empty training set"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"lrTrain left cached RDDs $leaked")
  }

  test("round-8 review hardening: m-drift codes refusal, fractional ids, untrained buckets") {
    import spark.implicits._
    // a codes table with MORE subspaces than the supplied codebooks is
    // drift, not a subset to score — refuse by name (code values stay
    // inside the cid range, so the per-code raise could never catch it)
    val cents = Similarity.collectCentroids(emb, "vec_id", "embedding", 8)
    val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding", 4, 16, 8)
    val codes = Similarity.ivfPqEncode(emb, "vec_id", "embedding", cents, cb, 16)
    val e1 = intercept[IllegalArgumentException] {
      Similarity.ivfPqKnnJoinStored(emb.filter($"vec_id" === 0),
        codes.withColumn("code_4", lit(0L)), "vec_id", "vec_id",
        "embedding", cents, cb, 16, k = 5)
    }
    assert(e1.getMessage.contains("m=4") && e1.getMessage.contains("code_4"))
    // fractional numeric ids TRUNCATE under try_cast — the lossless
    // round-trip check raises instead of colliding sids across docs
    import graft.operators.TextAnalysis
    val frac = Seq((3.2, "One sentence here. Two more here."),
      (3.9, "Another doc here. Fine text here.")).toDF("doc_id", "text")
    val e2 = intercept[Exception] {
      TextAnalysis.filterSentencesByLm(frac, "doc_id", "text", 0.2).collect()
    }
    assert(causeChain(e2).contains("losslessly"), causeChain(e2))
    // integer-valued DOUBLE ids round-trip and still work
    val whole = Seq((3.0, "One sentence here. Two more here."),
      (4.0, "Another doc here. Fine text here.")).toDF("doc_id", "text")
    assert(TextAnalysis.filterSentencesByLm(whole, "doc_id", "text", 0.2)
      .count() == 2)
    // a fractional part below the old DECIMAL(38,9) HALF_UP threshold
    // (5e-10) slid through the scale-9 round-trip; scale 18 catches it
    val tiny = Seq((3.0000000001, "One sentence here. Two more here."),
      (4.0, "Another doc here. Fine text here.")).toDF("doc_id", "text")
    val e3 = intercept[Exception] {
      TextAnalysis.filterSentencesByLm(tiny, "doc_id", "text", 0.2).collect()
    }
    assert(causeChain(e3).contains("losslessly"), causeChain(e3))
    // stream scorer: a token hitting a bucket ABSENT from the trained
    // weights contributes the batch scorer's left-join 0.0 instead of
    // killing the query (the fused LrLogit skips untrained buckets)
    val sparse = Array((0, 0.25)) // bucket 0 only — most tokens miss it
    val scored = graft.streaming.Corpus.scoreQualityStream(
      docs.select($"doc_id", $"text").limit(50), "doc_id", "text",
      sparse, buckets = 64).collect()
    assert(scored.length == 50 && scored.forall(!_.isNullAt(1)))
  }

  test("urlFilter: registrable domains, ccSLD, casing, garbage URLs, blocklist") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val df = Seq(
      (1L, "https://a.b.example.com/x"),
      (2L, "http://EXAMPLE.com"),
      (3L, "https://news.bbc.co.uk:443/s"),
      (4L, "nonsense url"),
      (5L, "https://spam.bad.org/z"),
      (6L, "https://example.com./x"),
      (7L, "http://192.168.0.1/admin")).toDF("id", "url")
    val bl = Seq("BAD.org").toDF("domain")
    val out = TextAnalysis.urlFilter(df, "id", "url", bl).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(out == Map(
      1L -> (("a.b.example.com", "example.com")),
      2L -> (("example.com", "example.com")),
      3L -> (("news.bbc.co.uk", "bbc.co.uk")),
      // trailing-dot FQDN and IP-literal hosts pass through UNCHANGED —
      // "com." / "168.0.1" would be bogus grouping/blocklist keys
      6L -> (("example.com.", "example.com.")),
      7L -> (("192.168.0.1", "192.168.0.1"))),
      s"got $out")
    // bracketed IPv6 likewise passes through (no label hierarchy)
    val v6 = df.sparkSession.range(1)
      .select(TextAnalysis.registrableDomain(lit("[2001:db8::1]")).as("d"))
      .head().getString(0)
    assert(v6 == "[2001:db8::1]", v6)
    // a blocklist without a `domain` column refuses by name
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.urlFilter(df, "id", "url", Seq("x").toDF("d"))
    }
    assert(e.getMessage.contains("domain"))
  }
}
