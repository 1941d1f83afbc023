package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search over embedding columns (SURVEY.md §2.10):
  * brute-force cosine top-k as the exact baseline, and a deterministic
  * random-hyperplane LSH bucketing as the scale path.
  *
  * 100 TB posture: the query vector is a broadcast (it's one row); the
  * brute-force path is a single scan + TakeOrderedAndProject (no shuffle
  * of the corpus); the LSH path prunes the scan to one bucket before any
  * distance math (a partition-prunable key if the table is written
  * bucketed/partitioned by `bucket`).
  */
object Similarity {

  private def bridgeE(c: Column) = org.apache.spark.sql.GraftBridge.expression(c)
  private def bridgeC(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftBridge.column(e)

  /** Elementwise-double cosine similarity of two array columns,
    * accumulated left-to-right (deterministic, engine-reproducible).
    * Custom expression — the composed zip_with/aggregate form is
    * interpreted HOFs (boxing per element); [[cosineComposed]] keeps the
    * built-in form for the equality law in PropertySpec. */
  def cosine(a: Column, b: Column): Column =
    bridgeC(graft.functions.CosineSim(bridgeE(a), bridgeE(b)))

  /** Built-in-composition cosine (reference semantics for tests). */
  def cosineComposed(a: Column, b: Column): Column = {
    val ad = transform(a, _.cast("double"))
    val bd = transform(b, _.cast("double"))
    val dot = aggregate(zip_with(ad, bd, _ * _), lit(0.0), _ + _)
    val na = aggregate(transform(ad, x => x * x), lit(0.0), _ + _)
    val nb = aggregate(transform(bd, x => x * x), lit(0.0), _ + _)
    dot / (sqrt(na) * sqrt(nb))
  }

  /** Deterministic ±1 hyperplanes: sign p,d = parity of the first md5
    * byte of "p:d". Same construction is inlined into oracle SQL. */
  def planeSigns(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (p, d) =>
      md.reset()
      val h = md.digest(s"$p:$d".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1.0 else -1.0
    }
  }

  /** LSH bucket id: bit p set iff dot(v, plane_p) > 0. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      val dot = bridgeC(graft.functions.DotProduct(
        bridgeE(vec), bridgeE(typedLit(plane.toSeq))))
      when(dot > 0.0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** IVF-style ANN: coarse-quantize every vector to its nearest of
    * `nCells` centroid vectors (deterministic: the embeddings of the
    * `nCells` lowest ids serve as centroids — at production scale these
    * would come from a sampled k-means), then search only the query's
    * cell plus `probes-1` next-nearest cells. The cell id is a
    * partition-prunable key, like the LSH bucket.
    *
    * 100 TB posture: the centroid set is tiny (nCells rows), so it is
    * collected once and inlined as literals — cell assignment is then a
    * pure per-row projection (`argmax_i cosine(vec, centroid_i)`) with
    * ZERO exchange of the corpus. The earlier crossJoin+window form
    * shuffled an nCells×-expanded corpus on id just to compute the
    * argmax; PlanSpec now pins the no-Exchange shape. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryId: Long, k: Int, nCells: Int = 8,
              probes: Int = 2): DataFrame =
    ivfTopKWith(emb, idCol, vecCol,
      collectCentroids(emb, idCol, vecCol, nCells), queryId, k, probes)

  /** IVF search against an EXPLICIT centroid set — compose with
    * [[kmeansTrain]] + [[centroidsOf]] for the production
    * build-index-then-search flow (seed centroids are only an init). */
  def ivfTopKWith(emb: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[(Long, Seq[Double])],
                  queryId: Long, k: Int, probes: Int = 2): DataFrame = {
    val assigned = emb.select(col(idCol), col(vecCol),
      cellOf(col(vecCol), centroids).as("cell"))
    assigned.join(broadcast(probeCells(emb, idCol, vecCol, centroids,
        queryId, probes)), "cell")
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), round(cosine(col(vecCol), col("__qvec")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** The query's `probes` nearest coarse cells, with the query vector
    * carried alongside — a 1-row × nCells plan, nothing from the
    * corpus. Shared by [[ivfTopKWith]] and [[ivfPqTopK]] so the probe
    * tie-break (cosine desc, lowest cid) can never drift between them. */
  private def probeCells(emb: DataFrame, idCol: String, vecCol: String,
                         centroids: Array[(Long, Seq[Double])],
                         queryId: Long, probes: Int): DataFrame = {
    val centDf = emb.sparkSession.createDataFrame(centroids.toSeq)
      .toDF("__cid", "__cvec")
    emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"))
      .crossJoin(broadcast(centDf))
      .select(col("__qvec"), col("__cid"),
        cosine(col("__qvec"), col("__cvec")).as("__qsim"))
      .orderBy(col("__qsim").desc, col("__cid")).limit(probes)
      .select(col("__qvec"), col("__cid").as("cell"))
  }

  /** Deterministic seed centroids: the embeddings of the `nCells`
    * lowest ids (at production scale: a sampled k-means++ init). Tiny by
    * construction — safe to collect and inline as plan literals. */
  def collectCentroids(emb: DataFrame, idCol: String, vecCol: String,
                       nCells: Int): Array[(Long, Seq[Double])] =
    emb.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).cast("long"), col(vecCol))
      .collect()
      .map { r =>
        (r.getLong(0), r.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
          case other => throw new IllegalArgumentException(
            s"expected float/double embedding element, got $other")
        }.toIndexedSeq)
      }

  /** Nearest-centroid cell id as a pure per-row projection — argmax
    * cosine over the inlined centroids with ties to the LOWEST cid (the
    * row_number(ORDER BY sim DESC, cid) semantics): array_max over
    * struct(sim, -cid) picks max sim, then (via -cid) min cid. ZERO
    * exchange of the corpus. */
  def cellOf(vec: Column, centroids: Array[(Long, Seq[Double])]): Column = {
    val scored = array(centroids.toIndexedSeq.map { case (cid, cv) =>
      struct(cosine(vec, typedLit(cv)).as("sim"), lit(-cid).as("ncid"))
    }: _*)
    -array_max(scored).getField("ncid")
  }

  /** One distributed Lloyd (k-means) iteration over the embedding
    * corpus — the centroid-training step a production IVF index builds
    * its cells with. Assignment is the zero-shuffle [[cellOf]]
    * projection; the update step posexplodes the vector and partially
    * aggregates (cell, dim) sums map-side, so the only exchange carries
    * nCells×dim accumulator rows, never vectors.
    *
    * Element sums accumulate in DECIMAL(20,10) (exact, order-independent
    * — double accumulation order differs run to run under AQE and across
    * engines) and divide in double at the end. Output: one row per
    * (cell, dim position) with the new centroid coordinate and the
    * cell's member count — the shape you'd feed back into the next
    * iteration's literal centroid set. */
  def kmeansIterate(emb: DataFrame, idCol: String, vecCol: String,
                    nCells: Int = 8): DataFrame =
    kmeansStep(emb, vecCol, collectCentroids(emb, idCol, vecCol, nCells))

  /** One assign+update round against an explicit centroid set. */
  def kmeansStep(emb: DataFrame, vecCol: String,
                 centroids: Array[(Long, Seq[Double])]): DataFrame =
    emb.select(cellOf(col(vecCol), centroids).as("cell"),
        posexplode(col(vecCol)).as(Seq("pos", "elem")))
      .groupBy(col("cell"), col("pos"))
      .agg(
        round((sum(col("elem").cast("double").cast(DecimalType(20, 10)))
          .cast("double") / count(lit(1))), 6).as("c_val"),
        count(lit(1)).as("n"))

  /** Full multi-round Lloyd training: seed centroids from the corpus,
    * then `iters` assign+update rounds, each round's centroids fed back
    * as the next round's inlined literal set. The per-round feedback is
    * nCells×dim doubles collected to the driver (a few KB at any corpus
    * size) — the corpus itself is only ever scanned, never shuffled, and
    * the update aggregate combines map-side.
    *
    * Centroid coordinates are rounded to 6 decimals at each round
    * boundary — that rounding is part of the operator contract (it is
    * what makes every round's assignment bit-reproducible across
    * engines and across reruns, and it perturbs cluster geometry by
    * ≤1e-6 per coordinate). Returns the final round's (cell, pos,
    * c_val, n). */
  def kmeansTrain(emb: DataFrame, idCol: String, vecCol: String,
                  nCells: Int = 8, iters: Int = 2): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    var centroids = collectCentroids(emb, idCol, vecCol, nCells)
    var out = kmeansStep(emb, vecCol, centroids)
    var i = 1
    while (i < iters) {
      centroids = centroidsOf(out)
      out = kmeansStep(emb, vecCol, centroids)
      i += 1
    }
    out
  }

  /** Collect a [[kmeansStep]]/[[kmeansTrain]] output into the literal
    * centroid array the assignment projection inlines (nCells×dim
    * doubles — KB at any corpus size). */
  def centroidsOf(out: DataFrame): Array[(Long, Seq[Double])] =
    out.orderBy(col("cell"), col("pos"))
      .select(col("cell"), col("c_val")).collect()
      .groupBy(_.getLong(0)).toArray
      .map { case (cell, rows) =>
        (cell, rows.map(_.getDouble(1)).toIndexedSeq: Seq[Double]) }
      .sortBy(_._1)

  /** Hyperplane count sized to the corpus: within-bucket candidate
    * pairing is quadratic in bucket occupancy, so the bucket count must
    * GROW with the corpus — P = ceil(log2(n / targetOccupancy)) planes
    * gives 2^P buckets and expected occupancy n/2^P ≤ target. At n=10⁹
    * and target 1024 that is P=20 (≈10⁶ buckets); a fixed small P (the
    * old default 6 ⇒ 64 buckets) is quadratic blowup at scale. Exact
    * duplicates always collide regardless of P (identical vectors get
    * identical sign patterns), so raising P costs recall only on
    * *near*-dups, which banded multi-probe would recover if needed. */
  def autoPlanes(corpusSize: Long, targetOccupancy: Long = 1024L): Int = {
    require(targetOccupancy > 0, "targetOccupancy must be positive")
    val n = math.max(corpusSize, 1L).toDouble
    math.max(1, math.ceil(math.log(n / targetOccupancy) / math.log(2.0)).toInt)
  }

  /** Embedding-cosine near-duplicate pairs (SURVEY §2.10 dedup mode):
    * candidate pairs share an LSH hyperplane bucket (the only join key —
    * never a cross product), then exact cosine confirms ≥ `simThreshold`.
    * Multi-probe is unnecessary here: near-identical vectors land in the
    * same bucket with overwhelming probability, and dedup tolerates
    * sub-unit recall (missed dups survive, nothing is wrongly dropped).
    *
    * `nPlanes <= 0` (the default) derives the plane count from the
    * corpus size via [[autoPlanes]] so bucket occupancy stays bounded as
    * the corpus grows; pass an explicit positive value to pin it (the
    * oracle-gated query does, so its inlined-plane SQL stays stable).
    * Supply `corpusSize` (from catalog/file statistics) to avoid the
    * count() job the auto-derivation otherwise runs eagerly — at scale
    * an extra full pass over an expensive upstream plan is real money.
    * `maxBucketSize` drops oversized buckets before the self-join (the
    * hot-bucket quadratic-fanout guard — see [[Dedup.capBuckets]]):
    * [[autoPlanes]] bounds EXPECTED occupancy, the cap bounds the
    * worst case (a spam cluster of near-identical vectors lands whole
    * in one bucket regardless of plane count). */
  def embeddingNearDups(emb: DataFrame, idCol: String, vecCol: String,
                        simThreshold: Double, nPlanes: Int = 0,
                        dim: Int = 64, corpusSize: Long = -1L,
                        maxBucketSize: Option[Int] = None): DataFrame = {
    val p = if (nPlanes > 0) nPlanes
      else autoPlanes(if (corpusSize > 0) corpusSize else emb.count())
    val planes = planeSigns(p, dim)
    // both self-join sides (and the bucket cap) read the bucketed
    // frame: checkpoint it so the P-dot-product bucket assignment runs
    // once per row, not once per reference. The blocks carry the
    // vectors — the same payload the join shuffles anyway.
    val bucketed = Reuse.Local(emb.select(col(idCol), col(vecCol),
      lshBucket(col(vecCol), planes).as("bucket")))
    Dedup.bucketPairs(bucketed, idCol, Seq("bucket"), maxBucketSize)
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        round(cosine(col(s"x.$vecCol"), col(s"y.$vecCol")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= simThreshold)
  }

  /** SemDeDup-style semantic near-duplicate pairs: documents are
    * assigned to trained k-means cells ([[kmeansTrain]] →
    * [[centroidsOf]] → the zero-exchange [[cellOf]] projection), and
    * exact cosine is computed only WITHIN a cell — the cluster-then-
    * compare decomposition that makes corpus-scale semantic dedup
    * tractable (pairwise work is quadratic per cell, never global).
    *
    * 100 TB posture: cell assignment is a per-row projection against
    * inlined centroid literals (zero exchange); the self-join shuffles
    * on the cell id only; `maxCellSize` drops degenerate cells before
    * the join ([[Dedup.capBuckets]] — same worst-case fanout bound as
    * the LSH band joins; a capped cell costs recall, never blowup).
    * Recall is sub-unit by construction (near-dups straddling a cell
    * boundary are missed) — the standard SemDeDup trade. */
  def semanticNearDups(emb: DataFrame, idCol: String, vecCol: String,
                       centroids: Array[(Long, Seq[Double])],
                       simThreshold: Double,
                       maxCellSize: Option[Int] = None): DataFrame = {
    val assigned = Reuse.Local(emb.select(col(idCol), col(vecCol),
      cellOf(col(vecCol), centroids).as("cell")))
    Dedup.bucketPairs(assigned, idCol, Seq("cell"), maxCellSize)
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        round(cosine(col(s"x.$vecCol"), col(s"y.$vecCol")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= simThreshold)
  }

  /** SemDeDup keep-set: every document that is NOT the semantic
    * duplicate of a lower-id document in its cell. Anti-join against
    * the pair list's right side — the same keep-first-ingested contract
    * as [[Dedup]]'s exact dedup, per semantic group. Returns (id, cell)
    * for the survivors (the cell id is the partition-prunable index key
    * a downstream write would bucket by). */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[(Long, Seq[Double])],
                    simThreshold: Double,
                    maxCellSize: Option[Int] = None): DataFrame = {
    val pairs = semanticNearDups(emb, idCol, vecCol, centroids,
      simThreshold, maxCellSize)
    emb.select(col(idCol), cellOf(col(vecCol), centroids).as("cell"))
      .join(pairs.select(col("id_b")), col(idCol) === col("id_b"), "left_anti")
  }

  /** Embedding OUTLIER filter — the curation step that drops vectors
    * least like their own neighborhood (mislabeled captions, encoder
    * failures, off-distribution noise park far from every centroid):
    * assign each vector to its nearest centroid (the zero-exchange
    * [[cellOf]] projection), score cosine to the OWN cell centroid, and
    * keep rows at or above the per-cell `q`-quantile of that
    * similarity. Per-CELL rather than global because typicality is
    * local: a tight cluster's 0.90 similarity can be its outlier tail
    * while a diffuse cluster's 0.70 is mainstream — one global cut
    * would empty diffuse cells and keep every tight-cell outlier.
    *
    * Composition, not new machinery: [[cellOf]] +
    * [[Sampling.keepAboveQuantileByGroup]]. Scale shape: assignment and
    * own-centroid scoring are codegen'd projections over inlined
    * centroid literals (zero exchange); the per-cell threshold agg
    * shuffles only (id, cell, sim) rows and broadcasts back nCells
    * 1-row thresholds. Similarity rounds to 6 decimals before the
    * quantile (oracle float parity). Output: (idCol, cell,
    * centroid_sim) for the kept rows. */
  def embeddingOutliers(emb: DataFrame, idCol: String, vecCol: String,
                        centroids: Array[(Long, Seq[Double])],
                        q: Double): DataFrame = {
    require(centroids.nonEmpty, "embeddingOutliers: need at least one centroid")
    val simToOwn = centroids.toIndexedSeq.tail.foldLeft(
      when(col("cell") === centroids.head._1,
        cosine(col(vecCol), typedLit(centroids.head._2)))) {
      case (acc, (cid, cv)) =>
        acc.when(col("cell") === cid, cosine(col(vecCol), typedLit(cv)))
    }.otherwise(raise_error(
      lit("embeddingOutliers: cell id outside the centroid set")))
    val scored = emb
      .select(col(idCol), cellOf(col(vecCol), centroids).as("cell"), col(vecCol))
      .select(col(idCol), col("cell"), round(simToOwn, 6).as("centroid_sim"))
    Sampling.keepAboveQuantileByGroup(scored, col("cell"),
      col("centroid_sim"), q)
  }

  /** MMR — maximal-marginal-relevance DIVERSIFIED selection (Carbonell/
    * Goldstein SIGIR'98): greedily pick `k` items from a BOUNDED
    * candidate list (an upstream serve's top-N — top-k lists, never a
    * corpus), each round taking the argmax of
    * `λ·rel − (1−λ)·max_{s∈selected} cos(vec, s)` (first round: `λ·rel`
    * alone), score quantized to 6 and tie-broken by id — the
    * relevance-vs-redundancy balance a RAG context assembler runs after
    * retrieval.
    *
    * Shape: the greedy is INHERENTLY sequential — `k` tiny Spark rounds
    * over the checkpointed candidate frame (the k-means/BPE round
    * pattern), each a TakeOrderedAndProject + 1-row collect; selected
    * vectors inline as literals (k·dim doubles — KB-scale). `(1−λ)` is
    * computed once in IEEE double (`1.0 − λ`) so an oracle replays the
    * exact constant. Candidates above `maxCandidates` refuse loudly —
    * the bounded-input contract is by design, not an accident of scale.
    * Output: (idCol, relCol, mmr, rank). */
  /** The MMR blend on a DECIMAL-EXACT grid: rel and max-sim are
    * round-6 doubles (exact nominal 6-decimal values within 1 ulp), so
    * casting to DECIMAL(18,6) recovers the nominals exactly; λ and
    * (1−λ) are scale-6 decimal literals (their sum is exactly 1); the
    * products/difference are exact decimal arithmetic and the terminal
    * round(·, 6) is HALF_UP — which DuckDB's decimal round replays
    * bit-for-bit (half away from zero on positives AND negatives).
    * A double-arithmetic blend lands on exact decimal halves (λ·rel
    * has 7 decimals ending in 5 whenever rel's last digit is 5) where
    * the two engines' double rounding DISAGREES — measured on
    * llm_mmr_join's fixture (0.2600395 → 0.26004 vs 0.260039). */
  private def mmrScore(rel: Column, maxSim: Option[Column],
                       lam: Double): Column = {
    val lamD = BigDecimal(lam).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val l = lit(lamD)
    val m = lit(BigDecimal(1).setScale(6) - lamD)
    val relD = rel.cast(DecimalType(18, 6))
    val base = maxSim match {
      case None => l * relD
      case Some(ms) => l * relD - m * ms.cast(DecimalType(18, 6))
    }
    round(base, 6).cast("double")
  }

  def mmrSelect(candidates: DataFrame, idCol: String, vecCol: String,
                relCol: String, k: Int, lam: Double = 0.7,
                maxCandidates: Int = 10000): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lam >= 0.0 && lam <= 1.0, s"lambda must be in [0,1], got $lam")
    val spark = candidates.sparkSession
    val cand = Reuse.truncate(candidates.select(col(idCol),
        col(vecCol).cast("array<double>").as("__v"), col(relCol)))
    require(cand.limit(maxCandidates + 1).count() <= maxCandidates,
      s"mmrSelect: more than $maxCandidates candidates — MMR is a " +
        "post-serve re-ranker over a bounded top-N, not a corpus scan")
    val selVecs = scala.collection.mutable.Buffer.empty[Seq[Double]]
    val picked = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.Row]
    var remaining = cand
    for (r <- 1 to k) {
      // each cosine term quantizes (round 6) BEFORE the max/blend —
      // the repo-wide shared-grid convention — and the blend itself is
      // DECIMAL-exact ([[mmrScore]]): λ·rel lands on an exact decimal
      // half whenever rel's 6th digit is 5 (0.7·0.371485 = 0.2600395),
      // where Spark (shortest-decimal HALF_UP) and DuckDB (binary
      // round) disagree on doubles — decimal operands round
      // identically on both engines
      val score =
        if (selVecs.isEmpty) mmrScore(col(relCol), None, lam)
        else mmrScore(col(relCol),
          Some(selVecs.map(v => round(cosine(col("__v"), typedLit(v)), 6))
            .reduceLeft(greatest(_, _))), lam)
      val top = remaining
        .select(col(idCol), col("__v"), col(relCol), score.as("mmr"))
        .orderBy(col("mmr").desc, col(idCol).asc)
        .limit(1).collect()
      if (top.nonEmpty) {
        val p = top.head
        picked += org.apache.spark.sql.Row(p.get(0), p.get(2),
          p.getDouble(3), r)
        selVecs += p.getSeq[Double](1)
        remaining = remaining.filter(col(idCol) =!= lit(p.get(0)))
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      cand.schema(idCol),
      cand.schema(relCol),
      org.apache.spark.sql.types.StructField("mmr",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(picked.toSeq, 1), schema)
  }

  /** Per-QUERY [[mmrSelect]] — the BATCH diversified re-ranker (the
    * [[knnJoin]] / `rrfFuseBy` symmetry): `candidates` carries
    * (`byCol`, `idCol`, vec, rel) — each query's bounded post-serve
    * list — and the greedy runs WITHIN every `byCol` group. Unlike the
    * single-query form (k driver rounds of 1-row collects — Q·k driver
    * round-trips at batch scale), this keeps the per-round state in
    * DataFrames: round r joins the remaining candidates to each
    * query's ≤ r−1 selected rows, takes the per-(query, candidate)
    * max of the round-6-quantized cosines (the shared-grid
    * convention), and a `byCol`-partitioned window picks each query's
    * argmax — k Spark rounds TOTAL, independent of |Q|, no cross-query
    * coupling anywhere (every join/window is `byCol`-keyed).
    *
    * Per-query candidate lists above `maxPerQuery` refuse loudly (the
    * mmrSelect bounded-input contract, per group). Lineage truncates
    * per round ([[Reuse.truncate]] — the Graph round pattern).
    * `(1−λ)` is the same single IEEE subtraction. A query with fewer
    * than `k` candidates just stops early (no NULL padding).
    * Output: (byCol, idCol, relCol, mmr, rank). */
  def mmrSelectBy(candidates: DataFrame, byCol: String, idCol: String,
                  vecCol: String, relCol: String, k: Int,
                  lam: Double = 0.7, maxPerQuery: Int = 10000): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lam >= 0.0 && lam <= 1.0, s"lambda must be in [0,1], got $lam")
    val cand = Reuse.truncate(candidates.select(col(byCol), col(idCol),
        col(vecCol).cast("array<double>").as("__v"), col(relCol)))
    val over = cand.groupBy(col(byCol)).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxPerQuery).limit(1).collect()
    require(over.isEmpty,
      s"mmrSelectBy: group ${over.headOption.map(_.get(0)).orNull} has > " +
        s"$maxPerQuery candidates — batch MMR re-ranks bounded post-serve " +
        "lists, not corpus scans")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(byCol))
      .orderBy(col("mmr").desc, col(idCol).asc)
    var selected: DataFrame = null
    var remaining = cand
    var r = 1
    while (r <= k) {
      val scored =
        if (selected == null)
          remaining.select(col(byCol), col(idCol), col("__v"), col(relCol),
            mmrScore(col(relCol), None, lam).as("mmr"))
        else {
          val sel = selected.select(col(byCol), col("__v").as("__sv"))
          remaining.join(sel, Seq(byCol))
            .groupBy(col(byCol), col(idCol))
            .agg(first(col("__v")).as("__v"), first(col(relCol)).as(relCol),
              max(round(cosine(col("__v"), col("__sv")), 6)).as("__ms"))
            .select(col(byCol), col(idCol), col("__v"), col(relCol),
              mmrScore(col(relCol), Some(col("__ms")), lam).as("mmr"))
        }
      val pick = Reuse.truncate(scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .withColumn("rank", lit(r)))
      selected = if (selected == null) pick
        else Reuse.truncate(selected.unionByName(pick))
      remaining = Reuse.truncate(remaining.join(
        pick.select(col(byCol), col(idCol)), Seq(byCol, idCol), "left_anti"))
      r += 1
    }
    selected.select(col(byCol), col(idCol), col(relCol), col("mmr"),
      col("rank"))
  }

  /** Exact top-k by cosine against the embedding of `queryId`.
    * orderBy+limit ⇒ Spark plans TakeOrderedAndProject (per-partition
    * top-k, then k·partitions rows to the driver side of the exchange —
    * no full sort, no corpus shuffle). */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryId: Long, k: Int): DataFrame = {
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"))
    emb.crossJoin(broadcast(q))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), round(cosine(col(vecCol), col("__qvec")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** kNN JOIN — every query row's exact top-k cosine neighbors from the
    * corpus in ONE statement: the batch ANN *serving* shape ("score
    * tonight's 10k eval prompts against the corpus"), where
    * [[bruteForceTopK]] answers one query at a time. Queries BROADCAST
    * (the bounded side — eval sets, probe batches; the corpus side
    * streams), each corpus partition scores its rows against every
    * query, and the per-query top-k runs through [[Sampling.twoPhaseTopK]]'s
    * (query, hash-bucket) pre-split — one query's candidate list is
    * corpus-sized, exactly the dominant-stratum skew the single-window
    * form dies on. Ties break by neighbor id; similarity rounds to 6
    * decimals (oracle parity). Output: (query_id, neighbor_id, cos_sim).
    *
    * Scale: work is |Q|·|C| scoring operations — inherent to the exact
    * answer, all map-side; nothing corpus-scale ever shuffles on one
    * key. For corpus-scale probe batches use [[ivfKnnJoin]], which
    * turns the cross join into a cell EQUI-join. */
  def knnJoin(queries: DataFrame, corpus: DataFrame,
              qIdCol: String, cIdCol: String,
              qVecCol: String, cVecCol: String, k: Int,
              excludeSelf: Boolean = false,
              preSplit: Int = 32): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    val q = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"))
    val base = corpus
      .select(col(cIdCol).as("neighbor_id"), col(cVecCol).as("__cv"))
      .crossJoin(broadcast(q))
    val paired = if (excludeSelf)
      base.filter(col("neighbor_id") =!= col("query_id")) else base
    val scored = paired.select(col("query_id"), col("neighbor_id"),
      round(cosine(col("__cv"), col("__qv")), 6).as("cos_sim"))
    Sampling.twoPhaseTopK(scored, col("query_id"),
      Seq(col("cos_sim").desc_nulls_last, col("neighbor_id").asc_nulls_last),
      col("neighbor_id"), k, salt = "knn:", preSplit = preSplit)
  }

  /** Top-`probes` cell ids for a query vector — the multi-cell form of
    * [[cellOf]] (argmax → arg-top-p), same tie convention (higher sim
    * first, then LOWER cid): ascending struct sort on (sim, −cid)
    * reversed gives sim DESC with cid ASC on ties. Pure per-row
    * projection over inlined centroid literals. */
  def topCellsOf(vec: Column, centroids: Array[(Long, Seq[Double])],
                 probes: Int): Column = {
    val scored = array(centroids.toIndexedSeq.map { case (cid, cv) =>
      struct(cosine(vec, typedLit(cv)).as("sim"), lit(-cid).as("ncid"))
    }: _*)
    transform(slice(reverse(array_sort(scored)), 1, probes),
      s => -s.getField("ncid"))
  }

  /** IVF-pruned kNN join — [[knnJoin]] at corpus-scale probe batches:
    * queries expand to their `probes` nearest cells ([[topCellsOf]],
    * zero-exchange), the corpus assigns to its one cell ([[cellOf]],
    * zero-exchange), and the cross join becomes a cell EQUI-join — each
    * corpus row is scored only against the queries probing its cell (at
    * 100 TB with the corpus partitioned by cell this is partition
    * pruning per query batch). A corpus row meets a query through at
    * most one cell (its own), so no distinct pass is needed. Exact
    * cosine within probed cells; approximate overall (coarse-probe
    * misses — LlmOpsSpec measures recall; probing every cell degrades
    * to [[knnJoin]] exactly). Same per-query two-phase top-k and output
    * shape as [[knnJoin]]. */
  def ivfKnnJoin(queries: DataFrame, corpus: DataFrame,
                 qIdCol: String, cIdCol: String,
                 qVecCol: String, cVecCol: String,
                 centroids: Array[(Long, Seq[Double])],
                 k: Int, probes: Int = 2,
                 excludeSelf: Boolean = false,
                 preSplit: Int = 32): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    require(probes >= 1, s"probes must be >= 1, got $probes")
    val q = queries
      .select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"))
      .select(col("query_id"), col("__qv"),
        explode(topCellsOf(col("__qv"), centroids, probes)).as("__cell"))
    val c = corpus.select(col(cIdCol).as("neighbor_id"),
      col(cVecCol).as("__cv"), cellOf(col(cVecCol), centroids).as("__cell"))
    val base = c.join(broadcast(q), Seq("__cell"))
    val paired = if (excludeSelf)
      base.filter(col("neighbor_id") =!= col("query_id")) else base
    val scored = paired.select(col("query_id"), col("neighbor_id"),
      round(cosine(col("__cv"), col("__qv")), 6).as("cos_sim"))
    Sampling.twoPhaseTopK(scored, col("query_id"),
      Seq(col("cos_sim").desc_nulls_last, col("neighbor_id").asc_nulls_last),
      col("neighbor_id"), k, salt = "knn:", preSplit = preSplit)
  }

  /** ANN recall ATTESTATION as a queryable report — the serving-quality
    * analog of the sketch contracts (HLL/GK/CMS attestation precedent):
    * recall@k of the IVF-pruned batch serving vs its brute-force twin,
    * one row per query. Both sides are the AUDITED operators
    * ([[ivfKnnJoin]] / [[knnJoin]]: same rounded-cosine rank, same
    * (score desc, id) tie-break), so the overlap is deterministic and
    * the DuckDB oracle replays it by composing the two existing knn
    * replays. Output: (query_id, n_exact, n_hit, recall_at_k) —
    * `n_exact` ≤ k when the corpus is small, and recall divides by it,
    * not k, so the report never under-states on a short corpus.
    * probes = nCells degrades the approx side to exact and attests
    * recall 1.0 everywhere (spec-pinned).
    *
    * Scale shape: the query batch is bounded (the serving fleet's
    * probe set); the exact side is the |Q|·|C| brute-force scoring a
    * recall audit inherently pays — run it on a SAMPLE of queries at
    * production scale, never the full query log. */
  def annRecallReport(queries: DataFrame, corpus: DataFrame,
                      qIdCol: String, cIdCol: String,
                      qVecCol: String, cVecCol: String,
                      centroids: Array[(Long, Seq[Double])],
                      k: Int, probes: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val exact = knnJoin(queries, corpus, qIdCol, cIdCol, qVecCol, cVecCol,
        k, excludeSelf = true)
      .select(col("query_id"), col("neighbor_id"))
    val approx = ivfKnnJoin(queries, corpus, qIdCol, cIdCol, qVecCol,
        cVecCol, centroids, k, probes, excludeSelf = true)
      .select(col("query_id"), col("neighbor_id"))
    val hit = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hit, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall_at_k",
        round(col("n_hit").cast("double") / col("n_exact"), 6))
  }

  /** Centroid set ⇄ plain DataFrame — the KB-scale ANN index artifacts
    * (coarse cells, and via the codebook twins below, PQ codebooks) as
    * ordinary parquet-able tables of (cid, pos, val) rows, so the FULL
    * serving index (cells + codebooks + encoded codes) ships as three
    * plain tables and reconstructs bit-identically (doubles round-trip
    * parquet exactly; the llm_ann_index_roundtrip gate pins result
    * equality with the in-memory path). */
  def centroidsToDf(spark: org.apache.spark.sql.SparkSession,
                    centroids: Array[(Long, Seq[Double])]): DataFrame =
    spark.createDataFrame(centroids.toIndexedSeq.flatMap { case (cid, v) =>
      v.zipWithIndex.map { case (x, p) => (cid, p, x) } })
      .toDF("cid", "pos", "val")

  def centroidsFromDf(df: DataFrame): Array[(Long, Seq[Double])] =
    df.select(col("cid").cast("long"), col("pos").cast("int"),
        col("val").cast("double"))
      .collect() // KB-scale by construction (cells × dim doubles)
      .groupBy(_.getLong(0)).toArray.sortBy(_._1)
      .map { case (cid, rs) =>
        (cid, rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toIndexedSeq: Seq[Double]) }

  /** PQ codebooks ⇄ plain DataFrame: (s, cid, pos, val) rows. */
  def codebooksToDf(spark: org.apache.spark.sql.SparkSession,
                    codebooks: Array[Array[(Long, Seq[Double])]]): DataFrame =
    spark.createDataFrame(codebooks.toIndexedSeq.zipWithIndex.flatMap {
      case (cb, sIdx) => cb.toIndexedSeq.flatMap { case (cid, v) =>
        v.zipWithIndex.map { case (x, p) => (sIdx, cid, p, x) } } })
      .toDF("s", "cid", "pos", "val")

  def codebooksFromDf(df: DataFrame): Array[Array[(Long, Seq[Double])]] =
    df.select(col("s").cast("int"), col("cid").cast("long"),
        col("pos").cast("int"), col("val").cast("double"))
      .collect()
      .groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map { case (_, sub) =>
        sub.groupBy(_.getLong(1)).toArray.sortBy(_._1).map { case (cid, rs) =>
          (cid, rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toIndexedSeq: Seq[Double])
        }
      }

  /** Cell-tagged PQ encode — the row layout the STORED IVF-PQ index
    * keeps on disk: (id, cell, code_0 … code_{m−1}), one small-int
    * vector per row. ONE pass reads the vectors; every later query
    * touches only this table. */
  def ivfPqEncode(emb: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[(Long, Seq[Double])],
                  codebooks: Array[Array[(Long, Seq[Double])]],
                  subDim: Int): DataFrame =
    emb.select(col(idCol) +: cellOf(col(vecCol), centroids).as("cell") +:
      codebooks.toIndexedSeq.zipWithIndex.map { case (cb, s) =>
        pqCode(col(vecCol), s, subDim, cb).as(s"code_$s")
      }: _*)

  /** Driver replica of [[CosineSim]]'s arithmetic (dot pass, then the
    * two norm passes, left-to-right double accumulation) — None on dim
    * mismatch or zero norm, exactly where the expression nulls out. The
    * probe-cell selection must be computable on the DRIVER (centroids
    * and query vector are both driver-resident) so the stored-serving
    * scan can carry a STATIC partition filter; bit-parity with the
    * expression form is what keeps the tie-break from drifting. */
  private def cosineDriver(a: IndexedSeq[Double], b: Seq[Double]): Option[Double] = {
    val bi = b.toIndexedSeq
    val n = a.length
    if (n != bi.length) return None
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) { dot += a(i) * bi(i); i += 1 }
    i = 0
    while (i < n) { na += a(i) * a(i); i += 1 }
    i = 0
    while (i < n) { nb += bi(i) * bi(i); i += 1 }
    if (na == 0.0 || nb == 0.0) None
    else Some(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** The query's `probes` nearest cells, computed on the driver — the
    * same (cosine desc NULLS LAST, lowest cid) order as the in-plan
    * [[probeCells]]/[[topCellsOf]] pipelines, over the same arithmetic
    * ([[cosineDriver]]). KB-scale work (nCells sims), and it is what
    * lets [[ivfPqTopKStored]] push `cell IN (...)` into the scan as a
    * STATIC partition filter. */
  def probeCellsOf(queryVec: IndexedSeq[Double],
                   centroids: Array[(Long, Seq[Double])],
                   probes: Int): Seq[Long] = {
    require(probes >= 1, s"probes must be >= 1, got $probes")
    val (scored, nulls) = centroids.toIndexedSeq
      .map { case (cid, cv) => (cid, cosineDriver(queryVec, cv)) }
      .partition(_._2.isDefined)
    // descending under Spark's SQL double ordering (SQLOrderingUtil
    // semantics: -0.0 == 0.0, NaN greatest), NOT Scala's total ordering
    // via negation — negating would split the ±0.0 class and flip where
    // NaN lands, drifting from the in-plan topCellsOf tie-break
    val bySimDescCidAsc = new Ordering[(Long, Option[Double])] {
      def compare(a: (Long, Option[Double]), b: (Long, Option[Double])): Int = {
        val x = a._2.get; val y = b._2.get
        val c = if (x == y) 0 else java.lang.Double.compare(y, x)
        if (c != 0) c else java.lang.Long.compare(a._1, b._1)
      }
    }
    val ordered = scored.sorted(bySimDescCidAsc) ++ nulls.sortBy(_._1)
    ordered.take(probes).map(_._1)
  }

  /** IVF-PQ serving from STORAGE — [[ivfPqTopK]] with the one
    * vector-reading pass factored out: `codes` is the read-back
    * [[ivfPqEncode]] table, probe cells come from the explicit query
    * vector against the (read-back) centroids ON THE DRIVER
    * ([[probeCellsOf]] — same cosine-desc/lowest-cid order as the
    * in-memory path, so the tie-break cannot drift), and scoring is
    * pure ADC over the stored codes. The probe is a literal
    * `cell IN (...)` filter: on a codes table written
    * `partitionBy("cell")` that is STATIC partition pruning — the scan
    * never opens a non-probed cell's files (the
    * llm_ann_partition_prune gate pins `PartitionFilters` on the cell
    * key). Identical output to [[ivfPqTopK]] on the same artifacts —
    * the llm_ann_index_roundtrip gate pins it. */
  def ivfPqTopKStored(codes: DataFrame, idCol: String,
                      centroids: Array[(Long, Seq[Double])],
                      codebooks: Array[Array[(Long, Seq[Double])]],
                      subDim: Int, queryVec: IndexedSeq[Double], k: Int,
                      probes: Int = 2,
                      excludeId: Option[Long] = None): DataFrame = {
    require(centroids.nonEmpty && codebooks.nonEmpty,
      "ivfPqTopKStored: empty stored cells/codebooks — artifact drift")
    val cells = probeCellsOf(queryVec, centroids, probes)
    pqTopKStored(codes.filter(col("cell").isin(cells: _*)).drop("cell"),
      idCol, codebooks, subDim, queryVec, k, excludeId)
  }

  /** Batch kNN serving from the STORED index — the production shape the
    * two audited halves compose into ("tonight's 10k eval prompts
    * against the stored codes table"): [[ivfKnnJoin]]'s query batching
    * against [[ivfPqEncode]]'s read-back code table, vectors never read.
    * Each query expands to its `probes` nearest cells ([[topCellsOf]]
    * over the read-back centroids — zero exchange) and precomputes its
    * FULL ADC lookup table as m ARRAY columns of nCodes dots each (the
    * classic per-query LUT, built in-plan on the bounded query side
    * rather than driver-side as [[pqTopKStored]] does for one query);
    * pairing is a cell EQUI-join against the codes table; scoring
    * selects each subspace's LUT slot via [[lutLookup]] (constant
    * expression size in nCodes — survives production m=8/nCodes=256
    * where per-code CASE chains blew the 64KB codegen limit) — the
    * corpus side touches ONLY (cell, id, code_0…code_{m−1}). At 100 TB
    * with the codes table partitioned by cell this is partition pruning
    * per query batch (the llm_ann_partition_prune gate pins the
    * PartitionFilters).
    *
    * A stored code outside its codebook raises (the [[pqTopKStored]]
    * drift guard, per subspace); codes tables missing the cell or code
    * columns are refused up front. Approximate like every ADC path
    * (coarse-probe misses + quantization error — LlmOpsSpec measures
    * recall); `probes = nCells` with one query reproduces
    * [[pqTopKStored]] exactly (spec-pinned). Same per-query two-phase
    * top-k and tie convention as [[knnJoin]]. Output: (query_id,
    * neighbor_id, adc_score). */
  def ivfPqKnnJoinStored(queries: DataFrame, codes: DataFrame,
                         qIdCol: String, cIdCol: String, qVecCol: String,
                         centroids: Array[(Long, Seq[Double])],
                         codebooks: Array[Array[(Long, Seq[Double])]],
                         subDim: Int, k: Int, probes: Int = 2,
                         excludeSelf: Boolean = false,
                         preSplit: Int = 32): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    require(probes >= 1, s"probes must be >= 1, got $probes")
    require(centroids.nonEmpty && codebooks.nonEmpty,
      "ivfPqKnnJoinStored: empty stored cells/codebooks — artifact drift")
    val m = codebooks.length
    require(codes.columns.contains("cell"),
      "stored codes table lacks the cell column — serve the table " +
        "ivfPqEncode wrote")
    // EXACT code-column set, not mere presence: a codes table encoded
    // with MORE subspaces (m drift — e.g. m=8/subDim=8 codes served
    // with m=4/subDim=16 codebooks) would pass a lacks-only check,
    // silently ignore code_4..code_7, and score each subspace against
    // the wrong dims — code VALUES stay inside the cid range, so the
    // per-code raise can never catch it
    val expected = (0 until m).map(i => s"code_$i").toSet
    val actual = codes.columns.filter(_.matches("code_\\d+")).toSet
    require(actual == expected,
      s"stored codes table carries ${actual.toSeq.sorted.mkString(",")} " +
        s"but the supplied codebooks have m=$m subspaces (expected " +
        s"code_0..code_${m - 1} exactly) — serve the table ivfPqEncode " +
        "wrote with the codebooks it was encoded with")
    // per-query LUT: ONE array column per subspace (nCodes dots in
    // codebook order), not m·nCodes scalar columns — at production PQ
    // (m=8, nCodes=256) the scalar form was 2,048 broadcast COLUMNS and
    // 256-branch selection chains (64KB codegen fallback); the array
    // form broadcasts the same doubles as m array payloads and selects
    // by [[lutLookup]] slot, constant expression size in nCodes
    val lutCols = (0 until m).map { s =>
      bridgeC(graft.functions.AdcLutOf(bridgeE(col(qVecCol)),
        s * subDim, subDim,
        codebooks(s).map(_._2.toIndexedSeq).toIndexedSeq)).as(s"__lut_$s")
    }
    val q = queries.select(Seq(col(qIdCol).as("query_id"),
      explode(topCellsOf(col(qVecCol), centroids, probes)).as("cell")) ++
      lutCols: _*)
    val base = codes.join(broadcast(q), Seq("cell"))
    val paired = if (excludeSelf)
      base.filter(col(cIdCol) =!= col("query_id")) else base
    val score = (0 until m).map { s =>
      lutLookup(codebooks(s), s, col(s"__lut_$s"))
    }.reduce(_ + _)
    val scored = paired.select(col("query_id"),
      col(cIdCol).as("neighbor_id"), round(score, 6).as("adc_score"))
    Sampling.twoPhaseTopK(scored, col("query_id"),
      Seq(col("adc_score").desc_nulls_last, col("neighbor_id").asc_nulls_last),
      col("neighbor_id"), k, salt = "knn:", preSplit = preSplit)
  }

  /** [[ivfPqKnnJoinStored]] with STATIC probe-cell pruning — the batch
    * counterpart of the single-query path's literal cell filter: the
    * query batch's DISTINCT probe-cell union is at most nCells values
    * no matter |Q| (one bounded job over the zero-exchange
    * [[topCellsOf]] projection), and pushing it into the codes read as
    * a literal filter turns a `partitionBy("cell")` store's scan into
    * static partition pruning for the WHOLE batch — non-probed cells'
    * files are never opened (the llm_knn_join_pruned gate pins
    * `PartitionFilters`). Output is identical to the unpruned form by
    * construction: the cell EQUI-join only ever matches probed cells,
    * so pre-filtering them is invisible to the result (same oracle). */
  def ivfPqKnnJoinStoredPruned(queries: DataFrame, codes: DataFrame,
                               qIdCol: String, cIdCol: String,
                               qVecCol: String,
                               centroids: Array[(Long, Seq[Double])],
                               codebooks: Array[Array[(Long, Seq[Double])]],
                               subDim: Int, k: Int, probes: Int = 2,
                               excludeSelf: Boolean = false,
                               preSplit: Int = 32): DataFrame = {
    require(centroids.nonEmpty,
      "ivfPqKnnJoinStoredPruned: empty stored cells — artifact drift")
    val cells = queries
      .select(explode(topCellsOf(col(qVecCol), centroids, probes)).as("cell"))
      .distinct().collect().map(_.getLong(0)) // ≤ nCells rows — KB always
    ivfPqKnnJoinStored(queries,
      codes.filter(col("cell").isin(cells.toIndexedSeq: _*)),
      qIdCol, cIdCol, qVecCol, centroids, codebooks, subDim, k, probes,
      excludeSelf, preSplit)
  }

  /** Two-stage retrieval — EXACT re-rank over ADC candidates (the
    * published recipe: ADC proposes top-`candC`, exact distance is
    * computed for those candidates ONLY, final order is exact): buys
    * back quantization error at a bounded cost — the candidate set is
    * candC rows, so the exact stage reads candC vectors no matter the
    * corpus size, where pure ADC's order is final and wrong by up to
    * the quantization error. Candidates come from [[ivfPqTopK]] (cells
    * prune, codes score); the re-rank joins the candidate ids BACK to
    * the vector table (broadcast semi-join — the ONLY vector read
    * besides the query lookup) and ranks exact cosine. Recall ≥ the
    * pure-ADC path's by construction whenever candC ≥ k (re-ranking a
    * superset can only promote true neighbors — LlmOpsSpec pins it).
    * Output: (idCol, cos_sim), ties by id, rounded to 6 (oracle
    * parity). */
  def ivfPqTopKRerank(emb: DataFrame, idCol: String, vecCol: String,
                      centroids: Array[(Long, Seq[Double])],
                      codebooks: Array[Array[(Long, Seq[Double])]],
                      subDim: Int, queryId: Long, k: Int,
                      probes: Int = 2, candC: Int = 32): DataFrame = {
    require(candC >= k, s"candC ($candC) must be >= k ($k) — the exact " +
      "stage can only re-rank candidates ADC proposed")
    val cand = ivfPqTopK(emb, idCol, vecCol, centroids, codebooks, subDim,
      queryId, candC, probes).select(col(idCol))
    val qv = queryVecOf(emb, idCol, vecCol, queryId)
    emb.join(broadcast(cand), Seq(idCol), "left_semi")
      .select(col(idCol),
        round(cosine(col(vecCol), typedLit(qv)), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Batch TWO-STAGE retrieval from STORAGE — the full production
    * serving story composed from two audited stages:
    * [[ivfPqKnnJoinStored]] proposes each query's ADC top-`candC` from
    * the stored codes (vectors untouched), then exact cosine re-ranks
    * ONLY those candidates ([[ivfPqTopKRerank]]'s buy-back of
    * quantization error, batched). The exact stage's probe frame is
    * (query_id, neighbor_id, query vector) — bounded at |Q|·candC rows
    * — which BROADCASTS into an equi-join against the vector table, so
    * corpus vectors cross no exchange and survive the join only for
    * candidate ids. Recall ≥ the pure stored-ADC path whenever
    * candC ≥ k (re-ranking a superset can only promote true
    * neighbors). Output: (query_id, neighbor_id, cos_sim), the
    * [[knnJoin]] shape — two-stage serving is a drop-in for the exact
    * join. */
  def ivfPqKnnJoinStoredRerank(queries: DataFrame, codes: DataFrame,
                               corpusVec: DataFrame,
                               qIdCol: String, cIdCol: String,
                               qVecCol: String, cVecCol: String,
                               centroids: Array[(Long, Seq[Double])],
                               codebooks: Array[Array[(Long, Seq[Double])]],
                               subDim: Int, k: Int, probes: Int = 2,
                               candC: Int = 32,
                               excludeSelf: Boolean = false,
                               preSplit: Int = 32): DataFrame = {
    require(candC >= k, s"candC ($candC) must be >= k ($k) — the exact " +
      "stage can only re-rank candidates ADC proposed")
    val cand = ivfPqKnnJoinStored(queries, codes, qIdCol, cIdCol, qVecCol,
        centroids, codebooks, subDim, k = candC, probes = probes,
        excludeSelf = excludeSelf, preSplit = preSplit)
      .select(col("query_id"), col("neighbor_id"))
    val qv = queries.select(col(qIdCol).as("query_id"),
      col(qVecCol).as("__qv"))
    val candQ = cand.join(qv, "query_id")
    val scored = corpusVec
      .select(col(cIdCol).as("neighbor_id"), col(cVecCol).as("__cv"))
      .join(broadcast(candQ), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("__cv"), col("__qv")), 6).as("cos_sim"))
    Sampling.twoPhaseTopK(scored, col("query_id"),
      Seq(col("cos_sim").desc_nulls_last, col("neighbor_id").asc_nulls_last),
      col("neighbor_id"), k, salt = "knn:", preSplit = preSplit)
  }

  /** Incremental SEMANTIC admission — [[semanticDedup]]'s
    * new-shard-versus-corpus form, the embedding counterpart of
    * [[Dedup.minhashPairsBetween]]: every incoming vector is assigned
    * to its `probes` nearest cells ([[topCellsOf]] — pure projection,
    * STREAM-SAFE), the corpus carries its one [[cellOf]] cell, and
    * candidate pairs come from the cell EQUI-join, confirmed at
    * `simThreshold` exact cosine. With `probes = 1` a pair is caught
    * exactly when both sides argmax to the same cell — the
    * [[semanticNearDups]] within-cell contract, asymmetric; more probes
    * buy back boundary-straddling near-dups. Output: (id_new,
    * id_corpus, cos_sim) for every confirmed pair — the admission
    * anti-join's right side.
    *
    * Scale/streaming shape: both cell assignments are zero-exchange
    * inlined-literal projections; the join is a stream-static equi-join
    * (stateless — no watermark, no state store) when `newEmb` is a
    * micro-batch stream, and a plain broadcast-able equi-join in batch.
    * The corpus is never shuffled on anything but its cell id. */
  def semanticPairsBetween(newEmb: DataFrame, corpus: DataFrame,
                           idNewCol: String, idCorpusCol: String,
                           vecNewCol: String, vecCorpusCol: String,
                           centroids: Array[(Long, Seq[Double])],
                           simThreshold: Double,
                           probes: Int = 1): DataFrame = {
    require(probes >= 1, s"probes must be >= 1, got $probes")
    val q = newEmb
      .select(col(idNewCol).as("id_new"), col(vecNewCol).as("__qv"))
      .select(col("id_new"), col("__qv"),
        explode(topCellsOf(col("__qv"), centroids, probes)).as("__cell"))
    val c = corpus.select(col(idCorpusCol).as("id_corpus"),
      col(vecCorpusCol).as("__cv"), cellOf(col(vecCorpusCol), centroids).as("__cell"))
    q.join(c, Seq("__cell"))
      .select(col("id_new"), col("id_corpus"),
        round(cosine(col("__qv"), col("__cv")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= simThreshold)
  }

  /** Per-subspace product-quantization codebooks: the embedding is cut
    * into `m` contiguous `subDim`-dim blocks; each block gets its own
    * `nCodes`-entry codebook. `iters = 0` seeds each codebook from the
    * sub-vectors of the `nCodes` lowest ids (the [[collectCentroids]]
    * convention — deterministic, oracle-replayable); `iters > 0` runs
    * that many Lloyd rounds per subspace via [[kmeansTrain]] (the
    * production build). Codebooks are m·nCodes·subDim doubles — KB at
    * any corpus size, safe to collect and inline as plan literals. */
  def pqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                  m: Int = 4, subDim: Int = 16, nCodes: Int = 8,
                  iters: Int = 0): Array[Array[(Long, Seq[Double])]] = {
    require(m >= 1 && subDim >= 1 && nCodes >= 1,
      s"need m, subDim, nCodes >= 1, got m=$m subDim=$subDim nCodes=$nCodes")
    val books = Array.tabulate(m) { s =>
      val sub = emb.select(col(idCol),
        slice(col(vecCol), s * subDim + 1, subDim).as("__sv"))
      if (iters == 0) collectCentroids(sub, idCol, "__sv", nCodes)
      else centroidsOf(kmeansTrain(sub, idCol, "__sv", nCodes, iters))
    }
    // m·subDim past the embedding dimension slices to SHORT/empty
    // sub-vectors: every distance ties at |c|², all rows code to the
    // lowest cid, and the score mass of those subspaces silently
    // vanishes — fail loudly instead
    books.zipWithIndex.foreach { case (cb, s) =>
      cb.foreach { case (cid, cv) =>
        require(cv.length == subDim,
          s"subspace $s codebook entry $cid has ${cv.length} dims, " +
            s"expected $subDim — m*subDim=${m * subDim} exceeds the " +
            "embedding dimension?")
      }
    }
    books
  }

  /** PQ code for subspace `s`: argmin_j ‖x_s − c_j‖² over the inlined
    * codebook, ties to the LOWEST code id. ‖x_s‖² is constant under the
    * argmin, so the score is `‖c_j‖² − 2·x_s·c_j` with ‖c_j‖²
    * precomputed as a literal — one codegen'd dot product per codebook
    * entry, zero exchange. The score is quantized to 6 decimals before
    * the argmin (the cross-engine libm/accumulation-order hardening used
    * throughout — a sub-ulp spread cannot flip the argmin except on a
    * ~1e-13 knife edge, and the cid tie-break keeps the order total). */
  private def pqCode(vec: Column, s: Int, subDim: Int,
                     codebook: Array[(Long, Seq[Double])]): Column =
    // ONE compiled loop over the referenced codebook matrix
    // ([[graft.functions.PqCodeOf]]): the composed
    // array_min(array(struct(round(csq − 2·dot), cid) × nCodes)) form it
    // replaces (bit-identically — same widening, accumulation order,
    // round semantics, tie-break) carried O(nCodes) expression nodes and
    // blew the 64KB codegen method limit at production PQ parameters
    // (m=8, nCodes=256); this stays whole-stage-codegen at any nCodes
    bridgeC(graft.functions.PqCodeOf(bridgeE(vec), s * subDim, subDim,
      codebook.map(_._1).toIndexedSeq,
      codebook.map(_._2.toIndexedSeq).toIndexedSeq,
      codebook.map { case (_, cv) =>
        cv.foldLeft(0.0)((a, x) => a + x * x) }.toIndexedSeq))

  /** PQ-encode the corpus: (idCol, code_0 … code_{m−1}) — each code the
    * nearest codebook entry of the corresponding sub-vector. A pure
    * per-row projection against inlined codebook literals (zero
    * exchange); at 100 TB this is the ONE pass that reads the vectors —
    * the code table it emits is m small ints per row (m bytes with a
    * byte-wide cast at the write), the compression that lets an ANN
    * index of a trillion vectors sit in cluster memory. */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
               codebooks: Array[Array[(Long, Seq[Double])]],
               subDim: Int): DataFrame =
    emb.select(col(idCol) +: codebooks.toIndexedSeq.zipWithIndex.map {
      case (cb, s) => pqCode(col(vecCol), s, subDim, cb).as(s"code_$s")
    }: _*)

  /** PQ/ADC approximate top-k by inner product: the query's per-subspace
    * lookup tables `lut_s[j] = q_s · c_{s,j}` are computed once on the
    * driver (m·nCodes dots over a SINGLE collected row — the documented
    * KB-scale boundary, like the centroid sets) and inlined; every
    * encoded row's score is `Σ_s lut_s[code_s]` — the classic
    * asymmetric-distance computation (Jégou/Douze/Schmid TPAMI'11,
    * public method). Inner product decomposes exactly over subspaces
    * (cosine does not), which is why ADC serves normalized-embedding
    * cosine search in production.
    *
    * 100 TB posture: scoring touches ONLY the code columns — a codegen'd
    * array-LUT projection ([[lutLookup]]) + TakeOrderedAndProject
    * (per-partition top-k, no corpus shuffle, no vector reads). Approximate by construction
    * (quantization error); LlmOpsSpec measures recall against
    * [[bruteForceTopK]]. Ties break by id; scores round to 6 decimals
    * (oracle parity). */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
             codebooks: Array[Array[(Long, Seq[Double])]], subDim: Int,
             queryId: Long, k: Int): DataFrame =
    pqTopKStored(pqEncode(emb, idCol, vecCol, codebooks, subDim),
      idCol, codebooks, subDim,
      queryVecOf(emb, idCol, vecCol, queryId), k,
      excludeId = Some(queryId))

  /** Collect ONE query vector to the driver (the documented KB-scale
    * boundary — the per-query coordinator step of every ANN serving
    * flow that builds lookup tables or probe lists from the query). */
  def queryVecOf(emb: DataFrame, idCol: String, vecCol: String,
                 queryId: Long): IndexedSeq[Double] = {
    val rows = emb.filter(col(idCol) === queryId).select(col(vecCol)).take(1)
    require(rows.nonEmpty,
      s"query id $queryId not found in $idCol — the lazy ANN paths " +
        "return empty for a missing id; the LUT paths need its vector")
    rows.head.getSeq[Any](0).map {
      case f: Float => f.toDouble
      case d: Double => d
      case other => throw new IllegalArgumentException(
        s"expected float/double embedding element, got $other")
    }.toIndexedSeq
  }

  /** cid → 1-based LUT slot for subspace `s`'s code column, 0 on a code
    * outside the codebook (drift). Codebook cids are IDS (seed doc ids /
    * trained cell ids), not dense ranks, so the slot comes from
    * `array_position` over ONE literal cid array — a codegen'd loop over
    * a primitive long array whose expression-tree size is CONSTANT in
    * nCodes. The per-code CASE chain it replaces was O(nCodes)
    * expression NODES per subspace: at production PQ (m=8, nCodes=256)
    * that was 2,048 branches and a guaranteed 64KB codegen fallback;
    * this shape stays whole-stage-codegen at any nCodes (LlmOpsSpec
    * compiles it at m=8/nCodes=256 with codegen fallback disabled). */
  private def codeSlot(cb: Array[(Long, Seq[Double])], s: Int): Column =
    array_position(typedLit(cb.toIndexedSeq.map(_._1)), col(s"code_$s"))

  /** Fetch subspace `s`'s LUT value for the row's code via its
    * [[codeSlot]]; a stored code outside the codebook's cid set means
    * codebook/codes drift — raise loudly instead of scoring NULL (which
    * would sort last and return plausible-but-wrong top-k silently). */
  private def lutLookup(cb: Array[(Long, Seq[Double])], s: Int,
                        lutValues: Column): Column = {
    val slot = codeSlot(cb, s)
    when(slot > 0, element_at(lutValues, slot.cast("int")))
      .otherwise(raise_error(concat(
        lit(s"pq code out of codebook range in subspace $s: "),
        col(s"code_$s").cast("string"),
        lit(s" (codebook has ${cb.length} centroids) — score with the " +
          "codebooks the codes were encoded with"))))
  }

  /** The ADC score column over `code_0 … code_{m−1}`: per subspace, the
    * query LUT is ONE literal double array (driver-built, codebook
    * order) and the row's code selects its slot via [[lutLookup]] —
    * bit-identical values to the former per-code CASE chain, O(1)
    * expression size per subspace. */
  private def adcScore(codebooks: Array[Array[(Long, Seq[Double])]],
                       subDim: Int, q: IndexedSeq[Double]): Column =
    codebooks.toIndexedSeq.zipWithIndex.map { case (cb, s) =>
      val qs = q.slice(s * subDim, (s + 1) * subDim)
      val lut = cb.toIndexedSeq.map { case (_, cv) =>
        qs.zip(cv).foldLeft(0.0)((a, p) => a + p._1 * p._2)
      }
      lutLookup(cb, s, typedLit(lut))
    }.reduce(_ + _)

  /** ADC top-k over a STORED code table — the PQ serving path proper:
    * at production scale [[pqEncode]]'s output is WRITTEN once (m small
    * ints per row) and every query scores the read-back codes — the
    * original vectors are never touched again (the [[Dedup.minhashProbe]]
    * symmetry, for ANN). The query vector arrives explicitly (the
    * serving coordinator holds it); `excludeId` drops the query's own
    * row when it came from the corpus. Codebooks must be the ones the
    * codes were encoded with. */
  def pqTopKStored(codes: DataFrame, idCol: String,
                   codebooks: Array[Array[(Long, Seq[Double])]], subDim: Int,
                   queryVec: IndexedSeq[Double], k: Int,
                   excludeId: Option[Long] = None): DataFrame = {
    val base = excludeId.fold(codes)(q => codes.filter(col(idCol) =!= q))
    base.select(col(idCol),
        round(adcScore(codebooks, subDim, queryVec), 6).as("adc_score"))
      .orderBy(col("adc_score").desc, col(idCol))
      .limit(k)
  }

  /** IVF-PQ top-k (no-residual variant) — the production ANN index
    * composed end to end: coarse centroids prune the scan to the
    * query's `probes` nearest cells (at 100 TB the cell id is the
    * partition key, so probing is partition PRUNING), and within the
    * probed cells scoring reads only PQ codes (memory-bounded ADC).
    * The full recipe quantizes residuals (x − centroid) for tighter
    * codes; this variant encodes raw vectors — same plan shape, one
    * fewer subtraction, and the cells/codebooks stay independently
    * reusable. Recall compounds coarse-probe misses with quantization
    * error (LlmOpsSpec measures both stages).
    *
    * Plan shape: zero-exchange cell assignment (inlined centroid
    * literals) → broadcast probe-cell semi-join → zero-exchange encode
    * + LUT projection → TakeOrderedAndProject. The corpus is never
    * shuffled; vectors are read only inside probed cells. */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
                centroids: Array[(Long, Seq[Double])],
                codebooks: Array[Array[(Long, Seq[Double])]], subDim: Int,
                queryId: Long, k: Int, probes: Int = 2): DataFrame = {
    val assigned = emb.select(col(idCol), col(vecCol),
      cellOf(col(vecCol), centroids).as("cell"))
    val pruned = assigned.join(broadcast(
        probeCells(emb, idCol, vecCol, centroids, queryId, probes)
          .select(col("cell"))), "cell")
      .select(col(idCol), col(vecCol))
    pqTopKStored(pqEncode(pruned, idCol, vecCol, codebooks, subDim),
      idCol, codebooks, subDim,
      queryVecOf(emb, idCol, vecCol, queryId), k,
      excludeId = Some(queryId))
  }

  /** (idCol, cell, res): coarse-cell assignment plus residual
    * x − centroid_cell as ONE compiled per-row pass
    * ([[graft.functions.CellResidual]] — [[cellOf]]'s assignment
    * contract bit-for-bit, constant expression size in nCells). The
    * residual is what the FULL published IVF-PQ recipe quantizes:
    * within a cell, residuals are centered near zero, so the same
    * (m, nCodes) budget spends its codebook entries on a tighter
    * distribution than raw vectors — the recall rung above the
    * no-residual variant. Zero exchange of the corpus. */
  def residualAssign(emb: DataFrame, idCol: String, vecCol: String,
                     centroids: Array[(Long, Seq[Double])]): DataFrame = {
    require(centroids.nonEmpty, "residualAssign: empty centroid set")
    emb.select(col(idCol),
        bridgeC(graft.functions.CellResidual(bridgeE(col(vecCol)),
          centroids.map(_._1).toIndexedSeq,
          centroids.map(_._2.toIndexedSeq).toIndexedSeq)).as("__cr"))
      .select(col(idCol), col("__cr.cell").as("cell"),
        col("__cr.res").as("res"))
  }

  /** Residual-PQ codebooks: [[pqCodebooks]] trained on the RESIDUAL
    * frame (assign cells → subtract centroids → per-subspace codebooks
    * over the residuals) — the training step of the full recipe. */
  def pqCodebooksResidual(emb: DataFrame, idCol: String, vecCol: String,
                          centroids: Array[(Long, Seq[Double])],
                          m: Int = 4, subDim: Int = 16, nCodes: Int = 8,
                          iters: Int = 0): Array[Array[(Long, Seq[Double])]] =
    pqCodebooks(residualAssign(emb, idCol, vecCol, centroids),
      idCol, "res", m, subDim, nCodes, iters)

  /** Cell-tagged RESIDUAL PQ encode — [[ivfPqEncode]] with the
    * residual step: (id, cell, code_0…code_{m−1}) where each code
    * quantizes x − centroid_cell against residual-trained codebooks.
    * Same one-pass/zero-exchange posture; the stored layout is
    * identical, so every stored-serving surface (partitioned writes,
    * appends) applies unchanged. */
  def ivfPqEncodeResidual(emb: DataFrame, idCol: String, vecCol: String,
                          centroids: Array[(Long, Seq[Double])],
                          codebooks: Array[Array[(Long, Seq[Double])]],
                          subDim: Int): DataFrame = {
    val r = residualAssign(emb, idCol, vecCol, centroids)
    r.select(col(idCol) +: col("cell") +:
      codebooks.toIndexedSeq.zipWithIndex.map { case (cb, s) =>
        pqCode(col("res"), s, subDim, cb).as(s"code_$s")
      }: _*)
  }

  /** Driver dot product, [[DotProduct]]'s left-to-right accumulation. */
  private def dotDriver(a: IndexedSeq[Double], b: Seq[Double]): Option[Double] = {
    val bi = b.toIndexedSeq
    if (a.length != bi.length) return None
    var dot = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * bi(i); i += 1 }
    Some(dot)
  }

  /** RESIDUAL IVF-PQ top-k — the full published recipe end to end:
    * coarse cells prune the scan ([[probeCellsOf]], a literal cell
    * filter — static partition pruning on a partitioned store), and
    * within probed cells the ADC score decomposes exactly as
    * `q·x̂ = q·centroid_cell + Σ_s q_s·r̂_s`: the per-cell constant is a
    * driver double per PROBED cell (≤ probes CASE branches — bounded by
    * the probe list, never nCells) and the residual term is the
    * standard [[adcScore]] LUT sum over residual-trained codebooks.
    * Recall ≥ the no-residual variant at equal (m, nCodes) on the
    * gate fixture (LlmOpsSpec measures it): the codebook budget spends
    * on the residual distribution instead of absolute position.
    * Output: (idCol, adc_score), ties by id, rounded to 6. */
  def ivfPqTopKResidual(emb: DataFrame, idCol: String, vecCol: String,
                        centroids: Array[(Long, Seq[Double])],
                        codebooks: Array[Array[(Long, Seq[Double])]],
                        subDim: Int, queryId: Long, k: Int,
                        probes: Int = 2): DataFrame =
    // the stored path over a fresh in-plan encode — ONE scoring
    // implementation, so the in-memory and storage surfaces cannot drift
    ivfPqTopKResidualStored(
      ivfPqEncodeResidual(emb, idCol, vecCol, centroids, codebooks, subDim),
      idCol, centroids, codebooks, subDim,
      queryVecOf(emb, idCol, vecCol, queryId), k, probes,
      excludeId = Some(queryId))

  /** RESIDUAL IVF-PQ serving from STORAGE — [[ivfPqTopKResidual]] with
    * the encode pass factored out: `codes` is the read-back
    * [[ivfPqEncodeResidual]] table (same (id, cell, code_*) layout as
    * the no-residual store, so partitioned writes / appends /
    * [[graft.operators.Dedup.storePurge]] takedowns apply unchanged),
    * probe cells come from the driver ([[probeCellsOf]] — a literal
    * `cell IN (...)`, static partition pruning on a partitioned store),
    * and the score is the per-probed-cell constant q·centroid plus the
    * residual-codebook LUT sum. Identical output to
    * [[ivfPqTopKResidual]] on the same artifacts (the
    * llm_ann_residual_stored gate shares its oracle). */
  def ivfPqTopKResidualStored(codes: DataFrame, idCol: String,
                              centroids: Array[(Long, Seq[Double])],
                              codebooks: Array[Array[(Long, Seq[Double])]],
                              subDim: Int, queryVec: IndexedSeq[Double],
                              k: Int, probes: Int = 2,
                              excludeId: Option[Long] = None): DataFrame = {
    require(centroids.nonEmpty && codebooks.nonEmpty,
      "ivfPqTopKResidualStored: empty stored cells/codebooks — artifact drift")
    require(codes.columns.contains("cell"),
      "stored codes table lacks the cell column — serve the table " +
        "ivfPqEncodeResidual wrote")
    val cells = probeCellsOf(queryVec, centroids, probes)
    val centMap = centroids.toMap
    val cellDot: Seq[(Long, Double)] = cells.map { c =>
      c -> dotDriver(queryVec, centMap(c)).getOrElse(
        throw new IllegalArgumentException(
          s"probed cell $c has a centroid of ${centMap(c).length} dims " +
            s"but the query vector has ${queryVec.length} — artifact drift"))
    }
    val base = codes.filter(col("cell").isin(cells: _*))
    val pruned = excludeId.fold(base)(q => base.filter(col(idCol) =!= q))
    val cellTerm = cellDot.tail
      .foldLeft(when(col("cell") === cellDot.head._1, lit(cellDot.head._2))) {
        case (acc, (c, v)) => acc.when(col("cell") === c, lit(v))
      }.otherwise(raise_error(concat(
        lit("residual serving met a row outside its probed cells: "),
        col("cell").cast("string"))))
    pruned.select(col(idCol),
        round(cellTerm + adcScore(codebooks, subDim, queryVec), 6)
          .as("adc_score"))
      .orderBy(col("adc_score").desc, col(idCol))
      .limit(k)
  }

  /** Int8 SCALAR-quantized encode — the "SQ" member of the quantization
    * family ([[graft.functions.SqEncode]]: per-vector max-abs scale +
    * one signed-byte code per dimension): (idCol, scale, q). The stored
    * index keeps int8-valued codes (schema `array<int>`; parquet
    * bit-packs the narrow values toward 1 byte/dim) + one double/vector —
    * and, unlike PQ, nothing is trained: encode is a pure per-row
    * projection, so appends, takedown purges, and the DuckDB oracle's
    * bit-replay all apply with no artifact beyond the codes table. */
  def sqEncode(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol),
        bridgeC(graft.functions.SqEncode(bridgeE(col(vecCol)))).as("__sq"))
      .select(col(idCol), col("__sq.scale").as("scale"), col("__sq.q").as("q"))

  /** SQ serving FROM STORAGE: brute-force cosine over the DEQUANTIZED
    * codes ([[graft.functions.SqDequant]] under the audited
    * [[CosineSim]] — no new score contract), ties by id, rounded to 6.
    * The scan reads bit-packed int8-valued codes instead of the raw
    * vectors; recall loss
    * is the quantization error only (|x̂_i − x_i| ≤ scale/2,
    * spec-pinned — far above any cell-probe recall). Output:
    * (idCol, sq_score). */
  def sqTopKStored(codes: DataFrame, idCol: String,
                   queryVec: IndexedSeq[Double], k: Int,
                   excludeId: Option[Long] = None): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    require(codes.columns.contains("scale") && codes.columns.contains("q"),
      "stored SQ table must carry (scale, q) — serve the table sqEncode wrote")
    val qLit = array(queryVec.map(lit): _*)
    val base = excludeId.fold(codes)(x => codes.filter(col(idCol) =!= x))
    base.select(col(idCol),
        round(cosine(bridgeC(graft.functions.SqDequant(
          bridgeE(col("q")), bridgeE(col("scale")))), qLit), 6).as("sq_score"))
      .orderBy(col("sq_score").desc, col(idCol))
      .limit(k)
  }

  /** In-memory SQ top-k — composes THROUGH [[sqTopKStored]] over a
    * fresh encode (one scoring implementation, the two surfaces cannot
    * drift). */
  def sqTopK(emb: DataFrame, idCol: String, vecCol: String,
             queryId: Long, k: Int): DataFrame =
    sqTopKStored(sqEncode(emb, idCol, vecCol), idCol,
      queryVecOf(emb, idCol, vecCol, queryId), k, excludeId = Some(queryId))

  /** Cell-tagged SQ encode — [[sqEncode]] plus the coarse-cell
    * assignment, the IVF×SQ composition: (idCol, cell, scale, q). Same
    * `partitionBy("cell")` store layout as the PQ codes tables, so
    * partition pruning, appends, and takedown purges apply unchanged —
    * with SQ's advantage that nothing is trained (the centroids are the
    * only artifact). */
  def ivfSqEncode(emb: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[(Long, Seq[Double])]): DataFrame =
    emb.select(col(idCol), cellOf(col(vecCol), centroids).as("cell"),
        bridgeC(graft.functions.SqEncode(bridgeE(col(vecCol)))).as("__sq"))
      .select(col(idCol), col("cell"),
        col("__sq.scale").as("scale"), col("__sq.q").as("q"))

  /** IVF×SQ serving FROM STORAGE: probe cells come from the driver
    * ([[probeCellsOf]] — a literal `cell IN (...)`, static partition
    * pruning on a `partitionBy("cell")` store), the score is
    * [[sqTopKStored]]'s dequantized cosine over the probed cells only.
    * Approximate like every cell-probe path (coarse-probe misses +
    * the ≤ scale/2 quantization error). Output: (idCol, sq_score). */
  def ivfSqTopKStored(codes: DataFrame, idCol: String,
                      centroids: Array[(Long, Seq[Double])],
                      queryVec: IndexedSeq[Double], k: Int,
                      probes: Int = 2,
                      excludeId: Option[Long] = None): DataFrame = {
    require(centroids.nonEmpty,
      "ivfSqTopKStored: empty stored cells — artifact drift")
    require(codes.columns.contains("cell"),
      "stored SQ table lacks the cell column — serve the table " +
        "ivfSqEncode wrote")
    val cells = probeCellsOf(queryVec, centroids, probes)
    sqTopKStored(codes.filter(col("cell").isin(cells: _*)), idCol,
      queryVec, k, excludeId)
  }

  /** In-memory IVF×SQ top-k — composes THROUGH [[ivfSqTopKStored]]
    * over a fresh encode. */
  def ivfSqTopK(emb: DataFrame, idCol: String, vecCol: String,
                centroids: Array[(Long, Seq[Double])],
                queryId: Long, k: Int, probes: Int = 2): DataFrame =
    ivfSqTopKStored(ivfSqEncode(emb, idCol, vecCol, centroids), idCol,
      centroids, queryVecOf(emb, idCol, vecCol, queryId), k, probes,
      excludeId = Some(queryId))

  /** Multi-probe LSH top-k: only rows whose hyperplane bucket is within
    * `probe` bit flips of the query's bucket are scored — with defaults,
    * (1+P)/2^P of the corpus (≈11% at P=6). Recall < 1 by construction;
    * LlmOpsSpec measures the bound. At 100 TB the bucket column is the
    * partition key, so probing is partition pruning, not a scan. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryId: Long, k: Int, nPlanes: Int = 6, dim: Int = 64,
              probe: Int = 1): DataFrame = {
    val planes = planeSigns(nPlanes, dim)
    val bucketed = emb.withColumn("bucket", lshBucket(col(vecCol), planes))
    val q = bucketed.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"), col("bucket").as("__qbucket"))
    bucketed.join(broadcast(q),
        bit_count(col("bucket").bitwiseXOR(col("__qbucket"))) <= probe)
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), round(cosine(col(vecCol), col("__qvec")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }
}
