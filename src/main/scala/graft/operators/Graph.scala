package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over a pair list — the step that turns near-dup
  * PAIRS (minhash/simhash/embedding candidates) into dedup CLUSTERS.
  * Keeping one representative per pair is wrong the moment similarity
  * is transitive (A~B, B~C: keeping min-per-pair retains B); the
  * production contract is one representative per connected component.
  *
  * Two algorithms, same output contract:
  *  - [[connectedComponents]]: min-label propagation, O(diameter)
  *    rounds — the right choice for shallow dedup graphs (a few hops).
  *  - [[connectedComponentsStar]]: alternating Large-Star/Small-Star
  *    [Kiveris et al., "Connected Components in MapReduce and Beyond",
  *    SoCC'14], O(log n) rounds on ANY diameter — the scale path for
  *    deep graphs (chains, link graphs, social graphs).
  *
  * Round cost (both): ONE Spark action per round. Lineage is truncated
  * every round with a NON-EAGER localCheckpoint — the plan collapses to
  * a LogicalRDD immediately (so per-round plans stay constant-size
  * instead of doubling), and the blocks are stored during the same
  * action that measures convergence; there is no separate
  * materialization job and no separate convergence pass.
  *
  * 100 TB posture: the [[Reuse]] rule — when the application has a
  * checkpoint dir (`spark.checkpoint.dir` or `sc.setCheckpointDir`),
  * lineage is cut with RELIABLE (HDFS/object-store) checkpoints
  * instead — executor-local blocks die with their executor, which
  * aborts an iterative job mid-flight. The reliable path persists each
  * round and lets the checkpoint-write job read the fresh cache (one
  * extra cache-read/write pass, only when a dir is set). */
object Graph {

  /** Truncate `df`'s lineage and materialize it with ONE action that
    * also evaluates `aggCol` over it. Returns (truncated frame, agg row,
    * release thunk to call once the round's blocks are no longer
    * needed). Local-checkpoint blocks are an RDD-level persist that
    * `Dataset.unpersist` does NOT clear — the thunk goes through
    * [[org.apache.spark.sql.GraftBridge.unpersistCheckpoint]]. On the
    * reliable path the frame is checkpoint-FILE-backed: the transient
    * cache is released here, the thunk is a no-op, and file cleanup is
    * the cluster's `spark.cleaner.referenceTracking.cleanCheckpoints`
    * policy. */
  private def materializeWith(df: DataFrame, reliable: Boolean)
                             (aggCol: Column, more: Column*): (DataFrame, Row, () => Unit) =
    if (reliable) {
      // non-eager reliable checkpoint: the first action below runs the
      // job (populating the cache); the checkpoint write that follows
      // reads the cache instead of recomputing
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      val out = p.checkpoint(false)
      val row = out.agg(aggCol, more: _*).first()
      p.unpersist() // checkpoint files written by the action above
      (out, row, () => ())
    } else {
      // non-eager local checkpoint: plan becomes a LogicalRDD now,
      // blocks are stored when the action below first computes them
      val out = df.localCheckpoint(false)
      val row = out.agg(aggCol, more: _*).first()
      (out, row,
        () => org.apache.spark.sql.GraftBridge.unpersistCheckpoint(out))
    }

  /** Components of the undirected graph given by (srcCol, dstCol) pairs.
    * Returns (node, component) where component = min node id reachable.
    * Nodes appearing in no edge are absent (callers union isolated ids
    * back in if needed — dedup treats them as singleton clusters).
    *
    * Each round shuffles 2|E| + |V| (node, label) pairs: the tagged
    * union (neighbor labels + own labeled row) feeds one groupBy whose
    * aggregation yields BOTH the new min-label and the previous label,
    * so the materializing action doubles as the convergence count.
    * Under a checkpoint dir ([[Reuse.reliable]]) per-round results and
    * the edge list are checkpointed there instead of relying on
    * executor-local storage. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 25): DataFrame = {
    val reliable = Reuse.reliable(edges.sparkSession)

    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val und0 = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    // und is read every round — materialize it once, eagerly. Reliable
    // path: persist FIRST so the checkpoint's write job reads the fresh
    // cache instead of recomputing the union+distinct shuffle
    val und = if (reliable) {
      val p = und0.persist(StorageLevel.MEMORY_AND_DISK)
      val ck = p.checkpoint()
      p.unpersist()
      ck
    } else und0.localCheckpoint(true)
    val undRelease: () => Unit =
      if (reliable) () => ()
      else () => org.apache.spark.sql.GraftBridge.unpersistCheckpoint(und)
    // initial labels: node -> itself; materialized by round 1's action
    var labels = und.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("component"))
    val labels0 = labels.persist(StorageLevel.MEMORY_AND_DISK)
    var prevRelease: () => Unit = () => labels0.unpersist()
    var iter = 0
    var changed = -1L
    while (changed != 0 && iter < maxIter) {
      // tagged union: neighbor label contributions carry a typed-null
      // `own`, the node's own row carries its previous label — so one
      // groupBy yields BOTH the new label (min over neighbors+self) and
      // the old one (max(own): exactly one non-null per node)
      val neigh = und.join(labels, und("dst") === labels("node"))
        .select(und("src").as("node"), col("component"),
          when(lit(false), col("component")).as("own"))
      val own = labels.select(col("node"), col("component"),
        col("component").as("own"))
      val step = neigh.unionAll(own)
        .groupBy(col("node"))
        .agg(min(col("component")).as("component"), max(col("own")).as("old"))
      // the ONE action of the round: stores the round's labels and
      // returns the changed count (min includes the own label, so
      // component <= old always; != means strictly improved)
      val (next, row, release) = materializeWith(step, reliable)(
        coalesce(sum(when(col("component") =!= col("old"), 1L)), lit(0L)).as("c"))
      changed = row.getLong(0)
      prevRelease()
      prevRelease = release
      labels = next.select(col("node"), col("component"))
      iter += 1
    }
    undRelease()
    if (changed != 0) {
      prevRelease() // don't leak the last round's blocks on abort
      throw new IllegalArgumentException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(diameter too large — use connectedComponentsStar)")
    }
    // the returned labels frame keeps its (final-round) blocks persisted
    // so the caller's query reads the cache instead of re-running the
    // whole iteration; the ContextCleaner releases them once the frame
    // is unreferenced (spark.cleaner.referenceTracking, default on)
    labels
  }

  /** Connected components via alternating Large-Star / Small-Star —
    * O(log n) rounds on ANY diameter, where min-label propagation needs
    * O(diameter). Same output contract as [[connectedComponents]].
    *
    * Large-Star(u): every neighbor v > u re-attaches to
    * m = min(Γ(u) ∪ {u}); Small-Star(u): every neighbor v ≤ u (plus u)
    * re-attaches to the min among them. Both preserve connectivity and
    * flatten the graph toward stars rooted at component minima; at the
    * fixpoint every edge is (node, component root).
    *
    * Convergence test rides the materializing action: the edge set's
    * (count, xor of row hashes) fingerprint is computed while the
    * round's blocks are stored — bit_xor, not sum, because a hash SUM
    * overflows Long under ANSI mode. A fingerprint MATCH is then
    * confirmed with one exact `exceptAll` pass (both sets are distinct
    * and the counts are exact-equal from the fingerprint, so one-sided
    * emptiness proves set equality) — the check runs only at
    * termination, converting the ~2^-64/round collision risk into a
    * hard guarantee for one extra pass. Within-set duplicates cannot
    * mask changes because each round's set is distinct. */
  def connectedComponentsStar(edges: DataFrame, srcCol: String, dstCol: String,
                              maxIter: Int = 50): DataFrame = {
    val reliable = Reuse.reliable(edges.sparkSession)
    val fingerprint = Seq(
      count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L)).as("h"))

    def largeStar(e: DataFrame): DataFrame = {
      val und = e.select(col("src").as("u"), col("dst").as("v"))
        .unionAll(e.select(col("dst").as("u"), col("src").as("v")))
      val mins = und.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      und.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // orient every edge toward its smaller endpoint: key = larger
      val oriented = e.select(
        greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      val mins = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      oriented.join(mins, "u")
        .select(col("v").as("src"), col("m").as("dst"))
        .unionAll(mins.select(col("u").as("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    // materialize the distinct edge set ONCE, self-loops included: the
    // star rounds filter them lazily off these blocks, and the final
    // node-set join reads the same blocks — the input lineage (e.g. a
    // whole minhash pipeline) is never recomputed. The INITIAL
    // fingerprint excludes self-loops (star-round outputs are always
    // self-loop-free, so the round-1 comparison and the empty-graph
    // short-circuit must measure the same set `cur` starts from)
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
    val noLoop = col("src") =!= col("dst")
    val (eMat, row0, eMatRelease) = materializeWith(e0, reliable)(
      count(when(noLoop, 1)).as("n"),
      coalesce(bit_xor(when(noLoop, xxhash64(col("src"), col("dst")))), lit(0L)).as("h"))
    var fp = (row0.getLong(0), row0.getLong(1))
    var cur = eMat.filter(noLoop)
    // eMat stays resident until the final labels are materialized (the
    // node-set join reads it); only round results rotate
    var prevRelease: () => Unit = () => ()
    var iter = 0
    var converged = fp._1 == 0L // empty graph: nothing to contract
    while (!converged && iter < maxIter) {
      val (next, row, release) = materializeWith(
        smallStar(largeStar(cur)), reliable)(fingerprint.head, fingerprint.tail: _*)
      val nfp = (row.getLong(0), row.getLong(1))
      // exact confirmation runs only when the fingerprint matches (the
      // terminal round): counts are equal by the fingerprint's exact n,
      // both sets distinct, so one-sided exceptAll emptiness == equality
      converged = nfp == fp && next.exceptAll(cur).isEmpty
      fp = nfp
      prevRelease()
      prevRelease = release
      cur = next
      iter += 1
    }
    require(converged, s"connectedComponentsStar did not converge in $maxIter rounds")
    // at the fixpoint every edge is a star edge (node -> component root)
    val star = cur.select(col("src").as("node"), col("dst").as("component"))
      .unionAll(cur.select(col("dst").as("node"), col("dst").as("component")))
      .groupBy(col("node")).agg(min(col("component")).as("component"))
    // contract parity with connectedComponents: nodes whose only edges
    // were self-loops (absent from the star rounds) are singletons
    val labelsPlan = allNodesOf(eMat).join(star, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("component"), col("node")).as("component"))
    // materialize the (tiny, (node, component)-wide) labels with one
    // final action so the edge blocks — eMat and the last round — can
    // be released NOW instead of living until the caller's query runs;
    // the labels' own blocks are ContextCleaner-released on GC.
    val (labels, _, _) = materializeWith(labelsPlan, reliable)(
      count(lit(1)).as("n"))
    prevRelease()
    eMatRelease()
    labels
  }

  private def allNodesOf(e: DataFrame): DataFrame =
    e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()

  /** Cluster-correct dedup: from near-dup pairs over `df`, keep exactly
    * one row (the min id) per connected component, plus every row that
    * appears in no pair. The output is the deduplicated id set.
    *
    * @param algo `"auto"` (default) runs min-label propagation and
    *   falls back to Large-Star/Small-Star if the graph's diameter
    *   exceeds `maxIter` rounds — so the production dedup entry point
    *   survives deep candidate graphs (chained containment hits);
    *   `"propagation"` / `"star"` pin a variant. */
  /** Component labels by algorithm choice: `"propagation"` / `"star"`
    * pin a variant; `"auto"` runs propagation and falls back to star if
    * the graph's diameter exceeds `maxIter` rounds. */
  private def componentsBy(pairs: DataFrame, srcCol: String, dstCol: String,
                           algo: String, maxIter: Int): DataFrame = algo match {
    case "star" =>
      connectedComponentsStar(pairs, srcCol, dstCol)
    case "propagation" =>
      connectedComponents(pairs, srcCol, dstCol, maxIter)
    case "auto" =>
      try connectedComponents(pairs, srcCol, dstCol, maxIter)
      catch {
        case e: IllegalArgumentException
            if e.getMessage != null && e.getMessage.contains("did not converge") =>
          connectedComponentsStar(pairs, srcCol, dstCol)
      }
    case other => throw new IllegalArgumentException(
      s"""algo must be "auto", "propagation" or "star", got "$other"""")
  }

  /** The rows cluster dedup DROPS: non-min members of each connected
    * component of `pairs`, as a single `idColName` column. Exposed so a
    * lazy caller (the SQL TVF) can defer ONLY this iterative step and
    * keep the corpus anti-join declarative. */
  def componentLosers(pairs: DataFrame,
                      srcCol: String = "id_a", dstCol: String = "id_b",
                      idColName: String = "id",
                      algo: String = "auto",
                      maxIter: Int = 25): DataFrame =
    componentsBy(pairs, srcCol, dstCol, algo, maxIter)
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idColName))

  def keepClusterRepresentatives(df: DataFrame, idCol: String,
                                 pairs: DataFrame,
                                 srcCol: String = "id_a",
                                 dstCol: String = "id_b",
                                 algo: String = "auto",
                                 maxIter: Int = 25): DataFrame =
    df.join(
      componentLosers(pairs, srcCol, dstCol, idCol, algo, maxIter),
      Seq(idCol), "left_anti")

  /** Cluster dedup keeping the BEST row per component by `scoreCol`
    * (ties to the lowest id) instead of the min id — the production
    * choice: of N near-duplicate crawls keep the highest-quality one,
    * not the one that happened to be ingested first. Rows in no pair
    * are singleton components and survive untouched.
    *
    * Requires a NUMERIC id (the tie-break inverts the id's order by
    * negation; the negation is widened to DECIMAL(38,0) so no integral
    * value — including Long.MinValue — can overflow under ANSI mode).
    * For arbitrary orderable ids use [[keepClusterRepresentatives]].
    *
    * Scale shape: the component label join shuffles (id, component)
    * pairs; the winner per component is a partial-aggregable `max_by`
    * over (score, -id) — no window over the corpus. */
  def keepBestRepresentatives(df: DataFrame, idCol: String, scoreCol: String,
                              pairs: DataFrame,
                              srcCol: String = "id_a",
                              dstCol: String = "id_b",
                              algo: String = "auto",
                              maxIter: Int = 25): DataFrame = {
    val comps = componentsBy(pairs, srcCol, dstCol, algo, maxIter)
    val labeled = df.join(comps, df(idCol) === comps("node"), "left")
      .select(df(idCol), col(scoreCol),
        coalesce(col("component"), df(idCol)).as("__comp"))
    labeled.groupBy(col("__comp"))
      .agg(max_by(col(idCol),
        struct(col(scoreCol),
          (-col(idCol).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .as("__negid"))).as(idCol))
      .select(col(idCol))
  }
}
