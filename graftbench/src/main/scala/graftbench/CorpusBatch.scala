package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, Graph, Sampling, Similarity, TextAnalysis}
import graft.streaming.Corpus

/** The LLM data-pipeline batch job: generated corpus in, committed
  * training-set store out. A run is one pass of the whole chain. Each
  * stage's output is persisted and counted before the next stage starts,
  * as a batch job that keeps its stage outputs does, so every stage has
  * its own time and row count. The pass drops its own stage outputs after
  * the checks; blocks graft's operators keep are left to the session. */
final class CorpusBatch(spark: SparkSession, in: String, work: String) extends Workload {
  import CorpusBatch.Pass

  private val docsPath = s"$in/corpus/docs.parquet"
  private val evalPath = s"$in/corpus/eval.parquet"
  private val inputs = Json.read(s"$in/inputs.json")
  private val nDocs = inputs.get("docs").asLong
  private val inputBytes = inputs.get("input_bytes").asDouble
  // the token budget keeps about half of the corpus's tokens
  private val budget = inputs.get("tokens").asLong / 2
  private val planted = Json.read(s"$in/planted.json")
  private def pairs(k: String): Seq[(Long, Long)] =
    planted.get(k).elements().asScala.map(p => (p.get(0).asLong, p.get(1).asLong)).toSeq
  private val nearPairs = pairs("near_pairs")
  private val exactCopies = pairs("exact_pairs").map(_._2).toSet
  private val contaminated = Json.longs(planted.get("contaminated")).toSet
  private var centroids: Array[(Long, Seq[Double])] = Array.empty

  private val stages = Seq("exact_dedup", "minhash_pairs", "components", "quality",
    "decontaminate", "semantic_dedup", "sample", "write")

  /** The semantic-dedup cells: the first 16 documents' embeddings. */
  def prepare(round: Int): Unit =
    centroids = spark.read.parquet(docsPath).orderBy("doc_id").limit(16)
      .select("doc_id", "vec").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))

  /** None: a batch job runs as a fresh application, so each run of it
    * pays its first planning, codegen and JIT compilation; the measured
    * pass does too. */
  def warmUp(): Unit = ()

  private def pass(docs: DataFrame, store: String, trace: Trace): Pass = {
    val frames = mutable.ArrayBuffer.empty[DataFrame]
    val rows = mutable.LinkedHashMap.empty[String, Long]
    def stage(name: String)(df: => DataFrame): DataFrame =
      trace.span(s"operators.$name") {
        val d = df.persist(StorageLevel.MEMORY_AND_DISK)
        frames += d
        rows(name) = d.count()
        d
      }
    val ids = Seq("doc_id")
    val eval = spark.read.parquet(evalPath)
    val s1 = stage("exact_dedup")(docs.join(
      Dedup.exactDedup(docs, "doc_id", "text").select("doc_id"), ids, "left_semi"))
    val pairs = stage("minhash_pairs")(
      Dedup.minhashPairs(s1, "doc_id", "text", threshold = 0.5))
    val s3 = stage("components")(Graph.keepClusterRepresentatives(s1, "doc_id", pairs))
    val s4 = stage("quality")(s3.filter(
      TextAnalysis.qualityScore(col("text")) >= 0.6 &&
        TextAnalysis.langId(col("text")) === "en"))
    val s5 = stage("decontaminate")(Corpus.cleanAgainst(s4, eval, "doc_id", "text"))
    val s6 = stage("semantic_dedup")(s5.join(
      Similarity.semanticDedup(s5, "doc_id", "vec", centroids, 0.97).select("doc_id"),
      ids, "left_semi"))
    val s7 = stage("sample")(s6.join(
      Sampling.tokenBudget(s6, "doc_id", "text", budget).select("doc_id"), ids, "left_semi"))
    val writeMs = Trace.ms(trace.span("operators.write")(
      s7.select("doc_id", "text").write.mode("overwrite").parquet(store)))
    rows("write") = rows("sample")
    Pass(rows.toMap, writeMs, frames.toSeq, s1, pairs, s5, store)
  }

  /** Exactly one pass, whatever `seconds` says: a second pass would run
    * warm and change what the pass time means. */
  def run(seconds: Double, trace: Trace): Outcome = {
    val store = s"$work/store"
    val (p, rec) = trace.op("pass")(pass(spark.read.parquet(docsPath), store, trace))
    // outside the timed pass: the candidate count, the checks and the store size
    val confirm =
      if (!rec.traced) 0.0
      else {
        val cand = Dedup.minhashPairs(p.dedup, "doc_id", "text", threshold = 0.0).count()
        if (cand > 0) p.rows("minhash_pairs").toDouble / cand else 0.0
      }
    val (ok, recall, hash) = check(p)
    val storeBytes = CorpusBatch.bytes(new java.io.File(store))
    p.release()
    val layers = stages.flatMap { s =>
      Seq(s"operators.${s}_s" -> rec.layer.getOrElse(s"span.operators.$s", 0.0) / 1e3,
        s"operators.$s.rows_out" -> (if (rec.traced) p.rows(s).toDouble else 0.0))
    }.toMap ++ Map(
      "operators.minhash.confirm_ratio" -> confirm,
      "store.bytes_per_input_byte" -> storeBytes / inputBytes)
    Outcome(Seq(rec), Set("pass"), Seq(p.writeMs), nDocs / (rec.wallMs / 1e3),
      attempted = 1, failed = if (ok) 0 else 1, layers = layers,
      report = Map("pipeline_s" -> rec.wallMs / 1e3, "near_dup_recall" -> recall,
        "result_hash" -> hash, "store_bytes_per_input_byte" -> storeBytes / inputBytes))
  }

  /** (all checks hold, planted near-duplicate recall, hash of the output ids) */
  private def check(p: Pass): (Boolean, Double, String) = {
    def idSet(df: DataFrame) = df.select("doc_id").collect().map(_.getLong(0)).toSet
    val found = p.pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = if (nearPairs.isEmpty) 1.0
      else nearPairs.count(found).toDouble / nearPairs.length
    val kept = idSet(p.dedup)
    val clean = idSet(p.clean)
    val out = spark.read.parquet(p.store).select("doc_id").collect().map(_.getLong(0)).sorted
    val ok = recall >= 0.85 &&
      exactCopies.forall(!kept(_)) &&
      clean.intersect(contaminated).isEmpty &&
      out.forall(i => i >= 0 && i < nDocs) && out.nonEmpty
    val md = java.security.MessageDigest.getInstance("SHA-256")
    out.foreach(i => md.update(java.nio.ByteBuffer.allocate(8).putLong(i).array()))
    (ok, recall, md.digest().map(b => f"$b%02x").mkString.take(16))
  }
}

object CorpusBatch {
  /** Bytes of every file under `f`. */
  private def bytes(f: java.io.File): Double =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(bytes).sum else f.length.toDouble

  /** One pass: its stage row counts and write time, the stage outputs it
    * persisted, and the frames and store the checks read. */
  private final case class Pass(rows: Map[String, Long], writeMs: Double,
                                frames: Seq[DataFrame], dedup: DataFrame,
                                pairs: DataFrame, clean: DataFrame, store: String) {
    def release(): Unit = frames.foreach(_.unpersist(blocking = true))
  }
}
