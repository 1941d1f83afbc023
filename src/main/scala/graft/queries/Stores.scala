package graft.queries

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Classifier, Dedup, Multimodal, Par, Reuse, Similarity, TextAnalysis}

/** The store fixtures of the store-backed gates, built in one place.
  *
  * A store-backed key writes a store, reads it back and serves from it;
  * its `e_sql_*` twin serves the same store from SQL. Each builder here
  * writes one store family's artifacts under a directory the caller
  * passes in, so the layout (which files, in which order, which writes
  * overlap, how a shared index frame feeds its sinks) is stated once.
  * Every key keeps its own store directory under [[dir]]: two keys never
  * share one, so their paths and plan strings stay apart.
  *
  * Builders that take generations (`gens`) write the first one in
  * overwrite mode and append each later one — the store a production
  * index is in after an incremental build.
  */
object Stores {

  private val root = "target/gate_sink"

  /** The store directory of one gate. */
  def dir(name: String): String = s"$root/$name"

  /** The generation split over `df`'s `id` column: one 1-row
    * `max(id) AS m` frame, broadcast-crossjoined onto the frame being
    * cut, so a filter can compare ids with `m - n` (the oracles'
    * `mx - n`) without a driver round trip. */
  final class Split(df: DataFrame, id: String) {
    private val m = df.agg(max(col(id)).as("m"))
    /** All but the newest `n` ids: `id <= m - n`. */
    def atMost(n: Int): Column = col(id) <= col("m") - n
    /** The newest `n` ids: `id > m - n`. */
    def above(n: Int): Column = col(id) > col("m") - n
    /** The rows of `frame` (which carries `id`) passing `p`. */
    def on(frame: DataFrame, p: Column): DataFrame =
      frame.crossJoin(broadcast(m)).filter(p)
    def where(p: Column): DataFrame = on(df, p)
    def older(n: Int): DataFrame = where(atMost(n))
    def newer(n: Int): DataFrame = where(above(n))
  }

  def split(df: DataFrame, id: String): Split = new Split(df, id)

  // ---- the media fixture ----

  /** The media payloads of the image/audio/video gates, cut from
    * `docs` (doc_id, text) by one generation split. */
  final class Media(docs: DataFrame) {
    private val g = split(docs, "doc_id")
    /** The newest 300 documents of at least 400 characters. */
    val slice: DataFrame = g.where(g.above(300) && length(col("text")) >= 400)
      .select(col("doc_id"), col("text"))
    /** `slice` as two generations: ids up to `m - 150`, then the rest. */
    lazy val gens: Seq[DataFrame] = Seq(g.atMost(150), g.above(150))
      .map(p => g.on(slice, p).select(col("doc_id"), col("text")))
    /** One same-length local edit of every slice payload (chars 11–14
      * overwritten), ids shifted by 3,000,000. */
    lazy val edited: DataFrame =
      slice.select((col("doc_id") + 3000000).as("doc_id"),
        concat(substring(col("text"), 1, 10), lit("QQQQ"),
          expr("substring(text, 15)")).as("text"))
  }

  def media(docs: DataFrame): Media = new Media(docs)

  // ---- generation writes ----

  private type Layout = DataFrameWriter[Row] => DataFrameWriter[Row]
  private val flat: Layout = w => w
  private val byCell: Layout = _.partitionBy("cell")
  private val byBucket: Layout = _.partitionBy("tbucket")

  /** Writes `gens` to one parquet path. */
  def put(path: String, gens: DataFrame*): Unit = putAs(flat)(path, gens)

  /** Writes `gens` to one parquet path, partitioned by `cell`. */
  def putByCell(path: String, gens: DataFrame*): Unit =
    putAs(byCell)(path, gens)

  private def putAs(layout: Layout)(path: String, gens: Seq[DataFrame]): Unit =
    gens.zipWithIndex.foreach { case (g, i) =>
      layout(g.write.mode(if (i == 0) "overwrite" else "append")).parquet(path)
    }

  // ---- BM25 postings + doclens ----

  /** One generation's BM25 index, tokenized and counted once and
    * checkpointed, so its postings and doclens sinks share it. */
  def bm25Index(docs: DataFrame): DataFrame =
    Reuse.Local(TextAnalysis.bm25Index(docs, "doc_id", "text"))

  /** [[bm25Index]] with each posting tagged by its term bucket
    * (`tbucket`, 8 buckets). */
  def bm25BucketIndex(docs: DataFrame): DataFrame =
    Reuse.Local(TextAnalysis.bm25IndexPartitioned(docs, "doc_id", "text",
      nBuckets = 8))

  /** BM25 store under `out`: `postings` and `doclens` of the generation
    * indexes `ixs`. The two paths run overlapped off the shared
    * indexes, generation order kept within each path; `postingsThen`
    * and `doclensThen` run at the end of their path (a compaction). */
  def bm25(out: String, ixs: Seq[DataFrame],
           postingsThen: () => Unit = () => (),
           doclensThen: () => Unit = () => ()): Unit =
    bm25As(flat)(out, ixs, postingsThen, doclensThen)

  /** [[bm25]] with the postings partitioned by `tbucket`. */
  def bm25ByBucket(out: String, ixs: Seq[DataFrame],
                   postingsThen: () => Unit = () => (),
                   doclensThen: () => Unit = () => ()): Unit =
    bm25As(byBucket)(out, ixs, postingsThen, doclensThen)

  private def bm25As(postings: Layout)(out: String, ixs: Seq[DataFrame],
      postingsThen: () => Unit, doclensThen: () => Unit): Unit =
    Par.jobs(ixs,
      () => { putAs(postings)(s"$out/postings", ixs); postingsThen() },
      () => {
        put(s"$out/doclens", ixs.map(TextAnalysis.bm25DocLens(_, "doc_id")): _*)
        doclensThen()
      })

  // ---- IVF-PQ cells / codebooks / codes ----

  type Cells = Array[(Long, Seq[Double])]
  type Codebooks = Array[Array[(Long, Seq[Double])]]

  /** The 8 seed cells of `emb` (its 8 lowest `vec_id`s). */
  def seedCells(emb: DataFrame): Cells =
    Similarity.collectCentroids(emb, "vec_id", "embedding", 8)

  /** Seed PQ codebooks of `emb`: 4 subspaces of 16 dims, 8 codes each. */
  def codebooks(emb: DataFrame): Codebooks =
    Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = 4, subDim = 16, nCodes = 8)

  /** Cell-tagged PQ codes of `emb`. */
  def ivfPqCodes(emb: DataFrame, cents: Cells, cbs: Codebooks): DataFrame =
    Similarity.ivfPqEncode(emb, "vec_id", "embedding", cents, cbs, 16)

  /** IVF-PQ store under `out`: `cells`, `codebooks` and the `codes`
    * generations, written as three overlapped sinks. */
  def ivfPq(s: SparkSession, cents: Cells, cbs: Codebooks, out: String,
            codes: DataFrame*): Unit = ivfPqAs(flat)(s, cents, cbs, out, codes)

  /** [[ivfPq]] with the codes partitioned by `cell`. */
  def ivfPqByCell(s: SparkSession, cents: Cells, cbs: Codebooks, out: String,
                  codes: DataFrame*): Unit =
    ivfPqAs(byCell)(s, cents, cbs, out, codes)

  private def ivfPqAs(codesLayout: Layout)(s: SparkSession, cents: Cells,
      cbs: Codebooks, out: String, codes: Seq[DataFrame]): Unit =
    Par.jobs(
      () => cells(s, cents, out),
      () => put(s"$out/codebooks", Similarity.codebooksToDf(s, cbs)),
      () => putAs(codesLayout)(s"$out/codes", codes))

  /** The `cells` and `codebooks` of the IVF-PQ store under `out`. */
  def readIvfPq(s: SparkSession, out: String): (Cells, Codebooks) =
    (Similarity.centroidsFromDf(s.read.parquet(s"$out/cells")),
      Similarity.codebooksFromDf(s.read.parquet(s"$out/codebooks")))

  private def cells(s: SparkSession, cents: Cells, out: String): Unit =
    put(s"$out/cells", Similarity.centroidsToDf(s, cents))

  // ---- SQ and IVF-SQ codes ----

  /** int8 SQ codes of the `gens` embeddings at `path`. */
  def sq(path: String, gens: DataFrame*): Unit =
    put(path, gens.map(Similarity.sqEncode(_, "vec_id", "embedding")): _*)

  /** Cell-tagged int8 SQ codes of `emb` at `path`, partitioned by cell. */
  def ivfSqCodes(path: String, emb: DataFrame, cents: Cells): Unit =
    putByCell(path, Similarity.ivfSqEncode(emb, "vec_id", "embedding", cents))

  /** IVF-SQ store under `out`: `cells` and the cell-partitioned
    * `codes`, two overlapped sinks. */
  def ivfSq(s: SparkSession, cents: Cells, out: String, emb: DataFrame): Unit =
    Par.jobs(
      () => cells(s, cents, out),
      () => ivfSqCodes(s"$out/codes", emb, cents))

  // ---- MinHash index ----

  /** MinHash store under `out`: the index's `bands` and `sets`, two
    * sinks overlapped off the shared sketch frame. */
  def minhash(idx: Dedup.MinhashIndex, out: String): Unit =
    Par.jobs(Seq(idx.sets),
      () => put(s"$out/bands", idx.bands),
      () => put(s"$out/sets", idx.sets))

  def readMinhash(s: SparkSession, out: String): Dedup.MinhashIndex =
    Dedup.MinhashIndex(s.read.parquet(s"$out/bands"),
      s.read.parquet(s"$out/sets"))

  // ---- exact fingerprints ----

  /** Fingerprint store at `path`: the distinct text fingerprints (`fp`)
    * of each generation of documents. */
  def fingerprints(path: String, gens: DataFrame*): Unit =
    put(path, gens.map(
      _.select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct()): _*)

  // ---- image dHash / audio fingerprints / video frames ----

  /** Image store at `path`: the dHash of each generation's payloads. */
  def dHash(path: String, gens: DataFrame*): Unit =
    putMedia(Multimodal.dHash(_), path, gens)

  /** Audio store at `path`: the fingerprint of each generation's payloads. */
  def audioFp(path: String, gens: DataFrame*): Unit =
    putMedia(Multimodal.audioFp(_), path, gens)

  /** Video store at `path`: the frame table of each generation's payloads. */
  def videoFrames(path: String, gens: DataFrame*): Unit =
    putMedia(Multimodal.videoFrames(_), path, gens)

  private def putMedia(hash: DataFrame => DataFrame, path: String,
                       gens: Seq[DataFrame]): Unit =
    put(path, gens.map(g => hash(Multimodal.asMedia(g, "doc_id", "text"))): _*)

  // ---- KN trigram model ----

  /** KN model store under `out`: one table per model frame, written
    * concurrently off the shared checkpointed `types` frame. */
  def knModel(model: Map[String, DataFrame], out: String): Unit =
    Par.jobs(Seq(model("types")),
      model.toSeq.map { case (k, v) => () => put(s"$out/$k", v) }: _*)

  def readKnModel(s: SparkSession, model: Map[String, DataFrame],
                  out: String): Map[String, DataFrame] =
    model.keys.map(k => k -> s.read.parquet(s"$out/$k")).toMap

  // ---- LR quality model ----

  /** LR weight store at `out`, trained on the labeled fixture of `docs`
    * (doc_id, text): even ids as they are (positive), odd ids
    * upper-cased (negative); 64 buckets, 2 rounds. Returns the
    * (positive, negative) fixture. */
  def lrWeights(s: SparkSession, docs: DataFrame,
                out: String): (DataFrame, DataFrame) = {
    val pos = docs.filter(col("doc_id") % 2 === 0)
    val neg = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), upper(col("text")).as("text"))
    val w = Classifier.lrTrain(pos, neg, "doc_id", "text",
      buckets = 64, iters = 2, lr = 0.5)
    put(out, Classifier.weightsToDf(s, w))
    (pos, neg)
  }

  // ---- unigram pieces ----

  /** Unigram-LM piece table at `out`, trained on `docs` (doc_id, text):
    * 48 pieces of up to 4 chars, 2 rounds from a 64-piece seed. */
  def unigramPieces(docs: DataFrame, out: String): Unit =
    put(out, TextAnalysis.unigramTokTrain(docs, "doc_id", "text",
      vocabSize = 48, nRounds = 2, maxPieceLen = 4, seedSize = 64))

  // ---- decontamination index ----

  /** The decontamination index of the eval set `ev` (doc_id, text):
    * 13-gram hashes plus a bloom sketch sized to a ~100-doc eval set. */
  def decontamIndex(ev: DataFrame): Dedup.DecontamIndex =
    Dedup.decontamIndex(ev, "doc_id", "text", n = 13,
      expectedItems = 1L << 16, numBits = 1L << 20)

  /** Decontamination store under `out`: the index's `sketch` and
    * `hashes`, two overlapped sinks. */
  def decontam(idx: Dedup.DecontamIndex, out: String): Unit =
    Par.jobs(
      () => put(s"$out/sketch", idx.sketch),
      () => put(s"$out/hashes", idx.hashes))

  def readDecontam(s: SparkSession, out: String): Dedup.DecontamIndex =
    Dedup.DecontamIndex(s.read.parquet(s"$out/sketch"),
      s.read.parquet(s"$out/hashes"))

  // ---- BPE merges ----

  /** BPE merge table at `out`: 8 common-English merges (rank, left,
    * right), including the chained th→the and an→and ranks. */
  def bpeMerges(s: SparkSession, out: String): Unit =
    put(out, s.createDataFrame(Seq(
        (0, "t", "h"), (1, "th", "e"), (2, "i", "n"), (3, "a", "n"),
        (4, "an", "d"), (5, "e", "r"), (6, "o", "n"), (7, "r", "e")))
      .toDF("rank", "left", "right"))
}
