package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine.Engine
import graft.operators.{Classifier, Dedup, Multimodal, Par, Reuse, Similarity, TextAnalysis}

/** The store-backed twin pairs, one declaration each.
  *
  * A pair is an `llm_*` key that builds a store, reads it back and
  * serves from it through the Scala API, and an `e_sql_*` key that
  * serves the same store from SQL through the [[Engine]]. A [[Twin]]
  * states the pair's fixture once (the input frames, any generation or
  * media cut, and the [[Stores]] builder call) with its two serves, and
  * derives from that:
  *   - both keys' query entries;
  *   - the stores: the Scala key's under `Stores.dir(dir)`, the SQL key's
  *     under `Stores.dir(dir + "_sql")`, so the two never share files;
  *   - the SQL key's oracle, which is the Scala key's.
  *
  * Where the two sides reach their store differently on purpose, the
  * declaration names it with [[Twin.sqlFixture]]: the SQL side then
  * builds its store its own way (for example, the IVF-PQ pairs whose
  * SQL table functions read the cells and codebooks back from the
  * store, while the Scala side holds them in memory).
  */
object StoreTwins {
  import SqlRecipes._

  /** One side of a pair: the session, the testdata dir and that side's
    * own store directory `out`. */
  final class Ctx(val s: SparkSession, val d: String, val out: String) {
    def load(table: String): DataFrame = Tables.load(s, d, table)
    /** `documents` as (doc_id, text). */
    def docs: DataFrame = load("documents").select(col("doc_id"), col("text"))
    /** The path of the store table `sub` (the store itself when empty). */
    def path(sub: String): String = if (sub.isEmpty) out else s"$out/$sub"
    def read(sub: String = ""): DataFrame = s.read.parquet(path(sub))
    /** Registers store tables as temp views, `sub -> view`. */
    def views(subs: (String, String)*): Unit =
      subs.foreach { case (sub, v) => read(sub).createOrReplaceTempView(v) }
  }

  /** One store-backed pair. `fixture` builds the side's store and
    * returns what the serves need; `scala` and `sql` serve it. */
  final class Twin[F](val dir: String, val scalaKey: String,
      val sqlKey: String, fixture: Ctx => F, scala: (Ctx, F) => DataFrame,
      sql: (Ctx, Engine, F) => DataFrame,
      sqlFix: Option[(Ctx, Engine) => F] = None) {

    /** The SQL side builds its store with `f` instead of the shared
      * fixture. Only for pairs where that difference is what the SQL key
      * tests. */
    def sqlFixture(f: (Ctx, Engine) => F): Twin[F] =
      new Twin(dir, scalaKey, sqlKey, fixture, scala, sql, Some(f))

    def defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      scalaKey -> ((s, d) => {
        val c = new Ctx(s, d, Stores.dir(dir))
        scala(c, fixture(c))
      }),
      sqlKey -> ((s, d) => {
        val e = EngineQueries.engine(s, d)
        val c = new Ctx(s, d, Stores.dir(dir + "_sql"))
        sql(c, e, sqlFix.fold(fixture(c))(_(c, e)))
      }))
  }

  private def twin[F](dir: String, scalaKey: String, sqlKey: String)(
      fixture: Ctx => F)(scala: (Ctx, F) => DataFrame,
      sql: (Ctx, Engine, F) => DataFrame): Twin[F] =
    new Twin(dir, scalaKey, sqlKey, fixture, scala, sql)

  // ---- shared fixtures and serves ----

  /** `df` as (`id`, `v`) in two generations: A, all but the newest 100
    * ids, and B, the newest 100. */
  private def twoGens(df: DataFrame, id: String, v: String): (DataFrame, DataFrame) = {
    val gen = Stores.split(df, id)
    (gen.older(100).select(col(id), col(v)), gen.newer(100).select(col(id), col(v)))
  }


  /** The BM25 store of the whole corpus; returns the corpus. */
  private val bm25Whole: Ctx => DataFrame = c => {
    val docs = c.docs
    Stores.bm25(c.out, Seq(Stores.bm25Index(docs)))
    docs
  }

  /** The 25 best documents for "hash join vector" over a stored index. */
  private def bm25TopK(postings: DataFrame, doclens: DataFrame): DataFrame =
    TextAnalysis.bm25TopKStored(postings, doclens, "doc_id",
      queryTerms = Seq("hash", "join", "vector"), k = 25)

  /** The incoming shard of the MinHash pairs: the newest 300 documents
    * under ids shifted by 3,000,000. */
  private def incoming(docs: DataFrame): DataFrame =
    Stores.split(docs, "doc_id").newer(300)
      .select((col("doc_id") + 3000000).as("doc_id"), col("text"))

  private def incomingView(name: String): String =
    s"""CREATE OR REPLACE TEMPORARY VIEW $name AS
                 SELECT doc_id + 3000000 AS doc_id, text FROM documents
                 WHERE doc_id > (SELECT max(doc_id) - 300 FROM documents)"""

  private def minhashProbe(inc: DataFrame, idx: Dedup.MinhashIndex): DataFrame =
    Dedup.minhashProbe(inc, idx, "doc_id", "text",
      k = 16, nBands = 4, threshold = 0.5)

  /** The MinHash index (16 hashes, 4 bands) of the whole corpus, stored;
    * returns the corpus. */
  private val minhashWhole: Ctx => DataFrame = c => {
    val docs = c.docs
    Stores.minhash(Dedup.minhashIndex(docs, "doc_id", "text", k = 16,
      nBands = 4), c.out)
    docs
  }

  /** The IVF-PQ pairs' inputs: `emb` with its seed cells and PQ
    * codebooks, and vector 0 as the query. */
  private final case class Ivf(emb: DataFrame, cents: Stores.Cells,
                               cbs: Stores.Codebooks) {
    def codes(of: DataFrame): DataFrame = Stores.ivfPqCodes(of, cents, cbs)
    /** The 10 nearest stored codes to vector 0, probing 2 cells. */
    def topK(codes: DataFrame, cents: Stores.Cells = cents,
             cbs: Stores.Codebooks = cbs): DataFrame =
      Similarity.ivfPqTopKStored(codes, "vec_id", cents, cbs, subDim = 16,
        Similarity.queryVecOf(emb, "vec_id", "embedding", 0),
        k = 10, probes = 2, excludeId = Some(0L))
    /** The batch of query vectors: ids below 10. */
    def queries: DataFrame =
      emb.filter(col("vec_id") < 10).select(col("vec_id"), col("embedding"))
  }

  private def ivf(c: Ctx): Ivf = {
    val emb = c.load("embeddings")
    Ivf(emb, Stores.seedCells(emb), Stores.codebooks(emb))
  }

  /** How an IVF-PQ pair writes its code generations. The Scala side
    * holds the cells and codebooks in memory and stores the codes
    * alone; a SQL table function takes the cells and codebooks as
    * tables, so the SQL side of those pairs stores all three. */
  private type IvfStore = (Ctx, Ivf, Seq[DataFrame]) => Unit
  private val codesOnly: IvfStore =
    (c, _, codes) => Stores.put(c.path("codes"), codes: _*)
  private val codesByCell: IvfStore =
    (c, _, codes) => Stores.putByCell(c.path("codes"), codes: _*)
  private val fullStore: IvfStore =
    (c, v, codes) => Stores.ivfPq(c.s, v.cents, v.cbs, c.out, codes: _*)
  private val fullByCell: IvfStore =
    (c, v, codes) => Stores.ivfPqByCell(c.s, v.cents, v.cbs, c.out, codes: _*)

  /** [[ivf]] with the codes of every vector written by `store`. */
  private def ivfAll(store: IvfStore)(c: Ctx): Ivf = {
    val v = ivf(c)
    store(c, v, Seq(v.codes(v.emb)))
    v
  }

  /** [[ivf]] with generations A and B encoded and written by `store`. */
  private def ivfGens(store: IvfStore)(c: Ctx): Ivf = {
    val v = ivf(c)
    val (a, b) = twoGens(v.emb, "vec_id", "embedding")
    store(c, v, Seq(v.codes(a), v.codes(b)))
    v
  }

  /** Residual IVF-PQ: codebooks trained on the residuals to the seed
    * cells, the residual codes written by `store`. */
  private def residual(store: IvfStore)(c: Ctx): Ivf = {
    val emb = c.load("embeddings")
    val cents = Stores.seedCells(emb)
    val v = Ivf(emb, cents, Similarity.pqCodebooksResidual(emb, "vec_id",
      "embedding", cents, m = 4, subDim = 16, nCodes = 8))
    store(c, v, Seq(Similarity.ivfPqEncodeResidual(emb, "vec_id",
      "embedding", cents, v.cbs, 16)))
    v
  }

  /** The IVF-SQ pair's inputs, `embeddings` and its seed cells, with the
    * codes written by `store`. */
  private def ivfSq(store: (Ctx, DataFrame, Stores.Cells) => Unit)(
      c: Ctx): (DataFrame, Stores.Cells) = {
    val emb = c.load("embeddings")
    val cents = Stores.seedCells(emb)
    store(c, emb, cents)
    (emb, cents)
  }

  /** The 10 nearest stored SQ codes to vector 0 of `emb`. */
  private def sqTopK(codes: DataFrame, emb: DataFrame): DataFrame =
    Similarity.sqTopKStored(codes, "vec_id",
      Similarity.queryVecOf(emb, "vec_id", "embedding", 0),
      k = 10, excludeId = Some(0L))

  /** Registers the IVF-PQ store's tables as `<p>_cells`, `<p>_cbs` and
    * `<p>_codes`. */
  private def ivfViews(c: Ctx, p: String): Unit =
    c.views("cells" -> s"${p}_cells", "codebooks" -> s"${p}_cbs",
      "codes" -> s"${p}_codes")

  private def annTomb(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 10 === 3).select(col("vec_id"))

  /** The SQL edited-clone shard of the media pairs as view `name`
    * (doc_id, payload): the [[Stores.Media]] slice with chars 11–14
    * overwritten, ids shifted by 3,000,000. */
  private def editedView(name: String): String =
    s"""CREATE OR REPLACE TEMPORARY VIEW $name AS WITH $mediaSlice
        SELECT doc_id + 3000000 AS doc_id, $mediaClonePayload AS payload FROM sl"""

  /** One media modality of the store pairs: its store builder, its
    * Scala probe of the edited clones against a store frame, its SQL
    * probe over (clone view, store view), and whether its tombstone
    * view needs DISTINCT (a video store holds several rows per doc). */
  private final class Modality(write: (String, Seq[DataFrame]) => Unit,
      probe: (DataFrame, DataFrame) => DataFrame,
      sqlProbe: (String, String) => String, tombDistinct: Boolean = false) {
    /** The media slice stored as one generation. */
    val slice: Ctx => Stores.Media = c => {
      val m = Stores.media(c.docs)
      write(c.out, Seq(m.slice))
      m
    }
    /** The media slice stored as two generations under `sub`. */
    def gens(sub: String): Ctx => Stores.Media = c => {
      val m = Stores.media(c.docs)
      write(c.path(sub), m.gens)
      m
    }
    def scala(m: Stores.Media, store: DataFrame): DataFrame =
      probe(Multimodal.asMedia(m.edited, "doc_id", "text"), store)
    /** Takedown: ids `doc_id % 5 == 1` of the slice. */
    def tomb(m: Stores.Media): DataFrame =
      m.slice.filter(col("doc_id") % 5 === 1).select(col("doc_id"))
    def purged(c: Ctx, m: Stores.Media): DataFrame =
      scala(m, Dedup.storePurge(c.read(), "doc_id", tomb(m)))
    def compacted(c: Ctx, m: Stores.Media): DataFrame =
      scala(m, Dedup.storeCompact(c.read("store"), "doc_id", Some(tomb(m)),
        c.path("store_v2")))
    def sql(e: Engine, clones: String, store: String): DataFrame = {
      e.query(editedView(clones))
      e.query(sqlProbe(clones, store))
    }
    /** The store read back as `raw`, purged at read by the view `purged`. */
    def sqlPurged(c: Ctx, e: Engine, raw: String, purged: String,
                  clones: String): DataFrame = {
      c.views("" -> raw)
      e.query(s"""CREATE OR REPLACE TEMPORARY VIEW $purged AS
                 SELECT * FROM $raw WHERE doc_id % 5 <> 1""")
      sql(e, clones, purged)
    }
    /** The store compacted through graft_store_compact into `<p>_v2`. */
    def sqlCompacted(c: Ctx, e: Engine, p: String): DataFrame = {
      c.views("store" -> s"${p}_store")
      val distinct = if (tombDistinct) "DISTINCT " else ""
      e.query(s"""CREATE OR REPLACE TEMPORARY VIEW ${p}_tomb AS
                 SELECT ${distinct}doc_id FROM ${p}_store WHERE doc_id % 5 = 1""")
      e.query(s"""CREATE OR REPLACE TEMPORARY VIEW ${p}_v2 AS
                 SELECT * FROM graft_store_compact('${p}_store', 'doc_id',
                   '${p}_tomb', '${c.path("store_v2")}', '', 1)""")
      sql(e, s"${p}_probe", s"${p}_v2")
    }
  }

  private val image = new Modality((p, g) => Stores.dHash(p, g: _*),
    (q, st) => Multimodal.imageNearDupsBetween(q, st, maxHamming = 3,
      nBands = 4).dropDuplicates("id_new", "id_corpus"),
    (q, st) => s"""SELECT DISTINCT id_new, id_corpus, hamming
                 FROM graft_image_probe('$q', '$st',
                                        'doc_id', 'payload', 3, 4)""")

  private val audio = new Modality((p, g) => Stores.audioFp(p, g: _*),
    (q, st) => Multimodal.audioNearDupsBetween(q, st, maxHamming = 3,
      nBands = 4).dropDuplicates("id_new", "id_corpus"),
    (q, st) => s"""SELECT DISTINCT id_new, id_corpus, hamming
                 FROM graft_audio_probe('$q', '$st',
                                        'doc_id', 'payload', 3, 4)""")

  private val video = new Modality((p, g) => Stores.videoFrames(p, g: _*),
    (q, st) => Multimodal.videoNearDupsBetween(q, st, maxHamming = 3,
      nBands = 4, minFrames = 3),
    (q, st) => s"""SELECT id_new, id_corpus, n_frames_matched
                 FROM graft_video_probe('$q', '$st',
                                        'doc_id', 'payload', 4, 3, 4, 3)""",
    tombDistinct = true)

  /** The fingerprint pairs' fixture: the distinct fingerprints of the
    * corpus in two generations (split 150 from the newest) under `sub`. */
  private def fingerprints(sub: String)(c: Ctx): DataFrame = {
    val docs = c.docs
    val gen = Stores.split(docs, "doc_id")
    Stores.fingerprints(c.path(sub), gen.older(150), gen.newer(150))
    docs
  }

  /** Admission against a fingerprint store: clones of the newest 300
    * documents (ids + 3,000,000) bounce, suffixed copies (ids +
    * 4,000,000) admit. */
  private def fpAdmit(docs: DataFrame, store: DataFrame): DataFrame = {
    val tail = Stores.split(docs, "doc_id").newer(300)
    val inc = tail.select((col("doc_id") + 3000000).as("doc_id"), col("text"))
      .unionAll(tail.select((col("doc_id") + 4000000).as("doc_id"),
        concat(col("text"), lit(" novel suffix")).as("text")))
    inc.join(store, TextAnalysis.fingerprint(col("text")) === col("fp"),
        "left_anti")
      .select(col("doc_id"))
  }

  private def fpAdmitSql(store: String): String =
    s"""WITH m AS (SELECT max(doc_id) AS mx FROM documents),
                 tail AS (SELECT doc_id, text FROM documents, m
                          WHERE doc_id > mx - 300),
                 inc AS (SELECT doc_id + 3000000 AS doc_id, text FROM tail
                         UNION ALL
                         SELECT doc_id + 4000000, concat(text, ' novel suffix')
                         FROM tail)
                 SELECT i.doc_id
                 FROM inc i LEFT ANTI JOIN $store f
                   ON graft_fingerprint(i.text) = f.fp"""

  /** The LR pairs' fixture: the weights trained on the labeled corpus,
    * stored; returns the corpus and its (positive, negative) split. */
  private val lrWeights: Ctx => (DataFrame, (DataFrame, DataFrame)) = c => {
    val docs = c.docs
    (docs, Stores.lrWeights(c.s, docs, c.out))
  }

  /** The SQL form of the LR fixture's labeled split, as `<p>_pos` and
    * `<p>_neg`. */
  private def lrLabels(e: Engine, p: String): Unit = {
    e.query(s"""CREATE OR REPLACE TEMPORARY VIEW ${p}_pos AS
                 SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0""")
    e.query(s"""CREATE OR REPLACE TEMPORARY VIEW ${p}_neg AS
                 SELECT doc_id, upper(text) AS text FROM documents
                 WHERE doc_id % 2 = 1""")
  }

  /** The Gopher quality rule both pipeline pairs apply. */
  private def gopherKeep(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    TextAnalysis.gopherKeep(text, minTokens = 10, maxTokens = 100000,
      minMeanWordLen = 2.0, maxMeanWordLen = 10.0, maxSymbolRatio = 0.1,
      minStopwordHits = 1)

  // ---- the pairs ----

  val all: Seq[Twin[_]] = Seq(
    // ---- BM25 postings + doclens ----
    // retrieval THROUGH the inverted index: postings + doc-length
    // sidecar written once (index once, query forever — serving never
    // re-tokenizes the corpus), read back, served. Same oracle as
    // llm_bm25, so storage drift hash-mismatches; SQL serves through
    // the lazy stored TVF
    twin("bm25_index", "llm_bm25_stored", "e_sql_bm25_stored")(bm25Whole)(
      (c, _) => bm25TopK(c.read("postings"), c.read("doclens")),
      (c, e, _) => {
        c.views("postings" -> "bm25_postings", "doclens" -> "bm25_doclens")
        e.query("""SELECT doc_id, bm25
                 FROM graft_bm25_stored('bm25_postings', 'bm25_doclens',
                                        'doc_id', 'hash,join,vector', 25)""")
      }),
    // BATCH retrieval over the stored index — the serving-fleet shape
    // (the knn_join symmetry): three queries, one of which matches
    // nothing (absent from the output, not zero-scored); the batch's
    // distinct terms become a driver-literal pushed In on the postings
    // scan (the probe-cell-union recipe). SQL: the queries a VALUES
    // view, the deferred join TVF
    twin("bm25_index_join", "llm_bm25_join", "e_sql_bm25_join")(bm25Whole)(
      (c, _) => {
        import c.s.implicits._
        val queries = Seq((1, "hash join"), (2, "vector scan slow"),
          (3, "zzzunknown")).toDF("query_id", "qtext")
        TextAnalysis.bm25Join(c.read("postings"), c.read("doclens"), queries,
          "doc_id", "query_id", "qtext", k = 10)
      },
      (c, e, _) => {
        c.views("postings" -> "bm25j_postings", "doclens" -> "bm25j_doclens")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW bm25j_queries AS
                 SELECT * FROM (VALUES (1, 'hash join'),
                                       (2, 'vector scan slow'),
                                       (3, 'zzzunknown'))
                   AS q(query_id, qtext)""")
        e.query("""SELECT query_id, doc_id, bm25, rank
                 FROM graft_bm25_join('bm25j_postings', 'bm25j_doclens',
                                      'bm25j_queries', 'doc_id',
                                      'query_id', 'qtext', 10)""")
      }),
    // inverted-index MAINTENANCE: postings are per-doc rows, so the
    // delta IS the append (the fp/dHash/SQ symmetry — df and corpus
    // stats are RECOMPUTED from the store at query time, so no global
    // statistic goes stale): generation A written, generation B's
    // postings + doc lengths parquet-appended, the union served; same
    // oracle as llm_bm25 — a lost append hash-mismatches
    twin("bm25_index_append", "llm_bm25_append", "e_sql_bm25_append")(c => {
      val (a, b) = twoGens(c.docs, "doc_id", "text")
      Stores.bm25(c.out, Seq(a, b).map(Stores.bm25Index))
    })(
      (c, _) => bm25TopK(c.read("postings"), c.read("doclens")),
      (c, e, _) => {
        c.views("postings" -> "bm25a_postings", "doclens" -> "bm25a_doclens")
        e.query("""SELECT doc_id, bm25
                 FROM graft_bm25_stored('bm25a_postings', 'bm25a_doclens',
                                        'doc_id', 'hash,join,vector', 25)""")
      }),
    // inverted-index TAKEDOWN (the minhash/fp/dHash store symmetry):
    // postings and the doc-length sidecar are per-doc rows, so the
    // tombstone anti-join IS the delete — and because df and corpus
    // stats are recomputed from the store at query time, the removed
    // docs stop influencing every score component (df, N, avgdl), not
    // just the result list. Oracle: the llm_bm25 algebra over the
    // remaining corpus. SQL: the tombstone an anti-predicate view over
    // BOTH store tables, the stored-serve TVF unchanged
    twin("bm25_index_delete", "llm_bm25_delete", "e_sql_bm25_delete")(bm25Whole)(
      (c, docs) => {
        val tomb = docs.select(col("doc_id")).filter(col("doc_id") % 7 === 0)
        bm25TopK(Dedup.storePurge(c.read("postings"), "doc_id", tomb),
          Dedup.storePurge(c.read("doclens"), "doc_id", tomb))
      },
      (c, e, _) => {
        c.views("postings" -> "bm25d_postings_raw",
          "doclens" -> "bm25d_doclens_raw")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW bm25d_postings AS
                 SELECT * FROM bm25d_postings_raw WHERE doc_id % 7 <> 0""")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW bm25d_doclens AS
                 SELECT * FROM bm25d_doclens_raw WHERE doc_id % 7 <> 0""")
        e.query("""SELECT doc_id, bm25
                 FROM graft_bm25_stored('bm25d_postings', 'bm25d_doclens',
                                        'doc_id', 'hash,join,vector', 25)""")
      }),
    // term-bucketed postings: each posting tagged by its term bucket
    // and the store partitioned by it, so a query reads only its terms'
    // buckets (static partition pruning; PlanSpec pins the filter)
    twin("bm25_index_pruned", "llm_bm25_pruned", "e_sql_bm25_pruned")(c =>
      Stores.bm25ByBucket(c.out, Seq(Stores.bm25BucketIndex(c.docs))))(
      (c, _) => TextAnalysis.bm25TopKStoredPruned(c.read("postings"),
        c.read("doclens"), "doc_id", queryTerms = Seq("hash", "join", "vector"),
        nBuckets = 8, k = 25),
      (c, e, _) => {
        c.views("postings" -> "bm25p_post", "doclens" -> "bm25p_dl")
        e.query("""SELECT doc_id, bm25
                 FROM graft_bm25_pruned('bm25p_post', 'bm25p_dl', 'doc_id',
                                        'hash,join,vector', 8, 25)""")
      }),
    // index COMPACTION: two generations, the llm_bm25_delete tombstones
    // purged from the FILES and the deltas consolidated into v2 tables,
    // served from v2 — the delete oracle gates it. The Scala side
    // compacts each sink as soon as it is written (the builder's
    // postingsThen/doclensThen); the SQL side writes the same store and
    // compacts it through graft_store_compact
    twin("bm25_index_compact", "llm_bm25_compact", "e_sql_bm25_compact")(c => {
      val docs = c.docs
      val (a, b) = twoGens(docs, "doc_id", "text")
      val tomb = docs.select(col("doc_id")).filter(col("doc_id") % 7 === 0)
      val compacted = new Array[DataFrame](2)
      Stores.bm25(c.out, Seq(a, b).map(Stores.bm25Index),
        postingsThen = () => compacted(0) = Dedup.storeCompact(
          c.read("postings"), "doc_id", Some(tomb), c.path("postings_v2")),
        doclensThen = () => compacted(1) = Dedup.storeCompact(
          c.read("doclens"), "doc_id", Some(tomb), c.path("doclens_v2")))
      compacted.toSeq
    })(
      (_, compacted) => bm25TopK(compacted(0), compacted(1)),
      (c, e, _) => {
        c.views("postings" -> "bm25c_post", "doclens" -> "bm25c_dl")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW bm25c_tomb AS
                 SELECT doc_id FROM documents WHERE doc_id % 7 = 0""")
        e.query(s"""CREATE OR REPLACE TEMPORARY VIEW bm25c_post_v2 AS
                 SELECT * FROM graft_store_compact('bm25c_post', 'doc_id',
                   'bm25c_tomb', '${c.path("postings_v2")}', '', 1)""")
        e.query(s"""CREATE OR REPLACE TEMPORARY VIEW bm25c_dl_v2 AS
                 SELECT * FROM graft_store_compact('bm25c_dl', 'doc_id',
                   'bm25c_tomb', '${c.path("doclens_v2")}', '', 1)""")
        e.query("""SELECT doc_id, bm25
                 FROM graft_bm25_stored('bm25c_post_v2', 'bm25c_dl_v2',
                                        'doc_id', 'hash,join,vector', 25)""")
      }).sqlFixture((c, _) => {
        val (a, b) = twoGens(c.docs, "doc_id", "text")
        Stores.bm25(c.out, Seq(a, b).map(Stores.bm25Index))
        Nil
      }),
    // SELECTIVE compaction of the term-bucketed store: only the buckets
    // holding a tombstoned posting are rewritten (through a staging
    // dir), the doclens compacted whole; served pruned. Same split of
    // the work between builder hooks (Scala) and TVFs (SQL) as
    // bm25_index_compact
    twin("bm25_selective_compact", "llm_bm25_selective_compact",
        "e_sql_bm25_selective_compact")(c => {
      val docs = c.docs
      val (a, b) = twoGens(docs, "doc_id", "text")
      val tomb = docs.select(col("doc_id")).filter(col("doc_id") % 7 === 0)
      val compacted = new Array[DataFrame](2)
      Stores.bm25ByBucket(c.out, Seq(a, b).map(Stores.bm25BucketIndex),
        postingsThen = () => compacted(0) = Dedup.storeCompactSelective(c.s,
          c.path("postings"), "doc_id", tomb, Seq("tbucket"),
          c.path("postings_staging")),
        doclensThen = () => compacted(1) = Dedup.storeCompact(
          c.read("doclens"), "doc_id", Some(tomb), c.path("doclens_v2")))
      compacted.toSeq
    })(
      (_, compacted) => TextAnalysis.bm25TopKStoredPruned(compacted(0),
        compacted(1), "doc_id", queryTerms = Seq("hash", "join", "vector"),
        nBuckets = 8, k = 25),
      (c, e, _) => {
        c.views("postings" -> "bm25sc_post", "doclens" -> "bm25sc_dl")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW bm25sc_tomb AS
                 SELECT doc_id FROM documents WHERE doc_id % 7 = 0""")
        e.query(s"""CREATE OR REPLACE TEMPORARY VIEW bm25sc_post_v2 AS
                 SELECT * FROM graft_store_compact_selective('bm25sc_post',
                   'doc_id', 'bm25sc_tomb', '${c.path("postings")}',
                   '${c.path("postings_staging")}', 'tbucket')""")
        e.query(s"""CREATE OR REPLACE TEMPORARY VIEW bm25sc_dl_v2 AS
                 SELECT * FROM graft_store_compact('bm25sc_dl', 'doc_id',
                   'bm25sc_tomb', '${c.path("doclens_v2")}', '', 1)""")
        e.query("""SELECT doc_id, bm25
                 FROM graft_bm25_pruned('bm25sc_post_v2', 'bm25sc_dl_v2',
                                        'doc_id', 'hash,join,vector', 8, 25)""")
      }).sqlFixture((c, _) => {
        val (a, b) = twoGens(c.docs, "doc_id", "text")
        Stores.bm25ByBucket(c.out, Seq(a, b).map(Stores.bm25BucketIndex))
        Nil
      }),
    // the RETRIEVAL-ERA chain end to end: Gopher keep → exact dedup
    // over a planted-duplicate crawl (keep lowest id) → BM25 index of
    // the surviving corpus built and STORED → batch hybrid serve (the
    // lexical leg from the stored index, the semantic leg over the
    // embeddings of SURVIVING docs only, RRF-fused per query). Every
    // stage is individually gated (llm_gopher / llm_exact_dedup /
    // llm_bm25_join / llm_hybrid_join); the composition pins their
    // interplay — a rejected or duplicate doc must be invisible to
    // retrieval, and the index's df/N/avgdl must reflect the
    // rejections. The SQL side computes the surviving corpus it indexes
    // from TVFs and views alone, which is what it tests; its index
    // build and serve stay the Scala side's
    twin("pipeline11", "llm_pipeline11", "e_sql_pipeline11")(c => {
      val docs = c.docs
      val crawl = docs.unionAll(
        docs.select((col("doc_id") + 500000).as("doc_id"), col("text")))
      val kept = crawl.filter(gopherKeep(col("text")))
      val fp = kept.select(col("doc_id"), col("text"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      val winners = fp.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      // the surviving corpus feeds BOTH the index build and the
      // semantic leg's semi-join — one gopher+dedup pass, not two
      val deduped = Reuse.Local(
        fp.join(winners, Seq("fp", "doc_id"), "left_semi")
          .select(col("doc_id"), col("text")))
      Stores.bm25(c.out, Seq(Stores.bm25Index(deduped)))
      deduped
    })(
      (c, deduped) => {
        import c.s.implicits._
        val queries = Seq((1L, "hash join"), (2L, "vector scan slow"),
          (3L, "zzzunknown")).toDF("query_id", "qtext")
        val bmRanked = TextAnalysis.bm25Join(c.read("postings"),
            c.read("doclens"), queries, "doc_id", "query_id", "qtext", k = 20)
          .select($"query_id", $"doc_id", $"rank")
        val emb = c.load("embeddings")
        val corpusEmb = emb.join(
          deduped.select($"doc_id".as("vec_id")), Seq("vec_id"), "left_semi")
        val qvecs = emb.filter($"vec_id".isin(1L, 2L, 3L))
          .select($"vec_id".as("query_id"), $"embedding")
        val annRanked = Similarity.knnJoin(qvecs, corpusEmb,
            "query_id", "vec_id", "embedding", "embedding",
            k = 20, excludeSelf = true)
          .withColumn("rank", row_number().over(Window.partitionBy($"query_id")
            .orderBy($"cos_sim".desc, $"neighbor_id".asc)))
          .select($"query_id", $"neighbor_id".as("doc_id"), $"rank")
        TextAnalysis.rrfFuseBy(Seq(bmRanked, annRanked),
          "query_id", "doc_id", k = 10)
      },
      (c, e, _) => {
        c.views("postings" -> "p11_postings", "doclens" -> "p11_doclens")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW p11_queries AS
                 SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'hash join'),
                                       (CAST(2 AS BIGINT), 'vector scan slow'),
                                       (CAST(3 AS BIGINT), 'zzzunknown'))
                   AS q(query_id, qtext)""")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW p11_bm AS
                 SELECT query_id, doc_id, rank
                 FROM graft_bm25_join('p11_postings', 'p11_doclens',
                                      'p11_queries', 'doc_id',
                                      'query_id', 'qtext', 20)""")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW p11_ce AS
                 SELECT e.vec_id, e.embedding FROM embeddings e
                 LEFT SEMI JOIN p11_dedup d ON e.vec_id = d.doc_id""")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW p11_qvecs AS
                 SELECT vec_id AS query_id, embedding FROM embeddings
                 WHERE vec_id IN (1, 2, 3)""")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW p11_ann AS
                 SELECT query_id, neighbor_id AS doc_id,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
                 FROM graft_knn_join('p11_qvecs', 'p11_ce', 'query_id',
                                     'vec_id', 'embedding', 'embedding',
                                     20, 1)""")
        e.query("""SELECT query_id, doc_id, rrf, rank
                 FROM graft_rrf_fuse_by('p11_bm,p11_ann', 'query_id',
                                        'doc_id', 10, 60)""")
      }).sqlFixture((c, e) => {
        e.query("""CREATE OR REPLACE TEMPORARY VIEW p11_crawl AS
                 SELECT doc_id, text FROM documents
                 UNION ALL
                 SELECT doc_id + 500000 AS doc_id, text FROM documents""")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW p11_kept AS
                 SELECT c.doc_id, c.text FROM p11_crawl c
                 LEFT SEMI JOIN graft_gopher('p11_crawl', 'doc_id', 'text',
                                             10, 100000, 2.0, 10.0,
                                             0.1, 1) g
                   ON c.doc_id = g.doc_id AND g.keep""")
        // p11_kept feeds the dedup stage twice (rows + the exact-dedup
        // TVF); p11_dedup feeds the index build AND the embeddings
        // semi-join — share each so its chain executes once (guide §3.3)
        EngineQueries.shareViews(c.s, "p11_kept")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW p11_dedup AS
                 SELECT c.doc_id, c.text FROM p11_kept c
                 LEFT SEMI JOIN graft_exact_dedup('p11_kept', 'doc_id',
                                                  'text') w
                   ON c.doc_id = w.doc_id""")
        EngineQueries.shareViews(c.s, "p11_dedup")
        val ded = c.s.table("p11_dedup")
        // LocalDeferred, not Local: the index frame contains the
        // p11_dedup deferred leaf, on which Local deliberately degrades
        // to a no-op (its construction-time toRdd hazard) — the deferred
        // variant truncates the same diamond at first execution instead
        Stores.bm25(c.out, Seq(Reuse.LocalDeferred(
          TextAnalysis.bm25Index(ded, "doc_id", "text"))))
        ded
      }),

    // ---- MinHash index ----
    // the PRODUCTION incremental-dedup composition, end to end: build
    // the corpus band/sketch index once, persist both frames to
    // parquet, reconstruct the index from the files, probe the incoming
    // shard against it — same oracle as llm_minhash_incr, so any drift
    // through the storage round-trip hash-mismatches
    twin("minhash_index", "llm_minhash_index_roundtrip",
        "e_sql_minhash_probe")(minhashWhole)(
      (c, docs) => minhashProbe(incoming(docs), Stores.readMinhash(c.s, c.out)),
      (c, e, _) => {
        c.views("bands" -> "graft_idx_bands", "sets" -> "graft_idx_sets")
        e.query(incomingView("graft_probe_new"))
        e.query("""SELECT * FROM graft_minhash_probe(
                   'graft_idx_bands', 'graft_idx_sets', 'graft_probe_new',
                   'doc_id', 'text', 16, 4, 0.5)""")
      }),
    // takedown on the MinHash store: the tombstoned docs (doc_id % 7
    // == 2) purged from BOTH index frames at read, no rebuild; their
    // clones admit again, survivors' clones still bounce
    twin("minhash_index_delete", "llm_minhash_index_delete",
        "e_sql_minhash_delete")(minhashWhole)(
      (c, docs) => {
        val tomb = docs.filter(col("doc_id") % 7 === 2).select(col("doc_id"))
        minhashProbe(incoming(docs), Dedup.MinhashIndex(
          Dedup.storePurge(c.read("bands"), "doc_id", tomb),
          Dedup.storePurge(c.read("sets"), "doc_id", tomb)))
      },
      (c, e, _) => {
        c.views("bands" -> "del_mh_bands", "sets" -> "del_mh_sets")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW del_mh_bands_p AS
                 SELECT * FROM del_mh_bands WHERE doc_id % 7 <> 2""")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW del_mh_sets_p AS
                 SELECT * FROM del_mh_sets WHERE doc_id % 7 <> 2""")
        e.query(incomingView("del_mh_incoming"))
        e.query("""SELECT id_new, id_corpus, jaccard
                 FROM graft_minhash_probe('del_mh_bands_p', 'del_mh_sets_p',
                                          'del_mh_incoming', 'doc_id', 'text',
                                          16, 4, 0.5)""")
      }),
    // index MAINTENANCE: generation A (all but the newest 150 docs)
    // indexed and stored, generation B's delta merged in; same oracle
    // as llm_minhash_incr (the whole-corpus index). The Scala side
    // merges B into the read-back index in memory
    // (minhashIndexAppend); the SQL side appends B's index frames to
    // the store files and serves the read-back union
    twin("minhash_index_append", "llm_minhash_index_append",
        "e_sql_minhash_append")(c => {
      val docs = c.docs
      val gen = Stores.split(docs, "doc_id")
      val a = gen.older(150).select(col("doc_id"), col("text"))
      Stores.minhash(Dedup.minhashIndex(a, "doc_id", "text", k = 16,
        nBands = 4), c.out)
      (docs, gen.newer(150).select(col("doc_id"), col("text")))
    })(
      (c, f) => minhashProbe(incoming(f._1), Dedup.minhashIndexAppend(
        Stores.readMinhash(c.s, c.out), f._2, "doc_id", "text",
        k = 16, nBands = 4)),
      (c, e, f) => {
        val delta = Dedup.minhashIndex(f._2, "doc_id", "text", k = 16,
          nBands = 4)
        delta.bands.write.mode("append").parquet(c.path("bands"))
        delta.sets.write.mode("append").parquet(c.path("sets"))
        c.views("bands" -> "graft_mh_bands", "sets" -> "graft_mh_sets")
        e.query(incomingView("graft_incoming_v"))
        e.query("""SELECT * FROM graft_minhash_probe(
                   'graft_mh_bands', 'graft_mh_sets', 'graft_incoming_v',
                   'doc_id', 'text', 16, 4, 0.5)""")
      }),

    // ---- decontamination index ----
    // the PRODUCTION admission-control composition: build the eval
    // decontamination index once (the newest 100 docs), persist sketch
    // + hash frame to parquet, reconstruct from the files, probe the
    // rest of the corpus — same fixture and oracle as
    // llm_decontaminate_bloom, so any drift through the storage
    // round-trip hash-mismatches
    twin("decontam_index", "llm_decontam_roundtrip",
        "e_sql_decontam_roundtrip")(c => {
      val gen = Stores.split(c.load("documents"), "doc_id")
      Stores.decontam(Stores.decontamIndex(
        gen.newer(100).select(col("doc_id"), col("text"))), c.out)
      gen
    })(
      (c, gen) => Dedup.decontaminateStored(
        gen.older(100).select(col("doc_id"), col("text")),
        Stores.readDecontam(c.s, c.out), "doc_id", "text"),
      (c, e, _) => {
        c.views("sketch" -> "graft_dc_sketch", "hashes" -> "graft_dc_hashes")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_corpus_v AS
                 SELECT doc_id, text FROM documents
                 WHERE doc_id <= (SELECT max(doc_id) - 100 FROM documents)""")
        e.query("""SELECT * FROM graft_decontaminate_stored(
                   'graft_corpus_v', 'graft_dc_sketch', 'graft_dc_hashes',
                   'doc_id', 'text')""")
      }),

    // ---- KN trigram model ----
    // the CCNet deployment shape: the KN model trained on the REFERENCE
    // half (even doc_ids), its five count tables STORED, and the WHOLE
    // corpus scored from the read-back tables — odd docs hit unseen
    // trigrams/contexts, exercising every back-off branch; n_unseen is
    // the drift signal. The oracle replays train-on-half + branchy
    // scoring from the parquet inputs
    twin("kn_model", "llm_trigram_kn_stored", "e_sql_trigram_kn_stored")(c => {
      val docs = c.docs
      val model = TextAnalysis.trigramKnTrain(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      Stores.knModel(model, c.out)
      (docs, model)
    })(
      (c, f) => TextAnalysis.trigramKnScoreStored(f._1, "doc_id", "text",
        Stores.readKnModel(c.s, f._2, c.out)),
      (c, e, f) => {
        c.views(f._2.keys.map(k => k -> s"knm_$k").toSeq: _*)
        e.query("""SELECT * FROM graft_trigram_kn_stored('knm_c3', 'knm_ctx',
                   'knm_sfx', 'knm_mid', 'knm_uni', 'documents',
                   'doc_id', 'text', 0.75)""")
      }),
    // KN model MAINTENANCE: the reference half arrives in TWO
    // generations — gen A (doc_id % 4 == 0) trained and STORED, gen B
    // (doc_id % 4 == 2) merged in via trigramKnAppend from the
    // READ-BACK store (occurrence counts add, continuation stats
    // recomputed from the merged type table; gen A's text never
    // re-read). A∪B is exactly the stored gate's reference half (even
    // ids), so that gate's oracle gates the merge law
    // append(train(A), B) == train(A ∪ B) end-to-end: any drifted count
    // shifts a back-off branch and hash-mismatches
    twin("kn_model_append", "llm_trigram_kn_append",
        "e_sql_trigram_kn_append")(c => {
      val docs = c.docs
      val mA = TextAnalysis.trigramKnTrain(
        docs.filter(col("doc_id") % 4 === 0), "doc_id", "text")
      // v2 is merged from v1's read-back, so the two stores are written
      // one after the other
      Stores.knModel(mA, c.path("v1"))
      val merged = TextAnalysis.trigramKnAppend(
        Stores.readKnModel(c.s, mA, c.path("v1")),
        docs.filter(col("doc_id") % 4 === 2), "doc_id", "text")
      Stores.knModel(merged, c.path("v2"))
      (docs, merged)
    })(
      (c, f) => TextAnalysis.trigramKnScoreStored(f._1, "doc_id", "text",
        Stores.readKnModel(c.s, f._2, c.path("v2"))),
      (c, e, f) => {
        c.views(f._2.keys.map(k => s"v2/$k" -> s"knma_$k").toSeq: _*)
        e.query("""SELECT * FROM graft_trigram_kn_stored('knma_c3', 'knma_ctx',
                   'knma_sfx', 'knma_mid', 'knma_uni', 'documents',
                   'doc_id', 'text', 0.75)""")
      }),

    // ---- unigram pieces ----
    // the serving half: train -> STORE -> tokenize the corpus under the
    // read-back piece table (Viterbi segmentation per word via the
    // compiled per-row expression, vocabulary inlined); SQL serves
    // through the deferred TVF
    twin("unigram_pieces", "llm_unigram_tokenize", "e_sql_unigram_tokenize")(c => {
      val docs = c.docs
      Stores.unigramPieces(docs, c.out)
      docs
    })(
      (c, docs) => TextAnalysis.unigramTokenize(docs, "doc_id", "text",
        c.read()),
      (c, e, _) => {
        c.views("" -> "unig_pieces")
        e.query("""SELECT * FROM graft_unigram_tokenize('documents',
                   'doc_id', 'text', 'unig_pieces')""")
      }),

    // ---- IVF-PQ cells / codebooks / codes ----
    // the COMPLETE ANN serving index through storage: cells, codebooks,
    // and cell-tagged codes written as three plain parquet tables,
    // reconstructed from the files, served via stored IVF-PQ —
    // identical output to the in-memory llm_ann_ivf_pq (same oracle),
    // so any artifact drift hash-mismatches. After the one encode pass
    // the vectors are never read again; the query vector arrives
    // explicitly (the serving coordinator holds it)
    twin("ann_index", "llm_ann_index_roundtrip", "e_sql_ann_stored")(
      ivfAll(fullStore))(
      (c, v) => {
        val (cents, cbs) = Stores.readIvfPq(c.s, c.out)
        v.topK(c.read("codes"), cents, cbs)
      },
      (c, e, _) => {
        ivfViews(c, "graft_ann")
        e.query("""SELECT vec_id, adc_score
                 FROM graft_ann_stored('graft_ann_codes', 'graft_ann_cells',
                                       'graft_ann_cbs', 'embeddings',
                                       'vec_id', 'embedding', 0, 10, 2)""")
      }),
    // ANN index MAINTENANCE: cells and codebooks trained on generation
    // A and stored with A's codes; B encoded under the READ-BACK
    // cells/codebooks and its codes parquet-appended. Same oracle as
    // llm_ann_ivf_pq
    twin("ann_index_append", "llm_ann_index_append", "e_sql_ann_append")(c => {
      val emb = c.load("embeddings")
      val (a, b) = twoGens(emb, "vec_id", "embedding")
      val v = Ivf(emb, Stores.seedCells(a), Stores.codebooks(a))
      fullStore(c, v, Seq(v.codes(a)))
      val (cents, cbs) = Stores.readIvfPq(c.s, c.out)
      val stored = Ivf(emb, cents, cbs)
      stored.codes(b).write.mode("append").parquet(c.path("codes"))
      stored
    })(
      (c, v) => v.topK(c.read("codes")),
      (c, e, _) => {
        ivfViews(c, "graft_apnd")
        e.query("""SELECT vec_id, adc_score
                 FROM graft_ann_stored('graft_apnd_codes', 'graft_apnd_cells',
                                       'graft_apnd_cbs', 'embeddings',
                                       'vec_id', 'embedding', 0, 10, 2)""")
      }),
    // the IVF-PQ codes partitionBy(cell): serving probes with the
    // driver-literal cell filter — static partition pruning (PlanSpec
    // pins PartitionFilters); same oracle as llm_ann_ivf_pq
    twin("ann_index_part", "llm_ann_partition_prune",
        "e_sql_ann_partition_prune")(ivfAll(codesByCell))(
      (c, v) => v.topK(c.read("codes")),
      (c, e, _) => {
        ivfViews(c, "graft_part")
        e.query("""SELECT vec_id, adc_score
                 FROM graft_ann_stored('graft_part_codes', 'graft_part_cells',
                                       'graft_part_cbs', 'embeddings',
                                       'vec_id', 'embedding', 0, 10, 2)""")
      }).sqlFixture((c, _) => ivfAll(fullByCell)(c)),
    // takedown on the ANN store: tombstoned vectors (vec_id % 10 == 3)
    // purged from the codes at read, no re-encode; the oracle is the
    // in-memory IVF-PQ over the remaining vectors
    twin("ann_index_delete", "llm_ann_index_delete", "e_sql_ann_delete")(
      ivfAll(codesOnly))(
      (c, v) => v.topK(
        Dedup.storePurge(c.read("codes"), "vec_id", annTomb(v.emb))),
      (c, e, _) => {
        ivfViews(c, "del_ann")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW del_ann_codes_purged AS
                 SELECT * FROM del_ann_codes WHERE vec_id % 10 <> 3""")
        e.query("""SELECT vec_id, adc_score
                 FROM graft_ann_stored('del_ann_codes_purged', 'del_ann_cells',
                                       'del_ann_cbs', 'embeddings',
                                       'vec_id', 'embedding', 0, 10, 2)""")
      }).sqlFixture((c, _) => ivfAll(fullStore)(c)),
    // ANN compaction: two generations of cell-partitioned codes, the
    // llm_ann_index_delete tombstones purged from the FILES, deltas
    // consolidated per cell, served from v2 ⇒ the delete oracle gates it
    twin("ann_index_compact", "llm_ann_index_compact", "e_sql_ann_compact")(
      ivfGens(codesByCell))(
      (c, v) => v.topK(Dedup.storeCompact(c.read("codes"), "vec_id",
        Some(annTomb(v.emb)), c.path("codes_v2"), partitionCols = Seq("cell"))),
      (c, e, _) => {
        ivfViews(c, "cmp_ann")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW cmp_ann_tomb AS
                 SELECT vec_id FROM cmp_ann_codes WHERE vec_id % 10 = 3""")
        e.query(s"""CREATE OR REPLACE TEMPORARY VIEW cmp_ann_codes_v2 AS
                 SELECT * FROM graft_store_compact('cmp_ann_codes', 'vec_id',
                   'cmp_ann_tomb', '${c.path("codes_v2")}', 'cell', 1)""")
        e.query("""SELECT vec_id, adc_score
                 FROM graft_ann_stored('cmp_ann_codes_v2', 'cmp_ann_cells',
                                       'cmp_ann_cbs', 'embeddings',
                                       'vec_id', 'embedding', 0, 10, 2)""")
      }).sqlFixture((c, _) => ivfGens(fullByCell)(c)),
    // SELECTIVE ANN compaction: only the cells holding a tombstoned
    // vector are rewritten (through a staging dir); the delete oracle
    // gates it
    twin("ann_selective_compact", "llm_ann_selective_compact",
        "e_sql_ann_selective_compact")(ivfGens(codesByCell))(
      (c, v) => v.topK(Dedup.storeCompactSelective(c.s, c.path("codes"),
        "vec_id", annTomb(v.emb), Seq("cell"), c.path("codes_staging"))),
      (c, e, _) => {
        ivfViews(c, "selann")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW selann_tomb AS
                 SELECT vec_id FROM selann_codes WHERE vec_id % 10 = 3""")
        e.query(s"""CREATE OR REPLACE TEMPORARY VIEW selann_codes_v2 AS
                 SELECT * FROM graft_store_compact_selective('selann_codes',
                   'vec_id', 'selann_tomb', '${c.path("codes")}',
                   '${c.path("codes_staging")}', 'cell')""")
        e.query("""SELECT vec_id, adc_score
                 FROM graft_ann_stored('selann_codes_v2', 'selann_cells',
                                       'selann_cbs', 'embeddings',
                                       'vec_id', 'embedding', 0, 10, 2)""")
      }).sqlFixture((c, _) => ivfGens(fullByCell)(c)),
    // RESIDUAL IVF-PQ through storage, codes partitioned by cell; same
    // oracle as llm_ann_ivf_pq_residual
    twin("ann_residual_store", "llm_ann_residual_stored",
        "e_sql_ann_residual_stored")(residual(codesByCell))(
      (c, v) => Similarity.ivfPqTopKResidualStored(c.read("codes"), "vec_id",
        v.cents, v.cbs, subDim = 16,
        Similarity.queryVecOf(v.emb, "vec_id", "embedding", 0),
        k = 10, probes = 2, excludeId = Some(0L)),
      (c, e, _) => {
        ivfViews(c, "graft_res")
        e.query("""SELECT vec_id, adc_score
                 FROM graft_ann_residual_stored('graft_res_codes',
                        'graft_res_cells', 'graft_res_cbs', 'embeddings',
                        'vec_id', 'embedding', 0, 10, 2)""")
      }).sqlFixture((c, _) => residual(fullByCell)(c)),
    // BATCH kNN through the stored IVF-PQ index: ten query vectors
    // against the read-back codes, cells and codebooks
    twin("knn_stored", "llm_knn_join_stored", "e_sql_knn_join_stored")(
      ivfAll(fullStore))(
      (c, v) => {
        val (cents, cbs) = Stores.readIvfPq(c.s, c.out)
        Similarity.ivfPqKnnJoinStored(v.queries, c.read("codes"),
          "vec_id", "vec_id", "embedding", cents, cbs, subDim = 16, k = 5,
          probes = 2, excludeSelf = true)
      },
      (c, e, _) => {
        ivfViews(c, "graft_knn")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW knn_queries AS
                 SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10""")
        e.query("""SELECT query_id, neighbor_id, adc_score
                 FROM graft_knn_join_stored('graft_knn_codes', 'graft_knn_cells',
                                            'graft_knn_cbs', 'knn_queries',
                                            'vec_id', 'vec_id', 'embedding',
                                            5, 2, 1)""")
      }),
    // batch kNN over cell-partitioned codes: the batch's probe-cell
    // union pushed as a partition filter; same oracle as
    // llm_knn_join_stored
    twin("knn_stored_part", "llm_knn_join_pruned", "e_sql_knn_join_pruned")(
      ivfAll(codesByCell))(
      (c, v) => Similarity.ivfPqKnnJoinStoredPruned(v.queries, c.read("codes"),
        "vec_id", "vec_id", "embedding", v.cents, v.cbs, subDim = 16, k = 5,
        probes = 2, excludeSelf = true),
      (c, e, v) => {
        v.queries.createOrReplaceTempView("graft_knnp_queries")
        ivfViews(c, "graft_knnp")
        e.query("""SELECT query_id, neighbor_id, adc_score
                 FROM graft_knn_join_pruned('graft_knnp_codes',
                        'graft_knnp_cells', 'graft_knnp_cbs',
                        'graft_knnp_queries', 'vec_id', 'vec_id',
                        'embedding', 5, 2, 1)""")
      }).sqlFixture((c, _) => ivfAll(fullByCell)(c)),
    // batch kNN with exact RERANK: 15 ADC candidates per query from the
    // stored codes, rescored by exact cosine against the raw vectors
    twin("knn_rerank", "llm_knn_join_rerank", "e_sql_knn_join_rerank")(
      ivfAll(codesOnly))(
      (c, v) => Similarity.ivfPqKnnJoinStoredRerank(v.queries, c.read("codes"),
        v.emb, "vec_id", "vec_id", "embedding", "embedding", v.cents, v.cbs,
        subDim = 16, k = 5, probes = 2, candC = 15, excludeSelf = true),
      (c, e, _) => {
        ivfViews(c, "graft_rr")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW knn_queries AS
                 SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10""")
        e.query("""SELECT query_id, neighbor_id, cos_sim
                 FROM graft_knn_join_rerank('graft_rr_codes', 'graft_rr_cells',
                                            'graft_rr_cbs', 'knn_queries',
                                            'embeddings', 'vec_id', 'vec_id',
                                            'embedding', 'embedding',
                                            5, 2, 15, 1)""")
      }).sqlFixture((c, _) => ivfAll(fullStore)(c)),

    // ---- SQ and IVF-SQ codes ----
    // the SQ path THROUGH STORAGE: int8-valued codes + one double scale
    // per vector written to parquet, read back, served — same oracle as
    // the in-memory form, so storage drift hash-mismatches
    twin("sq_codes", "llm_ann_sq_stored", "e_sql_ann_sq_stored")(c => {
      val emb = c.load("embeddings")
      Stores.sq(c.out, emb)
      emb
    })(
      (c, emb) => sqTopK(c.read(), emb),
      (c, e, _) => {
        c.views("" -> "graft_sq_codes")
        e.query("""SELECT vec_id, sq_score
                 FROM graft_ann_sq_stored('graft_sq_codes', 'embeddings',
                                          'vec_id', 'embedding', 0, 10)""")
      }),
    // SQ index MAINTENANCE: per-row encode means the delta IS the
    // append (the fp/dHash symmetry, no artifacts to drift) — gen A
    // written, gen B's codes parquet-appended, the union served; same
    // oracle as llm_ann_sq, so a lost append hash-mismatches
    twin("sq_codes_append", "llm_ann_sq_append", "e_sql_ann_sq_append")(c => {
      val emb = c.load("embeddings")
      val (a, b) = twoGens(emb, "vec_id", "embedding")
      Stores.sq(c.out, a, b)
      emb
    })(
      (c, emb) => sqTopK(c.read(), emb),
      (c, e, _) => {
        c.views("" -> "graft_sq_codes_apnd")
        e.query("""SELECT vec_id, sq_score
                 FROM graft_ann_sq_stored('graft_sq_codes_apnd', 'embeddings',
                                          'vec_id', 'embedding', 0, 10)""")
      }),
    // the IVF×SQ store at its 100 TB layout: codes partitionBy(cell),
    // serving probes with the driver-literal cell filter — static
    // partition pruning (PlanSpec pins PartitionFilters); same oracle
    // as the in-memory form. The Scala side stores the codes alone; the
    // SQL side's TVF reads the cells back, so its store holds both
    twin("ivf_sq_codes", "llm_ann_ivf_sq_stored", "e_sql_ann_ivf_sq_stored")(
      ivfSq((c, emb, cents) => Stores.ivfSqCodes(c.out, emb, cents)))(
      (c, f) => Similarity.ivfSqTopKStored(c.read(), "vec_id", f._2,
        Similarity.queryVecOf(f._1, "vec_id", "embedding", 0),
        k = 10, probes = 2, excludeId = Some(0L)),
      (c, e, _) => {
        c.views("cells" -> "graft_ivfsq_cells", "codes" -> "graft_ivfsq_codes")
        e.query("""SELECT vec_id, sq_score
                 FROM graft_ann_ivf_sq_stored('graft_ivfsq_codes',
                        'graft_ivfsq_cells', 'embeddings',
                        'vec_id', 'embedding', 0, 10, 2)""")
      }).sqlFixture((c, _) =>
        ivfSq((c, emb, cents) => Stores.ivfSq(c.s, cents, c.out, emb))(c)),

    // ---- image dHash / audio fingerprints / video frames ----
    // incremental media admission: the corpus slice's hashes STORED
    // (payloads never touched again), the edited-clone shard probed
    // against the read-back frame. Append: the slice in two
    // generations, the second parquet-APPENDED (the hash of just the
    // new media IS the delta) — same oracle as the one-generation
    // store, so a lost append under-reports pairs. Delete: tombstoned
    // ids (doc_id % 5 == 1) purged AT READ — clones of purged media
    // ADMIT again, survivors' clones still bounce. Compact: two
    // generations, the tombstones purged from the FILES, deltas
    // consolidated — the delete oracle gates it
    twin("image_dhash_store", "llm_image_incr", "e_sql_image_incr")(
      image.slice)(
      (c, m) => image.scala(m, c.read()),
      (c, e, _) => {
        c.views("" -> "image_hashes")
        image.sql(e, "image_probe", "image_hashes")
      }),
    twin("image_dhash_append", "llm_image_append", "e_sql_image_append")(
      image.gens(""))(
      (c, m) => image.scala(m, c.read()),
      (c, e, _) => {
        c.views("" -> "image_hashes_apnd")
        image.sql(e, "image_probe_apnd", "image_hashes_apnd")
      }),
    twin("image_dhash_delete", "llm_image_delete", "e_sql_image_delete")(
      image.slice)(image.purged,
      (c, e, _) => image.sqlPurged(c, e, "image_hashes_del",
        "image_hashes_purged", "image_probe_del")),
    twin("image_dhash_compact", "llm_image_compact", "e_sql_image_compact")(
      image.gens("store"))(image.compacted,
      (c, e, _) => image.sqlCompacted(c, e, "imgcmp")),
    twin("audio_fp_store", "llm_audio_probe", "e_sql_audio_probe")(
      audio.slice)(
      (c, m) => audio.scala(m, c.read()),
      (c, e, _) => {
        c.views("" -> "audio_fps")
        audio.sql(e, "audio_probe", "audio_fps")
      }),
    twin("audio_fp_append", "llm_audio_append", "e_sql_audio_append")(
      audio.gens(""))(
      (c, m) => audio.scala(m, c.read()),
      (c, e, _) => {
        c.views("" -> "audio_fps_app")
        audio.sql(e, "audio_probe_app", "audio_fps_app")
      }),
    twin("audio_fp_delete", "llm_audio_delete", "e_sql_audio_delete")(
      audio.slice)(audio.purged,
      (c, e, _) => audio.sqlPurged(c, e, "audio_fps_del", "audio_fps_purged",
        "audio_probe_del")),
    twin("audio_fp_compact", "llm_audio_compact", "e_sql_audio_compact")(
      audio.gens("store"))(audio.compacted,
      (c, e, _) => audio.sqlCompacted(c, e, "audcmp")),
    twin("video_frames_store", "llm_video_probe", "e_sql_video_probe")(
      video.slice)(
      (c, m) => video.scala(m, c.read()),
      (c, e, _) => {
        c.views("" -> "video_frames_v")
        video.sql(e, "video_probe", "video_frames_v")
      }),
    twin("video_frames_append", "llm_video_append", "e_sql_video_append")(
      video.gens(""))(
      (c, m) => video.scala(m, c.read()),
      (c, e, _) => {
        c.views("" -> "video_frames_app")
        video.sql(e, "video_probe_app", "video_frames_app")
      }),
    twin("video_frames_delete", "llm_video_delete", "e_sql_video_delete")(
      video.slice)(video.purged,
      (c, e, _) => video.sqlPurged(c, e, "video_frames_del",
        "video_frames_purged", "video_probe_del")),
    twin("video_frames_compact", "llm_video_compact", "e_sql_video_compact")(
      video.gens("store"))(video.compacted,
      (c, e, _) => video.sqlCompacted(c, e, "vidcmp")),
    // the IMAGE side of the intra-batch window: a micro-batch carrying
    // the same payload twice admits every copy under the per-row store
    // probe (the dHash store has seen none of them). admitBatchMedia
    // keep-firsts within the batch (banded dHash pairs, higher id
    // drops), THEN probes the stored frame: corpus payload clones
    // bounce at the store, each novel payload admits exactly once (its
    // in-batch twin dropped at the keep-first). SQL: graft_image_dups
    // within the batch view, survivors probe via graft_image_probe
    twin("selfdedup_media", "llm_admission_selfdedup_media",
        "e_sql_admission_selfdedup_media")(c => {
      val docs = c.docs
      Stores.dHash(c.out, docs)
      docs
    })(
      (c, docs) => {
        val gen = Stores.split(docs, "doc_id")
        val a = gen.where(gen.above(300) && gen.atMost(200))
          .select(col("doc_id"), col("text"))
        val batch = a.select((col("doc_id") + 3000000).as("doc_id"),
            col("text").as("pay"))
          .unionAll(a.select((col("doc_id") + 4000000).as("doc_id"),
            reverse(col("text")).as("pay")))
          .unionAll(a.select((col("doc_id") + 5000000).as("doc_id"),
            reverse(col("text")).as("pay")))
        graft.streaming.Corpus.admitBatchMedia(batch, c.read(),
            "doc_id", "pay")
          .select(col("doc_id"))
      },
      (c, e, _) => {
        c.views("" -> "sddm_hashes")
        e.query(s"""CREATE OR REPLACE TEMPORARY VIEW sddm_batch AS
                 WITH $admissionBatchCtes
                 SELECT doc_id + 3000000 AS doc_id,
                        CAST(text AS BINARY) AS payload FROM aa
                 UNION ALL
                 SELECT doc_id + 4000000, CAST(reverse(text) AS BINARY) FROM aa
                 UNION ALL
                 SELECT doc_id + 5000000, CAST(reverse(text) AS BINARY) FROM aa""")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW sddm_reps AS
                 SELECT i.doc_id, i.payload FROM sddm_batch i
                 LEFT ANTI JOIN (
                     SELECT DISTINCT id_b FROM graft_image_dups(
                       'sddm_batch', 'doc_id', 'payload', 3, 4)) l
                   ON i.doc_id = l.id_b""")
        e.query("""SELECT r.doc_id FROM sddm_reps r
                 LEFT ANTI JOIN (
                     SELECT DISTINCT id_new FROM graft_image_probe(
                       'sddm_reps', 'sddm_hashes', 'doc_id', 'payload',
                       3, 4)) h
                   ON r.doc_id = h.id_new""")
      }),

    // ---- exact fingerprints ----
    // the fingerprint store in two generations (the second appended),
    // admission against the read-back union: exact clones of the newest
    // 300 docs bounce, suffixed copies admit — same oracle as
    // llm_exact_incr
    twin("fingerprint_store_append", "llm_fp_append", "e_sql_fp_append")(
      fingerprints(""))(
      (c, docs) => fpAdmit(docs, c.read()),
      (c, e, _) => {
        c.views("" -> "graft_fp_store_sql")
        e.query(fpAdmitSql("graft_fp_store_sql"))
      }),
    // fingerprint-store compaction: the fingerprints of the tombstoned
    // docs (doc_id % 7 == 0) purged from the files, deltas
    // consolidated; their clones admit again
    twin("fingerprint_store_compact", "llm_fp_compact", "e_sql_fp_compact")(
      fingerprints("store"))(
      (c, docs) => {
        val tomb = docs.filter(col("doc_id") % 7 === 0)
          .select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
        fpAdmit(docs, Dedup.storeCompact(c.read("store"), "fp", Some(tomb),
          c.path("store_v2")))
      },
      (c, e, _) => {
        c.views("store" -> "fpcmp_store")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW fpcmp_tomb AS
                 SELECT DISTINCT graft_fingerprint(text) AS fp
                 FROM documents WHERE doc_id % 7 = 0""")
        e.query(s"""CREATE OR REPLACE TEMPORARY VIEW fpcmp_v2 AS
                 SELECT * FROM graft_store_compact('fpcmp_store', 'fp',
                   'fpcmp_tomb', '${c.path("store_v2")}', '', 1)""")
        e.query(fpAdmitSql("fpcmp_v2"))
      }),

    // ---- LR quality model ----
    // the quality classifier's weights trained, STORED, and the corpus
    // scored from the read-back weights (SQL: the deferred scoring TVF)
    twin("quality_lr", "llm_quality_classifier", "e_sql_lr_score_stored")(
      lrWeights)(
      (c, f) => Classifier.lrScore(f._1, "doc_id", "text", c.read(),
        buckets = 64),
      (c, e, _) => {
        c.views("" -> "graft_lr_weights")
        e.query("""SELECT * FROM graft_lr_score('graft_lr_weights', 'documents',
                                              'doc_id', 'text', 64)""")
      }),
    // held-out evaluation of the stored weights on the labeled split
    twin("quality_lr_eval", "llm_lr_eval", "e_sql_lr_eval")(lrWeights)(
      (c, f) => Classifier.lrEvalReport(f._2._1, f._2._2, "doc_id", "text",
        c.read(), buckets = 64),
      (c, e, _) => {
        c.views("" -> "graft_lr_eval_w")
        lrLabels(e, "graft_lre")
        e.query("""SELECT * FROM graft_lr_eval('graft_lr_eval_w',
                   'graft_lre_pos', 'graft_lre_neg', 'doc_id', 'text', 64)""")
      }),
    // calibration of the stored weights: 10 probability bins
    twin("quality_lr_calibration", "llm_lr_calibration",
        "e_sql_lr_calibration")(lrWeights)(
      (c, f) => Classifier.lrCalibrationReport(f._2._1, f._2._2, "doc_id",
        "text", c.read(), buckets = 64, nBins = 10),
      (c, e, _) => {
        c.views("" -> "graft_lrc_w")
        lrLabels(e, "graft_lrc")
        e.query("""SELECT * FROM graft_lr_calibration('graft_lrc_pos',
                   'graft_lrc_neg', 'doc_id', 'text', 'graft_lrc_w',
                   64, 10)""")
      }),

    // ---- pipelines over stores ----
    // pipeline9 — the MIXED-MODALITY ingestion front door: each
    // incoming row carries BOTH a text and a media payload; a row is
    // admitted only if the TEXT path (gopher keep → 13-gram
    // decontamination vs the eval slice → minhash probe vs the stored
    // corpus index) AND the MEDIA path (per-row dHash probe vs the
    // stored corpus frame) both pass. Four incoming groups isolate
    // every rejection combination: text-clone+media-clone (both
    // bounce), text-novel+media-clone (media bounces),
    // text-clone+media-novel (text bounces), both-novel (ADMITTED).
    // The stores are written once at corpus-build time: the text
    // minhash index frames and the 8-byte-per-row media dHash frame,
    // as independent sinks that overlap (guide §2.6)
    twin("pipeline9", "llm_pipeline9", "e_sql_pipeline9")(c => {
      val docs = c.docs
      val idx = Dedup.minhashIndex(docs, "doc_id", "text")
      Par.jobs(
        () => Stores.minhash(idx, c.path("mh")),
        () => Stores.dHash(c.path("dh"), docs))
      docs
    })(
      (c, docs) => {
        import c.s.implicits._
        val gen = Stores.split(docs, "doc_id")
        val a = gen.where(gen.above(300) && gen.atMost(200))
          .select($"doc_id", $"text")
        val novel = a.select($"doc_id".as("aid"), $"text".as("atext"))
          .join(docs.select($"doc_id".as("bid"), $"text".as("btext")),
            $"aid" - 120 === $"bid")
          .join(docs.select($"doc_id".as("cid"), $"text".as("ctext")),
            $"aid" - 240 === $"cid")
          .select($"aid", $"atext",
            concat_ws(" ", $"atext", $"btext", $"ctext").as("ntext"))
        // the fixture feeds the TEXT path and the MEDIA probe, and
        // `clean` below feeds both the minhash probe and the text-OK
        // anti-join — truncate lineage at each fan-out so the
        // fixture-join chain runs once, not three times (guide §3.3)
        val incoming = Reuse.Local(a
          .select(($"doc_id" + 3000000).as("doc_id"), $"text", $"text".as("pay"))
          .unionAll(novel.select(($"aid" + 4000000).as("doc_id"),
            $"ntext".as("text"), $"atext".as("pay")))
          .unionAll(a.select(($"doc_id" + 5000000).as("doc_id"), $"text",
            reverse($"text").as("pay")))
          .unionAll(novel.select(($"aid" + 6000000).as("doc_id"),
            $"ntext".as("text"), reverse($"atext").as("pay"))))
        val ev = gen.newer(100).select($"doc_id", $"text")
        // TEXT path (quality filter and decontamination anti-join both
        // preserve the payload column — the row stays whole)
        val quality = incoming.filter(gopherKeep($"text"))
        val clean = Reuse.Local(graft.streaming.Corpus.cleanAgainst(
          quality, ev, "doc_id", "text", n = 13))
        val mhHits = graft.streaming.Corpus.admitProbe(
            clean.select($"doc_id", $"text"),
            Stores.readMinhash(c.s, c.path("mh")), "doc_id", "text")
          .select($"id_new".as("doc_id")).distinct()
        val textOk = clean.join(broadcast(mhHits), Seq("doc_id"), "left_anti")
        // MEDIA path: per-row dHash probe of the payload column
        val imgHits = Multimodal.imageNearDupsBetween(
            Multimodal.asMedia(incoming.select($"doc_id", $"pay"),
              "doc_id", "pay"),
            c.read("dh"), maxHamming = 3, nBands = 4)
          .select($"id_new".as("doc_id")).distinct()
        textOk.join(broadcast(imgHits), Seq("doc_id"), "left_anti")
          .select($"doc_id")
      },
      (c, e, _) => {
        c.views("mh/bands" -> "p9_mh_bands", "mh/sets" -> "p9_mh_sets",
          "dh" -> "p9_dh")
        e.query(s"""CREATE OR REPLACE TEMPORARY VIEW p9_inc AS
                 WITH $admissionBatchCtes,
                 nov AS (SELECT a.doc_id, a.text AS atext,
                                concat_ws(' ', a.text, b.text, c.text) AS ntext
                         FROM aa a
                         JOIN documents b ON b.doc_id = a.doc_id - 120
                         JOIN documents c ON c.doc_id = a.doc_id - 240)
                 SELECT doc_id + 3000000 AS doc_id, text, text AS pay FROM aa
                 UNION ALL SELECT doc_id + 4000000, ntext, atext FROM nov
                 UNION ALL SELECT doc_id + 5000000, text, reverse(text) FROM aa
                 UNION ALL SELECT doc_id + 6000000, ntext, reverse(atext) FROM nov""")
        // p9_inc feeds the quality gate (twice: rows + the gopher TVF)
        // AND the media view; p9_quality feeds p9_clean twice (rows + the
        // decontaminate TVF); p9_clean appears twice in the final
        // statement (rows + the minhash probe). Shared, each stage runs
        // once.
        EngineQueries.shareViews(c.s, "p9_inc")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW p9_quality AS
                 SELECT i.doc_id, i.text, i.pay
                 FROM p9_inc i
                 JOIN graft_gopher('p9_inc', 'doc_id', 'text',
                                   10, 100000, 2.0, 10.0, 0.1, 1) g
                   ON i.doc_id = g.doc_id AND g.keep""")
        EngineQueries.shareViews(c.s, "p9_quality")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW p9_eval AS
                 SELECT doc_id, text FROM documents
                 WHERE doc_id > (SELECT max(doc_id) - 100 FROM documents)""")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW p9_clean AS
                 SELECT q.doc_id, q.text, q.pay
                 FROM p9_quality q
                 JOIN graft_decontaminate('p9_quality', 'p9_eval',
                                          'doc_id', 'text', 13) d
                   ON q.doc_id = d.doc_id AND NOT d.contaminated""")
        EngineQueries.shareViews(c.s, "p9_clean")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW p9_media AS
                 SELECT doc_id, CAST(pay AS BINARY) AS payload FROM p9_inc""")
        // LEFT ANTI joins, not NOT IN (the null-aware form plans a
        // BNLJ). BROADCAST hints: the shared deferred leaves report
        // conservative (huge) stats by design, which would push these
        // anti-joins to sort-merge — but a probe-hit set is bounded by
        // the incoming micro-batch, the textbook broadcast side (guide
        // §3.1: hint when the estimate is wrong)
        e.query("""SELECT /*+ BROADCAST(mh), BROADCAST(im) */ c.doc_id
                 FROM p9_clean c
                 LEFT ANTI JOIN (
                     SELECT DISTINCT id_new FROM graft_minhash_probe(
                       'p9_mh_bands', 'p9_mh_sets', 'p9_clean',
                       'doc_id', 'text', 16, 4, 0.5)) mh
                   ON c.doc_id = mh.id_new
                 LEFT ANTI JOIN (
                     SELECT DISTINCT id_new FROM graft_image_probe(
                       'p9_media', 'p9_dh', 'doc_id', 'payload', 3, 4)) im
                   ON c.doc_id = im.id_new""")
      }),
    // crawl-to-corpus FROM THE RECORD FORMAT (the exosql "SQL to
    // whatever" identity applied to the crawl layout): the DOUBLED
    // corpus html-wrapped and framed as per-record-GZIP WARC members
    // (the S9 sink, Common-Crawl layout), read back through the
    // byte-range-split extractor, doc ids recovered from the record
    // header, then llm_pipeline5's prep chain (markup strip → normalize
    // → Gopher panel → exact dedup, clones provably removed) ending in
    // token-offset PACK. The oracle replays the chain from the
    // documents table — the WARC leg must be an exact round-trip, so
    // one mis-framed, dropped, or duplicated record shifts text → dedup
    // → pack offsets and hash-mismatches. SQL runs the whole prep chain
    // in pure TVF composition over the read-back records
    twin("pipeline14_warc", "llm_pipeline14", "e_sql_pipeline14")(c => {
      val docs = c.docs
      val base = docs.unionAll(
        docs.select((col("doc_id") + 700000).as("doc_id"), col("text")))
      val wrapped = base.select(col("doc_id"),
        concat(lit("http://graft.local/doc/"), col("doc_id")).as("uri"),
        concat(lit(htmlPre), col("text"), lit(htmlPost)).as("html"))
      graft.sources.Warc.write(wrapped, "doc_id", "uri", "html", c.out,
        nFiles = 4, gzip = true)
      c.s.read.format("graft-extractor")
        .option("extractor", "warc").option("path", c.out)
        // split size derived from the ACTUAL part-file size: ~4 split
        // boundaries per gzip member file (resync exercised —
        // ExtractorSpec pins split-size invariance) at ANY corpus
        // scale, capped at 256 KiB to bound the scan task count at
        // bench scale (guide §6; the RESULT is split-invariant)
        .option("splitBytes",
          graft.sources.Warc.resyncSplitBytes(c.s, c.out).toString).load()
    })(
      (_, records) => {
        val stripped = records.select(
          regexp_extract(col("record_id"), "[0-9]+", 0).cast("long").as("doc_id"),
          TextAnalysis.stripMarkup(col("payload")).as("text"))
        val normed = stripped.select(col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("text"))
        val keepIds = TextAnalysis.gopherRules(normed, "doc_id", "text",
            minTokens = 10, maxTokens = 100000, minMeanWordLen = 2.0,
            maxMeanWordLen = 10.0, maxSymbolRatio = 0.2, minStopwordHits = 1)
          .filter(col("keep")).select(col("doc_id"))
        val deduped = Dedup.exactDedupRows(normed.join(keepIds, "doc_id"),
          "doc_id", "text")
        TextAnalysis.packOffsets(deduped, "doc_id", "text",
          seqLen = 512, docsPerBucket = 64)
      },
      (_, e, records) => {
        records.createOrReplaceTempView("p14_records")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW p14_clean AS
                 SELECT CAST(regexp_extract(record_id, '[0-9]+', 0) AS BIGINT)
                          AS doc_id,
                        graft_normalize(graft_strip_html(payload)) AS text
                 FROM p14_records""")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW p14_kept AS
                 SELECT c.doc_id, c.text
                 FROM p14_clean c
                 JOIN graft_gopher('p14_clean', 'doc_id', 'text',
                        10, 100000, 2.0, 10.0, 0.2, 1) g
                   ON g.doc_id = c.doc_id
                 WHERE g.keep""")
        e.query("""CREATE OR REPLACE TEMPORARY VIEW p14_dedup AS
                 SELECT doc_id, text FROM (
                   SELECT doc_id, text, row_number() OVER (
                     PARTITION BY graft_fingerprint(text)
                     ORDER BY doc_id) AS rn
                   FROM p14_kept) WHERE rn = 1""")
        e.query("""SELECT doc_id, n_toks, token_offset, first_seq, last_seq
                 FROM graft_pack_offsets('p14_dedup', 'doc_id', 'text', 512, 64)""")
      })
  )

  /** Both keys' query entries, every pair. */
  def defs: Seq[(String, (SparkSession, String) => DataFrame)] =
    all.flatMap(_.defs)

  /** The SQL keys' oracles: each is its Scala key's. */
  def oracle: Seq[(String, String)] =
    all.map(t => t.sqlKey -> LlmQueries.oracle(t.scalaKey))
}
