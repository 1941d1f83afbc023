package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import graft.engine.Engine

/** Queries routed through the Engine façade (SURVEY.md §3) so the
  * dialect shim itself sits in the correctness gate. */
object EngineQueries {
  import SqlRecipes._

  /** An [[Engine]] on `s` with every testdata table of `d` registered
    * as a temp view. */
  private[queries] def engine(s: SparkSession, d: String): Engine = {
    Tables.registerAll(s, d)
    new Engine(s)
  }

  private def via(s: SparkSession, d: String)(sql: String,
      vars: Map[String, Any] = Map.empty): DataFrame =
    engine(s, d).query(sql, vars)

  /** Share a SQL-defined temp view ACROSS its consumers: re-register the
    * view under the same name as a [[graft.operators.Reuse.LocalDeferred]]
    * frame. SQL temp views store PARSED plans, so a pipeline view
    * referenced k times across later statements re-expands — and
    * re-EXECUTES — its whole upstream chain k times (measured round 15:
    * e_sql_pipeline9's final statement expanded the p9_inc fixture chain
    * 8×, a 5,179-line physical plan). A view registered FROM a DataFrame
    * stores the analyzed plan, so every consumer shares the single
    * deferred-checkpoint leaf: the chain runs once, at first execution,
    * into executor-local blocks (guide §3.3 — materialize an intermediate
    * to truncate a plan the optimizer cannot deduplicate; column pruning
    * specializes each consumer so ReuseExchange never fires). Nothing
    * materializes at CREATE/EXPLAIN/analysis time — the
    * [[graft.operators.Reuse.LocalDeferred]] contract. */
  private[queries] def shareViews(s: SparkSession, names: String*): Unit =
    names.foreach { n =>
      graft.operators.Reuse.LocalDeferred(s.table(n))
        .createOrReplaceTempView(n)
    }

  /** The dialect gates' statements: the façade rewrites DISTINCT ON /
    * QUALIFY for Spark, and DuckDB runs the identical text natively as
    * the oracle. */
  private val dialectSql: Map[String, String] = Map(
    "e_distinct_on" ->
      """SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey, c_acctbal
         FROM customer ORDER BY c_nationkey, c_acctbal DESC, c_custkey""",
    // nested DISTINCT ON (CTE body + FROM-subquery) — the recursive
    // region rewrite
    "e_distinct_on_nested" ->
      """WITH top_cust AS (
           SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey, c_acctbal
           FROM customer ORDER BY c_nationkey, c_acctbal DESC, c_custkey)
         SELECT t.c_nationkey, t.c_custkey, t.c_acctbal, o.max_order
         FROM top_cust t
         LEFT JOIN (SELECT DISTINCT ON (o_custkey) o_custkey, o_totalprice AS max_order
                    FROM orders ORDER BY o_custkey, o_totalprice DESC, o_orderkey) o
           ON o.o_custkey = t.c_custkey""",
    // QUALIFY (window filter clause) — dialect rewrite to a subquery
    "e_qualify" ->
      """SELECT c_nationkey, c_custkey, c_acctbal,
                row_number() OVER (PARTITION BY c_nationkey
                                   ORDER BY c_acctbal DESC, c_custkey) AS rn
         FROM customer
         QUALIFY rn <= 2""",
    // DISTINCT ON in set-operation arms (round 4): unparenthesized
    // first arm (window order = keys; c_custkey is unique so the pick
    // is deterministic) + parenthesized second arm with its own
    // arm-level ORDER BY; the statement-level ORDER BY stays outside
    "e_distinct_on_setop" ->
      """SELECT DISTINCT ON (c_custkey) c_custkey AS id, c_acctbal AS val
         FROM customer WHERE c_nationkey < 5
         UNION ALL
         (SELECT DISTINCT ON (o_custkey) o_custkey AS id, o_totalprice AS val
          FROM orders ORDER BY o_custkey, o_totalprice DESC, o_orderkey)
         ORDER BY id, val""",
    // QUALIFY in an unparenthesized first arm: the predicate must bind
    // to the arm, not swallow the UNION that follows it
    "e_qualify_setop" ->
      """SELECT c_nationkey AS k, c_custkey AS id,
                row_number() OVER (PARTITION BY c_nationkey
                                   ORDER BY c_acctbal DESC, c_custkey) AS rn
         FROM customer
         QUALIFY rn <= 2
         UNION ALL
         SELECT 999 AS k, o_orderkey AS id, 1 AS rn FROM orders
         WHERE o_orderkey < 50
         ORDER BY k, id""")

  def defs: Map[String, (SparkSession, String) => DataFrame] = dialectSql.map {
    case (k, q) => k -> ((s: SparkSession, d: String) => via(s, d)(q))
  } ++ Map(
    // the reference's core identity: one statement spanning two
    // "databases" (SELECT ... FROM A.x JOIN B.y — SURVEY §1.1); here two
    // catalog namespaces over the same parquet dir
    "e_federation" -> ((s, d) => {
      graft.engine.Catalog.dropDb(s, "feda")
      graft.engine.Catalog.dropDb(s, "fedb")
      graft.engine.Catalog.registerParquetDb(s, "feda", d, Seq("customer", "nation"))
      graft.engine.Catalog.registerParquetDb(s, "fedb", d, Seq("orders"))
      new Engine(s).query(
        """SELECT n.n_name, count(*) AS n_orders,
                  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM feda.customer c
           JOIN fedb.orders o ON o.o_custkey = c.c_custkey
           JOIN feda.nation n ON n.n_nationkey = c.c_nationkey
           GROUP BY n.n_name""")
    }),
    "e_vars" -> ((s, d) => via(s, d)(
      """SELECT o_orderpriority, count(*) AS n FROM orders
         WHERE o_totalprice > $min_price GROUP BY o_orderpriority""",
      Map("min_price" -> 250000.0))),
    "e_builtin_sql" -> ((s, d) => via(s, d)(
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS ym,
              exo_substr(o_orderpriority, -3) AS prio_tail
         FROM orders WHERE o_orderkey < 500""")),
    // §2.10 pipelines driven from SQL TEXT through the façade's
    // table-valued functions (graft.engine.LlmSql) — same distributed
    // plans as the Scala API, same oracles (reused verbatim below)
    "e_sql_minhash" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_minhash_pairs('documents', 'doc_id', 'text', 0.5)")),
    "e_sql_chunk" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_chunk('documents', 'doc_id', 'text', 64, 16)")),
    "e_sql_pack" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_pack_offsets('documents', 'doc_id', 'text', 512, 64)")),
    "e_sql_pipeline10" -> ((s, d) => {
      val e = engine(s, d)
      // the tokenizer-era chain composed from TVFs and views alone:
      // exact dedup (semi-join on the winners) → learned-token budget
      // (semi-join on the fill) → id-sequence chunks
      e.query(bpeMergesView("p10_merges"))
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p10_corpus AS
                 SELECT doc_id, text FROM documents
                 UNION ALL SELECT doc_id + 500000 AS doc_id, text FROM documents""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p10_dedup AS
                 SELECT c.doc_id, c.text FROM p10_corpus c
                 LEFT SEMI JOIN graft_exact_dedup('p10_corpus', 'doc_id', 'text') w
                   ON c.doc_id = w.doc_id""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p10_sel AS
                 SELECT d.doc_id, d.text FROM p10_dedup d
                 LEFT SEMI JOIN graft_token_budget_bpe('p10_dedup', 'doc_id',
                                                       'text', 8000, 'p10_merges') b
                   ON d.doc_id = b.doc_id""")
      e.query("""SELECT doc_id, start_tok, n_tokens,
                        array_join(CAST(token_ids AS ARRAY<STRING>), ',')
                          AS token_ids
                 FROM graft_chunk_bpe('p10_sel', 'doc_id', 'text',
                                      64, 16, 'p10_merges')""")
    }),
    "e_sql_chunk_bpe" -> ((s, d) => {
      val e = engine(s, d)
      // learned-token chunking from SQL: merge view -> id-sequence
      // windows (joined to a comma string for the portable compare)
      e.query(bpeMergesView("bpe_merges_chunk"))
      e.query("""SELECT doc_id, start_tok, n_tokens,
                        array_join(CAST(token_ids AS ARRAY<STRING>), ',')
                          AS token_ids
                 FROM graft_chunk_bpe('documents', 'doc_id', 'text',
                                      64, 16, 'bpe_merges_chunk')""")
    }),
    "e_sql_pack_bpe" -> ((s, d) => {
      val e = engine(s, d)
      // learned-token packing from SQL: the 6-arg graft_pack_offsets
      e.query(bpeMergesView("bpe_merges_pack"))
      e.query("""SELECT doc_id, n_toks, token_offset, first_seq, last_seq
                 FROM graft_pack_offsets('documents', 'doc_id', 'text',
                                         512, 64, 'bpe_merges_pack')""")
    }),
    "e_sql_sample_k" -> ((s, d) => via(s, d)(
      "SELECT doc_id FROM graft_sample_k('documents', 'text', 'doc_id', 200, 'eval:')")),
    "e_sql_sample_weighted" -> ((s, d) => via(s, d)(
      """SELECT doc_id, n_chars AS weight, priority
         FROM graft_sample_weighted('documents', 'text', 'n_chars',
                                    'doc_id', 200, 'wpri:')""")),
    "e_sql_sample_weighted_strat" -> ((s, d) => via(s, d)(
      """SELECT doc_id, source, priority
         FROM graft_sample_weighted_by('documents', 'source', 'text',
                                       'n_chars', 'doc_id', 10, 'wps:')""")),
    "e_sql_tfidf" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_tfidf('documents', 'doc_id', 'text', 3)")),
    "e_sql_bm25" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_bm25('documents', 'doc_id', 'text', 'hash,join,vector', 25)")),
    "e_sql_snippet" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_snippet('documents', 'doc_id', 'text', 'hash,join,vector', 12)")),
    "e_sql_pipeline12" -> ((s, d) => {
      val e = engine(s, d)
      // the serving chain from TVFs and views alone: ranked legs →
      // fusion TVF → deferred MMR TVF → snippet TVF left-joined
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p12_bm AS
                 SELECT doc_id, row_number() OVER (
                   ORDER BY bm25 DESC, doc_id ASC) AS rank
                 FROM graft_bm25('documents', 'doc_id', 'text',
                                 'hash,join,vector', 20)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p12_ann AS
                 SELECT vec_id AS doc_id, row_number() OVER (
                   ORDER BY cos_sim DESC, vec_id ASC) AS rank
                 FROM graft_ann_topk('embeddings', 'vec_id', 'embedding',
                                     0, 20)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p12_fused AS
                 SELECT doc_id, rrf
                 FROM graft_rrf_fuse('p12_bm,p12_ann', 'doc_id', 10, 60)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p12_cand AS
                 SELECT f.doc_id, e.embedding, f.rrf
                 FROM p12_fused f JOIN embeddings e
                   ON e.vec_id = f.doc_id""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p12_sel AS
                 SELECT doc_id, mmr, rank
                 FROM graft_mmr('p12_cand', 'doc_id', 'embedding',
                                'rrf', 5, 0.7)""")
      // p12_sel feeds the snippet-docs semi-join AND the final
      // statement: share it so the full bm25+ann+mmr chain above
      // executes once, not twice (guide §3.3)
      shareViews(s, "p12_sel")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p12_docs AS
                 SELECT d.doc_id, d.text FROM documents d
                 LEFT SEMI JOIN p12_sel s ON d.doc_id = s.doc_id""")
      e.query("""SELECT s.doc_id, s.mmr, s.rank,
                        p.hits, p.start_tok, p.snippet
                 FROM p12_sel s
                 LEFT JOIN graft_snippet('p12_docs', 'doc_id', 'text',
                                         'hash,join,vector', 12) p
                   ON p.doc_id = s.doc_id
                 ORDER BY s.rank""")
    }),
    "e_sql_crawl_delta" -> ((s, d) => {
      val e = engine(s, d)
      // membership drift from SQL: the two generations are plain views
      // (scalar-subquery split bounds), the report TVF on top
      e.query("""CREATE OR REPLACE TEMPORARY VIEW cdelta_a AS
                 SELECT doc_id, text FROM documents
                 WHERE doc_id <= (SELECT max(doc_id) FROM documents) - 100""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW cdelta_b AS
                 SELECT doc_id, text FROM documents
                 WHERE doc_id > 50
                   AND doc_id <= (SELECT max(doc_id) FROM documents) - 150
                 UNION ALL
                 SELECT doc_id, text || ' rev2' AS text FROM documents
                 WHERE doc_id > (SELECT max(doc_id) FROM documents) - 150
                   AND doc_id <= (SELECT max(doc_id) FROM documents) - 100
                 UNION ALL
                 SELECT doc_id, text FROM documents
                 WHERE doc_id > (SELECT max(doc_id) FROM documents) - 100""")
      e.query("""SELECT status, n_docs
                 FROM graft_crawl_delta('cdelta_a', 'cdelta_b',
                                        'doc_id', 'text')""")
    }),
    "e_sql_bm25_prf" -> ((s, d) => via(s, d)(
      """SELECT * FROM graft_bm25_prf('documents', 'doc_id', 'text',
                                      'hash,join,vector', 25, 10, 5)""")),
    "e_sql_mmr" -> ((s, d) => {
      val e = engine(s, d)
      // diversified selection from SQL: the candidate view joins the
      // serve TVF back to its vectors; the deferred MMR TVF re-ranks
      e.query("""CREATE OR REPLACE TEMPORARY VIEW mmr_cand AS
                 SELECT t.vec_id, e.embedding, t.cos_sim
                 FROM graft_ann_topk('embeddings', 'vec_id', 'embedding',
                                     0, 50) t
                 JOIN embeddings e ON e.vec_id = t.vec_id""")
      e.query("""SELECT vec_id, cos_sim, mmr, rank
                 FROM graft_mmr('mmr_cand', 'vec_id', 'embedding',
                                'cos_sim', 5, 0.7)""")
    }),
    "e_sql_hybrid_rrf" -> ((s, d) => {
      val e = engine(s, d)
      // hybrid retrieval from SQL: both ranked lists are views over the
      // serving TVFs (each window ranks an already-cut 50-row frame),
      // the fusion TVF full-outer-joins them in declared order
      e.query("""CREATE OR REPLACE TEMPORARY VIEW hybrid_bm AS
                 SELECT doc_id, row_number() OVER (
                   ORDER BY bm25 DESC, doc_id ASC) AS rank
                 FROM graft_bm25('documents', 'doc_id', 'text',
                                 'hash,join,vector', 50)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW hybrid_ann AS
                 SELECT vec_id AS doc_id, row_number() OVER (
                   ORDER BY cos_sim DESC, vec_id ASC) AS rank
                 FROM graft_ann_topk('embeddings', 'vec_id', 'embedding',
                                     0, 50)""")
      e.query("""SELECT doc_id, rrf
                 FROM graft_rrf_fuse('hybrid_bm,hybrid_ann', 'doc_id',
                                     20, 60)""")
    }),
    "e_sql_hybrid_join" -> ((s, d) => {
      val e = engine(s, d)
      // batch hybrid from SQL: index persisted in Scala (the write
      // side), the lexical leg ranked by the join TVF itself (it emits
      // rank), the semantic leg a window over the knn TVF, the fusion
      // TVF cutting per query
      val out = Stores.dir("hybrid_join_sql")
      import org.apache.spark.sql.functions.col
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"))
      Stores.bm25(out, Seq(Stores.bm25Index(docs)))
      s.read.parquet(s"$out/postings")
        .createOrReplaceTempView("hybridj_postings")
      s.read.parquet(s"$out/doclens")
        .createOrReplaceTempView("hybridj_doclens")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW hybridj_queries AS
                 SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'hash join'),
                                       (CAST(2 AS BIGINT), 'vector scan slow'),
                                       (CAST(3 AS BIGINT), 'zzzunknown'))
                   AS q(query_id, qtext)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW hybridj_bm AS
                 SELECT query_id, doc_id, rank
                 FROM graft_bm25_join('hybridj_postings', 'hybridj_doclens',
                                      'hybridj_queries', 'doc_id',
                                      'query_id', 'qtext', 20)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW hybridj_qvecs AS
                 SELECT vec_id AS query_id, embedding FROM embeddings
                 WHERE vec_id IN (1, 2, 3)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW hybridj_ann AS
                 SELECT query_id, neighbor_id AS doc_id,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
                 FROM graft_knn_join('hybridj_qvecs', 'embeddings',
                                     'query_id', 'vec_id', 'embedding',
                                     'embedding', 20, 1)""")
      e.query("""SELECT query_id, doc_id, rrf, rank
                 FROM graft_rrf_fuse_by('hybridj_bm,hybridj_ann',
                                        'query_id', 'doc_id', 10, 60)""")
    }),
    "e_sql_retrieval_eval" -> ((s, d) => {
      val e = engine(s, d)
      // the eval verb from SQL: the run a window over the knn TVF, the
      // relevance a plain label self-join view, the report TVF on top
      e.query("""CREATE OR REPLACE TEMPORARY VIEW reval_qvecs AS
                 SELECT vec_id AS query_id, embedding, label
                 FROM embeddings WHERE vec_id IN (1, 2, 3)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW reval_q AS
                 SELECT query_id, embedding FROM reval_qvecs""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW reval_run AS
                 SELECT query_id, neighbor_id AS doc_id,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
                 FROM graft_knn_join('reval_q', 'embeddings', 'query_id',
                                     'vec_id', 'embedding', 'embedding',
                                     10, 1)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW reval_rel AS
                 SELECT q.query_id, e.vec_id AS doc_id
                 FROM reval_qvecs q JOIN embeddings e
                   ON e.label = q.label AND e.vec_id <> q.query_id""")
      e.query("""SELECT query_id, n_rel, hits, precision_k, recall_k,
                        rr, ndcg
                 FROM graft_retrieval_eval('reval_run', 'reval_rel',
                                           'query_id', 'doc_id', 10)""")
    }),
    "e_sql_hybrid_eval" -> ((s, d) => {
      import s.implicits._
      val e = engine(s, d)
      // eval of the fused production ranking from SQL: both legs via
      // TVFs, rrf_fuse_by, label relevance view, the report TVF on top
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val ta = graft.operators.TextAnalysis
      val ix = graft.operators.Reuse.Local(
        ta.bm25Index(docs, "doc_id", "text"))
      ix.createOrReplaceTempView("hev_post")
      ta.bm25DocLens(ix, "doc_id").createOrReplaceTempView("hev_dl")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW hev_queries AS
                 SELECT * FROM VALUES (CAST(1 AS BIGINT), 'hash join'),
                                      (2, 'vector scan slow'),
                                      (3, 'zzzunknown') AS t(query_id, qtext)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW hev_bm AS
                 SELECT query_id, doc_id, rank
                 FROM graft_bm25_join('hev_post', 'hev_dl', 'hev_queries',
                                      'doc_id', 'query_id', 'qtext', 20)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW hev_qv AS
                 SELECT vec_id AS query_id, embedding FROM embeddings
                 WHERE vec_id IN (1, 2, 3)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW hev_ann AS
                 SELECT query_id, neighbor_id AS doc_id,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
                 FROM graft_knn_join('hev_qv', 'embeddings', 'query_id',
                                     'vec_id', 'embedding', 'embedding',
                                     20, 1)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW hev_run AS
                 SELECT query_id, doc_id, rank
                 FROM graft_rrf_fuse_by('hev_bm,hev_ann', 'query_id',
                                        'doc_id', 10, 60)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW hev_rel AS
                 SELECT q.query_id, e.vec_id AS doc_id
                 FROM (SELECT vec_id AS query_id, label FROM embeddings
                       WHERE vec_id IN (1, 2, 3)) q
                 JOIN embeddings e
                   ON e.label = q.label AND e.vec_id <> q.query_id""")
      e.query("""SELECT query_id, n_rel, hits, precision_k, recall_k,
                        rr, ndcg
                 FROM graft_retrieval_eval('hev_run', 'hev_rel',
                                           'query_id', 'doc_id', 10)""")
    }),
    "e_sql_retrieval_eval_graded" -> ((s, d) => {
      val e = engine(s, d)
      // graded eval from SQL: the gain column rides the relevance view
      // (equi-join via the exploded adjacent-label key list — no range
      // BNLJ), the TVF takes the optional gain_col tail
      e.query("""CREATE OR REPLACE TEMPORARY VIEW revalg_qvecs AS
                 SELECT vec_id AS query_id, embedding, label
                 FROM embeddings WHERE vec_id IN (1, 2, 3)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW revalg_q AS
                 SELECT query_id, embedding FROM revalg_qvecs""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW revalg_run AS
                 SELECT query_id, neighbor_id AS doc_id,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
                 FROM graft_knn_join('revalg_q', 'embeddings', 'query_id',
                                     'vec_id', 'embedding', 'embedding',
                                     10, 1)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW revalg_rel AS
                 SELECT q.query_id, e.vec_id AS doc_id,
                        CASE WHEN e.label = q.ql THEN 2 ELSE 1 END AS rel
                 FROM (SELECT query_id, label AS ql,
                              explode(array(label - 1, label, label + 1)) AS jl
                       FROM revalg_qvecs) q
                 JOIN embeddings e
                   ON e.label = q.jl AND e.vec_id <> q.query_id""")
      e.query("""SELECT query_id, n_rel, hits, precision_k, recall_k,
                        rr, ndcg
                 FROM graft_retrieval_eval('revalg_run', 'revalg_rel',
                                           'query_id', 'doc_id', 10, 'rel')""")
    }),
    "e_sql_mmr_join" -> ((s, d) => {
      val e = engine(s, d)
      // batch MMR from SQL: per-query candidates from the knn TVF,
      // vectors joined back, the deferred batch-MMR TVF on top
      e.query("""CREATE OR REPLACE TEMPORARY VIEW mmrj_q AS
                 SELECT vec_id AS query_id, embedding
                 FROM embeddings WHERE vec_id IN (1, 2, 3)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW mmrj_cand AS
                 SELECT k.query_id, k.neighbor_id AS doc_id,
                        e.embedding, k.cos_sim
                 FROM graft_knn_join('mmrj_q', 'embeddings', 'query_id',
                                     'vec_id', 'embedding', 'embedding',
                                     20, 1) k
                 JOIN embeddings e ON e.vec_id = k.neighbor_id""")
      e.query("""SELECT query_id, doc_id, cos_sim, mmr, rank
                 FROM graft_mmr_join('mmrj_cand', 'query_id', 'doc_id',
                                     'embedding', 'cos_sim', 3, 0.7)""")
    }),
    "e_sql_corpus_kl" -> ((s, d) => {
      val e = engine(s, d)
      // drift between two snapshot VIEWS defined in SQL (the
      // contamination split), measured by the TVF
      e.query("""CREATE OR REPLACE TEMPORARY VIEW kl_ref AS
                 SELECT doc_id, text FROM documents
                 WHERE doc_id <= (SELECT max(doc_id) - 100 FROM documents)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW kl_new AS
                 SELECT doc_id, text FROM documents
                 WHERE doc_id > (SELECT max(doc_id) - 100 FROM documents)""")
      e.query("SELECT * FROM graft_corpus_kl('kl_ref', 'kl_new', 'text')")
    }),
    // composition: the TVFs resolve through the catalog, so a view
    // DEFINED IN SQL feeds the pipeline — the whole near-dup-tail
    // containment flow without a line of Scala
    "e_sql_containment" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_doc_tail AS
                 SELECT doc_id, text FROM documents
                 WHERE doc_id > (SELECT max(doc_id) - 300 FROM documents)""")
      e.query(
        "SELECT * FROM graft_containment_pairs('graft_doc_tail', 'doc_id', 'text', 3, 0.5)")
    }),
    // the flagship dedup flow — near-dup pairs -> connected components
    // -> one representative per cluster — from one line of SQL. The CC
    // rounds are DEFERRED (GraftDeferredScan): analysis/EXPLAIN launch
    // no job; the rounds run once, at first execution
    "e_sql_cluster_keep" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_cluster_keep('documents', 'doc_id', 'text', 0.5)")),
    // production representative choice from SQL: keep the HIGHEST-
    // QUALITY cluster member, score computed by the graft_quality
    // scalar inside a SQL-defined view
    "e_sql_cluster_best" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_scored_docs AS
                 SELECT doc_id, text, graft_quality(text) AS q FROM documents""")
      e.query(
        "SELECT * FROM graft_cluster_best('graft_scored_docs', 'doc_id', 'text', 0.5, 'q')")
    }),
    "e_sql_exact_dedup" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_dup_corpus AS
                 SELECT doc_id, text FROM documents
                 UNION ALL
                 SELECT doc_id + 100000 AS doc_id, text FROM documents""")
      e.query("SELECT * FROM graft_exact_dedup('graft_dup_corpus', 'doc_id', 'text')")
    }),
    "e_sql_simhash" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_sim_corpus AS
                 SELECT doc_id, text FROM documents
                 UNION ALL
                 SELECT doc_id + 1000000 AS doc_id, text FROM documents
                 WHERE doc_id > (SELECT max(doc_id) - 300 FROM documents)""")
      e.query("SELECT * FROM graft_simhash_pairs('graft_sim_corpus', 'doc_id', 'text', 3)")
    }),
    "e_sql_boilerplate" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_boilerplate('documents', 'doc_id', 'text', 3, 20)")),
    "e_sql_vocab" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_vocab('documents', 'doc_id', 'text', 100)")),
    // sentence segmentation from SQL over the same planted fixture
    "e_sql_sentences" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_sent_docs AS
                 SELECT doc_id,
                        text || ' Ellipsis... mixed?! A tail without terminator'
                             || char(10) AS text
                 FROM documents""")
      e.query("SELECT * FROM graft_sentences('graft_sent_docs', 'doc_id', 'text')")
    }),
    // incremental-ingestion dedup from SQL: a re-ingested shard (view)
    // deduplicated AGAINST the corpus
    "e_sql_minhash_incr" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_incoming AS
                 SELECT doc_id + 3000000 AS doc_id, text FROM documents
                 WHERE doc_id > (SELECT max(doc_id) - 300 FROM documents)""")
      e.query(
        "SELECT * FROM graft_minhash_between('graft_incoming', 'documents', 'doc_id', 'text', 0.5)")
    }),
    "e_sql_sample_strat" -> ((s, d) => via(s, d)(
      "SELECT doc_id, source FROM graft_sample_strat('documents', 'source', 'text', 'doc_id', 10, 'strat:')")),
    // per-row text-analysis SCALARS from SQL text (same codegen'd
    // expressions as the Scala API, same oracles)
    "e_sql_pii_redact" -> ((s, d) => via(s, d)(
      "SELECT doc_id, graft_pii_redact(text) AS redacted FROM documents")),
    "e_sql_langid" -> ((s, d) => via(s, d)(
      "SELECT doc_id, graft_langid(text) AS lang_guess FROM documents")),
    "e_sql_fingerprint" -> ((s, d) => via(s, d)(
      "SELECT doc_id, graft_fingerprint(text) AS fp FROM documents")),
    // deterministic train/val/test cut from SQL text
    "e_sql_split" -> ((s, d) => via(s, d)(
      "SELECT doc_id, split FROM graft_split('documents', 'text', 'split:', 9800, 100, 100)")),
    // the whole text-stats panel through SQL scalars
    "e_sql_text_stats" -> ((s, d) => via(s, d)(
      """SELECT doc_id,
                graft_token_count(text) AS token_cnt,
                graft_bpeish_count(text) AS bpeish_cnt,
                round(graft_punct_ratio(text), 6) AS punct_ratio,
                round(graft_stopword_ratio(text), 6) AS stop_ratio,
                graft_quality(text) AS quality
         FROM documents""")),
    // weighted corpus mixing from SQL: two deterministic gates + union
    "e_sql_mix" -> ((s, d) => via(s, d)(
      """SELECT doc_id, 'web' AS source_ds FROM documents
         WHERE graft_sample_gate(text, 7000, 'mixweb:')
         UNION ALL
         SELECT doc_id, 'books' AS source_ds FROM documents
         WHERE graft_sample_gate(text, 3000, 'mixbooks:')""")),
    // SQL-side vector math: cosine against a scalar-subquery query vector
    "e_sql_cosine" -> ((s, d) => via(s, d)(
      """SELECT e.vec_id, round(graft_cosine(e.embedding, q.qv), 6) AS cos_sim
         FROM embeddings e
         CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         WHERE e.vec_id <> 0""")),
    "e_sql_rep_ratio" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_rep_ratio('documents', 'doc_id', 'text', 3)")),
    // time-series resample from SQL over the events view
    "e_sql_resample" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_resample('events', 'ts', 'value', 'minute')")),
    "e_sql_funnel" -> ((s, d) => via(s, d)(
      """SELECT * FROM graft_funnel('events', 'user_id', 'ts',
                                    'event_type', 'view,click,purchase',
                                    604800)""")),
    "e_sql_retention" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_retention('events', 'user_id', 'ts', 8)")),
    "e_sql_sessionize" -> ((s, d) => via(s, d)(
      """SELECT * FROM graft_sessionize('events', 'user_id', 'ts',
                                        'event_id', 1800)""")),
    "e_sql_transitions" -> ((s, d) => via(s, d)(
      """SELECT * FROM graft_transitions('events', 'user_id', 'ts',
                                         'event_id', 'event_type')""")),
    "e_sql_embedding_dups" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_embdup_corpus AS
                 SELECT vec_id, embedding FROM embeddings
                 UNION ALL
                 SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings""")
      e.query(
        "SELECT * FROM graft_embedding_dups('graft_embdup_corpus', 'vec_id', 'embedding', 0.99, 6, 64)")
    }),
    "e_sql_decontaminate" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_eval_v AS
                 SELECT doc_id, text FROM documents
                 WHERE doc_id > (SELECT max(doc_id) - 100 FROM documents)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_corpus_v AS
                 SELECT doc_id, text FROM documents
                 WHERE doc_id <= (SELECT max(doc_id) - 100 FROM documents)""")
      e.query(
        "SELECT * FROM graft_decontaminate('graft_corpus_v', 'graft_eval_v', 'doc_id', 'text', 13)")
    }),
    // the bloom scale path from SQL — deferred sketch build (EXPLAIN
    // launches no job), same oracle as the broadcast path
    "e_sql_decontaminate_bloom" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_eval_v AS
                 SELECT doc_id, text FROM documents
                 WHERE doc_id > (SELECT max(doc_id) - 100 FROM documents)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_corpus_v AS
                 SELECT doc_id, text FROM documents
                 WHERE doc_id <= (SELECT max(doc_id) - 100 FROM documents)""")
      e.query(
        """SELECT * FROM graft_decontaminate_bloom(
             'graft_corpus_v', 'graft_eval_v', 'doc_id', 'text', 13, 65536, 1048576)""")
    }),
    // graded contamination fraction from SQL — same eval/corpus views
    "e_sql_contamination" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_eval_v AS
                 SELECT doc_id, text FROM documents
                 WHERE doc_id > (SELECT max(doc_id) - 100 FROM documents)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_corpus_v AS
                 SELECT doc_id, text FROM documents
                 WHERE doc_id <= (SELECT max(doc_id) - 100 FROM documents)""")
      e.query(
        """SELECT * FROM graft_contamination(
             'graft_corpus_v', 'graft_eval_v', 'doc_id', 'text', 13, 0.2)""")
    }),
    // deterministic token-budget fill from one line of SQL
    "e_sql_token_budget" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_token_budget('documents', 'doc_id', 'text', 10000)")),
    "e_sql_token_budget_group" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_token_budget_by('documents', 'doc_id', 'lang', 'text', 4000)")),
    "e_sql_token_budget_bpe" -> ((s, d) => {
      val e = engine(s, d)
      // budget in learned tokens from SQL: merge view -> counter TVF
      e.query(bpeMergesView("bpe_merges_budget"))
      e.query("""SELECT doc_id, n_toks, token_offset
                 FROM graft_token_budget_bpe('documents', 'doc_id', 'text',
                                             10000, 'bpe_merges_budget')""")
    }),
    // exact percent-rank normalization from SQL (deferred boundary
    // sketch — EXPLAIN launches no job)
    "e_sql_rank_norm" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_rank_norm('documents', 'doc_id', 'n_chars', 16)")),
    "e_sql_rank_norm_group" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_rank_norm_by('documents', 'doc_id', 'lang', 'n_chars', 16)")),
    // the Gopher repetition panel from SQL, over the same planted
    // fixture as llm_gopher_rep (doubled text / repeated footer lines)
    "e_sql_gopher_rep" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_rep_fixture AS
                 SELECT doc_id,
                   (CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text ELSE text END) ||
                   (CASE WHEN doc_id % 5 = 0
                         THEN chr(10) || 'repeated footer line' || chr(10) || 'repeated footer line'
                         ELSE '' END) AS text
                 FROM documents""")
      e.query(
        "SELECT * FROM graft_gopher_rep('graft_rep_fixture', 'doc_id', 'text', 2, 5)")
    }),
    // C4-style repeated-span removal from one line of SQL
    "e_sql_span_dedup" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_span_dedup('documents', 'doc_id', 'text', 16, 1)")),
    // tempered source mixing and the ingestion dashboard from SQL
    "e_sql_temperature_mix" -> ((s, d) => via(s, d)(
      """SELECT doc_id, source
         FROM graft_temperature_mix('documents', 'source', 'text', 0.5, 0.25)""")),
    "e_sql_corpus_report" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_corpus_report('documents', 'source', 'lang', 'text')")),
    // Unicode normalization from SQL: the planted fixture is built via
    // the DataFrame API (Spark SQL chr() is ASCII-only, so the
    // codepoints can't be spliced in SQL text), then the scalar applies
    "e_sql_normalize" -> ((s, d) => {
      val e = engine(s, d)
      Tables.load(s, d, "documents")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.col("text"),
            org.apache.spark.sql.functions.lit(
              "  cafe\u0301 \u00a0 nai\u0308ve\r\nx\u0001y  ")).as("text"))
        .createOrReplaceTempView("graft_norm_docs")
      e.query("""SELECT doc_id, graft_normalize(text) AS norm_text,
                        length(graft_normalize(text)) AS n_chars_norm
                 FROM graft_norm_docs""")
    }),
    // markup strip from SQL: the fixture is ASCII, so it splices
    // directly into the statement (unlike the normalize codepoints)
    "e_sql_html_strip" -> ((s, d) => via(s, d)(
      """SELECT doc_id, clean_text, CAST(length(clean_text) AS INT) AS n_chars
         FROM (SELECT doc_id, graft_strip_html(
                 '<!DOCTYPE html><html><head><style type="text/css">p{color:red}</style><script>if (1 < 2 && x > 0) { y = "a&b"; }</script></head><body><h1>Title</h1><p class="a">'
                 || text ||
                 '</p><!-- hidden note --> 3 &lt; 4 &amp;&amp; y &gt; 1&nbsp;&quot;it&#39;s&quot; &copy; fine</body></html>') AS clean_text
               FROM documents)""")),
    "e_sql_bigram_lp" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_bigram_lp('documents', 'doc_id', 'text')")),
    "e_sql_trigram_kn" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_trigram_kn('documents', 'doc_id', 'text', 0.75)")),
    "e_sql_unigram_train" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_unigram_train('documents', 'doc_id', 'text', 48, 2, 4, 64)")),
    // script detection from SQL over the same multilingual fixture
    // (DataFrame-built: Spark SQL chr() is ASCII-only)
    "e_sql_script" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, concat, lit, when}
      val e = engine(s, d)
      Tables.load(s, d, "documents").select(col("doc_id"),
          when(col("doc_id") % 9 === 0, "ДДДДД")
            .when(col("doc_id") % 9 === 1, "中中中中")
            .when(col("doc_id") % 9 === 2, "اااااا")
            .when(col("doc_id") % 9 === 3, "ααααα")
            .when(col("doc_id") % 9 === 4, "가가가")
            .when(col("doc_id") % 9 === 5, "कककक")
            .when(col("doc_id") % 9 === 6, lit("123 456"))
            .when(col("doc_id") % 9 === 7, concat(col("text"), lit(" ДД")))
            .otherwise(col("text")).as("t"))
        .createOrReplaceTempView("graft_script_docs")
      e.query("SELECT doc_id, graft_script(t) AS script FROM graft_script_docs")
    }),
    // C4 line panel from SQL: the planted multi-line fixture is itself
    // a SQL view (same construction as the llm_c4_filters oracle)
    "e_sql_c4_filters" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_c4_docs AS
                 SELECT doc_id,
                   text || chr(10) || 'no terminal punctuation line' || chr(10) ||
                   CASE WHEN doc_id % 5 = 0 THEN 'Please enable javascript to continue reading.'
                        ELSE 'A perfectly fine closing sentence.' END ||
                   CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'short one.' ELSE '' END ||
                   CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'code sample { return 0; }' ELSE '' END ||
                   CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'Lorem ipsum dolor sit amet.' ELSE '' END
                   AS text
                 FROM documents""")
      e.query(
        "SELECT * FROM graft_c4_filters('graft_c4_docs', 'doc_id', 'text', 3, 2)")
    }),
    // corpus line dedup from SQL over the same planted fixture
    "e_sql_line_dedup" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_line_docs AS
                 SELECT doc_id,
                   text || chr(10) || 'Subscribe to our newsletter today.' ||
                   chr(10) || chr(10) || 'Unique closing line for document ' ||
                   doc_id || '.' AS text
                 FROM documents""")
      e.query(
        "SELECT * FROM graft_line_dedup('graft_line_docs', 'doc_id', 'text', 1)")
    }),
    // SemDeDup from SQL: train+dedup on the clone-doubled corpus — the
    // doubled corpus trains to BIT-IDENTICAL centroids (exact decimal
    // sums: 2S/2n = S/n; clones share their original's cell at every
    // round), so the llm_semdedup oracle (which trains on the base)
    // verifies this gate verbatim
    // the ANN family from SQL: brute/LSH lazy, IVF/PQ deferred
    "e_sql_ann_topk" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_ann_topk('embeddings', 'vec_id', 'embedding', 0, 10)")),
    "e_sql_ann_lsh" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_ann_lsh('embeddings', 'vec_id', 'embedding', 0, 10, 6, 64)")),
    "e_sql_ann_ivf" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_ann_ivf('embeddings', 'vec_id', 'embedding', 0, 10, 8, 2)")),
    "e_sql_ann_pq" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_ann_pq('embeddings', 'vec_id', 'embedding', 0, 10, 4, 16, 8)")),
    "e_sql_ann_residual" -> ((s, d) => via(s, d)(
      """SELECT * FROM graft_ann_ivf_pq_residual('embeddings', 'vec_id',
                                                 'embedding', 0, 10, 8, 2, 4, 16, 8)""")),
    "e_sql_cluster_sample" -> ((s, d) => via(s, d)(
      """SELECT vec_id, cell
         FROM graft_cluster_sample('embeddings', 'vec_id', 'embedding',
                                   8, 2, 20, 'csamp:')""")),
    "e_sql_embed_outliers" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_embed_outliers('embeddings', 'vec_id', 'embedding', 8, 0, 0.25)")),
    "e_sql_sentence_filter" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_sentence_filter('documents', 'doc_id', 'text', 0.2)")),
    "e_sql_cms_heavy_hitters" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_cms_heavy_hitters('documents', 'doc_id', 'text', 20, 0.001, 0.99)")),
    "e_sql_distinct_n" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_distinct_ngrams('documents', 'doc_id', 'text')")),
    "e_sql_bpe_count" -> ((s, d) => {
      val e = engine(s, d)
      // the merge table as a catalog view (VALUES — the SQL-side twin
      // of the parquet store), applied via the TVF
      e.query(bpeMergesView("bpe_merges"))
      e.query("""SELECT doc_id, bpe_cnt
                 FROM graft_bpe_count('documents', 'doc_id', 'text', 'bpe_merges')""")
    }),
    "e_sql_bpe_vocab" -> ((s, d) => {
      val e = engine(s, d)
      // the learned-token coverage curve from SQL: VALUES merge view →
      // vocab-report TVF
      e.query(bpeMergesView("bpe_merges_vocab"))
      e.query("""SELECT token_id, token, cnt, df, rank, coverage
                 FROM graft_bpe_vocab('documents', 'doc_id', 'text',
                                      'bpe_merges_vocab', 50)""")
    }),
    "e_sql_bpe_tokenize" -> ((s, d) => {
      val e = engine(s, d)
      // tokenize-to-ids from SQL: the same VALUES merge view, the
      // sequence-emitting twin of graft_bpe_count
      e.query(bpeMergesView("bpe_merges_tok"))
      e.query("""SELECT doc_id, pos, token, token_id
                 FROM graft_bpe_tokenize('documents', 'doc_id', 'text',
                                         'bpe_merges_tok')""")
    }),
    "e_sql_ann_sq" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""SELECT vec_id, sq_score
                 FROM graft_ann_sq('embeddings', 'vec_id', 'embedding', 0, 10)""")
    }),
    "e_sql_ann_ivf_sq" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""SELECT vec_id, sq_score
                 FROM graft_ann_ivf_sq('embeddings', 'vec_id', 'embedding',
                                       0, 10, 8, 2)""")
    }),
    "e_sql_ann_recall" -> ((s, d) => {
      val e = engine(s, d)
      // serving quality as one line of SQL: recall@5 of the IVF-pruned
      // batch serving vs its brute-force twin, per query
      e.query("""CREATE OR REPLACE TEMPORARY VIEW recall_queries AS
                 SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10""")
      e.query("""SELECT query_id, n_exact, n_hit, recall_at_k
                 FROM graft_ann_recall('recall_queries', 'embeddings',
                        'vec_id', 'vec_id', 'embedding', 'embedding',
                        5, 8, 2)""")
    }),
    "e_sql_bpe_train" -> ((s, d) => {
      val e = engine(s, d)
      // tokenizer training from SQL: the deferred TVF runs the merge
      // rounds once on execute (EXPLAIN launches no job)
      e.query("""SELECT rank, left, right
                 FROM graft_bpe_train('documents', 'doc_id', 'text', 8)""")
    }),
    "e_sql_bpe_pretok" -> ((s, d) => {
      val e = engine(s, d)
      // pre-tokenized training from SQL: the optional 'pretok' tail
      // selects the class split before the merge loop
      e.query("""SELECT rank, left, right
                 FROM graft_bpe_train('documents', 'doc_id', 'text', 8, 'pretok')""")
    }),
    "e_sql_bpe_roundtrip" -> ((s, d) => {
      val e = engine(s, d)
      // the tokenizer lifecycle from SQL: train via the TVF INTO a
      // view, count every document under the learned table via the
      // apply TVF — one statement pair, no Scala between them
      e.query("""CREATE OR REPLACE TEMPORARY VIEW bpe_merges_learned AS
                 SELECT rank, left, right
                 FROM graft_bpe_train('documents', 'doc_id', 'text', 8)""")
      e.query("""SELECT doc_id, bpe_cnt
                 FROM graft_bpe_count('documents', 'doc_id', 'text',
                                      'bpe_merges_learned')""")
    }),
    "e_sql_pipeline8" -> ((s, d) => {
      val e = engine(s, d)
      // the multimodal front door composed PURELY in SQL: media fixture
      // view → graft_image_dups TVF → keep-first anti-predicate →
      // decode/resize geometry as plain SQL over the payload (the stub
      // decode is u32(md5(payload)) arithmetic — expressible in any SQL)
      e.query(s"CREATE OR REPLACE TEMPORARY VIEW p8_media AS $mediaPairPayloadsSql")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p8_dups AS
                 SELECT DISTINCT id_b
                 FROM graft_image_dups('p8_media', 'doc_id', 'payload', 3, 4)""")
      e.query("""WITH kept AS (
                   SELECT doc_id, payload FROM p8_media
                   WHERE doc_id NOT IN (SELECT id_b FROM p8_dups)),
                 acc AS (SELECT doc_id,
                           CAST(conv(substring(md5(payload), 1, 8), 16, 10)
                             AS BIGINT) AS a
                         FROM kept),
                 d AS (SELECT doc_id,
                         CAST(320 + a % 1600 AS INT) AS width,
                         CAST(240 + (a >> 7) % 840 AS INT) AS height
                       FROM acc),
                 sc AS (SELECT doc_id, width, height,
                          least(1.0D, least(1280.0D / width, 720.0D / height)) AS s
                        FROM d)
                 SELECT doc_id, width, height, round(s, 6) AS scale,
                        CAST(floor(width * s / 2) * 2 AS INT) AS out_w,
                        CAST(floor(height * s / 2) * 2 AS INT) AS out_h
                 FROM sc""")
    }),
    "e_sql_admission_selfdedup" -> ((s, d) => {
      val e = engine(s, d)
      // intra-batch keep-first + stored-index probe composed purely in
      // SQL: graft_minhash_pairs WITHIN the batch view (higher id of
      // every pair drops), survivors probe the read-back index via
      // graft_minhash_probe — the admitBatch semantics, statement form
      val out = Stores.dir("selfdedup_sql")
      import org.apache.spark.sql.functions.col
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val idx = graft.operators.Dedup.minhashIndex(docs, "doc_id", "text")
      Stores.minhash(idx, out)
      s.read.parquet(s"$out/bands").createOrReplaceTempView("sdd_bands")
      s.read.parquet(s"$out/sets").createOrReplaceTempView("sdd_sets")
      e.query(s"""CREATE OR REPLACE TEMPORARY VIEW sdd_batch AS
                 WITH $admissionBatchCtes,
                 nov AS (SELECT a.doc_id,
                                concat_ws(' ', a.text, b.text, c.text) AS ntext
                         FROM aa a
                         JOIN documents b ON b.doc_id = a.doc_id - 120
                         JOIN documents c ON c.doc_id = a.doc_id - 240)
                 SELECT doc_id + 3000000 AS doc_id, text FROM aa
                 UNION ALL SELECT doc_id + 4000000, ntext FROM nov
                 UNION ALL SELECT doc_id + 5000000, ntext FROM nov""")
      // sdd_batch feeds sdd_reps twice (rows + the pairs TVF), sdd_reps
      // feeds the final statement twice (rows + the probe TVF) — share
      // each stage so its chain executes once (guide §3.3)
      shareViews(s, "sdd_batch")
      // BROADCAST hints: the shared deferred leaf reports conservative
      // (huge) stats, which would push these anti-joins to sort-merge —
      // but pair-loser / probe-hit sets are micro-batch-bounded, the
      // textbook broadcast side (guide §3.1)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW sdd_reps AS
                 SELECT /*+ BROADCAST(l) */ i.doc_id, i.text
                 FROM sdd_batch i
                 LEFT ANTI JOIN (
                     SELECT DISTINCT id_b FROM graft_minhash_pairs(
                       'sdd_batch', 'doc_id', 'text', 0.5)) l
                   ON i.doc_id = l.id_b""")
      shareViews(s, "sdd_reps")
      e.query("""SELECT /*+ BROADCAST(h) */ r.doc_id FROM sdd_reps r
                 LEFT ANTI JOIN (
                     SELECT DISTINCT id_new FROM graft_minhash_probe(
                       'sdd_bands', 'sdd_sets', 'sdd_reps',
                       'doc_id', 'text', 16, 4, 0.5)) h
                   ON r.doc_id = h.id_new""")
    }),
    "e_sql_image_dups" -> ((s, d) => {
      val e = engine(s, d)
      // the media fixture built in engine SQL (same slice + same-length
      // local edit as llm_image_dups), probed via the TVF
      e.query(s"CREATE OR REPLACE TEMPORARY VIEW image_media AS $mediaPairPayloadsSql")
      e.query("""SELECT id_a, id_b, hamming
                 FROM graft_image_dups('image_media', 'doc_id', 'payload', 3, 4)""")
    }),
    "e_sql_audio_fp" -> ((s, d) => {
      val e = engine(s, d)
      // the audio fingerprint surface from SQL: the media view + the
      // pure-projection TVF (llm_audio_fp's oracle gates it)
      e.query(s"CREATE OR REPLACE TEMPORARY VIEW audio_media_fp AS $mediaPayloadsSql")
      e.query("""SELECT doc_id, afp
                 FROM graft_audio_fp('audio_media_fp', 'doc_id', 'payload')""")
    }),
    "e_sql_audio_dups" -> ((s, d) => {
      val e = engine(s, d)
      // audio near-dup pairs from SQL — the e_sql_image_dups fixture
      // through the audio-fingerprint TVF
      e.query(s"CREATE OR REPLACE TEMPORARY VIEW audio_media AS $mediaPairPayloadsSql")
      e.query("""SELECT id_a, id_b, hamming
                 FROM graft_audio_dups('audio_media', 'doc_id', 'payload', 3, 4)""")
    }),
    "e_sql_video_frames" -> ((s, d) => {
      val e = engine(s, d)
      // the video frame table from SQL: the media view + the pure
      // per-frame-hash TVF (llm_video_frames' oracle gates it)
      e.query(s"CREATE OR REPLACE TEMPORARY VIEW video_media_fr AS $mediaPayloadsSql")
      e.query("""SELECT doc_id, frame_idx, fhash
                 FROM graft_video_frames('video_media_fr', 'doc_id', 'payload', 4)""")
    }),
    "e_sql_video_dups" -> ((s, d) => {
      val e = engine(s, d)
      // video near-dup pairs from SQL — the audio/image fixture through
      // the frame-aligned matched-count TVF
      e.query(s"CREATE OR REPLACE TEMPORARY VIEW video_media AS $mediaPairPayloadsSql")
      e.query("""SELECT id_a, id_b, n_frames_matched
                 FROM graft_video_dups('video_media', 'doc_id', 'payload',
                                       4, 3, 4, 3)""")
    }),
    "e_sql_image_clusters" -> ((s, d) => {
      val e = engine(s, d)
      // near-dup clusters from SQL: the llm_image_clusters fixture
      // (two independent same-length edits per original) built as a
      // view, closed into components by the deferred TVF — EXPLAIN
      // launches no job, the CC rounds run on execute
      e.query(s"""CREATE OR REPLACE TEMPORARY VIEW imgc_media AS
                 $mediaPairPayloadsSql
                 UNION ALL
                 SELECT doc_id + 6000000,
                        CAST(concat(substring(text, 1, 29), 'ZZZZ',
                                    substring(text, 34)) AS BINARY)
                 FROM sl""")
      e.query("""SELECT node AS doc_id, component AS cluster
                 FROM graft_image_clusters('imgc_media', 'doc_id',
                                           'payload', 3, 4)""")
    }),
    "e_sql_bm25_prf_join" -> ((s, d) => {
      import s.implicits._
      val e = engine(s, d)
      // batch PRF from SQL: stored-index views + the queries view into
      // the deferred batch-PRF TVF
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val ta = graft.operators.TextAnalysis
      val ix = graft.operators.Reuse.Local(
        ta.bm25Index(docs, "doc_id", "text"))
      ix.createOrReplaceTempView("prfj_post")
      ta.bm25DocLens(ix, "doc_id").createOrReplaceTempView("prfj_dl")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW prfj_queries AS
                 SELECT * FROM VALUES (CAST(1 AS BIGINT), 'hash join'),
                                      (2, 'vector scan slow'),
                                      (3, 'zzzunknown') AS t(query_id, qtext)""")
      e.query("""SELECT query_id, doc_id, bm25, rank
                 FROM graft_bm25_prf_join('prfj_post', 'prfj_dl',
                                          'prfj_queries', 'doc_id',
                                          'query_id', 'qtext', 10, 5, 3)""")
    }),
    "e_sql_snippet_join" -> ((s, d) => {
      import s.implicits._
      val e = engine(s, d)
      // batch snippets from SQL: bm25_join run view -> the batch
      // snippet TVF with per-query terms
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val ta = graft.operators.TextAnalysis
      val ix = graft.operators.Reuse.Local(
        ta.bm25Index(docs, "doc_id", "text"))
      ix.createOrReplaceTempView("snj_post")
      ta.bm25DocLens(ix, "doc_id").createOrReplaceTempView("snj_dl")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW snj_queries AS
                 SELECT * FROM VALUES (CAST(1 AS BIGINT), 'hash join'),
                                      (2, 'vector scan slow'),
                                      (3, 'zzzunknown') AS t(query_id, qtext)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW snj_run AS
                 SELECT query_id, doc_id
                 FROM graft_bm25_join('snj_post', 'snj_dl', 'snj_queries',
                                      'doc_id', 'query_id', 'qtext', 5)""")
      e.query("""SELECT query_id, doc_id, hits, start_tok, snippet
                 FROM graft_snippet_join('snj_run', 'documents',
                                         'snj_queries', 'query_id',
                                         'doc_id', 'text', 'qtext', 12)""")
    }),
    "e_sql_pipeline13" -> ((s, d) => {
      import s.implicits._
      val e = engine(s, d)
      // the batch serving chain as pure TVF/view composition: the
      // bm25_join + knn_join legs ranked per query -> rrf_fuse_by ->
      // the batch-MMR TVF with rel = rrf
      val docs = Tables.load(s, d, "documents").select($"doc_id", $"text")
      val ta = graft.operators.TextAnalysis
      val ix = graft.operators.Reuse.Local(
        ta.bm25Index(docs, "doc_id", "text"))
      ix.createOrReplaceTempView("p13_post")
      ta.bm25DocLens(ix, "doc_id").createOrReplaceTempView("p13_dl")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p13_queries AS
                 SELECT * FROM VALUES (CAST(1 AS BIGINT), 'hash join'),
                                      (2, 'vector scan slow'),
                                      (3, 'zzzunknown') AS t(query_id, qtext)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p13_bm AS
                 SELECT query_id, doc_id, rank
                 FROM graft_bm25_join('p13_post', 'p13_dl', 'p13_queries',
                                      'doc_id', 'query_id', 'qtext', 20)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p13_qv AS
                 SELECT vec_id AS query_id, embedding FROM embeddings
                 WHERE vec_id IN (1, 2, 3)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p13_ann AS
                 SELECT query_id, neighbor_id AS doc_id,
                        row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
                 FROM graft_knn_join('p13_qv', 'embeddings', 'query_id',
                                     'vec_id', 'embedding', 'embedding',
                                     20, 1)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p13_fused AS
                 SELECT query_id, doc_id, rrf
                 FROM graft_rrf_fuse_by('p13_bm,p13_ann', 'query_id',
                                        'doc_id', 10, 60)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p13_cand AS
                 SELECT f.query_id, f.doc_id, e.embedding, f.rrf
                 FROM p13_fused f
                 JOIN embeddings e ON e.vec_id = f.doc_id""")
      e.query("""SELECT query_id, doc_id, rrf, mmr, rank
                 FROM graft_mmr_join('p13_cand', 'query_id', 'doc_id',
                                     'embedding', 'rrf', 3, 0.7)""")
    }),
    "e_sql_knn_join" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW knn_queries AS
                 SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10""")
      e.query("""SELECT query_id, neighbor_id, cos_sim
                 FROM graft_knn_join('knn_queries', 'embeddings', 'vec_id',
                                     'vec_id', 'embedding', 'embedding', 5, 1)""")
    }),
    "e_sql_knn_join_ivf" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW knn_queries AS
                 SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10""")
      e.query("""SELECT query_id, neighbor_id, cos_sim
                 FROM graft_knn_join_ivf('knn_queries', 'embeddings', 'vec_id',
                                         'vec_id', 'embedding', 'embedding',
                                         8, 2, 5, 1)""")
    }),
    // two-stage retrieval from one line of SQL (deferred TVF)
    "e_sql_ann_rerank" -> ((s, d) => via(s, d)(
      """SELECT * FROM graft_ann_rerank('embeddings', 'vec_id', 'embedding',
                                        0, 10, 8, 2, 4, 16, 8, 20)""")),
    // the crawl front door composed PURELY from TVFs through views:
    // url filter → domain cap → gopher gate → token budget → shards —
    // same oracle as llm_pipeline7
    "e_sql_pipeline7" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_url_docs AS
                 SELECT doc_id,
                   CASE CAST(doc_id % 6 AS INT)
                     WHEN 0 THEN 'https://www.example.com/a/' || doc_id
                     WHEN 1 THEN 'http://blog.spamsite.com/p?id=' || doc_id
                     WHEN 2 THEN 'https://news.bbc.co.uk:443/story/' || doc_id
                     WHEN 3 THEN 'http://EXAMPLE.com/x'
                     WHEN 4 THEN 'https://ads.tracker.net/c'
                     ELSE 'not a url ' || doc_id END AS url
                 FROM documents""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_p7_bl AS
                 SELECT * FROM (VALUES ('spamsite.com'), ('tracker.net'))
                 AS t(domain)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_p7_adm AS
                 SELECT f.doc_id, f.domain, doc.text
                 FROM graft_url_filter('graft_url_docs', 'doc_id', 'url',
                                       'graft_p7_bl') f
                 JOIN documents doc ON doc.doc_id = f.doc_id""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_p7_capped AS
                 SELECT doc_id, text
                 FROM graft_domain_cap('graft_p7_adm', 'domain', 'text',
                                       60, 'doc_id')""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_p7_q AS
                 SELECT g.doc_id, c.text
                 FROM graft_gopher('graft_p7_capped', 'doc_id', 'text',
                                   10, 100000, 2.0, 10.0, 0.1, 1) g
                 JOIN graft_p7_capped c ON c.doc_id = g.doc_id
                 WHERE g.keep""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_p7_b AS
                 SELECT b.doc_id, b.n_toks, b.token_offset, q.text
                 FROM graft_token_budget('graft_p7_q', 'doc_id', 'text', 5000) b
                 JOIN graft_p7_q q ON q.doc_id = b.doc_id""")
      e.query("""SELECT doc_id, n_toks, token_offset, shard, order_key
                 FROM graft_shards('graft_p7_b', 'text', 8, 'shard:')""")
    }),
    // the LR quality filter from SQL: labeled fixture as views, train +
    // score via the deferred TVF — same oracle as llm_quality_classifier
    "e_sql_quality_classifier" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_lr_pos AS
                 SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_lr_neg AS
                 SELECT doc_id, upper(text) AS text FROM documents
                 WHERE doc_id % 2 = 1""")
      e.query("""SELECT * FROM graft_quality_classifier(
                   'graft_lr_pos', 'graft_lr_neg', 'documents',
                   'doc_id', 'text', 64, 2)""")
    }),
    // the crawl-domain dashboard from one line of SQL over the same
    // URL fixture view as e_sql_url_filter
    "e_sql_domain_report" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_url_docs AS
                 SELECT doc_id,
                   CASE CAST(doc_id % 6 AS INT)
                     WHEN 0 THEN 'https://www.example.com/a/' || doc_id
                     WHEN 1 THEN 'http://blog.spamsite.com/p?id=' || doc_id
                     WHEN 2 THEN 'https://news.bbc.co.uk:443/story/' || doc_id
                     WHEN 3 THEN 'http://EXAMPLE.com/x'
                     WHEN 4 THEN 'https://ads.tracker.net/c'
                     ELSE 'not a url ' || doc_id END AS url
                 FROM documents""")
      e.query(
        "SELECT * FROM graft_domain_report('graft_url_docs', 'url', 20)")
    }),
    // URL/domain admission from SQL over the same deterministic fixture
    "e_sql_url_filter" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_url_docs AS
                 SELECT doc_id,
                   CASE CAST(doc_id % 6 AS INT)
                     WHEN 0 THEN 'https://www.example.com/a/' || doc_id
                     WHEN 1 THEN 'http://blog.spamsite.com/p?id=' || doc_id
                     WHEN 2 THEN 'https://news.bbc.co.uk:443/story/' || doc_id
                     WHEN 3 THEN 'http://EXAMPLE.com/x'
                     WHEN 4 THEN 'https://ads.tracker.net/c'
                     ELSE 'not a url ' || doc_id END AS url
                 FROM documents""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_url_blocklist AS
                 SELECT * FROM (VALUES ('spamsite.com'), ('Tracker.NET'))
                 AS t(domain)""")
      e.query("""SELECT * FROM graft_url_filter('graft_url_docs', 'doc_id',
                                                'url', 'graft_url_blocklist')""")
    }),
    "e_sql_semdedup" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_semdup_corpus AS
                 SELECT vec_id, embedding FROM embeddings
                 UNION ALL
                 SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings""")
      e.query(
        "SELECT * FROM graft_semdedup('graft_semdup_corpus', 'vec_id', 'embedding', 8, 1, 0.99)")
    }),
    // deterministic global shuffle from SQL
    "e_sql_shards" -> ((s, d) => via(s, d)(
      "SELECT doc_id, shard, order_key FROM graft_shards('documents', 'text', 32, 'shard:')")),
    // in-document span dedup from SQL
    "e_sql_span_dedup_doc" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_span_dedup_doc('documents', 'doc_id', 'text', 2)")),
    // the Gopher rule panel, fully parameterized from SQL
    "e_sql_gopher" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_gopher('documents', 'doc_id', 'text', 10, 100000, 2.0, 10.0, 0.1, 1)")),
    // relative-threshold pruning from SQL
    "e_sql_quantile_filter" -> ((s, d) => via(s, d)(
      "SELECT doc_id, n_chars FROM graft_quantile_filter('documents', 'n_chars', 0.25)")),
    "e_sql_quantile_by_group" -> ((s, d) => via(s, d)(
      """SELECT doc_id, lang, n_chars
         FROM graft_quantile_filter_by('documents', 'lang', 'n_chars', 0.25)""")),
    // perplexity-proxy scoring from SQL
    "e_sql_unigram_lp" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_unigram_lp('documents', 'doc_id', 'text')")),
    // positional winnowing fingerprints from SQL
    "e_sql_winnow" -> ((s, d) => via(s, d)(
      "SELECT * FROM graft_winnow('documents', 'doc_id', 'text', 3, 4)")),
    // exact shared-span extents from SQL over the planted-overlap view
    "e_sql_overlap_extents" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_ov_docs AS
                 SELECT doc_id, text FROM documents
                 UNION ALL
                 SELECT doc_id + 3000000 AS doc_id, text FROM documents
                 WHERE doc_id > (SELECT max(doc_id) - 100 FROM documents)""")
      e.query(
        "SELECT * FROM graft_overlap_extents('graft_ov_docs', 'doc_id', 'text', 8, 4)")
    }),
    // exact-substring removal from SQL over the same planted view
    "e_sql_substr_dedup" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_ov_docs AS
                 SELECT doc_id, text FROM documents
                 UNION ALL
                 SELECT doc_id + 3000000 AS doc_id, text FROM documents
                 WHERE doc_id > (SELECT max(doc_id) - 100 FROM documents)""")
      e.query(
        "SELECT * FROM graft_dedup_substrings('graft_ov_docs', 'doc_id', 'text', 8, 4)")
    }),
    // the round-6 flagship prep chain as PURE TVF composition through
    // views — C4 rules, normalize scalar, line dedup, quantile filter,
    // domain cap, shards — zero Scala between stages
    "e_sql_pipeline3" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p3_fix AS
                 SELECT doc_id, source,
                   text || ' end.' || chr(10) || 'no terminal punctuation line' || chr(10) ||
                   CASE WHEN doc_id % 5 = 0 THEN 'Please enable javascript to continue reading.'
                        ELSE 'A perfectly fine closing sentence.' END ||
                   CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'code sample { return 0; }' ELSE '' END ||
                   CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'Lorem ipsum dolor sit amet.' ELSE '' END
                   AS text
                 FROM documents""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p3_clean AS
                 SELECT c.doc_id, graft_normalize(c.clean_text) AS text
                 FROM graft_c4_filters('p3_fix', 'doc_id', 'text', 3, 1) c
                 WHERE c.keep""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p3_dedup AS
                 SELECT l.doc_id, f.source, l.clean_text,
                        length(l.clean_text) AS n_clean
                 FROM graft_line_dedup('p3_clean', 'doc_id', 'text', 1, 'local') l
                 JOIN p3_fix f ON f.doc_id = l.doc_id""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p3_kept AS
                 SELECT * FROM graft_quantile_filter(
                   'p3_dedup', 'n_clean', 0.25, 0, 'local')""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p3_capped AS
                 SELECT * FROM graft_domain_cap(
                   'p3_kept', 'source', 'clean_text', 25, 'doc_id', 'n_clean')""")
      e.query("""SELECT doc_id, source, n_clean, shard, order_key
                 FROM graft_shards('p3_capped', 'clean_text', 8, 'p3:')""")
    }),
    // the round-6b data-selection flow as PURE TVF composition through
    // views: repetition panel -> quality scalar -> deferred rank TVF ->
    // token-budget TVF -> shard TVF, zero Scala between stages.
    // id-keyed stages join text back from the base documents SCAN, not
    // the derived views — re-deriving text through the gopher/rank
    // chain re-evaluated the whole corpus stage once per consumer (the
    // llm_pipeline4 Scala twin always had this shape; 7.5s -> Scala-twin
    // parity on the driver bench)
    "e_sql_pipeline4" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p4_scored AS
                 SELECT d.doc_id, d.text, graft_quality(d.text) AS quality
                 FROM documents d
                 JOIN (SELECT doc_id
                       FROM graft_gopher_rep('documents', 'doc_id', 'text', 2, 5)
                       WHERE keep) k USING (doc_id)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p4_top AS
                 SELECT r.doc_id, d.text
                 FROM graft_rank_norm('p4_scored', 'doc_id', 'quality', 16) r
                 JOIN documents d USING (doc_id)
                 WHERE r.pct_rank >= 0.25""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p4_sel AS
                 SELECT b.doc_id, d.text, b.n_toks, b.token_offset
                 FROM graft_token_budget('p4_top', 'doc_id', 'text', 8000) b
                 JOIN documents d USING (doc_id)""")
      e.query("""SELECT doc_id, n_toks, token_offset, shard, order_key
                 FROM graft_shards('p4_sel', 'text', 8, 'p4:')""")
    }),
    // the round-7 quality-weighted balanced draw as pure SQL: gopher
    // TVF keep -> quality scalar as the sampling weight -> per-language
    // weighted-priority TVF -> shard TVF
    "e_sql_pipeline6" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p6_scored AS
                 SELECT d.doc_id, d.lang, d.text, graft_quality(d.text) AS quality
                 FROM documents d
                 JOIN (SELECT doc_id
                       FROM graft_gopher('documents', 'doc_id', 'text',
                              10, 100000, 2.0, 10.0, 0.1, 1)
                       WHERE keep) k USING (doc_id)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p6_sel AS
                 SELECT doc_id, lang, text, priority
                 FROM graft_sample_weighted_by('p6_scored', 'lang', 'text',
                                               'quality', 'doc_id', 25, 'p6:')""")
      e.query("""SELECT doc_id, lang, priority, shard, order_key
                 FROM graft_shards('p6_sel', 'text', 4, 'p6s:')""")
    }),
    // the raw-crawl ingestion flow as pure SQL composition: strip +
    // normalize scalars -> gopher TVF keep -> keep-first dedup on the
    // fingerprint scalar -> shard TVF
    "e_sql_pipeline5" -> ((s, d) => {
      val e = engine(s, d)
      e.query(s"""CREATE OR REPLACE TEMPORARY VIEW p5_clean AS
                 SELECT doc_id,
                        graft_normalize(graft_strip_html(
                          '$htmlPre' || text || '$htmlPost'))
                          AS text
                 FROM (SELECT doc_id, text FROM documents
                       UNION ALL SELECT doc_id + 700000, text FROM documents)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p5_kept AS
                 SELECT c.doc_id, c.text
                 FROM p5_clean c
                 JOIN graft_gopher('p5_clean', 'doc_id', 'text',
                        10, 100000, 2.0, 10.0, 0.2, 1) g
                   ON g.doc_id = c.doc_id
                 WHERE g.keep""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW p5_dedup AS
                 SELECT doc_id, text FROM (
                   SELECT doc_id, text, row_number() OVER (
                     PARTITION BY graft_fingerprint(text)
                     ORDER BY doc_id) AS rn
                   FROM p5_kept) WHERE rn = 1""")
      e.query("""SELECT doc_id, shard, order_key
                 FROM graft_shards('p5_dedup', 'text', 8, 'p5:')""")
    }),
    // DSIR importance weights from SQL: the target corpus is just
    // another SQL view — any predicate can define "what good data looks
    // like" without a line of Scala
    "e_sql_dsir" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_dsir_target AS
                 SELECT doc_id, text FROM documents WHERE lang = 'en'""")
      e.query(
        "SELECT * FROM graft_dsir('documents', 'graft_dsir_target', 'doc_id', 'text', 1024)")
    }),
    // quality-aware per-source cap from SQL (optional by_col arg)
    "e_sql_domain_cap" -> ((s, d) => via(s, d)(
      """SELECT doc_id, source, n_chars
         FROM graft_domain_cap('documents', 'source', 'text', 15, 'doc_id', 'n_chars')""")),
    // the round-5 flagship as pure TVF COMPOSITION: gopher filter and
    // span dedup feed each other through SQL views; the shard TVF reads
    // the cleaned view — three operators chained without a line of Scala
    "e_sql_pipeline2" -> ((s, d) => {
      val e = engine(s, d)
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_p2_kept AS
                 SELECT d.doc_id, d.text FROM documents d
                 JOIN (SELECT doc_id
                       FROM graft_gopher('documents', 'doc_id', 'text',
                                         10, 100000, 2.0, 10.0, 0.1, 1)
                       WHERE keep) k
                 USING (doc_id)""")
      e.query("""CREATE OR REPLACE TEMPORARY VIEW graft_p2_clean AS
                 SELECT doc_id, n_dropped, clean_text
                 FROM graft_span_dedup('graft_p2_kept', 'doc_id', 'text', 16, 1)""")
      e.query(
        "SELECT doc_id, n_dropped, shard, order_key FROM graft_shards('graft_p2_clean', 'clean_text', 32, 'shard:')")
    })
  )

  def oracle: Map[String, String] = dialectSql ++ Map(
    "e_federation" ->
      """SELECT n_name, count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM customer JOIN orders ON o_custkey = c_custkey
         JOIN nation ON n_nationkey = c_nationkey
         GROUP BY n_name""",
    "e_vars" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
         WHERE o_totalprice > 250000.0 GROUP BY o_orderpriority""",
    "e_builtin_sql" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS ym,
              substr(o_orderpriority, -3) AS prio_tail
         FROM orders WHERE o_orderkey < 500""",
    // the SQL-façade gates reuse the Scala-API gates' oracles verbatim:
    // same pipeline, different entry point
    "e_sql_minhash" -> LlmQueries.oracle("llm_minhash_pairs"),
    "e_sql_chunk" -> LlmQueries.oracle("llm_chunk"),
    "e_sql_pack" -> LlmQueries.oracle("llm_pack"),
    "e_sql_chunk_bpe" -> LlmQueries.oracle("llm_chunk_bpe"),
    "e_sql_pack_bpe" -> LlmQueries.oracle("llm_pack_bpe"),
    "e_sql_pipeline10" -> LlmQueries.oracle("llm_pipeline10"),
    "e_sql_sample_k" -> LlmQueries.oracle("llm_sample_k"),
    "e_sql_sample_weighted" -> LlmQueries.oracle("llm_sample_weighted"),
    "e_sql_sample_weighted_strat" -> LlmQueries.oracle("llm_sample_weighted_strat"),
    "e_sql_tfidf" -> LlmQueries.oracle("llm_tfidf"),
    "e_sql_bm25" -> LlmQueries.oracle("llm_bm25"),
    "e_sql_hybrid_rrf" -> LlmQueries.oracle("llm_hybrid_rrf"),
    "e_sql_hybrid_join" -> LlmQueries.oracle("llm_hybrid_join"),
    "e_sql_retrieval_eval" -> LlmQueries.oracle("llm_retrieval_eval"),
    "e_sql_snippet" -> LlmQueries.oracle("llm_snippet"),
    "e_sql_mmr" -> LlmQueries.oracle("llm_mmr"),
    "e_sql_bm25_prf" -> LlmQueries.oracle("llm_bm25_prf"),
    "e_sql_crawl_delta" -> LlmQueries.oracle("llm_crawl_delta"),
    "e_sql_pipeline12" -> LlmQueries.oracle("llm_pipeline12"),
    "e_sql_corpus_kl" -> LlmQueries.oracle("llm_corpus_kl"),
    "e_sql_containment" -> LlmQueries.oracle("llm_containment"),
    "e_sql_decontaminate" -> LlmQueries.oracle("llm_decontaminate"),
    "e_sql_contamination" -> LlmQueries.oracle("llm_contamination"),
    "e_sql_token_budget" -> LlmQueries.oracle("llm_token_budget"),
    "e_sql_token_budget_bpe" -> LlmQueries.oracle("llm_token_budget_bpe"),
    "e_sql_token_budget_group" -> LlmQueries.oracle("llm_token_budget_group"),
    "e_sql_rank_norm" -> LlmQueries.oracle("llm_rank_norm"),
    "e_sql_rank_norm_group" -> LlmQueries.oracle("llm_rank_norm_group"),
    "e_sql_gopher_rep" -> LlmQueries.oracle("llm_gopher_rep"),
    "e_sql_pipeline4" -> LlmQueries.oracle("llm_pipeline4"),
    "e_sql_cluster_keep" -> LlmQueries.oracle("llm_cluster_keep"),
    "e_sql_cluster_best" -> LlmQueries.oracle("llm_cluster_best"),
    "e_sql_exact_dedup" -> LlmQueries.oracle("llm_exact_dedup"),
    "e_sql_simhash" -> LlmQueries.oracle("llm_simhash_pairs"),
    "e_sql_boilerplate" -> LlmQueries.oracle("llm_boilerplate"),
    "e_sql_vocab" -> LlmQueries.oracle("llm_vocab"),
    "e_sql_sentences" -> LlmQueries.oracle("llm_sentences"),
    "e_sql_minhash_incr" -> LlmQueries.oracle("llm_minhash_incr"),
    "e_sql_sample_strat" -> LlmQueries.oracle("llm_sample_strat"),
    "e_sql_pii_redact" -> LlmQueries.oracle("llm_pii_redact"),
    "e_sql_langid" -> LlmQueries.oracle("llm_langid"),
    "e_sql_fingerprint" -> LlmQueries.oracle("llm_fingerprint"),
    "e_sql_split" -> LlmQueries.oracle("llm_split"),
    "e_sql_text_stats" -> LlmQueries.oracle("llm_text_stats"),
    "e_sql_mix" -> LlmQueries.oracle("llm_mix"),
    "e_sql_cosine" -> LlmQueries.oracle("llm_cosine"),
    "e_sql_rep_ratio" -> LlmQueries.oracle("llm_rep_ratio"),
    "e_sql_resample" -> ExtraQueries.oracle("ts_resample"),
    "e_sql_funnel" -> ExtraQueries.oracle("ts_funnel"),
    "e_sql_retention" -> ExtraQueries.oracle("ts_retention"),
    "e_sql_sessionize" -> ExtraQueries.oracle("ts_sessionize"),
    "e_sql_transitions" -> ExtraQueries.oracle("ts_transitions"),
    "e_sql_embedding_dups" -> LlmQueries.oracle("llm_embedding_dups"),
    "e_sql_span_dedup" -> LlmQueries.oracle("llm_span_dedup"),
    "e_sql_c4_filters" -> LlmQueries.oracle("llm_c4_filters"),
    "e_sql_decontaminate_bloom" -> LlmQueries.oracle("llm_decontaminate"),
    "e_sql_normalize" -> LlmQueries.oracle("llm_normalize"),
    "e_sql_html_strip" -> LlmQueries.oracle("llm_html_strip"),
    "e_sql_pipeline5" -> LlmQueries.oracle("llm_pipeline5"),
    "e_sql_pipeline6" -> LlmQueries.oracle("llm_pipeline6"),
    "e_sql_script" -> LlmQueries.oracle("llm_script"),
    "e_sql_bigram_lp" -> LlmQueries.oracle("llm_bigram_lp"),
    "e_sql_trigram_kn" -> LlmQueries.oracle("llm_trigram_kn"),
    "e_sql_unigram_train" -> LlmQueries.oracle("llm_unigram_tok_train"),
    "e_sql_temperature_mix" -> LlmQueries.oracle("llm_temperature_mix"),
    "e_sql_corpus_report" -> LlmQueries.oracle("llm_corpus_report"),
    "e_sql_line_dedup" -> LlmQueries.oracle("llm_line_dedup"),
    "e_sql_semdedup" -> LlmQueries.oracle("llm_semdedup"),
    "e_sql_embed_outliers" -> LlmQueries.oracle("llm_embed_outliers"),
    "e_sql_knn_join" -> LlmQueries.oracle("llm_knn_join"),
    "e_sql_sentence_filter" -> LlmQueries.oracle("llm_sentence_filter"),
    "e_sql_cms_heavy_hitters" -> LlmQueries.oracle("llm_cms_heavy_hitters"),
    "e_sql_distinct_n" -> LlmQueries.oracle("llm_distinct_n"),
    "e_sql_knn_join_ivf" -> LlmQueries.oracle("llm_knn_join_ivf"),
    "e_sql_cluster_sample" -> LlmQueries.oracle("llm_cluster_sample"),
    "e_sql_ann_topk" -> LlmQueries.oracle("llm_ann_topk"),
    "e_sql_ann_lsh" -> LlmQueries.oracle("llm_ann_lsh"),
    "e_sql_ann_ivf" -> LlmQueries.oracle("llm_ann_ivf"),
    "e_sql_ann_pq" -> LlmQueries.oracle("llm_ann_pq"),
    "e_sql_ann_residual" -> LlmQueries.oracle("llm_ann_ivf_pq_residual"),
    "e_sql_image_dups" -> LlmQueries.oracle("llm_image_dups"),
    "e_sql_bpe_count" -> LlmQueries.oracle("llm_bpe_count"),
    "e_sql_bpe_tokenize" -> LlmQueries.oracle("llm_bpe_tokenize"),
    "e_sql_bpe_vocab" -> LlmQueries.oracle("llm_bpe_vocab"),
    "e_sql_image_clusters" -> LlmQueries.oracle("llm_image_clusters"),
    "e_sql_snippet_join" -> LlmQueries.oracle("llm_snippet_join"),
    "e_sql_bm25_prf_join" -> LlmQueries.oracle("llm_bm25_prf_join"),
    "e_sql_pipeline13" -> LlmQueries.oracle("llm_pipeline13"),
    "e_sql_ann_recall" -> LlmQueries.oracle("llm_ann_recall"),
    "e_sql_audio_fp" -> LlmQueries.oracle("llm_audio_fp"),
    "e_sql_audio_dups" -> LlmQueries.oracle("llm_audio_dups"),
    // the SQL-gated audio lifecycle twins share the Scala verbs'
    // oracles: append serves like the full-slice store, delete/compact
    // like the purge view
    // the video family's SQL twins share the Scala verbs' oracles
    "e_sql_video_frames" -> LlmQueries.oracle("llm_video_frames"),
    "e_sql_video_dups" -> LlmQueries.oracle("llm_video_dups"),
    "e_sql_ann_sq" -> LlmQueries.oracle("llm_ann_sq"),
    "e_sql_ann_ivf_sq" -> LlmQueries.oracle("llm_ann_ivf_sq"),
    "e_sql_bpe_train" -> LlmQueries.oracle("llm_bpe_train"),
    "e_sql_bpe_pretok" -> LlmQueries.oracle("llm_bpe_pretok"),
    "e_sql_retrieval_eval_graded" -> LlmQueries.oracle("llm_retrieval_eval_graded"),
    "e_sql_mmr_join" -> LlmQueries.oracle("llm_mmr_join"),
    "e_sql_hybrid_eval" -> LlmQueries.oracle("llm_hybrid_eval"),
    "e_sql_bpe_roundtrip" -> LlmQueries.oracle("llm_bpe_roundtrip"),
    "e_sql_pipeline8" -> LlmQueries.oracle("llm_pipeline8"),
    "e_sql_admission_selfdedup" -> LlmQueries.oracle("llm_admission_selfdedup"),
    "e_sql_shards" -> LlmQueries.oracle("llm_shards"),
    "e_sql_span_dedup_doc" -> LlmQueries.oracle("llm_span_dedup_doc"),
    "e_sql_gopher" -> LlmQueries.oracle("llm_gopher"),
    "e_sql_quantile_filter" -> LlmQueries.oracle("llm_quantile_filter"),
    "e_sql_quantile_by_group" -> LlmQueries.oracle("llm_quantile_by_group"),
    "e_sql_unigram_lp" -> LlmQueries.oracle("llm_unigram_lp"),
    "e_sql_winnow" -> LlmQueries.oracle("llm_winnow"),
    "e_sql_domain_cap" -> LlmQueries.oracle("llm_domain_cap"),
    "e_sql_dsir" -> LlmQueries.oracle("llm_dsir"),
    "e_sql_overlap_extents" -> LlmQueries.oracle("llm_overlap_extents"),
    "e_sql_substr_dedup" -> LlmQueries.oracle("llm_substr_dedup"),
    "e_sql_pipeline2" -> LlmQueries.oracle("llm_pipeline2"),
    "e_sql_pipeline3" -> LlmQueries.oracle("llm_pipeline3"),
    "e_sql_ann_rerank" -> LlmQueries.oracle("llm_ann_rerank"),
    "e_sql_url_filter" -> LlmQueries.oracle("llm_url_filter"),
    "e_sql_domain_report" -> LlmQueries.oracle("llm_domain_report"),
    "e_sql_quality_classifier" -> LlmQueries.oracle("llm_quality_classifier"),
    "e_sql_pipeline7" -> LlmQueries.oracle("llm_pipeline7"),
  )
}
