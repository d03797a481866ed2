package graft
package registry

import graft.Query.loader
import graft.ann.Ann
import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Registry queries over retrieval: sparse (BM25) and dense (ANN) top-k,
  * hybrid fusion, and the multimodal decode → embed → index pipelines.
  */
private[graft] object RetrievalQueries {

  /** The corpus counters of a persisted BM25 index, from its log head, as
    * one row (n_docs, dl_sum, buckets).
    */
  private[registry] def bm25Counters(s: SparkSession, path: String): DataFrame = {
    import s.implicits._
    val c = graft.sources.IndexState.open(s, path)._2.counters
    Seq((c.nDocs, c.dlSum, c.buckets.toLong)).toDF("n_docs", "dl_sum", "buckets")
  }

  /** The LSH bucket of `vecCol` as DuckDB SQL: one sign bit per
    * hyperplane (6 planes, the plan-time literals of
    * [[graft.functions.VectorFunctions.plane]] at 3 decimals) packed into an
    * integer — the bucket the engine computes.
    */
  private[registry] def lshBucketSql(vecCol: String, dim: Int): String = (0 until 6)
    .map { p =>
      val lits = graft.functions.VectorFunctions
        .plane(p, dim)
        .map(d => f"$d%.3f")
        .mkString("[", ", ", "]")
      s"(CASE WHEN list_inner_product($vecCol, $lits) >= 0 THEN ${1L << p} ELSE 0 END)"
    }
    .mkString(" + ")

  /** The Hamming-1 multi-probe keys of a `bucket` column as a DuckDB list:
    * the bucket itself plus its 6 single-bit flips.
    */
  private[registry] val lshProbeKeysSql: String =
    (Seq("bucket") ++ (0 until 6).map(p => s"xor(bucket, ${1L << p})")).mkString("[", ", ", "]")

  /** Build a persisted BM25 index of `docs` in a fresh scratch dir. */
  private def bm25Index(docs: DataFrame): String = {
    val idx = graft.util.TempDirs.scratch("bm25-index").toString
    graft.functions.Retrieval.writeBm25Index(docs, "doc_id", "text", idx)
    idx
  }

  // shared by the in-memory workload plan and the persisted term-bucket
  // index probe: identical scoring contracts. The single-query BM25 replay
  // generalized to a query set: per-query distinct terms, shared corpus
  // stats, rank partitioned by qid.
  private val bm25BatchSql =
    """WITH q AS (SELECT doc_id AS qid, text FROM documents WHERE doc_id < 3),
         qterms AS (
           SELECT DISTINCT qid, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
           FROM q),
         dl AS (
           SELECT doc_id, CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS dl
           FROM documents),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
         toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
           FROM documents),
         tf AS (
           SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
           WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY 1, 2),
         dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         scored AS (
           SELECT qt.qid, t.doc_id AS id,
                  CAST(sum(CAST(round(
                    1000000.0 * ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                      * ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl)))
                  ) AS BIGINT)) AS BIGINT) AS score_micro
           FROM tf t JOIN dfreq f USING (term) JOIN dl d ON d.doc_id = t.doc_id
                CROSS JOIN stats s JOIN qterms qt ON qt.term = t.term
           GROUP BY 1, 2),
         ranked AS (
           SELECT qid, id, score_micro,
                  CAST(row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, id)
                       AS BIGINT) AS rank
           FROM scored)
         SELECT qid, id, score_micro, rank FROM ranked WHERE rank <= 10"""

  // bm25BatchSql with the impact-cap replay spliced in: per term, only the
  // top-ImpactCap postings by (imp_micro DESC, doc_id ASC) are scored —
  // imp_micro is the tf-normalization factor in integer micro-units, the
  // idf-free partial impact the engine freezes into _graft_impacts — while
  // idf still uses the TRUE document frequency (the _graft_termdf sidecar).
  private val bm25PrunedSql =
    s"""WITH q AS (SELECT doc_id AS qid, text FROM documents WHERE doc_id < 3),
         qterms AS (
           SELECT DISTINCT qid, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
           FROM q),
         dl AS (
           SELECT doc_id, CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS dl
           FROM documents),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
         toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
           FROM documents),
         tf AS (
           SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
           WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY 1, 2),
         dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         imp AS (
           SELECT t.doc_id, t.term, t.tf, d.dl,
                  CAST(round(1000000.0 * (t.tf * 2.2)
                             / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))) AS BIGINT)
                    AS imp_micro
           FROM tf t JOIN dl d ON d.doc_id = t.doc_id CROSS JOIN stats s),
         kept AS (
           SELECT * FROM (
             SELECT *, row_number() OVER (PARTITION BY term ORDER BY imp_micro DESC, doc_id) AS rn
             FROM imp)
           WHERE rn <= ${graft.functions.Retrieval.ImpactCap}),
         scored AS (
           SELECT qt.qid, t.doc_id AS id,
                  CAST(sum(CAST(round(
                    1000000.0 * ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                      * ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * t.dl / s.avgdl)))
                  ) AS BIGINT)) AS BIGINT) AS score_micro
           FROM kept t JOIN dfreq f USING (term)
                CROSS JOIN stats s JOIN qterms qt ON qt.term = t.term
           GROUP BY 1, 2),
         ranked AS (
           SELECT qid, id, score_micro,
                  CAST(row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, id)
                       AS BIGINT) AS rank
           FROM scored)
         SELECT qid, id, score_micro, rank FROM ranked WHERE rank <= 10"""

  val all: Seq[Query] = Seq(
    // ---- sparse retrieval: BM25 top-k over a term-filtered inverted view ---
    Query("q_bm25", (s, dir) =>
      graft.functions.Retrieval
        .bm25TopK(loader(s, dir)("documents"), "doc_id", "text", "spark vector join query window", 25)
        .select(col("id").as("doc_id"), col("score_micro"), col("rank")),
      // Float arithmetic mirrors the Spark expression shape exactly (same
      // association), and the cross-term reduction is an integer sum, so the
      // hash compare is stable across engines.
      """WITH dl AS (
           SELECT doc_id, CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS dl
           FROM documents),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
         toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
           FROM documents),
         tf AS (
           SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
           WHERE term IN ('spark', 'vector', 'join', 'query', 'window') GROUP BY 1, 2),
         dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         scored AS (
           SELECT t.doc_id,
                  CAST(sum(CAST(round(
                    1000000.0 * ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                      * ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl)))
                  ) AS BIGINT)) AS BIGINT) AS score_micro
           FROM tf t JOIN dfreq f USING (term) JOIN dl d USING (doc_id) CROSS JOIN stats s
           GROUP BY 1)
         SELECT doc_id, score_micro,
                CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
         FROM scored ORDER BY score_micro DESC, doc_id LIMIT 25"""),
    // ---- batch BM25: a query WORKLOAD scored in one corpus pass ------------
    // queries are docs 0..2 used as free-text probes over the full corpus
    // (self-match allowed: the probe doc ranks itself first, deterministic)
    Query("q_bm25_batch", (s, dir) => {
      val docs = loader(s, dir)("documents")
      graft.functions.Retrieval
        .bm25TopKBatch(
          docs, "doc_id", "text",
          docs.filter(col("doc_id") < 3), "doc_id", "text", 10)
    },
      bm25BatchSql),
    // ---- batch hybrid: workload BM25 + workload ANN fused per query --------
    // docs 0..2 probe by text AND by embedding; one sparse pass + one dense
    // pass + one per-qid fusion for the whole workload
    Query("q_hybrid_rrf_batch", (s, dir) => {
      val docs = loader(s, dir)("documents")
      val emb = loader(s, dir)("embeddings")
      val sparse = graft.functions.Retrieval
        .bm25TopKBatch(docs, "doc_id", "text", docs.filter(col("doc_id") < 3), "doc_id", "text", 20)
        .select(col("qid"), col("id"), col("rank"))
      val dense = Ann
        .bruteForceTopK(
          emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", "vec_id", "embedding", 20)
        .select(col("qid"), col("neighbor_id").as("id"), col("rank"))
      graft.functions.Retrieval
        .rrfFuseByQuery(Seq(sparse, dense), 10)
        .select(col("qid"), col("id").as("doc_id"), col("rrf_nano"), col("rank"))
    },
      // the batch BM25 replay at k=20 fused per qid with a per-qid dense
      // run (brute-force cosine, self excluded), nano-unit integer fusion
      """WITH q AS (SELECT doc_id AS qid, text FROM documents WHERE doc_id < 3),
         qterms AS (
           SELECT DISTINCT qid, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
           FROM q),
         dl AS (
           SELECT doc_id, CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS dl
           FROM documents),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
         toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
           FROM documents),
         tf AS (
           SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
           WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY 1, 2),
         dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         sparse_scored AS (
           SELECT qt.qid, t.doc_id AS id,
                  CAST(sum(CAST(round(
                    1000000.0 * ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                      * ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl)))
                  ) AS BIGINT)) AS BIGINT) AS score_micro
           FROM tf t JOIN dfreq f USING (term) JOIN dl d ON d.doc_id = t.doc_id
                CROSS JOIN stats s JOIN qterms qt ON qt.term = t.term
           GROUP BY 1, 2),
         sparse_run AS (
           SELECT qid, id, rank FROM (
             SELECT qid, id,
                    CAST(row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, id)
                         AS BIGINT) AS rank
             FROM sparse_scored)
           WHERE rank <= 20),
         dense_run AS (
           SELECT qid, id, rank FROM (
             SELECT e.vec_id AS qid, c.vec_id AS id,
                    CAST(row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY list_cosine_similarity(c.embedding, e.embedding) DESC,
                               c.vec_id) AS BIGINT) AS rank
             FROM embeddings c JOIN embeddings e ON e.vec_id < 3 AND c.vec_id <> e.vec_id)
           WHERE rank <= 20),
         contrib AS (
           SELECT qid, id, CAST(round(1000000000.0 / (60 + rank)) AS BIGINT) AS c FROM sparse_run
           UNION ALL
           SELECT qid, id, CAST(round(1000000000.0 / (60 + rank)) AS BIGINT) AS c FROM dense_run),
         fused AS (SELECT qid, id, CAST(sum(c) AS BIGINT) AS rrf_nano FROM contrib GROUP BY 1, 2),
         ranked AS (
           SELECT qid, id, rrf_nano,
                  CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf_nano DESC, id)
                       AS BIGINT) AS rank
           FROM fused)
         SELECT qid, id AS doc_id, rrf_nano, rank FROM ranked WHERE rank <= 10"""),
    // ---- persisted BM25 index: its build and its two probes ---------------
    // BUILD: tokenize the corpus once, write term-bucketed postings + the
    // doclens/impact sidecars. Graded on the log's counters (n_docs /
    // dl_sum are exact corpus facts the oracle recomputes).
    Query("q_bm25_index_build", (s, dir) =>
      bm25Counters(s, bm25Index(loader(s, dir)("documents"))),
      // corpus facts the build must persist exactly: doc count, total token
      // count under the same whitespace tokenization, and the bucket default
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT) AS dl_sum,
                CAST(64 AS BIGINT) AS buckets
         FROM documents"""),
    // PROBE: term-bucket partition-pruned workload probe of a freshly
    // built index. Same scoring contract as the in-memory batch row, so the
    // same oracle certifies it; the probe reads ONLY the partitions the
    // workload's terms hash into.
    Query("q_bm25_indexed", (s, dir) => {
      val docs = loader(s, dir)("documents")
      graft.functions.Retrieval
        .bm25TopKIndexedBatch(bm25Index(docs), docs.filter(col("doc_id") < 3), "doc_id", "text", 10)
    },
      // the persisted-index probe scores identically to the in-memory batch
      // plan by construction (same tokenization, tf, df, sidecar-exact
      // n_docs/avgdl), so the same oracle certifies it
      bm25BatchSql),
    // PRUNED PROBE of the same index shape: the impact-capped sidecar
    // bounds per-term probe volume at ImpactCap postings regardless of
    // corpus size — the 100 TB probe shape (the exact probe above reads
    // every matched posting and is corpus-proportional for frequent terms).
    // Common terms exceed the cap at every graded sf, so the oracle
    // genuinely grades the capped semantics: per-term top-cap by partial
    // impact (imp_micro DESC, id ASC), idf from the TRUE df.
    Query("q_bm25_pruned", (s, dir) => {
      val docs = loader(s, dir)("documents")
      graft.functions.Retrieval
        .bm25TopKIndexedPrunedBatch(
          bm25Index(docs), docs.filter(col("doc_id") < 3), "doc_id", "text", 10)
    },
      bm25PrunedSql),
    // ---- chunking: fixed-size overlapping windows (map-side only) ----------
    Query("q_chunk", (s, dir) =>
      graft.functions.Retrieval
        .chunk(loader(s, dir)("documents"), "doc_id", "text", 120, 24)
        .select(col("id").as("doc_id"), col("chunk_idx"), col("n_chunks"), col("chunk_len"), col("chunk_md5")),
      """WITH d AS (
           SELECT doc_id, text,
                  greatest(1, (greatest(length(text) - 24, 1) + 95) // 96) AS n_chunks
           FROM documents),
         e AS (
           SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks, text,
                  unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
           FROM d)
         SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, n_chunks,
                CAST(length(substr(text, CAST(chunk_idx * 96 + 1 AS INTEGER), 120)) AS BIGINT) AS chunk_len,
                md5(substr(text, CAST(chunk_idx * 96 + 1 AS INTEGER), 120)) AS chunk_md5
         FROM e"""),
    // ---- hybrid retrieval: RRF fusion of a sparse (BM25) + dense (ANN) run -
    // query-by-example: doc 0 is the probe — its text drives the BM25 run,
    // its embedding the dense run (documents.doc_id aligns 1:1 with
    // embeddings.vec_id in the testdata); the probe doc itself is excluded
    // from both runs. The probe text is a one-row driver lookup by contract.
    Query("q_hybrid_rrf", (s, dir) => {
      val docs = loader(s, dir)("documents")
      val emb = loader(s, dir)("embeddings")
      val qtext = docs.filter(col("doc_id") === 0).select(col("text")).head().getString(0)
      val sparse = graft.functions.Retrieval
        .bm25TopK(docs.filter(col("doc_id") =!= 0), "doc_id", "text", qtext, 20)
        .select(col("id"), col("rank"))
      val dense = Ann
        .bruteForceTopK(
          emb, emb.filter(col("vec_id") === 0), "vec_id", "embedding", "vec_id", "embedding", 20)
        .select(col("neighbor_id").as("id"), col("rank"))
      graft.functions.Retrieval
        .rrfFuse(Seq(sparse, dense), 10)
        .select(col("id").as("doc_id"), col("rrf_nano"), col("rank"))
    },
      // sparse run = the single-query BM25 replay with doc 0's distinct terms as the
      // query and doc 0 excluded from the corpus; dense run = brute-force
      // cosine from doc 0's embedding; fusion = integer sum of
      // round(1e9/(60+rank)) per run — order-free, exact on both engines
      """WITH qterms AS (
           SELECT DISTINCT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
           FROM documents WHERE doc_id = 0),
         corpus AS (SELECT doc_id, text FROM documents WHERE doc_id <> 0),
         dl AS (
           SELECT doc_id, CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS dl
           FROM corpus),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
         toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
           FROM corpus),
         tf AS (
           SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
           WHERE term IN (SELECT term FROM qterms) GROUP BY 1, 2),
         dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         sparse AS (
           SELECT t.doc_id,
                  CAST(sum(CAST(round(
                    1000000.0 * ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                      * ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl)))
                  ) AS BIGINT)) AS BIGINT) AS score_micro
           FROM tf t JOIN dfreq f USING (term) JOIN dl d USING (doc_id) CROSS JOIN stats s
           GROUP BY 1),
         sparse_run AS (
           SELECT doc_id AS id,
                  CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
           FROM sparse ORDER BY score_micro DESC, doc_id LIMIT 20),
         dense_run AS (
           SELECT id, rank FROM (
             SELECT c.vec_id AS id,
                    CAST(row_number() OVER (
                      ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
                               c.vec_id) AS BIGINT) AS rank
             FROM embeddings c JOIN embeddings q ON q.vec_id = 0 AND c.vec_id <> 0)
           WHERE rank <= 20),
         contrib AS (
           SELECT id, CAST(round(1000000000.0 / (60 + rank)) AS BIGINT) AS c FROM sparse_run
           UNION ALL
           SELECT id, CAST(round(1000000000.0 / (60 + rank)) AS BIGINT) AS c FROM dense_run),
         fused AS (SELECT id, CAST(sum(c) AS BIGINT) AS rrf_nano FROM contrib GROUP BY 1)
         SELECT id AS doc_id, rrf_nano,
                CAST(row_number() OVER (ORDER BY rrf_nano DESC, id) AS BIGINT) AS rank
         FROM fused ORDER BY rrf_nano DESC, id LIMIT 10"""),
    // ---- curation report: per-cluster size + cosine tightness over the
    // same coarse cells (refine=0 → oracle-replayable, like the IVF row) -
    Query("q_cluster_stats", (s, dir) =>
      Ann.clusterStats(
        loader(s, dir)("embeddings"), "vec_id", "embedding",
        nlists = 16, refine = 0),
      // the IVF row's seeds/assignment CTEs, then per-cell count + min/max of
      // the per-row e4-rounded cosine to the assigned centroid (rounding
      // BEFORE min/max keeps the report order-free exact)
      """WITH seeds AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS centroid
           FROM (SELECT vec_id, embedding FROM embeddings
                 WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 16)),
         assigned AS (
           SELECT c.vec_id,
                  (SELECT s.cell FROM seeds s
                   ORDER BY list_cosine_similarity(c.embedding, s.centroid) DESC, s.cell
                   LIMIT 1) AS cell,
                  (SELECT CAST(round(10000 * list_cosine_similarity(c.embedding, s.centroid)) AS BIGINT)
                   FROM seeds s
                   ORDER BY list_cosine_similarity(c.embedding, s.centroid) DESC, s.cell
                   LIMIT 1) AS cos_e4
           FROM (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL) c)
         SELECT cell, CAST(count(*) AS BIGINT) AS n,
                min(cos_e4) AS min_cos_e4, max(cos_e4) AS max_cos_e4
         FROM assigned GROUP BY cell"""),
    // ---- similarity search: brute-force top-k + IVF scale path -------------
    Query("q_ann_topk", (s, dir) => {
      val e = loader(s, dir)("embeddings")
      Ann.bruteForceTopK(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", 10)
    },
      """WITH scored AS (
           SELECT q.vec_id AS qid, c.vec_id AS neighbor_id,
                  list_cosine_similarity(c.embedding, q.embedding) AS cos
           FROM embeddings c
           JOIN embeddings q ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
         ranked AS (
           SELECT qid, neighbor_id, cos,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT qid, neighbor_id,
                CAST(round(10000 * cos) AS BIGINT) AS cosine_e4,
                CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10"""),
    // int8-quantized ANN: codes are 4× smaller than float32 through every
    // scan/shuffle, and cosine over codes equals cosine over dequantized
    // vectors (per-vector scale cancels) — the ranking runs directly on the
    // tinyint arrays through the same native codegen cosine. Code dot
    // products are exact integers (≤ 64·127² ≪ 2^53), so DuckDB replays the
    // quantization + ranking bit-for-bit.
    Query("q_ann_quantized", (s, dir) => {
      import graft.functions.{VectorFunctions => VF}
      val codes = loader(s, dir)("embeddings")
        .select(col("vec_id"), VF.quantizeInt8(col("embedding")).getField("q").as("embedding"))
      Ann.bruteForceTopK(
        codes, codes.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", 10)
    },
      // replays the symmetric int8 quantization (scale = max|v|/127,
      // q = round(v/scale)) then ranks on code cosine. Code dots/norms are
      // exact integers in double, and both engines' round() is
      // half-away-from-zero over identical doubles, so the replay is exact.
      """WITH s AS (
           SELECT vec_id, embedding,
                  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
           FROM embeddings),
         q8 AS (
           SELECT vec_id,
                  CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0.0)
                       ELSE list_transform(embedding, x -> round(CAST(x AS DOUBLE) / scale)) END AS q
           FROM s),
         scored AS (
           SELECT b.vec_id AS qid, a.vec_id AS neighbor_id,
                  list_cosine_similarity(a.q, b.q) AS cos
           FROM q8 a JOIN q8 b ON b.vec_id < 5 AND a.vec_id <> b.vec_id),
         ranked AS (
           SELECT qid, neighbor_id, cos,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT qid, neighbor_id,
                CAST(round(10000 * cos) AS BIGINT) AS cosine_e4,
                CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10"""),
    // binary (sign-bit) quantization + Hamming candidate scan + exact
    // cosine rerank: the third quantization tier after float32 and int8
    // (the two rows above) — the candidate scan reads 8 bytes/vector
    // at dim 64 and runs pure integer xor+popcount codegen; true vectors
    // are read for the 4k survivors only. Hamming is an exact integer and
    // both stages tie-break by id, so DuckDB replays the funnel exactly.
    Query("q_ann_binary", (s, dir) => {
      val e = loader(s, dir)("embeddings")
      Ann.binaryTopK(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", 10,
        dim = 64)
    },
      // replays the two-stage binary funnel: Hamming = count of positions
      // whose sign bits disagree (exact integer — identical to Spark's
      // popcount over packed words), candidates = top 40 per query by
      // (hamming, neighbor_id), then exact cosine rerank on candidates only
      """WITH c AS (SELECT vec_id, embedding FROM embeddings
                    WHERE embedding IS NOT NULL),
         ham AS (
           SELECT q.vec_id AS qid, a.vec_id AS neighbor_id,
                  len(list_filter(range(1, 65),
                      i -> (a.embedding[i] >= 0) <> (q.embedding[i] >= 0))) AS ham
           FROM c a JOIN c q ON q.vec_id < 5 AND a.vec_id <> q.vec_id),
         cand AS (
           SELECT qid, neighbor_id,
                  row_number() OVER (PARTITION BY qid ORDER BY ham, neighbor_id) AS arank
           FROM ham),
         rer AS (
           SELECT cand.qid, cand.neighbor_id,
                  list_cosine_similarity(a.embedding, q.embedding) AS cos
           FROM cand
           JOIN c a ON a.vec_id = cand.neighbor_id
           JOIN c q ON q.vec_id = cand.qid
           WHERE cand.arank <= 40),
         ranked AS (
           SELECT qid, neighbor_id, cos,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           FROM rer)
         SELECT qid, neighbor_id,
                CAST(round(10000 * cos) AS BIGINT) AS cosine_e4,
                CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10"""),
    // Matryoshka prefix ANN (Kusupati et al. 2022): candidates ranked by
    // cosine over the leading 16 of 64 dims (4× narrower scan), exact
    // full-dim rerank on the 4k survivors only
    Query("q_ann_matryoshka", (s, dir) => {
      val e = loader(s, dir)("embeddings")
      Ann.matryoshkaTopK(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", 10,
        prefixDim = 16)
    },
      // replays the prefix funnel: candidates by cosine over the leading 16
      // components (same index-order double accumulation as the engine's
      // native cosine — the established brute-force equivalence), then exact
      // full-dim rerank on the 40 survivors per query
      """WITH c AS (SELECT vec_id, embedding FROM embeddings
                    WHERE embedding IS NOT NULL),
         pref AS (
           SELECT q.vec_id AS qid, a.vec_id AS neighbor_id,
                  list_cosine_similarity(list_slice(a.embedding, 1, 16),
                                         list_slice(q.embedding, 1, 16)) AS pcos
           FROM c a JOIN c q ON q.vec_id < 5 AND a.vec_id <> q.vec_id),
         cand AS (
           SELECT qid, neighbor_id,
                  row_number() OVER (PARTITION BY qid ORDER BY pcos DESC, neighbor_id) AS arank
           FROM pref),
         rer AS (
           SELECT cand.qid, cand.neighbor_id,
                  list_cosine_similarity(a.embedding, q.embedding) AS cos
           FROM cand
           JOIN c a ON a.vec_id = cand.neighbor_id
           JOIN c q ON q.vec_id = cand.qid
           WHERE cand.arank <= 40),
         ranked AS (
           SELECT qid, neighbor_id, cos,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           FROM rer)
         SELECT qid, neighbor_id,
                CAST(round(10000 * cos) AS BIGINT) AS cosine_e4,
                CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10"""),
    // graded with refine=0: the coarse centroids are then exactly the first
    // nlists corpus vectors (data, not a trained model), so DuckDB rebuilds
    // the identical cell assignment, probe selection, and per-cell ranking —
    // the full IVF structure is hash-checked. Lloyd refinement (refine>=1,
    // the production default) stays covered by the IVF recall spec: its
    // centroid means are float reductions whose exact bits are
    // summation-order-dependent, which no external oracle can replay.
    Query("q_ann_ivf", (s, dir) => {
      val e = loader(s, dir)("embeddings")
      Ann.ivfTopK(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", 10,
        refine = 0)
    },
      // refine=0 ⇒ centroids are literally the first nlists corpus vectors
      // (ordered by vec_id); assignment = argmax cosine with ties to the
      // smallest cell (Ann.nearestCell), probes = top-4 cells per query with
      // the same tie order (Ann.topCells), then exact per-cell ranking
      """WITH seeds AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS centroid
           FROM (SELECT vec_id, embedding FROM embeddings
                 WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 16)),
         corpus AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                    WHERE embedding IS NOT NULL),
         assigned AS (
           SELECT cid, cv,
                  (SELECT s.cell FROM seeds s
                   ORDER BY list_cosine_similarity(c.cv, s.centroid) DESC, s.cell
                   LIMIT 1) AS cell
           FROM corpus c),
         probes AS (
           SELECT q.vec_id AS qid, q.embedding AS qv, s.cell
           FROM embeddings q,
                LATERAL (SELECT cell FROM seeds s
                         ORDER BY list_cosine_similarity(q.embedding, s.centroid) DESC, s.cell
                         LIMIT 4) s
           WHERE q.vec_id < 5 AND q.embedding IS NOT NULL),
         scored AS (
           SELECT p.qid, a.cid AS neighbor_id, list_cosine_similarity(a.cv, p.qv) AS cos
           FROM assigned a JOIN probes p ON a.cell = p.cell AND a.cid <> p.qid),
         ranked AS (
           SELECT qid, neighbor_id, cos,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT qid, neighbor_id,
                CAST(round(10000 * cos) AS BIGINT) AS cosine_e4,
                CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10"""),
    // product quantization at refine=0: codebooks are subspace slices of the
    // first 16 corpus vectors, so the oracle rebuilds codes + reconstruction
    Query("q_ann_pq", (s, dir) => {
      val e = loader(s, dir)("embeddings")
      Ann.pqTopKEndToEnd(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", 10)
    },
      // refine=0 ⇒ codebook j = slice j of the first 16 corpus vectors;
      // code = argmin subspace L2 (ties → smallest code, Ann.nearestCodeL2);
      // ranking = cosine against the concatenated reconstruction
      """WITH seeds AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding AS sv
           FROM (SELECT vec_id, embedding FROM embeddings
                 WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 16)),
         corpus AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                    WHERE embedding IS NOT NULL),
         sub AS (SELECT cid, cv, j FROM corpus, generate_series(0, 7) AS gs(j)),
         codes AS (
           SELECT s.cid, s.j,
                  (SELECT d.c FROM seeds d
                   -- squared L2, not list_distance: sqrt can round two
                   -- distinct squared distances to the same double and fall
                   -- to the code tie-break where the engine (which argmins
                   -- on the exact squared sum, Ann.nearestCodeL2) does not
                   ORDER BY list_sum(list_transform(
                              list_zip(s.cv[s.j*8 + 1 : s.j*8 + 8], d.sv[s.j*8 + 1 : s.j*8 + 8]),
                              x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                                 * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), d.c
                   LIMIT 1) AS code
           FROM sub s),
         recon AS (
           SELECT c.cid, flatten(list(d.sv[c.j*8 + 1 : c.j*8 + 8] ORDER BY c.j)) AS rv
           FROM codes c JOIN seeds d ON d.c = c.code
           GROUP BY c.cid),
         scored AS (
           SELECT q.vec_id AS qid, r.cid AS neighbor_id,
                  list_cosine_similarity(r.rv, q.embedding) AS cos
           FROM recon r, embeddings q
           WHERE q.vec_id < 5 AND q.embedding IS NOT NULL AND r.cid <> q.vec_id),
         ranked AS (
           SELECT qid, neighbor_id, cos,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT qid, neighbor_id,
                CAST(round(10000 * cos) AS BIGINT) AS cosine_e4,
                CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10"""),
    // IVF-PQ composition: cells prune the scan, codes compress it
    Query("q_ann_ivfpq", (s, dir) => {
      val e = loader(s, dir)("embeddings")
      Ann.ivfPqTopK(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", 10)
    },
      // refine=0 twice over: IVF cells AND PQ codebooks both derive from the
      // first 16 corpus vectors; candidates from the probed cells are ranked
      // by cosine against the PQ reconstruction
      """WITH seeds AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding AS sv
           FROM (SELECT vec_id, embedding FROM embeddings
                 WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 16)),
         corpus AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                    WHERE embedding IS NOT NULL),
         assigned AS (
           SELECT a.cid, a.cv,
                  (SELECT s.c FROM seeds s
                   ORDER BY list_cosine_similarity(a.cv, s.sv) DESC, s.c
                   LIMIT 1) AS cell
           FROM corpus a),
         sub AS (SELECT cid, cv, j FROM corpus, generate_series(0, 7) AS gs(j)),
         codes AS (
           SELECT s.cid, s.j,
                  (SELECT d.c FROM seeds d
                   -- squared L2, not list_distance: sqrt can round two
                   -- distinct squared distances to the same double and fall
                   -- to the code tie-break where the engine (which argmins
                   -- on the exact squared sum, Ann.nearestCodeL2) does not
                   ORDER BY list_sum(list_transform(
                              list_zip(s.cv[s.j*8 + 1 : s.j*8 + 8], d.sv[s.j*8 + 1 : s.j*8 + 8]),
                              x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                                 * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), d.c
                   LIMIT 1) AS code
           FROM sub s),
         recon AS (
           SELECT c.cid, flatten(list(d.sv[c.j*8 + 1 : c.j*8 + 8] ORDER BY c.j)) AS rv
           FROM codes c JOIN seeds d ON d.c = c.code
           GROUP BY c.cid),
         probes AS (
           SELECT q.vec_id AS qid, q.embedding AS qv, s.c AS cell
           FROM embeddings q,
                LATERAL (SELECT c FROM seeds s
                         ORDER BY list_cosine_similarity(q.embedding, s.sv) DESC, s.c
                         LIMIT 4) s
           WHERE q.vec_id < 5 AND q.embedding IS NOT NULL),
         scored AS (
           SELECT p.qid, a.cid AS neighbor_id,
                  list_cosine_similarity(r.rv, p.qv) AS cos
           FROM assigned a
           JOIN probes p ON a.cell = p.cell AND a.cid <> p.qid
           JOIN recon r ON r.cid = a.cid),
         ranked AS (
           SELECT qid, neighbor_id, cos,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT qid, neighbor_id,
                CAST(round(10000 * cos) AS BIGINT) AS cosine_e4,
                CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10"""),
    // residual IVF-PQ (the full Jégou design): codes quantize v − centroid,
    // reconstruction adds the centroid back — finer at equal budget
    Query("q_ann_ivfpq_residual", (s, dir) => {
      val e = loader(s, dir)("embeddings")
      Ann.ivfPqResidualTopK(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", 10)
    },
      // like the IVF-PQ row, but the PQ codebooks are RESIDUAL seeds (seed
      // vector minus its nearest cell centroid) applied via the shift
      // identity the engine uses: ||(v-c)-b||^2 = ||v-(c+b)||^2, so codes
      // argmin subspace squared-L2 between the RAW vector and the
      // cell-shifted codebook (centroid + residual seed), and the
      // reconstruction IS the selected shifted entry. All shift arithmetic
      // is in DOUBLE on both engines (float→double is exact).
      """WITH seeds AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding AS sv
           FROM (SELECT vec_id, embedding FROM embeddings
                 WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 16)),
         corpus AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                    WHERE embedding IS NOT NULL),
         residseeds AS (
           SELECT p.c,
                  list_transform(list_zip(p.sv, cs.csv),
                                 x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS sv
           FROM seeds p,
                LATERAL (SELECT s2.sv AS csv FROM seeds s2
                         ORDER BY list_cosine_similarity(p.sv, s2.sv) DESC, s2.c
                         LIMIT 1) cs),
         shifted AS (
           SELECT s.c AS cell, r.c AS code,
                  list_transform(list_zip(s.sv, r.sv),
                                 x -> CAST(x[1] AS DOUBLE) + x[2]) AS sv
           FROM seeds s CROSS JOIN residseeds r),
         assigned AS (
           SELECT a.cid, a.cv,
                  (SELECT s.c FROM seeds s
                   ORDER BY list_cosine_similarity(a.cv, s.sv) DESC, s.c
                   LIMIT 1) AS cell
           FROM corpus a),
         sub AS (SELECT cid, cv, cell, j FROM assigned, generate_series(0, 7) AS gs(j)),
         codes AS (
           SELECT s.cid, s.cell, s.j,
                  (SELECT d.code FROM shifted d WHERE d.cell = s.cell
                   -- squared L2 on doubles, mirroring Ann.nearestCodeL2
                   ORDER BY list_sum(list_transform(
                              list_zip(s.cv[s.j*8 + 1 : s.j*8 + 8], d.sv[s.j*8 + 1 : s.j*8 + 8]),
                              x -> (CAST(x[1] AS DOUBLE) - x[2])
                                 * (CAST(x[1] AS DOUBLE) - x[2]))), d.code
                   LIMIT 1) AS code
           FROM sub s),
         recon AS (
           SELECT c.cid, c.cell,
                  flatten(list(d.sv[c.j*8 + 1 : c.j*8 + 8] ORDER BY c.j)) AS rv
           FROM codes c JOIN shifted d ON d.cell = c.cell AND d.code = c.code
           GROUP BY c.cid, c.cell),
         probes AS (
           SELECT q.vec_id AS qid, q.embedding AS qv, s.c AS cell
           FROM embeddings q,
                LATERAL (SELECT c FROM seeds s
                         ORDER BY list_cosine_similarity(q.embedding, s.sv) DESC, s.c
                         LIMIT 4) s
           WHERE q.vec_id < 5 AND q.embedding IS NOT NULL),
         scored AS (
           SELECT p.qid, r.cid AS neighbor_id,
                  list_cosine_similarity(r.rv, p.qv) AS cos
           FROM recon r JOIN probes p ON r.cell = p.cell AND r.cid <> p.qid),
         ranked AS (
           SELECT qid, neighbor_id, cos,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT qid, neighbor_id,
                CAST(round(10000 * cos) AS BIGINT) AS cosine_e4,
                CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10"""),
    // two-stage PQ: approximate candidates from codes, exact rerank on the
    // candidate set only (true-vector reads are candidate-bounded)
    Query("q_ann_pq_rerank", (s, dir) => {
      val e = loader(s, dir)("embeddings")
      val books = Ann.pqTrain(e, "vec_id", "embedding")
      Ann.pqTopKRefined(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", 10, books)
    },
      // stage 1 = the PQ row's ranking kept to 4k candidates per query;
      // stage 2 = exact cosine on candidates' true vectors only
      """WITH seeds AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding AS sv
           FROM (SELECT vec_id, embedding FROM embeddings
                 WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 16)),
         corpus AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                    WHERE embedding IS NOT NULL),
         sub AS (SELECT cid, cv, j FROM corpus, generate_series(0, 7) AS gs(j)),
         codes AS (
           SELECT s.cid, s.j,
                  (SELECT d.c FROM seeds d
                   -- squared L2, not list_distance: sqrt can round two
                   -- distinct squared distances to the same double and fall
                   -- to the code tie-break where the engine (which argmins
                   -- on the exact squared sum, Ann.nearestCodeL2) does not
                   ORDER BY list_sum(list_transform(
                              list_zip(s.cv[s.j*8 + 1 : s.j*8 + 8], d.sv[s.j*8 + 1 : s.j*8 + 8]),
                              x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                                 * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), d.c
                   LIMIT 1) AS code
           FROM sub s),
         recon AS (
           SELECT c.cid, flatten(list(d.sv[c.j*8 + 1 : c.j*8 + 8] ORDER BY c.j)) AS rv
           FROM codes c JOIN seeds d ON d.c = c.code
           GROUP BY c.cid),
         approx AS (
           SELECT q.vec_id AS qid, q.embedding AS qv, r.cid AS neighbor_id,
                  row_number() OVER (
                    PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(r.rv, q.embedding) DESC, r.cid) AS arank
           FROM recon r, embeddings q
           WHERE q.vec_id < 5 AND q.embedding IS NOT NULL AND r.cid <> q.vec_id),
         cand AS (SELECT qid, qv, neighbor_id FROM approx WHERE arank <= 40),
         exact AS (
           SELECT c.qid, c.neighbor_id,
                  list_cosine_similarity(v.cv, c.qv) AS cos
           FROM cand c JOIN corpus v ON v.cid = c.neighbor_id),
         ranked AS (
           SELECT qid, neighbor_id, cos,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           FROM exact)
         SELECT qid, neighbor_id,
                CAST(round(10000 * cos) AS BIGINT) AS cosine_e4,
                CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10"""),
    // the zero-training LSH-bucketed ANN variant (plan-time hyperplane
    // literals, so the oracle rebuilds the buckets exactly)
    Query("q_ann_lsh", (s, dir) => {
      val e = loader(s, dir)("embeddings")
      Ann.lshTopK(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", 10)
    }, {
      // the 6 hyperplanes are plan-time literals (VectorFunctions.plane, 3
      // exact decimals), so the oracle rebuilds the same bucket per vector:
      // sign bit per plane packed into an integer — the embedding-LSH dedup
      // idiom, reused for the search-side bucketing
      def bucket(vecCol: String): String = lshBucketSql(vecCol, dim = 64)
      // multi-probe (Hamming-1, the lshTopK default): each query probes its
      // own bucket plus the 6 single-bit-flipped neighbors — the same
      // XOR-literal expansion as Ann.lshTopK. Corpus vectors live in exactly
      // one bucket and the 7 probe keys per query are distinct, so the join
      // still produces no duplicate (qid, neighbor) pair.
      val probeList = lshProbeKeysSql
      s"""WITH corpus AS (
           SELECT vec_id AS neighbor_id, embedding AS v, ${bucket("embedding")} AS bucket
           FROM embeddings),
         qbase AS (
           SELECT vec_id AS qid, embedding AS qv, ${bucket("embedding")} AS bucket
           FROM embeddings WHERE vec_id < 5),
         q AS (
           SELECT qid, qv, unnest($probeList) AS bucket FROM qbase),
         scored AS (
           SELECT q.qid, c.neighbor_id, list_cosine_similarity(c.v, q.qv) AS cos
           FROM corpus c JOIN q ON c.bucket = q.bucket AND c.neighbor_id <> q.qid),
         ranked AS (
           SELECT qid, neighbor_id, cos,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT qid, neighbor_id,
                CAST(round(10000 * cos) AS BIGINT) AS cosine_e4,
                CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10"""
    }),
    // ---- multimodal: mixed REAL-bytes corpus, kind-dispatched decode -------
    // each doc_id carries ONE real container (PNG / WAV / animated GIF by
    // id % 3) and a single pass routes every row to its kind's JDK codec —
    // the oracle replays each kind's exact integer feature arithmetically
    // (pixel sum / PCM sum of squares / summed sampled-frame means), so the
    // mixed-modality dispatch AND all three codec round trips are graded at
    // corpus scale in one gate
    Query("q_multimodal", (s, dir) =>
      Multimodal
        .mixedFeatures(
          Multimodal.mixedMediaCorpus(loader(s, dir)("documents").select(col("doc_id")), "doc_id"))
        .toDF()
        .select(col("id").as("doc_id"), col("kind"), col("ok"), col("units"), col("feature")),
      // replay each kind's exact integer feature from its generation formula:
      // image (16x16 RGB pixel sum), audio (400-sample PCM sum of squares),
      // video (summed half-up micro means of sampled frames 0,3,6,9 on 8x8)
      """WITH img AS (
           SELECT d.doc_id,
                  CAST(sum((x.x*7 + y.y*13 + d.doc_id*29) % 256
                         + (x.x*3 + y.y*5 + d.doc_id*11) % 256
                         + (x.x*11 + y.y*2 + d.doc_id*7) % 256) AS BIGINT) AS feature
           FROM documents d, generate_series(0, 15) x(x), generate_series(0, 15) y(y)
           WHERE d.doc_id % 3 = 0 GROUP BY 1),
         aud AS (
           SELECT doc_id, CAST(sum(v*v) AS BIGINT) AS feature FROM (
             SELECT d.doc_id, ((g.i*7919 + d.doc_id*104729) % 65536) - 32768 AS v
             FROM documents d, generate_series(0, 399) g(i)
             WHERE d.doc_id % 3 = 1) s GROUP BY 1),
         vid AS (
           SELECT doc_id, CAST(sum((1000000*sm + 32) // 64) AS BIGINT) AS feature FROM (
             SELECT d.doc_id, f.f,
                    sum((x.x*7 + y.y*13 + f.f*31 + d.doc_id*29) % 256) AS sm
             FROM documents d,
                  (SELECT j.j * 3 AS f FROM generate_series(0, 3) j(j)) f,
                  generate_series(0, 7) x(x), generate_series(0, 7) y(y)
             WHERE d.doc_id % 3 = 2 GROUP BY 1, 2) s GROUP BY 1)
         SELECT doc_id, 'image' AS kind, TRUE AS ok, CAST(256 AS BIGINT) AS units, feature FROM img
         UNION ALL
         SELECT doc_id, 'audio', TRUE, CAST(400 AS BIGINT), feature FROM aud
         UNION ALL
         SELECT doc_id, 'video', TRUE, CAST(4 AS BIGINT), feature FROM vid"""),
    // ---- image → grid embedding → persisted ANN index → probe --------------
    // the full multimodal-retrieval composition under one hash: synthetic
    // PNGs at corpus scale through the real codec, 4x4 integer grid
    // signatures as embeddings, LSH-bucketed persisted index, Hamming-1
    // probe. The oracle replays the signature arithmetic AND the bucket
    // assignment AND the exact cosine ranks externally.
    Query("q_image_ann", (s, dir) => {
      val sigs = Multimodal
        .imageGridSignatures(
          Multimodal.syntheticImages(loader(s, dir)("documents").select(col("doc_id")), "doc_id"),
          grid = 4)
        .select(col("id"), col("sig").cast("array<double>").as("embedding"))
      val idx = graft.util.TempDirs.scratch("image-ann-index").toString
      Ann.writeLshIndex(sigs, idx, "id", "embedding", planes = 6, dim = 16)
      Ann.lshTopKIndexed(idx, sigs.filter(col("id") < 5), "id", "embedding", 10,
        planes = 6, dim = 16)
    }, {
      // replay signatures (the image pipeline's arithmetic) → LSH buckets (plane
      // literals at dim 16) → Hamming-1 probe → exact cosine ranks: the whole
      // image-ANN composition is externally rebuilt
      def bucket(vecCol: String): String = lshBucketSql(vecCol, dim = 16)
      val probeList = lshProbeKeysSql
      s"""WITH cell AS (
           SELECT i.i, j.j, dx.dx, dy.dy
           FROM generate_series(0,3) i(i), generate_series(0,3) j(j),
                generate_series(0,3) dx(dx), generate_series(0,3) dy(dy)),
         px AS (
           SELECT d.doc_id, c.i, c.j, (c.j*4 + c.dx) AS x, (c.i*4 + c.dy) AS y
           FROM documents d, cell c),
         s AS (
           SELECT doc_id, i, j,
                  sum((x*7 + y*13 + doc_id*29) % 256
                      + (x*3 + y*5 + doc_id*11) % 256
                      + (x*11 + y*2 + doc_id*7) % 256) AS sm
           FROM px GROUP BY 1, 2, 3),
         sigs AS (
           SELECT doc_id,
                  list(CAST((1000000*sm + 24) // 48 AS DOUBLE) ORDER BY i, j) AS v
           FROM s GROUP BY doc_id),
         corpus AS (
           SELECT doc_id AS neighbor_id, v, ${bucket("v")} AS bucket FROM sigs),
         qbase AS (
           SELECT doc_id AS qid, v AS qv, ${bucket("v")} AS bucket FROM sigs WHERE doc_id < 5),
         qp AS (SELECT qid, qv, unnest($probeList) AS bucket FROM qbase),
         scored AS (
           SELECT qp.qid, c.neighbor_id, list_cosine_similarity(c.v, qp.qv) AS cos
           FROM corpus c JOIN qp ON c.bucket = qp.bucket AND c.neighbor_id <> qp.qid),
         ranked AS (
           SELECT qid, neighbor_id, cos,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT qid, neighbor_id,
                CAST(round(10000 * cos) AS BIGINT) AS cosine_e4,
                CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10"""
    }),
    // REAL image decode (javax.imageio) over the committed fixture images +
    // one corrupt row: dimensions/bands/pixel-sums graded against the
    // fixtures' generation-time ground truth (the oracle is a VALUES table
    // of known constants, not a re-run of the decoder). Sentinel -1 /
    // 'undecodable' instead of NULL keeps the comparison representation-
    // stable across engines.
    Query("q_image_decode", (s, dir) => {
      import s.implicits._
      val corrupt = Seq((99L, "corrupt.bin", "not an image at all".getBytes("UTF-8")))
        .toDF("id", "name", "content")
      Multimodal
        .decodeImages(Multimodal.fixtureImages(s).unionByName(corrupt))
        .toDF()
        .select(
          col("id"),
          col("ok"),
          coalesce(col("format"), lit("undecodable")).as("format"),
          coalesce(col("width").cast("long"), lit(-1L)).as("width"),
          coalesce(col("height").cast("long"), lit(-1L)).as("height"),
          coalesce(col("bands").cast("long"), lit(-1L)).as("bands"),
          coalesce(col("pixel_sum"), lit(-1L)).as("pixel_sum")
        )
    },
      // fixture ground truth: the images were generated with pixel (x,y) =
      // ((x*7+y*13+k*29)%256, (x*3+y*5+k*11)%256, (x*11+y*2+k*7)%256) for
      // image k, so width/height/pixel-sum are known constants; the JPEG's
      // lossy pixel sum is unpublished (-1), the corrupt row decodes to ok=false
      """SELECT * FROM (VALUES
           (CAST(0 AS BIGINT), TRUE,  'png',         CAST(7  AS BIGINT), CAST(5  AS BIGINT), CAST(3  AS BIGINT), CAST(3605  AS BIGINT)),
           (CAST(1 AS BIGINT), TRUE,  'png',         CAST(16 AS BIGINT), CAST(16 AS BIGINT), CAST(3  AS BIGINT), CAST(81024 AS BIGINT)),
           (CAST(2 AS BIGINT), TRUE,  'png',         CAST(3  AS BIGINT), CAST(9  AS BIGINT), CAST(3  AS BIGINT), CAST(5265  AS BIGINT)),
           (CAST(3 AS BIGINT), TRUE,  'png',         CAST(32 AS BIGINT), CAST(8  AS BIGINT), CAST(3  AS BIGINT), CAST(86912 AS BIGINT)),
           (CAST(4 AS BIGINT), TRUE,  'jpeg',        CAST(24 AS BIGINT), CAST(10 AS BIGINT), CAST(3  AS BIGINT), CAST(-1    AS BIGINT)),
           (CAST(99 AS BIGINT), FALSE, 'undecodable', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1    AS BIGINT))
         ) AS t(id, ok, format, width, height, bands, pixel_sum)"""),
    // REAL image embedding: 4x4 grid-pooled intensity signature in exact
    // integer micro-units over the PNG fixtures (lossless ⇒ the expected
    // vectors are constants derivable from the fixture pixel formula —
    // FIXTURES.md §C); the JPEG is excluded (lossy pixels are decoder-
    // version facts, not portable ground truth)
    Query("q_image_embed", (s, dir) =>
      Multimodal
        .imageGridSignatures(
          Multimodal.fixtureImages(s).filter(col("name").endsWith(".png")), grid = 4)
        .select(col("id"), concat_ws(",", col("sig")).as("sig")),
      // expected 4x4 signatures computed from the fixture pixel formula with
      // the same integer half-up pooling ((1e6*sum + n/2) / n per block)
      """SELECT * FROM (VALUES
           (CAST(0 AS BIGINT), '0,10500000,24500000,38500000,6666667,17166667,31166667,45166667,13333333,23833333,37833333,51833333,23333333,33833333,47833333,61833333'),
           (CAST(1 AS BIGINT), '36166667,64166667,92166667,120166667,62833333,90833333,118833333,146833333,89500000,117500000,145500000,141500000,116166667,122833333,108166667,114833333'),
           (CAST(2 AS BIGINT), '0,34666667,41666667,48666667,0,48000000,55000000,62000000,0,61333333,68333333,75333333,0,78000000,85000000,92000000'),
           (CAST(3 AS BIGINT), '74833333,130833333,160166667,77500000,88166667,144166667,125500000,85500000,101500000,152166667,101500000,98833333,114833333,133500000,109500000,112166667')
         ) AS t(id, sig)"""),
    // image pipeline at CORPUS scale: one real 16x16 PNG per document row,
    // generated distributed, pushed through the real codec (encode → decode
    // → 4x4 grid pooling). The oracle replays the expected signatures as
    // pure integer arithmetic from the pixel formula — so the whole
    // ImageIO round trip is externally graded at data size, not just on
    // five fixtures
    Query("q_image_pipeline", (s, dir) =>
      Multimodal
        .imageGridSignatures(
          Multimodal.syntheticImages(loader(s, dir)("documents").select(col("doc_id")), "doc_id"),
          grid = 4)
        .select(col("id").as("doc_id"), concat_ws(",", col("sig")).as("sig")),
      // replay the synthetic-image signatures arithmetically: 16x16 image for
      // key k has pixel (x,y) = ((x*7+y*13+k*29)%256, (x*3+y*5+k*11)%256,
      // (x*11+y*2+k*7)%256); cell (i,j) pools the 4x4 block at (j*4, i*4)
      // with integer half-up micro-rounding — PNG is lossless, so the codec
      // round trip must reproduce these exactly
      """WITH cell AS (
           SELECT i.i, j.j, dx.dx, dy.dy
           FROM generate_series(0,3) i(i), generate_series(0,3) j(j),
                generate_series(0,3) dx(dx), generate_series(0,3) dy(dy)),
         px AS (
           SELECT d.doc_id, c.i, c.j, (c.j*4 + c.dx) AS x, (c.i*4 + c.dy) AS y
           FROM documents d, cell c),
         s AS (
           SELECT doc_id, i, j,
                  sum((x*7 + y*13 + doc_id*29) % 256
                      + (x*3 + y*5 + doc_id*11) % 256
                      + (x*11 + y*2 + doc_id*7) % 256) AS sm
           FROM px GROUP BY 1, 2, 3)
         SELECT doc_id,
                string_agg(CAST((1000000*sm + 24) // 48 AS VARCHAR), ',' ORDER BY i, j) AS sig
         FROM s GROUP BY doc_id"""),
    // audio pipeline at CORPUS scale (the audio twin of the image pipeline):
    // one real 16-bit PCM WAV per document row through the JDK's
    // javax.sound codec — encode → decode → exact integer features; the
    // oracle replays sum-of-squares/peak arithmetically from the sample
    // formula, so the WAV round trip is externally graded at data size
    Query("q_audio_pipeline", (s, dir) =>
      graft.multimodal.Audio
        .audioFeatures(graft.multimodal.Audio.syntheticAudio(
          loader(s, dir)("documents").select(col("doc_id")), "doc_id"))
        .toDF()
        .select(
          col("id").as("doc_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("n_frames"),
          col("sum_squares"),
          col("peak_abs").cast("long").as("peak_abs")
        ),
      // replay the synthetic-audio features arithmetically: clip k's sample i
      // is ((i*7919 + k*104729) mod 65536) - 32768 — WAV PCM is lossless, so
      // the codec round trip must reproduce these exactly
      """WITH s AS (
           SELECT d.doc_id, ((g.i*7919 + d.doc_id*104729) % 65536) - 32768 AS v
           FROM documents d, generate_series(0, 399) g(i))
         SELECT doc_id,
                CAST(8000 AS BIGINT) AS sample_rate,
                CAST(1 AS BIGINT) AS channels,
                CAST(400 AS BIGINT) AS n_frames,
                CAST(sum(v*v) AS BIGINT) AS sum_squares,
                CAST(max(abs(v)) AS BIGINT) AS peak_abs
         FROM s GROUP BY doc_id"""),
    // frame sampling at CORPUS scale (the video-shaped leg): one real
    // 12-frame animated GIF per document row through the JDK codec —
    // container open → frame count → 4 evenly-spaced frame decodes →
    // per-frame mean; grayscale palette frames round-trip exactly, so the
    // oracle replays the sampled means arithmetically
    Query("q_video_pipeline", (s, dir) =>
      graft.multimodal.Video
        .sampleFrameMeans(graft.multimodal.Video.syntheticClips(
          loader(s, dir)("documents").select(col("doc_id")), "doc_id"), n = 4)
        .toDF()
        .select(col("id").as("doc_id"), col("frame_idx"), col("mean_micro")),
      // replay the sampled-frame means: clip k frame f has gray(x,y) =
      // (x*7 + y*13 + f*31 + k*29) mod 256 on an 8x8 frame; 4 samples from
      // 12 frames land on f = 0,3,6,9; mean in half-up integer micro-units
      """WITH f AS (SELECT j.j * 3 AS f FROM generate_series(0, 3) j(j)),
         px AS (
           SELECT d.doc_id, f.f, x.x, y.y
           FROM documents d, f, generate_series(0, 7) x(x), generate_series(0, 7) y(y)),
         s AS (
           SELECT doc_id, f, sum((x*7 + y*13 + f*31 + doc_id*29) % 256) AS sm
           FROM px GROUP BY 1, 2)
         SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
                CAST((1000000*sm + 32) // 64 AS BIGINT) AS mean_micro
         FROM s""")
  )
}
