package graft
package registry

import graft.Query.{assembled, loader}
import graft.ann.Ann
import graft.assemble.DocAssembler
import graft.catalog.Catalog
import graft.cdc.{IncrementalEngine, Lineage}
import graft.schema.SchemaDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Registry queries over sync: document assembly, the CDC engine, the
  * snapshot → change → index lifecycle, and the composed SyncPipeline
  * fan-out.
  */
private[graft] object SyncQueries {

  /** One composed-pipeline scenario over the `media` join
    * ([[ComposedFixture.media]]): a GraftSync doc index plus its
    * SyncPipeline consumers, all under one fresh scratch root and seeded
    * from the pre-change corpus. `media(post)` reads the source table
    * before or after the change; `applyChange()` flips the source to its
    * post-change state and sends the one mixed DELETE/UPDATE/INSERT batch
    * through every consumer.
    */
  private final case class ComposedScenario(
      root: String,
      sync: GraftSync,
      media: Boolean => DataFrame,
      applyChange: () => Unit)

  /** Build (and seed) one composed scenario. `full = false` wires the BM25
    * and LSH consumers; `full = true` wires ALL SIX consumer surfaces from
    * one feed — the whole product fan-out (doc index via sync + these
    * five). PQ trains at refine=0 (seeds = first 16 pre-corpus vectors)
    * and the cluster consumer uses the portable md5 family at the
    * streaming-cluster row's model, so every surface stays
    * DuckDB-replayable end to end.
    */
  private def composedScenario(s: SparkSession, dir: String, full: Boolean): ComposedScenario = {
    import graft.streaming.SyncPipeline
    val base = loader(s, dir)
    def media(post: Boolean): DataFrame = ComposedFixture.media(base, post)
    @volatile var post = false
    val load: String => DataFrame = { case "media" => media(post); case t => base(t) }
    val cat = Catalog(Map("media" -> graft.catalog.TableMeta("media", Seq("doc_id"))))
    val root = graft.util.TempDirs.scratch("graft-composed").toString
    val sync = new GraftSync(
      s,
      SchemaDef.parse(
        """{"database":"graft","index":"media","nodes":{"table":"media","columns":["doc_id","text"]}}"""),
      cat, load, s"$root/docs")
    val lite = Seq(
      SyncPipeline.Bm25Consumer(s"$root/bm25", "text", buckets = 16),
      SyncPipeline.AnnLshConsumer(s"$root/ann", "embedding", planes = 6, dim = 64))
    val rest = Seq(
      SyncPipeline.AnnPqConsumer(s"$root/pq", "embedding", nlists = 16, m = 8, codeK = 16),
      SyncPipeline.DedupConsumer(s"$root/dedup", "text"),
      SyncPipeline.ClusterConsumer(
        s"$root/cluster", s"$root/sig", "text", portable = true,
        shingleN = 3, bands = 8, rowsPerBand = 2, threshold = 0.3, maxBucket = 1000,
        sigBuckets = 16, mapBuckets = 16))
    val pipeline = new SyncPipeline(
      sync, load, "media", "doc_id", if (full) lite ++ rest else lite, s"$root/ckpt")
    pipeline.seed()
    ComposedScenario(root, sync, media, () => {
      post = true
      pipeline.applyBatch(ComposedFixture.changeBatch(media(false)))
    })
  }

  /** The probe docs of the composed rows: post-change docs 0..2. */
  private def probeDocs(sc: ComposedScenario): DataFrame =
    sc.media(true).filter(col("doc_id") < 3)

  /** The doc, BM25 and LSH legs of a changed scenario: doc text lengths,
    * the BM25 top-k through the impact-capped sidecar — the production
    * probe (per-term volume bounded by cap × batches, never
    * corpus-proportional; the exact full-postings probe is graded by the
    * retrieval rows) — and the LSH top-k of the probe docs.
    */
  private def docBm25AnnLegs(sc: ComposedScenario): DataFrame = {
    val queries = probeDocs(sc)
    val docLeg = sc.sync.state.docs.select(
      lit("doc").as("surface"),
      col(DocAssembler.IdColumn).cast("long").as("k1"),
      lit(0L).as("k2"),
      length(get_json_object(col("doc"), "$.text")).cast("long").as("v"))
    val bm25Leg = graft.functions.Retrieval
      .bm25TopKIndexedPrunedBatch(
        s"${sc.root}/bm25",
        queries.select(col("doc_id").as("qid"), col("text").as("qtext")), "qid", "qtext", 10)
      .select(lit("bm25").as("surface"), col("qid").as("k1"), col("id").as("k2"),
        col("score_micro").as("v"))
    val annLeg = Ann
      .lshTopKIndexed(
        s"${sc.root}/ann",
        queries.select(col("doc_id").as("qid"), col("embedding")), "qid", "embedding", 10,
        planes = 6, dim = 64)
      .select(lit("ann").as("surface"), col("qid").as("k1"), col("neighbor_id").as("k2"),
        col("cosine_e4").as("v"))
    docLeg.unionByName(bm25Leg).unionByName(annLeg)
  }

  /** The composed oracles' BM25 leg: the impact-capped probe replayed under
    * MUTATIONS — exactly what [[graft.functions.Retrieval.bm25TopKIndexedPrunedBatch]]
    * computes over an index seeded from the PRE corpus and maintained
    * through the composed change batch (delete %10==7, update %10==8 =
    * tombstone + re-append with new text, insert +1e8 clones of %10==9).
    * Assumes CTEs `media` (the pre corpus), `post`, `q`, `qterms` are in
    * scope; ends at `bm_scored` so the caller's `bm_ranked` carries on.
    *
    *   - visible impact rows = the SEED's per-term top-cap (imp_micro
    *     frozen with the seed avgdl) minus the tombstoned ids (%10 in 7,8 —
    *     the delete-first protocol tombstones both), union the BATCH's
    *     per-term top-cap (imp_micro frozen with the post-append avgdl,
    *     which equals the exact post-corpus avgdl by the integer-stats
    *     maintenance), re-capped by (imp_micro DESC, id ASC);
    *   - df = seed termdf + the batch's df deltas, clamped to post n_docs —
    *     the documented stale-high drift of a corpus statistic under
    *     deletes (deleted docs stay counted until compaction);
    *   - scoring rescores kept (tf, dl) with CURRENT (post) stats.
    */
  private def composedBm25PrunedCtes: String = {
    val cap = graft.functions.Retrieval.ImpactCap
    s"""pre_dl AS (
           SELECT doc_id, CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS dl
           FROM media),
         pre_stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM pre_dl),
         pre_toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
           FROM media),
         pre_tf AS (
           SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM pre_toks
           WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY 1, 2),
         pre_df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM pre_tf GROUP BY 1),
         pre_imp AS (
           SELECT t.doc_id, t.term, t.tf, d.dl,
                  CAST(round(1000000.0 * (t.tf * 2.2)
                             / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / ps.avgdl))) AS BIGINT)
                    AS imp_micro
           FROM pre_tf t JOIN pre_dl d USING (doc_id) CROSS JOIN pre_stats ps),
         pre_kept AS (
           SELECT * FROM (
             SELECT *, row_number() OVER (PARTITION BY term ORDER BY imp_micro DESC, doc_id) AS rn
             FROM pre_imp)
           WHERE rn <= $cap),
         bm_bdocs AS (
           SELECT doc_id, 'updated ' || text AS text FROM media WHERE doc_id % 10 = 8
           UNION ALL
           SELECT doc_id + 100000000, 'clone ' || text FROM media WHERE doc_id % 10 = 9),
         b_dl AS (
           SELECT doc_id, CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS dl
           FROM bm_bdocs),
         dl AS (
           SELECT doc_id, CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS dl
           FROM post),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
         b_toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
           FROM bm_bdocs),
         b_tf AS (
           SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM b_toks
           WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY 1, 2),
         b_df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM b_tf GROUP BY 1),
         b_imp AS (
           SELECT t.doc_id, t.term, t.tf, d.dl,
                  CAST(round(1000000.0 * (t.tf * 2.2)
                             / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))) AS BIGINT)
                    AS imp_micro
           FROM b_tf t JOIN b_dl d USING (doc_id) CROSS JOIN stats s),
         b_kept AS (
           SELECT * FROM (
             SELECT *, row_number() OVER (PARTITION BY term ORDER BY imp_micro DESC, doc_id) AS rn
             FROM b_imp)
           WHERE rn <= $cap),
         bm_vis AS (
           SELECT doc_id, term, tf, dl, imp_micro FROM pre_kept WHERE doc_id % 10 NOT IN (7, 8)
           UNION ALL
           SELECT doc_id, term, tf, dl, imp_micro FROM b_kept),
         bm_recap AS (
           SELECT * FROM (
             SELECT v.*, row_number() OVER (PARTITION BY term ORDER BY imp_micro DESC, doc_id) AS rn2
             FROM bm_vis v)
           WHERE rn2 <= $cap),
         bm_tdf AS (
           SELECT term, CAST(least(sum(df), (SELECT n_docs FROM stats)) AS BIGINT) AS df
           FROM (SELECT term, df FROM pre_df UNION ALL SELECT term, df FROM b_df)
           GROUP BY term),
         bm_scored AS (
           SELECT qt.qid, t.doc_id AS id,
                  CAST(sum(CAST(round(
                    1000000.0 * ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                      * ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * t.dl / s.avgdl)))
                  ) AS BIGINT)) AS BIGINT) AS score_micro
           FROM bm_recap t JOIN bm_tdf f USING (term)
                CROSS JOIN stats s JOIN qterms qt ON qt.term = t.term
           GROUP BY 1, 2)"""
  }

  /** Ground truth for the child-change CDC batch — shared by the flat and
    * the key-partitioned layout rows: layout must never change answers, so
    * both rows grade against the identical SQL.
    */
  private val cdcChildOracle: String =
    """WITH affected AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_partkey % 50 = 0),
         li AS (
           SELECT l_orderkey,
                  list(json_object('l_linenumber', l_linenumber, 'l_quantity', l_quantity,
                                   'l_extendedprice', l_extendedprice, 'l_returnflag', l_returnflag)
                       ORDER BY l_linenumber, l_quantity, l_extendedprice, l_returnflag) AS items,
                  list(DISTINCT CAST(l_linenumber AS VARCHAR) ORDER BY CAST(l_linenumber AS VARCHAR)) AS lns
           FROM lineitem GROUP BY l_orderkey)
         SELECT 'index' AS op,
                CAST(o.o_orderkey AS VARCHAR) AS _id,
                CAST(json_object('o_orderkey', o.o_orderkey, 'o_custkey', o.o_custkey,
                            'o_orderstatus', o.o_orderstatus, 'o_totalprice', o.o_totalprice,
                            'lineitems', COALESCE(to_json(li.items), '[]'::JSON),
                            'customer', json_object('c_name', c.c_name, 'c_mktsegment', c.c_mktsegment),
                            '_meta', json_object('orders', json_object('o_orderkey', [CAST(o.o_orderkey AS VARCHAR)]),
                                                 'lineitem', json_object('l_orderkey', [CAST(o.o_orderkey AS VARCHAR)],
                                                                         'l_linenumber', li.lns),
                                                 'customer', json_object('c_custkey', [CAST(c.c_custkey AS VARCHAR)]))
                            ) AS VARCHAR) AS doc
         FROM affected a
         JOIN orders o ON o.o_orderkey = a.l_orderkey
         LEFT JOIN customer c ON o.o_custkey = c.c_custkey
         LEFT JOIN li ON li.l_orderkey = o.o_orderkey"""

  /** Ground truth for the hash-bucketed CDC row: the SAME recompute-and-diff as
    * [[cdcChildOracle]] over the text-RE-KEYED derivations of the base
    * tables ('ord-'/'cus-' prefixes) — hash-bucket layout + text keys must
    * never change answers, so the oracle rebuilds the docs from scratch in
    * the re-keyed domain.
    */
  private val cdcHashOracle: String =
    """WITH lineitem_t AS (
           SELECT 'ord-' || l_orderkey AS l_orderkey, l_linenumber, l_quantity,
                  l_extendedprice, l_returnflag, l_partkey
           FROM lineitem),
         orders_t AS (
           SELECT 'ord-' || o_orderkey AS o_orderkey, 'cus-' || o_custkey AS o_custkey,
                  o_orderstatus, o_totalprice
           FROM orders),
         customer_t AS (
           SELECT 'cus-' || c_custkey AS c_custkey, c_name, c_mktsegment
           FROM customer),
         affected AS (SELECT DISTINCT l_orderkey FROM lineitem_t WHERE l_partkey % 50 = 0),
         li AS (
           SELECT l_orderkey,
                  list(json_object('l_linenumber', l_linenumber, 'l_quantity', l_quantity,
                                   'l_extendedprice', l_extendedprice, 'l_returnflag', l_returnflag)
                       ORDER BY l_linenumber, l_quantity, l_extendedprice, l_returnflag) AS items,
                  list(DISTINCT CAST(l_linenumber AS VARCHAR) ORDER BY CAST(l_linenumber AS VARCHAR)) AS lns
           FROM lineitem_t GROUP BY l_orderkey)
         SELECT 'index' AS op,
                o.o_orderkey AS _id,
                CAST(json_object('o_orderkey', o.o_orderkey, 'o_custkey', o.o_custkey,
                            'o_orderstatus', o.o_orderstatus, 'o_totalprice', o.o_totalprice,
                            'lineitems', COALESCE(to_json(li.items), '[]'::JSON),
                            'customer', json_object('c_name', c.c_name, 'c_mktsegment', c.c_mktsegment),
                            '_meta', json_object('orders', json_object('o_orderkey', [o.o_orderkey]),
                                                 'lineitem', json_object('l_orderkey', [o.o_orderkey],
                                                                         'l_linenumber', li.lns),
                                                 'customer', json_object('c_custkey', [c.c_custkey]))
                            ) AS VARCHAR) AS doc
         FROM affected a
         JOIN orders_t o ON o.o_orderkey = a.l_orderkey
         LEFT JOIN customer_t c ON o.o_custkey = c.c_custkey
         LEFT JOIN li ON li.l_orderkey = o.o_orderkey"""

  val all: Seq[Query] = Seq(
    // ---- P1 projection + P5 range predicate --------------------------------
    Query("q_project", (s, dir) =>
      loader(s, dir)("lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag")),
      "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem"),
    Query("q_range", (s, dir) =>
      loader(s, dir)("events")
        .filter(col("value").between(50.0, 150.0) && col("ts") >= lit("2024-01-20"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value")),
      """SELECT event_id, user_id, event_type, value FROM events
         WHERE value BETWEEN 50.0 AND 150.0 AND ts >= TIMESTAMP '2024-01-20'"""),
    // ---- P3 equality filter set (OR of ANDs, querybuilder.py:100-132) ------
    Query("q_filter_or", (s, dir) =>
      loader(s, dir)("orders")
        .filter(
          (col("o_orderstatus") === "O" && col("o_orderpriority") === "1-URGENT") ||
            (col("o_orderstatus") === "F" && col("o_totalprice") > 200000.0)
        )
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority")),
      """SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
         WHERE (o_orderstatus = 'O' AND o_orderpriority = '1-URGENT')
            OR (o_orderstatus = 'F' AND o_totalprice > 200000.0)"""),
    // ---- P2 JSON path projection via the schema surface --------------------
    Query("q_json_path", (s, dir) =>
      assembled(s, dir, Fixtures.jsonPath)
        .select(col("_id"), col("event_id"), col("event_type"), col("props_k")),
      """SELECT CAST(event_id AS VARCHAR) AS _id, event_id, event_type,
                json_extract_string(props, '$.k') AS props_k
         FROM events"""),
    // ---- A1/A2 child aggregation (collect_list over groupBy fk) ------------
    Query("q_child_agg", (s, dir) =>
      loader(s, dir)("lineitem")
        .groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long"))
            .as("revenue_cents"),
          concat_ws(",", sort_array(collect_list(col("l_linenumber"))).cast("array<string>"))
            .as("linenumbers")
        ),
      """SELECT l_orderkey,
                count(*) AS n_items,
                CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
                array_to_string(list(CAST(l_linenumber AS VARCHAR) ORDER BY l_linenumber), ',') AS linenumbers
         FROM lineitem GROUP BY l_orderkey"""),
    // ---- A8 count ----------------------------------------------------------
    Query("q_count", (s, dir) =>
      loader(s, dir)("events").agg(count(lit(1)).as("n_events")),
      "SELECT count(*) AS n_events FROM events"),
    // ---- J2 one_to_one chain (customer→nation→region) ----------------------
    Query("q_join_chain", (s, dir) =>
      assembled(s, dir, Fixtures.oneToOneChain)
        .select(
          col("_id"),
          col("c_name"),
          col("nation.n_name").as("n_name"),
          col("nation.region.r_name").as("r_name")
        ),
      """SELECT CAST(c.c_custkey AS VARCHAR) AS _id, c.c_name, n.n_name, r.r_name
         FROM customer c
         LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
         LEFT JOIN region r ON n.n_regionkey = r.r_regionkey"""),
    // ---- J4 many_to_many through table -------------------------------------
    Query("q_through", (s, dir) =>
      assembled(s, dir, Fixtures.through)
        .select(
          col("p_partkey"),
          size(col("suppliers")).cast("long").as("n_suppliers"),
          concat_ws(
            ",",
            transform(col("suppliers"), x => x("s_suppkey").cast("string"))
          ).as("supp_keys")
        ),
      """WITH sup AS (
           SELECT l.l_partkey AS pk,
                  list(CAST(s.s_suppkey AS VARCHAR) ORDER BY s.s_suppkey, s.s_name) AS sks
           FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
           GROUP BY l.l_partkey)
         SELECT p.p_partkey,
                COALESCE(len(sup.sks), 0) AS n_suppliers,
                COALESCE(array_to_string(sup.sks, ','), '') AS supp_keys
         FROM part p LEFT JOIN sup ON sup.pk = p.p_partkey"""),
    // ---- citext parity: case-folded FK join (base.py:61-69) ----------------
    // documents' lang is case-mangled per row; the dim table holds UPPER
    // codes. With `case_insensitive` on both leg columns the assembler joins
    // lower()==lower(), so every case variant resolves to its one dim row.
    Query("q_ci_join", (s, dir) => {
      import graft.catalog.{ForeignKey, TableMeta}
      val base = loader(s, dir)("documents")
      val docs = base.select(
        col("doc_id"),
        when(pmod(col("doc_id"), lit(2)) === 0, upper(col("lang")))
          .otherwise(col("lang")).as("lang")
      )
      val dim = base.select(upper(col("lang")).as("code")).distinct()
        .withColumn("family", concat(lit("fam_"), lower(col("code"))))
      val cat = Catalog(Map(
        "docs_ci" -> TableMeta(
          "docs_ci", Seq("doc_id"),
          Seq(ForeignKey("docs_ci", Seq("lang"), "lang_dim", Seq("code"))),
          caseInsensitive = Seq("lang")
        ),
        "lang_dim" -> TableMeta("lang_dim", Seq("code"), caseInsensitive = Seq("code"))
      ))
      val ld: String => DataFrame = { case "docs_ci" => docs; case "lang_dim" => dim }
      val nodes = SchemaDef.parseNodes(
        """{
          "table": "docs_ci", "columns": ["doc_id", "lang"],
          "children": [
            {"table": "lang_dim", "label": "family", "columns": ["family"],
             "relationship": {"type": "one_to_one", "variant": "scalar"}}
          ]
        }"""
      )
      DocAssembler.assemble(nodes, ld, cat)
        .select(col("_id"), col("doc_id"), col("lang"), col("family"))
    },
      // case-folded join replay: both sides lower() exactly like the
      // citext-aware assembler leg
      """WITH docs_ci AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END AS lang
           FROM documents),
         dim AS (
           SELECT code, 'fam_' || lower(code) AS family
           FROM (SELECT DISTINCT upper(lang) AS code FROM documents))
         SELECT CAST(d.doc_id AS VARCHAR) AS _id, d.doc_id, d.lang, dim.family
         FROM docs_ci d LEFT JOIN dim ON lower(d.lang) = lower(dim.code)"""),
    // ---- one_to_many scalar variant ----------------------------------------
    Query("q_scalar_array", (s, dir) =>
      assembled(s, dir, Fixtures.scalarArray)
        .select(
          col("_id"),
          col("o_orderkey"),
          concat_ws(",", col("partkeys").cast("array<string>")).as("partkeys")
        ),
      """WITH pk AS (
           SELECT l_orderkey, list(CAST(l_partkey AS VARCHAR) ORDER BY l_partkey) AS pks
           FROM lineitem GROUP BY l_orderkey)
         SELECT CAST(o.o_orderkey AS VARCHAR) AS _id, o.o_orderkey,
                COALESCE(array_to_string(pk.pks, ','), '') AS partkeys
         FROM orders o LEFT JOIN pk ON pk.l_orderkey = o.o_orderkey"""),
    // ---- full document assembly (flagship) → JSON --------------------------
    Query("q_doc_flagship", (s, dir) => {
      val df = assembled(s, dir, Fixtures.flagship)
      df.select(
        col("_id"),
        to_json(
          struct(
            col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), col("lineitems"), col("customer")
          )
        ).as("doc")
      )
    },
      """WITH li AS (
           SELECT l_orderkey,
                  list(json_object('l_linenumber', l_linenumber, 'l_quantity', l_quantity,
                                   'l_extendedprice', l_extendedprice, 'l_returnflag', l_returnflag)
                       ORDER BY l_linenumber, l_quantity, l_extendedprice, l_returnflag) AS items
           FROM lineitem GROUP BY l_orderkey)
         SELECT CAST(o.o_orderkey AS VARCHAR) AS _id,
                CAST(json_object('o_orderkey', o.o_orderkey, 'o_custkey', o.o_custkey,
                            'o_orderstatus', o.o_orderstatus, 'o_totalprice', o.o_totalprice,
                            'lineitems', COALESCE(to_json(li.items), '[]'::JSON),
                            'customer', json_object('c_name', c.c_name, 'c_mktsegment', c.c_mktsegment))
                     AS VARCHAR) AS doc
         FROM orders o
         LEFT JOIN customer c ON o.o_custkey = c.c_custkey
         LEFT JOIN li ON li.l_orderkey = o.o_orderkey"""),
    // ---- deep nesting: one_to_many containing one_to_one -------------------
    Query("q_doc_nested", (s, dir) => {
      val df = assembled(s, dir, Fixtures.nested)
      df.select(
        col("_id"),
        to_json(struct(col("o_orderkey"), col("o_orderstatus"), col("lineitems"))).as("doc")
      )
    },
      """WITH li AS (
           SELECT l.l_orderkey,
                  list(json_object('l_linenumber', l.l_linenumber, 'l_quantity', l.l_quantity,
                                   'part', json_object('p_name', p.p_name, 'p_brand', p.p_brand))
                       ORDER BY l.l_linenumber, l.l_quantity, p.p_name, p.p_brand) AS items
           FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
           GROUP BY l.l_orderkey)
         SELECT CAST(o.o_orderkey AS VARCHAR) AS _id,
                CAST(json_object('o_orderkey', o.o_orderkey, 'o_orderstatus', o.o_orderstatus,
                            'lineitems', COALESCE(to_json(li.items), '[]'::JSON)) AS VARCHAR) AS doc
         FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey"""),
    // ---- one_to_one scalar variant -----------------------------------------
    Query("q_scalar_one", (s, dir) =>
      assembled(s, dir, Fixtures.scalarOne)
        .select(col("_id"), col("o_orderkey"), col("customer_name")),
      """SELECT CAST(o.o_orderkey AS VARCHAR) AS _id, o.o_orderkey, c.c_name AS customer_name
         FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey"""),
    // ---- A6/A7 `_meta` lineage ---------------------------------------------
    Query("q_meta_flagship", (s, dir) =>
      assembled(s, dir, Fixtures.flagship)
        .select(col("_id"), to_json(col("_meta")).as("meta")),
      """WITH li AS (
           SELECT l_orderkey,
                  list(DISTINCT CAST(l_linenumber AS VARCHAR) ORDER BY CAST(l_linenumber AS VARCHAR)) AS lns
           FROM lineitem GROUP BY l_orderkey)
         SELECT CAST(o.o_orderkey AS VARCHAR) AS _id,
                CAST(CASE WHEN li.lns IS NULL THEN
                  json_object('orders', json_object('o_orderkey', [CAST(o.o_orderkey AS VARCHAR)]),
                              'customer', json_object('c_custkey', [CAST(c.c_custkey AS VARCHAR)]))
                ELSE
                  json_object('orders', json_object('o_orderkey', [CAST(o.o_orderkey AS VARCHAR)]),
                              'lineitem', json_object('l_orderkey', [CAST(o.o_orderkey AS VARCHAR)],
                                                      'l_linenumber', li.lns),
                              'customer', json_object('c_custkey', [CAST(c.c_custkey AS VARCHAR)]))
                END AS VARCHAR) AS meta
         FROM orders o
         LEFT JOIN customer c ON o.o_custkey = c.c_custkey
         LEFT JOIN li ON li.l_orderkey = o.o_orderkey"""),
    // ---- composite-PK `_id` ------------------------------------------------
    Query("q_composite_pk", (s, dir) =>
      assembled(s, dir, Fixtures.compositePk)
        .select(col("_id"), col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
      """SELECT CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) AS _id,
                l_orderkey, l_linenumber, l_quantity
         FROM lineitem"""),
    // ---- T1/T2/T3 transforms (replace → rename → concat) -------------------
    Query("q_transform", (s, dir) =>
      assembled(s, dir, Fixtures.transforms)
        .select(col("_id"), col("order_id"), col("o_orderstatus"), col("order_tag")),
      """SELECT CAST(o_orderkey AS VARCHAR) AS _id,
                o_orderkey AS order_id,
                replace(o_orderstatus, 'O', 'X') AS o_orderstatus,
                concat_ws('-',
                  CASE WHEN o_orderkey <> 0 THEN CAST(o_orderkey AS VARCHAR) END,
                  NULLIF(replace(o_orderstatus, 'O', 'X'), '')) AS order_tag
         FROM orders"""),
    // ---- FULL LIFECYCLE under the oracle: snapshot → mixed batch → docs ----
    // The snapshot/incremental/index loop end-to-end (pull() then op handlers,
    // sync.py:1895-1945, 1054-1343): snapshot the original tables, apply a
    // deterministic mixed DELETE/UPDATE/INSERT root batch (keys by modulus,
    // inserts cloned past a fixed offset so both engines derive the same
    // post-change database), and emit the final materialized docs. The oracle
    // recomputes the whole post-change doc set from scratch — so checkpoint
    // handling, affected-root resolution, re-assembly, bucket rewrite, and
    // delete propagation are all hash-checked in one gate.
    Query("q_lifecycle", (s, dir) => {
      val base = loader(s, dir)
      val Off = 100000000L
      val m = pmod(col("o_orderkey"), lit(100))
      def postOrders: DataFrame = {
        val o = base("orders")
        o.filter(m =!= 7)
          .withColumn("o_orderstatus", when(m === 8, lit("Z")).otherwise(col("o_orderstatus")))
          .unionByName(
            o.filter(m === 9)
              .withColumn("o_orderkey", col("o_orderkey") + lit(Off))
              .withColumn("o_orderstatus", lit("N"))
          )
      }
      @volatile var post = false
      val load: String => DataFrame = {
        case "orders" if post => postOrders
        case t                => base(t)
      }
      val sync = GraftSync(
        s,
        s"""{"database": "graft", "index": "lifecycle", "nodes": ${Fixtures.flagship}}""",
        Catalog.testData,
        load,
        // scratch: the returned docs frame reads these index buckets lazily,
        // so the dir must outlive this fn — deleted at JVM exit
        graft.util.TempDirs.scratch("graft-lifecycle").toString
      )
      sync.snapshot()
      post = true
      val o = base("orders")
      val pk = to_json(struct(col("o_orderkey")))
      val noStr = lit(null).cast("string")
      val batch = o
        .filter(m === 7)
        .select(lit("DELETE").as("tg_op"), lit("orders").as("tbl"),
          pk.as("old"), noStr.as("new"), col("o_orderkey").as("txid"))
        .unionByName(o.filter(m === 8).select(
          lit("UPDATE").as("tg_op"), lit("orders").as("tbl"),
          pk.as("old"), pk.as("new"), col("o_orderkey").as("txid")))
        .unionByName(o.filter(m === 9).select(
          lit("INSERT").as("tg_op"), lit("orders").as("tbl"),
          noStr.as("old"),
          to_json(struct((col("o_orderkey") + lit(Off)).as("o_orderkey"))).as("new"),
          (col("o_orderkey") + lit(Off)).as("txid")))
      sync.applyChanges(batch)
      sync.state.docs
    },
      """WITH orders2 AS (
           SELECT o_orderkey, o_custkey,
                  CASE WHEN o_orderkey % 100 = 8 THEN 'Z' ELSE o_orderstatus END AS o_orderstatus,
                  o_totalprice
           FROM orders WHERE o_orderkey % 100 <> 7
           UNION ALL
           SELECT o_orderkey + 100000000, o_custkey, 'N', o_totalprice
           FROM orders WHERE o_orderkey % 100 = 9),
         li AS (
           SELECT l_orderkey,
                  list(json_object('l_linenumber', l_linenumber, 'l_quantity', l_quantity,
                                   'l_extendedprice', l_extendedprice, 'l_returnflag', l_returnflag)
                       ORDER BY l_linenumber, l_quantity, l_extendedprice, l_returnflag) AS items,
                  list(DISTINCT CAST(l_linenumber AS VARCHAR) ORDER BY CAST(l_linenumber AS VARCHAR)) AS lns
           FROM lineitem GROUP BY l_orderkey)
         SELECT CAST(o.o_orderkey AS VARCHAR) AS _id,
                CAST(json_object('o_orderkey', o.o_orderkey, 'o_custkey', o.o_custkey,
                            'o_orderstatus', o.o_orderstatus, 'o_totalprice', o.o_totalprice,
                            'lineitems', COALESCE(to_json(li.items), '[]'::JSON),
                            'customer', json_object('c_name', c.c_name, 'c_mktsegment', c.c_mktsegment),
                            '_meta', CASE WHEN li.lns IS NULL THEN
                              json_object('orders', json_object('o_orderkey', [CAST(o.o_orderkey AS VARCHAR)]),
                                          'customer', json_object('c_custkey', [CAST(c.c_custkey AS VARCHAR)]))
                            ELSE
                              json_object('orders', json_object('o_orderkey', [CAST(o.o_orderkey AS VARCHAR)]),
                                          'lineitem', json_object('l_orderkey', [CAST(o.o_orderkey AS VARCHAR)],
                                                                  'l_linenumber', li.lns),
                                          'customer', json_object('c_custkey', [CAST(c.c_custkey AS VARCHAR)]))
                            END) AS VARCHAR) AS doc
         FROM orders2 o
         LEFT JOIN customer c ON o.o_custkey = c.c_custkey
         LEFT JOIN li ON li.l_orderkey = o.o_orderkey"""),
    // ---- COMPOSED PRODUCT under the oracle: one change feed fans into the
    // doc index + a CDC-maintained BM25 index + a CDC-maintained LSH ANN
    // index (graft.streaming.SyncPipeline — the reference's one-Sync-object
    // consumer side, sync.py:2114-2153). Seed from the pre-change corpus,
    // apply one mixed DELETE/UPDATE/INSERT batch through ALL consumers, then
    // probe every surface; the oracle recomputes each surface from the
    // post-change corpus from scratch, so the composition (payload
    // derivation, delete-first index maintenance, doc re-assembly) is
    // hash-checked end to end on one result frame.
    Query("q_composed_cdc", (s, dir) => {
      val sc = composedScenario(s, dir, full = false)
      sc.applyChange()
      docBm25AnnLegs(sc)
    }, {
      // the composed-pipeline replay: doc text lengths over the POST corpus,
      // the impact-capped BM25 probe replayed under the scenario's mutations
      // ([[composedBm25PrunedCtes]] — seed caps + batch caps + tombstones +
      // df drift, the production probe's exact semantics), and the LSH ANN
      // row's bucket/probe/rank replay at dim 64 rebuilt from scratch — so the
      // CDC-maintained indexes must equal what their maintenance contracts
      // promise bit-for-bit
      def bucket(vecCol: String): String = RetrievalQueries.lshBucketSql(vecCol, dim = 64)
      val probeList = RetrievalQueries.lshProbeKeysSql
      s"""WITH media AS (
           SELECT d.doc_id, d.text, e.embedding
           FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
         post AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 10 = 8 THEN 'updated ' || text ELSE text END AS text,
                  embedding
           FROM media WHERE doc_id % 10 <> 7
           UNION ALL
           SELECT doc_id + 100000000, 'clone ' || text, embedding
           FROM media WHERE doc_id % 10 = 9),
         q AS (SELECT doc_id AS qid, text, embedding FROM post WHERE doc_id < 3),
         qterms AS (
           SELECT DISTINCT qid, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
           FROM q),
         ${composedBm25PrunedCtes},
         bm_ranked AS (
           SELECT qid, id, score_micro,
                  row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, id) AS rank
           FROM bm_scored),
         corpus AS (
           SELECT doc_id AS neighbor_id, embedding AS v, ${bucket("embedding")} AS bucket
           FROM post),
         qbase AS (SELECT qid, embedding AS qv, ${bucket("embedding")} AS bucket FROM q),
         qp AS (SELECT qid, qv, unnest($probeList) AS bucket FROM qbase),
         ann_scored AS (
           SELECT qp.qid, c.neighbor_id, list_cosine_similarity(c.v, qp.qv) AS cos
           FROM corpus c JOIN qp ON c.bucket = qp.bucket AND c.neighbor_id <> qp.qid),
         ann_ranked AS (
           SELECT qid, neighbor_id, cos,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           FROM ann_scored)
         SELECT 'doc' AS surface, doc_id AS k1, CAST(0 AS BIGINT) AS k2,
                CAST(length(text) AS BIGINT) AS v
         FROM post
         UNION ALL
         SELECT 'bm25', qid, id, score_micro FROM bm_ranked WHERE rank <= 10
         UNION ALL
         SELECT 'ann', qid, neighbor_id, CAST(round(10000 * cos) AS BIGINT)
         FROM ann_ranked WHERE rank <= 10"""
    }),
    // FULL SIX-SURFACE GATE: the same change batch through a fresh
    // six-consumer scenario, probed on EVERY consumer surface under one
    // hash — doc text
    // lengths, BM25 top-k, LSH top-k, IVF-PQ top-k (pre-corpus-trained
    // frozen models over the post corpus), the exact-dedup registry
    // (first-writer-wins keepers, deletes never retract), and the near-dup
    // cluster assignments (union-find over seed pairs + the batch's
    // index-probed verified pairs; deleted docs keep their membership per
    // the no-split contract). The oracle rebuilds all six from the corpus
    // from scratch.
    Query("q_composed_full", (s, dir) => {
      val sc = composedScenario(s, dir, full = true)
      sc.applyChange()
      val pqLeg = Ann
        .pqTopKIndexedResumed(
          s"${sc.root}/pq",
          probeDocs(sc).select(col("doc_id").as("qid"), col("embedding")), "qid", "embedding", 10,
          nprobe = 4)
        .select(lit("pq").as("surface"), col("qid").as("k1"), col("neighbor_id").as("k2"),
          col("cosine_e4").as("v"))
      val dedupLeg = s.read.parquet(s"${sc.root}/dedup")
        .groupBy(col("keep_id"))
        .agg(count(lit(1)).as("n"))
        .select(lit("dedup").as("surface"), col("keep_id").as("k1"), lit(0L).as("k2"),
          col("n").as("v"))
      val clusterLeg = graft.dedup.ClusterMap
        .assignments(s, s"${sc.root}/cluster")
        .select(lit("cluster").as("surface"), col("id").as("k1"), lit(0L).as("k2"),
          col("root").as("v"))
      docBm25AnnLegs(sc)
        .unionByName(pqLeg)
        .unionByName(dedupLeg)
        .unionByName(clusterLeg)
    }, {
      // ALL SIX SURFACES from scratch: the two-consumer replay (doc + BM25 +
      // LSH over the post corpus) extended with the PQ replay (the IVF-PQ
      // row's pattern, seeds/codebooks frozen from the FIRST 16 PRE-corpus vectors
      // by id, encoded corpus = post), the exact-dedup registry replay
      // (first-writer-wins: seed digests keep min pre doc_id, batch-new
      // digests keep min batch id; deletes never retract), and the near-dup
      // CLUSTER replay — union-find over the SEED pair set (portable
      // MinHash-LSH over pre texts, the clusterCcOracle machinery) plus the
      // batch's pairs (batch band keys probed against the stored pre keys +
      // in-batch bucket pairs, exact-Jaccard-verified against POST texts, so
      // candidates hitting a deleted doc's stored keys drop), with deleted
      // docs keeping their seed-time membership per the no-split contract
      def bucket(vecCol: String): String = RetrievalQueries.lshBucketSql(vecCol, dim = 64)
      val probeList = RetrievalQueries.lshProbeKeysSql
      val mins = (0 until 16).map(i => s"min(md5('$i|' || s)) AS m$i").mkString(", ")
      val bandKeys = (0 until 8).map(b => s"'$b:' || m${2 * b} || m${2 * b + 1}").mkString(", ")
      val shingleExpr =
        """list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                                        i -> array_to_string(toks[i:i+2], ' ')))"""
      s"""WITH RECURSIVE media AS (
           SELECT d.doc_id, d.text, e.embedding
           FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
         post AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 10 = 8 THEN 'updated ' || text ELSE text END AS text,
                  embedding
           FROM media WHERE doc_id % 10 <> 7
           UNION ALL
           SELECT doc_id + 100000000, 'clone ' || text, embedding
           FROM media WHERE doc_id % 10 = 9),
         q AS (SELECT doc_id AS qid, text, embedding FROM post WHERE doc_id < 3),
         qterms AS (
           SELECT DISTINCT qid, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
           FROM q),
         ${composedBm25PrunedCtes},
         bm_ranked AS (
           SELECT qid, id, score_micro,
                  row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, id) AS rank
           FROM bm_scored),
         corpus AS (
           SELECT doc_id AS neighbor_id, embedding AS v, ${bucket("embedding")} AS bucket
           FROM post),
         qbase AS (SELECT qid, embedding AS qv, ${bucket("embedding")} AS bucket FROM q),
         qp AS (SELECT qid, qv, unnest($probeList) AS bucket FROM qbase),
         ann_scored AS (
           SELECT qp.qid, c.neighbor_id, list_cosine_similarity(c.v, qp.qv) AS cos
           FROM corpus c JOIN qp ON c.bucket = qp.bucket AND c.neighbor_id <> qp.qid),
         ann_ranked AS (
           SELECT qid, neighbor_id, cos,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           FROM ann_scored),
         pseeds AS (
           SELECT row_number() OVER (ORDER BY doc_id) - 1 AS c, embedding AS sv
           FROM (SELECT doc_id, embedding FROM media
                 WHERE embedding IS NOT NULL ORDER BY doc_id LIMIT 16)),
         pcorpus AS (SELECT doc_id AS cid, embedding AS cv FROM post
                     WHERE embedding IS NOT NULL),
         passigned AS (
           SELECT a.cid,
                  (SELECT s.c FROM pseeds s
                   ORDER BY list_cosine_similarity(a.cv, s.sv) DESC, s.c
                   LIMIT 1) AS cell
           FROM pcorpus a),
         psub AS (SELECT cid, cv, j FROM pcorpus, generate_series(0, 7) AS gs(j)),
         pcodes AS (
           SELECT s.cid, s.j,
                  (SELECT d.c FROM pseeds d
                   ORDER BY list_sum(list_transform(
                              list_zip(s.cv[s.j*8 + 1 : s.j*8 + 8], d.sv[s.j*8 + 1 : s.j*8 + 8]),
                              x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                                 * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), d.c
                   LIMIT 1) AS code
           FROM psub s),
         precon AS (
           SELECT c.cid, flatten(list(d.sv[c.j*8 + 1 : c.j*8 + 8] ORDER BY c.j)) AS rv
           FROM pcodes c JOIN pseeds d ON d.c = c.code
           GROUP BY c.cid),
         pprobes AS (
           SELECT q2.qid, q2.embedding AS qv, s.c AS cell
           FROM q q2,
                LATERAL (SELECT c FROM pseeds s
                         ORDER BY list_cosine_similarity(q2.embedding, s.sv) DESC, s.c
                         LIMIT 4) s),
         pscored AS (
           SELECT p.qid, a.cid AS neighbor_id,
                  list_cosine_similarity(r.rv, p.qv) AS cos
           FROM passigned a
           JOIN pprobes p ON a.cell = p.cell AND a.cid <> p.qid
           JOIN precon r ON r.cid = a.cid),
         pranked AS (
           SELECT qid, neighbor_id, cos,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
           FROM pscored),
         seen AS (SELECT md5(text) AS h, min(doc_id) AS keep_id FROM media GROUP BY 1),
         bdocs AS (
           SELECT doc_id, 'updated ' || text AS t FROM media WHERE doc_id % 10 = 8
           UNION ALL
           SELECT doc_id + 100000000, 'clone ' || text FROM media WHERE doc_id % 10 = 9),
         newdig AS (
           SELECT md5(t) AS h, min(doc_id) AS keep_id FROM bdocs
           WHERE md5(t) NOT IN (SELECT h FROM seen) GROUP BY 1),
         registry AS (SELECT h, keep_id FROM seen UNION ALL SELECT h, keep_id FROM newdig),
         pret AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM media),
         presh AS (SELECT doc_id, $shingleExpr AS shingles FROM pret WHERE len(toks) > 0),
         prepost AS (SELECT doc_id, unnest(shingles) AS s FROM presh),
         prem AS (SELECT doc_id, $mins FROM prepost GROUP BY doc_id),
         prekeys AS (SELECT doc_id, unnest([$bandKeys]) AS key FROM prem),
         preok AS (SELECT key FROM prekeys GROUP BY key HAVING count(*) BETWEEN 2 AND 1000),
         precand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                     FROM prekeys a JOIN prekeys b ON a.key = b.key AND a.doc_id < b.doc_id
                     WHERE a.key IN (SELECT key FROM preok)),
         prepairs AS (SELECT pr.id_a, pr.id_b
                      FROM precand pr
                      JOIN presh sa ON sa.doc_id = pr.id_a
                      JOIN presh sb ON sb.doc_id = pr.id_b
                      WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
                              len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.3),
         bt AS (SELECT doc_id, regexp_split_to_array(trim(t), '\\s+') AS toks FROM bdocs),
         bsh AS (SELECT doc_id, $shingleExpr AS shingles FROM bt WHERE len(toks) > 0),
         bpost AS (SELECT doc_id, unnest(shingles) AS s FROM bsh),
         bm AS (SELECT doc_id, $mins FROM bpost GROUP BY doc_id),
         bkeys AS (SELECT doc_id, unnest([$bandKeys]) AS key FROM bm),
         okstored AS (SELECT key FROM prekeys
                      WHERE key IN (SELECT DISTINCT key FROM bkeys)
                      GROUP BY key HAVING count(*) <= 1000),
         ccand AS (SELECT DISTINCT b.doc_id AS id_a, p.doc_id AS id_b
                   FROM bkeys b JOIN prekeys p ON p.key = b.key AND b.doc_id <> p.doc_id
                   WHERE b.key IN (SELECT key FROM okstored)),
         okb AS (SELECT key FROM bkeys GROUP BY key HAVING count(*) BETWEEN 2 AND 1000),
         bcand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM bkeys a JOIN bkeys b ON a.key = b.key AND a.doc_id < b.doc_id
                   WHERE a.key IN (SELECT key FROM okb)),
         postt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM post),
         postsh AS (SELECT doc_id, $shingleExpr AS shingles FROM postt WHERE len(toks) > 0),
         vcand AS (SELECT id_a, id_b FROM ccand UNION SELECT id_a, id_b FROM bcand),
         vpairs AS (SELECT vc.id_a, vc.id_b
                    FROM vcand vc
                    JOIN postsh sa ON sa.doc_id = vc.id_a
                    JOIN postsh sb ON sb.doc_id = vc.id_b
                    WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
                            len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.3),
         allp AS (SELECT id_a, id_b FROM prepairs UNION SELECT id_a, id_b FROM vpairs),
         edges AS (SELECT id_a AS u, id_b AS v FROM allp
                   UNION SELECT id_b AS u, id_a AS v FROM allp),
         reach AS (SELECT u, v FROM edges
                   UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         root AS (SELECT u, least(u, min(v)) AS root FROM reach GROUP BY u),
         -- DISTINCT explicitly: inside a WITH RECURSIVE block this DuckDB
         -- treats UNION in non-self-referencing CTE bodies as UNION ALL
         members AS (SELECT DISTINCT doc_id FROM
                       (SELECT doc_id FROM media UNION ALL SELECT doc_id FROM bdocs))
         SELECT 'doc' AS surface, doc_id AS k1, CAST(0 AS BIGINT) AS k2,
                CAST(length(text) AS BIGINT) AS v
         FROM post
         UNION ALL
         SELECT 'bm25', qid, id, score_micro FROM bm_ranked WHERE rank <= 10
         UNION ALL
         SELECT 'ann', qid, neighbor_id, CAST(round(10000 * cos) AS BIGINT)
         FROM ann_ranked WHERE rank <= 10
         UNION ALL
         SELECT 'pq', qid, neighbor_id, CAST(round(10000 * cos) AS BIGINT)
         FROM pranked WHERE rank <= 10
         UNION ALL
         SELECT 'dedup', keep_id, CAST(0 AS BIGINT), CAST(count(*) AS BIGINT)
         FROM registry GROUP BY keep_id
         UNION ALL
         SELECT 'cluster', m.doc_id, CAST(0 AS BIGINT),
                CAST(coalesce(rt.root, m.doc_id) AS BIGINT)
         FROM members m LEFT JOIN root rt ON rt.u = m.doc_id"""
    }),
    // BUILD: the composed seed graded standalone: snapshot + every
    // consumer's index build from the PRE-change corpus, graded on exact
    // per-surface corpus facts the oracle recomputes (doc count; BM25 log
    // counters; LSH row count + the
    // plan-literal hyperplane bucket sum; PQ row count + seed-centroid cell
    // sum; dedup registry digest count + keeper-id sum; signature-index key
    // count and cluster member count).
    Query("q_composed_build", (s, dir) => {
      val sc = composedScenario(s, dir, full = true)
      val media = sc.media(false)
      def fact(surface: String, k: String, v: org.apache.spark.sql.Column, from: DataFrame) =
        from.agg(v.cast("long").as("v"))
          .select(lit(surface).as("surface"), lit(k).as("k"), col("v"))
      val docLeg = fact("doc", "n_docs", count(lit(1)), sc.sync.state.docs)
      val stats = RetrievalQueries.bm25Counters(s, s"${sc.root}/bm25")
      val bm25Leg = stats
        .select(lit("bm25").as("surface"), lit("n_docs").as("k"), col("n_docs").as("v"))
        .unionByName(
          stats.select(lit("bm25").as("surface"), lit("dl_sum").as("k"), col("dl_sum").as("v")))
      val lsh = s.read.parquet(s"${sc.root}/ann")
      val pq = s.read.parquet(s"${sc.root}/pq")
      val dedup = s.read.parquet(s"${sc.root}/dedup")
      val sig = s.read.parquet(s"${sc.root}/sig")
      docLeg
        .unionByName(bm25Leg)
        .unionByName(fact("ann", "n_vecs", count(lit(1)), lsh))
        .unionByName(fact("ann", "bucket_sum", sum(col("bucket")), lsh))
        .unionByName(fact("pq", "n_vecs", count(lit(1)), pq))
        .unionByName(fact("pq", "cell_sum", sum(col("cell")), pq))
        .unionByName(fact("dedup", "n_digests", count(lit(1)), dedup))
        .unionByName(fact("dedup", "keep_sum", sum(col("keep_id")), dedup))
        .unionByName(fact("cluster", "n_keys", count(lit(1)), sig))
        .unionByName(
          fact("cluster", "n_members", count(lit(1)),
            graft.dedup.ClusterMap.assignments(s, s"${sc.root}/cluster")))
        .unionByName(fact("media", "n_rows", count(lit(1)), media))
    }, {
      // the composed SEED from scratch: exact per-surface corpus facts over
      // the PRE-change media join — doc index row count; BM25 log counters
      // (corpus size + total token count under the engine's tokenizer); the
      // LSH index's row count + hyperplane-bucket sum (plan-time plane
      // literals); the PQ index's row count + seed-centroid cell-assignment
      // sum (refine=0: centroids = first 16 corpus vectors by id); the dedup
      // registry's digest count + first-writer keeper-id sum; the signature
      // index's band-key count and the cluster map's member count
      def bucket(vecCol: String): String = RetrievalQueries.lshBucketSql(vecCol, dim = 64)
      s"""WITH media AS (
           SELECT d.doc_id, d.text, e.embedding
           FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
         dl AS (
           SELECT CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS dl
           FROM media),
         ann AS (
           SELECT ${bucket("embedding")} AS bucket
           FROM media WHERE embedding IS NOT NULL),
         seeds AS (
           SELECT row_number() OVER (ORDER BY doc_id) - 1 AS c, embedding AS sv
           FROM (SELECT doc_id, embedding FROM media
                 WHERE embedding IS NOT NULL ORDER BY doc_id LIMIT 16)),
         cells AS (
           SELECT (SELECT s.c FROM seeds s
                   ORDER BY list_cosine_similarity(m.embedding, s.sv) DESC, s.c
                   LIMIT 1) AS cell
           FROM media m WHERE m.embedding IS NOT NULL),
         dig AS (SELECT md5(text) AS h, min(doc_id) AS keep_id FROM media GROUP BY 1),
         sh AS (
           SELECT doc_id FROM (
             SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM media)
           WHERE len(toks) > 0)
         SELECT 'doc' AS surface, 'n_docs' AS k, CAST(count(*) AS BIGINT) AS v FROM media
         UNION ALL SELECT 'bm25', 'n_docs', CAST(count(*) AS BIGINT) FROM media
         UNION ALL SELECT 'bm25', 'dl_sum', CAST(sum(dl) AS BIGINT) FROM dl
         UNION ALL SELECT 'ann', 'n_vecs', CAST(count(*) AS BIGINT) FROM ann
         UNION ALL SELECT 'ann', 'bucket_sum', CAST(sum(bucket) AS BIGINT) FROM ann
         UNION ALL SELECT 'pq', 'n_vecs', CAST(count(*) AS BIGINT) FROM cells
         UNION ALL SELECT 'pq', 'cell_sum', CAST(sum(cell) AS BIGINT) FROM cells
         UNION ALL SELECT 'dedup', 'n_digests', CAST(count(*) AS BIGINT) FROM dig
         UNION ALL SELECT 'dedup', 'keep_sum', CAST(sum(keep_id) AS BIGINT) FROM dig
         UNION ALL SELECT 'cluster', 'n_keys', CAST(8 * count(*) AS BIGINT) FROM sh
         UNION ALL SELECT 'cluster', 'n_members', CAST(count(*) AS BIGINT) FROM media
         UNION ALL SELECT 'media', 'n_rows', CAST(count(*) AS BIGINT) FROM media"""
    }),
    // ---- POST-COMPACTION pruned probe against GROUND TRUTH: a fresh
    // two-consumer scenario takes the same change batch, compacts the BM25 index (exact df restored, caps
    // re-derived over survivors), and probes through the production pruned
    // path. The oracle derives the same answer FROM SCRATCH over the post
    // corpus — tokenize → per-term top-cap by (impact DESC, id) → exact-df
    // BM25 — sharing none of the engine's mutation bookkeeping, so the
    // approximation contract itself ("pruned = impact-capped exact-df BM25
    // after compaction") stays externally checked while the composed rows
    // model the in-between drift states. ---------------------------------
    Query("q_composed_bm25_compacted", (s, dir) => {
      val sc = composedScenario(s, dir, full = false)
      sc.applyChange()
      // the batch's deletes + update-tombstones make dead > 0; any positive
      // threshold this small must fire
      val compacted = graft.functions.Retrieval
        .maybeCompactBm25Index(s, s"${sc.root}/bm25", maxDeadRatio = 1e-9)
      require(compacted, "the composed change batch must force a BM25 compaction")
      graft.functions.Retrieval.bm25TopKIndexedPrunedBatch(
        s"${sc.root}/bm25",
        probeDocs(sc).select(col("doc_id").as("qid"), col("text").as("qtext")),
        "qid", "qtext", 10)
    }, {
      // INDEPENDENT ground truth for the post-compaction pruned probe: the
      // bm25PrunedSql derivation over the POST corpus — tokenize, impact-cap
      // per term, exact df — with NO replay of the engine's seed/batch cap
      // freezing or df drift (compaction erased them). If the engine's cap or
      // drift semantics ever went wrong in a way composedBm25PrunedCtes
      // faithfully mirrors, this row still catches it.
      val cap = graft.functions.Retrieval.ImpactCap
      s"""WITH media AS (
           SELECT d.doc_id, d.text
           FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
         post AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 10 = 8 THEN 'updated ' || text ELSE text END AS text
           FROM media WHERE doc_id % 10 <> 7
           UNION ALL
           SELECT doc_id + 100000000, 'clone ' || text
           FROM media WHERE doc_id % 10 = 9),
         q AS (SELECT doc_id AS qid, text FROM post WHERE doc_id < 3),
         qterms AS (
           SELECT DISTINCT qid, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
           FROM q),
         dl AS (
           SELECT doc_id, CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS dl
           FROM post),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl),
         toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
           FROM post),
         tf AS (
           SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
           WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY 1, 2),
         dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         imp AS (
           SELECT t.doc_id, t.term, t.tf, d.dl,
                  CAST(round(1000000.0 * (t.tf * 2.2)
                             / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))) AS BIGINT)
                    AS imp_micro
           FROM tf t JOIN dl d USING (doc_id) CROSS JOIN stats s),
         kept AS (
           SELECT * FROM (
             SELECT *, row_number() OVER (PARTITION BY term ORDER BY imp_micro DESC, doc_id) AS rn
             FROM imp)
           WHERE rn <= $cap),
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
    }),
    // ---- S5/T6: WAL test_decoding text → parsed change payloads ------------
    // Decoder lines are rendered deterministically FROM the orders table
    // (quoted mixed-case table ident, quoted column ident with a space,
    // `''`-escaped quote inside a text value), then parsed back by the real
    // tokenizer — distributed via parseBlocks (each row is a complete
    // BEGIN..COMMIT transaction). The oracle builds the expected payload
    // JSON directly, so tokenizer + type-aware JSON rendering are
    // hash-checked, not just property-tested.
    Query("q_wal", (s, dir) => {
      import s.implicits._
      val blocks = loader(s, dir)("orders")
        .select(
          concat(
            lit("BEGIN "), col("o_orderkey"),
            lit("\ntable public.\"Orders\": INSERT: o_orderkey[bigint]:"), col("o_orderkey"),
            lit(" o_custkey[bigint]:"), col("o_custkey"),
            lit(""" "order Status"[text]:'"""), col("o_orderstatus"),
            lit("' o_orderpriority[text]:'"),
            regexp_replace(concat(col("o_orderpriority"), lit("'s")), "'", "''"),
            lit("'\nCOMMIT "), col("o_orderkey")
          ).as("block")
        )
        .as[String]
      graft.cdc.WalText.parseBlocks(blocks)
    },
      """SELECT 'INSERT' AS tg_op,
                'Orders' AS tbl,
                CAST(NULL AS VARCHAR) AS old,
                '{"o_orderkey": ' || o_orderkey ||
                ', "o_custkey": ' || o_custkey ||
                ', "order Status": "' || replace(replace(o_orderstatus, '\', '\\'), '"', '\"') ||
                '", "o_orderpriority": "' ||
                replace(replace(o_orderpriority || '''s', '\', '\\'), '"', '\"') ||
                '"}' AS new,
                o_orderkey AS txid
         FROM orders"""),
    // ---- CDC: root-table changes → recompute-and-diff ops (C1-C3, J5/C6) ---
    Query("q_cdc_root", (s, dir) => {
      val load = loader(s, dir)
      val n = load("orders").agg(count(lit(1)).as("__n"))
      val key = pmod(col("event_id") * 7, col("__n") * 2)
      val payload = to_json(struct(key.as("o_orderkey")))
      val changes = load("events")
        .crossJoin(n)
        .select(
          when(col("event_type") === "error", lit("DELETE")).otherwise(lit("INSERT")).as("tg_op"),
          lit("orders").as("tbl"),
          when(col("event_type") === "error", payload).as("old"),
          when(col("event_type") =!= "error", payload).as("new"),
          col("event_id").as("txid")
        )
      new IncrementalEngine(SchemaDef.parseNodes(Fixtures.flagship), Catalog.testData, load)
        .process(changes, Lineage.empty(s))
    },
      """WITH n AS (SELECT count(*) AS c FROM orders),
         keys AS (SELECT DISTINCT (event_id * 7) % (2 * (SELECT c FROM n)) AS key FROM events),
         li AS (
           SELECT l_orderkey,
                  list(json_object('l_linenumber', l_linenumber, 'l_quantity', l_quantity,
                                   'l_extendedprice', l_extendedprice, 'l_returnflag', l_returnflag)
                       ORDER BY l_linenumber, l_quantity, l_extendedprice, l_returnflag) AS items,
                  list(DISTINCT CAST(l_linenumber AS VARCHAR) ORDER BY CAST(l_linenumber AS VARCHAR)) AS lns
           FROM lineitem GROUP BY l_orderkey),
         docs AS (
           SELECT o.o_orderkey,
                  CAST(o.o_orderkey AS VARCHAR) AS _id,
                  CAST(json_object('o_orderkey', o.o_orderkey, 'o_custkey', o.o_custkey,
                              'o_orderstatus', o.o_orderstatus, 'o_totalprice', o.o_totalprice,
                              'lineitems', COALESCE(to_json(li.items), '[]'::JSON),
                              'customer', json_object('c_name', c.c_name, 'c_mktsegment', c.c_mktsegment),
                              '_meta', CASE WHEN li.lns IS NULL THEN
                                json_object('orders', json_object('o_orderkey', [CAST(o.o_orderkey AS VARCHAR)]),
                                            'customer', json_object('c_custkey', [CAST(c.c_custkey AS VARCHAR)]))
                              ELSE
                                json_object('orders', json_object('o_orderkey', [CAST(o.o_orderkey AS VARCHAR)]),
                                            'lineitem', json_object('l_orderkey', [CAST(o.o_orderkey AS VARCHAR)],
                                                                    'l_linenumber', li.lns),
                                            'customer', json_object('c_custkey', [CAST(c.c_custkey AS VARCHAR)]))
                              END) AS VARCHAR) AS doc
           FROM orders o
           LEFT JOIN customer c ON o.o_custkey = c.c_custkey
           LEFT JOIN li ON li.l_orderkey = o.o_orderkey)
         SELECT CASE WHEN d._id IS NULL THEN 'delete' ELSE 'index' END AS op,
                CAST(keys.key AS VARCHAR) AS _id,
                d.doc
         FROM keys LEFT JOIN docs d ON d.o_orderkey = keys.key"""),
    // ---- CDC: child changes → FK walk-up to affected roots (sync.py:1054-1167)
    Query("q_cdc_child", (s, dir) => {
      val load = loader(s, dir)
      val changes = load("lineitem")
        .filter(pmod(col("l_partkey"), lit(50)) === 0)
        .select(
          lit("UPDATE").as("tg_op"),
          lit("lineitem").as("tbl"),
          lit(null).cast("string").as("old"),
          to_json(struct(col("l_orderkey"), col("l_linenumber"))).as("new"),
          col("l_orderkey").as("txid")
        )
      new IncrementalEngine(SchemaDef.parseNodes(Fixtures.flagship), Catalog.testData, load)
        .process(changes, Lineage.empty(s))
    },
      cdcChildOracle),
    // ---- CDC at the key-partitioned source layout: the affected-key set
    // prunes partitions on every payload re-read (the layout answer to the
    // scan-bounded incremental floor; PlanSpec asserts the three partition
    // filters, this row grades that the layout never changes answers) ------
    Query("q_cdc_partitioned", (s, dir) => {
      val base = loader(s, dir)
      val scratch = graft.util.TempDirs.scratch("cdcpart").toString
      graft.sources.Layout.keyPartitionedWrite(base("orders"), "o_orderkey", 2048, s"$scratch/orders")
      graft.sources.Layout.keyPartitionedWrite(base("lineitem"), "l_orderkey", 2048, s"$scratch/lineitem")
      graft.sources.Layout.keyPartitionedWrite(base("customer"), "c_custkey", 256, s"$scratch/customer")
      // memoized relations: partition discovery is per read.parquet CALL and
      // the engine loads each table several times per batch
      val loadCache = scala.collection.mutable.Map.empty[String, DataFrame]
      val load: String => DataFrame = t =>
        loadCache.getOrElseUpdate(t, t match {
          case "orders" | "lineitem" | "customer" => s.read.parquet(s"$scratch/$t")
          case _                                  => base(t)
        })
      val changes = load("lineitem")
        .filter(pmod(col("l_partkey"), lit(50)) === 0)
        .select(
          lit("UPDATE").as("tg_op"),
          lit("lineitem").as("tbl"),
          lit(null).cast("string").as("old"),
          to_json(struct(col("l_orderkey"), col("l_linenumber"))).as("new"),
          col("l_orderkey").as("txid")
        )
      new IncrementalEngine(
        SchemaDef.parseNodes(Fixtures.flagship), Catalog.testData, load,
        // specs from the layouts' sidecars — the no-mismatch construction
        Tuning(partitionPrune = Seq("orders", "lineitem", "customer").map { t =>
          val (_, w, pc) = graft.sources.Layout.keyPartitionSpec(s, s"$scratch/$t")
          t -> IncrementalEngine.PartitionPrune(pc, w)
        }.toMap)
      ).process(changes, Lineage.empty(s))
    },
      // same ops at the key-partitioned layout — layout must never change
      // answers, so the ground truth is the flat-layout SQL verbatim
      cdcChildOracle),
    // ---- CDC at a key-partitioned MANY-TO-MANY layout: the far side's
    // touched partitions derive from the restricted through scan (the dim
    // pattern one hop out) — at 100 TB the through table is often the
    // biggest table in the tree, and this row grades that pruning it plus
    // its far side never changes answers. Output is the through-table projection
    // over the recompute-and-diff ops (byte-level doc parity across layouts
    // is PlanSpec's through-topology equality assertion). ------------------
    Query("q_cdc_through_partitioned", (s, dir) => {
      val base = loader(s, dir)
      val scratch = graft.util.TempDirs.scratch("cdcthr").toString
      graft.sources.Layout.keyPartitionedWrite(base("part"), "p_partkey", 64, s"$scratch/part")
      graft.sources.Layout.keyPartitionedWrite(base("lineitem"), "l_partkey", 64, s"$scratch/lineitem")
      graft.sources.Layout.keyPartitionedWrite(base("supplier"), "s_suppkey", 4, s"$scratch/supplier")
      val loadCache = scala.collection.mutable.Map.empty[String, DataFrame]
      val load: String => DataFrame = t =>
        loadCache.getOrElseUpdate(t, t match {
          case "part" | "lineitem" | "supplier" => s.read.parquet(s"$scratch/$t")
          case _                                => base(t)
        })
      // through-table changes: the FK walk-up (payload l_partkey → part)
      // resolves the affected roots, the reassembly re-reads all three
      // tables partition-pruned
      val changes = load("lineitem")
        .filter(pmod(col("l_partkey"), lit(50)) === 0)
        .select(
          lit("UPDATE").as("tg_op"),
          lit("lineitem").as("tbl"),
          lit(null).cast("string").as("old"),
          to_json(struct(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))).as("new"),
          col("l_orderkey").as("txid")
        )
      val ops = new IncrementalEngine(
        SchemaDef.parseNodes(Fixtures.through), Catalog.testData, load,
        Tuning(partitionPrune = Seq("part", "lineitem", "supplier").map { t =>
          val (_, w, pc) = graft.sources.Layout.keyPartitionSpec(s, s"$scratch/$t")
          t -> IncrementalEngine.PartitionPrune(pc, w)
        }.toMap)
      ).process(changes, Lineage.empty(s))
      val sup = from_json(
        get_json_object(col("doc"), "$.suppliers"),
        org.apache.spark.sql.types.DataTypes.createArrayType(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(
              "s_suppkey", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField(
              "s_name", org.apache.spark.sql.types.StringType)
          ))
        )
      )
      ops.select(
        col("op"),
        col("_id"),
        get_json_object(col("doc"), "$.p_partkey").cast("long").as("p_partkey"),
        get_json_object(col("doc"), "$.p_name").as("p_name"),
        coalesce(size(sup), lit(0)).cast("long").as("n_suppliers"),
        coalesce(
          concat_ws(",", transform(sup, x => x("s_suppkey").cast("string"))),
          lit("")
        ).as("supp_keys")
      )
    },
      // recompute-and-diff over the many-to-many tree: every changed
      // lineitem's part re-assembles with its CURRENT supplier list (no
      // deletes — changed through rows always reference live parts); the
      // supplier list mirrors the through-table row's ordering contract
      """WITH affected AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_partkey % 50 = 0),
           sup AS (
             SELECT l.l_partkey AS pk,
                    list(CAST(s.s_suppkey AS VARCHAR) ORDER BY s.s_suppkey, s.s_name) AS sks
             FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
             GROUP BY l.l_partkey)
         SELECT 'index' AS op,
                CAST(p.p_partkey AS VARCHAR) AS _id,
                p.p_partkey,
                p.p_name,
                COALESCE(len(sup.sks), 0) AS n_suppliers,
                COALESCE(array_to_string(sup.sks, ','), '') AS supp_keys
         FROM affected a
         JOIN part p ON p.p_partkey = a.l_partkey
         LEFT JOIN sup ON sup.pk = p.p_partkey"""),
    // ---- CDC at a HASH-BUCKETED layout with TEXT keys: key-range layouts
    // can't index uuid/text primary keys (the reference special-cases uuid
    // filters, querybuilder.py:81-98) — the hash layout buckets them by
    // pmod(xxhash64(key), n) and the affected-set derivation prunes with the
    // same bounded driver collect. The tables are re-keyed text derivations
    // of the base tables so the DuckDB oracle recomputes the same docs from
    // scratch; the prune specs come from sidecar AUTO-DISCOVERY (layoutRoot),
    // the zero-wiring production configuration. --------------------------
    Query("q_cdc_hashbucket", (s, dir) => {
      val base = loader(s, dir)
      val scratch = graft.util.TempDirs.scratch("cdchash").toString
      val ordersT = base("orders").select(
        concat(lit("ord-"), col("o_orderkey")).as("o_orderkey"),
        concat(lit("cus-"), col("o_custkey")).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
      val lineitemT = base("lineitem").select(
        concat(lit("ord-"), col("l_orderkey")).as("l_orderkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"), col("l_partkey"))
      val customerT = base("customer").select(
        concat(lit("cus-"), col("c_custkey")).as("c_custkey"),
        col("c_name"), col("c_mktsegment"))
      graft.sources.Layout.hashBucketedWrite(ordersT, Seq("o_orderkey"), 64, s"$scratch/orders")
      graft.sources.Layout.hashBucketedWrite(lineitemT, Seq("l_orderkey"), 64, s"$scratch/lineitem")
      graft.sources.Layout.hashBucketedWrite(customerT, Seq("c_custkey"), 16, s"$scratch/customer")
      val loadCache = scala.collection.mutable.Map.empty[String, DataFrame]
      val load: String => DataFrame = t =>
        loadCache.getOrElseUpdate(t, s.read.parquet(s"$scratch/$t"))
      val cat = graft.catalog.Catalog(Map(
        "orders" -> graft.catalog.TableMeta("orders", Seq("o_orderkey"),
          Seq(graft.catalog.ForeignKey(
            "orders", Seq("o_custkey"), "customer", Seq("c_custkey")))),
        "customer" -> graft.catalog.TableMeta("customer", Seq("c_custkey")),
        "lineitem" -> graft.catalog.TableMeta("lineitem", Seq("l_orderkey", "l_linenumber"),
          Seq(graft.catalog.ForeignKey(
            "lineitem", Seq("l_orderkey"), "orders", Seq("o_orderkey"))))))
      val changes = load("lineitem")
        .filter(pmod(col("l_partkey"), lit(50)) === 0)
        .select(
          lit("UPDATE").as("tg_op"),
          lit("lineitem").as("tbl"),
          lit(null).cast("string").as("old"),
          to_json(struct(col("l_orderkey"), col("l_linenumber"))).as("new"),
          col("l_linenumber").cast("long").as("txid")
        )
      new IncrementalEngine(
        SchemaDef.parseNodes(Fixtures.flagship), cat, load,
        Tuning(layoutRoot = Some(scratch))
      ).process(changes, Lineage.empty(s))
    },
      cdcHashOracle),
    // ---- U1 plugin surface: per-doc rewrite + drop chain -------------------
    Query("q_plugin", (s, dir) => {
      val docs = assembled(s, dir,
        """{"table": "orders", "columns": ["o_orderkey", "o_orderstatus"]}""")
        .select(col("_id"), col("o_orderkey"), col("o_orderstatus"))
      val dropper = new graft.transform.DocTransform {
        val name = "mod-dropper" // plugin.py:102-103: falsy return drops the doc
        def apply(doc: org.apache.spark.sql.Row): Option[org.apache.spark.sql.Row] =
          if (doc.getAs[Long]("o_orderkey") % 10 == 0) None else Some(doc)
      }
      graft.transform.Plugins(docs, Seq(dropper))
    },
      """SELECT CAST(o_orderkey AS VARCHAR) AS _id, o_orderkey, o_orderstatus
         FROM orders WHERE o_orderkey % 10 <> 0""")
  )
}
