package graft

import graft.ann.Ann
import graft.assemble.DocAssembler
import graft.catalog.Catalog
import graft.cdc.{IncrementalEngine, Lineage}
import graft.dedup.Dedup
import graft.functions.{TextFunctions => TF}
import graft.multimodal.Multimodal
import graft.schema.SchemaDef
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with a DuckDB-equivalent `oracleSql` for the correctness
  * gate. Column names are aligned between both sides (the driver sorts
  * columns by name before hashing).
  */
object SparkEntry {

  private def loader(s: SparkSession, dir: String): String => DataFrame =
    Tables.load(s, dir)

  /** Per-session prebuilt BM25 index, one per sf dir: q_bm25_indexed
    * probes this STEADY-STATE index, while q_bm25_index_build grades the
    * one-time build — each row exercises one of the two cost shapes.
    */
  private val bm25IndexCache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** dir + a parquet fingerprint (file names/sizes/mtimes) of EVERY table
    * the prebuilt state reads — documents AND embeddings (the composed
    * scenario derives from both): the session-cache key shared by every
    * prebuilt-state cache below, so an in-session regeneration of either
    * table invalidates the prebuilt state
    * instead of probing a stale copy.
    */
  private def sessionCacheKey(dir: String): String = {
    def files(table: String): Seq[java.io.File] = {
      val t = new java.io.File(s"$dir/$table.parquet")
      if (t.isDirectory) t.listFiles().toSeq else Seq(t)
    }
    val fingerprint = Seq("documents", "embeddings")
      .flatMap(t => files(t).map(t -> _))
      .filter { case (_, f) =>
        f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")
      }
      .map { case (t, f) => s"$t/${f.getName}:${f.length}:${f.lastModified}" }
      .sorted.mkString("|").hashCode
    s"$dir@$fingerprint"
  }

  /** Drop cache entries for the same sf dir whose table fingerprint no
    * longer matches the current one (an in-session regeneration created a
    * new key): the stale prebuilt state would
    * never be probed again, but its materialized blocks / scratch roots
    * would otherwise pin memory and disk for the session's lifetime. The
    * fingerprint segment is compared whole (`takeWhile('#')`), so sibling
    * variants of the CURRENT fingerprint (`#full=…` slots) survive.
    */
  private def evictStale[V](
      cache: scala.collection.concurrent.TrieMap[String, V],
      dir: String,
      sessionKey: String
  )(release: V => Unit): Unit =
    cache.keys
      .filter(k => k.startsWith(s"$dir@") && k.takeWhile(_ != '#') != sessionKey)
      .foreach(k => cache.remove(k).foreach(v => release(v)))

  /** The corpus counters of a persisted BM25 index, from its log head, as
    * one row (n_docs, dl_sum, buckets).
    */
  private def bm25Counters(s: SparkSession, path: String): DataFrame = {
    import s.implicits._
    val c = graft.sources.IndexState.open(s, path)._2.counters
    Seq((c.nDocs, c.dlSum, c.buckets.toLong)).toDF("n_docs", "dl_sum", "buckets")
  }

  /** Synchronized so concurrent first probes cannot double-build and
    * orphan a scratch index.
    */
  private def bm25IndexFor(s: SparkSession, dir: String): String =
    bm25IndexCache.synchronized {
      val key = sessionCacheKey(dir)
      evictStale(bm25IndexCache, dir, key)(idx =>
        graft.util.TempDirs.delete(java.nio.file.Paths.get(idx)))
      bm25IndexCache.getOrElseUpdate(key, {
        val idx = graft.util.TempDirs.scratch("bm25-index-session").toString
        graft.functions.Retrieval.writeBm25Index(loader(s, dir)("documents"), "doc_id", "text", idx)
        idx
      })
    }

  private def assembled(s: SparkSession, dir: String, fixture: String): DataFrame =
    DocAssembler.assemble(SchemaDef.parseNodes(fixture), loader(s, dir), Catalog.testData)

  /** Body of q_dedup_cluster_incr: documents arrive in 3 batches
    * (`doc_id % 3` = arrival index; a pair arrives with its LATER
    * endpoint), each batch feeds [[graft.dedup.ClusterMap.applyBatch]], and
    * the final [[graft.dedup.ClusterMap.assignments]] must equal the batch
    * CC over the cumulative pair list (+ singletons). The pair SET is
    * computed once over the full corpus — byte-identical to what the
    * incremental pair operator accumulates over the same arrival order
    * (q_dedup_minhash_incr grades THAT); this query grades the cluster
    * bookkeeping: member appends, cross-batch merges, pointer resolution.
    */
  private def clusterIncr(s: SparkSession, dir: String): DataFrame = {
    val d = loader(s, dir)("documents")
    val pairs = graft.dedup.Dedup
      .minhashLshPortable(d, "doc_id", "text", threshold = 0.3)
      .select(col("id_a"), col("id_b"))
      .cache()
    try {
      val path = graft.util.TempDirs.scratch("cluster-map-q").toString
      graft.dedup.ClusterMap.init(s, path, buckets = 16)
      (0 until 3).foreach { i =>
        val newIds = d.filter(pmod(col("doc_id"), lit(3)) === i).select(col("doc_id").as("id"))
        val batchPairs = pairs.filter(
          greatest(pmod(col("id_a"), lit(3)), pmod(col("id_b"), lit(3))) === i)
        graft.dedup.ClusterMap.applyBatch(s, path, batchPairs, newIds)
      }
      graft.dedup.ClusterMap
        .assignments(s, path)
        .select(col("id").as("doc_id"), col("root").as("keep_id"))
    } finally { pairs.unpersist(); () }
  }

  /** Body of q_cluster_stream: the ARRIVING-DATA form of
    * q_dedup_cluster_incr. Same 3-batch `doc_id % 3` arrival order and the
    * same final answer (batch CC over the full-corpus portable pair set),
    * but pair discovery runs through the full streaming maintenance path
    * ([[graft.streaming.ClusterStream]]): seed builds the persisted band-key
    * signature index from batch 0, each later batch finds its in-batch pairs
    * with the batch LSH operator and its cross-batch pairs by probing the
    * index (pruned key-bucket scan → exact-Jaccard verify over restricted
    * corpus text), then appends its own keys. q_dedup_cluster_incr grades
    * the union-find given the pairs; THIS grades that the streaming path
    * derives the same pairs — index round trip included.
    */
  private def clusterStream(s: SparkSession, dir: String): DataFrame = {
    val d = loader(s, dir)("documents")
    val root = graft.util.TempDirs.scratch("cluster-stream-q").toString
    val (sig, map) = (s"$root/sig", s"$root/map")
    val m = graft.dedup.SignatureIndex.Model(
      portable = true, shingleN = 3, bands = 8, rowsPerBand = 2,
      threshold = 0.3, maxBucket = 1000, buckets = 16)
    graft.streaming.ClusterStream.seed(
      d.filter(pmod(col("doc_id"), lit(3)) === 0).select(col("doc_id"), col("text")),
      sig, map, "doc_id", "text", m, mapBuckets = 16)
    (1 to 2).foreach { i =>
      graft.streaming.ClusterStream.applyBatch(
        s,
        d.filter(pmod(col("doc_id"), lit(3)) === i)
          .select(lit("INSERT").as("tg_op"), col("doc_id"), col("text")),
        d.select(col("doc_id"), col("text")),
        sig, map, "doc_id", "text")
    }
    graft.dedup.ClusterMap
      .assignments(s, map)
      .select(col("id").as("doc_id"), col("root").as("keep_id"))
  }

  /** One composed-pipeline scenario over the `media` join
    * ([[ComposedFixture.media]]): a GraftSync doc index plus BM25 and LSH
    * consumers, all fed from one scratch root. `activatePost()` flips the
    * source table to its post-change state — idempotent, so a cached
    * scenario replays cleanly; `changeBatch()` re-derives the same mixed
    * DELETE/UPDATE/INSERT batch on every call.
    */
  private final case class ComposedScenario(
      root: String,
      sync: GraftSync,
      pipeline: graft.streaming.SyncPipeline,
      media: Boolean => DataFrame,
      changeBatch: () => DataFrame,
      activatePost: () => Unit)

  /** Build (and seed) one composed scenario. `full = false` wires the two
    * consumers q_composed_cdc grades (BM25 + LSH); `full = true` wires
    * ALL SIX consumer surfaces from one feed — the whole product fan-out
    * (doc index via sync + these five). PQ trains at
    * refine=0 (seeds = first 16 pre-corpus vectors) and the cluster
    * consumer uses the portable md5 family at the q_cluster_stream model,
    * so every surface stays DuckDB-replayable end to end.
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
    ComposedScenario(
      root, sync, pipeline, media,
      () => ComposedFixture.changeBatch(media(false)),
      () => { post = true })
  }

  /** Per-session seeded composed scenario, one per sf dir (the
    * [[bm25IndexCache]] convention): q_composed_cdc grades the INCREMENTAL
    * path (change batch + three probe legs) against this, while
    * q_composed_build grades the one-time seed standalone — the same
    * build/steady-state split as q_bm25_index_build / q_bm25_indexed.
    * Repeat runs redeliver the same change batch to the cached scenario;
    * at-least-once replay convergence (the product contract, spec-covered)
    * makes every rerun's output byte-identical.
    */
  private val composedCache =
    scala.collection.concurrent.TrieMap.empty[String, ComposedScenario]

  /** `full = false`: the two-consumer scenario q_composed_cdc grades;
    * `full = true`: the six-consumer scenario q_composed_full grades. Two
    * cache slots per sf dir — the full one carries the correctness gate for
    * the whole fan-out.
    */
  private def composedSeedFor(s: SparkSession, dir: String, full: Boolean): ComposedScenario =
    composedCache.synchronized {
      val key = sessionCacheKey(dir)
      evictStale(composedCache, dir, key)(sc =>
        graft.util.TempDirs.delete(java.nio.file.Paths.get(sc.root)))
      composedCache.getOrElseUpdate(s"$key#full=$full", composedScenario(s, dir, full))
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    assembled(spark, "/root/testdata/sf0.001", Fixtures.flagship)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- P1 projection + P5 range predicate --------------------------------
    "q_project" -> ((s, dir) =>
      loader(s, dir)("lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"))),
    "q_range" -> ((s, dir) =>
      loader(s, dir)("events")
        .filter(col("value").between(50.0, 150.0) && col("ts") >= lit("2024-01-20"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))),
    // ---- P3 equality filter set (OR of ANDs, querybuilder.py:100-132) ------
    "q_filter_or" -> ((s, dir) =>
      loader(s, dir)("orders")
        .filter(
          (col("o_orderstatus") === "O" && col("o_orderpriority") === "1-URGENT") ||
            (col("o_orderstatus") === "F" && col("o_totalprice") > 200000.0)
        )
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))),
    // ---- P2 JSON path projection via the schema surface --------------------
    "q_json_path" -> ((s, dir) =>
      assembled(s, dir, Fixtures.jsonPath)
        .select(col("_id"), col("event_id"), col("event_type"), col("props_k"))),
    // ---- A1/A2 child aggregation (collect_list over groupBy fk) ------------
    "q_child_agg" -> ((s, dir) =>
      loader(s, dir)("lineitem")
        .groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long"))
            .as("revenue_cents"),
          concat_ws(",", sort_array(collect_list(col("l_linenumber"))).cast("array<string>"))
            .as("linenumbers")
        )),
    // ---- A8 count ----------------------------------------------------------
    "q_count" -> ((s, dir) =>
      loader(s, dir)("events").agg(count(lit(1)).as("n_events"))),
    // ---- classic agg (sum over group keys) ---------------------------------
    "q1_agg" -> ((s, dir) =>
      loader(s, dir)("lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows")
        )),
    // ---- analytics: multi-join agg with broadcast dims ---------------------
    "q_revenue_by_nation" -> ((s, dir) => {
      val load = loader(s, dir)
      load("orders")
        .join(broadcast(load("customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(load("nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).cast("long").as("revenue_cents")
        )
    }),
    // ---- analytics: post-aggregation filter (HAVING) -----------------------
    "q_having" -> ((s, dir) =>
      loader(s, dir)("lineitem")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("total_qty"))
        .filter(col("n_items") > 50)),
    // ---- J2 one_to_one chain (customer→nation→region) ----------------------
    "q_join_chain" -> ((s, dir) =>
      assembled(s, dir, Fixtures.oneToOneChain)
        .select(
          col("_id"),
          col("c_name"),
          col("nation.n_name").as("n_name"),
          col("nation.region.r_name").as("r_name")
        )),
    // ---- J4 many_to_many through table -------------------------------------
    "q_through" -> ((s, dir) =>
      assembled(s, dir, Fixtures.through)
        .select(
          col("p_partkey"),
          size(col("suppliers")).cast("long").as("n_suppliers"),
          concat_ws(
            ",",
            transform(col("suppliers"), x => x("s_suppkey").cast("string"))
          ).as("supp_keys")
        )),
    // ---- citext parity: case-folded FK join (base.py:61-69) ----------------
    // documents' lang is case-mangled per row; the dim table holds UPPER
    // codes. With `case_insensitive` on both leg columns the assembler joins
    // lower()==lower(), so every case variant resolves to its one dim row.
    "q_ci_join" -> ((s, dir) => {
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
    }),
    // ---- one_to_many scalar variant ----------------------------------------
    "q_scalar_array" -> ((s, dir) =>
      assembled(s, dir, Fixtures.scalarArray)
        .select(
          col("_id"),
          col("o_orderkey"),
          concat_ws(",", col("partkeys").cast("array<string>")).as("partkeys")
        )),
    // ---- full document assembly (flagship) → JSON --------------------------
    "q_doc_flagship" -> ((s, dir) => {
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
    }),
    // ---- deep nesting: one_to_many containing one_to_one -------------------
    "q_doc_nested" -> ((s, dir) => {
      val df = assembled(s, dir, Fixtures.nested)
      df.select(
        col("_id"),
        to_json(struct(col("o_orderkey"), col("o_orderstatus"), col("lineitems"))).as("doc")
      )
    }),
    // ---- one_to_one scalar variant -----------------------------------------
    "q_scalar_one" -> ((s, dir) =>
      assembled(s, dir, Fixtures.scalarOne)
        .select(col("_id"), col("o_orderkey"), col("customer_name"))),
    // ---- A6/A7 `_meta` lineage ---------------------------------------------
    "q_meta_flagship" -> ((s, dir) =>
      assembled(s, dir, Fixtures.flagship)
        .select(col("_id"), to_json(col("_meta")).as("meta"))),
    // ---- composite-PK `_id` ------------------------------------------------
    "q_composite_pk" -> ((s, dir) =>
      assembled(s, dir, Fixtures.compositePk)
        .select(col("_id"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),
    // ---- T1/T2/T3 transforms (replace → rename → concat) -------------------
    "q_transform" -> ((s, dir) =>
      assembled(s, dir, Fixtures.transforms)
        .select(col("_id"), col("order_id"), col("o_orderstatus"), col("order_tag"))),
    // ---- FULL LIFECYCLE under the oracle: snapshot → mixed batch → docs ----
    // The snapshot/incremental/index loop end-to-end (pull() then op handlers,
    // sync.py:1895-1945, 1054-1343): snapshot the original tables, apply a
    // deterministic mixed DELETE/UPDATE/INSERT root batch (keys by modulus,
    // inserts cloned past a fixed offset so both engines derive the same
    // post-change database), and emit the final materialized docs. The oracle
    // recomputes the whole post-change doc set from scratch — so checkpoint
    // handling, affected-root resolution, re-assembly, bucket rewrite, and
    // delete propagation are all hash-checked in one gate.
    "q_lifecycle" -> ((s, dir) => {
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
    }),
    // ---- COMPOSED PRODUCT under the oracle: one change feed fans into the
    // doc index + a CDC-maintained BM25 index + a CDC-maintained LSH ANN
    // index (graft.streaming.SyncPipeline — the reference's one-Sync-object
    // consumer side, sync.py:2114-2153). Seed from the pre-change corpus,
    // apply one mixed DELETE/UPDATE/INSERT batch through ALL consumers, then
    // probe every surface; the oracle recomputes each surface from the
    // post-change corpus from scratch, so the composition (payload
    // derivation, delete-first index maintenance, doc re-assembly) is
    // hash-checked end to end on one result frame.
    // STEADY STATE: the scenario (seed snapshot + every consumer's index
    // build) comes from the per-session cache, so this grades the
    // INCREMENTAL path only — one mixed change batch through all consumers
    // plus the three probe legs. Repeat runs redeliver the same batch;
    // at-least-once replay convergence makes every rerun byte-identical.
    "q_composed_cdc" -> ((s, dir) => {
      val sc = composedSeedFor(s, dir, full = false)
      sc.activatePost()
      sc.pipeline.applyBatch(sc.changeBatch())
      val queries = sc.media(true).filter(col("doc_id") < 3)
      val docLeg = sc.sync.state.docs.select(
        lit("doc").as("surface"),
        col(DocAssembler.IdColumn).cast("long").as("k1"),
        lit(0L).as("k2"),
        length(get_json_object(col("doc"), "$.text")).cast("long").as("v"))
      // the BM25 leg probes through the impact-capped sidecar — the
      // production default (per-term volume bounded by cap × batches, never
      // corpus-proportional); the exact full-postings probe stays graded as
      // the verification twin (q_bm25_indexed)
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
    }),
    // FULL SIX-SURFACE GATE: the same cached scenario and the same change
    // batch (replay-convergent, so the order against q_composed_cdc doesn't
    // matter), probed on EVERY consumer surface under one hash — doc text
    // lengths, BM25 top-k, LSH top-k, IVF-PQ top-k (pre-corpus-trained
    // frozen models over the post corpus), the exact-dedup registry
    // (first-writer-wins keepers, deletes never retract), and the near-dup
    // cluster assignments (union-find over seed pairs + the batch's
    // index-probed verified pairs; deleted docs keep their membership per
    // the no-split contract). The oracle rebuilds all six from the corpus
    // from scratch.
    "q_composed_full" -> ((s, dir) => {
      val sc = composedSeedFor(s, dir, full = true)
      sc.activatePost()
      sc.pipeline.applyBatch(sc.changeBatch())
      val queries = sc.media(true).filter(col("doc_id") < 3)
      val docLeg = sc.sync.state.docs.select(
        lit("doc").as("surface"),
        col(DocAssembler.IdColumn).cast("long").as("k1"),
        lit(0L).as("k2"),
        length(get_json_object(col("doc"), "$.text")).cast("long").as("v"))
      // pruned probe = production default, same as the q_composed_cdc leg
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
      val pqLeg = Ann
        .pqTopKIndexedResumed(
          s"${sc.root}/pq",
          queries.select(col("doc_id").as("qid"), col("embedding")), "qid", "embedding", 10,
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
      docLeg
        .unionByName(bm25Leg)
        .unionByName(annLeg)
        .unionByName(pqLeg)
        .unionByName(dedupLeg)
        .unionByName(clusterLeg)
    }),
    // BUILD: the one-time composed seed graded standalone (the
    // q_bm25_index_build convention — uncached, a fresh scratch root every
    // run): snapshot + every consumer's index build from the PRE-change
    // corpus, graded on exact per-surface corpus facts the oracle
    // recomputes (doc count; BM25 log counters; LSH row count + the
    // plan-literal hyperplane bucket sum; PQ row count + seed-centroid cell
    // sum; dedup registry digest count + keeper-id sum; signature-index key
    // count and cluster member count).
    "q_composed_build" -> ((s, dir) => {
      val sc = composedScenario(s, dir, full = true)
      val media = sc.media(false)
      def fact(surface: String, k: String, v: org.apache.spark.sql.Column, from: DataFrame) =
        from.agg(v.cast("long").as("v"))
          .select(lit(surface).as("surface"), lit(k).as("k"), col("v"))
      val docLeg = fact("doc", "n_docs", count(lit(1)), sc.sync.state.docs)
      val stats = bm25Counters(s, s"${sc.root}/bm25")
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
    }),
    // ---- POST-COMPACTION pruned probe against GROUND TRUTH: a FRESH
    // two-consumer scenario (not the session cache — compaction would erase
    // the df drift the cached composed rows' oracles model) takes the same
    // change batch, compacts the BM25 index (exact df restored, caps
    // re-derived over survivors), and probes through the production pruned
    // path. The oracle derives the same answer FROM SCRATCH over the post
    // corpus — tokenize → per-term top-cap by (impact DESC, id) → exact-df
    // BM25 — sharing none of the engine's mutation bookkeeping, so the
    // approximation contract itself ("pruned = impact-capped exact-df BM25
    // after compaction") stays externally checked while the composed rows
    // model the in-between drift states. ---------------------------------
    "q_composed_bm25_compacted" -> ((s, dir) => {
      val sc = composedScenario(s, dir, full = false)
      sc.activatePost()
      sc.pipeline.applyBatch(sc.changeBatch())
      // the batch's deletes + update-tombstones make dead > 0; any positive
      // threshold this small must fire
      val compacted = graft.functions.Retrieval
        .maybeCompactBm25Index(s, s"${sc.root}/bm25", maxDeadRatio = 1e-9)
      require(compacted, "the composed change batch must force a BM25 compaction")
      val queries = sc.media(true).filter(col("doc_id") < 3)
      graft.functions.Retrieval.bm25TopKIndexedPrunedBatch(
        s"${sc.root}/bm25",
        queries.select(col("doc_id").as("qid"), col("text").as("qtext")),
        "qid", "qtext", 10)
    }),
    // ---- skewed-key aggregation via two-phase salting ----------------------
    // l_returnflag has 3 values — every row funnels through 3 reducers in a
    // naive groupBy; the salted path spreads each hot key over 16 (key,salt)
    // partials first. Output is the exact unsalted multiset (oracle-checked);
    // the collect path is made deterministic with sort_array downstream,
    // exactly as DocAssembler consumes it.
    "q_salted_agg" -> ((s, dir) => {
      val li = loader(s, dir)("lineitem")
      val sums = graft.assemble.Salting.saltedSum(
        li, Seq("l_returnflag"), round(col("l_quantity") * 100).cast("long"), "qty_centi")
      val lists = graft.assemble.Salting.saltedCollectList(
        li.filter(col("l_orderkey") < 100), Seq("l_returnflag"),
        col("l_linenumber").cast("long"), "lns")
        .select(
          col("l_returnflag"),
          concat_ws(",", sort_array(col("lns")).cast("array<string>")).as("lns"))
      sums.join(lists, Seq("l_returnflag"))
    }),
    // ---- S5/T6: WAL test_decoding text → parsed change payloads ------------
    // Decoder lines are rendered deterministically FROM the orders table
    // (quoted mixed-case table ident, quoted column ident with a space,
    // `''`-escaped quote inside a text value), then parsed back by the real
    // tokenizer — distributed via parseBlocks (each row is a complete
    // BEGIN..COMMIT transaction). The oracle builds the expected payload
    // JSON directly, so tokenizer + type-aware JSON rendering are
    // hash-checked, not just property-tested.
    "q_wal" -> ((s, dir) => {
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
    }),
    // ---- CDC: root-table changes → recompute-and-diff ops (C1-C3, J5/C6) ---
    "q_cdc_root" -> ((s, dir) => {
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
    }),
    // ---- CDC: child changes → FK walk-up to affected roots (sync.py:1054-1167)
    "q_cdc_child" -> ((s, dir) => {
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
    }),
    // ---- CDC at the key-partitioned source layout: the affected-key set
    // prunes partitions on every payload re-read (the layout answer to the
    // scan-bounded incremental floor; PlanSpec asserts the three partition
    // filters, this row grades that the layout never changes answers) ------
    "q_cdc_partitioned" -> ((s, dir) => {
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
        partitionPrune = Seq("orders", "lineitem", "customer").map { t =>
          val (_, w, pc) = graft.sources.Layout.keyPartitionSpec(s, s"$scratch/$t")
          t -> IncrementalEngine.PartitionPrune(pc, w)
        }.toMap
      ).process(changes, Lineage.empty(s))
    }),
    // ---- CDC at a key-partitioned MANY-TO-MANY layout: the far side's
    // touched partitions derive from the restricted through scan (the dim
    // pattern one hop out) — at 100 TB the through table is often the
    // biggest table in the tree, and this row grades that pruning it plus
    // its far side never changes answers. Output is the q_through projection
    // over the recompute-and-diff ops (byte-level doc parity across layouts
    // is PlanSpec's through-topology equality assertion). ------------------
    "q_cdc_through_partitioned" -> ((s, dir) => {
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
        partitionPrune = Seq("part", "lineitem", "supplier").map { t =>
          val (_, w, pc) = graft.sources.Layout.keyPartitionSpec(s, s"$scratch/$t")
          t -> IncrementalEngine.PartitionPrune(pc, w)
        }.toMap
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
    }),
    // ---- CDC at a HASH-BUCKETED layout with TEXT keys: key-range layouts
    // can't index uuid/text primary keys (the reference special-cases uuid
    // filters, querybuilder.py:81-98) — the hash layout buckets them by
    // pmod(xxhash64(key), n) and the affected-set derivation prunes with the
    // same bounded driver collect. The tables are re-keyed text derivations
    // of the base tables so the DuckDB oracle recomputes the same docs from
    // scratch; the prune specs come from sidecar AUTO-DISCOVERY (layoutRoot),
    // the zero-wiring production configuration. --------------------------
    "q_cdc_hashbucket" -> ((s, dir) => {
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
        layoutRoot = Some(scratch)
      ).process(changes, Lineage.empty(s))
    }),
    // ---- U1 plugin surface: per-doc rewrite + drop chain -------------------
    "q_plugin" -> ((s, dir) => {
      val docs = assembled(s, dir,
        """{"table": "orders", "columns": ["o_orderkey", "o_orderstatus"]}""")
        .select(col("_id"), col("o_orderkey"), col("o_orderstatus"))
      val dropper = new graft.transform.DocTransform {
        val name = "mod-dropper" // plugin.py:102-103: falsy return drops the doc
        def apply(doc: org.apache.spark.sql.Row): Option[org.apache.spark.sql.Row] =
          if (doc.getAs[Long]("o_orderkey") % 10 == 0) None else Some(doc)
      }
      graft.transform.Plugins(docs, Seq(dropper))
    }),
    // ---- dedup: exact (hash groupBy) ---------------------------------------
    "q_dedup_exact" -> ((s, dir) =>
      loader(s, dir)("documents")
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))),
    // ---- dedup: exact with quality-aware keep (best score wins, ties → min
    // id). The corpus has no byte-identical docs, so the query unions a
    // shifted copy: odd originals' copies score higher (copy must win), even
    // ones tie (original must win) — both arms of the policy are gated ------
    "q_dedup_keep_best" -> ((s, dir) => {
      val d = loader(s, dir)("documents").select(col("doc_id"), col("text"), col("n_chars"))
      val copy = d.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        col("text"),
        (col("n_chars") + pmod(col("doc_id"), lit(2))).as("n_chars")
      )
      Dedup.exactKeepBest(d.unionAll(copy), "doc_id", "text", col("n_chars"))
    }),
    // ---- text analysis: token count + quality ratios -----------------------
    "q_text_tokens" -> ((s, dir) =>
      loader(s, dir)("documents")
        .select(
          col("doc_id"),
          size(split(trim(col("text")), graft.expr.TextPrimitives.WsPlus)).cast("long").as("n_tokens")
        )),
    "q_text_bpe" -> ((s, dir) =>
      loader(s, dir)("documents")
        .select(col("doc_id"), TF.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"))),
    "q_pii" -> ((s, dir) =>
      loader(s, dir)("documents")
        .select(
          col("doc_id"),
          md5(TF.redactPii(col("text")).cast("binary")).as("redacted_md5"),
          TF.piiCount(col("text")).cast("long").as("n_pii")
        )),
    "q_text_repetition" -> ((s, dir) =>
      graft.functions.TermStats
        .repetition(loader(s, dir)("documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("dup_word_milli"), col("top_bigram_milli"))),
    "q_term_stats" -> ((s, dir) =>
      graft.functions.TermStats
        .topTerms(loader(s, dir)("documents"), "doc_id", "text", 3)
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("df"))),
    // ---- sparse retrieval: BM25 top-k over a term-filtered inverted view ---
    "q_bm25" -> ((s, dir) =>
      graft.functions.Retrieval
        .bm25TopK(loader(s, dir)("documents"), "doc_id", "text", "spark vector join query window", 25)
        .select(col("id").as("doc_id"), col("score_micro"), col("rank"))),
    // ---- batch BM25: a query WORKLOAD scored in one corpus pass ------------
    // queries are docs 0..2 used as free-text probes over the full corpus
    // (self-match allowed: the probe doc ranks itself first, deterministic)
    "q_bm25_batch" -> ((s, dir) => {
      val docs = loader(s, dir)("documents")
      graft.functions.Retrieval
        .bm25TopKBatch(
          docs, "doc_id", "text",
          docs.filter(col("doc_id") < 3), "doc_id", "text", 10)
    }),
    // ---- batch hybrid: workload BM25 + workload ANN fused per query --------
    // docs 0..2 probe by text AND by embedding; one sparse pass + one dense
    // pass + one per-qid fusion for the whole workload
    "q_hybrid_rrf_batch" -> ((s, dir) => {
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
    }),
    // ---- persisted BM25 index, split into its two cost shapes --------------
    // BUILD: tokenize the corpus once, write term-bucketed postings + the
    // doclens/impact sidecars. Graded on the log's counters (n_docs /
    // dl_sum are exact corpus facts the oracle recomputes).
    "q_bm25_index_build" -> ((s, dir) => {
      val docs = loader(s, dir)("documents")
      val idx = graft.util.TempDirs.scratch("bm25-index-build").toString
      graft.functions.Retrieval.writeBm25Index(docs, "doc_id", "text", idx)
      bm25Counters(s, idx)
    }),
    // PROBE: term-bucket partition-pruned workload probe of a PREBUILT
    // per-session index — steady-state probe latency, the regression signal
    // that matters (the build above is deliberately not in this timing).
    // Same scoring contract as q_bm25_batch, so the same oracle certifies it;
    // the probe reads ONLY the partitions the workload's terms hash into.
    "q_bm25_indexed" -> ((s, dir) => {
      val docs = loader(s, dir)("documents")
      graft.functions.Retrieval
        .bm25TopKIndexedBatch(bm25IndexFor(s, dir), docs.filter(col("doc_id") < 3), "doc_id", "text", 10)
    }),
    // PRUNED PROBE of the same prebuilt index: the impact-capped sidecar
    // bounds per-term probe volume at ImpactCap postings regardless of
    // corpus size — the 100 TB probe shape (the exact probe above reads
    // every matched posting and is corpus-proportional for frequent terms).
    // Common terms exceed the cap at every graded sf, so the oracle
    // genuinely grades the capped semantics: per-term top-cap by partial
    // impact (imp_micro DESC, id ASC), idf from the TRUE df.
    "q_bm25_pruned" -> ((s, dir) => {
      val docs = loader(s, dir)("documents")
      graft.functions.Retrieval
        .bm25TopKIndexedPrunedBatch(
          bm25IndexFor(s, dir), docs.filter(col("doc_id") < 3), "doc_id", "text", 10)
    }),
    // ---- chunking: fixed-size overlapping windows (map-side only) ----------
    "q_chunk" -> ((s, dir) =>
      graft.functions.Retrieval
        .chunk(loader(s, dir)("documents"), "doc_id", "text", 120, 24)
        .select(col("id").as("doc_id"), col("chunk_idx"), col("n_chunks"), col("chunk_len"), col("chunk_md5"))),
    // ---- duplicated-substring spans (Lee et al. 2022 signal) ---------------
    "q_dedup_span" -> ((s, dir) =>
      Dedup
        .duplicatedSpans(loader(s, dir)("documents"), "doc_id", "text", window = 16)
        .select(col("id").as("doc_id"), col("n_windows"), col("n_dup_windows"), col("dup_milli"))),
    // ---- maximal duplicated-span ranges (islands merge, cut-the-span form) -
    "q_dedup_span_ranges" -> ((s, dir) =>
      Dedup
        .duplicatedSpanRanges(loader(s, dir)("documents"), "doc_id", "text", window = 16)
        .select(col("id").as("doc_id"), col("span_start"), col("span_end"), col("span_tokens"))),
    // ---- incremental span dedup: new batch vs persisted gram index ---------
    "q_dedup_span_incr" -> ((s, dir) => {
      val d = loader(s, dir)("documents")
      Dedup
        .spansAgainstIndex(
          Dedup.spanGramIndex(d.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text"),
          d.filter(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id",
          "text"
        )
        .select(col("id").as("doc_id"), col("n_windows"), col("n_dup_windows"), col("dup_milli"))
    }),
    // ---- span removal: cut located duplicated spans, keep the page ---------
    "q_dedup_cut" -> ((s, dir) => {
      val docs = loader(s, dir)("documents")
      val spans = Dedup.duplicatedSpanRanges(docs, "doc_id", "text", window = 16)
      Dedup
        .cutSpans(docs, "doc_id", "text", spans)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_removed"), col("clean_md5"))
    }),
    // ---- unigram-LM surprisal quality score (CCNet-style, self-trained) ----
    "q_lm_score" -> ((s, dir) =>
      graft.functions.LanguageModel
        .unigramSurprisal(loader(s, dir)("documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("dl"), col("surprisal_micro"), col("mean_milli"))),
    // ---- exact per-group percentile report (value-compressed order stats) --
    "q_corpus_stats" -> ((s, dir) =>
      graft.functions.CorpusStats
        .exactPercentiles(loader(s, dir)("documents"), Seq("lang", "source"), "n_chars")),
    // ---- corpus subsampling / mixing ---------------------------------------
    "q_sample_hash" -> ((s, dir) =>
      graft.functions.Sampling
        .hashSample(loader(s, dir)("documents"), col("doc_id"), 0.2)
        .select(col("doc_id"), col("lang"))),
    "q_sample_stratified" -> ((s, dir) =>
      graft.functions.Sampling
        .stratifiedSample(
          loader(s, dir)("documents"),
          col("doc_id"),
          col("lang"),
          fractions = Map("en" -> 0.8, "zh" -> 0.25, "de" -> 1.0),
          defaultFraction = 0.1
        )
        .select(col("doc_id"), col("lang"))),
    "q_sample_quota" -> ((s, dir) =>
      graft.functions.Sampling
        .quota(
          loader(s, dir)("orders"),
          groupCols = Seq(col("o_orderstatus")),
          order = Seq(col("o_orderkey")),
          k = 100
        )
        .select(col("o_orderkey"), col("o_orderstatus"))),
    "q_text_quality" -> ((s, dir) =>
      loader(s, dir)("documents")
        .filter(length(col("text")) > 0)
        .select(
          col("doc_id"),
          TF.meanWordLenC(col("text")).as("mean_wlen_c"),
          TF.spaceRatioC(col("text")).as("space_ratio_c")
        )),
    // ---- CCNet-style per-language perplexity strata (Wenzek et al. 2020) ---
    "q_lm_buckets" -> ((s, dir) =>
      graft.functions.LanguageModel
        .perplexityBuckets(loader(s, dir)("documents"), "doc_id", "text", "lang")
        .select(col("id").as("doc_id"), col("lang"), col("mean_milli"), col("bucket"))),
    // ---- interpolated bigram LM surprisal (word-salad catcher) -------------
    "q_lm_bigram" -> ((s, dir) =>
      graft.functions.LanguageModel
        .bigramSurprisal(loader(s, dir)("documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"), col("surprisal_micro"), col("mean_milli"))),
    // ---- DSIR importance resampling toward a target slice (Xie et al. 2023)
    "q_dsir" -> ((s, dir) =>
      graft.functions.Dsir
        .resample(loader(s, dir)("documents"), "doc_id", "text", col("lang") === "en", k = 100)
        .select(col("id").as("doc_id"), col("weight_micro"), col("score_micro"), col("rank"))),
    // ---- model-based quality filter: hashed linear classifier inference ----
    // (fastText shape, Joulin et al. 2016; portable md5 twin for the oracle)
    "q_classifier" -> ((s, dir) =>
      graft.functions.Classifier
        .scorePortable(loader(s, dir)("documents"), col("doc_id"), col("text"))),
    // ---- quality: the Gopher rule gate (integer-exact signals + verdict) ---
    "q_quality_gopher" -> ((s, dir) =>
      graft.functions.QualityRules
        .gopher(loader(s, dir)("documents"), "doc_id", "text")),
    "q_quality_repetition" -> ((s, dir) =>
      graft.functions.QualityRules
        .repetition(loader(s, dir)("documents"), "doc_id", "text")),
    "q_quality_c4" -> ((s, dir) =>
      graft.functions.QualityRules
        .c4(loader(s, dir)("documents"), "doc_id", "text")),
    // all three gates fused into ONE corpus scan + one tokenization
    // (graft.expr.QualitySignals); a curation pipeline's single-pass filter
    "q_quality_all" -> ((s, dir) =>
      graft.functions.QualityRules
        .all(loader(s, dir)("documents"), "doc_id", "text")),
    // ---- text analysis: language-ID + fingerprint --------------------------
    "q_text_langid" -> ((s, dir) =>
      loader(s, dir)("documents")
        .select(col("doc_id"), TF.langId(col("text")).as("lang_pred"))),
    "q_fingerprint" -> ((s, dir) =>
      loader(s, dir)("documents")
        .select(col("doc_id"), TF.fingerprint(col("text")).as("fpr"))),
    // ---- dedup: MinHash+LSH / SimHash. Graded through the engine-portable
    // md5 hash family, so the oracle recomputes the ENTIRE pipeline
    // (shingle → signature → band → bucket-join → exact verify) bit-for-bit
    // in DuckDB; the cheaper xxhash64 production defaults stay spec-verified
    // (DedupSpec property tests vs exact Jaccard / pigeonhole recall) -------
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLshPortable(loader(s, dir)("documents"), "doc_id", "text", threshold = 0.3)),
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPortable(loader(s, dir)("documents"), "doc_id", "text", maxHamming = 3)),
    // ---- dedup: exact n-gram Jaccard via inverted index --------------------
    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccard(loader(s, dir)("documents"), "doc_id", "text", threshold = 0.2)),
    // ---- decontamination: probe containment against the corpus -------------
    "q_decontaminate" -> ((s, dir) => {
      val docs = loader(s, dir)("documents")
      Dedup.containment(
        docs, "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(20)) === 0), "doc_id", "text",
        threshold = 0.3
      )
    }),
    // ---- decontamination at eval-suite scale: Bloom-filter prefilter ------
    // identical output to q_decontaminate by construction (Bloom false
    // positives are discarded by the exact postings join), so the same
    // oracle certifies it — what changes is the broadcast: a fixed-size
    // filter binary instead of the probe shingle set itself
    "q_decontaminate_bloom" -> ((s, dir) => {
      val docs = loader(s, dir)("documents")
      Dedup.containmentBloom(
        docs, "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(20)) === 0), "doc_id", "text",
        threshold = 0.3
      )
    }),
    // ---- CCNet line dedup: first-occurrence-wins cross-doc boilerplate cut -
    // the synthetic docs are single-line, so the graded query constructs
    // 2-line documents deterministically (doc i's text + '\n' + doc i+7's)
    // on BOTH engines — every original line then occurs in two constructed
    // docs and the keeper election is exercised across docs and positions
    "q_dedup_lines" -> ((s, dir) => {
      val d = loader(s, dir)("documents").select(col("doc_id"), col("text"))
      val multi = d.as("a")
        .join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 7)
        .select(
          col("a.doc_id").as("doc_id"),
          concat_ws("\n", col("a.text"), col("b.text")).as("text"))
      Dedup.dedupLines(multi, "doc_id", "text")
    }),
    // ---- hybrid retrieval: RRF fusion of a sparse (BM25) + dense (ANN) run -
    // query-by-example: doc 0 is the probe — its text drives the BM25 run,
    // its embedding the dense run (documents.doc_id aligns 1:1 with
    // embeddings.vec_id in the testdata); the probe doc itself is excluded
    // from both runs. The probe text is a one-row driver lookup by contract.
    "q_hybrid_rrf" -> ((s, dir) => {
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
    }),
    // ---- cluster-balanced curation: per-cell quota in portable hash order -
    "q_sample_cluster" -> ((s, dir) =>
      Ann.clusterBalancedSample(
          loader(s, dir)("embeddings"), "vec_id", "embedding", perCell = 10, nlists = 8)
        .select(col("cid").as("vec_id"), col("cell"))),
    // ---- dedup: embedding cosine (exact pair scan — VERIFICATION PATH ONLY;
    // quadratic, never run at scale; kept under the oracle as the ground
    // truth the LSH path is judged against) ----------------------------------
    "q_dedup_embed" -> ((s, dir) =>
      Dedup.embeddingCosineExact(loader(s, dir)("embeddings"), "vec_id", "embedding", 0.4)),
    // ---- dedup: embedding cosine LSH (THE scale path: hyperplane buckets →
    // exact cosine verify; oracle recomputes the same deterministic bucket
    // keys, so the 100 TB-safe plan is the hash-checked one) -----------------
    "q_dedup_embed_lsh" -> ((s, dir) =>
      Dedup.embeddingCosine(loader(s, dir)("embeddings"), "vec_id", "embedding", 0.4)),
    // ---- dedup: semantic (SemDeDup — k-means cells confine the pair space;
    // refine=0 keeps data-seeded centroids so DuckDB replays assignment,
    // capped pairing, and the exact cosine verify; the Lloyd path (refine≥1,
    // production default) is spec-covered like IVF's). GRADED at AutoNlists,
    // the scale-safe configuration: cells grow with the corpus
    // (ceil(n/512)), holding per-cell pair work constant — the fixed-nlists
    // form measured 17.8× at 10× data in the sf0.1→sf1 rehearsal because
    // the verify stage is quadratic IN CELL SIZE. The cell-count derivation
    // is deterministic, so the oracle replays it from its own count(*). ------
    "q_dedup_semantic" -> ((s, dir) =>
      Dedup.semantic(
        loader(s, dir)("embeddings"), "vec_id", "embedding",
        threshold = 0.4, nlists = Dedup.AutoNlists, refine = 0)),
    // ---- curation report: per-cluster size + cosine tightness over the
    // same coarse cells (refine=0 → oracle-replayable, like q_ann_ivf) -------
    "q_cluster_stats" -> ((s, dir) =>
      Ann.clusterStats(
        loader(s, dir)("embeddings"), "vec_id", "embedding",
        nlists = 16, refine = 0)),
    // ---- similarity search: brute-force top-k + IVF scale path -------------
    "q_ann_topk" -> ((s, dir) => {
      val e = loader(s, dir)("embeddings")
      Ann.bruteForceTopK(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", 10)
    }),
    // int8-quantized ANN: codes are 4× smaller than float32 through every
    // scan/shuffle, and cosine over codes equals cosine over dequantized
    // vectors (per-vector scale cancels) — the ranking runs directly on the
    // tinyint arrays through the same native codegen cosine. Code dot
    // products are exact integers (≤ 64·127² ≪ 2^53), so DuckDB replays the
    // quantization + ranking bit-for-bit.
    "q_ann_quantized" -> ((s, dir) => {
      import graft.functions.{VectorFunctions => VF}
      val codes = loader(s, dir)("embeddings")
        .select(col("vec_id"), VF.quantizeInt8(col("embedding")).getField("q").as("embedding"))
      Ann.bruteForceTopK(
        codes, codes.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", 10)
    }),
    // binary (sign-bit) quantization + Hamming candidate scan + exact
    // cosine rerank: the third quantization tier after float32 (q_ann_topk)
    // and int8 (q_ann_quantized) — the candidate scan reads 8 bytes/vector
    // at dim 64 and runs pure integer xor+popcount codegen; true vectors
    // are read for the 4k survivors only. Hamming is an exact integer and
    // both stages tie-break by id, so DuckDB replays the funnel exactly.
    "q_ann_binary" -> ((s, dir) => {
      val e = loader(s, dir)("embeddings")
      Ann.binaryTopK(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", 10,
        dim = 64)
    }),
    // Matryoshka prefix ANN (Kusupati et al. 2022): candidates ranked by
    // cosine over the leading 16 of 64 dims (4× narrower scan), exact
    // full-dim rerank on the 4k survivors only
    "q_ann_matryoshka" -> ((s, dir) => {
      val e = loader(s, dir)("embeddings")
      Ann.matryoshkaTopK(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", 10,
        prefixDim = 16)
    }),
    // graded with refine=0: the coarse centroids are then exactly the first
    // nlists corpus vectors (data, not a trained model), so DuckDB rebuilds
    // the identical cell assignment, probe selection, and per-cell ranking —
    // the full IVF structure is hash-checked. Lloyd refinement (refine>=1,
    // the production default) stays covered by the IVF recall spec: its
    // centroid means are float reductions whose exact bits are
    // summation-order-dependent, which no external oracle can replay.
    "q_ann_ivf" -> ((s, dir) => {
      val e = loader(s, dir)("embeddings")
      Ann.ivfTopK(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", 10,
        refine = 0)
    }),
    // product quantization at refine=0: codebooks are subspace slices of the
    // first 16 corpus vectors, so the oracle rebuilds codes + reconstruction
    "q_ann_pq" -> ((s, dir) => {
      val e = loader(s, dir)("embeddings")
      Ann.pqTopKEndToEnd(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", 10)
    }),
    // IVF-PQ composition: cells prune the scan, codes compress it
    "q_ann_ivfpq" -> ((s, dir) => {
      val e = loader(s, dir)("embeddings")
      Ann.ivfPqTopK(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", 10)
    }),
    // residual IVF-PQ (the full Jégou design): codes quantize v − centroid,
    // reconstruction adds the centroid back — finer at equal budget
    "q_ann_ivfpq_residual" -> ((s, dir) => {
      val e = loader(s, dir)("embeddings")
      Ann.ivfPqResidualTopK(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", 10)
    }),
    // two-stage PQ: approximate candidates from codes, exact rerank on the
    // candidate set only (true-vector reads are candidate-bounded)
    "q_ann_pq_rerank" -> ((s, dir) => {
      val e = loader(s, dir)("embeddings")
      val books = Ann.pqTrain(e, "vec_id", "embedding")
      Ann.pqTopKRefined(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", 10, books)
    }),
    // the zero-training LSH-bucketed ANN variant (plan-time hyperplane
    // literals, so the oracle rebuilds the buckets exactly)
    "q_ann_lsh" -> ((s, dir) => {
      val e = loader(s, dir)("embeddings")
      Ann.lshTopK(
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding", "vec_id", "embedding", 10)
    }),
    // ---- geo columns: WKT → geo_point/geo_shape (examples/geo topology) ----
    // builds WKT strings from exact-decimal lat/lon derived from customer
    // keys, round-trips them through the codegen geo parsers, and projects
    // scalars the oracle recomputes arithmetically — the parse path itself
    // is what's under the hash
    "q_geo" -> ((s, dir) => {
      import graft.functions.{GeoFunctions => GF}
      val c = loader(s, dir)("customer").filter(col("c_custkey") <= 1000)
      val lat = (col("c_custkey") % 180).cast("double") - 90.0 + 0.25
      val lon = ((col("c_nationkey") * 7) % 360).cast("double") - 180.0 + 0.5
      val s1 = lit(" ")
      val pointWkt =
        concat(lit("POINT ("), lon.cast("string"), s1, lat.cast("string"), lit(")"))
      val polyWkt = concat(
        lit("POLYGON (("),
        lon.cast("string"), s1, lat.cast("string"), lit(", "),
        (lon + 1.0).cast("string"), s1, lat.cast("string"), lit(", "),
        (lon + 1.0).cast("string"), s1, (lat + 1.0).cast("string"), lit(", "),
        lon.cast("string"), s1, (lat + 1.0).cast("string"), lit(", "),
        lon.cast("string"), s1, lat.cast("string"), lit("))")
      )
      val pt = GF.geoPointFromWkt(pointWkt)
      val shp = GF.geoShapeFromWkt(polyWkt)
      val ring = shp.getField("coordinates").getItem(0)
      c.select(
        col("c_custkey"),
        round(pt.getField("lat") * 100).cast("long").as("lat_e2"),
        round(pt.getField("lon") * 100).cast("long").as("lon_e2"),
        shp.getField("type").as("shape_type"),
        size(shp.getField("coordinates")).cast("long").as("n_rings"),
        size(ring).cast("long").as("ring_points"),
        round(aggregate(ring, lit(0.0), (acc, p) => acc + p.getItem(0)) * 100)
          .cast("long").as("ring_lon_sum_e2")
      )
    }),
    // ---- event analytics: tumbling windows + gap sessionization ------------
    "q_events_window" -> ((s, dir) =>
      graft.streaming.EventAnalytics.windowedCounts(loader(s, dir)("events"), "1 hour")),
    "q_events_sessions" -> ((s, dir) =>
      graft.streaming.EventAnalytics.sessionizeBatch(loader(s, dir)("events"), 3600L)),
    // the STATEFUL streaming form under the same oracle: a deterministic
    // file-stream replay through flatMapGroupsWithState (event-time state,
    // sentinel flush) must emit the exact sessions the batch form computes
    "q_events_sessions_stream" -> ((s, dir) =>
      graft.streaming.EventAnalytics.sessionizeReplay(loader(s, dir)("events"), 3600L)),
    // ---- multimodal: mixed REAL-bytes corpus, kind-dispatched decode -------
    // each doc_id carries ONE real container (PNG / WAV / animated GIF by
    // id % 3) and a single pass routes every row to its kind's JDK codec —
    // the oracle replays each kind's exact integer feature arithmetically
    // (pixel sum / PCM sum of squares / summed sampled-frame means), so the
    // mixed-modality dispatch AND all three codec round trips are graded at
    // corpus scale in one gate
    "q_multimodal" -> ((s, dir) =>
      Multimodal
        .mixedFeatures(
          Multimodal.mixedMediaCorpus(loader(s, dir)("documents").select(col("doc_id")), "doc_id"))
        .toDF()
        .select(col("id").as("doc_id"), col("kind"), col("ok"), col("units"), col("feature"))),
    // ---- image → grid embedding → persisted ANN index → probe --------------
    // the full multimodal-retrieval composition under one hash: synthetic
    // PNGs at corpus scale through the real codec, 4x4 integer grid
    // signatures as embeddings, LSH-bucketed persisted index, Hamming-1
    // probe. The oracle replays the signature arithmetic AND the bucket
    // assignment AND the exact cosine ranks externally.
    "q_image_ann" -> ((s, dir) => {
      val sigs = Multimodal
        .imageGridSignatures(
          Multimodal.syntheticImages(loader(s, dir)("documents").select(col("doc_id")), "doc_id"),
          grid = 4)
        .select(col("id"), col("sig").cast("array<double>").as("embedding"))
      val idx = graft.util.TempDirs.scratch("image-ann-index").toString
      Ann.writeLshIndex(sigs, idx, "id", "embedding", planes = 6, dim = 16)
      Ann.lshTopKIndexed(idx, sigs.filter(col("id") < 5), "id", "embedding", 10,
        planes = 6, dim = 16)
    }),
    // REAL image decode (javax.imageio) over the committed fixture images +
    // one corrupt row: dimensions/bands/pixel-sums graded against the
    // fixtures' generation-time ground truth (the oracle is a VALUES table
    // of known constants, not a re-run of the decoder). Sentinel -1 /
    // 'undecodable' instead of NULL keeps the comparison representation-
    // stable across engines.
    "q_image_decode" -> ((s, dir) => {
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
    }),
    // REAL image embedding: 4x4 grid-pooled intensity signature in exact
    // integer micro-units over the PNG fixtures (lossless ⇒ the expected
    // vectors are constants derivable from the fixture pixel formula —
    // FIXTURES.md §C); the JPEG is excluded (lossy pixels are decoder-
    // version facts, not portable ground truth)
    "q_image_embed" -> ((s, dir) =>
      Multimodal
        .imageGridSignatures(
          Multimodal.fixtureImages(s).filter(col("name").endsWith(".png")), grid = 4)
        .select(col("id"), concat_ws(",", col("sig")).as("sig"))),
    // image pipeline at CORPUS scale: one real 16x16 PNG per document row,
    // generated distributed, pushed through the real codec (encode → decode
    // → 4x4 grid pooling). The oracle replays the expected signatures as
    // pure integer arithmetic from the pixel formula — so the whole
    // ImageIO round trip is externally graded at data size, not just on
    // five fixtures
    "q_image_pipeline" -> ((s, dir) =>
      Multimodal
        .imageGridSignatures(
          Multimodal.syntheticImages(loader(s, dir)("documents").select(col("doc_id")), "doc_id"),
          grid = 4)
        .select(col("id").as("doc_id"), concat_ws(",", col("sig")).as("sig"))),
    // audio pipeline at CORPUS scale (the audio twin of q_image_pipeline):
    // one real 16-bit PCM WAV per document row through the JDK's
    // javax.sound codec — encode → decode → exact integer features; the
    // oracle replays sum-of-squares/peak arithmetically from the sample
    // formula, so the WAV round trip is externally graded at data size
    "q_audio_pipeline" -> ((s, dir) =>
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
        )),
    // frame sampling at CORPUS scale (the video-shaped leg): one real
    // 12-frame animated GIF per document row through the JDK codec —
    // container open → frame count → 4 evenly-spaced frame decodes →
    // per-frame mean; grayscale palette frames round-trip exactly, so the
    // oracle replays the sampled means arithmetically
    "q_video_pipeline" -> ((s, dir) =>
      graft.multimodal.Video
        .sampleFrameMeans(graft.multimodal.Video.syntheticClips(
          loader(s, dir)("documents").select(col("doc_id")), "doc_id"), n = 4)
        .toDF()
        .select(col("id").as("doc_id"), col("frame_idx"), col("mean_micro"))),
    // ---- sequence packing: docs → fixed token-budget training sequences ----
    // concatenate-and-chunk semantics (pure prefix sum — carries the oracle);
    // 8 streams salted by id, whitespace token counts, 512-token packs
    "q_pack" -> ((s, dir) =>
      graft.functions.Packing
        .pack(
          loader(s, dir)("documents"),
          col("doc_id"),
          size(split(trim(col("text")), graft.expr.TextPrimitives.WsPlus)).cast("long"),
          pmod(col("doc_id"), lit(8)),
          col("doc_id"),
          budget = 512L
        )
        .withColumnRenamed("id", "doc_id")),
    "q_pack_stats" -> ((s, dir) =>
      graft.functions.Packing.packStats(
        graft.functions.Packing.pack(
          loader(s, dir)("documents"),
          col("doc_id"),
          size(split(trim(col("text")), graft.expr.TextPrimitives.WsPlus)).cast("long"),
          pmod(col("doc_id"), lit(8)),
          col("doc_id"),
          budget = 512L
        ),
        budget = 512L
      )),
    // whole-document first-fit (docs never split): the pack boundary depends
    // on the running fill, not a prefix sum — a window can't express it, but
    // a recursive CTE CAN: the oracle walks each part's doc sequence one
    // rank per iteration, carrying (pack_id, fill) state, all parts
    // advancing in parallel rows. PackingSpec keeps the invariant tests.
    "q_pack_greedy" -> ((s, dir) =>
      graft.functions.Packing
        .packGreedy(
          loader(s, dir)("documents"),
          col("doc_id"),
          size(split(trim(col("text")), graft.expr.TextPrimitives.WsPlus)).cast("long"),
          pmod(col("doc_id"), lit(8)),
          col("doc_id"),
          budget = 512L
        )
        .withColumnRenamed("id", "doc_id")),
    // ---- corpus mixing by TOKEN budget (chars stand in for tokens here):
    // fill each lang's budget in md5-hash order of the key --------------------
    "q_mix_budget" -> ((s, dir) =>
      graft.functions.Sampling
        .tokenBudget(
          loader(s, dir)("documents"),
          col("doc_id"),
          col("lang"),
          col("n_chars"),
          budgets = Map("en" -> 30000L, "zh" -> 10000L),
          defaultBudget = 15000L
        )
        .select(col("doc_id"), col("lang"), col("n_chars"))),
    // ---- corpus mixing by TEMPERATURE (α=0.5): targets computed from the
    // stratum counts themselves, integer-exact end to end ---------------------
    "q_mix_temperature" -> ((s, dir) =>
      graft.functions.Sampling
        .temperatureMix(
          loader(s, dir)("documents"),
          col("doc_id"),
          col("source"),
          budget = 300L
        )
        .select(col("doc_id"), col("source"))),
    // ---- incremental dedup: new batch (odd ids) vs persisted corpus index
    // (even ids) — the steady-state shape at 100 TB: the corpus is never
    // rescanned, the batch joins the digest / band-key index ------------------
    "q_dedup_incr" -> ((s, dir) => {
      val d = loader(s, dir)("documents")
      Dedup.exactIncremental(
        Dedup.exact(d.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text")
          .select(col("h"), col("keep_id")),
        d.filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id",
        "text"
      )
    }),
    "q_dedup_minhash_incr" -> ((s, dir) => {
      val d = loader(s, dir)("documents")
      Dedup.minhashLshIncrementalPortable(
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        d.filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id",
        "text",
        threshold = 0.3
      )
    }),
    // ---- incremental cluster maintenance: documents arrive in 3 batches,
    // each batch's near-dup pairs feed the persisted union-find
    // (graft.dedup.ClusterMap: bucketed member rows + log-structured
    // downward merge pointers); the final assignment must equal the batch
    // CC over the cumulative pair list. Portable md5 pair family → the
    // oracle replays pairs + a recursive-CTE transitive closure ------------
    "q_dedup_cluster_incr" -> ((s, dir) => clusterIncr(s, dir)),
    // ---- the same clusters maintained by the STREAMING path: persisted
    // signature index probes + restricted-scan Jaccard verify feeding the
    // union-find (ClusterStream) — oracle shared with q_dedup_cluster_incr,
    // since the composed path must reach the identical fixpoint ------------
    "q_cluster_stream" -> ((s, dir) => clusterStream(s, dir)),
    // ---- the no-split contract's escape hatch under the oracle: seed the
    // union-find from the full portable pair set, DELETE every
    // doc_id % 7 == 3 (bridge docs vanish — union-find cannot un-merge, so
    // true splits need the rebuild), then ClusterMap.rebuild from the
    // SURVIVING pair set + live ids through the reader-safe generation
    // swap. Hashed against the recursive-CTE CC over the surviving pairs —
    // the one operation that can SHRINK components, previously spec-only --
    "q_cluster_rebuild" -> ((s, dir) => {
      val d = loader(s, dir)("documents")
      val path = graft.util.TempDirs.scratch("cluster-rebuild-q").toString
      graft.dedup.ClusterMap.init(s, path, buckets = 16)
      val pairs = graft.dedup.Dedup
        .minhashLshPortable(d, "doc_id", "text", threshold = 0.3)
        .select(col("id_a"), col("id_b"))
        .cache()
      try {
        graft.dedup.ClusterMap.applyBatch(s, path, pairs, d.select(col("doc_id").as("id")))
        val live = d.filter(pmod(col("doc_id"), lit(7)) =!= 3).select(col("doc_id").as("id"))
        val surviving = pairs.filter(
          pmod(col("id_a"), lit(7)) =!= 3 && pmod(col("id_b"), lit(7)) =!= 3)
        graft.dedup.ClusterMap.rebuild(s, path, surviving, live)
        graft.dedup.ClusterMap
          .assignments(s, path)
          .select(col("id").as("doc_id"), col("root").as("keep_id"))
      } finally {
        pairs.unpersist()
        // the pair operator's own eager checkpoint (under the cache above)
        try org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(pairs)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }),
    // ---- top-k per group: bounded-heap aggregate, not a window sort --------
    "q_topk_per_group" -> ((s, dir) =>
      graft.functions.Analytics.topKPerGroup(
        loader(s, dir)("events"),
        Seq("user_id"),
        col("value"),
        col("event_id"),
        k = 3
      )),
    // ---- as-of join: last click at-or-before each purchase (attribution) ---
    "q_asof_attribution" -> ((s, dir) => {
      val ev = loader(s, dir)("events")
      val purchases = ev
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = ev
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      graft.functions.Analytics
        .asOfJoin(
          purchases,
          clicks,
          leftOn = Seq("user_id"),
          rightOn = Seq("user_id"),
          leftTime = "ts",
          rightTime = "click_ts",
          rightPayload = Seq("click_id", "click_ts"),
          rightTie = "click_id"
        )
        .select(col("event_id"), col("user_id"), col("value"), col("click_id"), col("click_ts"))
    }),
    // ---- ordered funnel over the event stream ------------------------------
    "q_funnel" -> ((s, dir) =>
      graft.functions.Analytics.funnel(
        loader(s, dir)("events"),
        "user_id",
        "event_type",
        "ts",
        Seq("view", "click", "signup", "purchase")
      )),
    // ---- one-scan column profile (exact; HLL twin is spec-graded) ----------
    "q_profile" -> ((s, dir) =>
      graft.functions.Profiler.profile(
        loader(s, dir)("documents"),
        Seq("doc_id", "lang", "source", "n_chars")
      )),
    // ---- end-to-end curation pipeline: fused quality gate → exact dedup →
    // hash sample → per-lang budget report, all composed from the graded
    // operators in ONE plan (what a real curation run executes). The gate
    // keeps repetition-clean docs (the English-stopword/sentence gates are
    // vacuous-false on this synthetic corpus; repetition is the signal that
    // actually discriminates here, and the full struct still computes) ------
    "q_curation_pipeline" -> ((s, dir) => {
      import graft.functions.{QualityRules, Sampling}
      val docs = loader(s, dir)("documents")
      // the quality gate CARRIES text through its signal projection
      // (keep = text), so the dedup hash fuses into the same corpus pass —
      // the previous shape re-joined `docs` by id to recover text, a second
      // full scan+shuffle of the corpus (guide §6; doc_id is the table's
      // primary key, so filter-on-flag ≡ the old join-on-passed-ids row set
      // and keep_id/sample/report are byte-identical — oracle-checked)
      val kept = QualityRules
        .all(docs, "doc_id", "text", keep = Seq("text"))
        .filter(col("pass_repetition"))
        .select(col("doc_id"), col("text"))
      val keepers = graft.dedup.Dedup.exact(kept, "doc_id", "text").select(col("keep_id"))
      val sampled = Sampling
        .hashSample(keepers, col("keep_id"), 0.5)
        .withColumnRenamed("keep_id", "doc_id")
      docs
        .join(sampled, "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),
    // ---- range join: clicks within 10 min before each error (banded) -------
    "q_range_join" -> ((s, dir) => {
      val ev = loader(s, dir)("events")
      val errors = ev
        .filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"), col("ts"))
      val clicks = ev
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      val pairs = graft.functions.Analytics.rangeJoin(
        errors, clicks,
        leftOn = Seq("user_id"), rightOn = Seq("user_id"),
        leftTime = "ts", rightTime = "click_ts",
        loMicros = -600000000L, hiMicros = 0L,
        rightPayload = Seq("click_id")
      )
      val counts = pairs.groupBy(col("error_id")).agg(count(lit(1)).as("n"))
      errors
        .select(col("error_id"))
        .join(counts, Seq("error_id"), "left")
        .select(col("error_id"), coalesce(col("n"), lit(0L)).as("n_clicks"))
    }),
    // ---- weighted sample without replacement (Efraimidis–Spirakis) ---------
    "q_weighted_sample" -> ((s, dir) =>
      graft.functions.Sampling.weightedSample(
        loader(s, dir)("documents"),
        Seq("lang"),
        col("doc_id"),
        col("n_chars"),
        k = 5
      )),
    // ---- Z-order layout: clustered write, multi-column box scan ------------
    "q_zorder_scan" -> ((s, dir) =>
      graft.sources.Layout.zorderScan(
        loader(s, dir)("lineitem")
          .select(
            col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_suppkey"), col("l_quantity")
          ),
        Seq("l_partkey", "l_suppkey"),
        targetFiles = 16,
        col("l_partkey").between(5, 120) && col("l_suppkey").between(2, 8)
      )),
    // ---- ROLLUP: region→nation revenue with subtotal + grand-total rows ----
    "q_rollup" -> ((s, dir) => {
      val load = loader(s, dir)
      load("orders")
        .join(broadcast(load("customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(load("nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(load("region")), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).cast("long").as("revenue_cents")
        )
    }),
    // ---- distinct-n diversity per source -----------------------------------
    "q_ngram_diversity" -> ((s, dir) =>
      graft.functions.CorpusStats.ngramDiversity(
        loader(s, dir)("documents"), "source", "text", n = 3
      )),
    // ---- Zipf frequency-of-frequencies spectrum ----------------------------
    "q_freq_spectrum" -> ((s, dir) =>
      graft.functions.CorpusStats.frequencySpectrum(loader(s, dir)("documents"), "text")),
    // ---- BPE tokenizer: train (one corpus scan + driver merge loop over the
    // word-TYPE table) then encode (codegen'd map-side expression). Oracled:
    // the DuckDB replay re-runs the ENTIRE training loop as a recursive CTE
    // (one iteration per merge: argmax pair by (count DESC, pair ASC) over
    // the evolving word-type symbol table, applied via a boundary-safe
    // list_reduce fold) and derives per-word token counts from the final
    // symbol table — valid because greedy lowest-rank-first encoding of a
    // corpus word equals rank-order merge application to its type entry
    // (a pair (x, a+b) is always learned after (a, b), so no lower-rank
    // pair can appear mid-encode). BpeSpec keeps the differential tests. ----
    "q_bpe_tokens" -> ((s, dir) => {
      import graft.functions.Bpe
      val docs = loader(s, dir)("documents")
      val merges = Bpe.train(docs, "text", Bpe.Config(numMerges = 200))
      docs.select(col("doc_id"), Bpe.tokenCount(col("text"), merges).as("n_tokens"))
    })
  )

  // shared by q_decontaminate and q_decontaminate_bloom (identical output
  // contracts; only the prefilter transport differs engine-side)
  private val decontaminateSql =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                                               i -> array_to_string(toks[i:i+2], ' '))) AS shingles
                FROM t WHERE len(toks) > 0),
         p AS (SELECT doc_id AS probe_id, shingles FROM sh WHERE doc_id % 20 = 0),
         psz AS (SELECT probe_id, len(shingles) AS pn FROM p),
         cpost AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         ppost AS (SELECT probe_id, unnest(shingles) AS s FROM p),
         inter AS (
           SELECT c.doc_id, q.probe_id, count(*) AS inter
           FROM cpost c JOIN ppost q ON c.s = q.s AND c.doc_id <> q.probe_id
           GROUP BY c.doc_id, q.probe_id)
         SELECT i.doc_id, i.probe_id,
                CAST(round(1000.0 * i.inter / z.pn) AS BIGINT) AS containment_milli
         FROM inter i JOIN psz z USING (probe_id)
         WHERE CAST(i.inter AS DOUBLE) / z.pn >= 0.3"""

  // shared by q_bm25_batch (in-memory workload plan) and q_bm25_indexed
  // (persisted term-bucket index probe): identical scoring contracts.
  // The q_bm25 replay generalized to a query set: per-query distinct terms,
  // shared corpus stats, rank partitioned by qid.
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

  // shared by q_quality_all and q_curation_pipeline (which composes it
  // as a CTE): the fused-gate verdict replay.
  private val qualityAllSql: String =
      // the three gate oracles above composed over ONE shared tokenization
      // CTE and joined on doc_id — replaying the fused QualitySignals
      // struct + the three verdicts + their conjunction
      """WITH d AS (
           SELECT doc_id, text,
                  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> length(x) > 0) AS w,
                  string_split(text, chr(10)) AS lines,
                  regexp_split_to_array(text, '\n{2,}') AS paras
           FROM documents),
         gsig AS (
           SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             CAST(CASE WHEN text IS NULL THEN NULL
                       ELSE coalesce(list_sum(list_transform(w, x -> length(x))), 0) END AS BIGINT) AS word_chars,
             CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
             CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]'))) AS BIGINT) AS bullet_lines,
             CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS BIGINT) AS ellipsis_lines,
             CAST((length(text) - length(replace(text, '#', '')))
                  + (length(text) - length(replace(text, '…', '')))
                  + (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS symbol_count,
             CAST(CASE WHEN text IS NULL THEN NULL ELSE
                    (CASE WHEN list_contains(w, 'the') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'be') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'to') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'of') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'and') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'that') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'have') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'with') THEN 1 ELSE 0 END) END AS BIGINT) AS stop_hits
           FROM d),
         lc AS (
           SELECT doc_id, CAST(coalesce(sum((c - 1) * length(line)), 0) AS BIGINT) AS dup_line_chars
           FROM (SELECT doc_id, line, count(*) AS c
                 FROM (SELECT doc_id, unnest(lines) AS line FROM d) GROUP BY doc_id, line)
           GROUP BY doc_id),
         pc AS (
           SELECT doc_id, CAST(coalesce(sum((c - 1) * length(para)), 0) AS BIGINT) AS dup_para_chars
           FROM (SELECT doc_id, para, count(*) AS c
                 FROM (SELECT doc_id, unnest(paras) AS para FROM d) GROUP BY doc_id, para)
           GROUP BY doc_id),
         g2 AS (
           SELECT doc_id, CAST(max(CASE WHEN c >= 2 THEN c * length(gram) END) AS BIGINT) AS top2_chars
           FROM (SELECT doc_id, gram, count(*) AS c
                 FROM (SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
                       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM d))
                 GROUP BY doc_id, gram)
           GROUP BY doc_id),
         g3 AS (
           SELECT doc_id, CAST(max(CASE WHEN c >= 2 THEN c * length(gram) END) AS BIGINT) AS top3_chars
           FROM (SELECT doc_id, gram, count(*) AS c
                 FROM (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
                       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM d))
                 GROUP BY doc_id, gram)
           GROUP BY doc_id),
         c4lc AS (
           SELECT doc_id,
                  CAST(coalesce(sum(CASE WHEN regexp_matches(line, '[.!?"]\s*$') THEN 1 ELSE 0 END), 0) AS BIGINT) AS terminal_lines,
                  CAST(coalesce(sum(CASE WHEN len(list_filter(regexp_split_to_array(line, '\s+'), x -> length(x) > 0)) < 3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS short_lines,
                  CAST(coalesce(sum(CASE WHEN regexp_matches(line, '\b[jJ][aA][vV][aA][sS][cC][rR][iI][pP][tT]\b') THEN 1 ELSE 0 END), 0) AS BIGINT) AS js_lines
           FROM (SELECT doc_id, unnest(lines) AS line FROM d)
           GROUP BY doc_id),
         sig AS (
           SELECT d.doc_id,
                  CAST(length(d.text) AS BIGINT) AS n_chars_t,
                  CAST(len(d.lines) AS BIGINT) AS n_lines,
                  gsig.n_words, gsig.word_chars, gsig.alpha_words,
                  gsig.bullet_lines, gsig.ellipsis_lines, gsig.symbol_count, gsig.stop_hits,
                  CAST(len(d.lines) - len(list_distinct(d.lines)) AS BIGINT) AS dup_lines,
                  lc.dup_line_chars,
                  CAST(len(d.paras) AS BIGINT) AS n_paras,
                  CAST(len(d.paras) - len(list_distinct(d.paras)) AS BIGINT) AS dup_paras,
                  pc.dup_para_chars,
                  CASE WHEN d.text IS NULL THEN NULL
                       ELSE coalesce(g2.top2_chars, 0) END AS top2_chars,
                  CASE WHEN d.text IS NULL THEN NULL
                       ELSE coalesce(g3.top3_chars, 0) END AS top3_chars,
                  c4lc.terminal_lines, c4lc.short_lines, c4lc.js_lines,
                  CAST(length(d.text) - length(replace(replace(replace(d.text, '.', ''), '!', ''), '?', '')) AS BIGINT) AS sentence_marks,
                  CAST(len(regexp_extract_all(d.text, '[lL][oO][rR][eE][mM] [iI][pP][sS][uU][mM]')) AS BIGINT) AS lorem_hits,
                  CAST(length(d.text) - length(replace(d.text, '{', '')) AS BIGINT) AS brace_hits
           FROM d
           LEFT JOIN gsig ON d.doc_id = gsig.doc_id
           LEFT JOIN lc ON d.doc_id = lc.doc_id
           LEFT JOIN pc ON d.doc_id = pc.doc_id
           LEFT JOIN g2 ON d.doc_id = g2.doc_id
           LEFT JOIN g3 ON d.doc_id = g3.doc_id
           LEFT JOIN c4lc ON d.doc_id = c4lc.doc_id),
         verdicts AS (
           SELECT sig.*,
                  coalesce(n_words BETWEEN 50 AND 100000
                   AND word_chars >= n_words * 3 AND word_chars <= n_words * 10
                   AND symbol_count * 10 <= n_words
                   AND bullet_lines * 10 <= n_lines * 9
                   AND ellipsis_lines * 10 <= n_lines * 3
                   AND alpha_words * 5 >= n_words * 4
                   AND stop_hits >= 2, false) AS pass_gopher,
                  coalesce(dup_lines * 10 <= n_lines * 3
                   AND dup_paras * 10 <= n_paras * 3
                   AND dup_line_chars * 5 <= n_chars_t
                   AND dup_para_chars * 5 <= n_chars_t
                   AND top2_chars * 5 <= n_chars_t
                   AND top3_chars * 50 <= n_chars_t * 9, false) AS pass_repetition,
                  coalesce(lorem_hits = 0 AND brace_hits = 0 AND sentence_marks >= 5, false) AS pass_c4
           FROM sig)
         SELECT *, (pass_gopher AND pass_repetition AND pass_c4) AS pass FROM verdicts"""

  /** Shared oracle of q_dedup_cluster_incr and q_cluster_stream: the
    * q_dedup_minhash portable pair family, then connected components as a
    * recursive-CTE transitive closure — each doc's cluster root is the
    * minimum id reachable through the pair graph (components are near-dup
    * clusters — small — so enumerating reachability is cheap at oracle
    * scale); docs in no pair are their own root. Both engine paths (batch
    * union-find fed precomputed pairs; the full streaming signature-index
    * round trip) must reach this same fixpoint.
    */
  private def clusterCcOracleOver(pairFilter: String, docFilter: String): String = {
    val k = 16
    val mins = (0 until k).map(i => s"min(md5('$i|' || s)) AS m$i").mkString(", ")
    val bandKeys = (0 until 8).map(b => s"'$b:' || m${2 * b} || m${2 * b + 1}").mkString(", ")
    raw"""WITH RECURSIVE t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                                               i -> array_to_string(toks[i:i+2], ' '))) AS shingles
                FROM t WHERE len(toks) > 0),
         post AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         m AS (SELECT doc_id, $mins FROM post GROUP BY doc_id),
         keyed AS (SELECT doc_id, unnest([$bandKeys]) AS key FROM m),
         ok AS (SELECT key FROM keyed GROUP BY key HAVING count(*) BETWEEN 2 AND 1000),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM keyed a JOIN keyed b ON a.key = b.key AND a.doc_id < b.doc_id
                  WHERE a.key IN (SELECT key FROM ok)),
         pall AS (SELECT pr.id_a, pr.id_b
               FROM cand pr
               JOIN sh sa ON sa.doc_id = pr.id_a
               JOIN sh sb ON sb.doc_id = pr.id_b
               WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
                       len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.3),
         p AS (SELECT id_a, id_b FROM pall WHERE $pairFilter),
         edges AS (SELECT id_a AS u, id_b AS v FROM p
                   UNION SELECT id_b AS u, id_a AS v FROM p),
         reach AS (SELECT u, v FROM edges
                   UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         root AS (SELECT u, least(u, min(v)) AS root FROM reach GROUP BY u)
         SELECT d.doc_id, CAST(coalesce(rt.root, d.doc_id) AS BIGINT) AS keep_id
         FROM documents d LEFT JOIN root rt ON rt.u = d.doc_id
         WHERE $docFilter"""
  }

  private val clusterCcOracle: String = clusterCcOracleOver("TRUE", "TRUE")

  /** The [[clusterCcOracleOver]] family restricted to the rebuild scenario:
    * docs `% 7 == 3` deleted, CC over the SURVIVING pair set only.
    */
  private val clusterRebuildOracle: String =
    clusterCcOracleOver("id_a % 7 <> 3 AND id_b % 7 <> 3", "d.doc_id % 7 <> 3")

  /** Ground truth for the child-change CDC batch — shared by q_cdc_child
    * (flat layout) and q_cdc_partitioned (key-partitioned layout): layout
    * must never change answers, so both rows grade against the identical
    * SQL.
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

  /** Ground truth for q_cdc_hashbucket: the SAME recompute-and-diff as
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

  def oracleSql: Map[String, String] = Map(
    "q_project" ->
      "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem",
    "q_range" ->
      """SELECT event_id, user_id, event_type, value FROM events
         WHERE value BETWEEN 50.0 AND 150.0 AND ts >= TIMESTAMP '2024-01-20'""",
    "q_filter_or" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
         WHERE (o_orderstatus = 'O' AND o_orderpriority = '1-URGENT')
            OR (o_orderstatus = 'F' AND o_totalprice > 200000.0)""",
    "q_json_path" ->
      """SELECT CAST(event_id AS VARCHAR) AS _id, event_id, event_type,
                json_extract_string(props, '$.k') AS props_k
         FROM events""",
    "q_child_agg" ->
      """SELECT l_orderkey,
                count(*) AS n_items,
                CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
                array_to_string(list(CAST(l_linenumber AS VARCHAR) ORDER BY l_linenumber), ',') AS linenumbers
         FROM lineitem GROUP BY l_orderkey""",
    "q_count" -> "SELECT count(*) AS n_events FROM events",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q_revenue_by_nation" ->
      """SELECT n.n_name, count(*) AS n_orders,
                CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY n.n_name""",
    "q_having" ->
      """SELECT l_suppkey, count(*) AS n_items, sum(l_quantity) AS total_qty
         FROM lineitem GROUP BY l_suppkey HAVING count(*) > 50""",
    "q_join_chain" ->
      """SELECT CAST(c.c_custkey AS VARCHAR) AS _id, c.c_name, n.n_name, r.r_name
         FROM customer c
         LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
         LEFT JOIN region r ON n.n_regionkey = r.r_regionkey""",
    "q_through" ->
      """WITH sup AS (
           SELECT l.l_partkey AS pk,
                  list(CAST(s.s_suppkey AS VARCHAR) ORDER BY s.s_suppkey, s.s_name) AS sks
           FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
           GROUP BY l.l_partkey)
         SELECT p.p_partkey,
                COALESCE(len(sup.sks), 0) AS n_suppliers,
                COALESCE(array_to_string(sup.sks, ','), '') AS supp_keys
         FROM part p LEFT JOIN sup ON sup.pk = p.p_partkey""",
    "q_ci_join" ->
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
         FROM docs_ci d LEFT JOIN dim ON lower(d.lang) = lower(dim.code)""",
    "q_scalar_array" ->
      """WITH pk AS (
           SELECT l_orderkey, list(CAST(l_partkey AS VARCHAR) ORDER BY l_partkey) AS pks
           FROM lineitem GROUP BY l_orderkey)
         SELECT CAST(o.o_orderkey AS VARCHAR) AS _id, o.o_orderkey,
                COALESCE(array_to_string(pk.pks, ','), '') AS partkeys
         FROM orders o LEFT JOIN pk ON pk.l_orderkey = o.o_orderkey""",
    "q_doc_flagship" ->
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
         LEFT JOIN li ON li.l_orderkey = o.o_orderkey""",
    "q_doc_nested" ->
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
         FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey""",
    "q_scalar_one" ->
      """SELECT CAST(o.o_orderkey AS VARCHAR) AS _id, o.o_orderkey, c.c_name AS customer_name
         FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey""",
    "q_meta_flagship" ->
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
         LEFT JOIN li ON li.l_orderkey = o.o_orderkey""",
    "q_composite_pk" ->
      """SELECT CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) AS _id,
                l_orderkey, l_linenumber, l_quantity
         FROM lineitem""",
    "q_transform" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS _id,
                o_orderkey AS order_id,
                replace(o_orderstatus, 'O', 'X') AS o_orderstatus,
                concat_ws('-',
                  CASE WHEN o_orderkey <> 0 THEN CAST(o_orderkey AS VARCHAR) END,
                  NULLIF(replace(o_orderstatus, 'O', 'X'), '')) AS order_tag
         FROM orders""",
    "q_lifecycle" ->
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
         LEFT JOIN li ON li.l_orderkey = o.o_orderkey""",
    // the composed-pipeline replay: doc text lengths over the POST corpus,
    // the impact-capped BM25 probe replayed under the scenario's mutations
    // ([[composedBm25PrunedCtes]] — seed caps + batch caps + tombstones +
    // df drift, the production probe's exact semantics), and the q_ann_lsh
    // bucket/probe/rank replay at dim 64 rebuilt from scratch — so the
    // CDC-maintained indexes must equal what their maintenance contracts
    // promise bit-for-bit
    "q_composed_cdc" -> {
      def bucket(vecCol: String): String = (0 until 6)
        .map { p =>
          val lits = graft.functions.VectorFunctions
            .plane(p, 64)
            .map(d => f"$d%.3f")
            .mkString("[", ", ", "]")
          s"(CASE WHEN list_inner_product($vecCol, $lits) >= 0 THEN ${1L << p} ELSE 0 END)"
        }
        .mkString(" + ")
      val probeList = (Seq("bucket") ++ (0 until 6).map(p => s"xor(bucket, ${1L << p})"))
        .mkString("[", ", ", "]")
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
    },
    // INDEPENDENT ground truth for the post-compaction pruned probe: the
    // bm25PrunedSql derivation over the POST corpus — tokenize, impact-cap
    // per term, exact df — with NO replay of the engine's seed/batch cap
    // freezing or df drift (compaction erased them). If the engine's cap or
    // drift semantics ever went wrong in a way composedBm25PrunedCtes
    // faithfully mirrors, this row still catches it.
    "q_composed_bm25_compacted" -> {
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
    },
    // ALL SIX SURFACES from scratch: the q_composed_cdc replay (doc + BM25 +
    // LSH over the post corpus) extended with the PQ replay (q_ann_ivfpq
    // pattern, seeds/codebooks frozen from the FIRST 16 PRE-corpus vectors
    // by id, encoded corpus = post), the exact-dedup registry replay
    // (first-writer-wins: seed digests keep min pre doc_id, batch-new
    // digests keep min batch id; deletes never retract), and the near-dup
    // CLUSTER replay — union-find over the SEED pair set (portable
    // MinHash-LSH over pre texts, the clusterCcOracle machinery) plus the
    // batch's pairs (batch band keys probed against the stored pre keys +
    // in-batch bucket pairs, exact-Jaccard-verified against POST texts, so
    // candidates hitting a deleted doc's stored keys drop), with deleted
    // docs keeping their seed-time membership per the no-split contract
    "q_composed_full" -> {
      def bucket(vecCol: String): String = (0 until 6)
        .map { p =>
          val lits = graft.functions.VectorFunctions
            .plane(p, 64)
            .map(d => f"$d%.3f")
            .mkString("[", ", ", "]")
          s"(CASE WHEN list_inner_product($vecCol, $lits) >= 0 THEN ${1L << p} ELSE 0 END)"
        }
        .mkString(" + ")
      val probeList = (Seq("bucket") ++ (0 until 6).map(p => s"xor(bucket, ${1L << p})"))
        .mkString("[", ", ", "]")
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
    },
    // the composed SEED from scratch: exact per-surface corpus facts over
    // the PRE-change media join — doc index row count; BM25 log counters
    // (corpus size + total token count under the engine's tokenizer); the
    // LSH index's row count + hyperplane-bucket sum (plan-time plane
    // literals); the PQ index's row count + seed-centroid cell-assignment
    // sum (refine=0: centroids = first 16 corpus vectors by id); the dedup
    // registry's digest count + first-writer keeper-id sum; the signature
    // index's band-key count and the cluster map's member count
    "q_composed_build" -> {
      def bucket(vecCol: String): String = (0 until 6)
        .map { p =>
          val lits = graft.functions.VectorFunctions
            .plane(p, 64)
            .map(d => f"$d%.3f")
            .mkString("[", ", ", "]")
          s"(CASE WHEN list_inner_product($vecCol, $lits) >= 0 THEN ${1L << p} ELSE 0 END)"
        }
        .mkString(" + ")
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
    },
    "q_salted_agg" ->
      """WITH sums AS (
           SELECT l_returnflag,
                  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_centi
           FROM lineitem GROUP BY 1),
         lists AS (
           SELECT l_returnflag,
                  array_to_string(list(CAST(l_linenumber AS BIGINT) ORDER BY l_linenumber), ',') AS lns
           FROM lineitem WHERE l_orderkey < 100 GROUP BY 1)
         SELECT s.l_returnflag, s.qty_centi, l.lns
         FROM sums s JOIN lists l USING (l_returnflag)""",
    "q_wal" ->
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
         FROM orders""",
    "q_cdc_root" ->
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
         FROM keys LEFT JOIN docs d ON d.o_orderkey = keys.key""",
    "q_cdc_child" -> cdcChildOracle,
    "q_cdc_through_partitioned" ->
      // recompute-and-diff over the many-to-many tree: every changed
      // lineitem's part re-assembles with its CURRENT supplier list (no
      // deletes — changed through rows always reference live parts); the
      // supplier list mirrors q_through's ordering contract
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
         LEFT JOIN sup ON sup.pk = p.p_partkey""",
    // same ops at the key-partitioned layout — layout must never change
    // answers, so the ground truth is the flat-layout SQL verbatim
    "q_cdc_partitioned" -> cdcChildOracle,
    "q_cdc_hashbucket" -> cdcHashOracle,
    "q_plugin" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS _id, o_orderkey, o_orderstatus
         FROM orders WHERE o_orderkey % 10 <> 0""",
    "q_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY md5(text)""",
    "q_dedup_keep_best" ->
      // keeper = max score, ties → min doc_id; one row per member of every
      // duplicate group, keeper self-mapping included. Duplicates are
      // synthesized exactly as the Spark side does: a +1000000-shifted copy
      // whose score bumps by doc_id % 2
      """WITH u AS (
           SELECT doc_id, text, n_chars FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text, n_chars + doc_id % 2 FROM documents),
         d AS (SELECT doc_id, md5(text) AS h, n_chars AS score FROM u),
         g AS (SELECT h, max(score) AS best FROM d GROUP BY h HAVING count(*) >= 2),
         k AS (SELECT d.h, min(d.doc_id) AS keep_id
               FROM d JOIN g ON d.h = g.h AND d.score IS NOT DISTINCT FROM g.best
               GROUP BY d.h)
         SELECT d.doc_id AS id, k.keep_id FROM d JOIN k ON d.h = k.h""",
    "q_text_tokens" ->
      """SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
         FROM documents""",
    "q_bpe_tokens" ->
      // full BPE training replay (Sennrich et al. 2016, the word-type
      // formulation Bpe.train implements): word-type counts capped at
      // maxTypes=100000 by (count DESC, word ASC); each recursive step picks
      // the most frequent adjacent symbol pair (ties to the smallest pair,
      // minPairCount 2) and merges it left-to-right in every type via a
      // fold over the chr(31)-joined symbol string (symbols never contain
      // chr(31); the last symbol carries the </w> marker). numMerges=200
      // caps the recursion; it stops early when no pair qualifies. Token
      // count per doc = sum over its words of the type's final symbol count.
      """WITH RECURSIVE
         wt AS (
           SELECT w, CAST(count(*) AS BIGINT) AS cnt
           FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents)
           WHERE len(w) > 0
           GROUP BY w
           ORDER BY cnt DESC, w ASC
           LIMIT 100000),
         init AS (
           SELECT 0 AS iter,
                  list(struct_pack(word := w, cnt := cnt,
                       s := array_to_string(regexp_extract_all(w, '.'), chr(31)) || '</w>')) AS lst
           FROM wt),
         state AS (
           SELECT iter, lst FROM init
           UNION ALL
           SELECT st.iter + 1,
                  list_transform(st.lst, t -> struct_pack(word := t.word, cnt := t.cnt,
                    s := list_reduce(string_split(t.s, chr(31)),
                           (acc, x) -> CASE WHEN (acc = bp.a OR ends_with(acc, chr(31) || bp.a)) AND x = bp.b
                                       THEN acc || bp.b
                                       ELSE acc || chr(31) || x END)))
           FROM state st
           JOIN LATERAL (
             SELECT pr.a, pr.b FROM (
               SELECT syms[i] AS a, syms[i + 1] AS b, sum(t.cnt) AS c
               FROM (SELECT unnest(st.lst) AS t),
                    LATERAL (SELECT string_split(t.s, chr(31)) AS syms) ss,
                    LATERAL (SELECT unnest(generate_series(1, len(ss.syms) - 1)) AS i) g
               GROUP BY 1, 2
               HAVING sum(t.cnt) >= 2
               ORDER BY c DESC, a ASC, b ASC
               LIMIT 1) pr
           ) bp ON true
           WHERE st.iter < 200),
         final AS (SELECT lst FROM state ORDER BY iter DESC LIMIT 1),
         toklen AS (
           SELECT t.word, CAST(len(string_split(t.s, chr(31))) AS BIGINT) AS ntok
           FROM (SELECT unnest(lst) AS t FROM final)),
         docwords AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents),
         counts AS (
           SELECT d.doc_id, sum(tl.ntok) AS n
           FROM docwords d JOIN toklen tl ON d.w = tl.word
           GROUP BY d.doc_id)
         SELECT doc.doc_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_tokens
         FROM documents doc LEFT JOIN counts c ON doc.doc_id = c.doc_id""",
    "q_text_bpe" ->
      """SELECT doc_id,
                CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS BIGINT) AS n_bpe_tokens
         FROM documents""",
    "q_pii" ->
      """WITH r1 AS (
           SELECT doc_id, text AS t0,
                  regexp_replace(text, '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
           FROM documents),
         r2 AS (SELECT *, regexp_replace(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t2 FROM r1),
         r3 AS (SELECT *, regexp_replace(t2, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS t3 FROM r2),
         r4 AS (SELECT *, regexp_replace(t3, '\b\d{13,19}\b', '<CARD>', 'g') AS t4 FROM r3)
         SELECT doc_id, md5(t4) AS redacted_md5,
                CAST(len(regexp_extract_all(t0, '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}'))
                   + len(regexp_extract_all(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b'))
                   + len(regexp_extract_all(t2, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b'))
                   + len(regexp_extract_all(t3, '\b\d{13,19}\b')) AS BIGINT) AS n_pii
         FROM r4""",
    "q_text_repetition" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         base AS (SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd
                  FROM t WHERE len(toks) >= 2),
         bg AS (SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(toks) - 1),
                                             i -> toks[i] || ' ' || toks[i + 1])) AS b
                FROM t WHERE len(toks) >= 2),
         bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
         per AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM bc GROUP BY 1)
         SELECT p.doc_id,
                CAST(round(1000.0 * (b.n - b.nd) / b.n) AS BIGINT) AS dup_word_milli,
                CAST(round(1000.0 * p.mx / p.tot) AS BIGINT) AS top_bigram_milli
         FROM per p JOIN base b USING (doc_id)""",
    "q_term_stats" ->
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         ranked AS (
           SELECT doc_id, term, tf,
                  row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS rn
           FROM tf)
         SELECT r.doc_id, r.term, r.tf, d.df
         FROM ranked r JOIN dfreq d USING (term)
         WHERE r.rn <= 3""",
    // Float arithmetic mirrors the Spark expression shape exactly (same
    // association), and the cross-term reduction is an integer sum, so the
    // hash compare is stable across engines.
    "q_bm25" ->
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
         FROM scored ORDER BY score_micro DESC, doc_id LIMIT 25""",
    "q_bm25_batch" -> bm25BatchSql,
    // the persisted-index probe scores identically to the in-memory batch
    // plan by construction (same tokenization, tf, df, sidecar-exact
    // n_docs/avgdl), so the same oracle certifies it
    "q_bm25_indexed" -> bm25BatchSql,
    "q_bm25_pruned" -> bm25PrunedSql,
    // corpus facts the build must persist exactly: doc count, total token
    // count under the same whitespace tokenization, and the bucket default
    "q_bm25_index_build" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT) AS dl_sum,
                CAST(64 AS BIGINT) AS buckets
         FROM documents""",
    "q_hybrid_rrf_batch" ->
      // the q_bm25_batch replay at k=20 fused per qid with a per-qid dense
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
         SELECT qid, id AS doc_id, rrf_nano, rank FROM ranked WHERE rank <= 10""",
    "q_chunk" ->
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
         FROM e""",
    "q_dedup_span" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
         idx AS (
           SELECT doc_id, t,
                  unnest(generate_series(1, greatest(len(t) - 16, 0) + 1)) AS i
           FROM toks),
         w AS (
           SELECT DISTINCT doc_id, md5(array_to_string(t[i : i + 15], ' ')) AS h
           FROM idx),
         sized AS (
           SELECT doc_id, h, CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_win
           FROM w),
         dup AS (
           SELECT h FROM w GROUP BY h HAVING count(*) BETWEEN 2 AND 100000)
         SELECT s.doc_id, max(s.n_win) AS n_windows,
                CAST(count(*) AS BIGINT) AS n_dup_windows,
                CAST(round(1000.0 * count(*) / max(s.n_win)) AS BIGINT) AS dup_milli
         FROM sized s JOIN dup USING (h) GROUP BY 1""",
    "q_dedup_span_ranges" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
         g AS (
           SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok, t,
                  unnest(generate_series(0, greatest(len(t) - 16, 0))) AS p
           FROM toks),
         h AS (
           SELECT doc_id, n_tok, CAST(p AS BIGINT) AS p,
                  md5(array_to_string(t[p + 1 : p + 16], ' ')) AS h
           FROM g),
         dup AS (
           SELECT h FROM h GROUP BY h
           HAVING count(DISTINCT doc_id) BETWEEN 2 AND 100000),
         pos AS (
           SELECT doc_id, p, n_tok,
                  p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS island
           FROM h JOIN dup USING (h))
         SELECT doc_id, min(p) AS span_start,
                least(max(p) + 15, max(n_tok) - 1) AS span_end,
                least(max(p) + 15, max(n_tok) - 1) - min(p) + 1 AS span_tokens
         FROM pos GROUP BY doc_id, island""",
    "q_dedup_span_incr" ->
      """WITH ctoks AS (
           SELECT regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents WHERE doc_id % 2 = 0),
         cidx AS (
           SELECT t, unnest(generate_series(1, greatest(len(t) - 16, 0) + 1)) AS i
           FROM ctoks),
         idx AS (
           SELECT DISTINCT md5(array_to_string(t[i : i + 15], ' ')) AS h FROM cidx),
         btoks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
           FROM documents WHERE doc_id % 2 = 1),
         bidx AS (
           SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 16, 0) + 1)) AS i
           FROM btoks),
         w AS (
           SELECT DISTINCT doc_id, md5(array_to_string(t[i : i + 15], ' ')) AS h FROM bidx),
         sized AS (
           SELECT doc_id, h, CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_win
           FROM w)
         SELECT s.doc_id, max(s.n_win) AS n_windows,
                CAST(count(*) AS BIGINT) AS n_dup_windows,
                CAST(round(1000.0 * count(*) / max(s.n_win)) AS BIGINT) AS dup_milli
         FROM sized s JOIN idx USING (h) GROUP BY 1""",
    "q_dedup_cut" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
         g AS (
           SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok, t,
                  unnest(generate_series(0, greatest(len(t) - 16, 0))) AS p
           FROM toks),
         h AS (
           SELECT doc_id, n_tok, CAST(p AS BIGINT) AS p,
                  md5(array_to_string(t[p + 1 : p + 16], ' ')) AS h
           FROM g),
         dup AS (
           SELECT h FROM h GROUP BY h
           HAVING count(DISTINCT doc_id) BETWEEN 2 AND 100000),
         pos AS (
           SELECT doc_id, p, n_tok,
                  p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS island
           FROM h JOIN dup USING (h)),
         spans AS (
           SELECT doc_id, min(p) AS span_start,
                  least(max(p) + 15, max(n_tok) - 1) AS span_end
           FROM pos GROUP BY doc_id, island),
         tpos AS (
           SELECT doc_id, unnest(t) AS tok,
                  unnest(generate_series(0, len(t) - 1)) AS i
           FROM toks),
         kept AS (
           SELECT tp.doc_id, tp.tok, tp.i FROM tpos tp
           WHERE NOT EXISTS (
             SELECT 1 FROM spans s
             WHERE s.doc_id = tp.doc_id AND tp.i BETWEEN s.span_start AND s.span_end)),
         agg AS (
           SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS txt,
                  CAST(count(*) AS BIGINT) AS n_kept
           FROM kept GROUP BY 1)
         SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
                CAST(len(t.t) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
                md5(coalesce(a.txt, '')) AS clean_md5
         FROM toks t LEFT JOIN agg a USING (doc_id)""",
    "q_lm_bigram" ->
      // add-one smoothed interpolation replayed with the engine's exact
      // double association: 1e6 * (tf * (0 − ln(0.5·Pb + 0.5·Pu))), rounded
      // per (doc, bigram) BEFORE the integer per-doc sum
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
         big AS (
           SELECT doc_id,
                  unnest(list_transform(generate_series(1, len(t) - 1),
                                        i -> t[i] || ' ' || t[i+1])) AS bg
           FROM toks WHERE len(t) >= 2),
         tfb AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS tf FROM big GROUP BY 1, 2),
         cuv AS (SELECT bg, CAST(sum(tf) AS BIGINT) AS cuv FROM tfb GROUP BY 1),
         cu AS (SELECT split_part(bg, ' ', 1) AS u, CAST(count(*) AS BIGINT) AS cu
                FROM big GROUP BY 1),
         unis AS (SELECT unnest(t) AS term FROM toks),
         cv AS (SELECT term, CAST(count(*) AS BIGINT) AS cv FROM unis GROUP BY 1),
         tot AS (SELECT CAST(sum(cv) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS vocab FROM cv),
         scored AS (
           SELECT f.doc_id,
                  CAST(sum(f.tf) AS BIGINT) AS n_bigrams,
                  CAST(sum(CAST(round(1000000.0 * (f.tf * (0.0 - ln(
                    0.5 * ((c.cuv + 1.0) / (u.cu + tt.vocab))
                      + 0.5 * ((v.cv + 1.0) / (tt.t + tt.vocab))
                  )))) AS BIGINT)) AS BIGINT) AS surprisal_micro
           FROM tfb f
           JOIN cuv c USING (bg)
           JOIN cu u ON u.u = split_part(f.bg, ' ', 1)
           JOIN cv v ON v.term = split_part(f.bg, ' ', 2)
           CROSS JOIN tot tt
           GROUP BY 1)
         SELECT doc_id, n_bigrams, surprisal_micro,
                CAST(round(surprisal_micro / (1000.0 * n_bigrams)) AS BIGINT) AS mean_milli
         FROM scored""",
    "q_lm_score" ->
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
         model AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
         total AS (SELECT CAST(sum(cf) AS BIGINT) AS total FROM model),
         scored AS (
           SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS dl,
                  CAST(sum(CAST(round(
                    1000000.0 * (t.tf * ln(s.total / m.cf))
                  ) AS BIGINT)) AS BIGINT) AS surprisal_micro
           FROM tf t JOIN model m USING (term) CROSS JOIN total s
           GROUP BY 1)
         SELECT doc_id, dl, surprisal_micro,
                CAST(round(surprisal_micro / (1000.0 * dl)) AS BIGINT) AS mean_milli
         FROM scored""",
    "q_lm_buckets" ->
      // q_lm_score's model/scoring CTEs + per-language value-tertile
      // thresholds (cumulative over DISTINCT score values, ties share a
      // bucket) — integer comparisons end to end
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
         model AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
         total AS (SELECT CAST(sum(cf) AS BIGINT) AS total FROM model),
         scored AS (
           SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS dl,
                  CAST(sum(CAST(round(
                    1000000.0 * (t.tf * ln(s.total / m.cf))
                  ) AS BIGINT)) AS BIGINT) AS surprisal_micro
           FROM tf t JOIN model m USING (term) CROSS JOIN total s
           GROUP BY 1),
         sc AS (SELECT s.doc_id, d.lang,
                       CAST(round(s.surprisal_micro / (1000.0 * s.dl)) AS BIGINT) AS mean_milli
                FROM scored s JOIN documents d USING (doc_id)),
         counts AS (SELECT lang, mean_milli AS v, CAST(count(*) AS BIGINT) AS c
                    FROM sc GROUP BY 1, 2),
         cum AS (SELECT lang, v, c,
                        sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
                        sum(c) OVER (PARTITION BY lang) AS n
                 FROM counts),
         thr AS (SELECT lang,
                        min(CASE WHEN cum >= (n + 2) // 3 THEN v END) AS t1,
                        min(CASE WHEN cum >= (n * 2 + 2) // 3 THEN v END) AS t2
                 FROM cum GROUP BY 1)
         SELECT sc.doc_id, sc.lang, sc.mean_milli,
                CASE WHEN sc.mean_milli <= thr.t1 THEN 'head'
                     WHEN sc.mean_milli <= thr.t2 THEN 'middle'
                     ELSE 'tail' END AS bucket
         FROM sc JOIN thr USING (lang)""",
    "q_dsir" ->
      // hashed unigram+bigram features via the md5-prefix portable bucket,
      // Laplace-smoothed target/raw log-ratio in micro-nats per bucket,
      // integer per-doc weight sum, deterministic Knuth-hash Gumbel draw
      raw"""WITH t AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
           FROM documents),
         uni AS (SELECT doc_id, 'u|' || unnest(toks) AS f FROM t),
         bi AS (SELECT doc_id, 'b|' || toks[i] || ' ' || toks[i+1] AS f
                FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
                      FROM t WHERE len(toks) >= 2)),
         feat AS (SELECT doc_id, substr(md5(f), 1, 3) AS bucket, CAST(count(*) AS BIGINT) AS tf
                  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) GROUP BY 1, 2),
         rawm AS (SELECT bucket, CAST(sum(tf) AS BIGINT) AS cr FROM feat GROUP BY 1),
         tgtm AS (SELECT f.bucket, CAST(sum(f.tf) AS BIGINT) AS ct
                  FROM feat f JOIN documents d USING (doc_id) WHERE d.lang = 'en' GROUP BY 1),
         tot AS (SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM rawm) AS totr,
                        (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) FROM tgtm) AS tott),
         ratio AS (SELECT r.bucket,
                          CAST(round(1000000.0 * (ln((coalesce(g.ct, 0) + 1.0) / (tot.tott + 4096.0))
                                                - ln((r.cr + 1.0) / (tot.totr + 4096.0)))) AS BIGINT) AS ratio_micro
                   FROM rawm r LEFT JOIN tgtm g USING (bucket) CROSS JOIN tot),
         w AS (SELECT f.doc_id, CAST(sum(f.tf * ratio.ratio_micro) AS BIGINT) AS weight_micro
               FROM feat f JOIN ratio USING (bucket) GROUP BY 1),
         sc AS (SELECT d.doc_id, coalesce(w.weight_micro, 0) AS weight_micro,
                       coalesce(w.weight_micro, 0)
                         + CAST(round(-1000000.0 * ln(-ln(
                             ((((d.doc_id % 1000003) * (2654435761 % 1000003)) % 1000003) + 0.5) / 1000003.0
                           ))) AS BIGINT) AS score_micro
                FROM documents d LEFT JOIN w USING (doc_id) WHERE d.doc_id IS NOT NULL),
         ranked AS (SELECT doc_id, weight_micro, score_micro,
                           row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rnk
                    FROM sc)
         SELECT doc_id, weight_micro, score_micro, CAST(rnk AS BIGINT) AS rank
         FROM ranked WHERE rnk <= 100""",
    "q_classifier" ->
      // hashed-linear-classifier inference with the md5-prefix portable
      // bucket (48 bits → % 4096 slots) and the Knuth-mix integer
      // micro-unit pseudo-weights — arithmetic spelled identically to
      // Classifier.weightOf so the sum is bit-exact on both engines
      raw"""WITH t AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                              x -> len(x) > 0) AS toks
           FROM documents),
         uni AS (SELECT doc_id, unnest(toks) AS f FROM t),
         bi AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS f
                FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
                      FROM t WHERE len(toks) >= 2)),
         feats AS (SELECT doc_id, f FROM uni UNION ALL SELECT doc_id, f FROM bi),
         scored AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
                  CAST(sum(
                    ((('0x' || substr(md5(f), 1, 12))::BIGINT % 4096) * 2654435761)
                      % 2000001 - 1000000
                  ) AS BIGINT) AS score_micro
           FROM feats GROUP BY 1)
         SELECT t.doc_id, coalesce(s.n_feats, 0) AS n_feats,
                coalesce(s.score_micro, 0) AS score_micro,
                coalesce(s.score_micro, 0) >= 0 AS keep
         FROM t LEFT JOIN scored s USING (doc_id)""",
    "q_corpus_stats" ->
      // n_chars IS NOT NULL mirrors exactPercentiles' null policy (nulls are
      // dropped before aggregating on both sides; engines disagree on null
      // ORDER BY placement, so excluding them is the only portable choice)
      """WITH counts AS (
           SELECT lang, source, CAST(n_chars AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS c
           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2, 3),
         cum AS (
           SELECT lang, source, v, c,
                  sum(c) OVER (PARTITION BY lang, source ORDER BY v) AS cum,
                  sum(c) OVER (PARTITION BY lang, source) AS n
           FROM counts)
         SELECT lang, source, CAST(max(n) AS BIGINT) AS n_rows,
                min(v) AS min_v, max(v) AS max_v,
                min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS p50,
                min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN v END) AS p90
         FROM cum GROUP BY 1, 2""",
    "q_sample_hash" ->
      """SELECT doc_id, lang FROM documents
         WHERE md5(CAST(doc_id AS VARCHAR)) < '3333'""",
    "q_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
         WHERE CASE
           WHEN lang = 'en' THEN md5(CAST(doc_id AS VARCHAR)) < 'cccd'
           WHEN lang = 'zh' THEN md5(CAST(doc_id AS VARCHAR)) < '4000'
           WHEN lang = 'de' THEN TRUE
           ELSE md5(CAST(doc_id AS VARCHAR)) < '199a'
         END""",
    "q_sample_quota" ->
      """SELECT o_orderkey, o_orderstatus FROM (
           SELECT o_orderkey, o_orderstatus,
                  row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS rn
           FROM orders) t
         WHERE rn <= 100""",
    "q_text_quality" ->
      """SELECT doc_id,
                CAST(round(100.0 * length(text) / len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS mean_wlen_c,
                CAST(round(1000.0 * (length(text) - length(replace(text, ' ', ''))) / length(text)) AS BIGINT) AS space_ratio_c
         FROM documents WHERE length(text) > 0""",
    "q_quality_gopher" ->
      // integer-exact replay of QualityRules.gopher: every ratio threshold is
      // a cross-multiplication, '#'/'…'/'...' counting is literal replace
      // (non-overlapping left-to-right in both engines), and stop_hits sums
      // per-word presence (list_contains) rather than intersect, whose dedup
      // semantics vary by engine
      """WITH d AS (
           SELECT doc_id, text,
                  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> length(x) > 0) AS w,
                  string_split(text, chr(10)) AS lines
           FROM documents),
         sig AS (
           SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             CAST(CASE WHEN text IS NULL THEN NULL
                       ELSE coalesce(list_sum(list_transform(w, x -> length(x))), 0) END AS BIGINT) AS word_chars,
             CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]'))) AS BIGINT) AS bullet_lines,
             CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS BIGINT) AS ellipsis_lines,
             CAST((length(text) - length(replace(text, '#', '')))
                  + (length(text) - length(replace(text, '…', '')))
                  + (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS symbol_count,
             CAST(CASE WHEN text IS NULL THEN NULL ELSE
                    (CASE WHEN list_contains(w, 'the') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'be') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'to') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'of') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'and') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'that') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'have') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'with') THEN 1 ELSE 0 END) END AS BIGINT) AS stop_hits
           FROM d)
         SELECT doc_id, n_words, word_chars, alpha_words, n_lines, bullet_lines, ellipsis_lines,
                symbol_count, stop_hits,
                coalesce(n_words BETWEEN 50 AND 100000
                 AND word_chars >= n_words * 3 AND word_chars <= n_words * 10
                 AND symbol_count * 10 <= n_words
                 AND bullet_lines * 10 <= n_lines * 9
                 AND ellipsis_lines * 10 <= n_lines * 3
                 AND alpha_words * 5 >= n_words * 4
                 AND stop_hits >= 2, false) AS pass
         FROM sig""",
    "q_quality_c4" ->
      // integer-exact replay of QualityRules.c4: per-line counts via
      // unnest + RE2 regex (the patterns are RE2-compatible by design),
      // char counts via replace-and-diff, lorem-ipsum occurrences via
      // non-overlapping case-insensitive extract
      """WITH d AS (
           SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM documents),
         lc AS (
           SELECT doc_id,
                  CAST(coalesce(sum(CASE WHEN regexp_matches(line, '[.!?"]\s*$') THEN 1 ELSE 0 END), 0) AS BIGINT) AS terminal_lines,
                  CAST(coalesce(sum(CASE WHEN len(list_filter(regexp_split_to_array(line, '\s+'), x -> length(x) > 0)) < 3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS short_lines,
                  CAST(coalesce(sum(CASE WHEN regexp_matches(line, '\b[jJ][aA][vV][aA][sS][cC][rR][iI][pP][tT]\b') THEN 1 ELSE 0 END), 0) AS BIGINT) AS js_lines
           FROM (SELECT doc_id, unnest(lines) AS line FROM d)
           GROUP BY doc_id),
         sig AS (
           SELECT d.doc_id,
                  CAST(len(d.lines) AS BIGINT) AS n_lines,
                  lc.terminal_lines, lc.short_lines, lc.js_lines,
                  CAST(length(d.text) - length(replace(replace(replace(d.text, '.', ''), '!', ''), '?', '')) AS BIGINT) AS sentence_marks,
                  CAST(len(regexp_extract_all(d.text, '[lL][oO][rR][eE][mM] [iI][pP][sS][uU][mM]')) AS BIGINT) AS lorem_hits,
                  CAST(length(d.text) - length(replace(d.text, '{', '')) AS BIGINT) AS brace_hits
           FROM d LEFT JOIN lc ON d.doc_id = lc.doc_id)
         SELECT doc_id, n_lines, terminal_lines, short_lines, js_lines,
                sentence_marks, lorem_hits, brace_hits,
                coalesce(lorem_hits = 0 AND brace_hits = 0 AND sentence_marks >= 5, false) AS pass
         FROM sig""",
    "q_quality_repetition" ->
      // integer-exact replay of QualityRules.repetition: the Spark side's
      // map-side run-length passes reduce to per-group counts here —
      // dup chars = Σ (count−1)·len over repeated values, top-n-gram chars =
      // max(count·len) over REPEATED grams only (a numeric max, no tie-break)
      """WITH d AS (
           SELECT doc_id, text,
                  string_split(text, chr(10)) AS lines,
                  regexp_split_to_array(text, '\n{2,}') AS paras,
                  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> length(x) > 0) AS w
           FROM documents),
         lc AS (
           SELECT doc_id, CAST(coalesce(sum((c - 1) * length(line)), 0) AS BIGINT) AS dup_line_chars
           FROM (SELECT doc_id, line, count(*) AS c
                 FROM (SELECT doc_id, unnest(lines) AS line FROM d) GROUP BY doc_id, line)
           GROUP BY doc_id),
         pc AS (
           SELECT doc_id, CAST(coalesce(sum((c - 1) * length(para)), 0) AS BIGINT) AS dup_para_chars
           FROM (SELECT doc_id, para, count(*) AS c
                 FROM (SELECT doc_id, unnest(paras) AS para FROM d) GROUP BY doc_id, para)
           GROUP BY doc_id),
         g2 AS (
           SELECT doc_id, CAST(max(CASE WHEN c >= 2 THEN c * length(gram) END) AS BIGINT) AS top2_chars
           FROM (SELECT doc_id, gram, count(*) AS c
                 FROM (SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
                       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM d))
                 GROUP BY doc_id, gram)
           GROUP BY doc_id),
         g3 AS (
           SELECT doc_id, CAST(max(CASE WHEN c >= 2 THEN c * length(gram) END) AS BIGINT) AS top3_chars
           FROM (SELECT doc_id, gram, count(*) AS c
                 FROM (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
                       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM d))
                 GROUP BY doc_id, gram)
           GROUP BY doc_id),
         sig AS (
           SELECT d.doc_id,
                  CAST(length(d.text) AS BIGINT) AS n_chars_t,
                  CAST(len(d.lines) AS BIGINT) AS n_lines,
                  CAST(len(d.lines) - len(list_distinct(d.lines)) AS BIGINT) AS dup_lines,
                  lc.dup_line_chars,
                  CAST(len(d.paras) AS BIGINT) AS n_paras,
                  CAST(len(d.paras) - len(list_distinct(d.paras)) AS BIGINT) AS dup_paras,
                  pc.dup_para_chars,
                  CASE WHEN d.text IS NULL THEN NULL
                       ELSE coalesce(g2.top2_chars, 0) END AS top2_chars,
                  CASE WHEN d.text IS NULL THEN NULL
                       ELSE coalesce(g3.top3_chars, 0) END AS top3_chars
           FROM d
           LEFT JOIN lc ON d.doc_id = lc.doc_id
           LEFT JOIN pc ON d.doc_id = pc.doc_id
           LEFT JOIN g2 ON d.doc_id = g2.doc_id
           LEFT JOIN g3 ON d.doc_id = g3.doc_id)
         SELECT doc_id, n_chars_t, n_lines, dup_lines, dup_line_chars,
                n_paras, dup_paras, dup_para_chars, top2_chars, top3_chars,
                coalesce(dup_lines * 10 <= n_lines * 3
                 AND dup_paras * 10 <= n_paras * 3
                 AND dup_line_chars * 5 <= n_chars_t
                 AND dup_para_chars * 5 <= n_chars_t
                 AND top2_chars * 5 <= n_chars_t
                 AND top3_chars * 50 <= n_chars_t * 9, false) AS pass
         FROM sig""",
    "q_quality_all" -> qualityAllSql,
    "q_text_langid" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id,
                 len(list_intersect(toks, ['the','a','and','of','to','in','is','it','you','that'])) AS s_en,
                 len(list_intersect(toks, ['der','die','das','und','ist','nicht','mit','ein','ich','zu'])) AS s_de,
                 len(list_intersect(toks, ['le','la','les','et','un','une','est','je','de','pas'])) AS s_fr,
                 len(list_intersect(toks, ['el','los','y','esta','una','es','que','no','por','como'])) AS s_es
               FROM t)
         SELECT doc_id,
           CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
                WHEN s_de >= s_en AND s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
                WHEN s_fr >= s_en AND s_fr >= s_de AND s_fr >= s_es AND s_fr > 0 THEN 'fr'
                WHEN s_es >= s_en AND s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
                ELSE 'und' END AS lang_pred
         FROM s""",
    "q_fingerprint" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                                               i -> array_to_string(toks[i:i+2], ' '))) AS shingles
                FROM t)
         SELECT doc_id,
                md5(array_to_string(list_sort(list_transform(shingles, x -> md5(x)))[1:8], '')) AS fpr
         FROM sh""",
    "q_dedup_ngram" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                                               i -> array_to_string(toks[i:i+2], ' '))) AS shingles
                FROM t WHERE len(toks) > 0),
         sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
         postings AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           FROM postings a JOIN postings b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT i.id_a, i.id_b,
                CAST(round(1000.0 * i.inter / (sa.n + sb.n - i.inter)) AS BIGINT) AS jaccard_milli
         FROM inter i
         JOIN sizes sa ON sa.doc_id = i.id_a
         JOIN sizes sb ON sb.doc_id = i.id_b
         WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= 0.2""",
    "q_dedup_minhash" -> {
      // the md5 family is engine-portable (member i = md5('<i>|' || shingle),
      // minhash = lexicographic min), so DuckDB rebuilds the identical
      // signatures, band keys, capped buckets, candidate pairs, and
      // exact-Jaccard verify that minhashLshPortable plans
      val k = 16
      val mins = (0 until k).map(i => s"min(md5('$i|' || s)) AS m$i").mkString(", ")
      val bandKeys = (0 until 8).map(b => s"'$b:' || m${2 * b} || m${2 * b + 1}").mkString(", ")
      raw"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                                               i -> array_to_string(toks[i:i+2], ' '))) AS shingles
                FROM t WHERE len(toks) > 0),
         post AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         m AS (SELECT doc_id, $mins FROM post GROUP BY doc_id),
         keyed AS (SELECT doc_id, unnest([$bandKeys]) AS key FROM m),
         ok AS (SELECT key FROM keyed GROUP BY key HAVING count(*) BETWEEN 2 AND 1000),
         pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM keyed a JOIN keyed b ON a.key = b.key AND a.doc_id < b.doc_id
                   WHERE a.key IN (SELECT key FROM ok)),
         j AS (SELECT pr.id_a, pr.id_b,
                      CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
                        len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jac
               FROM pairs pr
               JOIN sh sa ON sa.doc_id = pr.id_a
               JOIN sh sb ON sb.doc_id = pr.id_b)
         SELECT id_a, id_b, CAST(round(jac * 1000) AS BIGINT) AS jaccard_milli
         FROM j WHERE jac >= 0.3"""
    },
    "q_dedup_simhash" -> {
      // portable bit source: bit i of a token's signature contribution is
      // bit (3 - i%4) of hex digit i/4 of md5(token); DuckDB rebuilds the
      // identical ±1 counters, the 64-char sign signature, the 4 pigeonhole
      // chunk keys, capped buckets, and the exact Hamming verify
      val bits = (0 until 64).map { i =>
        s"(((strpos('0123456789abcdef', substr(hx, ${i / 4 + 1}, 1)) - 1) >> ${3 - i % 4}) & 1) AS b$i"
      }.mkString(", ")
      val sums = (0 until 64).map(i => s"sum(2 * b$i - 1) AS c$i").mkString(", ")
      val sigChars = (0 until 64).map(i => s"CASE WHEN c$i > 0 THEN '1' ELSE '0' END").mkString(", ")
      val chunkKeys = (0 until 4).map(c => s"'$c:' || substr(sig, ${c * 16 + 1}, 16)").mkString(", ")
      val ham = (1 to 64)
        .map(i => s"CASE WHEN substr(sa.sig, $i, 1) <> substr(sb.sig, $i, 1) THEN 1 ELSE 0 END")
        .mkString(" + ")
      raw"""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t FROM documents),
         hx AS (SELECT doc_id, md5(t) AS hx FROM tok),
         bt AS (SELECT doc_id, $bits FROM hx),
         cnt AS (SELECT doc_id, $sums FROM bt GROUP BY doc_id),
         sg AS (SELECT doc_id, concat($sigChars) AS sig FROM cnt),
         keyed AS (SELECT doc_id, unnest([$chunkKeys]) AS key FROM sg),
         ok AS (SELECT key FROM keyed GROUP BY key HAVING count(*) BETWEEN 2 AND 1000),
         pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM keyed a JOIN keyed b ON a.key = b.key AND a.doc_id < b.doc_id
                   WHERE a.key IN (SELECT key FROM ok)),
         hm AS (SELECT pr.id_a, pr.id_b, CAST($ham AS BIGINT) AS hamming
                FROM pairs pr
                JOIN sg sa ON sa.doc_id = pr.id_a
                JOIN sg sb ON sb.doc_id = pr.id_b)
         SELECT id_a, id_b, hamming FROM hm WHERE hamming <= 3"""
    },
    "q_sample_cluster" ->
      // refine=0 cells = first 8 corpus vectors; assignment replayed by
      // cosine argmax (ties → smallest cell); per-cell pick = smallest
      // md5(id-as-string) first (the engine's portable hash order)
      """WITH seeds AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding AS sv
           FROM (SELECT vec_id, embedding FROM embeddings
                 WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 8)),
         assigned AS (
           SELECT e.vec_id,
                  (SELECT s.c FROM seeds s
                   ORDER BY list_cosine_similarity(e.embedding, s.sv) DESC, s.c
                   LIMIT 1) AS cell
           FROM embeddings e WHERE e.embedding IS NOT NULL),
         ranked AS (
           SELECT vec_id, cell,
                  row_number() OVER (PARTITION BY cell
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
           FROM assigned)
         SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM ranked WHERE rn <= 10""",
    "q_decontaminate" -> decontaminateSql,
    // output-identical to q_decontaminate by construction (the Bloom filter
    // is a prefilter whose false positives the exact postings join removes),
    // so the same oracle certifies the Bloom path
    "q_decontaminate_bloom" -> decontaminateSql,
    "q_dedup_lines" ->
      // keeper = first (doc_id, pos) in total order per line hash, replayed
      // with a row_number window; cleaned text re-joined in pos order
      """WITH base AS (
           SELECT a.doc_id AS doc_id, a.text || chr(10) || b.text AS text
           FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 7),
         ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM base),
         lines AS (
           SELECT doc_id, CAST(pos AS BIGINT) - 1 AS pos, ls[CAST(pos AS INTEGER)] AS line
           FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS pos FROM ls)),
         ranked AS (
           SELECT doc_id, pos, line,
                  row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, pos) AS rn
           FROM lines),
         kept AS (SELECT doc_id, pos, line FROM ranked WHERE rn = 1),
         agg AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                  md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5
           FROM kept GROUP BY doc_id),
         nl AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines FROM ls)
         SELECT n.doc_id, n.n_lines,
                CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
                coalesce(a.clean_md5, md5('')) AS clean_md5
         FROM nl n LEFT JOIN agg a USING (doc_id)""",
    "q_hybrid_rrf" ->
      // sparse run = the q_bm25 replay with doc 0's distinct terms as the
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
         FROM fused ORDER BY rrf_nano DESC, id LIMIT 10""",
    "q_dedup_embed" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                CAST(round(10000 * list_cosine_similarity(a.embedding, b.embedding)) AS BIGINT) AS cosine_e4
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4""",
    "q_dedup_embed_lsh" -> {
      // the hyperplanes are plan-time literals (VectorFunctions.plane), so
      // DuckDB recomputes the exact same bucket keys: sign bit per plane,
      // packed into an integer, pairs within a bucket (capped like
      // bucketPairs), then the exact cosine verify
      val keyExpr = (0 until 8)
        .map { p =>
          val lits = graft.functions.VectorFunctions
            .plane(p, 64)
            .map(d => f"$d%.3f")
            .mkString("[", ", ", "]")
          s"(CASE WHEN list_inner_product(embedding, $lits) >= 0 THEN ${1L << p} ELSE 0 END)"
        }
        .mkString(" + ")
      s"""WITH keyed AS (
           SELECT vec_id, $keyExpr AS key FROM embeddings),
         ok AS (
           SELECT key FROM keyed GROUP BY key HAVING count(*) BETWEEN 2 AND 2000),
         pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM keyed a JOIN keyed b ON a.key = b.key AND a.vec_id < b.vec_id
           WHERE a.key IN (SELECT key FROM ok))
         SELECT p.id_a, p.id_b,
                CAST(round(10000 * list_cosine_similarity(ea.embedding, eb.embedding)) AS BIGINT) AS cosine_e4
         FROM pairs p
         JOIN embeddings ea ON ea.vec_id = p.id_a
         JOIN embeddings eb ON eb.vec_id = p.id_b
         WHERE list_cosine_similarity(ea.embedding, eb.embedding) >= 0.4"""
    },
    "q_cluster_stats" ->
      // q_ann_ivf's seeds/assignment CTEs, then per-cell count + min/max of
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
         FROM assigned GROUP BY cell""",
    "q_dedup_semantic" ->
      // SemDeDup replay at refine=0 and AutoNlists: the cell count derives
      // from the corpus size (ceil(n/512), min 1 — Dedup.semantic's
      // AutoNlists rule), centroids = the first `lists` corpus vectors by
      // id, assignment = argmax cosine with ties to the smallest cell
      // (Ann.nearestCell), then within-cell pairs under the bucket cap and
      // the exact cosine verify (q_dedup_embed_lsh's tail)
      """WITH base AS (
           SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
         n AS (
           SELECT greatest(CAST(ceil(count(*) / 512.0) AS BIGINT), 1) AS lists FROM base),
         seeds AS (
           SELECT rn - 1 AS cell, embedding AS centroid
           FROM (SELECT row_number() OVER (ORDER BY vec_id) AS rn, embedding FROM base)
           WHERE rn <= (SELECT lists FROM n)),
         assigned AS (
           SELECT vec_id, embedding,
                  (SELECT s.cell FROM seeds s
                   ORDER BY list_cosine_similarity(c.embedding, s.centroid) DESC, s.cell
                   LIMIT 1) AS cell
           FROM base c),
         ok AS (
           SELECT cell FROM assigned GROUP BY cell HAVING count(*) BETWEEN 2 AND 10000)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                CAST(round(10000 * list_cosine_similarity(a.embedding, b.embedding)) AS BIGINT) AS cosine_e4
         FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
         WHERE a.cell IN (SELECT cell FROM ok)
           AND list_cosine_similarity(a.embedding, b.embedding) >= 0.4""",
    "q_ann_topk" ->
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
         FROM ranked WHERE rank <= 10""",
    "q_ann_quantized" ->
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
         FROM ranked WHERE rank <= 10""",
    "q_ann_binary" ->
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
         FROM ranked WHERE rank <= 10""",
    "q_ann_matryoshka" ->
      // replays the prefix funnel: candidates by cosine over the leading 16
      // components (same index-order double accumulation as the engine's
      // native cosine — the established q_ann_topk equivalence), then exact
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
         FROM ranked WHERE rank <= 10""",
    "q_ann_ivf" ->
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
         FROM ranked WHERE rank <= 10""",
    "q_ann_pq" ->
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
         FROM ranked WHERE rank <= 10""",
    "q_ann_ivfpq" ->
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
         FROM ranked WHERE rank <= 10""",
    "q_ann_ivfpq_residual" ->
      // like q_ann_ivfpq, but the PQ codebooks are RESIDUAL seeds (seed
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
         FROM ranked WHERE rank <= 10""",
    "q_ann_pq_rerank" ->
      // stage 1 = the q_ann_pq ranking kept to 4k candidates per query;
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
         FROM ranked WHERE rank <= 10""",
    "q_ann_lsh" -> {
      // the 6 hyperplanes are plan-time literals (VectorFunctions.plane, 3
      // exact decimals), so the oracle rebuilds the same bucket per vector:
      // sign bit per plane packed into an integer — the q_dedup_embed_lsh
      // idiom, reused for the search-side bucketing
      def bucket(vecCol: String): String = (0 until 6)
        .map { p =>
          val lits = graft.functions.VectorFunctions
            .plane(p, 64)
            .map(d => f"$d%.3f")
            .mkString("[", ", ", "]")
          s"(CASE WHEN list_inner_product($vecCol, $lits) >= 0 THEN ${1L << p} ELSE 0 END)"
        }
        .mkString(" + ")
      // multi-probe (Hamming-1, the lshTopK default): each query probes its
      // own bucket plus the 6 single-bit-flipped neighbors — the same
      // XOR-literal expansion as Ann.lshTopK. Corpus vectors live in exactly
      // one bucket and the 7 probe keys per query are distinct, so the join
      // still produces no duplicate (qid, neighbor) pair.
      val probeList = (Seq("bucket") ++ (0 until 6).map(p => s"xor(bucket, ${1L << p})"))
        .mkString("[", ", ", "]")
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
    },
    "q_geo" ->
      // replays the lat/lon arithmetic directly (exact quarter/half decimals,
      // no float ambiguity); the Spark side must recover identical values
      // through its WKT build + regexp parse round-trip. Ring lon values are
      // lon, lon+1, lon+1, lon, lon → 3·lon + 2·(lon+1).
      """WITH g AS (
           SELECT c_custkey,
                  CAST(c_custkey % 180 AS DOUBLE) - 90 + 0.25 AS lat,
                  CAST((c_nationkey * 7) % 360 AS DOUBLE) - 180 + 0.5 AS lon
           FROM customer WHERE c_custkey <= 1000)
         SELECT c_custkey,
                CAST(round(lat * 100) AS BIGINT) AS lat_e2,
                CAST(round(lon * 100) AS BIGINT) AS lon_e2,
                'Polygon' AS shape_type,
                CAST(1 AS BIGINT) AS n_rings,
                CAST(5 AS BIGINT) AS ring_points,
                CAST(round((3 * lon + 2 * (lon + 1)) * 100) AS BIGINT) AS ring_lon_sum_e2
         FROM g""",
    "q_events_window" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                event_type,
                count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events
         GROUP BY 1, 2""",
    "q_events_sessions" ->
      """WITH flagged AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR date_diff('second', lag(ts) OVER w, ts) > 3600
                       THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sessions AS (
           SELECT user_id, ts, value,
                  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS session_id
           FROM flagged)
         SELECT user_id,
                strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM sessions GROUP BY user_id, session_id""",
    "q_events_sessions_stream" ->
      """WITH flagged AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR date_diff('second', lag(ts) OVER w, ts) > 3600
                       THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sessions AS (
           SELECT user_id, ts, value,
                  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS session_id
           FROM flagged)
         SELECT user_id,
                strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM sessions GROUP BY user_id, session_id""",
    // replay each kind's exact integer feature from its generation formula:
    // image (16x16 RGB pixel sum), audio (400-sample PCM sum of squares),
    // video (summed half-up micro means of sampled frames 0,3,6,9 on 8x8)
    "q_multimodal" ->
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
         SELECT doc_id, 'video', TRUE, CAST(4 AS BIGINT), feature FROM vid""",
    // replay signatures (q_image_pipeline arithmetic) → LSH buckets (plane
    // literals at dim 16) → Hamming-1 probe → exact cosine ranks: the whole
    // image-ANN composition is externally rebuilt
    "q_image_ann" -> {
      def bucket(vecCol: String): String = (0 until 6)
        .map { p =>
          val lits = graft.functions.VectorFunctions
            .plane(p, 16)
            .map(d => f"$d%.3f")
            .mkString("[", ", ", "]")
          s"(CASE WHEN list_inner_product($vecCol, $lits) >= 0 THEN ${1L << p} ELSE 0 END)"
        }
        .mkString(" + ")
      val probeList = (Seq("bucket") ++ (0 until 6).map(p => s"xor(bucket, ${1L << p})"))
        .mkString("[", ", ", "]")
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
    },
    // fixture ground truth: the images were generated with pixel (x,y) =
    // ((x*7+y*13+k*29)%256, (x*3+y*5+k*11)%256, (x*11+y*2+k*7)%256) for
    // image k, so width/height/pixel-sum are known constants; the JPEG's
    // lossy pixel sum is unpublished (-1), the corrupt row decodes to ok=false
    "q_image_decode" ->
      """SELECT * FROM (VALUES
           (CAST(0 AS BIGINT), TRUE,  'png',         CAST(7  AS BIGINT), CAST(5  AS BIGINT), CAST(3  AS BIGINT), CAST(3605  AS BIGINT)),
           (CAST(1 AS BIGINT), TRUE,  'png',         CAST(16 AS BIGINT), CAST(16 AS BIGINT), CAST(3  AS BIGINT), CAST(81024 AS BIGINT)),
           (CAST(2 AS BIGINT), TRUE,  'png',         CAST(3  AS BIGINT), CAST(9  AS BIGINT), CAST(3  AS BIGINT), CAST(5265  AS BIGINT)),
           (CAST(3 AS BIGINT), TRUE,  'png',         CAST(32 AS BIGINT), CAST(8  AS BIGINT), CAST(3  AS BIGINT), CAST(86912 AS BIGINT)),
           (CAST(4 AS BIGINT), TRUE,  'jpeg',        CAST(24 AS BIGINT), CAST(10 AS BIGINT), CAST(3  AS BIGINT), CAST(-1    AS BIGINT)),
           (CAST(99 AS BIGINT), FALSE, 'undecodable', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1    AS BIGINT))
         ) AS t(id, ok, format, width, height, bands, pixel_sum)""",
    // expected 4x4 signatures computed from the fixture pixel formula with
    // the same integer half-up pooling ((1e6*sum + n/2) / n per block)
    "q_image_embed" ->
      """SELECT * FROM (VALUES
           (CAST(0 AS BIGINT), '0,10500000,24500000,38500000,6666667,17166667,31166667,45166667,13333333,23833333,37833333,51833333,23333333,33833333,47833333,61833333'),
           (CAST(1 AS BIGINT), '36166667,64166667,92166667,120166667,62833333,90833333,118833333,146833333,89500000,117500000,145500000,141500000,116166667,122833333,108166667,114833333'),
           (CAST(2 AS BIGINT), '0,34666667,41666667,48666667,0,48000000,55000000,62000000,0,61333333,68333333,75333333,0,78000000,85000000,92000000'),
           (CAST(3 AS BIGINT), '74833333,130833333,160166667,77500000,88166667,144166667,125500000,85500000,101500000,152166667,101500000,98833333,114833333,133500000,109500000,112166667')
         ) AS t(id, sig)""",
    // replay the synthetic-image signatures arithmetically: 16x16 image for
    // key k has pixel (x,y) = ((x*7+y*13+k*29)%256, (x*3+y*5+k*11)%256,
    // (x*11+y*2+k*7)%256); cell (i,j) pools the 4x4 block at (j*4, i*4)
    // with integer half-up micro-rounding — PNG is lossless, so the codec
    // round trip must reproduce these exactly
    "q_image_pipeline" ->
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
         FROM s GROUP BY doc_id""",
    // replay the synthetic-audio features arithmetically: clip k's sample i
    // is ((i*7919 + k*104729) mod 65536) - 32768 — WAV PCM is lossless, so
    // the codec round trip must reproduce these exactly
    "q_audio_pipeline" ->
      """WITH s AS (
           SELECT d.doc_id, ((g.i*7919 + d.doc_id*104729) % 65536) - 32768 AS v
           FROM documents d, generate_series(0, 399) g(i))
         SELECT doc_id,
                CAST(8000 AS BIGINT) AS sample_rate,
                CAST(1 AS BIGINT) AS channels,
                CAST(400 AS BIGINT) AS n_frames,
                CAST(sum(v*v) AS BIGINT) AS sum_squares,
                CAST(max(abs(v)) AS BIGINT) AS peak_abs
         FROM s GROUP BY doc_id""",
    // replay the sampled-frame means: clip k frame f has gray(x,y) =
    // (x*7 + y*13 + f*31 + k*29) mod 256 on an 8x8 frame; 4 samples from
    // 12 frames land on f = 0,3,6,9; mean in half-up integer micro-units
    "q_video_pipeline" ->
      """WITH f AS (SELECT j.j * 3 AS f FROM generate_series(0, 3) j(j)),
         px AS (
           SELECT d.doc_id, f.f, x.x, y.y
           FROM documents d, f, generate_series(0, 7) x(x), generate_series(0, 7) y(y)),
         s AS (
           SELECT doc_id, f, sum((x*7 + y*13 + f*31 + doc_id*29) % 256) AS sm
           FROM px GROUP BY 1, 2)
         SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
                CAST((1000000*sm + 32) // 64 AS BIGINT) AS mean_micro
         FROM s""",
    "q_pack" ->
      """WITH t AS (
           SELECT doc_id, doc_id % 8 AS part,
                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY part ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
           FROM t)
         SELECT doc_id, part,
                CAST(floor(prev / 512) AS BIGINT) AS pack_id,
                CAST(prev % 512 AS BIGINT) AS pack_offset,
                n_tokens,
                CAST(floor((prev + greatest(n_tokens, 1) - 1) / 512) - floor(prev / 512) + 1 AS BIGINT) AS n_packs
         FROM c""",
    "q_pack_greedy" ->
      // first-fit replay: recursive walk over each part's (doc_id-ordered)
      // sequence carrying the running (pack_id, fill); a doc opens a new
      // pack iff the current pack is non-empty and it would overflow the
      // 512-token budget (oversize docs keep a pack of their own)
      """WITH RECURSIVE
         docs0 AS (
           SELECT doc_id,
                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS t,
                  doc_id % 8 AS part
           FROM documents),
         seq AS (
           SELECT *, row_number() OVER (PARTITION BY part ORDER BY doc_id) AS rn FROM docs0),
         walk AS (
           SELECT part, rn, doc_id, t,
                  CAST(0 AS BIGINT) AS pack_id, CAST(0 AS BIGINT) AS pack_offset, t AS fill
           FROM seq WHERE rn = 1
           UNION ALL
           SELECT n.part, n.rn, n.doc_id, n.t,
                  CASE WHEN w.fill > 0 AND w.fill + n.t > 512 THEN w.pack_id + 1 ELSE w.pack_id END,
                  CASE WHEN w.fill > 0 AND w.fill + n.t > 512 THEN CAST(0 AS BIGINT) ELSE w.fill END,
                  CASE WHEN w.fill > 0 AND w.fill + n.t > 512 THEN n.t ELSE w.fill + n.t END
           FROM walk w JOIN seq n ON n.part = w.part AND n.rn = w.rn + 1)
         SELECT doc_id, part, pack_id, pack_offset, t AS n_tokens FROM walk""",
    "q_pack_stats" ->
      """WITH t AS (
           SELECT doc_id % 8 AS part,
                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
           FROM documents)
         SELECT part, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                CAST(ceil(CAST(sum(n_tokens) AS DOUBLE) / 512) AS BIGINT) AS n_packs,
                CAST(CASE WHEN sum(n_tokens) % 512 = 0 THEN 512
                          ELSE sum(n_tokens) % 512 END AS BIGINT) AS last_fill
         FROM t GROUP BY part""",
    "q_mix_budget" ->
      """WITH t AS (
           SELECT doc_id, lang, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
         c AS (
           SELECT *, COALESCE(SUM(n_chars) OVER (PARTITION BY lang
                        ORDER BY h, CAST(doc_id AS VARCHAR)
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
           FROM t)
         SELECT doc_id, lang, n_chars FROM c
         WHERE prev < CASE WHEN lang = 'en' THEN 30000
                           WHEN lang = 'zh' THEN 10000
                           ELSE 15000 END""",
    "q_mix_temperature" ->
      // integer-exact replay of Sampling.temperatureMix(α=0.5): weights are
      // floor(sqrt(count)) — IEEE sqrt is exactly rounded, so identical in
      // both engines — targets are integer division, and membership is the
      // per-stratum md5-rank prefix
      """WITH counts AS (
           SELECT source AS s, count(*) AS n FROM documents GROUP BY source),
         w AS (
           SELECT s, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w FROM counts),
         t AS (
           SELECT s, (300 * w) // (SELECT sum(w) FROM w) AS target FROM w),
         r AS (
           SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)) AS rn
           FROM documents)
         SELECT r.doc_id, r.source
         FROM r JOIN t ON r.source IS NOT DISTINCT FROM t.s
         WHERE r.rn <= t.target""",
    "q_dedup_incr" ->
      """WITH idx AS (
           SELECT md5(text) AS h, min(doc_id) AS keep_id
           FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
         b AS (
           SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
           FROM documents WHERE doc_id % 2 = 1 GROUP BY 1)
         SELECT b.h, b.keep_id, b.n_dups, idx.keep_id AS corpus_keep_id
         FROM b LEFT JOIN idx ON b.h = idx.h""",
    "q_dedup_minhash_incr" -> {
      // same portable md5 family as q_dedup_minhash, split into corpus
      // (even ids, the persisted index) vs batch (odd ids): batch band keys
      // probe corpus band keys, degenerate corpus buckets drop, candidates
      // verify by exact Jaccard
      val k = 16
      val mins = (0 until k).map(i => s"min(md5('$i|' || s)) AS m$i").mkString(", ")
      val bandKeys = (0 until 8).map(b => s"'$b:' || m${2 * b} || m${2 * b + 1}").mkString(", ")
      raw"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                                               i -> array_to_string(toks[i:i+2], ' '))) AS shingles
                FROM t WHERE len(toks) > 0),
         post AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         m AS (SELECT doc_id, $mins FROM post GROUP BY doc_id),
         keyed AS (SELECT doc_id, unnest([$bandKeys]) AS key FROM m),
         ck AS (SELECT * FROM keyed WHERE doc_id % 2 = 0),
         bk AS (SELECT * FROM keyed WHERE doc_id % 2 = 1),
         ok AS (SELECT key FROM ck GROUP BY key HAVING count(*) <= 1000),
         pairs AS (SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
                   FROM bk b JOIN ck c ON b.key = c.key
                   WHERE b.key IN (SELECT key FROM ok)),
         j AS (SELECT pr.batch_id, pr.corpus_id,
                      CAST(len(list_intersect(sb.shingles, sc.shingles)) AS DOUBLE) /
                        len(list_distinct(list_concat(sb.shingles, sc.shingles))) AS jac
               FROM pairs pr
               JOIN sh sb ON sb.doc_id = pr.batch_id
               JOIN sh sc ON sc.doc_id = pr.corpus_id)
         SELECT batch_id, corpus_id, CAST(round(jac * 1000) AS BIGINT) AS jaccard_milli
         FROM j WHERE jac >= 0.3"""
    },
    "q_dedup_cluster_incr" -> clusterCcOracle,
    "q_cluster_rebuild" -> clusterRebuildOracle,
    // the streaming maintenance path must reach the same fixpoint as the
    // batch CC — one oracle, two engine paths (q_cluster_stream adds the
    // persisted signature-index round trip)
    "q_cluster_stream" -> clusterCcOracle,
    "q_topk_per_group" ->
      """SELECT user_id, CAST(rn AS BIGINT) AS rank, value AS score, event_id AS id
         FROM (SELECT user_id, event_id, value,
                      row_number() OVER (PARTITION BY user_id
                                         ORDER BY value DESC, event_id ASC) AS rn
               FROM events)
         WHERE rn <= 3""",
    "q_asof_attribution" ->
      """SELECT p.event_id, p.user_id, p.value, c.click_id, c.click_ts
         FROM (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase') p
         LEFT JOIN LATERAL (
           SELECT e.event_id AS click_id, e.ts AS click_ts FROM events e
           WHERE e.user_id = p.user_id AND e.event_type = 'click' AND e.ts <= p.ts
           ORDER BY e.ts DESC, e.event_id DESC LIMIT 1
         ) c ON TRUE""",
    "q_funnel" ->
      """WITH s1 AS (SELECT user_id AS u, min(ts) AS t FROM events
                     WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
                JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t
                WHERE e.event_type = 'click' GROUP BY 1),
         s3 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
                JOIN s2 ON e.user_id = s2.u AND e.ts > s2.t
                WHERE e.event_type = 'signup' GROUP BY 1),
         s4 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
                JOIN s3 ON e.user_id = s3.u AND e.ts > s3.t
                WHERE e.event_type = 'purchase' GROUP BY 1)
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS stage, 'view' AS step,
                  (SELECT count(*) FROM s1) AS users
           UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
           UNION ALL SELECT 3, 'signup', (SELECT count(*) FROM s3)
           UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4))
         ORDER BY stage""",
    "q_curation_pipeline" ->
      s"""WITH qa AS ($qualityAllSql),
         kept AS (SELECT d.doc_id, d.text FROM documents d
                  JOIN qa ON qa.doc_id = d.doc_id WHERE qa.pass_repetition),
         keepers AS (SELECT min(doc_id) AS keep_id FROM kept GROUP BY md5(text)),
         sampled AS (SELECT keep_id FROM keepers
                     WHERE md5(CAST(keep_id AS VARCHAR)) < '8000')
         SELECT d.lang, count(*) AS n_docs, CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
         FROM sampled s JOIN documents d ON d.doc_id = s.keep_id
         GROUP BY d.lang""",
    "q_range_join" ->
      """SELECT e.event_id AS error_id, CAST(count(c.event_id) AS BIGINT) AS n_clicks
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
         LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
           ON c.user_id = e.user_id
          AND c.ts >= e.ts - INTERVAL 10 MINUTE AND c.ts < e.ts
         GROUP BY e.event_id""",
    "q_weighted_sample" ->
      """WITH s AS (
           SELECT lang, doc_id,
                  round(1000000.0 *
                        ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 0.5)
                           / 281474976710656.0)
                        / greatest(CAST(n_chars AS DOUBLE), 1.0)) AS key
           FROM documents),
         r AS (SELECT lang, doc_id, key,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY key DESC, doc_id ASC) AS rn
               FROM s)
         SELECT lang, CAST(rn AS BIGINT) AS rank, key AS score, doc_id AS id
         FROM r WHERE rn <= 5""",
    "q_zorder_scan" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem
         WHERE l_partkey BETWEEN 5 AND 120 AND l_suppkey BETWEEN 2 AND 8""",
    "q_rollup" ->
      """SELECT r.r_name, n.n_name, count(*) AS n_orders,
                CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         GROUP BY ROLLUP(r.r_name, n.n_name)""",
    "q_ngram_diversity" ->
      raw"""WITH t AS (SELECT source, regexp_split_to_array(trim(text), '\s+') AS toks
                       FROM documents),
         g AS (SELECT source,
                      unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                                            i -> array_to_string(toks[i:i+2], ' '))) AS g
               FROM t)
         SELECT source, count(*) AS total_ngrams,
                CAST(count(DISTINCT g) AS BIGINT) AS distinct_ngrams,
                CAST(round(1000.0 * count(DISTINCT g) / count(*)) AS BIGINT) AS distinct_milli
         FROM g GROUP BY source""",
    "q_freq_spectrum" ->
      raw"""WITH w AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
                       FROM documents),
         c AS (SELECT w, count(*) AS f FROM w WHERE len(w) > 0 GROUP BY w)
         SELECT f, CAST(count(*) AS BIGINT) AS n_words FROM c GROUP BY f""",
    "q_profile" -> {
      val cols = Seq("doc_id", "lang", "source", "n_chars")
      cols
        .map(c => s"""SELECT '$c' AS col_name, count(*) AS n_rows, count($c) AS n_nonnull,
               count(DISTINCT $c) AS n_distinct, CAST(min($c) AS VARCHAR) AS min_s,
               CAST(max($c) AS VARCHAR) AS max_s FROM documents""")
        .mkString("", "\n         UNION ALL ", "")
    }
  )
}
