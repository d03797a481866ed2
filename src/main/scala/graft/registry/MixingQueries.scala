package graft
package registry

import graft.Query.loader
import graft.ann.Ann
import org.apache.spark.sql.functions._

/** Registry queries over sampling, packing and mixing, and the relational
  * and event analytics.
  */
private[graft] object MixingQueries {

  val all: Seq[Query] = Seq(
    // ---- classic agg (sum over group keys) ---------------------------------
    Query("q1_agg", (s, dir) =>
      loader(s, dir)("lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows")
        ),
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag, l_linestatus"""),
    // ---- analytics: multi-join agg with broadcast dims ---------------------
    Query("q_revenue_by_nation", (s, dir) => {
      val load = loader(s, dir)
      load("orders")
        .join(broadcast(load("customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(load("nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).cast("long").as("revenue_cents")
        )
    },
      """SELECT n.n_name, count(*) AS n_orders,
                CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY n.n_name"""),
    // ---- analytics: post-aggregation filter (HAVING) -----------------------
    Query("q_having", (s, dir) =>
      loader(s, dir)("lineitem")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("total_qty"))
        .filter(col("n_items") > 50),
      """SELECT l_suppkey, count(*) AS n_items, sum(l_quantity) AS total_qty
         FROM lineitem GROUP BY l_suppkey HAVING count(*) > 50"""),
    // ---- skewed-key aggregation via two-phase salting ----------------------
    // l_returnflag has 3 values — every row funnels through 3 reducers in a
    // naive groupBy; the salted path spreads each hot key over 16 (key,salt)
    // partials first. Output is the exact unsalted multiset (oracle-checked);
    // the collect path is made deterministic with sort_array downstream,
    // exactly as DocAssembler consumes it.
    Query("q_salted_agg", (s, dir) => {
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
    },
      """WITH sums AS (
           SELECT l_returnflag,
                  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_centi
           FROM lineitem GROUP BY 1),
         lists AS (
           SELECT l_returnflag,
                  array_to_string(list(CAST(l_linenumber AS BIGINT) ORDER BY l_linenumber), ',') AS lns
           FROM lineitem WHERE l_orderkey < 100 GROUP BY 1)
         SELECT s.l_returnflag, s.qty_centi, l.lns
         FROM sums s JOIN lists l USING (l_returnflag)"""),
    // ---- exact per-group percentile report (value-compressed order stats) --
    Query("q_corpus_stats", (s, dir) =>
      graft.functions.CorpusStats
        .exactPercentiles(loader(s, dir)("documents"), Seq("lang", "source"), "n_chars"),
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
         FROM cum GROUP BY 1, 2"""),
    // ---- corpus subsampling / mixing ---------------------------------------
    Query("q_sample_hash", (s, dir) =>
      graft.functions.Sampling
        .hashSample(loader(s, dir)("documents"), col("doc_id"), 0.2)
        .select(col("doc_id"), col("lang")),
      """SELECT doc_id, lang FROM documents
         WHERE md5(CAST(doc_id AS VARCHAR)) < '3333'"""),
    Query("q_sample_stratified", (s, dir) =>
      graft.functions.Sampling
        .stratifiedSample(
          loader(s, dir)("documents"),
          col("doc_id"),
          col("lang"),
          fractions = Map("en" -> 0.8, "zh" -> 0.25, "de" -> 1.0),
          defaultFraction = 0.1
        )
        .select(col("doc_id"), col("lang")),
      """SELECT doc_id, lang FROM documents
         WHERE CASE
           WHEN lang = 'en' THEN md5(CAST(doc_id AS VARCHAR)) < 'cccd'
           WHEN lang = 'zh' THEN md5(CAST(doc_id AS VARCHAR)) < '4000'
           WHEN lang = 'de' THEN TRUE
           ELSE md5(CAST(doc_id AS VARCHAR)) < '199a'
         END"""),
    Query("q_sample_quota", (s, dir) =>
      graft.functions.Sampling
        .quota(
          loader(s, dir)("orders"),
          groupCols = Seq(col("o_orderstatus")),
          order = Seq(col("o_orderkey")),
          k = 100
        )
        .select(col("o_orderkey"), col("o_orderstatus")),
      """SELECT o_orderkey, o_orderstatus FROM (
           SELECT o_orderkey, o_orderstatus,
                  row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS rn
           FROM orders) t
         WHERE rn <= 100"""),
    // ---- DSIR importance resampling toward a target slice (Xie et al. 2023)
    Query("q_dsir", (s, dir) =>
      graft.functions.Dsir
        .resample(loader(s, dir)("documents"), "doc_id", "text", col("lang") === "en", k = 100)
        .select(col("id").as("doc_id"), col("weight_micro"), col("score_micro"), col("rank")),
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
         FROM ranked WHERE rnk <= 100"""),
    // ---- cluster-balanced curation: per-cell quota in portable hash order -
    Query("q_sample_cluster", (s, dir) =>
      Ann.clusterBalancedSample(
          loader(s, dir)("embeddings"), "vec_id", "embedding", perCell = 10, nlists = 8)
        .select(col("cid").as("vec_id"), col("cell")),
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
         SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM ranked WHERE rn <= 10"""),
    // ---- geo columns: WKT → geo_point/geo_shape (examples/geo topology) ----
    // builds WKT strings from exact-decimal lat/lon derived from customer
    // keys, round-trips them through the codegen geo parsers, and projects
    // scalars the oracle recomputes arithmetically — the parse path itself
    // is what's under the hash
    Query("q_geo", (s, dir) => {
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
    },
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
         FROM g"""),
    // ---- event analytics: tumbling windows + gap sessionization ------------
    Query("q_events_window", (s, dir) =>
      graft.streaming.EventAnalytics.windowedCounts(loader(s, dir)("events"), "1 hour"),
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                event_type,
                count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events
         GROUP BY 1, 2"""),
    Query("q_events_sessions", (s, dir) =>
      graft.streaming.EventAnalytics.sessionizeBatch(loader(s, dir)("events"), 3600L),
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
         FROM sessions GROUP BY user_id, session_id"""),
    // the STATEFUL streaming form under the same oracle: a deterministic
    // file-stream replay through flatMapGroupsWithState (event-time state,
    // sentinel flush) must emit the exact sessions the batch form computes
    Query("q_events_sessions_stream", (s, dir) =>
      graft.streaming.EventAnalytics.sessionizeReplay(loader(s, dir)("events"), 3600L),
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
         FROM sessions GROUP BY user_id, session_id"""),
    // ---- sequence packing: docs → fixed token-budget training sequences ----
    // concatenate-and-chunk semantics (pure prefix sum — carries the oracle);
    // 8 streams salted by id, whitespace token counts, 512-token packs
    Query("q_pack", (s, dir) =>
      graft.functions.Packing
        .pack(
          loader(s, dir)("documents"),
          col("doc_id"),
          size(split(trim(col("text")), graft.expr.TextPrimitives.WsPlus)).cast("long"),
          pmod(col("doc_id"), lit(8)),
          col("doc_id"),
          budget = 512L
        )
        .withColumnRenamed("id", "doc_id"),
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
         FROM c"""),
    Query("q_pack_stats", (s, dir) =>
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
      ),
      """WITH t AS (
           SELECT doc_id % 8 AS part,
                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
           FROM documents)
         SELECT part, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                CAST(ceil(CAST(sum(n_tokens) AS DOUBLE) / 512) AS BIGINT) AS n_packs,
                CAST(CASE WHEN sum(n_tokens) % 512 = 0 THEN 512
                          ELSE sum(n_tokens) % 512 END AS BIGINT) AS last_fill
         FROM t GROUP BY part"""),
    // whole-document first-fit (docs never split): the pack boundary depends
    // on the running fill, not a prefix sum — a window can't express it, but
    // a recursive CTE CAN: the oracle walks each part's doc sequence one
    // rank per iteration, carrying (pack_id, fill) state, all parts
    // advancing in parallel rows. PackingSpec keeps the invariant tests.
    Query("q_pack_greedy", (s, dir) =>
      graft.functions.Packing
        .packGreedy(
          loader(s, dir)("documents"),
          col("doc_id"),
          size(split(trim(col("text")), graft.expr.TextPrimitives.WsPlus)).cast("long"),
          pmod(col("doc_id"), lit(8)),
          col("doc_id"),
          budget = 512L
        )
        .withColumnRenamed("id", "doc_id"),
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
         SELECT doc_id, part, pack_id, pack_offset, t AS n_tokens FROM walk"""),
    // ---- corpus mixing by TOKEN budget (chars stand in for tokens here):
    // fill each lang's budget in md5-hash order of the key --------------------
    Query("q_mix_budget", (s, dir) =>
      graft.functions.Sampling
        .tokenBudget(
          loader(s, dir)("documents"),
          col("doc_id"),
          col("lang"),
          col("n_chars"),
          budgets = Map("en" -> 30000L, "zh" -> 10000L),
          defaultBudget = 15000L
        )
        .select(col("doc_id"), col("lang"), col("n_chars")),
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
                           ELSE 15000 END"""),
    // ---- corpus mixing by TEMPERATURE (α=0.5): targets computed from the
    // stratum counts themselves, integer-exact end to end ---------------------
    Query("q_mix_temperature", (s, dir) =>
      graft.functions.Sampling
        .temperatureMix(
          loader(s, dir)("documents"),
          col("doc_id"),
          col("source"),
          budget = 300L
        )
        .select(col("doc_id"), col("source")),
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
         WHERE r.rn <= t.target"""),
    // ---- top-k per group: bounded-heap aggregate, not a window sort --------
    Query("q_topk_per_group", (s, dir) =>
      graft.functions.Analytics.topKPerGroup(
        loader(s, dir)("events"),
        Seq("user_id"),
        col("value"),
        col("event_id"),
        k = 3
      ),
      """SELECT user_id, CAST(rn AS BIGINT) AS rank, value AS score, event_id AS id
         FROM (SELECT user_id, event_id, value,
                      row_number() OVER (PARTITION BY user_id
                                         ORDER BY value DESC, event_id ASC) AS rn
               FROM events)
         WHERE rn <= 3"""),
    // ---- as-of join: last click at-or-before each purchase (attribution) ---
    Query("q_asof_attribution", (s, dir) => {
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
    },
      """SELECT p.event_id, p.user_id, p.value, c.click_id, c.click_ts
         FROM (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase') p
         LEFT JOIN LATERAL (
           SELECT e.event_id AS click_id, e.ts AS click_ts FROM events e
           WHERE e.user_id = p.user_id AND e.event_type = 'click' AND e.ts <= p.ts
           ORDER BY e.ts DESC, e.event_id DESC LIMIT 1
         ) c ON TRUE"""),
    // ---- ordered funnel over the event stream ------------------------------
    Query("q_funnel", (s, dir) =>
      graft.functions.Analytics.funnel(
        loader(s, dir)("events"),
        "user_id",
        "event_type",
        "ts",
        Seq("view", "click", "signup", "purchase")
      ),
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
         ORDER BY stage"""),
    // ---- one-scan column profile (exact; HLL twin is spec-graded) ----------
    Query("q_profile", (s, dir) =>
      graft.functions.Profiler.profile(
        loader(s, dir)("documents"),
        Seq("doc_id", "lang", "source", "n_chars")
      ), {
      val cols = Seq("doc_id", "lang", "source", "n_chars")
      cols
        .map(c => s"""SELECT '$c' AS col_name, count(*) AS n_rows, count($c) AS n_nonnull,
               count(DISTINCT $c) AS n_distinct, CAST(min($c) AS VARCHAR) AS min_s,
               CAST(max($c) AS VARCHAR) AS max_s FROM documents""")
        .mkString("", "\n         UNION ALL ", "")
    }),
    // ---- range join: clicks within 10 min before each error (banded) -------
    Query("q_range_join", (s, dir) => {
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
    },
      """SELECT e.event_id AS error_id, CAST(count(c.event_id) AS BIGINT) AS n_clicks
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
         LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
           ON c.user_id = e.user_id
          AND c.ts >= e.ts - INTERVAL 10 MINUTE AND c.ts < e.ts
         GROUP BY e.event_id"""),
    // ---- weighted sample without replacement (Efraimidis–Spirakis) ---------
    Query("q_weighted_sample", (s, dir) =>
      graft.functions.Sampling.weightedSample(
        loader(s, dir)("documents"),
        Seq("lang"),
        col("doc_id"),
        col("n_chars"),
        k = 5
      ),
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
         FROM r WHERE rn <= 5"""),
    // ---- Z-order layout: clustered write, multi-column box scan ------------
    Query("q_zorder_scan", (s, dir) =>
      graft.sources.Layout.zorderScan(
        loader(s, dir)("lineitem")
          .select(
            col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_suppkey"), col("l_quantity")
          ),
        Seq("l_partkey", "l_suppkey"),
        targetFiles = 16,
        col("l_partkey").between(5, 120) && col("l_suppkey").between(2, 8)
      ),
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
         FROM lineitem
         WHERE l_partkey BETWEEN 5 AND 120 AND l_suppkey BETWEEN 2 AND 8"""),
    // ---- ROLLUP: region→nation revenue with subtotal + grand-total rows ----
    Query("q_rollup", (s, dir) => {
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
    },
      """SELECT r.r_name, n.n_name, count(*) AS n_orders,
                CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         GROUP BY ROLLUP(r.r_name, n.n_name)""")
  )
}
