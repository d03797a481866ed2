package graft

import graft.assemble.DocAssembler
import graft.catalog.Catalog
import graft.cdc.{Changes, IncrementalEngine}
import graft.schema.{Node, SchemaDef}
import graft.sinks.{MaterializedIndex, SearchSink}
import graft.streaming.StreamSync
import graft.transform.{DocTransform, Plugins}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** User-facing facade — the equivalent of the reference's `Sync` class
  * (`pgsync/sync.py:98-156`): construct from a schema document, snapshot,
  * then maintain incrementally from a change feed.
  *
  * {{{
  * val sync = GraftSync(spark, schemaJson, Catalog.testData,
  *                      Tables.load(spark, dir), "/indexes/orders")
  * sync.snapshot()                                   // pull(), sync.py:1895
  * sync.applyChanges(batchDf)                        // batch incremental
  * val q = sync.stream(Changes.fileStream(spark, feedDir), ckptDir)
  * }}}
  */
final class GraftSync(
    spark: SparkSession,
    val schema: SchemaDef,
    catalog: Catalog,
    load: String => DataFrame,
    indexDir: String,
    val plugins: Seq[DocTransform] = Nil,
    guardUnchangedUpdates: Boolean = false,
    private[graft] val tuning: Tuning = Tuning()
) {

  /** Base-table → view-node remap (C9, `pgsync/sync.py:1843-1852`): a node
    * may be a view with `base_tables`; change events on a base table are
    * remapped to the view's node before resolution.
    */
  private val baseTableRemap: Map[String, String] = {
    def collect(n: Node): Seq[(String, String)] =
      n.baseTables.map(_ -> n.table) ++ n.children.flatMap(collect)
    collect(schema.root).toMap
  }

  private val treeTables: Set[String] = {
    def tables(n: Node): Set[String] =
      Set(n.table) ++ n.children.flatMap(c =>
        c.relationship.toSeq.flatMap(_.throughTables) ++ tables(c)
      )
    tables(schema.root)
  }

  val state = new MaterializedIndex(spark, indexDir)
  private val sync = new StreamSync(schema.root, catalog, load, state, plugins, tuning)
  val engine: IncrementalEngine = sync.engine

  /** This sync's display/index name (doc `index`, falling back to the root
    * table like the reference does).
    */
  def indexName: String = if (schema.index.nonEmpty) schema.index else schema.root.table

  /** Cheap in-memory progress counters — the data behind the reference's
    * per-index status thread (`pgsync/sync.py:2114-2153`). Updated by the
    * product paths as a side effect of work already done (cached counts,
    * BulkHttp accumulator totals); reading them never runs a query.
    */
  val progress = new GraftSync.SyncProgress

  /** Point-in-time status snapshot: counters + the stored watermark. */
  def status: GraftSync.SyncStatus = GraftSync.SyncStatus(
    index = indexName,
    phase = progress.phase,
    snapshotDocs = progress.snapshotDocs.get(),
    batchesApplied = progress.batchesApplied.get(),
    docsResynced = progress.docsResynced.get(),
    docsPublished = progress.docsPublished.get(),
    watermark = state.checkpoint
  )

  /** Assemble the full document set (no side effects). */
  def documents(): DataFrame = {
    val docs = DocAssembler.assemble(schema.root, load, catalog)
    Plugins(docs, plugins)
  }

  /** Full snapshot → a fresh materialized index. */
  def snapshot(): Unit = {
    progress.phaseName = "snapshot"
    sync.snapshot()
    // parquet count(*) resolves from footer metadata — no data scan
    progress.snapshotDocs.set(state.docs.count())
    progress.phaseName = "live"
  }

  /** RESUMABLE snapshot — the ctid-resume analogue
    * (`/root/reference/bin/parallel_sync:66-97` records completed ctid
    * pages; a crashed run resumes at the first incomplete page). The
    * document space is chunked by the index's own root-id bucket hash;
    * each completed chunk is a SNAPSHOT_PROGRESS line, so a process that
    * dies mid-snapshot loses at most one chunk's work. The chunks write
    * beside the live index, and the snapshot becomes visible with one
    * index log entry only when every chunk is done — identical content to
    * [[snapshot]].
    *
    * The chunk predicate is pushed into the ROOT table scan (it is an
    * expression over the root's primary-key columns), so the joins,
    * aggregation shuffles and writes of each chunk process only that
    * chunk's roots — total shuffle/write work stays ~1× the unchunked
    * snapshot; only the raw scans repeat.
    */
  def snapshotResumable(nChunks: Int = 8): Unit = {
    progress.phaseName = "snapshot"
    val done = state.beginResumableSnapshot(nChunks)
    (0 until nChunks).filterNot(done).foreach(c => snapshotChunk(c, nChunks))
    state.finalizeSnapshot()
    progress.snapshotDocs.set(state.docs.count())
    progress.phaseName = "live"
  }

  /** One chunk of [[snapshotResumable]] — public as the unit of
    * kill-and-resume (an external scheduler can drive chunks itself and
    * call `state.finalizeSnapshot()` when all report complete). Completed
    * chunks are skipped, so replays are no-ops.
    */
  def snapshotChunk(chunk: Int, nChunks: Int): Unit = {
    import org.apache.spark.sql.functions._
    val pks = DocAssembler.primaryKeys(schema.root, catalog)
    // the same `_id` bytes the assembler builds (concat_ws on PK strings),
    // expressed over the raw root scan so the restriction pushes down
    val idExpr = concat_ws(DocAssembler.IdDelimiter, pks.map(p => col(p).cast("string")): _*)
    val docs = DocAssembler.assemble(
      schema.root,
      load,
      catalog,
      rootScanFilter = df => df.filter(state.chunkPredicate(idExpr, chunk, nChunks))
    )
    state.initializeChunk(chunk, nChunks, Plugins(docs, plugins))
  }

  /** The changed-column guard set per tree table (P9): each node's
    * configured column base names — what the reference's trigger compares
    * (`pgsync/trigger.py:58-71`, columns from `sync.py:412-419`) — PLUS the
    * table's primary keys and its FK columns. The reference guards only on
    * configured columns, which can silently skip a pure key move; including
    * the keys keeps the optimization (no-op payload updates skipped) without
    * that staleness hole.
    */
  def trackedColumns: Map[String, Seq[String]] = {
    def visit(n: Node): Seq[(String, Seq[String])] = {
      val meta = catalog.tables.get(n.table)
      val keys = meta.map(m => m.primaryKeys ++ m.foreignKeys.flatMap(_.childColumns)).getOrElse(Nil)
      (n.table -> (n.columns.map(_.base) ++ keys).distinct) +: n.children.flatMap(visit)
    }
    visit(schema.root).toMap
  }

  /** Pre-filter a change feed: schema filter (P8) + base-table remap (C9)
    * + optional changed-column guard (P9, `guardUnchangedUpdates`).
    */
  def prepare(changes: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val remapped = baseTableRemap.foldLeft(changes) { case (df, (from, to)) =>
      df.withColumn("tbl", when(col("tbl") === from, to).otherwise(col("tbl")))
    }
    val filtered = Changes.schemaFilter(remapped, treeTables)
    if (guardUnchangedUpdates) Changes.changedColumnGuard(filtered, trackedColumns)
    else filtered
  }

  /** Apply one batch of changes to the materialized index. Already-applied
    * txids are skipped (checkpoint parity, `pgsync/sync.py:1581-1656`).
    *
    * The stored checkpoint is CONSERVATIVE: a low-watermark that only
    * advances to `min(batch txid) - 1` — the reference's semantics
    * (`pgsync/sync.py:1890-1893` checkpoints `min(xmin) - 1`), not the batch
    * max — plus the exact set of applied txids above it. With an
    * at-least-once feed that delivers out of commit order *across* batches,
    * a max-watermark silently drops a late event whose txid is below a
    * previous batch's max — permanent staleness for that doc. Here such an
    * event passes the watermark and is absent from the applied-set, so it is
    * applied; exact replays ARE in the applied-set, so they stay no-ops. The
    * watermark never regresses and prunes the applied-set as it advances,
    * keeping the set bounded by one batch's distinct txids plus the feed's
    * disorder window.
    */
  def applyChanges(batch: DataFrame, opsSink: Option[DataFrame => Unit] = None): Unit = {
    import org.apache.spark.sql.functions._
    val ck = state.checkpointState
    val fresh = ck match {
      case Some(c) =>
        val aboveWatermark = batch.filter(col("txid") > c.watermark)
        if (c.applied.isEmpty) aboveWatermark
        else aboveWatermark.filter(!col("txid").isInCollection(c.applied))
      case None => batch
    }
    val prepared = prepare(fresh).cache()
    try {
      // distinct txids of one batch: bounded driver-side collect (≤ batch
      // size), same magnitude as the reference's checkpoint computation.
      // The checkpoint commits in the batch's own log entry.
      val txids = prepared.select(col("txid")).distinct().collect().map(_.getLong(0))
      val checkpoint = Option.when(txids.nonEmpty) {
        val wm = math.max(ck.fold(Long.MinValue)(_.watermark), txids.min - 1)
        graft.sources.IndexLog.Checkpoint(wm, (ck.fold(Set.empty[Long])(_.applied) ++ txids).filter(_ > wm))
      }
      val resynced = sync.applyBatch(prepared, opsSink, checkpoint)
      progress.batchesApplied.incrementAndGet()
      progress.docsResynced.addAndGet(resynced)
    } finally prepared.unpersist()
  }

  /** Start continuous maintenance from a streaming change feed — the
    * doc-only form of [[graft.streaming.SyncPipeline.start]]; `opsSink`
    * additionally publishes each micro-batch's ops (the continuous form of
    * [[publishChanges]] — pass `ops => BulkHttp.write(ops, bulkConfig(ep))`).
    */
  def stream(
      changes: DataFrame,
      checkpointDir: String,
      opsSink: Option[DataFrame => Unit] = None
  ): StreamingQuery =
    sync.start(
      prepare(changes), checkpointDir, opsSink = opsSink,
      afterBatch = n => {
        progress.batchesApplied.incrementAndGet()
        progress.docsResynced.addAndGet(n)
      }
    )

  /** The search-index bootstrap body for this schema (S11): settings (when
    * the doc carries a `setting` object) + mappings, honoring doc-level
    * `mapping`/`mappings` overrides with the reference's merge priority
    * (`search_client.py:261-288`); falls back to the tree derivation.
    */
  def indexMapping: String = SearchSink.createBody(schema)

  // ---- publishing to a live search endpoint (S10 product loop) -------------

  /** A [[graft.sinks.BulkHttp.BulkConfig]] pre-filled from this schema: the
    * doc's `index`, ingest `pipeline` (`pgsync/sync.py:114-121,1576-1577`)
    * and `routing` travel with every published action.
    */
  def bulkConfig(endpoint: String): graft.sinks.BulkHttp.BulkConfig =
    graft.sinks.BulkHttp.BulkConfig(
      endpoint = endpoint,
      index = if (schema.index.nonEmpty) schema.index else schema.root.table,
      pipeline = schema.pipeline,
      routing = schema.routing
    )

  /** Bootstrap the remote index (settings+mapping if absent) and bulk-index
    * a full snapshot — the HTTP form of [[snapshot]] (`pull()` then
    * `search_client.bulk`, `sync.py:1895-1945`). Returns the sink counters.
    */
  def publishSnapshot(cfg: graft.sinks.BulkHttp.BulkConfig): graft.sinks.BulkHttp.BulkResult = {
    graft.sinks.BulkHttp.createIndex(cfg.endpoint, cfg.index, indexMapping)
    val docs = documents()
    val payload = docs.columns.filterNot(_ == DocAssembler.IdColumn).map(org.apache.spark.sql.functions.col).toIndexedSeq
    import org.apache.spark.sql.functions._
    val ops = docs.select(
      lit("index").as("op"),
      col(DocAssembler.IdColumn),
      to_json(struct(payload: _*)).as("doc")
    )
    val result = graft.sinks.BulkHttp.write(ops, cfg)
    progress.docsPublished.addAndGet(result.succeeded)
    result
  }

  /** Apply one change batch locally (watermark + bucket commit, keeping the
    * lineage current for the next resolution) AND bulk-publish the same
    * batch's ops to the remote endpoint — one engine pass feeds both (the
    * ops sink reads the cached resolution), at-least-once with idempotent
    * upsert-by-`_id`, the reference's delivery contract (C3).
    */
  def publishChanges(batch: DataFrame, cfg: graft.sinks.BulkHttp.BulkConfig): graft.sinks.BulkHttp.BulkResult = {
    var result = graft.sinks.BulkHttp.BulkResult(0, 0, 0, 0, 0)
    applyChanges(batch, opsSink = Some(ops => result = graft.sinks.BulkHttp.write(ops, cfg)))
    progress.docsPublished.addAndGet(result.succeeded)
    result
  }

  /** Physical-layout advice — the engine-native analogue of the reference's
    * `--analyze`, which prints missing-index DDL for every resolved join key
    * (`pgsync/sync.py:276-324`). Here the "index" is the table layout: FK
    * join/aggregation keys want bucketed (or key-partitioned) tables so
    * repeated syncs co-locate without re-shuffling
    * ([[graft.sources.Tables.writeBucketed]]); one_to_one dimension sides
    * broadcast (AQE decides from runtime sizes — listed for visibility).
    */
  def analyze(): Seq[String] = analyze(catalogBucketing)

  /** As [[analyze]], with an explicit layout lookup: `layoutOf(table)` =
    * the table's clustering (bucket/partition) keys, None when unclustered.
    * Like the reference, a key requirement already covered by the layout
    * reports `OK` instead of advice (`sync.py:298-308` checks existing
    * indexes before printing the CREATE INDEX).
    */
  def analyze(layoutOf: String => Option[Seq[String]]): Seq[String] = {
    val out = Seq.newBuilder[String]
    def advise(table: String, keys: Seq[String], why: String): Unit = {
      val ks = keys.mkString(", ")
      layoutOf(table) match {
        case Some(cols) if keys.nonEmpty && keys.toSet.subsetOf(cols.toSet) =>
          out += s"""OK: found layout (${cols.mkString(", ")}) on "$table" covering ($ks) — $why"""
        case _ =>
          out += (s"bucket $table by ($ks) — $why; create with " +
            s"""Tables.writeBucketed(load("$table"), "$table", Seq(${keys.map("\"" + _ + "\"").mkString(", ")}))""")
      }
    }
    val rootPks = graft.assemble.DocAssembler.primaryKeys(schema.root, catalog)
    advise(schema.root.table, rootPks, "root PK: incremental re-assembly restricts on it")
    def visit(node: Node): Unit =
      graft.assemble.DocAssembler.resolveChildSpecs(node, catalog).foreach {
        case (c, parentLeg, Some((through, childLeg))) =>
          advise(through, parentLeg.childColumns, "through-table aggregate + parent join key")
          advise(c.table, childLeg.childColumns, "through-join key")
          visit(c)
        case (c, spec, None) =>
          c.relationship.get.relType match {
            case graft.schema.RelType.OneToMany =>
              advise(c.table, spec.childColumns, "one_to_many aggregate + join key")
            case graft.schema.RelType.OneToOne =>
              out += s"dimension ${c.table}: broadcast join (AQE selects it from runtime size; no layout change needed)"
          }
          visit(c)
      }
    visit(schema.root)
    out.result().distinct
  }

  /** Default layout lookup: bucket columns of a session-catalog table (the
    * [[graft.sources.Tables.writeBucketed]] layout); None for tables not in
    * the catalog or not bucketed.
    */
  private def catalogBucketing(table: String): Option[Seq[String]] =
    try {
      if (!spark.catalog.tableExists(table)) None
      else {
        val bucketCols =
          spark.catalog.listColumns(table).collect().filter(_.isBucket).map(_.name).toSeq
        if (bucketCols.nonEmpty) Some(bucketCols) else None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
}

object GraftSync {

  /** Mutable per-sync counters (thread-safe; snapshot pool + streaming
    * threads write, the status reporter reads).
    */
  final class SyncProgress {
    import java.util.concurrent.atomic.AtomicLong
    @volatile private[graft] var phaseName: String = "init"
    private[graft] val snapshotDocs = new AtomicLong(-1L) // -1 = no snapshot yet
    private[graft] val batchesApplied = new AtomicLong(0L)
    private[graft] val docsResynced = new AtomicLong(0L)
    private[graft] val docsPublished = new AtomicLong(0L)
    def phase: String = phaseName
  }

  /** One line of the reference's status display (`sync.py:2114-2153` prints
    * per-index `Syncing <index> Xmin: .. Db: .. Redis: .. Elastic: ..`):
    * phase ∈ init|snapshot|live, doc/batch counters, stored low-watermark.
    */
  final case class SyncStatus(
      index: String,
      phase: String,
      snapshotDocs: Long,
      batchesApplied: Long,
      docsResynced: Long,
      docsPublished: Long,
      watermark: Option[Long]
  )

  def apply(
      spark: SparkSession,
      schemaJson: String,
      catalog: Catalog,
      load: String => DataFrame,
      indexDir: String,
      plugins: Seq[DocTransform] = Nil,
      guardUnchangedUpdates: Boolean = false,
      tuning: Tuning = Tuning()
  ): GraftSync =
    new GraftSync(spark, SchemaDef.parse(schemaJson), catalog, load, indexDir, plugins,
      guardUnchangedUpdates, tuning)

  /** Load a config document holding ONE schema or an ARRAY of schemas (one
    * per index — `pgsync/utils.py:204-300` `config_loader` yields one doc
    * per index) and build a sync per index, each materialized under
    * `baseDir/<index>`. Top-level string fields get `${VAR}` env templating
    * (`Template.safe_substitute` parity — pass `env` explicitly to override
    * the process environment, e.g. in tests).
    */
  def fromConfig(
      spark: SparkSession,
      configJson: String,
      catalog: Catalog,
      load: String => DataFrame,
      baseDir: String,
      env: Map[String, String] = sys.env
  ): Seq[GraftSync] =
    graft.schema.ConfigLoader.docs(configJson, env).map { json =>
      val schema = SchemaDef.parse(json)
      val name = if (schema.index.nonEmpty) schema.index else schema.root.table
      // the doc's `plugins` name list resolves against ServiceLoader-
      // discovered implementations, in config order (plugin.py:49-91)
      new GraftSync(spark, schema, catalog, load, s"$baseDir/$name",
        plugins = Plugins.discover(schema.plugins))
    }

  /** Run every sync of a config as one combined daemon — the reference's
    * multi-doc orchestration (`sync.py:2383-2416` spawns one thread per
    * schema doc; `receive()`, `sync.py:2114-2153`, does snapshot-then-
    * consume per doc). Spark-native shape: snapshots are submitted as
    * CONCURRENT jobs from a small driver-side pool (the cluster scheduler
    * interleaves their stages — one idle sync's scan overlaps another's
    * shuffle), then each sync with a change feed starts its own Structured
    * Streaming query. Everything shares the one SparkSession; each sync
    * keeps its own index dir and checkpoint dir (`checkpointBase/<index>`).
    *
    * Returns one handle per sync, aligned with the input order; streaming
    * handles are None for feed-less (snapshot-only) docs. Callers own
    * `awaitTermination`/`stop` on the returned queries.
    *
    * `onStatus` is the reference's status thread (`sync.py:2114-2153`): when
    * set, a daemon reporter fires it every `statusIntervalMs` with one
    * [[SyncStatus]] per sync — during the snapshot phase and for as long as
    * any started streaming query is active, then once more and stops itself.
    * Reading statuses runs no queries; callback exceptions are swallowed so
    * a broken display can never take down the daemon.
    */
  def runAll(
      syncs: Seq[GraftSync],
      checkpointBase: String,
      changeFeed: GraftSync => Option[DataFrame] = _ => None,
      opsSink: GraftSync => Option[DataFrame => Unit] = _ => None,
      snapshotParallelism: Int = 4,
      onStatus: Option[Seq[SyncStatus] => Unit] = None,
      statusIntervalMs: Long = 10000
  ): Seq[Option[StreamingQuery]] = {
    if (syncs.isEmpty) return Nil
    @volatile var started: Option[Seq[StreamingQuery]] = None
    val reporter = onStatus.map { cb =>
      val t = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
        val th = new Thread(r, "graft-status"); th.setDaemon(true); th
      }
      lazy val handle: java.util.concurrent.ScheduledFuture[_] = t.scheduleAtFixedRate(
        () => {
          try cb(syncs.map(_.status))
          catch { case _: Throwable => () }
          // self-terminate once every started stream has finished (or no
          // stream ever started and the snapshot phase set `started`)
          started.foreach { qs =>
            if (qs.forall(q => !q.isActive)) t.shutdown()
          }
        },
        statusIntervalMs, statusIntervalMs, java.util.concurrent.TimeUnit.MILLISECONDS
      )
      handle // force scheduling
      t
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(snapshotParallelism, syncs.size))
    )
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      // phase 1: all snapshots, as overlapping Spark jobs
      Await.result(
        Future.sequence(syncs.map(s => Future(s.snapshot()))),
        Duration.Inf
      )
    } catch {
      case e: Throwable =>
        reporter.foreach(_.shutdown())
        throw e
    } finally pool.shutdown()
    // phase 2: continuous maintenance for docs with a feed. A throw here
    // (bad checkpoint dir, non-streaming feed) must stop the queries already
    // started AND the status reporter — `started` is never set on this path,
    // so without the catch the daemon task would fire forever and earlier
    // streams would leak
    val acc = scala.collection.mutable.ArrayBuffer.empty[Option[StreamingQuery]]
    try
      syncs.foreach { s =>
        acc += changeFeed(s).map(feed => s.stream(feed, s"$checkpointBase/${s.indexName}", opsSink(s)))
      }
    catch {
      case e: Throwable =>
        acc.flatten.foreach(q => try q.stop() catch { case _: Throwable => () })
        reporter.foreach(_.shutdown())
        throw e
    }
    val queries = acc.toSeq
    started = Some(queries.flatten)
    queries
  }

  /** [[fromConfig]] from a local path or http(s) URL (the reference's
    * `--config` / `--schema_url` sources, `utils.py:264-281`).
    */
  def fromConfigSource(
      spark: SparkSession,
      source: String,
      catalog: Catalog,
      load: String => DataFrame,
      baseDir: String,
      env: Map[String, String] = sys.env
  ): Seq[GraftSync] =
    fromConfig(spark, graft.schema.ConfigLoader.fetch(source), catalog, load, baseDir, env)
}
