package graft.streaming

import graft.{GraftSync, Tuning}
import graft.ann.Ann
import graft.functions.Retrieval
import graft.util.Tier
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The COMPOSED product entry: one change feed fans into every consumer a
  * search product maintains — the materialized document index (+ lineage)
  * via [[graft.GraftSync]], and any set of secondary indexes (persisted
  * BM25, LSH ANN, IVF-PQ ANN, exact-dedup registry, near-dup cluster map)
  * — each consumer with its OWN Structured Streaming checkpoint, so a
  * restart resumes every index from its own high-water mark and
  * at-least-once replay converges per that consumer's protocol
  * (delete-first for the BM25 and ANN indexes, first-writer-wins for the
  * dedup registry, no-split merges for the cluster map — see each
  * [[SyncPipeline.Consumer]]).
  *
  * Reference shape: one `Sync` object owns the whole consumer side —
  * snapshot then continuous consumption (`/root/reference/pgsync/sync.py:
  * 2114-2153`); here the consumer side is N independent streaming queries
  * over the same feed instead of one process loop, which is the
  * Spark-native form: each query commits its own offsets, a slow consumer
  * never backpressures the others, and any subset can be restarted alone.
  *
  * Payload derivation ([[SyncPipeline.changeRows]]): change events carry
  * only keys; each micro-batch joins its final per-id ops against the
  * CURRENT source table (the engine's recompute-final-state semantics,
  * like [[graft.cdc.IncrementalEngine]]). An upsert whose row has since
  * vanished from the source degrades to DELETE — never a stale payload.
  */
object SyncPipeline {

  /** One secondary-index consumer wired to the pipeline's change feed.
    * `name` keys the checkpoint directory — must be unique per pipeline.
    * Each consumer owns its protocol: [[seed]] builds its index from the
    * full source table, [[apply]] maintains it from one batch of
    * [[changeRows]].
    *
    * Batches come in two tiers, split by the threshold the doc sync's
    * engine uses for literal id sets ([[graft.Tuning.inSetThreshold]],
    * 1 000 by default): a batch of at most that many ids is collected ONCE
    * into a driver-local relation (`fused = true`), a larger one is cached
    * for the batch. The BM25 and LSH consumers take their driver-fused
    * tier on local batches ([[Bm25Stream]], [[AnnStream]]); the others read
    * either form alike.
    */
  sealed trait Consumer {
    def name: String
    def indexPath: String

    /** The source-table column this consumer needs per upsert. */
    def payloadColumn: String

    /** Build this consumer's index from the full source table `src`, at
      * the pipeline's `tuning`.
      */
    private[streaming] def seed(src: DataFrame, pk: String, tuning: Tuning): Unit

    /** Apply one batch of `rows` in [[changeRows]] shape (`tg_op`, `pk`,
      * [[payloadColumn]]). `source` reads the CURRENT source table; the
      * BM25, dedup and cluster protocols take their session from it.
      * `fused`: `rows` is a driver-local relation within the threshold.
      * `tuning` is the pipeline's (its doc sync's).
      */
    private[streaming] def apply(
        rows: DataFrame, pk: String, source: () => DataFrame, fused: Boolean, tuning: Tuning): Unit
  }

  /** Persisted BM25 maintenance ([[Bm25Stream.applyBatch]]: delete every
    * batch id, then append the upserts, so a replayed batch converges).
    * With `autoCompactRatio` set, both compaction policies run per batch —
    * the dead-ratio leg for delete-heavy feeds and the impact-growth leg
    * (at `impactGrowthMultiple`) for append-only feeds.
    */
  final case class Bm25Consumer(
      indexPath: String,
      textCol: String,
      buckets: Int = 64,
      autoCompactRatio: Option[Double] = None,
      impactGrowthMultiple: Double = 64.0,
      name: String = "bm25"
  ) extends Consumer {
    def payloadColumn: String = textCol

    private[streaming] def seed(src: DataFrame, pk: String, tuning: Tuning): Unit =
      Retrieval.writeBm25Index(src, pk, textCol, indexPath, buckets)

    private[streaming] def apply(
        rows: DataFrame, pk: String, source: () => DataFrame, fused: Boolean, tuning: Tuning): Unit =
      // a fused batch is a local relation: its session needs no source read
      Bm25Stream.applyTier(
        if (fused) rows.sparkSession else source().sparkSession, rows, indexPath, pk, textCol,
        autoCompactRatio, impactGrowthMultiple, fused)
  }

  /** Persisted LSH ANN maintenance ([[AnnStream.applyCdcBatchResumed]]:
    * delete-first, like BM25); `planes` and `dim` are used at
    * [[SyncPipeline.seed]] time and frozen into the model sidecar —
    * batches resume from the sidecar.
    */
  final case class AnnLshConsumer(
      indexPath: String,
      vecCol: String,
      planes: Int = 6,
      dim: Int = 64,
      autoCompactRatio: Option[Double] = None,
      name: String = "ann_lsh"
  ) extends Consumer {
    def payloadColumn: String = vecCol

    private[streaming] def seed(src: DataFrame, pk: String, tuning: Tuning): Unit =
      Ann.writeLshIndex(src, indexPath, pk, vecCol, planes, dim)

    private[streaming] def apply(
        rows: DataFrame, pk: String, source: () => DataFrame, fused: Boolean, tuning: Tuning): Unit =
      AnnStream.applyLshTier(rows, indexPath, pk, vecCol, autoCompactRatio, fused)
  }

  /** Persisted IVF-PQ ANN maintenance ([[AnnStream.applyCdcPqBatch]]);
    * models are TRAINED at seed time from the source table and frozen
    * ([[Ann.appendPqIndexResumed]] contract).
    */
  final case class AnnPqConsumer(
      indexPath: String,
      vecCol: String,
      nlists: Int = 16,
      m: Int = 8,
      codeK: Int = 16,
      autoCompactRatio: Option[Double] = None,
      name: String = "ann_pq"
  ) extends Consumer {
    def payloadColumn: String = vecCol

    private[streaming] def seed(src: DataFrame, pk: String, tuning: Tuning): Unit = {
      // one corpus prefix collect trains both models (seed sets nest)
      val (cells, books) = Ann.trainIvfPqModels(src, pk, vecCol, nlists, m, codeK)
      Ann.writePqIndex(src, indexPath, pk, vecCol, cells, books)
    }

    private[streaming] def apply(
        rows: DataFrame, pk: String, source: () => DataFrame, fused: Boolean, tuning: Tuning): Unit =
      AnnStream.applyCdcPqBatch(rows, indexPath, pk, vecCol, autoCompactRatio)
  }

  /** Exact-dedup registry maintenance ([[DedupStream.applyBatch]]):
    * INSERT/UPDATE documents stream through first-writer-wins digest
    * resolution; survivors go to `onSurvivors` as (pk, text) rows. DELETEs
    * do not retract digests — the registry remembers every content ever
    * seen (the dedup contract: re-ingesting deleted content is still a
    * duplicate). A replayed batch finds its digests already registered, so
    * it yields zero survivors.
    */
  final case class DedupConsumer(
      indexPath: String,
      textCol: String,
      onSurvivors: DataFrame => Unit = _ => (),
      name: String = "dedup"
  ) extends Consumer {
    def payloadColumn: String = textCol

    // the seed corpus is just the first (big) batch: registers every
    // digest, first writer wins, survivors reported like any batch
    private[streaming] def seed(src: DataFrame, pk: String, tuning: Tuning): Unit =
      register(src.sparkSession, src, pk)

    private[streaming] def apply(
        rows: DataFrame, pk: String, source: () => DataFrame, fused: Boolean, tuning: Tuning): Unit =
      register(source().sparkSession, rows.filter(col("tg_op") =!= "DELETE"), pk)

    // one (pk, text) survivor shape for seed and batches
    private def register(spark: SparkSession, docs: DataFrame, pk: String): Unit = {
      DedupStream.applyBatch(
        spark, docs.select(col(pk), col(textCol)), indexPath, pk, textCol, onSurvivors)
      ()
    }
  }

  /** Near-dup cluster-map maintenance ([[ClusterStream]]): upserts derive
    * pairs in-batch and against the persisted signature index at
    * [[sigPath]], feeding the durable union-find at [[indexPath]];
    * DELETEs never split clusters (the [[graft.dedup.ClusterMap]]
    * contract). Model parameters are frozen into the signature index's
    * sidecar at [[SyncPipeline.seed]] time. `autoCompactRatio` drives
    * [[graft.dedup.ClusterMap.maybeCompact]] (merge-log vs member-count);
    * a map compaction also compacts the signature index.
    */
  final case class ClusterConsumer(
      indexPath: String,
      sigPath: String,
      textCol: String,
      portable: Boolean = false,
      shingleN: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Int = 1000,
      sigBuckets: Int = 64,
      mapBuckets: Int = 64,
      autoCompactRatio: Option[Double] = None,
      name: String = "cluster"
  ) extends Consumer {
    def payloadColumn: String = textCol
    def model: graft.dedup.SignatureIndex.Model =
      graft.dedup.SignatureIndex.Model(
        portable, shingleN, bands, rowsPerBand, threshold, maxBucket, sigBuckets)

    private[streaming] def seed(src: DataFrame, pk: String, tuning: Tuning): Unit =
      ClusterStream.seed(src, sigPath, indexPath, pk, textCol, model, mapBuckets, tuning)

    private[streaming] def apply(
        rows: DataFrame, pk: String, source: () => DataFrame, fused: Boolean, tuning: Tuning): Unit = {
      val corpus = source()
      ClusterStream.applyBatch(
        corpus.sparkSession, rows, corpus, sigPath, indexPath, pk, textCol, autoCompactRatio, tuning)
    }
  }

  /** The running queries of a started pipeline: the doc-sync query plus one
    * per consumer, keyed by consumer name.
    */
  final case class Handles(doc: StreamingQuery, consumers: Map[String, StreamingQuery]) {
    def all: Seq[StreamingQuery] = doc +: consumers.values.toSeq
    def processAllAvailable(): Unit = all.foreach(_.processAllAvailable())
    def stopAll(): Unit = all.foreach(_.stop())
  }

  /** Derive one consumer-ready row per affected id from a raw change batch
    * ([[graft.cdc.Changes.schema]] columns): filter to `table`, extract the
    * BIGINT primary key from the event JSON, collapse to ONE final op per
    * id (highest txid wins; DELETE wins a txid tie — matching
    * recompute-final-state when the row is gone), and join INSERT/UPDATE
    * rows against the CURRENT source table for the payload columns. An
    * upsert whose row is missing from the source degrades to DELETE.
    * Output: (tg_op, <pk>, <payload...>); DELETE rows carry null payloads.
    *
    * The payload join NEVER shuffles the corpus: the affected-id set is
    * batch-sized while `load(table)` is the full source, so a plain
    * `ops ⟕ src` join would shuffle every corpus row per micro-batch (the
    * corpus side of a left-outer cannot be the broadcast build side). The
    * source scan is instead RESTRICTED to the affected ids first, with the
    * same two-tier strategy as [[graft.cdc.IncrementalEngine.reassemble]]:
    * up to `tuning.inSetThreshold` ids become a literal `isin` pushed into the
    * parquet scan (row groups whose min/max exclude the batch are never
    * read; the collapsed op set rides along as a driver-local relation, no
    * recompute), and oversized sets fall back to a broadcast semi-join
    * (still scan-only on the corpus — no corpus-wide exchange).
    */
  def changeRows(
      batch: DataFrame,
      load: String => DataFrame,
      table: String,
      pk: String,
      payload: Seq[String],
      tuning: Tuning = Tuning()
  ): DataFrame = changeRowsTiered(batch, load, table, pk, payload, tuning)._1

  /** [[changeRows]] plus which tier it took: true when the collapsed op set
    * fit `inSetThreshold` (so the rows do too — one per id).
    */
  private def changeRowsTiered(
      batch: DataFrame,
      load: String => DataFrame,
      table: String,
      pk: String,
      payload: Seq[String],
      tuning: Tuning
  ): (DataFrame, Boolean) = {
    val evs = batch
      .filter(col("tbl") === table)
      .select(
        col("tg_op"),
        col("txid").cast("long").as("txid"),
        coalesce(
          get_json_object(col("new"), s"$$.$pk"),
          get_json_object(col("old"), s"$$.$pk")
        ).cast("long").as(pk)
      )
      .filter(col(pk).isNotNull)
    val last = evs
      .groupBy(col(pk))
      .agg(
        max_by(
          col("tg_op"),
          struct(col("txid"), (col("tg_op") === "DELETE").cast("int").as("del"))
        ).as("tg_op")
      )
    val src = load(table).select(
      col(pk).cast("long").as(pk) +: (payload.map(col) :+ lit(true).as("__present")): _*
    )
    val collected = Tier.within(last, tuning.inSetThreshold)
    val (ops, srcAffected) = collected match {
      case Some(local) =>
        (batch.sparkSession.createDataFrame(java.util.Arrays.asList(local: _*), last.schema),
          src.filter(col(pk).isin(local.map(_.getLong(0)).toSeq: _*)))
      case None =>
        (last, src.join(broadcast(last.select(col(pk))), Seq(pk)))
    }
    val finalOp = when(col("tg_op") =!= "DELETE" && col("__present").isNull, lit("DELETE"))
      .otherwise(col("tg_op"))
    val rows = ops
      .join(srcAffected, Seq(pk), "left_outer")
      .select(
        finalOp.as("tg_op") +:
          col(pk) +:
          payload.map(p => when(finalOp === "DELETE", lit(null)).otherwise(col(p)).as(p)): _*
      )
    (rows, collected.isDefined)
  }
}

/** Wire a [[graft.GraftSync]] doc sync plus secondary-index consumers to
  * one change feed. `table` is the source table carrying the payload
  * columns (its primary key `pk` must be BIGINT-compatible — the shared id
  * convention of the persisted index family).
  *
  * {{{
  * val p = new SyncPipeline(sync, load, "documents", "doc_id", Seq(
  *   SyncPipeline.Bm25Consumer(s"$base/bm25", "text"),
  *   SyncPipeline.AnnLshConsumer(s"$base/ann", "embedding", dim = 64)
  * ), s"$base/ckpt")
  * p.seed()                                   // snapshot + index builds
  * val h = p.start(() => Changes.fileStream(spark, feedDir))
  * }}}
  */
final class SyncPipeline(
    val sync: GraftSync,
    load: String => DataFrame,
    table: String,
    pk: String,
    consumers: Seq[SyncPipeline.Consumer],
    checkpointBase: String
) {
  import SyncPipeline._

  require(
    consumers.map(_.name).distinct.size == consumers.size,
    s"consumer names must be unique (they key checkpoints): ${consumers.map(_.name)}"
  )

  /** The CURRENT source table, read afresh at each use. */
  private val source: () => DataFrame = () => load(table)

  /** The doc sync's tuning, shared by [[changeRows]] and the consumers. */
  private val tuning = sync.tuning

  /** One batch's [[changeRows]] in the form its consumers read, and the
    * tier (the [[Consumer]] split): within the threshold the rows are
    * collected ONCE into a driver-local relation, so no consumer action
    * re-derives them; above it they are cached for the batch, since every
    * action would otherwise redo the source scan and payload join. The
    * caller unpersists the rows after the batch (a no-op on the local
    * form).
    */
  private def batchRows(batch: DataFrame, payload: Seq[String]): (DataFrame, Boolean) = {
    val (rows, bounded) = changeRowsTiered(batch, load, table, pk, payload, tuning)
    if (!bounded) (rows.cache(), false)
    else
      (batch.sparkSession.createDataFrame(java.util.Arrays.asList(rows.collect(): _*), rows.schema),
        true)
  }

  /** Snapshot the doc index and build every secondary index from the
    * current source-table state — the composed `pull()`
    * (`sync.py:1895-1945`): after seed, every probe surface answers for the
    * full corpus and [[start]] maintains all of them incrementally.
    *
    * The snapshot and the N index builds are INDEPENDENT (each writes only
    * its own directory from the same immutable source state), so they are
    * submitted as overlapping Spark jobs from a driver pool — the
    * [[graft.GraftSync.runAll]] snapshot-phase shape: one build's shuffle
    * tail or driver-side planning gap back-fills with another's scan work
    * instead of leaving the executors idle. Per-surface CONTENT is
    * byte-identical to the sequential order (nothing reads a sibling's
    * output), which is what keeps the composed oracle rows green.
    *
    * Peak-footprint note: overlapping the builds multiplies transient
    * executor memory/scratch-disk by the number of concurrently-seeding
    * consumers (each corpus-scale build may hold its own persisted frame —
    * the BM25 token frame is DISK_ONLY by discipline, the snapshot path no
    * longer persists at all). At the 100 TB design scale, bound the fan-out
    * by seeding in waves if the cluster's scratch provisioning cannot
    * carry all builds at once; the engine keeps full overlap as the default
    * because seed time is dominated by exactly these independent builds.
    */
  def seed(): Unit = {
    val src = source()
    runOverlapped(
      ("seed: docs" -> (() => sync.snapshot())) +:
        consumers.map(c => s"seed: ${c.name}" -> (() => c.seed(src, pk, tuning))))
  }

  /** Apply one raw change batch to EVERY consumer — the batch-mode form.
    * The per-id op collapse + payload join runs ONCE over the union of the
    * consumers' payload columns and is shared across consumers, held
    * driver-local or cached by tier ([[batchRows]]; each streaming query in
    * [[start]] necessarily derives its own — separate checkpoints mean
    * separate plans — but batch mode shares the pass).
    *
    * The doc sync and the per-consumer applies then run as OVERLAPPING
    * Spark jobs (the [[seed]] rationale): each mutates only its own index
    * directory from the same immutable source state and the shared
    * `rows`, so per-surface content equals the sequential order, while a
    * consumer's driver-side sidecar reads/commits back-fill with the
    * others' executor work. A failed surface still fails the batch (first
    * failure rethrown after every job settles — no sibling is left
    * mid-write), and at-least-once replay converges per consumer exactly
    * as before: each surface is delete-first/first-writer-wins idempotent
    * on its OWN protocol, never dependent on a sibling's batch state.
    *
    * ACCEPTED read-skew window (documented trade-off of the overlap): the
    * doc sync is no longer a barrier before the consumers, so DURING a
    * batch — or between a mid-batch crash and its replay — a secondary
    * index may briefly reference an id whose document upsert has not landed
    * yet (the docs-first ordering only ever narrowed this window, it never
    * closed it: a probe between two surfaces' commits always saw mixed
    * batch states, and a crash after the doc write but before an index
    * write left the INVERSE skew). Composed read paths that join index hits
    * to the doc store must already tolerate missing/extra ids for
    * at-least-once reasons; replay converges every surface. Deployments
    * that want the narrower window back can run consumers-after-docs by
    * wrapping two applyBatch-shaped calls — the engine does not pay the
    * serialization for everyone by default (measured 0.77× on the composed
    * CDC row).
    */
  def applyBatch(batch: DataFrame): Unit = {
    if (consumers.isEmpty) { sync.applyChanges(batch); return }
    val payloads = consumers.map(_.payloadColumn).distinct
    val (rows, fused) = batchRows(batch, payloads)
    try runOverlapped(
      ("apply: docs" -> (() => sync.applyChanges(batch))) +:
        consumers.map(c =>
          s"apply: ${c.name}" ->
            (() => c.apply(rows.select(col("tg_op"), col(pk), col(c.payloadColumn)), pk, source, fused, tuning))))
    finally { rows.unpersist(); () }
  }

  /** Run labeled independent jobs concurrently ([[graft.util.Par.all]]);
    * job descriptions are thread-local, so each job group stays readable in
    * the UI. Every job settles before the first failure (if any) is
    * rethrown — siblings are never abandoned mid-write, so a batch failure
    * leaves each consumer either fully applied or untouched, the same
    * per-consumer states the sequential loop could leave and the replay
    * protocols already converge from.
    */
  private def runOverlapped(labeled: Seq[(String, () => Unit)]): Unit = {
    if (labeled.sizeIs <= 1) { labeled.foreach(_._2()); return }
    val sc = source().sparkSession.sparkContext
    graft.util.Par.all(labeled.map { case (label, f) => () =>
      sc.setJobDescription(s"pipeline $label")
      try f()
      finally sc.setJobDescription(null)
    })
    ()
  }

  /** Start continuous maintenance: the doc sync plus one streaming query
    * per consumer, all reading the same feed, each with its own checkpoint
    * under `checkpointBase/<name>` — so restarts resume per consumer and a
    * replayed micro-batch converges per that consumer's protocol. `feed`
    * is a FACTORY because each query owns its streaming source instance.
    * This is the one continuous entry point; [[graft.GraftSync.stream]] is
    * its doc-only form.
    */
  def start(feed: () => DataFrame): Handles = {
    val doc = sync.stream(feed(), s"$checkpointBase/docs")
    val rest = consumers.map { c =>
      c.name -> StreamSync.foreachBatch(feed(), s"$checkpointBase/${c.name}") { batch =>
        val (rows, fused) = batchRows(batch, Seq(c.payloadColumn))
        try c.apply(rows, pk, source, fused, tuning)
        finally { rows.unpersist(); () }
      }
    }.toMap
    Handles(doc, rest)
  }
}
