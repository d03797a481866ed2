package graft.streaming

import graft.Tuning
import graft.assemble.DocAssembler
import graft.catalog.Catalog
import graft.cdc.{Changes, IncrementalEngine, Lineage}
import graft.schema.Node
import graft.sinks.MaterializedIndex
import graft.sources.IndexLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured-Streaming front end over the batch incremental engine:
  * snapshot, then consume the change feed in micro-batches via
  * `foreachBatch`, maintaining the materialized index + lineage.
  *
  * Replaces the reference's daemon plumbing — LISTEN/NOTIFY poller thread →
  * Redis queue → consumer workers (`pgsync/sync.py:1720-1893`), WAL consumer
  * with LSN feedback (`sync.py:1985-2063`), checkpoint files
  * (`sync.py:1581-1656`) — with the engine-native equivalents: a streaming
  * source (file/Kafka-shaped), micro-batch triggers for the size-based
  * batching (`LOGICAL_SLOT_CHUNK_SIZE` 5 000, `settings.py:40`), and the
  * Structured Streaming checkpoint (offsets + commit log) for exactly the
  * at-least-once + idempotent-upsert contract the reference implements
  * (`sync.py:1947-1983`; peek→process→ack two-phase at `sync.py:596-645`).
  *
  * The snapshot-then-stream startup order mirrors `receive()`'s
  * "buffer → pull → consume" sequence (`sync.py:2114-2153`): the stream's
  * starting offset is captured before the snapshot runs, so changes that
  * commit during the snapshot replay afterwards — same effect as the
  * reference's `logical_slot_changes(txmin, txmax)` backlog drain
  * (`sync.py:554-645`).
  */
final class StreamSync(
    root: Node,
    catalog: Catalog,
    load: String => DataFrame,
    state: MaterializedIndex,
    plugins: Seq[graft.transform.DocTransform] = Nil,
    tuning: Tuning = Tuning()
) {

  val engine = new IncrementalEngine(root, catalog, load, tuning)

  /** Plugins run on every indexed document — snapshot AND incremental — as
    * in the reference (`sync.py:1571-1574`); a dropped doc contributes
    * neither a document nor lineage.
    */
  private def withPlugins(structured: DataFrame): DataFrame =
    graft.transform.Plugins(structured, plugins)

  /** Full snapshot → a fresh materialized index (`pull()`,
    * `sync.py:1895-1945`).
    */
  def snapshot(): Unit =
    state.initialize(withPlugins(DocAssembler.assemble(root, load, catalog)))

  /** Apply one micro-batch of changes to the materialized index. Used both
    * by `foreachBatch` and directly for batch-mode incremental runs.
    * `opsSink`, when set, receives the batch's (`op`, `_id`, `doc`) rows —
    * derived from the SAME cached resolution/re-assembly the local commit
    * uses, so publishing to a remote index costs no second engine pass.
    * `checkpoint` commits with the batch's docs (see
    * [[MaterializedIndex.commit]]).
    */
  def applyBatch(
      batch: DataFrame,
      opsSink: Option[DataFrame => Unit] = None,
      checkpoint: Option[IndexLog.Checkpoint] = None
  ): Long = {
    if (batch.isEmpty) return 0L
    val lineage = state.lineage
    val affected = engine.affectedRoots(batch, lineage).cache()
    val structured = withPlugins(engine.reassemble(affected)).cache()
    try {
      val payload = structured.columns.filterNot(_ == DocAssembler.IdColumn).map(col).toIndexedSeq
      val flat = structured
        .select(col(DocAssembler.IdColumn), to_json(struct(payload: _*)).as("doc"))
      opsSink.foreach { sink =>
        val indexOps = flat.select(lit("index").as("op"), col(DocAssembler.IdColumn), col("doc"))
        val deleteOps = affected
          .join(flat, Seq(DocAssembler.IdColumn), "left_anti")
          .select(
            lit("delete").as("op"),
            col(DocAssembler.IdColumn),
            lit(null).cast("string").as("doc")
          )
        sink(indexOps.unionAll(deleteOps))
      }
      // only the re-assembled roots' rows: the index rewrites just the
      // affected buckets and inherits the rest through its log entry
      state.commit(affected, flat, Lineage.fromDocs(structured), checkpoint)
      // affected is cached and already materialized by the commit's writes,
      // so this count is a cached-partition scan, not a re-resolution — the
      // per-batch "docs re-synced" number the status surface reports
      affected.count()
    } finally {
      affected.unpersist()
      structured.unpersist() // commit's writes are actions; safe to release
    }
  }

  /** Start the stream: `changes` must be a streaming DataFrame with
    * [[Changes.schema]] columns. Checkpointing makes restarts resume from
    * the last committed batch; micro-batches run as fast as the feed
    * delivers (the engine-native form of the reference's size-based
    * batching, `LOGICAL_SLOT_CHUNK_SIZE` 5 000 / `REDIS_POLL_INTERVAL`,
    * `settings.py:40,277`). `opsSink` publishes each micro-batch's (`op`,
    * `_id`, `doc`) rows (e.g. to [[graft.sinks.BulkHttp]]) from the same
    * engine pass as the local commit — the reference's continuous
    * `poll → bulk` loop (`sync.py:1985-2043`); Structured Streaming's
    * checkpoint makes delivery at-least-once, idempotent via
    * upsert-by-`_id`.
    */
  def start(
      changes: DataFrame,
      checkpointDir: String,
      opsSink: Option[DataFrame => Unit] = None,
      afterBatch: Long => Unit = _ => ()
  ): StreamingQuery =
    StreamSync.foreachBatch(changes, checkpointDir)(batch => afterBatch(applyBatch(batch, opsSink)))
}

object StreamSync {

  /** The one micro-batch loop behind every change-feed query (the doc
    * sync's and each [[SyncPipeline]] consumer's): runs `apply` on each
    * micro-batch of `changes` under the checkpoint at `checkpointDir`, then
    * releases the batch — the doc engine caches each batch until the next
    * one arrives, so the last batch's cache would otherwise outlive the
    * query.
    */
  private[streaming] def foreachBatch(changes: DataFrame, checkpointDir: String)(
      apply: DataFrame => Unit
  ): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        try apply(batch)
        finally { batch.unpersist(); () }
      }
      .start()
}
