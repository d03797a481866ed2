package graft.streaming

import graft.functions.Retrieval
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC maintenance of a persisted BM25 index
  * ([[graft.functions.Retrieval.writeBm25Index]]) from a change feed —
  * the retrieval-index analogue of the reference's search-index sync
  * (delete ops reach the index, `/root/reference/pgsync/sync.py:1254-1306`;
  * op construction `sync.py:1556-1579`).
  *
  * Protocol per micro-batch (`applyBatch`):
  *
  *   1. DELETE every batch id from the index — tombstones + exact counter
  *      decrement ([[Retrieval.deleteFromBm25Index]]); a no-op for ids not
  *      live.
  *   2. APPEND the new document state of every INSERT/UPDATE row.
  *
  * Deleting ALL batch ids first (including INSERTs) is what makes
  * at-least-once delivery converge: a REPLAYED batch first tombstones the
  * generation its previous attempt appended (un-doing its stats
  * contribution exactly), then re-appends — the visible index state and
  * the integer counters end identical to a single delivery. This is the
  * payoff of the seq-tombstone discipline ([[graft.sources.IndexState]]):
  * blind re-append would double postings and double-count the counters.
  * A batch that crashes mid-mutation commits nothing (every mutation
  * commits with one [[graft.sources.IndexLog]] entry), so its replay starts
  * from the index as it was.
  *
  * The feed must be collapsed to ONE final op per id per batch (the
  * engine's change batches are — [[graft.cdc.IncrementalEngine]] recomputes
  * final state per root), and UPDATE rows must carry the new full text.
  *
  * Two tiers run the protocol, chosen per micro-batch by
  * [[SyncPipeline.Bm25Consumer]] with the threshold the doc sync's engine
  * uses for its literal id sets (`graft.Tuning.inSetThreshold`,
  * 1 000 by default). A batch within it arrives as a driver-local relation
  * and takes the driver-fused tier
  * ([[graft.functions.Retrieval.mutateBm25IndexFused]]): one collect of
  * the batch, one batch-bounded state read, concurrent single-stage writes
  * and one log entry. A larger batch takes the distributed tier
  * ([[Retrieval.deleteFromBm25Index]] then [[Retrieval.appendBm25Index]],
  * one entry each). Both persist the same rows under the same seq
  * numbers, so a batch replayed through either tier converges.
  */
object Bm25Stream {

  /** One batch of the protocol — per micro-batch under
    * [[SyncPipeline.Bm25Consumer]], or directly for batch-mode backfills.
    * `batch` carries columns `tg_op` (INSERT/UPDATE/DELETE), `id`, and
    * `text` (null allowed on DELETE). With `autoCompactRatio` set, the
    * batch ends with BOTH compaction policy checks (cheap — log counters
    * and sidecar counts only, the postings are never scanned to decide):
    * [[Retrieval.maybeCompactBm25Index]] bounds tombstone growth under a
    * delete-heavy feed, and — when the dead-ratio leg did not fire —
    * [[Retrieval.maybeCompactBm25ByImpactGrowth]] at `impactGrowthMultiple`
    * bounds the pruned probe's cap×batches volume under an APPEND-ONLY
    * feed, where no tombstone ever accumulates and the first policy alone
    * would let per-batch impact caps pile up forever. A compaction commits
    * by promoting a new generation with one marker-file create
    * ([[graft.sources.IndexState.compactAndSwap]]), and each mutation
    * commits with one `_graft_log` entry create, so a probe — in this
    * process or another — sees the index before or after a batch, never a
    * partial one.
    */
  def applyBatch(
      spark: SparkSession,
      batch: DataFrame,
      indexPath: String,
      id: String,
      text: String,
      autoCompactRatio: Option[Double] = None,
      impactGrowthMultiple: Double = 64.0
  ): Unit =
    applyTier(spark, batch, indexPath, id, text, autoCompactRatio, impactGrowthMultiple, fused = false)

  /** [[applyBatch]] on either tier; `fused` requires `batch` to be a
    * driver-local relation.
    */
  private[streaming] def applyTier(
      spark: SparkSession,
      batch: DataFrame,
      indexPath: String,
      id: String,
      text: String,
      autoCompactRatio: Option[Double],
      impactGrowthMultiple: Double,
      fused: Boolean
  ): Unit = {
    val ids = batch.select(col(id).cast("long").as("id"))
    val upserts = batch
      .filter(col("tg_op").isin("INSERT", "UPDATE") && col(text).isNotNull)
    if (fused)
      Retrieval.mutateBm25IndexFused(
        spark, indexPath, ids.collect().map(_.getLong(0)).toSeq,
        upserts.select(col(id), col(text)), id, text)
    else {
      Retrieval.deleteFromBm25Index(spark, indexPath, ids)
      Retrieval.appendBm25Index(upserts, id, text, indexPath)
    }
    autoCompactRatio.foreach { r =>
      // one rewrite per batch at most: the dead-ratio leg already re-caps
      // the impact sidecars globally (compactBm25Index refreshes them), so
      // the growth leg only needs checking when it did not fire
      if (!Retrieval.maybeCompactBm25Index(spark, indexPath, r))
        Retrieval.maybeCompactBm25ByImpactGrowth(spark, indexPath, impactGrowthMultiple)
      ()
    }
  }
}
