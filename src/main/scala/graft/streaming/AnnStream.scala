package graft.streaming

import graft.ann.Ann
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** CDC maintenance of persisted ANN indexes from a change feed carrying
  * `tg_op` (INSERT/UPDATE/DELETE), so deletes reach the ANN probe surface
  * (reference parity: `sync.py:1254-1306`). Each batch deletes ALL batch
  * ids (tombstones — [[graft.sources.IndexState]]), then appends the
  * INSERT/UPDATE vectors into the bucket-partitioned layout — O(batch), the
  * on-disk partitions are never read or rewritten, so the index is
  * probe-able while a stream runs and outlives it. Deleting first makes
  * at-least-once replay converge to the single-delivery state: the
  * replayed batch tombstones its own earlier append before re-appending.
  * One final op per id per batch; UPDATE rows carry the new vector.
  * [[SyncPipeline.AnnLshConsumer]] and [[SyncPipeline.AnnPqConsumer]] run
  * these per micro-batch; both also serve batch-mode backfills.
  *
  * The LSH batch has two tiers, split by the [[SyncPipeline.Consumer]]
  * threshold (the doc engine's `graft.Tuning.inSetThreshold`,
  * 1 000 ids by default). A batch within it arrives as a driver-local
  * relation and takes the driver-fused tier ([[Ann.mutateLshIndexFused]]:
  * hyperplane buckets folded on the driver, the log head read on the
  * driver, the tombstones and bucket rows written concurrently and
  * committed by one log entry); a larger one runs
  * [[Ann.deleteFromLshIndex]] then [[Ann.appendLshIndex]]. Both persist
  * the same rows under the same seq numbers. The PQ batch has one tier.
  */
object AnnStream {

  /** One LSH CDC batch under the parameters persisted at
    * [[Ann.writeLshIndex]] time — no caller-held model state (the
    * [[graft.ann.AnnModels]] sidecar read is a driver-side model fetch, no
    * corpus work). With `autoCompactRatio`, the batch ends with the
    * [[Ann.maybeCompactLshIndex]] dead-fraction check — the [[Bm25Stream]]
    * policy, so tombstones cannot accumulate unboundedly.
    */
  def applyCdcBatchResumed(
      batch: DataFrame,
      indexPath: String,
      id: String,
      vec: String,
      autoCompactRatio: Option[Double] = None
  ): Unit = applyLshTier(batch, indexPath, id, vec, autoCompactRatio, fused = false)

  /** [[applyCdcBatchResumed]] on either tier — the [[Bm25Stream]] tier
    * split: `fused` ([[Ann.mutateLshIndexFused]]) requires `batch` to be a
    * driver-local relation; otherwise the distributed delete and append.
    */
  private[streaming] def applyLshTier(
      batch: DataFrame,
      indexPath: String,
      id: String,
      vec: String,
      autoCompactRatio: Option[Double],
      fused: Boolean
  ): Unit = {
    val spark = batch.sparkSession
    val (planes, dim) = graft.ann.AnnModels.readLsh(spark, indexPath)
    val ids = batch.select(col(id).cast("long").as("id"))
    val upserts = batch.filter(col("tg_op").isin("INSERT", "UPDATE"))
    if (fused)
      Ann.mutateLshIndexFused(
        spark, indexPath, ids.collect().map(_.getLong(0)).toSeq, upserts, id, vec, planes, dim)
    else {
      Ann.deleteFromLshIndex(spark, indexPath, ids)
      Ann.appendLshIndex(upserts, indexPath, id, vec, planes, dim)
    }
    autoCompactRatio.foreach { r => Ann.maybeCompactLshIndex(spark, indexPath, r); () }
  }

  /** One IVF-PQ CDC batch for a [[Ann.writePqIndex]] layout, under the
    * models FROZEN at build time ([[Ann.appendPqIndexResumed]] re-reads the
    * cell/codebook sidecar per batch — a driver-side model read, no corpus
    * work). Same delete-first convergence as the LSH batch; with
    * `autoCompactRatio`, the batch ends with the
    * [[Ann.maybeCompactPqIndex]] dead-fraction check. Codebook drift under
    * a shifting distribution remains a model refresh (retrain + rewrite),
    * not a streaming concern.
    */
  def applyCdcPqBatch(
      batch: DataFrame,
      indexPath: String,
      id: String,
      vec: String,
      autoCompactRatio: Option[Double] = None
  ): Unit = {
    Ann.deleteFromPqIndex(
      batch.sparkSession,
      indexPath,
      batch.select(col(id).cast("long").as("id"))
    )
    Ann.appendPqIndexResumed(
      batch.filter(col("tg_op").isin("INSERT", "UPDATE")),
      indexPath, id, vec
    )
    autoCompactRatio.foreach { r => Ann.maybeCompactPqIndex(batch.sparkSession, indexPath, r); () }
  }
}
