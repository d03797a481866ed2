package graft.streaming

import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming exact dedup: the arriving-data form of
  * [[graft.dedup.Dedup.exactIncremental]]. Documents stream in; any whose
  * content digest was already seen — in a prior batch or earlier in the
  * same batch — is dropped; first writer wins.
  *
  * Two forms, different state owners:
  *
  *   - [[distinct]] — the engine-native transform: digest + streaming
  *     `dropDuplicates`, state lives in the Structured Streaming state
  *     store (RocksDB-backed on a real cluster), scales with DISTINCT
  *     digests and is managed/checkpointed by Spark. Use when dedup is a
  *     stage inside a larger streaming plan.
  *   - [[applyBatch]] — the external-index form, run per micro-batch by
  *     [[SyncPipeline.DedupConsumer]]: each batch joins a persisted
  *     (h, keep_id) parquet index and appends the batch's new digests,
  *     exactly the [[graft.dedup.Dedup.exactIncremental]] state
  *     transition. The index outlives the stream: batch jobs can join it,
  *     a rebuilt stream reuses it, auditors can replay it — the same
  *     reasons the reference keeps sync state queryable rather than buried
  *     in worker memory (`pgsync/sync.py:1581-1656` checkpoint files).
  *
  * At 100 TB the [[applyBatch]] index read is the batch side of a
  * digest-keyed join: store the index bucketed by digest prefix (the
  * [[graft.sinks.MaterializedIndex]] layout idiom) so only the arriving
  * batch shuffles.
  */
object DedupStream {

  /** Streaming-native dedup transform: keep the first document per content
    * digest. Pass a watermark'd event-time column via `withinWatermark` to
    * bound state (`dropDuplicatesWithinWatermark`); with None, state holds
    * every digest seen since the stream started (exact, unbounded — the
    * contract exact dedup requires).
    */
  def distinct(
      docs: DataFrame,
      text: String,
      withinWatermark: Boolean = false
  ): DataFrame = {
    val keyed = docs.withColumn("__h", md5(col(text).cast("binary")))
    val deduped =
      if (withinWatermark) keyed.dropDuplicatesWithinWatermark("__h")
      else keyed.dropDuplicates("__h")
    deduped.drop("__h")
  }

  /** One batch of the external-index protocol; `batch` carries columns
    * `id` and `text`. Resolves the batch against the persisted index at
    * `indexPath`, hands the surviving (new-digest) documents to
    * `onSurvivors`, then appends the new (h, keep_id) rows to the index. A
    * replayed batch re-resolves against an index that already contains its
    * digests, so its documents dedup to zero survivors — the append is
    * idempotent at the semantic level even though delivery is
    * at-least-once. Returns the number of surviving documents.
    */
  def applyBatch(
      spark: SparkSession,
      batch: DataFrame,
      indexPath: String,
      id: String,
      text: String,
      onSurvivors: DataFrame => Unit
  ): Long = {
    // null text has no content to dedup on: such docs pass through as
    // survivors and are never indexed — md5(null) = null would otherwise
    // never equi-join (silently dropping the doc from survivors) while
    // appending a garbage null-digest row to the index EVERY batch
    val withText = batch.filter(col(text).isNotNull)
    val index = readIndex(spark, indexPath)
    val resolved = Dedup.exactIncremental(index, withText, id, text)
    val newDigests = resolved
      .filter(col("corpus_keep_id").isNull)
      .select(col("h"), col("keep_id"))
      .cache()
    try {
      // survivors = the canonical (min-id) document of each new digest
      val survivors = withText
        .withColumn("__h", md5(col(text).cast("binary")))
        .join(
          newDigests.select(col("h").as("__h"), col("keep_id")),
          Seq("__h")
        )
        .filter(col(id) === col("keep_id"))
        .drop("__h", "keep_id")
      onSurvivors(survivors.unionByName(batch.filter(col(text).isNull)))
      val n = newDigests.count()
      if (n > 0) newDigests.write.mode("append").parquet(indexPath)
      n
    } finally newDigests.unpersist()
  }

  private def readIndex(spark: SparkSession, indexPath: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(indexPath)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("h", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("keep_id", org.apache.spark.sql.types.LongType)
        ))
      )
  }
}
