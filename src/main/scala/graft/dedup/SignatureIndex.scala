package graft.dedup

import graft.sources.{IndexLog, IndexState}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, StructField, StructType}

/** Persisted MinHash band-key signature index — the steady-state form the
  * incremental near-dup operators describe but recompute per call
  * ([[Dedup.minhashLshIncremental]]'s scaladoc: "in steady state its band
  * keys are computed once at ingest and stored (id, key)"). Each document
  * contributes `bands` `(id, key)` rows, hash-bucketed by key
  * (`kb = xxhash64(key) % buckets` partition dirs) so a batch probe plans
  * only the partitions its own keys hash into — the corpus-sized key set is
  * never scanned whole, the [[graft.dedup.ClusterMap]] / LSH-ANN pruning
  * discipline.
  *
  * Layout parameters (hash family, shingle width, banding, bucket count)
  * are frozen in a model sidecar at [[write]] time: a restarted consumer
  * resumes with the exact parameters the stored keys were derived under
  * (the [[graft.ann.AnnModels]] contract). Every key file is committed
  * through the index log ([[graft.sources.IndexLog]]), and every read scans
  * exactly the head's files, so the keys of an append that crashed before
  * its entry stay invisible. Appends are O(batch) — stored partitions are
  * never read or rewritten; [[compact]] restores the
  * one-file-group-per-bucket bound and collapses the duplicate `(id, key)`
  * rows an at-least-once replay appends, into a fresh generation with a
  * fresh log promoted through the generation-pointer swap
  * ([[IndexState.compactAndSwap]] — concurrent readers safe).
  *
  * Two honest divergences from the batch operators, both bounded by the
  * degenerate-bucket cap: keys are stored PER DOCUMENT (the batch
  * [[Dedup.minhashLsh]] collapses exact-duplicate texts to one
  * representative before banding — an incremental index cannot, since the
  * class membership changes under it), and the `maxBucket` no-signal guard
  * counts STORED rows, i.e. arrivals so far, where the batch form counts
  * the full corpus — a key can be live early and degenerate later. Both
  * effects only matter for buckets near the cap; candidates are always
  * verified by exact Jaccard afterwards, so no false pair survives.
  *
  * Reference analogue: the checkpointed replication state pgsync keeps
  * queryable between syncs (`/root/reference/pgsync/sync.py:1581-1656`) —
  * derived state persisted once at ingest, probed by every later batch.
  */
object SignatureIndex {

  /** Frozen layout + probe policy of one signature index.
    *
    * @param portable  md5 hash family ([[Dedup.minhashLshPortable]] —
    *                  externally replayable) vs the xxhash64 rotate-XOR
    *                  production family ([[Dedup.minhashLsh]])
    * @param buckets   key-hash partition count; scale with corpus size so
    *                  one bucket's keys fit a scan task
    */
  final case class Model(
      portable: Boolean,
      shingleN: Int,
      bands: Int,
      rowsPerBand: Int,
      threshold: Double,
      maxBucket: Int,
      buckets: Int
  ) {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(bands > 0 && rowsPerBand > 0, s"bad banding: $bands x $rowsPerBand")
  }

  private val ModelDir = "_graft_model"

  private val ModelSchema = StructType(Seq(
    StructField("portable", BooleanType),
    StructField("shingle_n", IntegerType),
    StructField("bands", IntegerType),
    StructField("rows_per_band", IntegerType),
    StructField("threshold", DoubleType),
    StructField("max_bucket", IntegerType),
    StructField("buckets", IntegerType)
  ))

  // the index log's kind of file: (id, key) rows under `kb=<k>/`
  private val Keys = "keys"

  /** The model's band keys of `docs` as `(id, key)` — the exact derivation
    * the batch operators use, so stored keys and probe keys always agree.
    */
  def bandKeys(docs: DataFrame, id: String, text: String, m: Model): DataFrame =
    if (m.portable) Dedup.portableBandKeys(docs, id, text, m.shingleN, m.bands, m.rowsPerBand)
    else Dedup.prodBandKeys(docs, id, text, m.shingleN, m.bands, m.rowsPerBand)

  private def withKb(keys: DataFrame, buckets: Int): DataFrame =
    keys.withColumn("kb", pmod(xxhash64(col("key")), lit(buckets.toLong)).cast("int"))

  /** The log write of key rows (`id, key`) into their `kb=<k>/`
    * directories.
    */
  private def keysWrite(keys: DataFrame, buckets: Int, mode: SaveMode): IndexLog.Write =
    IndexLog.Write(Keys, "", Some("kb"),
      withKb(keys.select(col("id").cast("long").as("id"), col("key")), buckets).repartition(col("kb")),
      mode)

  /** Build the index from a corpus, replacing whatever was at `path`: the
    * key write's Overwrite clears the directory (an earlier index, its log,
    * its model, its generations) first. An empty corpus commits an entry
    * with no file, which scans as an empty index. The entry's counters
    * carry the bucket count.
    */
  def write(corpus: DataFrame, path: String, id: String, text: String, m: Model): Unit = {
    val spark = corpus.sparkSession
    val added = IndexLog.write(spark, path, 0L, Seq(keysWrite(bandKeys(corpus, id, text, m), m.buckets, SaveMode.Overwrite)))
    writeModel(spark, path, m)
    IndexLog.commit(spark, path, IndexLog.Entry.fresh(0L, IndexLog.Counters(0L, 0L, m.buckets), added), predecessor = 0L)
  }

  private def writeModel(spark: SparkSession, path: String, m: Model): Unit = {
    import spark.implicits._
    Seq((m.portable, m.shingleN, m.bands, m.rowsPerBand, m.threshold, m.maxBucket, m.buckets))
      .toDF("portable", "shingle_n", "bands", "rows_per_band", "threshold", "max_bucket", "buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/$ModelDir")
  }

  def readModel(spark: SparkSession, path: String): Model = {
    val r = spark.read.schema(ModelSchema).parquet(s"$path/$ModelDir").collect()(0)
    Model(r.getBoolean(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getDouble(4), r.getInt(5), r.getInt(6))
  }

  /** Append a batch's keys under the frozen model — O(batch): one new file
    * group per touched bucket, stored partitions untouched, committed as
    * one log entry. Pass the keys already derived for the probe
    * ([[bandKeys]]) to avoid re-shingling.
    */
  def appendKeys(spark: SparkSession, path: String, m: Model, keys: DataFrame): Unit = {
    val (dataDir, head) = IndexState.open(spark, path)
    IndexLog.mutate(spark, dataDir, head, head.seq + 1, head.counters, Seq(keysWrite(keys, m.buckets, SaveMode.Append)))
  }

  /** [[appendKeys]] from raw documents (the restart path: model from the
    * sidecar, keys derived here).
    */
  def append(batch: DataFrame, path: String, id: String, text: String): Unit = {
    val spark = batch.sparkSession
    val m = readModel(spark, path)
    appendKeys(spark, path, m, bandKeys(batch, id, text, m))
  }

  /** The stored rows MATCHING a probe key set, before materialization: the
    * probe's distinct `kb` values become a static partition filter and a
    * broadcast semi-join restricts the pruned buckets to the probed keys —
    * the plan PlanSpec asserts bucket pruning on (the plan is invisible in
    * [[candidates]]' output, which materializes this frame eagerly).
    */
  private[graft] def storedMatched(
      spark: SparkSession,
      dataDir: String,
      keyed: DataFrame,
      kbs: Array[Int]
  ): DataFrame =
    IndexLog.head(spark, dataDir).scan(spark, dataDir, Keys)
      .filter(col("kb").isin(kbs.map(_.toLong): _*))
      .join(broadcast(keyed.select(col("key")).distinct()), Seq("key"))

  /** Distinct `(batch_id, corpus_id)` candidate pairs of a probe key set
    * against the stored corpus keys. The probe's distinct `kb` values
    * (≤ `buckets` ints, driver-collected — the bounded-collect convention)
    * become a static partition filter, so only the probed buckets are
    * scanned — and the scan is further restricted to the PROBED KEYS by a
    * broadcast semi-join before anything shuffles, so the groupBy that
    * enforces the degenerate-key guard and the candidate join both run on
    * matched rows only, never the stored key set whole (counting only
    * probed keys is exact: unprobed keys can produce no candidate, and a
    * key's stored rows are unaffected by the key restriction). Self-pairs
    * (a replayed batch probing its own stored keys) are dropped. Candidates
    * still need exact verification ([[Dedup.verifyJaccard]]) — banding only
    * bounds recall. `probeKeys` must be change-batch-sized (it is collected
    * to a broadcast) — the standing assumption of the whole maintenance
    * family, not a new one.
    */
  def candidates(spark: SparkSession, path: String, m: Model, probeKeys: DataFrame): DataFrame = {
    val keyed = withKb(probeKeys, m.buckets)
    val kbs = keyed.select(col("kb")).distinct().collect().map(_.getInt(0))
    // eager local checkpoint: the matched-row frame feeds BOTH the
    // degenerate-key guard aggregate and the candidate join — without it
    // the bucket scan runs twice per micro-batch. Probe-matched rows are
    // batch-sized; once everything derived from the result is
    // materialized, the caller releases the blocks with
    // GraftColumnBridge.unpersistLocalCheckpoint on the returned frame (a
    // long-running stream would otherwise hold one checkpoint per batch
    // until the context cleaner collects it).
    val stored = storedMatched(spark, IndexState.dataPath(spark, path), keyed, kbs).localCheckpoint(true)
    val ok = stored
      .groupBy(col("key"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= m.maxBucket)
      .select(col("key"))
    keyed
      .select(col("id").as("batch_id"), col("key"))
      .join(ok, Seq("key"))
      .join(stored.select(col("id").as("corpus_id"), col("key")), Seq("key"))
      .filter(col("batch_id") =!= col("corpus_id"))
      .select(col("batch_id"), col("corpus_id"))
      .distinct()
  }

  /** All stored `(id, key)` rows of the current generation — the portable
    * seed's pair derivation reads the just-written index back instead of
    * re-banding the corpus (one shingle+minhash pass saved; the written
    * index IS the materialization).
    */
  private[graft] def storedKeys(spark: SparkSession, path: String): DataFrame = {
    val (dataDir, head) = IndexState.open(spark, path)
    head.scan(spark, dataDir, Keys).select(col("id"), col("key"))
  }

  /** Rewrite the index deduplicated (`(id, key)` rows replayed by
    * at-least-once delivery collapse) and back to one file group per
    * bucket, into a fresh generation whose log starts at the current seq,
    * promoted through the generation-pointer swap. Returns whether a
    * compaction ran (an empty index rewrites to nothing and is refused).
    */
  def compact(spark: SparkSession, path: String): Boolean = {
    val (dataDir, head) = IndexState.open(spark, path)
    IndexState.compactAndSwap(spark, path, staging => {
      val added = IndexLog.write(spark, staging, head.seq,
        Seq(keysWrite(head.scan(spark, dataDir, Keys).select(col("id"), col("key")).distinct(),
          head.counters.buckets, SaveMode.Overwrite)))
      IndexLog.commit(spark, staging, IndexLog.Entry.fresh(head.seq, head.counters, added), predecessor = head.seq)
    })
  }
}
