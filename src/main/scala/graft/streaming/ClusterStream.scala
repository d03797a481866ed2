package graft.streaming

import graft.Tuning
import graft.dedup.{ClusterMap, Dedup, SignatureIndex}
import graft.util.Tier
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming near-duplicate CLUSTER maintenance: the arriving-data form of
  * `minhashLsh → connectedComponents`. Each micro-batch of upserted
  * documents is shingled ONCE into its band keys; those keys yield both the
  * in-batch candidate pairs and — probing the persisted band-key index
  * ([[graft.dedup.SignatureIndex]]) — the cross-batch candidates, verified
  * together in one exact-Jaccard pass and fed to the durable union-find
  * ([[graft.dedup.ClusterMap]]). After the map update the same keys are
  * appended to the signature index, so the NEXT batch probes a corpus that
  * includes this one.
  *
  * Every stage is batch-sized: the signature probe prunes key buckets, the
  * Jaccard verify fetches corpus text for CANDIDATE ids only (a restricted
  * scan of the source table — the [[SyncPipeline.changeRows]] two-tier
  * isin/broadcast discipline, never a corpus shuffle), and the map update
  * appends one file group per touched bucket.
  *
  * At-least-once replay converges end-to-end: a replayed batch finds its
  * own keys already stored, so the probe yields its in-batch pairs a second
  * time (deduplicated by the contraction), [[ClusterMap.applyBatch]]
  * re-derives no-op merges, and the duplicate member/key rows collapse at
  * read ([[ClusterMap.assignments]] min; [[SignatureIndex.compact]]
  * distinct). DELETE events are intentionally ignored — removing a document
  * never splits a component (the [[ClusterMap]] no-split contract); filter
  * assignments against the live corpus instead.
  *
  * [[SyncPipeline.ClusterConsumer]] runs [[seed]] and [[applyBatch]] over a
  * change feed; both also serve batch-mode runs directly.
  */
object ClusterStream {

  private def inBatchPairs(docs: DataFrame, id: String, text: String, m: SignatureIndex.Model): DataFrame =
    (if (m.portable)
       Dedup.minhashLshPortable(docs, id, text, m.shingleN, m.bands, m.rowsPerBand, m.threshold, m.maxBucket)
     else
       Dedup.minhashLsh(docs, id, text, m.shingleN, m.bands, m.rowsPerBand, m.threshold, m.maxBucket))
      .select(col("id_a"), col("id_b"))

  /** Build both persisted structures from the current corpus — the seed
    * half of the composed pipeline (`sync.py:1895-1945` pull-then-follow):
    * signature index, empty cluster map, and one [[ClusterMap.applyBatch]]
    * carrying the corpus' full batch pair set. An empty corpus seeds empty
    * structures (the stream-from-nothing path).
    *
    * A PORTABLE model bands the corpus ONCE: the stored per-document keys
    * are written first, then read back as the pair derivation's input
    * ([[Dedup.minhashLshPortableFromKeys]]) — the written index is already
    * the materialization of the banding pass, so re-deriving it would be
    * a second full corpus shingle+minhash for nothing. The PROD model
    * still shingles twice — stored keys cover every doc (the index
    * contract) while its pair operator bands exact-text-class
    * REPRESENTATIVES only, a deliberate 2× one-time cost: the collapse
    * keeps the seed's bucket-pair stage at text-DIVERSITY size, which
    * matters far more than one extra shingling pass on clone-heavy
    * corpora. Per-batch maintenance ([[applyBatch]]) shingles once.
    *
    * The corpus pair set contracts at once with shallow components, so its
    * union-find takes the seed ceiling ([[graft.Tuning.seedScale]]).
    */
  def seed(
      corpus: DataFrame,
      sigPath: String,
      clusterPath: String,
      id: String,
      text: String,
      m: SignatureIndex.Model,
      mapBuckets: Int = 64,
      tuning: Tuning = Tuning()
  ): Unit = {
    val spark = corpus.sparkSession
    val docs = corpus.select(col(id).cast("long").as("id"), col(text).as("t"))
      .filter(col("t").isNotNull)
    ClusterMap.init(spark, clusterPath, mapBuckets)
    val pairs =
      if (m.portable) {
        // ordered by construction: the portable pair derivation READS the
        // just-written index back (the banding pass materialized once)
        SignatureIndex.write(docs, sigPath, "id", "t", m)
        Dedup.minhashLshPortableFromKeys(
          docs, "id", "t",
          SignatureIndex.storedKeys(spark, sigPath),
          m.shingleN, m.threshold, m.maxBucket)
          .select(col("id_a"), col("id_b"))
      } else {
        // the PROD pair operator is INDEPENDENT of the stored keys (it bands
        // exact-text-class representatives, deliberately not the per-doc
        // stored key set — see the scaladoc), so the seed's two corpus-scale
        // legs overlap as concurrent jobs (guide §2.6): the sig-write's
        // shuffle/commit tail back-fills with the pair derivation's
        // shingle/verify scans
        val (_, p) = graft.util.Par.both(
          SignatureIndex.write(docs, sigPath, "id", "t", m),
          inBatchPairs(docs, "id", "t", m))
        p
      }
    try ClusterMap.applySeed(spark, clusterPath, pairs, corpus.select(col(id).cast("long").as("id")), tuning)
    finally {
      // both pair operators return eagerly-checkpointed frames; the seed is
      // done with them after the merge — release instead of waiting for the
      // context cleaner (corpus-scale seeds hold pair-set-sized blocks)
      try org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(pairs)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Source-table text for the candidate ids only: batch-sized sets become
    * a literal `isin` pushed into the corpus scan, oversized sets a
    * broadcast semi-join — either way the corpus is scanned, never
    * shuffled.
    */
  private def restrictText(src: DataFrame, ids: DataFrame, inSetThreshold: Int): DataFrame =
    Tier.within(ids, inSetThreshold).fold(src.join(broadcast(ids), Seq("id")))(local =>
      src.filter(col("id").isin(local.map(_.getLong(0)).toSeq: _*)))

  /** Apply one change batch: `rows` in [[SyncPipeline.changeRows]] shape
    * (`tg_op`, `<pk>`, `<textCol>`), `corpus` the CURRENT source table
    * (candidate text lookups only — restricted scans). Upserts become map
    * members (null-text docs as singletons); DELETEs are ignored per the
    * no-split contract. `tuning` sets the candidate-text restriction's
    * literal tier and the map update's ceilings.
    */
  def applyBatch(
      spark: SparkSession,
      rows: DataFrame,
      corpus: DataFrame,
      sigPath: String,
      clusterPath: String,
      pk: String,
      textCol: String,
      autoCompactRatio: Option[Double] = None,
      tuning: Tuning = Tuning()
  ): Unit = {
    val m = SignatureIndex.readModel(spark, sigPath)
    val ups = rows.filter(col("tg_op") =!= "DELETE")
    val newIds = ups.select(col(pk).cast("long").as("id"))
    if (newIds.isEmpty) return // DELETE-only or idle batch: no state change
    def release(df: DataFrame): Unit =
      try org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(df)
      catch { case scala.util.control.NonFatal(_) => () }
    // The batch frames are EAGER local checkpoints, not lazy caches: a lazy
    // cache is built by whichever job reads it first, and a job that starts
    // after the batch released it registers it again — a persistent RDD
    // that outlives its batch (seen once in SyncPipelineSpec's leak check).
    // A released checkpoint is never registered again.
    val docs = ups
      .filter(col(textCol).isNotNull)
      .select(col(pk).cast("long").as("id"), col(textCol).as("t"))
      .localCheckpoint(true)
    try {
      // the batch is shingled ONCE: these keys drive the index probe, the
      // in-batch candidate pairs, and the post-update append
      val batchKeys = SignatureIndex.bandKeys(docs, "id", "t", m).localCheckpoint(true)
      try {
        val cand = SignatureIndex.candidates(spark, sigPath, m, batchKeys)
        // in-batch candidates from the same keys (skipping the batch
        // operator's exact-dup collapse — sound for clustering: identical
        // texts pair at Jaccard 1 through shared keys, so the CC fixpoint
        // is unchanged; bucket blowup is bounded by micro-batch size and
        // the maxBucket cap) union the probe's cross-batch candidates,
        // then ONE exact-Jaccard verify pass over both
        val candPairs = cand
          .select(col("batch_id").as("id_a"), col("corpus_id").as("id_b"))
          .unionByName(Dedup.bucketPairs(batchKeys, m.maxBucket))
          .localCheckpoint(true)
        try {
          val pairs = {
            val corpusTxt = restrictText(
              corpus.select(col(pk).cast("long").as("id"), col(textCol).as("t")),
              candPairs.select(col("id_b").as("id")).distinct(),
              tuning.inSetThreshold)
            // one (id, t) frame for both verify sides; a replayed batch
            // appears on both with identical text (changeRows reads the
            // current table)
            val verifyDocs = docs.unionByName(corpusTxt).dropDuplicates("id")
            // shingle each candidate doc ONCE (checkpointed — the frame is
            // candidate-sized and both pair sides join it): per-pair
            // shingling re-derived every hot doc's shingles k times AND
            // re-ran the restricted corpus scan once per join side
            val shingled = Dedup.shingleDocs(verifyDocs, "id", "t", m.shingleN)
              .localCheckpoint(true)
            // eager local checkpoint: the union-find consumes the pair list
            // in several actions (endpoint resolution, contraction, the CC
            // loop) — materializing the candidate-sized frame once keeps the
            // probe+verify chain out of every one of them
            try Dedup
              .verifyJaccardShingled(candPairs, shingled, m.threshold)
              .select(col("id_a"), col("id_b"))
              .localCheckpoint(true)
            finally release(shingled)
          }
          try ClusterMap.applyBatch(spark, clusterPath, pairs, newIds, tuning = tuning)
          finally release(pairs)
          SignatureIndex.appendKeys(spark, sigPath, m, batchKeys)
          autoCompactRatio.foreach { r =>
            if (ClusterMap.maybeCompact(spark, clusterPath, r)) {
              SignatureIndex.compact(spark, sigPath); ()
            }
          }
        } finally {
          release(candPairs)
          // the probe's matched index rows are a local checkpoint (see
          // SignatureIndex.candidates); nothing reads them past this point
          release(cand)
        }
      } finally release(batchKeys)
    } finally release(docs)
  }
}
