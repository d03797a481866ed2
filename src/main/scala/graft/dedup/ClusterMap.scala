package graft.dedup

import graft.sources.IndexState
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Persistent near-duplicate CLUSTER assignment under a continuous feed — a
  * distributed union-find. The batch operators ([[Dedup.minhashLsh]] and
  * family) emit near-dup PAIRS; [[Dedup.connectedComponents]] turns a full
  * pair list into cluster labels. At 100 TB the corpus is never rescanned,
  * so the open problem is the ARRIVING form: assign each new document a
  * stable cluster id (the component's minimum doc id — the same canonical
  * "keeper" the batch CC elects) given only the new batch's pairs, and
  * merge existing clusters when a new document connects them.
  *
  * The design is the engine's established log-structured index idiom
  * (seq-tombstoned secondary indexes, `graft.sources.IndexState`) applied
  * to union-find state:
  *
  *   - `members` — `(id, root)` rows, hash-bucketed by id
  *     (`bucket = id % nBuckets` partition dirs), append-only: each doc is
  *     written ONCE, at arrival, with the cluster root known at that time.
  *     Lookups push a static `bucket IN (…)` partition filter computed
  *     from the (batch-sized) probe ids, so a batch never scans the
  *     corpus-sized member set.
  *   - `_graft_merges` — `(from_root, to_root, seq)` pointer log, the
  *     union-find "parent" edges: when a batch connects two existing
  *     clusters, the larger root gets one appended pointer to the smaller
  *     (merges always point DOWNWARD to a smaller id — no cycles, and
  *     chains strictly descend). Resolution follows pointer chains to a
  *     fixpoint; the log is batch-sized per batch, never corpus-sized.
  *   - Compaction ([[maybeCompact]]) is the union-find "path compression"
  *     made durable: rewrite `members` with every chain resolved, promote
  *     through [[IndexState.compactAndSwap]] (generation pointer, age-based
  *     GC, concurrent readers safe), and the new generation is born with an
  *     empty merge log. A policy threshold (merge rows vs member rows, both
  *     from parquet footer counts) bounds chain length under steady churn.
  *
  * Algorithm lineage is public: min-label propagation connected components
  * (Rastogi et al., "Finding Connected Components in Map-Reduce in
  * Logarithmic Rounds", ICDE 2013 — the hash-to-min family) for the
  * per-batch contraction, and the classic union-find with deferred path
  * compression for the persisted state.
  *
  * Replay convergence (the engine's at-least-once convention): re-applying
  * a batch re-derives the same contracted merges against an already-merged
  * map — every node already resolves to its final root, so the contraction
  * emits no new pointers — and re-appends the same `(id, root)` member
  * rows, which [[assignments]] collapses by min. A crash between the merge
  * append and the member append heals the same way on replay.
  *
  * Deletes are intentionally out of scope: removing a document never
  * SPLITS a component (union-find cannot un-merge; neither can the batch
  * CC, which would need the surviving pair list). Filter [[assignments]]
  * against the live corpus instead, and use [[rebuild]] (fresh generation
  * from the surviving pair set, reader-safe swap) when true splits are
  * required — the same rebuild-for-shrink convention as the reference's
  * full re-sync (`/root/reference/pgsync/sync.py` re-snapshot path).
  */
object ClusterMap {

  val MergesDir = "_graft_merges"
  private val ModelDir = "_graft_model"

  private val MemberSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("root", LongType),
    StructField("bucket", IntegerType)
  ))

  /** Member read schema including the synthetic-label marker: `syn = 1`
    * rows materialize a pair endpoint that WON a contraction without ever
    * being ingested (the no-split machinery needs the row so a later
    * demotion can be pointered — see the foreignWinners write in
    * [[applyBatch]]); `syn = 0` (or NULL, for files written before the
    * marker existed — pre-marker maps surface exactly as they always did)
    * is a real ingested document. Passed EXPLICITLY to the reader so a
    * directory mixing pre/post-marker files resolves deterministically
    * instead of by file sampling.
    */
  private val MemberReadSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("root", LongType),
    StructField("syn", IntegerType),
    StructField("bucket", IntegerType)
  ))

  private val MergeSchema = StructType(Seq(
    StructField("from_root", LongType),
    StructField("to_root", LongType),
    StructField("seq", LongType)
  ))

  /** Create an empty cluster map at `path`: layout parameters + seq 0. No
    * member partitions are written (an empty partitioned directory is
    * unreadable — the same refusal rationale as
    * [[IndexState.stagingHasData]]); reads tolerate the absent layout.
    */
  def init(spark: SparkSession, path: String, buckets: Int = 64): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    import spark.implicits._
    Seq(buckets).toDF("buckets").coalesce(1).write.mode("overwrite")
      .parquet(s"$path/$ModelDir")
    IndexState.writeSeq(spark, path, 0L)
  }

  private def readBuckets(spark: SparkSession, path: String): Int =
    spark.read.parquet(s"$path/$ModelDir").collect()(0).getInt(0)

  private def hasMembers(spark: SparkSession, dataDir: String): Boolean =
    IndexState.stagingHasData(spark, dataDir)

  /** Raw member rows of a resolved data directory (un-merged roots), with
    * the synthetic marker normalized to 0/1.
    */
  private def readMembersAt(spark: SparkSession, dataDir: String): DataFrame =
    if (!hasMembers(spark, dataDir))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], MemberReadSchema)
    else
      spark.read.schema(MemberReadSchema).parquet(dataDir)
        .select(col("id"), col("root"), coalesce(col("syn"), lit(0)).as("syn"), col("bucket"))

  /** Pointer-log rows a merge log may hold before [[mergeClosure]] falls
    * back from the driver-side resolution to the distributed fixpoint. The
    * log is batch-appended and compaction empties it, so in steady state it
    * is FAR below this; 65 536 (from_root, to_root) pairs is ~1 MB on the
    * driver — the engine's established bounded-collect ceiling class.
    */
  private val InMemClosureRows = 65536

  /** The merge log of a resolved data directory, collapsed to one pointer
    * per source root, followed to a FIXPOINT — `(from_root, to_root)` with
    * `to_root` the final resolved target. Pointer chains strictly descend
    * (merges always target a smaller id), so resolution terminates in
    * chain-depth steps with no cycles.
    *
    * The log is batch-sized by construction (appends per batch, compaction
    * empties it), so the closure almost always fits the driver: up to
    * [[InMemClosureRows]] collapsed pointers are collected and resolved in
    * memory with memoized path compression — one job instead of the
    * distributed fixpoint's 2-jobs-per-chain-depth, which was the dominant
    * driver-latency cost of every applyBatch/assignments/resolve call at
    * micro-batch sizes (round-10 verdict: the 11.5 s
    * q_dedup_cluster_incr_prod row was mostly this loop's job scheduling).
    * The local result returns as a driver-local relation — downstream joins
    * broadcast it, same as the distributed form's batch-sized frame.
    * An oversized log (possible only when compaction has been withheld for
    * many batches) falls back to the distributed loop with per-iteration
    * lineage truncation, the [[Dedup.connectedComponentsWithStatus]]
    * discipline.
    */
  private[dedup] def mergeClosure(spark: SparkSession, dataDir: String): DataFrame = {
    val p = s"$dataDir/$MergesDir"
    if (!IndexState.stagingHasData(spark, p))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("from_root", LongType), StructField("to_root", LongType))))
    val collapsed = spark.read.schema(MergeSchema).parquet(p)
      .groupBy(col("from_root"))
      .agg(min(col("to_root")).as("to_root"))
    val head = collapsed.limit(InMemClosureRows + 1).collect()
    if (head.length <= InMemClosureRows) {
      val parent = new java.util.HashMap[Long, Long](head.length * 2)
      head.foreach(r => parent.put(r.getLong(0), r.getLong(1)))
      val memo = new java.util.HashMap[Long, Long](head.length * 2)
      def resolve(x0: Long): Long = {
        var x = x0
        val path = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (parent.containsKey(x) && !memo.containsKey(x)) {
          path += x
          x = parent.get(x)
        }
        val r = if (memo.containsKey(x)) memo.get(x) else x
        path.foreach(memo.put(_, r))
        r
      }
      val rows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(head.map(r =>
          org.apache.spark.sql.Row(r.getLong(0), resolve(r.getLong(0)))): _*)
      return spark.createDataFrame(
        rows,
        StructType(Seq(StructField("from_root", LongType), StructField("to_root", LongType))))
    }
    var cl = collapsed.localCheckpoint(true)
    var done = false
    var iter = 0
    while (!done && iter < 64) {
      val next = cl
        .join(
          cl.select(col("from_root").as("to_root"), col("to_root").as("further")),
          Seq("to_root"),
          "left_outer")
        .select(col("from_root"), coalesce(col("further"), col("to_root")).as("to_root"))
        .localCheckpoint(true)
      val changed = next
        .join(cl.withColumnRenamed("to_root", "old_to"), Seq("from_root"))
        .filter(col("to_root") =!= col("old_to"))
        .limit(1)
        .count()
      org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(cl)
      cl = next
      done = changed == 0
      iter += 1
    }
    cl
  }

  /** Member rows for the probe `ids` only — `(id, root, syn)`, root NOT yet
    * merge-resolved, `syn` normalized to 0/1 (explicit [[MemberReadSchema]]
    * read, so pre-marker files surface as real rows the way every other read
    * path resolves them). The probe's distinct bucket values (≤ nBuckets
    * longs, driver-collected — the engine's bounded-collect convention)
    * become a static partition filter, so the scan plans only the probed
    * buckets.
    */
  private def lookupStored(
      spark: SparkSession,
      dataDir: String,
      buckets: Int,
      ids: DataFrame
  ): DataFrame = {
    if (!hasMembers(spark, dataDir))
      return ids.limit(0).select(col("id"), col("id").as("root"), lit(0).as("syn"))
    val probeBuckets = ids
      .select(pmod(col("id"), lit(buckets.toLong)).cast("int").as("b"))
      .distinct()
      .collect()
      .map(_.getInt(0))
    spark.read
      .schema(MemberReadSchema)
      .parquet(dataDir)
      .filter(col("bucket").isin(probeBuckets.map(Integer.valueOf): _*))
      .join(ids.select(col("id")), Seq("id"))
      .select(col("id"), col("root"), coalesce(col("syn"), lit(0)).as("syn"))
  }

  /** Apply one arriving batch: `newIds` are the batch's document ids (one
    * member row each — singletons included), `pairs` `(id_a, id_b)` the
    * near-dup pairs this batch introduces (batch↔batch and batch↔corpus;
    * from [[Dedup.minhashLshIncrementalPortable]] + the in-batch operator,
    * or any other dedup family). Every step is batch-sized: endpoint
    * lookups prune member buckets, the contraction graph has one node per
    * TOUCHED cluster, and writes append one file group per batch.
    *
    * PRE-FIX MAPS: the no-split guarantee holds by induction from "every
    * referenced root has a member row", which the foreignWinners write
    * below establishes going FORWARD. A map persisted before that write
    * existed can still hold foreign roots referenced only via other rows'
    * `root` values; a later batch demoting such a root writes no pointer
    * and the component splits silently. There is no incremental heal —
    * run [[rebuild]] (one-time, from the surviving pair set) before
    * relying on the guarantee for a pre-fix map.
    */
  def applyBatch(
      spark: SparkSession,
      path: String,
      pairs: DataFrame,
      newIds: DataFrame,
      maxIter: Int = 10,
      stageTimer: Option[(String, Double) => Unit] = None,
      ccInMemPairs: Int = Dedup.InMemCcPairs
  ): Unit = {
    // Sub-operator attribution (labels: resolve / contract / cc / ptr-write
    // / member-write) — the seed call feeds the WHOLE corpus pair set
    // through here, and "which of the five is superlinear on a clone-heavy
    // corpus" is a scaling question the operator-level timer can't answer.
    // Profiling checkpoints `contracted` so the contract/cc boundary is
    // real; unprofiled runs keep the lazy plan (one materialization fewer).
    def staged[T](label: String)(f: => T): T = stageTimer match {
      case None => f
      case Some(report) =>
        val t0 = System.nanoTime()
        val r = f
        report(label, (System.nanoTime() - t0) / 1e9)
        r
    }
    val dataDir = IndexState.dataPath(spark, path)
    val buckets = readBuckets(spark, path)

    val endpoints = pairs.select(col("id_a").as("id"))
      .unionAll(pairs.select(col("id_b").as("id")))
      .distinct()

    // FUSED DRIVER SHAPE (round-16, guide §2.6 + fewer driver jobs): the
    // endpoint set of a micro-batch is bounded, so collect it ONCE —
    // overlapped with the merge-log closure, the other independent driver
    // job — and derive everything the resolve phase used to re-probe for
    // from that one collect: the probe buckets (driver floorMod instead of
    // a second distinct job), the endpoint relation (a driver-local
    // relation every consumer join broadcasts — no localCheckpoint job),
    // and, after the bucket-pruned member scan resolves the stored roots
    // (ONE job, collected batch-sized), the merge-pointer and
    // foreign-winner predicates as driver-side set tests (the
    // `merges.isEmpty` job disappears). Oversized endpoint sets
    // (corpus-scale seeds past the bounded-collect ceiling) keep the
    // distributed shape below, unchanged.
    val (endpointHead, closure) = staged("resolve-head")(graft.util.Par.both(
      endpoints.limit(InMemClosureRows + 1).collect(),
      mergeClosure(spark, dataDir)))

    if (endpointHead.length <= InMemClosureRows) {
      applyBatchFused(
        spark, dataDir, path, buckets, pairs, newIds, maxIter, stageTimer, ccInMemPairs,
        endpointHead, closure)
      return
    }

    // current root per endpoint: stored root → pointer closure; absent
    // (a batch id, or a pair endpoint never ingested) → the id itself.
    // Eagerly checkpointed (batch-sized): the resolved frame feeds the
    // contraction, the merge-pointer predicate AND the foreign-winner
    // predicate — one bucket-pruned member scan per batch instead of three
    // (the round-11 shape re-probed storage for losers and winners).
    val cur = staged("resolve") {
      endpoints
        .join(lookupStored(spark, dataDir, buckets, endpoints)
          .withColumnRenamed("root", "stored"), Seq("id"), "left_outer")
        .join(closure.withColumnRenamed("from_root", "stored"), Seq("stored"), "left_outer")
        .select(
          col("id"),
          col("stored"),
          coalesce(col("to_root"), col("stored"), col("id")).as("cur_root"))
        .localCheckpoint(true)
    }
    try {
      val contractedLazy = pairs
        .join(cur.select(col("id").as("id_a"), col("cur_root").as("ra")), Seq("id_a"))
        .join(cur.select(col("id").as("id_b"), col("cur_root").as("rb")), Seq("id_b"))
        .select(col("ra").as("id_a"), col("rb").as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
        .distinct()
      val contracted =
        if (stageTimer.isEmpty) contractedLazy
        else staged("contract")(contractedLazy.localCheckpoint(true))

      val labels = staged("cc")(Dedup.connectedComponents(contracted, maxIter, ccInMemPairs))
      if (stageTimer.isDefined)
        try org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(contracted)
        catch { case scala.util.control.NonFatal(_) => () }

      // The contraction nodes that exist in storage, WITHOUT a second member
      // scan: a node is a cur_root, and a cur_root is storage-referenced iff
      // some endpoint resolved to it through a non-null stored root (a bare
      // unstored endpoint resolves only to itself, which the lookup above
      // already proved absent). Sound because every referenced root — a
      // member row's `root` value or a merge pointer's `to_root` — WON the
      // contraction that wrote that reference and was therefore materialized
      // as a member row below, so stored-resolution reaches it.
      val storedNodes = cur
        .filter(col("stored").isNotNull)
        .select(col("cur_root").as("id"))
        .distinct()

      val seq = IndexState.bumpSeq(spark, path)
      // merge pointers FIRST (replay heals a crash between the two writes):
      // every contracted node that lost its label AND exists in storage is a
      // cluster root that stored member rows may still resolve to, so it
      // acquires a downward pointer. Membership in `newIds` does NOT make a
      // loser unreferenced: a re-upserted doc that is currently the root of
      // a stored cluster (an UPDATE arriving through the CDC consumers) must
      // still point its old component at the new root, or the component
      // silently splits.
      val losing = labels.filter(col("keep_id") =!= col("id"))
      val merges = losing
        .join(storedNodes, Seq("id"))
        .select(col("id").as("from_root"), col("keep_id").as("to_root"), lit(seq).as("seq"))
      staged("ptr-write") {
        if (!merges.isEmpty)
          merges.coalesce(1).write.mode("append").parquet(s"$dataDir/$MergesDir")
      }

      // Foreign winners — pair endpoints never ingested that just became the
      // canonical root of a stored component — are materialized as member
      // rows (id, id): when a later batch merges such a root away, the
      // stored-nodes predicate above finds it and writes the pointer its
      // referrers need. Without this, a foreign winner is referenced only by
      // other rows' `root` values (un-probe-able by id) and its later
      // demotion silently splits the component. Replay-safe: the duplicate
      // rows a redelivered batch appends collapse in [[assignments]] by min.
      val winners = labels.filter(col("keep_id") === col("id")).select(col("id"))
      val foreignWinners = winners
        .join(newIds.select(col("id")), Seq("id"), "left_anti")
        .join(storedNodes, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("root"), lit(1).as("syn"))

      staged("member-write") {
        writeMembers(newIds, labels, foreignWinners, buckets, dataDir)
      }
    } finally {
      try org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(cur)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** The member-row append shared by both [[applyBatch]] tiers: one row per
    * new id labeled with its component root (or itself), plus the synthetic
    * foreign-winner rows.
    */
  private def writeMembers(
      newIds: DataFrame,
      labels: DataFrame,
      foreignWinners: DataFrame,
      buckets: Int,
      dataDir: String
  ): Unit =
    newIds
      .select(col("id"))
      .join(labels, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("keep_id"), col("id")).as("root"), lit(0).as("syn"))
      .unionByName(foreignWinners)
      .select(
        col("id"),
        col("root"),
        col("syn"),
        pmod(col("id"), lit(buckets.toLong)).cast("int").as("bucket"))
      // pinned partition count (the writeBm25Postings rationale): a bare
      // repartition(col) lets AQE coalesce the batch-sized shuffle to ~1
      // task, which then writes every touched bucket dir SERIALLY
      .repartition(buckets, col("bucket"))
      .write
      .mode("append")
      .partitionBy("bucket")
      .parquet(dataDir)

  /** The bounded-endpoint tier of [[applyBatch]]: semantics identical to the
    * distributed tier (same resolve → contract → cc → ptr-write →
    * member-write stages over the same values), with the batch-sized
    * intermediates held as driver-local relations instead of checkpointed
    * frames. `endpointHead` is the collected endpoint id set (≤
    * [[InMemClosureRows]]); `closure` the merge-log closure frame.
    */
  private def applyBatchFused(
      spark: SparkSession,
      dataDir: String,
      path: String,
      buckets: Int,
      pairs: DataFrame,
      newIds: DataFrame,
      maxIter: Int,
      stageTimer: Option[(String, Double) => Unit],
      ccInMemPairs: Int,
      endpointHead: Array[org.apache.spark.sql.Row],
      closure: DataFrame
  ): Unit = {
    import org.apache.spark.sql.Row
    def staged[T](label: String)(f: => T): T = stageTimer match {
      case None => f
      case Some(report) =>
        val t0 = System.nanoTime()
        val r = f
        report(label, (System.nanoTime() - t0) / 1e9)
        r
    }
    val curSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("stored", LongType),
      StructField("cur_root", LongType)))
    // current root per endpoint (the distributed tier's `cur`), via ONE
    // bucket-pruned member scan joined against the driver-local endpoint
    // relation, collected batch-sized. Probe buckets derive from the
    // already-collected ids (pmod == floorMod for positive bucket counts).
    val curRows: Array[Row] = staged("resolve") {
      val ids = endpointHead.map(_.getLong(0))
      if (ids.isEmpty || !hasMembers(spark, dataDir)) {
        // nothing stored (or no endpoints): every endpoint resolves to itself
        ids.map(i => Row(i, null, i))
      } else {
        val probeBuckets = ids.map(i => java.lang.Math.floorMod(i, buckets.toLong).toInt).distinct
        val idsLocal = spark.createDataFrame(
          java.util.Arrays.asList(ids.map(i => Row(i)): _*),
          StructType(Seq(StructField("id", LongType))))
        val stored = spark.read
          .schema(MemberReadSchema)
          .parquet(dataDir)
          .filter(col("bucket").isin(probeBuckets.map(Integer.valueOf): _*))
          .join(idsLocal, Seq("id"))
          .select(col("id"), col("root").as("stored"))
        val resolved = idsLocal
          .join(stored, Seq("id"), "left_outer")
          .join(closure.withColumnRenamed("from_root", "stored"), Seq("stored"), "left_outer")
          .select(
            col("id"),
            col("stored"),
            coalesce(col("to_root"), col("stored"), col("id")).as("cur_root"))
          .collect()
        resolved
      }
    }
    val curLocal = spark.createDataFrame(java.util.Arrays.asList(curRows: _*), curSchema)
    // stored-referenced contraction nodes (the distributed tier's
    // storedNodes), as a driver set — the soundness argument is unchanged
    val storedRoots: Set[Long] =
      curRows.iterator.filter(!_.isNullAt(1)).map(_.getLong(2)).toSet

    val contracted = pairs
      .join(curLocal.select(col("id").as("id_a"), col("cur_root").as("ra")), Seq("id_a"))
      .join(curLocal.select(col("id").as("id_b"), col("cur_root").as("rb")), Seq("id_b"))
      .select(col("ra").as("id_a"), col("rb").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
    // label rows are one per contraction NODE (≤ endpoint count — bounded
    // by this tier's ceiling), so the collect is safe even when the cc
    // itself ran distributed
    val labelRows: Array[Row] = staged("cc") {
      val labels = Dedup.connectedComponents(contracted, maxIter, ccInMemPairs)
      // the distributed loop returns a localCheckpoint-pinned frame: release
      // its blocks now instead of at driver GC (one leak per stream batch)
      try labels.collect()
      finally {
        try org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(labels)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    val labelsLocal = spark.createDataFrame(
      java.util.Arrays.asList(labelRows: _*),
      StructType(Seq(StructField("id", LongType), StructField("keep_id", LongType))))

    val seq = IndexState.bumpSeq(spark, path)
    // merge pointers FIRST (the distributed tier's crash-heal ordering);
    // losing-and-stored is now a driver-side set test, and an empty pointer
    // set skips the write without an isEmpty job
    val mergeRows = labelRows.iterator
      .filter(r => r.getLong(1) != r.getLong(0) && storedRoots.contains(r.getLong(0)))
      .map(r => Row(r.getLong(0), r.getLong(1), seq))
      .toArray
    staged("ptr-write") {
      if (mergeRows.nonEmpty)
        spark.createDataFrame(java.util.Arrays.asList(mergeRows: _*), MergeSchema)
          .coalesce(1).write.mode("append").parquet(s"$dataDir/$MergesDir")
    }

    // foreign winners (see the distributed tier): winner ∧ ¬stored is a
    // driver-side test; ¬ingested stays an anti-join against `newIds`
    // (corpus-sized at seeds), folded into the member-write job
    val winnersNotStored = labelRows.iterator
      .filter(r => r.getLong(1) == r.getLong(0) && !storedRoots.contains(r.getLong(0)))
      .map(r => Row(r.getLong(0)))
      .toArray
    val foreignWinners = spark
      .createDataFrame(
        java.util.Arrays.asList(winnersNotStored: _*),
        StructType(Seq(StructField("id", LongType))))
      .join(newIds.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("root"), lit(1).as("syn"))

    staged("member-write") {
      writeMembers(newIds, labelsLocal, foreignWinners, buckets, dataDir)
    }
  }

  /** All member rows fully resolved and replay-collapsed — `(id, root,
    * syn)`, INCLUDING synthetic winner labels (`syn = 1`: pair endpoints
    * never ingested that [[applyBatch]] materialized so a later demotion
    * can be pointered). `min(syn)` makes a label that was later genuinely
    * ingested real. This is the frame compaction and rebuild must persist
    * from: dropping a still-canonical synthetic root from storage would
    * resurrect the silent-split class the marker exists to prevent.
    */
  private def resolvedMembers(spark: SparkSession, dataDir: String): DataFrame = {
    val closure = mergeClosure(spark, dataDir)
    readMembersAt(spark, dataDir)
      .join(closure.withColumnRenamed("from_root", "root"), Seq("root"), "left_outer")
      .select(col("id"), coalesce(col("to_root"), col("root")).as("root"), col("syn"))
      .groupBy(col("id"))
      .agg(min(col("root")).as("root"), min(col("syn")).as("syn"))
  }

  /** Every ingested document's fully-resolved cluster root `(id, root)` —
    * the arriving-data equivalent of [[Dedup.connectedComponents]] over the
    * cumulative pair list (plus `(id, id)` singletons). Duplicate member
    * rows from at-least-once replays collapse by min — the resolved root
    * is monotonically non-increasing, so min is the freshest.
    *
    * Synthetic winner labels (pair endpoints that were never ingested but
    * won a contraction — [[applyBatch]] materializes them for the no-split
    * contract) are FILTERED here: an aggregate over this surface counts
    * only real documents. They can still appear as `root` VALUES (a cluster
    * label need not be a live doc); maps written before the `syn` marker
    * existed surface as they always did (pre-marker synthetic rows are
    * indistinguishable from singletons — [[rebuild]] from the surviving
    * pair set is the one-time cure, see the pre-fix note on [[applyBatch]]).
    * Use [[assignmentsLive]] to additionally restrict to a live corpus
    * (dropping DELETEd docs).
    */
  def assignments(spark: SparkSession, path: String): DataFrame =
    resolvedMembers(spark, IndexState.dataPath(spark, path))
      .filter(col("syn") === 0)
      .select(col("id"), col("root"))

  /** [[assignments]] restricted to a LIVE corpus (single BIGINT `id`
    * column) — the read-side half of the no-split contract: DELETE events
    * never mutate the map (removing a doc cannot split a component), so
    * deleted docs simply stop appearing here while surviving members keep
    * their root, even when the root id itself is deleted (the root is a
    * stable cluster LABEL, not a live-doc pointer). Corpus-sized join on
    * both sides by nature; for batch-sized id sets use [[resolve]]
    * (bucket-pruned).
    */
  def assignmentsLive(spark: SparkSession, path: String, liveIds: DataFrame): DataFrame =
    assignments(spark, path).join(liveIds.select(col("id")), Seq("id"))

  /** Bucket-pruned [[assignments]] for a probe id set. Same id surface as
    * [[assignments]]: synthetic-only labels (never-ingested contraction
    * winners, `min(syn) = 1`) do not resolve — the two read surfaces must
    * agree on which ids exist.
    */
  def resolve(spark: SparkSession, path: String, ids: DataFrame): DataFrame = {
    val dataDir = IndexState.dataPath(spark, path)
    val closure = mergeClosure(spark, dataDir)
    lookupStored(spark, dataDir, readBuckets(spark, path), ids)
      .join(closure.withColumnRenamed("from_root", "root"), Seq("root"), "left_outer")
      .select(col("id"), coalesce(col("to_root"), col("root")).as("root"), col("syn"))
      .groupBy(col("id"))
      .agg(min(col("root")).as("root"), min(col("syn")).as("syn"))
      .filter(col("syn") === 0)
      .select(col("id"), col("root"))
  }

  /** Durable path compression: when the merge log reaches `maxMergeRatio`
    * of the member count (both from parquet footer metadata — the map is
    * never scanned to decide), rewrite members fully resolved into a
    * staging sibling and promote it ([[IndexState.compactAndSwap]]: next
    * generation, empty-rewrite refusal, age-based GC). The promoted
    * generation has an empty merge log — resolution cost returns to a
    * single bucket-pruned lookup. Returns whether a compaction ran.
    */
  def maybeCompact(
      spark: SparkSession,
      path: String,
      maxMergeRatio: Double = 0.2
  ): Boolean = {
    require(
      maxMergeRatio > 0 && maxMergeRatio <= 1,
      s"maxMergeRatio must be in (0,1], got $maxMergeRatio")
    val dataDir = IndexState.dataPath(spark, path)
    val mergesPath = s"$dataDir/$MergesDir"
    if (!IndexState.stagingHasData(spark, mergesPath)) return false
    val nMerges = spark.read.schema(MergeSchema).parquet(mergesPath).count()
    if (nMerges == 0L) return false
    val nMembers = readMembersAt(spark, dataDir).count()
    if (nMembers == 0L || nMerges.toDouble / nMembers < maxMergeRatio) return false
    val buckets = readBuckets(spark, path)
    // resolvedMembers, NOT assignments: synthetic winner rows must survive
    // compaction — a still-canonical synthetic root dropped from storage
    // would be un-pointerable at its later demotion (the silent-split class)
    IndexState.compactAndSwap(spark, path, staging =>
      resolvedMembers(spark, dataDir)
        .select(
          col("id"),
          col("root"),
          col("syn"),
          pmod(col("id"), lit(buckets.toLong)).cast("int").as("bucket"))
        .repartition(col("bucket"))
        .write
        .mode("overwrite")
        .partitionBy("bucket")
        .parquet(staging))
  }

  /** The escape hatch of the no-split contract: union-find cannot un-merge,
    * so when TRUE SPLITS are required (documents whose pairs bridged two
    * clusters have been deleted), rebuild the map from the SURVIVING pair
    * set and live `ids` — the reference's full re-sync convention
    * (`/root/reference/pgsync/sync.py` re-snapshot path) applied to cluster
    * state. The rebuilt membership seeds a fresh generation through the
    * same [[IndexState.compactAndSwap]] machinery as compaction, so
    * concurrent [[assignments]]/[[resolve]] readers never observe a broken
    * index: they keep the superseded generation until the age-based GC
    * grace expires, and the flip is one ready-marker create. The new
    * generation is born with an empty merge log; layout parameters are
    * kept. Returns whether the swap happened (an empty rebuild — no ids —
    * is refused, the [[IndexState.compactAndSwap]] empty-rewrite guard).
    *
    * Bumps the mutation seq: the refusal memo of a prior empty compaction
    * must not suppress this rewrite, and replayed callers converge the same
    * way compaction replays do.
    */
  def rebuild(
      spark: SparkSession,
      path: String,
      pairs: DataFrame,
      ids: DataFrame,
      maxIter: Int = 10
  ): Boolean = {
    val buckets = readBuckets(spark, path)
    IndexState.bumpSeq(spark, path)
    // rebuild is seed-shaped: the whole surviving pair set contracts at
    // once, so it takes the seed-scale driver union-find ceiling
    val labels = Dedup.connectedComponents(
      pairs.select(col("id_a"), col("id_b")).filter(col("id_a") =!= col("id_b")),
      maxIter, Dedup.SeedCcPairs)
    // pair endpoints outside `ids` that won their component are materialized
    // as synthetic rows, same as [[applyBatch]]'s foreignWinners: the rebuilt
    // map must uphold the invariant that every referenced root has a member
    // row, or the next demotion of such a root splits silently
    val distinctIds = ids.select(col("id")).distinct()
    val foreignWinners = labels
      .filter(col("keep_id") === col("id"))
      .select(col("id"))
      .join(distinctIds, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("root"), lit(1).as("syn"))
    IndexState.compactAndSwap(spark, path, staging =>
      distinctIds
        .join(labels, Seq("id"), "left_outer")
        .select(
          col("id"),
          coalesce(col("keep_id"), col("id")).as("root"),
          lit(0).as("syn"))
        .unionByName(foreignWinners)
        .select(
          col("id"),
          col("root"),
          col("syn"),
          pmod(col("id"), lit(buckets.toLong)).cast("int").as("bucket"))
        .repartition(col("bucket"))
        .write
        .mode("overwrite")
        .partitionBy("bucket")
        .parquet(staging))
  }
}
