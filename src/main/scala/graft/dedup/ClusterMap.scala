package graft.dedup

import graft.Tuning
import graft.sources.{IndexLog, IndexState}
import graft.util.Tier
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
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
  * (the persisted search indexes' commit log, `graft.sources.IndexLog`)
  * applied to union-find state:
  *
  *   - `members` — `(id, root, syn)` rows, hash-bucketed by id
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
  *   - `_graft_log/<seq>` — the commit log: each batch writes its member
  *     and pointer files concurrently and commits them with one entry,
  *     whose counters carry the bucket count. Every read scans exactly the
  *     head's files.
  *   - Compaction ([[maybeCompact]]) is the union-find "path compression"
  *     made durable: rewrite `members` with every chain resolved into a
  *     fresh generation with a fresh log, promote it through
  *     [[IndexState.compactAndSwap]] (generation pointer, age-based GC,
  *     concurrent readers safe), and the new generation is born with an
  *     empty merge log. A policy threshold (merge rows vs member rows)
  *     bounds chain length under steady churn.
  *
  * Algorithm lineage is public: min-label propagation connected components
  * (Rastogi et al., "Finding Connected Components in Map-Reduce in
  * Logarithmic Rounds", ICDE 2013 — the hash-to-min family) for the
  * per-batch contraction, and the classic union-find with deferred path
  * compression for the persisted state.
  *
  * Replay convergence (the engine's at-least-once convention): a batch
  * that crashes before its log entry left only unlogged files, which no
  * read sees, so its replay is a first delivery. Re-applying a committed
  * batch re-derives the same contracted merges against an already-merged
  * map — every node already resolves to its final root, so the
  * contraction emits no new pointers — and re-appends the same member
  * rows, which [[assignments]] collapses by min.
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

  // the index log's kinds of file
  private val Members = "members"
  private val Merges = "merges"

  /** Both kinds' scan shapes. Every entry records them, so a kind with no
    * file yet (a fresh map, a compacted generation's merge log) scans as
    * empty.
    *
    * Members carry a synthetic-label marker: `syn = 1` rows materialize a
    * pair endpoint that WON a contraction without ever being ingested (the
    * no-split machinery needs the row so a later demotion can be pointered
    * — see the foreignWinners write in [[applyBatch]]); `syn = 0` is a real
    * ingested document.
    */
  private val Shapes = Map(
    Members -> IndexLog.Shape("", Some("bucket"), StructType(Seq(
      StructField("id", LongType),
      StructField("root", LongType),
      StructField("syn", IntegerType)))),
    Merges -> IndexLog.Shape(MergesDir, None, StructType(Seq(
      StructField("from_root", LongType),
      StructField("to_root", LongType),
      StructField("seq", LongType)))))

  /** The entry of an empty map at `seq`, its bucket count in the counters. */
  private def emptyEntry(seq: Long, buckets: Int): IndexLog.Entry =
    IndexLog.Entry(seq, IndexLog.Counters(0L, 0L, buckets), Shapes, Nil)

  /** Create an empty cluster map at `path`, replacing whatever was there
    * (members, merge pointers, generations): one log entry at seq 0 with
    * no file, which records the bucket count.
    */
  def init(spark: SparkSession, path: String, buckets: Int = 64): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    IndexState.deleteDir(spark, path)
    IndexLog.commit(spark, path, emptyEntry(0L, buckets), predecessor = 0L)
  }

  /** The member write of `rows` (`id, root, syn`), id-bucketed, ids as
    * BIGINT whatever the caller's id type (the recorded shape). Pinned
    * partition count (the writeBm25Postings rationale): a bare
    * repartition(col) lets AQE coalesce a batch-sized shuffle to ~1 task,
    * which then writes every touched bucket dir SERIALLY.
    */
  private def membersWrite(rows: DataFrame, buckets: Int, mode: SaveMode): IndexLog.Write =
    IndexLog.Write(Members, "", Some("bucket"),
      rows
        .select(col("id").cast("long").as("id"), col("root").cast("long").as("root"), col("syn"))
        .withColumn("bucket", pmod(col("id"), lit(buckets.toLong)))
        .repartition(buckets, col("bucket")),
      mode)

  /** The member rows `(id, root, syn)` of the given buckets only, roots NOT
    * yet merge-resolved: a static partition filter, so the scan plans only
    * those buckets.
    */
  private def membersIn(spark: SparkSession, dataDir: String, head: IndexLog.Entry, buckets: Seq[Long]): DataFrame =
    head.scan(spark, dataDir, Members)
      .filter(col("bucket").isin(buckets: _*))
      .select(col("id"), col("root"), col("syn"))

  /** The merge log of `head`, collapsed to one pointer per source root
    * (the smallest target), followed to a FIXPOINT — `(from_root,
    * to_root)` with `to_root` the final resolved target. Merges always
    * target a smaller id, so the collapsed pointers form a forest whose
    * every chain ends at its component's minimum.
    *
    * The log is batch-sized by construction (appends per batch, compaction
    * empties it), so the closure almost always fits the driver: up to
    * `collectCeiling` collapsed pointers are collected and resolved by the
    * driver union-find ([[Dedup.componentMins]], exact by the forest
    * argument) — one job instead of the distributed fixpoint's
    * 2-jobs-per-chain-depth, which was the dominant driver-latency cost of
    * every applyBatch/assignments/resolve call at micro-batch sizes; an
    * entry that lists no pointer file needs no job at all. The local result
    * returns as a driver-local relation — downstream joins broadcast it,
    * same as the distributed form's batch-sized frame. An oversized log
    * (possible only when compaction has been withheld for many batches)
    * falls back to pointer doubling — log-of-depth rounds, where min-label
    * propagation would need one per chain link — with per-iteration lineage
    * truncation, the [[Dedup.connectedComponentsWithStatus]] discipline.
    */
  private[dedup] def mergeClosure(
      spark: SparkSession, dataDir: String, head: IndexLog.Entry, tuning: Tuning): DataFrame = {
    val collapsed = head.scan(spark, dataDir, Merges)
      .groupBy(col("from_root"))
      .agg(min(col("to_root")).as("to_root"))
    val pointers = if (head.has(Merges)) Tier.within(collapsed, tuning.collectCeiling) else Some(Array.empty[Row])
    if (pointers.isDefined) {
      val mins = Dedup.componentMins(pointers.get.iterator.map(r => (r.getLong(0), r.getLong(1))))
      return local(spark, pointers.get.map(r => Row(r.getLong(0), mins.get(r.getLong(0)))), "from_root", "to_root")
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

  /** Driver-side BIGINT rows as a driver-local relation with `cols`. */
  private def local(spark: SparkSession, rows: Array[Row], cols: String*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(cols.map(StructField(_, LongType))))

  /** Member rows for the probe `ids` only — `(id, root, syn)`, root NOT yet
    * merge-resolved. The probe's distinct bucket values (≤ nBuckets longs,
    * driver-collected — the engine's bounded-collect convention) become a
    * static partition filter, so the scan plans only the probed buckets.
    */
  private def lookupStored(spark: SparkSession, dataDir: String, head: IndexLog.Entry, ids: DataFrame): DataFrame = {
    val probeBuckets = ids
      .select(pmod(col("id"), lit(head.counters.buckets.toLong)).as("b"))
      .distinct()
      .collect()
      .map(_.getLong(0))
    membersIn(spark, dataDir, head, probeBuckets.toSeq).join(ids.select(col("id")), Seq("id"))
  }

  /** Apply one arriving batch: `newIds` are the batch's document ids (one
    * member row each — singletons included), `pairs` `(id_a, id_b)` the
    * near-dup pairs this batch introduces (batch↔batch and batch↔corpus;
    * from [[Dedup.minhashLshIncrementalPortable]] + the in-batch operator,
    * or any other dedup family). Every step is batch-sized: endpoint
    * lookups prune member buckets, the contraction graph has one node per
    * TOUCHED cluster, and the batch commits one file group per touched
    * bucket plus its merge pointers as ONE log entry ([[commitBatch]]).
    *
    * `tuning.collectCeiling` splits the tiers: a batch of at most that
    * many endpoints resolves on the driver. The tier probe scans `pairs`,
    * so pass a materialized frame (a checkpoint or a driver-local
    * relation), or the probe re-derives it; [[graft.streaming.ClusterStream]]
    * passes a checkpointed one.
    */
  def applyBatch(
      spark: SparkSession,
      path: String,
      pairs: DataFrame,
      newIds: DataFrame,
      maxIter: Int = 10,
      tuning: Tuning = Tuning()
  ): Unit = applyBatchAt(spark, path, pairs, newIds, maxIter, tuning, tuning)

  /** [[applyBatch]] of a seed: the whole corpus pair set at once, so the
    * union-find takes the seed ceiling ([[Tuning.seedScale]]).
    */
  private[graft] def applySeed(
      spark: SparkSession, path: String, pairs: DataFrame, newIds: DataFrame, tuning: Tuning): Unit =
    applyBatchAt(spark, path, pairs, newIds, 10, tuning, tuning.seedScale)

  /** [[applyBatch]] with the union-find of the contraction at `ccTuning`. */
  private def applyBatchAt(spark: SparkSession, path: String, pairs: DataFrame, newIds: DataFrame, maxIter: Int,
      tuning: Tuning, ccTuning: Tuning): Unit = {
    val (dataDir, head) = IndexState.open(spark, path)

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
    val (endpointHead, closure) = graft.util.Par.both(
      Tier.within(endpoints, tuning.collectCeiling),
      mergeClosure(spark, dataDir, head, tuning))

    if (endpointHead.isDefined) {
      applyBatchFused(spark, dataDir, head, pairs, newIds, maxIter, ccTuning, endpointHead.get, closure)
      return
    }

    // current root per endpoint: stored root → pointer closure; absent
    // (a batch id, or a pair endpoint never ingested) → the id itself.
    // Eagerly checkpointed (batch-sized): the resolved frame feeds the
    // contraction, the merge-pointer predicate AND the foreign-winner
    // predicate — one bucket-pruned member scan per batch instead of three
    // (the round-11 shape re-probed storage for losers and winners).
    val cur = endpoints
      .join(lookupStored(spark, dataDir, head, endpoints)
        .withColumnRenamed("root", "stored"), Seq("id"), "left_outer")
      .join(closure.withColumnRenamed("from_root", "stored"), Seq("stored"), "left_outer")
      .select(
        col("id"),
        col("stored"),
        coalesce(col("to_root"), col("stored"), col("id")).as("cur_root"))
      .localCheckpoint(true)
    try {
      val contracted = pairs
        .join(cur.select(col("id").as("id_a"), col("cur_root").as("ra")), Seq("id_a"))
        .join(cur.select(col("id").as("id_b"), col("cur_root").as("rb")), Seq("id_b"))
        .select(col("ra").as("id_a"), col("rb").as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
        .distinct()

      val labels = Dedup.connectedComponents(contracted, maxIter, ccTuning)

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

      // every contracted node that lost its label AND exists in storage is
      // a cluster root that stored member rows may still resolve to, so it
      // acquires a downward pointer. Membership in `newIds` does NOT make a
      // loser unreferenced: a re-upserted doc that is currently the root of
      // a stored cluster (an UPDATE arriving through the CDC consumers) must
      // still point its old component at the new root, or the component
      // silently splits.
      val seq = head.seq + 1
      val merges = labels
        .filter(col("keep_id") =!= col("id"))
        .join(storedNodes, Seq("id"))
        .select(col("id").as("from_root"), col("keep_id").as("to_root"), lit(seq).as("seq"))

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

      commitBatch(spark, dataDir, head, seq, Some(merges).filterNot(_.isEmpty), newIds, labels, foreignWinners)
    } finally {
      try org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(cur)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** The commit shared by both [[applyBatch]] tiers: the batch's merge
    * pointers (if any) and its member rows — one per new id labeled with
    * its component root (or itself), plus the synthetic foreign-winner rows
    * — written concurrently and committed as ONE log entry at `seq`. A
    * crash before the entry leaves the map as it was, and the replay
    * re-derives the same batch; a replay after the entry re-contracts
    * against already-merged roots (no new pointers) and re-appends member
    * rows that [[assignments]] collapses by min.
    */
  private def commitBatch(
      spark: SparkSession,
      dataDir: String,
      head: IndexLog.Entry,
      seq: Long,
      merges: Option[DataFrame],
      newIds: DataFrame,
      labels: DataFrame,
      foreignWinners: DataFrame
  ): Unit = {
    val members = newIds
      .select(col("id"))
      .join(labels, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("keep_id"), col("id")).as("root"), lit(0).as("syn"))
      .unionByName(foreignWinners)
    IndexLog.mutate(spark, dataDir, head, seq, head.counters,
      membersWrite(members, head.counters.buckets, SaveMode.Append) +:
        merges.map(m => IndexLog.Write(Merges, MergesDir, None, m.coalesce(1))).toSeq)
  }

  /** The bounded-endpoint tier of [[applyBatch]]: semantics identical to the
    * distributed tier (same resolve → contract → cc → commit stages over
    * the same values), with the batch-sized intermediates held as
    * driver-local relations instead of checkpointed frames. `endpointHead`
    * is the collected endpoint id set (≤ the collect ceiling); `closure`
    * the merge-log closure frame.
    */
  private def applyBatchFused(
      spark: SparkSession,
      dataDir: String,
      head: IndexLog.Entry,
      pairs: DataFrame,
      newIds: DataFrame,
      maxIter: Int,
      ccTuning: Tuning,
      endpointHead: Array[Row],
      closure: DataFrame
  ): Unit = {
    // current root per endpoint (the distributed tier's `cur`), via ONE
    // bucket-pruned member scan joined against the driver-local endpoint
    // relation, collected batch-sized. Probe buckets derive from the
    // already-collected ids (pmod == floorMod for positive bucket counts).
    val curRows: Array[Row] = {
      val ids = endpointHead.map(_.getLong(0))
      if (ids.isEmpty || !head.has(Members)) {
        // nothing stored (or no endpoints): every endpoint resolves to itself
        ids.map(i => Row(i, null, i))
      } else {
        val probeBuckets = ids.map(i => java.lang.Math.floorMod(i, head.counters.buckets.toLong)).distinct
        val idsLocal = local(spark, ids.map(i => Row(i)), "id")
        idsLocal
          .join(
            membersIn(spark, dataDir, head, probeBuckets.toSeq).join(idsLocal, Seq("id"))
              .select(col("id"), col("root").as("stored")),
            Seq("id"), "left_outer")
          .join(closure.withColumnRenamed("from_root", "stored"), Seq("stored"), "left_outer")
          .select(
            col("id"),
            col("stored"),
            coalesce(col("to_root"), col("stored"), col("id")).as("cur_root"))
          .collect()
      }
    }
    val curLocal = local(spark, curRows, "id", "stored", "cur_root")
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
    val labelRows: Array[Row] = {
      val labels = Dedup.connectedComponents(contracted, maxIter, ccTuning)
      // the distributed loop returns a localCheckpoint-pinned frame: release
      // its blocks now instead of at driver GC (one leak per stream batch)
      try labels.collect()
      finally {
        try org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(labels)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }

    // losing-and-stored is a driver-side set test, and an empty pointer
    // set writes no file
    val seq = head.seq + 1
    val mergeRows = labelRows.iterator
      .filter(r => r.getLong(1) != r.getLong(0) && storedRoots.contains(r.getLong(0)))
      .map(r => Row(r.getLong(0), r.getLong(1), seq))
      .toArray

    // foreign winners (see the distributed tier): winner ∧ ¬stored is a
    // driver-side test; ¬ingested stays an anti-join against `newIds`
    // (corpus-sized at seeds), folded into the member-write job
    val winnersNotStored = labelRows.iterator
      .filter(r => r.getLong(1) == r.getLong(0) && !storedRoots.contains(r.getLong(0)))
      .map(r => Row(r.getLong(0)))
      .toArray
    val foreignWinners = local(spark, winnersNotStored, "id")
      .join(newIds.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("root"), lit(1).as("syn"))

    commitBatch(
      spark, dataDir, head, seq,
      Option.when(mergeRows.nonEmpty)(local(spark, mergeRows, "from_root", "to_root", "seq")),
      newIds, local(spark, labelRows, "id", "keep_id"), foreignWinners)
  }

  /** All member rows fully resolved and replay-collapsed — `(id, root,
    * syn)`, INCLUDING synthetic winner labels (`syn = 1`: pair endpoints
    * never ingested that [[applyBatch]] materialized so a later demotion
    * can be pointered). `min(syn)` makes a label that was later genuinely
    * ingested real. This is the frame compaction and rebuild must persist
    * from: dropping a still-canonical synthetic root from storage would
    * resurrect the silent-split class the marker exists to prevent.
    */
  private def resolvedMembers(spark: SparkSession, dataDir: String, head: IndexLog.Entry): DataFrame =
    collapse(head.scan(spark, dataDir, Members).select(col("id"), col("root"), col("syn")),
      mergeClosure(spark, dataDir, head, Tuning()))

  /** Member rows `(id, root, syn)` with each root followed through the
    * pointer `closure`, collapsed to one row per id by min: the resolved
    * root is monotonically non-increasing, so min is the freshest, and
    * duplicate rows from at-least-once replays fold away.
    */
  private def collapse(members: DataFrame, closure: DataFrame): DataFrame =
    members
      .join(closure.withColumnRenamed("from_root", "root"), Seq("root"), "left_outer")
      .select(col("id"), coalesce(col("to_root"), col("root")).as("root"), col("syn"))
      .groupBy(col("id"))
      .agg(min(col("root")).as("root"), min(col("syn")).as("syn"))

  /** Every ingested document's fully-resolved cluster root `(id, root)` —
    * the arriving-data equivalent of [[Dedup.connectedComponents]] over the
    * cumulative pair list (plus `(id, id)` singletons).
    *
    * Synthetic winner labels (pair endpoints that were never ingested but
    * won a contraction — [[applyBatch]] materializes them for the no-split
    * contract) are FILTERED here: an aggregate over this surface counts
    * only real documents. They can still appear as `root` VALUES (a cluster
    * label need not be a live doc). Use [[assignmentsLive]] to additionally
    * restrict to a live corpus (dropping DELETEd docs).
    */
  def assignments(spark: SparkSession, path: String): DataFrame = {
    val (dataDir, head) = IndexState.open(spark, path)
    resolvedMembers(spark, dataDir, head)
      .filter(col("syn") === 0)
      .select(col("id"), col("root"))
  }

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
    val (dataDir, head) = IndexState.open(spark, path)
    collapse(lookupStored(spark, dataDir, head, ids), mergeClosure(spark, dataDir, head, Tuning()))
      .filter(col("syn") === 0)
      .select(col("id"), col("root"))
  }

  /** Write `members` (`id, root, syn`) as a fresh generation at `dir` with
    * no merge pointer, and start its log at `seq` — the compaction and
    * rebuild staging write.
    */
  private def writeFresh(spark: SparkSession, dir: String, seq: Long, buckets: Int, members: DataFrame): Unit = {
    val empty = emptyEntry(seq, buckets)
    val added = IndexLog.write(spark, dir, seq, Seq(membersWrite(members, buckets, SaveMode.Overwrite)))
    IndexLog.commit(spark, dir, empty.next(seq, empty.counters, added), predecessor = seq)
  }

  /** Durable path compression: when the merge log reaches `maxMergeRatio`
    * of the member count, rewrite members fully resolved into a staging
    * sibling with a fresh log and promote it
    * ([[IndexState.compactAndSwap]]: next generation, empty-rewrite
    * refusal, age-based GC). The promoted generation has an empty merge
    * log — resolution cost returns to a single bucket-pruned lookup.
    * Returns whether a compaction ran.
    */
  def maybeCompact(
      spark: SparkSession,
      path: String,
      maxMergeRatio: Double = 0.2
  ): Boolean = {
    require(
      maxMergeRatio > 0 && maxMergeRatio <= 1,
      s"maxMergeRatio must be in (0,1], got $maxMergeRatio")
    val (dataDir, head) = IndexState.open(spark, path)
    if (!head.has(Merges)) return false
    val nMerges = head.scan(spark, dataDir, Merges).count()
    val nMembers = head.scan(spark, dataDir, Members).count()
    if (nMembers == 0L || nMerges.toDouble / nMembers < maxMergeRatio) return false
    // resolvedMembers, NOT assignments: synthetic winner rows must survive
    // compaction — a still-canonical synthetic root dropped from storage
    // would be un-pointerable at its later demotion (the silent-split class)
    IndexState.compactAndSwap(spark, path, staging =>
      writeFresh(spark, staging, head.seq, head.counters.buckets, resolvedMembers(spark, dataDir, head)))
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
    * generation is born with an empty merge log; the bucket count is
    * kept. Returns whether the swap happened (an empty rebuild — no ids —
    * is refused, the [[IndexState.compactAndSwap]] empty-rewrite guard).
    *
    * Commits a file-less entry at the next seq first: the refusal memo of a
    * prior empty rewrite must not suppress this one.
    */
  def rebuild(
      spark: SparkSession,
      path: String,
      pairs: DataFrame,
      ids: DataFrame,
      maxIter: Int = 10
  ): Boolean = {
    val (dataDir, head) = IndexState.open(spark, path)
    val seq = head.seq + 1
    IndexLog.mutate(spark, dataDir, head, seq, head.counters, Nil)
    // rebuild is seed-shaped: the whole surviving pair set contracts at
    // once, so it takes the seed-scale driver union-find ceiling
    val labels = Dedup.connectedComponents(
      pairs.select(col("id_a"), col("id_b")).filter(col("id_a") =!= col("id_b")),
      maxIter, Tuning().seedScale)
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
      writeFresh(spark, staging, seq, head.counters.buckets,
        distinctIds
          .join(labels, Seq("id"), "left_outer")
          .select(col("id"), coalesce(col("keep_id"), col("id")).as("root"), lit(0).as("syn"))
          .unionByName(foreignWinners)))
  }
}
