package graft.sinks

import graft.assemble.DocAssembler
import graft.cdc.Lineage
import graft.sources.IndexLog
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import org.apache.hadoop.fs.{FileSystem, Path}

import java.nio.charset.StandardCharsets

/** Test/standalone sink: a bucketed parquet materialization of the search
  * index — current docs keyed by `_id` plus the lineage side-table —
  * honoring index/delete ops.
  *
  * Stands in for the reference's ES/OS bulk indexer
  * (`pgsync/search_client.py:100-212`). Scale design: documents and lineage
  * are hash-bucketed by root `_id` into `nBuckets` partitions; a commit
  * rewrites ONLY the buckets containing affected roots, so per-batch IO is
  * O(affected buckets), not O(index) — the property that keeps a 100 TB
  * index maintainable from 5 000-change micro-batches.
  *
  * The index commits through its [[graft.sources.IndexLog]], like every
  * other persisted index: `docs` and `lineage` are two log kinds
  * partitioned by `bucket`, and the entry at seq N writes its files under
  * `v_N/docs` and `v_N/lineage`. Each entry lists every live bucket file —
  * untouched buckets keep their older files — so a commit's rewritten
  * buckets, the batch's txid checkpoint ([[checkpointState]]) and the
  * inherited buckets become visible in ONE create, preserving the
  * idempotent-upsert-by-`_id` guarantee the reference relies on
  * (`sync.py:1947-1983`) without a separate checkpoint write. Every read
  * scans exactly the head's files through a
  * [[graft.sources.ManifestFileIndex]] — no directory listing, so no Spark
  * listing job per read however many buckets it spans. Each bucket holds
  * exactly one file per version.
  */
final class MaterializedIndex(spark: SparkSession, dir: String, nBuckets: Int = 64) {

  // All metadata IO goes through the Hadoop FileSystem API, so the index
  // works on HDFS/S3A/local alike.
  private val fs: FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val root = fs.makeQualified(new Path(dir))

  private def readText(p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
    finally in.close()
  }

  private def writeText(p: Path, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private val docsSchema = StructType(
    Seq(StructField(DocAssembler.IdColumn, StringType), StructField("doc", StringType))
  )

  private val counters = IndexLog.Counters(0L, 0L, nBuckets)

  private def bucketOf(id: org.apache.spark.sql.Column) =
    pmod(xxhash64(id), lit(nBuckets)).cast("int")

  /** The log head, None for a never-built directory. An index of the
    * earlier layout (a `CURRENT` pointer and no log) is refused.
    */
  private def headOption: Option[IndexLog.Entry] = {
    val h = IndexLog.latest(spark, dir)
    if (h.isEmpty && fs.exists(new Path(root, "CURRENT")))
      throw new IllegalStateException(
        s"$dir was written by an older doc index layout (CURRENT, v_N/manifest); rebuild the index with a snapshot")
    h
  }

  private def head: IndexLog.Entry = headOption.getOrElse(IndexLog.head(spark, dir))

  /** The seq a fresh build commits at: beside the live index, never over it. */
  private def nextSeq: Long = IndexLog.latest(spark, dir).fold(0L)(_.seq + 1)

  /** Batch-mode transaction checkpoint ([[graft.sources.IndexLog.Checkpoint]]),
    * committed with the batch it covers. Streaming runs use the Structured
    * Streaming checkpoint instead; batch `applyChanges` callers use this to
    * skip already-applied txids.
    */
  def checkpoint: Option[Long] = checkpointState.map(_.watermark)

  def checkpointState: Option[IndexLog.Checkpoint] = headOption.flatMap(_.checkpoint)

  /** Record a checkpoint without a batch: one entry that adds no files, so
    * [[currentVersion]] stays.
    */
  def saveCheckpoint(watermark: Long, applied: Set[Long]): Unit = {
    val h = head
    IndexLog.commit(spark, dir,
      h.copy(seq = h.seq + 1, checkpoint = Some(IndexLog.Checkpoint(watermark, applied))), h.seq)
  }

  /** The newest entry that wrote files (`v_<currentVersion>/` holds the
    * latest commit's buckets); -1 for a never-built directory.
    */
  def currentVersion: Long = headOption.fold(-1L)(h => h.files.map(_.seq).maxOption.getOrElse(h.seq))

  def exists: Boolean = currentVersion >= 0

  private def read(kind: String, schema: StructType): DataFrame =
    head.scan(spark, dir, kind).select(schema.fieldNames.toIndexedSeq.map(col): _*)

  def docs: DataFrame = read("docs", docsSchema)

  def lineage: DataFrame = read("lineage", Lineage.schema)

  /** The log write of `df` partitioned by its bucket hash of `idCol` into
    * `v_<seq>/<kind>`, `buckets` = the number of buckets the rows can fall
    * into. The shuffle on the bucket id gives each bucket exactly one file
    * (not one per write task), over min(buckets, shuffle partitions) tasks.
    */
  private def bucketWrite(kind: String, df: DataFrame, idCol: String, mode: SaveMode, buckets: Int): IndexLog.Write = {
    val tasks = math.max(1, math.min(buckets, spark.conf.get("spark.sql.shuffle.partitions").toInt))
    IndexLog.Write(kind, s"v_${IndexLog.SeqDir}/$kind", Some("bucket"),
      df.withColumn("bucket", bucketOf(col(idCol))).repartition(tasks, col("bucket")), mode)
  }

  /** Bootstrap from a full snapshot of structured docs (assemble() output:
    * `_id`, fields…, `_meta`). The build writes beside the live index, at
    * the next seq, and commits a fresh entry that inherits nothing — a
    * crash before that commit leaves the live index as it was.
    *
    * Write-once shape: the doc write streams straight from the assembly
    * plan (joins → `_meta` squash → to_json → bucket shuffle → parquet), and
    * the lineage table derives from the just-written doc buckets. `_meta`
    * has all-string leaves, so parsing it back out is lossless (LineageSpec
    * pins the equivalence): no corpus-sized cache and no second assembly.
    */
  def initialize(structuredDocs: DataFrame): Unit = {
    val seq = nextSeq
    val payload = structuredDocs.columns.filterNot(_ == DocAssembler.IdColumn).map(col).toIndexedSeq
    // the snapshot's bucket files additionally carry `_meta` as its OWN
    // serialized column: every doc read path projects the explicit (`_id`,
    // doc) schema and never sees it, while the lineage pass below reads and
    // parses ONLY the small meta strings — the corpus-sized doc JSON column
    // is columnar-pruned away (guide §6). Commit rewrites do not carry the
    // column; nothing reads it after this pass.
    val flat = structuredDocs.select(
      col(DocAssembler.IdColumn),
      to_json(struct(payload: _*)).as("doc"),
      to_json(col(DocAssembler.MetaColumn)).as(MetaSidecarColumn)
    )
    val docs = IndexLog.write(spark, dir, seq,
      Seq(bucketWrite("docs", flat, DocAssembler.IdColumn, SaveMode.Overwrite, nBuckets)))
    val written = IndexLog.Entry.fresh(seq, counters, docs).scan(spark, dir, "docs")
      .select(col(DocAssembler.IdColumn), col(MetaSidecarColumn))
    val metaType = structuredDocs.schema(DocAssembler.MetaColumn).dataType
    val lineage = IndexLog.write(spark, dir, seq, Seq(bucketWrite(
      "lineage", Lineage.fromMetaJson(written, MetaSidecarColumn, metaType), "root_id", SaveMode.Overwrite, nBuckets)))
    commitFresh(seq, IndexLog.Added(docs.shapes ++ lineage.shapes, docs.files ++ lineage.files))
  }

  /** Commit a build at `seq` as a fresh entry; the live head stays its
    * predecessor, so a reader that opened it keeps its files.
    */
  private def commitFresh(seq: Long, added: IndexLog.Added): Unit =
    IndexLog.commit(spark, dir, IndexLog.Entry.fresh(seq, counters, added),
      IndexLog.latest(spark, dir).fold(seq)(_.seq))

  /** Serialized-`_meta` sidecar column of a snapshot's doc bucket files
    * (see [[initialize]]); invisible to every explicit-schema doc read.
    */
  private val MetaSidecarColumn = "_graft_meta"

  // ---- resumable snapshot (the ctid-resume analogue) -----------------------
  //
  // The reference's parallel snapshot records completed ctid pages and
  // resumes after a crash (`bin/parallel_sync:66-97`). Here the document
  // space is chunked BY THE INDEX'S OWN BUCKET HASH (chunk c owns buckets
  // `b % nChunks == c`), so chunks write disjoint bucket directories under
  // `v_<seq>`, the seq the snapshot commits at, and chunk sizes stay uniform
  // under root-key skew. A completed chunk is a line in SNAPSHOT_PROGRESS; a
  // crashed chunk's bucket dirs are rewritten on resume; the log entry
  // appears only at [[finalizeSnapshot]], so a live index stays readable
  // throughout and a crash loses at most one chunk. Each chunk pushes its
  // predicate into the ROOT scan, so total shuffle/write work stays ~1× the
  // unchunked snapshot; only the raw table scans repeat per chunk.

  private val snapshotProgressPtr = new Path(root, "SNAPSHOT_PROGRESS")

  /** The in-flight resumable snapshot: (nChunks, the seq it commits at,
    * completed chunks). File format: `<nChunks>,<seq>` then a CSV line of
    * completed chunks.
    */
  private def progress: Option[(Int, Long, Set[Int])] =
    if (!fs.exists(snapshotProgressPtr)) None
    else {
      val lines = readText(snapshotProgressPtr).split("\n", -1)
      val Array(n, seq) = lines(0).trim.split(",")
      val done =
        if (lines.length < 2 || lines(1).trim.isEmpty) Set.empty[Int]
        else lines(1).trim.split(",").map(_.trim.toInt).toSet
      Some((n.toInt, seq.toLong, done))
    }

  private def writeProgress(nChunks: Int, seq: Long, done: Set[Int]): Unit =
    writeText(snapshotProgressPtr, s"$nChunks,$seq\n${done.toSeq.sorted.mkString(",")}")

  /** Bucket-aligned chunk membership for a root-id expression — the ONE
    * predicate both the root-scan restriction and the chunk write derive
    * from, so a chunk's rows land exactly in the chunk's bucket dirs.
    */
  def chunkPredicate(idExpr: org.apache.spark.sql.Column, chunk: Int, nChunks: Int): org.apache.spark.sql.Column =
    pmod(bucketOf(idExpr), lit(nChunks)) === lit(chunk)

  /** Begin (or re-join) a resumable snapshot: creates SNAPSHOT_PROGRESS on
    * first call, validates the chunk count on resume (a changed nChunks
    * would re-partition the chunk↔bucket map and corrupt the write set),
    * and returns the chunks already completed. Idempotent.
    */
  def beginResumableSnapshot(nChunks: Int): Set[Int] = {
    require(nChunks >= 1 && nChunks <= nBuckets, s"nChunks must be in [1, $nBuckets], got $nChunks")
    progress match {
      case Some((stored, _, done)) =>
        require(
          stored == nChunks,
          s"resumable snapshot in progress with nChunks=$stored; resume must use the same value (got $nChunks)"
        )
        done
      case None =>
        // fresh start: clear a stale `v_<seq>` a crashed write left (no
        // entry lists it), so finalize's listing sees only this snapshot
        val seq = nextSeq
        fs.delete(new Path(root, s"v_$seq"), true)
        writeProgress(nChunks, seq, Set.empty)
        Set.empty
    }
  }

  /** Write one chunk's docs+lineage buckets under the snapshot's `v_<seq>`
    * and record it complete. Deletes the chunk's own bucket dirs first, so
    * re-running a crashed chunk replaces its partial files instead of
    * duplicating rows.
    */
  def initializeChunk(chunk: Int, nChunks: Int, structuredDocs: DataFrame): Unit = {
    val done = beginResumableSnapshot(nChunks)
    if (done.contains(chunk)) return
    val seq = progress.get._2
    val cached = structuredDocs
      // defense in depth: the write set must be exactly the chunk's buckets
      // even if the caller's root-scan restriction drifts from the predicate
      .filter(chunkPredicate(col(DocAssembler.IdColumn), chunk, nChunks))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val payload = cached.columns.filterNot(_ == DocAssembler.IdColumn).map(col).toIndexedSeq
      val flat = cached.select(
        col(DocAssembler.IdColumn),
        to_json(struct(payload: _*)).as("doc")
      )
      val chunkBuckets = (0 until nBuckets).filter(_ % nChunks == chunk)
      for (kind <- Seq("docs", "lineage"); b <- chunkBuckets)
        fs.delete(new Path(root, s"v_$seq/$kind/bucket=$b"), true)
      // both writes consume the persisted chunk, so overlapping them hides
      // one write's IO behind the other's compute
      IndexLog.write(spark, dir, seq, Seq(
        bucketWrite("docs", flat, DocAssembler.IdColumn, SaveMode.Append, chunkBuckets.size),
        bucketWrite("lineage", Lineage.fromDocs(cached), "root_id", SaveMode.Append, chunkBuckets.size)))
      writeProgress(nChunks, seq, done + chunk)
    } finally cached.unpersist(false)
  }

  /** Publish a completed resumable snapshot: commit every bucket file
    * written under its `v_<seq>` as one fresh entry, then drop the progress
    * file. Callers run this once after every chunk reports complete.
    */
  def finalizeSnapshot(): Unit = {
    val (_, seq, _) = progress.getOrElse(throw new IllegalStateException(s"$dir: no resumable snapshot in progress"))
    def shape(kind: String, schema: StructType) =
      kind -> IndexLog.Shape(s"v_${IndexLog.SeqDir}/$kind", Some("bucket"), schema)
    commitFresh(seq, IndexLog.listAll(spark, dir, seq, Map(shape("docs", docsSchema), shape("lineage", Lineage.schema))))
    fs.delete(snapshotProgressPtr, false)
  }

  /** Chunks still to run for an in-progress resumable snapshot (None when
    * no resumable snapshot is in flight).
    */
  def pendingSnapshotChunks: Option[Seq[Int]] =
    progress.map { case (n, _, done) => (0 until n).filterNot(done) }

  /** Apply one batch: delete + upsert by `_id`, rewriting ONLY the buckets
    * that contain affected roots. `newDocs` = (`_id`, doc JSON) for the
    * re-assembled roots; `newLineage` = lineage rows for those roots only.
    * `checkpoint`, when set, is the batch's txid checkpoint: it commits in
    * the same entry as the rewritten buckets, so a crash leaves both docs
    * and checkpoint at their pre-batch state.
    */
  def commit(
      affected: DataFrame,
      newDocs: DataFrame,
      newLineage: DataFrame,
      checkpoint: Option[IndexLog.Checkpoint] = None
  ): Unit = {
    val h = head
    val seq = h.seq + 1
    val affectedBuckets = affected
      .select(bucketOf(col(DocAssembler.IdColumn)).as("b")).distinct()
      .collect().map(_.getInt(0).toLong).toSet
    // the log is the pruning index: only the affected buckets' files are
    // read, so per-batch reads are O(affected buckets) like the writes
    val (rewritten, inherited) = h.files.partition(f => affectedBuckets.contains(f.bucket))
    val old = h.copy(files = rewritten)
    val keptDocs = old.scan(spark, dir, "docs").select(docsSchema.fieldNames.toIndexedSeq.map(col): _*)
      .join(broadcast(affected.select(col(DocAssembler.IdColumn))), Seq(DocAssembler.IdColumn), "left_anti")
    val keptLineage = old.scan(spark, dir, "lineage").select(Lineage.schema.fieldNames.toIndexedSeq.map(col): _*)
      .join(
        broadcast(affected.select(col(DocAssembler.IdColumn).as("root_id"))),
        Seq("root_id"),
        "left_anti"
      )
    // docs and lineage write concurrently; untouched buckets keep their
    // files, affected buckets point at this seq's (or drop out if now empty)
    val added = IndexLog.write(spark, dir, seq, Seq(
      bucketWrite("docs", keptDocs.unionByName(newDocs), DocAssembler.IdColumn, SaveMode.Overwrite, nBuckets),
      bucketWrite("lineage", keptLineage.unionByName(newLineage), "root_id", SaveMode.Overwrite, nBuckets)))
    IndexLog.commit(spark, dir,
      IndexLog.Entry(seq, h.counters, added.shapes ++ h.shapes, inherited ++ added.files, checkpoint.orElse(h.checkpoint)),
      h.seq)
  }

  /** Delete every `v_N` directory that neither the head nor its
    * predecessor lists a file in. Directories past the head are left
    * alone: they belong to a write in flight (a resumable snapshot's
    * chunks), and a crashed commit's are overwritten by the next one.
    */
  def vacuum(): Unit = {
    val entries = IndexLog.entries(spark, dir)
    if (entries.isEmpty) return
    val headSeq = entries.map(_.seq).max
    val referenced = entries.flatMap(_.files.map(_.seq)).toSet
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("v_") && name.stripPrefix("v_").toLongOption.exists(v => v <= headSeq && !referenced(v)))
        fs.delete(st.getPath, true)
    }
  }
}
