package graft.sinks

import graft.assemble.DocAssembler
import graft.cdc.Lineage
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import java.nio.charset.StandardCharsets

/** Test/standalone sink: a bucketed, versioned parquet materialization of
  * the search index — current docs keyed by `_id` plus the lineage
  * side-table — honoring index/delete ops.
  *
  * Stands in for the reference's ES/OS bulk indexer
  * (`pgsync/search_client.py:100-212`). Scale design: documents and lineage
  * are hash-bucketed by root `_id` into `nBuckets` partitions; a commit
  * rewrites ONLY the buckets containing affected roots and records a
  * manifest mapping bucket → owning version, so per-batch IO is
  * O(affected buckets), not O(index) — the property that keeps a 100 TB
  * index maintainable from 5 000-change micro-batches. The CURRENT pointer
  * flips atomically after the new buckets are written, preserving the
  * idempotent-upsert-by-`_id` guarantee the reference relies on
  * (`sync.py:1947-1983`).
  *
  * The manifest is also the index's FILE index (the Delta Lake log's role):
  * each write records every bucket's parquet file and length, and every
  * read scans exactly those files through a manifest-backed
  * [[org.apache.spark.sql.execution.datasources.FileIndex]] — no directory
  * listing, so no Spark listing job per read however many buckets it
  * spans. Each bucket holds exactly one file per version.
  */
final class MaterializedIndex(spark: SparkSession, dir: String, nBuckets: Int = 64) {

  // All metadata IO goes through the Hadoop FileSystem API, so the index
  // works on HDFS/S3A/local alike (a production deployment would likely use
  // a table format here; the manifest design is the same idea).
  private val fs: FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val currentPtr = new Path(dir, "CURRENT")
  private val checkpointPtr = new Path(dir, "CHECKPOINT")

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

  private def bucketOf(id: org.apache.spark.sql.Column) =
    pmod(xxhash64(id), lit(nBuckets)).cast("int")

  /** Batch-mode transaction checkpoint (the reference's checkpoint file,
    * `pgsync/sync.py:1581-1656,1890-1893`). Streaming runs use the
    * Structured Streaming checkpoint instead; batch `applyChanges` callers
    * use this to skip already-applied txids.
    *
    * Stored as a CONSERVATIVE low-watermark (every txid ≤ it is known
    * applied — the reference's `min(xmin) - 1` semantics) plus the exact set
    * of applied txids above it, so exact replays are deduplicated without
    * ever dropping a late event whose txid sorts below an earlier batch's
    * max. The set stays small: the watermark advances with each batch's min,
    * pruning everything below, so it holds ~one batch's distinct txids plus
    * the feed's disorder window. Replays are harmless either way —
    * recompute-and-diff is idempotent (C3) — so the applied-set is a work
    * filter, not a correctness gate; the watermark IS the correctness gate
    * against silent late-event drops.
    *
    * File format: line 1 = watermark; optional line 2 = CSV of applied
    * txids above it (absent/blank = none; old single-line files load as a
    * bare watermark).
    */
  def checkpoint: Option[Long] = checkpointState.map(_.watermark)

  def checkpointState: Option[MaterializedIndex.TxCheckpoint] =
    if (!fs.exists(checkpointPtr)) None
    else {
      val lines = readText(checkpointPtr).split("\n", -1)
      val applied =
        if (lines.length < 2 || lines(1).trim.isEmpty) Set.empty[Long]
        else lines(1).trim.split(",").map(_.trim.toLong).toSet
      Some(MaterializedIndex.TxCheckpoint(lines(0).trim.toLong, applied))
    }

  def saveCheckpoint(txid: Long): Unit = saveCheckpoint(txid, Set.empty)

  def saveCheckpoint(watermark: Long, applied: Set[Long]): Unit = {
    val tail = if (applied.isEmpty) "" else "\n" + applied.toSeq.sorted.mkString(",")
    writeText(checkpointPtr, watermark.toString + tail)
  }

  def currentVersion: Long =
    if (fs.exists(currentPtr)) readText(currentPtr).trim.toLong else -1L

  def exists: Boolean = currentVersion >= 0

  // ---- manifest: bucket → version that owns its current data, and its file --

  private val root = fs.makeQualified(new Path(dir))

  private def manifestPath(v: Long) = new Path(root, s"v_$v/manifest")

  private def kindDir(kind: String, v: Long) = new Path(root, s"v_$v/$kind")

  private def bucketDir(kind: String, b: Int, v: Long) = new Path(kindDir(kind, v), s"bucket=$b")

  /** One data file of bucket `bucket`, written by version `version`. */
  private final case class BucketFile(kind: String, bucket: Int, version: Long, length: Long, name: String) {
    def path: Path = new Path(bucketDir(kind, bucket, version), name)
  }

  /** Lines `kind,bucket,version,length,file`. A manifest from before the
    * file field has no file list to read from; such an index is rebuilt by
    * a snapshot.
    */
  private def readManifest(v: Long): Seq[BucketFile] =
    if (!fs.exists(manifestPath(v))) Nil
    else
      readText(manifestPath(v)).split("\n").filter(_.nonEmpty).toSeq.map { line =>
        line.split(",", 5) match {
          case Array(kind, b, ver, len, name) => BucketFile(kind, b.toInt, ver.toLong, len.toLong, name)
          case _ =>
            throw new IllegalStateException(
              s"$dir: manifest of v_$v has no file list ('$line'); rebuild the index with a snapshot")
        }
      }

  private def writeManifest(v: Long, files: Seq[BucketFile]): Unit =
    writeText(
      manifestPath(v),
      files.sortBy(f => (f.kind, f.bucket, f.name))
        .map(f => s"${f.kind},${f.bucket},${f.version},${f.length},${f.name}")
        .mkString("\n"))

  /** The data files a write left under `v_<v>/<kind>`: one recursive
    * listing of the just-written directory, keeping `bucket=<b>/<file>`
    * entries and skipping Spark's `_SUCCESS`, `_temporary` and `.crc` ones.
    */
  private def listWritten(kind: String, v: Long): Seq[BucketFile] = {
    val out = kindDir(kind, v)
    val files = Seq.newBuilder[BucketFile]
    if (fs.exists(out)) {
      val prefix = out.toUri.getPath + "/"
      val it = fs.listFiles(out, true)
      while (it.hasNext) {
        val st = it.next()
        st.getPath.toUri.getPath.stripPrefix(prefix).split("/") match {
          case Array(b, name) if b.startsWith("bucket=") && !name.startsWith("_") && !name.startsWith(".") =>
            files += BucketFile(kind, b.stripPrefix("bucket=").toInt, v, st.getLen, name)
          case _ =>
        }
      }
    }
    files.result()
  }

  /** Scan exactly `files` (see [[MaterializedIndex.ManifestFileIndex]]). */
  private def scan(schema: StructType, files: Seq[BucketFile]): DataFrame =
    spark.baseRelationToDataFrame(
      HadoopFsRelation(
        MaterializedIndex.ManifestFileIndex(files.map(f => new FileStatus(f.length, false, 0, 0L, 0L, f.path))),
        partitionSchema = new StructType(),
        dataSchema = schema,
        bucketSpec = None,
        fileFormat = new ParquetFileFormat,
        options = Map.empty
      )(spark))

  private def read(kind: String, schema: StructType, version: Long = -1L): DataFrame =
    scan(schema, readManifest(if (version >= 0) version else currentVersion).filter(_.kind == kind))

  def docs: DataFrame = read("docs", docsSchema)

  def lineage: DataFrame = read("lineage", Lineage.schema)

  /** Time travel: the document set as of an earlier (un-vacuumed) version. */
  def docsAt(version: Long): DataFrame = read("docs", docsSchema, version)

  /** Write `df` partitioned by bucket under version `v`; returns the files
    * written (empty buckets produce none).
    */
  private def writeBuckets(kind: String, v: Long, df: DataFrame, idCol: String): Seq[BucketFile] = {
    writeBucketed(df, idCol, kindDir(kind, v), SaveMode.Overwrite, nBuckets)
    listWritten(kind, v)
  }

  /** Write `df` partitioned by its bucket hash of `idCol` into `out`, with
    * `buckets` = the number of buckets the rows can fall into.
    *
    * The shuffle is ON the bucket id before partitionBy: otherwise every
    * write task emits a file into every bucket directory (tasks × nBuckets
    * small files per version — the classic small-files failure). Each
    * bucket lands in exactly one task, so it still gets exactly one file,
    * while the task count is min(buckets, spark.sql.shuffle.partitions):
    * sized to the cluster rather than to the bucket count, whose extra
    * tasks at batch scale are per-task overhead with almost no data.
    */
  private def writeBucketed(df: DataFrame, idCol: String, out: Path, mode: SaveMode, buckets: Int): Unit = {
    val tasks = math.max(1, math.min(buckets, spark.conf.get("spark.sql.shuffle.partitions").toInt))
    df.withColumn("bucket", bucketOf(col(idCol)))
      .repartition(tasks, col("bucket"))
      .write.mode(mode).partitionBy("bucket").parquet(out.toString)
  }

  /** Bootstrap from a full snapshot of structured docs (assemble() output:
    * `_id`, fields…, `_meta`).
    *
    * WRITE-ONCE SHAPE (round-16, guide §5/§6): the two consumers (docs
    * write, lineage extraction) used to share a corpus-sized
    * MEMORY_AND_DISK persist of the wide nested-struct frame — whose
    * columnar-cache materialization was the single biggest cost of the
    * snapshot (4.5 s of a 9 s q_lifecycle at sf0.1, `ProfileSnapshot`), and
    * at 100 TB a corpus-sized executor-memory/scratch-disk pin. Now the doc
    * write streams straight from the assembly plan (one pipelined pass:
    * joins → `_meta` squash → to_json → bucket shuffle → parquet), and the
    * lineage table derives from the JUST-WRITTEN doc buckets: `_meta` is a
    * `map<string,map<string,array<string>>>` with all-string leaves, so
    * parsing it back out of the doc JSON is lossless and the lineage rows
    * are identical to the struct-side derivation (LineageSpec pins the
    * equivalence). The written index IS the materialization — no cache, no
    * second assembly pass, and the lineage pass reads the (much smaller,
    * columnar) doc buckets instead of re-running the multi-join assembly.
    */
  def initialize(structuredDocs: DataFrame): Unit = {
    val payload = structuredDocs.columns.filterNot(_ == DocAssembler.IdColumn).map(col).toIndexedSeq
    // the v0 bucket files additionally carry `_meta` as its OWN serialized
    // column: every doc read path projects the explicit (`_id`, doc) schema
    // and never sees it, while the lineage pass below reads and parses ONLY
    // the small meta strings — the corpus-sized doc JSON column is
    // columnar-pruned away (guide §6). Later versions' bucket files (commit
    // rewrites) do not carry the column; nothing reads it after this pass.
    val flat = structuredDocs.select(
      col(DocAssembler.IdColumn),
      to_json(struct(payload: _*)).as("doc"),
      to_json(col(DocAssembler.MetaColumn)).as(MetaSidecarColumn)
    )
    val d = writeBuckets("docs", 0L, flat, DocAssembler.IdColumn)
    val metaType = structuredDocs.schema(DocAssembler.MetaColumn).dataType
    val l =
      if (d.isEmpty) Nil
      else {
        val written = scan(
          StructType(Seq(
            StructField(DocAssembler.IdColumn, StringType),
            StructField(MetaSidecarColumn, StringType))),
          d)
        writeBuckets(
          "lineage", 0L,
          Lineage.fromMetaJson(written, MetaSidecarColumn, metaType), "root_id")
      }
    writeManifest(0L, d ++ l)
    flipCurrent(0L)
  }

  /** Serialized-`_meta` sidecar column of the v0 doc bucket files (see
    * [[initialize]]); invisible to every explicit-schema doc read.
    */
  private val MetaSidecarColumn = "_graft_meta"

  // ---- resumable snapshot (the ctid-resume analogue) -----------------------
  //
  // The reference's parallel snapshot records completed ctid pages in a
  // progress file and resumes after a crash (`bin/parallel_sync:66-97`);
  // idempotent upserts make a naive re-run CORRECT here, but at 100 TB
  // re-running a half-finished snapshot from zero is an operational cliff.
  // Spark-native form: the document space is chunked BY THE INDEX'S OWN
  // BUCKET HASH (chunk c owns buckets `b % nChunks == c`), so chunks write
  // disjoint bucket directories under v_0 — one write, no finalize rewrite,
  // and hash chunking keeps chunk sizes uniform under any root-key skew
  // (which physical ctid ranges do not guarantee). A completed chunk is a
  // line in SNAPSHOT_PROGRESS; a crashed chunk's bucket dirs are deleted
  // and rewritten on resume (the write is deterministic); the manifest and
  // CURRENT pointer appear only at [[finalizeSnapshot]], so the index is
  // never visible half-built. Work lost to a crash is bounded by one chunk
  // (1/nChunks of the snapshot).
  //
  // Cost shape at scale: each chunk re-plans the assembly with the chunk
  // predicate pushed into the ROOT scan; the expensive stages (joins,
  // aggregation shuffles, JSON build, writes) process only the chunk's
  // roots, so TOTAL shuffle/write work stays ~1× the unchunked snapshot —
  // only the raw table scans repeat per chunk (scan being the cheapest
  // per-byte stage, and prunable when sources are bucketed on the keys).

  private val snapshotProgressPtr = new Path(dir, "SNAPSHOT_PROGRESS")

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
    if (fs.exists(snapshotProgressPtr)) {
      val lines = readText(snapshotProgressPtr).split("\n", -1)
      val stored = lines(0).trim.toInt
      require(
        stored == nChunks,
        s"resumable snapshot in progress with nChunks=$stored; resume must use the same value (got $nChunks)"
      )
      if (lines.length < 2 || lines(1).trim.isEmpty) Set.empty
      else lines(1).trim.split(",").map(_.trim.toInt).toSet
    } else {
      // fresh start: clear any stale v_0 left by an aborted prior init so
      // finalize's directory listing sees only this snapshot's buckets
      fs.delete(new Path(s"$dir/v_0"), true)
      writeText(snapshotProgressPtr, s"$nChunks\n")
      Set.empty
    }
  }

  /** Write one chunk's docs+lineage buckets under v_0 and record it
    * complete. Deletes the chunk's own bucket dirs first, so re-running a
    * crashed chunk replaces its partial files instead of duplicating rows.
    */
  def initializeChunk(chunk: Int, nChunks: Int, structuredDocs: DataFrame): Unit = {
    val done = beginResumableSnapshot(nChunks)
    if (done.contains(chunk)) return
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
      def writeChunk(kind: String, df: DataFrame, idCol: String): Unit = {
        val chunkBuckets = (0 until nBuckets).filter(_ % nChunks == chunk)
        chunkBuckets.foreach(b => fs.delete(bucketDir(kind, b, 0L), true))
        writeBucketed(df, idCol, kindDir(kind, 0L), SaveMode.Append, chunkBuckets.size)
      }
      inParallel(
        writeChunk("docs", flat, DocAssembler.IdColumn),
        writeChunk("lineage", Lineage.fromDocs(cached), "root_id")
      )
      writeText(snapshotProgressPtr, s"$nChunks\n${(done + chunk).toSeq.sorted.mkString(",")}")
    } finally cached.unpersist(false)
  }

  /** Publish a completed resumable snapshot: manifest every bucket file
    * written under v_0, flip CURRENT, drop the progress file. Callers run
    * this once after every chunk reports complete.
    */
  def finalizeSnapshot(): Unit = {
    writeManifest(0L, listWritten("docs", 0L) ++ listWritten("lineage", 0L))
    flipCurrent(0L)
    fs.delete(snapshotProgressPtr, false)
  }

  /** Chunks still to run for an in-progress resumable snapshot (None when
    * no resumable snapshot is in flight).
    */
  def pendingSnapshotChunks: Option[Seq[Int]] =
    if (!fs.exists(snapshotProgressPtr)) None
    else {
      val lines = readText(snapshotProgressPtr).split("\n", -1)
      val n = lines(0).trim.toInt
      val done =
        if (lines.length < 2 || lines(1).trim.isEmpty) Set.empty[Int]
        else lines(1).trim.split(",").map(_.trim.toInt).toSet
      Some((0 until n).filterNot(done))
    }

  /** Apply one batch: delete + upsert by `_id`, rewriting ONLY the buckets
    * that contain affected roots. `newDocs` = (`_id`, doc JSON) for the
    * re-assembled roots; `newLineage` = lineage rows for those roots only.
    */
  def commit(affected: DataFrame, newDocs: DataFrame, newLineage: DataFrame): Unit = {
    val v = currentVersion
    val next = v + 1
    val affectedBuckets = affected
      .select(bucketOf(col(DocAssembler.IdColumn)).as("b")).distinct()
      .collect().map(_.getInt(0)).toSet
    // the manifest is the pruning index: only the affected buckets' files
    // are read, so per-batch reads are O(affected buckets) like the writes
    val (rewritten, inherited) = readManifest(v).partition(f => affectedBuckets.contains(f.bucket))
    def affectedFiles(kind: String) = rewritten.filter(_.kind == kind)

    val keptDocs = scan(docsSchema, affectedFiles("docs"))
      .join(broadcast(affected.select(col(DocAssembler.IdColumn))), Seq(DocAssembler.IdColumn), "left_anti")
    val keptLineage = scan(Lineage.schema, affectedFiles("lineage"))
      .join(
        broadcast(affected.select(col(DocAssembler.IdColumn).as("root_id"))),
        Seq("root_id"),
        "left_anti"
      )
    val (writtenDocs, writtenLineage) = inParallel(
      writeBuckets("docs", next, keptDocs.unionByName(newDocs), DocAssembler.IdColumn),
      writeBuckets("lineage", next, keptLineage.unionByName(newLineage), "root_id")
    )

    // new manifest: untouched buckets inherit their files, affected buckets
    // point at the new version's (or drop out entirely if now empty)
    writeManifest(next, inherited ++ writtenDocs ++ writtenLineage)
    flipCurrent(next)
  }

  private def flipCurrent(v: Long): Unit = writeText(currentPtr, v.toString)

  /** Run the docs and lineage writes as concurrent Spark jobs
    * ([[graft.util.Par]]: dedicated pool, both branches settle before a
    * failure rethrows): both consume the same upstream (a persisted frame
    * or the affected-bucket reads), so overlapping them hides one write's
    * IO behind the other's compute. Spark's block manager serializes
    * concurrent computation of a cached partition, so the shared input is
    * still computed once.
    */
  private def inParallel[A, B](a: => A, b: => B): (A, B) = graft.util.Par.both(a, b)

  /** Drop version directories that are older than the newest `keepLast` AND
    * not referenced by ANY kept version's manifest — bucket inheritance (and
    * `docsAt` time travel over the kept versions) keeps old versions alive
    * as long as a retained manifest points into them.
    */
  def vacuum(keepLast: Int = 2): Unit = {
    val cur = currentVersion
    if (cur < 0 || !fs.exists(root)) return
    val keptVersions = (math.max(0L, cur - keepLast + 1) to cur)
    val referenced = keptVersions.flatMap(v => readManifest(v).map(_.version)).toSet ++ keptVersions
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("v_")) {
        val v = name.stripPrefix("v_").toLong
        if (v <= cur - keepLast && !referenced.contains(v))
          fs.delete(st.getPath, true)
      }
    }
  }
}

object MaterializedIndex {
  /** Conservative batch checkpoint: all txids ≤ `watermark` are applied;
    * `applied` are the txids above the watermark already applied (bounded by
    * batch size + feed disorder — see [[MaterializedIndex.checkpointState]]).
    */
  final case class TxCheckpoint(watermark: Long, applied: Set[Long])

  /** A [[FileIndex]] over a fixed file list taken from the manifest:
    * listing is a constant, so constructing a read launches no Spark job,
    * and a case class so two reads of the same files compare equal (plan
    * reuse, cache lookup).
    */
  private final case class ManifestFileIndex(files: Seq[FileStatus]) extends FileIndex {
    override def rootPaths: Seq[Path] = files.map(_.getPath.getParent).distinct
    override def listFiles(partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.toArray))
    override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: StructType = new StructType()
  }
}
