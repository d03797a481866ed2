package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import java.nio.charset.StandardCharsets

/** The commit log of a persisted index (the doc index
  * [[graft.sinks.MaterializedIndex]], BM25 postings, LSH buckets, IVF-PQ
  * cells, [[graft.dedup.ClusterMap]] members and merge pointers,
  * [[graft.dedup.SignatureIndex]] band keys): `<dataDir>/_graft_log/<seq>`,
  * one entry per mutation.
  *
  * This is the exactly-once file sink of *Structured Streaming* (SIGMOD
  * 2018; Spark's `FileStreamSinkLog` + `ManifestFileCommitProtocol`)
  * applied to an index: a mutation writes its data files in any order —
  * concurrently — and then commits them with ONE file create, the entry.
  * Readers open exactly the files the head entry lists, so the files of a
  * mutation that crashed before its commit are invisible, and replaying
  * the mutation equals running it once by construction.
  *
  * An entry is a small text file, renamed into place under its final name
  * so no reader sees it half-written, and CUMULATIVE — it lists every live
  * data file of the generation, so a reader opens the head and nothing
  * else:
  *
  * {{{
  * #graft-log 1
  * #counters,<n_docs>,<dl_sum>,<buckets>
  * #checkpoint,<watermark>,<applied txid>,...
  * #kind,<kind>,<dir>,<partition column>,<data schema json>
  * <kind>,<bucket>,<seq>,<length>,<file>
  * }}}
  *
  *   - `#counters` carries the BM25 corpus counters (zero for the vector
  *     indexes), which a mutation updates exactly and a probe scores with;
  *     the dedup indexes keep only their bucket count there.
  *   - `#checkpoint` (the doc index only, optional) is the txid checkpoint
  *     of the change feed ([[Checkpoint]]), committed in the same create as
  *     the batch's files; an entry carries it forward until a batch
  *     replaces it.
  *   - `#kind` gives the scan shape of each kind of file: its directory
  *     under the data dir, the column its `<column>=<value>/` partition
  *     directories encode (empty for a flat directory), and its schema —
  *     so a read needs no listing and no footer inference. A kind whose
  *     shape is recorded but which lists no file scans as empty. A
  *     directory holding [[SeqDir]] is per entry: each entry's files of
  *     the kind live under the directory named with its own seq (the doc
  *     index's `v_<seq>/docs`), so a mutation writes beside the files the
  *     head lists instead of into their directory.
  *   - In a file line, `file` is relative to the kind's directory, `bucket`
  *     is the partition value (-1 when flat) and `seq` the entry that added
  *     the file.
  *
  * The entry's number is the mutation seq, the stamp of the rows it wrote
  * ([[IndexState]]'s visibility rule). A compacted generation starts a
  * fresh log at the seq it was compacted at. A commit deletes the entries
  * older than its predecessor, so a reader that listed the head just before
  * two commits can lose its entry; it lists again once.
  *
  * Single writer per index, as everywhere in the persisted-index family.
  */
object IndexLog {

  val Dir = "_graft_log"
  private val Header = "#graft-log 1"

  /** Test-only failure injection: called with `write:<kind>` after each
    * data write of a mutation and with `commit` just before the entry is
    * created. A throw leaves the files written so far on disk, unlogged —
    * a crash. Generation promotion ([[IndexState.compactAndSwap]]) calls
    * it at its own steps, `promote:staged|renamed|ready`.
    */
  @volatile private[graft] var crashHook: String => Unit = _ => ()

  final case class Counters(nDocs: Long, dlSum: Long, buckets: Int)

  /** The doc index's txid checkpoint (the reference's checkpoint file,
    * `pgsync/sync.py:1581-1656,1890-1893`): every txid ≤ `watermark` is
    * applied, and `applied` holds the exact txids above it already applied
    * (see [[graft.GraftSync.applyChanges]]).
    */
  final case class Checkpoint(watermark: Long, applied: Set[Long])

  /** The placeholder of a per-entry kind directory (see the class doc). */
  val SeqDir = "{seq}"

  /** How to scan one kind of file: its directory relative to the data dir
    * ("" for the data dir itself), its partition column, its data schema
    * (the partition column excluded).
    */
  final case class Shape(dir: String, partitionColumn: Option[String], schema: StructType)

  final case class LoggedFile(kind: String, bucket: Long, seq: Long, length: Long, file: String)

  /** What one mutation wrote: the shape of each kind and exactly the files
    * it added.
    */
  final case class Added(shapes: Map[String, Shape], files: Seq[LoggedFile])

  final case class Entry(
      seq: Long,
      counters: Counters,
      shapes: Map[String, Shape],
      files: Seq[LoggedFile],
      checkpoint: Option[Checkpoint] = None
  ) {

    def has(kind: String): Boolean = files.exists(_.kind == kind)

    /** The entry after a mutation at `seq`: every file of this one plus the
      * mutation's, and this one's checkpoint. A kind keeps the shape it was
      * first written with.
      */
    def next(seq: Long, counters: Counters, added: Added): Entry =
      Entry(seq, counters, added.shapes ++ shapes, files ++ added.files, checkpoint)

    /** Exactly this entry's files of `kind` under `dataDir`, with its
      * partition column (see [[ManifestFileIndex]]).
      */
    def scan(spark: SparkSession, dataDir: String, kind: String): DataFrame = {
      val shape = shapes.getOrElse(kind,
        throw new IllegalStateException(s"$dataDir: the index log records no '$kind' files"))
      val own = files.filter(_.kind == kind)
      val roots = (if (own.isEmpty) Seq(seq) else own.map(_.seq)).distinct.map(kindRoot(dataDir, shape, _)).distinct
      val listed = own.map { f =>
        f.bucket -> new FileStatus(f.length, false, 0, 0L, 0L, new Path(kindRoot(dataDir, shape, f.seq), f.file))
      }
      ManifestFileIndex.scan(spark, ManifestFileIndex(roots, shape.partitionColumn, listed), shape.schema)
    }
  }

  object Entry {

    /** The first entry of a fresh generation (a build or a compaction). */
    def fresh(seq: Long, counters: Counters, added: Added): Entry =
      Entry(seq, counters, added.shapes, added.files)
  }

  /** One data write of a mutation: `rows` (already partitioned the way the
    * caller wants its files) go to `<dataDir>/<dir>`, partitioned by
    * `partitionColumn` if set.
    */
  final case class Write(
      kind: String,
      dir: String,
      partitionColumn: Option[String],
      rows: DataFrame,
      mode: SaveMode = SaveMode.Append
  )

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The directory of one kind's files added at `seq`. */
  private def kindRoot(dataDir: String, shape: Shape, seq: Long): Path = {
    val dir = shape.dir.replace(SeqDir, seq.toString)
    if (dir.isEmpty) new Path(dataDir) else new Path(dataDir, dir)
  }

  private def seqsOf(f: FileSystem, dir: Path): Seq[Long] =
    try f.listStatus(dir).toSeq.flatMap(st => st.getPath.getName.toLongOption)
    catch { case _: java.io.FileNotFoundException => Nil }

  /** The head entry of `dataDir`'s log, None when the log is empty or
    * absent: one listing and one file read on the driver.
    */
  def latest(spark: SparkSession, dataDir: String): Option[Entry] = {
    val f = fs(spark, dataDir)
    val dir = new Path(dataDir, Dir)
    def attempt(): Option[Option[Entry]] =
      seqsOf(f, dir).maxOption match {
        case None => Some(None)
        case Some(n) =>
          try Some(Some(parse(n, readText(f, new Path(dir, n.toString)))))
          catch { case _: java.io.FileNotFoundException => None }
      }
    // the head can be deleted between the listing and the read by two
    // commits in a row (see [[commit]]): the next listing finds their head
    attempt().orElse(attempt()).getOrElse(
      throw new IllegalStateException(s"$dataDir: the index log head moved twice during one read"))
  }

  /** [[latest]] of an index that must exist. An index without a log was
    * written by an older layout and must be rebuilt.
    */
  def head(spark: SparkSession, dataDir: String): Entry =
    latest(spark, dataDir).getOrElse(
      throw new IllegalStateException(
        s"$dataDir has no index log ($Dir): it was written by an older index layout " +
          "or never built; rebuild the index (writeBm25Index / writeLshIndex / writePqIndex / " +
          "ClusterMap.init / SignatureIndex.write, or GraftSync.snapshot for the doc index)"))

  /** Every entry still in the log — the head and its predecessor after any
    * commit. A reader racing two commits can miss one; only the single
    * writer calls this.
    */
  def entries(spark: SparkSession, dataDir: String): Seq[Entry] = {
    val f = fs(spark, dataDir)
    val dir = new Path(dataDir, Dir)
    seqsOf(f, dir).sorted.map(n => parse(n, readText(f, new Path(dir, n.toString))))
  }

  /** Run `writes` concurrently and return exactly the files they added: the
    * written directories are listed before and after (one writer per index,
    * so the difference is this mutation's), which leaves out files of an
    * earlier crashed mutation — those are never adopted. `crashHook` runs
    * after each write.
    */
  def write(spark: SparkSession, dataDir: String, seq: Long, writes: Seq[Write]): Added = {
    val shapes = writes.map { w =>
      w.kind -> Shape(w.dir, w.partitionColumn,
        StructType(w.rows.schema.filterNot(c => w.partitionColumn.contains(c.name)).map(_.copy(nullable = true))))
    }.toMap
    val before = listAll(spark, dataDir, seq, shapes).files.toSet
    graft.util.Par.all(writes.map { w => () =>
      val out = w.rows.write.mode(w.mode)
      w.partitionColumn.fold(out)(c => out.partitionBy(c)).parquet(kindRoot(dataDir, shapes(w.kind), seq).toString)
      crashHook(s"write:${w.kind}")
    })
    Added(shapes, listAll(spark, dataDir, seq, shapes).files.filterNot(before))
  }

  /** Every data file now under the directories of `shapes` at `seq`,
    * stamped with `seq`: what a build written over several calls (the doc
    * index's resumable snapshot, one call per chunk) adds when it commits.
    */
  def listAll(spark: SparkSession, dataDir: String, seq: Long, shapes: Map[String, Shape]): Added = {
    val f = fs(spark, dataDir)
    val files = shapes.toSeq.flatMap { case (k, s) => list(f, dataDir, k, s, seq) }
    Added(shapes, files.sortBy(l => (l.kind, l.bucket, l.file)))
  }

  /** The data files under one kind's directory (Spark's `_SUCCESS`,
    * `_temporary` and `.crc` entries skipped), stamped with `seq`.
    */
  private def list(f: FileSystem, dataDir: String, kind: String, shape: Shape, seq: Long): Seq[LoggedFile] = {
    def ls(p: Path): Seq[FileStatus] =
      try f.listStatus(p).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    def data(st: FileStatus) = {
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val root = kindRoot(dataDir, shape, seq)
    shape.partitionColumn match {
      case None => ls(root).filter(data).map(st => LoggedFile(kind, -1L, seq, st.getLen, st.getPath.getName))
      case Some(c) =>
        ls(root).filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$c=")).flatMap { d =>
          val b = d.getPath.getName.stripPrefix(s"$c=").toLong
          ls(d.getPath).filter(data).map(st =>
            LoggedFile(kind, b, seq, st.getLen, s"${d.getPath.getName}/${st.getPath.getName}"))
        }
    }
  }

  /** One mutation of the index whose head is `head`: run `writes`
    * concurrently ([[write]]), then commit the entry at `seq` that adds
    * exactly their files, with `counters` ([[commit]]).
    */
  def mutate(
      spark: SparkSession, dataDir: String, head: Entry, seq: Long, counters: Counters, writes: Seq[Write]): Unit =
    commit(spark, dataDir, head.next(seq, counters, write(spark, dataDir, seq, writes)), head.seq)

  /** Commit `entry` with one file create: written under a temporary name
    * and renamed into place, so a reader sees all of it or none. Entries
    * older than `predecessor` (the head this mutation read) are deleted
    * afterwards; a fresh generation passes its own seq.
    */
  def commit(spark: SparkSession, dataDir: String, entry: Entry, predecessor: Long): Unit = {
    crashHook("commit")
    val f = fs(spark, dataDir)
    val dir = new Path(dataDir, Dir)
    val tmp = new Path(dir, s".${entry.seq}.${java.util.UUID.randomUUID()}.tmp")
    val out = f.create(tmp, false)
    try out.write(render(entry).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    require(f.rename(tmp, new Path(dir, entry.seq.toString)), s"$dataDir: could not commit log entry ${entry.seq}")
    f.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (n.toLongOption.exists(_ < predecessor) || n.endsWith(".tmp")) { f.delete(st.getPath, false); () }
    }
  }

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  private def render(e: Entry): String = {
    val c = e.counters
    val kinds = e.shapes.toSeq.sortBy(_._1).map { case (k, s) =>
      s"#kind,$k,${s.dir},${s.partitionColumn.getOrElse("")},${s.schema.json}"
    }
    val checkpoint = e.checkpoint.map(k => (s"#checkpoint,${k.watermark}" +: k.applied.toSeq.sorted).mkString(","))
    val files = e.files.map(l => s"${l.kind},${l.bucket},${l.seq},${l.length},${l.file}")
    ((Header +: s"#counters,${c.nDocs},${c.dlSum},${c.buckets}" +: (checkpoint.toSeq ++ kinds)) ++ files)
      .mkString("", "\n", "\n")
  }

  private def parse(seq: Long, text: String): Entry = {
    val lines = text.split("\n").filter(_.nonEmpty).toSeq
    require(lines.headOption.contains(Header), s"log entry $seq: unknown format '${lines.headOption.getOrElse("")}'")
    var counters = Counters(0L, 0L, 0)
    var checkpoint = Option.empty[Checkpoint]
    val shapes = Map.newBuilder[String, Shape]
    val files = Seq.newBuilder[LoggedFile]
    lines.tail.foreach { line =>
      if (line.startsWith("#counters,")) {
        val Array(_, n, d, b) = line.split(",", 4)
        counters = Counters(n.toLong, d.toLong, b.toInt)
      } else if (line.startsWith("#checkpoint,")) {
        val txids = line.split(",").toSeq.tail.map(_.toLong)
        checkpoint = Some(Checkpoint(txids.head, txids.tail.toSet))
      } else if (line.startsWith("#kind,")) {
        val Array(_, k, dir, part, json) = line.split(",", 5)
        shapes += k -> Shape(dir, Option(part).filter(_.nonEmpty), DataType.fromJson(json).asInstanceOf[StructType])
      } else {
        val Array(k, b, s, len, file) = line.split(",", 5)
        files += LoggedFile(k, b.toLong, s.toLong, len.toLong, file)
      }
    }
    Entry(seq, counters, shapes.result(), files.result(), checkpoint)
  }
}
