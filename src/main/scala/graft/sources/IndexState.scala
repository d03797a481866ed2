package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared mutation state for the persisted indexes (BM25 postings, LSH
  * buckets, IVF-PQ cells, and the dedup indexes [[graft.dedup.ClusterMap]]
  * and [[graft.dedup.SignatureIndex]]): a commit log ([[IndexLog]]) that
  * lists every live data file and a tombstone kind of file, both living
  * INSIDE the index's data directory under underscore-prefixed names
  * (invisible to a plain parquet read of the index root — the
  * [[graft.ann.AnnModels]] sidecar discipline).
  *
  * Why this exists: the engine is a CDC sync product — DELETE events must
  * remove documents from every probe surface, the way the reference removes
  * deleted rows from its search index (`/root/reference/pgsync/sync.py:
  * 1254-1306`, doc op construction `sync.py:1556-1579`). The doc index
  * (`MaterializedIndex`) already honors deletes via bucket rewrite; the
  * persisted secondary indexes were append-only. Rewriting a posting/cell
  * bucket per delete batch would be O(bucket) writes for O(batch) deletes,
  * so these indexes instead take the log-structured route every production
  * index engine uses: deletes append TOMBSTONES, probes subtract them,
  * compaction reclaims them.
  *
  * Layout under the data directory ([[dataPath]]):
  *   - `_graft_log/<seq>` — the commit log. Every mutation (append or
  *     delete batch) commits the next seq; data rows are stamped with the
  *     seq of the mutation that wrote them (the base build writes seq 0).
  *     Probes and mutations open it through [[open]].
  *   - `_graft_tombstones/` — rows (id BIGINT, del_seq BIGINT), one file
  *     per delete batch, live once the batch's entry lists it.
  *
  * Visibility rule — the reason seq exists at all: a data row `(id, seq)`
  * is visible iff no tombstone `(id, del_seq ≥ seq)` exists. A plain id
  * set cannot express delete-then-re-add (the CDC UPDATE flow is delete +
  * append): un-tombstoning the id would resurrect the doc's OLD rows still
  * on disk, while seq comparison hides exactly the rows written before the
  * delete and shows the ones written after.
  *
  * Scale shape: tombstones are delete-batch-sized, not corpus-sized; the
  * visibility join runs AFTER partition pruning, so it touches candidate
  * rows only, and an index whose log lists no tombstone skips the join
  * entirely (zero plan change for append-only indexes). Single-writer
  * discipline (one sync engine per index) is assumed, as everywhere else
  * in the persisted-index family.
  *
  * The dedup indexes never delete (no tombstone kind); their log seq stamps
  * [[graft.dedup.ClusterMap]]'s merge pointers, and both share the
  * generation machinery below.
  */
object IndexState {

  val TombstoneDir = "_graft_tombstones"

  /** Sibling-directory suffix of a compaction's staging rewrite:
    * [[compactAndSwap]] writes `<path>.graft_compact`, then promotes it to
    * the next generation.
    */
  val StagingSuffix = ".graft_compact"

  /** Generation-pointer layout ([[compactAndSwap]]'s swap mechanism): a
    * compacted rewrite is promoted to `<path>/_graft_gen-<n>/` and becomes
    * current the instant its `_graft_ready` marker file exists — a single
    * file CREATE, atomic on POSIX/HDFS and a single PUT on object stores,
    * so the index root itself never moves. Readers resolve [[dataPath]]
    * once per probe/mutation: highest ready generation, or the index root
    * for a never-compacted (legacy) layout. GC is AGE-BASED: a generation (or the
    * legacy root data) stops being current the instant a successor's ready
    * marker is created, and may be deleted only once that successor marker
    * is at least [[gcGraceMs]] old — so a reader that resolved ANY
    * generation keeps a complete directory for up to the grace window, no
    * matter how many compactions chain behind it (back-to-back compactions
    * used to be able to lap a slow reader when GC was purely generational).
    * The immediate predecessor is always retained (its successor's marker
    * was created this instant); marker-less directories from crashed
    * promotes were never resolvable and are deleted immediately. Disk cost
    * is bounded by compaction frequency × grace. The underscore prefix
    * keeps generation directories invisible to any parquet read of the
    * index root.
    */
  val GenPrefix = "_graft_gen-"
  val ReadyMarker = "_graft_ready"

  /** Minimum age of the SUCCESSOR's ready marker before a superseded
    * generation may be GC'd — the upper bound on a reader's
    * resolve-to-finish window. Tunable per session via the
    * `graft.index.gcGraceMs` conf (clock-skew margins on object stores,
    * longer scans at larger corpora).
    */
  val DefaultGcGraceMs: Long = 600000L

  private def gcGraceMs(spark: SparkSession): Long =
    spark.conf.getOption("graft.index.gcGraceMs").map(_.toLong).getOrElse(DefaultGcGraceMs)

  /** Underscore-prefixed entries that are GENERATIONAL DATA (rewritten by
    * compaction, resolved under [[dataPath]]) rather than root-level shared
    * mutation state — deleted with the legacy root data when GC retires the
    * pre-generation layout: the BM25 doclens sidecar and the tombstones.
    * Tombstones are generation-scoped ON PURPOSE: a compacted generation is
    * born tombstone-free, so the ready-marker flip retires the data and its
    * delete-set in ONE atomic step — clearing a shared root sidecar after
    * the flip would yank files from under a reader still scanning the
    * previous generation (caught by GenerationSpec's concurrent probe).
    */
  private val GenerationalSidecars =
    Set("_graft_doclens", "_graft_impacts", "_graft_termdf", TombstoneDir, IndexLog.Dir, "_graft_merges")

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** Generation numbers present under `path` (ready or not — a crashed
    * promote can leave a marker-less directory, which [[currentGen]]
    * ignores and the next promote numbers past and GCs).
    */
  private def genNumbers(spark: SparkSession, path: String): Seq[Long] = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) Nil
    else
      f.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith(GenPrefix)) n.stripPrefix(GenPrefix).toLongOption else None
      }
  }

  /** Highest READY generation, None for a legacy (root-data) layout. */
  def currentGen(spark: SparkSession, path: String): Option[Long] =
    genNumbers(spark, path)
      .filter(n => exists(spark, s"$path/$GenPrefix$n/$ReadyMarker"))
      .sorted(Ordering[Long].reverse)
      .headOption

  /** Resolve the directory holding the index's DATA partitions: the highest
    * ready generation after a [[compactAndSwap]], the index root before the
    * first one. Every probe and mutation resolves through here (one LIST of
    * the index root); root-level sidecars (a model) are shared across
    * generations and never move.
    */
  def dataPath(spark: SparkSession, path: String): String =
    currentGen(spark, path).map(n => s"$path/$GenPrefix$n").getOrElse(path)

  /** Promote a fully-written staging rewrite to the next generation:
    * rename it under the root, then CREATE the ready marker — the atomic
    * flip that makes it current. Then the age-based GC ([[gcExpired]]):
    * superseded generations (and the legacy root data) are deleted only
    * once their successor's ready marker is [[gcGraceMs]] old.
    * Crash points ([[IndexLog.crashHook]]): `promote:renamed` before the
    * marker (no reader resolves that generation), `promote:ready` after it.
    */
  def promoteStaging(spark: SparkSession, path: String, stagingPath: String): Unit = {
    val f = fs(spark, path)
    val next = genNumbers(spark, path).foldLeft(0L)(math.max) + 1L
    val genDir = new Path(s"$path/$GenPrefix$next")
    require(
      f.rename(new Path(stagingPath), genDir),
      s"promoteStaging: could not move $stagingPath to $genDir"
    )
    IndexLog.crashHook("promote:renamed")
    f.create(new Path(s"$path/$GenPrefix$next/$ReadyMarker"), false).close()
    IndexLog.crashHook("promote:ready")
    gcExpired(spark, path, next)
  }

  /** Age-based generation GC (see [[GenPrefix]]): a generation g may be
    * deleted once the LOWEST ready generation above it — the promotion that
    * made g non-current — has a ready marker at least [[gcGraceMs]] old; a
    * reader that resolved g started its scan before that marker existed, so
    * it has had the full grace window to finish. The legacy root data is
    * the generation "below" every numbered one: it expires against the
    * lowest ready generation present. Marker-less directories (crashed
    * promotes, never resolvable) are deleted immediately.
    */
  private def gcExpired(spark: SparkSession, path: String, next: Long): Unit = {
    val f = fs(spark, path)
    val grace = gcGraceMs(spark)
    val now = System.currentTimeMillis()
    val gens = genNumbers(spark, path)
    val readyAt: Map[Long, Long] = gens.flatMap { n =>
      val m = new Path(s"$path/$GenPrefix$n/$ReadyMarker")
      if (f.exists(m)) Some(n -> f.getFileStatus(m).getModificationTime) else None
    }.toMap
    def supersededLongEnough(g: Long): Boolean =
      readyAt.keys.filter(_ > g).minOption.exists(s => now - readyAt(s) >= grace)
    gens.filterNot(_ == next).foreach { g =>
      if (!readyAt.contains(g) || supersededLongEnough(g))
        deleteDir(spark, s"$path/$GenPrefix$g")
    }
    if (supersededLongEnough(-1L)) deleteLegacyRootData(spark, path)
  }

  /** Delete the pre-generation data entries at the index root: everything
    * not underscore/dot-prefixed (partition dirs, part files) plus the
    * [[GenerationalSidecars]]. Root-level mutation state and generation
    * directories are untouched. Idempotent.
    */
  private def deleteLegacyRootData(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) return
    f.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      val legacyData = (!n.startsWith("_") && !n.startsWith(".")) || GenerationalSidecars(n)
      if (legacyData && !n.startsWith(GenPrefix)) { f.delete(st.getPath, true); () }
    }
  }

  /** The log kind of the tombstone files (rows `(id, del_seq)`, flat under
    * [[TombstoneDir]]). They live INSIDE the data directory, so a
    * generation and its delete-set travel together — see
    * [[GenerationalSidecars]].
    */
  private[graft] val Tombstones = "tombstones"

  /** Open a log-backed index for one probe or mutation: resolve the
    * current generation ONCE and read its log head — data files,
    * tombstones and counters then all come from one entry of one
    * generation, so a probe racing a mutation sees the index before it or
    * after it, never a mix.
    */
  def open(spark: SparkSession, path: String): (String, IndexLog.Entry) = {
    val data = dataPath(spark, path)
    (data, IndexLog.head(spark, data))
  }

  /** The log write of one delete batch: `ids` (one BIGINT column `id`, each
    * id once) stamped with `seq`, as one file.
    */
  private[graft] def tombstoneWrite(ids: DataFrame, seq: Long): IndexLog.Write =
    IndexLog.Write(
      Tombstones, TombstoneDir, None,
      ids.select(col("id").cast("long").as("id"), lit(seq).as("del_seq")).coalesce(1))

  def hasTombstones(spark: SparkSession, indexPath: String): Boolean =
    open(spark, indexPath)._2.has(Tombstones)

  /** Aggregated tombstones `(ts_id, del_seq)` of `head` — one row per
    * deleted id, carrying the LATEST delete seq (earlier deletes of the
    * same id are subsumed: any row hidden by an old delete is also hidden
    * by a newer one).
    */
  private def tombstonesOf(spark: SparkSession, dataDir: String, head: IndexLog.Entry): DataFrame =
    head.scan(spark, dataDir, Tombstones)
      .groupBy(col("id").as("ts_id"))
      .agg(max(col("del_seq")).as("del_seq"))

  /** Number of distinct tombstoned ids — the compaction-policy signal.
    * Cost is a scan of the (delete-batch-sized) tombstone files only, never
    * the index. 0 when no delete has ever happened.
    */
  def tombstoneCount(spark: SparkSession, indexPath: String): Long = {
    val (data, head) = open(spark, indexPath)
    if (!head.has(Tombstones)) 0L else tombstonesOf(spark, data, head).count()
  }

  /** Whether a compacted staging directory holds any DATA partition.
    * False when the visible set was empty at compaction time: Spark writes
    * a partitioned empty DataFrame as a directory containing only _SUCCESS
    * and the underscore sidecars, which a later parquet read of the index
    * root cannot infer a schema from. The `maybeCompact*` policies use
    * this to refuse to swap an empty index into place — a delete-everything
    * feed must not brick the index (probes on the un-compacted index
    * already return the correct empty result via [[visibleAt]]).
    */
  def stagingHasData(spark: SparkSession, stagingPath: String): Boolean = {
    val f = fs(spark, stagingPath)
    val p = new Path(stagingPath)
    f.exists(p) && f.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Recursively delete a directory if it exists (abandoned staging). */
  def deleteDir(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (f.exists(p)) { f.delete(p, true); () }
  }

  /** Seq at which an empty-rewrite refusal was recorded, None if none (or
    * the marker is unreadable — treated as absent). Plain text file: tiny,
    * and a torn write parses to None, which only costs one extra rewrite.
    */
  def refusedSeq(spark: SparkSession, path: String): Option[Long] = {
    val f = fs(spark, path)
    val p = new Path(s"$path/$RefusedMarker")
    if (!f.exists(p)) None
    else
      try {
        val in = f.open(p)
        val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        s.trim.toLongOption
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def writeRefusedSeq(spark: SparkSession, path: String, seq: Long): Unit = {
    val f = fs(spark, path)
    val out = f.create(new Path(s"$path/$RefusedMarker"), true)
    try out.write(seq.toString.getBytes("UTF-8")) finally out.close()
  }

  private def clearRefusedSeq(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    val p = new Path(s"$path/$RefusedMarker")
    if (f.exists(p)) { f.delete(p, false); () }
  }

  val RefusedMarker = "_graft_compact_refused"

  /** Shared tail of every `maybeCompact*` policy: rewrite the index to the
    * staging sibling via `compact`, REFUSE to promote an empty rewrite
    * (delete-everything feeds must not brick the index — see
    * [[stagingHasData]]), and promote to the next generation otherwise
    * ([[promoteStaging]] — readers racing the flip keep a complete
    * directory; see [[GenPrefix]]). Keeping this in one place makes the
    * empty-rewrite guard impossible to omit from any one index family.
    *
    * A refusal is memoized at the index's current mutation seq (its log
    * head's): until a mutation
    * bumps the seq, re-running the policy skips the (index-scan +
    * rewrite) attempt entirely — a fully-deleted index under a steady CDC
    * feed pays the refused rewrite once, not per batch. The promoted
    * generation is born tombstone-free (the rewrite dropped those rows, and
    * the tombstones are generation-scoped), so no post-flip cleanup touches
    * files a racing reader may hold. Returns whether the promotion
    * happened. Crash point `promote:staged`: staging written, nothing
    * promoted; a retry rewrites it.
    */
  def compactAndSwap(spark: SparkSession, path: String, compact: String => Unit): Boolean = {
    val seqNow = IndexLog.head(spark, dataPath(spark, path)).seq
    if (refusedSeq(spark, path).contains(seqNow)) return false
    val staging = path + StagingSuffix
    deleteDir(spark, staging) // abandoned residue from a crashed attempt
    compact(staging)
    IndexLog.crashHook("promote:staged")
    if (!stagingHasData(spark, staging)) {
      deleteDir(spark, staging)
      writeRefusedSeq(spark, path, seqNow)
      false
    } else {
      promoteStaging(spark, path, staging)
      clearRefusedSeq(spark, path)
      true
    }
  }

  /** Filter `rows` (which must carry `idCol` and a BIGINT `seq` column) to
    * the visible set under the tombstones the log head of the RESOLVED data
    * directory `dataDir` lists — the directory `rows` was read from, so
    * data and delete-set come from one generation even if a compaction
    * promotes a new one mid-plan. No tombstone ⇒ `rows` unchanged —
    * append-only (and freshly compacted) generations pay nothing.
    */
  def visibleAt(rows: DataFrame, dataDir: String, idCol: String): DataFrame =
    visibleUnder(rows, dataDir, IndexLog.head(rows.sparkSession, dataDir), idCol)

  /** [[visibleAt]] under the tombstones of an entry already read — the
    * entry `rows` was scanned from.
    */
  private[graft] def visibleUnder(rows: DataFrame, dataDir: String, head: IndexLog.Entry, idCol: String): DataFrame =
    if (!head.has(Tombstones)) rows
    else {
      val ts = tombstonesOf(rows.sparkSession, dataDir, head)
      rows
        .join(ts, rows(idCol) === ts("ts_id"), "left_outer")
        .filter(col("del_seq").isNull || col("seq") > col("del_seq"))
        .drop("ts_id", "del_seq")
    }
}
