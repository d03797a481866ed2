package graft.streaming

import graft.GraftSync
import graft.catalog.{Catalog, TableMeta}
import graft.cdc.Changes
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths, StandardCopyOption}

/** A [[SyncPipeline]] test bed: one mutable source table, the doc sync
  * over it and a [[Changes.schema]] file feed. A test sets [[rows]] to the
  * source's new state, then [[land]]s the change events that led there —
  * the order a database commits a row before its change event is read.
  * Everything lives under [[dir]].
  */
final class PipelineHarness(
    spark: SparkSession,
    table: String,
    pk: String,
    initial: DataFrame,
    docColumns: Seq[String] = Nil,
    tuning: graft.Tuning = graft.Tuning()
) {
  val dir: String = Files.createTempDirectory(s"graft-pipeline-$table").toString
  private val feed = s"$dir/feed"
  private val staging = s"$dir/feed-staging"
  Seq(feed, staging).foreach(d => Files.createDirectories(Paths.get(d)))

  /** The source table's current state, as every later read sees it. */
  @volatile var rows: DataFrame = initial
  val load: String => DataFrame = { case `table` => rows }

  /** The doc sync over the source table; its documents carry `docColumns`
    * (the primary key alone by default).
    */
  val sync: GraftSync = {
    val cols = (if (docColumns.isEmpty) Seq(pk) else docColumns).map("\"" + _ + "\"").mkString(",")
    GraftSync(
      spark,
      s"""{"database":"db","index":"$table","nodes":{"table":"$table","columns":[$cols]}}""",
      Catalog(Map(table -> TableMeta(table, Seq(pk)))), load, s"$dir/docs-index",
      tuning = tuning)
  }

  /** A pipeline over the source table, checkpointed under `dir/ckpt` — a
    * new one over the same checkpoints is a restart.
    */
  def pipeline(consumers: SyncPipeline.Consumer*): SyncPipeline =
    new SyncPipeline(sync, load, table, pk, consumers, s"$dir/ckpt")

  private var files = 0
  private var txid = 0L

  /** Land one feed file of (`tg_op`, id) events, each with the next txid.
    * The file appears atomically, so a running query never reads half of it.
    */
  def land(events: (String, Long)*): Unit = {
    def key(id: Long): String = "\"" + s"""{"$pk": $id}""".replace("\"", "\\\"") + "\""
    val lines = events.map { case (op, id) =>
      txid += 1
      val (oldKey, newKey) = op match {
        case Changes.Delete => (key(id), "null")
        case Changes.Insert => ("null", key(id))
        case _ => (key(id), key(id))
      }
      s"""{"tg_op":"$op","tbl":"$table","old":$oldKey,"new":$newKey,"txid":$txid}"""
    }
    files += 1
    val name = s"batch$files.json"
    Files.write(Paths.get(s"$staging/$name"), lines.mkString("\n").getBytes)
    Files.move(Paths.get(s"$staging/$name"), Paths.get(s"$feed/$name"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The change events of `events` as one batch-mode frame, each with the
    * next txid (the [[land]] event shape, for [[SyncPipeline.applyBatch]]).
    */
  def batch(events: (String, Long)*): DataFrame = {
    import spark.implicits._
    events.map { case (op, id) =>
      txid += 1
      val key = s"""{"$pk": $id}"""
      (op, table, if (op == Changes.Insert) null else key, if (op == Changes.Delete) null else key, txid)
    }.toDF("tg_op", "tbl", "old", "new", "txid")
  }

  /** Start `p` on the feed. */
  def start(p: SyncPipeline): SyncPipeline.Handles = p.start(() => Changes.fileStream(spark, feed))

  /** Start `p`, apply everything landed so far, stop: one run between two
    * crashes.
    */
  def run(p: SyncPipeline): Unit = {
    val h = start(p)
    try h.processAllAvailable()
    finally h.stopAll()
  }
}
