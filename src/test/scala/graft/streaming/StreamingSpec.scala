package graft.streaming

import graft.SparkSpec
import graft.catalog.{Catalog, ForeignKey, TableMeta}
import graft.cdc.Changes
import graft.schema.SchemaDef
import graft.sinks.MaterializedIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** End-to-end Structured Streaming run: snapshot → micro-batches through
  * `foreachBatch` with checkpointing — the Spark equivalent of the
  * reference's daemon loop (`pgsync/sync.py:2114-2153`).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val cat = Catalog(
    Map(
      "orders" -> TableMeta("orders", Seq("id")),
      "item" -> TableMeta(
        "item", Seq("id"),
        Seq(ForeignKey("item", Seq("order_id"), "orders", Seq("id")))
      )
    )
  )

  private val schema = SchemaDef.parseNodes(
    """{"table": "orders", "columns": ["id", "status"],
        "children": [{"table": "item", "label": "items", "columns": ["sku"],
          "relationship": {"type": "one_to_many", "variant": "object"}}]}"""
  )

  @volatile private var tables: Map[String, DataFrame] = _

  test("snapshot then stream: batches update the materialized index with checkpointing") {
    tables = Map(
      "orders" -> Seq((1L, "open"), (2L, "open")).toDF("id", "status"),
      "item" -> Seq((10L, 1L, "a")).toDF("id", "order_id", "sku")
    )
    val dir = Files.createTempDirectory("graft-stream").toString
    val state = new MaterializedIndex(spark, s"$dir/index")
    val sync = new StreamSync(schema, cat, tables(_), state)
    sync.snapshot()
    assert(state.docs.count() == 2)

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, String, String, String, Long)]
    val changes = stream
      .toDF()
      .select(
        col("_1").as("tg_op"), col("_2").as("tbl"),
        col("_3").as("old"), col("_4").as("new"), col("_5").as("txid")
      )
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val query = sync.start(changes, s"$dir/checkpoint")

    // batch 1: new item lands on order 2
    tables += "item" -> Seq((10L, 1L, "a"), (11L, 2L, "b")).toDF("id", "order_id", "sku")
    stream.addData((Changes.Insert, "item", null, """{"id": 11, "order_id": 2, "sku": "b"}""", 1L))
    query.processAllAvailable()
    val docs1 = state.docs.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(docs1("2").contains("\"items\":[{\"sku\":\"b\"}]"))

    // batch 2: order 1 deleted
    tables += "orders" -> Seq((2L, "open")).toDF("id", "status")
    stream.addData((Changes.Delete, "orders", """{"id": 1}""", null, 2L))
    query.processAllAvailable()
    val docs2 = state.docs.collect().map(r => r.getString(0)).toSet
    assert(docs2 == Set("2"))

    query.stop()
    // no micro-batch's cache outlives the query (the last batch included)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"persistent RDDs left after stop: $leaked")
    // checkpoint directory materialized offsets/commits (restart safety)
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/checkpoint/offsets")))
  }

  test("streaming opsSink: each micro-batch's index/delete ops publish from the same pass") {
    tables = Map(
      "orders" -> Seq((1L, "open"), (2L, "open")).toDF("id", "status"),
      "item" -> Seq.empty[(Long, Long, String)].toDF("id", "order_id", "sku")
    )
    val dir = Files.createTempDirectory("graft-stream-ops").toString
    val state = new MaterializedIndex(spark, s"$dir/index")
    val sync = new StreamSync(schema, cat, tables(_), state)
    sync.snapshot()

    val published = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, String, String, String, Long)]
    val changes = stream.toDF().select(
      col("_1").as("tg_op"), col("_2").as("tbl"),
      col("_3").as("old"), col("_4").as("new"), col("_5").as("txid"))
    val query = sync.start(
      changes, s"$dir/checkpoint",
      opsSink = Some(ops => published.synchronized {
        published ++= ops.collect().map(r => (r.getString(0), r.getString(1)))
      })
    )
    tables += "orders" -> Seq((2L, "open"), (3L, "new")).toDF("id", "status")
    stream.addData(
      (Changes.Insert, "orders", null, """{"id": 3}""", 1L),
      (Changes.Delete, "orders", """{"id": 1}""", null, 2L)
    )
    query.processAllAvailable()
    query.stop()
    assert(published.toSet == Set(("index", "3"), ("delete", "1")))
    // local index advanced in the same pass
    assert(state.docs.collect().map(_.getString(0)).toSet == Set("2", "3"))
  }

  test("checkpoint restart: a stopped stream resumes without reprocessing (at-least-once + idempotent)") {
    tables = Map(
      "orders" -> Seq((1L, "open")).toDF("id", "status"),
      "item" -> Seq.empty[(Long, Long, String)].toDF("id", "order_id", "sku")
    )
    val dir = Files.createTempDirectory("graft-restart").toString
    val feed = s"$dir/feed"
    Files.createDirectories(java.nio.file.Paths.get(feed))
    val state = new MaterializedIndex(spark, s"$dir/index")

    def newSync() = new StreamSync(schema, cat, tables(_), state)
    newSync().snapshot()

    def writeFeedFile(n: Int, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(s"$feed/batch$n.json"), lines.mkString("\n").getBytes)

    // run 1: one change lands
    tables += "orders" -> Seq((1L, "open"), (2L, "open")).toDF("id", "status")
    writeFeedFile(1, Seq("""{"tg_op":"INSERT","tbl":"orders","old":null,"new":"{\"id\": 2}","txid":1}"""))
    val q1 = newSync().start(Changes.fileStream(spark, feed), s"$dir/ckpt")
    q1.processAllAvailable()
    q1.stop()
    assert(state.docs.count() == 2)
    val v1 = state.currentVersion

    // run 2: restart from the same checkpoint; only the NEW file is processed
    tables += "orders" -> Seq((1L, "closed"), (2L, "open")).toDF("id", "status")
    writeFeedFile(2, Seq("""{"tg_op":"UPDATE","tbl":"orders","old":"{\"id\": 1}","new":"{\"id\": 1}","txid":2}"""))
    val q2 = newSync().start(Changes.fileStream(spark, feed), s"$dir/ckpt")
    q2.processAllAvailable()
    q2.stop()
    val docs = state.docs.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(docs("1").contains("closed"))
    assert(docs.keySet == Set("1", "2"))
    // exactly one additional version commit → batch 1 was not reprocessed
    assert(state.currentVersion == v1 + 1)
  }

  test("streaming sessionization: gap in a later batch closes and emits the session") {
    import EventAnalytics._
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(plusSec: Long) = new java.sql.Timestamp(t0.getTime + plusSec * 1000)

    val stream = MemoryStream[EventIn]
    val sessions = sessionize(stream.toDS(), gapSeconds = 3600)
    val query = sessions.writeStream
      .format("memory")
      .queryName("closed_sessions")
      .outputMode("append")
      .start()

    stream.addData(EventIn(7L, ts(0), 1.0), EventIn(7L, ts(10), 2.0))
    query.processAllAvailable()
    assert(spark.table("closed_sessions").count() == 0) // session still open

    stream.addData(EventIn(7L, ts(7200), 5.0)) // jumps the gap
    query.processAllAvailable()
    val out = spark.table("closed_sessions").as[SessionOut].collect()
    assert(out.length == 1)
    assert(out.head.user_id == 7L && out.head.n_events == 2 && out.head.value_cents == 300L)
    assert(out.head.start == ts(0) && out.head.end == ts(10))

    // idle eviction: another user's far-future events advance the watermark
    // past user 7's last+gap → the open session times out, emits, and the
    // state entry is removed (bounded state for inactive users)
    stream.addData(EventIn(99L, ts(40000), 1.0))
    query.processAllAvailable()
    stream.addData(EventIn(99L, ts(40001), 1.0))
    query.processAllAvailable()
    val out2 = spark.table("closed_sessions").as[SessionOut].collect()
    assert(out2.exists(s => s.user_id == 7L && s.start == ts(7200) && s.n_events == 1))
    query.stop()
  }

  test("sessionizeReplay: file-stream stateful sessions equal the batch gaps-and-islands form") {
    // sessions that span chunk files (cross-micro-batch state continuation)
    // plus still-open tails that only the sentinel flush closes
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(plusSec: Long) = new java.sql.Timestamp(t0 + plusSec * 1000)
    val rows = Seq(
      (1L, ts(0), 1.0), (1L, ts(1800), 2.0), (1L, ts(3000), 3.0), // one long session
      (1L, ts(20000), 4.0), // second session, never followed → sentinel-closed
      (2L, ts(100), 5.0), (2L, ts(9000), 6.0), (2L, ts(9050), 7.0), // two sessions
      (3L, ts(15000), 8.0) // single-event session
    )
    val events = rows.toDF("user_id", "ts", "value")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))
    val streamed = EventAnalytics.sessionizeReplay(events, 3600L, chunks = 3)
      .collect().map(key).toSet
    val batch = EventAnalytics.sessionizeBatch(events, 3600L)
      .collect().map(key).toSet
    assert(streamed == batch)
    assert(streamed.size == 5)
  }

  test("sessionizeReplay cleans its staging dir and memory table per call (repeated runs leave /tmp stable)") {
    def stagedDirs(): Set[String] = {
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      tmp.listFiles().toSeq.map(_.getName).filter(_.startsWith("graft-session-replay")).toSet
    }
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(plusSec: Long) = new java.sql.Timestamp(t0 + plusSec * 1000)
    val events = Seq((1L, ts(0), 1.0), (1L, ts(10), 2.0), (2L, ts(5), 3.0))
      .toDF("user_id", "ts", "value")
    val before = stagedDirs()
    val viewsBefore = spark.catalog.listTables().count()
    (1 to 2).foreach { _ =>
      assert(EventAnalytics.sessionizeReplay(events, 3600L, chunks = 2).count() == 2)
    }
    assert(stagedDirs() == before, "replay staging dirs must be deleted after each call")
    assert(spark.catalog.listTables().count() == viewsBefore,
      "replay memory-sink temp views must be dropped after each call")
  }

  test("streaming windowed counts with watermark produce append-mode results") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val events = stream.toDF().select(col("_1").as("ts"), col("_2").as("event_type"))
    val query = EventAnalytics
      .streamingWindowedCounts(events, "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("win_counts").outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
    stream.addData((t0, "click"), (t0, "click"))
    query.processAllAvailable()
    // advance watermark far past the first window to flush it
    stream.addData((java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), "view"))
    query.processAllAvailable()
    val rows = spark.table("win_counts").collect()
    assert(rows.exists(r => r.getAs[Long]("n_events") == 2L))
    query.stop()
  }

  test("streaming dedup (external index): first writer wins across batches, index is the state") {
    val dir = Files.createTempDirectory("graft-dedup-stream").toString
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val docs = stream.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val query = DedupStream.start(
      docs, s"$dir/index", s"$dir/ckpt", "doc_id", "text",
      survivors => emitted ++= survivors.collect().map(r => (r.getLong(0), r.getString(1)))
    )
    // batch 1: within-batch dup (1,3 same text) → canonical min id survives
    stream.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
    query.processAllAvailable()
    assert(emitted.toSet == Set((1L, "alpha"), (2L, "beta")))
    // batch 2: cross-batch dup (alpha again) dropped, new text survives
    emitted.clear()
    stream.addData((4L, "alpha"), (5L, "gamma"))
    query.processAllAvailable()
    assert(emitted.toSet == Set((5L, "gamma")))
    query.stop()
    // the index holds one row per distinct digest, canonical ids
    val idx = spark.read.parquet(s"$dir/index")
      .collect().map(r => r.getAs[Long]("keep_id")).toSet
    assert(idx == Set(1L, 2L, 5L))
    // a batch-mode backfill over already-seen texts yields zero survivors
    val n = DedupStream.applyBatch(
      spark, Seq((6L, "alpha"), (7L, "beta")).toDF("doc_id", "text"),
      s"$dir/index", "doc_id", "text", _ => ())
    assert(n == 0L)
    // null text passes through as a survivor and never pollutes the index
    var got: Seq[Long] = Nil
    val n2 = DedupStream.applyBatch(
      spark, Seq((8L, null.asInstanceOf[String]), (9L, "alpha")).toDF("doc_id", "text"),
      s"$dir/index", "doc_id", "text",
      df => got = df.collect().map(_.getLong(0)).toSeq)
    assert(n2 == 0L, "null digest must not count as a new digest")
    assert(got == Seq(8L), s"null-text doc must survive, got $got")
    assert(
      !spark.read.parquet(s"$dir/index").collect().exists(_.isNullAt(0)),
      "index must hold no null-digest rows"
    )
  }

  test("streaming dedup (state-store form): dropDuplicates keeps first per digest") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val docs = stream.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val deduped = DedupStream.distinct(docs, "text")
    val query = deduped.writeStream
      .format("memory").queryName("dedup_distinct").outputMode("append").start()
    stream.addData((1L, "alpha"), (2L, "beta"))
    query.processAllAvailable()
    stream.addData((3L, "alpha"), (4L, "gamma")) // 3 is a cross-batch dup
    query.processAllAvailable()
    val kept = spark.table("dedup_distinct")
      .collect().map(r => r.getAs[Long]("doc_id")).toSet
    assert(kept == Set(1L, 2L, 4L))
    query.stop()
  }

  test("composition: doc sync + dedup + ANN streams share one change feed across a restart") {
    import graft.GraftSync
    val dir = Files.createTempDirectory("graft-compose").toString
    val feed = s"$dir/feed"
    Files.createDirectories(java.nio.file.Paths.get(feed))
    def writeFeed(n: Int, ids: Seq[Long], txid: Long): Unit =
      Files.write(
        java.nio.file.Paths.get(s"$feed/batch$n.json"),
        ids.map(i => s"""{"tg_op":"INSERT","tbl":"note","old":null,"new":"{\\"id\\": $i}","txid":$txid}""")
          .mkString("\n").getBytes
      )
    def mkNotes(n: Int) = (1 to n).map { i =>
      (i.toLong, s"note text ${i % 3}",
        Array.tabulate(16)(j => (math.cos((i % 4) * 3 + j) + 0.05 * math.sin(i * 17 + j)).toFloat))
    }
    @volatile var notes = mkNotes(4)
    def noteDf = notes.toDF("id", "text", "embedding")
    val noteCat = Catalog(Map("note" -> TableMeta("note", Seq("id"))))
    val noteSchema =
      """{"database":"db","index":"notes","nodes":{"table":"note","columns":["id","text"]}}"""
    val loadNote: String => DataFrame = _ => noteDf.select(col("id"), col("text"))
    val sync = GraftSync(spark, noteSchema, noteCat, loadNote, s"$dir/index")

    // all three consumers read THE SAME feed, each with its own checkpoint
    def changeDocs = Changes.fileStream(spark, feed)
      .filter(col("tbl") === "note")
      .select(get_json_object(col("new"), "$.id").cast("long").as("nid"))
      .join(noteDf, col("nid") === col("id"))
    val survivors = scala.collection.mutable.ArrayBuffer.empty[Long]
    def startDedup() = DedupStream.start(
      changeDocs.select(col("id").as("doc_id"), col("text")),
      s"$dir/dedup-index", s"$dir/dedup-ckpt", "doc_id", "text",
      s => survivors.synchronized { survivors ++= s.collect().map(_.getLong(0)) }
    )
    def startAnn() = AnnStream.start(
      changeDocs.select(col("id").as("vec_id"), col("embedding")),
      s"$dir/ann-index", s"$dir/ann-ckpt", "vec_id", "embedding", planes = 6, dim = 16
    )

    // phase 1: runAll snapshots then streams; dedup + ANN run beside it
    notes = mkNotes(6)
    writeFeed(1, Seq(5L, 6L), txid = 1L)
    val handles = GraftSync.runAll(
      Seq(sync), s"$dir/ckpt",
      changeFeed = _ => Some(Changes.fileStream(spark, feed))
    )
    val q1 = handles.head.get
    val d1 = startDedup()
    val a1 = startAnn()
    Seq(q1, d1, a1).foreach(_.processAllAvailable())
    Seq(q1, d1, a1).foreach(_.stop()) // the "crash"

    // phase 2: more data lands while everything is down
    notes = mkNotes(8)
    writeFeed(2, Seq(7L, 8L), txid = 2L)
    val q2 = sync.stream(Changes.fileStream(spark, feed), s"$dir/ckpt/notes")
    val d2 = startDedup()
    val a2 = startAnn()
    Seq(q2, d2, a2).foreach(_.processAllAvailable())
    Seq(q2, d2, a2).foreach(_.stop())

    // doc index: snapshot (1-4) + streamed inserts (5-8), batch 1 not replayed
    assert(sync.state.docs.collect().map(_.getString(0)).toSet == (1 to 8).map(_.toString).toSet)
    // dedup: texts cycle i%3 — streamed ids 5..8 hold 3 distinct digests,
    // first writer wins (8 duplicates 5's text), replays added nothing
    assert(survivors.toSet == Set(5L, 6L, 7L))
    val dedupIdx = spark.read.parquet(s"$dir/dedup-index")
      .collect().map(_.getAs[Long]("keep_id")).toSet
    assert(dedupIdx == Set(5L, 6L, 7L))
    // ANN: the appended index probes exactly like a batch rebuild over the
    // same streamed vectors
    val streamed = mkNotes(8).filter(_._1 >= 5L)
      .toDF("vec_id", "text", "embedding").drop("text")
    val queries = streamed.filter(col("vec_id") <= 6L)
    def rows(d: DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val probed = graft.ann.Ann.lshTopKIndexed(
      s"$dir/ann-index", queries, "vec_id", "embedding", 3, planes = 6, dim = 16)
    val rebuiltDir = graft.util.TempDirs.scratch("compose-ann-rebuild").toString
    graft.ann.Ann.writeLshIndex(streamed, rebuiltDir, "vec_id", "embedding", planes = 6, dim = 16)
    val rebuilt = graft.ann.Ann.lshTopKIndexed(
      rebuiltDir, queries, "vec_id", "embedding", 3, planes = 6, dim = 16)
    assert(rows(probed) == rows(rebuilt))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(rebuiltDir))
  }

  test("streaming BM25 CDC: appends and deletes from a change feed, restart mid-stream") {
    import graft.functions.Retrieval
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-bm25-stream").toString
    val texts = Map(
      1L -> "spark spark spark", 2L -> "spark filler filler", 3L -> "window join window",
      4L -> "spark spark other words", 5L -> "spark window spark", 6L -> "join join filler"
    )
    // seed with docs 1-4, stream CDC batches on top
    Retrieval.writeBm25Index(
      texts.filterKeys(_ <= 4L).toSeq.toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/index", buckets = 8)
    val stream = MemoryStream[(String, Long, String)]
    val changes = stream.toDF()
      .select(col("_1").as("tg_op"), col("_2").as("doc_id"), col("_3").as("text"))
    def startQ() = Bm25Stream.start(changes, s"$dir/index", s"$dir/ckpt", "doc_id", "text")
    // batch 1: two inserts, one delete
    val q1 = startQ()
    stream.addData(("INSERT", 5L, texts(5L)), ("INSERT", 6L, texts(6L)), ("DELETE", 2L, null))
    q1.processAllAvailable()
    q1.stop() // the "crash"
    // batch 2 lands after restart: update doc 1's text, delete doc 5
    val q2 = startQ()
    stream.addData(("UPDATE", 1L, "rewritten spark text"), ("DELETE", 5L, null))
    q2.processAllAvailable()
    q2.stop()
    // final live state: {1 (updated), 3, 4, 6} — probe equals a rebuild
    // bit-for-bit (stats and df must track deletes exactly)
    val queries = Seq((100L, "spark filler"), (200L, "window join")).toDF("qid", "qtext")
    val finalDocs = Seq(
      (1L, "rewritten spark text"), (3L, texts(3L)), (4L, texts(4L)), (6L, texts(6L))
    ).toDF("doc_id", "text")
    val rebuiltDir = s"$dir/rebuilt"
    Retrieval.writeBm25Index(finalDocs, "doc_id", "text", rebuiltDir, buckets = 8)
    def rows(p: String) =
      Retrieval.bm25TopKIndexedBatch(p, queries, "qid", "qtext", 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows(s"$dir/index") == rows(rebuiltDir))
    def stats(p: String) = spark.read.parquet(s"$p/_graft_stats")
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(stats(s"$dir/index") == stats(rebuiltDir))
    // at-least-once convergence: re-applying a batch changes nothing (the
    // delete-first protocol tombstones the earlier attempt's generation)
    val replay = Seq(("UPDATE", 1L, "rewritten spark text"), ("DELETE", 5L, null))
      .toDF("tg_op", "doc_id", "text")
    Bm25Stream.applyBatch(spark, replay, s"$dir/index", "doc_id", "text")
    assert(rows(s"$dir/index") == rows(rebuiltDir))
    assert(stats(s"$dir/index") == stats(rebuiltDir))
    // compaction over the mutated index preserves the probe
    val staged = s"$dir/compacted"
    Retrieval.compactBm25Index(spark, s"$dir/index", staged)
    assert(rows(staged) == rows(rebuiltDir))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("streaming BM25 CDC with auto-compaction: delete-heavy feed keeps the index tombstone-free") {
    import graft.functions.Retrieval
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-bm25-autocompact-stream").toString
    val seed = (1L to 10L).map(i => (i, s"spark doc$i shared words here")).toDF("doc_id", "text")
    Retrieval.writeBm25Index(seed, "doc_id", "text", s"$dir/index", buckets = 8)
    val stream = MemoryStream[(String, Long, String)]
    val changes = stream.toDF()
      .select(col("_1").as("tg_op"), col("_2").as("doc_id"), col("_3").as("text"))
    // a 0.3 dead-ratio policy: the 4-delete batch (4/10 dead) must trigger a
    // mid-stream compaction-and-swap; the next batch then mutates the
    // compacted index without noticing the swap happened
    val q = Bm25Stream.start(changes, s"$dir/index", s"$dir/ckpt", "doc_id", "text",
      autoCompactRatio = Some(0.3))
    stream.addData(("DELETE", 1L, null), ("DELETE", 2L, null), ("DELETE", 3L, null), ("DELETE", 4L, null))
    q.processAllAvailable()
    assert(!graft.sources.IndexState.hasTombstones(spark, s"$dir/index"),
      "delete-heavy batch must have compacted the tombstones away")
    stream.addData(("INSERT", 11L, "spark doc11 shared words here"), ("DELETE", 5L, null))
    q.processAllAvailable()
    q.stop()
    // final live docs {6..11}: probe equals a rebuild bit-for-bit
    val finalDocs = ((6L to 10L).map(i => (i, s"spark doc$i shared words here")) :+
      (11L, "spark doc11 shared words here")).toDF("doc_id", "text")
    Retrieval.writeBm25Index(finalDocs, "doc_id", "text", s"$dir/rebuilt", buckets = 8)
    val queries = Seq((100L, "spark shared")).toDF("qid", "qtext")
    def rows(p: String) =
      Retrieval.bm25TopKIndexedBatch(p, queries, "qid", "qtext", 20)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows(s"$dir/index") == rows(s"$dir/rebuilt"))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("streaming BM25 CDC auto-compaction: append-only feed keeps the pruned probe bounded") {
    import graft.functions.Retrieval
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-bm25-growth-stream").toString
    val seed = (1L to 4L).map(i => (i, s"spark doc$i shared words")).toDF("doc_id", "text")
    Retrieval.writeBm25Index(seed, "doc_id", "text", s"$dir/index", buckets = 8)
    def termdfMultiple(): Long = {
      val p = s"${graft.sources.IndexState.dataPath(spark, s"$dir/index")}/${Retrieval.TermDfDir}"
      spark.read.parquet(p)
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).collect()(0).getLong(0)
    }
    val stream = MemoryStream[(String, Long, String)]
    val changes = stream.toDF()
      .select(col("_1").as("tg_op"), col("_2").as("doc_id"), col("_3").as("text"))
    // a DELETE-FREE feed: the dead-ratio policy can never fire (no
    // tombstone ever exists), so only the impact-growth leg bounds the
    // pruned probe's per-term cap accumulation — multiple 3 means the hot
    // term 'spark' may carry at most 3 sidecar generations before the
    // auto-rewrite resets it to one, with no manual compaction call
    val q = Bm25Stream.start(changes, s"$dir/index", s"$dir/ckpt", "doc_id", "text",
      autoCompactRatio = Some(0.3), impactGrowthMultiple = 3.0)
    (10L to 17L).foreach { i =>
      stream.addData(("INSERT", i, s"spark doc$i fresh words"))
      q.processAllAvailable()
    }
    q.stop()
    assert(
      termdfMultiple() <= 3L,
      s"append-only feed must keep the hot term's sidecar multiple bounded, got ${termdfMultiple()}")
    // the auto-compacted index still answers exactly: pruned probe equals
    // the exact probe of the same index (every term is under the cap here)
    val queries = Seq((100L, "spark words")).toDF("qid", "qtext")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(
      rows(Retrieval.bm25TopKIndexedPrunedBatch(s"$dir/index", queries, "qid", "qtext", 20)) ==
        rows(Retrieval.bm25TopKIndexedBatch(s"$dir/index", queries, "qid", "qtext", 20)))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("streaming ANN CDC: deletes reach the probe surface, replay converges") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ann.Ann
    def mkVec(i: Long) =
      Array.tabulate(16)(j => (math.cos((i % 4) * 3 + j) + 0.05 * math.sin(i * 17 + j)).toFloat)
    val dir = graft.util.TempDirs.scratch("ann-cdc-stream").toString
    Ann.writeLshIndex(
      (0L until 40L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding"),
      s"$dir/index", "vec_id", "embedding", planes = 6, dim = 16)
    val stream = MemoryStream[(String, Long, Array[Float])]
    val changes = stream.toDF()
      .select(col("_1").as("tg_op"), col("_2").as("vec_id"), col("_3").as("embedding"))
    def startQ() = AnnStream.startCdc(
      changes, s"$dir/index", s"$dir/ckpt", "vec_id", "embedding", planes = 6, dim = 16)
    val q1 = startQ()
    stream.addData(
      (40L until 50L).map(i => ("INSERT", i, mkVec(i))) :+ (("DELETE", 1L, null)): _*)
    q1.processAllAvailable()
    q1.stop()
    val q2 = startQ()
    stream.addData(("UPDATE", 5L, mkVec(45L)), ("DELETE", 44L, null))
    q2.processAllAvailable()
    q2.stop()
    // final live state: 0..49 minus {1, 44}, with 5 carrying vec(45)
    val finalVecs = ((0L until 50L).filterNot(i => i == 1L || i == 44L))
      .map(i => (i, if (i == 5L) mkVec(45L) else mkVec(i))).toDF("vec_id", "embedding")
    val queries = finalVecs.filter(col("vec_id").isin(0L, 2L, 3L))
    def rows(p: String) =
      Ann.lshTopKIndexed(p, queries, "vec_id", "embedding", 5, planes = 6, dim = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val rebuiltDir = s"$dir/rebuilt"
    Ann.writeLshIndex(finalVecs, rebuiltDir, "vec_id", "embedding", planes = 6, dim = 16)
    assert(rows(s"$dir/index") == rows(rebuiltDir))
    // replaying the last batch converges (no duplicate rows, same probe)
    val replay = Seq(("UPDATE", 5L, mkVec(45L)), ("DELETE", 44L, null))
      .toDF("tg_op", "vec_id", "embedding")
    AnnStream.applyCdcBatch(replay, s"$dir/index", "vec_id", "embedding", 6, 16)
    assert(rows(s"$dir/index") == rows(rebuiltDir))
    // compaction keeps exactly one physical generation per live id
    val staged = s"$dir/compacted"
    Ann.compactLshIndex(spark, s"$dir/index", staged)
    assert(rows(staged) == rows(rebuiltDir))
    val ids = spark.read.parquet(staged).select("neighbor_id").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length, "compacted index must hold one row per live id")
    assert(!ids.contains(1L) && !ids.contains(44L))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("streaming PQ CDC: deletes reach the probe surface, auto-compaction, replay converges") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ann.Ann
    def mkVec(i: Long) =
      Array.tabulate(16)(j => (math.cos((i % 4) * 3 + j) + 0.05 * math.sin(i * 17 + j)).toFloat)
    val dir = graft.util.TempDirs.scratch("pq-cdc-stream").toString
    val seed = (0L until 40L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    // models are FROZEN at build time; appends encode under them (sidecar)
    val cells = Ann.trainIvfCells(seed, "vec_id", "embedding", nlists = 4)
    val books = Ann.pqTrain(seed, "vec_id", "embedding", m = 4, codeK = 8)
    Ann.writePqIndex(seed, s"$dir/index", "vec_id", "embedding", cells, books)
    val stream = MemoryStream[(String, Long, Array[Float])]
    val changes = stream.toDF()
      .select(col("_1").as("tg_op"), col("_2").as("vec_id"), col("_3").as("embedding"))
    def startQ() = AnnStream.startCdcPq(
      changes, s"$dir/index", s"$dir/ckpt", "vec_id", "embedding",
      autoCompactRatio = Some(0.03))
    val q1 = startQ()
    stream.addData(
      (40L until 50L).map(i => ("INSERT", i, mkVec(i))) :+ (("DELETE", 1L, null)): _*)
    q1.processAllAvailable()
    q1.stop()
    // the 0.03 policy must have compacted the batch's churn away mid-stream
    assert(!graft.sources.IndexState.hasTombstones(spark, s"$dir/index"))
    val q2 = startQ()
    stream.addData(("UPDATE", 5L, mkVec(45L)), ("DELETE", 44L, null))
    q2.processAllAvailable()
    q2.stop()
    assert(!graft.sources.IndexState.hasTombstones(spark, s"$dir/index"))
    // final live state: 0..49 minus {1, 44}, with 5 carrying vec(45) —
    // probe equals an index of the final state under the SAME frozen models
    val finalVecs = ((0L until 50L).filterNot(i => i == 1L || i == 44L))
      .map(i => (i, if (i == 5L) mkVec(45L) else mkVec(i))).toDF("vec_id", "embedding")
    val queries = finalVecs.filter(col("vec_id").isin(0L, 2L, 3L))
    def rows(p: String) =
      Ann.pqTopKIndexedResumed(p, queries, "vec_id", "embedding", 5, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuiltDir = s"$dir/rebuilt"
    Ann.writePqIndex(finalVecs, rebuiltDir, "vec_id", "embedding", cells, books)
    assert(rows(s"$dir/index") == rows(rebuiltDir))
    // replaying the last batch converges (delete-first tombstones the
    // earlier attempt's generation before re-appending)
    val replay = Seq(("UPDATE", 5L, mkVec(45L)), ("DELETE", 44L, null))
      .toDF("tg_op", "vec_id", "embedding")
    AnnStream.applyCdcPqBatch(replay, s"$dir/index", "vec_id", "embedding",
      autoCompactRatio = Some(0.03))
    assert(rows(s"$dir/index") == rows(rebuiltDir))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("streaming ANN ingest: appended micro-batches probe like a full rebuild") {
    implicit val sqlCtx = spark.sqlContext
    def mk(range: Range) = range.map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(16)(j => (math.cos(c * 3 + j) + 0.05 * math.sin(i * 17 + j)).toFloat))
    }
    val indexDir = graft.util.TempDirs.scratch("ann-stream-index").toString
    val ckpt = graft.util.TempDirs.scratch("ann-stream-ckpt").toString
    // seed the layout with a batch write, then stream two micro-batches in
    graft.ann.Ann.writeLshIndex(
      mk(0 until 40).toDF("vec_id", "embedding"), indexDir, "vec_id", "embedding",
      planes = 6, dim = 16)
    val stream = MemoryStream[(Long, Array[Float])]
    val vecs = stream.toDF().select(col("_1").as("vec_id"), col("_2").as("embedding"))
    val query = AnnStream.start(vecs, indexDir, ckpt, "vec_id", "embedding", planes = 6, dim = 16)
    stream.addData(mk(40 until 60): _*)
    query.processAllAvailable()
    stream.addData(mk(60 until 80): _*)
    query.processAllAvailable()
    query.stop()
    val all = mk(0 until 80).toDF("vec_id", "embedding")
    val queries = all.filter(col("vec_id") < 4)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val probed = graft.ann.Ann.lshTopKIndexed(
      indexDir, queries, "vec_id", "embedding", 5, planes = 6, dim = 16)
    val rebuilt = graft.ann.Ann.lshTopK(
      all, queries, "vec_id", "embedding", "vec_id", "embedding", 5, planes = 6, dim = 16)
    assert(rows(probed) == rows(rebuilt))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(indexDir))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(ckpt))
  }

  test("random BM25 CDC op sequences probe like a rebuild of the final corpus") {
    // the fixed-scenario spec above pins one op interleaving; this drives
    // random INSERT/UPDATE/DELETE batch sequences (one final op per id per
    // batch — the collapsed-feed contract) plus a replay of the last batch
    // through Bm25Stream.applyBatch, and asserts the exact-stats promise in
    // full generality: the mutated index's exact probe AND integer stats
    // equal a fresh rebuild of the final live corpus bit-for-bit, and the
    // pruned probe equals the exact probe after a compaction refreshes the
    // impact sidecars (caps not binding at this corpus size). Between
    // mutations and compaction the pruned probe's scores carry the
    // DOCUMENTED stale-high df drift — termdf deltas are append-only, so
    // deletes inflate df until compaction — which this test demonstrated
    // live before the compact step was added; only the post-compaction
    // equality is the contract.
    import graft.functions.Retrieval
    val rng = new scala.util.Random(34L)
    val vocab = Vector("spark", "window", "join", "filler", "stream", "batch", "index", "probe")
    def text(): String = Seq.fill(2 + rng.nextInt(9))(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val queries = Seq((100L, "spark filler"), (200L, "window join"), (300L, "probe stream batch"))
      .toDF("qid", "qtext")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def stats(p: String) = spark.read.parquet(s"$p/_graft_stats")
      .collect().map(r => (r.getLong(0), r.getLong(1))).head

    for (trial <- 0 until 2) {
      val dir = Files.createTempDirectory(s"graft-bm25-rand-$trial").toString
      var live = (1L to 12L).filter(_ => rng.nextBoolean()).map(_ -> text()).toMap
      Retrieval.writeBm25Index(live.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        s"$dir/index", buckets = 8)
      var lastBatch: Seq[(String, Long, String)] = Nil
      for (_ <- 0 until 4) {
        val touched = (1L to 12L).filter(_ => rng.nextInt(3) == 0)
        lastBatch = touched.map { id =>
          if (live.contains(id)) {
            if (rng.nextBoolean()) { live -= id; ("DELETE", id, null: String) }
            else { val t = text(); live += id -> t; ("UPDATE", id, t) }
          } else { val t = text(); live += id -> t; ("INSERT", id, t) }
        }
        if (lastBatch.nonEmpty)
          Bm25Stream.applyBatch(
            spark, lastBatch.toDF("tg_op", "doc_id", "text"), s"$dir/index", "doc_id", "text")
      }
      // at-least-once: the last delivered batch re-delivers whole
      if (lastBatch.nonEmpty)
        Bm25Stream.applyBatch(
          spark, lastBatch.toDF("tg_op", "doc_id", "text"), s"$dir/index", "doc_id", "text")

      val rebuilt = s"$dir/rebuilt"
      Retrieval.writeBm25Index(
        live.toSeq.toDF("doc_id", "text"), "doc_id", "text", rebuilt, buckets = 8)
      val exactMutated = rows(Retrieval.bm25TopKIndexedBatch(
        s"$dir/index", queries, "qid", "qtext", 10))
      assert(exactMutated == rows(Retrieval.bm25TopKIndexedBatch(
        rebuilt, queries, "qid", "qtext", 10)),
        s"trial $trial: mutated exact probe diverged from the rebuild (live=${live.keySet})")
      assert(stats(s"$dir/index") == stats(rebuilt),
        s"trial $trial: integer stats drifted (live=${live.keySet})")
      if (live.nonEmpty) {
        val compacted = s"$dir/compacted"
        Retrieval.compactBm25Index(spark, s"$dir/index", compacted)
        assert(rows(Retrieval.bm25TopKIndexedBatch(
          compacted, queries, "qid", "qtext", 10)) == exactMutated,
          s"trial $trial: compaction changed the exact probe")
        assert(rows(Retrieval.bm25TopKIndexedPrunedBatch(
          compacted, queries, "qid", "qtext", 10)) == exactMutated,
          s"trial $trial: pruned != exact after compaction")
      }
      graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
    }
  }

  test("random ANN CDC op sequences probe like a rebuild of the final vectors") {
    // LSH analogue of the random BM25 property: the hyperplane family is
    // deterministic, so the mutated index's probe surface must equal a
    // fresh index over exactly the surviving vectors — for any random
    // INSERT/UPDATE/DELETE batch sequence and a last-batch replay, and
    // still after compaction (which must also leave one physical row per
    // live id)
    import graft.ann.Ann
    val rng = new scala.util.Random(56L)
    def vec(v: Long) =
      Array.tabulate(16)(j => (math.cos((v % 5) * 3 + j) + 0.05 * math.sin(v * 13 + j)).toFloat)
    def rows(p: String, queries: DataFrame) =
      Ann.lshTopKIndexed(p, queries, "vec_id", "embedding", 5, planes = 6, dim = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    for (trial <- 0 until 2) {
      val dir = graft.util.TempDirs.scratch(s"ann-cdc-rand-$trial").toString
      // version counter: an UPDATE re-embeds the doc with a new vector
      var version = Map.empty[Long, Long]
      var live = Set.empty[Long]
      (0L until 30L).foreach { i =>
        if (rng.nextBoolean()) { live += i; version += i -> i }
      }
      def cur(i: Long) = vec(version(i))
      Ann.writeLshIndex(
        live.toSeq.sorted.map(i => (i, cur(i))).toDF("vec_id", "embedding"),
        s"$dir/index", "vec_id", "embedding", planes = 6, dim = 16)
      var lastBatch: Seq[(String, Long, Array[Float])] = Nil
      for (b <- 0 until 4) {
        val touched = (0L until 30L).filter(_ => rng.nextInt(3) == 0)
        lastBatch = touched.map { i =>
          if (live.contains(i)) {
            if (rng.nextBoolean()) { live -= i; ("DELETE", i, null: Array[Float]) }
            else { version += i -> (version(i) + 31L * (b + 1)); ("UPDATE", i, cur(i)) }
          } else { live += i; version += i -> (i + 31L * (b + 1)); ("INSERT", i, cur(i)) }
        }
        if (lastBatch.nonEmpty)
          AnnStream.applyCdcBatch(
            lastBatch.toDF("tg_op", "vec_id", "embedding"),
            s"$dir/index", "vec_id", "embedding", 6, 16)
      }
      if (lastBatch.nonEmpty)
        AnnStream.applyCdcBatch(
          lastBatch.toDF("tg_op", "vec_id", "embedding"),
          s"$dir/index", "vec_id", "embedding", 6, 16)

      val finalVecs = live.toSeq.sorted.map(i => (i, cur(i))).toDF("vec_id", "embedding")
      val queries = finalVecs.limit(4)
      val rebuilt = s"$dir/rebuilt"
      Ann.writeLshIndex(finalVecs, rebuilt, "vec_id", "embedding", planes = 6, dim = 16)
      assert(rows(s"$dir/index", queries) == rows(rebuilt, queries),
        s"trial $trial: mutated LSH probe diverged from the rebuild (live=$live)")
      if (live.nonEmpty) {
        val staged = s"$dir/compacted"
        Ann.compactLshIndex(spark, s"$dir/index", staged)
        assert(rows(staged, queries) == rows(rebuilt, queries),
          s"trial $trial: compaction changed the probe")
        val ids = spark.read.parquet(staged).select("neighbor_id").collect().map(_.getLong(0))
        assert(ids.length == ids.distinct.length && ids.toSet == live,
          s"trial $trial: compacted rows != live set")
      }
      graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
    }
  }

  test("random PQ CDC op sequences probe like a same-model rebuild") {
    // IVF-PQ analogue of the random LSH property: cells and codebooks are
    // FROZEN at the seed build (appends encode under them), so the mutated
    // index's probe surface must equal a fresh same-model index over the
    // surviving vectors for any random op history with replay — with the
    // auto-compaction policy firing mid-history whenever churn crosses it
    import graft.ann.Ann
    val rng = new scala.util.Random(90L)
    def vec(v: Long) =
      Array.tabulate(16)(j => (math.cos((v % 5) * 3 + j) + 0.05 * math.sin(v * 13 + j)).toFloat)
    for (trial <- 0 until 2) {
      val dir = graft.util.TempDirs.scratch(s"pq-cdc-rand-$trial").toString
      var version = Map.empty[Long, Long]
      var live = Set.empty[Long]
      (0L until 30L).foreach { i =>
        if (rng.nextBoolean()) { live += i; version += i -> i }
      }
      def cur(i: Long) = vec(version(i))
      val seed = live.toSeq.sorted.map(i => (i, cur(i))).toDF("vec_id", "embedding")
      val cells = Ann.trainIvfCells(seed, "vec_id", "embedding", nlists = 4)
      val books = Ann.pqTrain(seed, "vec_id", "embedding", m = 4, codeK = 8)
      Ann.writePqIndex(seed, s"$dir/index", "vec_id", "embedding", cells, books)
      var lastBatch: Seq[(String, Long, Array[Float])] = Nil
      for (b <- 0 until 4) {
        val touched = (0L until 30L).filter(_ => rng.nextInt(3) == 0)
        lastBatch = touched.map { i =>
          if (live.contains(i)) {
            if (rng.nextBoolean()) { live -= i; ("DELETE", i, null: Array[Float]) }
            else { version += i -> (version(i) + 31L * (b + 1)); ("UPDATE", i, cur(i)) }
          } else { live += i; version += i -> (i + 31L * (b + 1)); ("INSERT", i, cur(i)) }
        }
        if (lastBatch.nonEmpty)
          AnnStream.applyCdcPqBatch(
            lastBatch.toDF("tg_op", "vec_id", "embedding"),
            s"$dir/index", "vec_id", "embedding", autoCompactRatio = Some(0.1))
      }
      if (lastBatch.nonEmpty)
        AnnStream.applyCdcPqBatch(
          lastBatch.toDF("tg_op", "vec_id", "embedding"),
          s"$dir/index", "vec_id", "embedding", autoCompactRatio = Some(0.1))

      val finalVecs = live.toSeq.sorted.map(i => (i, cur(i))).toDF("vec_id", "embedding")
      if (live.nonEmpty) {
        val queries = finalVecs.limit(4)
        def rows(p: String) =
          Ann.pqTopKIndexedResumed(p, queries, "vec_id", "embedding", 5, nprobe = 4)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val rebuilt = s"$dir/rebuilt"
        Ann.writePqIndex(finalVecs, rebuilt, "vec_id", "embedding", cells, books)
        assert(rows(s"$dir/index") == rows(rebuilt),
          s"trial $trial: mutated PQ probe diverged from the same-model rebuild (live=$live)")
      }
      graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
    }
  }

  test("random dedup-stream sequences: index state equals the delivery-order model") {
    // fourth maintenance family under a random-history generator: random
    // insert batches from a small text pool (within-batch dups, cross-batch
    // dups, nulls) with a random batch re-delivered; the external index
    // must end exactly at the model state — for each digest, the min id of
    // the FIRST delivered batch containing it — and the replay must be a
    // zero-survivor no-op
    val rng = new scala.util.Random(78L)
    val pool = Vector("alpha", "beta", "gamma", "delta", "epsilon")
    for (trial <- 0 until 2) {
      val dir = Files.createTempDirectory(s"graft-dedup-rand-$trial").toString
      var model = Map.empty[String, Long] // digest-text -> first-winner id
      var nextId = 0L
      var lastBatch: Seq[(Long, String)] = Nil
      for (_ <- 0 until 4) {
        lastBatch = (0 until (1 + rng.nextInt(6))).map { _ =>
          val t = if (rng.nextInt(8) == 0) null else pool(rng.nextInt(pool.size))
          nextId += 1
          (nextId, t)
        }
        val fresh = lastBatch.filter(_._2 != null).groupBy(_._2)
          .collect { case (t, rows) if !model.contains(t) => t -> rows.map(_._1).min }
        model ++= fresh
        val n = DedupStream.applyBatch(
          spark, lastBatch.toDF("doc_id", "text"), s"$dir/index", "doc_id", "text", _ => ())
        assert(n == fresh.size, s"trial $trial: survivor count != new-digest count")
      }
      // at-least-once: the last batch re-delivers whole; every digest is
      // now stored, so zero new survivors and no index mutation
      val replayN = DedupStream.applyBatch(
        spark, lastBatch.toDF("doc_id", "text"), s"$dir/index", "doc_id", "text", _ => ())
      assert(replayN == 0L, s"trial $trial: replay added digests")
      val idx = spark.read.parquet(s"$dir/index")
        .collect().map(r => r.getAs[Long]("keep_id")).toSet
      assert(idx == model.values.toSet,
        s"trial $trial: index $idx != model ${model.values.toSet}")
      graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
    }
  }
}
