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
    val h = new PipelineHarness(spark, "doc", "doc_id", Seq((0L, "zero")).toDF("doc_id", "text"))
    val dir = h.dir
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val p = h.pipeline(SyncPipeline.DedupConsumer(s"$dir/index", "text",
      survivors => emitted.synchronized {
        emitted ++= survivors.collect().map(r => (r.getLong(0), r.getString(1)))
      }))
    p.seed()
    assert(emitted.toSet == Set((0L, "zero")))
    emitted.clear()
    val query = h.start(p)
    // batch 1: within-batch dup (1,3 same text) → canonical min id survives
    h.rows = Seq((0L, "zero"), (1L, "alpha"), (2L, "beta"), (3L, "alpha")).toDF("doc_id", "text")
    h.land(("INSERT", 1L), ("INSERT", 2L), ("INSERT", 3L))
    query.processAllAvailable()
    assert(emitted.toSet == Set((1L, "alpha"), (2L, "beta")))
    // batch 2: cross-batch dup (alpha again) dropped, new text survives
    emitted.clear()
    h.rows = Seq((0L, "zero"), (1L, "alpha"), (2L, "beta"), (3L, "alpha"), (4L, "alpha"), (5L, "gamma"))
      .toDF("doc_id", "text")
    h.land(("INSERT", 4L), ("INSERT", 5L))
    query.processAllAvailable()
    assert(emitted.toSet == Set((5L, "gamma")))
    query.stopAll()
    // the index holds one row per distinct digest, canonical ids
    val idx = spark.read.parquet(s"$dir/index")
      .collect().map(r => r.getAs[Long]("keep_id")).toSet
    assert(idx == Set(0L, 1L, 2L, 5L))
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
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
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
    // seed notes carry distinct texts; streamed notes cycle through three
    def mkNotes(n: Int) = (1 to n).map { i =>
      (i.toLong, if (i <= 4) s"seed note $i" else s"note text ${i % 3}",
        Array.tabulate(16)(j => (math.cos((i % 4) * 3 + j) + 0.05 * math.sin(i * 17 + j)).toFloat))
    }
    def noteDf(n: Int) = mkNotes(n).toDF("id", "text", "embedding")
    val h = new PipelineHarness(spark, "note", "id", noteDf(4), Seq("id", "text"))
    val (dir, sync) = (h.dir, h.sync)

    // all three queries read THE SAME feed, each with its own checkpoint
    val survivors = scala.collection.mutable.ArrayBuffer.empty[Long]
    def pipeline = h.pipeline(
      SyncPipeline.DedupConsumer(s"$dir/dedup-index", "text",
        s => survivors.synchronized { survivors ++= s.collect().map(_.getLong(0)) }),
      SyncPipeline.AnnLshConsumer(s"$dir/ann-index", "embedding", planes = 6, dim = 16))
    pipeline.seed()
    assert(survivors.toSet == (1L to 4L).toSet)
    survivors.clear()

    // phase 1: two inserts stream through every query, then the "crash"
    h.rows = noteDf(6)
    h.land(("INSERT", 5L), ("INSERT", 6L))
    h.run(pipeline)

    // phase 2: more data lands while everything is down
    h.rows = noteDf(8)
    h.land(("INSERT", 7L), ("INSERT", 8L))
    h.run(pipeline)

    // doc index: snapshot (1-4) + streamed inserts (5-8), batch 1 not replayed
    assert(sync.state.docs.collect().map(_.getString(0)).toSet == (1 to 8).map(_.toString).toSet)
    // dedup: streamed texts cycle i%3 — ids 5..8 hold 3 distinct digests,
    // first writer wins (8 duplicates 5's text), replays added nothing
    assert(survivors.toSet == Set(5L, 6L, 7L))
    val dedupIdx = spark.read.parquet(s"$dir/dedup-index")
      .collect().map(_.getAs[Long]("keep_id")).toSet
    assert(dedupIdx == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    // ANN: the maintained index probes exactly like a batch rebuild over
    // the same vectors
    val all = noteDf(8).drop("text")
    val queries = all.filter(col("id").isin(5L, 6L))
    def rows(d: DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val probed = graft.ann.Ann.lshTopKIndexed(
      s"$dir/ann-index", queries, "id", "embedding", 3, planes = 6, dim = 16)
    graft.ann.Ann.writeLshIndex(all, s"$dir/ann-rebuilt", "id", "embedding", planes = 6, dim = 16)
    val rebuilt = graft.ann.Ann.lshTopKIndexed(
      s"$dir/ann-rebuilt", queries, "id", "embedding", 3, planes = 6, dim = 16)
    assert(rows(probed) == rows(rebuilt))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("streaming BM25 CDC: appends and deletes from a change feed, restart mid-stream") {
    import graft.functions.Retrieval
    val texts = Map(
      1L -> "spark spark spark", 2L -> "spark filler filler", 3L -> "window join window",
      4L -> "spark spark other words", 5L -> "spark window spark", 6L -> "join join filler"
    )
    def docs(ids: Long*) = ids.map(i => (i, texts(i))).toDF("doc_id", "text")
    // seed with docs 1-4, stream CDC batches on top
    val h = new PipelineHarness(spark, "doc", "doc_id", docs(1L, 2L, 3L, 4L))
    val dir = h.dir
    def pipeline = h.pipeline(SyncPipeline.Bm25Consumer(s"$dir/index", "text", buckets = 8))
    pipeline.seed()
    // batch 1: two inserts, one delete; then the "crash"
    h.rows = docs(1L, 3L, 4L, 5L, 6L)
    h.land(("INSERT", 5L), ("INSERT", 6L), ("DELETE", 2L))
    h.run(pipeline)
    // batch 2 lands for the restart: update doc 1's text, delete doc 5
    val finalDocs = Seq(
      (1L, "rewritten spark text"), (3L, texts(3L)), (4L, texts(4L)), (6L, texts(6L))
    ).toDF("doc_id", "text")
    h.rows = finalDocs
    h.land(("UPDATE", 1L), ("DELETE", 5L))
    h.run(pipeline)
    // final live state: {1 (updated), 3, 4, 6} — probe equals a rebuild
    // bit-for-bit (stats and df must track deletes exactly)
    val queries = Seq((100L, "spark filler"), (200L, "window join")).toDF("qid", "qtext")
    val rebuiltDir = s"$dir/rebuilt"
    Retrieval.writeBm25Index(finalDocs, "doc_id", "text", rebuiltDir, buckets = 8)
    def rows(p: String) =
      Retrieval.bm25TopKIndexedBatch(p, queries, "qid", "qtext", 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows(s"$dir/index") == rows(rebuiltDir))
    def stats(p: String) = {
      val c = graft.sources.IndexState.open(spark, p)._2.counters
      (c.nDocs, c.dlSum)
    }
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
    def docs(ids: Seq[Long]) = ids.map(i => (i, s"spark doc$i shared words here")).toDF("doc_id", "text")
    val h = new PipelineHarness(spark, "doc", "doc_id", docs(1L to 10L))
    val dir = h.dir
    // a 0.3 dead-ratio policy: the 4-delete batch (4/10 dead) must trigger a
    // mid-stream compaction-and-swap; the next batch then mutates the
    // compacted index without noticing the swap happened
    val p = h.pipeline(
      SyncPipeline.Bm25Consumer(s"$dir/index", "text", buckets = 8, autoCompactRatio = Some(0.3)))
    p.seed()
    val q = h.start(p)
    h.rows = docs(5L to 10L)
    h.land(("DELETE", 1L), ("DELETE", 2L), ("DELETE", 3L), ("DELETE", 4L))
    q.processAllAvailable()
    assert(!graft.sources.IndexState.hasTombstones(spark, s"$dir/index"),
      "delete-heavy batch must have compacted the tombstones away")
    // final live docs {6..11}: probe equals a rebuild bit-for-bit
    val finalDocs = docs(6L to 11L)
    h.rows = finalDocs
    h.land(("INSERT", 11L), ("DELETE", 5L))
    q.processAllAvailable()
    q.stopAll()
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
    val seed = (1L to 4L).map(i => (i, s"spark doc$i shared words"))
    val h = new PipelineHarness(spark, "doc", "doc_id", seed.toDF("doc_id", "text"))
    val dir = h.dir
    def termdfMultiple(): Long = {
      val p = s"${graft.sources.IndexState.dataPath(spark, s"$dir/index")}/${Retrieval.TermDfDir}"
      spark.read.parquet(p)
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).collect()(0).getLong(0)
    }
    // a DELETE-FREE feed: the dead-ratio policy can never fire (no
    // tombstone ever exists), so only the impact-growth leg bounds the
    // pruned probe's per-term cap accumulation — multiple 3 means the hot
    // term 'spark' may carry at most 3 sidecar generations before the
    // auto-rewrite resets it to one, with no manual compaction call
    val p = h.pipeline(SyncPipeline.Bm25Consumer(s"$dir/index", "text", buckets = 8,
      autoCompactRatio = Some(0.3), impactGrowthMultiple = 3.0))
    p.seed()
    val q = h.start(p)
    (10L to 17L).foreach { i =>
      h.rows = (seed ++ (10L to i).map(j => (j, s"spark doc$j fresh words"))).toDF("doc_id", "text")
      h.land(("INSERT", i))
      q.processAllAvailable()
    }
    q.stopAll()
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
    import graft.ann.Ann
    def mkVec(i: Long) =
      Array.tabulate(16)(j => (math.cos((i % 4) * 3 + j) + 0.05 * math.sin(i * 17 + j)).toFloat)
    def vecs(ids: Seq[Long]) = ids.map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val h = new PipelineHarness(spark, "vec", "vec_id", vecs(0L until 40L))
    val dir = h.dir
    def pipeline =
      h.pipeline(SyncPipeline.AnnLshConsumer(s"$dir/index", "embedding", planes = 6, dim = 16))
    pipeline.seed()
    h.rows = vecs((0L until 50L).filterNot(_ == 1L))
    h.land((40L until 50L).map(i => ("INSERT", i)) :+ (("DELETE", 1L)): _*)
    h.run(pipeline)
    // final live state: 0..49 minus {1, 44}, with 5 carrying vec(45)
    val finalVecs = ((0L until 50L).filterNot(i => i == 1L || i == 44L))
      .map(i => (i, if (i == 5L) mkVec(45L) else mkVec(i))).toDF("vec_id", "embedding")
    h.rows = finalVecs
    h.land(("UPDATE", 5L), ("DELETE", 44L))
    h.run(pipeline)
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
    AnnStream.applyCdcBatchResumed(replay, s"$dir/index", "vec_id", "embedding")
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
    import graft.ann.Ann
    def mkVec(i: Long) =
      Array.tabulate(16)(j => (math.cos((i % 4) * 3 + j) + 0.05 * math.sin(i * 17 + j)).toFloat)
    def vecs(ids: Seq[Long]) = ids.map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val seed = vecs(0L until 40L)
    val h = new PipelineHarness(spark, "vec", "vec_id", seed)
    val dir = h.dir
    // models are TRAINED at seed and FROZEN; appends encode under them
    // (sidecar). The same training here gives the rebuild the same models.
    val cells = Ann.trainIvfCells(seed, "vec_id", "embedding", nlists = 4)
    val books = Ann.pqTrain(seed, "vec_id", "embedding", m = 4, codeK = 8)
    def pipeline = h.pipeline(SyncPipeline.AnnPqConsumer(
      s"$dir/index", "embedding", nlists = 4, m = 4, codeK = 8, autoCompactRatio = Some(0.03)))
    pipeline.seed()
    h.rows = vecs((0L until 50L).filterNot(_ == 1L))
    h.land((40L until 50L).map(i => ("INSERT", i)) :+ (("DELETE", 1L)): _*)
    h.run(pipeline)
    // the 0.03 policy must have compacted the batch's churn away mid-stream
    assert(!graft.sources.IndexState.hasTombstones(spark, s"$dir/index"))
    // final live state: 0..49 minus {1, 44}, with 5 carrying vec(45) —
    // probe equals an index of the final state under the SAME frozen models
    val finalVecs = ((0L until 50L).filterNot(i => i == 1L || i == 44L))
      .map(i => (i, if (i == 5L) mkVec(45L) else mkVec(i))).toDF("vec_id", "embedding")
    h.rows = finalVecs
    h.land(("UPDATE", 5L), ("DELETE", 44L))
    h.run(pipeline)
    assert(!graft.sources.IndexState.hasTombstones(spark, s"$dir/index"))
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
    def mk(range: Range) = range.map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(16)(j => (math.cos(c * 3 + j) + 0.05 * math.sin(i * 17 + j)).toFloat))
    }
    // seed the layout from the source table, then stream two insert batches in
    val h = new PipelineHarness(spark, "vec", "vec_id", mk(0 until 40).toDF("vec_id", "embedding"))
    val indexDir = s"${h.dir}/index"
    val p = h.pipeline(SyncPipeline.AnnLshConsumer(indexDir, "embedding", planes = 6, dim = 16))
    p.seed()
    val query = h.start(p)
    for (batch <- Seq(40 until 60, 60 until 80)) {
      h.rows = mk(0 until batch.end).toDF("vec_id", "embedding")
      h.land(batch.map(i => ("INSERT", i.toLong)): _*)
      query.processAllAvailable()
    }
    query.stopAll()
    val all = mk(0 until 80).toDF("vec_id", "embedding")
    val queries = all.filter(col("vec_id") < 4)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val probed = graft.ann.Ann.lshTopKIndexed(
      indexDir, queries, "vec_id", "embedding", 5, planes = 6, dim = 16)
    val rebuilt = graft.ann.Ann.lshTopK(
      all, queries, "vec_id", "embedding", "vec_id", "embedding", 5, planes = 6, dim = 16)
    assert(rows(probed) == rows(rebuilt))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(h.dir))
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
    def stats(p: String) = {
      val c = graft.sources.IndexState.open(spark, p)._2.counters
      (c.nDocs, c.dlSum)
    }

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
          AnnStream.applyCdcBatchResumed(
            lastBatch.toDF("tg_op", "vec_id", "embedding"),
            s"$dir/index", "vec_id", "embedding")
      }
      if (lastBatch.nonEmpty)
        AnnStream.applyCdcBatchResumed(
          lastBatch.toDF("tg_op", "vec_id", "embedding"),
          s"$dir/index", "vec_id", "embedding")

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

  test("random BM25/LSH CDC batches persist the same state on the fused and distributed tiers") {
    // every two-tier path is tested on both tiers: one seeded BM25 and one
    // LSH index, random INSERT/UPDATE/DELETE batches (re-adds, deletes of
    // never-indexed ids, a re-delivered last batch) through
    // SyncPipeline.applyBatch — on the distributed tier (threshold 0: no
    // batch fits the literal tier) and on the default, driver-fused one,
    // ending with a 300-insert batch whose shared term overflows the
    // per-term impact cap (ties in imp_micro broken by id). Persisted state
    // and probes must be identical.
    import graft.{Tuning, TwoTier}
    import graft.ann.Ann
    import graft.functions.Retrieval
    import graft.sources.IndexState
    import org.scalacheck.Gen
    val vocab = Vector("spark", "window", "join", "filler", "stream", "batch", "index", "probe")
    def text(c: Int): String =
      if (c >= 10000) ("spark" +: Seq.fill(c % 7)("filler")).mkString(" ")
      else {
        val r = new scala.util.Random(c)
        Seq.fill(1 + r.nextInt(8))(vocab(r.nextInt(vocab.size))).mkString(" ")
      }
    def vec(c: Int) = Array.tabulate(8)(j => math.cos(c * 0.7 + j * 1.3).toFloat)
    def source(live: Map[Long, Int]) =
      live.toSeq.sortBy(_._1).map { case (i, c) => (i, text(c), vec(c)) }.toDF("id", "text", "embedding")
    // a batch: distinct ids, each an upsert (op 0/1) or a delete (op 2) with a content seed
    val batchGen = Gen.listOf(Gen.zip(Gen.chooseNum(1L, 12L), Gen.chooseNum(0, 2), Gen.chooseNum(0, 999)))
      .map(_.distinctBy(_._1))
    val caseGen = Gen.zip(
      Gen.listOfN(6, Gen.zip(Gen.chooseNum(1L, 12L), Gen.chooseNum(0, 999))).map(_.toMap),
      Gen.listOfN(4, batchGen))
    val params = Gen.Parameters.default.withSize(6)
    val queries = Seq((100L, "spark filler"), (200L, "window join probe")).toDF("qid", "qtext")
    val vecQueries = Seq((1L, vec(3)), (2L, vec(500))).toDF("qid", "embedding")

    val overCap = (100L until 400L).map(i => (i, 0, 10000 + i.toInt)).toList
    (0 until 2).flatMap(i => caseGen(params, org.scalacheck.rng.Seed(23L + i))).foreach {
      case (seeded, random) =>
        val batches = random :+ overCap
        val states = batches.scanLeft(seeded) { (live, b) =>
          b.foldLeft(live) { case (m, (i, op, c)) => if (op == 2) m - i else m + (i -> c) }
        }
        def events(before: Map[Long, Int], b: List[(Long, Int, Int)]) = b.map { case (i, op, _) =>
          (if (op == 2) "DELETE" else if (before.contains(i)) "UPDATE" else "INSERT", i)
        }
        def run(tuning: Tuning): PipelineHarness = {
          val h = new PipelineHarness(spark, "note", "id", source(seeded), tuning = tuning)
          val p = h.pipeline(
            SyncPipeline.Bm25Consumer(s"${h.dir}/bm25", "text", buckets = 4),
            SyncPipeline.AnnLshConsumer(s"${h.dir}/lsh", "embedding", planes = 4, dim = 8))
          p.seed()
          val delivered = batches.indices.filter(batches(_).nonEmpty).map { k =>
            h.rows = source(states(k + 1))
            p.applyBatch(h.batch(events(states(k), batches(k)): _*))
            k
          }
          // at-least-once: the last delivered batch again, at the final state
          delivered.lastOption.foreach(k => p.applyBatch(h.batch(events(states(k), batches(k)): _*)))
          h
        }
        def rowsOf(df: DataFrame): Set[Seq[Any]] =
          df.collect().map(_.toSeq.map {
            case a: scala.collection.Seq[_] => a.toList
            case x => x
          }).toSet
        // every kind of file through the log head, tombstoned rows
        // subtracted from the kinds that carry ids
        def logged(index: String, kind: String, idCol: Option[String]): Set[Seq[Any]] = {
          val (data, head) = IndexState.open(spark, index)
          if (!head.has(kind)) Set.empty
          else {
            val rows = head.scan(spark, data, kind)
            rowsOf(idCol.fold(rows)(IndexState.visibleUnder(rows, data, head, _)))
          }
        }
        def state(h: PipelineHarness): Map[String, Any] = {
          val (bm25, lsh) = (s"${h.dir}/bm25", s"${h.dir}/lsh")
          Map(
            "bm25 seq" -> IndexState.open(spark, bm25)._2.seq,
            "bm25 counters" -> IndexState.open(spark, bm25)._2.counters,
            "bm25 tombstones" -> logged(bm25, "tombstones", None),
            "postings" -> logged(bm25, "postings", Some("id")),
            "doclens" -> logged(bm25, "doclens", Some("id")),
            "impacts" -> logged(bm25, "impacts", Some("id")),
            "termdf" -> logged(bm25, "termdf", None),
            "bm25 probe" -> rowsOf(Retrieval.bm25TopKIndexedPrunedBatch(bm25, queries, "qid", "qtext", 10)),
            "lsh seq" -> IndexState.open(spark, lsh)._2.seq,
            "lsh tombstones" -> logged(lsh, "tombstones", None),
            "lsh rows" -> logged(lsh, "vectors", Some("neighbor_id")),
            "lsh probe" -> rowsOf(Ann.lshTopKIndexed(lsh, vecQueries, "qid", "embedding", 5, planes = 4, dim = 8)))
        }
        TwoTier.assertSame(
          { tuning =>
            val h = run(tuning)
            try state(h) finally graft.util.TempDirs.delete(java.nio.file.Paths.get(h.dir))
          },
          s"random batches=$random")
    }
  }

  test("fused tier layout: one file per hit bucket per sidecar; never-indexed inserts leave no tombstone") {
    import graft.ann.Ann
    import graft.functions.{Retrieval, VectorFunctions}
    import graft.sources.IndexState
    import java.io.File
    val dir = graft.util.TempDirs.scratch("fused-layout").toString
    val (bm25, lsh) = (s"$dir/bm25", s"$dir/lsh")
    def vec(i: Long) = Array.tabulate(8)(j => math.sin(i * 1.9 + j).toFloat)
    val seed = (1L to 4L).map(i => (i, s"seed words number$i", vec(i))).toDF("id", "text", "embedding")
    Retrieval.writeBm25Index(seed, "id", "text", bm25, buckets = 8)
    Ann.writeLshIndex(seed, lsh, "id", "embedding", planes = 4, dim = 8)
    // one local batch of never-indexed INSERTs (the SyncPipeline literal tier)
    val batch = (10L to 15L).map(i => ("INSERT", i, s"fresh spark words tok$i", vec(i)))
      .toDF("tg_op", "id", "text", "embedding")
    def parts(root: String): Map[String, Set[String]] =
      Option(new File(root).listFiles()).toSeq.flatten.filter(_.getName.contains("=")).map { d =>
        d.getName -> d.listFiles().map(_.getName).filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSet
      }.toMap
    val roots = Map(
      "postings" -> bm25, "doclens" -> s"$bm25/_graft_doclens", "impacts" -> s"$bm25/${Retrieval.ImpactsDir}",
      "termdf" -> s"$bm25/${Retrieval.TermDfDir}", "lsh" -> lsh)
    val before = roots.map { case (k, r) => k -> parts(r) }

    // the driver-fused tier runs a bounded number of Spark jobs per batch
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach(jobs.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      def group(name: String)(f: => Unit): Unit = {
        sc.setJobGroup(name, name)
        try f finally sc.clearJobGroup()
      }
      group("fused-bm25")(Bm25Stream.applyTier(spark, batch, bm25, "id", "text", None, 64.0, fused = true))
      group("fused-lsh")(AnnStream.applyLshTier(batch, lsh, "id", "embedding", None, fused = true))
      group("marker")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      val counts = jobs.toArray.toSeq.groupBy(identity).map { case (g, js) => g -> js.size }
      // BM25: one doclens read (the log head is read on the driver), then
      // the postings, doclens, impacts and termdf writes — no tombstone,
      // nothing of the batch is live
      assert(counts.getOrElse("fused-bm25", 0) <= 5, counts)
      // LSH: the model read (the first since the build), then the
      // tombstone and bucket-row writes
      assert(counts.getOrElse("fused-lsh", 0) <= 3, counts)
    } finally sc.removeSparkListener(listener)

    // the buckets the batch hits, by the same expressions the writers use
    def hit(c: org.apache.spark.sql.Column, df: DataFrame): Set[String] =
      df.select(c).distinct().collect().map(_.get(0).toString).toSet
    val terms = batch.select(explode(split(col("text"), " ")).as("term"))
    val termBuckets = hit(pmod(xxhash64(col("term")), lit(8L)), terms).map("bucket=" + _)
    val want = Map(
      "postings" -> termBuckets, "impacts" -> termBuckets, "termdf" -> termBuckets,
      "doclens" -> hit(pmod(xxhash64(col("id")), lit(8L)), batch).map("dbucket=" + _),
      "lsh" -> hit(VectorFunctions.hyperplaneBucket(col("embedding"), 4, 8), batch).map("bucket=" + _))
    roots.foreach { case (k, r) =>
      val added = parts(r).map { case (b, fs) => b -> (fs -- before(k).getOrElse(b, Set.empty)) }.filter(_._2.nonEmpty)
      assert(added.keySet == want(k), s"$k: buckets written ${added.keySet}, hit ${want(k)}")
      added.foreach { case (b, fs) =>
        assert(fs.size == 1, s"$k/$b: ${fs.size} new files")
        assert(spark.read.parquet(s"$r/$b/${fs.head}").count() > 0, s"$k/$b: empty file")
      }
    }
    // never-indexed ids: the BM25 delete leg finds nothing live, so no
    // tombstone and one seq number; the LSH delete leg tombstones every
    // batch id (it cannot see liveness without scanning every bucket), and
    // both of its seq numbers land in one log entry
    assert(!new File(s"$bm25/${IndexState.TombstoneDir}").exists())
    def log(p: String) = new File(s"$p/${graft.sources.IndexLog.Dir}").list().filterNot(_.startsWith(".")).toSet
    assert(IndexState.open(spark, bm25)._2.seq == 1L && log(bm25) == Set("0", "1"))
    assert(IndexState.open(spark, lsh)._2.seq == 2L && log(lsh) == Set("0", "2"))
    assert(IndexState.tombstoneCount(spark, lsh) == 6L)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
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
