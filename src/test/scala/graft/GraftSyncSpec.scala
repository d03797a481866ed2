package graft

import graft.catalog.{Catalog, ForeignKey, TableMeta}
import graft.cdc.Changes
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The user-facing facade: construct-from-schema-document → snapshot →
  * incremental, with P8 schema filtering and C9 base-table → view-node
  * remapping (`pgsync/sync.py:1843-1852`).
  */
class GraftSyncSpec extends SparkSpec {
  import spark.implicits._

  private val cat = Catalog(
    Map(
      "order_summary" -> TableMeta("order_summary", Seq("id")), // a "view"
      "item" -> TableMeta(
        "item", Seq("id"),
        Seq(ForeignKey("item", Seq("order_id"), "order_summary", Seq("id")))
      )
    )
  )

  // order_summary is a view over base tables orders_raw + totals
  private val schemaJson =
    """{
      "database": "db", "index": "orders_idx",
      "nodes": {
        "table": "order_summary", "columns": ["id", "status"],
        "base_tables": ["orders_raw", "totals"],
        "children": [
          {"table": "item", "label": "items", "columns": ["sku"],
           "relationship": {"type": "one_to_many", "variant": "object"}}
        ]
      }
    }"""

  @volatile private var tables: Map[String, DataFrame] = _
  private def load(t: String): DataFrame = tables(t)

  test("snapshot + applyChanges with base-table remap and schema filter") {
    tables = Map(
      "order_summary" -> Seq((1L, "open")).toDF("id", "status"),
      "item" -> Seq((10L, 1L, "a")).toDF("id", "order_id", "sku")
    )
    val dir = Files.createTempDirectory("graft-sync").toString
    val sync = GraftSync(spark, schemaJson, cat, load, dir)
    assert(sync.schema.index == "orders_idx")
    sync.snapshot()
    assert(sync.state.docs.count() == 1)

    // the "view" gains a row because its base table changed; the event
    // arrives against the BASE table name and must remap to the view node.
    tables += "order_summary" -> Seq((1L, "open"), (2L, "new")).toDF("id", "status")
    val batch = Changes.of(
      spark,
      Seq(
        (Changes.Insert, "orders_raw", null, """{"id": 2}""", 1L),
        (Changes.Insert, "not_in_tree", null, """{"id": 99}""", 1L) // P8-dropped
      )
    )
    sync.applyChanges(batch)
    val docs = sync.state.docs.collect().map(r => r.getString(0)).toSet
    assert(docs == Set("1", "2"))
  }

  test("resumable snapshot: a killed run resumes at the first incomplete chunk, result identical") {
    tables = Map(
      "order_summary" -> (1L to 40L).map(i => (i, s"st$i")).toDF("id", "status"),
      "item" -> (1L to 120L).map(i => (i, (i % 40) + 1, s"sku$i")).toDF("id", "order_id", "sku")
    )
    // uninterrupted reference run
    val refDir = Files.createTempDirectory("graft-snap-ref").toString
    val ref = GraftSync(spark, schemaJson, cat, load, refDir)
    ref.snapshot()
    def docRows(s: GraftSync): Set[(String, String)] =
      s.state.docs.collect().map(r => (r.getString(0), r.getString(1))).toSet

    // resumable run "killed" after 2 of 4 chunks (plus a partial file a
    // crashed chunk-2 write could have left behind)
    val dir = Files.createTempDirectory("graft-snap-resume").toString
    val sync1 = GraftSync(spark, schemaJson, cat, load, dir)
    sync1.snapshotChunk(0, 4)
    sync1.snapshotChunk(1, 4)
    Seq(("junk-id", "junk-doc")).toDF("_id", "doc")
      .write.parquet(s"$dir/v_0/docs/bucket=2") // chunk 2's partial debris
    assert(!sync1.state.exists, "index must not be visible half-built (no log entry)")
    assert(sync1.state.pendingSnapshotChunks.contains(Seq(2, 3)))

    // restart: a NEW facade over the same dir skips the completed chunks,
    // replaces the crashed chunk's debris, finishes, and commits its entry
    val sync2 = GraftSync(spark, schemaJson, cat, load, dir)
    sync2.snapshotResumable(4)
    assert(sync2.state.exists)
    assert(sync2.state.pendingSnapshotChunks.isEmpty)
    assert(docRows(sync2) == docRows(ref), "resumed index must equal the uninterrupted run")
    assert(!docRows(sync2).exists(_._1 == "junk-id"))

    // a resume with a different chunk count must fail loudly, not corrupt
    val dir2 = Files.createTempDirectory("graft-snap-mismatch").toString
    val sync3 = GraftSync(spark, schemaJson, cat, load, dir2)
    sync3.snapshotChunk(0, 4)
    intercept[IllegalArgumentException](sync3.snapshotResumable(8))
    // replaying a completed chunk is a no-op
    sync3.snapshotChunk(0, 4)
    sync3.snapshotResumable(4)
    assert(docRows(sync3) == docRows(ref))

    // the resumed index is live: incremental batches apply on top of it
    tables += "order_summary" -> ((1L to 41L).map(i => (i, s"st$i"))).toDF("id", "status")
    sync2.applyChanges(
      Changes.of(spark, Seq((Changes.Insert, "order_summary", null, """{"id": 41}""", 7L)))
    )
    assert(sync2.state.docs.count() == 41)
  }

  test("txid checkpoint: replayed batches are filtered out (sync.py:1581-1656)") {
    tables = Map(
      "order_summary" -> Seq((1L, "open")).toDF("id", "status"),
      "item" -> Seq.empty[(Long, Long, String)].toDF("id", "order_id", "sku")
    )
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val sync = GraftSync(spark, schemaJson, cat, load, dir)
    sync.snapshot()
    val v0 = sync.state.currentVersion

    tables += "order_summary" -> Seq((1L, "open"), (2L, "new")).toDF("id", "status")
    val batch = Changes.of(spark, Seq((Changes.Insert, "order_summary", null, """{"id": 2}""", 5L)))
    sync.applyChanges(batch)
    // conservative checkpoint: watermark = min(batch)-1 (sync.py:1890-1893),
    // the applied txid tracked above it
    assert(sync.state.checkpoint.contains(4L))
    assert(sync.state.checkpointState.get.applied == Set(5L))
    val v1 = sync.state.currentVersion
    assert(v1 == v0 + 1)

    // replaying the same batch is a no-op (txid in the applied-set)
    sync.applyChanges(batch)
    assert(sync.state.currentVersion == v1)
  }

  test("P9 in the product path: unchanged-update events are guarded out (trigger.py:58-71)") {
    tables = Map(
      "order_summary" -> Seq((1L, "open")).toDF("id", "status"),
      "item" -> Seq.empty[(Long, Long, String)].toDF("id", "order_id", "sku")
    )
    val dir = Files.createTempDirectory("graft-guard").toString
    val sync = GraftSync(spark, schemaJson, cat, load, dir, guardUnchangedUpdates = true)
    // guard set = configured columns + keys (the reference guards configured
    // columns only — keys added so a pure FK/PK move is never skipped)
    assert(sync.trackedColumns("order_summary").toSet == Set("id", "status"))
    assert(sync.trackedColumns("item").toSet == Set("sku", "id", "order_id"))
    sync.snapshot()
    val v0 = sync.state.currentVersion

    // tracked columns identical, only an untracked payload field moved → no-op
    sync.applyChanges(Changes.of(spark, Seq(
      (Changes.Update, "order_summary",
        """{"id": 1, "status": "open", "weight": 1}""",
        """{"id": 1, "status": "open", "weight": 2}""", 5L)
    )))
    assert(sync.state.currentVersion == v0)

    // a tracked column changed → applied
    tables += "order_summary" -> Seq((1L, "closed")).toDF("id", "status")
    sync.applyChanges(Changes.of(spark, Seq(
      (Changes.Update, "order_summary",
        """{"id": 1, "status": "open"}""",
        """{"id": 1, "status": "closed"}""", 6L)
    )))
    assert(sync.state.currentVersion == v0 + 1)
    assert(sync.state.docs.collect().head.getString(1).contains("closed"))
  }

  test("C4 late events across batches are applied, not dropped (min-1 watermark)") {
    tables = Map(
      "order_summary" -> Seq((1L, "open")).toDF("id", "status"),
      "item" -> Seq.empty[(Long, Long, String)].toDF("id", "order_id", "sku")
    )
    val dir = Files.createTempDirectory("graft-late").toString
    val sync = GraftSync(spark, schemaJson, cat, load, dir)
    sync.snapshot()

    // commit order 10,11,12 but the feed delivers {10,12} then the late {11}
    tables += "order_summary" ->
      Seq((1L, "open"), (2L, "b10"), (4L, "b12")).toDF("id", "status")
    sync.applyChanges(Changes.of(spark, Seq(
      (Changes.Insert, "order_summary", null, """{"id": 2}""", 10L),
      (Changes.Insert, "order_summary", null, """{"id": 4}""", 12L)
    )))
    assert(sync.state.checkpoint.contains(9L))
    assert(sync.state.checkpointState.get.applied == Set(10L, 12L))

    // under a max-txid watermark (13 > 11) this event would be silently
    // skipped and doc 3 permanently stale — the exact failure mode the
    // reference defends against with min(xmin)-1
    tables += "order_summary" ->
      Seq((1L, "open"), (2L, "b10"), (3L, "late"), (4L, "b12")).toDF("id", "status")
    sync.applyChanges(Changes.of(spark, Seq(
      (Changes.Insert, "order_summary", null, """{"id": 3}""", 11L)
    )))
    assert(sync.state.docs.collect().map(_.getString(0)).toSet == Set("1", "2", "3", "4"))
    // watermark advanced monotonically (10 = 11-1), applied-set pruned to it
    assert(sync.state.checkpointState.get.watermark == 10L)
    assert(sync.state.checkpointState.get.applied == Set(11L, 12L))

    // a full replay of everything so far stays a no-op
    val v = sync.state.currentVersion
    sync.applyChanges(Changes.of(spark, Seq(
      (Changes.Insert, "order_summary", null, """{"id": 2}""", 10L),
      (Changes.Insert, "order_summary", null, """{"id": 3}""", 11L),
      (Changes.Insert, "order_summary", null, """{"id": 4}""", 12L)
    )))
    assert(sync.state.currentVersion == v)
  }

  test("WAL text end-to-end: test_decoding lines drive the index (the --wal lifecycle)") {
    import graft.cdc.WalText
    tables = Map(
      "order_summary" -> Seq((1L, "open")).toDF("id", "status"),
      "item" -> Seq((10L, 1L, "a")).toDF("id", "order_id", "sku")
    )
    val dir = Files.createTempDirectory("graft-wal").toString
    val sync = GraftSync(spark, schemaJson, cat, load, dir)
    sync.snapshot()

    // source state moves; the WAL stream carries the same changes in
    // test_decoding's textual format (quoted table, multi-statement txn)
    tables += "order_summary" -> Seq((1L, "open"), (2L, "wal")).toDF("id", "status")
    tables += "item" -> Seq((10L, 1L, "a"), (11L, 2L, "b")).toDF("id", "order_id", "sku")
    val walLines = Iterator(
      "BEGIN 700",
      """table public."order_summary": INSERT: id[bigint]:2 status[text]:'wal'""",
      "table public.item: INSERT: id[bigint]:11 order_id[bigint]:2 sku[text]:'b'",
      "COMMIT 700"
    )
    sync.applyChanges(WalText.toDataFrame(spark, WalText.parse(walLines).toSeq))
    assert(sync.state.checkpoint.contains(699L)) // min(txid)-1, applied={700}
    assert(sync.state.checkpointState.get.applied == Set(700L))
    val docs = sync.state.docs.collect().map(_.getString(0)).toSet
    assert(docs == Set("1", "2"))

    // a later WAL DELETE drops the doc
    tables += "order_summary" -> Seq((1L, "open")).toDF("id", "status")
    sync.applyChanges(WalText.toDataFrame(spark, WalText.parse(Iterator(
      "BEGIN 701",
      "table public.order_summary: DELETE: id[bigint]:2",
      "COMMIT 701"
    )).toSeq))
    assert(sync.state.docs.collect().map(_.getString(0)).toSet == Set("1"))
  }

  test("fromConfig loads an array of schema docs, one sync per index") {
    tables = Map(
      "order_summary" -> Seq((1L, "open")).toDF("id", "status"),
      "item" -> Seq.empty[(Long, Long, String)].toDF("id", "order_id", "sku")
    )
    val base = Files.createTempDirectory("graft-multi").toString
    val syncs = GraftSync.fromConfig(
      spark,
      s"""[
        {"database": "db", "index": "idx_a", "nodes": {"table": "order_summary", "columns": ["id"]}},
        {"database": "db", "index": "idx_b", "nodes": {"table": "item", "columns": ["id", "sku"]}}
      ]""",
      cat, load, base
    )
    assert(syncs.map(_.schema.index) == Seq("idx_a", "idx_b"))
    syncs.foreach(_.snapshot())
    assert(Files.exists(java.nio.file.Paths.get(s"$base/idx_a/_graft_log/0")))
    assert(Files.exists(java.nio.file.Paths.get(s"$base/idx_b/_graft_log/0")))
  }

  test("fromConfigSource reads a local config file into the same syncs as fromConfig") {
    tables = Map(
      "order_summary" -> Seq((1L, "open")).toDF("id", "status"),
      "item" -> Seq.empty[(Long, Long, String)].toDF("id", "order_id", "sku")
    )
    val config =
      """[
        {"database": "db", "index": "idx_a", "nodes": {"table": "order_summary", "columns": ["id"]}},
        {"database": "db", "nodes": {"table": "item", "columns": ["id", "sku"]}}
      ]"""
    val base = Files.createTempDirectory("graft-config-source").toString
    val file = Files.write(java.nio.file.Paths.get(s"$base/config.json"), config.getBytes)
    def shape(syncs: Seq[GraftSync]) = syncs.map(s => (s.indexName, s.schema.root.table))
    val fromFile = GraftSync.fromConfigSource(spark, file.toString, cat, load, s"$base/idx")
    assert(shape(fromFile) == shape(GraftSync.fromConfig(spark, config, cat, load, s"$base/idx")))
    assert(shape(fromFile) == Seq(("idx_a", "order_summary"), ("item", "item")))
  }

  test("runAll: 2-index config snapshots concurrently then streams each feed (sync.py:2114-2153,2383-2416)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    tables = Map(
      "order_summary" -> Seq((1L, "open"), (2L, "new")).toDF("id", "status"),
      "item" -> Seq((10L, 1L, "a")).toDF("id", "order_id", "sku")
    )
    val base = Files.createTempDirectory("graft-runall").toString
    val syncs = GraftSync.fromConfig(
      spark,
      s"""[
        {"database": "db", "index": "idx_orders", "nodes": {"table": "order_summary", "columns": ["id", "status"]}},
        {"database": "db", "index": "idx_items", "nodes": {"table": "item", "columns": ["id", "sku"]}}
      ]""",
      cat, load, s"$base/idx"
    )
    implicit val sqlCtx = spark.sqlContext
    // one independent change feed per doc, like per-doc replication slots
    val feeds = syncs.map(_ => MemoryStream[(String, String, String, String, Long)])
    def toChanges(m: MemoryStream[(String, String, String, String, Long)]) =
      m.toDF().select(
        col("_1").as("tg_op"), col("_2").as("tbl"),
        col("_3").as("old"), col("_4").as("new"), col("_5").as("txid"))
    val queries = GraftSync.runAll(
      syncs,
      s"$base/ckpt",
      changeFeed = s => Some(toChanges(feeds(syncs.indexOf(s))))
    )
    try {
      // phase 1 landed both snapshots
      assert(syncs(0).state.docs.count() == 2)
      assert(syncs(1).state.docs.count() == 1)
      assert(queries.forall(_.isDefined))
      // each stream maintains only its own index
      tables += "order_summary" -> Seq((1L, "open"), (2L, "new"), (3L, "hot")).toDF("id", "status")
      feeds(0).addData((Changes.Insert, "order_summary", null, """{"id": 3}""", 1L))
      tables += "item" -> Seq((10L, 1L, "a"), (11L, 2L, "b")).toDF("id", "order_id", "sku")
      feeds(1).addData((Changes.Insert, "item", null, """{"id": 11}""", 1L))
      queries.flatten.foreach(_.processAllAvailable())
      assert(syncs(0).state.docs.count() == 3)
      assert(syncs(1).state.docs.count() == 2)
      // per-sync checkpoints under checkpointBase/<index>
      assert(Files.exists(java.nio.file.Paths.get(s"$base/ckpt/idx_orders/offsets")))
      assert(Files.exists(java.nio.file.Paths.get(s"$base/ckpt/idx_items/offsets")))
    } finally queries.flatten.foreach(_.stop())
  }

  test("runAll reports periodic per-index status like the reference's status thread (sync.py:2114-2153)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    tables = Map(
      "order_summary" -> Seq((1L, "open"), (2L, "new")).toDF("id", "status"),
      "item" -> Seq((10L, 1L, "a")).toDF("id", "order_id", "sku")
    )
    val base = Files.createTempDirectory("graft-status").toString
    val syncs = GraftSync.fromConfig(
      spark,
      s"""[
        {"database": "db", "index": "idx_orders", "nodes": {"table": "order_summary", "columns": ["id", "status"]}},
        {"database": "db", "index": "idx_items", "nodes": {"table": "item", "columns": ["id", "sku"]}}
      ]""",
      cat, load, s"$base/idx"
    )
    implicit val sqlCtx = spark.sqlContext
    val feed = MemoryStream[(String, String, String, String, Long)]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[GraftSync.SyncStatus]]()
    val queries = GraftSync.runAll(
      syncs,
      s"$base/ckpt",
      // only the first doc streams; the second is snapshot-only
      changeFeed = s => if (s.indexName == "idx_orders")
        Some(feed.toDF().select(
          col("_1").as("tg_op"), col("_2").as("tbl"),
          col("_3").as("old"), col("_4").as("new"), col("_5").as("txid")))
      else None,
      onStatus = Some(st => seen.add(st)),
      statusIntervalMs = 100
    )
    try {
      tables += "order_summary" -> Seq((1L, "open"), (2L, "new"), (3L, "hot")).toDF("id", "status")
      feed.addData((Changes.Insert, "order_summary", null, """{"id": 3}""", 1L))
      queries.flatten.foreach(_.processAllAvailable())
      // poll until a tick reflects the applied batch (reporter period 100ms)
      def latest(): Seq[GraftSync.SyncStatus] = {
        var l: Seq[GraftSync.SyncStatus] = Nil
        seen.forEach(s => l = s)
        l
      }
      val deadline = System.nanoTime() + 10e9.toLong
      while (!latest().exists(s => s.index == "idx_orders" && s.batchesApplied >= 1)
             && System.nanoTime() < deadline) Thread.sleep(50)
      val st = latest()
      assert(st.map(_.index) == Seq("idx_orders", "idx_items"))
      assert(st.forall(_.phase == "live"))
      assert(st.find(_.index == "idx_orders").get.snapshotDocs == 2)
      assert(st.find(_.index == "idx_items").get.snapshotDocs == 1)
      val orders = st.find(_.index == "idx_orders").get
      assert(orders.batchesApplied >= 1 && orders.docsResynced >= 1)
      assert(st.find(_.index == "idx_items").get.batchesApplied == 0)
    } finally queries.flatten.foreach(_.stop())
  }

  test("analyze advises bucketing for FK keys and broadcast for dims (--analyze analogue)") {
    tables = Map(
      "order_summary" -> Seq((1L, "open")).toDF("id", "status"),
      "item" -> Seq((10L, 1L, "a")).toDF("id", "order_id", "sku")
    )
    val sync = GraftSync(spark, schemaJson, cat, load,
      Files.createTempDirectory("graft-adv").toString)
    val advice = sync.analyze()
    assert(advice.exists(a => a.startsWith("bucket order_summary by (id)")))
    assert(advice.exists(a => a.startsWith("bucket item by (order_id)")))
    // advice carries the create recipe, like the reference's CREATE INDEX
    assert(advice.exists(_.contains("""Tables.writeBucketed(load("item"), "item", Seq("order_id"))""")))
    // a layout that covers a join key flips its line to OK (sync.py:298-308
    // prints "Found index ... OK" instead of the CREATE INDEX)
    val covered = sync.analyze {
      case "item" => Some(Seq("order_id"))
      case _      => None
    }
    assert(covered.exists(a => a.startsWith("""OK: found layout (order_id) on "item"""")))
    assert(covered.exists(a => a.startsWith("bucket order_summary by (id)")))
    // the default lookup reads bucket columns from the session catalog
    graft.sources.Tables.writeBucketed(
      tables("item"), "adv_probe_item", Seq("order_id"), nBuckets = 4)
    val probe = sync.analyze(t =>
      if (t == "item") {
        val cols = spark.catalog.listColumns("adv_probe_item").collect()
          .filter(_.isBucket).map(_.name).toSeq
        if (cols.nonEmpty) Some(cols) else None
      } else None)
    assert(probe.exists(a => a.startsWith("""OK: found layout (order_id) on "item"""")))
  }

  test("indexMapping derives from the tree") {
    tables = Map(
      "order_summary" -> Seq((1L, "open")).toDF("id", "status"),
      "item" -> Seq.empty[(Long, Long, String)].toDF("id", "order_id", "sku")
    )
    val sync = GraftSync(
      spark, schemaJson, cat, load,
      Files.createTempDirectory("graft-sync2").toString
    )
    assert(sync.indexMapping.contains(""""items": {"type": "nested""""))
  }

  test("plugins apply to the materialized index in snapshot AND incremental paths (sync.py:1571-1574)") {
    tables = Map(
      "order_summary" -> Seq((1L, "open"), (2L, "drop")).toDF("id", "status"),
      "item" -> Seq.empty[(Long, Long, String)].toDF("id", "order_id", "sku")
    )
    val dropper = new graft.transform.DocTransform {
      val name = "dropper"
      def apply(doc: org.apache.spark.sql.Row): Option[org.apache.spark.sql.Row] =
        if (doc.getAs[String]("status") == "drop") None else Some(doc)
    }
    val sync = GraftSync(
      spark, schemaJson, cat, load,
      Files.createTempDirectory("graft-plug").toString, plugins = Seq(dropper)
    )
    sync.snapshot()
    assert(sync.state.docs.collect().map(_.getString(0)).toSet == Set("1")) // 2 dropped

    // incremental: a new droppable row arrives — plugin must keep it out
    tables += "order_summary" ->
      Seq((1L, "open"), (2L, "drop"), (3L, "drop"), (4L, "open")).toDF("id", "status")
    sync.applyChanges(Changes.of(spark, Seq(
      (Changes.Insert, "order_summary", null, """{"id": 3}""", 10L),
      (Changes.Insert, "order_summary", null, """{"id": 4}""", 10L)
    )))
    assert(sync.state.docs.collect().map(_.getString(0)).toSet == Set("1", "4"))
  }

  test("documents() applies plugin chain") {
    tables = Map(
      "order_summary" -> Seq((1L, "open"), (2L, "drop")).toDF("id", "status"),
      "item" -> Seq.empty[(Long, Long, String)].toDF("id", "order_id", "sku")
    )
    val dropper = new graft.transform.DocTransform {
      val name = "dropper"
      def apply(doc: org.apache.spark.sql.Row): Option[org.apache.spark.sql.Row] =
        if (doc.getAs[String]("status") == "drop") None else Some(doc)
    }
    val sync = GraftSync(
      spark, schemaJson, cat, load,
      Files.createTempDirectory("graft-sync3").toString,
      plugins = Seq(dropper)
    )
    val ids = sync.documents().select(col("_id")).as[String].collect().toSet
    assert(ids == Set("1"))
  }

  test("engine tuning passes through the facade: partition pruning at a key-partitioned layout") {
    import graft.cdc.IncrementalEngine
    import graft.sources.{Layout, Tables}
    val sf = "/root/testdata/sf0.001"
    val base = Tables.load(spark, sf) _
    val dir = graft.util.TempDirs.scratch("sync-part").toString
    Layout.keyPartitionedWrite(base("orders"), "o_orderkey", 128, s"$dir/orders")
    Layout.keyPartitionedWrite(base("lineitem"), "l_orderkey", 128, s"$dir/lineitem")
    val pload: String => DataFrame = {
      case t @ ("orders" | "lineitem") => spark.read.parquet(s"$dir/$t")
      case t                           => base(t)
    }
    val flagship =
      """{"database": "db", "index": "orders_idx",
          "nodes": {"table": "orders", "columns": ["o_orderkey", "o_totalprice"],
            "children": [{"table": "lineitem", "label": "items",
              "columns": ["l_linenumber"],
              "relationship": {"type": "one_to_many", "variant": "object"}}]}}"""
    // prune specs from the layout sidecars, through the facade
    val tuning = Tuning(
      partitionPrune = Seq("orders", "lineitem").map { t =>
        val (_, w, pc) = Layout.keyPartitionSpec(spark, s"$dir/$t")
        t -> IncrementalEngine.PartitionPrune(pc, w)
      }.toMap)
    val pruned = GraftSync(
      spark, flagship, Catalog.testData, pload,
      Files.createTempDirectory("graft-sync-part").toString, tuning = tuning)
    val flat = GraftSync(
      spark, flagship, Catalog.testData, base,
      Files.createTempDirectory("graft-sync-flat").toString)
    pruned.snapshot(); flat.snapshot()
    val batch = Changes.of(spark, Seq(
      (Changes.Update, "orders", null, """{"o_orderkey": 7}""", 1L),
      (Changes.Update, "orders", null, """{"o_orderkey": 9}""", 2L)))
    // layout + tuning must never change answers: same docs as the flat sync
    // after the same batch
    pruned.applyChanges(batch); flat.applyChanges(batch)
    val got = pruned.state.docs.collect().map(r => (r.getString(0), r.getString(1))).toMap
    val want = flat.state.docs.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == want && got.contains("7"))
  }

  test("pruning engages from the layout directory ALONE through the facade (sidecar auto-discovery)") {
    import graft.cdc.IncrementalEngine
    import graft.sources.{Layout, Tables}
    val sf = "/root/testdata/sf0.001"
    val base = Tables.load(spark, sf) _
    val dir = graft.util.TempDirs.scratch("sync-discover").toString
    Layout.keyPartitionedWrite(base("orders"), "o_orderkey", 128, s"$dir/orders")
    Layout.hashBucketedWrite(base("lineitem"), Seq("l_orderkey"), 32, s"$dir/lineitem")
    val ploadCache = scala.collection.mutable.Map.empty[String, DataFrame]
    val pload: String => DataFrame = t =>
      ploadCache.getOrElseUpdate(t, t match {
        case "orders" | "lineitem" => spark.read.parquet(s"$dir/$t")
        case _                     => base(t)
      })
    val flagship =
      """{"database": "db", "index": "orders_idx",
          "nodes": {"table": "orders", "columns": ["o_orderkey", "o_totalprice"],
            "children": [{"table": "lineitem", "label": "items",
              "columns": ["l_linenumber"],
              "relationship": {"type": "one_to_many", "variant": "object"}}]}}"""
    // NO per-table spec wiring: just the layout root — the engine discovers
    // the sidecars (one key-range, one hash-bucket) and prunes both tables
    val pruned = GraftSync(
      spark, flagship, Catalog.testData, pload,
      Files.createTempDirectory("graft-sync-disc").toString,
      tuning = Tuning(layoutRoot = Some(dir)))
    val flat = GraftSync(
      spark, flagship, Catalog.testData, base,
      Files.createTempDirectory("graft-sync-disc-flat").toString)
    pruned.snapshot(); flat.snapshot()
    val batch = Changes.of(spark, Seq(
      (Changes.Update, "orders", null, """{"o_orderkey": 7}""", 1L),
      (Changes.Update, "orders", null, """{"o_orderkey": 9}""", 2L)))
    // the discovered specs really reach the plan: both payload scans carry
    // static partition filters
    val affected = pruned.engine.affectedRoots(batch, graft.cdc.Lineage.empty(spark))
    val planStr = pruned.engine.reassemble(affected).queryExecution.executedPlan.toString
    for ((t, pc) <- Seq("orders" -> "_kp", "lineitem" -> "_hb")) {
      val s = planStr.linesIterator
        .find(l => l.contains("FileScan") && l.contains(s"/$t"))
        .getOrElse(fail(s"no scan of $t in:\n$planStr"))
      assert(
        !s.replaceAll("\\s", "").contains("PartitionFilters:[]") && s.contains(pc),
        s"$t scan not pruned via discovery:\n$s")
    }
    // and discovery never changes answers
    pruned.applyChanges(batch); flat.applyChanges(batch)
    val got = pruned.state.docs.collect().map(r => (r.getString(0), r.getString(1))).toMap
    val want = flat.state.docs.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == want && got.contains("7"))
  }
}
