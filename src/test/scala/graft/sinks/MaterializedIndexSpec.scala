package graft.sinks

import graft.{GraftSync, SparkSpec, TwoTier, Tuning}
import graft.catalog.{Catalog, ForeignKey, TableMeta}
import graft.cdc.Changes
import graft.sources.IndexLog
import graft.sources.Crashes.{crashAt, pointsOf}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import java.io.File
import java.nio.file.{Files, Paths}

/** The doc index commits through its index log: every write records one
  * file per bucket, every read scans the recorded files without a listing
  * job, and a batch's docs, lineage and txid checkpoint land in one entry.
  */
class MaterializedIndexSpec extends SparkSpec {
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

  private val schemaJson =
    """{"database": "db", "index": "orders",
        "nodes": {"table": "orders", "columns": ["id", "status"],
          "children": [{"table": "item", "label": "items", "columns": ["sku"],
            "relationship": {"type": "one_to_many", "variant": "object"}}]}}"""

  @volatile private var tables: Map[String, DataFrame] = _

  private def reset(nOrders: Long = 40L): Unit =
    tables = Map(
      "orders" -> (1L to nOrders).map(i => (i, s"st$i")).toDF("id", "status"),
      "item" -> (1L to 3 * nOrders).map(i => (i, (i % nOrders) + 1, s"sku$i")).toDF("id", "order_id", "sku")
    )

  private def newSync(dir: String, tuning: Tuning = Tuning()): GraftSync =
    GraftSync(spark, schemaJson, cat, tables(_), dir, tuning = tuning)

  /** bucket dir name → its data files (Spark's `_SUCCESS`/`.crc` aside). */
  private def bucketFiles(dir: String, v: Long, kind: String): Map[String, Seq[String]] =
    Option(new File(s"$dir/v_$v/$kind").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("bucket="))
      .map(b => b.getName -> b.listFiles().map(_.getName).filterNot(n => n.startsWith("_") || n.startsWith(".")).toSeq)
      .toMap

  private def assertOneFilePerBucket(dir: String, v: Long): Unit =
    Seq("docs", "lineage").foreach { kind =>
      val files = bucketFiles(dir, v, kind)
      assert(files.nonEmpty, s"v_$v/$kind has no buckets")
      files.foreach { case (b, fs) => assert(fs.size == 1, s"v_$v/$kind/$b holds ${fs.mkString(", ")}") }
    }

  private def docRows(df: DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("each bucket holds one file after initialize, a partial commit and a resumed snapshot") {
    reset()
    val dir = Files.createTempDirectory("graft-mi-files").toString
    val sync = newSync(dir)
    sync.snapshot()
    assertOneFilePerBucket(dir, 0L)
    val v0Buckets = bucketFiles(dir, 0L, "docs").size

    tables += "orders" -> (1L to 40L).map(i => (i, if (i == 7L) "closed" else s"st$i")).toDF("id", "status")
    sync.applyChanges(
      Changes.of(spark, Seq((Changes.Update, "orders", """{"id": 7}""", """{"id": 7}""", 1L))))
    assert(sync.state.currentVersion == 1L)
    assertOneFilePerBucket(dir, 1L)
    assert(bucketFiles(dir, 1L, "docs").size < v0Buckets, "a one-root commit rewrites a subset of buckets")
    assert(sync.state.docs.count() == 40)
    assert(docRows(sync.state.docs.filter($"_id" === "7")).head._2.contains("closed"))

    // resumable snapshot killed after two of four chunks, with a crashed
    // chunk's debris left in one of its bucket dirs
    val rdir = Files.createTempDirectory("graft-mi-resume").toString
    val first = newSync(rdir)
    first.snapshotChunk(0, 4)
    first.snapshotChunk(1, 4)
    Seq(("junk-id", "junk-doc")).toDF("_id", "doc").write.parquet(s"$rdir/v_0/docs/bucket=2")
    val resumed = newSync(rdir)
    resumed.snapshotResumable(4)
    assertOneFilePerBucket(rdir, 0L)
    assert(docRows(resumed.state.docs) == docRows(sync.state.docs))
  }

  test("constructing docs and lineage runs no Spark job") {
    // enough roots to fill more buckets than Spark lists on the driver
    // (spark.sql.sources.parallelPartitionDiscovery.threshold = 32)
    reset(200L)
    val dir = Files.createTempDirectory("graft-mi-jobs").toString
    val sync = newSync(dir)
    sync.snapshot()
    assert(bucketFiles(dir, 0L, "docs").size > 32)
    tables += "orders" -> (1L to 201L).map(i => (i, s"st$i")).toDF("id", "status")
    sync.applyChanges(Changes.of(spark, Seq((Changes.Insert, "orders", null, """{"id": 201}""", 1L))))

    val (reads, marker) = ("graft-mi-reads", "graft-mi-marker")
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach(groups.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(reads, reads)
      val frames =
        try Seq(sync.state.docs, sync.state.lineage)
        finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job's start is
      // seen, any job the reads launched has been seen before it
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(marker), "marker job never reached the listener")
      assert(!groups.contains(reads), "constructing the reads launched a Spark job")
      assert(frames(0).count() == 201L && frames(1).count() > 0L)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("vacuum deletes every version neither the head nor its predecessor lists") {
    reset()
    val dir = Files.createTempDirectory("graft-mi-vacuum").toString
    val sync = newSync(dir)
    sync.snapshot()
    // three commits rewrite the same bucket, so v_1 ends up unreferenced
    (1 to 3).foreach { k =>
      tables += "orders" -> (1L to 40L).map(i => (i, if (i == 7L) s"rev$k" else s"st$i")).toDF("id", "status")
      sync.applyChanges(
        Changes.of(spark, Seq((Changes.Update, "orders", """{"id": 7}""", """{"id": 7}""", k.toLong))))
    }
    val state = sync.state
    assert(state.currentVersion == 3L)
    val before = docRows(state.docs)
    state.vacuum()
    assert(!new File(s"$dir/v_1").exists(), "no retained entry lists v_1")
    assert(new File(s"$dir/v_0").exists() && new File(s"$dir/v_2").exists(), "retained entries list v_0 and v_2")
    assert(docRows(state.docs) == before)
    assert(before.size == 40 && before.collectFirst { case ("7", doc) => doc }.get.contains("rev3"))
  }

  test("an index of the CURRENT/manifest layout asks for a snapshot rebuild") {
    reset(4L)
    val dir = Files.createTempDirectory("graft-mi-legacy").toString
    newSync(dir).snapshot()
    // the earlier layout: `CURRENT`, `v_0/manifest` and no index log
    graft.util.TempDirs.delete(Paths.get(s"$dir/${IndexLog.Dir}"))
    Files.write(Paths.get(s"$dir/CURRENT"), "0".getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/v_0/manifest"), "docs,0,0,1,part-0.parquet".getBytes("UTF-8"))
    val err = intercept[IllegalStateException](newSync(dir).state.docs)
    assert(err.getMessage.contains("snapshot"))
    // a never-built directory is simply absent
    val empty = newSync(Files.createTempDirectory("graft-mi-none").toString).state
    assert(!empty.exists && empty.currentVersion == -1L && empty.checkpointState.isEmpty)
  }

  // ---- crash matrix: every commit point of a batch and of a re-snapshot ----

  private val before1 = (1L to 40L).map(i => (i, if (i == 7L) "rev1" else s"st$i"))
  /** The source after the crashed batch: order 7 updated, 3 deleted, 41 added. */
  private def after2(): Unit = tables = Map(
    "orders" -> (before1.filterNot(_._1 == 3L).map { case (i, s) => (i, if (i == 7L) "rev2" else s) } :+ (41L, "new"))
      .toDF("id", "status"),
    "item" -> ((1L to 120L).map(i => (i, (i % 40) + 1, s"sku$i")) :+ (121L, 41L, "sku121"))
      .toDF("id", "order_id", "sku"))
  private val batch2 = Seq(
    (Changes.Update, "orders", """{"id": 7}""", """{"id": 7}""", 2L),
    (Changes.Delete, "orders", """{"id": 3}""", null, 2L),
    (Changes.Insert, "orders", null, """{"id": 41}""", 2L),
    (Changes.Insert, "item", null, """{"id": 121, "order_id": 41}""", 2L))

  private def copyTree(from: String, to: String): Unit = {
    val stream = Files.walk(Paths.get(from))
    try stream.forEach { p =>
      val q = Paths.get(to).resolve(Paths.get(from).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally stream.close()
  }

  private def indexState(s: GraftSync): Map[String, Any] = Map(
    "docs" -> docRows(s.state.docs),
    "lineage" -> s.state.lineage.collect().map(_.toSeq).toSet,
    "checkpoint" -> s.state.checkpointState)

  /** The live index: a snapshot and one batch (txid 1) with its checkpoint. */
  private def liveIndex(tuning: Tuning): String = {
    reset()
    tables += "orders" -> before1.toDF("id", "status")
    val live = Files.createTempDirectory("graft-mi-live").toString
    newSync(live, tuning).snapshot()
    newSync(live, tuning).applyChanges(
      Changes.of(spark, Seq((Changes.Update, "orders", """{"id": 7}""", """{"id": 7}""", 1L))))
    live
  }

  /** Crash `run` on a copy of `live` at each commit point it reaches: the
    * crash leaves the live index as it was, and the replay's docs and
    * lineage equal a rebuild of the source after the batch. Returns each
    * replay's state by point.
    */
  private def crashMatrix(live: String, tuning: Tuning, run: GraftSync => Unit): Map[String, Map[String, Any]] = {
    def fork(): GraftSync = {
      val d = Files.createTempDirectory("graft-mi-crash").toString
      copyTree(live, d)
      newSync(d, tuning)
    }
    val pre = indexState(fork())
    assert(pre("checkpoint") == Some(IndexLog.Checkpoint(0L, Set(1L))))
    after2()
    val rebuilt = { val s = newSync(Files.createTempDirectory("graft-mi-rebuild").toString); s.snapshot(); indexState(s) }
    val points = pointsOf(run(fork()))
    assert(points.map(_._1).toSet == Set("write:docs", "write:lineage", "commit"), points)
    assert(points.count(_._1 == "commit") == 1, points)
    points.map { case (point, nth) =>
      val s = fork()
      crashAt(point, nth)(run(s))
      assert(indexState(s) == pre, s"a crash at $point #$nth changed the live index")
      run(s)
      val got = indexState(s)
      Seq("docs", "lineage").foreach(k => assert(got(k) == rebuilt(k), s"$point #$nth: $k differs from a rebuild"))
      s"$point #$nth" -> got
    }.toMap
  }

  test("crash matrix (both tiers): a batch crashed at any commit point keeps docs and checkpoint, and replays") {
    TwoTier.assertSame { tuning =>
      val replays = crashMatrix(liveIndex(tuning), tuning, _.applyChanges(Changes.of(spark, batch2)))
      // the checkpoint commits with the batch, so the replay applied it once
      replays.values.foreach(st => assert(st("checkpoint") == Some(IndexLog.Checkpoint(1L, Set(2L)))))
      replays
    }
  }

  test("crash matrix: a re-snapshot over a live index crashed at any point still reads the live index") {
    val replays = crashMatrix(liveIndex(Tuning()), Tuning(), _.snapshotResumable(2))
    // two chunks write docs and lineage each, then one commit
    assert(replays.keySet.count(_.startsWith("write:docs")) == 2)
    // a snapshot commits a fresh entry: no checkpoint carries over
    replays.values.foreach(st => assert(st("checkpoint") == None))
  }
}
