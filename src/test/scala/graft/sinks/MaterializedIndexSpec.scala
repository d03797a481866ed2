package graft.sinks

import graft.{GraftSync, SparkSpec}
import graft.catalog.{Catalog, ForeignKey, TableMeta}
import graft.cdc.Changes
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import java.io.File
import java.nio.file.Files

/** The manifest is the index's file index: every write records one file
  * per bucket, and every read scans the recorded files without a listing
  * job.
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

  private def newSync(dir: String): GraftSync = GraftSync(spark, schemaJson, cat, tables(_), dir)

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

  test("constructing docs, lineage and docsAt runs no Spark job") {
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
        try Seq(sync.state.docs, sync.state.lineage, sync.state.docsAt(0L))
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
      assert(frames(0).count() == 201L && frames(1).count() > 0L && frames(2).count() == 200L)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("after vacuum, docs and docsAt of kept versions still read correctly") {
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
    val before = (2L to 3L).map(v => v -> docRows(state.docsAt(v))).toMap
    state.vacuum(keepLast = 2)
    assert(!new File(s"$dir/v_1").exists(), "v_1 is neither kept nor referenced")
    assert(new File(s"$dir/v_0").exists(), "kept manifests still reference v_0")
    assert(docRows(state.docs) == before(3L))
    (2L to 3L).foreach(v => assert(docRows(state.docsAt(v)) == before(v), s"docsAt($v)"))
    def status7(v: Long) = before(v).collectFirst { case ("7", doc) => doc }.get
    assert(before(3L).size == 40 && status7(2L).contains("rev2") && status7(3L).contains("rev3"))
  }

  test("a manifest without file entries asks for a snapshot rebuild") {
    reset(4L)
    val dir = Files.createTempDirectory("graft-mi-legacy").toString
    newSync(dir).snapshot()
    // an older build's line (`kind,bucket,version`); the stale checksum goes
    Files.write(java.nio.file.Paths.get(s"$dir/v_0/manifest"), "docs,0,0".getBytes("UTF-8"))
    Files.deleteIfExists(java.nio.file.Paths.get(s"$dir/v_0/.manifest.crc"))
    val err = intercept[IllegalStateException](newSync(dir).state.docs)
    assert(err.getMessage.contains("snapshot"))
  }
}
