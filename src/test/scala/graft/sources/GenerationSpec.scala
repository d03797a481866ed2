package graft.sources

import graft.SparkSpec
import graft.ann.Ann
import graft.functions.Retrieval
import org.apache.spark.sql.functions._

/** The generation-pointer swap ([[IndexState.compactAndSwap]] →
  * [[IndexState.promoteStaging]]): compaction must never leave a window in
  * which a concurrent reader observes a missing index directory. The flip
  * is a single ready-marker file CREATE, and GC is deferred one generation,
  * so a reader that resolved its data directory BEFORE a promotion keeps a
  * complete directory through the promotion — the multi-process /
  * object-store-safe design the plain two-rename swap could not give
  * (reference analogue: pgsync swaps search-index aliases, not live
  * directories, for the same reason).
  */
class GenerationSpec extends SparkSpec {
  import spark.implicits._

  private def mkVec(i: Long) =
    Array.tabulate(16)(j => (math.cos((i % 4) * 3 + j) + 0.05 * math.sin(i * 17 + j)).toFloat)

  private def exists(p: String) = new java.io.File(p).exists()

  /** Back-date every ready marker under `dir` past the GC grace window, so
    * the next promotion sees its predecessors as long-superseded.
    */
  private def ageMarkers(dir: String): Unit =
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith(IndexState.GenPrefix))
      .map(g => new java.io.File(g, IndexState.ReadyMarker))
      .filter(_.exists())
      .foreach { m =>
        assert(m.setLastModified(System.currentTimeMillis() - IndexState.DefaultGcGraceMs - 1000L))
      }

  test("age-based GC: superseded generations survive the grace window, then are retired") {
    val dir = graft.util.TempDirs.scratch("gen-deferred-gc").toString
    val all = (0L until 40L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    Ann.writeLshIndex(all, dir, "vec_id", "embedding", planes = 6, dim = 16)
    assert(IndexState.dataPath(spark, dir) == dir, "fresh build is the legacy root layout")

    def cycle(delId: Long): Unit = {
      Ann.deleteFromLshIndex(spark, dir, Seq(delId).toDF("id"))
      assert(Ann.maybeCompactLshIndex(spark, dir, maxDeadRatio = 0.01))
    }

    // promotion #1: gen-1 current, the legacy root data MUST survive — a
    // reader that resolved the root before the flip is still scanning it
    cycle(0L)
    val gen1 = IndexState.dataPath(spark, dir)
    assert(gen1 == s"$dir/${IndexState.GenPrefix}1")
    assert(
      new java.io.File(dir).listFiles().exists(_.getName.startsWith("bucket=")),
      "legacy root data must survive the first promotion"
    )

    // promotion #2 lands INSIDE the grace window: nothing is retired —
    // back-to-back compactions can no longer lap a slow reader
    cycle(1L)
    assert(IndexState.dataPath(spark, dir) == s"$dir/${IndexState.GenPrefix}2")
    assert(exists(gen1), "a generation superseded within the grace window must survive")
    assert(
      new java.io.File(dir).listFiles().exists(_.getName.startsWith("bucket=")),
      "legacy root data superseded within the grace window must survive"
    )

    // promotion #3 after the grace window has passed: gen-1 and the legacy
    // root data (both long-superseded) are retired; gen-2, superseded only
    // this instant, survives for its own grace window
    ageMarkers(dir)
    cycle(2L)
    assert(IndexState.dataPath(spark, dir) == s"$dir/${IndexState.GenPrefix}3")
    assert(!exists(gen1), "generation superseded for longer than the grace window is GC'd")
    assert(exists(s"$dir/${IndexState.GenPrefix}2"), "the immediate predecessor always survives")
    assert(
      !new java.io.File(dir).listFiles().exists(_.getName.startsWith("bucket=")),
      "legacy root data superseded for longer than the grace window is retired"
    )

    // probes and further mutations still work against the promoted layout
    val queries = all.filter(col("vec_id").isin(10L, 11L))
    val probed = Ann.lshTopKIndexed(dir, queries, "vec_id", "embedding", 5, planes = 6, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuiltDir = graft.util.TempDirs.scratch("gen-deferred-rebuild").toString
    Ann.writeLshIndex(
      all.filter(!col("vec_id").isin(0L, 1L, 2L)), rebuiltDir, "vec_id", "embedding",
      planes = 6, dim = 16)
    val rebuilt = Ann
      .lshTopKIndexed(rebuiltDir, queries, "vec_id", "embedding", 5, planes = 6, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probed == rebuilt)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(rebuiltDir))
  }

  test("a frame resolved before a promotion still collects after it (no missing-directory window)") {
    val dir = graft.util.TempDirs.scratch("gen-resolved-before").toString
    val all = (0L until 40L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    Ann.writeLshIndex(all, dir, "vec_id", "embedding", planes = 6, dim = 16)
    // a reader plans against the CURRENT generation (the legacy root here)…
    val preResolved = spark.read.parquet(IndexState.dataPath(spark, dir))
    // …then a compaction promotes a new generation mid-"scan"
    Ann.deleteFromLshIndex(spark, dir, Seq(5L).toDF("id"))
    assert(Ann.maybeCompactLshIndex(spark, dir, maxDeadRatio = 0.01))
    // the pre-promotion plan still reads a complete directory
    assert(preResolved.count() == 40L)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("concurrent probes across repeated compactions never observe a broken index") {
    val dir = graft.util.TempDirs.scratch("gen-concurrent").toString
    val all = (0L until 60L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    Ann.writeLshIndex(all, dir, "vec_id", "embedding", planes = 6, dim = 16)
    val queries = all.filter(col("vec_id").isin(20L, 21L))
    @volatile var stop = false
    @volatile var failure: Option[Throwable] = None
    val reader = new Thread(() => {
      try
        while (!stop) {
          val n = Ann
            .lshTopKIndexed(dir, queries, "vec_id", "embedding", 5, planes = 6, dim = 16)
            .count()
          assert(n > 0, "probe returned no rows mid-compaction")
        }
      catch { case t: Throwable => failure = Some(t) }
    }, "gen-concurrent-reader")
    reader.start()
    try
      (0L until 3L).foreach { i =>
        Ann.deleteFromLshIndex(spark, dir, Seq(i).toDF("id"))
        assert(Ann.maybeCompactLshIndex(spark, dir, maxDeadRatio = 0.01))
      }
    finally {
      stop = true
      reader.join(60000)
    }
    failure.foreach(t => fail(s"concurrent probe failed: $t", t))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("concurrent PRUNED bm25 probes across compactions never observe a broken index") {
    // the pruned probe reads THREE generation-scoped structures (impacts,
    // termdf, tombstones) off ONE dataPath resolution — this is the race
    // that would catch a split resolution (half old generation, half new)
    import graft.functions.Retrieval
    val dir = graft.util.TempDirs.scratch("gen-concurrent-pruned").toString
    val docs = (0L until 60L)
      .map(i => (i, s"spark shared tok${i % 7} body $i")).toDF("doc_id", "text")
    Retrieval.writeBm25Index(docs, "doc_id", "text", dir, buckets = 8)
    val queries = Seq((100L, "spark shared tok3")).toDF("qid", "qtext")
    @volatile var stop = false
    @volatile var failure: Option[Throwable] = None
    val reader = new Thread(() => {
      try
        while (!stop) {
          val n = Retrieval
            .bm25TopKIndexedPrunedBatch(dir, queries, "qid", "qtext", 5)
            .count()
          assert(n > 0, "pruned probe returned no rows mid-compaction")
        }
      catch { case t: Throwable => failure = Some(t) }
    }, "gen-concurrent-pruned-reader")
    reader.start()
    try
      (0L until 3L).foreach { i =>
        Retrieval.deleteFromBm25Index(spark, dir, Seq(i).toDF("id"))
        assert(Retrieval.maybeCompactBm25Index(spark, dir, maxDeadRatio = 0.01))
      }
    finally {
      stop = true
      reader.join(60000)
    }
    failure.foreach(t => fail(s"concurrent pruned probe failed: $t", t))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("empty-rewrite refusal is memoized at the mutation seq (no rewrite per batch)") {
    val dir = graft.util.TempDirs.scratch("gen-refusal-memo").toString
    val one = Seq((1L, mkVec(1L))).toDF("vec_id", "embedding")
    Ann.writeLshIndex(one, dir, "vec_id", "embedding", planes = 6, dim = 16)
    // a second generation of the same id: 2 footer rows, 1 distinct dead id
    // after the delete — the ratio fires, the rewrite's visible set is
    // empty, the promotion is refused and memoized
    Ann.appendLshIndex(one, dir, "vec_id", "embedding", planes = 6, dim = 16)
    Ann.deleteFromLshIndex(spark, dir, Seq(1L).toDF("id"))
    val seqAfter = IndexState.open(spark, dir)._2.seq
    assert(!Ann.maybeCompactLshIndex(spark, dir, maxDeadRatio = 0.2))
    assert(IndexState.refusedSeq(spark, dir).contains(seqAfter), "refusal memoized at current seq")
    // same seq → the policy skips the rewrite attempt entirely
    assert(!Ann.maybeCompactLshIndex(spark, dir, maxDeadRatio = 0.2))
    // probes on the refused index answer empty, not an error
    assert(Ann.lshTopKIndexed(dir, one, "vec_id", "embedding", 5, planes = 6, dim = 16).isEmpty)
    // a revive append bumps the seq, stales the memo, and compaction succeeds
    Ann.appendLshIndex(
      Seq((2L, mkVec(2L)), (3L, mkVec(3L))).toDF("vec_id", "embedding"),
      dir, "vec_id", "embedding", planes = 6, dim = 16)
    assert(Ann.maybeCompactLshIndex(spark, dir, maxDeadRatio = 0.2))
    assert(IndexState.refusedSeq(spark, dir).isEmpty, "memo cleared on successful promotion")
    assert(!IndexState.hasTombstones(spark, dir))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("empty appends are not mutations: no seq bump, no file groups, memo stays fresh") {
    val dir = graft.util.TempDirs.scratch("gen-empty-append").toString
    val docs = Seq((1L, "spark text here")).toDF("doc_id", "text")
    Retrieval.writeBm25Index(docs, "doc_id", "text", dir, buckets = 4)
    val seq0 = IndexState.open(spark, dir)._2.seq
    Retrieval.appendBm25Index(docs.filter(col("doc_id") < 0), "doc_id", "text", dir)
    assert(IndexState.open(spark, dir)._2.seq == seq0, "empty BM25 append must not bump seq")
    val vdir = graft.util.TempDirs.scratch("gen-empty-append-lsh").toString
    Ann.writeLshIndex(Seq((1L, mkVec(1L))).toDF("vec_id", "embedding"),
      vdir, "vec_id", "embedding", planes = 6, dim = 16)
    Ann.appendLshIndex(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      vdir, "vec_id", "embedding", planes = 6, dim = 16)
    assert(IndexState.open(spark, vdir)._2.seq == 0L, "empty LSH append must not bump seq")
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(vdir))
  }
}
