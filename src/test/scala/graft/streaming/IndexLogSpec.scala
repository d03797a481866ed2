package graft.streaming

import graft.SparkSpec
import graft.ann.Ann
import graft.functions.Retrieval
import graft.sources.{IndexLog, IndexState}
import graft.sources.Crashes.{crashAt, pointsOf}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The index log's commit protocol ([[graft.sources.IndexLog]]) under the
  * streaming maintainers' batches: a mutation that crashes
  * anywhere before its entry changes nothing visible and its replay equals
  * a rebuild; a probe racing mutations reads one entry; an index written
  * before the log asks for a rebuild.
  */
class IndexLogSpec extends SparkSpec {
  import spark.implicits._

  private def vec(c: Int) = Array.tabulate(8)(j => math.cos(c * 0.7 + j * 1.3).toFloat)

  /** (id, text, content seed of the vector) */
  private val base = Seq((1L, "spark spark filler", 1), (2L, "window join window", 2),
    (3L, "spark other words", 3), (4L, "join filler spark", 4))
  /** One CDC batch with both legs: an UPDATE, a DELETE and an INSERT. */
  private val events = Seq(("UPDATE", 2L, "window spark rewritten", 20), ("DELETE", 3L, null, 0),
    ("INSERT", 5L, "filler join fresh", 5))
  private val after = base.filterNot(d => Set(2L, 3L)(d._1)) ++
    Seq((2L, "window spark rewritten", 20), (5L, "filler join fresh", 5))

  private def corpus(docs: Seq[(Long, String, Int)]): DataFrame =
    docs.map { case (i, t, c) => (i, t, vec(c)) }.toDF("id", "text", "embedding")

  /** The batch as a driver-local relation, so either tier can take it. */
  private def batch: DataFrame =
    events.map { case (op, i, t, c) => (op, i, t, if (op == "DELETE") null else vec(c)) }
      .toDF("tg_op", "id", "text", "embedding")

  private val queries = Seq((100L, "spark filler"), (200L, "window join fresh")).toDF("qid", "qtext")
  private val vecQueries = Seq((1L, vec(2)), (2L, vec(20))).toDF("qid", "embedding")

  private def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.toList
      case x => x
    }).toSet

  /** Rows of one kind of file through the log head, tombstoned rows removed. */
  private def visible(index: String, kind: String, idCol: String, cols: String*): Set[Seq[Any]] = {
    val (data, head) = IndexState.open(spark, index)
    rowsOf(IndexState.visibleUnder(head.scan(spark, data, kind), data, head, idCol).select(cols.map(col): _*))
  }

  private final case class Surface(
      name: String,
      build: (DataFrame, String) => Unit,
      mutate: (String, Boolean) => Unit,
      writes: Set[String],
      state: String => Map[String, Any])

  private val bm25 = Surface(
    "bm25",
    (docs, p) => Retrieval.writeBm25Index(docs, "id", "text", p, buckets = 4),
    (p, fused) => Bm25Stream.applyTier(spark, batch, p, "id", "text", None, 64.0, fused),
    Set("tombstones", "postings", "doclens", "impacts", "termdf"),
    p => {
      val c = IndexState.open(spark, p)._2.counters
      Map(
        "counters" -> (c.nDocs, c.dlSum),
        "exact probe" -> rowsOf(Retrieval.bm25TopKIndexedBatch(p, queries, "qid", "qtext", 10)),
        "pruned probe" -> rowsOf(Retrieval.bm25TopKIndexedPrunedBatch(p, queries, "qid", "qtext", 10)),
        "postings" -> visible(p, "postings", "id", "id", "term", "tf", "dl"),
        "doclens" -> visible(p, "doclens", "id", "id", "dl"))
    })

  private val lsh = Surface(
    "lsh",
    (docs, p) => Ann.writeLshIndex(docs, p, "id", "embedding", planes = 4, dim = 8),
    (p, fused) => AnnStream.applyLshTier(batch, p, "id", "embedding", None, fused),
    Set("tombstones", "vectors"),
    p => Map(
      "probe" -> rowsOf(Ann.lshTopKIndexed(p, vecQueries, "qid", "embedding", 5, planes = 4, dim = 8)),
      "vectors" -> visible(p, "vectors", "neighbor_id", "neighbor_id", "v", "bucket")))

  /** The pruned BM25 probe carries df drift under deletes, so it is
    * compared against the same batch applied without a crash, not a
    * rebuild.
    */
  private val driftsFromRebuild = Set("pruned probe")

  for (surface <- Seq(bm25, lsh); fused <- Seq(true, false)) {
    val tier = if (fused) "fused" else "distributed"
    test(s"crash matrix (${surface.name}, $tier tier): a crash at any write or before the commit replays to a rebuild") {
      def fresh(docs: Seq[(Long, String, Int)]): String = {
        val p = graft.util.TempDirs.scratch(s"log-crash-${surface.name}").toString
        surface.build(corpus(docs), p)
        p
      }
      val rebuilt = surface.state(fresh(after))
      val clean = { val p = fresh(base); surface.mutate(p, fused); surface.state(p) }
      rebuilt.foreach { case (k, v) =>
        if (!driftsFromRebuild(k)) assert(clean(k) == v, s"$k: the uncrashed batch differs from a rebuild")
      }
      val points = { val p = fresh(base); pointsOf(surface.mutate(p, fused)) }
      assert(points.map(_._1).toSet == surface.writes.map("write:" + _) + "commit", points)
      // the distributed tier commits its delete leg and its append leg
      // separately; the fused tier commits both at once
      assert(points.count(_._1 == "commit") == (if (fused) 1 else 2), points)
      val before = surface.state(fresh(base))
      points.zipWithIndex.foreach { case ((point, nth), i) =>
        val p = fresh(base)
        crashAt(point, nth)(surface.mutate(p, fused))
        if (!points.take(i).exists(_._1 == "commit"))
          assert(surface.state(p) == before, s"$point #$nth: a crash before any commit changed the index")
        surface.mutate(p, fused)
        val replayed = surface.state(p)
        replayed.foreach { case (k, v) =>
          assert(v == (if (driftsFromRebuild(k)) clean(k) else rebuilt(k)),
            s"$point #$nth: $k after the replay differs from a rebuild")
        }
      }
    }
  }

  test("a probe racing mutations reads one log head, never a mix of two") {
    // each batch flips docs 1..6 between two texts: one fused commit
    // tombstones every old posting and appends every new one, so a probe
    // that mixed two entries (tombstones of the next, postings of the last)
    // would lose documents and match neither corpus
    val a = (1L to 6L).map(i => (i, s"spark alpha doc$i", 0))
    val b = (1L to 6L).map(i => (i, s"window beta doc$i spark", 0))
    def exact(p: String) = rowsOf(Retrieval.bm25TopKIndexedBatch(p, queries, "qid", "qtext", 10))
    def build(docs: Seq[(Long, String, Int)]): String = {
      val p = graft.util.TempDirs.scratch("log-race").toString
      Retrieval.writeBm25Index(corpus(docs), "id", "text", p, buckets = 4)
      p
    }
    val expected = Set(exact(build(a)), exact(build(b)))
    assert(expected.size == 2)
    val dir = build(a)
    @volatile var stop = false
    @volatile var failure: Option[Throwable] = None
    val probes = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      try
        while (!stop) {
          val got = exact(dir)
          assert(expected.contains(got), s"probe saw neither corpus: $got")
          probes.incrementAndGet()
        }
      catch { case t: Throwable => failure = Some(t) }
    }, "log-race-reader")
    reader.start()
    try
      (0 until 6).foreach { k =>
        val docs = if (k % 2 == 0) b else a
        Bm25Stream.applyTier(spark, docs.map { case (i, t, _) => ("UPDATE", i, t) }.toDF("tg_op", "id", "text"),
          dir, "id", "text", None, 64.0, fused = true)
      }
    finally {
      stop = true
      reader.join(60000)
    }
    failure.foreach(t => fail(s"concurrent probe failed: $t", t))
    assert(probes.get() > 0)
    assert(exact(dir) == exact(build(a)), "six flips end on the first corpus")
  }

  test("a commit keeps the head and its predecessor; a crashed mutation leaves no entry") {
    val dir = graft.util.TempDirs.scratch("log-retention").toString
    Retrieval.writeBm25Index(corpus(base), "id", "text", dir, buckets = 4)
    def entries = new java.io.File(s"$dir/${IndexLog.Dir}").list().filterNot(_.startsWith(".")).toSet
    assert(entries == Set("0"))
    (6L to 8L).foreach(i =>
      Retrieval.appendBm25Index(Seq((i, s"spark doc$i")).toDF("id", "text"), "id", "text", dir))
    assert(entries == Set("2", "3"))
    crashAt("commit")(Retrieval.appendBm25Index(Seq((9L, "spark doc9")).toDF("id", "text"), "id", "text", dir))
    assert(entries == Set("2", "3") && IndexState.open(spark, dir)._2.seq == 3L)
  }

  test("an index written before the log asks for a rebuild on probe and mutation") {
    // the earlier layout: the same data files plus `_graft_seq` and, for
    // BM25, `_graft_stats` — and no `_graft_log`
    def dropLog(p: String): Unit = {
      graft.util.TempDirs.delete(java.nio.file.Paths.get(s"$p/${IndexLog.Dir}"))
      IndexState.writeSeq(spark, p, 0L)
    }
    def rebuildAsked(what: String)(f: => Any): Unit = {
      val e = intercept[IllegalStateException](f)
      assert(e.getMessage.contains("rebuild"), s"$what: ${e.getMessage}")
    }
    val text = graft.util.TempDirs.scratch("log-legacy-bm25").toString
    Retrieval.writeBm25Index(corpus(base), "id", "text", text, buckets = 4)
    dropLog(text)
    Seq((4L, 15L, 4, 0L, 0L)).toDF("n_docs", "dl_sum", "buckets", "stats_seq", "tomb_seq")
      .coalesce(1).write.parquet(s"$text/_graft_stats")
    rebuildAsked("bm25 probe")(Retrieval.bm25TopKIndexedPrunedBatch(text, queries, "qid", "qtext", 10))
    rebuildAsked("bm25 fused mutation")(
      Bm25Stream.applyTier(spark, batch, text, "id", "text", None, 64.0, fused = true))
    rebuildAsked("bm25 append")(Retrieval.appendBm25Index(corpus(after), "id", "text", text))

    val vecs = graft.util.TempDirs.scratch("log-legacy-lsh").toString
    Ann.writeLshIndex(corpus(base), vecs, "id", "embedding", planes = 4, dim = 8)
    dropLog(vecs)
    rebuildAsked("lsh probe")(Ann.lshTopKIndexed(vecs, vecQueries, "qid", "embedding", 5, planes = 4, dim = 8))
    rebuildAsked("lsh fused mutation")(AnnStream.applyLshTier(batch, vecs, "id", "embedding", None, fused = true))
    rebuildAsked("lsh delete")(Ann.deleteFromLshIndex(spark, vecs, Seq(1L).toDF("id")))
  }
}
