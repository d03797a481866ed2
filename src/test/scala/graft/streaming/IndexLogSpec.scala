package graft.streaming

import graft.SparkSpec
import graft.ann.Ann
import graft.dedup.{ClusterMap, Dedup, SignatureIndex}
import graft.functions.Retrieval
import graft.sources.{IndexLog, IndexState}
import graft.sources.Crashes.{crashAt, pointsOf}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The index log's commit protocol ([[graft.sources.IndexLog]]) under the
  * streaming maintainers' batches and the dedup indexes' mutations: a
  * mutation that crashes anywhere before its entry changes nothing visible
  * and its replay equals a rebuild; a probe racing mutations reads one
  * entry; an index written before the log asks for a rebuild.
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

  /** Rows of `df` with their multiplicity: a file adopted twice shows. */
  private def bagOf(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  /** The earlier layout of a logged index: its data files plus
    * `_graft_seq`, and no `_graft_log`.
    */
  private def dropLog(p: String): Unit = {
    graft.util.TempDirs.delete(java.nio.file.Paths.get(s"$p/${IndexLog.Dir}"))
    Seq(0L).toDF("seq").coalesce(1).write.parquet(s"$p/_graft_seq")
  }

  private def rebuildAsked(what: String, builder: String = "rebuild")(f: => Any): Unit = {
    val e = intercept[IllegalStateException](f)
    assert(e.getMessage.contains("rebuild") && e.getMessage.contains(builder), s"$what: ${e.getMessage}")
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

  test("crash matrix (bm25 compaction): a crash at any promotion step keeps the index readable, the retry equals a rebuild") {
    def build(): String = {
      val p = graft.util.TempDirs.scratch("log-crash-bm25-compact").toString
      bm25.build(corpus(base), p)
      bm25.mutate(p, true)
      p
    }
    def compact(p: String): Unit = { IndexState.compactAndSwap(spark, p, Retrieval.compactBm25Index(spark, p, _)); () }
    val rebuilt = { val p = graft.util.TempDirs.scratch("log-crash-bm25-rebuild").toString; bm25.build(corpus(after), p); bm25.state(p) }
    val before = bm25.state(build())
    val reached = { val p = build(); pointsOf(compact(p)).map(_._1).filter(promotion) }
    assert(reached == Seq("promote:staged", "promote:renamed", "promote:ready"), reached)
    reached.foreach { point =>
      val p = build()
      crashAt(point)(compact(p))
      // before the ready marker the previous generation is untouched; after
      // it the compacted one reads the same rows (its impact caps are fresh)
      val crashed = bm25.state(p)
      val promoted = point == "promote:ready"
      before.foreach { case (k, v) =>
        if (!promoted || !driftsFromRebuild(k)) assert(crashed(k) == v, s"$point: $k changed by the crashed compaction")
      }
      assert(IndexState.currentGen(spark, p).isDefined == promoted, point)
      compact(p)
      bm25.state(p).foreach { case (k, v) =>
        if (!driftsFromRebuild(k)) assert(v == rebuilt(k), s"$point: $k after the retried compaction differs from a rebuild")
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
    // the earlier layout (see dropLog) plus, for BM25, `_graft_stats`
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

  // ---- the dedup indexes ------------------------------------------------

  private def clusterMapState(p: String): Map[String, Any] = {
    val (data, head) = IndexState.open(spark, p)
    Map(
      "generation" -> (data != p),
      "assignments" -> ClusterMap.assignments(spark, p).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      "members" -> bagOf(head.scan(spark, data, "members").select("id", "root", "syn", "bucket")),
      "merges" -> bagOf(head.scan(spark, data, "merges").select("from_root", "to_root", "seq")))
  }

  /** [[Dedup.connectedComponents]] over `pairs`, with `ids` as singletons. */
  private def ccOf(pairs: Seq[(Long, Long)], ids: Seq[Long]): Map[Long, Long] = {
    val cc = Dedup.connectedComponents(pairs.toDF("id_a", "id_b")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.map(i => i -> cc.getOrElse(i, i)).toMap
  }

  /** Crash `mutate` on a fresh `build()` at each point it reaches: the crash
    * changes nothing `state` shows — unless the point comes after the step
    * that `published` the mutation, when the state is already the
    * uncrashed run's — and the replay's state equals the uncrashed run's,
    * which is returned. `state` counts rows, so a replay that also adopted
    * the crashed run's files differs.
    */
  private def dedupCrashMatrix(
      build: () => String,
      mutate: String => Unit,
      state: String => Map[String, Any],
      points: Set[String],
      published: Set[String] = Set.empty
  ): Map[String, Any] = {
    val clean = { val p = build(); mutate(p); state(p) }
    val reached = { val p = build(); pointsOf(mutate(p)) }
    assert(reached.map(_._1).toSet == points, reached)
    assert(reached.count(_._1 == "commit") == 1, reached)
    val before = state(build())
    reached.foreach { case (point, nth) =>
      val p = build()
      crashAt(point, nth)(mutate(p))
      if (published(point)) assert(state(p) == clean, s"$point #$nth: a crash after the flip lost the mutation")
      else assert(state(p) == before, s"$point #$nth: a crash before the commit changed the index")
      mutate(p)
      state(p).foreach { case (k, v) =>
        assert(v == clean(k), s"$point #$nth: $k after the replay differs from one delivery")
      }
    }
    clean
  }

  private def applyPairs(p: String, ids: Seq[Long], pairs: Seq[(Long, Long)]): Unit =
    ClusterMap.applyBatch(spark, p, pairs.toDF("id_a", "id_b"), ids.toDF("id"))

  test("crash matrix (cluster map, fused tier): a batch that merges stored clusters and adds members") {
    val stored = Seq(Seq(10L, 11L) -> Seq((10L, 11L)), Seq(20L, 21L) -> Seq((20L, 21L)))
    // doc 5 bridges both stored clusters and doc 30 joins through it
    val (ids, pairs) = (Seq(5L, 30L), Seq((5L, 11L), (5L, 21L), (30L, 5L)))
    def build(): String = {
      val p = graft.util.TempDirs.scratch("log-crash-cmap").toString
      ClusterMap.init(spark, p, buckets = 4)
      stored.foreach { case (i, ps) => applyPairs(p, i, ps) }
      p
    }
    val clean = dedupCrashMatrix(build, applyPairs(_, ids, pairs), clusterMapState,
      Set("write:members", "write:merges", "commit"))
    assert(clean("assignments") == ccOf(stored.flatMap(_._2) ++ pairs, stored.flatMap(_._1) ++ ids))
    // the batch commits at seq 3 (init 0, two stored batches): both
    // dethroned roots point down to 5
    assert(clean("merges") == Map(Seq(10L, 5L, 3L) -> 1, Seq(20L, 5L, 3L) -> 1))
  }

  /** The promotion steps of [[IndexState.compactAndSwap]]; only a crash
    * after the ready marker leaves the compacted generation current.
    */
  private val promotion = Set("promote:staged", "promote:renamed", "promote:ready")

  test("crash matrix (cluster map compaction): a crashed compaction leaves the generation, the replay promotes") {
    // a chain 30 -> 20 -> 10: two pointers over four members
    val batches = Seq(Seq(30L, 31L) -> Seq((30L, 31L)), Seq(20L) -> Seq((20L, 31L)), Seq(10L) -> Seq((10L, 20L)))
    def build(): String = {
      val p = graft.util.TempDirs.scratch("log-crash-cmap-compact").toString
      ClusterMap.init(spark, p, buckets = 4)
      batches.foreach { case (i, ps) => applyPairs(p, i, ps) }
      p
    }
    // the replay after `promote:ready` finds nothing left to compact
    val clean = dedupCrashMatrix(build, p => { ClusterMap.maybeCompact(spark, p, maxMergeRatio = 0.2); () },
      clusterMapState, Set("write:members", "commit") ++ promotion, published = Set("promote:ready"))
    assert(clean("generation") == true && clean("merges") == Map.empty)
    assert(clean("assignments") == ccOf(batches.flatMap(_._2), batches.flatMap(_._1)))
  }

  test("crash matrix (signature index append): the replay stores exactly the corpus's band keys") {
    val m = SignatureIndex.Model(portable = false, shingleN = 3, bands = 8, rowsPerBand = 2,
      threshold = 0.5, maxBucket = 1000, buckets = 4)
    val stored = corpus(base).select("id", "text")
    val arriving = Seq((5L, "filler join fresh"), (6L, "window spark rewritten")).toDF("id", "text")
    def build(): String = {
      val p = graft.util.TempDirs.scratch("log-crash-sig").toString
      SignatureIndex.write(stored, p, "id", "text", m)
      p
    }
    val clean = dedupCrashMatrix(build,
      p => SignatureIndex.appendKeys(spark, p, m, SignatureIndex.bandKeys(arriving, "id", "text", m)),
      p => Map("keys" -> bagOf(SignatureIndex.storedKeys(spark, p))),
      Set("write:keys", "commit"))
    assert(clean("keys").asInstanceOf[Map[Seq[Any], Int]].keySet ==
      rowsOf(SignatureIndex.bandKeys(stored.unionByName(arriving), "id", "text", m).select("id", "key")))
  }

  test("band keys refuse an id with two texts (the corpus plus an UPDATE of doc 2)") {
    val m = SignatureIndex.Model(portable = false, shingleN = 3, bands = 8, rowsPerBand = 2,
      threshold = 0.5, maxBucket = 1000, buckets = 4)
    val stored = corpus(base).select("id", "text")
    def keys(df: DataFrame) = rowsOf(SignatureIndex.bandKeys(df, "id", "text", m).select("id", "key"))
    assert(keys(stored).count(_.head == 2L) == 8)
    // merged, the two texts of doc 2 would key bands that match neither
    val err = intercept[Exception](keys(stored.unionByName(Seq((2L, "window spark rewritten")).toDF("id", "text"))))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("id 2 has two texts")), err)
    // the same text twice is one document
    assert(keys(stored.unionByName(stored.filter(col("id") === 2L))) == keys(stored))
  }

  test("a cluster map or signature index written before the log asks for a rebuild on apply and on read") {
    val map = graft.util.TempDirs.scratch("log-legacy-cmap").toString
    ClusterMap.init(spark, map, buckets = 4)
    applyPairs(map, Seq(10L, 11L), Seq((10L, 11L)))
    dropLog(map)
    Seq(4).toDF("buckets").coalesce(1).write.parquet(s"$map/_graft_model")
    rebuildAsked("cluster map apply", "ClusterMap.init")(applyPairs(map, Seq(5L), Seq((5L, 11L))))
    rebuildAsked("cluster map assignments", "ClusterMap.init")(ClusterMap.assignments(spark, map))
    rebuildAsked("cluster map resolve", "ClusterMap.init")(ClusterMap.resolve(spark, map, Seq(10L).toDF("id")))
    rebuildAsked("cluster map compaction", "ClusterMap.init")(ClusterMap.maybeCompact(spark, map))

    val m = SignatureIndex.Model(portable = true, shingleN = 3, bands = 8, rowsPerBand = 2,
      threshold = 0.5, maxBucket = 1000, buckets = 4)
    val sig = graft.util.TempDirs.scratch("log-legacy-sig").toString
    SignatureIndex.write(corpus(base).select("id", "text"), sig, "id", "text", m)
    dropLog(sig)
    val keys = SignatureIndex.bandKeys(corpus(after).select("id", "text"), "id", "text", m)
    rebuildAsked("signature append", "SignatureIndex.write")(SignatureIndex.appendKeys(spark, sig, m, keys))
    rebuildAsked("signature probe", "SignatureIndex.write")(SignatureIndex.candidates(spark, sig, m, keys))
    rebuildAsked("signature keys", "SignatureIndex.write")(SignatureIndex.storedKeys(spark, sig))
    rebuildAsked("signature compaction", "SignatureIndex.write")(SignatureIndex.compact(spark, sig))
  }
}
