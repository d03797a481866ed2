package graft.streaming

import graft.{GraftSync, SparkSpec, TwoTier}
import graft.ann.Ann
import graft.catalog.{Catalog, TableMeta}
import graft.functions.Retrieval
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The composed product entry end-to-end: ONE change feed maintains the
  * doc index + lineage, a persisted BM25 index, an LSH ANN index, an
  * IVF-PQ ANN index, the exact-dedup registry and the near-dup cluster map
  * — each with its own checkpoint — across a mid-stream restart ("crash")
  * of all six consumers. Every probe surface must end bit-for-bit equal to
  * an index built from the FINAL source state (PQ under the models frozen
  * at seed; the cluster map against every document ever ingested — its
  * no-split contract).
  */
class SyncPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def mkVec(i: Long) =
    Array.tabulate(16)(j => (math.cos((i % 4) * 3 + j) + 0.05 * math.sin(i * 17 + j)).toFloat)

  private def note(i: Long): (Long, String, Array[Float]) =
    // 6, 7 and 8 are mutual near-dups (one mutated trailing token, the rest
    // of the 3-shingles shared): 6 arrives in phase 1, 7/8 after the
    // restart, so their cluster forms only through the persisted signature
    // index surviving the crash
    if (i >= 6L)
      (i, s"near dup alpha near bravo near charlie near delta near echo tail$i", mkVec(i))
    else (i, s"note text number$i shared words", mkVec(i))

  test("one feed, six consumers, restart mid-stream: every surface equals a final-state rebuild") {
    // the mutable "database": seed {1..4}; phase 1 deletes 1, adds 5,6;
    // phase 2 (after the crash) updates 2, deletes 5, adds 7,8
    val updated2 = (2L, "note text REWRITTEN two", mkVec(42L))
    val seedState: Seq[(Long, String, Array[Float])] = (1L to 4L).map(note)
    val phase1State: Seq[(Long, String, Array[Float])] = (2L to 6L).map(note)
    val finalState = Seq(updated2) ++ Seq(3L, 4L, 6L, 7L, 8L).map(note)
    val h = new PipelineHarness(
      spark, "note", "id", seedState.toDF("id", "text", "embedding"), Seq("id", "text"))
    val (dir, sync) = (h.dir, h.sync)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val survivors = scala.collection.mutable.ArrayBuffer.empty[Long]
    def pipeline = h.pipeline(
      SyncPipeline.Bm25Consumer(s"$dir/bm25", "text", buckets = 8),
      SyncPipeline.AnnLshConsumer(s"$dir/ann-lsh", "embedding", planes = 6, dim = 16),
      SyncPipeline.AnnPqConsumer(s"$dir/ann-pq", "embedding", nlists = 2, m = 4, codeK = 4),
      SyncPipeline.DedupConsumer(s"$dir/dedup", "text",
        s => survivors.synchronized { survivors ++= s.collect().map(_.getLong(0)) }),
      SyncPipeline.ClusterConsumer(
        s"$dir/cluster", s"$dir/cluster-sig", "text", sigBuckets = 8, mapBuckets = 8)
    )

    // ---- seed: snapshot + all five index builds from state {1..4} ----------
    pipeline.seed()
    assert(sync.state.docs.count() == 4)
    assert(survivors.toSet == (1L to 4L).toSet, "seed corpus survivors are the 4 distinct texts")
    survivors.clear()

    // ---- phase 1: DELETE 1, INSERT 5, INSERT 6; then "crash" ---------------
    h.rows = phase1State.toDF("id", "text", "embedding")
    h.land(("DELETE", 1L), ("INSERT", 5L), ("INSERT", 6L))
    h.run(pipeline)
    assert(sync.state.docs.collect().map(_.getString(0)).toSet == (2L to 6L).map(_.toString).toSet)

    // ---- phase 2: land changes while everything is DOWN, then restart ------
    h.rows = finalState.toDF("id", "text", "embedding")
    h.land(("UPDATE", 2L), ("DELETE", 5L), ("INSERT", 7L), ("INSERT", 8L))
    h.run(pipeline)
    // no micro-batch of any of the six queries outlives its query
    val leaked = spark.sparkContext.getPersistentRDDs -- cachedBefore
    assert(leaked.isEmpty, s"persistent RDDs left after stopAll: ${leaked.values.mkString(", ")}")

    // ---- doc index: exactly the final state, update visible ----------------
    val docs = sync.state.docs.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(docs.keySet == Set("2", "3", "4", "6", "7", "8"))
    assert(docs("2").contains("REWRITTEN"))

    // ---- BM25: probe equals a rebuild of the final corpus bit-for-bit ------
    val finalDf = finalState.toDF("id", "text", "embedding")
    val queries = Seq((100L, "note shared"), (200L, "REWRITTEN number7")).toDF("qid", "qtext")
    Retrieval.writeBm25Index(finalDf, "id", "text", s"$dir/bm25-rebuilt", buckets = 8)
    def bm25Rows(p: String) =
      Retrieval.bm25TopKIndexedBatch(p, queries, "qid", "qtext", 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(bm25Rows(s"$dir/bm25") == bm25Rows(s"$dir/bm25-rebuilt"))

    // ---- LSH ANN: probe equals a rebuild of the final vectors --------------
    val vecQueries = finalDf.filter(col("id").isin(3L, 4L)).select(col("id"), col("embedding"))
    Ann.writeLshIndex(finalDf, s"$dir/ann-lsh-rebuilt", "id", "embedding", planes = 6, dim = 16)
    def lshRows(p: String) =
      Ann.lshTopKIndexed(p, vecQueries, "id", "embedding", 5, planes = 6, dim = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(lshRows(s"$dir/ann-lsh") == lshRows(s"$dir/ann-lsh-rebuilt"))

    // ---- IVF-PQ: probe equals a final-state index under the SAME models
    // frozen at seed time (training is deterministic in the seed corpus) ----
    val seedDf = seedState.toDF("id", "text", "embedding")
    val cells = Ann.trainIvfCells(seedDf, "id", "embedding", nlists = 2)
    val books = Ann.pqTrain(seedDf, "id", "embedding", m = 4, codeK = 4)
    Ann.writePqIndex(finalDf, s"$dir/ann-pq-rebuilt", "id", "embedding", cells, books)
    def pqRows(p: String) =
      Ann.pqTopKIndexedResumed(p, vecQueries, "id", "embedding", 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pqRows(s"$dir/ann-pq") == pqRows(s"$dir/ann-pq-rebuilt"))

    // ---- dedup: the streamed phases registered exactly the new digests,
    // batch 1 was NOT replayed after the restart (checkpoint), and the
    // registry holds one row per distinct text ever seen -------------------
    assert(survivors.toSet == Set(5L, 6L, 2L, 7L, 8L))
    val keepIds = spark.read.parquet(s"$dir/dedup").collect().map(_.getAs[Long]("keep_id"))
    assert(keepIds.length == 9, s"4 seed + 5 streamed digests, got ${keepIds.length}")
    assert(keepIds.count(_ == 2L) == 2, "old and rewritten text of doc 2 are distinct digests")

    // ---- cluster map: every doc ever ingested assigned; 6/7/8 clustered
    // across the crash (7/8 paired with 6 only via the persisted signature
    // index), everything else singleton — deletes never split ---------------
    def clusterRows = graft.dedup.ClusterMap.assignments(spark, s"$dir/cluster")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantClusters =
      (1L to 5L).map(i => (i, i)).toSet ++ Set((6L, 6L), (7L, 6L), (8L, 6L))
    assert(clusterRows == wantClusters)

    // ---- replaying the LAST batch through the batch-mode path converges ----
    val replay = Seq(
      ("UPDATE", "note", """{"id": 2}""", """{"id": 2}""", 4L),
      ("DELETE", "note", """{"id": 5}""", null, 5L),
      ("INSERT", "note", null, """{"id": 7}""", 6L),
      ("INSERT", "note", null, """{"id": 8}""", 7L)
    ).toDF("tg_op", "tbl", "old", "new", "txid")
    pipeline.applyBatch(replay)
    assert(bm25Rows(s"$dir/bm25") == bm25Rows(s"$dir/bm25-rebuilt"))
    assert(lshRows(s"$dir/ann-lsh") == lshRows(s"$dir/ann-lsh-rebuilt"))
    assert(pqRows(s"$dir/ann-pq") == pqRows(s"$dir/ann-pq-rebuilt"))
    assert(sync.state.docs.count() == 6)
    assert(spark.read.parquet(s"$dir/dedup").count() == 9)
    assert(clusterRows == wantClusters, "replayed batch leaves the cluster map converged")
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("streamed batches over the literal-tier bound: cached once per batch, released, surfaces rebuilt") {
    // threshold 1: a multi-id batch takes the distributed tier, whose rows
    // every consumer action would re-derive without the per-batch cache;
    // the cache must not outlive the batch
    val seedState = (1L to 4L).map(note)
    val finalState = Seq((2L, "note text REWRITTEN two", mkVec(42L))) ++ Seq(3L, 4L, 5L, 6L).map(note)
    val h = new PipelineHarness(
      spark, "note", "id", seedState.toDF("id", "text", "embedding"), Seq("id", "text"),
      tuning = graft.Tuning(inSetThreshold = 1))
    val dir = h.dir
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val pipeline = h.pipeline(
      SyncPipeline.Bm25Consumer(s"$dir/bm25", "text", buckets = 8),
      SyncPipeline.AnnLshConsumer(s"$dir/ann-lsh", "embedding", planes = 6, dim = 16))
    pipeline.seed()
    h.rows = finalState.toDF("id", "text", "embedding")
    h.land(("DELETE", 1L), ("UPDATE", 2L), ("INSERT", 5L), ("INSERT", 6L))
    h.run(pipeline)
    val leaked = spark.sparkContext.getPersistentRDDs -- cachedBefore
    assert(leaked.isEmpty, s"persistent RDDs left after stopAll: ${leaked.values.mkString(", ")}")

    val finalDf = finalState.toDF("id", "text", "embedding")
    val queries = Seq((100L, "note shared"), (200L, "REWRITTEN number5")).toDF("qid", "qtext")
    Retrieval.writeBm25Index(finalDf, "id", "text", s"$dir/bm25-rebuilt", buckets = 8)
    def bm25Rows(p: String) =
      Retrieval.bm25TopKIndexedBatch(p, queries, "qid", "qtext", 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(bm25Rows(s"$dir/bm25") == bm25Rows(s"$dir/bm25-rebuilt"))
    val vecQueries = finalDf.filter(col("id").isin(3L, 4L)).select(col("id"), col("embedding"))
    Ann.writeLshIndex(finalDf, s"$dir/ann-lsh-rebuilt", "id", "embedding", planes = 6, dim = 16)
    def lshRows(p: String) =
      Ann.lshTopKIndexed(p, vecQueries, "id", "embedding", 5, planes = 6, dim = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(lshRows(s"$dir/ann-lsh") == lshRows(s"$dir/ann-lsh-rebuilt"))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("randomized composed pipeline: random ops in random batches equal a final-state rebuild on every surface") {
    // The six-consumer analogue of the per-family randomized properties:
    // random INSERT/UPDATE/DELETE sequences, partitioned into random
    // batches through SyncPipeline.applyBatch (plus a random batch
    // REPLAYED at the final source state), must land every surface on the
    // same fixpoint as a from-scratch build of the final corpus. Text is
    // IMMUTABLE per id (updates bump only the embedding) so the cluster
    // model stays independent: the engine can discover a near-dup pair at
    // exactly the batches where both endpoints are live together, so the
    // expected map is a driver union-find over the public batch operator's
    // pairs per delivery — the fixed-scenario test above keeps covering
    // text rewrites.
    val rng = new scala.util.Random(77L)
    def text(i: Long): String =
      if (i % 3 == 0) s"near dup alpha near bravo near charlie near delta near echo tail$i"
      else if (i % 3 == 1) s"other family words quick brown fox jumps lazy dog token$i"
      else s"note text number$i unique words"
    def vec(i: Long, v: Int): Array[Float] =
      Array.tabulate(16)(j => (math.cos((i % 4) * 3 + j) + 0.05 * math.sin(i * 17 + v * 31 + j)).toFloat)
    def lshPairs(df: DataFrame): Set[(Long, Long)] =
      graft.dedup.Dedup.minhashLshPortable(df, "id", "text",
          shingleN = 3, bands = 8, rowsPerBand = 2, threshold = 0.3, maxBucket = 1000)
        .select(col("id_a"), col("id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    for (trial <- 0 until 2) {
      val dir = Files.createTempDirectory(s"graft-pipeline-rand-$trial").toString
      val ver = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
      var live = (1L to 6L).toSet
      var everIngested = (1L to 6L).toSet
      var nextId = 7L
      def state: Seq[(Long, String, Array[Float])] =
        live.toSeq.sorted.map(i => (i, text(i), vec(i, ver(i))))
      @volatile var notes = state
      val load: String => DataFrame = { case "note" => notes.toDF("id", "text", "embedding") }
      val seedDf = notes.toDF("id", "text", "embedding")

      val cat = Catalog(Map("note" -> TableMeta("note", Seq("id"))))
      val schema = """{"database":"db","index":"notes","nodes":{"table":"note","columns":["id","text"]}}"""
      val sync = GraftSync(spark, schema, cat, load, s"$dir/docs-index")
      val pipeline = new SyncPipeline(
        sync, load, "note", "id",
        Seq(
          SyncPipeline.Bm25Consumer(s"$dir/bm25", "text", buckets = 8),
          SyncPipeline.AnnLshConsumer(s"$dir/ann-lsh", "embedding", planes = 6, dim = 16),
          SyncPipeline.AnnPqConsumer(s"$dir/ann-pq", "embedding", nlists = 2, m = 4, codeK = 4),
          SyncPipeline.DedupConsumer(s"$dir/dedup", "text"),
          SyncPipeline.ClusterConsumer(
            s"$dir/cluster", s"$dir/cluster-sig", "text", portable = true,
            shingleN = 3, bands = 8, rowsPerBand = 2, threshold = 0.3, maxBucket = 1000,
            sigBuckets = 8, mapBuckets = 8)
        ),
        s"$dir/ckpt")
      pipeline.seed()
      val pairs = scala.collection.mutable.Set.empty[(Long, Long)]
      pairs ++= lshPairs(seedDf)

      // random op sequence against the model state (deletes keep >= 4 live
      // so probe queries always have targets; ids are never reused)
      var txid = 0L
      val ops = (0 until 10).map { _ =>
        txid += 1
        rng.nextInt(10) match {
          case r if r < 4 || live.size <= 4 =>
            val id = nextId; nextId += 1; ("INSERT", id, txid)
          case r if r < 7 =>
            val id = live.toSeq.sorted.apply(rng.nextInt(live.size)); ("UPDATE", id, txid)
          case _ =>
            val id = live.toSeq.sorted.apply(rng.nextInt(live.size)); ("DELETE", id, txid)
        }
      }
      val nBatches = 1 + rng.nextInt(3)
      val cuts = IndexedSeq.fill(ops.size)(rng.nextInt(nBatches)).sorted
      def batchDf(bops: Seq[(String, Long, Long)]): DataFrame =
        bops.map { case (op, id, tx) =>
          (op, "note",
            if (op == "DELETE") s"""{"id": $id}""" else null,
            if (op == "DELETE") null else s"""{"id": $id}""", tx)
        }.toDF("tg_op", "tbl", "old", "new", "txid")
      val batches = (0 until nBatches).map(b => ops.zip(cuts).filter(_._2 == b).map(_._1))
      for (bops <- batches if bops.nonEmpty) {
        for ((op, id, _) <- bops) op match {
          case "INSERT" => live += id; everIngested += id
          case "UPDATE" => ver(id) = ver(id) + 1
          case "DELETE" => live -= id
        }
        notes = state
        pipeline.applyBatch(batchDf(bops))
        // pairs the engine can discover this delivery: both endpoints live
        // together now, at least one of them upserted by this batch
        val upserted = bops.groupBy(_._2).collect {
          case (id, idOps) if idOps.last._1 != "DELETE" => id
        }.toSet
        pairs ++= lshPairs(notes.toDF("id", "text", "embedding"))
          .filter(p => upserted(p._1) || upserted(p._2))
      }
      // at-least-once: replay a random non-empty batch at the FINAL source
      // state — upserts of since-deleted ids degrade to DELETE, everything
      // converges, and (ids are never reused) no new pair can form
      batches.filter(_.nonEmpty).lift(rng.nextInt(math.max(1, batches.count(_.nonEmpty))))
        .foreach(bops => pipeline.applyBatch(batchDf(bops)))

      // ---- doc index == live set ----------------------------------------
      assert(sync.state.docs.collect().map(_.getString(0)).toSet == live.map(_.toString),
        s"trial=$trial nBatches=$nBatches doc index diverged")
      val finalDf = notes.toDF("id", "text", "embedding")
      // ---- BM25: exact probe and (post-compaction) pruned probe equal a
      // fresh build of the final corpus --------------------------------------
      val queries = Seq((100L, "near alpha delta"), (200L, "note unique words")).toDF("qid", "qtext")
      Retrieval.writeBm25Index(finalDf, "id", "text", s"$dir/bm25-rebuilt", buckets = 8)
      def probeRows(f: String => DataFrame)(p: String) =
        f(p).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      def exactP = probeRows(Retrieval.bm25TopKIndexedBatch(_, queries, "qid", "qtext", 10)) _
      def prunedP = probeRows(Retrieval.bm25TopKIndexedPrunedBatch(_, queries, "qid", "qtext", 10)) _
      assert(exactP(s"$dir/bm25") == exactP(s"$dir/bm25-rebuilt"), s"trial=$trial bm25 exact diverged")
      if (graft.sources.IndexState.tombstoneCount(spark, s"$dir/bm25") > 0)
        assert(Retrieval.maybeCompactBm25Index(spark, s"$dir/bm25", maxDeadRatio = 1e-9))
      assert(prunedP(s"$dir/bm25") == prunedP(s"$dir/bm25-rebuilt"),
        s"trial=$trial bm25 pruned diverged post-compaction")
      // ---- LSH == rebuild over final vectors -------------------------------
      val vq = finalDf.filter(col("id").isin(live.toSeq.sorted.take(2): _*))
        .select(col("id"), col("embedding"))
      Ann.writeLshIndex(finalDf, s"$dir/ann-lsh-rebuilt", "id", "embedding", planes = 6, dim = 16)
      def lshRows(p: String) =
        Ann.lshTopKIndexed(p, vq, "id", "embedding", 5, planes = 6, dim = 16)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(lshRows(s"$dir/ann-lsh") == lshRows(s"$dir/ann-lsh-rebuilt"), s"trial=$trial lsh diverged")
      // ---- PQ == rebuild under the models frozen at seed -------------------
      val cells = Ann.trainIvfCells(seedDf, "id", "embedding", nlists = 2)
      val books = Ann.pqTrain(seedDf, "id", "embedding", m = 4, codeK = 4)
      Ann.writePqIndex(finalDf, s"$dir/ann-pq-rebuilt", "id", "embedding", cells, books)
      def pqRows(p: String) =
        Ann.pqTopKIndexedResumed(p, vq, "id", "embedding", 5, nprobe = 2)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pqRows(s"$dir/ann-pq") == pqRows(s"$dir/ann-pq-rebuilt"), s"trial=$trial pq diverged")
      // ---- dedup registry: one digest per id ever ingested (texts are
      // unique per id and immutable; deletes never retract) ------------------
      val keepIds = spark.read.parquet(s"$dir/dedup").collect().map(_.getAs[Long]("keep_id")).toSeq
      assert(keepIds.sorted == everIngested.toSeq.sorted, s"trial=$trial dedup registry diverged")
      // ---- cluster map: union-find over the per-delivery discoverable
      // pairs, every id ever ingested assigned, deletes never split ----------
      val parent = scala.collection.mutable.Map(everIngested.toSeq.map(i => i -> i): _*)
      def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val wantClusters = everIngested.map(i => (i, find(i)))
      val gotClusters = graft.dedup.ClusterMap.assignments(spark, s"$dir/cluster")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotClusters == wantClusters, s"trial=$trial cluster map diverged")
      graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
    }
  }

  test("changeRows: final-op collapse, payload join, and vanished-row degradation") {
    val src = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "text")
    val load: String => DataFrame = { case "t" => src }
    val batch = Seq(
      // id 1: INSERT then DELETE in one batch → final op DELETE
      ("INSERT", "t", null, """{"id": 1}""", 1L),
      ("DELETE", "t", """{"id": 1}""", null, 2L),
      // id 2: UPDATE → payload from the current table
      ("UPDATE", "t", """{"id": 2}""", """{"id": 2}""", 3L),
      // id 3: INSERT whose row is GONE from the source → degrades to DELETE
      ("INSERT", "t", null, """{"id": 3}""", 4L),
      // other table: ignored
      ("INSERT", "x", null, """{"id": 9}""", 5L)
    ).toDF("tg_op", "tbl", "old", "new", "txid")
    // the literal tier and the broadcast semi-join derive the same rows
    val rows = TwoTier.assertSame(tuning =>
      Map("rows" -> SyncPipeline.changeRows(batch, load, "t", "id", Seq("text"), tuning)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet))
    assert(rows("rows") == Set(("DELETE", 1L, null), ("UPDATE", 2L, "beta"), ("DELETE", 3L, null)))
  }

  test("changeRows: empty and foreign-table-only batches yield empty (streaming idle path)") {
    val src = Seq((1L, "alpha")).toDF("id", "text")
    val load: String => DataFrame = { case "t" => src }
    val empty = Seq.empty[(String, String, String, String, Long)]
      .toDF("tg_op", "tbl", "old", "new", "txid")
    assert(SyncPipeline.changeRows(empty, load, "t", "id", Seq("text")).count() == 0)
    // a batch that only touches OTHER tables must also derive zero rows
    val foreign = Seq(("INSERT", "x", null: String, """{"id": 9}""", 1L))
      .toDF("tg_op", "tbl", "old", "new", "txid")
    assert(SyncPipeline.changeRows(foreign, load, "t", "id", Seq("text")).count() == 0)
    // the default-tier calls above take the literal tier with a zero-value
    // isin, which must not throw; at threshold 0 the empty set takes the
    // semi-join tier, also empty
    assert(SyncPipeline.changeRows(
      foreign, load, "t", "id", Seq("text"), TwoTier.Distributed).count() == 0)
  }

  test("a cluster consumer persists the same assignments, merges and stored keys on both tiers") {
    // clusters {10, 11} and {20, 21} share no 3-shingle pair above the
    // threshold; doc 5 overlaps both (Jaccard ≈ 0.57 each), so its batch
    // merges two stored clusters under the smaller id
    def words(from: Int, to: Int) = (from to to).map(w => s"w$w").mkString(" ")
    val texts = Map(
      10L -> s"${words(1, 20)} tag10", 11L -> s"${words(1, 20)} tag11",
      20L -> s"${words(11, 30)} tag20", 21L -> s"${words(11, 30)} tag21",
      40L -> "a third cluster of its own kind here", 41L -> "a third cluster of its own kind now",
      5L -> s"${words(6, 25)} tag5", 22L -> s"${words(11, 30)} tag22")
    def source(ids: Long*) = ids.map(i => (i, texts(i))).toDF("id", "text")
    def bag(df: DataFrame) = df.collect().map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.length }
    val state = TwoTier.assertSame { tuning =>
      val h = new PipelineHarness(spark, "note", "id", source(10L, 11L, 20L, 21L, 40L), Seq("id"), tuning)
      val (map, sig) = (s"${h.dir}/cluster", s"${h.dir}/cluster-sig")
      val p = h.pipeline(SyncPipeline.ClusterConsumer(
        map, sig, "text", bands = 32, rowsPerBand = 2, sigBuckets = 4, mapBuckets = 4))
      p.seed()
      h.rows = source(5L, 10L, 11L, 20L, 40L, 41L)
      p.applyBatch(h.batch(("INSERT", 5L), ("INSERT", 41L), ("DELETE", 21L)))
      h.rows = source(5L, 10L, 11L, 20L, 22L, 40L, 41L)
      val last = h.batch(("INSERT", 22L), ("UPDATE", 40L))
      p.applyBatch(last)
      p.applyBatch(last) // at-least-once
      val (data, head) = graft.sources.IndexState.open(spark, map)
      val got = Map(
        "assignments" -> bag(graft.dedup.ClusterMap.assignments(spark, map)),
        "merges" -> bag(head.scan(spark, data, "merges").select("from_root", "to_root", "seq")),
        "keys" -> bag(graft.dedup.SignatureIndex.storedKeys(spark, sig)))
      graft.util.TempDirs.delete(java.nio.file.Paths.get(h.dir))
      got
    }
    val assigned = state("assignments").asInstanceOf[Map[Seq[Any], Int]].keySet
      .map(r => r(0).asInstanceOf[Long] -> r(1).asInstanceOf[Long]).toMap
    assert(assigned == Map(5L -> 5L, 10L -> 5L, 11L -> 5L, 20L -> 5L, 21L -> 5L, 22L -> 5L,
      40L -> 40L, 41L -> 40L), assigned)
    assert(state("merges").asInstanceOf[Map[Seq[Any], Int]].keySet.map(r => r.take(2)) ==
      Set(Seq(10L, 5L), Seq(20L, 5L)))
  }
}
