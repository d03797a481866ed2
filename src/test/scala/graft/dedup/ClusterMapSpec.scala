package graft.dedup

import graft.{SparkSpec, TwoTier}
import graft.sources.IndexState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[ClusterMap]] — the persisted incremental union-find: arriving batches
  * must reproduce exactly what the batch CC would compute over the
  * cumulative pair list, cluster merges must be downward pointer appends,
  * replays must converge, and compaction must flatten chains without
  * changing a single assignment.
  */
class ClusterMapSpec extends SparkSpec {
  import spark.implicits._

  private def pairsDf(ps: (Long, Long)*): DataFrame =
    ps.toDF("id_a", "id_b")

  private def idsDf(ids: Long*): DataFrame = ids.toDF("id")

  private def asMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("batched ingest reproduces the batch CC over the cumulative pair list") {
    val path = graft.util.TempDirs.scratch("cmap-cc").toString
    ClusterMap.init(spark, path, buckets = 4)
    // arrival batches; pair (a,b) arrives with the later endpoint
    val batches = Seq(
      (idsDf(1L, 2L, 3L, 4L), pairsDf((1L, 3L))),
      (idsDf(5L, 6L, 7L), pairsDf((3L, 7L), (5L, 6L))),
      (idsDf(8L, 9L), pairsDf((8L, 9L), (2L, 9L)))
    )
    batches.foreach { case (ids, ps) => ClusterMap.applyBatch(spark, path, ps, ids) }
    val got = asMap(ClusterMap.assignments(spark, path))
    // oracle: batch CC over ALL pairs + (id, id) singletons
    val all = pairsDf((1L, 3L), (3L, 7L), (5L, 6L), (8L, 9L), (2L, 9L))
    val cc = asMap(Dedup.connectedComponents(all).select(col("id"), col("keep_id")))
    val expect = (1L to 9L).map(i => i -> cc.getOrElse(i, i)).toMap
    assert(got == expect)
    // component contents sanity: {1,3,7} root 1, {2,8,9} root 2, {5,6} root 5
    assert(got(7L) == 1L && got(9L) == 2L && got(6L) == 5L && got(4L) == 4L)
  }

  test("randomized arrival orders reproduce the batch CC, with mid-stream compaction and replay") {
    for (seed <- Seq(11, 42, 77)) {
      val rnd = new scala.util.Random(seed)
      val n = 30
      val ids = (0L until n.toLong).toVector
      val pairs = Vector
        .fill(25)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
        .distinct
      // each id lands in a random batch; a pair arrives with its LATER
      // endpoint (the only arrival order a change feed can produce)
      val batchOf = ids.map(i => i -> rnd.nextInt(4)).toMap
      def batchPairs(b: Int) =
        pairs.filter(p => math.max(batchOf(p._1), batchOf(p._2)) == b)
      val path = graft.util.TempDirs.scratch(s"cmap-prop$seed").toString
      ClusterMap.init(spark, path, buckets = 4)
      (0 until 4).foreach { b =>
        ClusterMap.applyBatch(
          spark, path, pairsDf(batchPairs(b): _*), idsDf(ids.filter(batchOf(_) == b): _*))
        if (b == 2) { ClusterMap.maybeCompact(spark, path, maxMergeRatio = 1e-9); () }
      }
      // at-least-once: one random batch redelivers whole
      val rb = rnd.nextInt(4)
      ClusterMap.applyBatch(
        spark, path, pairsDf(batchPairs(rb): _*), idsDf(ids.filter(batchOf(_) == rb): _*))
      val got = asMap(ClusterMap.assignments(spark, path))
      val cc = asMap(
        Dedup.connectedComponents(pairsDf(pairs: _*)).select(col("id"), col("keep_id")))
      val expect = ids.map(i => i -> cc.getOrElse(i, i)).toMap
      assert(got == expect, s"seed $seed: incremental != batch CC")
    }
  }

  test("batches past the driver ceiling take the distributed tier and still match the batch CC") {
    val path = graft.util.TempDirs.scratch("cmap-distributed").toString
    ClusterMap.init(spark, path, buckets = 8)
    val n = 16400L // components; each batch touches 4n endpoints
    // batch 1: pairs (2k, 2k+1) — 2n two-member clusters
    val pairs1 = spark.range(2 * n).select((col("id") * 2).as("id_a"), (col("id") * 2 + 1).as("id_b"))
    // batch 2 merges across batch 1: (4j+1, 4j+2) joins {4j, 4j+1} with
    // {4j+2, 4j+3}, and a new doc 200000+j chains onto 4j+3
    val j = spark.range(n).select(col("id").as("j"))
    val pairs2 = j.select((col("j") * 4 + 1).as("id_a"), (col("j") * 4 + 2).as("id_b"))
      .unionAll(j.select((col("j") * 4 + 3).as("id_a"), (col("j") + 200000).as("id_b")))
    for (ps <- Seq(pairs1, pairs2)) {
      val endpoints = ps.select(col("id_a").as("id")).unionAll(ps.select(col("id_b"))).distinct().count()
      assert(endpoints > graft.Tuning().collectCeiling, s"$endpoints endpoints stay on the driver tier")
    }
    ClusterMap.applyBatch(spark, path, pairs1, spark.range(4 * n).toDF())
    ClusterMap.applyBatch(spark, path, pairs2, spark.range(200000L, 200000L + n).toDF())
    val got = asMap(ClusterMap.assignments(spark, path))
    val cc = asMap(Dedup.connectedComponents(pairs1.unionAll(pairs2)).select(col("id"), col("keep_id")))
    assert(got.size == 5 * n)
    assert(got == cc)
    assert(got(3L) == 0L && got(200000L) == 0L && got(4 * n - 1) == 4 * (n - 1))
  }

  test("both tiers persist the same members, merge pointers and assignments") {
    // two stored clusters, a batch that merges them under a new smaller id,
    // a batch that merges that component again, and a replay
    val batches = Seq(
      (pairsDf((10L, 11L)), idsDf(10L, 11L)),
      (pairsDf((20L, 21L)), idsDf(20L, 21L)),
      (pairsDf((5L, 11L), (5L, 21L)), idsDf(5L)),
      (pairsDf((3L, 20L), (30L, 31L)), idsDf(3L, 30L, 31L)))
    val state = TwoTier.assertSame { tuning =>
      val path = graft.util.TempDirs.scratch("cmap-tiers").toString
      ClusterMap.init(spark, path, buckets = 4)
      (batches :+ batches.last).foreach { case (ps, ids) =>
        ClusterMap.applyBatch(spark, path, ps, ids, tuning = tuning)
      }
      val (data, head) = IndexState.open(spark, path)
      def bag(df: DataFrame) = df.collect().map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.length }
      Map(
        "assignments" -> asMap(ClusterMap.assignments(spark, path)),
        "members" -> bag(head.scan(spark, data, "members").select("id", "root", "syn")),
        "merges" -> bag(head.scan(spark, data, "merges").select("from_root", "to_root", "seq")))
    }
    assert(state("assignments") ==
      Map(3L -> 3L, 5L -> 3L, 10L -> 3L, 11L -> 3L, 20L -> 3L, 21L -> 3L, 30L -> 30L, 31L -> 30L))
  }

  test("mergeClosure equals a plain chain-follow over random descending pointer forests, on both tiers") {
    import graft.sources.IndexLog
    import org.scalacheck.Gen
    // every pointer targets a smaller id; a from-root may carry several
    // pointers, of which the smallest target counts
    val pointer = for {
      from <- Gen.chooseNum(1L, 60L)
      to <- Gen.chooseNum(0L, from - 1)
    } yield (from, to)
    val forests = Gen.listOf(pointer)
    val params = Gen.Parameters.default.withSize(50)
    (0 until 6).flatMap(i => forests(params, org.scalacheck.rng.Seed(101L + i))).foreach { ptrs =>
      val parent = ptrs.groupBy(_._1).map { case (from, ps) => from -> ps.map(_._2).min }
      def follow(x: Long): Long = parent.get(x).fold(x)(follow)
      val path = graft.util.TempDirs.scratch("cmap-closure").toString
      ClusterMap.init(spark, path, buckets = 4)
      val (data, head) = IndexState.open(spark, path)
      IndexLog.mutate(spark, data, head, head.seq + 1, head.counters, Seq(IndexLog.Write(
        "merges", ClusterMap.MergesDir, None,
        ptrs.map { case (f, t) => (f, t, head.seq + 1) }.toDF("from_root", "to_root", "seq").coalesce(1))))
      val logged = IndexState.open(spark, path)._2
      val state = TwoTier.assertSame(
        tuning => Map("closure" -> asMap(ClusterMap.mergeClosure(spark, data, logged, tuning))),
        s"pointers $ptrs")
      assert(state("closure") == parent.keySet.map(f => f -> follow(f)).toMap, s"pointers $ptrs")
    }
  }

  test("a later document merges two existing clusters via a downward pointer") {
    val path = graft.util.TempDirs.scratch("cmap-merge").toString
    ClusterMap.init(spark, path, buckets = 4)
    ClusterMap.applyBatch(spark, path, pairsDf((10L, 11L)), idsDf(10L, 11L))
    ClusterMap.applyBatch(spark, path, pairsDf((20L, 21L)), idsDf(20L, 21L))
    assert(asMap(ClusterMap.assignments(spark, path)) ==
      Map(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    // doc 5 bridges both clusters; 5 < 10 < 20 so everything resolves to 5
    ClusterMap.applyBatch(spark, path, pairsDf((5L, 11L), (5L, 21L)), idsDf(5L))
    assert(asMap(ClusterMap.assignments(spark, path)).values.toSet == Set(5L))
    // the merge log holds downward pointers for the two dethroned roots
    val merges = spark.read
      .parquet(s"${IndexState.dataPath(spark, path)}/${ClusterMap.MergesDir}")
      .select(col("from_root"), col("to_root"))
    assert(asMap(merges) == Map(10L -> 5L, 20L -> 5L))
  }

  test("pointer chains resolve transitively and compaction flattens them") {
    val path = graft.util.TempDirs.scratch("cmap-chain").toString
    ClusterMap.init(spark, path, buckets = 4)
    // build a chain: root 30, then merged under 20, then under 10
    ClusterMap.applyBatch(spark, path, pairsDf((30L, 31L)), idsDf(30L, 31L))
    ClusterMap.applyBatch(spark, path, pairsDf((20L, 31L)), idsDf(20L))
    ClusterMap.applyBatch(spark, path, pairsDf((10L, 20L)), idsDf(10L))
    val before = asMap(ClusterMap.assignments(spark, path))
    assert(before == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 31L -> 10L))
    // merge log: 30 -> 20 (batch 2), 20 -> 10 (batch 3); ratio 2/4 fires
    assert(ClusterMap.maybeCompact(spark, path, maxMergeRatio = 0.2))
    val dataDir = IndexState.dataPath(spark, path)
    assert(dataDir != path, "compaction must promote a generation")
    assert(
      !new java.io.File(s"$dataDir/${ClusterMap.MergesDir}").exists(),
      "the promoted generation is born with an empty merge log")
    assert(asMap(ClusterMap.assignments(spark, path)) == before)
    // below-threshold and merge-free maps refuse
    assert(!ClusterMap.maybeCompact(spark, path, maxMergeRatio = 0.2))
    // the compacted map keeps working as a mutation target
    ClusterMap.applyBatch(spark, path, pairsDf((5L, 31L)), idsDf(5L))
    assert(asMap(ClusterMap.assignments(spark, path)).values.toSet == Set(5L))
  }

  test("replaying a batch converges: same assignments, no new merge pointers") {
    val path = graft.util.TempDirs.scratch("cmap-replay").toString
    ClusterMap.init(spark, path, buckets = 4)
    ClusterMap.applyBatch(spark, path, pairsDf((10L, 11L)), idsDf(10L, 11L))
    val replayPairs = pairsDf((5L, 11L))
    ClusterMap.applyBatch(spark, path, replayPairs, idsDf(5L))
    val before = asMap(ClusterMap.assignments(spark, path))
    val mergesBefore = spark.read
      .parquet(s"${IndexState.dataPath(spark, path)}/${ClusterMap.MergesDir}")
      .count()
    // at-least-once delivery: the same batch arrives again
    ClusterMap.applyBatch(spark, path, replayPairs, idsDf(5L))
    assert(asMap(ClusterMap.assignments(spark, path)) == before)
    val mergesAfter = spark.read
      .parquet(s"${IndexState.dataPath(spark, path)}/${ClusterMap.MergesDir}")
      .count()
    assert(
      mergesAfter == mergesBefore,
      "a replayed batch re-contracts against already-merged roots — no new pointers")
  }

  test("resolve() is bucket-pruned and matches assignments on the probe set") {
    val path = graft.util.TempDirs.scratch("cmap-probe").toString
    ClusterMap.init(spark, path, buckets = 8)
    ClusterMap.applyBatch(
      spark, path, pairsDf((1L, 9L), (2L, 10L)), idsDf(1L, 2L, 9L, 10L, 11L))
    val probe = idsDf(9L, 11L)
    val resolved = ClusterMap.resolve(spark, path, probe)
    assert(asMap(resolved) == Map(9L -> 1L, 11L -> 11L))
    // the member scan plans only the probed buckets (9 % 8 = 1, 11 % 8 = 3)
    val scans = resolved.queryExecution.executedPlan.collectLeaves().map(_.toString)
    val memberScan = scans.find(s => s.contains("bucket") && s.contains("PartitionFilters"))
    assert(memberScan.isDefined, s"no partition-filtered member scan in:\n${scans.mkString("\n")}")
    assert(
      !memberScan.get.replaceAll("\\s", "").contains("PartitionFilters:[]"),
      s"member scan has an empty partition filter:\n${memberScan.get}")
  }

  test("re-upserting a doc that is a stored cluster root moves the whole component") {
    val path = graft.util.TempDirs.scratch("cmap-root-upsert").toString
    ClusterMap.init(spark, path, buckets = 4)
    // seed: {10, 11} clustered under root 10
    ClusterMap.applyBatch(spark, path, pairsDf((10L, 11L)), idsDf(10L, 11L))
    assert(asMap(ClusterMap.assignments(spark, path)) == Map(10L -> 10L, 11L -> 10L))
    // doc 10 is re-upserted (a CDC UPDATE: it appears in newIds again) with
    // text that now pairs it to new doc 5. Being in newIds must not suppress
    // the 10 -> 5 pointer: stored member 11 still resolves through root 10,
    // and without the pointer the component would silently split.
    ClusterMap.applyBatch(spark, path, pairsDf((10L, 5L)), idsDf(10L, 5L))
    assert(
      asMap(ClusterMap.assignments(spark, path)) == Map(5L -> 5L, 10L -> 5L, 11L -> 5L),
      "doc 11 must follow its re-upserted root into the merged component")
    // the inverse arrival (re-upserted root WINS the contraction) needs no
    // pointer: 10 keeps its label and new doc 20 joins the component
    ClusterMap.applyBatch(spark, path, pairsDf((10L, 20L)), idsDf(10L, 20L))
    assert(asMap(ClusterMap.assignments(spark, path)) ==
      Map(5L -> 5L, 10L -> 5L, 11L -> 5L, 20L -> 5L))
  }

  test("rebuild: deleting a bridge doc splits components via a fresh reader-safe generation") {
    val path = graft.util.TempDirs.scratch("cmap-rebuild").toString
    ClusterMap.init(spark, path, buckets = 4)
    // doc 11 bridges {10, 12}: pairs 10-11 and 11-12 form one component
    ClusterMap.applyBatch(spark, path, pairsDf((10L, 11L), (11L, 12L)), idsDf(10L, 11L, 12L))
    assert(asMap(ClusterMap.assignments(spark, path)) ==
      Map(10L -> 10L, 11L -> 10L, 12L -> 10L))
    // doc 11 is deleted: the no-split contract keeps 10 and 12 together in
    // the live map (assignmentsLive merely hides 11)...
    val live = ClusterMap.assignmentsLive(spark, path, idsDf(10L, 12L))
    assert(asMap(live) == Map(10L -> 10L, 12L -> 10L))
    // ...until the escape hatch: rebuild from the SURVIVING pair set (none —
    // both pairs involved doc 11) and the live ids. Components truly split.
    val genBefore = IndexState.dataPath(spark, path)
    assert(ClusterMap.rebuild(spark, path, pairsDf(), idsDf(10L, 12L)))
    assert(asMap(ClusterMap.assignments(spark, path)) == Map(10L -> 10L, 12L -> 12L))
    // reader safety: the swap promoted a NEW generation; the superseded one
    // (with its merge log) is still on disk inside the GC grace window, so
    // a reader that resolved it mid-rebuild still scans a complete index
    val genAfter = IndexState.dataPath(spark, path)
    assert(genAfter != genBefore, "rebuild must promote a fresh generation")
    assert(new java.io.File(genBefore).exists(), "superseded generation survives the grace window")
    // an empty rebuild (no live ids) is refused, not swapped in
    assert(!ClusterMap.rebuild(spark, path, pairsDf(), idsDf()))
    assert(asMap(ClusterMap.assignments(spark, path)) == Map(10L -> 10L, 12L -> 12L))
    // the rebuilt map keeps accepting batches
    ClusterMap.applyBatch(spark, path, pairsDf((5L, 12L)), idsDf(5L))
    assert(asMap(ClusterMap.assignments(spark, path)) ==
      Map(5L -> 5L, 10L -> 10L, 12L -> 5L))
  }

  test("pairs may reference never-ingested ids without corrupting the map") {
    val path = graft.util.TempDirs.scratch("cmap-foreign").toString
    ClusterMap.init(spark, path, buckets = 4)
    // 99 appears in a pair but is never in newIds: it contributes
    // connectivity (1-99, 99-2 ⇒ 1 and 2 cluster) but gets no member row
    // (it LOST the contraction, so nothing in storage references it)
    ClusterMap.applyBatch(spark, path, pairsDf((1L, 99L), (99L, 2L)), idsDf(1L, 2L))
    assert(asMap(ClusterMap.assignments(spark, path)) == Map(1L -> 1L, 2L -> 1L))
  }

  test("a foreign endpoint that WINS a contraction can later be merged away") {
    val path = graft.util.TempDirs.scratch("cmap-foreign-winner").toString
    ClusterMap.init(spark, path, buckets = 4)
    // batch N: foreign id 5 (never in newIds) wins the contraction — stored
    // members 10, 11 get root 5, and 5 is materialized as a SYNTHETIC member
    // row so a later demotion is pointer-able. The default read surface
    // filters the synthetic row: 5 appears only as a root VALUE, and a
    // cluster-size aggregate over assignments counts only ingested docs.
    ClusterMap.applyBatch(spark, path, pairsDf((10L, 5L), (11L, 5L)), idsDf(10L, 11L))
    val a1 = ClusterMap.assignments(spark, path)
    assert(asMap(a1) == Map(10L -> 5L, 11L -> 5L),
      "synthetic winner label must not surface as a member row")
    assert(
      a1.groupBy("root").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(5L -> 2L),
      "cluster sizes over the default surface count only ingested docs")
    // batch N+1: 5 loses to new doc 3. Without the materialized synthetic
    // row no pointer would be written and members 10, 11 would silently
    // keep the stale root 5 while 3 starts a fresh component.
    ClusterMap.applyBatch(spark, path, pairsDf((3L, 5L)), idsDf(3L))
    assert(
      asMap(ClusterMap.assignments(spark, path)) ==
        Map(3L -> 3L, 10L -> 3L, 11L -> 3L),
      "stored members must follow their dethroned foreign root into the merged component")
  }

  test("a foreign winner that finally ARRIVES in newIds and loses still pointers its referrers") {
    val path = graft.util.TempDirs.scratch("cmap-foreign-arrival").toString
    ClusterMap.init(spark, path, buckets = 4)
    // foreign 5 wins over new docs 10, 11 (as above)
    ClusterMap.applyBatch(spark, path, pairsDf((10L, 5L), (11L, 5L)), idsDf(10L, 11L))
    // doc 5 NOW arrives as a real document, in the same batch that merges it
    // under new doc 3: being in newIds must not suppress the 5 -> 3 pointer
    // (the r11 re-upsert rule), and being previously foreign must not have
    // left it un-stored (the materialization rule) — either gap splits
    ClusterMap.applyBatch(spark, path, pairsDf((3L, 5L)), idsDf(3L, 5L))
    assert(asMap(ClusterMap.assignments(spark, path)) ==
      Map(3L -> 3L, 5L -> 3L, 10L -> 3L, 11L -> 3L))
  }

  test("a foreign winner surviving several batches is demotable after a replay") {
    val path = graft.util.TempDirs.scratch("cmap-foreign-chain").toString
    ClusterMap.init(spark, path, buckets = 4)
    ClusterMap.applyBatch(spark, path, pairsDf((10L, 5L)), idsDf(10L))
    // 5 wins AGAIN from its materialized synthetic row (cur_root resolves
    // through storage, not the bare endpoint) — no duplicate pointer
    // machinery; 5 itself stays filtered from the default surface
    ClusterMap.applyBatch(spark, path, pairsDf((5L, 20L)), idsDf(20L))
    assert(asMap(ClusterMap.assignments(spark, path)) ==
      Map(10L -> 5L, 20L -> 5L))
    // replay batch 2 whole (at-least-once): converges, no state corruption
    ClusterMap.applyBatch(spark, path, pairsDf((5L, 20L)), idsDf(20L))
    assert(asMap(ClusterMap.assignments(spark, path)) ==
      Map(10L -> 5L, 20L -> 5L))
    // finally 3 dethrones 5: one downward pointer moves the whole component
    ClusterMap.applyBatch(spark, path, pairsDf((3L, 5L)), idsDf(3L))
    assert(asMap(ClusterMap.assignments(spark, path)) ==
      Map(3L -> 3L, 10L -> 3L, 20L -> 3L))
  }

  test("resolve() agrees with assignments on which ids exist: synthetic labels do not resolve") {
    val path = graft.util.TempDirs.scratch("cmap-resolve-syn").toString
    ClusterMap.init(spark, path, buckets = 4)
    // foreign 5 wins a contraction: 10, 11 root 5, and 5 is materialized as
    // a SYNTHETIC member row only — assignments filters it, so the
    // bucket-pruned probe surface must too (the two read surfaces listing
    // different ids is the split the default-surface hardening closed)
    ClusterMap.applyBatch(spark, path, pairsDf((10L, 5L), (11L, 5L)), idsDf(10L, 11L))
    assert(asMap(ClusterMap.resolve(spark, path, idsDf(5L, 10L))) == Map(10L -> 5L),
      "a never-ingested synthetic label must not resolve")
    // once 5 is genuinely ingested both surfaces include it (min(syn) = 0)
    ClusterMap.applyBatch(spark, path, pairsDf(), idsDf(5L))
    assert(asMap(ClusterMap.resolve(spark, path, idsDf(5L, 10L))) ==
      Map(5L -> 5L, 10L -> 5L))
  }
}
