package graft.streaming

import graft.SparkSpec
import graft.dedup.{ClusterMap, Dedup, SignatureIndex}
import graft.sources.IndexState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** [[ClusterStream]] end-to-end: the incrementally-maintained cluster map
  * (seed + per-batch signature probes + durable union-find) must equal the
  * batch rebuild (`minhashLsh → connectedComponents`) over the same corpus,
  * stay converged under at-least-once replay and durable compaction, and
  * resume from its checkpoint across a stream restart.
  */
class ClusterStreamSpec extends SparkSpec {
  import spark.implicits._

  // six 4-member near-dup groups plus one exact-duplicate trio; the group
  // token lands in EVERY 3-shingle (within-group Jaccard ≈ 0.83, cross-group
  // exactly 0), and ids interleave batches via id % 3 so every group spans
  // batches — cross-batch pairs exist only through the signature probe
  private def corpus: Seq[(Long, String)] = {
    val grouped = for (g <- 0 until 6; j <- 0 until 4) yield {
      val id = (g * 4 + j).toLong
      id -> s"g$g alpha g$g bravo g$g charlie g$g delta g$g echo g$g foxtrot mutate$id"
    }
    val dups = (24L to 26L).map(id =>
      id -> "identical duplicate content words repeated exactly same tokens here now")
    grouped ++ dups
  }

  private def corpusDf: DataFrame = corpus.toDF("id", "text")

  private def batchRows(i: Int): DataFrame =
    corpusDf.filter(pmod(col("id"), lit(3)) === i)
      .select(lit("INSERT").as("tg_op"), col("id"), col("text"))

  private def expected: Set[(Long, Long)] = {
    val labels = Dedup.connectedComponents(
      Dedup.minhashLsh(corpusDf, "id", "text").select(col("id_a"), col("id_b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    corpus.map { case (id, _) => id -> labels.getOrElse(id, id) }.toSet
  }

  private def assignments(path: String): Set[(Long, Long)] =
    ClusterMap.assignments(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("seed + incremental batches equal the batch rebuild; replay and compaction converge") {
    val dir = Files.createTempDirectory("graft-cstream").toString
    val (sig, map) = (s"$dir/sig", s"$dir/map")
    val m = SignatureIndex.Model(
      portable = false, shingleN = 3, bands = 16, rowsPerBand = 4,
      threshold = 0.5, maxBucket = 1000, buckets = 8)

    // seed from batch 0 as the initial corpus, then stream batches 1 and 2
    ClusterStream.seed(
      corpusDf.filter(pmod(col("id"), lit(3)) === 0), sig, map, "id", "text", m, mapBuckets = 8)
    ClusterStream.applyBatch(spark, batchRows(1), corpusDf, sig, map, "id", "text")
    ClusterStream.applyBatch(spark, batchRows(2), corpusDf, sig, map, "id", "text")
    val want = expected
    assert(assignments(map) == want, "incremental assignments equal the batch CC")

    // at-least-once: the whole last batch re-delivers — no change
    ClusterStream.applyBatch(spark, batchRows(2), corpusDf, sig, map, "id", "text")
    assert(assignments(map) == want, "replayed batch converges")

    // durable path compression + signature dedup preserve every assignment;
    // the replay's duplicate (id, key) rows collapse to one per (id, key)
    assert(ClusterMap.maybeCompact(spark, map, maxMergeRatio = 0.01),
      "cross-batch merges exist, so the tiny ratio forces a compaction")
    assert(SignatureIndex.compact(spark, sig))
    assert(assignments(map) == want, "compacted map resolves identically")
    val keys = spark.read.parquet(IndexState.dataPath(spark, sig))
    assert(keys.count() == keys.select(col("id"), col("key")).distinct().count(),
      "signature compaction collapsed replayed key rows")
    // and the now-empty merge log means resolution needs no pointer chase
    ClusterStream.applyBatch(spark, batchRows(2), corpusDf, sig, map, "id", "text")
    assert(assignments(map) == want, "replay against the compacted generation converges")

    // a null-text upsert contributes no signature but IS a member: it lands
    // as a singleton (the scaladoc contract), invisible to future probes
    val nullText = Seq(("INSERT", 99L, null: String)).toDF("tg_op", "id", "text")
    ClusterStream.applyBatch(spark, nullText, corpusDf, sig, map, "id", "text")
    assert(assignments(map) == want + ((99L, 99L)))

    // DELETE-only batches never split or mutate clusters (no-split contract)
    val deletes = Seq(("DELETE", 0L, null: String)).toDF("tg_op", "id", "text")
    ClusterStream.applyBatch(spark, deletes, corpusDf, sig, map, "id", "text")
    assert(assignments(map) == want + ((99L, 99L)))
    // the read-side half: live-filtered assignments drop the deleted doc but
    // survivors keep their root even though the root id (0) is itself dead —
    // the root is a cluster label, not a live-doc pointer
    val live = corpusDf.filter(col("id") =!= 0L).select(col("id"))
    val gotLive = ClusterMap.assignmentsLive(spark, map, live)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotLive == want.filter(_._1 != 0L))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("standalone ingest stream resumes from its checkpoint across a restart") {
    val h = new PipelineHarness(spark, "doc", "id", corpusDf.filter(pmod(col("id"), lit(3)) === 0))
    val (sig, map) = (s"${h.dir}/sig", s"${h.dir}/map")
    def pipeline = h.pipeline(SyncPipeline.ClusterConsumer(
      map, sig, "text", portable = false, shingleN = 3, bands = 16, rowsPerBand = 4,
      threshold = 0.5, maxBucket = 1000, sigBuckets = 8, mapBuckets = 8))
    pipeline.seed()

    // batch n inserts every doc with id % 3 == n
    def land(n: Int): Unit = {
      h.rows = corpusDf.filter(pmod(col("id"), lit(3)) <= n)
      h.land(corpus.map(_._1).filter(_ % 3 == n).map(id => ("INSERT", id)): _*)
    }
    land(1)
    h.run(pipeline)
    // batch 2 lands while the pipeline is DOWN; the restart picks it up
    // from the checkpoint without replaying batch 1
    land(2)
    h.run(pipeline)
    assert(assignments(map) == expected, "restarted stream reaches the batch-rebuild state")
    val memberRows = spark.read.parquet(IndexState.dataPath(spark, map))
      .select(col("id"), col("root")).count()
    assert(memberRows == corpus.size.toLong,
      "exactly one member row per doc: the restart resumed, it did not replay")
    graft.util.TempDirs.delete(java.nio.file.Paths.get(h.dir))
  }

  test("portable seed (shared banding pass) equals the portable batch rebuild") {
    // the portable model's seed derives its pair set from the JUST-WRITTEN
    // signature keys (one banding pass shared between sig-write and pairs)
    // — the assignments must equal the CC over the fresh-banded portable
    // operator, and per-batch maintenance must continue seamlessly
    val dir = Files.createTempDirectory("graft-cstream-port").toString
    val (sig, map) = (s"$dir/sig", s"$dir/map")
    val m = SignatureIndex.Model(
      portable = true, shingleN = 3, bands = 8, rowsPerBand = 2,
      threshold = 0.5, maxBucket = 1000, buckets = 8)

    val seedCorpus = corpusDf.filter(pmod(col("id"), lit(3)) < 2)
    ClusterStream.seed(seedCorpus, sig, map, "id", "text", m, mapBuckets = 8)
    val freshPairs = Dedup.minhashLshPortable(
      seedCorpus, "id", "text", m.shingleN, m.bands, m.rowsPerBand,
      m.threshold, m.maxBucket).select(col("id_a"), col("id_b"))
    val labels = Dedup.connectedComponents(freshPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seedIds = seedCorpus.select(col("id")).collect().map(_.getLong(0))
    val wantSeed = seedIds.map(id => id -> labels.getOrElse(id, id)).toSet
    assert(assignments(map) == wantSeed,
      "seed from written keys equals the fresh-banded portable rebuild")

    // the stored keys the seed wrote serve the NEXT batch's probe: the
    // held-out third must join its groups through cross-batch candidates
    ClusterStream.applyBatch(spark, batchRows(2), corpusDf, sig, map, "id", "text")
    val allPairs = Dedup.minhashLshPortable(
      corpusDf, "id", "text", m.shingleN, m.bands, m.rowsPerBand,
      m.threshold, m.maxBucket).select(col("id_a"), col("id_b"))
    val allLabels = Dedup.connectedComponents(allPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = corpus.map { case (id, _) => id -> allLabels.getOrElse(id, id) }.toSet
    assert(assignments(map) == want,
      "incremental batch over the seeded index reaches the full portable CC")

    // empty-corpus portable seed: sidecars only, readable empty key set,
    // and the first real batch streams from nothing
    val (sig2, map2) = (s"$dir/sig2", s"$dir/map2")
    ClusterStream.seed(corpusDf.limit(0), sig2, map2, "id", "text", m, mapBuckets = 8)
    assert(SignatureIndex.storedKeys(spark, sig2).isEmpty)
    ClusterStream.applyBatch(spark, batchRows(0), corpusDf, sig2, map2, "id", "text")
    assert(assignments(map2).nonEmpty, "stream-from-nothing after a portable empty seed")
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("random batch partitions and replays converge to the batch CC, both models") {
    // the fixed id%3 split above pins one batch boundary; this drives the
    // whole maintenance loop (seed + signature probe + union-find +
    // foreign-winner/pointer machinery) over RANDOM partitions of the
    // corpus into 1-4 delivery batches, with a random batch re-delivered,
    // and asserts the exact fixpoint the scaladoc contract promises: the
    // final assignments equal the single-shot batch operator's CC over the
    // full corpus, for any batch boundaries and any replay
    val rng = new scala.util.Random(12L)
    val models = Seq(
      SignatureIndex.Model(portable = false, shingleN = 3, bands = 16, rowsPerBand = 4,
        threshold = 0.5, maxBucket = 1000, buckets = 8),
      SignatureIndex.Model(portable = true, shingleN = 3, bands = 8, rowsPerBand = 2,
        threshold = 0.5, maxBucket = 1000, buckets = 8))
    for (m <- models; trial <- 0 until 2) {
      val dir = Files.createTempDirectory(s"graft-cstream-rand-$trial").toString
      val (sig, map) = (s"$dir/sig", s"$dir/map")
      val nBatches = 1 + rng.nextInt(4)
      val split = corpus.map { case (id, _) => id -> rng.nextInt(nBatches) }.toMap
      def part(b: Int): DataFrame =
        corpusDf.filter(col("id").isin(split.filter(_._2 == b).keys.toSeq: _*))
      ClusterStream.seed(part(0), sig, map, "id", "text", m, mapBuckets = 8)
      (1 until nBatches).foreach { b =>
        ClusterStream.applyBatch(
          spark, part(b).select(lit("INSERT").as("tg_op"), col("id"), col("text")),
          corpusDf, sig, map, "id", "text")
      }
      val replayed = rng.nextInt(nBatches)
      ClusterStream.applyBatch(
        spark, part(replayed).select(lit("INSERT").as("tg_op"), col("id"), col("text")),
        corpusDf, sig, map, "id", "text")

      val batchPairs =
        (if (m.portable)
           Dedup.minhashLshPortable(corpusDf, "id", "text", m.shingleN, m.bands,
             m.rowsPerBand, m.threshold, m.maxBucket)
         else
           Dedup.minhashLsh(corpusDf, "id", "text", m.shingleN, m.bands,
             m.rowsPerBand, m.threshold, m.maxBucket))
          .select(col("id_a"), col("id_b"))
      val labels = Dedup.connectedComponents(batchPairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = corpus.map { case (id, _) => id -> labels.getOrElse(id, id) }.toSet
      assert(assignments(map) == want,
        s"model portable=${m.portable} trial=$trial nBatches=$nBatches " +
          s"replay=$replayed diverged from the batch CC")
      // durable compaction of both structures preserves the fixpoint, and
      // a post-compaction replay of a random batch still converges
      ClusterMap.maybeCompact(spark, map, maxMergeRatio = 0.01)
      SignatureIndex.compact(spark, sig)
      assert(assignments(map) == want,
        s"trial=$trial compaction changed assignments")
      val again = rng.nextInt(nBatches)
      ClusterStream.applyBatch(
        spark, part(again).select(lit("INSERT").as("tg_op"), col("id"), col("text")),
        corpusDf, sig, map, "id", "text")
      assert(assignments(map) == want,
        s"trial=$trial replay against the compacted generation diverged")
      graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
    }
  }

  test("seeding over an existing index starts from empty: equal to a fresh build") {
    val dir = Files.createTempDirectory("graft-cstream-reseed").toString
    val (sig, map) = (s"$dir/sig", s"$dir/map")
    val m = SignatureIndex.Model(
      portable = false, shingleN = 3, bands = 16, rowsPerBand = 4,
      threshold = 0.5, maxBucket = 1000, buckets = 8)
    def keys(p: String): Set[(Long, String)] =
      SignatureIndex.storedKeys(spark, p).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val first = corpusDf.filter(col("id") < 12L)
    ClusterStream.seed(first, sig, map, "id", "text", m, mapBuckets = 8)
    // promote a generation under both paths: a re-seed must clear those too
    assert(SignatureIndex.compact(spark, sig))
    assert(ClusterMap.rebuild(spark, map, Seq.empty[(Long, Long)].toDF("id_a", "id_b"), first.select(col("id"))))
    // a disjoint corpus seeded at the same paths equals a fresh build
    val second = corpusDf.filter(col("id") >= 12L)
    ClusterStream.seed(second, sig, map, "id", "text", m, mapBuckets = 8)
    ClusterStream.seed(second, s"$dir/sig2", s"$dir/map2", "id", "text", m, mapBuckets = 8)
    assert(assignments(map) == assignments(s"$dir/map2"))
    assert(keys(sig) == keys(s"$dir/sig2"))
    assert(assignments(map).map(_._1).min == 12L)
    // and an empty corpus re-seeds to empty structures
    ClusterStream.seed(corpusDf.limit(0), sig, map, "id", "text", m, mapBuckets = 8)
    assert(assignments(map).isEmpty && keys(sig).isEmpty)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }
}
