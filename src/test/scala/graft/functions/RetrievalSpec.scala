package graft.functions

import graft.SparkSpec
import graft.dedup.Dedup
import org.apache.spark.sql.functions._

/** BM25 retrieval, chunking, duplicated-span dedup, exact percentiles. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._
  import graft.sources.Crashes.crashAt

  /** A BM25 index's corpus counters (n_docs, dl_sum), from its log head. */
  private def stats(p: String): (Long, Long) = {
    val c = graft.sources.IndexState.open(spark, p)._2.counters
    (c.nDocs, c.dlSum)
  }

  // ---- BM25 ---------------------------------------------------------------

  test("bm25 ranks the term-dense short doc above a diluted long one") {
    val docs = Seq(
      (1L, "spark spark spark"), // dense in the query term
      (2L, "spark " + Seq.fill(50)("filler").mkString(" ")), // diluted
      (3L, "nothing relevant here"),
      (4L, "spark spark other words")
    ).toDF("doc_id", "text")
    val top = Retrieval.bm25TopK(docs, "doc_id", "text", "spark", 10).collect()
    // doc 3 has no query term: absent
    assert(!top.map(_.getLong(0)).contains(3L))
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 4L, 2L))
    // ranks are 1..n in score order
    assert(top.map(r => r.getLong(2)).toSeq == Seq(1L, 2L, 3L))
    val scores = top.map(_.getLong(1)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("integer scores stay below 2^53 (long→double round-trip contract)") {
    // topKByQuery routes integer scores long→double→long through the heap;
    // exact iff |score| ≤ 2^53. Pin the contract at the two unit systems in
    // use: BM25 micro-units (Σ over query terms of round(1e6·idf·tfNorm))
    // and RRF nano-units (Σ over runs of round(1e9/(rrfK+rank))).
    val exp53 = 1L << 53
    // analytic bound for a pathological workload far beyond real use:
    // 10^12 docs, 1000-term query, idf ≤ ln(1e12) ≈ 27.6, tfNorm ≤ k1+1=2.2
    val bm25Bound = (1e6 * math.log(1e12) * 2.2 * 1000).toLong
    assert(bm25Bound < exp53, s"bm25 micro-unit bound $bm25Bound must stay below 2^53")
    // RRF: max contribution 1e9/(60+1) per run; even 1000 fused runs are safe
    val rrfBound = (1e9 / 61.0 * 1000).toLong
    assert(rrfBound < exp53)
    // and empirically on a corpus: every emitted score fits
    val docs = Seq(
      (1L, "spark spark spark"),
      (2L, "spark " + Seq.fill(50)("filler").mkString(" ")),
      (3L, "spark filler words here")
    ).toDF("doc_id", "text")
    val maxScore = Retrieval
      .bm25TopK(docs, "doc_id", "text", "spark spark filler", 10)
      .agg(max(abs(col("score_micro"))))
      .collect().head.getLong(0)
    assert(maxScore < exp53)
  }

  test("bm25 batch: each query scores exactly as the single-query plan") {
    val docs = Seq(
      (1L, "spark spark spark"),
      (2L, "spark " + Seq.fill(50)("filler").mkString(" ")),
      (3L, "window join window"),
      (4L, "spark spark other words")
    ).toDF("doc_id", "text")
    val queries = Seq((100L, "spark"), (200L, "window join"), (300L, "")).toDF("qid", "qtext")
    val batch = Retrieval.bm25TopKBatch(docs, "doc_id", "text", queries, "qid", "qtext", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // per-query results == the single-query operator run per query
    for ((q, text) <- Seq(100L -> "spark", 200L -> "window join")) {
      val single = Retrieval.bm25TopK(docs, "doc_id", "text", text, 10)
        .collect().map(r => (q, r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch.filter(_._1 == q).toSet == single, s"qid $q diverges from single-query")
    }
    // an empty query contributes no rows (no terms to match)
    assert(!batch.exists(_._1 == 300L))
  }

  test("bm25 persisted index: pruned probe equals the in-memory batch plan") {
    val docs = Seq(
      (1L, "spark spark spark"),
      (2L, "spark " + Seq.fill(50)("filler").mkString(" ")),
      (3L, "window join window"),
      (4L, "spark spark other words")
    ).toDF("doc_id", "text")
    val queries = Seq((100L, "spark"), (200L, "window join")).toDF("qid", "qtext")
    val dir = graft.util.TempDirs.scratch("bm25-index-spec").toString
    Retrieval.writeBm25Index(docs, "doc_id", "text", dir, buckets = 8)
    val indexed = Retrieval.bm25TopKIndexedBatch(dir, queries, "qid", "qtext", 10)
    val direct = Retrieval.bm25TopKBatch(docs, "doc_id", "text", queries, "qid", "qtext", 10)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows(indexed) == rows(direct))
    // the workload's term buckets reach the scan as a STATIC partition
    // filter — at 100 TB probing reads only the matching file groups
    val p = indexed.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("bucket"), p)
    // O(batch) append: postings land in their buckets, integer stats update
    // exactly — probe after append == probe of a full rebuild
    val more = Seq((5L, "spark window spark"), (6L, "join join filler")).toDF("doc_id", "text")
    Retrieval.appendBm25Index(more, "doc_id", "text", dir)
    val appended = Retrieval.bm25TopKIndexedBatch(dir, queries, "qid", "qtext", 10)
    val rebuiltDir = graft.util.TempDirs.scratch("bm25-index-rebuild").toString
    Retrieval.writeBm25Index(docs.union(more), "doc_id", "text", rebuiltDir, buckets = 8)
    val rebuilt = Retrieval.bm25TopKIndexedBatch(rebuiltDir, queries, "qid", "qtext", 10)
    assert(rows(appended) == rows(rebuilt), "append must equal a full rebuild")
    // and still equals the in-memory batch plan over the grown corpus
    val directGrown =
      Retrieval.bm25TopKBatch(docs.union(more), "doc_id", "text", queries, "qid", "qtext", 10)
    assert(rows(appended) == rows(directGrown))
    Seq(dir, rebuiltDir).foreach(d => graft.util.TempDirs.delete(java.nio.file.Paths.get(d)))
  }

  test("bm25 impact-capped probe: equals the exact probe under the cap, stays bounded over it") {
    val docs = Seq(
      (1L, "spark spark spark"),
      (2L, "spark " + Seq.fill(50)("filler").mkString(" ")),
      (3L, "window join window"),
      (4L, "spark spark other words"),
      (5L, "spark window spark"),
      (6L, "join join filler")
    ).toDF("doc_id", "text")
    val queries = Seq((100L, "spark filler"), (200L, "window join")).toDF("qid", "qtext")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // cap not biting (no term reaches 256 postings): pruned == exact,
    // bit-for-bit — scores, ranks, everything
    val dir = graft.util.TempDirs.scratch("bm25-impacts").toString
    Retrieval.writeBm25Index(docs, "doc_id", "text", dir, buckets = 8)
    val exact = rows(Retrieval.bm25TopKIndexedBatch(dir, queries, "qid", "qtext", 10))
    assert(rows(Retrieval.bm25TopKIndexedPrunedBatch(dir, queries, "qid", "qtext", 10)) == exact)
    // equality survives an append (termdf sums reproduce the true df)
    val more = Seq((7L, "spark window again")).toDF("doc_id", "text")
    Retrieval.appendBm25Index(more, "doc_id", "text", dir)
    val exactGrown = rows(Retrieval.bm25TopKIndexedBatch(dir, queries, "qid", "qtext", 10))
    assert(
      rows(Retrieval.bm25TopKIndexedPrunedBatch(dir, queries, "qid", "qtext", 10)) == exactGrown)
    // the probe plans a partition-pruned scan of the impact sidecar
    val plan = Retrieval.bm25TopKIndexedPrunedBatch(dir, queries, "qid", "qtext", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains(Retrieval.ImpactsDir) && plan.contains("PartitionFilters"), plan)

    // cap = 2 bites: per term only the top-2 postings by partial impact
    // survive. "spark" impacts order docs (1: tf3/dl3) > (5: tf2/dl3) >
    // (4: tf2/dl4) > (2: tf1/dl51) → kept {1,5}; "filler" keeps {2?,6} by
    // impact (6: tf1/dl3 beats 2: tf50/dl51? tfNorm(50, 51) ≈ 2.03 >
    // tfNorm(1, 3) ≈ 1.07 — kept {2,6}); "window" keeps top-2 of {3,5};
    // "join" keeps top-2 of {3,6}. idf still uses the TRUE df from termdf.
    val dir2 = graft.util.TempDirs.scratch("bm25-impacts-cap").toString
    Retrieval.writeBm25Index(docs, "doc_id", "text", dir2, buckets = 8, impactCap = 2)
    val capped =
      rows(Retrieval.bm25TopKIndexedPrunedBatch(dir2, queries, "qid", "qtext", 10, cap = 2))
    // qid 100 can only surface docs surviving the spark/filler caps
    assert(capped.filter(_._1 == 100L).map(_._2).subsetOf(Set(1L, 2L, 5L, 6L)))
    assert(!capped.exists(r => r._1 == 100L && r._2 == 4L), "doc 4 must be capped out of 'spark'")
    // per-term probe volume is the cap, not the corpus: the sidecar holds
    // at most 2 rows per term
    val impRows = spark.read.parquet(
      s"${graft.sources.IndexState.dataPath(spark, dir2)}/${Retrieval.ImpactsDir}")
    assert(impRows.groupBy(col("term")).count().agg(max("count")).collect()(0).getLong(0) <= 2L)
    // a deleted doc never resurfaces through the capped lists...
    Retrieval.deleteFromBm25Index(spark, dir2, Seq(1L).toDF("id"))
    val afterDel =
      rows(Retrieval.bm25TopKIndexedPrunedBatch(dir2, queries, "qid", "qtext", 10, cap = 2))
    assert(!afterDel.exists(_._2 == 1L))
    // ...and compaction restores exact-df scoring: pruned probe of the
    // compacted index == pruned probe of a fresh same-cap build without doc 1
    assert(Retrieval.maybeCompactBm25Index(spark, dir2, maxDeadRatio = 0.1))
    val rebuilt = graft.util.TempDirs.scratch("bm25-impacts-rebuild").toString
    Retrieval.writeBm25Index(
      docs.filter(col("doc_id") =!= 1L), "doc_id", "text", rebuilt, buckets = 8, impactCap = 2)
    assert(
      rows(Retrieval.bm25TopKIndexedPrunedBatch(dir2, queries, "qid", "qtext", 10, cap = 2)) ==
        rows(Retrieval.bm25TopKIndexedPrunedBatch(rebuilt, queries, "qid", "qtext", 10, cap = 2)))
    Seq(dir, dir2, rebuilt).foreach(d => graft.util.TempDirs.delete(java.nio.file.Paths.get(d)))
  }

  test("bm25 impact-growth compaction: append-only feeds re-bound the pruned probe") {
    val docs = Seq(
      (1L, "spark spark spark"),
      (2L, "spark window join")
    ).toDF("doc_id", "text")
    val queries = Seq((100L, "spark")).toDF("qid", "qtext")
    val dir = graft.util.TempDirs.scratch("bm25-impact-growth").toString
    def rows() = Retrieval.bm25TopKIndexedPrunedBatch(dir, queries, "qid", "qtext", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def termdfMultiple(): Double = {
      val p = s"${graft.sources.IndexState.dataPath(spark, dir)}/${Retrieval.TermDfDir}"
      spark.read.parquet(p)
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).collect()(0).getLong(0).toDouble
    }
    Retrieval.writeBm25Index(docs, "doc_id", "text", dir, buckets = 8)
    // three appends all touching "spark": the hot term's sidecar multiple
    // grows by one per batch — exactly what the policy reads
    (10L to 12L).foreach { i =>
      Retrieval.appendBm25Index(Seq((i, s"spark doc $i")).toDF("doc_id", "text"),
        "doc_id", "text", dir)
    }
    val before = rows()
    assert(termdfMultiple() >= 2.0)
    // below threshold: refuse (no rewrite, no generation churn)
    assert(!Retrieval.maybeCompactBm25ByImpactGrowth(spark, dir, maxMultiple = 16.0))
    // at threshold: one generation promotion re-caps globally; the hot
    // term's multiple returns to 1 and the probe answers identically
    assert(Retrieval.maybeCompactBm25ByImpactGrowth(spark, dir, maxMultiple = 2.0))
    assert(termdfMultiple() == 1.0, "compaction must collapse per-batch caps to one global cap")
    assert(rows() == before, "re-capping must not change the probe answer")
    // and equals the exact probe on the grown corpus (nothing truncated)
    val exact = Retrieval.bm25TopKIndexedBatch(dir, queries, "qid", "qtext", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows() == exact)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("bm25 impact-growth SHIPPED default (64): an append-only feed is bounded at the knee and stays probe-exact") {
    // the wiring spec above exercises multiple=3; this one drives the
    // DEFAULT policy (Bm25Stream.applyBatch's impactGrowthMultiple = 64)
    // through enough hot-term batches to trip it, asserting the per-term
    // generation excursion never exceeds 64 (so the pruned probe's volume
    // is bounded at cap x 64 rows per term at the default — the stated
    // production bound), that the feed genuinely reached the knee before
    // the policy fired (no earlier leg can fire: append-only means zero
    // tombstones), and that the probe stays exact throughout
    val dir = graft.util.TempDirs.scratch("bm25-growth-default").toString
    val base = Seq((1L, "spark spark spark"), (2L, "spark window join")).toDF("doc_id", "text")
    val queries = Seq((100L, "spark")).toDF("qid", "qtext")
    def termdfMultiple(): Double = {
      val p = s"${graft.sources.IndexState.dataPath(spark, dir)}/${Retrieval.TermDfDir}"
      spark.read.parquet(p)
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .agg(max(col("n"))).collect()(0).getLong(0).toDouble
    }
    Retrieval.writeBm25Index(base, "doc_id", "text", dir, buckets = 8)
    var maxSeen = 1.0
    val appended = (10L until 80L).map { i =>
      val batch = Seq(("INSERT", i, s"spark doc $i")).toDF("tg_op", "id", "text")
      graft.streaming.Bm25Stream.applyBatch(
        spark, batch, dir, "id", "text", autoCompactRatio = Some(0.2))
      val m = termdfMultiple()
      maxSeen = math.max(maxSeen, m)
      assert(m <= 64.0, s"batch $i left the hot term at $m generations — the default never fired")
      (i, s"spark doc $i")
    }
    assert(maxSeen >= 60.0,
      s"excursion peaked at $maxSeen — the feed never approached the default knee, the spec is vacuous")
    assert(termdfMultiple() < 64.0 && maxSeen <= 64.0)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val pruned = rows(Retrieval.bm25TopKIndexedPrunedBatch(dir, queries, "qid", "qtext", 10))
    assert(pruned == rows(Retrieval.bm25TopKIndexedBatch(dir, queries, "qid", "qtext", 10)),
      "pruned must equal the exact probe after the default-policy feed")
    val rebuiltDir = graft.util.TempDirs.scratch("bm25-growth-default-rebuild").toString
    Retrieval.writeBm25Index(base.union(appended.toDF("doc_id", "text")),
      "doc_id", "text", rebuiltDir, buckets = 8)
    assert(pruned == rows(Retrieval.bm25TopKIndexedPrunedBatch(rebuiltDir, queries, "qid", "qtext", 10)),
      "pruned must equal a fresh rebuild's probe after the default-policy feed")
    Seq(dir, rebuiltDir).foreach(d => graft.util.TempDirs.delete(java.nio.file.Paths.get(d)))
  }

  test("bm25 persisted index deletes: probe equals a rebuild without the docs, bit-for-bit") {
    val docs = Seq(
      (1L, "spark spark spark"),
      (2L, "spark " + Seq.fill(50)("filler").mkString(" ")),
      (3L, "window join window"),
      (4L, "spark spark other words"),
      (5L, "spark window spark"),
      (6L, "join join filler")
    ).toDF("doc_id", "text")
    val queries = Seq((100L, "spark filler"), (200L, "window join")).toDF("qid", "qtext")
    val dir = graft.util.TempDirs.scratch("bm25-delete-spec").toString
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def probe(p: String) = Retrieval.bm25TopKIndexedBatch(p, queries, "qid", "qtext", 10)
    Retrieval.writeBm25Index(docs, "doc_id", "text", dir, buckets = 8)
    assert(rows(probe(dir)).exists(r => r._2 == 2L || r._2 == 4L))
    // delete two docs: tombstones + exact stats decrement (doclens lookup)
    Retrieval.deleteFromBm25Index(spark, dir, Seq(2L, 4L).toDF("id"))
    val afterDelete = rows(probe(dir))
    assert(!afterDelete.exists(r => r._2 == 2L || r._2 == 4L), "deleted docs still retrievable")
    // bit-for-bit equal to an index built WITHOUT the deleted docs: idf uses
    // n_docs and df, tf-norm uses avgdl — all must match the rebuild exactly
    val survivors = docs.filter(!col("doc_id").isin(2L, 4L))
    val rebuiltDir = graft.util.TempDirs.scratch("bm25-delete-rebuild").toString
    Retrieval.writeBm25Index(survivors, "doc_id", "text", rebuiltDir, buckets = 8)
    assert(afterDelete == rows(probe(rebuiltDir)))
    assert(stats(dir) == stats(rebuiltDir), "stats must decrement to the rebuild's exactly")
    // double-delete and deleting a never-indexed id are no-ops
    Retrieval.deleteFromBm25Index(spark, dir, Seq(2L, 999L).toDF("id"))
    assert(stats(dir) == stats(rebuiltDir))
    assert(rows(probe(dir)) == afterDelete)
    // re-add doc 2 (the CDC UPDATE flow: delete + append): the new postings
    // out-sequence the tombstone, the old ones stay hidden — no double tf
    val readd = docs.filter(col("doc_id") === 2L)
    Retrieval.appendBm25Index(readd, "doc_id", "text", dir)
    val readdDir = graft.util.TempDirs.scratch("bm25-readd-rebuild").toString
    Retrieval.writeBm25Index(survivors.union(readd), "doc_id", "text", readdDir, buckets = 8)
    val afterReadd = rows(probe(dir))
    assert(afterReadd == rows(probe(readdDir)))
    assert(stats(dir) == stats(readdDir))
    // compaction drops tombstoned postings physically and preserves scores
    val staged = graft.util.TempDirs.scratch("bm25-delete-compact").toString
    Retrieval.compactBm25Index(spark, dir, staged)
    assert(rows(probe(staged)) == afterReadd)
    assert(stats(staged) == stats(dir))
    assert(!new java.io.File(s"$staged/_graft_tombstones").exists())
    val stagedIds = spark.read.parquet(staged).select("id").collect().map(_.getLong(0))
    assert(!stagedIds.contains(4L), "doc 4's postings must be gone after compaction")
    assert(stagedIds.count(_ == 2L) ==
      spark.read.parquet(readdDir).select("id").collect().map(_.getLong(0)).count(_ == 2L),
      "re-added doc keeps exactly one generation of postings")
    Seq(dir, rebuiltDir, readdDir, staged)
      .foreach(d => graft.util.TempDirs.delete(java.nio.file.Paths.get(d)))
  }

  test("bm25 append crash between postings and stats replays without stats drift") {
    // an append that dies after its postings (and any sibling sidecar)
    // landed but before its log entry leaves files no entry lists: the
    // probes and the counters still show the index as it was, and the
    // replayed batch (the CDC upsert shape) lands exactly once
    val base = Seq(
      (1L, "spark spark filler"),
      (2L, "window join window"),
      (3L, "spark other words")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (4L, "spark window replay"),
      (5L, "join filler filler join")
    ).toDF("doc_id", "text")
    val queries = Seq((100L, "spark filler"), (200L, "window join")).toDF("qid", "qtext")
    val dir = graft.util.TempDirs.scratch("bm25-crash-replay").toString
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def probe(p: String) = Retrieval.bm25TopKIndexedBatch(p, queries, "qid", "qtext", 10)
    Retrieval.writeBm25Index(base, "doc_id", "text", dir, buckets = 8)
    val before = (stats(dir), rows(probe(dir)))
    crashAt("write:postings")(Retrieval.appendBm25Index(batch, "doc_id", "text", dir))
    assert((stats(dir), rows(probe(dir))) == before, "a crashed append must change nothing visible")
    // at-least-once recovery replays the batch through the upsert shape
    Retrieval.deleteFromBm25Index(spark, dir, batch.select(col("doc_id").as("id")))
    Retrieval.appendBm25Index(batch, "doc_id", "text", dir)
    val rebuiltDir = graft.util.TempDirs.scratch("bm25-crash-rebuild").toString
    Retrieval.writeBm25Index(base.union(batch), "doc_id", "text", rebuiltDir, buckets = 8)
    assert(stats(dir) == stats(rebuiltDir),
      "replay after a mid-append crash must leave stats equal to a fresh rebuild")
    assert(rows(probe(dir)) == rows(probe(rebuiltDir)),
      "replay after a mid-append crash must probe equal to a fresh rebuild")
    Seq(dir, rebuiltDir).foreach(d => graft.util.TempDirs.delete(java.nio.file.Paths.get(d)))
  }

  test("bm25 fused tier: a crash before stats in either leg replays to a rebuild") {
    // the crash-replay scenario above with the crash AND the replay on the
    // driver-fused tier, plus its delete-leg twin: a delete that dies after
    // its tombstones but before its log entry leaves nothing visible, so
    // the replay decrements the counters exactly once, on both tiers
    val base = Seq(
      (1L, "spark spark filler"),
      (2L, "window join window"),
      (3L, "spark other words")
    )
    val batch = Seq((4L, "spark window replay"), (5L, "join filler filler join"))
    val queries = Seq((100L, "spark filler"), (200L, "window join")).toDF("qid", "qtext")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def probe(p: String) = rows(Retrieval.bm25TopKIndexedBatch(p, queries, "qid", "qtext", 10))
    def fused(p: String, ids: Seq[Long], ups: Seq[(Long, String)]): Unit =
      Retrieval.mutateBm25IndexFused(spark, p, ids, ups.toDF("doc_id", "text"), "doc_id", "text")
    // the crash: every data file written, the log entry not created
    def crashed(p: String)(mutate: => Unit): Unit = crashAt("commit")(mutate)
    def build(docs: Seq[(Long, String)]): String = {
      val p = graft.util.TempDirs.scratch("bm25-fused-crash").toString
      Retrieval.writeBm25Index(docs.toDF("doc_id", "text"), "doc_id", "text", p, buckets = 8)
      p
    }
    def assertRebuilt(p: String, docs: Seq[(Long, String)], what: String): Unit = {
      val rebuilt = build(docs)
      assert(stats(p) == stats(rebuilt), s"$what: stats drifted from a rebuild")
      assert(probe(p) == probe(rebuilt), s"$what: probe diverged from a rebuild")
      graft.util.TempDirs.delete(java.nio.file.Paths.get(rebuilt))
    }

    // append leg: dies before its entry; replayed whole
    val appended = build(base)
    crashed(appended)(fused(appended, batch.map(_._1), batch))
    assertRebuilt(appended, base, "fused append crash, before the replay")
    fused(appended, batch.map(_._1), batch)
    assertRebuilt(appended, base ++ batch, "fused append crash")

    // delete leg: dies before its entry; replayed whole
    val deleted = build(base ++ batch)
    crashed(deleted)(fused(deleted, Seq(2L, 4L), Nil))
    fused(deleted, Seq(2L, 4L), Nil)
    val survivors = (base ++ batch).filterNot(d => Set(2L, 4L)(d._1))
    assertRebuilt(deleted, survivors, "fused delete crash")
    // the replay took the first seq: the crashed attempt left no trace
    assert(graft.sources.IndexState.open(spark, deleted)._2.seq == 1L)

    // the same delete crash on the distributed tier, replayed there
    val distributed = build(base ++ batch)
    def delete(p: String) = Retrieval.deleteFromBm25Index(spark, p, Seq(2L, 4L).toDF("id"))
    crashed(distributed)(delete(distributed))
    delete(distributed)
    assertRebuilt(distributed, survivors, "distributed delete crash")
    // and a later batch on the other tier converges as well
    fused(distributed, Seq(5L), Seq(5L -> "join filler filler join"))
    assertRebuilt(distributed, survivors, "after a later fused re-append")
    Seq(appended, deleted, distributed).foreach(d => graft.util.TempDirs.delete(java.nio.file.Paths.get(d)))
  }

  test("bm25 auto-compaction: fires at the dead-ratio threshold, swaps atomically, probes unchanged") {
    val docs = Seq(
      (1L, "spark spark spark"),
      (2L, "spark filler filler"),
      (3L, "window join window"),
      (4L, "spark spark other words"),
      (5L, "spark window spark")
    ).toDF("doc_id", "text")
    val queries = Seq((100L, "spark window")).toDF("qid", "qtext")
    val dir = graft.util.TempDirs.scratch("bm25-autocompact").toString
    def rows(p: String) = Retrieval.bm25TopKIndexedBatch(p, queries, "qid", "qtext", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    Retrieval.writeBm25Index(docs, "doc_id", "text", dir, buckets = 8)
    // no deletes ⇒ no-op (and no sidecar scan at all)
    assert(!Retrieval.maybeCompactBm25Index(spark, dir, maxDeadRatio = 0.2))
    // 1 of 5 dead = 0.2 dead fraction: below a 0.5 threshold, at a 0.2 one
    Retrieval.deleteFromBm25Index(spark, dir, Seq(3L).toDF("id"))
    val before = rows(dir)
    assert(!Retrieval.maybeCompactBm25Index(spark, dir, maxDeadRatio = 0.5))
    assert(new java.io.File(s"$dir/_graft_tombstones").exists(), "below threshold: tombstones stay")
    assert(Retrieval.maybeCompactBm25Index(spark, dir, maxDeadRatio = 0.2))
    // swapped IN PLACE: same path, no tombstones, no staging/trash leftovers,
    // probe identical, and doc 3's postings physically gone
    assert(rows(dir) == before)
    assert(!graft.sources.IndexState.hasTombstones(spark, dir))
    assert(!new java.io.File(dir + ".graft_compact").exists())
    assert(!new java.io.File(dir + ".graft_trash").exists())
    // the compacted generation (what probes resolve) holds no doc-3 postings;
    // the pre-compaction root data survives ONE generation for in-flight
    // readers (deferred GC) and is retired by the next promotion
    val gen1 = graft.sources.IndexState.dataPath(spark, dir)
    assert(gen1 != dir, "compaction must have promoted a generation dir")
    assert(!spark.read.parquet(gen1).select("id").collect().map(_.getLong(0)).contains(3L))
    // compacted index keeps working as a mutation target
    Retrieval.appendBm25Index(Seq((6L, "spark again")).toDF("doc_id", "text"), "doc_id", "text", dir)
    assert(rows(dir).nonEmpty)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("bm25 matches a hand-computed score on a 2-doc corpus") {
    val docs = Seq((1L, "a b"), (2L, "a a")).toDF("doc_id", "text")
    val top = Retrieval
      .bm25TopK(docs, "doc_id", "text", "a", 10, k1 = 1.2, b = 0.75)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    // N=2, df=2, idf = ln(1 + 0.5/2.5); avgdl = 2, dl = 2 for both
    // (written in the engine's exact double-op order)
    val idf = math.log(1.0 + (2L - 2L + 0.5) / (2L + 0.5))
    def s(tf: Int): Long =
      math.round(1e6 * idf * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * 2.0 / 2.0))))
    assert(top(1L) == s(1))
    assert(top(2L) == s(2))
  }

  // ---- chunking -----------------------------------------------------------

  test("chunks cover the document: stitching strides back together recovers the text") {
    val text = ('a' to 'z').mkString * 20 // 520 chars
    val docs = Seq((1L, text), (2L, "short")).toDF("doc_id", "text")
    val size = 120
    val overlap = 24
    val stride = size - overlap
    val out = Retrieval
      .chunk(docs, "doc_id", "text", size, overlap)
      .orderBy("id", "chunk_idx")
      .collect()
    val short = out.filter(_.getLong(0) == 2L)
    assert(short.length == 1 && short.head.getLong(3) == 5L) // one whole chunk
    val long = out.filter(_.getLong(0) == 1L)
    assert(long.forall(_.getLong(2) == long.length.toLong)) // n_chunks consistent
    // every chunk starts where the previous one's stride ended, and the md5s
    // match a direct recomputation of the same windows
    long.zipWithIndex.foreach { case (r, i) =>
      val expected = text.substring(i * stride, math.min(i * stride + size, text.length))
      assert(r.getLong(3) == expected.length.toLong)
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(r.getString(4) == hex)
    }
    // chunk starts cover the full text: last start + size >= length
    assert((long.length - 1) * stride + size >= text.length)
  }

  test("chunking is exchange-free (pure map-side generate)") {
    val docs = Seq((1L, "x" * 300)).toDF("doc_id", "text")
    val plan = Retrieval.chunk(docs, "doc_id", "text", 120, 24).queryExecution.executedPlan
    assert(!plan.toString.contains("Exchange"), s"chunk plan must not shuffle:\n$plan")
  }

  // ---- duplicated spans ---------------------------------------------------

  test("duplicated spans: a shared 20-token span is detected at ANY offset, unique docs are not") {
    val shared = (1 to 20).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      // the copies sit at different token AND char offsets — token anchoring
      // must still align them
      (1L, "unique prefix one two three " + shared),
      (2L, shared + " unique suffix four five six seven"),
      (3L, (1 to 40).map(i => s"only$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup
      .duplicatedSpans(docs, "doc_id", "text", window = 16)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .toMap
    assert(out.contains(1L) && out.contains(2L), s"docs sharing the span must be flagged: $out")
    assert(!out.contains(3L), "unique doc must not be flagged")
    // the shared 20-token span yields exactly 5 shared 16-grams per doc
    assert(out(2L) == 5L, s"expected 5 shared grams, got ${out(2L)}")
  }

  test("duplicated spans: identical docs share every gram; short docs degenerate to whole-doc") {
    val t = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, t), (2L, t), (3L, "tiny doc"), (4L, "tiny doc")).toDF("doc_id", "text")
    val out = Dedup
      .duplicatedSpans(docs, "doc_id", "text", window = 16)
      .collect()
    assert(out.length == 4)
    out.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), "all grams duplicated")
      assert(r.getLong(3) == 1000L, "dup_milli = 1000 for a full duplicate")
    }
  }

  // ---- duplicated span ranges ---------------------------------------------

  test("span ranges recover the exact token extent of a shared span, merged maximally") {
    val shared = (1 to 24).map(i => s"sh$i").mkString(" ") // 24-token shared span
    val docs = Seq(
      (1L, "p1 p2 p3 " + shared + " s1 s2"), // span at tokens [3, 26]
      (2L, shared), // span IS the doc: [0, 23]
      (3L, (1 to 40).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup
      .duplicatedSpanRanges(docs, "doc_id", "text", window = 16)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == ((3L, 26L, 24L)), s"doc 1 span: ${out.get(1L)}")
    assert(out(2L) == ((0L, 23L, 24L)), s"doc 2 span: ${out.get(2L)}")
    assert(!out.contains(3L))
  }

  test("span ranges: two disjoint shared spans stay two islands; short-doc clamp holds") {
    val a = (1 to 18).map(i => s"a$i").mkString(" ")
    val b = (1 to 18).map(i => s"b$i").mkString(" ")
    val gap = (1 to 20).map(i => s"g$i").mkString(" ")
    val docs = Seq(
      (1L, a + " " + gap + " " + b), // spans [0,17] and [38,55]
      (2L, b + " mid1 mid2 " + a), // same spans, swapped order
      (3L, "tiny doc"),
      (4L, "tiny doc") // degenerate whole-doc gram; clamp to n_tok-1
    ).toDF("doc_id", "text")
    val out = Dedup
      .duplicatedSpanRanges(docs, "doc_id", "text", window = 16)
      .collect()
      .groupBy(_.getLong(0))
      .view
      .mapValues(_.map(r => (r.getLong(1), r.getLong(2))).toSet)
      .toMap
    assert(out(1L) == Set((0L, 17L), (38L, 55L)), s"doc 1 spans: ${out.get(1L)}")
    assert(out(2L) == Set((0L, 17L), (20L, 37L)), s"doc 2 spans: ${out.get(2L)}")
    assert(out(3L) == Set((0L, 1L)), "degenerate span clamps to the last token")
    assert(out(4L) == Set((0L, 1L)))
  }

  // ---- incremental span dedup ---------------------------------------------

  test("spansAgainstIndex flags batch docs overlapping the CORPUS, not each other") {
    val corpusSpan = (1 to 20).map(i => s"c$i").mkString(" ")
    val batchOnlySpan = (1 to 20).map(i => s"b$i").mkString(" ")
    val corpus = Seq((100L, "corpus head " + corpusSpan)).toDF("doc_id", "text")
    val batch = Seq(
      (1L, corpusSpan + " tail tokens here"), // overlaps corpus → flagged
      (2L, batchOnlySpan + " one two three"), // overlaps doc 3 only → NOT flagged
      (3L, "x y z " + batchOnlySpan)
    ).toDF("doc_id", "text")
    val idx = Dedup.spanGramIndex(corpus, "doc_id", "text", window = 16)
    val out = Dedup
      .spansAgainstIndex(idx, batch, "doc_id", "text", window = 16)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .toMap
    assert(out.contains(1L) && out(1L) == 5L, s"batch doc 1 shares 5 grams with corpus: $out")
    assert(!out.contains(2L) && !out.contains(3L), "batch-internal overlap must not flag")
  }

  // ---- span removal -------------------------------------------------------

  test("cutSpans removes exactly the located span and keeps the rest verbatim") {
    val shared = (1 to 20).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, "keep1 keep2 " + shared + " keep3"),
      (2L, shared),
      (3L, "fully unique document with enough tokens to stand alone")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpanRanges(docs, "doc_id", "text", window = 16)
    val out = Dedup
      .cutSpans(docs, "doc_id", "text", spans)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    def md5hex(s: String): String =
      java.security.MessageDigest
        .getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_))
        .mkString
    // doc 1: span [2, 21] cut → "keep1 keep2 keep3"
    assert(out(1L) == ((23L, 20L, md5hex("keep1 keep2 keep3"))), s"doc1: ${out(1L)}")
    // doc 2 is entirely the span → cleans to empty
    assert(out(2L) == ((20L, 20L, md5hex(""))), s"doc2: ${out(2L)}")
    // doc 3 untouched
    assert(out(3L)._2 == 0L && out(3L)._3 == md5hex("fully unique document with enough tokens to stand alone"))
    // keepEmpty = false drops the fully-duplicated doc
    val keptIds = Dedup
      .cutSpans(docs, "doc_id", "text", spans, keepEmpty = false)
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(keptIds == Set(1L, 3L))
  }

  // ---- unigram LM surprisal -----------------------------------------------

  test("unigram surprisal: rare-term docs score higher than common-term docs") {
    val docs = Seq(
      (1L, "common common common common"),
      (2L, "common common common rare"),
      (3L, "weird obscure unheard singular")
    ).toDF("doc_id", "text")
    val out = LanguageModel
      .unigramSurprisal(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(3))
      .toMap
    assert(out(1L) < out(2L) && out(2L) < out(3L), s"ordering: $out")
    // hand-check doc 1: total=12 tokens, cf(common)=7 → 4 × ln(12/7)
    val sMicro = math.round(1e6 * (4L * math.log(12.0 / 7L)))
    val expected = math.round(sMicro / (1000.0 * 4L))
    assert(out(1L) == expected)
  }

  test("exact percentiles match a direct sort on skewed groups") {
    val rows =
      (1 to 101).map(i => ("a", i.toLong)) ++ // odd count
        (1 to 10).map(_ => ("b", 7L)) ++ // all ties
        Seq(("c", 42L)) // singleton
    val df = rows.toDF("g", "v")
    val out = CorpusStats
      .exactPercentiles(df, Seq("g"), "v")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    def orderStat(vs: Seq[Long], k: Long): Long = vs.sorted.apply((k - 1).toInt)
    for ((g, vs) <- rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap) {
      val n = vs.length.toLong
      val (nRows, minV, maxV, p50, p90) = out(g)
      assert(nRows == n)
      assert(minV == vs.min && maxV == vs.max)
      assert(p50 == orderStat(vs, (n + 1) / 2), s"p50 for $g")
      assert(p90 == orderStat(vs, (9 * n + 9) / 10), s"p90 for $g")
    }
  }
}
