package graft.tools

import graft.ann.Ann
import graft.functions.Retrieval
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale measurement for the persisted-index MUTATION paths (the round-8
  * delete/compact machinery): at a given corpus, time
  *
  *   - index build,
  *   - steady-state probe with a CLEAN index (no tombstone sidecar ⇒ the
  *     visibility join is skipped entirely),
  *   - a 10% delete batch, probe at 10% dead, another 10%, probe at 20%
  *     dead (tombstone subtraction in the plan),
  *   - a full compaction cycle (rewrite + atomic swap) at 20% dead,
  *   - probe after compaction (clean again),
  *
  * for the BM25 postings index, the LSH vector index AND the IVF-PQ
  * vector index (models trained once at build, frozen for every
  * mutation — the [[graft.ann.AnnModels]] sidecar contract); plus the
  * streaming cluster-maintenance family ([[graft.dedup.SignatureIndex]] +
  * [[graft.dedup.ClusterMap]]), whose verbs are seed / apply-batch /
  * replay / compact rather than delete/tombstone. Run at
  * sf0.1 and .scale/sf1 to show the mutation costs scale with BATCH and
  * CANDIDATE sizes, not corpus size — the design claim of
  * [[graft.sources.IndexState]]. Probes are min-of-3; mutations are
  * single-shot (they are one-time costs by nature and mutate state).
  *
  * Usage: `runMain graft.tools.MutationScale <sfDir> [outJson]`
  */
object MutationScale {

  private def time[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  private def minOf3(body: => Long): Double =
    (0 until 3).map(_ => time(body)._1).min

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = args.lift(1)
    val spark = SparkSession
      .builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val loadBefore = scala.util.Using(scala.io.Source.fromFile("/proc/loadavg"))(
      _.getLines().next().split(" ")(0).toDouble).getOrElse(-1.0)

    val load: String => org.apache.spark.sql.DataFrame = graft.sources.Tables.load(spark, dir)(_)

    // ---- BM25 postings index ------------------------------------------------
    val docs = load("documents")
    val nDocs = docs.count()
    val bmQueries = docs.filter(col("doc_id") < 50).select(col("doc_id"), col("text"))
    val bmIdx = graft.util.TempDirs.scratch("mutscale-bm25").toString
    def bmProbe(): Long =
      Retrieval.bm25TopKIndexedBatch(bmIdx, bmQueries, "doc_id", "text", 10).count()
    // the impact-capped probe: per-term volume bounded by ImpactCap, the
    // path whose ratio must stay ~flat at 10× corpus (the exact probe is
    // corpus-proportional for frequent terms — kept as the contrast row)
    def bmProbePruned(): Long =
      Retrieval.bm25TopKIndexedPrunedBatch(bmIdx, bmQueries, "doc_id", "text", 10).count()
    val (bmBuild, _) = time(Retrieval.writeBm25Index(docs, "doc_id", "text", bmIdx))
    bmProbe() // untimed warm-up: pay codegen/JIT once, outside every timing
    val bmProbeClean = minOf3(bmProbe())
    bmProbePruned() // untimed warm-up, as above
    val bmProbePrunedClean = minOf3(bmProbePruned())
    val del1 = docs.filter(pmod(col("doc_id"), lit(10)) === 7).select(col("doc_id").as("id"))
    val nDel1 = del1.count()
    val (bmDel1, _) = time(Retrieval.deleteFromBm25Index(spark, bmIdx, del1))
    val bmProbeDead10 = minOf3(bmProbe())
    val del2 = docs.filter(pmod(col("doc_id"), lit(10)) === 8).select(col("doc_id").as("id"))
    val (bmDel2, _) = time(Retrieval.deleteFromBm25Index(spark, bmIdx, del2))
    val bmProbeDead20 = minOf3(bmProbe())
    val bmProbePrunedDead20 = minOf3(bmProbePruned())
    val (bmCompact, compacted) = time(Retrieval.maybeCompactBm25Index(spark, bmIdx, maxDeadRatio = 0.15))
    require(compacted, "expected the 20%-dead policy to compact")
    val bmProbeAfter = minOf3(bmProbe())
    val bmProbePrunedAfter = minOf3(bmProbePruned())

    // ---- impact-growth DEFAULT excursion (Bm25Stream's shipped
    // impactGrowthMultiple = 64): drive the hot terms to the knee with 64
    // append-only micro-batches (every batch re-appends the same 200 base
    // docs under fresh ids, so common terms gain one sidecar generation per
    // batch), time the pruned probe AT the excursion, fire the default
    // policy, time it after — the measured probe-cost factor the default
    // multiple actually costs, which the wiring spec (multiple=3) cannot
    // show. The probe queries are the same hot docs, so they pay the full
    // cap x 64 per-term volume.
    val growthSeed = docs.filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text")).cache()
    growthSeed.count()
    val (bmGrowthAppends, _) = time {
      (1 to 64).foreach { i =>
        Retrieval.appendBm25Index(
          growthSeed.select(
            (col("doc_id") + lit(2000000000L) + lit(i.toLong * 1000000L)).as("doc_id"),
            col("text")),
          "doc_id", "text", bmIdx)
      }
    }
    bmProbePruned() // untimed warm-up at the excursion shape
    val bmProbePrunedExcursion = minOf3(bmProbePruned())
    val (bmGrowthCompact, growthFired) =
      time(Retrieval.maybeCompactBm25ByImpactGrowth(spark, bmIdx))
    require(growthFired, "expected 64 append batches to trip the default growth policy")
    val bmProbePrunedPostGrowth = minOf3(bmProbePruned())
    growthSeed.unpersist()

    // ---- LSH vector index ---------------------------------------------------
    val emb = load("embeddings")
    val nVecs = emb.count()
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val annQueries = emb.filter(col("vec_id") < 50)
    val annIdx = graft.util.TempDirs.scratch("mutscale-lsh").toString
    def annProbe(): Long =
      Ann.lshTopKIndexed(annIdx, annQueries, "vec_id", "embedding", 10, planes = 6, dim = dim).count()
    val (annBuild, _) = time(Ann.writeLshIndex(emb, annIdx, "vec_id", "embedding", planes = 6, dim = dim))
    annProbe() // untimed warm-up, as above
    val annProbeClean = minOf3(annProbe())
    val vdel1 = emb.filter(pmod(col("vec_id"), lit(10)) === 7).select(col("vec_id").as("id"))
    val (annDel1, _) = time(Ann.deleteFromLshIndex(spark, annIdx, vdel1))
    val annProbeDead10 = minOf3(annProbe())
    val vdel2 = emb.filter(pmod(col("vec_id"), lit(10)) === 8).select(col("vec_id").as("id"))
    val (annDel2, _) = time(Ann.deleteFromLshIndex(spark, annIdx, vdel2))
    val annProbeDead20 = minOf3(annProbe())
    val (annCompact, annCompacted) = time(Ann.maybeCompactLshIndex(spark, annIdx, maxDeadRatio = 0.15))
    require(annCompacted, "expected the 20%-dead policy to compact")
    val annProbeAfter = minOf3(annProbe())

    // ---- IVF-PQ vector index ------------------------------------------------
    // build includes the one-time model training (cells + codebooks); every
    // mutation then encodes under the FROZEN models — a driver-side sidecar
    // read per batch, no corpus work
    val pqIdx = graft.util.TempDirs.scratch("mutscale-pq").toString
    def pqProbe(): Long =
      Ann.pqTopKIndexedResumed(pqIdx, annQueries, "vec_id", "embedding", 10, nprobe = 4).count()
    val (pqBuild, _) = time {
      val cells = Ann.trainIvfCells(emb, "vec_id", "embedding", nlists = 16)
      val books = Ann.pqTrain(emb, "vec_id", "embedding", m = 8, codeK = 16)
      Ann.writePqIndex(emb, pqIdx, "vec_id", "embedding", cells, books)
    }
    pqProbe() // untimed warm-up, as above
    val pqProbeClean = minOf3(pqProbe())
    val (pqDel1, _) = time(Ann.deleteFromPqIndex(spark, pqIdx, vdel1))
    val pqProbeDead10 = minOf3(pqProbe())
    val (pqDel2, _) = time(Ann.deleteFromPqIndex(spark, pqIdx, vdel2))
    val pqProbeDead20 = minOf3(pqProbe())
    val (pqCompact, pqCompacted) = time(Ann.maybeCompactPqIndex(spark, pqIdx, maxDeadRatio = 0.15))
    require(pqCompacted, "expected the 20%-dead policy to compact")
    val pqProbeAfter = minOf3(pqProbe())

    // ---- streaming near-dup cluster maintenance ---------------------------
    // different mutation verbs than the tombstone families: seed = corpus
    // build of signature index + union-find, apply = one 10%-of-corpus
    // change batch (in-batch pairs + index probe + Jaccard verify + map
    // update + key append — the O(batch + candidates) claim), replay = the
    // same batch redelivered (at-least-once convergence cost), compact =
    // map path-compression + signature dedup (corpus-sized rewrite by
    // design, generation-pointer promoted)
    val cRoot = graft.util.TempDirs.scratch("mutscale-cluster").toString
    val (cSig, cMap) = (s"$cRoot/sig", s"$cRoot/map")
    val cModel = graft.dedup.SignatureIndex.Model(
      portable = false, shingleN = 3, bands = 16, rowsPerBand = 4,
      threshold = 0.5, maxBucket = 1000, buckets = 64)
    val cBase = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7).select(col("doc_id"), col("text"))
    val cBatch = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
      .select(lit("INSERT").as("tg_op"), col("doc_id"), col("text"))
    val (cSeed, _) = time(
      graft.streaming.ClusterStream.seed(cBase, cSig, cMap, "doc_id", "text", cModel))
    def cAssign(): Long = graft.dedup.ClusterMap.assignments(spark, cMap).count()
    cAssign() // untimed warm-up, as above
    // per-stage attribution inside the apply (shingle / probe / candidates /
    // verify / merge / append): the stage forcing points are frames the
    // apply caches or checkpoints anyway, so the sum tracks the consumer
    // total and each stage's 10x-corpus ratio is its own scale signal
    val cStages = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val (cApply, _) = time(
      graft.streaming.ClusterStream.applyBatch(
        spark, cBatch, docs, cSig, cMap, "doc_id", "text",
        stageTimer = Some((label, sec) => cStages.synchronized { cStages(label) = sec; () })))
    val cAssignSec = minOf3(cAssign())
    val (cReplay, _) = time(
      graft.streaming.ClusterStream.applyBatch(spark, cBatch, docs, cSig, cMap, "doc_id", "text"))
    val (cCompact, _) = time {
      graft.dedup.ClusterMap.maybeCompact(spark, cMap, maxMergeRatio = 1e-9)
      graft.dedup.SignatureIndex.compact(spark, cSig)
    }
    val cAssignAfter = minOf3(cAssign())

    // ---- ANN training-quality cell: recall@50 vs exact ([[RecallScale]]) ---
    // measures what the shipped refine=0 seed default costs vs a small Lloyd
    // refinement and a full-probe contrast, on THIS corpus. Runs AFTER every
    // timed family: its five full topK jobs + cached brute-force scan churn
    // heap/cache state, and placing it mid-campaign would perturb the
    // single-shot timings that are compared across rounds.
    val recallJson = RecallScale.jsonOf(RecallScale.measure(emb, annQueries))

    val json =
      f"""{"sf":"$dir","load_before":$loadBefore%.2f,"n_docs":$nDocs,"n_vecs":$nVecs,"delete_batch_rows":$nDel1,""" +
        f""""bm25":{"build_sec":$bmBuild%.3f,"probe_clean_sec":$bmProbeClean%.3f,"delete10_sec":$bmDel1%.3f,""" +
        f""""probe_dead10_sec":$bmProbeDead10%.3f,"delete10b_sec":$bmDel2%.3f,"probe_dead20_sec":$bmProbeDead20%.3f,""" +
        f""""compact_sec":$bmCompact%.3f,"probe_after_compact_sec":$bmProbeAfter%.3f,""" +
        f""""probe_pruned_clean_sec":$bmProbePrunedClean%.3f,"probe_pruned_dead20_sec":$bmProbePrunedDead20%.3f,""" +
        f""""probe_pruned_after_compact_sec":$bmProbePrunedAfter%.3f,""" +
        f""""growth_appends64_sec":$bmGrowthAppends%.3f,"probe_pruned_excursion64_sec":$bmProbePrunedExcursion%.3f,""" +
        f""""growth_compact_sec":$bmGrowthCompact%.3f,"probe_pruned_post_growth_sec":$bmProbePrunedPostGrowth%.3f},""" +
        f""""lsh":{"build_sec":$annBuild%.3f,"probe_clean_sec":$annProbeClean%.3f,"delete10_sec":$annDel1%.3f,""" +
        f""""probe_dead10_sec":$annProbeDead10%.3f,"delete10b_sec":$annDel2%.3f,"probe_dead20_sec":$annProbeDead20%.3f,""" +
        f""""compact_sec":$annCompact%.3f,"probe_after_compact_sec":$annProbeAfter%.3f},""" +
        f""""ivfpq":{"build_sec":$pqBuild%.3f,"probe_clean_sec":$pqProbeClean%.3f,"delete10_sec":$pqDel1%.3f,""" +
        f""""probe_dead10_sec":$pqProbeDead10%.3f,"delete10b_sec":$pqDel2%.3f,"probe_dead20_sec":$pqProbeDead20%.3f,""" +
        f""""compact_sec":$pqCompact%.3f,"probe_after_compact_sec":$pqProbeAfter%.3f},""" +
        s""""recall_at50":$recallJson,""" +
        f""""cluster":{"seed_sec":$cSeed%.3f,"apply_batch10_sec":$cApply%.3f,"assignments_sec":$cAssignSec%.3f,""" +
        f""""replay_batch10_sec":$cReplay%.3f,"compact_sec":$cCompact%.3f,"assignments_after_compact_sec":$cAssignAfter%.3f,""" +
        s""""apply_stages":{${cStages.map { case (k, v) => f""""$k":$v%.3f""" }.mkString(",")}}}}"""
    out.foreach { p =>
      val w = new java.io.PrintWriter(p)
      try w.println(json) finally w.close()
    }
    spark.stop()
    println(json)
  }
}
