package perfbench

import scala.collection.mutable

import graft.{Fixtures, GraftSync}
import graft.assemble.DocAssembler
import graft.catalog.{Catalog, ForeignKey, TableMeta}
import graft.cdc.{Changes, Lineage}
import graft.schema.SchemaDef
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import Run._

/** `cdc_bulk`: a closed loop over the flagship tree (orders with one_to_many
  * lineitems and a one_to_one customer). Set-up snapshots the generated
  * source into fresh indexes (the full-sync `pull()`); the timed loop then
  * drains seeded 5 000-change batches through `GraftSync.applyChanges`,
  * committing each batch's source post-state before the batch is applied.
  *
  * Untraced, each op is one public facade call. Traced, the benchmark makes
  * the same layer calls in the facade's order inside one span per layer,
  * materialising each layer's output in its span, and asserts the traced
  * index equals the untraced one.
  */
object CdcBulk {

  private val catalog: Catalog = Catalog(Map(
    "customer" -> TableMeta("customer", Seq("c_custkey")),
    "orders" -> TableMeta("orders", Seq("o_orderkey"),
      Seq(ForeignKey("orders", Seq("o_custkey"), "customer", Seq("c_custkey")))),
    "lineitem" -> TableMeta("lineitem", Seq("l_orderkey", "l_linenumber"),
      Seq(ForeignKey("lineitem", Seq("l_orderkey"), "orders", Seq("o_orderkey"))))))

  /** Set-up snapshots. The first two warm the JVM, so `snapshot_s` is the
    * last; a traced run needs two identical starting indexes.
    */
  private val SetupReps = 3

  /** `Fixtures.flagship` as a schema document. */
  private val SchemaJson = s"""{"database":"graft","index":"orders","nodes":${Fixtures.flagship}}"""

  private def probeId(seed: Long, i: Int, j: Int): Long = 1 + Gen.pick(seed, 20, i, j, Gen.ProbeKeys)

  /** Doc-by-id reads of never-deleted roots after an op. */
  private def probeDocs(ctx: Ctx, tr: Tracer, out: Outcome, sync: GraftSync, i: Int,
      lat: mutable.Buffer[Double]): Unit =
    (0 until ProbesPerOp).foreach { j =>
      val id = probeId(ctx.seed, i, j)
      out.attempt(s"probe.doc $id") {
        timed(tr.span("probe.doc") {
          val n = sync.state.docs.filter(col("_id") === id.toString).collect().length
          require(n == 1, s"doc $id: $n rows")
        })._2
      }.foreach(lat += _)
    }

  private def rebuildMatches(ctx: Ctx, src: Source, sync: GraftSync): Boolean =
    digest(sync.state.docs) ==
      digest(DocAssembler.assembleJson(SchemaDef.parse(SchemaJson).root, src.load, catalog))

  /** `GraftSync.snapshot` as layer calls: assemble → index.initialize. */
  private def tracedSnapshot(tr: Tracer, sync: GraftSync): Unit = tr.span("op.snapshot") {
    val docs = tr.span("assemble") {
      val d = sync.documents().persist(StorageLevel.MEMORY_AND_DISK)
      d.count()
      d
    }
    try tr.span("index.initialize")(sync.state.initialize(docs))
    finally docs.unpersist()
    sync.state.docs.count()
    ()
  }

  /** `GraftSync.applyChanges` as layer calls: prepare → affectedRoots
    * (cdc.resolve) → reassemble → commit → saveCheckpoint. Returns
    * (affected roots, prepared changes).
    */
  private def tracedApply(tr: Tracer, sync: GraftSync, batch: DataFrame): (Long, Long) =
    tr.span("op.cdc_batch") {
      val state = sync.state
      val ck = state.checkpointState
      val fresh = ck match {
        case Some(c) =>
          val above = batch.filter(col("txid") > c.watermark)
          if (c.applied.isEmpty) above else above.filter(!col("txid").isInCollection(c.applied))
        case None => batch
      }
      val (prepared, affected, nChanges, nRoots) = tr.span("cdc.resolve") {
        val p = sync.prepare(fresh).cache()
        val nc = p.count()
        val a = sync.engine.affectedRoots(p, state.lineage).cache()
        (p, a, nc, a.count())
      }
      val structured = tr.span("cdc.reassemble") {
        val s = sync.engine.reassemble(affected).cache()
        s.count()
        s
      }
      try {
        tr.span("index.commit") {
          val payload = structured.columns.filterNot(_ == DocAssembler.IdColumn).map(col).toIndexedSeq
          val flat = structured.select(col(DocAssembler.IdColumn), to_json(struct(payload: _*)).as("doc"))
          state.commit(affected, flat, Lineage.fromDocs(structured))
        }
        val txids = prepared.select(col("txid")).distinct().collect().map(_.getLong(0))
        if (txids.nonEmpty) {
          val wm = math.max(ck.fold(Long.MinValue)(_.watermark), txids.min - 1)
          state.saveCheckpoint(wm, (ck.fold(Set.empty[Long])(_.applied) ++ txids).filter(_ > wm))
        }
      } finally {
        structured.unpersist()
        affected.unpersist()
        prepared.unpersist()
      }
      (nRoots, nChanges)
    }

  /** Docs the latest commit rewrote: the rows of the current version's own
    * bucket files (untouched buckets are inherited from older versions).
    */
  private def rewrittenDocs(ctx: Ctx, dir: String, sync: GraftSync): Long =
    ctx.spark.read.parquet(s"$dir/v_${sync.state.currentVersion}/docs").count()

  def run(ctx: Ctx, tr: Tracer): Outcome = {
    val out = new Outcome
    val (src, genS) = timed(Source.flagship(ctx.spark, ctx.dir("src"), ctx.seed))
    def sync(dir: String) = GraftSync(ctx.spark, SchemaJson, catalog, src.load, ctx.dir(dir))
    // identical starting indexes: the last is the untraced loop's, the one
    // before it the traced replay's. A traced run takes every snapshot after
    // the first through the layer calls.
    val attr = new Attribution
    val syncs = (0 until SetupReps).map(r => sync(s"idx-$r"))
    val snaps = syncs.zipWithIndex.map {
      case (s, r) if ctx.trace && r > 0 =>
        Attribution.during(ctx.spark.sparkContext, attr)(secondsOf(tracedSnapshot(tr, s)))
      case (s, _) => secondsOf(s.snapshot())
    }
    out.e2e("snapshot_s") = snaps.last
    out.e2e("setup_s") = ctx.sessionS + genS + Stats.median(snaps)
    out.info("setup") = Map("session_s" -> ctx.sessionS, "datagen_s" -> genS, "snapshots_s" -> snaps)
    val main = syncs.last
    val spareDir = ctx.dir(s"idx-${SetupReps - 2}")
    val spare = syncs(SetupReps - 2)
    if (ctx.trace)
      out.check("traced_snapshot_equals_untraced")(digest(spare.state.docs) == digest(syncs.head.state.docs))

    val world = new Gen.OrdersWorld(ctx.seed)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ctx.dir("batches")))
    def batchFile(v: Int) = ctx.dir(s"batches/b-$v.json")
    def readBatch(v: Int) = ctx.spark.read.schema(Changes.schema).json(batchFile(v))

    val lat = mutable.ArrayBuffer.empty[Double]
    val probes = mutable.ArrayBuffer.empty[Double]
    var changes = 0L
    // a traced run replays every untraced batch, so it halves the window
    val n = closedLoop(if (ctx.trace) ctx.seconds / 2.0 else ctx.seconds.toDouble, minOps = 1) { i =>
      val v = i + 1
      val events = world.nextBatch()
      java.nio.file.Files.write(java.nio.file.Paths.get(batchFile(v)),
        events.map(_.json).mkString("", "\n", "\n").getBytes("UTF-8"))
      src.commit(v, world.overlay)
      main.state.vacuum()
      out.attempt(s"batch $v")(secondsOf(main.applyChanges(readBatch(v)))).foreach { t =>
        lat += t
        changes += events.size
      }
      probeDocs(ctx, Tracer.off(ctx.spark.sparkContext), out, main, i, probes)
    }
    out.e2e("heap_retained_mb") = heapRetainedMb()
    if (lat.nonEmpty) {
      out.e2e("op_p50_s") = Stats.median(lat.toSeq)
      out.e2e("items_per_s") = changes / lat.sum
    }
    if (probes.nonEmpty) out.e2e("probe_p50_s") = Stats.median(probes.toSeq)
    out.info("batches") = summary(lat.toSeq)
    out.info("batch_size") = world.BatchSize
    out.info("probes") = summary(probes.toSeq)
    out.check("cdc_equals_rebuild")(rebuildMatches(ctx, src, main))
    out.check("cdc_live_orders")(main.state.docs.count() == world.liveOrderCount)

    if (ctx.trace) {
      // replay the same batches against the same source versions
      val tlat = mutable.ArrayBuffer.empty[Double]
      val tprobes = mutable.ArrayBuffer.empty[Double]
      var roots = 0L
      var prepared = 0L
      var rewritten = 0L
      Attribution.during(ctx.spark.sparkContext, attr)((1 to n).foreach { v =>
        src.rewind(v)
        spare.state.vacuum()
        out.attempt(s"traced batch $v") {
          timed(tracedApply(tr, spare, readBatch(v)))
        }.foreach { case ((r, c), t) =>
          tlat += t
          roots += r
          prepared += c
          rewritten += rewrittenDocs(ctx, spareDir, spare)
        }
        probeDocs(ctx, tr, out, spare, v - 1, tprobes)
      })
      Layers.fromSpans(tr.spans, attr, out)
      out.check("traced_index_equals_untraced")(digest(spare.state.docs) == digest(main.state.docs))
      if (prepared > 0) out.layer("cdc.resolve.roots_per_change") = roots.toDouble / prepared
      if (roots > 0) out.layer("index.commit.rewrite_ratio") = rewritten.toDouble / roots
      if (tlat.nonEmpty && lat.nonEmpty)
        out.layer("trace.overhead_ratio") = Stats.median(tlat.toSeq) / Stats.median(lat.toSeq) - 1
      out.info("traced_batches") = summary(tlat.toSeq)
    }
    out
  }
}
