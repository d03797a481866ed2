package perfbench

/** Names, units and expected effects of every reported metric. */
object Layers {

  /** End-to-end metrics, reported by every workload untraced. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "snapshot_s" -> "s",
    "op_p50_s" -> "s",
    "items_per_s" -> "1/s",
    "probe_p50_s" -> "s",
    "heap_retained_mb" -> "MB")

  /** Spans recorded around public calls, named after the engine modules:
    * graft.assemble, graft.sinks, graft.cdc, graft.streaming,
    * graft.functions / graft.ann.
    */
  val Spans: Seq[String] = Seq(
    "assemble", "index.initialize", "index.commit", "cdc.resolve", "cdc.reassemble",
    "stream.docs", "stream.bm25", "stream.ann", "probe.bm25", "probe.ann", "probe.doc")

  val SpanFields: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "jobs" -> "count", "tasks" -> "count", "driver_s" -> "s",
    "executor_s" -> "s", "shuffle_bytes" -> "bytes", "scan_bytes" -> "bytes",
    "write_bytes" -> "bytes", "spill_bytes" -> "bytes")

  /** The streaming surfaces and their consumer names in the pipeline. */
  val Surfaces: Seq[String] = Seq("docs", "bm25", "ann")

  val PerLayer: Seq[(String, String)] =
    Spans.flatMap(s => SpanFields.map { case (f, u) => s"$s.$f" -> u }) ++ Seq(
      "op.snapshot.wall_s" -> "s",
      "op.snapshot.self_s" -> "s",
      "op.cdc_batch.wall_s" -> "s",
      "op.cdc_batch.self_s" -> "s",
      "cdc.resolve.roots_per_change" -> "ratio",
      "index.commit.rewrite_ratio" -> "ratio") ++
      Surfaces.flatMap(s => Seq(s"stream.$s.overhead_s" -> "s", s"stream.$s.batches" -> "count")) ++
      Seq(
        "probe.bm25.tombstones" -> "count",
        "jvm.gc_s" -> "s",
        "jvm.peak_rss_mb" -> "MB",
        "leak.persistent_rdds" -> "count",
        "leak.scratch_dirs" -> "count",
        "trace.overhead_ratio" -> "ratio")

  /** Which end-to-end metric each layer's metrics should move, on which
    * workload, and where the prediction is no change.
    */
  val Effects: Seq[Map[String, String]] = Seq(
    effect("assemble.*, index.initialize.*, op.snapshot.self_s",
      "snapshot_s, setup_s (and a little of cdc_bulk op_p50_s through reassembly)",
      "cdc_bulk; fanout_live snapshot_s through the pipeline seed",
      "fanout_live op_p50_s and probe_p50_s"),
    effect("cdc.resolve.*, cdc.reassemble.*",
      "op_p50_s, items_per_s; fanout_live op_p50_s through stream.docs",
      "cdc_bulk", "snapshot_s"),
    effect("index.commit.*, index.commit.rewrite_ratio, op.cdc_batch.self_s", "op_p50_s, items_per_s",
      "cdc_bulk", "snapshot_s"),
    effect("stream.*.jobs, stream.*.driver_s, stream.*.overhead_s, stream.*.batches",
      "op_p50_s (event lag), drain time", "fanout_live", "cdc_bulk"),
    effect("probe.bm25.*, probe.ann.*, probe.bm25.tombstones", "probe_p50_s", "fanout_live",
      "cdc_bulk"),
    effect("probe.doc.*", "probe_p50_s", "cdc_bulk, fanout_live", "snapshot_s, op_p50_s"),
    effect("jvm.*, leak.*", "heap_retained_mb, tail latencies", "all", "none"))

  private def effect(layer: String, moves: String, where: String, noChange: String) =
    Map("layer" -> layer, "moves" -> moves, "workload" -> where, "no_change" -> noChange)

  /** Fold the spans and their attributed Spark work into per-layer
    * metrics. `spans` are the batch-side spans; stream spans come from
    * `batches` (micro-batch intervals per query) and the work attributed
    * to each query id.
    */
  def fromSpans(
      spans: Seq[Tracer.Span],
      attr: Attribution,
      out: Outcome): Unit = {
    val byName = spans.groupBy(_.name)
    Spans.filterNot(_.startsWith("stream.")).foreach { name =>
      val inst = byName.getOrElse(name, Nil)
      val work = inst.flatMap(s => attr.of(s"span:${s.id}").map(s -> _))
      out.layer(s"$name.wall_s") = inst.map(_.wallS).sum
      out.layer(s"$name.driver_s") = inst.map { s =>
        val busy = attr.of(s"span:${s.id}")
          .map(w => Stats.covered(w.taskIntervals, s.startMs, s.endMs)).getOrElse(0L)
        math.max(0.0, s.wallS - busy / 1000.0)
      }.sum
      addWork(name, work.map(_._2), out)
    }
    Seq("op.snapshot", "op.cdc_batch").foreach { name =>
      val inst = byName.getOrElse(name, Nil)
      out.layer(s"$name.wall_s") = inst.map(_.wallS).sum
      out.layer(s"$name.self_s") = inst.map { s =>
        val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
        Stats.selfTime((s.startNs, s.endNs), kids) / 1e9
      }.sum
    }
  }

  /** Stream-surface metrics from the micro-batches each query committed
    * while tracing was on.
    */
  def fromStreams(
      batches: Map[String, Seq[Progress.Batch]],
      queryIds: Map[String, String],
      attr: Attribution,
      out: Outcome): Unit =
    Surfaces.foreach { s =>
      val bs = batches.getOrElse(s, Nil)
      val work = queryIds.get(s).flatMap(id => attr.of(s"query:$id"))
      out.layer(s"stream.$s.wall_s") = bs.map(_.triggerMs).sum / 1000.0
      out.layer(s"stream.$s.driver_s") = bs.map { b =>
        val busy = work.map(w => Stats.covered(w.taskIntervals, b.startMs, b.endMs)).getOrElse(0L)
        math.max(0L, b.triggerMs - busy) / 1000.0
      }.sum
      out.layer(s"stream.$s.overhead_s") = bs.map(b => math.max(0L, b.triggerMs - b.addBatchMs)).sum / 1000.0
      out.layer(s"stream.$s.batches") = bs.size.toDouble
      addWork(s"stream.$s", work.toSeq, out)
    }

  private def addWork(name: String, ws: Seq[Attribution.Work], out: Outcome): Unit = {
    out.layer(s"$name.jobs") = ws.map(_.jobs).sum.toDouble
    out.layer(s"$name.tasks") = ws.map(_.tasks).sum.toDouble
    out.layer(s"$name.executor_s") = ws.map(_.executorMs).sum / 1000.0
    out.layer(s"$name.shuffle_bytes") = ws.map(_.shuffleBytes).sum.toDouble
    out.layer(s"$name.scan_bytes") = ws.map(_.scanBytes).sum.toDouble
    out.layer(s"$name.write_bytes") = ws.map(_.writeBytes).sum.toDouble
    out.layer(s"$name.spill_bytes") = ws.map(_.spillBytes).sum.toDouble
  }
}
