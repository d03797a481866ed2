package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSync
import graft.ann.Ann
import graft.assemble.DocAssembler
import graft.catalog.{Catalog, TableMeta}
import graft.cdc.Changes
import graft.functions.Retrieval
import graft.schema.SchemaDef
import graft.sources.IndexState
import graft.streaming.SyncPipeline
import org.apache.spark.sql.functions._

import Run._

/** `fanout_live`: an open loop over `SyncPipeline.start` with the doc, BM25
  * and LSH surfaces on the 2 000-document media corpus. A generator thread
  * writes one change file every [[TickMs]], committing the source
  * post-state before the file appears; readers issue BM25 top-10, LSH
  * top-10 and doc-by-id probes every [[ProbeMs]], in rotation. An
  * event's lag runs from its file's appearance to the end of the
  * micro-batch that commits it on the last of the three surfaces.
  */
object Fanout {

  val TickMs = 1000L
  val ProbeMs = 3000L
  /** Probes in flight at most; a later one waits for a free reader. One
    * reader keeps the contention the probes add, and so the run-to-run
    * spread of the lag, low.
    */
  val ProbeThreads = 1
  /** Rounds of (BM25, LSH, doc) probes once the feed has drained. */
  val QuietRounds = 3
  val TimeoutMs = 60000L

  val SchemaJson =
    """{"database":"graft","index":"media","nodes":{"table":"media","columns":["doc_id","text"]}}"""
  val catalog: Catalog = Catalog(Map("media" -> TableMeta("media", Seq("doc_id"))))

  /** Consumer name in the pipeline (and checkpoint subdirectory) per surface. */
  private val CheckpointName = Map("docs" -> "docs", "bm25" -> "bm25", "ann" -> "ann_lsh")

  private final class Pipe(ctx: Ctx, src: Source, root: String) {
    val bm25 = s"$root/bm25"
    val ann = s"$root/ann"
    val ckpt = s"$root/ckpt"
    val sync = new GraftSync(ctx.spark, SchemaDef.parse(SchemaJson), catalog, src.load, s"$root/docs")
    val pipeline = new SyncPipeline(sync, src.load, "media", "doc_id", Seq(
      SyncPipeline.Bm25Consumer(bm25, "text", buckets = 16),
      SyncPipeline.AnnLshConsumer(ann, "embedding", planes = 6, dim = 64)), ckpt)
  }

  /** File name → source-log batch id, from a query's file-source log
    * (plain per-batch files and the periodic `.compact` files).
    */
  private def sourceLog(ckpt: String): Map[String, Long] = {
    val dir = Paths.get(s"$ckpt/sources/0")
    if (!Files.isDirectory(dir)) return Map.empty
    val PathRe = "\"path\":\"([^\"]+)\"".r
    val BatchRe = "\"batchId\":(\\d+)".r
    val listing = Files.list(dir)
    val files = try listing.iterator().asScala.toList finally listing.close()
    val entries = for {
      f <- files
      if f.getFileName.toString.matches("\\d+(\\.compact)?")
      line <- scala.util.Try(Files.readAllLines(f).asScala.toSeq).getOrElse(Nil)
      p <- PathRe.findFirstMatchIn(line)
      b <- BatchRe.findFirstMatchIn(line)
    } yield p.group(1).split('/').last -> b.group(1).toLong
    entries.groupMapReduce(_._1)(_._2)(math.min)
  }

  private final case class Written(name: String, ms: Long, events: Int)

  def run(ctx: Ctx, tr: Tracer): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    import spark.implicits._
    val (src, genS) = timed(Source.media(spark, ctx.dir("src"), ctx.seed))
    // seeded once: a pipeline seed plus stream start-up costs about as much
    // as the whole live window, so set-up is not repeated here
    val pipe = new Pipe(ctx, src, ctx.dir("pipe"))
    val seedS = secondsOf(pipe.pipeline.seed())

    val progress = new Progress
    spark.streams.addListener(progress)
    val feed = ctx.dir("feed")
    val staging = ctx.dir("feed-staging")
    Seq(feed, staging).foreach(d => Files.createDirectories(Paths.get(d)))
    val handles = pipe.pipeline.start(() => spark.readStream.schema(Changes.schema).json(feed))
    val queries = Map("docs" -> handles.doc, "bm25" -> handles.consumers("bm25"),
      "ann" -> handles.consumers("ann_lsh"))
    val queryIds = queries.map { case (s, q) => s -> q.id.toString }

    val world = new Gen.MediaWorld(ctx.seed)
    var tick = 0
    def writeTick(): Written = {
      tick += 1
      val events = world.nextTick()
      src.commit(tick, world.overlay)
      val name = f"tick-$tick%06d.json"
      val tmp = Paths.get(s"$staging/$name")
      Files.write(tmp, events.map(_.json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, Paths.get(s"$feed/$name"), StandardCopyOption.ATOMIC_MOVE)
      Written(name, System.currentTimeMillis(), events.size)
    }

    /** Commit time per file on the last surface, for files every surface
      * has committed.
      */
    def commitTimes(): Map[String, Long] = {
      val all = progress.all
      val perSurface = Layers.Surfaces.map { s =>
        val bs = all.filter(_.queryId == queryIds(s)).sortBy(_.batchId)
        sourceLog(s"${pipe.ckpt}/${CheckpointName(s)}").flatMap { case (name, b) =>
          bs.find(_.endOffset >= b).map(x => name -> x.endMs)
        }
      }
      perSurface.head.keySet.filter(n => perSurface.forall(_.contains(n)))
        .map(n => n -> perSurface.map(_(n)).max).toMap
    }

    def awaitCommitted(names: Seq[String]): Option[Map[String, Long]] = {
      val deadline = System.currentTimeMillis() + TimeoutMs
      var done: Option[Map[String, Long]] = None
      while (done.isEmpty && System.currentTimeMillis() < deadline &&
          queries.values.forall(_.isActive)) {
        val ct = commitTimes()
        if (names.forall(ct.contains)) done = Some(ct) else Thread.sleep(20)
      }
      done
    }

    // first file through every surface: stream start-up is set-up
    val (warmOk, warmS) = timed(awaitCommitted(Seq(writeTick().name)).isDefined)
    out.check("warmup_committed")(warmOk)
    out.e2e("snapshot_s") = seedS
    out.e2e("setup_s") = ctx.sessionS + genS + seedS + warmS
    out.info("setup") = Map("session_s" -> ctx.sessionS, "datagen_s" -> genS,
      "pipeline_seed_s" -> seedS, "stream_warmup_s" -> warmS)

    val probeText = (id: Long) => Gen.text(ctx.seed, id, 0).split(' ').take(4).mkString(" ")
    def probe(t: Tracer, j: Int): Unit = {
      val id = 1 + Gen.pick(ctx.seed, 21, j, 0, Gen.ProbeDocs)
      j % 3 match {
        case 0 => t.span("probe.bm25") {
          Retrieval.bm25TopKIndexedPrunedBatch(
            pipe.bm25, Seq((j.toLong, probeText(id))).toDF("qid", "qtext"), "qid", "qtext", 10).collect()
        }
        case 1 => t.span("probe.ann") {
          Ann.lshTopKIndexed(pipe.ann, Seq((j.toLong, Gen.vec(ctx.seed, id, 0))).toDF("qid", "embedding"),
            "qid", "embedding", 10, planes = 6, dim = 64).collect()
        }
        case _ => t.span("probe.doc") {
          val n = pipe.sync.state.docs.filter(col("_id") === id.toString).collect().length
          require(n == 1, s"doc $id: $n rows")
        }
      }
      ()
    }

    final case class Phase(lags: Seq[Double], probes: Seq[(Int, Double)], drainS: Double, events: Long,
        spanS: Double, maxLateMs: Long, committed: Boolean, startMs: Long)

    /** One live window: the generator writes for `seconds`; probes are
      * issued until every surface has committed every file.
      */
    def phase(seconds: Double, t: Tracer): Phase = {
      val t0 = System.currentTimeMillis() + 50
      val end = t0 + (seconds * 1000).toLong
      val written = mutable.ArrayBuffer.empty[Written]
      val probes = mutable.ArrayBuffer.empty[(Int, Double)]
      var maxLate = 0L
      def sleepUntil(ms: Long): Unit = {
        val d = ms - System.currentTimeMillis()
        if (d > 0) Thread.sleep(d)
      }
      val generator = new Thread(() => {
        var i = 0
        while (t0 + i * TickMs < end) {
          val due = t0 + i * TickMs
          sleepUntil(due)
          val w = writeTick()
          maxLate = math.max(maxLate, w.ms - due)
          written += w
          i += 1
        }
      }, "perfbench-generator")
      // Probes are independent readers: each is issued when due, whether or
      // not earlier ones have finished, and timed on the monotonic clock
      // from when it was due.
      val t0Ns = System.nanoTime() + (t0 - System.currentTimeMillis()) * 1000000L
      @volatile var drained = false
      val readers = java.util.concurrent.Executors.newFixedThreadPool(ProbeThreads)
      val scheduler = new Thread(() => {
        var j = 0
        while (!drained) {
          val dueNs = t0Ns + j * ProbeMs * 1000000L
          val wait = dueNs - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          if (!drained) {
            val k = j
            readers.execute { () =>
              out.attempt(s"probe $k") {
                probe(t, k)
                (System.nanoTime() - dueNs) / 1e9
              }.foreach(l => probes.synchronized(probes += (k % 3 -> l)))
            }
          }
          j += 1
        }
      }, "perfbench-prober")
      generator.start(); scheduler.start()
      generator.join()
      val committed = awaitCommitted(written.map(_.name).toSeq)
      drained = true
      scheduler.join()
      readers.shutdown()
      readers.awaitTermination(TimeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      val ct = committed.getOrElse(commitTimes())
      val lags = written.toSeq.flatMap { w =>
        ct.get(w.name).toSeq.flatMap(c => Seq.fill(w.events)((c - w.ms) / 1000.0))
      }
      val lastCommit = written.flatMap(w => ct.get(w.name)).maxOption.getOrElse(end)
      val lastWrite = written.map(_.ms).maxOption.getOrElse(end)
      Phase(lags, probes.synchronized(probes.toSeq), (lastCommit - lastWrite) / 1000.0,
        written.map(_.events.toLong).sum, (lastCommit - t0) / 1000.0, maxLate, committed.isDefined, t0)
    }

    val seconds = if (ctx.trace) ctx.seconds / 2.0 else ctx.seconds.toDouble
    val live = phase(seconds, Tracer.off(spark.sparkContext))
    out.check("all_events_committed")(live.committed)
    if (live.lags.nonEmpty) out.e2e("op_p50_s") = Stats.median(live.lags)
    if (live.spanS > 0) out.e2e("items_per_s") = live.events / live.spanS
    // Probes beside the writes swing with how they overlap the micro-batches,
    // so the reported probe latency is taken once the feed has drained,
    // against the surfaces the writes left behind (tombstones included).
    // The three kinds differ several-fold in cost, so a pooled median would
    // flip between kinds from run to run: report the geometric mean of the
    // per-kind medians.
    val quiet = (0 until 3 * QuietRounds).flatMap { j =>
      out.attempt(s"drained probe $j")(j % 3 -> secondsOf(probe(Tracer.off(spark.sparkContext), j)))
    }
    val kinds = quiet.groupMap(_._1)(_._2).values.map(Stats.median).toSeq
    if (kinds.size == 3) out.e2e("probe_p50_s") = math.exp(kinds.map(math.log).sum / kinds.size)
    out.info("offered") = Map("tick_ms" -> TickMs, "events_per_tick" -> world.EventsPerTick,
      "events_per_s" -> world.EventsPerTick * 1000.0 / TickMs, "probe_ms" -> ProbeMs,
      "generator_max_late_ms" -> live.maxLateMs)
    out.info("lag") = summary(live.lags)
    out.info("drain_s") = live.drainS
    def byKind(ps: Seq[(Int, Double)]) =
      ps.groupMap(_._1)(_._2).map { case (k, xs) => Seq("bm25", "ann", "doc")(k) -> summary(xs) }
    out.info("probes_beside_writes") = byKind(live.probes)
    out.info("probes_drained") = byKind(quiet)

    if (ctx.trace) {
      val attr = new Attribution
      val traced = Attribution.during(spark.sparkContext, attr)(phase(seconds, tr))
      out.check("traced_events_committed")(traced.committed)
      Layers.fromSpans(tr.spans, attr, out)
      val tracedBatches = progress.all.filter(_.startMs >= traced.startMs)
      Layers.fromStreams(
        queryIds.map { case (s, id) => s -> tracedBatches.filter(_.queryId == id) },
        queryIds, attr, out)
      if (traced.lags.nonEmpty && live.lags.nonEmpty)
        out.layer("trace.overhead_ratio") = Stats.median(traced.lags) / Stats.median(live.lags) - 1
      out.info("traced_lag") = summary(traced.lags)
      out.info("traced_drain_s") = traced.drainS
    }

    handles.stopAll()
    out.e2e("heap_retained_mb") = heapRetainedMb()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(progress)
    val batches = progress.all
    out.attempted += batches.size
    out.failed += queries.values.count(_.exception.isDefined)
    out.info("micro_batches") = Layers.Surfaces.map { s =>
      val bs = batches.filter(_.queryId == queryIds(s))
      s -> Map("n" -> bs.size, "max_rows" -> bs.map(_.rows).maxOption.getOrElse(0L))
    }.toMap
    out.layer("probe.bm25.tombstones") = IndexState.tombstoneCount(spark, pipe.bm25).toDouble

    val corpus = src.load("media").select(col("doc_id")).as[Long].collect().toSet
    def liveIds(path: String, idCol: String): Set[Long] = {
      val data = IndexState.dataPath(spark, path)
      IndexState.visibleAt(spark.read.parquet(data), data, idCol)
        .select(col(idCol).cast("long")).distinct().as[Long].collect().toSet
    }
    out.check("docs_equal_rebuild") {
      digest(pipe.sync.state.docs) ==
        digest(DocAssembler.assembleJson(SchemaDef.parse(SchemaJson).root, src.load, catalog))
    }
    out.check("bm25_ids_equal_corpus")(liveIds(pipe.bm25, "id") == corpus)
    out.check("ann_ids_equal_corpus")(liveIds(pipe.ann, "neighbor_id") == corpus)
    out
  }
}
