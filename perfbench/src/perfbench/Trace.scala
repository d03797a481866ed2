package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans recorded from benchmark code around each public call into a
  * layer. A span sets the Spark job group of its thread, so every job,
  * stage and task it starts — including those on threads it spawns, which
  * inherit the group — is attributed to it by [[Attribution]]. Jobs of a
  * streaming query are attributed by the query id instead.
  *
  * When tracing is off, [[span]] only runs its body.
  */
final class Tracer(sc: SparkContext, val on: Boolean) {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val finished = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      val prevGroup = sc.getLocalProperty(JobGroupKey)
      val prevDesc = sc.getLocalProperty(JobDescKey)
      sc.setJobGroup(GroupPrefix + id, name)
      stack.set(id :: stack.get)
      val n0 = System.nanoTime()
      val m0 = System.currentTimeMillis()
      try body
      finally {
        val n1 = System.nanoTime()
        val m1 = System.currentTimeMillis()
        stack.set(stack.get.tail)
        sc.setLocalProperty(JobGroupKey, prevGroup)
        sc.setLocalProperty(JobDescKey, prevDesc)
        finished.add(Span(id, name, parent, n0, n1, m0, m1))
      }
    }

  def spans: Seq[Span] = finished.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  val JobGroupKey = "spark.jobGroup.id"
  val JobDescKey = "spark.job.description"
  val QueryIdKey = "sql.streaming.queryId"
  val GroupPrefix = "perfbench-span-"

  def off(sc: SparkContext): Tracer = new Tracer(sc, on = false)

  final case class Span(id: Long, name: String, parent: Long, startNs: Long, endNs: Long,
      startMs: Long, endMs: Long) {
    def wallS: Double = (endNs - startNs) / 1e9
  }
}

/** Per-owner Spark work: jobs, tasks and task metrics, for owners keyed
  * `span:<id>` (benchmark spans) or `query:<uuid>` (streaming queries).
  */
final class Attribution extends SparkListener {
  import Attribution.Work

  private val work = mutable.HashMap.empty[String, Work]
  private val stageOwner = mutable.HashMap.empty[Int, String]

  private def ownerOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap { p =>
      Option(p.getProperty(Tracer.JobGroupKey)).filter(_.startsWith(Tracer.GroupPrefix))
        .map(g => "span:" + g.stripPrefix(Tracer.GroupPrefix))
        .orElse(Option(p.getProperty(Tracer.QueryIdKey)).map("query:" + _))
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    ownerOf(e.properties).foreach { o =>
      work.getOrElseUpdate(o, new Work).jobs += 1
      e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, o))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { o =>
      val w = work.getOrElseUpdate(o, new Work)
      w.tasks += 1
      w.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        w.executorMs += m.executorRunTime
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        w.scanBytes += m.inputMetrics.bytesRead
        w.writeBytes += m.outputMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def of(owner: String): Option[Work] = synchronized(work.get(owner))
}

object Attribution {

  /** Run `body` with `a` registered. The listener bus is drained before
    * `a` is removed, so every task of the body is counted.
    */
  def during[T](sc: SparkContext, a: Attribution)(body: => T): T = {
    sc.addSparkListener(a)
    try body
    finally {
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(a)
    }
  }

  final class Work {
    var jobs = 0L
    var tasks = 0L
    var executorMs = 0L
    var shuffleBytes = 0L
    var scanBytes = 0L
    var writeBytes = 0L
    var spillBytes = 0L
    val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
}

/** Streaming progress per query: the micro-batch intervals and the file
  * source offsets each batch committed. Used untraced too — event lag is
  * an end-to-end metric.
  */
final class Progress extends StreamingQueryListener {
  import StreamingQueryListener._
  import Progress.Batch

  private val batches = new ConcurrentLinkedQueue[Batch]()
  private val LogOffset = "\"logOffset\"\\s*:\\s*(\\d+)".r

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(o => LogOffset.findFirstMatchIn(o)).map(_.group(1).toLong).getOrElse(-1L)
    def dur(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    if (p.numInputRows > 0)
      batches.add(Batch(p.id.toString, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        dur("triggerExecution"), dur("addBatch"), end, p.numInputRows))
  }

  def all: Seq[Batch] = batches.asScala.toSeq
}

object Progress {
  final case class Batch(queryId: String, batchId: Long, startMs: Long, triggerMs: Long,
      addBatchMs: Long, endOffset: Long, rows: Long) {
    def endMs: Long = startMs + triggerMs
  }
}
