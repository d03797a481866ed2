package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one benchmark process was asked to do. */
final case class Ctx(
    spark: SparkSession,
    work: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    sessionS: Double) {
  def dir(name: String): String = s"$work/$name"
}

/** Everything a workload reports: op accounting, correctness checks,
  * end-to-end and per-layer metrics, and descriptive detail.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]

  /** Run one op. A throw counts it failed and yields None, so a failed op
    * is never timed as a success.
    */
  def attempt[T](what: String)(body: => T): Option[T] = {
    synchronized(attempted += 1)
    try Some(body)
    catch {
      case NonFatal(e) =>
        synchronized(failed += 1)
        System.err.println(s"perfbench: $what failed: $e")
        None
    }
  }

  def check(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: check $name threw: $e")
        false
    }
    if (!r) System.err.println(s"perfbench: check $name FAILED")
    checks(name) = r
  }

  def correct: Boolean = checks.nonEmpty && checks.values.forall(identity)
}

object Run {

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def secondsOf(body: => Any): Double = timed(body)._2

  val ProbesPerOp = 2

  /** Closed loop: run `op(i)` until `seconds` have passed and at least
    * `minOps` ops ran; returns the number of ops.
    */
  def closedLoop(seconds: Double, minOps: Int)(op: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < seconds) { op(i); i += 1 }
    i
  }

  /** (count, xor, sum mod p) of per-row hashes: equal sets of
    * (`_id`, `doc`) rows give equal digests regardless of order.
    */
  def digest(docs: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(col("_id"), col("doc"))
    val r = docs.select(h.as("h"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(pmod(col("h"), lit(2147483647L))))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def deleteDir(path: String): Unit = graft.util.TempDirs.delete(Paths.get(path))

  /** Used heap after full collections, in MB: the least of three, so
    * objects freed by Spark's asynchronous cleaner between them count as
    * released.
    */
  def heapRetainedMb(): Double =
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  def peakRssMb: Double =
    try
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
        .getOrElse(0.0)
    catch { case NonFatal(_) => 0.0 }

  /** Directories left in the JVM temp dir and the Spark local dir. */
  def scratchDirs(ctx: Ctx): Long =
    Seq(System.getProperty("java.io.tmpdir"), ctx.spark.conf.get("spark.local.dir", ""))
      .filter(_.nonEmpty).map(Paths.get(_)).filter(Files.isDirectory(_))
      .map { d =>
        val listing = Files.list(d)
        try listing.iterator().asScala.count(Files.isDirectory(_)).toLong finally listing.close()
      }.sum

  /** End-of-workload counters every run records. */
  def finish(ctx: Ctx, out: Outcome): Unit = {
    out.layer("jvm.gc_s") = gcSeconds
    out.layer("jvm.peak_rss_mb") = peakRssMb
    out.layer("leak.persistent_rdds") = ctx.spark.sparkContext.getPersistentRDDs.size.toDouble
    out.layer("leak.scratch_dirs") = scratchDirs(ctx).toDouble
  }

  /** Latency summary for the report: n, median, tail percentile. */
  def summary(xs: Seq[Double]): Map[String, Any] =
    if (xs.isEmpty) Map("n" -> 0)
    else Map(
      "n" -> xs.size,
      "p50" -> Stats.median(xs),
      "max" -> xs.max,
      "tail" -> Stats.tail(xs).map { case (p, v) => Map("percentile" -> p, "value" -> v) })
}
