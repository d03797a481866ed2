package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark process: one workload, one seed, one mode.
  *
  * {{{
  * perfbench.Main --workload cdc_bulk|fanout_live --seed N
  *                --seconds S --trace 0|1 --work DIR
  * perfbench.Main --selftest
  * }}}
  *
  * Prints one `PERFBENCH_REPORT <json>` line on stdout; `run.py` turns it
  * into the benchmark's result line.
  */
object Main {

  val Workloads: Seq[String] = Seq("cdc_bulk", "fanout_live")
  val Cores = 4

  def main(args: Array[String]): Unit = {
    if (args.contains("--selftest")) {
      SelfTest.run()
      System.exit(0)
    }
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    require(seconds > 0, "--seconds must be positive")
    val trace = opt("trace") match {
      case "0" => false
      case "1" => true
      case o   => sys.error(s"--trace must be 0 or 1, not $o")
    }
    val work = opt("work")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, work, seed, seconds, trace, (System.currentTimeMillis() - jvmStartMs) / 1000.0)
    val tr = new Tracer(spark.sparkContext, trace)

    val out = workload match {
      case "cdc_bulk"    => CdcBulk.run(ctx, tr)
      case "fanout_live" => Fanout.run(ctx, tr)
    }
    Run.finish(ctx, out)

    val metrics =
      if (trace) Layers.PerLayer.map { case (n, u) => n -> (out.layer.getOrElse(n, 0.0), u) }
      else Layers.EndToEnd.flatMap { case (n, u) => out.e2e.get(n).map(v => n -> (v, u)) }
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "seed" -> seed,
      "seconds" -> seconds,
      "trace" -> trace,
      "correct" -> out.correct,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "error_rate" -> (if (out.attempted == 0) 1.0 else out.failed.toDouble / out.attempted),
      "checks" -> out.checks,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, (v, u)) =>
        n -> Map("value" -> v, "unit" -> u) }: _*),
      "end_to_end" -> out.e2e,
      "layer_effects" -> Layers.Effects,
      "info" -> out.info,
      "env" -> env(spark, workload, seed))
    println("PERFBENCH_REPORT " + Json.render(report))
    spark.stop()
    System.exit(0)
  }

  private def env(spark: SparkSession, workload: String, seed: Long): Map[String, Any] = Map(
    "master" -> spark.sparkContext.master,
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "available_processors" -> Runtime.getRuntime.availableProcessors(),
    "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
    "session_conf" -> spark.conf.getAll.filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" },
    "workload" -> workload,
    "seed" -> seed)
}
