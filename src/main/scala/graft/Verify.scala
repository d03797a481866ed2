package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each [[SparkEntry.registry]] query's result →
  * parquet, plus oracle_sql.json, for `tools/compare.py`'s DuckDB compare. A query that
  * throws does not stop the dump: the remaining queries still run and
  * oracle_sql.json is still written, then the run lists every failed query
  * with its exception class and exits 1.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [queryName...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing names restrict the run (local iteration); the
    // driver's two-arg invocation still dumps every query
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = Seq.newBuilder[(String, String)]
    SparkEntry.registry.foreach { case Query(name, run, _) =>
      if (only.nonEmpty && !only.contains(name)) ()
      else {
        // dedup plans carry eager localCheckpoint blocks that clearCache/GC
        // won't release promptly; every registry row runs in one session, so
        // they add up — release them even when the write fails
        var df: org.apache.spark.sql.DataFrame = null
        try {
          df = run(spark, sfDir)
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          failed += name -> e.getClass.getName
        } finally {
          if (df != null)
            try org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(df)
            catch { case _: Throwable => () }
        }
      }
    }
    Files.writeString(
      Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.registry.map(q => q.name -> q.oracle)))
    spark.stop()
    val failures = failed.result()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} queries failed:")
      failures.foreach { case (name, cls) => System.err.println(s"[verify]   $name: $cls") }
      sys.exit(1)
    }
  }

  /** `name → oracle SQL` as one JSON object. */
  private[graft] def oracleJson(oracles: Seq[(String, String)]): String =
    oracles.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")

  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (< 0x20) — a tab or CR in an oracle would otherwise make the
    * compare's `json.load` fail.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
