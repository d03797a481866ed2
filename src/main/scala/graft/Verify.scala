package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for `tools/compare.py`'s DuckDB compare. A query that
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
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.nonEmpty && !only.contains(name)) ()
      else {
        // dedup plans carry eager localCheckpoint blocks that clearCache/GC
        // won't release promptly; every registry row runs in one session, so
        // they add up — release them even when the write fails
        var df: org.apache.spark.sql.DataFrame = null
        try {
          df = fn(spark, sfDir)
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
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    val failures = failed.result()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} queries failed:")
      failures.foreach { case (name, cls) => System.err.println(s"[verify]   $name: $cls") }
      sys.exit(1)
    }
  }
}
