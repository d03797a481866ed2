package graft

import graft.Query.assembled
import graft.registry._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query contract — one [[Query]] per implemented operator from
  * SURVEY.md §2, each holding its run and its DuckDB oracle for the
  * correctness gate. The records live in `graft.registry`, one file per
  * operator family.
  */
object SparkEntry {

  /** Every registry query; building it fails on a duplicate name. */
  val registry: Seq[Query] = {
    val all = SyncQueries.all ++ RetrievalQueries.all ++ DedupQueries.all ++
      QualityQueries.all ++ MixingQueries.all
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    assembled(spark, "/root/testdata/sf0.001", Fixtures.flagship)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracle).toMap
}
