package graft.cdc

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Row-level change payloads.
  *
  * Reference: `pgsync/base.py:83-152` (`Payload(tg_op, schema, table, old,
  * new, xmin)`; `data` prefers `old` for DELETE at `base.py:117-122`). Event
  * types INSERT/UPDATE/DELETE/TRUNCATE (`pgsync/constants.py:61-72`);
  * unknown op raises (`pgsync/sync.py:1376-1379`).
  *
  * Spark shape: a DataFrame with columns
  *   `tg_op STRING, tbl STRING, old STRING(json), new STRING(json), txid LONG`
  * — the micro-batch rows of a Structured Streaming CDC feed.
  */
object Changes {

  val Insert = "INSERT"
  val Update = "UPDATE"
  val Delete = "DELETE"
  val Truncate = "TRUNCATE"

  val schema: StructType = StructType(
    Seq(
      StructField("tg_op", StringType),
      StructField("tbl", StringType),
      StructField("old", StringType),
      StructField("new", StringType),
      StructField("txid", LongType)
    )
  )

  /** Build a changes DataFrame from in-memory tuples (tests/fixtures). */
  def of(spark: SparkSession, rows: Seq[(String, String, String, String, Long)]): DataFrame = {
    val data = rows.map { case (op, t, o, n, tx) => Row(op, t, o, n, tx) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, math.max(1, math.min(rows.size, 4))),
      schema
    )
  }

  /** P8 schema filter: drop payloads for tables outside the tree
    * (`sync.py:622-623, 2040-2042`).
    */
  def schemaFilter(changes: DataFrame, tables: Set[String]): DataFrame =
    changes.filter(org.apache.spark.sql.functions.col("tbl").isin(tables.toSeq: _*))

  /** P9 changed-column guard: skip UPDATEs where no tracked column changed —
    * the trigger-side no-op suppression (`pgsync/trigger.py:58-71`).
    */
  def changedColumnGuard(changes: DataFrame, tracked: Map[String, Seq[String]]): DataFrame = {
    import org.apache.spark.sql.functions._
    val guards = tracked.collect {
      case (table, cols) if cols.nonEmpty =>
        col("tbl") === table && col("tg_op") === Update &&
          cols
            .map(c => get_json_object(col("old"), s"$$.$c") <=> get_json_object(col("new"), s"$$.$c"))
            .reduce(_ && _)
    }
    guards.reduceOption(_ || _) match {
      case Some(unchanged) => changes.filter(!unchanged)
      case None            => changes // nothing tracked ⇒ no-op
    }
  }

  /** File-shaped streaming change feed: JSON-lines files appearing in `dir`
    * (the test/replay stand-in for the reference's WAL slot / binlog /
    * NOTIFY sources, `pgsync/base.py:696-849`, `sync.py:653-827`; a Kafka
    * source drops in identically).
    */
  def fileStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(schema).json(dir)
}
