package graft.cdc

import graft.assemble.DocAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lineage side-table: (root `_id`, contributing table, pk column, pk value).
  *
  * The reference resolves "which root documents does this child change
  * affect?" by querying the search index's `_meta` field with terms queries
  * (`pgsync/sync.py:835-1052`, chunked to `max_terms_count` 65 536 at
  * `sync.py:855-870`). At Spark scale that sink round-trip becomes the
  * bottleneck, so we keep the same information as a queryable side table —
  * resolution is then one distributed hash join instead of chunked search
  * queries, with no 65 536-value cap.
  *
  * The table is derivable from the documents themselves (explode `_meta`),
  * so it needs no extra bookkeeping in the assembler and can be rebuilt or
  * incrementally maintained alongside doc writes.
  */
object Lineage {

  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.types._

  val schema: StructType = StructType(
    Seq(
      StructField("root_id", StringType),
      StructField("tbl", StringType),
      StructField("pk", StringType),
      StructField("value", StringType)
    )
  )

  /** Empty lineage — for root-only change feeds or fresh indexes. Built as
    * an empty LocalRelation (not an empty RDD) so Catalyst's
    * `PropagateEmptyRelation` statically collapses every join against it and
    * prunes the whole resolution branch from the plan.
    */
  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  /** Explode assembled docs' `_meta` into lineage rows. */
  def fromDocs(docs: DataFrame): DataFrame =
    docs
      .select(col(DocAssembler.IdColumn).as("root_id"), explode(col(DocAssembler.MetaColumn)))
      .select(col("root_id"), col("key").as("tbl"), explode(col("value")))
      .select(col("root_id"), col("tbl"), col("key").as("pk"), explode(col("value")).as("value"))

  /** [[fromDocs]] over (`_id`, `metaJsonCol` = to_json(`_meta`)) rows — the
    * snapshot's write-once path derives lineage from the just-written doc
    * buckets instead of a corpus-sized persist of the struct frame (the
    * bucket files carry `_meta` as its OWN serialized column, so this pass
    * reads and parses only the small meta strings — the corpus-sized doc
    * JSON column is columnar-pruned away entirely). Lossless: `_meta` is
    * `map<string, map<string, array<string>>>` (all-string leaves,
    * [[graft.expr.SquashMeta.dataType]]), so the to_json → from_json round
    * trip reproduces the struct-side values exactly; `metaType` is passed
    * from the assembled schema so the two derivations can never drift. A
    * null meta string (null `_meta` map) contributes no rows, same as a
    * null struct column under [[fromDocs]].
    */
  def fromMetaJson(
      docs: DataFrame,
      metaJsonCol: String,
      metaType: org.apache.spark.sql.types.DataType
  ): DataFrame =
    fromDocs(docs.select(
      col(DocAssembler.IdColumn),
      from_json(col(metaJsonCol), metaType).as(DocAssembler.MetaColumn)))
}
