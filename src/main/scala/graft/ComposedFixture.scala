package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared construction of the composed-pipeline scenario's source table and
  * change batch, used by the composed registry queries
  * ([[graft.registry.SyncQueries]]).
  *
  * `media` is documents ⋈ embeddings (one row per document that has an
  * embedding); the post-change state deletes `doc_id % 10 == 7`, prefixes
  * "updated " to `% 10 == 8` texts, and clones `% 10 == 9` docs at +[[Off]].
  * [[changeBatch]] renders that mutation as the raw CDC batch
  * (tg_op/tbl/old/new/txid rows, [[graft.cdc.Changes]] shape) the pipeline
  * consumes — the reference's event stream over one logical table
  * (`/root/reference/pgsync/sync.py:1556-1579` doc-op construction).
  */
private[graft] object ComposedFixture {

  val Off = 100000000L

  def media(base: String => DataFrame, post: Boolean): DataFrame = {
    val pre = base("documents")
      .join(base("embeddings"), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
    if (!post) pre
    else {
      val m = pmod(col("doc_id"), lit(10))
      pre
        .filter(m =!= 7)
        .withColumn(
          "text",
          when(m === 8, concat(lit("updated "), col("text"))).otherwise(col("text")))
        .unionByName(
          pre.filter(m === 9).select(
            (col("doc_id") + Off).as("doc_id"),
            concat(lit("clone "), col("text")).as("text"),
            col("embedding")))
    }
  }

  /** The mixed DELETE/UPDATE/INSERT batch carrying the pre→post mutation,
    * derived from the PRE frame — so it is the same batch whatever state
    * the scenario's source-table flag is in.
    */
  def changeBatch(pre: DataFrame): DataFrame = {
    val m = pmod(col("doc_id"), lit(10))
    val pkj = to_json(struct(col("doc_id")))
    val noStr = lit(null).cast("string")
    pre
      .filter(m === 7)
      .select(lit("DELETE").as("tg_op"), lit("media").as("tbl"),
        pkj.as("old"), noStr.as("new"), col("doc_id").as("txid"))
      .unionByName(pre.filter(m === 8).select(
        lit("UPDATE").as("tg_op"), lit("media").as("tbl"),
        pkj.as("old"), pkj.as("new"), col("doc_id").as("txid")))
      .unionByName(pre.filter(m === 9).select(
        lit("INSERT").as("tg_op"), lit("media").as("tbl"), noStr.as("old"),
        to_json(struct((col("doc_id") + Off).as("doc_id"))).as("new"),
        (col("doc_id") + Off).as("txid")))
  }
}
