package graft.assemble

import graft.SparkSpec
import graft.catalog.Catalog
import org.apache.spark.sql.functions._

class SaltingSpec extends SparkSpec {
  import spark.implicits._

  test("salted collect_list merges to the same multiset as unsalted") {
    val df = (1 to 1000).map(i => (i % 3L, i.toLong)).toDF("k", "v").repartition(8)
    val salted = Salting
      .saltedCollectList(df, Seq("k"), col("v"), "vs", salts = 4)
      .select(col("k"), sort_array(col("vs")).as("vs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val plain = df.groupBy("k").agg(sort_array(collect_list(col("v"))).as("vs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(salted == plain)
  }

  test("salted sum equals unsalted sum") {
    val df = (1 to 1000).map(i => (i % 5L, i.toLong)).toDF("k", "v").repartition(8)
    val salted = Salting.saltedSum(df, Seq("k"), col("v"), "s", salts = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = df.groupBy("k").agg(sum(col("v")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("row salts are stable under repartition (shuffle-retry safety)") {
    // The salt must be a function of the row's data, not its partition/order:
    // a shuffle-fetch retry recomputes upstream partitions, and a positional
    // salt (monotonically_increasing_id) can then differ between attempts.
    val base = (1 to 500).map(i => (i % 3L, i.toLong)).toDF("k", "v")
    def saltsOf(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
      df.withColumn("__salt", Salting.rowSalt(Seq("k"), col("v"), 4))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    val a = saltsOf(base.repartition(2))
    val b = saltsOf(base.repartition(16, col("v")))
    val c = saltsOf(base.orderBy(desc("v")))
    assert(a == b && b == c)
    // and the salt actually spreads a hot key over multiple reducers
    assert(a.filter(_._1._1 == 0L).values.toSet.size > 1)
  }

  test("catalog JSON parsing round-trips PK/FK metadata") {
    val cat = Catalog.fromJson(
      """{"tables": {
           "orders": {"primary_key": ["id"]},
           "item": {"primary_key": ["id"],
                    "foreign_keys": [{"columns": ["order_id"],
                                      "parent_table": "orders",
                                      "parent_columns": ["id"]}]}}}"""
    )
    assert(cat.primaryKeys("orders") == Seq("id"))
    val spec = cat.resolveJoin("orders", "item")
    assert(spec.parentColumns == Seq("id") && spec.childColumns == Seq("order_id"))
  }

  test("materialized index vacuum keeps recent versions only") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vacuum").toString
    val idx = new graft.sinks.MaterializedIndex(spark, dir)
    val docs = Seq((1L, "a")).toDF("_id", "x")
      .select(col("_id").cast("string").as("_id"),
        map(lit("t"), map(lit("p"), array(lit("1")))).as("_meta"))
    idx.initialize(docs)
    val one = Seq(("1", "{}")).toDF("_id", "doc")
    val affected = Seq("1").toDF("_id")
    val lineage = graft.cdc.Lineage.empty(spark)
    (1 to 3).foreach(_ => idx.commit(affected, one, lineage))
    assert(idx.currentVersion == 3L)
    idx.vacuum()
    val versions = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString.split("/").last).filter(_.startsWith("v_")).sorted
    assert(versions.toSeq == Seq("v_2", "v_3"))
    assert(idx.docs.count() == 1) // the head still reads
  }
}
