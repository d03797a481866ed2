package graft.sources

import graft.{Fixtures, SparkSpec}
import graft.assemble.DocAssembler
import graft.schema.SchemaDef
import org.apache.spark.sql.functions._

/** The S1 live-database leg: `Tables.loadJdbc` against an embedded Derby
  * instance (the JDBC driver that ships with Spark), round-tripping the
  * driver test data through SQL tables and re-assembling the flagship
  * documents. The reference's primary source IS a live database
  * (`pgsync/base.py:306-345` reflects it at runtime); parquet is our test
  * corpus stand-in, so this spec pins that the JDBC path reflects the same
  * schema and produces the same documents.
  */
class JdbcSourceSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftjdbc;create=true"
  private val sf = "/root/testdata/sf0.001"

  test("JDBC source: reflected schema + flagship assembly match the parquet plan") {
    val load = Tables.load(spark, sf) _
    // a bounded slice keeps the embedded-DB round-trip fast while still
    // exercising every flagship leg (one_to_many lineitems, one_to_one
    // customer)
    val orders = load("orders").filter(col("o_orderkey") <= 500L)
    val lineitem = load("lineitem").filter(col("l_orderkey") <= 500L)
    val customer = load("customer")
    val props = new java.util.Properties()
    orders.write.mode("overwrite").jdbc(url, "orders", props)
    lineitem.write.mode("overwrite").jdbc(url, "lineitem", props)
    customer.write.mode("overwrite").jdbc(url, "customer", props)

    val bounds = orders
      .agg(min(col("o_orderkey")), max(col("o_orderkey")))
      .collect()(0)
    val jload = Tables.loadJdbc(
      spark,
      url,
      partitions = 4,
      partitionColumns =
        Map("orders" -> (("o_orderkey", bounds.getLong(0), bounds.getLong(1) + 1L)))
    ) _

    // runtime schema reflection: same column names, same row count
    assert(jload("orders").columns.toSeq == orders.columns.toSeq)
    assert(jload("lineitem").columns.toSeq == lineitem.columns.toSeq)
    assert(jload("orders").count() == orders.count())

    // the partitioned read plans `numPartitions` range-bounded queries —
    // the reference's ctid-paged parallel snapshot, minus the hand-rolled
    // worker pool (`bin/parallel_sync:132-208`)
    val scan = jload("orders").queryExecution.executedPlan.toString
    assert(scan.contains("numPartitions=4"), scan)
    assert(jload("orders").rdd.getNumPartitions == 4)
    // and a filter on the partition column is PUSHED to the database, not
    // evaluated post-scan
    val filtered = jload("orders").filter(col("o_orderkey") <= 100L)
    val fplan = filtered.queryExecution.executedPlan.toString
    assert(fplan.contains("PushedFilters") && fplan.contains("o_orderkey"), fplan)

    // flagship document assembly: JDBC-sourced docs equal parquet-sourced
    // docs exactly (same join/agg plan over a different scan)
    val schema = SchemaDef.parseNodes(Fixtures.flagship)
    val pload: String => org.apache.spark.sql.DataFrame = {
      case "orders"   => orders
      case "lineitem" => lineitem
      case t          => load(t)
    }
    def docs(loader: String => org.apache.spark.sql.DataFrame): Map[String, String] =
      DocAssembler
        .assembleJson(schema, loader, graft.catalog.Catalog.testData)
        .collect()
        .map(r => r.getString(r.fieldIndex("_id")) -> r.getString(r.fieldIndex("doc")))
        .toMap
    val viaParquet = docs(pload)
    val viaJdbc = docs(jload)
    assert(viaJdbc.keySet == viaParquet.keySet)
    val diff = viaParquet.keys.filter(k => viaJdbc(k) != viaParquet(k))
    assert(diff.isEmpty, s"${diff.size} docs differ, e.g. ${diff.headOption}")
  }

  test("Catalog.fromJdbc: composite PK order, multi-column FK pairing, folded identifiers") {
    import graft.catalog.{Catalog, ForeignKey, UnknownTableError}
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      // unquoted identifiers: Derby stores them upper-case. The PK and FK
      // column orders differ from the table's column order on purpose.
      st.executeUpdate(
        "CREATE TABLE cat_parent (p_a INT NOT NULL, p_b INT NOT NULL, v INT, " +
          "PRIMARY KEY (p_b, p_a))")
      st.executeUpdate(
        "CREATE TABLE cat_child (c_id INT NOT NULL PRIMARY KEY, c_a INT, c_b INT, " +
          "CONSTRAINT cat_child_fk FOREIGN KEY (c_b, c_a) REFERENCES cat_parent (p_b, p_a))")
    } finally conn.close()

    val cat = Catalog.fromJdbc(url, Seq("cat_parent", "cat_child"))
    assert(cat.tables.keySet == Set("cat_parent", "cat_child"))
    assert(cat.primaryKeys("cat_parent") == Seq("P_B", "P_A"))
    assert(cat.primaryKeys("cat_child") == Seq("C_ID"))
    assert(cat("cat_parent").foreignKeys.isEmpty)
    assert(cat("cat_child").foreignKeys ==
      Seq(ForeignKey("cat_child", Seq("C_B", "C_A"), "cat_parent", Seq("P_B", "P_A"))))
    // the reflected catalog drives join resolution under the caller's names
    val join = cat.resolveJoin("cat_parent", "cat_child")
    assert(join.parentColumns == Seq("P_B", "P_A") && join.childColumns == Seq("C_B", "C_A"))
    // a missing table is an error, not an empty primary key
    intercept[UnknownTableError](Catalog.fromJdbc(url, Seq("no_such_table")))
  }
}
