package graft

import graft.assemble.DocAssembler
import graft.catalog.Catalog
import graft.cdc.{IncrementalEngine, Lineage}
import graft.schema.SchemaDef
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the optimizations we rely on for 100 TB scale
  * must actually appear in the executed plan — column pruning reaching the
  * parquet scan, predicate pushdown, broadcast joins for the small sides,
  * whole-stage codegen spans.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def fmt(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )

  test("column pruning reaches the parquet scan in document assembly") {
    val df = DocAssembler.assemble(
      SchemaDef.parseNodes(Fixtures.flagship),
      Tables.load(spark, sf),
      Catalog.testData
    )
    val scans = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
    val liScan = scans.find(_.contains("lineitem.parquet")).get
    // only the configured + join-key columns, not all 11 lineitem columns
    assert(liScan.contains("l_linenumber") && liScan.contains("l_orderkey"))
    assert(!liScan.contains("l_shipdate") && !liScan.contains("l_suppkey"))
    val custScan = scans.find(_.contains("customer.parquet")).get
    assert(!custScan.contains("c_acctbal") && !custScan.contains("c_nationkey"))
  }

  test("filter pushdown appears as PushedFilters in the scan") {
    val s = fmt(SparkEntry.queries("q_filter_or")(spark, sf))
    assert(s.contains("PushedFilters") && s.contains("Or(And("))
  }

  test("geo parsing is pure codegen projection over a filter-pushed scan") {
    val s = fmt(SparkEntry.queries("q_geo")(spark, sf))
    // the key predicate reaches the parquet scan
    assert(s.contains("PushedFilters") && s.contains("LessThanOrEqual(c_custkey,1000)"), s)
    // WKT build + parse is a single codegen'd Project — no UDFs, no extra
    // exchanges (geo must add zero shuffle cost to assembly at any scale)
    assert(!s.contains("ScalaUDF") && !s.contains("BatchEvalPython"))
    assert(!s.contains("Exchange"), "geo projection must not shuffle")
  }

  test("filter-dict predicates push to the scan; mismatches fold away statically") {
    val orders = Tables.load(spark, sf)("orders")
    val f = graft.assemble.Filters.build(
      orders,
      Seq(Map("o_orderkey" -> 1L, "o_orderstatus" -> "O"), Map("o_orderkey" -> "7"))
    )
    val s = fmt(orders.filter(f))
    assert(s.contains("PushedFilters"))
    assert(s.contains("o_orderkey"))
    // a type-mismatched conjunct is a plan-time FALSE: the whole scan
    // collapses to an empty relation, no job runs
    val dead = orders.filter(graft.assemble.Filters.build(orders, Seq(Map("o_orderkey" -> "nope"))))
    assert(dead.queryExecution.optimizedPlan.toString.contains("LocalRelation <empty>"))
  }

  test("incremental reassembly pushes the affected-id set into the parquet scans") {
    val load = Tables.load(spark, sf) _
    val engine = new IncrementalEngine(
      SchemaDef.parseNodes(Fixtures.flagship), Catalog.testData, load)
    val changes = graft.cdc.Changes.of(
      spark,
      Seq(("INSERT", "orders", null, """{"o_orderkey": 1}""", 1L))
    )
    val s = fmt(engine.process(changes, Lineage.empty(spark)))
    // batch-sized id sets become pushed scan filters (row-group pruning) on
    // BOTH the root scan and the root-keyed child scan (a 1-element In is
    // simplified to EqualTo by the optimizer)
    assert(s.contains("EqualTo(o_orderkey,1)") || s.contains("In(o_orderkey"))
    assert(s.contains("EqualTo(l_orderkey,1)") || s.contains("In(l_orderkey"))
  }

  test("partition-pruned reassembly plants static partition filters on root, child, AND dim scans") {
    import graft.cdc.IncrementalEngine.PartitionPrune
    import graft.sources.Layout
    val load = Tables.load(spark, sf) _
    val dir = graft.util.TempDirs.scratch("plan-cdcpart").toString
    Layout.keyPartitionedWrite(load("orders"), "o_orderkey", 128, s"$dir/orders")
    Layout.keyPartitionedWrite(load("lineitem"), "l_orderkey", 128, s"$dir/lineitem")
    Layout.keyPartitionedWrite(load("customer"), "c_custkey", 16, s"$dir/customer")
    val pload: String => DataFrame = {
      case t @ ("orders" | "lineitem" | "customer") => spark.read.parquet(s"$dir/$t")
      case t                                        => load(t)
    }
    val prune = Map(
      "orders"   -> PartitionPrune("_kp", 128),
      "lineitem" -> PartitionPrune("_kp", 128),
      "customer" -> PartitionPrune("_kp", 16)
    )
    // threshold 0 forces the oversized (broadcast semi-join) path — the one
    // the scan-bounded incremental floor blames: without layout pruning it
    // re-reads all three payload tables whole
    val engine = new IncrementalEngine(
      SchemaDef.parseNodes(Fixtures.flagship), Catalog.testData, pload,
      Tuning(inSetThreshold = 0, partitionPrune = prune))
    val changes = graft.cdc.Changes.of(
      spark,
      Seq(
        ("UPDATE", "orders", null, """{"o_orderkey": 5}""", 1L),
        ("UPDATE", "orders", null, """{"o_orderkey": 900}""", 2L)
      )
    )
    val doc = engine.reassemble(engine.affectedRoots(changes, Lineage.empty(spark)))
    val scans = doc.queryExecution.executedPlan.collectLeaves().map(_.toString)
    for (t <- Seq("orders", "lineitem", "customer")) {
      val s = scans.find(x => x.contains(s"/$t"))
      assert(s.isDefined, s"no scan of $t in:\n${scans.mkString("\n---\n")}")
      assert(
        s.get.contains("PartitionFilters") &&
          !s.get.replaceAll("\\s", "").contains("PartitionFilters:[]") &&
          s.get.contains("_kp"),
        s"$t payload scan is not partition-pruned:\n${s.get}"
      )
    }
    // layout must never change answers: ops at the partitioned layout equal
    // ops at the flat layout (the same invariance the zorder row grades)
    val base = new IncrementalEngine(
      SchemaDef.parseNodes(Fixtures.flagship), Catalog.testData, load)
    val got = engine.process(changes, Lineage.empty(spark))
      .orderBy("op", "_id").collect().toSeq
    val want = base.process(changes, Lineage.empty(spark))
      .orderBy("op", "_id").collect().toSeq
    assert(got == want)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("through-topology pruning plants static partition filters on root, through, AND far-side scans") {
    import graft.cdc.IncrementalEngine.PartitionPrune
    import graft.sources.Layout
    val load = Tables.load(spark, sf) _
    val dir = graft.util.TempDirs.scratch("plan-cdcthrough").toString
    // many-to-many: part ↔ supplier through lineitem; the through table is
    // partitioned on its ROOT FK (root key domain), the far side on its own
    // join key — its touched partitions derive from the pruned through scan
    Layout.keyPartitionedWrite(load("part"), "p_partkey", 64, s"$dir/part")
    Layout.keyPartitionedWrite(load("lineitem"), "l_partkey", 64, s"$dir/lineitem")
    Layout.keyPartitionedWrite(load("supplier"), "s_suppkey", 4, s"$dir/supplier")
    val pload: String => DataFrame = {
      case t @ ("part" | "lineitem" | "supplier") => spark.read.parquet(s"$dir/$t")
      case t                                      => load(t)
    }
    val engine = new IncrementalEngine(
      SchemaDef.parseNodes(Fixtures.through), Catalog.testData, pload,
      Tuning(
        inSetThreshold = 0,
        partitionPrune = Map(
          "part"     -> PartitionPrune("_kp", 64),
          "lineitem" -> PartitionPrune("_kp", 64),
          "supplier" -> PartitionPrune("_kp", 4)
        )))
    val changes = graft.cdc.Changes.of(
      spark,
      Seq(
        ("UPDATE", "part", null, """{"p_partkey": 5}""", 1L),
        ("UPDATE", "part", null, """{"p_partkey": 150}""", 2L)
      )
    )
    val doc = engine.reassemble(engine.affectedRoots(changes, Lineage.empty(spark)))
    val scans = doc.queryExecution.executedPlan.collectLeaves().map(_.toString)
    for (t <- Seq("part", "lineitem", "supplier")) {
      val s = scans.find(x => x.contains(s"/$t"))
      assert(s.isDefined, s"no scan of $t in:\n${scans.mkString("\n---\n")}")
      assert(
        s.get.contains("PartitionFilters") &&
          !s.get.replaceAll("\\s", "").contains("PartitionFilters:[]") &&
          s.get.contains("_kp"),
        s"$t payload scan is not partition-pruned:\n${s.get}"
      )
    }
    // layout must never change answers
    val base = new IncrementalEngine(
      SchemaDef.parseNodes(Fixtures.through), Catalog.testData, load)
    val got = engine.process(changes, Lineage.empty(spark))
      .orderBy("op", "_id").collect().toSeq
    val want = base.process(changes, Lineage.empty(spark))
      .orderBy("op", "_id").collect().toSeq
    assert(got == want && got.nonEmpty)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("nested one_to_one dim behind a root-keyed child prunes via the far-side derivation") {
    import graft.cdc.IncrementalEngine.PartitionPrune
    import graft.sources.Layout
    val load = Tables.load(spark, sf) _
    val dir = graft.util.TempDirs.scratch("plan-cdcnested").toString
    // orders → lineitem (one_to_many) → part (one_to_one): the same 2-hop
    // chain shape as the many-to-many far side, so part's touched partitions
    // derive from the restricted lineitem scan's l_partkey values — the
    // deep-tree dim is prunable with zero extra machinery
    Layout.keyPartitionedWrite(load("orders"), "o_orderkey", 128, s"$dir/orders")
    Layout.keyPartitionedWrite(load("lineitem"), "l_orderkey", 128, s"$dir/lineitem")
    Layout.keyPartitionedWrite(load("part"), "p_partkey", 16, s"$dir/part")
    val pload: String => DataFrame = {
      case t @ ("orders" | "lineitem" | "part") => spark.read.parquet(s"$dir/$t")
      case t                                    => load(t)
    }
    val engine = new IncrementalEngine(
      SchemaDef.parseNodes(Fixtures.nested), Catalog.testData, pload,
      Tuning(
        inSetThreshold = 0,
        partitionPrune = Map(
          "orders"   -> PartitionPrune("_kp", 128),
          "lineitem" -> PartitionPrune("_kp", 128),
          "part"     -> PartitionPrune("_kp", 16)
        )))
    val changes = graft.cdc.Changes.of(
      spark,
      Seq(
        ("UPDATE", "orders", null, """{"o_orderkey": 5}""", 1L),
        ("UPDATE", "orders", null, """{"o_orderkey": 900}""", 2L)
      )
    )
    val doc = engine.reassemble(engine.affectedRoots(changes, Lineage.empty(spark)))
    val scans = doc.queryExecution.executedPlan.collectLeaves().map(_.toString)
    for (t <- Seq("orders", "lineitem", "part")) {
      val s = scans.find(x => x.contains(s"/$t"))
      assert(s.isDefined, s"no scan of $t in:\n${scans.mkString("\n---\n")}")
      assert(
        s.get.contains("PartitionFilters") &&
          !s.get.replaceAll("\\s", "").contains("PartitionFilters:[]") &&
          s.get.contains("_kp"),
        s"$t payload scan is not partition-pruned:\n${s.get}"
      )
    }
    val base = new IncrementalEngine(
      SchemaDef.parseNodes(Fixtures.nested), Catalog.testData, load)
    val got = engine.process(changes, Lineage.empty(spark))
      .orderBy("op", "_id").collect().toSeq
    val want = base.process(changes, Lineage.empty(spark))
      .orderBy("op", "_id").collect().toSeq
    assert(got == want && got.nonEmpty)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("a layout partitioned on the WRONG column fails at engine construction, not per batch") {
    import graft.cdc.IncrementalEngine.PartitionPrune
    import graft.sources.Layout
    val load = Tables.load(spark, sf) _
    val dir = graft.util.TempDirs.scratch("plan-cdcbadlayout").toString
    // flagship tree position needs lineitem partitioned on l_orderkey; lay
    // it out on l_partkey instead — every schema/dtype check passes, only
    // the sampled floor(key/width)==partValue consistency check can catch it
    Layout.keyPartitionedWrite(load("lineitem"), "l_partkey", 128, s"$dir/lineitem")
    // the sidecar records what the layout was REALLY keyed on
    assert(Layout.keyPartitionSpec(spark, s"$dir/lineitem") == (("l_partkey", 128L, "_kp")))
    val pload: String => DataFrame = {
      case "lineitem" => spark.read.parquet(s"$dir/lineitem")
      case t          => load(t)
    }
    val ex = intercept[IllegalArgumentException] {
      new IncrementalEngine(
        SchemaDef.parseNodes(Fixtures.flagship), Catalog.testData, pload,
        Tuning(partitionPrune = Map("lineitem" -> PartitionPrune("_kp", 128))))
    }
    assert(ex.getMessage.contains("not partitioned by"), ex.getMessage)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("through-topology pruning composes with HASH-BUCKET layouts (root, through, far-side scans)") {
    import graft.cdc.IncrementalEngine.HashBucketPrune
    import graft.sources.Layout
    val load = Tables.load(spark, sf) _
    val dir = graft.util.TempDirs.scratch("plan-cdcthroughhash").toString
    // same many-to-many tree as the key-range through test (part ↔ supplier
    // through lineitem), but every table hash-bucketed: the far-side
    // derivation computes partition values via pp.partValue over the
    // RESTRICTED through scan, a distributed expression — so the hash
    // layout composes with zero extra machinery, and this pins it
    Layout.hashBucketedWrite(load("part"), Seq("p_partkey"), 32, s"$dir/part")
    Layout.hashBucketedWrite(load("lineitem"), Seq("l_partkey"), 32, s"$dir/lineitem")
    Layout.hashBucketedWrite(load("supplier"), Seq("s_suppkey"), 8, s"$dir/supplier")
    val pload: String => DataFrame = {
      case t @ ("part" | "lineitem" | "supplier") => spark.read.parquet(s"$dir/$t")
      case t                                      => load(t)
    }
    // specs read back from the sidecars (fromLayout covers the hash kind)
    val prune = Seq("part", "lineitem", "supplier").map { t =>
      t -> IncrementalEngine.PartitionPrune.fromLayout(Layout.layoutSpec(spark, s"$dir/$t"))
    }.toMap
    assert(prune("part") == HashBucketPrune("_hb", 32))
    val engine = new IncrementalEngine(
      SchemaDef.parseNodes(Fixtures.through), Catalog.testData, pload,
      Tuning(
        inSetThreshold = 0,
        partitionPrune = prune))
    val changes = graft.cdc.Changes.of(
      spark,
      Seq(
        ("UPDATE", "part", null, """{"p_partkey": 5}""", 1L),
        ("UPDATE", "part", null, """{"p_partkey": 150}""", 2L)
      )
    )
    val doc = engine.reassemble(engine.affectedRoots(changes, Lineage.empty(spark)))
    val scans = doc.queryExecution.executedPlan.collectLeaves().map(_.toString)
    for (t <- Seq("part", "lineitem", "supplier")) {
      val s = scans.find(x => x.contains(s"/$t"))
      assert(s.isDefined, s"no scan of $t in:\n${scans.mkString("\n---\n")}")
      assert(
        s.get.contains("PartitionFilters") &&
          !s.get.replaceAll("\\s", "").contains("PartitionFilters:[]") &&
          s.get.contains("_hb"),
        s"$t payload scan is not partition-pruned:\n${s.get}"
      )
    }
    // layout must never change answers
    val base = new IncrementalEngine(
      SchemaDef.parseNodes(Fixtures.through), Catalog.testData, load)
    val got = engine.process(changes, Lineage.empty(spark))
      .orderBy("op", "_id").collect().toSeq
    val want = base.process(changes, Lineage.empty(spark))
      .orderBy("op", "_id").collect().toSeq
    assert(got == want && got.nonEmpty)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("reassembly emits the same ops on both tiers: literal ids and driver-derived hash buckets vs semi-join and distinct jobs") {
    import graft.cdc.IncrementalEngine.HashBucketPrune
    import graft.sources.Layout
    val load = Tables.load(spark, sf) _
    val dir = graft.util.TempDirs.scratch("plan-cdctiers").toString
    Layout.hashBucketedWrite(load("orders"), Seq("o_orderkey"), 16, s"$dir/orders")
    Layout.hashBucketedWrite(load("lineitem"), Seq("l_orderkey"), 16, s"$dir/lineitem")
    Layout.hashBucketedWrite(load("customer"), Seq("c_custkey"), 8, s"$dir/customer")
    val pload: String => DataFrame = {
      case t @ ("orders" | "lineitem" | "customer") => spark.read.parquet(s"$dir/$t")
      case t                                        => load(t)
    }
    val prune = Map(
      "orders" -> HashBucketPrune("_hb", 16),
      "lineitem" -> HashBucketPrune("_hb", 16),
      "customer" -> HashBucketPrune("_hb", 8))
    // root updates, a child and a dim walk-up, and a root key no row holds
    val changes = graft.cdc.Changes.of(
      spark,
      Seq(
        ("UPDATE", "orders", null, """{"o_orderkey": 5}""", 1L),
        ("UPDATE", "orders", null, """{"o_orderkey": 900}""", 2L),
        ("UPDATE", "lineitem", null, """{"l_orderkey": 32, "l_linenumber": 1}""", 3L),
        ("UPDATE", "customer", null, """{"c_custkey": 7}""", 4L),
        ("DELETE", "orders", """{"o_orderkey": 999999}""", null, 5L)
      )
    )
    def ops(engine: IncrementalEngine): Set[Seq[Any]] =
      engine.process(changes, Lineage.empty(spark)).collect().map(_.toSeq).toSet
    val state = TwoTier.assertSame(tuning =>
      Map("ops" -> ops(new IncrementalEngine(
        SchemaDef.parseNodes(Fixtures.flagship), Catalog.testData, pload,
        tuning.copy(partitionPrune = prune)))))
    // and the layout never changes answers
    val flat = ops(new IncrementalEngine(SchemaDef.parseNodes(Fixtures.flagship), Catalog.testData, load))
    assert(state("ops") == flat)
    assert(flat.exists(_.head == "delete") && flat.count(_.head == "index") > 3, flat)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("hash-bucket pruning plants static partition filters at a TEXT-keyed layout (root, child, dim)") {
    import graft.cdc.IncrementalEngine.HashBucketPrune
    import graft.sources.Layout
    import graft.catalog.{ForeignKey, TableMeta}
    // uuid/text primary keys are everywhere in the reference's world
    // (querybuilder.py:81-98 special-cases uuid filters) — key-range layouts
    // can't index them, hash buckets prune them with the same bounded
    // affected-set derivation
    val base = Tables.load(spark, sf) _
    val dir = graft.util.TempDirs.scratch("plan-cdchash").toString
    val ordersT = base("orders").select(
      concat(lit("ord-"), col("o_orderkey")).as("o_orderkey"),
      concat(lit("cus-"), col("o_custkey")).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
    val lineitemT = base("lineitem").select(
      concat(lit("ord-"), col("l_orderkey")).as("l_orderkey"),
      col("l_linenumber"), col("l_quantity"))
    val customerT = base("customer").select(
      concat(lit("cus-"), col("c_custkey")).as("c_custkey"),
      col("c_name"), col("c_mktsegment"))
    Layout.hashBucketedWrite(ordersT, Seq("o_orderkey"), 32, s"$dir/orders")
    Layout.hashBucketedWrite(lineitemT, Seq("l_orderkey"), 32, s"$dir/lineitem")
    Layout.hashBucketedWrite(customerT, Seq("c_custkey"), 8, s"$dir/customer")
    val cat = Catalog(Map(
      "orders" -> TableMeta("orders", Seq("o_orderkey"),
        Seq(ForeignKey("orders", Seq("o_custkey"), "customer", Seq("c_custkey")))),
      "customer" -> TableMeta("customer", Seq("c_custkey")),
      "lineitem" -> TableMeta("lineitem", Seq("l_orderkey", "l_linenumber"),
        Seq(ForeignKey("lineitem", Seq("l_orderkey"), "orders", Seq("o_orderkey"))))))
    val tree = SchemaDef.parseNodes(
      """{"table": "orders", "columns": ["o_orderkey", "o_custkey", "o_orderstatus"],
         "children": [
           {"table": "lineitem", "label": "lineitems",
            "columns": ["l_linenumber", "l_quantity"],
            "relationship": {"type": "one_to_many", "variant": "object"}},
           {"table": "customer", "label": "customer", "columns": ["c_name"],
            "relationship": {"type": "one_to_one", "variant": "object"}}]}""")
    val flatLoad: String => DataFrame = {
      case "orders" => ordersT; case "lineitem" => lineitemT; case "customer" => customerT
      case t        => base(t)
    }
    val ploadCache = scala.collection.mutable.Map.empty[String, DataFrame]
    val pload: String => DataFrame = t =>
      ploadCache.getOrElseUpdate(t, spark.read.parquet(s"$dir/$t"))
    val engine = new IncrementalEngine(
      tree, cat, pload,
      Tuning(
        inSetThreshold = 0,
        partitionPrune = Map(
          "orders"   -> HashBucketPrune("_hb", 32),
          "lineitem" -> HashBucketPrune("_hb", 32),
          "customer" -> HashBucketPrune("_hb", 8)
        )))
    val changes = graft.cdc.Changes.of(
      spark,
      Seq(
        ("UPDATE", "orders", null, """{"o_orderkey": "ord-5"}""", 1L),
        ("UPDATE", "orders", null, """{"o_orderkey": "ord-900"}""", 2L)
      )
    )
    val doc = engine.reassemble(engine.affectedRoots(changes, Lineage.empty(spark)))
    val scans = doc.queryExecution.executedPlan.collectLeaves().map(_.toString)
    for (t <- Seq("orders", "lineitem", "customer")) {
      val s = scans.find(x => x.contains(s"/$t"))
      assert(s.isDefined, s"no scan of $t in:\n${scans.mkString("\n---\n")}")
      assert(
        s.get.contains("PartitionFilters") &&
          !s.get.replaceAll("\\s", "").contains("PartitionFilters:[]") &&
          s.get.contains("_hb"),
        s"$t payload scan is not partition-pruned:\n${s.get}"
      )
    }
    // layout must never change answers
    val flat = new IncrementalEngine(tree, cat, flatLoad)
    val got = engine.process(changes, Lineage.empty(spark))
      .orderBy("op", "_id").collect().toSeq
    val want = flat.process(changes, Lineage.empty(spark))
      .orderBy("op", "_id").collect().toSeq
    assert(got == want && got.nonEmpty)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("hash-bucket pruning covers a COMPOSITE-PK root layout") {
    import graft.cdc.IncrementalEngine.HashBucketPrune
    import graft.sources.Layout
    // composite-PK roots (arity handling sync.py:885-896; lineitem `_id` =
    // l_orderkey|l_linenumber) get no key-range pruning — the hash layout
    // buckets the key TUPLE and the derivation parses the `_id` back into it
    val load = Tables.load(spark, sf) _
    val dir = graft.util.TempDirs.scratch("plan-cdchashcomp").toString
    Layout.hashBucketedWrite(
      load("lineitem"), Seq("l_orderkey", "l_linenumber"), 16, s"$dir/lineitem")
    val ploadCache = scala.collection.mutable.Map.empty[String, DataFrame]
    val pload: String => DataFrame = {
      case "lineitem" => ploadCache.getOrElseUpdate("lineitem", spark.read.parquet(s"$dir/lineitem"))
      case t          => load(t)
    }
    val engine = new IncrementalEngine(
      SchemaDef.parseNodes(Fixtures.compositePk), Catalog.testData, pload,
      Tuning(
        inSetThreshold = 0,
        partitionPrune = Map("lineitem" -> HashBucketPrune("_hb", 16))))
    val changes = graft.cdc.Changes.of(
      spark,
      Seq(
        ("UPDATE", "lineitem", null, """{"l_orderkey": 5, "l_linenumber": 2}""", 1L),
        ("UPDATE", "lineitem", null, """{"l_orderkey": 900, "l_linenumber": 1}""", 2L)
      )
    )
    val doc = engine.reassemble(engine.affectedRoots(changes, Lineage.empty(spark)))
    val scans = doc.queryExecution.executedPlan.collectLeaves().map(_.toString)
    val s = scans.find(_.contains("/lineitem"))
    assert(s.isDefined, scans.mkString("\n---\n"))
    assert(
      s.get.contains("PartitionFilters") &&
        !s.get.replaceAll("\\s", "").contains("PartitionFilters:[]") &&
        s.get.contains("_hb"),
      s"composite-root payload scan is not partition-pruned:\n${s.get}"
    )
    val flat = new IncrementalEngine(
      SchemaDef.parseNodes(Fixtures.compositePk), Catalog.testData, load)
    val got = engine.process(changes, Lineage.empty(spark))
      .orderBy("op", "_id").collect().toSeq
    val want = flat.process(changes, Lineage.empty(spark))
      .orderBy("op", "_id").collect().toSeq
    assert(got == want && got.nonEmpty)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("a hash layout bucketed on the WRONG column fails at engine construction") {
    import graft.cdc.IncrementalEngine.HashBucketPrune
    import graft.sources.Layout
    val load = Tables.load(spark, sf) _
    val dir = graft.util.TempDirs.scratch("plan-cdcbadhash").toString
    // flagship tree position needs lineitem bucketed on l_orderkey; bucket
    // it on l_partkey instead — schema and dtype checks all pass, only the
    // sampled directory==hash(key) consistency check can catch it
    Layout.hashBucketedWrite(load("lineitem"), Seq("l_partkey"), 32, s"$dir/lineitem")
    val pload: String => DataFrame = {
      case "lineitem" => spark.read.parquet(s"$dir/lineitem")
      case t          => load(t)
    }
    val ex = intercept[IllegalArgumentException] {
      new IncrementalEngine(
        SchemaDef.parseNodes(Fixtures.flagship), Catalog.testData, pload,
        Tuning(partitionPrune = Map("lineitem" -> HashBucketPrune("_hb", 32))))
    }
    assert(ex.getMessage.contains("not hash-bucketed by"), ex.getMessage)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("layout sidecar readers fail with the convention named, not a raw path error") {
    import graft.sources.Layout
    import spark.implicits._
    val dir = graft.util.TempDirs.scratch("plan-nosidecar").toString
    val ex = intercept[IllegalArgumentException] {
      Layout.layoutSpec(spark, s"$dir/never-written")
    }
    assert(ex.getMessage.contains(Layout.KeySpecDir), ex.getMessage)
    // a ZERO-ROW sidecar (aborted mid-flight write) is as informative as a
    // missing one — not a raw ArrayIndexOutOfBounds
    Seq.empty[(Seq[String], Long, String)]
      .toDF("key_cols", "n_buckets", "part_col")
      .write.parquet(s"$dir/aborted/${Layout.KeySpecDir}")
    val exEmpty = intercept[IllegalArgumentException] {
      Layout.layoutSpec(spark, s"$dir/aborted")
    }
    assert(
      exEmpty.getMessage.contains("empty") &&
        exEmpty.getMessage.contains(Layout.KeySpecDir),
      exEmpty.getMessage)
    // and the typed key-range reader refuses a hash sidecar loudly
    Layout.hashBucketedWrite(
      Tables.load(spark, sf)("supplier"), Seq("s_suppkey"), 4, s"$dir/supplier")
    val ex2 = intercept[IllegalArgumentException] {
      Layout.keyPartitionSpec(spark, s"$dir/supplier")
    }
    assert(ex2.getMessage.contains("not a key-range layout"), ex2.getMessage)
    assert(
      Layout.layoutSpec(spark, s"$dir/supplier") ==
        Layout.HashBucketLayout(Seq("s_suppkey"), 4, "_hb"))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("layoutRoot auto-discovery prunes every conforming sidecar'd table and skips the rest") {
    import graft.sources.Layout
    val load = Tables.load(spark, sf) _
    val dir = graft.util.TempDirs.scratch("plan-cdcdiscover").toString
    // mixed layout kinds under one root; customer's layout is keyed on a
    // NON-key column — discovery must leave it unpruned (opportunistic, not
    // failing) while pruning the conforming two
    Layout.keyPartitionedWrite(load("orders"), "o_orderkey", 128, s"$dir/orders")
    Layout.hashBucketedWrite(load("lineitem"), Seq("l_orderkey"), 32, s"$dir/lineitem")
    Layout.keyPartitionedWrite(load("customer"), "c_nationkey", 8, s"$dir/customer")
    val ploadCache = scala.collection.mutable.Map.empty[String, DataFrame]
    val pload: String => DataFrame = t =>
      ploadCache.getOrElseUpdate(t, t match {
        case "orders" | "lineitem" | "customer" => spark.read.parquet(s"$dir/$t")
        case _                                  => load(t)
      })
    val engine = new IncrementalEngine(
      SchemaDef.parseNodes(Fixtures.flagship), Catalog.testData, pload,
      Tuning(inSetThreshold = 0, layoutRoot = Some(dir)))
    val changes = graft.cdc.Changes.of(
      spark,
      Seq(
        ("UPDATE", "orders", null, """{"o_orderkey": 5}""", 1L),
        ("UPDATE", "orders", null, """{"o_orderkey": 900}""", 2L)
      )
    )
    val doc = engine.reassemble(engine.affectedRoots(changes, Lineage.empty(spark)))
    // per-SCAN lines, not collectLeaves: AQE wraps the whole plan in one
    // leaf, and this test needs to tell a pruned scan from the deliberately
    // unpruned customer scan in the same plan
    val planStr = doc.queryExecution.executedPlan.toString
    def scanLine(t: String): String =
      planStr.linesIterator
        .find(l => l.contains("FileScan") && l.contains(s"/$t"))
        .getOrElse(fail(s"no scan of $t in:\n$planStr"))
    for ((t, pc) <- Seq("orders" -> "_kp", "lineitem" -> "_hb")) {
      val s = scanLine(t)
      assert(
        s.contains("PartitionFilters") &&
          !s.replaceAll("\\s", "").contains("PartitionFilters:[]") &&
          s.contains(pc),
        s"$t payload scan is not partition-pruned:\n$s"
      )
    }
    assert(
      scanLine("customer").replaceAll("\\s", "").contains("PartitionFilters:[]"),
      s"non-conforming customer layout must stay unpruned:\n${scanLine("customer")}"
    )
    // discovery must never change answers either
    val flat = new IncrementalEngine(
      SchemaDef.parseNodes(Fixtures.flagship), Catalog.testData, load)
    val got = engine.process(changes, Lineage.empty(spark))
      .orderBy("op", "_id").collect().toSeq
    val want = flat.process(changes, Lineage.empty(spark))
      .orderBy("op", "_id").collect().toSeq
    assert(got == want && got.nonEmpty)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("a delimiter-bearing composite string key never loses its bucket — both derivations fall back") {
    import graft.cdc.IncrementalEngine.HashBucketPrune
    import graft.sources.Layout
    import graft.catalog.TableMeta
    // a composite (string, long) root key whose STRING value contains the id
    // delimiter makes the `_id` parse ambiguous ("x|5" + 5 → "x|5|5" splits
    // into three parts) — both touched-bucket derivations must fall back to
    // the unpruned scan for that batch, never skip the row's directory
    // (which would surface as a spurious delete of a live document)
    val base = Tables.load(spark, sf) _
    val dir = graft.util.TempDirs.scratch("plan-cdchashdelim").toString
    val ordersT = base("orders").select(
      when(col("o_orderkey") === 5, lit("x|5"))
        .otherwise(concat(lit("k"), col("o_orderkey"))).as("k1"),
      col("o_orderkey").as("k2"),
      col("o_orderstatus"), col("o_totalprice"))
    Layout.hashBucketedWrite(ordersT, Seq("k1", "k2"), 8, s"$dir/orders")
    val cat = Catalog(Map("orders" -> TableMeta("orders", Seq("k1", "k2"))))
    val tree = SchemaDef.parseNodes(
      """{"table": "orders", "columns": ["k1", "k2", "o_orderstatus"]}""")
    val ploadCache = scala.collection.mutable.Map.empty[String, DataFrame]
    val pload: String => DataFrame = t =>
      ploadCache.getOrElseUpdate(t, spark.read.parquet(s"$dir/$t"))
    val flat = new IncrementalEngine(tree, cat, (_: String) => ordersT)
    val ambiguous = graft.cdc.Changes.of(
      spark,
      Seq(
        ("UPDATE", "orders", null, """{"k1": "x|5", "k2": 5}""", 1L),
        ("UPDATE", "orders", null, """{"k1": "k9", "k2": 9}""", 2L)
      ))
    val want = flat.process(ambiguous, Lineage.empty(spark))
      .orderBy("op", "_id").collect().toSeq
    assert(want.exists(_.getAs[String]("_id") == "x|5|5"), want.toString)
    // driver-parse path: the batch-sized id collect parses ids back to key
    // values; the unparseable id must poison the derivation, not be dropped
    val driverEng = new IncrementalEngine(
      tree, cat, pload,
      Tuning(partitionPrune = Map("orders" -> HashBucketPrune("_hb", 8))))
    val gotDriver = driverEng.process(ambiguous, Lineage.empty(spark))
      .orderBy("op", "_id").collect().toSeq
    assert(gotDriver == want, s"driver derivation dropped the delimiter-bearing key:\n$gotDriver\nvs\n$want")
    // distributed path (caps forced to 0 → per-table distinct job): the
    // mis-arity sentinel must poison it the same way
    val distEng = new IncrementalEngine(
      tree, cat, pload,
      Tuning(
        inSetThreshold = 0, collectCeiling = 0,
        partitionPrune = Map("orders" -> HashBucketPrune("_hb", 8))))
    val gotDist = distEng.process(ambiguous, Lineage.empty(spark))
      .orderBy("op", "_id").collect().toSeq
    assert(gotDist == want, s"distributed derivation dropped the delimiter-bearing key:\n$gotDist\nvs\n$want")
    // the fallback is PER BATCH, not a standing downgrade: a batch with no
    // ambiguous id still plants the static partition filter
    val clean = graft.cdc.Changes.of(
      spark, Seq(("UPDATE", "orders", null, """{"k1": "k9", "k2": 9}""", 3L)))
    val doc = driverEng.reassemble(driverEng.affectedRoots(clean, Lineage.empty(spark)))
    val s = doc.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .find(_.contains("/orders"))
    assert(
      s.isDefined && s.get.contains("PartitionFilters") &&
        !s.get.replaceAll("\\s", "").contains("PartitionFilters:[]") &&
        s.get.contains("_hb"),
      s"clean batch lost pruning:\n${s.getOrElse("no orders scan")}"
    )
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("discovery leaves a sidecar'd table unpruned when load() is flat or the sidecar is stale") {
    import graft.sources.Layout
    import spark.implicits._
    val load = Tables.load(spark, sf) _
    val dir = graft.util.TempDirs.scratch("plan-cdcdiscoverskip").toString
    // (a) conforming customer layout ON DISK, but the engine's load() serves
    // the FLAT frame (partial layout adoption) — no _hb column reaches the
    // scan; discovery must skip it, not crash the sample guard on a missing
    // column
    Layout.hashBucketedWrite(load("customer"), Seq("c_custkey"), 8, s"$dir/customer")
    // (b) STALE sidecar: orders data re-written with a directory column that
    // contradicts the recorded layout — the sampled consistency check must
    // reject it opportunistically instead of failing construction
    load("orders").withColumn("_hb", lit(0L)).write.parquet(s"$dir/orders")
    Seq((Seq("o_orderkey"), 32L, "_hb"))
      .toDF("key_cols", "n_buckets", "part_col")
      .coalesce(1).write.parquet(s"$dir/orders/${Layout.KeySpecDir}")
    val pload: String => DataFrame = {
      case "orders" => spark.read.parquet(s"$dir/orders")
      case t        => load(t)
    }
    val engine = new IncrementalEngine(
      SchemaDef.parseNodes(Fixtures.flagship), Catalog.testData, pload,
      Tuning(layoutRoot = Some(dir)))
    val changes = graft.cdc.Changes.of(
      spark, Seq(("UPDATE", "orders", null, """{"o_orderkey": 5}""", 1L)))
    val doc = engine.reassemble(engine.affectedRoots(changes, Lineage.empty(spark)))
    // neither skipped table carries a partition filter on the bogus column
    val planStr = doc.queryExecution.executedPlan.toString
    val ordersScan = planStr.linesIterator
      .find(l => l.contains("FileScan") && l.contains("/orders"))
      .getOrElse(fail(s"no orders scan in:\n$planStr"))
    assert(
      ordersScan.replaceAll("\\s", "").contains("PartitionFilters:[]"),
      s"stale-sidecar orders scan must stay unpruned:\n$ordersScan"
    )
    // and the skipped layouts never change answers
    val flat = new IncrementalEngine(
      SchemaDef.parseNodes(Fixtures.flagship), Catalog.testData, load)
    val got = engine.process(changes, Lineage.empty(spark))
      .orderBy("op", "_id").collect().toSeq
    val flatWant = flat.process(changes, Lineage.empty(spark))
      .orderBy("op", "_id").collect().toSeq
    assert(got == flatWant && got.nonEmpty)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("changeRows restricts the corpus scan to the affected ids, never shuffles it") {
    val load = Tables.load(spark, sf) _
    val batch = graft.cdc.Changes.of(
      spark,
      Seq(
        ("UPDATE", "documents", """{"doc_id": 3}""", """{"doc_id": 3}""", 1L),
        ("INSERT", "documents", null, """{"doc_id": 7}""", 2L))
    )
    // small path: literal ids pushed INTO the parquet scan (row-group
    // pruning) and the collapsed op set riding as a driver-local relation
    val small = graft.streaming.SyncPipeline.changeRows(
      batch, load, "documents", "doc_id", Seq("text"))
    val s = fmt(small)
    assert(s.contains("In(doc_id") || s.contains("EqualTo(doc_id"), s)
    assert(s.contains("LocalTableScan") || s.contains("LocalRelation"), s)
    // oversized path (threshold 0): the restriction is a BROADCAST of the
    // batch-sized id set against the corpus scan — the corpus is never the
    // shuffled side of the payload join
    val big = graft.streaming.SyncPipeline.changeRows(
      batch, load, "documents", "doc_id", Seq("text"), Tuning(inSetThreshold = 0))
    assert(fmt(big).contains("BroadcastHashJoin"), fmt(big))
  }

  test("signature-index probe scans only the key buckets the batch hashes into") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sigplan").toString
    val m = graft.dedup.SignatureIndex.Model(
      portable = false, shingleN = 3, bands = 8, rowsPerBand = 2,
      threshold = 0.5, maxBucket = 1000, buckets = 16)
    val corpus = (0L until 40L).map(i =>
      i -> s"corpus doc body $i alpha bravo charlie delta echo tok${i % 5}").toDF("id", "t")
    graft.dedup.SignatureIndex.write(corpus, dir, "id", "t", m)
    val probe = (100L to 101L).map(i =>
      i -> s"corpus doc body $i alpha bravo charlie delta echo tok${i % 5}").toDF("id", "t")
    // the probe's distinct kb values become a STATIC partition filter on the
    // stored-keys scan: only the probed buckets' directories are listed and
    // read — the corpus-sized key set is never scanned whole. candidates()
    // materializes this frame eagerly (one bucket scan feeding both the
    // degenerate-key guard and the candidate join), so the assertion reads
    // the pre-materialization plan via storedMatched.
    import org.apache.spark.sql.functions.{col, pmod, xxhash64, lit}
    val keyed = graft.dedup.SignatureIndex.bandKeys(probe, "id", "t", m)
      .withColumn("kb", pmod(xxhash64(col("key")), lit(m.buckets.toLong)).cast("int"))
    val kbs = keyed.select(col("kb")).distinct().collect().map(_.getInt(0))
    val stored = graft.dedup.SignatureIndex.storedMatched(
      spark, graft.sources.IndexState.dataPath(spark, dir), keyed, kbs)
    val s = fmt(stored)
    assert(s.contains("PartitionFilters") && s.contains("kb"), s)
    assert(s.matches("(?s).*PartitionFilters: \\[[^\\]]*kb[^\\]]*(IN|In|=)[^\\]]*\\].*"), s)
    // and the candidate derivation still answers over the materialized frame
    val cand = graft.dedup.SignatureIndex.candidates(
      spark, dir, m, graft.dedup.SignatureIndex.bandKeys(probe, "id", "t", m))
    assert(cand.count() >= 0L)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("pruned BM25 probe scans only the term buckets the workload hashes into") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = graft.util.TempDirs.scratch("plan-bm25-pruned").toString
    val docs = (0L until 40L)
      .map(i => i -> s"shared corpus words alpha bravo tok${i % 5} doc$i")
      .toDF("doc_id", "text")
    graft.functions.Retrieval.writeBm25Index(docs, "doc_id", "text", dir, buckets = 16)
    val probe = graft.functions.Retrieval.bm25TopKIndexedPrunedBatch(
      dir, Seq((1L, "shared alpha")).toDF("qid", "qtext"), "qid", "qtext", 10)
    // the production-default probe must push the workload's term-bucket set
    // as a static partition filter into BOTH sidecar scans — the impacts
    // scan (the capped postings) and the termdf scan (the true df)
    val scans = probe.queryExecution.executedPlan.collectLeaves().map(_.toString)
    for (sidecar <- Seq("_graft_impacts", "_graft_termdf")) {
      val s = scans.find(_.contains(sidecar))
      assert(s.isDefined, s"no $sidecar scan in:\n${scans.mkString("\n")}")
      assert(
        s.get.contains("PartitionFilters") &&
          !s.get.replaceAll("\\s", "").contains("PartitionFilters:[]"),
        s"$sidecar scan is not bucket-pruned:\n${s.get}")
    }
    // and the full postings are NOT read at all — the probe is sidecar-only
    val dirName = new java.io.File(dir).getName
    assert(
      !scans.exists(s => s.contains(dirName) && !s.contains("_graft")),
      s"pruned probe must not scan the full postings:\n${scans.mkString("\n")}")
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("one_to_many child agg keeps map-side partial aggregation") {
    val p = plan(SparkEntry.queries("q_child_agg")(spark, sf))
    // partial + final HashAggregate pair around the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(p.contains("Exchange hashpartitioning(l_orderkey"))
  }

  test("bucketed tables co-locate: join and aggregation on the bucket key shuffle nothing") {
    val load = Tables.load(spark, sf) _
    Tables.writeBucketed(load("orders"), "b_orders", Seq("o_orderkey"), nBuckets = 8)
    Tables.writeBucketed(load("lineitem"), "b_lineitem", Seq("l_orderkey"), nBuckets = 8)
    val o = Tables.loadBucketed(spark)("b_orders")
    val li = Tables.loadBucketed(spark)("b_lineitem")
    val joined = o.join(li, o("o_orderkey") === li("l_orderkey"))
      .groupBy(col("o_orderkey")).agg(sum(col("l_quantity")).as("q"))
    joined.write.mode("overwrite").format("noop").save()
    val p = plan(joined)
    assert(!p.contains("Exchange hashpartitioning"), s"unexpected shuffle in:\n$p")
    // same join WITHOUT bucketing shuffles both sides
    val unbucketed = load("orders").join(load("lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey")).agg(sum(col("l_quantity")).as("q"))
    assert(plan(unbucketed).contains("Exchange hashpartitioning"))
  }

  test("shuffle budget: flagship assembly plans exactly one exchange per one_to_many child") {
    // the cost model the architecture promises: each one_to_many child = ONE
    // shuffle (groupBy on the FK, reused by the join); one_to_one dims
    // broadcast. A regression that double-shuffles (e.g. groupBy key ≠ join
    // key, or a lost broadcast) must fail loudly here, not at 100 TB.
    val df = DocAssembler.assemble(
      SchemaDef.parseNodes(Fixtures.flagship),
      Tables.load(spark, sf),
      Catalog.testData
    )
    val p = plan(df)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    // flagship = 1 one_to_many (lineitem) + 1 one_to_one (customer,
    // broadcast): exactly one hash exchange
    assert(exchanges == 1, s"expected 1 hash exchange, found $exchanges:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"customer dim should broadcast:\n$p")
  }

  /** Count physical nodes by their "(NN) Name" detail headers — the tree
    * section repeats node names, so raw substring counts double-count.
    */
  private def nodeCount(s: String, name: String): Int =
    s.split("\n").count(_.matches(s"""\\(\\d+\\) $name.*"""))

  test("quality gates are shuffle-free single-scan projections") {
    for (q <- Seq("q_quality_gopher", "q_quality_repetition", "q_quality_c4")) {
      val s = fmt(SparkEntry.queries(q)(spark, sf))
      // one map-side pass: no shuffle, no UDF, a single parquet scan (the
      // HOF run-length passes evaluate as expressions, never a second scan
      // or an explode+regroup)
      assert(!s.contains("Exchange"), s"$q must not shuffle — it is a map-side gate")
      assert(!s.contains("ScalaUDF") && !s.contains("BatchEvalPython"), q)
      assert(nodeCount(s, "Scan parquet") == 1, q)
      assert(nodeCount(s, "Generate") == 0, s"$q must not explode")
      // the native signal structs generate a direct kernel call
      // (NativeKernelCodegen), they are NOT CodegenFallback — which would
      // exclude the whole projection stage from WholeStageCodegen
      assert(wscgProjects(SparkEntry.queries(q)(spark, sf)), s"$q projection left WholeStageCodegen")
    }
  }

  /** Every ProjectExec in the plan sits under a WholeStageCodegenExec. */
  private def wscgProjects(df: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    val p = df.queryExecution.executedPlan
    val inWscg = p.collect { case w: WholeStageCodegenExec => w }
      .flatMap(_.collect { case pr: ProjectExec => pr })
    val all = p.collect { case pr: ProjectExec => pr }
    all.nonEmpty && all.size == inWscg.size
  }

  test("fused quality gate: one scan, zero exchanges, inside WholeStageCodegen") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = graft.functions.QualityRules.all(docs, "doc_id", "text")
    val s = fmt(df)
    // all three gates from ONE scan of the corpus with zero exchanges —
    // running them separately costs three scans
    assert(nodeCount(s, "Scan parquet") == 1, s)
    assert(!s.contains("Exchange"), "fused gate must not shuffle")
    assert(!s.contains("ScalaUDF") && !s.contains("BatchEvalPython"))
    assert(wscgProjects(df), s"fused projection left WholeStageCodegen:\n${plan(df)}")
    // the scan reads only (doc_id, text) — signals don't widen the scan
    assert(s.contains("ReadSchema: struct<doc_id:bigint,text:string>"), s)
  }

  test("temperatureMix broadcasts the target table; documents shuffle once") {
    val df = SparkEntry.queries("q_mix_temperature")(spark, sf)
    val s = fmt(df)
    // the stratum-target table is model-sized → must come in as a broadcast,
    // never a sort-merge join on the data
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("SortMergeJoin"), "targets must broadcast, not sort-merge")
    // hash exchanges: the stratum-count aggregate (1), the tiny
    // single-partition total window (2), the phase-2 rank window (3) — the
    // document set itself crosses the wire exactly once
    assert(nodeCount(s, "Exchange") <= 3, s)
    // the corpus is scanned twice (count pass + data pass), never more —
    // the weights subtree must not be duplicated into a third scan
    assert(nodeCount(s, "Scan parquet") == 2, s)
  }

  test("semantic dedup assigns cells map-side and verifies IN-CELL: no pair joins") {
    val df = graft.dedup.Dedup.semantic(
      Tables.load(spark, sf)("embeddings"), "vec_id", "embedding",
      threshold = 0.4, nlists = 4, refine = 0)
    val s = fmt(df)
    // centroids are plan literals: assignment must be a Project, not a join
    // against a centroid table
    assert(!s.contains("ScalaUDF"), s)
    // the verify runs inside CellPairsCosineKernel — candidate pairs never
    // materialize, so there must be NO join anywhere in the plan
    val joins = nodeCount(s, "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)")
    assert(joins == 0, s"expected 0 joins (in-cell verify), got $joins\n$s")
    // ONE hash exchange: the corpus grouped into its cells (each vector
    // crosses the wire once); the old join verify paid this plus a pair
    // distinct plus two join exchanges
    assert(nodeCount(s, "Exchange") == 1, s)
    assert(s.toLowerCase.contains("cellpairscosinekernel"), s)
  }

  test("vector operators compile to the native expression, not interpreted HOFs") {
    val s = plan(SparkEntry.queries("q_dedup_embed")(spark, sf))
    assert(s.toLowerCase.contains("vectorbinaryop(")) // graft.expr.VectorBinaryOp
    assert(!s.contains("zip_with") && !s.contains("BatchEvalPython")) // no HOF/UDF fallback
    // embeddings scan is pruned to the two needed columns
    assert(s.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"))
  }

  test("quantized ANN ranks on tinyint codes through the same native cosine") {
    val s = plan(SparkEntry.queries("q_ann_quantized")(spark, sf))
    // the hot scoring loop is the codegen VectorBinaryOp over array<tinyint>
    assert(s.toLowerCase.contains("vectorbinaryop("), s)
    // quantization itself (prep path) must not fall back to UDFs
    assert(!s.contains("BatchEvalPython") && !s.contains("ScalaUDF"))
  }

  test("residual IVF-PQ scan is HOF-free: the shift identity keeps it native") {
    // regression guard for the 29.2 s -> 3.4 s rewrite: the naive residual
    // column duplicated an interpreted zip_with into all m × codeK distance
    // evaluations (1025 nodes in the optimized plan). The shifted-codebook
    // form must contain NO higher-order functions at all — only the native
    // VectorBinaryOp distances and literal element_at lookups.
    val df = SparkEntry.queries("q_ann_ivfpq_residual")(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("zip_with") && !opt.contains("transform("),
      "residual IVF-PQ must not materialize residuals per distance")
    assert(opt.toLowerCase.contains("vectorbinaryop("), "distances must be native")
  }

  test("ANN and batch-retrieval top-k rank through the bounded heap, not a corpus window") {
    // the window formulation shuffles AND sorts every scored pair; the
    // TopKAgg heap exchanges only queries × k pairs per map partition —
    // result-sized, the shape a 100 TB corpus needs. Guard the whole
    // converted family.
    for (q <- Seq("q_ann_topk", "q_ann_quantized", "q_ann_ivf", "q_ann_ivfpq",
        "q_ann_binary", "q_ann_matryoshka", "q_bm25_batch", "q_hybrid_rrf_batch")) {
      val s = plan(SparkEntry.queries(q)(spark, sf))
      assert(!s.contains("Window ["), s"$q must not rank via a window exchange")
      assert(s.contains("ObjectHashAggregate"), s"$q top-k must be the TopKAgg heap")
    }
  }

  test("binary ANN candidate scan is packed-integer codegen, no HOFs") {
    val df = SparkEntry.queries("q_ann_binary")(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    // the candidate stage must rank on popcount-xor over plan-time-unrolled
    // packed words — never an interpreted per-element HOF
    assert(!opt.contains("zip_with") && !opt.contains("aggregate("),
      "hamming must not be a higher-order fold")
    assert(opt.toLowerCase.contains("bit_count"), "hamming must be popcount over packed words")
    // the exact rerank still scores with the native vector expression
    assert(opt.toLowerCase.contains("vectorbinaryop("), "rerank cosine must be native")
  }

  test("matryoshka ANN ranks candidates on a sliced prefix with the native cosine") {
    val df = SparkEntry.queries("q_ann_matryoshka")(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("slice("), "candidate stage must score a prefix slice")
    assert(opt.toLowerCase.contains("vectorbinaryop("), "prefix + rerank cosine must be native")
    assert(!opt.contains("BatchEvalPython") && !opt.contains("ScalaUDF"))
  }

  test("Bloom decontamination prefilters with a predicate, not a shingle-set join") {
    val df = SparkEntry.queries("q_decontaminate_bloom")(spark, sf)
    val s = plan(df)
    // the probe-shingle prefilter is the codegen BloomFilterMightContain
    // predicate over a filter binary — at eval-suite scale this is a
    // fixed-size literal per executor, never a broadcast of the shingle set
    assert(s.contains("might_contain"), s)
    // exactly one left-semi-free corpus posting path: the only joins left
    // are the exact intersection + probe-size joins
    assert(!s.contains("LeftSemi"), "Bloom path must not also semi-join the shingle set")
  }

  test("dedupLines elects keepers with an aggregate, not a per-hash window") {
    val df = SparkEntry.queries("q_dedup_lines")(spark, sf)
    val s = plan(df)
    // keeper election must be min(struct(doc,pos)) — map-side combining —
    // not a row_number window per hash (a viral line would funnel one task)
    assert(!s.contains("Window"), s"keeper election must not be a window:\n$s")
    assert(s.contains("partial_min") || s.contains("min(struct"), s)
  }
}
