package graft.cdc

import graft.SparkSpec
import graft.assemble.DocAssembler
import graft.catalog.{Catalog, ForeignKey, TableMeta}
import graft.schema.SchemaDef
import graft.sinks.MaterializedIndex
import graft.streaming.StreamSync
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Incremental-maintenance semantics, mirroring the reference's op-handler
  * suite (`tests/test_sync.py`, `tests/test_sync_nested_children.py`): after
  * any change batch, the materialized index must equal a fresh full
  * re-assembly of the current source state, and deletes/PK-changes must
  * remove old `_id`s (`pgsync/sync.py:1194-1225, 1254-1343`).
  */
class CdcSpec extends SparkSpec {
  import spark.implicits._

  private val cat = Catalog(
    Map(
      "book" -> TableMeta("book", Seq("id")),
      "author" -> TableMeta("author", Seq("id")),
      "book_author" -> TableMeta(
        "book_author", Seq("id"),
        Seq(
          ForeignKey("book_author", Seq("book_id"), "book", Seq("id")),
          ForeignKey("book_author", Seq("author_id"), "author", Seq("id"))
        )
      )
    )
  )

  private val schema = SchemaDef.parseNodes(
    """{"table": "book", "columns": ["id", "title"],
        "children": [{"table": "author", "label": "authors", "columns": ["name"],
          "relationship": {"type": "one_to_many", "variant": "object",
                           "through_tables": ["book_author"]}}]}"""
  )

  // mutable source state: the "database"
  private var tables: Map[String, DataFrame] = _

  private def load(t: String): DataFrame = tables(t)

  private def reset(): Unit =
    tables = Map(
      "book" -> Seq((1L, "T1"), (2L, "T2")).toDF("id", "title"),
      "author" -> Seq((100L, "A1"), (200L, "A2")).toDF("id", "name"),
      "book_author" -> Seq((1000L, 1L, 100L), (1001L, 1L, 200L)).toDF("id", "book_id", "author_id")
    )

  private def newSync(): (StreamSync, MaterializedIndex) = {
    val dir = Files.createTempDirectory("graft-index").toString
    val state = new MaterializedIndex(spark, dir)
    val sync = new StreamSync(schema, cat, load, state)
    sync.snapshot()
    (sync, state)
  }

  private def indexAsMap(state: MaterializedIndex): Map[String, String] =
    state.docs.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  private def fullRecompute(): Map[String, String] = {
    val structured = DocAssembler.assemble(schema, load, cat)
    val payload = structured.columns.filterNot(_ == "_id").map(col).toIndexedSeq
    structured
      .select(col("_id"), to_json(struct(payload: _*)).as("doc"))
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap
  }

  private def ch(op: String, t: String, oldJ: String, newJ: String, tx: Long = 1L): DataFrame =
    Changes.of(spark, Seq((op, t, oldJ, newJ, tx)))

  test("snapshot materializes docs + lineage") {
    reset()
    val (_, state) = newSync()
    val docs = indexAsMap(state)
    assert(docs.keySet == Set("1", "2"))
    assert(docs("1").contains("\"authors\":[{\"name\":\"A1\"},{\"name\":\"A2\"}]"))
    assert(docs("2").contains("\"authors\":[]"))
    val lin = state.lineage.collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(lin.contains(("1", "author", "id", "100")))
    assert(lin.contains(("1", "book_author", "id", "1001")))
  }

  test("INSERT of through+child rows updates the affected root only") {
    reset()
    val (sync, state) = newSync()
    // the DB gains: author 200 linked to book 2
    tables += "book_author" ->
      Seq((1000L, 1L, 100L), (1001L, 1L, 200L), (1002L, 2L, 200L)).toDF("id", "book_id", "author_id")
    sync.applyBatch(
      ch(Changes.Insert, "book_author", null, """{"id": 1002, "book_id": 2, "author_id": 200}""")
    )
    val docs = indexAsMap(state)
    assert(docs("2").contains("\"authors\":[{\"name\":\"A2\"}]"))
    assert(docs == fullRecompute())
  }

  test("root DELETE removes the doc (sync.py:1254-1306)") {
    reset()
    val (sync, state) = newSync()
    tables += "book" -> Seq((2L, "T2")).toDF("id", "title")
    sync.applyBatch(ch(Changes.Delete, "book", """{"id": 1, "title": "T1"}""", null))
    val docs = indexAsMap(state)
    assert(docs.keySet == Set("2"))
    assert(docs == fullRecompute())
  }

  test("root PK-change UPDATE deletes old _id and indexes new (sync.py:1194-1225)") {
    reset()
    val (sync, state) = newSync()
    tables += "book" -> Seq((5L, "T1"), (2L, "T2")).toDF("id", "title")
    // book_author still points at book 1 → book 5 has no authors
    sync.applyBatch(
      ch(Changes.Update, "book", """{"id": 1, "title": "T1"}""", """{"id": 5, "title": "T1"}""")
    )
    val docs = indexAsMap(state)
    assert(docs.keySet == Set("5", "2"))
    assert(docs == fullRecompute())
  }

  test("child UPDATE resolves roots through lineage (replaces ES _meta search, sync.py:835-1052)") {
    reset()
    val (sync, state) = newSync()
    tables += "author" -> Seq((100L, "A1x"), (200L, "A2")).toDF("id", "name")
    sync.applyBatch(
      ch(Changes.Update, "author", """{"id": 100, "name": "A1"}""", """{"id": 100, "name": "A1x"}""")
    )
    val docs = indexAsMap(state)
    assert(docs("1").contains("A1x"))
    assert(docs == fullRecompute())
  }

  test("composite-key child UPDATE resolves to its own root, whichever PK column is declared first") {
    val tree = SchemaDef.parseNodes(
      """{"table": "orders", "columns": ["o_orderkey"],
          "children": [{"table": "lineitem", "label": "lines", "columns": ["l_linenumber", "l_qty"],
            "relationship": {"type": "one_to_many", "variant": "object"}}]}"""
    )
    val src = Map(
      "orders" -> (1L to 3L).map(Tuple1(_)).toDF("o_orderkey"),
      "lineitem" -> (for (o <- 1L to 3L; n <- 1 to 2) yield (o, n, 10)).toDF("l_orderkey", "l_linenumber", "l_qty")
    )
    Seq(Seq("l_orderkey", "l_linenumber"), Seq("l_linenumber", "l_orderkey")).foreach { pk =>
      val orderCat = Catalog(Map(
        "orders" -> TableMeta("orders", Seq("o_orderkey")),
        "lineitem" -> TableMeta("lineitem", pk,
          Seq(ForeignKey("lineitem", Seq("l_orderkey"), "orders", Seq("o_orderkey"))))))
      val state = new MaterializedIndex(spark, Files.createTempDirectory("graft-composite").toString)
      new StreamSync(tree, orderCat, src, state).snapshot()
      val update = ch(Changes.Update, "lineitem",
        """{"l_orderkey": 2, "l_linenumber": 1, "l_qty": 10}""",
        """{"l_orderkey": 2, "l_linenumber": 1, "l_qty": 11}""")
      val affected = new IncrementalEngine(tree, orderCat, src)
        .affectedRoots(update, state.lineage).collect().map(_.getString(0)).toSet
      update.unpersist()
      // per-column matching would also hit orders 1 and 3 (they have a line 1)
      assert(affected == Set("2"), s"PK declared as $pk")
    }
  }

  test("child FK-change UPDATE re-assembles both old and new roots") {
    reset()
    val (sync, state) = newSync()
    // link 1001 moves from book 1 to book 2
    tables += "book_author" ->
      Seq((1000L, 1L, 100L), (1001L, 2L, 200L)).toDF("id", "book_id", "author_id")
    sync.applyBatch(
      ch(
        Changes.Update,
        "book_author",
        """{"id": 1001, "book_id": 1, "author_id": 200}""",
        """{"id": 1001, "book_id": 2, "author_id": 200}"""
      )
    )
    val docs = indexAsMap(state)
    assert(docs("1").contains("\"authors\":[{\"name\":\"A1\"}]"))
    assert(docs("2").contains("\"authors\":[{\"name\":\"A2\"}]"))
    assert(docs == fullRecompute())
  }

  test("TRUNCATE of child table clears nested arrays everywhere (sync.py:1308-1343)") {
    reset()
    val (sync, state) = newSync()
    tables += "book_author" ->
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        tables("book_author").schema
      )
    sync.applyBatch(ch(Changes.Truncate, "book_author", null, null))
    val docs = indexAsMap(state)
    assert(docs("1").contains("\"authors\":[]"))
    assert(docs == fullRecompute())
  }

  test("self-referencing child survives incremental reassembly (root filter must not reach the child scan)") {
    val selfCat = Catalog(Map("person" -> TableMeta("person", Seq("id"))))
    val selfSchema = SchemaDef.parseNodes(
      """{"table": "person", "columns": ["id", "name"],
          "children": [{"table": "person", "label": "counterparties", "columns": ["name"],
            "relationship": {"type": "one_to_many", "variant": "object",
              "foreign_key": {"parent": ["buyer_id", "seller_id"], "child": ["id", "id"]}}}]}"""
    )
    var people = Seq((1L, "P1", 7L, 8L), (7L, "P7", 1L, 1L), (8L, "P8", 1L, 7L))
      .toDF("id", "name", "buyer_id", "seller_id")
    val dir = java.nio.file.Files.createTempDirectory("graft-selfref").toString
    val state = new MaterializedIndex(spark, dir)
    val sync = new StreamSync(selfSchema, selfCat, _ => people, state)
    sync.snapshot()
    // change affects person 1 only; its counterparties 7 and 8 must survive
    people = Seq((1L, "P1x", 7L, 8L), (7L, "P7", 1L, 1L), (8L, "P8", 1L, 7L))
      .toDF("id", "name", "buyer_id", "seller_id")
    sync.applyBatch(
      ch(Changes.Update, "person", """{"id": 1, "name": "P1"}""", """{"id": 1, "name": "P1x"}""")
    )
    val doc1 = state.docs.collect().map(r => r.getString(0) -> r.getString(1)).toMap.apply("1")
    assert(doc1.contains("P1x"))
    assert(doc1.contains("\"name\":\"P7\"") && doc1.contains("\"name\":\"P8\""))
  }

  test("random change sequences: incremental == full recompute (idempotence invariant)") {
    reset()
    val (sync, state) = newSync()
    val rnd = new scala.util.Random(42)
    var nextBookId = 10L
    var nextLinkId = 2000L
    for (step <- 1 to 5) {
      val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, String, Long)]
      // randomly insert a book
      if (rnd.nextBoolean()) {
        val id = nextBookId; nextBookId += 1
        val cur = tables("book").collect().map(r => (r.getLong(0), r.getString(1)))
        tables += "book" -> (cur :+ (id, s"T$id")).toSeq.toDF("id", "title")
        batch += ((Changes.Insert, "book", null, s"""{"id": $id, "title": "T$id"}""", step.toLong))
      }
      // randomly link a random author to a random book
      if (rnd.nextBoolean()) {
        val books = tables("book").collect().map(_.getLong(0))
        if (books.nonEmpty) {
          val b = books(rnd.nextInt(books.length))
          val a = if (rnd.nextBoolean()) 100L else 200L
          val id = nextLinkId; nextLinkId += 1
          val cur = tables("book_author").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          tables += "book_author" -> (cur :+ (id, b, a)).toSeq.toDF("id", "book_id", "author_id")
          batch += ((Changes.Insert, "book_author", null,
            s"""{"id": $id, "book_id": $b, "author_id": $a}""", step.toLong))
        }
      }
      // randomly delete a book
      if (rnd.nextInt(3) == 0) {
        val books = tables("book").collect().map(_.getLong(0))
        if (books.length > 1) {
          val b = books(rnd.nextInt(books.length))
          val cur = tables("book").collect().map(r => (r.getLong(0), r.getString(1)))
          tables += "book" -> cur.filterNot(_._1 == b).toSeq.toDF("id", "title")
          batch += ((Changes.Delete, "book", s"""{"id": $b, "title": "x"}""", null, step.toLong))
        }
      }
      if (batch.nonEmpty) {
        sync.applyBatch(Changes.of(spark, batch.toSeq))
        assert(indexAsMap(state) == fullRecompute(), s"divergence at step $step")
      }
    }
  }

  test("re-processing the SAME batch frame keeps its cache; a new frame releases it") {
    reset()
    // the batch plan increments an accumulator on materialization, so cache
    // churn is directly observable: the engine's previous-batch unpersist
    // must NOT fire when the incoming frame IS the previous batch (replay /
    // re-process) — dropping its own still-valid cache re-materializes the
    // feed plan inside the caller's timed window (at a corpus-derived bench
    // feed, a corpus-sized scan)
    val acc = spark.sparkContext.longAccumulator("batch-materializations")
    val rdd = spark.sparkContext
      .parallelize(Seq(("INSERT", "book", null: String, """{"id": 1}""", 1L)), 1)
      .map { r => acc.add(1); org.apache.spark.sql.Row(r._1, r._2, r._3, r._4, r._5) }
    val batch = spark.createDataFrame(rdd, Changes.schema)
    val engine = new IncrementalEngine(schema, cat, load)
    assert(engine.process(batch, Lineage.empty(spark)).collect().nonEmpty)
    val afterFirst = acc.value
    assert(afterFirst > 0, "the batch plan must have materialized at least once")
    assert(engine.process(batch, Lineage.empty(spark)).collect().nonEmpty)
    assert(
      acc.value == afterFirst,
      s"same-frame re-process re-materialized the batch plan (acc $afterFirst -> ${acc.value})"
    )
    // the bounded-lifetime discipline still holds: a genuinely NEW batch
    // releases the previous batch's cache
    val batch2 = Changes.of(spark, Seq(("INSERT", "book", null, """{"id": 2}""", 2L)))
    engine.process(batch2, Lineage.empty(spark)).collect()
    assert(
      batch.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "a new batch must release the previous batch's cache"
    )
  }

  test("PartitionPrune.ofLong mirrors the Spark write expression over the full long range") {
    import graft.cdc.IncrementalEngine.PartitionPrune
    // the driver-side derivation and the write-side directory expression
    // MUST agree for every key, or a static partition filter can miss the
    // directory a row was written to — including |key| >= 2^53, where exact
    // integer division (floorDiv) and floor-of-double-quotient disagree
    val rnd = new scala.util.Random(7)
    val keys: Seq[Long] =
      Seq(0L, 1L, -1L, 42L, -42L, Long.MaxValue, Long.MinValue + 1,
        1L << 53, (1L << 53) + 1, -(1L << 53) - 3, (1L << 62) + 12345L) ++
        Seq.fill(300)(rnd.nextLong())
    for (width <- Seq(1L, 3L, 2048L, 16384L, 1L << 40)) {
      val pp = PartitionPrune("_kp", width)
      keys.toDF("k")
        .select(col("k"), pp.of(col("k")).as("p"))
        .collect()
        .foreach { r =>
          assert(
            pp.ofLong(r.getLong(0)) == r.getLong(1),
            s"driver/write divergence at key=${r.getLong(0)} width=$width: " +
              s"driver=${pp.ofLong(r.getLong(0))} spark=${r.getLong(1)}"
          )
        }
    }
  }

  test("HashBucketPrune driver mirrors match the Spark write expression across key shapes") {
    import graft.cdc.IncrementalEngine.HashBucketPrune
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    // same contract as the key-range pin above, for hash buckets: ofValues
    // (typed values, the sampled layout check) and ofIdString (the `_id`
    // parse-back, the affected-set derivation) must both agree with the
    // write-side pmod(xxhash64(...), n) for every supported key shape —
    // long, int, uuid/text, and composite keys
    val rnd = new scala.util.Random(11)
    val hb = HashBucketPrune("_hb", 64)

    val longs = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue + 1) ++
      Seq.fill(200)(rnd.nextLong())
    longs.toDF("k").select(col("k"), hb.partValue(Seq(col("k"))).as("p"))
      .collect().foreach { r =>
        val (k, p) = (r.getLong(0), r.getLong(1))
        assert(hb.ofValues(Seq(k), Seq(LongType)) == p, s"ofValues long $k")
        assert(hb.ofIdString(k.toString, Seq(LongType), "|").contains(p), s"ofIdString long $k")
      }

    // int keys hash on 4-byte width — they must NOT be folded into longs
    val ints = Seq(0, 1, -1, Int.MaxValue, Int.MinValue) ++ Seq.fill(200)(rnd.nextInt())
    ints.toDF("k").select(col("k"), hb.partValue(Seq(col("k"))).as("p"))
      .collect().foreach { r =>
        val (k, p) = (r.getInt(0), r.getLong(1))
        assert(hb.ofValues(Seq(k), Seq(IntegerType)) == p, s"ofValues int $k")
        assert(hb.ofIdString(k.toString, Seq(IntegerType), "|").contains(p), s"ofIdString int $k")
      }

    // text keys (uuid-shaped plus edge strings; a single-key id is NOT split,
    // so a delimiter character inside it is safe)
    val strs = Seq("", "a", "ord-1", "|", "a|b", "Ünïcode-Ω≈") ++
      Seq.fill(200)(new java.util.UUID(rnd.nextLong(), rnd.nextLong()).toString)
    strs.toDF("k").select(col("k"), hb.partValue(Seq(col("k"))).as("p"))
      .collect().foreach { r =>
        val (k, p) = (r.getString(0), r.getLong(1))
        assert(hb.ofValues(Seq(k), Seq(StringType)) == p, s"ofValues str $k")
        assert(hb.ofIdString(k, Seq(StringType), "|").contains(p), s"ofIdString str $k")
      }

    // composite (long, int) — the concat `_id` splits back on the delimiter
    Seq.fill(200)((rnd.nextLong(), rnd.nextInt())).toDF("a", "b")
      .select(col("a"), col("b"), hb.partValue(Seq(col("a"), col("b"))).as("p"))
      .collect().foreach { r =>
        val (a, b, p) = (r.getLong(0), r.getInt(1), r.getLong(2))
        assert(hb.ofValues(Seq(a, b), Seq(LongType, IntegerType)) == p, s"ofValues ($a,$b)")
        assert(
          hb.ofIdString(s"$a|$b", Seq(LongType, IntegerType), "|").contains(p),
          s"ofIdString ($a,$b)")
      }

    // composite (string, long) — mixed dtypes in one id
    Seq.fill(200)((new java.util.UUID(rnd.nextLong(), rnd.nextLong()).toString, rnd.nextLong()))
      .toDF("a", "b")
      .select(col("a"), col("b"), hb.partValue(Seq(col("a"), col("b"))).as("p"))
      .collect().foreach { r =>
        val (a, b, p) = (r.getString(0), r.getLong(1), r.getLong(2))
        assert(hb.ofValues(Seq(a, b), Seq(StringType, LongType)) == p, s"ofValues ($a,$b)")
        assert(
          hb.ofIdString(s"$a|$b", Seq(StringType, LongType), "|").contains(p),
          s"ofIdString ($a,$b)")
      }

    // ids that cannot be keys in a NUMERIC domain derive NO partition (they
    // match no root row, so deriving nothing for them is exact, not lossy)
    assert(hb.ofIdString("not-a-number", Seq(LongType), "|").isEmpty)
    assert(hb.ofIdString("1|2|3", Seq(LongType, IntegerType), "|").isEmpty)
    assert(hb.ofIdString("7", Seq(LongType, IntegerType), "|").isEmpty)
    // at a composite STRING-bearing domain, a wrong-arity id may be a real
    // key whose value contains the delimiter — ofIdString still returns
    // None, and the ENGINE must fall back to the unpruned scan rather than
    // drop the id (PlanSpec pins the end-to-end fallback on both paths)
    assert(hb.ofIdString("x|5|5", Seq(StringType, LongType), "|").isEmpty)
  }

  test("lineage fromMetaJson == fromDocs: the snapshot's JSON read-back derivation is lossless") {
    // the write-once snapshot (MaterializedIndex.initialize) derives lineage
    // by parsing _meta back out of the written doc JSON instead of holding a
    // corpus-sized persist of the struct frame; this pins the equivalence on
    // the awkward shapes — multiple tables/pks, values with JSON-escaped
    // characters, an empty meta map, a null meta, unicode
    val metaType = org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType,
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))
    val structured = Seq(
      ("1", Map("orders" -> Map("o_orderkey" -> Seq("1")),
                "lineitem" -> Map("l_orderkey" -> Seq("1", "2"), "l_linenumber" -> Seq("9")))),
      ("2", Map("t\"x" -> Map("p\\k" -> Seq("a\"b", "c\\d", "e\nf")))),
      ("3", Map.empty[String, Map[String, Seq[String]]]),
      ("4", null.asInstanceOf[Map[String, Map[String, Seq[String]]]]),
      ("5", Map("ünïcode" -> Map("ключ" -> Seq("väl", "值"))))
    ).toDF(DocAssembler.IdColumn, DocAssembler.MetaColumn)
      // a payload column so the doc JSON has more than _meta (the real shape)
      .withColumn("body", concat(lit("text-"), col(DocAssembler.IdColumn)))
    val flat = structured.select(
      col(DocAssembler.IdColumn),
      to_json(col(DocAssembler.MetaColumn)).as("_graft_meta"))
    val expected = Lineage.fromDocs(structured)
      .collect().map(_.toSeq.mkString(" ")).sorted
    val actual = Lineage.fromMetaJson(flat, "_graft_meta", metaType)
      .collect().map(_.toSeq.mkString(" ")).sorted
    assert(actual.toSeq == expected.toSeq)
    assert(expected.nonEmpty)
  }
}
