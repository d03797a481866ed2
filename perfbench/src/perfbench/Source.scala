package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}

/** The benchmark's stand-in for the source database. Each table is a base
  * parquet directory written once from the seed, plus an overlay of every
  * row changed since: a JSON-lines file per committed version holding the
  * changed rows' latest images and delete markers. [[load]] is the `load`
  * the engine receives: base rows whose key is not in the overlay, plus
  * the overlay's live rows. A commit writes the new overlay file and only
  * then flips the version pointer, so a reader sees whole versions — the
  * order of a database commit before its change event is published.
  */
final class Source(spark: SparkSession, dir: String, keys: Map[String, Seq[String]]) {

  @volatile private var version = 0
  private val schemas = scala.collection.concurrent.TrieMap.empty[String, StructType]

  private def baseDir(t: String) = s"$dir/$t/base"
  private def overlayFile(t: String, v: Int) = Paths.get(s"$dir/$t/overlay-$v.json")

  /** Write a base table; its schema is fixed from here on. */
  def writeBase(t: String, df: DataFrame): Unit = {
    df.write.mode("overwrite").parquet(baseDir(t))
    schemas(t) = spark.read.parquet(baseDir(t)).schema
  }

  /** Publish version `v`: every table's overlay lines, then the pointer. */
  def commit(v: Int, overlay: Map[String, Seq[String]]): Unit = {
    require(v > version, s"version $v is not newer than $version")
    overlay.foreach { case (t, lines) =>
      val tmp = Paths.get(s"$dir/$t/.overlay-$v.tmp")
      Files.createDirectories(tmp.getParent)
      Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, overlayFile(t, v), StandardCopyOption.ATOMIC_MOVE)
    }
    version = v
  }

  /** Point readers back at an earlier committed version (trace replays). */
  def rewind(v: Int): Unit = version = v

  def load(t: String): DataFrame = {
    val base = spark.read.parquet(baseDir(t))
    val v = version
    val f = overlayFile(t, v)
    if (v == 0 || !Files.exists(f)) base
    else {
      val ks = keys(t)
      val ov = spark.read
        .schema(StructType(schemas(t).fields :+ StructField("__del", BooleanType)))
        .json(f.toString)
      base
        .join(broadcast(ov.select(ks.map(col): _*)), ks, "left_anti")
        .unionByName(ov.filter(!col("__del")).drop("__del"))
    }
  }
}

object Source {

  val FlagshipKeys: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "customer" -> Seq("c_custkey"))

  val MediaKeys: Map[String, Seq[String]] = Map("media" -> Seq("doc_id"))

  /** orders / lineitem / customer at version 0 of `seed`. */
  def flagship(spark: SparkSession, dir: String, seed: Long): Source = {
    import spark.implicits._
    val s = new Source(spark, dir, FlagshipKeys)
    val parts = 8
    s.writeBase("customer", spark.range(1, Gen.Customers + 1, 1, parts).as[Long]
      .map(c => (c, Gen.custName(c, 0), Gen.custSeg(seed, c, 0)))
      .toDF("c_custkey", "c_name", "c_mktsegment"))
    s.writeBase("orders", spark.range(1, Gen.Orders + 1, 1, parts).as[Long]
      .map(k => (k, Gen.custOf(seed, k), Gen.orderStatus(seed, k, 0), Gen.orderPrice(seed, k, 0)))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"))
    s.writeBase("lineitem", spark.range(0, Gen.Orders * Gen.LinesPerOrder, 1, parts).as[Long]
      .map { i =>
        val k = i / Gen.LinesPerOrder + 1
        val ln = (i % Gen.LinesPerOrder).toInt + 1
        (k, ln, Gen.lineQty(seed, k, ln, 0), Gen.linePrice(seed, k, ln, 0), Gen.lineFlag(seed, k, ln, 0))
      }
      .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"))
    s
  }

  /** media(doc_id, text, embedding) at version 0 of `seed`. */
  def media(spark: SparkSession, dir: String, seed: Long): Source = {
    import spark.implicits._
    val s = new Source(spark, dir, MediaKeys)
    s.writeBase("media", spark.range(1, Gen.MediaDocs + 1, 1, 2).as[Long]
      .map(id => (id, Gen.text(seed, id, 0), Gen.vec(seed, id, 0)))
      .toDF("doc_id", "text", "embedding"))
    s
  }
}
