package perfbench

import scala.collection.mutable

/** Seeded inputs. Every source row is a pure function of (seed, key,
  * version), so the base tables Spark writes and the row images the change
  * generators put into events agree without sharing state; the generators
  * draw their choices from one `SplittableRandom` seeded from `--seed`.
  * The same seed gives byte-identical batches and source post-states.
  */
object Gen {

  // flagship corpus: 4 lineitems per order, ~10 orders per customer
  val Orders = 20000L
  val LinesPerOrder = 4
  val Customers = 2000L
  // media corpus (documents ⋈ embeddings)
  val MediaDocs = 2000L
  val Dim = 64
  /** Keys at or below this are never deleted: doc-by-id probe targets. */
  val ProbeKeys = 1000L
  val ProbeDocs = 100L

  /** One change event, [[graft.cdc.Changes.schema]] shape. */
  final case class Event(op: String, tbl: String, old: String, neu: String, txid: Long) {
    def json: String =
      s"""{"tg_op":${Json.quote(op)},"tbl":${Json.quote(tbl)},"old":${opt(old)},"new":${opt(neu)},"txid":$txid}"""
    private def opt(s: String) = if (s == null) "null" else Json.quote(s)
  }

  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, n) from (seed, salt, a, b). */
  def pick(seed: Long, salt: Int, a: Long, b: Long, n: Long): Long =
    java.lang.Long.remainderUnsigned(mix(mix(mix(seed * 31 + salt) ^ a) ^ (b * 0x632be59bd9b4e019L)), n)

  private val Statuses = Array("O", "F", "P")
  private val Flags = Array("A", "N", "R")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  def custOf(seed: Long, okey: Long): Long = 1 + pick(seed, 1, okey, 0, Customers)
  def orderStatus(seed: Long, k: Long, v: Int): String = Statuses(pick(seed, 2, k, v, 3).toInt)
  def orderPrice(seed: Long, k: Long, v: Int): Double = pick(seed, 3, k, v, 50000000L) / 100.0
  def lineQty(seed: Long, k: Long, ln: Int, v: Int): Double = (1 + pick(seed, 4, k * 8 + ln, v, 50)).toDouble
  def linePrice(seed: Long, k: Long, ln: Int, v: Int): Double = pick(seed, 5, k * 8 + ln, v, 10000000L) / 100.0
  def lineFlag(seed: Long, k: Long, ln: Int, v: Int): String = Flags(pick(seed, 6, k * 8 + ln, v, 3).toInt)
  def custName(c: Long, v: Int): String = f"Customer#$c%09d" + (if (v == 0) "" else s"~$v")
  def custSeg(seed: Long, c: Long, v: Int): String = Segments(pick(seed, 7, c, v, 5).toInt)

  def orderJson(seed: Long, k: Long, cust: Long, v: Int): String =
    s"""{"o_orderkey":$k,"o_custkey":$cust,"o_orderstatus":"${orderStatus(seed, k, v)}","o_totalprice":${orderPrice(seed, k, v)}}"""
  def lineJson(seed: Long, k: Long, ln: Int, v: Int): String =
    s"""{"l_orderkey":$k,"l_linenumber":$ln,"l_quantity":${lineQty(seed, k, ln, v)},"l_extendedprice":${linePrice(seed, k, ln, v)},"l_returnflag":"${lineFlag(seed, k, ln, v)}"}"""
  def custJson(seed: Long, c: Long, v: Int): String =
    s"""{"c_custkey":$c,"c_name":"${custName(c, v)}","c_mktsegment":"${custSeg(seed, c, v)}"}"""

  private val Syllables =
    Array("ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "vu", "ze", "ba", "do", "fi", "gu", "he")
  /** 3 375 three-syllable words; texts draw them with a squared-uniform
    * skew, so a few terms are frequent and most are rare.
    */
  private val Vocab: Array[String] =
    for (a <- Syllables; b <- Syllables; c <- Syllables) yield a + b + c

  def text(seed: Long, id: Long, v: Int): String = {
    val n = 12 + pick(seed, 8, id, v, 20).toInt
    (0 until n).map { i =>
      val u = pick(seed, 9, id * 64 + i, v, 1L << 20) / (1L << 20).toDouble
      Vocab((Vocab.length * u * u).toInt)
    }.mkString(" ")
  }

  def vec(seed: Long, id: Long, v: Int): Array[Float] =
    Array.tabulate(Dim)(i => ((pick(seed, 10, id * Dim + i, v, 2000001L) - 1000000L) / 1000000.0).toFloat)

  def mediaJson(seed: Long, id: Long, v: Int): String =
    s"""{"doc_id":$id,"text":${Json.quote(text(seed, id, v))},"embedding":${vec(seed, id, v).mkString("[", ",", "]")}}"""

  /** Row image with the overlay's delete flag appended. */
  def live(rowJson: String): String = rowJson.dropRight(1) + ""","__del":false}"""

  /** Live-key set with O(1) uniform draws and removals. */
  private final class KeySet(init: Iterator[Long]) {
    private val keys = mutable.ArrayBuffer.empty[Long]
    private val pos = mutable.LongMap.empty[Int]
    init.foreach(add)
    def add(k: Long): Unit = { pos(k) = keys.size; keys += k }
    def remove(k: Long): Unit = {
      val i = pos.remove(k).get
      val last = keys.remove(keys.size - 1)
      if (last != k) { keys(i) = last; pos(last) = i }
    }
    def size: Int = keys.size
    def draw(rng: java.util.SplittableRandom): Long = keys(rng.nextInt(keys.size))
  }

  /** Change generator for the flagship tree (orders ← lineitem, orders →
    * customer). Each [[nextBatch]] is [[BatchSize]] events:
    *   - 300 order INSERTs, each with its 4 lineitem INSERTs (1 500)
    *   - 200 order DELETEs, each with its 4 lineitem DELETEs (1 000)
    *   - 1 000 order UPDATEs
    *   - 1 250 lineitem UPDATEs (resolved by walking up `l_orderkey`)
    *   - 250 customer UPDATEs (each fans out to its ~10 orders)
    * Within a batch the deleted, updated and line-updated orders are
    * disjoint. [[overlay]] renders the source post-state after the batch.
    */
  final class OrdersWorld(seed: Long) {
    private val rng = new java.util.SplittableRandom(mix(seed ^ 0x0c0ffeeL))
    private val liveOrders = new KeySet(Iterator.range(1, Orders.toInt + 1).map(_.toLong))
    private var nextKey = Orders + 1
    private var txid = 0L
    private val orderVer = mutable.LongMap.empty[Int]
    private val insertedCust = mutable.LongMap.empty[Long]
    private val lineVer = mutable.HashMap.empty[(Long, Int), Int]
    private val custVer = mutable.LongMap.empty[Int]
    // source post-state: changed key → row image, or None once deleted
    private val orderOverlay = mutable.LongMap.empty[Option[String]]
    private val lineOverlay = mutable.HashMap.empty[(Long, Int), Option[String]]
    private val custOverlay = mutable.LongMap.empty[Option[String]]

    val BatchSize = 5000

    private def cust(k: Long) = insertedCust.getOrElse(k, custOf(seed, k))
    private def order(k: Long) = orderJson(seed, k, cust(k), orderVer.getOrElse(k, 0))
    private def line(k: Long, ln: Int) = lineJson(seed, k, ln, lineVer.getOrElse((k, ln), 0))

    def nextBatch(): Vector[Event] = {
      val out = Vector.newBuilder[Event]
      def tx(): Long = { txid += 1; txid }
      val touched = mutable.HashSet.empty[Long]
      def drawFresh(deletable: Boolean): Long = {
        var k = liveOrders.draw(rng)
        while (touched.contains(k) || (deletable && k <= ProbeKeys)) k = liveOrders.draw(rng)
        touched += k
        k
      }
      (0 until 300).foreach { _ =>
        val k = nextKey; nextKey += 1
        val t = tx()
        insertedCust(k) = 1 + rng.nextLong(Customers)
        out += Event("INSERT", "orders", null, order(k), t)
        orderOverlay(k) = Some(order(k))
        (1 to LinesPerOrder).foreach { ln =>
          out += Event("INSERT", "lineitem", null, line(k, ln), t)
          lineOverlay((k, ln)) = Some(line(k, ln))
        }
        liveOrders.add(k)
        touched += k
      }
      (0 until 200).foreach { _ =>
        val k = drawFresh(deletable = true)
        val t = tx()
        (1 to LinesPerOrder).foreach { ln =>
          out += Event("DELETE", "lineitem", line(k, ln), null, t)
          lineOverlay((k, ln)) = None
        }
        out += Event("DELETE", "orders", order(k), null, t)
        orderOverlay(k) = None
        liveOrders.remove(k)
      }
      (0 until 1000).foreach { _ =>
        val k = drawFresh(deletable = false)
        val before = order(k)
        orderVer(k) = orderVer.getOrElse(k, 0) + 1
        out += Event("UPDATE", "orders", before, order(k), tx())
        orderOverlay(k) = Some(order(k))
      }
      (0 until 1250).foreach { _ =>
        val k = drawFresh(deletable = false)
        val ln = 1 + rng.nextInt(LinesPerOrder)
        val before = line(k, ln)
        lineVer((k, ln)) = lineVer.getOrElse((k, ln), 0) + 1
        out += Event("UPDATE", "lineitem", before, line(k, ln), tx())
        lineOverlay((k, ln)) = Some(line(k, ln))
      }
      val custs = mutable.LinkedHashSet.empty[Long]
      while (custs.size < 250) custs += 1 + rng.nextLong(Customers)
      custs.foreach { c =>
        val v = custVer.getOrElse(c, 0)
        custVer(c) = v + 1
        out += Event("UPDATE", "customer", custJson(seed, c, v), custJson(seed, c, v + 1), tx())
        custOverlay(c) = Some(custJson(seed, c, v + 1))
      }
      out.result()
    }

    /** Source post-state per table as overlay lines (sorted by key): the
      * row image of every key changed so far, or a delete marker.
      */
    def overlay: Map[String, Seq[String]] = Map(
      "orders" -> orderOverlay.toSeq.sortBy(_._1).map {
        case (k, Some(row)) => live(row)
        case (k, None)      => s"""{"o_orderkey":$k,"__del":true}"""
      },
      "lineitem" -> lineOverlay.toSeq.sortBy(_._1).map {
        case (_, Some(row))   => live(row)
        case ((k, ln), None) => s"""{"l_orderkey":$k,"l_linenumber":$ln,"__del":true}"""
      },
      "customer" -> custOverlay.toSeq.sortBy(_._1).map {
        case (_, Some(row)) => live(row)
        case (c, None)      => s"""{"c_custkey":$c,"__del":true}"""
      }
    )

    def liveOrderCount: Long = liveOrders.size.toLong
  }

  /** Change generator for the media corpus: each [[nextTick]] is one
    * INSERT, two UPDATEs (new text and embedding) and one DELETE on
    * distinct documents.
    */
  final class MediaWorld(seed: Long) {
    private val rng = new java.util.SplittableRandom(mix(seed ^ 0x3ed1aL))
    private val liveDocs = new KeySet(Iterator.range(1, MediaDocs.toInt + 1).map(_.toLong))
    private var nextId = MediaDocs + 1
    private var txid = 0L
    private val ver = mutable.LongMap.empty[Int]
    private val overlayRows = mutable.LongMap.empty[Option[String]]

    val EventsPerTick = 4

    private def row(id: Long) = mediaJson(seed, id, ver.getOrElse(id, 0))

    def nextTick(): Vector[Event] = {
      val out = Vector.newBuilder[Event]
      def tx(): Long = { txid += 1; txid }
      val touched = mutable.HashSet.empty[Long]
      def drawFresh(deletable: Boolean): Long = {
        var k = liveDocs.draw(rng)
        while (touched.contains(k) || (deletable && k <= ProbeDocs)) k = liveDocs.draw(rng)
        touched += k
        k
      }
      val ins = nextId; nextId += 1
      out += Event("INSERT", "media", null, row(ins), tx())
      overlayRows(ins) = Some(row(ins))
      liveDocs.add(ins)
      touched += ins
      (0 until 2).foreach { _ =>
        val k = drawFresh(deletable = false)
        val before = row(k)
        ver(k) = ver.getOrElse(k, 0) + 1
        out += Event("UPDATE", "media", before, row(k), tx())
        overlayRows(k) = Some(row(k))
      }
      val d = drawFresh(deletable = true)
      out += Event("DELETE", "media", row(d), null, tx())
      overlayRows(d) = None
      liveDocs.remove(d)
      out.result()
    }

    def overlay: Map[String, Seq[String]] = Map(
      "media" -> overlayRows.toSeq.sortBy(_._1).map {
        case (_, Some(r)) => live(r)
        case (k, None)    => s"""{"doc_id":$k,"__del":true}"""
      })
  }
}
