package perfbench

/** The benchmark's own tests: generator determinism and the arithmetic
  * behind percentiles and self time. Run with `run.py --selftest`.
  */
object SelfTest {

  private var failures = 0

  private def expect(what: String)(ok: Boolean): Unit =
    if (!ok) { failures += 1; System.err.println(s"FAIL: $what") }
    else println(s"ok: $what")

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def run(): Unit = {
    generators()
    stats()
    json()
    if (failures > 0) {
      System.err.println(s"$failures selftest failure(s)")
      System.exit(1)
    }
  }

  private def generators(): Unit = {
    def orders(seed: Long) = {
      val w = new Gen.OrdersWorld(seed)
      val batches = (0 until 3).map(_ => w.nextBatch())
      (batches.map(_.map(_.json)), w.overlay)
    }
    val (a, aOverlay) = orders(7)
    val (b, bOverlay) = orders(7)
    val (c, _) = orders(8)
    expect("same seed gives byte-identical change batches")(a == b)
    expect("same seed gives identical source post-states")(aOverlay == bOverlay)
    expect("another seed gives other batches")(a != c)
    val first = new Gen.OrdersWorld(7).nextBatch()
    expect("a batch holds 5 000 changes")(first.size == 5000)
    val mix = first.groupBy(e => (e.op, e.tbl)).map { case (k, v) => k -> v.size }
    expect("batch mix: root inserts/updates/deletes, lineitem walk-ups, customer fan-out")(mix == Map(
      ("INSERT", "orders") -> 300, ("INSERT", "lineitem") -> 1200,
      ("DELETE", "orders") -> 200, ("DELETE", "lineitem") -> 800,
      ("UPDATE", "orders") -> 1000, ("UPDATE", "lineitem") -> 1250,
      ("UPDATE", "customer") -> 250))
    expect("txids never go backwards")(a.flatten.map(j => "\"txid\":(\\d+)".r.findFirstMatchIn(j).get.group(1).toLong)
      .sliding(2).forall(p => p.size < 2 || p(0) <= p(1)))
    val upd = first.find(e => e.op == "UPDATE" && e.tbl == "orders").get
    val k = "\"o_orderkey\":(\\d+)".r.findFirstMatchIn(upd.old).get.group(1).toLong
    expect("an update's before-image is the base row")(
      upd.old == Gen.orderJson(7, k, Gen.custOf(7, k), 0))

    def media(seed: Long) = {
      val w = new Gen.MediaWorld(seed)
      ((0 until 20).map(_ => w.nextTick().map(_.json)), w.overlay)
    }
    expect("same seed gives byte-identical change files")(media(3) == media(3))
    expect("another seed gives other change files")(media(3)._1 != media(4)._1)
    expect("base rows are a pure function of (seed, key, version)")(
      Gen.mediaJson(3, 17, 0) == Gen.mediaJson(3, 17, 0) && Gen.mediaJson(3, 17, 0) != Gen.mediaJson(3, 17, 1))
  }

  private def stats(): Unit = {
    expect("median of an even sample is the mean of the middle two")(close(Stats.median(Seq(4, 1, 3, 2)), 2.5))
    expect("median of an odd sample is its middle value")(close(Stats.median(Seq(5, 1, 3)), 3))
    expect("p90 interpolates between ranks")(close(Stats.percentile((1 to 10).map(_.toDouble), 90), 9.1))
    val hundred = (1 to 100).map(_.toDouble)
    expect("tail of 100 samples is p90 (10 beyond it)")(Stats.tail(hundred).map(_._1).contains(90.0))
    expect("tail of 1 000 samples is p99")(Stats.tail((1 to 1000).map(_.toDouble)).map(_._1).contains(99.0))
    expect("tail of 19 samples does not exist")(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    expect("tail of 20 samples is the median")(Stats.tail((1 to 20).map(_.toDouble)).map(_._1).contains(50.0))
    expect("union of overlapping intervals, clipped")(
      Stats.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 25) == 20)
    expect("disjoint and nested intervals")(Stats.covered(Seq((10L, 20L), (12L, 14L), (30L, 40L)), 0, 100) == 20)
    expect("self time is span minus the children's union")(
      Stats.selfTime((0L, 100L), Seq((10L, 20L), (15L, 30L), (50L, 60L))) == 70)
    expect("children outside the span do not count")(Stats.selfTime((100L, 200L), Seq((0L, 150L))) == 50)
  }

  private def json(): Unit = {
    expect("strings are escaped")(Json.quote("a\"b\\c\nd") == "\"a\\\"b\\\\c\\nd\"")
    expect("maps render in order")(Json.render(scala.collection.mutable.LinkedHashMap("b" -> 1, "a" -> Seq(true, 2.5))) ==
      """{"b":1,"a":[true,2.5]}""")
  }
}
