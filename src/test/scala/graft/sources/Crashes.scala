package graft.sources

/** Crash injection for the crash-replay specs, through the index log's
  * test-only [[IndexLog.crashHook]].
  */
object Crashes {

  final case class Crash(point: String) extends RuntimeException(s"injected crash at $point")

  /** Run `f`, crashing the `nth` time it reaches `point` (`write:<kind>` or
    * `commit`); the crash must happen.
    */
  def crashAt(point: String, nth: Int = 1)(f: => Unit): Unit = {
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    IndexLog.crashHook = p => if (p == point && seen.incrementAndGet() == nth) throw Crash(p)
    try {
      val crashed =
        try { f; false }
        catch { case _: Crash => true }
      require(crashed, s"$point #$nth was never reached")
    } finally IndexLog.crashHook = _ => ()
  }

  /** The crash points `f` reaches, each with its occurrence number, in the
    * order of their first arrival (the concurrent writes of one mutation
    * arrive in any order).
    */
  def pointsOf(f: => Unit): Seq[(String, Int)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    IndexLog.crashHook = p => { seen.add(p); () }
    try f
    finally IndexLog.crashHook = _ => ()
    val all = seen.toArray(Array.empty[String]).toSeq
    all.indices.map(i => all(i) -> all.take(i + 1).count(_ == all(i)))
  }
}
