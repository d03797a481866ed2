package graft

import org.scalatest.Assertions._

/** Both tiers of a two-tier operator on the same input: a block runs at
  * [[Distributed]] (every ceiling 0, so every [[graft.util.Tier.within]]
  * probe takes the distributed tier) and at the default [[Tuning]], and the
  * persisted states it returns must be equal, key by key.
  */
object TwoTier {

  val Distributed: Tuning = Tuning(inSetThreshold = 0, collectCeiling = 0)

  /** Run `state` at [[Distributed]] and at `Tuning()`; fail naming every
    * key whose value differs. Returns the default-tier state.
    */
  def assertSame(state: Tuning => Map[String, Any], clue: => String = ""): Map[String, Any] = {
    val (dist, default) = (state(Distributed), state(Tuning()))
    assert(dist.keySet == default.keySet, clue)
    val differ = dist.keys.toSeq.sorted.filter(k => dist(k) != default(k))
    if (differ.nonEmpty)
      fail(differ.map(k => s"$k differs between tiers:\n  distributed ${dist(k)}\n  default ${default(k)}")
        .mkString("", "\n", if (clue.isEmpty) "" else s"\n($clue)"))
    default
  }
}
