package graft.util

import org.apache.spark.sql.{DataFrame, Row}

/** The tier switch every two-tier operator shares: a batch-sized set is
  * collected once to the driver, an oversized one stays distributed. The
  * ceilings come from [[graft.Tuning]].
  */
object Tier {

  /** The rows of `df` when there are at most `ceiling` of them — one
    * `limit(ceiling + 1)` collect — else `None`. A ceiling ≤ 0 returns
    * `None` without running a job, so ceiling 0 always forces the
    * distributed tier.
    */
  def within(df: DataFrame, ceiling: Int): Option[Array[Row]] =
    if (ceiling <= 0) None
    else Some(df.limit(ceiling + 1).collect()).filter(_.length <= ceiling)
}
