package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Key-skew measurement for salting decisions: a hot grouping key funnels
  * its entire row volume through one task, so a per-group sort/rank decides
  * how many salt sub-partitions the hottest group needs from a cheap
  * profile of the group sizes ([[WindowOps]] is the caller).
  */
object Salting {

  /** The group-size histogram collapsed to the three numbers the salting
    * decision needs — the q155 key-skew profiler's reading as a value:
    * group count, total rows, and the largest single group. */
  case class SkewProfile(nGroups: Long, nRows: Long, maxGroup: Long)

  /** One map-side-combined pass: per-group counts collapse to the
    * three-scalar profile (the per-group frame never leaves the executors
    * beyond |groups| partial rows; the final agg is one row). Column
    * pruning reduces the scan to the `part` columns only. */
  def profileGroups(df: DataFrame, part: Seq[Column]): SkewProfile = {
    val r = df.groupBy(part: _*).agg(count(lit(1)).as("__n"))
      .agg(count(lit(1)), coalesce(sum(col("__n")), lit(0L)),
        coalesce(max(col("__n")), lit(0L)))
      .head()
    SkewProfile(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Salt factor for a per-group sort/rank given the measured skew: 1 =
    * plain window (no group exceeds a fair per-task share), otherwise the
    * number of sub-partitions needed to bring the HOTTEST group down to
    * roughly one task's share, capped at the parallelism (salting finer
    * than the task count buys nothing and pays survivor-set growth —
    * phase 2 re-ranks salts·k rows per group).
    *
    * The rule is pure arithmetic on the profile: salts =
    * ceil(maxGroup · parallelism / nRows), i.e. "how many fair shares does
    * the hottest group span". A uniform many-group frame yields ≤ 1
    * (plain); the 90 %-hot-key fixture yields ≈ 0.9·parallelism. */
  def adviseSalts(p: SkewProfile, parallelism: Int): Int = {
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    if (p.nRows <= 0 || p.maxGroup <= 0) 1
    else {
      val spans = (p.maxGroup * parallelism + p.nRows - 1) / p.nRows
      math.min(math.max(spans, 1L), parallelism.toLong).toInt
    }
  }
}
