package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TimeOps

/** Gap-based sessionization — the event-pipeline primitive that turns a
  * per-user click stream into bounded visits (and a training-data pipeline's
  * unit of "interaction episode" when conversations/tool traces are logged
  * as flat event streams). Reference's closest shape is the per-user funnel
  * scan (`src/analytics/binance_analysis.py` windowed scans); sessions are
  * the beyond-reference generalization.
  *
  * Semantics: events of one key belong to the same session iff consecutive
  * gaps are AT MOST `gapSec`; only a gap STRICTLY greater starts a new
  * session. This is empirically Spark's native `session_window` merge rule
  * (an event at exactly `prev + gap` — the nominal window end — still
  * merges; verified in SessionsSpec's batch-parity test), so this
  * ordinal view and a native `session_window` aggregation agree
  * row-for-row on session membership. We use the lag→flag→running-sum
  * spelling instead of `groupBy(session_window(...))` because the
  * downstream contract needs a deterministic per-user session ORDINAL and
  * per-session event membership, which the struct-keyed native window does
  * not expose without a second pass; the cost shape is identical (one
  * shuffle on the key, per-key ordered scan).
  *
  * Scale: both windows partition by the session key — splittable across
  * keys, and a key's row count is its event history (bounded per user);
  * there is no corpus-wide window. The running sum is rows-unbounded but
  * per-key, pipelined in one pass after the per-key sort. At 100 TB the
  * shuffle is one exchange on (key) reused by both windows and the final
  * aggregate (same partitioning expression, so Catalyst plans ONE
  * exchange).
  */
object Sessionize {

  /** Attach `session_idx` (1-based per-key session ordinal) to every event.
    * `tieCol` breaks equal-timestamp orderings deterministically. */
  def assignSessions(df: DataFrame, keyCol: String, tsCol: String,
                     tieCol: String, gapSec: Long): DataFrame = {
    require(!df.columns.contains("session_idx"),
      "column session_idx already exists on the input")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val us = TimeOps.epochMicros(col(tsCol))
    val prevUs = TimeOps.epochMicros(lag(col(tsCol), 1).over(w))
    df.withColumn("__new",
        when(prevUs.isNull || us - prevUs > gapSec * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_idx",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("__new")
  }

  /** One row per (key, session): ordinal, event count, start/end timestamps
    * and the floor-seconds duration. */
  def sessionStats(df: DataFrame, keyCol: String, tsCol: String,
                   tieCol: String, gapSec: Long): DataFrame =
    assignSessions(df, keyCol, tsCol, tieCol, gapSec)
      .groupBy(col(keyCol), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"))
      .withColumn("duration_sec",
        TimeOps.epochSeconds(col("session_end")) -
          TimeOps.epochSeconds(col("session_start")))
}
