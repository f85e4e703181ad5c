package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.operators.Sessionize

/** Pins q101's `Sessionize` to Spark's native `session_window` merge rule:
  * consecutive events merge when separated by AT MOST the gap (exactly the
  * gap still merges; only strictly greater splits). */
class SessionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  /** Reference: watermarked native `session_window` aggregation, emitting
    * each session's bounds (the member events' min/max) and size. */
  private def sessionAggregate(events: DataFrame, keyCol: String, tsCol: String,
                               gap: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"))
      .select(col(keyCol), col("session_start"), col("session_end"),
        col("n_events"),
        (graft.functions.TimeOps.epochSeconds(col("session_end")) -
          graft.functions.TimeOps.epochSeconds(col("session_start")))
          .as("duration_sec"))

  test("batch parity: native session_window sessions == Sessionize.sessionStats") {
    // Mixed shapes: multi-event session, exact-gap split, singleton user.
    val events = Seq(
      (1L, 10L, ts(0)), (1L, 11L, ts(100)), (1L, 12L, ts(1899)),
      (1L, 13L, ts(3699)), (1L, 14L, ts(6000)),
      (2L, 20L, ts(50))
    ).toDF("user_id", "event_id", "ts")
    val streamShape = sessionAggregate(events, "user_id", "ts",
        "1800 seconds", "0 seconds")
      .select("user_id", "session_start", "session_end", "n_events", "duration_sec")
      .as[(Long, Timestamp, Timestamp, Long, Long)].collect().toSet
    val batch = Sessionize.sessionStats(events, "user_id", "ts", "event_id", 1800L)
      .select("user_id", "session_start", "session_end", "n_events", "duration_sec")
      .as[(Long, Timestamp, Timestamp, Long, Long)].collect().toSet
    assert(streamShape == batch)
  }
}
