package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Time normalization & calendar projections.
  *
  * Reference semantics: dual-format timestamp sniffing
  * (`src/analytics/binance_analysis.py:108-119`, `src/etl/load_postgres.py:29-36`),
  * hour/weekday parts (`binance_analysis.py:224-230`), date/month keys
  * (`:655,670`), minute floor (`:395`). All functions are pure `Column`
  * expressions — codegen'd, no UDFs, safe inside whole-stage codegen.
  */
object TimeOps {

  /** Normalize a column holding EITHER unix-epoch milliseconds (numeric or
    * numeric string) OR an ISO-8601 timestamp string into a proper
    * TimestampType. Mirrors the reference heuristic "numeric and > 1e10 ⇒
    * epoch-ms" (binance_analysis.py:108-119); session TZ must be UTC.
    */
  def tsMillisOrIso(c: Column): Column = {
    // try_cast, not cast: ANSI mode (Spark 4 default) makes plain cast THROW
    // on non-numeric strings; the sniffer's whole point is permissiveness.
    val asLong = c.try_cast("long")
    when(asLong.isNotNull && asLong > lit(10000000000L), timestamp_millis(asLong))
      .otherwise(try_to_timestamp(c))
  }

  /** 0 = Monday .. 6 = Sunday — the sort key that keeps day-of-week results
    * in calendar order instead of alphabetical (binance_analysis.py:225-230). */
  def weekdayNum(ts: Column): Column = weekday(ts)

  /** Localized day name for display, paired with [[weekdayNum]] for ordering. */
  def weekdayName(ts: Column): Column = date_format(ts, "EEEE")

  /** "YYYY-MM" month bucket (binance_analysis.py:670). */
  def monthStr(ts: Column): Column = date_format(ts, "yyyy-MM")

  /** Floor to minute — the bucket key of the trades→candles alignment join
    * (binance_analysis.py:395). */
  def minuteFloor(ts: Column): Column = date_trunc("minute", ts)

  /** Epoch seconds from EITHER TimestampType or TimestampNTZType (or a
    * castable string). `unix_seconds`/`unix_micros` reject NTZ outright
    * (DATATYPE_MISMATCH — the round-7 q64/q68/q93 regression class), and a
    * bare `.cast("long")` on NTZ is an illegal cast; casting to TimestampType
    * FIRST is legal from both and is the identity on LTZ. Under the UTC
    * session every entrypoint pins, NTZ wall-clock == UTC instant, so the
    * re-interpretation is lossless. All epoch extraction in the library
    * routes through here — never call unix_micros/unix_seconds on a raw
    * input column. */
  def epochSeconds(c: Column): Column = unix_seconds(c.cast("timestamp"))

  /** Epoch microseconds; same type-agnosticism contract as [[epochSeconds]]. */
  def epochMicros(c: Column): Column = unix_micros(c.cast("timestamp"))
}
