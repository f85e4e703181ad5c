package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The Kafka trade feed's record contract (the streaming sibling of
  * [[Rest]] — the reference's collector loop
  * `src/collectors/trades_collector.py:24-48` polls REST and lands CSV; a
  * production deployment of the same pipeline publishes each
  * `/api/v3/trades` object to a Kafka topic keyed by symbol).
  *
  * This object owns the half of that feed that needs no broker: the wire
  * schema Spark's kafka connector emits per record ([[wireSchema]]), the
  * trade payload it carries ([[tradeValueSchema]]), and [[parseTrades]],
  * which projects such records into the trades frame
  * `Bars.oneMinuteBars` consumes. It is pure DataFrame→DataFrame logic,
  * identical for a stream and a batch, so specs drive it from a
  * MemoryStream of wire records. The connector itself (`spark-sql-kafka`)
  * is not a dependency of this build, so no reader is wired here.
  *
  * Delivery: at-least-once replay composes into effectively-once table
  * state because the downstream sink upserts by (symbol, tf, open_time) —
  * the same K4 idempotency argument as Bars. Malformed payloads parse to
  * null and are dropped (poison-pill records must not wedge the stream);
  * they remain countable upstream as `parsed.isNull` if a dead-letter
  * branch is wanted.
  */
object Kafka {

  /** The fixed schema Spark's kafka connector emits per record — the
    * public wire contract specs mock, since no connector is present. */
  val wireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Value payload: one `/api/v3/trades` JSON object per record
    * (trades_collector.py:36-46 field set; price/qty are decimal STRINGS
    * on the wire, as Binance sends them), record key = symbol. */
  val tradeValueSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("price", StringType),
    StructField("qty", StringType),
    StructField("quoteQty", StringType),
    StructField("time", LongType),
    StructField("isBuyerMaker", BooleanType),
    StructField("isBestMatch", BooleanType)))

  /** [[wireSchema]] records → the trades frame (streaming or batch —
    * identical plan both ways, which is what the parity spec pins).
    * Output: (symbol, trade_id, price, qty, quote_qty, trade_time,
    * is_buyer_maker, is_best_match) — a superset of Bars' input. */
  def parseTrades(records: DataFrame): DataFrame =
    records
      .select(col("key").cast("string").as("symbol"),
        from_json(col("value").cast("string"), tradeValueSchema).as("t"))
      // from_json yields null on malformed JSON, and a JSON object missing
      // `time` yields a null field: both are poison pills, both drop here.
      // NOTE the symbol filter also drops records with a NULL Kafka key —
      // an unkeyed producer's trades are well-formed JSON but carry no
      // symbol, so they vanish on the same dead-letter path as poison
      // pills. Operators of unkeyed topics must either key the producer
      // or fork this parse to derive symbol from a value field.
      .where(col("t").isNotNull && col("t.time").isNotNull &&
        col("symbol").isNotNull)
      .select(col("symbol"),
        col("t.id").as("trade_id"),
        col("t.price").cast("double").as("price"),
        col("t.qty").cast("double").as("qty"),
        col("t.quoteQty").cast("double").as("quote_qty"),
        timestamp_millis(col("t.time")).as("trade_time"),
        col("t.isBuyerMaker").as("is_buyer_maker"),
        col("t.isBestMatch").as("is_best_match"))
}
