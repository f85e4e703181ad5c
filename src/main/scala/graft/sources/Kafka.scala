package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Kafka ingestion source (the streaming sibling of [[Rest]] — the
  * reference's collector loop `src/collectors/trades_collector.py:24-48`
  * polls REST and lands CSV; a production deployment of the same pipeline
  * publishes each `/api/v3/trades` object to a Kafka topic keyed by
  * symbol, and this wrapper is that feed's entry point).
  *
  * Deliberately THIN: all heavy lifting stays in Spark's own kafka
  * connector (`format("kafka")`) and in [[graft.streaming.Bars]] — this
  * object only (a) builds the option map from a typed config, and (b)
  * projects the connector's fixed wire schema into the trades frame
  * `Bars.oneMinuteBars` consumes. Both halves are pure DataFrame→DataFrame
  * logic, so they are fully testable without a broker: specs drive
  * [[parseTrades]] from a MemoryStream carrying [[wireSchema]] records and
  * assert the option wiring separately.
  *
  * Scale/delivery: the kafka source reads partitions in parallel (one
  * Spark task per topic-partition slice), `maxOffsetsPerTrigger` bounds
  * micro-batch size for backpressure, and at-least-once replay composes
  * into effectively-once table state because the downstream sink upserts
  * by (symbol, tf, open_time) — the same K4 idempotency argument as Bars.
  * Malformed payloads parse to null and are dropped (poison-pill records
  * must not wedge the stream); they remain countable upstream as
  * `parsed.isNull` if a dead-letter branch is wanted.
  */
object Kafka {

  val Format = "kafka"

  /** The fixed schema Spark's kafka connector emits per record — the
    * public wire contract specs mock when no broker/connector is present. */
  val wireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Connector config. `startingOffsets` is "earliest" | "latest" | a
    * per-partition JSON assignment, verbatim per the connector contract. */
  final case class Config(
      bootstrapServers: String,
      topics: Seq[String],
      startingOffsets: String = "latest",
      maxOffsetsPerTrigger: Option[Long] = None,
      failOnDataLoss: Boolean = true) {
    require(bootstrapServers.nonEmpty, "bootstrapServers must be non-empty")
    require(topics.nonEmpty, "at least one topic is required")
  }

  /** The exact option map handed to the connector — pure, so specs pin it
    * without a broker. */
  def sourceOptions(cfg: Config): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> cfg.bootstrapServers,
      "subscribe" -> cfg.topics.mkString(","),
      "startingOffsets" -> cfg.startingOffsets,
      "failOnDataLoss" -> cfg.failOnDataLoss.toString) ++
      cfg.maxOffsetsPerTrigger.map("maxOffsetsPerTrigger" -> _.toString)

  /** The raw record stream: one row per Kafka record, [[wireSchema]]. */
  def readStream(spark: SparkSession, cfg: Config): DataFrame =
    spark.readStream.format(Format).options(sourceOptions(cfg)).load()

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
