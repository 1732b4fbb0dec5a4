package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Kafka wiring for the live-candle path — the S1 connector half the
  * reference implements as a websocket consumer (app/data_collector.py:
  * 405-426 reads exchange JSON and feeds the candle pipeline). Here the
  * transport is Structured Streaming's Kafka source and the decode is a
  * declarative `from_json` projection, so the SAME [[CandleAssembler]]
  * aggregation runs behind either a broker or any test source that
  * produces the wire schema.
  *
  * Split on purpose:
  *  - [[source]] is the thin `readStream.format("kafka")` hookup — it
  *    needs the spark-sql-kafka connector on the classpath and a real
  *    broker, neither of which exists in the build sandbox;
  *  - [[trades]] is everything testable: wire schema → typed Trade
  *    stream. Tests drive it with a MemoryStream shaped exactly like
  *    the Kafka source's fixed output schema, which is what the
  *    connector would hand us — the seam is the schema, not the socket.
  *
  * Payload contract (the reference's message shape, SURVEY §2.1): the
  * record value is UTF-8 JSON `{"symbol","ts","price","qty"}` with ts
  * in epoch millis. Malformed JSON, missing fields, and non-positive
  * qty are dropped (from_json yields nulls; the filter is the same
  * CHECK-constraint posture as IngestOps) — a poison message must never
  * kill the stream.
  */
object KafkaWire {

  /** The Kafka source's fixed output schema (spark-sql-kafka contract). */
  val WireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** One kafka-shaped record, for MemoryStream test twins. */
  final case class Record(
      key: Array[Byte], value: Array[Byte], topic: String,
      partition: Int, offset: Long, timestamp: Timestamp, timestampType: Int)

  private val PayloadSchema: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("ts", LongType),
    StructField("price", DoubleType),
    StructField("qty", DoubleType)))

  /** The thin broker hookup. Requires the spark-sql-kafka connector on
    * the classpath; every transform lives in [[trades]] so nothing here
    * needs (or gets) test coverage beyond compilation.
    */
  def source(spark: SparkSession, bootstrapServers: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .load()

  /** Wire schema → typed trades. Works identically on a streaming or
    * batch frame (the decode is a stateless projection + filter).
    */
  def trades(wire: DataFrame): Dataset[CandleAssembler.Trade] = {
    implicit val enc = Encoders.product[CandleAssembler.Trade]
    wire
      .select(from_json(col("value").cast("string"), PayloadSchema).as("__p"))
      .select(
        col("__p.symbol").as("symbol"),
        timestamp_millis(col("__p.ts")).as("ts"),
        col("__p.price").as("price"),
        col("__p.qty").as("qty"))
      .filter(col("symbol").isNotNull && col("ts").isNotNull &&
        col("price").isNotNull && col("qty").isNotNull && col("qty") > 0)
      .as[CandleAssembler.Trade]
  }

  /** The full S1 path: kafka-shaped stream → assembled candles. */
  def assembledCandles(
      wire: DataFrame,
      grainMs: Long,
      watermark: String
  ): Dataset[CandleAssembler.AssembledCandle] =
    CandleAssembler.assemble(trades(wire), grainMs, watermark)
}
