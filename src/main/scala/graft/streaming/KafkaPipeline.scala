package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The reference's end-to-end topology as REAL connector wiring —
  * `/root/reference/window_aggregation.py`: a Kafka JSON source on
  * topic `payment_msg` with a 15 s watermark (lines 35-50), the
  * per-event trailing 10 s `payAmount` sum per `provinceId` (lines
  * 73-82), and a Kafka JSON sink on topic `sink` with schema
  * `(province_id int32, pay_amount float64)` (lines 54-68).
  *
  * The `spark-sql-kafka-0-10` connector jar is absent from this image
  * (zero egress), so [[source]]/[[sink]] fail AT the connector
  * boundary here — KafkaPipelineSpec asserts exactly that failure
  * shape, and drives everything on OUR side of the boundary (record
  * projection, JSON codec, watermark, the stateful range transform,
  * the sink codec) over Kafka-record-shaped frames. With the
  * connector jar on the classpath these entry points ARE the running
  * reference pipeline; no other code changes.
  *
  * Scale: the transform is [[StreamingQueries.rangeStateTransform]] —
  * state is per-province and bounded by (window + allowed delay) of
  * event rate, partitions scale with `spark.sql.shuffle.partitions`,
  * and the source parallelism follows the topic's partition count
  * (one Spark input partition per Kafka partition).
  */
object KafkaPipeline {

  /** Source table decl (reference lines 35-50): subscribe to the
    * payment topic from the earliest offset. Yields the connector's
    * record frame — binary `key`/`value` plus topic/partition/offset/
    * timestamp metadata; [[paymentRangeSum]] consumes `value`.
    */
  def source(s: SparkSession, bootstrapServers: String,
      topic: String = "payment_msg",
      startingOffsets: String = "earliest"): DataFrame =
    s.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()

  /** Connector-agnostic core (reference lines 73-82): Kafka-record-
    * shaped rows (a `value` column, binary or string, plus any
    * connector metadata columns — ignored) → JSON payment decode with
    * the 15 s watermark → per-event trailing 10 s `payAmount` sum per
    * province → the reference's sink schema
    * `(province_id int, pay_amount double)`.
    *
    * `heldEmission = true` selects the watermark-held variant
    * ([[StreamingQueries.rangeStateTransformHeld]]) — the reference
    * engine's effective emission order (emit on watermark advance),
    * batch-exact for any in-delay arrival order.
    */
  def paymentRangeSum(s: SparkSession, records: DataFrame,
      heldEmission: Boolean = false): DataFrame = {
    LocalCheckpointFileManager.install(s)
    val payments = StreamingQueries.jsonPaymentSource(
      s, records.select(col("value")), declareWatermark = false)
    // the range transform's expected event shape; its own watermark
    // declaration on `ts` supersedes the source-level one (same
    // column, same 15 s delay)
    val shaped = payments.select(
      col("orderId").as("event_id"),
      col("createTime").as("ts"),
      col("provinceId").cast("long").as("user_id"),
      col("payAmount").as("value"))
    val out =
      if (heldEmission) StreamingQueries.rangeStateTransformHeld(s, shaped)
      else StreamingQueries.rangeStateTransform(s, shaped)
    out.select(col("province_id").cast("int").as("province_id"),
      col("pay_amount"))
  }

  /** Sink table decl (reference lines 54-68): each result row as one
    * JSON object on the sink topic. The checkpoint directory carries
    * the source offsets + operator state for exactly-once resume.
    */
  def sink(df: DataFrame, bootstrapServers: String,
      topic: String = "sink", checkpointDir: String): StreamingQuery = {
    LocalCheckpointFileManager.install(df.sparkSession)
    StreamingQueries.toJsonSink(df).writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)
      .start()
  }

  /** The complete reference pipeline, one call: source topic →
    * trailing range sum → sink topic.
    */
  def run(s: SparkSession, bootstrapServers: String, checkpointDir: String,
      sourceTopic: String = "payment_msg", sinkTopic: String = "sink",
      heldEmission: Boolean = false): StreamingQuery =
    sink(paymentRangeSum(s, source(s, bootstrapServers, sourceTopic),
        heldEmission),
      bootstrapServers, sinkTopic, checkpointDir)
}
