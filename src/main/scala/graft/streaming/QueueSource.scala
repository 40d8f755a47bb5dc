package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S4 queue source — the reference consumes RabbitMQ
  * (reference README.md:7,13-17; Services.scala:70-73): an unbounded
  * broker queue where an ack is what releases a message. Spark's
  * analogue of the broker contract is a REPLAYABLE OFFSET-TRACKED
  * source + checkpoint commit as the ack (EnrichmentPipeline's
  * foreachBatch boundary); this object is the Kafka wiring of that
  * source, via the public `spark-sql-kafka-0-10` data source.
  *
  * The option map is built here ([[kafkaOptions]]) and the
  * record→(id, value) projection ([[fromKafkaRecords]]) is a pure
  * expression over Kafka's public record schema (key/value binary,
  * topic, partition, offset, timestamp) — both unit-tested without a
  * broker. The sandbox ships no Kafka connector jar, so [[kafka]]
  * fails fast with Spark's missing-provider error (KafkaWiringSpec
  * pins that too); on a real cluster the same call binds the moment
  * the connector is on the classpath — no graft code changes.
  *
  * At scale, `maxOffsetsPerTrigger` is the back-pressure knob (bounds
  * each micro-batch; the checkpoint ack already bounds redelivery),
  * and `failOnDataLoss=true` keeps a truncated topic from silently
  * shrinking the corpus — surfacing it as a failed batch → replay.
  */
object QueueSource {

  /** @param topic    Kafka subscribe pattern
    * @param bootstrapServers Kafka bootstrap list (host:port,…)
    * @param startingOffsets  "earliest" (backfill) | "latest"
    * @param failOnDataLoss   fail the batch if offsets vanished
    * @param maxOffsetsPerTrigger per-micro-batch record cap */
  final case class QueueConfig(
      topic: String = "",
      bootstrapServers: String = "",
      startingOffsets: String = "earliest",
      failOnDataLoss: Boolean = true,
      maxOffsetsPerTrigger: Option[Long] = None)

  /** The exact `spark-sql-kafka-0-10` option map for a config — pure
    * and spec-pinned, so the wiring is verified in this sandbox even
    * though the connector jar only exists on a real deployment. */
  def kafkaOptions(c: QueueConfig): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> c.bootstrapServers,
      "subscribe" -> c.topic,
      "startingOffsets" -> c.startingOffsets,
      "failOnDataLoss" -> c.failOnDataLoss.toString) ++
      c.maxOffsetsPerTrigger.map("maxOffsetsPerTrigger" -> _.toString)

  /** Kafka's public record relation → the pipeline's (id, value)
    * shape: offset is the queue-unique id (per partition; combined
    * with partition it is THE exactly-once key the checkpoint tracks),
    * the payload decodes from the value bytes. Pure expressions —
    * works identically on the real source and on a broker stand-in
    * with the same schema (KafkaWiringSpec drives the full
    * enrich→retry→DLQ→ack pipeline through it). */
  def fromKafkaRecords(records: DataFrame): DataFrame =
    records.select(
      col("offset").as("id"),
      col("value").cast("string").as("value"))

  /** Opens the configured topic as an unbounded DataFrame in the
    * pipeline's (id, value) shape. */
  def kafka(s: SparkSession, c: QueueConfig): DataFrame =
    fromKafkaRecords(s.readStream.format("kafka").options(kafkaOptions(c)).load())
}
