package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{EnrichmentPipeline, QueueSource}
import graft.streaming.QueueSource.QueueConfig

/** The Kafka-role wiring (reference README.md:7,13-17 — RabbitMQ as
  * the queue; Kafka is the Spark-era analogue), proven WITHOUT a
  * broker: the option map and the record→(id, value) projection are
  * pure and pinned directly; the ack contract is pinned by driving
  * the full enrich→retry→DLQ→checkpoint pipeline through
  * [[QueueSource.fromKafkaRecords]] over a MemoryStream that carries
  * Kafka's public record schema (the broker stand-in); and the
  * sandbox's missing-connector failure mode is pinned as FAIL-FAST,
  * so a misconfigured deployment can't silently fall back.
  */
class KafkaWiringSpec extends SparkSpec {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  test("kafkaOptions builds the exact spark-sql-kafka option map") {
    val c = QueueConfig(topic = "docs.ingest",
      bootstrapServers = "broker1:9092,broker2:9092",
      startingOffsets = "earliest", failOnDataLoss = true,
      maxOffsetsPerTrigger = Some(50000L))
    assert(QueueSource.kafkaOptions(c) === Map(
      "kafka.bootstrap.servers" -> "broker1:9092,broker2:9092",
      "subscribe" -> "docs.ingest",
      "startingOffsets" -> "earliest",
      "failOnDataLoss" -> "true",
      "maxOffsetsPerTrigger" -> "50000"))
    // the cap is optional — absent means Kafka's default (unbounded)
    assert(!QueueSource.kafkaOptions(c.copy(maxOffsetsPerTrigger = None))
      .contains("maxOffsetsPerTrigger"))
  }

  test("the record projection + full ack pipeline run over a " +
      "broker stand-in carrying Kafka's record schema") {
    // (key, value, topic, partition, offset, timestamp, timestampType)
    // — the public schema the kafka source emits
    val in = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long,
      Timestamp, Int)]
    val records = in.toDF().toDF("key", "value", "topic", "partition",
      "offset", "timestamp", "timestampType")
    def rec(offset: Long): (Array[Byte], Array[Byte], String, Int, Long,
        Timestamp, Int) =
      (Array[Byte](), s"Input Data: $offset".getBytes("UTF-8"),
        "docs.ingest", 0, offset, new Timestamp(0L), 0)

    val svc: String => String = { s =>
      val id = s.split(": ").last.toLong
      if (id % 10 == 7) throw new IllegalArgumentException(s"invalid $id")
      s"stored $id"
    }
    val ok = tmpDir("k-ok"); val dlq = tmpDir("k-dlq"); val cp = tmpDir("k-cp")
    val q = EnrichmentPipeline.start(
      QueueSource.fromKafkaRecords(records), ok, dlq, cp, svc,
      trigger = Trigger.ProcessingTime(100))
    try {
      in.addData((0L until 10L).map(rec): _*) // offset 7 is poison
      q.processAllAvailable()
    } finally q.stop()

    val okIds = spark.read.parquet(ok).select("id").as[Long].collect().sorted
    val dlqIds = spark.read.parquet(dlq).select("id").as[Long].collect().sorted
    assert(okIds.toSeq === (0L until 10L).filterNot(_ % 10 == 7))
    assert(dlqIds.toSeq === Seq(7L))
  }

  test("load('kafka') fails FAST when the connector is absent — no " +
      "silent fallback") {
    val c = QueueConfig(topic = "t", bootstrapServers = "b:9092")
    val e = intercept[Throwable] {
      QueueSource.kafka(spark, c).isStreaming
    }
    val msg = (e.getMessage + Option(e.getCause).map(_.getMessage)
      .getOrElse("")).toLowerCase
    assert(msg.contains("kafka"),
      s"missing-provider failure must name the kafka source, got: $msg")
  }
}
