package graft.streaming

import graft.pipeline.SnortPipeline
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** Kafka producer-side preparation (SURVEY.md A9 + §7.4 hard-part 1).
  *
  * Spark's Kafka sink supports key/value/headers/partition columns but NOT a
  * per-record timestamp; the reference stamps records with true EVENT time
  * (internal/app/app.go:211). The engine therefore prepares fully-resolved
  * producer records and emits them through `foreachBatch` + a pluggable
  * [[RecordWriter]] — in production a thin wrapper over a KafkaProducer
  * constructing ProducerRecord(topic, null, timestampMs, key, value,
  * headers); in tests a collector (no Kafka broker, and no kafka-clients
  * jar, ship with this image).
  */
object KafkaSink {

  /** One ready-to-produce record: everything a ProducerRecord needs. */
  final case class PreparedRecord(
      topic: String,
      key: Array[Byte],
      value: Array[Byte],
      timestampMs: Long,
      headers: Map[String, String])

  /** Pluggable producer boundary (idempotent-producer semantics — acks=all,
    * retries — live in the implementation's config, as in the reference's
    * internal/kafka_client/producer.go:8-21).
    */
  trait RecordWriter extends Serializable {
    def send(r: PreparedRecord): Unit
    def flushAndClose(): Unit = ()
  }

  implicit val preparedEncoder: Encoder[PreparedRecord] = Encoders.product[PreparedRecord]

  /** SnortAlert envelope rows → PreparedRecords. Key = event hash (utf8),
    * value = Confluent-framed Avro of the alert struct, timestamp = event
    * time millis, headers = the four routing headers (app.go:182-188).
    * One projection: the value is written straight from the alert struct's
    * Catalyst row ([[AvroCodec.confluentValue]]).
    */
  def prepareRecords(envelope: DataFrame, topic: String, schemaId: Int): Dataset[PreparedRecord] = {
    val alertCols = envelope.columns.toSeq.filterNot(Set("kafka_key", "event_time", "headers"))
    envelope.select(
      lit(topic).as("topic"),
      col("kafka_key").cast("binary").as("key"),
      AvroCodec.confluentValue(struct(alertCols.map(col): _*), schemaId).as("value"),
      unix_millis(col("event_time")).as("timestampMs"),
      col("headers")).as[PreparedRecord]
  }

  /** Batch/stream-agnostic emit: per partition, one writer, drain, close —
    * the at-least-once contract is the checkpoint's (SURVEY.md A10).
    */
  def emit(records: Dataset[PreparedRecord], writerFactory: () => RecordWriter): Unit =
    records.foreachPartition { (it: Iterator[PreparedRecord]) =>
      val w = writerFactory()
      try it.foreach(w.send)
      finally w.flushAndClose()
    }

  /** Full reference pipeline as a streaming sink: SensorEvents → alerts →
    * envelope → prepared records → writer, via foreachBatch.
    */
  def sinkAlerts(
      sensorEvents: DataFrame,
      topic: String,
      schemaId: Int,
      writerFactory: () => RecordWriter): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    sensorEvents.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val envelope = SnortPipeline.withEnvelope(SnortPipeline.alerts(batch))
      emit(prepareRecords(envelope, topic, schemaId), writerFactory)
    }
}
