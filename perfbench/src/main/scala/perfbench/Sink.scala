package perfbench

import graft.pipeline.SnortPipeline
import graft.streaming.{AvroCodec, KafkaSink, ProtobufWire}
import graft.streaming.KafkaSink.PreparedRecord
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.util.LongAccumulator

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.util.hashing.MurmurHash3

/** The chain under test, cut where the traced run cuts it. */
object Chain {
  val Topic = "snort-alerts"

  def decoded(frames: DataFrame, malformed: Option[LongAccumulator]): DataFrame =
    ProtobufWire.decodeFramed(frames, "value", malformed)
  def alerts(frames: DataFrame): DataFrame = SnortPipeline.alerts(decoded(frames, None))
  def envelope(frames: DataFrame, malformed: Option[LongAccumulator]): DataFrame =
    SnortPipeline.withEnvelope(SnortPipeline.alerts(decoded(frames, malformed)))
  def prepared(frames: DataFrame, malformed: Option[LongAccumulator]): Dataset[PreparedRecord] =
    KafkaSink.prepareRecords(envelope(frames, malformed), Topic, SensorGen.SchemaId)

  def noop(df: Dataset[_]): Unit = df.write.format("noop").mode("overwrite").save()
  /** Reads every prepared record the way `KafkaSink.emit` does, without a
    * writer: the same plan, so a cut into it and `emit` differ by the writer. */
  def drain(records: Dataset[PreparedRecord]): Unit =
    records.foreachPartition((it: Iterator[PreparedRecord]) => it.foreach(_ => ()))
}

/** A record the writer kept for the field-by-field check. */
final case class Sample(key: String, value: Array[Byte], timestampMs: Long, headers: Map[String, String])

/** Counts, bytes, time in `send` and an order-independent digest of
  * (key, value, timestamp, headers) over every record a [[CountingWriter]]
  * receives, plus the records whose key starts with "00".
  */
final class SinkCounters(sc: SparkContext) extends Serializable {
  val records: LongAccumulator = sc.longAccumulator("perfbench.records")
  val valueBytes: LongAccumulator = sc.longAccumulator("perfbench.value_bytes")
  val sendNs: LongAccumulator = sc.longAccumulator("perfbench.send_ns")
  val digestA: LongAccumulator = sc.longAccumulator("perfbench.digest_a")
  val digestB: LongAccumulator = sc.longAccumulator("perfbench.digest_b")
  val samples: org.apache.spark.util.CollectionAccumulator[Sample] =
    sc.collectionAccumulator[Sample]("perfbench.samples")

  def snap: SinkCounters.Snap =
    SinkCounters.Snap(records.sum, valueBytes.sum, sendNs.sum, digestA.sum, digestB.sum)

  /** Moves the kept samples out (driver side, between batches). */
  def drainSamples(): Seq[Sample] = {
    val out = scala.jdk.CollectionConverters.ListHasAsScala(samples.value).asScala.toSeq
    samples.reset()
    out
  }
}

object SinkCounters {
  final case class Snap(records: Long, valueBytes: Long, sendNs: Long, digestA: Long, digestB: Long) {
    def -(o: Snap): Snap =
      Snap(records - o.records, valueBytes - o.valueBytes, sendNs - o.sendNs, digestA - o.digestA, digestB - o.digestB)
    /** What two runs over the same input must agree on. */
    def digest: (Long, Long, Long) = (records, digestA, digestB)
  }

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def recordHash(r: PreparedRecord): Long = {
    val v = MurmurHash3.bytesHash(r.value, 0x3c074a61)
    val k = MurmurHash3.bytesHash(r.key, 0x1b873593)
    val h = MurmurHash3.mapHash(r.headers)
    mix(((v.toLong << 32) | (k & 0xffffffffL)) ^ mix(r.timestampMs + (h.toLong << 21)))
  }

  def secondHash(h: Long): Long = mix(h ^ 0x5851f42d4c957f2dL)
}

/** Injected sink faults, used only by the self-test: the first record of
  * partition 0 is dropped, or one byte of its value is flipped.
  */
sealed trait Fault extends Serializable
object Fault {
  case object NoFault extends Fault
  case object DropRecord extends Fault
  case object FlipByte extends Fault
}

/** The benchmark's RecordWriter: stands where a Kafka producer would. */
final class CountingWriter(c: SinkCounters, fault: Fault) extends KafkaSink.RecordWriter {
  private var first = org.apache.spark.TaskContext.getPartitionId() == 0

  def send(r0: PreparedRecord): Unit = {
    val t0 = System.nanoTime()
    val r = if (!first) r0 else {
      first = false
      fault match {
        case Fault.NoFault => r0
        case Fault.DropRecord => null
        case Fault.FlipByte =>
          val v = r0.value.clone(); v(v.length - 1) = (v(v.length - 1) ^ 1).toByte
          r0.copy(value = v)
      }
    }
    if (r != null) {
      val h = SinkCounters.recordHash(r)
      c.records.add(1L)
      c.valueBytes.add(r.value.length.toLong)
      c.digestA.add(h)
      c.digestB.add(SinkCounters.secondHash(h))
      if (r.key.length > 1 && r.key(0) == '0' && r.key(1) == '0')
        c.samples.add(Sample(new String(r.key, "UTF-8"), r.value, r.timestampMs, r.headers))
    }
    c.sendNs.add(System.nanoTime() - t0)
  }
}

/** Decodes sampled record values with an Avro GenericDatumReader and compares
  * every field, the record timestamp and the headers with the generator's
  * source event. Returns one line per mismatch.
  */
object AvroCheck {
  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS").withZone(ZoneOffset.UTC)
  private val SnortTs = DateTimeFormatter.ofPattern("yy/MM/dd-HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)

  /** Go's `.999` layout over epoch micros: millis, trailing zeros trimmed. */
  private def iso(micros: Long): String = {
    val s = Iso.format(Instant.ofEpochMilli(Math.floorDiv(micros, 1000L)))
    s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".") + "Z"
  }

  private val EventSource = Map(
    "action" -> "snort_action", "class" -> "snort_classification", "dir" -> "snort_direction",
    "gid" -> "snort_rule_gid", "iface" -> "snort_interface", "msg" -> "snort_message",
    "priority" -> "snort_priority", "proto" -> "snort_protocol", "rev" -> "snort_rule_rev",
    "rule" -> "snort_rule", "seconds" -> "snort_seconds", "service" -> "snort_service",
    "sid" -> "snort_rule_sid", "tos" -> "snort_type_of_service")
  private val MetricRenames = Map(
    "b64_data" -> "snort_base64_data", "dst_addr" -> "snort_dst_address",
    "src_addr" -> "snort_src_address", "ip_len" -> "snort_ip_length",
    "pkt_len" -> "snort_pkt_length", "pkt_num" -> "snort_pkt_number",
    "ttl" -> "snort_time_to_live", "udp_len" -> "snort_udp_length")

  /** The Avro schema of the emitted values, from the chain's own output. */
  def schema(spark: org.apache.spark.sql.SparkSession): Schema = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.BinaryType))))
    val env = Chain.envelope(empty, None).schema
    val alert = org.apache.spark.sql.types.StructType(
      env.fields.filterNot(f => Set("kafka_key", "event_time", "headers")(f.name)))
    AvroCodec.avroSchema(alert, "SnortAlert")
  }

  def check(schema: Schema, samples: Seq[Sample], source: String => Option[Row]): Seq[String] = {
    val reader = new GenericDatumReader[GenericRecord](schema)
    samples.flatMap { s =>
      source(s.key) match {
        case None => Seq(s"${s.key}: no generated event has this key")
        case Some(ev) =>
          val value = s.value
          if (value.length < 5 || value(0) != 0) Seq(s"${s.key}: value lacks the Confluent header")
          else {
            val rec = reader.read(null, DecoderFactory.get().binaryDecoder(value, 5, value.length - 5, null))
            val num = rec.get("pkt_num").asInstanceOf[java.lang.Long]
            val metrics = ev.getSeq[Row](ev.fieldIndex("metrics"))
            if (num == null || num < 0 || num >= metrics.length) Seq(s"${s.key}: pkt_num $num names no metric")
            else compare(s, rec, ev, metrics(num.toInt))
          }
      }
    }
  }

  private def compare(s: Sample, rec: GenericRecord, ev: Row, m: Row): Seq[String] = {
    def norm(v: Any): Any = v match {
      case u: org.apache.avro.util.Utf8 => u.toString
      case other => other
    }
    def eventValue(name: String): Any = ev.get(ev.fieldIndex(name))
    val prio = ev.getLong(ev.fieldIndex("snort_priority"))
    val label = if (prio >= 1 && prio <= 3) SensorGen.PriorityLabels(prio.toInt) else "Informational"
    val hash = ev.getString(ev.fieldIndex("event_hash_sha256"))
    val metaExpected = Map(
      "sensor_id" -> eventValue("sensor_id"), "sensor_version" -> eventValue("sensor_version"),
      "sent_at" -> iso(ev.getLong(ev.fieldIndex("event_sent_at"))), "hash_sha256" -> hash,
      "read_at" -> iso(ev.getLong(ev.fieldIndex("event_read_at"))),
      "received_at" -> iso(ev.getLong(ev.fieldIndex("event_received_at"))))
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    scala.jdk.CollectionConverters.ListHasAsScala(rec.getSchema.getFields).asScala.foreach { f =>
      val name = f.name
      val got = norm(rec.get(name))
      if (name == "metadata") {
        val meta = got.asInstanceOf[GenericRecord]
        metaExpected.foreach { case (k, want) =>
          if (norm(meta.get(k)) != want) problems += s"${s.key}: metadata.$k = ${meta.get(k)}, want $want"
        }
      } else {
        val want: Any =
          if (name == "priority_str") label
          else if (EventSource.contains(name)) eventValue(EventSource(name))
          else {
            val src = MetricRenames.getOrElse(name, s"snort_$name")
            if (m.schema.fieldNames.contains(src)) m.get(m.fieldIndex(src))
            else { problems += s"${s.key}: no source for field $name"; got }
          }
        if (got != want) problems += s"${s.key}: $name = $got, want $want"
      }
    }
    val ts = m.getString(m.fieldIndex("snort_timestamp"))
    val wantMs =
      try {
        val t = Instant.from(SnortTs.parse(ts))
        t.getEpochSecond * 1000 + t.getNano / 1000000
      } catch { case _: java.time.format.DateTimeParseException =>
        ev.getLong(ev.fieldIndex("snort_seconds")) * 1000 }
    if (s.timestampMs != wantMs) problems += s"${s.key}: timestamp ${s.timestampMs}, want $wantMs"
    val cls = Option(ev.get(ev.fieldIndex("snort_classification"))).map(_.toString).getOrElse("")
    val wantHeaders = Map("hash_sha256" -> hash, "sensor_id" -> ev.getString(ev.fieldIndex("sensor_id")),
      "priorityStr" -> label, "classification" -> cls)
    if (s.headers != wantHeaders) problems += s"${s.key}: headers ${s.headers}, want $wantHeaders"
    problems.toSeq
  }
}
