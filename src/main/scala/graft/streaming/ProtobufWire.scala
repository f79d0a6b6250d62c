package graft.streaming

import graft.pipeline.SensorSchemas
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{
  Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets

/** Hand-rolled protobuf wire-format codec for `SensorEvent`/`Metric`
  * (public protobuf encoding spec; message shape from
  * protos/sensor_event.proto:8-73). The image ships no spark-protobuf
  * module, so registry-framed protobuf ingest (reference
  * internal/schema/schema.go:23-34) needs its own decoder: strip the
  * Confluent header ([[ConfluentFraming]]), then parse the wire format.
  *
  * proto3 rules honored: varint int64, length-delimited strings/messages,
  * unknown fields skipped, missing scalar = default (0 / ""), `optional`
  * fields null when absent. Field numbers are mapped to schema NAMES, so
  * schema column order is irrelevant.
  */
object ProtobufWire {

  // field number → (column name, is string) tables from the proto
  private val metricFields: Map[Int, String] = Map(
    1 -> "snort_timestamp", 2 -> "snort_base64_data", 3 -> "snort_client_bytes",
    4 -> "snort_client_pkts", 5 -> "snort_dst_address", 6 -> "snort_dst_port",
    7 -> "snort_dst_ap", 8 -> "snort_eth_dst", 9 -> "snort_eth_len",
    10 -> "snort_eth_src", 11 -> "snort_eth_type", 12 -> "snort_flowstart_time",
    13 -> "snort_geneve_vni", 14 -> "snort_icmp_code", 15 -> "snort_icmp_id",
    16 -> "snort_icmp_seq", 17 -> "snort_icmp_type", 18 -> "snort_ip_id",
    19 -> "snort_ip_length", 20 -> "snort_mpls", 21 -> "snort_pkt_gen",
    22 -> "snort_pkt_length", 23 -> "snort_pkt_number", 24 -> "snort_server_bytes",
    25 -> "snort_server_pkts", 26 -> "snort_sgt", 27 -> "snort_src_address",
    28 -> "snort_src_port", 29 -> "snort_src_ap", 30 -> "snort_target",
    31 -> "snort_tcp_ack", 32 -> "snort_tcp_flags", 33 -> "snort_tcp_len",
    34 -> "snort_tcp_seq", 35 -> "snort_tcp_win", 36 -> "snort_time_to_live",
    37 -> "snort_udp_length", 38 -> "snort_vlan")

  private val eventFields: Map[Int, String] = Map(
    1 -> "metrics", 2 -> "event_hash_sha256", 3 -> "event_metrics_count",
    4 -> "event_seconds", 5 -> "sensor_id", 6 -> "sensor_version",
    7 -> "event_read_at", 8 -> "event_sent_at", 9 -> "event_received_at",
    10 -> "snort_action", 11 -> "snort_classification", 12 -> "snort_direction",
    13 -> "snort_interface", 14 -> "snort_message", 15 -> "snort_priority",
    16 -> "snort_protocol", 17 -> "snort_rule_gid", 18 -> "snort_rule_rev",
    19 -> "snort_rule_sid", 20 -> "snort_rule", 21 -> "snort_seconds",
    22 -> "snort_service", 23 -> "snort_type_of_service")

  /** Thrown for truncated/corrupt payloads — callers route the record to
    * the malformed path instead of failing the task (a poison Kafka message
    * must not kill the stream; the reference counts failed events,
    * internal/app/app.go:85-97).
    */
  final class MalformedRecord(msg: String) extends RuntimeException(msg)

  // ---- decode -------------------------------------------------------------

  private final val Unknown = 0
  private final val Str = 1
  private final val Lng = 2
  private final val Msg = 3

  /** One message type's field table, indexed by field number: the row
    * ordinal and value kind of each known field, and the row of defaults an
    * absent field leaves behind (proto3 presence: plain scalars "" / 0,
    * `optional` ones null).
    */
  private final class Layout(schema: StructType, fields: Map[Int, String]) {
    val ordinal: Array[Int] = Array.fill(fields.keys.max + 1)(-1)
    val kind: Array[Int] = new Array[Int](fields.keys.max + 1)
    fields.foreach { case (num, name) =>
      ordinal(num) = schema.fieldIndex(name)
      kind(num) = schema(name).dataType match {
        case StringType => Str
        case LongType => Lng
        case _: ArrayType => Msg
        case other => throw new IllegalArgumentException(s"unsupported $other")
      }
    }
    val defaults: Array[Any] = schema.fields.map { f =>
      if (f.nullable) null
      else if (f.dataType == StringType) UTF8String.EMPTY_UTF8
      else 0L
    }
  }

  private val eventLayout = new Layout(SensorSchemas.sensorEventSchema, eventFields)
  private val metricLayout = new Layout(SensorSchemas.metricSchema, metricFields)
  private val metricsOrdinal = SensorSchemas.sensorEventSchema.fieldIndex("metrics")

  /** The decode kernel: reads one message from `buf` in place and writes
    * each field straight into a row slot as a `UTF8String`, a long or (for
    * `metrics`) an array of metric rows. Known fields are read ONLY when the
    * record's wire type matches the expected one (2 for strings/messages, 0
    * for varint longs); a mismatch is treated as an unknown field and
    * skipped — proto3 conformance semantics, and it keeps a drifted producer
    * schema from misreading a varint as a length. Holds its cursor between
    * calls, so one instance serves one thread.
    */
  private final class Decoder {
    private var buf: Array[Byte] = _
    private var pos = 0
    private var limit = 0
    private val metrics = collection.mutable.ArrayBuffer[Any]()

    def sensorEvent(bytes: Array[Byte], from: Int): InternalRow = {
      buf = bytes; pos = from; limit = bytes.length
      metrics.clear()
      val row = message(eventLayout)
      row.update(metricsOrdinal, new GenericArrayData(metrics.toArray))
      row
    }

    def metric(bytes: Array[Byte]): InternalRow = {
      buf = bytes; pos = 0; limit = bytes.length
      message(metricLayout)
    }

    private def message(l: Layout): GenericInternalRow = {
      val values = l.defaults.clone()
      while (pos < limit) {
        val tag = readVarint()
        val field = tag >>> 3
        // Go's protowire rejects field 0 and numbers past int32 as errors;
        // truncating them to an Int would alias 2^32+5 onto field 5.
        if (field == 0 || field > Int.MaxValue) throw new MalformedRecord(s"invalid field number $field")
        val wireType = (tag & 7).toInt
        val k = if (field < l.kind.length) l.kind(field.toInt) else Unknown
        if (k == Str && wireType == 2) {
          val n = readLen()
          values(l.ordinal(field.toInt)) = utf8(n)
          pos += n
        } else if (k == Lng && wireType == 0) values(l.ordinal(field.toInt)) = readVarint()
        else if (k == Msg && wireType == 2) {
          val n = readLen()
          val outer = limit
          limit = pos + n
          metrics += message(metricLayout)
          limit = outer
        } else skip(wireType)
      }
      new GenericInternalRow(values)
    }

    /** The `n` bytes at `pos` as a string, exactly as `new String(bytes,
      * UTF_8)` reads them: valid UTF-8 is referenced in place (the row's
      * consumer copies it), anything else gets U+FFFD replacement.
      */
    private def utf8(n: Int): UTF8String = {
      val s = UTF8String.fromBytes(buf, pos, n)
      if (s.isValid) s else UTF8String.fromString(new String(buf, pos, n, StandardCharsets.UTF_8))
    }

    private def readVarint(): Long = {
      var shift = 0
      var result = 0L
      while (shift <= 63) {
        if (pos >= limit) throw new MalformedRecord("truncated varint")
        val b = buf(pos); pos += 1
        result |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return result
        shift += 7
      }
      throw new MalformedRecord("varint exceeds 64 bits")
    }

    private def readLen(): Int = {
      val n = readVarint()
      if (n < 0 || n > limit - pos) throw new MalformedRecord(s"bad length $n")
      n.toInt
    }

    private def advance(n: Int): Unit = {
      pos += n
      if (pos > limit) throw new MalformedRecord(s"truncated fixed${n * 8}")
    }

    private def skip(wireType: Int): Unit = wireType match {
      case 0 => readVarint()
      case 1 => advance(8)
      case 2 => advance(readLen())
      case 5 => advance(4)
      case other => throw new MalformedRecord(s"unsupported wire type $other")
    }
  }

  private lazy val eventToRow = CatalystTypeConverters.createToScalaConverter(SensorSchemas.sensorEventSchema)
  private lazy val metricToRow = CatalystTypeConverters.createToScalaConverter(SensorSchemas.metricSchema)

  /** One metric message as a [[Row]] (the kernel, converted for specs). */
  def decodeMetric(bytes: Array[Byte]): Row =
    metricToRow(new Decoder().metric(bytes)).asInstanceOf[Row]

  /** One SensorEvent message as a [[Row]] (the kernel, converted for specs). */
  def decodeSensorEvent(bytes: Array[Byte]): Row =
    eventToRow(new Decoder().sensorEvent(bytes, 0)).asInstanceOf[Row]

  /** Named failed-event counter, visible in the Spark UI / status API —
    * the engine's form of the reference's count-and-continue failed-event
    * accounting (app.go:85-97). Create once per pipeline and pass to
    * [[decode]]/[[decodeFramed]].
    */
  def malformedCounter(spark: org.apache.spark.sql.SparkSession): org.apache.spark.util.LongAccumulator =
    spark.sparkContext.longAccumulator("graft.protobuf.malformed_records")

  /** DataFrame op: binary `valueCol` (already Confluent-stripped) → full
    * SensorEvent rows of [[SensorSchemas.sensorEventSchema]]. One generator
    * expression ([[DecodeSensorEvent]]) that emits zero or one row per input,
    * so the same plan serves batch frames and `readStream` pipelines.
    * Malformed records and tombstones are counted on `malformed` (when
    * given) and dropped, mirroring the reference's count-and-continue
    * handling of failed events (app.go:85-97) — poison Kafka messages must
    * not kill the stream, but their rate must stay observable.
    */
  def decode(
      df: DataFrame,
      valueCol: String,
      malformed: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    decodeColumn(df, valueCol, framed = false, malformed)

  /** Like [[decode]] but takes the raw Confluent-framed Kafka value and
    * finds the payload behind magic + schema id + message-indexes inside the
    * same generator (the indexes block is variable-length, so framing cannot
    * be a static `substring`). Bad frames count as malformed too.
    */
  def decodeFramed(
      df: DataFrame,
      valueCol: String,
      malformed: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    decodeColumn(df, valueCol, framed = true, malformed)

  private def decodeColumn(
      df: DataFrame,
      valueCol: String,
      framed: Boolean,
      malformed: Option[org.apache.spark.util.LongAccumulator]): DataFrame =
    df.select(ColumnBridge.column(
      DecodeSensorEvent(ColumnBridge.expression(df(valueCol)), framed, malformed)))

  /** The decode as a Catalyst generator: binary value in, zero or one
    * SensorEvent row out. A null value is a Kafka tombstone (compacted-topic
    * delete marker) and is counted and dropped like any undecodable record.
    * The decoder is built lazily in the task's own copy of the expression.
    */
  private[streaming] case class DecodeSensorEvent(
      child: Expression,
      framed: Boolean,
      malformed: Option[org.apache.spark.util.LongAccumulator])
      extends UnaryExpression with Generator with CodegenFallback {

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName needs binary, got ${child.dataType.sql}")
    override def elementSchema: StructType = SensorSchemas.sensorEventSchema
    override def prettyName: String = "decode_sensor_event"

    @transient private lazy val decoder = new Decoder

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val bytes = child.eval(input).asInstanceOf[Array[Byte]]
      if (bytes == null) dropped()
      else
        try decoder.sensorEvent(bytes, if (framed) ConfluentFraming.payloadOffset(bytes) else 0) :: Nil
        catch { case _: MalformedRecord | _: ConfluentFraming.BadFrame => dropped() }
    }

    private def dropped(): Nil.type = {
      malformed.foreach(_.add(1L))
      Nil
    }

    override protected def withNewChildInternal(newChild: Expression): DecodeSensorEvent =
      copy(child = newChild)
  }

  // ---- encode (tests + sink symmetry) ------------------------------------

  private def writeTag(out: WireBuffer, field: Int, wireType: Int): Unit =
    out.writeVarint((field.toLong << 3) | wireType)

  private def writeBytes(out: WireBuffer, field: Int, bytes: Array[Byte]): Unit = {
    writeTag(out, field, 2); out.writeVarint(bytes.length.toLong); out.write(bytes)
  }

  private def encodeMessage(row: Row, schema: StructType, fields: Map[Int, String]): Array[Byte] = {
    val out = new WireBuffer()
    val byName = fields.map(_.swap)
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (!row.isNullAt(i)) {
        val fieldNum = byName(f.name)
        f.dataType match {
          case StringType => writeBytes(out, fieldNum, row.getString(i).getBytes(StandardCharsets.UTF_8))
          case LongType   => writeTag(out, fieldNum, 0); out.writeVarint(row.getLong(i))
          case ArrayType(m: StructType, _) =>
            row.getSeq[Row](i).foreach(metric => writeBytes(out, fieldNum, encodeMessage(metric, m, metricFields)))
          case other => throw new IllegalArgumentException(s"unsupported $other")
        }
      }
    }
    out.toByteArray
  }

  def encodeSensorEvent(row: Row): Array[Byte] =
    encodeMessage(row, SensorSchemas.sensorEventSchema, eventFields)
}
