package graft.streaming

import graft.SparkSpec
import graft.pipeline.{SensorSchemas, SnortPipeline}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Seeded Confluent-framed SensorEvent input that reaches every corner of
  * the decode → explode → envelope → Avro path: nulls in every `optional`
  * field, empty and absent metrics, multi-byte and invalid UTF-8, negative
  * longs, multi-entry message-indexes headers, unknown fields of every wire
  * type, last-wins duplicates, wire-type mismatches, tombstones and each kind
  * of bad frame. The payload writer is self-contained, so the frames do not
  * depend on the encoder under test beyond `encodeSensorEvent`.
  */
object GoldenFrames {
  val SchemaId = 23
  val Topic = "golden"

  private def varint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }
  private def tag(out: ByteArrayOutputStream, field: Long, wireType: Int): Unit =
    varint(out, (field << 3) | wireType)
  private def lenDelim(out: ByteArrayOutputStream, field: Long, b: Array[Byte]): Unit = {
    tag(out, field, 2); varint(out, b.length.toLong); out.write(b, 0, b.length)
  }
  private def bytesOf(f: ByteArrayOutputStream => Unit): Array[Byte] = {
    val out = new ByteArrayOutputStream(); f(out); out.toByteArray
  }

  /** Strings that survive a Java round-trip unchanged. */
  private val Texts = Seq("", "a", "TCP", "attempted-recon", "Ünïcødé", "日本語のアラート",
    "🚨 alert 🚨", "tab\tand\nnewline", "x" * 200, "κόσμος", "\u0000nul")
  /** Raw byte strings that are not valid UTF-8: lone continuation, truncated
    * 3-byte sequence, overlong '/', surrogate half, a code point above
    * U+10FFFF, and a valid prefix followed by 0xFF. */
  val InvalidUtf8: Seq[Array[Byte]] = Seq(
    Array(0x80), Array(0xe6, 0x97), Array(0xc0, 0xaf), Array(0xed, 0xa0, 0x80),
    Array(0xf4, 0x90, 0x80, 0x80), Array(0x61, 0x62, 0xff, 0x63)).map(_.map(_.toByte))
  private val Longs = Seq(0L, 1L, -1L, 127L, 128L, -128L, 300L, Int.MaxValue.toLong,
    Int.MinValue.toLong, Long.MaxValue, Long.MinValue, -1234567890123L)

  private def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.length))

  private def metric(r: Random, allNull: Boolean, noneNull: Boolean): Row = {
    val values = SensorSchemas.metricSchema.fields.map { f =>
      if (f.nullable && (allNull || (!noneNull && r.nextInt(10) < 3))) null
      else f.name match {
        case "snort_timestamp" =>
          r.nextInt(6) match {
            case 0 => "garbage"
            case 1 => ""
            case _ => f"25/0${1 + r.nextInt(9)}/${10 + r.nextInt(18)}-0${r.nextInt(10)}:1${r.nextInt(10)}:" +
              f"2${r.nextInt(10)}.${r.nextInt(1000000)}%06d"
          }
        case _ => f.dataType match {
          case StringType => pick(r, Texts)
          case LongType => if (r.nextBoolean()) pick(r, Longs) else r.nextLong()
        }
      }
    }
    Row.fromSeq(values.toIndexedSeq)
  }

  private def event(r: Random, i: Int): Row = {
    val allNull = i % 50 == 7
    val noneNull = i % 50 == 8
    val metrics: Seq[Row] = r.nextInt(8) match {
      case 0 => null // absent
      case 1 => Seq.empty
      case _ => Seq.tabulate(1 + r.nextInt(6))(_ => metric(r, allNull, noneNull))
    }
    // epoch micros 1938..2096, seconds ±3000 years are out of the way of
    // date formatting; negative values are in
    def micros = -1000000000000000L + (r.nextDouble() * 5e15).toLong
    val values = SensorSchemas.sensorEventSchema.fields.map { f =>
      if (f.nullable && f.name != "metrics" && (allNull || (!noneNull && r.nextInt(10) < 3))) null
      else f.name match {
        case "metrics" => metrics
        case "event_hash_sha256" => f"${r.nextLong()}%016x${i}%08x"
        case "event_read_at" | "event_sent_at" | "event_received_at" =>
          r.nextInt(4) match {
            case 0 => micros / 1000 * 1000
            case 1 => micros / 1000000 * 1000000
            case _ => micros
          }
        case "event_seconds" | "snort_seconds" => -2000000000L + (r.nextDouble() * 6e9).toLong
        case "snort_priority" => pick(r, Seq(0L, 1L, 2L, 3L, 4L, -5L, Long.MinValue))
        case _ => f.dataType match {
          case StringType => pick(r, Texts)
          case LongType => if (r.nextBoolean()) pick(r, Longs) else r.nextLong()
        }
      }
    }
    Row.fromSeq(values.toIndexedSeq)
  }

  /** Appended after the encoded event: unknown fields of each wire type,
    * last-wins duplicates, wire-type mismatches, invalid UTF-8 overrides and
    * hand-written metrics carrying them. Field numbers are the proto's. */
  private def extras(r: Random, out: ByteArrayOutputStream): Unit =
    (0 until r.nextInt(4)).foreach { _ =>
      r.nextInt(9) match {
        case 0 => tag(out, 24 + r.nextInt(1000), 0); varint(out, r.nextLong())
        case 1 => tag(out, 99, 1); out.write(Array.fill[Byte](8)(7), 0, 8)
        case 2 => lenDelim(out, 536870911L, "unknown".getBytes(UTF_8))
        case 3 => tag(out, 77, 5); out.write(Array[Byte](1, 2, 3, 4), 0, 4)
        case 4 => lenDelim(out, 5, pick(r, InvalidUtf8))          // sensor_id
        case 5 => lenDelim(out, 2, pick(r, InvalidUtf8) ++ "#".getBytes(UTF_8)) // event hash
        case 6 => tag(out, 15, 0); varint(out, 1 + r.nextInt(3))  // priority, last wins
        case 7 => lenDelim(out, 4, Array[Byte](0x41, 0x42))       // event_seconds as len: skipped
        case 8 =>
          lenDelim(out, 1, bytesOf { m =>
            lenDelim(m, 1, "25/01/31-04:15:06.927463".getBytes(UTF_8))
            lenDelim(m, 5, pick(r, InvalidUtf8))                  // dst address
            tag(m, 6, 0); varint(m, -7L)                          // dst port
            lenDelim(m, 6, Array[Byte](1))                        // dst port as len: skipped
            tag(m, 40, 5); m.write(Array[Byte](9, 9, 9, 9), 0, 4) // unknown
            lenDelim(m, 32, pick(r, InvalidUtf8))                 // tcp flags
          })
      }
    }

  private def header(r: Random): Array[Byte] = r.nextInt(10) match {
    case 0 => ConfluentFraming.header(SchemaId, Seq(1, 0))
    case 1 => ConfluentFraming.header(SchemaId, Seq(3, 1, 4))
    case 2 => Array[Byte](0, 0, 0, 0, SchemaId.toByte, 2, 0) // [0] written out in full
    case _ => ConfluentFraming.header(SchemaId)
  }

  /** One bad frame of each kind the decoder must count and drop. */
  val BadFrames: Seq[Array[Byte]] = {
    val h = Array[Byte](0, 0, 0, 0, SchemaId.toByte)
    val ok = ConfluentFraming.header(SchemaId)
    Seq(
      Array[Byte](0, 0, 0),                                   // shorter than a header
      Array[Byte](1, 0, 0, 0, SchemaId.toByte, 0, 0x18, 1),   // bad magic byte
      h ++ Array[Byte](6),                                    // index count 3, no indexes
      h ++ Array[Byte](4, 2),                                 // index count 2, one index
      h ++ Array.fill[Byte](10)(-1) ++ Array[Byte](1),        // index count varint > 64 bits
      h ++ Array[Byte](0x90.toByte, 3, 0),                    // index count 200
      h ++ Array[Byte](1, 0),                                 // index count -1
      h ++ Array[Byte](2, 5, 0),                              // index -3
      h ++ bytesOf { o => o.write(2); varint(o, 1L << 32) },  // index 2^31
      ok ++ Array[Byte](0x18, 0x80.toByte),                   // truncated varint
      ok ++ Array[Byte](0x12, 0x7f, 0x41),                    // length past the end
      ok ++ bytesOf(o => { tag(o, 2, 2); varint(o, 1L << 40) }), // length beyond Int
      ok ++ Array[Byte](0x3b),                                // wire type 3 (group start)
      ok ++ Array[Byte](0x3c),                                // wire type 4 (group end)
      ok ++ Array[Byte](0x3e, 0),                             // wire type 6
      ok ++ Array[Byte](0x3f, 0),                             // wire type 7
      ok ++ Array[Byte](0x18) ++ Array.fill[Byte](10)(-1) ++ Array[Byte](1), // varint > 64 bits
      ok ++ Array[Byte](0x19, 1, 2, 3),                       // truncated fixed64
      ok ++ Array[Byte](0x1d, 1, 2),                          // truncated fixed32
      ok ++ bytesOf(o => lenDelim(o, 1, Array[Byte](0x18, 0x80.toByte, 0x80.toByte))), // bad metric
      ok ++ bytesOf(o => lenDelim(o, 1, Array[Byte](0x0a, 0x05, 0x41)))) // metric string past its end
  }

  /** `n` frames (null = tombstone) and the number of them to be dropped. */
  def frames(seed: Long, n: Int): (Seq[Array[Byte]], Int) = {
    val r = new Random(seed)
    var dropped = 0
    val out = (0 until n).map { i =>
      r.nextInt(40) match {
        case 0 => dropped += 1; null
        case 1 =>
          dropped += 1; BadFrames(r.nextInt(BadFrames.length))
        case 2 => header(r) // empty payload: every field at its default
        case 3 => header(r) ++ bytesOf(o => extras(r, o)) // unknown fields only, or overrides
        case _ =>
          header(r) ++ ProtobufWire.encodeSensorEvent(event(r, i)) ++ bytesOf(o => extras(r, o))
      }
    }
    // every bad-frame kind at least once, after the random ones
    (out ++ BadFrames, dropped + BadFrames.length)
  }

  def frameDf(spark: SparkSession, frames: Seq[Array[Byte]]): DataFrame =
    spark.createDataFrame(frames.map(b => Row(b)).asJava,
      StructType(Seq(StructField("value", BinaryType))))

  /** SHA-256 over the sorted (key, value, timestampMs, headers) of every
    * prepared record; each part is length-prefixed, headers sorted by key. */
  def digest(records: Seq[KafkaSink.PreparedRecord]): String = {
    def enc(r: KafkaSink.PreparedRecord): Array[Byte] = bytesOf { o =>
      def part(b: Array[Byte]): Unit = { varint(o, b.length.toLong); o.write(b, 0, b.length) }
      part(r.key); part(r.value); varint(o, r.timestampMs)
      r.headers.toSeq.sorted.foreach { case (k, v) => part(k.getBytes(UTF_8)); part(v.getBytes(UTF_8)) }
    }
    val md = MessageDigest.getInstance("SHA-256")
    records.map(enc).sortWith((a, b) => java.util.Arrays.compareUnsigned(a, b) < 0)
      .foreach(md.update)
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** Byte identity of the whole alert path: the prepared records of a fixed
  * seeded input, hashed. The constants were produced by the earlier
  * Row-based decode and Avro writer and must not be regenerated; a change
  * that moves them changed the output. */
class AlertPathGoldenSpec extends SparkSpec {

  test("golden: framed SensorEvents → prepared records are byte-identical to the pinned digest") {
    val (frames, dropped) = GoldenFrames.frames(seed = 20261017L, n = 600)
    val counter = ProtobufWire.malformedCounter(spark)
    val decoded = ProtobufWire.decodeFramed(GoldenFrames.frameDf(spark, frames), "value", Some(counter))
    val envelope = SnortPipeline.withEnvelope(SnortPipeline.alerts(decoded))
    val records = KafkaSink.prepareRecords(envelope, GoldenFrames.Topic, GoldenFrames.SchemaId).collect().toSeq
    assert(counter.value == dropped)
    assert((records.length, counter.value.toLong, GoldenFrames.digest(records)) ==
      ((1424, 48L, "689ff0ae5cf8ee34105b6ed4441b742eb0145e5e976e4a6feff5d887a122050b")))
  }
}
