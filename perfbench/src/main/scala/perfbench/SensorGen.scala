package perfbench

import graft.pipeline.SensorSchemas
import graft.streaming.{ConfluentFraming, ProtobufWire}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import scala.collection.mutable

/** One Kafka record value as the stream receives it; null is a tombstone. */
final case class Frame(value: Array[Byte])

/** Pre-encoded frames plus what the generator put into them. `alerts` is the
  * number of metrics over valid, on-time events; `dropped` the frames the
  * decoder must count and drop; `keys` the window-key ids the chunk's alerts
  * touch (only when windows are tallied).
  */
final class Chunk(
    val index: Int,
    val frames: Array[Frame],
    val alerts: Int,
    val dropped: Int,
    val late: Int,
    val keys: Array[Int]) {
  val bytes: Long = frames.iterator.map(f => if (f.value == null) 0L else f.value.length.toLong).sum
}

/** What varies between the workloads' inputs. */
final case class Shape(
    metricsPerEvent: SplittableRandom => Int,
    sensors: Int,
    zipfExponent: Double,
    badTimestampShare: Double,
    lateShare: Double,
    lateByMicros: Long,
    jitterMicros: Long,
    windowMicros: Long)

object Shape {
  /** Skewed metrics per event: 1 + a geometric tail of mean 7, capped at 48. */
  val etl: Shape = Shape(
    r => math.min(48, 1 + (-7.0 * math.log(1.0 - r.nextDouble())).toInt),
    sensors = 64, zipfExponent = 0.0, badTimestampShare = 0.01,
    lateShare = 0.0, lateByMicros = 0L, jitterMicros = 0L, windowMicros = 0L)

  /** One or two metrics per event, ~10k Zipf-distributed (sensor, priority)
    * keys, 0.5% of events late by a minute. */
  def windows(windowMicros: Long, jitterMicros: Long): Shape = Shape(
    r => 1 + r.nextInt(2),
    sensors = 2500, zipfExponent = 1.1, badTimestampShare = 0.0,
    lateShare = 0.005, lateByMicros = 60L * 1000 * 1000, jitterMicros = jitterMicros,
    windowMicros = windowMicros)
}

/** Seeded SensorEvent generator. Frames are built with the engine's own
  * protobuf encoder and Confluent header writer; about 2% are malformed
  * (four kinds), 1% are tombstones and 10% carry a multi-entry
  * message-indexes block. The same seed and calls give the same bytes; the
  * SHA-256 over all frames is [[inputDigest]].
  */
final class SensorGen(seed: Long, shape: Shape) {
  import SensorGen._

  private val rnd = new SplittableRandom(seed)
  private val sha = java.security.MessageDigest.getInstance("SHA-256")

  var validEvents = 0L
  var alerts = 0L
  var tombstones = 0L
  var multiIndex = 0L
  var lateEvents = 0L
  val malformed: mutable.LinkedHashMap[String, Long] =
    mutable.LinkedHashMap(MalformedKinds.map(_ -> 0L): _*)
  val metricsHistogram: mutable.TreeMap[Int, Long] = mutable.TreeMap()

  /** Source rows of sampled events (key starts with "00"), by key. */
  val sampled: mutable.HashMap[String, Row] = mutable.HashMap()

  /** On-time alerts per (window start µs, sensor_id, priority_str). */
  val windowCounts: mutable.HashMap[Int, Long] = mutable.HashMap()
  private val keyIds = mutable.HashMap[(Long, String, String), Int]()
  private val keyList = mutable.ArrayBuffer[(Long, String, String)]()
  def keyOf(id: Int): (Long, String, String) = keyList(id)
  def keyId(k: (Long, String, String)): Option[Int] = keyIds.get(k)
  def keyCount: Int = keyList.length

  private val sensorNames = Array.tabulate(shape.sensors) { i =>
    val r = new SplittableRandom(seed * 31 + i)
    f"sensor-${r.nextInt() & 0xffff}%04x${i}%04x-${r.nextInt() & 0xffff}%04x-4${r.nextInt(4096)}%03x-" +
      f"${r.nextLong() & 0xffffffffffffL}%012x"
  }
  private val zipfCdf: Array[Double] =
    if (shape.zipfExponent <= 0) Array.empty
    else {
      val w = Array.tabulate(shape.sensors)(i => 1.0 / math.pow(i + 1, shape.zipfExponent))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s)
    }
  private def sensor(): Int =
    if (zipfCdf.isEmpty) rnd.nextInt(shape.sensors)
    else {
      val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
      math.min(shape.sensors - 1, if (i >= 0) i else -i - 1)
    }

  def inputDigest: String =
    sha.clone().asInstanceOf[java.security.MessageDigest].digest().map(b => f"${b & 0xff}%02x").mkString

  /** `events` frames whose event times fall in [base, base + span), or for
    * windowed shapes at `base` minus a jitter (or minus the lateness for
    * late events, which only `lateAllowed` chunks carry).
    */
  def chunk(index: Int, events: Int, baseMicros: Long, spanMicros: Long, lateAllowed: Boolean): Chunk = {
    val frames = new Array[Frame](events)
    var chunkAlerts = 0
    var dropped = 0
    var late = 0
    val keys = mutable.HashSet[Int]()
    var i = 0
    while (i < events) {
      val roll = rnd.nextDouble()
      val frame: Array[Byte] =
        if (roll < 0.01) { tombstones += 1; dropped += 1; null }
        else if (roll < 0.03) { dropped += 1; malformedFrame() }
        else {
          val isLate = lateAllowed && rnd.nextDouble() < shape.lateShare
          val t =
            if (isLate) baseMicros - shape.lateByMicros
            else if (shape.windowMicros > 0) baseMicros - (if (shape.jitterMicros > 0) rnd.nextLong(shape.jitterMicros) else 0L)
            else baseMicros + rnd.nextLong(math.max(1L, spanMicros))
          val (row, n, sensorId, prio) = event(t, isLate)
          validEvents += 1
          metricsHistogram(n) = metricsHistogram.getOrElse(n, 0L) + 1
          if (isLate) { lateEvents += 1; late += n }
          else {
            alerts += n; chunkAlerts += n
            if (shape.windowMicros > 0) {
              var j = 0
              while (j < n) {
                val w = Math.floorDiv(t + j * MetricStepMicros, shape.windowMicros) * shape.windowMicros
                val k = (w, sensorId, PriorityLabels(prio.toInt))
                val id = keyIds.getOrElseUpdate(k, { keyList += k; keyList.length - 1 })
                windowCounts(id) = windowCounts.getOrElse(id, 0L) + 1
                keys += id
                j += 1
              }
            }
          }
          val hash = row.getString(EHash)
          if (hash.startsWith("00")) sampled(hash) = row
          val payload = ProtobufWire.encodeSensorEvent(row)
          val header = if (rnd.nextDouble() < 0.10) { multiIndex += 1; MultiHeader } else PlainHeader
          concat(header, payload)
        }
      if (frame == null) sha.update(Array[Byte](-1, -1, -1, -1))
      else { sha.update(java.nio.ByteBuffer.allocate(4).putInt(frame.length).array()); sha.update(frame) }
      frames(i) = Frame(frame)
      i += 1
    }
    new Chunk(index, frames, chunkAlerts, dropped, late, keys.toArray.sorted)
  }

  private def malformedFrame(): Array[Byte] = {
    val kind = MalformedKinds(rnd.nextInt(MalformedKinds.length))
    malformed(kind) += 1
    val payload = ProtobufWire.encodeSensorEvent(event(BaseMicros, late = false)._1)
    kind match {
      case "short_frame" => Array[Byte](0, 0, 0)
      case "bad_magic" => val f = concat(PlainHeader, payload); f(0) = 1; f
      // a varint field tag whose value's continuation bit runs off the end
      case "truncated_varint" => concat(PlainHeader, payload ++ Array[Byte](0x20, 0xff.toByte))
      // one message index, zigzag-encoded -1
      case "bad_index" => concat(Array[Byte](0, 0, 0, 0, SchemaId.toByte, 2, 1), payload)
    }
  }

  private def concat(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = java.util.Arrays.copyOf(a, a.length + b.length)
    System.arraycopy(b, 0, out, a.length, b.length)
    out
  }

  private def hex(n: Int): String = {
    val c = new Array[Char](n)
    var i = 0
    while (i < n) { c(i) = HexDigits(rnd.nextInt(16)); i += 1 }
    new String(c)
  }

  private def pick[T](xs: Array[T]): T = xs(rnd.nextInt(xs.length))
  private def maybe[T](p: Double)(v: => T): Any = if (rnd.nextDouble() < p) null else v
  private def ip(): String = s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(1, 255)}"
  private def mac(): String = {
    val c = new Array[Char](17)
    var i = 0
    while (i < 17) { c(i) = if (i % 3 == 2) ':' else HexDigits(rnd.nextInt(16)); i += 1 }
    new String(c)
  }

  /** (event row, metric count, sensor_id, priority). */
  private def event(tMicros: Long, late: Boolean): (Row, Int, String, Long) = {
    val n = if (late) 1 else shape.metricsPerEvent(rnd)
    val prio = 1L + rnd.nextInt(4)
    val sensorId = if (late) f"late-$lateEvents%08d" else sensorNames(sensor())
    val proto = pick(Protocols)
    val sid = 2000000L + rnd.nextInt(100000)
    val rev = 1L + rnd.nextInt(12)
    val seconds = Math.floorDiv(tMicros, 1000000L)
    val read = tMicros + rnd.nextInt(5000)
    val sent = read + (if (rnd.nextInt(20) == 0) 0 else rnd.nextInt(2000))
    val received = (sent / 1000 + rnd.nextInt(50)) * 1000 // whole millis: a trimmed fraction
    val metrics = Array.tabulate[Row](n) { j =>
      val m = new Array[Any](MetricFields)
      val mt = tMicros + j * MetricStepMicros
      m(MTimestamp) =
        if (rnd.nextDouble() < shape.badTimestampShare) "n/a"
        else SnortTs.format(Instant.ofEpochSecond(Math.floorDiv(mt, 1000000L), Math.floorMod(mt, 1000000L) * 1000))
      val body = new Array[Byte](30 + (math.exp(rnd.nextGaussian() * 0.7) * 60).toInt.min(400))
      rnd.nextBytes(body)
      m(M("snort_base64_data")) = maybe(0.1)(java.util.Base64.getEncoder.encodeToString(body))
      m(M("snort_client_bytes")) = rnd.nextLong(1, 1L << 24)
      m(M("snort_client_pkts")) = rnd.nextLong(1, 5000)
      m(M("snort_dst_address")) = ip()
      m(M("snort_dst_port")) = rnd.nextLong(1, 65536)
      m(M("snort_dst_ap")) = s"${ip()}:${rnd.nextInt(1, 65536)}"
      m(M("snort_eth_dst")) = mac()
      m(M("snort_eth_src")) = mac()
      m(M("snort_eth_type")) = "0x800"
      m(M("snort_eth_len")) = rnd.nextLong(60, 1515)
      m(M("snort_flowstart_time")) = seconds - rnd.nextInt(600)
      m(M("snort_geneve_vni")) = maybe(0.9)(rnd.nextLong(1, 1L << 24))
      if (proto == "ICMP") {
        m(M("snort_icmp_code")) = rnd.nextLong(16); m(M("snort_icmp_id")) = rnd.nextLong(65536)
        m(M("snort_icmp_seq")) = rnd.nextLong(65536); m(M("snort_icmp_type")) = rnd.nextLong(16)
      }
      m(M("snort_ip_id")) = rnd.nextLong(65536)
      m(M("snort_ip_length")) = rnd.nextLong(20, 1500)
      m(M("snort_mpls")) = maybe(0.95)(rnd.nextLong(1 << 20))
      m(M("snort_pkt_gen")) = pick(PktGens)
      m(M("snort_pkt_length")) = rnd.nextLong(40, 1500)
      m(M("snort_pkt_number")) = j.toLong
      m(M("snort_server_bytes")) = rnd.nextLong(1, 1L << 24)
      m(M("snort_server_pkts")) = rnd.nextLong(1, 5000)
      m(M("snort_sgt")) = maybe(0.9)(rnd.nextLong(65536))
      m(M("snort_src_address")) = ip()
      m(M("snort_src_port")) = rnd.nextLong(1024, 65536)
      m(M("snort_src_ap")) = s"${ip()}:${rnd.nextInt(1024, 65536)}"
      m(M("snort_target")) = maybe(0.7)(pick(Array("src", "dst")))
      if (proto == "TCP") {
        m(M("snort_tcp_ack")) = rnd.nextLong(1L << 32); m(M("snort_tcp_flags")) = pick(TcpFlags)
        m(M("snort_tcp_len")) = rnd.nextLong(20, 60); m(M("snort_tcp_seq")) = rnd.nextLong(1L << 32)
        m(M("snort_tcp_win")) = rnd.nextLong(65536)
      }
      m(M("snort_time_to_live")) = rnd.nextLong(1, 256)
      if (proto == "UDP") m(M("snort_udp_length")) = rnd.nextLong(8, 1500)
      m(M("snort_vlan")) = maybe(0.8)(rnd.nextLong(4096))
      new GenericRowWithSchema(m, SensorSchemas.metricSchema): Row
    }
    val e = new Array[Any](EventFields)
    e(E("metrics")) = metrics.toIndexedSeq
    e(EHash) = hex(64)
    e(E("event_metrics_count")) = n.toLong
    e(E("event_seconds")) = seconds
    e(E("sensor_id")) = sensorId
    e(E("sensor_version")) = pick(Versions)
    e(E("event_read_at")) = read
    e(E("event_sent_at")) = sent
    e(E("event_received_at")) = received
    e(E("snort_action")) = maybe(0.05)(pick(Actions))
    e(E("snort_classification")) = maybe(0.03)(pick(Classifications))
    e(E("snort_direction")) = maybe(0.05)(pick(Directions))
    e(E("snort_interface")) = pick(Interfaces)
    e(E("snort_message")) = pick(Messages)
    e(E("snort_priority")) = prio
    e(E("snort_protocol")) = proto
    e(E("snort_rule_gid")) = 1L
    e(E("snort_rule_rev")) = rev
    e(E("snort_rule_sid")) = sid
    e(E("snort_rule")) = s"1:$sid:$rev"
    e(E("snort_seconds")) = seconds
    e(E("snort_service")) = maybe(0.3)(pick(Services))
    e(E("snort_type_of_service")) = maybe(0.5)(pick(Array(0L, 8L, 16L, 32L)))
    (new GenericRowWithSchema(e, SensorSchemas.sensorEventSchema), n, sensorId, prio)
  }
}

object SensorGen {
  val SchemaId = 7
  /** 2024-01-01T00:00:00Z, the event-time origin of every workload. */
  val BaseMicros = 1704067200L * 1000 * 1000
  /** Event-time step between the metrics of one event. */
  val MetricStepMicros = 997L
  val MalformedKinds: Array[String] = Array("short_frame", "bad_magic", "truncated_varint", "bad_index")
  val PriorityLabels: Array[String] = Array("", "High", "Medium", "Low", "Informational")
  private val HexDigits = "0123456789abcdef".toCharArray

  private val PlainHeader = ConfluentFraming.header(SchemaId)
  private val MultiHeader = ConfluentFraming.header(SchemaId, Seq(1, 0))
  private val SnortTs = DateTimeFormatter.ofPattern("yy/MM/dd-HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)

  private val EventFields = SensorSchemas.sensorEventSchema.length
  private val MetricFields = SensorSchemas.metricSchema.length
  private def E(n: String): Int = SensorSchemas.sensorEventSchema.fieldIndex(n)
  private def M(n: String): Int = SensorSchemas.metricSchema.fieldIndex(n)
  private val EHash = E("event_hash_sha256")
  private val MTimestamp = M("snort_timestamp")

  private val Protocols = Array("TCP", "TCP", "TCP", "UDP", "ICMP")
  private val PktGens = Array("raw", "stream_tcp", "stream_ip", "cooked")
  private val TcpFlags = Array("***AP***", "****S***", "***A****", "***A*R**", "***AP**F")
  private val Versions = Array("3.1.82.0", "3.1.78.0", "3.3.5.0")
  private val Actions = Array("allow", "alert", "drop", "block")
  private val Directions = Array("C2S", "S2C", "UNKNOWN")
  private val Interfaces = Array("eth0", "ens5", "enp3s0f1")
  private val Services = Array("http", "dns", "ssl", "smtp", "unknown")
  private val Classifications = Array(
    "Potentially Bad Traffic", "Attempted Information Leak", "Misc activity",
    "A Network Trojan was detected", "Web Application Attack", "Attempted Administrator Privilege Gain",
    "Detection of a Network Scan", "Generic Protocol Command Decode")
  private val Messages = Array(
    "ET SCAN Suspicious inbound to mySQL port 3306",
    "ET POLICY Outgoing Basic Auth Base64 HTTP Password detected unencrypted",
    "GPL ICMP_INFO PING *NIX",
    "ET DNS Query for .onion proxy Domain",
    "SERVER-WEBAPP Apache Struts remote code execution attempt",
    "ET SCAN Potential SSH Scan OUTBOUND",
    "PROTOCOL-ICMP Unusual PING detected",
    "ET INFO Observed DNS Query to .cloud TLD",
    "ET WEB_SERVER Possible SQL Injection Attempt UNION SELECT",
    "INDICATOR-SCAN UPnP service discover attempt")
}
