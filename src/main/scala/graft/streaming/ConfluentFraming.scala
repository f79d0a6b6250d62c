package graft.streaming

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Confluent Schema Registry wire framing (public wire format): 1 magic byte
  * 0x00 + 4-byte big-endian schema id + — for the protobuf serde only — a
  * zigzag-varint *message-indexes* block locating the message type inside
  * the .proto file, then the payload. The reference deserializes with
  * Confluent's protobuf serde (internal/schema/schema.go:23-34), which
  * emits/consumes that indexes block; the common case (first top-level
  * message, indexes = [0]) is encoded as the single byte 0x00.
  *
  * Spark's codec functions don't speak this framing, so the engine
  * implements it directly (SURVEY.md §7.4 hard-part 3). Byte-level parsing
  * happens JVM-side because the header length is dynamic: the decode
  * generator ([[ProtobufWire.decodeFramed]]) calls [[payloadOffset]] on each
  * value and reads the payload in place; the [[strip]] Column wrapper exists
  * for plan-level use on non-hot paths.
  */
object ConfluentFraming {

  final class BadFrame(msg: String) extends RuntimeException(msg)

  /** Validates the header (length, magic byte, message-indexes block) and
    * returns the payload offset, collecting the message indexes into
    * `indexes` when it is not null. Throws [[BadFrame]] on malformed input;
    * callers on the stream path route that to the failed-event counter
    * rather than killing the task.
    */
  private def readHeader(framed: Array[Byte], indexes: collection.mutable.Growable[Int]): Int = {
    if (framed.length < 6) throw new BadFrame(s"frame too short: ${framed.length} bytes")
    if (framed(0) != 0) throw new BadFrame(f"bad magic byte 0x${framed(0)}%02x")
    var pos = 5
    var remaining = -1L // indexes still to read; -1 until the count is read
    while (remaining != 0) {
      var shift = 0
      var raw = 0L
      var more = true
      while (more) {
        if (shift > 63) throw new BadFrame("varint exceeds 64 bits in message indexes")
        if (pos >= framed.length) throw new BadFrame("truncated varint in message indexes")
        val b = framed(pos); pos += 1
        raw |= (b & 0x7fL) << shift
        more = (b & 0x80) != 0
        shift += 7
      }
      val v = (raw >>> 1) ^ -(raw & 1)
      if (remaining < 0) {
        if (v == 0) { // single-0x00 shorthand for [0]
          if (indexes != null) indexes += 0
          remaining = 0
        } else if (v < 0 || v > 128) throw new BadFrame(s"implausible message-index count $v")
        else remaining = v
      } else {
        // A message index is a non-negative position in the .proto's nested
        // message tree — negative or >Int.MaxValue values are a corrupt
        // frame, not data (truncating with toInt would silently alias them).
        if (v < 0 || v > Int.MaxValue) throw new BadFrame(s"message index out of range: $v")
        if (indexes != null) indexes += v.toInt
        remaining -= 1
      }
    }
    pos
  }

  /** Offset of the payload after magic + schema id + message-indexes block.
    * Allocates nothing on a well-formed frame; throws [[BadFrame]].
    */
  def payloadOffset(framed: Array[Byte]): Int = readHeader(framed, null)

  /** Parses the full frame header; returns (schemaId, messageIndexes,
    * payloadOffset). Throws [[BadFrame]] on malformed input.
    */
  def parseHeader(framed: Array[Byte]): (Int, Seq[Int], Int) = {
    val indexes = collection.mutable.ArrayBuffer[Int]()
    val off = readHeader(framed, indexes)
    val schemaId = ((framed(1) & 0xff) << 24) | ((framed(2) & 0xff) << 16) |
      ((framed(3) & 0xff) << 8) | (framed(4) & 0xff)
    (schemaId, indexes.toSeq, off)
  }

  /** Payload bytes after magic + schema id + message-indexes block. */
  def stripBytes(framed: Array[Byte]): Array[Byte] =
    java.util.Arrays.copyOfRange(framed, payloadOffset(framed), framed.length)

  /** Message-indexes block of a framed value (e.g. [0] for the first
    * top-level message in the registered .proto).
    */
  def messageIndexes(framed: Array[Byte]): Seq[Int] = parseHeader(framed)._2

  /** Column form of [[stripBytes]] (UDF — fine off the hot path; the
    * streaming decode path finds the payload in place inside its decode
    * generator instead, see [[ProtobufWire.decodeFramed]]).
    * TOTAL over dirty input: null or unframeable bytes yield SQL NULL
    * (filterable/countable at plan level) instead of failing the whole
    * query — a Column op has no access to the malformed counter, so NULL
    * is its count-and-continue equivalent.
    */
  def strip(value: Column): Column =
    udf((b: Array[Byte]) =>
      if (b == null) null
      else try stripBytes(b) catch { case _: BadFrame => null }).apply(value)

  /** Frame a payload for a fixed schema id + message indexes (static per
    * target topic/message type; [0] — the wire shorthand 0x00 — by default).
    */
  def add(payload: Column, schemaId: Int, messageIndexes: Seq[Int] = Seq(0)): Column =
    concat(lit(header(schemaId, messageIndexes)), payload)

  /** The literal header bytes for a schema id + message-indexes list. */
  def header(schemaId: Int, messageIndexes: Seq[Int] = Seq(0)): Array[Byte] = {
    val out = new WireBuffer(16)
    out.write(0)
    out.write(schemaId >> 24); out.write(schemaId >> 16)
    out.write(schemaId >> 8); out.write(schemaId)
    if (messageIndexes == Seq(0)) out.write(0)
    else {
      out.writeZigzag(messageIndexes.length.toLong)
      messageIndexes.foreach(i => out.writeZigzag(i.toLong))
    }
    out.toByteArray
  }

  /** Schema id carried in a framed value (for routing / compat checks). */
  def schemaId(value: Column): Column =
    conv(hex(substring(value, 2, 4)), 16, 10).cast("int")
}
