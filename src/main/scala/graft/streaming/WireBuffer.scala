package graft.streaming

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Growable, unsynchronized byte buffer holding the one base-128 varint
  * writer that every wire format the engine writes shares: protobuf tags and
  * lengths ([[ProtobufWire]]), the zigzag message-indexes block
  * ([[ConfluentFraming]]) and Avro's zigzag ints, longs and lengths
  * ([[AvroCodec]]). The Avro sink keeps one per task and `reset`s it per
  * record, so a record costs one copy of its final bytes.
  */
final class WireBuffer(initialSize: Int = 256) {
  private var buf = new Array[Byte](initialSize)
  private var n = 0

  def reset(): Unit = n = 0

  private def ensure(extra: Int): Unit =
    if (n + extra > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + extra))

  def write(b: Int): Unit = { ensure(1); buf(n) = b.toByte; n += 1 }

  def write(bytes: Array[Byte]): Unit = {
    ensure(bytes.length)
    System.arraycopy(bytes, 0, buf, n, bytes.length)
    n += bytes.length
  }

  /** The string's UTF-8 bytes, as stored. */
  def write(s: UTF8String): Unit = {
    ensure(s.numBytes)
    s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + n)
    n += s.numBytes
  }

  /** Unsigned varint: 7 bits per byte, low group first. */
  def writeVarint(v0: Long): Unit = {
    ensure(10)
    var v = v0
    while ((v & ~0x7fL) != 0) {
      buf(n) = ((v & 0x7f) | 0x80).toByte
      n += 1
      v >>>= 7
    }
    buf(n) = v.toByte
    n += 1
  }

  /** Zigzag varint: small magnitudes of either sign stay short. */
  def writeZigzag(v: Long): Unit = writeVarint((v << 1) ^ (v >> 63))

  def writeLongLE(v: Long): Unit = {
    ensure(8)
    var i = 0
    while (i < 8) { buf(n + i) = (v >>> (8 * i)).toByte; i += 1 }
    n += 8
  }

  def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, n)
}
