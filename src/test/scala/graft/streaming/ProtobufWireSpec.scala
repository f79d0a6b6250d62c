package graft.streaming

import graft.SparkSpec
import graft.pipeline.{SensorSchemas, SnortPipeline}
import org.apache.spark.sql.Row
import scala.jdk.CollectionConverters._

class ProtobufWireSpec extends SparkSpec {

  private def metric(ts: String): Row =
    Row.fromSeq((ts +: Array.fill[Any](37)(null)).toIndexedSeq)

  private def event(hash: String, metrics: Seq[Row]): Row =
    Row(metrics, hash, metrics.size.toLong, 1738296906L, "s1", "v1",
      1738296906927463L, 1738296906900000L, 1738296906000000L,
      "allow", null, "C2S", "eth0", "msg", 1L, "TCP", 1L, 2L, 3L,
      "1:1", 1738296906L, "http", null)

  test("golden wire bytes for minimal messages (hand-computed from the spec)") {
    val m = metric("A")
    // Metric{snort_timestamp:"A"} → tag(1,len)=0x0A, len=1, 'A'
    val mBytes = ProtobufWire.encodeSensorEvent(event("", Seq(m)))
    // event: field1(len-delim)=0x0A, len=3, then nested [0x0A,0x01,0x41];
    // then field2 ""(len 0)=0x12,0x00; field3 varint 1=0x18,0x01 ...
    assert(mBytes.take(7).toSeq ==
      Seq(0x0a, 0x03, 0x0a, 0x01, 0x41, 0x12, 0x00).map(_.toByte))
  }

  test("roundtrip: encode → Confluent frame → strip → decode equals input") {
    val original = event("hash-x", Seq(metric("25/01/31-04:15:06.927463"), metric("t2")))
    val encoded = ProtobufWire.encodeSensorEvent(original)
    val decoded = ProtobufWire.decodeSensorEvent(encoded)
    assert(decoded == original)
  }

  test("unknown fields are skipped, defaults fill absent scalars") {
    // append an unknown varint field (number 99): tag = 99<<3|0 = 792
    val base = ProtobufWire.encodeSensorEvent(event("h", Seq.empty))
    val out = new java.io.ByteArrayOutputStream()
    out.write(base); out.write(0x98.toByte); out.write(0x06); out.write(0x2a)
    val decoded = ProtobufWire.decodeSensorEvent(out.toByteArray)
    val schema = SensorSchemas.sensorEventSchema
    assert(decoded.getString(schema.fieldIndex("event_hash_sha256")) == "h")
    assert(decoded.isNullAt(schema.fieldIndex("snort_classification")))
  }

  test("end-to-end: framed bytes → strip → decode → explode → SnortAlert") {
    import org.apache.spark.sql.functions._
    val framedRows = Seq(
      Row(javaBytes(withFrame(ProtobufWire.encodeSensorEvent(
        event("hash-1", Seq(metric("25/01/31-04:15:06.927463"), metric("x"))))))))
    val df = spark.createDataFrame(framedRows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.BinaryType))))
    val stripped = df.select(ConfluentFraming.strip(col("value")).as("payload"),
      ConfluentFraming.schemaId(col("value")).as("sid"))
    assert(stripped.select("sid").head().getInt(0) == 17)
    val events = ProtobufWire.decode(stripped, "payload")
    val alerts = SnortPipeline.alerts(events)
    assert(alerts.count() == 2)
    val row = alerts.orderBy(col("timestamp")).head()
    assert(row.getStruct(row.fieldIndex("metadata")).getAs[String]("hash_sha256") == "hash-1")
    assert(row.getAs[String]("priority_str") == "High")
  }

  test("decode works on a STREAMING DataFrame and drops malformed records") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val in = MemoryStream[Array[Byte]](spark)
    val decoded = ProtobufWire.decode(in.toDF().toDF("payload"), "payload")
    val q = decoded.writeStream.format("memory").queryName("proto_stream").start()
    in.addData(
      ProtobufWire.encodeSensorEvent(event("ok-1", Seq(metric("t")))),
      Array[Byte](0x0a, 0x7f),                   // truncated length-delimited
      Array[Byte](0x98.toByte, 0x06),            // truncated varint field
      ProtobufWire.encodeSensorEvent(event("ok-2", Seq.empty)))
    q.processAllAvailable()
    q.stop()
    val hashes = spark.table("proto_stream")
      .select($"event_hash_sha256").as[String].collect().sorted.toSeq
    assert(hashes == Seq("ok-1", "ok-2")) // poison records dropped, stream alive
  }

  test("Confluent protobuf framing: header parse, [0] shorthand, explicit indexes") {
    val payload = Array[Byte](0x0a, 0x01, 0x41)
    // shorthand frame: magic, 4-byte id, single 0x00 for message-indexes [0]
    val shorthand = ConfluentFraming.header(17) ++ payload
    assert(shorthand.toSeq == Seq[Byte](0, 0, 0, 0, 17, 0) ++ payload.toSeq)
    assert(ConfluentFraming.parseHeader(shorthand) == ((17, Seq(0), 6)))
    assert(ConfluentFraming.stripBytes(shorthand).toSeq == payload.toSeq)
    // explicit indexes block: zigzag count + zigzag indexes
    val nested = ConfluentFraming.header(300, Seq(1, 2)) ++ payload
    assert(nested.toSeq ==
      Seq[Byte](0, 0, 0, 1, 44, 4, 2, 4) ++ payload.toSeq) // zigzag: 2→4, 1→2, 2→4
    assert(ConfluentFraming.parseHeader(nested) == ((300, Seq(1, 2), 8)))
    assert(ConfluentFraming.stripBytes(nested).toSeq == payload.toSeq)
    // garbage rejected, not misparsed
    intercept[ConfluentFraming.BadFrame](
      ConfluentFraming.parseHeader(Array[Byte](1, 0, 0, 0, 17, 0)))
    intercept[ConfluentFraming.BadFrame](
      ConfluentFraming.parseHeader(Array[Byte](0, 0, 0)))
  }

  test("decodeFramed: Confluent-framed fixture decodes; bad frames counted not fatal") {
    import spark.implicits._
    val good = withFrame(ProtobufWire.encodeSensorEvent(event("ok-f", Seq(metric("t")))))
    // header claims message-indexes count 3 but the block is truncated
    val badFrame = Array[Byte](0, 0, 0, 0, 17, 6)
    val noMagic = Array[Byte](9, 9, 9)
    val counter = ProtobufWire.malformedCounter(spark)
    val df = Seq(good, badFrame, noMagic).toDF("value")
    val out = ProtobufWire.decodeFramed(df, "value", Some(counter))
    assert(out.select($"event_hash_sha256").as[String].collect().toSeq == Seq("ok-f"))
    assert(counter.value == 2L)
  }

  test("wire-type mismatch on a known field is skipped, not misread") {
    // event_seconds (field 4) is a varint long; encode it length-delimited
    // (wire type 2) instead — a conformant parser treats it as unknown.
    val out = new java.io.ByteArrayOutputStream()
    out.write((4 << 3) | 2); out.write(0x02); out.write(0x41); out.write(0x42)
    // then a correct string field 5 (sensor_id)
    out.write((5 << 3) | 2); out.write(0x02); out.write('s'); out.write('1')
    val decoded = ProtobufWire.decodeSensorEvent(out.toByteArray)
    val schema = SensorSchemas.sensorEventSchema
    assert(decoded.getLong(schema.fieldIndex("event_seconds")) == 0L) // default, not 0x41
    assert(decoded.getString(schema.fieldIndex("sensor_id")) == "s1") // parse continued
    // string field with varint wire type likewise skipped
    val out2 = new java.io.ByteArrayOutputStream()
    out2.write((5 << 3) | 0); out2.write(0x07)
    val decoded2 = ProtobufWire.decodeSensorEvent(out2.toByteArray)
    assert(decoded2.getString(schema.fieldIndex("sensor_id")) == "")
  }

  test("field numbers 0 and past int32 are malformed, not skipped or aliased") {
    val schema = SensorSchemas.sensorEventSchema
    def tagged(field: Long, value: Array[Byte]): Array[Byte] = {
      val out = new WireBuffer()
      out.writeVarint((field << 3) | 2); out.writeVarint(value.length.toLong); out.write(value)
      out.toByteArray
    }
    val s1 = "s1".getBytes("UTF-8")
    assert(ProtobufWire.decodeSensorEvent(tagged(5, s1)).getString(schema.fieldIndex("sensor_id")) == "s1")
    // 2^32 + 5 truncated to an Int is 5: it must not land in sensor_id
    intercept[ProtobufWire.MalformedRecord](ProtobufWire.decodeSensorEvent(tagged((1L << 32) + 5, s1)))
    intercept[ProtobufWire.MalformedRecord](ProtobufWire.decodeSensorEvent(tagged(0, s1)))
    intercept[ProtobufWire.MalformedRecord](ProtobufWire.decodeSensorEvent(Array[Byte](0, 1)))
    intercept[ProtobufWire.MalformedRecord](ProtobufWire.decodeSensorEvent(tagged(Int.MaxValue + 1L, s1)))
    // the largest int32 field number is an unknown field and is skipped
    assert(ProtobufWire.decodeSensorEvent(tagged(Int.MaxValue, s1) ++ tagged(5, s1))
      .getString(schema.fieldIndex("sensor_id")) == "s1")
    // the same inside a metric fails the whole event, and both count as dropped
    val badMetric = tagged(1, tagged(0, s1))
    intercept[ProtobufWire.MalformedRecord](ProtobufWire.decodeSensorEvent(badMetric))
    import spark.implicits._
    val counter = ProtobufWire.malformedCounter(spark)
    val df = Seq(tagged((1L << 32) + 5, s1), tagged(0, s1), badMetric, tagged(5, s1))
      .map(withFrame).toDF("value")
    val out = ProtobufWire.decodeFramed(df, "value", Some(counter))
    assert(out.select($"sensor_id").as[String].collect().toSeq == Seq("s1"))
    assert(counter.value == 3L)
  }

  test("invalid UTF-8 in a string field reads exactly as new String(bytes, UTF_8)") {
    val schema = SensorSchemas.sensorEventSchema
    val samples = GoldenFrames.InvalidUtf8 ++ Seq("ok", "日本", "🚨").map(_.getBytes("UTF-8")) ++
      org.scalacheck.Gen.listOfN(400, org.scalacheck.Gen.containerOf[Array, Byte](
        org.scalacheck.Gen.oneOf[Byte](Seq[Int](0x41, 0x7f, 0x80, 0xbf, 0xc0, 0xc2, 0xdf, 0xe0, 0xe6, 0xed,
          0xef, 0xf0, 0xf4, 0xf5, 0xff, 0x9f, 0xa0, 0x90).map(_.toByte))))
        .pureApply(org.scalacheck.Gen.Parameters.default, org.scalacheck.rng.Seed(11L))
    samples.foreach { b =>
      val out = new WireBuffer()
      out.writeVarint((5L << 3) | 2); out.writeVarint(b.length.toLong); out.write(b)
      val got = ProtobufWire.decodeSensorEvent(out.toByteArray).getString(schema.fieldIndex("sensor_id"))
      assert(got == new String(b, "UTF-8"), b.map(x => f"${x & 0xff}%02x").mkString(" "))
    }
  }

  test("decodeFramed keeps the SensorEvent schema, nullability included") {
    import spark.implicits._
    val df = Seq(withFrame(ProtobufWire.encodeSensorEvent(event("h", Seq(metric("t")))))).toDF("value")
    assert(ProtobufWire.decodeFramed(df, "value").schema == SensorSchemas.sensorEventSchema)
    assert(ProtobufWire.decode(df, "value").schema == SensorSchemas.sensorEventSchema)
  }

  test("payloadOffset agrees with parseHeader and stripBytes on every frame shape") {
    val payload = Array[Byte](0x0a, 0x01, 0x41)
    Seq(Seq(0), Seq(1, 0), Seq(3, 1, 4), Seq(200, 0)).foreach { idx =>
      val framed = ConfluentFraming.header(9, idx) ++ payload
      val (_, indexes, off) = ConfluentFraming.parseHeader(framed)
      assert(indexes == idx)
      assert(ConfluentFraming.payloadOffset(framed) == off)
      assert(ConfluentFraming.stripBytes(framed).toSeq == payload.toSeq)
    }
    GoldenFrames.BadFrames.take(9).foreach { bad =>
      intercept[ConfluentFraming.BadFrame](ConfluentFraming.payloadOffset(bad))
    }
  }

  test("property: encodeSensorEvent → decode gives back the same rows") {
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.rng.Seed
    // strings of whole code points: a lone surrogate has no UTF-8 form
    val text = Gen.oneOf(Gen.alphaNumStr, Gen.const(""),
      Gen.listOf(Gen.choose(0, 0x10f7ff).map(c => if (c >= 0xd800) c + 0x800 else c))
        .map(cs => new String(cs.toArray, 0, cs.length)))
    val long = Gen.oneOf(Gen.long, Gen.choose(-300L, 300L), Gen.const(Long.MinValue))
    def value(f: org.apache.spark.sql.types.StructField): Gen[Any] = {
      val v: Gen[Any] = if (f.dataType == org.apache.spark.sql.types.StringType) text else long
      if (f.nullable) Gen.frequency(1 -> Gen.const(null), 3 -> v) else v
    }
    def row(fields: Seq[org.apache.spark.sql.types.StructField], metrics: Gen[Any]): Gen[Row] =
      Gen.sequence[List[Any], Any](fields.map(f => if (f.name == "metrics") metrics else value(f)))
        .map(vs => Row.fromSeq(vs))
    val metricRow = row(SensorSchemas.metricSchema.fields.toSeq, Gen.const(null))
    val eventRow = row(SensorSchemas.sensorEventSchema.fields.toSeq,
      Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, metricRow)))
    val prop = Prop.forAll(eventRow) { e =>
      ProtobufWire.decodeSensorEvent(ProtobufWire.encodeSensorEvent(e)) == e
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(300).withInitialSeed(Seed(5L)), prop)
    assert(result.passed, result.status)
    // the same events through the DataFrame path, framed
    val events = Gen.listOfN(200, eventRow).pureApply(Gen.Parameters.default, Seed(6L))
    import spark.implicits._
    val df = events.map(e => withFrame(ProtobufWire.encodeSensorEvent(e))).toDF("value")
    val got = ProtobufWire.decodeFramed(df, "value").collect().toSeq
    assert(got.sortBy(_.toString) == events.sortBy(_.toString))
  }

  private def withFrame(payload: Array[Byte]): Array[Byte] =
    ConfluentFraming.header(17) ++ payload
  private def javaBytes(a: Array[Byte]): Array[Byte] = a
}
