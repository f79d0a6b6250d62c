package graft.streaming

import graft.SparkSpec
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.io.ByteArrayOutputStream

/** [[AvroCodec.RowWriter]] against Avro's own `GenericDatumWriter`, fed the
  * way the sink fed it before the writer existed: the Catalyst row converted
  * to a [[Row]], then to a `GenericData.Record`.
  */
class AvroWriterSpec extends SparkSpec {

  /** Every type `avroSchema` supports, each nullable and not, nested twice. */
  private val inner = StructType(Seq(
    StructField("s", StringType, nullable = false),
    StructField("ns", StringType),
    StructField("l", LongType),
    StructField("d", DoubleType, nullable = false)))
  private val schema = StructType(Seq(
    StructField("s", StringType, nullable = false),
    StructField("ns", StringType),
    StructField("l", LongType, nullable = false),
    StructField("nl", LongType),
    StructField("i", IntegerType, nullable = false),
    StructField("ni", IntegerType),
    StructField("d", DoubleType, nullable = false),
    StructField("nd", DoubleType),
    StructField("b", BooleanType, nullable = false),
    StructField("nb", BooleanType),
    StructField("y", BinaryType, nullable = false),
    StructField("ny", BinaryType),
    StructField("r", inner, nullable = false),
    StructField("nr", inner),
    StructField("deep", StructType(Seq(StructField("in", inner), StructField("x", LongType))))))

  private def toRecord(row: Row, st: StructType, schema: Schema): GenericRecord = {
    val rec = new GenericData.Record(schema)
    st.fields.zipWithIndex.foreach { case (f, i) =>
      val v =
        if (row.isNullAt(i)) null
        else f.dataType match {
          case nested: StructType =>
            val fs = schema.getField(f.name).schema()
            toRecord(row.getStruct(i), nested, if (fs.getType == Schema.Type.UNION) fs.getTypes.get(1) else fs)
          case BinaryType => java.nio.ByteBuffer.wrap(row.getAs[Array[Byte]](i))
          case _ => row.get(i)
        }
      rec.put(f.name, v)
    }
    rec
  }

  private def oracle(row: Row, st: StructType): Array[Byte] = {
    val avro = AvroCodec.avroSchema(st, "T")
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](avro).write(toRecord(row, st, avro), enc)
    enc.flush()
    out.toByteArray
  }

  private def oracle(row: InternalRow, st: StructType): Array[Byte] =
    oracle(CatalystTypeConverters.createToScalaConverter(st)(row).asInstanceOf[Row], st)

  private val text: Gen[UTF8String] = Gen.oneOf(
    Gen.oneOf("", "a", "Ünïcødé", "日本語", "🚨", "x" * 300).map(UTF8String.fromString),
    Gen.alphaNumStr.map(UTF8String.fromString),
    Gen.oneOf(GoldenFrames.InvalidUtf8).map(b => UTF8String.fromBytes(b)))

  private def value(dt: DataType): Gen[Any] = dt match {
    case StringType => text
    case LongType => Gen.oneOf(Gen.long, Gen.choose(-200L, 200L), Gen.oneOf(Long.MinValue, Long.MaxValue, 0L))
    case IntegerType => Gen.oneOf(Gen.choose(Int.MinValue, Int.MaxValue), Gen.choose(-200, 200),
      Gen.oneOf(Int.MinValue, Int.MaxValue, 0))
    case DoubleType => Gen.oneOf(Gen.double, Gen.oneOf(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue, java.lang.Double.longBitsToDouble(0x7ff8000000000123L)))
    case BooleanType => Gen.oneOf(true, false)
    case BinaryType => Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue))
    case st: StructType => row(st)
  }

  private def row(st: StructType): Gen[InternalRow] =
    Gen.sequence[List[Any], Any](st.fields.toSeq.map { f =>
      if (f.nullable) Gen.frequency(1 -> Gen.const(null), 2 -> value(f.dataType)) else value(f.dataType)
    }).map(vs => new GenericInternalRow(vs.toArray))

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString(" ")

  test("RowWriter writes what GenericDatumWriter writes, for every supported type") {
    val writer = new AvroCodec.RowWriter(schema)
    val buf = new WireBuffer(8) // starts small so the spec exercises growth
    val rows = Gen.listOfN(2000, row(schema)).pureApply(Gen.Parameters.default, Seed(2026L))
    rows.foreach { r =>
      buf.reset()
      writer.write(r, buf)
      val want = oracle(r, schema)
      assert(hex(buf.toByteArray) == hex(want), r.toString)
    }
    // every nullable union met both branches, and invalid UTF-8 was among the strings
    schema.fields.zipWithIndex.filter(_._1.nullable).foreach { case (f, i) =>
      assert(rows.exists(_.isNullAt(i)) && rows.exists(!_.isNullAt(i)), f.name)
    }
    assert(rows.exists(r => !r.getUTF8String(0).isValid))
  }

  test("a string column holding invalid UTF-8 is written as its Java string") {
    // cast(binary as string) keeps the bytes as they are, so the struct
    // reaching the writer holds invalid UTF-8
    import spark.implicits._
    val bytes = GoldenFrames.InvalidUtf8 :+ "fine".getBytes("UTF-8")
    val df = spark.createDataFrame(spark.sparkContext.parallelize(bytes.map(Row(_)), 1),
      StructType(Seq(StructField("raw", BinaryType))))
      .select(struct($"raw".cast("string").as("s")).as("a"))
    val got = df.select(AvroCodec.confluentValue($"a", 7)).as[Array[Byte]].collect()
    val st = StructType(Seq(StructField("s", StringType)))
    bytes.zip(got).foreach { case (b, v) =>
      val want = Array[Byte](0, 0, 0, 0, 7) ++
        oracle(new GenericInternalRow(Array[Any](UTF8String.fromBytes(b))), st)
      assert(hex(v) == hex(want))
      assert(v.length == 5 + 1 + 1 + new String(b, "UTF-8").getBytes("UTF-8").length)
    }
  }

  test("confluentValue gives the same bytes compiled and interpreted") {
    val rows = Gen.listOfN(200, row(schema)).pureApply(Gen.Parameters.default, Seed(7L))
    val external = rows.map(r => CatalystTypeConverters.createToScalaConverter(schema)(r).asInstanceOf[Row])
    // an RDD source: a local relation would be projected on the driver
    val df = spark.createDataFrame(spark.sparkContext.parallelize(external, 2), schema)
    def values(): Seq[String] =
      df.select(AvroCodec.confluentValue(struct(schema.fieldNames.map(col).toSeq: _*), 258))
        .collect().map(r => hex(r.getAs[Array[Byte]](0))).toSeq
    val compiled = values()
    val interpreted = withConf("spark.sql.codegen.wholeStage", "false") {
      withConf("spark.sql.codegen.factoryMode", "NO_CODEGEN")(values())
    }
    // the rows as Spark stores them: its row writer canonicalizes NaN
    val stored = df.collect().toSeq
    val want = stored.map(r => hex(Array[Byte](0, 0, 0, 1, 2) ++ oracle(r, schema)))
    Seq("compiled" -> compiled, "interpreted" -> interpreted).foreach { case (mode, got) =>
      got.indices.find(i => got(i) != want(i)).foreach { i =>
        val at = got(i).zip(want(i)).indexWhere { case (a, b) => a != b }
        fail(s"$mode row $i at char $at: ${got(i).slice(at - 30, at + 30)} vs ${want(i).slice(at - 30, at + 30)}; ${stored(i)}")
      }
    }
  }
}
