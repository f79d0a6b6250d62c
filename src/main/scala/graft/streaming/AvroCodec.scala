package graft.streaming

import org.apache.avro.Schema
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets

/** Catalyst row → Avro binary for the sink path. The image ships Avro core
  * but not the spark-avro bridge module, so the engine derives the Avro
  * schema from the Spark StructType directly — the same "schema follows the
  * struct" contract as the reference's generic Avro serializer
  * (internal/schema/schema.go:36-43) — and writes the binary encoding of
  * that schema itself, straight from the struct's `InternalRow`
  * ([[RowWriter]]). [[avroSchema]] stays the contract: the bytes are what
  * Avro's `GenericDatumWriter` writes for it (AvroWriterSpec checks them
  * against it).
  */
object AvroCodec {

  /** StructType → Avro record schema. Nullable fields become
    * union(null, T); nested structs recurse (SnortAlert.metadata).
    */
  def avroSchema(st: StructType, name: String, namespace: String = "graft"): Schema = {
    val fields = new java.util.ArrayList[Schema.Field]()
    st.fields.foreach { f =>
      val base = f.dataType match {
        case StringType  => Schema.create(Schema.Type.STRING)
        case LongType    => Schema.create(Schema.Type.LONG)
        case IntegerType => Schema.create(Schema.Type.INT)
        case DoubleType  => Schema.create(Schema.Type.DOUBLE)
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case BinaryType  => Schema.create(Schema.Type.BYTES)
        case nested: StructType => avroSchema(nested, s"${name}_${f.name}", namespace)
        case other => throw new IllegalArgumentException(s"unsupported type $other for ${f.name}")
      }
      val (schema, default) =
        if (f.nullable)
          (Schema.createUnion(Schema.create(Schema.Type.NULL), base),
            Schema.Field.NULL_DEFAULT_VALUE)
        else (base, null)
      fields.add(new Schema.Field(f.name, schema, null, default))
    }
    Schema.createRecord(name, null, namespace, false, fields)
  }

  private final val Str = 0
  private final val Lng = 1
  private final val Int32 = 2
  private final val Dbl = 3
  private final val Bool = 4
  private final val Bin = 5
  private final val Rec = 6

  /** Avro binary encoding of `avroSchema(st, _)` for rows of `st`: fields
    * in order; a nullable field is its union branch index (0 null, 1 value)
    * as a zigzag varint, then the value; ints and longs are zigzag varints;
    * doubles 8 little-endian bytes of their raw bits; strings and bytes a
    * zigzag length, then the bytes; a nested record its fields.
    */
  private[streaming] final class RowWriter(st: StructType) {
    private val kinds: Array[Int] = st.fields.map(_.dataType match {
      case StringType => Str
      case LongType => Lng
      case IntegerType => Int32
      case DoubleType => Dbl
      case BooleanType => Bool
      case BinaryType => Bin
      case _: StructType => Rec
      case other => throw new IllegalArgumentException(s"unsupported type $other")
    })
    private val nullable: Array[Boolean] = st.fields.map(_.nullable)
    private val nested: Array[RowWriter] = st.fields.map(_.dataType match {
      case s: StructType => new RowWriter(s)
      case _ => null
    })
    private val widths: Array[Int] = st.fields.map(_.dataType match {
      case s: StructType => s.length
      case _ => 0
    })

    def write(row: InternalRow, out: WireBuffer): Unit = {
      var i = 0
      while (i < kinds.length) {
        if (nullable(i) && row.isNullAt(i)) out.write(0)
        else {
          if (nullable(i)) out.write(2)
          (kinds(i): @annotation.switch) match {
            case Str => writeString(row.getUTF8String(i), out)
            case Lng => out.writeZigzag(row.getLong(i))
            case Int32 => out.writeZigzag(row.getInt(i).toLong)
            case Dbl => out.writeLongLE(java.lang.Double.doubleToRawLongBits(row.getDouble(i)))
            case Bool => out.write(if (row.getBoolean(i)) 1 else 0)
            case Bin =>
              val b = row.getBinary(i)
              out.writeZigzag(b.length.toLong); out.write(b)
            case Rec => nested(i).write(row.getStruct(i, widths(i)), out)
          }
        }
        i += 1
      }
    }

    /** Valid UTF-8 goes out as stored; anything else as the Java string it
      * reads as (U+FFFD replacement), which is what Avro writes for it. */
    private def writeString(s: UTF8String, out: WireBuffer): Unit =
      if (s.isValid) { out.writeZigzag(s.numBytes.toLong); out.write(s) }
      else {
        val b = s.toString.getBytes(StandardCharsets.UTF_8)
        out.writeZigzag(b.length.toLong); out.write(b)
      }
  }

  /** Confluent-framed Avro value of a struct column: magic byte 0x00, the
    * 4-byte big-endian schema id, then the struct's Avro binary.
    */
  def confluentValue(struct: Column, schemaId: Int): Column =
    ColumnBridge.column(ConfluentAvroValue(ColumnBridge.expression(struct), schemaId))

  /** [[confluentValue]] as an expression. Each record is written into a
    * buffer the task's copy of the expression keeps, then copied out once.
    */
  private[streaming] case class ConfluentAvroValue(child: Expression, schemaId: Int)
      extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case _: StructType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"$prettyName needs a struct, got ${other.sql}")
    }
    override def dataType: DataType = BinaryType
    override def prettyName: String = "confluent_avro"

    @transient private lazy val writer = new RowWriter(child.dataType.asInstanceOf[StructType])
    @transient private lazy val buffer = new WireBuffer(1024)

    def encode(row: InternalRow): Array[Byte] = {
      buffer.reset()
      buffer.write(0)
      buffer.write(schemaId >> 24); buffer.write(schemaId >> 16)
      buffer.write(schemaId >> 8); buffer.write(schemaId)
      writer.write(row, buffer)
      buffer.toByteArray
    }

    override protected def nullSafeEval(struct: Any): Any = encode(struct.asInstanceOf[InternalRow])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("avroValue", this)
      defineCodeGen(ctx, ev, row => s"$self.encode($row)")
    }

    override protected def withNewChildInternal(newChild: Expression): ConfluentAvroValue =
      copy(child = newChild)
  }
}
