package graft.server

import java.io.ByteArrayOutputStream
import java.nio.channels.Channels
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.ArrowStreamWriter
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Arrow IPC result delivery — the engine's bulk-data egress format.
  *
  * The reference delivers every result as Arrow RecordBatches (Flight SQL
  * wire format, PyArrow zero-copy client —
  * /root/reference/crates/server/src/flight_sql.rs:126-215,
  * /root/reference/python/src/connection.rs:414-436). The Spark analog
  * here: encode a (bounded) result as an Arrow IPC stream that any Arrow
  * client (pyarrow, arrow-js, DuckDB `read_arrow`) consumes directly —
  * columns stay columnar end-to-end, no JSON round-trip.
  *
  * Driver-side by design: this is the serving path for interactive
  * results, which the defensive limit already bounds. Large exports go
  * through distributed parquet writes, not a serving endpoint.
  */
object ArrowResults {

  /** Spark schema -> Arrow schema. Result streams force every field
    * nullable (any outer join can introduce nulls the writer must be able
    * to encode); the discovery path preserves the declared nullability —
    * that is metadata the remote client is entitled to. */
  private def toArrowSchema(sparkSchema: StructType,
      forceNullable: Boolean): ArrowSchema = {
    val arrowFields = sparkSchema.fields.map { f =>
      val ft =
        if (forceNullable || f.nullable)
          FieldType.nullable(arrowTypeOf(f.dataType))
        else FieldType.notNullable(arrowTypeOf(f.dataType))
      new Field(f.name, ft, null)
    }
    new ArrowSchema(arrowFields.toSeq.asJava)
  }

  /** Encode already-collected rows — lets the caller scan/guard the rows
    * (prompt-injection policy) before serialization. */
  def toArrowStream(sparkSchema: StructType, rows: Array[Row]): Array[Byte] = {
    val schema = toArrowSchema(sparkSchema, forceNullable = true)

    val allocator = new RootAllocator(Long.MaxValue)
    try {
      val root = VectorSchemaRoot.create(schema, allocator)
      try {
        root.allocateNew()
        sparkSchema.fields.zipWithIndex.foreach { case (f, c) =>
          fill(root.getVector(c), f.dataType, rows, c)
        }
        root.setRowCount(rows.length)
        val out = new ByteArrayOutputStream()
        val writer = new ArrowStreamWriter(root, null, Channels.newChannel(out))
        writer.start(); writer.writeBatch(); writer.end(); writer.close()
        out.toByteArray
      } finally root.close()
    } finally allocator.close()
  }

  /** Encapsulated Arrow IPC Schema message for one table — the payload of
    * the `table_schema` binary column in the Flight SQL GetTables result
    * (reference: flight_sql.rs:691-704, `SchemaAsIpc` → `IpcMessage`).
    * Any Arrow client decodes it with `read_schema` /
    * `MessageSerializer.deserializeSchema`. */
  def schemaIpcBytes(sparkSchema: StructType): Array[Byte] =
    schemaIpcBytes(toArrowSchema(sparkSchema, forceNullable = false))

  /** Arrow-schema overload — the single definition of the encapsulated
    * framing (FlightSqlCatalog's union/map schemas have no Spark
    * representation). */
  def schemaIpcBytes(schema: ArrowSchema): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    org.apache.arrow.vector.ipc.message.MessageSerializer.serialize(
      new org.apache.arrow.vector.ipc.WriteChannel(Channels.newChannel(out)),
      schema)
    out.toByteArray
  }

  private def arrowTypeOf(dt: DataType): ArrowType = dt match {
    case BooleanType => ArrowType.Bool.INSTANCE
    case IntegerType => new ArrowType.Int(32, true)
    case LongType => new ArrowType.Int(64, true)
    case FloatType => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
    case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
    case StringType => ArrowType.Utf8.INSTANCE
    case BinaryType => ArrowType.Binary.INSTANCE
    case DateType => new ArrowType.Date(DateUnit.DAY)
    case TimestampType => new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC")
    // no-timezone twin: tz-less Arrow timestamp (a bound :param of a
    // naive datetime comes back typed, not stringly)
    case TimestampNTZType => new ArrowType.Timestamp(TimeUnit.MICROSECOND, null)
    case d: DecimalType => new ArrowType.Decimal(d.precision, d.scale, 128)
    case other =>
      // nested/exotic types serve as their JSON/string rendering — same
      // stance as the reference's REST reader, which flattens nested JSON
      // to Utf8 (rest.rs:616-617)
      ArrowType.Utf8.INSTANCE
  }

  private def fill(v: FieldVector, dt: DataType, rows: Array[Row], c: Int): Unit = {
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      if (r.isNullAt(c)) v match {
        case x: BaseFixedWidthVector => x.setNull(i)
        case x: BaseVariableWidthVector => x.setNull(i)
        case x => throw new IllegalStateException(s"unhandled null vector $x")
      }
      else (v, dt) match {
        case (x: BitVector, _) => x.setSafe(i, if (r.getBoolean(c)) 1 else 0)
        case (x: IntVector, _) => x.setSafe(i, r.getInt(c))
        case (x: BigIntVector, _) => x.setSafe(i, r.getLong(c))
        case (x: Float4Vector, _) => x.setSafe(i, r.getFloat(c))
        case (x: Float8Vector, _) => x.setSafe(i, r.getDouble(c))
        case (x: VarCharVector, StringType) =>
          x.setSafe(i, r.getString(c).getBytes("UTF-8"))
        case (x: VarCharVector, _) => // exotic type rendered as string
          x.setSafe(i, String.valueOf(r.get(c)).getBytes("UTF-8"))
        case (x: VarBinaryVector, _) => x.setSafe(i, r.getAs[Array[Byte]](c))
        // both external date/timestamp representations appear depending
        // on spark.sql.datetime.java8API.enabled — a SESSION-wide conf
        // that other components (e.g. the Thrift JDBC edge) may flip
        case (x: DateDayVector, _) => r.get(c) match {
          case d: java.sql.Date => x.setSafe(i, d.toLocalDate.toEpochDay.toInt)
          case d: java.time.LocalDate => x.setSafe(i, d.toEpochDay.toInt)
          case other => throw new IllegalStateException(s"unhandled date $other")
        }
        case (x: TimeStampMicroTZVector, _) => r.get(c) match {
          case ts: java.sql.Timestamp =>
            x.setSafe(i, ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L)
          case ts: java.time.Instant =>
            x.setSafe(i, ts.getEpochSecond * 1000000L + ts.getNano / 1000L)
          case other => throw new IllegalStateException(s"unhandled timestamp $other")
        }
        case (x: TimeStampMicroVector, _) => r.get(c) match {
          // TIMESTAMP_NTZ's external type is LocalDateTime under either
          // java8API setting
          case ts: java.time.LocalDateTime =>
            x.setSafe(i, ts.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
              ts.getNano / 1000L)
          case other => throw new IllegalStateException(s"unhandled ntz $other")
        }
        case (x: DecimalVector, _) =>
          x.setSafe(i, r.getDecimal(c).setScale(x.getScale))
        case (x, t) =>
          throw new IllegalStateException(s"unhandled arrow vector $x for $t")
      }
      i += 1
    }
    v.setValueCount(rows.length)
  }
}
