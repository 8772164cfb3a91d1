package graft.sources.clickhouse

import graft.sources.{RemoteResult, RemoteSqlOptions, RemoteSqlSource, RemoteSqlWire}
import graft.sql.ClickHouseDialect
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The ClickHouse source: the shared remote-SQL scan over the hand-built
  * native-protocol client (the reference's clickhouse.rs:28-217, there
  * carried by datafusion-table-providers). */
class ClickHouseDataSource extends RemoteSqlSource(ClickHouseRemote)

/** ClickHouse's wire for [[RemoteSqlSource]]: `clickhouse://` urls,
  * native blocks that carry (name, type) even with zero rows, cells
  * already decoded to JVM values.
  *
  * `truststore` makes the connection TLS from the first byte
  * (ClickHouse's secure port 9440 model); `compress` (default true, the
  * posture of real deployments; `false` for debugging against plain
  * captures) sets LZ4 wire compression. */
object ClickHouseRemote extends RemoteSqlWire("clickhouse", "clickhouse", ClickHouseDialect) {

  override val literal: PartialFunction[Any, String] = {
    case d: java.sql.Date => s"toDate32('${d.toLocalDate}')"
    case d: java.time.LocalDate => s"toDate32('$d')"
  }

  def address(url: String): String = {
    val i = ClickHouseConnInfo.parse(url)
    s"${i.host}:${i.port}/${i.database}"
  }

  private def compress(conf: Map[String, String]): Boolean =
    conf.getOrElse("compress", "true").toBoolean

  override def check(opts: RemoteSqlOptions): Unit = compress(opts.conf)

  def run(opts: RemoteSqlOptions, sql: String): RemoteResult = {
    val conn = ClickHouseWireConnection.connect(ClickHouseConnInfo.parse(opts.url),
      compress = compress(opts.conf), ssl = opts.sslContext)
    val result = RemoteSqlWire.onOpen(conn)(_.query(sql))
    new RemoteResult {
      def columns: Seq[String] = result.columns.map(_._1)
      def schema: StructType = result.sparkSchema
      def rows(types: Array[DataType]): Iterator[Array[Any]] =
        result.rows.iterator.map(raw =>
          Array.tabulate[Any](types.length)(i => toCatalyst(raw(i), types(i))))
      def close(): Unit = conn.close()
    }
  }

  /** External decode value → Catalyst internal. */
  private def toCatalyst(v: Any, dt: DataType): Any =
    if (v == null) null
    else dt match {
      case StringType => UTF8String.fromString(String.valueOf(v))
      case DateType => v.asInstanceOf[java.time.LocalDate].toEpochDay.toInt
      case TimestampType =>
        val i = v.asInstanceOf[java.time.Instant]
        Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
          i.getNano / 1000L)
      case d: DecimalType =>
        Decimal(v.asInstanceOf[java.math.BigDecimal], d.precision, d.scale)
      case _ => v // ints, longs, floats, doubles, booleans pass through
    }
}
