package graft.sources.pg

import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.{RemoteResult, RemoteSqlOptions, RemoteSqlSource, RemoteSqlWire}
import graft.sql.PostgresDialect
import org.apache.spark.sql.types.{DataType, StructType}

/** The PostgreSQL source: the shared remote-SQL scan over the hand-built
  * protocol-v3 client (the reference's postgres.rs:28-160). */
class PgDataSource extends RemoteSqlSource(PgRemote)

/** Postgres's wire for [[RemoteSqlSource]]: `postgres://` urls, the
  * simple-query protocol (RowDescription arrives even for an empty
  * result), text-format cells decoded by [[PgTypes]].
  *
  * `truststore` turns on the SSLRequest TLS upgrade (sslmode=require
  * with verify-ca trust); `sslVerifyHostname=true` adds verify-full. */
object PgRemote extends RemoteSqlWire("postgres", "pg", PostgresDialect) {

  /** Doubles travel as an explicit cast of their round-trippable string
    * form. */
  override val literal: PartialFunction[Any, String] = {
    case d: Double if !d.isNaN && !d.isInfinite => s"CAST('$d' AS double precision)"
  }

  def address(url: String): String = {
    val i = PgConnInfo.parse(url)
    s"${i.host}:${i.port}/${i.database}"
  }

  override def check(opts: RemoteSqlOptions): Unit = opts.sslVerifyHostname

  def run(opts: RemoteSqlOptions, sql: String): RemoteResult = {
    val conn = PgWireConnection.connect(PgConnInfo.parse(opts.url),
      ssl = opts.sslContext, verifyHostname = opts.sslVerifyHostname)
    val result = RemoteSqlWire.onOpen(conn)(_.query(sql))
    new RemoteResult {
      def columns: Seq[String] = result.fields.map(_.name)
      def schema: StructType = result.sparkSchema
      def rows(types: Array[DataType]): Iterator[Array[Any]] =
        result.rows.iterator.map(raw => Array.tabulate[Any](types.length) { i =>
          raw(i) match {
            case None => null
            case Some(bytes) => PgTypes.decode(new String(bytes, UTF_8), types(i))
          }
        })
      def close(): Unit = conn.close()
    }
  }
}
