package graft.sources.mysql

import graft.sources.{RemoteResult, RemoteSqlOptions, RemoteSqlSource, RemoteSqlWire}
import graft.sql.MySqlDialect
import org.apache.spark.sql.types.{DataType, StructType}

/** The MySQL source: the shared remote-SQL scan over the hand-built
  * handshake/auth/query client (the reference's mysql.rs:35-206, there
  * carried by mysql_async). */
class MySqlDataSource extends RemoteSqlSource(MySqlRemote)

/** MySQL's wire for [[RemoteSqlSource]]: `mysql://` urls, column
  * definitions that arrive even for an empty resultset, cells decoded by
  * [[MySqlWire.decode]].
  *
  * `truststore` turns on the SSLRequest TLS upgrade, which also unlocks
  * caching_sha2 FULL auth (password over the encrypted channel);
  * `sslVerifyHostname=true` adds endpoint identification, as for pg. */
object MySqlRemote extends RemoteSqlWire("mysql", "mysql", MySqlDialect) {

  override val literal: PartialFunction[Any, String] = {
    case b: Boolean => if (b) "1" else "0"
  }

  def address(url: String): String = {
    val i = MySqlConnInfo.parse(url)
    s"${i.host}:${i.port}/${i.database}"
  }

  /** `protocol` = binary (default) | text. Binary = server-side
    * prepared statements + binary resultsets, the path the reference's
    * sqlx driver always takes on MySQL; text = COM_QUERY, for servers
    * or proxies that mishandle prepare. */
  private def binaryProtocol(conf: Map[String, String]): Boolean =
    conf.getOrElse("protocol", "binary").toLowerCase match {
      case "binary" => true
      case "text" => false
      case other => throw new IllegalArgumentException(
        s"graft-mysql: protocol must be 'binary' or 'text', got '$other'")
    }

  override def check(opts: RemoteSqlOptions): Unit = {
    binaryProtocol(opts.conf)
    opts.sslVerifyHostname
  }

  def run(opts: RemoteSqlOptions, sql: String): RemoteResult = {
    val conn = MySqlWireConnection.connect(MySqlConnInfo.parse(opts.url),
      ssl = opts.sslContext, verifyHostname = opts.sslVerifyHostname)
    val result = RemoteSqlWire.onOpen(conn)(c =>
      if (binaryProtocol(opts.conf)) c.queryPrepared(sql) else c.query(sql))
    new RemoteResult {
      def columns: Seq[String] = result.columns.map(_.name)
      def schema: StructType = result.sparkSchema
      def rows(types: Array[DataType]): Iterator[Array[Any]] =
        result.rows.iterator.map(raw => Array.tabulate[Any](types.length) { i =>
          raw(i) match {
            case None => null
            case Some(bytes) => MySqlWire.decode(bytes, types(i))
          }
        })
      def close(): Unit = conn.close()
    }
  }
}
