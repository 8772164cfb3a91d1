package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import graft.sql.SqlDialect
import graft.util.Sanitize
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The one DSv2 scan over every SQL database graft reaches through a
  * hand-built wire client (postgres, MySQL, ClickHouse) — the Spark
  * analog of the reference's single SQL table-provider shape
  * (sources/sql/mod.rs over datafusion-table-providers; postgres.rs,
  * mysql.rs, clickhouse.rs): filter/column/limit pushdown rewrites the
  * remote SQL so the database scans less and the wire carries less, the
  * federation stance of postgres_federation.rs. A database contributes
  * only its [[RemoteSqlWire]]; its DataSource class is a one-line
  * subclass, so formats named by class (sources.yaml, specs) still load.
  *
  * Options:
  *  - `url` — `<scheme>://user:pass@host:port/db`, parsed by the wire
  *  - `table` (alias `dbtable`; an identifier) or `query` (pushed whole,
  *    wrapped as a derived table)
  *  - `partitionColumn`/`numPartitions`/`lowerBound`/`upperBound` —
  *    optional range-partitioned parallel read: each partition issues its
  *    own connection + WHERE range, so a 1000-executor cluster reads 1000
  *    disjoint slices concurrently (Spark JDBC's partitioning contract)
  *  - `truststore`/`truststorePassword` — see [[TrustOptions]]; what TLS
  *    means on the wire is the wire's (see each [[RemoteSqlWire]])
  *
  * Schema inference runs `SELECT * FROM t LIMIT 0`: every wire describes
  * the columns of an empty result, so inference moves no data.
  */
abstract class RemoteSqlSource(val wire: RemoteSqlWire) extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = RemoteSqlOptions(options.asCaseSensitiveMap().asScala.toMap, wire)
    val result = wire.run(opts, s"SELECT * FROM ${opts.fromClause} LIMIT 0")
    try result.schema finally result.close()
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RemoteSqlTable(schema, RemoteSqlOptions(properties.asScala.toMap, wire))
}

object RemoteSqlSource {

  /** The databases this scan reaches, by kind: FederationRule's dialect
    * kind and sources.yaml's `type` (which also accepts `postgresql`). */
  val byKind: Map[String, RemoteSqlSource] = {
    val sources = Seq(new pg.PgDataSource, new mysql.MySqlDataSource,
      new clickhouse.ClickHouseDataSource)
    sources.map(s => s.wire.kind -> s).toMap +
      ("postgresql" -> sources.head)
  }

  /** `ident` validated and quoted the way `dialect` quotes identifiers. */
  def quote(ident: String, dialect: SqlDialect): String = {
    val q = dialect.identQuote
    s"$q${Sanitize.validateIdentifier(ident)}$q"
  }

  /** Spark DSv1 filter → a WHERE fragment in `dialect`; None keeps it in
    * Spark. Only exactly translatable predicates are accepted, so pushdown
    * is EXACT (Spark does not filter again): string contents are escaped
    * by the dialect, doubles must be finite, floats stay local (the remote
    * would widen the column to double), and an identifier the sanitizer
    * refuses keeps the filter local. `literal` spells the values a remote
    * writes its own way; everything else renders the shared way below. */
  def whereClause(f: Filter, dialect: SqlDialect,
      literal: PartialFunction[Any, String] = PartialFunction.empty): Option[String] = {
    def lit(v: Any): Option[String] = literal.lift(v).orElse(v match {
      case s: String => Some("'" + dialect.escapeStringContent(s) + "'")
      case n @ (_: Int | _: Long | _: Short | _: Byte) => Some(n.toString)
      case d: Double if !d.isNaN && !d.isInfinite => Some(d.toString)
      case d: java.math.BigDecimal => Some(d.toPlainString)
      case b: Boolean => Some(b.toString)
      case d: java.sql.Date => Some(s"DATE '${d.toLocalDate}'")
      case d: java.time.LocalDate => Some(s"DATE '$d'")
      case _ => None
    })
    def col(c: String): Option[String] =
      try Some(quote(c, dialect)) catch { case _: Sanitize.UnsafeIdentifier => None }
    def cmp(c: String, op: String, v: Any): Option[String] =
      for (cc <- col(c); vv <- lit(v)) yield s"$cc $op $vv"
    def nested(g: Filter): Option[String] = whereClause(g, dialect, literal)
    f match {
      case EqualTo(c, v) => cmp(c, "=", v)
      case GreaterThan(c, v) => cmp(c, ">", v)
      case GreaterThanOrEqual(c, v) => cmp(c, ">=", v)
      case LessThan(c, v) => cmp(c, "<", v)
      case LessThanOrEqual(c, v) => cmp(c, "<=", v)
      case IsNull(c) => col(c).map(cc => s"$cc IS NULL")
      case IsNotNull(c) => col(c).map(cc => s"$cc IS NOT NULL")
      case In(c, vs) if vs.nonEmpty =>
        val lits = vs.toSeq.map(lit)
        for (cc <- col(c) if lits.forall(_.isDefined))
          yield s"$cc IN (${lits.flatten.mkString(", ")})"
      case And(l, r) => for (ll <- nested(l); rr <- nested(r)) yield s"($ll AND $rr)"
      case Or(l, r) => for (ll <- nested(l); rr <- nested(r)) yield s"($ll OR $rr)"
      case _ => None
    }
  }
}

/** What one database adds to the shared scan: its names, its dialect,
  * the literals it spells its own way, and its wire client. A stateless
  * object, serializable because every partition carries it (inside the
  * options) to an executor. */
abstract class RemoteSqlWire(
    /** FederationRule's dialect kind; also the table name's prefix. */
    val kind: String,
    /** Prefix of the source's messages: `graft-<label>:` for options,
      * `<label>:` for what the server sent. */
    val label: String,
    val dialect: SqlDialect) extends Serializable {

  def literal: PartialFunction[Any, String] = PartialFunction.empty

  /** `host:port/database` of `url`, for the table's name; throws on a
    * malformed url, so it fails where the scan is defined. */
  def address(url: String): String

  /** Throws on a malformed option of this database's own, so it fails
    * where the scan is defined rather than on an executor. */
  def check(opts: RemoteSqlOptions): Unit = ()

  /** Connects with the scan's options and runs `sql`; the result holds
    * the connection open until it is closed. */
  def run(opts: RemoteSqlOptions, sql: String): RemoteResult
}

object RemoteSqlWire {
  /** `query` on a fresh connection, closing it if the query fails. */
  def onOpen[C <: AutoCloseable, R](conn: C)(query: C => R): R =
    try query(conn) catch { case e: Throwable => conn.close(); throw e }
}

/** A query's result on its open connection; closing it closes the
  * connection. */
trait RemoteResult extends AutoCloseable {
  /** The column names the server sent, in order. */
  def columns: Seq[String]
  def schema: StructType
  /** The rows, each decoded by position to Catalyst values of `types`. */
  def rows(types: Array[DataType]): Iterator[Array[Any]]
}

final case class RemoteSqlOptions(conf: Map[String, String], wire: RemoteSqlWire) {
  val url: String = conf.getOrElse("url",
    throw new IllegalArgumentException(s"graft-${wire.label}: missing option 'url'"))
  val address: String = wire.address(url)
  val table: Option[String] = conf.get("table").orElse(conf.get("dbtable"))
  val query: Option[String] = conf.get("query")
  require(table.isDefined || query.isDefined,
    s"graft-${wire.label}: need option 'table' or 'query'")
  table.foreach(Sanitize.validateIdentifier)

  /** The relation all generated SQL selects from: a quoted identifier,
    * or the user query as a derived table. */
  def fromClause: String = table match {
    case Some(t) => RemoteSqlSource.quote(t, wire.dialect)
    case None => s"(${query.get}) AS graft_q"
  }

  /** Rebuilt per use: options serialize to executors, SSLContext does not. */
  def sslContext: Option[javax.net.ssl.SSLContext] = TrustOptions.sslContext(conf)

  /** pg and MySQL: `sslVerifyHostname=true` adds RFC 2818 endpoint
    * identification on top of the pinned trust (pg verify-full). */
  def sslVerifyHostname: Boolean =
    conf.getOrElse("sslVerifyHostname",
      conf.getOrElse("sslverifyhostname", "false")).toBoolean

  val partitionColumn: Option[String] =
    conf.get("partitionColumn").map(Sanitize.validateIdentifier)
  val numPartitions: Int = conf.get("numPartitions").map(_.toInt).getOrElse(1)
  val lowerBound: Option[Long] = conf.get("lowerBound").map(_.toLong)
  val upperBound: Option[Long] = conf.get("upperBound").map(_.toLong)
  require(numPartitions == 1 ||
    (partitionColumn.isDefined && lowerBound.isDefined && upperBound.isDefined),
    s"graft-${wire.label}: numPartitions > 1 needs partitionColumn, lowerBound, upperBound")
  wire.check(this)
}

final class RemoteSqlTable(schema: StructType, val opts: RemoteSqlOptions)
    extends Table with SupportsRead {
  override def name(): String =
    s"${opts.wire.kind}(${opts.address}#${opts.table.getOrElse("<query>")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RemoteSqlScanBuilder(schema, opts)
}

final class RemoteSqlScanBuilder(fullSchema: StructType, opts: RemoteSqlOptions)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var limit: Option[Int] = None

  private def where(f: Filter): Option[String] =
    RemoteSqlSource.whereClause(f, opts.wire.dialect, opts.wire.literal)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(where(_).isDefined)
    filters.filter(where(_).isEmpty)
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    if (requiredSchema.nonEmpty) required = requiredSchema
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }

  override def build(): Scan =
    new RemoteSqlScan(required, opts, pushed.flatMap(where).toSeq, limit)
}

final class RemoteSqlScan(schema: StructType, opts: RemoteSqlOptions,
    wheres: Seq[String], limit: Option[Int]) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String = s"RemoteSqlScan(${sqlFor(None)})"

  /** Range partitioning: [lower, upper) split into numPartitions strides;
    * the first/last partitions are unbounded below/above so no row is
    * lost outside the declared bounds (Spark JDBC semantics). */
  override def planInputPartitions(): Array[InputPartition] =
    rangePredicates.map(r => RemoteSqlPartition(opts, sqlFor(r))).toArray

  private def rangePredicates: Seq[Option[String]] =
    if (opts.numPartitions <= 1) Seq(None)
    else {
      val col = RemoteSqlSource.quote(opts.partitionColumn.get, opts.wire.dialect)
      val lo = opts.lowerBound.get
      val hi = opts.upperBound.get
      val n = opts.numPartitions.toLong
      val stride = math.max(1L, (hi - lo) / n)
      (0L until n).map { i =>
        val from = lo + i * stride
        val to = from + stride
        if (i == 0) Some(s"($col < $to OR $col IS NULL)")
        else if (i == n - 1) Some(s"$col >= $from")
        else Some(s"$col >= $from AND $col < $to")
      }
    }

  private def sqlFor(range: Option[String]): String = {
    val cols =
      if (schema.fields.isEmpty) "1"
      else schema.fieldNames.map(RemoteSqlSource.quote(_, opts.wire.dialect)).mkString(", ")
    val preds = wheres ++ range.map(r => s"($r)")
    val where = if (preds.isEmpty) "" else preds.mkString(" WHERE ", " AND ", "")
    val fetch = limit.map(n => s" LIMIT $n").getOrElse("")
    s"SELECT $cols FROM ${opts.fromClause}$where$fetch"
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val s = schema
    (p: InputPartition) => {
      val pp = p.asInstanceOf[RemoteSqlPartition]
      new RemoteSqlReader(s, pp.opts, pp.sql)
    }
  }
}

final case class RemoteSqlPartition(opts: RemoteSqlOptions, sql: String)
    extends InputPartition

final class RemoteSqlReader(schema: StructType, opts: RemoteSqlOptions,
    sql: String) extends PartitionReader[InternalRow] {

  private var result: RemoteResult = _
  private var rows: Iterator[Array[Any]] = _
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (rows == null) {
      result = opts.wire.run(opts, sql)
      // decode by POSITION against the requested schema (the generated
      // SELECT lists exactly these columns in order), but verify names
      // so a server-side surprise fails loudly instead of mis-decoding
      val got = result.columns
      val want = schema.fieldNames.toSeq
      if (schema.fields.nonEmpty && got != want)
        throw new IllegalStateException(
          s"${opts.wire.label}: server returned columns $got, expected $want")
      rows = result.rows(schema.fields.map(_.dataType))
    }
    if (rows.hasNext) {
      current = InternalRow.fromSeq(rows.next().toIndexedSeq)
      true
    } else false
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (result != null) result.close()
}
