package graft.sources.arrowhttp

import java.io.ByteArrayInputStream
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets
import java.util
import scala.jdk.CollectionConverters._

import graft.sources.RemoteSqlSource
import graft.sql.SparkDialect
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Arrow-native client source for a remote graft (or any server speaking
  * the same two endpoints) — the Spark re-expression of the reference's
  * Flight SQL client source
  * (/root/reference/crates/connectors/src/sources/flight.rs:24-181):
  * catalog discovery via the Flight SQL GetTables shape, then query
  * execution delivered as Arrow record batches, so another engine
  * instance federates with columnar transfer and zero JSON round-trips.
  *
  *   discovery  GET  {url}/api/v1/tables?table_name_filter_pattern=...
  *              one Arrow IPC batch; the schema comes from the embedded
  *              per-table IPC Schema bytes — no data is fetched to infer
  *   execution  POST {url}/api/v1/query_arrow {"sql": ...}
  *              Arrow IPC stream -> rows
  *
  * The carrier is HTTP/1.1 rather than gRPC (the Flight transport jars
  * are deliberately absent from this build); the client-side substance —
  * GetTables discovery, IPC schema decoding, Arrow stream consumption,
  * and filter/column pushdown into the remote query — is identical.
  *
  * Options: url, table, authToken; pushed filters and pruned columns
  * rewrite the remote SQL (`SELECT cols FROM table WHERE ...`), so the
  * remote engine scans less and the wire carries less — the same
  * federation stance as the JDBC path.
  *
  * Scale notes: one InputPartition per query, like the reference's
  * client (a Flight endpoint list with one ticket). This is the
  * serving-path federation source for interactive/bounded results; bulk
  * exchange between engines belongs to shared parquet.
  */
class ArrowHttpDataSource extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = ArrowHttpOptions(options.asCaseSensitiveMap().asScala.toMap)
    ArrowHttpClient.discoverSchema(opts)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ArrowHttpTable(schema, ArrowHttpOptions(properties.asScala.toMap))
}

final case class ArrowHttpOptions(conf: Map[String, String]) {
  private def req(k: String): String = conf.getOrElse(k,
    throw new IllegalArgumentException(s"graft-arrowhttp: missing option '$k'"))
  val url: String = req("url").stripSuffix("/")
  /** Whole-statement mode (the federation rule's collapsed subtrees):
    * the remote runs `query` verbatim as the relation; pushed filters/
    * columns/limits wrap it as a derived table. */
  val query: Option[String] = conf.get("query")
  val table: Option[String] = conf.get("table")
  require(query.isDefined || table.isDefined,
    "graft-arrowhttp: need option 'table' or 'query'")
  val authToken: Option[String] = conf.get("authToken")
  table.foreach(graft.util.Sanitize.validateIdentifier)

  /** The remote FROM clause: bare table or the query as a derived table. */
  def fromClause: String = table match {
    case Some(t) if query.isEmpty => s"`$t`"
    case _ => s"(${query.get}) AS graft_q"
  }

  def tableLabel: String = table.getOrElse("<query>")
}

final class ArrowHttpTable(schema: StructType, opts: ArrowHttpOptions)
    extends Table with SupportsRead {
  override def name(): String = s"${opts.url}#${opts.tableLabel}"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ArrowHttpScanBuilder(schema, opts)
}

final class ArrowHttpScanBuilder(fullSchema: StructType, opts: ArrowHttpOptions)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var limit: Option[Int] = None

  // Without this, any remote table larger than the server's maxRows is
  // entirely unscannable (the truncation guard below refuses capped
  // results) — even `SELECT * FROM remote LIMIT 3` would fetch the full
  // table first. LIMIT in the remote SQL keeps small queries over large
  // remote tables working; the loud failure then only fires for
  // genuinely capped full scans.
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }

  // the remote reads Spark SQL, where a backslash in a string literal is
  // an escape: SparkDialect doubles it, so a pushed value means the same
  // on both sides and the pushdown stays exact
  private def where(f: Filter): Option[String] =
    RemoteSqlSource.whereClause(f, SparkDialect, ArrowHttpScanBuilder.literal)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(where(_).isDefined)
    filters.filter(where(_).isEmpty)
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new ArrowHttpScan(required, opts, pushed.flatMap(where).toSeq, limit)
}

object ArrowHttpScanBuilder {
  /** Doubles travel as an explicit string cast: Double.toString
    * round-trips exactly through string->double, while a bare 1.1 literal
    * parses as DECIMAL on the remote side. */
  val literal: PartialFunction[Any, String] = {
    case d: Double if !d.isNaN && !d.isInfinite => s"CAST('$d' AS DOUBLE)"
  }
}

final class ArrowHttpScan(schema: StructType, opts: ArrowHttpOptions,
    wheres: Seq[String], limit: Option[Int] = None) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(ArrowHttpInputPartition(opts, remoteSql))
  override def createReaderFactory(): PartitionReaderFactory =
    new ArrowHttpReaderFactory(schema)
  override def description(): String =
    s"ArrowHttpScan($remoteSql)"

  private def remoteSql: String = {
    val cols =
      if (schema.fields.isEmpty) "1"
      else schema.fieldNames.map(n => s"`$n`").mkString(", ")
    val where =
      if (wheres.isEmpty) "" else wheres.mkString(" WHERE ", " AND ", "")
    val fetch = limit.map(n => s" LIMIT $n").getOrElse("")
    s"SELECT $cols FROM ${opts.fromClause}$where$fetch"
  }
}

final case class ArrowHttpInputPartition(opts: ArrowHttpOptions, sql: String)
    extends InputPartition

final class ArrowHttpReaderFactory(schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val ap = p.asInstanceOf[ArrowHttpInputPartition]
    new ArrowHttpPartitionReader(schema, ap.opts, ap.sql)
  }
}

final class ArrowHttpPartitionReader(schema: StructType,
    opts: ArrowHttpOptions, sql: String) extends PartitionReader[InternalRow] {

  private var rows: Iterator[InternalRow] = _
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (rows == null) rows = ArrowHttpClient.query(opts, sql, schema).iterator
    if (rows.hasNext) { current = rows.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** The two-endpoint client: discovery + Arrow-stream query. */
object ArrowHttpClient {

  private def connect(url: String, opts: ArrowHttpOptions): HttpURLConnection = {
    val conn = new URI(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(60000)
    opts.authToken.foreach(t =>
      conn.setRequestProperty("Authorization", s"Bearer $t"))
    conn
  }

  /** Table schema from the discovery endpoint's embedded IPC Schema
    * bytes — metadata only, no data transfer. */
  def discoverSchema(opts: ArrowHttpOptions): StructType = {
    val table = opts.table.getOrElse(throw new IllegalArgumentException(
      "graft-arrowhttp: schema inference needs option 'table' " +
        "(query-mode scans carry their schema)"))
    val pattern = URLEncoder.encode(table, StandardCharsets.UTF_8)
    val conn = connect(
      s"${opts.url}/api/v1/tables?table_name_filter_pattern=$pattern", opts)
    try {
      if (conn.getResponseCode != 200)
        throw new java.io.IOException(
          s"discovery returned HTTP ${conn.getResponseCode}")
      val bytes = conn.getInputStream.readAllBytes()
      val alloc = new RootAllocator(Long.MaxValue)
      try {
        val reader = new ArrowStreamReader(new ByteArrayInputStream(bytes), alloc)
        try {
          if (!reader.loadNextBatch())
            throw new IllegalArgumentException(
              s"table '$table' not found at ${opts.url}")
          val root = reader.getVectorSchemaRoot
          val names = root.getVector("table_name").asInstanceOf[VarCharVector]
          val schemas = root.getVector("table_schema").asInstanceOf[VarBinaryVector]
          val idx = (0 until root.getRowCount)
            .find(i => new String(names.get(i), StandardCharsets.UTF_8) == table)
            .getOrElse(throw new IllegalArgumentException(
              s"table '$table' not found at ${opts.url}"))
          val ipc = schemas.get(idx)
          require(ipc.nonEmpty, s"server sent no schema for '$table'")
          val arrowSchema = org.apache.arrow.vector.ipc.message.MessageSerializer
            .deserializeSchema(new org.apache.arrow.vector.ipc.ReadChannel(
              java.nio.channels.Channels.newChannel(new ByteArrayInputStream(ipc))))
          StructType(arrowSchema.getFields.asScala.toSeq.map(f =>
            StructField(f.getName, sparkType(f.getType),
              nullable = f.isNullable)))
        } finally reader.close()
      } finally alloc.close()
    } finally conn.disconnect()
  }

  /** Execute SQL remotely, decode the Arrow stream into rows for
    * `schema` (the pruned read schema — columns were already pushed into
    * the SELECT list). */
  def query(opts: ArrowHttpOptions, sql: String,
      schema: StructType): Vector[InternalRow] = {
    val conn = connect(s"${opts.url}/api/v1/query_arrow", opts)
    try {
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val body = mapper.createObjectNode()
      body.put("sql", sql)
      conn.getOutputStream.write(mapper.writeValueAsBytes(body))
      conn.getOutputStream.close()
      if (conn.getResponseCode != 200) {
        val err = Option(conn.getErrorStream)
          .map(s => new String(s.readAllBytes(), StandardCharsets.UTF_8))
          .getOrElse("")
        throw new java.io.IOException(
          s"remote query returned HTTP ${conn.getResponseCode}: $err")
      }
      // A capped result is NOT this table's data — consuming it would
      // silently produce wrong counts/joins downstream. The server
      // declares the cap; a federated scan must refuse it. (Header
      // lookup is case-insensitive: HTTP servers normalize casing.)
      val warnings = conn.getHeaderFields.asScala.collect {
        case (k, vs) if k != null && k.equalsIgnoreCase("X-Graft-Warning") =>
          vs.asScala.toSeq
      }.flatten.toSeq
      warnings.find(_.startsWith("x-graft-truncated")).foreach { w =>
        throw new java.io.IOException(
          s"remote result was truncated ($w): raise the server's maxRows " +
            "or push a LIMIT/filter into the scan")
      }
      decodeStream(conn.getInputStream.readAllBytes(), schema)
    } finally conn.disconnect()
  }

  /** Decode a complete Arrow IPC stream into rows for `schema` (columns
    * selected by name — the pruned read schema). Shared with the Flight
    * SQL client, whose DoGet stream reassembles to exactly this format. */
  private[graft] def decodeStream(bytes: Array[Byte],
      schema: StructType): Vector[InternalRow] = {
    val alloc = new RootAllocator(Long.MaxValue)
    try {
      val reader = new ArrowStreamReader(new ByteArrayInputStream(bytes), alloc)
      try {
        val out = Vector.newBuilder[InternalRow]
        while (reader.loadNextBatch()) {
          val root = reader.getVectorSchemaRoot
          val vectors = schema.fieldNames.map(root.getVector)
          var i = 0
          while (i < root.getRowCount) {
            out += InternalRow.fromSeq(
              vectors.toSeq.map(v => cell(v, i)))
            i += 1
          }
        }
        out.result()
      } finally reader.close()
    } finally alloc.close()
  }

  /** Arrow type -> Spark type (inverse of ArrowResults.arrowTypeOf).
    * Shared with the Flight SQL source's schema mapping. */
  private[graft] def sparkType(t: org.apache.arrow.vector.types.pojo.ArrowType): DataType = {
    import org.apache.arrow.vector.types.pojo.ArrowType
    t match {
      case i: ArrowType.Int if i.getBitWidth == 64 => LongType
      case i: ArrowType.Int if i.getBitWidth == 32 => IntegerType
      case f: ArrowType.FloatingPoint =>
        if (f.getPrecision == org.apache.arrow.vector.types.FloatingPointPrecision.DOUBLE)
          DoubleType else FloatType
      case _: ArrowType.Bool => BooleanType
      case _: ArrowType.Utf8 => StringType
      case _: ArrowType.Binary => BinaryType
      case _: ArrowType.Date => DateType
      case _: ArrowType.Timestamp => TimestampType
      case d: ArrowType.Decimal => DecimalType(d.getPrecision, d.getScale)
      case other => throw new IllegalArgumentException(
        s"unsupported Arrow type from remote: $other")
    }
  }

  /** One Arrow cell -> Catalyst value. */
  private def cell(v: FieldVector, i: Int): Any = {
    if (v.isNull(i)) return null
    v match {
      case x: BigIntVector => x.get(i)
      case x: IntVector => x.get(i)
      case x: Float8Vector => x.get(i)
      case x: Float4Vector => x.get(i)
      case x: BitVector => x.get(i) == 1
      case x: VarCharVector => UTF8String.fromBytes(x.get(i))
      case x: VarBinaryVector => x.get(i)
      case x: DateDayVector => x.get(i)
      case x: TimeStampMicroTZVector => x.get(i)
      case x: TimeStampMicroVector => x.get(i)
      case x: DecimalVector =>
        org.apache.spark.sql.types.Decimal(x.getObject(i))
      case other => throw new IllegalArgumentException(
        s"unsupported Arrow vector from remote: ${other.getClass.getSimpleName}")
    }
  }
}
