package graft.sources.flight

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.util
import scala.jdk.CollectionConverters._

import org.sparkproject.spark_core.protobuf.{Any => PAny, ByteString, DynamicMessage}
import org.apache.arrow.vector.ipc.ReadChannel
import org.apache.arrow.vector.ipc.message.MessageSerializer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.arrowhttp.ArrowHttpClient
import graft.sources.grpc.{GrpcFraming, Http2Grpc}

/** Arrow Flight SQL CLIENT over the hand-built h2c carrier — the real
  * Flight wire protocol (gRPC + protobuf + Arrow IPC), no Flight or
  * grpc-netty jars. Re-expresses the reference's Flight source
  * (/root/reference/crates/connectors/src/sources/flight.rs:24-181) and
  * its statement-query flow (server/src/flight_sql.rs:48-216):
  * `GetFlightInfo(CommandStatementQuery)` resolves the query to a
  * ticket + IPC schema, `DoGet(ticket)` streams FlightData messages
  * whose (data_header, data_body) pairs reassemble into a standard
  * Arrow IPC stream — decoded by the SAME decoder the ArrowHttp source
  * uses ([[ArrowHttpClient.decodeStream]]).
  *
  * Options: `url` (http://host:port — h2c, see [[Http2Grpc]]'s bounds),
  * `query` (SQL pushed whole to the server, the reference's
  * statement-query shape). Column pruning happens at decode (pruned
  * read schema selects vectors by name); filters ride in the query
  * text, matching the reference's remote-statement stance.
  *
  * Scale notes: one ticket → one stream → one InputPartition (the
  * reference's UnknownPartitioning(1) stance); a multi-endpoint
  * FlightInfo would map 1:1 onto InputPartitions — the single-endpoint
  * path is what local servers produce. */
class FlightDataSource extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = FlightOptions(options.asCaseSensitiveMap().asScala.toMap)
    FlightSqlClient.getFlightInfo(opts).schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new FlightTable(schema, FlightOptions(properties.asScala.toMap))
}

final case class FlightOptions(conf: Map[String, String]) {
  private def req(k: String): String = conf.getOrElse(k,
    throw new IllegalArgumentException(s"graft-flight: missing option '$k'"))
  val url: String = req("url")
  val query: String = req("query")
  /** Bearer token for an authenticated edge (Flight SQL's standard
    * `authorization: Bearer` header auth). */
  val authToken: Option[String] =
    conf.get("authToken").orElse(conf.get("authtoken"))
  def authHeaders: Seq[(String, String)] =
    authToken.map(t => "authorization" -> s"Bearer $t").toSeq
  /** For an `https://` url: a PKCS12 truststore pinning the edge's
    * certificate (`truststore` + `truststorePassword` options); absent →
    * the JVM default truststore. Rebuilt per use — options serialize to
    * executors, SSLContext does not. */
  def sslContext: Option[javax.net.ssl.SSLContext] =
    graft.sources.TrustOptions.sslContext(conf)
}

final class FlightTable(schema: StructType, opts: FlightOptions)
    extends Table with SupportsRead {
  override def name(): String = s"flight(${opts.url})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FlightScanBuilder(schema, opts)
}

final class FlightScanBuilder(schema: StructType, opts: FlightOptions)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    if (requiredSchema.nonEmpty) required = requiredSchema
  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      Array(new InputPartition {})
    override def createReaderFactory(): PartitionReaderFactory = {
      val s = required; val o = opts
      (_: InputPartition) => new FlightPartitionReader(s, o)
    }
  }
}

final class FlightPartitionReader(schema: StructType, opts: FlightOptions)
    extends PartitionReader[InternalRow] {
  private var rows: Iterator[InternalRow] = _
  private var current: InternalRow = _
  override def next(): Boolean = {
    if (rows == null) {
      val info = FlightSqlClient.getFlightInfo(opts)
      rows = FlightSqlClient.doGet(opts, info.ticket, schema).iterator
    }
    if (rows.hasNext) { current = rows.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

object FlightSqlClient {
  import FlightProto._

  final case class Info(schema: StructType, ticket: Array[Byte])

  private def bytesOf(m: DynamicMessage, field: String): Array[Byte] =
    m.getField(m.getDescriptorForType.findFieldByName(field))
      .asInstanceOf[ByteString].toByteArray

  /** GetFlightInfo(CommandStatementQuery(query)) → schema + ticket. */
  def getFlightInfo(opts: FlightOptions): Info = {
    val cmd = DynamicMessage.newBuilder(CommandStatementQueryD)
      .setField(CommandStatementQueryD.findFieldByName("query"), opts.query)
      .build()
    val any = PAny.newBuilder()
      .setTypeUrl(
        "type.googleapis.com/arrow.flight.protocol.sql.CommandStatementQuery")
      .setValue(ByteString.copyFrom(cmd.toByteArray)).build()
    val desc = DynamicMessage.newBuilder(FlightDescriptorD)
      .setField(FlightDescriptorD.findFieldByName("type"),
        FlightDescriptorD.getEnumTypes.get(0).findValueByName("CMD"))
      .setField(FlightDescriptorD.findFieldByName("cmd"),
        ByteString.copyFrom(any.toByteArray))
      .build()
    val respBytes = GrpcFraming.unframe(new java.io.ByteArrayInputStream(
      Http2Grpc.unaryCall(
        s"${opts.url}/arrow.flight.protocol.FlightService/GetFlightInfo",
        GrpcFraming.frame(desc.toByteArray), opts.authHeaders,
        ssl = opts.sslContext)))
    val info = DynamicMessage.parseFrom(FlightInfoD, respBytes)
    val endpoints = info.getField(FlightInfoD.findFieldByName("endpoint"))
      .asInstanceOf[java.util.List[_]].asScala.map(_.asInstanceOf[DynamicMessage])
    require(endpoints.nonEmpty, "flight: FlightInfo carries no endpoint")
    val ticketMsg = endpoints.head
      .getField(endpoints.head.getDescriptorForType.findFieldByName("ticket"))
      .asInstanceOf[DynamicMessage]
    val arrowSchema = MessageSerializer.deserializeSchema(new ReadChannel(
      java.nio.channels.Channels.newChannel(
        new java.io.ByteArrayInputStream(bytesOf(info, "schema")))))
    val sparkSchema = StructType(arrowSchema.getFields.asScala.toSeq.map(f =>
      StructField(f.getName, ArrowHttpClient.sparkType(f.getType),
        nullable = f.isNullable)))
    Info(sparkSchema, bytesOf(ticketMsg, "ticket"))
  }

  /** DoGet(ticket): reassemble the streamed FlightData messages into one
    * Arrow IPC stream — each message contributes its encapsulated
    * (data_header, data_body) — and decode rows for `schema`. */
  def doGet(opts: FlightOptions, ticket: Array[Byte],
      schema: StructType): Vector[InternalRow] = {
    val t = DynamicMessage.newBuilder(TicketD)
      .setField(TicketD.findFieldByName("ticket"), ByteString.copyFrom(ticket))
      .build()
    val body = Http2Grpc.unaryCall(
      s"${opts.url}/arrow.flight.protocol.FlightService/DoGet",
      GrpcFraming.frame(t.toByteArray), opts.authHeaders,
      ssl = opts.sslContext)
    val out = new ByteArrayOutputStream()
    val ch = new org.apache.arrow.vector.ipc.WriteChannel(
      java.nio.channels.Channels.newChannel(out))
    GrpcFraming.unframeAll(body).foreach { msgBytes =>
      val fd = DynamicMessage.parseFrom(FlightDataD, msgBytes)
      val header = bytesOf(fd, "data_header")
      val data = bytesOf(fd, "data_body")
      // the encapsulated IPC form: continuation + aligned metadata, body
      MessageSerializer.writeMessageBuffer(ch, header.length,
        ByteBuffer.wrap(header))
      ch.write(ByteBuffer.wrap(data))
    }
    // end-of-stream marker closes the reassembled stream
    ch.writeIntLittleEndian(-1) // 0xFFFFFFFF continuation
    ch.writeIntLittleEndian(0)
    ArrowHttpClient.decodeStream(out.toByteArray, schema)
  }
}
