package graft.server

import java.nio.{ByteBuffer, ByteOrder}
import scala.jdk.CollectionConverters._

import org.sparkproject.spark_core.protobuf.{Any => PAny, ByteString, DynamicMessage}

import graft.session.{AuthenticatedUser, GraftSession}
import graft.sources.flight.FlightProto
import graft.sources.grpc.{GrpcStatusException, Http2Server}

/** Arrow Flight SQL SERVER edge over the hand-built h2c carrier — the
  * counterpart of the reference's flight_sql.rs (48-216:
  * get_flight_info_statement / do_get_statement): any Flight SQL client
  * resolves a SQL statement to a ticket + IPC schema with GetFlightInfo
  * and streams the result as Arrow record batches with DoGet. Runs over
  * the SAME engine session as the REST edge (executeQuery → RLS,
  * defensive limits, cache, trace all in force — this is a wire
  * protocol, not a policy bypass), with the same pluggable
  * authenticator (authorization: Bearer <api-key>; absent/invalid →
  * gRPC status 16 UNAUTHENTICATED).
  *
  * Statement handles are stateless: the ticket IS the query text (the
  * reference caches prepared statements server-side; a stateless ticket
  * survives edge restarts and needs no eviction). GetFlightInfo only
  * PLANS the query (schema from the analyzed plan — no execution);
  * DoGet executes once and streams the capped result. The row cap is
  * the edge's bulk-delivery bound, same stance as the REST Arrow
  * endpoint's capped collect. */
final class FlightSqlEdge(
    engine: GraftSession,
    authenticator: String => Option[AuthenticatedUser],
    maxRows: Int = 100000,
    ssl: Option[javax.net.ssl.SSLContext] = None) {
  import FlightProto._

  private val server = new Http2Server((path, headers, payload) =>
    handle(path, headers, payload), ssl)

  def start(): Int = server.start()
  def stop(): Unit = server.stop()

  /** A DoGet result as Arrow IPC, at most `maxRows` rows. A longer one
    * fails the call (RESOURCE_EXHAUSTED) instead of arriving as a silent
    * prefix that a client such as FlightDataSource would take for the
    * whole result; REST and pg-wire declare their truncation too. */
  private def bounded(df: org.apache.spark.sql.DataFrame): Array[Byte] = {
    val rows = df.limit(maxRows + 1).collect()
    if (rows.length > maxRows) throw new GrpcStatusException(8,
      s"result truncated: more than maxRows = $maxRows rows; " +
        "add a LIMIT or narrow the query")
    ArrowResults.toArrowStream(df.schema, rows)
  }

  private def authed(headers: Map[String, String]): AuthenticatedUser = {
    val token = headers.get("authorization")
      .filter(_.toLowerCase.startsWith("bearer "))
      .map(_.substring("bearer ".length).trim)
    token.flatMap(authenticator)
      .getOrElse(throw new GrpcStatusException(16, "invalid or missing bearer token"))
  }

  /** Parse an Any-wrapped Flight SQL command; returns (type suffix,
    * message bytes). */
  private def commandOf(anyBytes: Array[Byte]): (String, Array[Byte]) = {
    val any = PAny.parseFrom(anyBytes)
    val name = any.getTypeUrl.substring(any.getTypeUrl.lastIndexOf('.') + 1)
    (name, any.getValue.toByteArray)
  }

  private def strField(d: org.sparkproject.spark_core.protobuf.Descriptors.Descriptor,
      m: DynamicMessage, f: String): String =
    m.getField(d.findFieldByName(f)).asInstanceOf[String]

  /** SQL LIKE pattern match (% = any run, _ = one char); absent/empty
    * pattern matches everything — the reference's matches_like_pattern
    * (flight_sql.rs:638-653). */
  private def likeMatch(value: String, pattern: String): Boolean =
    pattern == null || pattern.isEmpty || pattern == "%" || {
      val rx = "^" + java.util.regex.Pattern.quote(pattern)
        .replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q") + "$"
      value.matches(rx)
    }

  private def flightInfo(schemaIpc: Array[Byte],
      ticketBytes: Array[Byte]): Array[Byte] = {
    val ticket = DynamicMessage.newBuilder(TicketD)
      .setField(TicketD.findFieldByName("ticket"),
        ByteString.copyFrom(ticketBytes)).build()
    val ep = DynamicMessage.newBuilder(
      msg("arrow.flight.protocol.FlightEndpoint"))
    ep.setField(ep.getDescriptorForType.findFieldByName("ticket"), ticket)
    // echo the request descriptor (spec field; strict clients — pyarrow —
    // reject a FlightInfo whose descriptor parses as type UNKNOWN)
    val echo = DynamicMessage.newBuilder(FlightDescriptorD)
      .setField(FlightDescriptorD.findFieldByName("type"),
        FlightDescriptorD.findEnumTypeByName("DescriptorType")
          .findValueByNumber(2)) // CMD
      .setField(FlightDescriptorD.findFieldByName("cmd"),
        ByteString.copyFrom(ticketBytes))
      .build()
    DynamicMessage.newBuilder(FlightInfoD)
      .setField(FlightInfoD.findFieldByName("schema"),
        ByteString.copyFrom(schemaIpc))
      .setField(FlightInfoD.findFieldByName("flight_descriptor"), echo)
      .addRepeatedField(FlightInfoD.findFieldByName("endpoint"), ep.build())
      .build().toByteArray
  }

  private def flightDataFrames(stream: Array[Byte]): Seq[Array[Byte]] =
    FlightIpc.split(stream).map { case (meta, body) =>
      DynamicMessage.newBuilder(FlightDataD)
        .setField(FlightDataD.findFieldByName("data_header"),
          ByteString.copyFrom(meta))
        .setField(FlightDataD.findFieldByName("data_body"),
          ByteString.copyFrom(body))
        .build().toByteArray
    }

  private def handle(path: String, headers: Map[String, String],
      payloads: Seq[Array[Byte]]): Seq[Array[Byte]] = {
    def payload: Array[Byte] = payloads.headOption.getOrElse(
      throw new GrpcStatusException(3, "missing request message"))
    path match {
    case "/arrow.flight.protocol.FlightService/GetFlightInfo" =>
      val user = authed(headers)
      val desc = DynamicMessage.parseFrom(FlightDescriptorD, payload)
      val cmdBytes = desc.getField(FlightDescriptorD.findFieldByName("cmd"))
        .asInstanceOf[ByteString].toByteArray
      val (name, body) = commandOf(cmdBytes)
      name match {
        case "CommandStatementQuery" | "CommandPreparedStatementQuery" =>
          val (query, params) =
            if (name == "CommandStatementQuery")
              (strField(CommandStatementQueryD, DynamicMessage.parseFrom(
                CommandStatementQueryD, body), "query"),
                Map.empty[String, Any])
            else FlightSqlEdge.decodeHandle(DynamicMessage.parseFrom(
              CommandPreparedStatementQueryD, body)
              .getField(CommandPreparedStatementQueryD
                .findFieldByName("prepared_statement_handle"))
              .asInstanceOf[ByteString].toByteArray)
          // plan only: analyzed schema via planQuery — policy rewrite,
          // defensive limit, and cost gate apply, but nothing executes and
          // nothing is cache-stored (a GetFlightInfo→DoGet pair must run
          // the query ONCE; the reference plans-without-executing here,
          // flight_sql.rs:533-566; its prepared handle IS the SQL bytes —
          // the same stateless stance as this edge's tickets, with bound
          // parameters carried INSIDE the replacement handle DoPut mints)
          val info = engine.planQuery(query, user, params)
          Seq(flightInfo(ArrowResults.schemaIpcBytes(info.schema), cmdBytes))
        case "CommandGetCatalogs" | "CommandGetDbSchemas" |
            "CommandGetTables" | "CommandGetSqlInfo" |
            "CommandGetXdbcTypeInfo" =>
          // catalog discovery: the result schema is fixed by the Flight
          // SQL spec; the ticket echoes the command verbatim (reference
          // get_flight_info_catalogs/schemas/tables, flight_sql.rs:338+).
          // GetTables has two spec schemas — include_schema picks one.
          val includeSchema = name == "CommandGetTables" &&
            DynamicMessage.parseFrom(CommandGetTablesD, body)
              .getField(CommandGetTablesD.findFieldByName("include_schema"))
              .asInstanceOf[Boolean]
          Seq(flightInfo(
            FlightSqlCatalog.schemaIpcFor(name, includeSchema), cmdBytes))
        case other =>
          throw new GrpcStatusException(3, // INVALID_ARGUMENT
            s"unsupported flight command: $other")
      }
    case "/arrow.flight.protocol.FlightService/DoGet" =>
      val user = authed(headers)
      val ticketBytes = DynamicMessage.parseFrom(TicketD, payload)
        .getField(TicketD.findFieldByName("ticket"))
        .asInstanceOf[ByteString].toByteArray
      if (ticketBytes.isEmpty)
        throw new GrpcStatusException(3, "empty flight ticket")
      // a catalog/prepared ticket is the Any-wrapped command; a plain
      // statement ticket is the SQL text (stateless, survives restarts)
      val asCommand =
        try {
          val (name, body) = commandOf(ticketBytes)
          if (name.startsWith("Command")) Some((name, body)) else None
        } catch { case _: Exception => None }
      asCommand match {
        case Some(("CommandGetCatalogs", _)) =>
          flightDataFrames(FlightSqlCatalog.catalogs(engine))
        case Some(("CommandGetDbSchemas", body)) =>
          val m = DynamicMessage.parseFrom(CommandGetDbSchemasD, body)
          flightDataFrames(FlightSqlCatalog.dbSchemas(engine,
            strField(CommandGetDbSchemasD, m, "catalog"),
            strField(CommandGetDbSchemasD, m, "db_schema_filter_pattern"),
            likeMatch))
        case Some(("CommandGetTables", body)) =>
          val m = DynamicMessage.parseFrom(CommandGetTablesD, body)
          val types = m.getField(CommandGetTablesD
            .findFieldByName("table_types")).asInstanceOf[java.util.List[_]]
            .asScala.map(_.toString).toSeq
          flightDataFrames(FlightSqlCatalog.tables(engine,
            strField(CommandGetTablesD, m, "catalog"),
            strField(CommandGetTablesD, m, "db_schema_filter_pattern"),
            strField(CommandGetTablesD, m, "table_name_filter_pattern"),
            types,
            m.getField(CommandGetTablesD.findFieldByName("include_schema"))
              .asInstanceOf[Boolean],
            likeMatch))
        case Some(("CommandGetXdbcTypeInfo", body)) =>
          val m = DynamicMessage.parseFrom(CommandGetXdbcTypeInfoD, body)
          // proto3 scalar: absent serializes as 0 (not a served JDBC
          // code) — treat it as "no filter"
          val dt = m.getField(CommandGetXdbcTypeInfoD
            .findFieldByName("data_type")).asInstanceOf[Int]
          flightDataFrames(FlightSqlCatalog.xdbcTypeInfo(
            if (dt == 0) None else Some(dt)))
        case Some(("CommandGetSqlInfo", body)) =>
          val m = DynamicMessage.parseFrom(CommandGetSqlInfoD, body)
          val wanted = m.getField(CommandGetSqlInfoD.findFieldByName("info"))
            .asInstanceOf[java.util.List[_]].asScala
            .map(v => v.asInstanceOf[Int].toLong).toSeq
          flightDataFrames(FlightSqlCatalog.sqlInfo(wanted))
        case Some(("CommandPreparedStatementQuery", body)) =>
          val (sql, params) = FlightSqlEdge.decodeHandle(
            DynamicMessage.parseFrom(CommandPreparedStatementQueryD, body)
              .getField(CommandPreparedStatementQueryD
                .findFieldByName("prepared_statement_handle"))
              .asInstanceOf[ByteString].toByteArray)
          val result = engine.executeQuery(sql, user, params)
          flightDataFrames(bounded(result.df))
        case Some(("CommandStatementQuery", body)) =>
          val sql = strField(CommandStatementQueryD,
            DynamicMessage.parseFrom(CommandStatementQueryD, body), "query")
          val result = engine.executeQuery(sql, user, Map.empty)
          flightDataFrames(bounded(result.df))
        case _ =>
          val query = new String(ticketBytes, "UTF-8")
          val result = engine.executeQuery(query, user, Map.empty)
          flightDataFrames(bounded(result.df))
      }
    case "/arrow.flight.protocol.FlightService/DoPut" =>
      authed(headers)
      // Two DoPut shapes. (a) CommandPreparedStatementQuery: the
      // client streams ONE Arrow record batch of named parameter
      // values; the edge binds them by minting a REPLACEMENT handle
      // that carries (sql, params) — the stateless-server parameter
      // contract Flight SQL defines via DoPutPreparedStatementResult
      // (the reference binds on its prepared path,
      // flight_sql.rs:533-566). (b) DBeaver and other executeUpdate()
      // clients route even SELECTs here as
      // CommandPreparedStatementUpdate; the engine is read-only, so
      // the reference-compatible ack is record_count = -1 ("unknown")
      // instead of an error (flight_sql.rs:576-599).
      val frames = payloads.map(DynamicMessage.parseFrom(FlightDataD, _))
      val first = frames.headOption.getOrElse(
        throw new GrpcStatusException(3, "empty DoPut stream"))
      val desc = first.getField(FlightDataD
        .findFieldByName("flight_descriptor")).asInstanceOf[DynamicMessage]
      val cmdBytes = desc.getField(FlightDescriptorD.findFieldByName("cmd"))
        .asInstanceOf[ByteString].toByteArray
      val (name, body) = commandOf(cmdBytes)
      name match {
        case "CommandPreparedStatementQuery" =>
          val (sql, _) = FlightSqlEdge.decodeHandle(
            DynamicMessage.parseFrom(CommandPreparedStatementQueryD, body)
              .getField(CommandPreparedStatementQueryD
                .findFieldByName("prepared_statement_handle"))
              .asInstanceOf[ByteString].toByteArray)
          val ipcParts = frames.flatMap { f =>
            val meta = f.getField(FlightDataD.findFieldByName("data_header"))
              .asInstanceOf[ByteString].toByteArray
            val dataBody = f.getField(FlightDataD.findFieldByName("data_body"))
              .asInstanceOf[ByteString].toByteArray
            if (meta.isEmpty) None else Some((meta, dataBody))
          }
          val params = FlightSqlEdge.decodeParamBatch(FlightIpc.join(ipcParts))
          val res = DynamicMessage.newBuilder(DoPutPreparedStatementResultD)
            .setField(DoPutPreparedStatementResultD
              .findFieldByName("prepared_statement_handle"),
              ByteString.copyFrom(FlightSqlEdge.encodeHandle(sql, params)))
            .build()
          Seq(DynamicMessage.newBuilder(PutResultD)
            .setField(PutResultD.findFieldByName("app_metadata"),
              res.toByteString)
            .build().toByteArray)
        case "CommandPreparedStatementUpdate" | "CommandStatementUpdate" =>
          val upd = DynamicMessage.newBuilder(DoPutUpdateResultD)
            .setField(DoPutUpdateResultD.findFieldByName("record_count"), -1L)
            .build()
          Seq(DynamicMessage.newBuilder(PutResultD)
            .setField(PutResultD.findFieldByName("app_metadata"),
              upd.toByteString)
            .build().toByteArray)
        case other =>
          throw new GrpcStatusException(12,
            s"unimplemented DoPut command: $other")
      }
    case "/arrow.flight.protocol.FlightService/DoAction" =>
      val user = authed(headers)
      val act = DynamicMessage.parseFrom(ActionD, payload)
      val actionType = strField(ActionD, act, "type")
      val body = act.getField(ActionD.findFieldByName("body"))
        .asInstanceOf[ByteString].toByteArray
      actionType match {
        case "CreatePreparedStatement" =>
          // stateless, like the reference: the handle IS the SQL bytes
          // (flight_sql.rs:558-561), so creation = plan + echo; nothing
          // to evict, handles survive restarts
          val (_, reqBytes) = commandOf(body)
          val sql = strField(ActionCreatePreparedStatementRequestD,
            DynamicMessage.parseFrom(
              ActionCreatePreparedStatementRequestD, reqBytes), "query")
          // a statement with :named placeholders cannot be analyzed
          // until DoPut binds values — Flight SQL makes dataset_schema
          // optional for exactly this, so only that error is tolerated
          // (a bad table name still fails loudly at creation)
          val info =
            try Some(engine.planQuery(sql, user))
            catch {
              case e: Exception if String.valueOf(e.getMessage)
                .contains("UNBOUND_SQL_PARAMETER") => None
            }
          val resB = DynamicMessage.newBuilder(
              ActionCreatePreparedStatementResultD)
            .setField(ActionCreatePreparedStatementResultD
              .findFieldByName("prepared_statement_handle"),
              ByteString.copyFromUtf8(sql))
          info.foreach(i => resB.setField(
            ActionCreatePreparedStatementResultD
              .findFieldByName("dataset_schema"),
            ByteString.copyFrom(ArrowResults.schemaIpcBytes(i.schema))))
          val res = resB.build()
          val any = PAny.newBuilder()
            .setTypeUrl("type.googleapis.com/" +
              "arrow.flight.protocol.sql.ActionCreatePreparedStatementResult")
            .setValue(res.toByteString).build()
          Seq(DynamicMessage.newBuilder(ResultD)
            .setField(ResultD.findFieldByName("body"), any.toByteString)
            .build().toByteArray)
        case "ClosePreparedStatement" =>
          Seq.empty // stateless handles: closing is a no-op, empty stream
        case other =>
          throw new GrpcStatusException(12, s"unimplemented action: $other")
      }
    case other =>
      throw new GrpcStatusException(12, s"unimplemented: $other") // UNIMPLEMENTED
  } }
}

object FlightSqlEdge {
  /** Magic prefix of a parameter-carrying prepared-statement handle.
    * Contains a NUL, so no legacy plain-SQL handle can collide. */
  private val HandleMagic: Array[Byte] =
    "GRAFT-PS1\u0000".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Encode (sql, bound params) into a stateless handle. With no
    * params the handle IS the SQL bytes — the legacy form every
    * existing client already round-trips. */
  private[server] def encodeHandle(sql: String,
      params: Map[String, Any]): Array[Byte] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    if (params.isEmpty) return sql.getBytes(utf8)
    val bos = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(bos)
    d.write(HandleMagic)
    val sb = sql.getBytes(utf8)
    d.writeInt(sb.length); d.write(sb)
    d.writeInt(params.size)
    params.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val kb = k.getBytes(utf8)
      d.writeInt(kb.length); d.write(kb)
      v match {
        case null => d.writeByte('N')
        case b: Boolean => d.writeByte('B'); d.writeBoolean(b)
        case i: Int => d.writeByte('L'); d.writeLong(i.toLong)
        case l: Long => d.writeByte('L'); d.writeLong(l)
        // a raw Float normalizes through its DECIMAL string, exactly
        // like decodeParamBatch does — `f.toDouble` would widen the
        // binary32 representation error (3.14f → 3.140000104904175)
        // and silently revive the bug the decode side fixed
        case f: Float =>
          d.writeByte('D'); d.writeDouble(f.toString.toDouble)
        case x: Double => d.writeByte('D'); d.writeDouble(x)
        case s: String =>
          val b = s.getBytes(utf8)
          d.writeByte('S'); d.writeInt(b.length); d.write(b)
        // the decimal travels as its plain string — scale survives
        case bd: java.math.BigDecimal =>
          val b = bd.toPlainString.getBytes(utf8)
          d.writeByte('C'); d.writeInt(b.length); d.write(b)
        case ld: java.time.LocalDate =>
          d.writeByte('A'); d.writeLong(ld.toEpochDay)
        // second + nano pairs: exact for any timestamp either class holds
        case ts: java.time.Instant =>
          d.writeByte('T'); d.writeLong(ts.getEpochSecond)
          d.writeInt(ts.getNano)
        case ldt: java.time.LocalDateTime =>
          d.writeByte('M')
          d.writeLong(ldt.toEpochSecond(java.time.ZoneOffset.UTC))
          d.writeInt(ldt.getNano)
        case other => throw new GrpcStatusException(3,
          s"unsupported parameter type ${other.getClass.getName} for $k")
      }
    }
    d.flush()
    bos.toByteArray
  }

  /** Inverse of [[encodeHandle]]; bytes without the magic are the
    * legacy plain-SQL handle. */
  private[server] def decodeHandle(bytes: Array[Byte]): (String, Map[String, Any]) = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    if (bytes.length < HandleMagic.length ||
        !java.util.Arrays.equals(bytes, 0, HandleMagic.length,
          HandleMagic, 0, HandleMagic.length))
      return (new String(bytes, utf8), Map.empty)
    val d = new java.io.DataInputStream(new java.io.ByteArrayInputStream(
      bytes, HandleMagic.length, bytes.length - HandleMagic.length))
    def str(): String = {
      val n = d.readInt()
      require(n >= 0 && n <= bytes.length, s"corrupt handle length $n")
      val b = new Array[Byte](n); d.readFully(b); new String(b, utf8)
    }
    val sql = str()
    val n = d.readInt()
    require(n >= 0 && n <= 10000, s"corrupt handle param count $n")
    val params = (0 until n).map { _ =>
      val k = str()
      val v: Any = d.readByte().toChar match {
        case 'N' => null
        case 'B' => d.readBoolean()
        case 'L' => d.readLong()
        case 'D' => d.readDouble()
        case 'S' => str()
        case 'C' => new java.math.BigDecimal(str())
        case 'A' => java.time.LocalDate.ofEpochDay(d.readLong())
        case 'T' =>
          val sec = d.readLong(); java.time.Instant.ofEpochSecond(sec, d.readInt())
        case 'M' =>
          val sec = d.readLong()
          java.time.LocalDateTime.ofEpochSecond(sec, d.readInt(),
            java.time.ZoneOffset.UTC)
        case t => throw new GrpcStatusException(3,
          s"corrupt handle parameter tag '$t'")
      }
      k -> v
    }.toMap
    (sql, params)
  }

  /** Decode the DoPut parameter stream: ONE record batch, ONE row;
    * column names are the parameter names. */
  private[server] def decodeParamBatch(ipc: Array[Byte]): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    val alloc = new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
    try {
      val r = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(ipc), alloc)
      try {
        if (!r.loadNextBatch()) return Map.empty
        val root = r.getVectorSchemaRoot
        if (root.getRowCount != 1) throw new GrpcStatusException(3,
          s"parameter batch must carry exactly one row, got ${root.getRowCount}")
        val out = root.getFieldVectors.asScala.map { v =>
          import org.apache.arrow.vector._
          // Temporal and TZ vectors are matched by CLASS, never by
          // getObject's box: DateDayVector boxes the same Integer an
          // IntVector does (a date silently becomes the int 19782) and
          // every TimeStamp*TZVector boxes a bare Long whose UNIT only
          // the class knows — micros read as millis shift a timestamp
          // by 1000×.
          val value: Any = v match {
            case dv: DateDayVector =>
              if (dv.isNull(0)) null
              else java.time.LocalDate.ofEpochDay(dv.get(0).toLong)
            case dv: DateMilliVector =>
              Option(dv.getObject(0)).map(_.toLocalDate).orNull
            case tz: TimeStampSecTZVector =>
              if (tz.isNull(0)) null
              else java.time.Instant.ofEpochSecond(tz.get(0))
            case tz: TimeStampMilliTZVector =>
              if (tz.isNull(0)) null
              else java.time.Instant.ofEpochMilli(tz.get(0))
            case tz: TimeStampMicroTZVector =>
              if (tz.isNull(0)) null
              else {
                val m = tz.get(0)
                java.time.Instant.ofEpochSecond(
                  java.lang.Math.floorDiv(m, 1000000L),
                  java.lang.Math.floorMod(m, 1000000L) * 1000L)
              }
            case tz: TimeStampNanoTZVector =>
              if (tz.isNull(0)) null
              else {
                val n = tz.get(0)
                java.time.Instant.ofEpochSecond(
                  java.lang.Math.floorDiv(n, 1000000000L),
                  java.lang.Math.floorMod(n, 1000000000L))
              }
            case _ => v.getObject(0) match {
              case null => null
              case t: org.apache.arrow.vector.util.Text => t.toString
              case b: java.lang.Boolean => b.booleanValue()
              case i: java.lang.Integer => i.intValue()
              case l: java.lang.Long => l.longValue()
              case s: java.lang.Short => s.intValue()
              // round-trip through the decimal string: widening binary32
              // 0.1f via doubleValue() yields 0.10000000149…, silently
              // missing equality predicates on the intended decimal value
              case f: java.lang.Float => f.toString.toDouble
              case x: java.lang.Double => x.doubleValue()
              // decimal128 keeps its scale; Spark's parameterized SQL
              // plants it as DECIMAL(p, s)
              case bd: java.math.BigDecimal => bd
              // naive timestamps (no TZ): Arrow's own unit-correct
              // LocalDateTime box → Spark TIMESTAMP_NTZ
              case ldt: java.time.LocalDateTime => ldt
              case other => throw new GrpcStatusException(3,
                s"unsupported parameter type ${other.getClass.getSimpleName}" +
                  s" for ${v.getName}")
            }
          }
          v.getName -> value
        }.toMap
        if (r.loadNextBatch()) throw new GrpcStatusException(3,
          "parameter stream must carry exactly one record batch")
        out
      } finally r.close()
    } finally alloc.close()
  }
}

/** Arrow IPC stream ↔ Flight message boundary: split an encapsulated
  * IPC stream into its (metadata, body) messages — the exact payloads
  * of FlightData frames. Shared by the Flight edge (serving) and its
  * spec (verifying the split against the client's reassembly). */
object FlightIpc {
  /** Inverse of [[split]]: reassemble (metadata, body) Flight messages
    * into an encapsulated IPC stream — continuation marker, metadata
    * length padded so each body starts 8-byte aligned, end-of-stream
    * marker. Used by the DoPut parameter path, whose FlightData frames
    * arrive from an arbitrary client (pyarrow pads bodies, not
    * headers). */
  def join(frames: Seq[(Array[Byte], Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def i32(v: Int): Unit = {
      val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(v); bos.write(b.array())
    }
    frames.foreach { case (meta, body) =>
      val pad = (8 - ((meta.length + 8) % 8)) % 8
      i32(-1); i32(meta.length + pad)
      bos.write(meta); (0 until pad).foreach(_ => bos.write(0))
      bos.write(body)
    }
    i32(-1); i32(0)
    bos.toByteArray
  }

  def split(stream: Array[Byte]): Seq[(Array[Byte], Array[Byte])] = {
    val bb = ByteBuffer.wrap(stream).order(ByteOrder.LITTLE_ENDIAN)
    val out = Seq.newBuilder[(Array[Byte], Array[Byte])]
    var done = false
    while (!done && bb.remaining() >= 8) {
      val cont = bb.getInt
      require(cont == -1, s"expected IPC continuation marker, got $cont")
      val len = bb.getInt
      if (len == 0) done = true // end-of-stream
      else {
        val meta = new Array[Byte](len); bb.get(meta)
        val m = org.apache.arrow.flatbuf.Message.getRootAsMessage(
          ByteBuffer.wrap(meta).order(ByteOrder.LITTLE_ENDIAN))
        val body = new Array[Byte](m.bodyLength().toInt); bb.get(body)
        out += ((meta, body))
      }
    }
    out.result()
  }
}
