package graft.server

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.session.{AuthenticatedUser, GraftSession}
import graft.sources.pg.{PgTypes, PgWire, Scram}
import PgWire._

/** Credentials the edge authenticates against: username → (password,
  * engine identity). The password doubles as the user's API key, so the
  * same secret works on the REST, Flight, and pg edges. */
final case class PgCredentials(byUser: Map[String, (String, AuthenticatedUser)])

/** PostgreSQL wire-protocol SERVER edge: any client speaking protocol
  * v3 — psql, JDBC's org.postgresql, BI tools — connects, authenticates
  * (SCRAM-SHA-256 by default; `cleartext` and `md5` modes for clients
  * that need them), and runs SQL through the SAME engine session as the
  * REST/Flight edges: executeQuery → RLS, defensive limits, cost gate,
  * cache, trace all in force. A wire protocol, not a policy bypass —
  * the same stance as [[FlightSqlEdge]] and the reference's Flight SQL
  * endpoint (server/src/flight_sql.rs:48-216; the reference exposes
  * Flight + REST, not pg wire — this edge is the Spark build's answer
  * to the same "bring your own client" requirement, over the protocol
  * with the widest client ecosystem).
  *
  * Protocol surface: startup (SSL/GSS probes answered 'N'), auth,
  * simple-query ('Q') with text-format results, AND the extended query
  * protocol — Parse/Bind/Describe/Execute/Close/Flush/Sync with
  * text-format parameters — which is what psycopg3, libpq's
  * PQexecParams, and JDBC's org.postgresql speak by default. `$n`
  * placeholders rewrite to the engine's named-parameter path, so values
  * bind as typed literals in the analyzer (never string splicing — the
  * injection stance of the reference's prepared statements,
  * flight_sql.rs:533-566). Binary-format parameters or results are
  * refused loudly (0A000), never mis-decoded. CancelRequest WORKS: the
  * BackendKeyData (pid, secret) routes an out-of-band cancel to the
  * connection's Spark job group (interruptOnCancel), surfacing on the
  * busy connection as SQLSTATE 57014.
  *
  * Results are capped at `maxRows` (the edge's bulk-delivery bound, as
  * on the other edges); a capped result is flagged with a NOTICE so the
  * client knows it saw a prefix. */
final class PgWireEdge(
    engine: GraftSession,
    credentials: PgCredentials,
    authMode: String = "scram",
    maxRows: Int = 100000,
    ssl: Option[javax.net.ssl.SSLContext] = None) {

  require(Set("scram", "md5", "cleartext", "trust").contains(authMode),
    s"pg-edge: unknown auth mode $authMode")

  @volatile private var server: ServerSocket = _
  private val connections = ConcurrentHashMap.newKeySet[Socket]()
  private val threadId = new AtomicInteger()
  /** pid → (secret, Spark job group) for CancelRequest routing: the
    * BackendKeyData pair handed to each connection at startup. */
  private val cancelKeys = new ConcurrentHashMap[Int, (Int, String)]()

  def start(): Int = {
    server = new ServerSocket(0, 64, java.net.InetAddress.getLoopbackAddress)
    val acceptor = new Thread(() => acceptLoop(), "pg-edge-accept")
    acceptor.setDaemon(true)
    acceptor.start()
    server.getLocalPort
  }

  def stop(): Unit = {
    if (server != null) server.close()
    connections.forEach(s => try s.close() catch { case _: Exception => () })
    connections.clear()
  }

  private def acceptLoop(): Unit =
    try {
      while (!server.isClosed) {
        val sock = server.accept()
        connections.add(sock)
        val t = new Thread(() => {
          try serve(sock)
          catch { case _: Exception => () }
          finally { connections.remove(sock); try sock.close() catch { case _: Exception => () } }
        }, s"pg-edge-conn-${threadId.incrementAndGet()}")
        t.setDaemon(true)
        t.start()
      }
    } catch { case _: SocketException => () /* stop() */ }

  // ---------------------------------------------------------- connection

  private def serve(sock0: Socket): Unit = {
    sock0.setTcpNoDelay(true)
    var in = new DataInputStream(new BufferedInputStream(sock0.getInputStream))
    var out = new DataOutputStream(new BufferedOutputStream(sock0.getOutputStream))

    // startup. An SSLRequest probe upgrades the connection to TLS when
    // the edge holds a certificate (reply 'S', handshake in server
    // mode, continue the protocol on the encrypted streams — the
    // documented libpq upgrade dance); otherwise probes are answered
    // 'N' honestly. GSSENC is never spoken.
    var startup = readStartupRaw(in)
    while (startup._1 == SslRequestCode || startup._1 == 80877104) {
      if (startup._1 == SslRequestCode && ssl.isDefined) {
        out.writeByte('S'); out.flush()
        val tls = ssl.get.getSocketFactory
          .createSocket(sock0, null, sock0.getPort, false)
          .asInstanceOf[javax.net.ssl.SSLSocket]
        tls.setUseClientMode(false)
        tls.startHandshake()
        connections.add(tls)
        in = new DataInputStream(new BufferedInputStream(tls.getInputStream))
        out = new DataOutputStream(new BufferedOutputStream(tls.getOutputStream))
      } else {
        out.writeByte('N'); out.flush()
      }
      startup = readStartupRaw(in)
    }
    if (startup._1 == CancelRequestCode) {
      // out-of-band cancellation (pg docs, "Canceling Requests in
      // Progress"): (pid, secret) must match a live connection's
      // BackendKeyData; on match, cancel that connection's Spark job
      // group. No response either way — the protocol is fire-and-close.
      val bb = java.nio.ByteBuffer.wrap(startup._2)
      if (bb.remaining() >= 8) {
        val pid = bb.getInt
        val secret = bb.getInt
        Option(cancelKeys.get(pid)).foreach { case (expected, group) =>
          if (java.security.MessageDigest.isEqual(
            java.nio.ByteBuffer.allocate(4).putInt(expected).array(),
            java.nio.ByteBuffer.allocate(4).putInt(secret).array()))
            engine.spark.sparkContext.cancelJobGroup(group)
        }
      }
      return
    }
    if (startup._1 != ProtocolVersion3) {
      writeError(out, "FATAL", "08P01", s"unsupported protocol version ${startup._1}")
      return
    }
    val startupParams = {
      val bb = java.nio.ByteBuffer.wrap(startup._2)
      val params = Map.newBuilder[String, String]
      var k = if (bb.remaining() > 1) cstring(bb) else ""
      while (k.nonEmpty) {
        params += k -> cstring(bb)
        k = if (bb.remaining() > 1) cstring(bb) else ""
      }
      params.result()
    }
    val username = startupParams.getOrElse("user", "")

    val user = authenticate(in, out, username) match {
      case Some(u) => u
      case None => return // error already written
    }

    // post-auth greetings
    writeMessage(out, MsgAuthentication, authRequest(AuthOk))
    Seq("server_version" -> "16.0 (graft)", "server_encoding" -> "UTF8",
      "client_encoding" -> "UTF8", "DateStyle" -> "ISO, MDY",
      "integer_datetimes" -> "on").foreach { case (k, v) =>
      val b = new java.io.ByteArrayOutputStream()
      b.write(k.getBytes(UTF_8)); b.write(0); b.write(v.getBytes(UTF_8)); b.write(0)
      writeMessage(out, MsgParameterStatus, b.toByteArray)
    }
    // BackendKeyData that actually WORKS: pid+secret registered so a
    // CancelRequest on a fresh connection cancels this connection's
    // running Spark jobs (the jobGroup set around every collect)
    val pid = threadId.incrementAndGet()
    val secret = new java.security.SecureRandom().nextInt()
    val jobGroup = s"pg-edge-$pid"
    cancelKeys.put(pid, (secret, jobGroup))
    val key = java.nio.ByteBuffer.allocate(8).putInt(pid).putInt(secret)
    writeMessage(out, MsgBackendKeyData, key.array())
    writeReady(out)

    // ------------------------------------------------------- query loop
    // extended-query state: named prepared statements and portals, plus
    // the protocol's error-recovery rule — after an error inside an
    // extended sequence, ignore everything until Sync (pg docs,
    // "Extended Query", error handling)
    val statements = scala.collection.mutable.Map.empty[String, Prepared]
    val portals = scala.collection.mutable.Map.empty[String, Portal]
    var skipToSync = false
    var open = true
    // every collect in this loop runs on THIS thread: one thread-local
    // job group makes the whole connection's work cancellable via
    // CancelRequest (interruptOnCancel reaches into running tasks)
    engine.spark.sparkContext.setJobGroup(jobGroup,
      s"pg-edge connection $pid", interruptOnCancel = true)
    try while (open) {
      readOrEof(in) match {
        case None => open = false
        case Some(m) if skipToSync && m.tpe != MsgSync && m.tpe != MsgTerminate =>
          () // discarded per protocol until the client resyncs
        case Some(m) => m.tpe match {
          case MsgQuery =>
            val sql = cstring(java.nio.ByteBuffer.wrap(m.payload))
            // pg's simple protocol runs a multi-statement string in
            // order, one response set per statement, ONE ReadyForQuery
            // at the end; an error skips the remainder (the whole
            // string is one implicit transaction in pg — here every
            // statement is read-only, so skipping is the only effect)
            val stmts = PgWireEdge.splitStatements(sql)
            if (stmts.isEmpty)
              writeMessage(out, MsgEmptyQueryResponse, Array.empty)
            else {
              var ok = true
              stmts.foreach { st => if (ok) ok = runQuery(out, st, user) }
            }
            writeReady(out)
          case MsgParse =>
            extended(out, { () => handleParse(out, m.payload, statements) },
              onErr = () => skipToSync = true)
          case MsgBind =>
            extended(out, { () => handleBind(out, m.payload, statements, portals) },
              onErr = () => skipToSync = true)
          case MsgDescribe =>
            extended(out, { () =>
              handleDescribe(out, m.payload, statements, portals, user) },
              onErr = () => skipToSync = true)
          case MsgExecute =>
            extended(out, { () =>
              handleExecute(out, m.payload, portals, user) },
              onErr = () => skipToSync = true)
          case MsgClose =>
            val bb = java.nio.ByteBuffer.wrap(m.payload)
            val kind = bb.get().toChar
            val name = cstring(bb)
            if (kind == 'S') statements.remove(name) else portals.remove(name)
            writeMessage(out, MsgCloseComplete, Array.empty)
          case MsgFlush => out.flush()
          case MsgSync =>
            skipToSync = false
            writeReady(out)
          case MsgTerminate => open = false
          case other =>
            writeError(out, "ERROR", "0A000",
              s"message '${other.toChar}' not supported")
            writeReady(out)
        }
      }
    } finally {
      engine.spark.sparkContext.clearJobGroup()
      cancelKeys.remove(pid)
    }
  }

  /** pg's SQLSTATE for a user-requested cancellation. */
  private def sqlStateFor(e: Exception): String =
    if (String.valueOf(e.getMessage).toLowerCase.contains("cancelled") ||
      Iterator.iterate(e.getCause)(_.getCause).takeWhile(_ != null).take(8)
        .exists(c => String.valueOf(c.getMessage).toLowerCase.contains("cancelled")))
      "57014" // canceling statement due to user request
    else "XX000"

  /** Run one extended-protocol step; on failure emit ErrorResponse and
    * enter skip-until-Sync (the caller's onErr). */
  private def extended(out: DataOutputStream, step: () => Unit,
      onErr: () => Unit): Unit =
    try step()
    catch {
      case e: PgEdgeError =>
        writeError(out, "ERROR", e.sqlState, e.getMessage); onErr()
      case e: Exception =>
        writeError(out, "ERROR", sqlStateFor(e),
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName).take(4000))
        onErr()
    }

  // ------------------------------------------------- extended protocol

  /** A parsed statement: original SQL, the `$n`→`:pn` rewrite the
    * engine's named-parameter path executes, and declared param OIDs
    * (0 = unspecified, bound as text). */
  private final case class Prepared(sql: String, rewritten: String,
      paramOids: IndexedSeq[Int], nParams: Int,
      txnTag: Option[String] = None)

  /** A bound portal; the result materializes on first Describe/Execute
    * (capped at maxRows) and Execute's row-count limit pages through it
    * (PortalSuspended between pages, the JDBC fetchSize shape). */
  private final class Portal(val stmt: Prepared, val params: Map[String, Any],
      val resFmts: IndexedSeq[Int] = IndexedSeq.empty) {
    var rows: Array[Row] = _
    var schema: StructType = _
    var capped: Boolean = false
    var pos: Int = 0
  }

  private def handleParse(out: DataOutputStream, payload: Array[Byte],
      statements: scala.collection.mutable.Map[String, Prepared]): Unit = {
    val bb = java.nio.ByteBuffer.wrap(payload)
    val name = cstring(bb)
    val sql = cstring(bb)
    val nOids = bb.getShort.toInt
    val oids = IndexedSeq.fill(nOids)(bb.getInt)
    // COPY rides the simple-query sub-protocol; a Parse of it would
    // otherwise fall through to Spark's parser and die with a
    // confusing syntax error instead of a clean refusal
    if (parseCopy(sql).isDefined)
      throw new PgEdgeError("0A000",
        "COPY is supported via the simple query protocol only")
    // Transaction control arrives via the extended protocol too —
    // pgJDBC with autocommit=false Parses "BEGIN" before the first
    // statement — so the no-op must be recognized here, not only in
    // the simple-query path, or it dies in Spark's SQL parser.
    val (rewritten, nParams) = PgWireEdge.rewritePlaceholders(sql)
    val padded = oids.padTo(nParams, 0)
    statements(name) = Prepared(sql, rewritten, padded, nParams,
      txnTag = txnCommandTag(sql))
    writeMessage(out, MsgParseComplete, Array.empty)
  }

  private def handleBind(out: DataOutputStream, payload: Array[Byte],
      statements: scala.collection.mutable.Map[String, Prepared],
      portals: scala.collection.mutable.Map[String, Portal]): Unit = {
    val bb = java.nio.ByteBuffer.wrap(payload)
    val portalName = cstring(bb)
    val stmtName = cstring(bb)
    val stmt = statements.getOrElse(stmtName,
      throw new PgEdgeError("26000", s"""prepared statement "$stmtName" does not exist"""))
    val nFmt = bb.getShort.toInt
    val fmts = IndexedSeq.fill(nFmt)(bb.getShort.toInt)
    val nParams = bb.getShort.toInt
    if (nParams != stmt.nParams)
      throw new PgEdgeError("08P01",
        s"bind supplies $nParams parameters, statement needs ${stmt.nParams}")
    // pg format-code list contract: absent, one-for-all, or positional —
    // any other count is a protocol violation (a count of 2 for 3 params
    // would otherwise index out of bounds and surface as XX000)
    if (nFmt > 1 && nFmt != nParams)
      throw new PgEdgeError("08P01",
        s"bind message has $nFmt parameter formats but $nParams parameters")
    val values = IndexedSeq.tabulate(nParams) { i =>
      val len = bb.getInt
      val fmt = formatFor(fmts, i)
      if (len == -1) null
      else {
        val b = new Array[Byte](len); bb.get(b)
        if (fmt == 0) textParam(stmt.paramOids(i), new String(b, UTF_8))
        else binaryParam(stmt.paramOids(i), b)
      }
    }
    val nResFmt = bb.getShort.toInt
    val resFmts = IndexedSeq.fill(nResFmt)(bb.getShort.toInt)
    val params = values.zipWithIndex.map { case (v, i) => s"p${i + 1}" -> v }.toMap
    portals(portalName) = new Portal(stmt, params, resFmts)
    writeMessage(out, MsgBindComplete, Array.empty)
  }

  private def handleDescribe(out: DataOutputStream, payload: Array[Byte],
      statements: scala.collection.mutable.Map[String, Prepared],
      portals: scala.collection.mutable.Map[String, Portal],
      user: AuthenticatedUser): Unit = {
    val bb = java.nio.ByteBuffer.wrap(payload)
    val kind = bb.get().toChar
    val name = cstring(bb)
    kind match {
      case 'S' =>
        val stmt = statements.getOrElse(name,
          throw new PgEdgeError("26000", s"""prepared statement "$name" does not exist"""))
        val oidBytes = new java.io.ByteArrayOutputStream()
        val head = java.nio.ByteBuffer.allocate(2).putShort(stmt.nParams.toShort)
        oidBytes.write(head.array())
        stmt.paramOids.foreach { o =>
          val oid = if (o == 0) PgTypes.TextOid else o
          oidBytes.write(java.nio.ByteBuffer.allocate(4).putInt(oid).array())
        }
        writeMessage(out, MsgParameterDescription, oidBytes.toByteArray)
        if (stmt.txnTag.isDefined) {
          writeMessage(out, MsgNoData, Array.empty)
          return
        }
        // schema preview: plan with typed NULLs substituted for the
        // parameter markers (engine-generated text, not client data — no
        // injection surface); if the statement doesn't analyze that way,
        // NoData is honest
        try {
          val preview = ":p(\\d+)".r.replaceAllIn(stmt.rewritten, m => {
            val oid = stmt.paramOids(m.group(1).toInt - 1)
            val dt = PgTypes.sparkTypeOf(
              if (oid == 0) PgTypes.TextOid else oid, -1)
            java.util.regex.Matcher.quoteReplacement(
              s"CAST(NULL AS ${dt.sql})")
          })
          val info = withAnsiConfs { engine.planQuery(preview, user) }
          writeMessage(out, MsgRowDescription,
            rowDescription(fieldDescs(info.schema)))
        } catch {
          case _: Exception => writeMessage(out, MsgNoData, Array.empty)
        }
      case 'P' =>
        val portal = portals.getOrElse(name,
          throw new PgEdgeError("34000", s"""portal "$name" does not exist"""))
        if (portal.stmt.txnTag.isDefined) {
          writeMessage(out, MsgNoData, Array.empty)
          return
        }
        materialize(portal, user)
        writeMessage(out, MsgRowDescription,
          rowDescription(fieldDescs(portal.schema), portal.resFmts))
      case other =>
        throw new PgEdgeError("08P01", s"describe kind '$other' unknown")
    }
  }

  private def handleExecute(out: DataOutputStream, payload: Array[Byte],
      portals: scala.collection.mutable.Map[String, Portal],
      user: AuthenticatedUser): Unit = {
    val bb = java.nio.ByteBuffer.wrap(payload)
    val name = cstring(bb)
    val maxRowsReq = bb.getInt
    val portal = portals.getOrElse(name,
      throw new PgEdgeError("34000", s"""portal "$name" does not exist"""))
    portal.stmt.txnTag match {
      case Some(tag) =>
        writeMessage(out, MsgCommandComplete, commandComplete(tag))
        return
      case None => ()
    }
    materialize(portal, user)
    val remaining = portal.rows.length - portal.pos
    val page = if (maxRowsReq > 0) math.min(maxRowsReq, remaining) else remaining
    val end = portal.pos + page
    while (portal.pos < end) {
      val r = portal.rows(portal.pos)
      writeMessage(out, MsgDataRow,
        dataRowBytes(encodePortalRow(r, portal.schema, portal.resFmts)))
      portal.pos += 1
    }
    if (portal.pos < portal.rows.length)
      writeMessage(out, MsgPortalSuspended, Array.empty)
    else {
      if (portal.capped)
        writeMessage(out, MsgNoticeResponse, errorResponse("NOTICE", "01000",
          s"result truncated at $maxRows rows (edge delivery bound)"))
      writeMessage(out, MsgCommandComplete,
        commandComplete(s"SELECT ${portal.pos}"))
    }
  }

  /** Execute the portal's statement through the engine (once). */
  private def materialize(portal: Portal, user: AuthenticatedUser): Unit =
    if (portal.rows == null) {
      val result = withAnsiConfs {
        engine.executeQuery(portal.stmt.rewritten, user, portal.params)
      }
      portal.schema = result.df.schema
      // a positional result-format list must match the column count —
      // checked HERE so both the Describe(portal) and Execute paths get
      // the clean 08P01 instead of an index crash in rowDescription
      if (portal.resFmts.length > 1 &&
          portal.resFmts.length != portal.schema.fields.length)
        throw new PgEdgeError("08P01",
          s"bind message has ${portal.resFmts.length} result formats but " +
            s"${portal.schema.fields.length} columns")
      val rows = result.df.limit(maxRows + 1).collect()
      portal.capped = rows.length > maxRows
      portal.rows = if (portal.capped) rows.take(maxRows) else rows
    }

  private def fieldDescs(schema: StructType): Seq[FieldDesc] =
    schema.fields.toSeq.map { f =>
      val (oid, typmod) = PgTypes.oidOf(f.dataType)
      FieldDesc(f.name, oid, typmod)
    }

  /** Text-format parameter → the typed value the engine binds as a
    * literal, per the declared OID (0/unknown binds as text). */
  private def textParam(oid: Int, text: String): Any = oid match {
    case PgTypes.BoolOid => text == "t" || text == "true" || text == "1"
    case PgTypes.Int2Oid | PgTypes.Int4Oid => text.toInt
    case PgTypes.Int8Oid => text.toLong
    case PgTypes.Float4Oid => text.toFloat
    case PgTypes.Float8Oid => text.toDouble
    case PgTypes.NumericOid => new java.math.BigDecimal(text)
    case PgTypes.DateOid => java.sql.Date.valueOf(text)
    case PgTypes.TimestampOid | PgTypes.TimestamptzOid =>
      java.sql.Timestamp.valueOf(
        text.replace('T', ' ').stripSuffix("Z").stripSuffix("+00"))
    case _ => text
  }

  /** Run one statement of a simple-protocol Query; false = the
    * statement errored (the caller skips any remaining statements). */
  private def runQuery(out: DataOutputStream, sql: String,
      user: AuthenticatedUser): Boolean = {
    if (sql.trim.isEmpty || sql.trim == ";") {
      writeMessage(out, MsgEmptyQueryResponse, Array.empty)
      return true
    }
    // Transaction control: the engine is read-only, so BEGIN/COMMIT/
    // ROLLBACK are honest no-ops — every statement already has
    // snapshot-consistent semantics. Answering the proper command tags
    // keeps non-autocommit clients (pgJDBC with autocommit=false, BI
    // tools that bracket everything in transactions) working instead
    // of dying in the SQL parser.
    txnCommandTag(sql) match {
      case Some(tag) =>
        writeMessage(out, MsgCommandComplete, commandComplete(tag))
        return true
      case None => ()
    }
    parseCopy(sql) match {
      case Some(parsed) =>
        return try {
          parsed match {
            case Left(err) => throw err
            case Right(c) => runCopyOut(out, c, user)
          }
          true
        } catch {
          case e: PgEdgeError =>
            writeError(out, "ERROR", e.sqlState, e.getMessage); false
          case e: Exception =>
            writeError(out, "ERROR", sqlStateFor(e),
              Option(e.getMessage).getOrElse(e.getClass.getSimpleName).take(4000))
            false
        } finally out.flush()
      case None => ()
    }
    try {
      val result = withAnsiConfs { engine.executeQuery(sql, user) }
      val schema = result.df.schema
      val rows = result.df.limit(maxRows + 1).collect()
      val capped = rows.length > maxRows
      val emit = if (capped) rows.take(maxRows) else rows
      writeMessage(out, MsgRowDescription, rowDescription(schema.fields.toSeq.map { f =>
        val (oid, typmod) = PgTypes.oidOf(f.dataType)
        FieldDesc(f.name, oid, typmod)
      }))
      emit.foreach(r => writeMessage(out, MsgDataRow, dataRow(encodeRow(r, schema))))
      if (capped)
        writeMessage(out, MsgNoticeResponse, errorResponse("NOTICE", "01000",
          s"result truncated at $maxRows rows (edge delivery bound)"))
      writeMessage(out, MsgCommandComplete, commandComplete(s"SELECT ${emit.length}"))
      true
    } catch {
      case e: Exception =>
        writeError(out, "ERROR", sqlStateFor(e),
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName).take(4000))
        false
    } finally out.flush()
  }

  // ------------------------------------------------ COPY ... TO STDOUT
  // The bulk-export path psql's \copy and pg_dump-style tooling speak:
  // CopyOutResponse → CopyData per row → CopyDone → CommandComplete.
  // Sources: a parenthesized query, or a (optionally schema-qualified,
  // optionally double-quoted) table with an optional column list;
  // formats: pg text (tab-delimited, \N nulls, backslash escapes) and
  // CSV (WITH CSV [HEADER] / (FORMAT csv[, HEADER]); empty strings
  // QUOTE so a CSV re-import keeps them distinct from NULL, as pg
  // does). Parsing is quote-aware — a 'TO STDOUT' inside a string
  // literal never splits the statement — and options are VALIDATED:
  // anything unsupported (delimiters, trailing statements) refuses
  // loudly rather than silently shipping the wrong shape. Rows stream
  // via toLocalIterator with no delivery cap (bulk export is the
  // point; session governance still gates the inner query). COPY FROM
  // STDIN refuses with 0A000: the edge is read-only. The extended
  // protocol refuses COPY cleanly at Parse (simple protocol only).

  /** BEGIN [WORK|TRANSACTION ...], START TRANSACTION, COMMIT/END,
    * ROLLBACK/ABORT [TO SAVEPOINT ...], SAVEPOINT/RELEASE (savepoint
    * names allow digits/underscores/quoted idents) — with optional
    * modifiers, as a whole statement. */
  private val TxnRe =
    "(?is)^(BEGIN|START|COMMIT|END|ROLLBACK|ABORT|SAVEPOINT|RELEASE)(\\s+[A-Za-z0-9_\" ,]*)?;?$".r

  /** The CommandComplete tag for a transaction-control statement, or
    * None if `sql` is not one. Shared by the simple-query AND extended
    * (Parse) paths — the engine is read-only, so these are honest
    * no-ops answered with proper tags to keep non-autocommit clients
    * working. */
  private def txnCommandTag(sql: String): Option[String] =
    TxnRe.findFirstMatchIn(sql.trim).map(_.group(1).toUpperCase match {
      case "BEGIN" | "START" => "BEGIN"
      case "COMMIT" | "END" => "COMMIT"
      case "ROLLBACK" | "ABORT" => "ROLLBACK"
      case "SAVEPOINT" => "SAVEPOINT"
      case "RELEASE" => "RELEASE"
    })

  private final case class CopyOut(inner: String, csv: Boolean,
      header: Boolean)

  /** None: not a COPY statement. Some(Left): a COPY the edge refuses
    * (with the proper SQLSTATE). Some(Right): a runnable COPY TO
    * STDOUT. */
  private def parseCopy(sql: String): Option[Either[PgEdgeError, CopyOut]] = {
    val t = sql.trim.stripSuffix(";").trim
    // "COPY(SELECT ...) TO STDOUT" is legal pg syntax — a paren may
    // follow COPY with no whitespace
    if (!t.regionMatches(true, 0, "COPY", 0, 4) ||
        (t.length > 4 && !t.charAt(4).isWhitespace && t.charAt(4) != '('))
      return None
    var i = 4 // scan resumes right after COPY: whitespace or the paren
    def skipWs(): Unit = while (i < t.length && t.charAt(i).isWhitespace) i += 1
    def err(state: String, msg: String) = Some(Left(new PgEdgeError(state, msg)))
    skipWs()
    if (i >= t.length) return err("42601", "incomplete COPY statement")

    /** Scan from an opening delimiter to its match, honoring '...'
      * (with '' escapes) and "..." (with "" escapes) so literal
      * parens/keywords inside strings never confuse the split. */
    def matchParen(start: Int): Int = {
      var depth = 0
      var j = start
      while (j < t.length) {
        t.charAt(j) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) return j
          case '\'' =>
            j += 1
            while (j < t.length && (t.charAt(j) != '\'' ||
              (j + 1 < t.length && t.charAt(j + 1) == '\''))) {
              if (t.charAt(j) == '\'') j += 1
              j += 1
            }
          case '"' =>
            j += 1
            while (j < t.length && (t.charAt(j) != '"' ||
              (j + 1 < t.length && t.charAt(j + 1) == '"'))) {
              if (t.charAt(j) == '"') j += 1
              j += 1
            }
          case _ => ()
        }
        j += 1
      }
      -1
    }

    var inner: String = null
    if (t.charAt(i) == '(') {
      val close = matchParen(i)
      if (close < 0) return err("42601", "unterminated COPY subquery")
      inner = t.substring(i + 1, close)
      i = close + 1
    } else {
      // [schema.]table, each part bare or double-quoted
      def ident(): Option[String] = {
        if (i < t.length && t.charAt(i) == '"') {
          val close = {
            var j = i + 1
            while (j < t.length && (t.charAt(j) != '"' ||
              (j + 1 < t.length && t.charAt(j + 1) == '"'))) {
              if (t.charAt(j) == '"') j += 1
              j += 1
            }
            j
          }
          if (close >= t.length) None
          else {
            val raw = t.substring(i + 1, close).replace("\"\"", "\"")
            i = close + 1
            Some(raw)
          }
        } else {
          val start = i
          while (i < t.length && (t.charAt(i).isLetterOrDigit ||
            t.charAt(i) == '_' || t.charAt(i) == '$')) i += 1
          if (i == start) None else Some(t.substring(start, i))
        }
      }
      val first = ident().getOrElse(
        return err("42601", "cannot parse COPY source"))
      val qualified =
        if (i < t.length && t.charAt(i) == '.') {
          i += 1
          val second = ident().getOrElse(
            return err("42601", "cannot parse COPY source"))
          graft.util.Sanitize.quoteIdentifier(first) + "." +
            graft.util.Sanitize.quoteIdentifier(second)
        } else graft.util.Sanitize.quoteIdentifier(first)
      skipWs()
      var cols = "*"
      if (i < t.length && t.charAt(i) == '(') {
        val close = matchParen(i)
        if (close < 0) return err("42601", "unterminated column list")
        cols = t.substring(i + 1, close).split(',').map(c =>
          graft.util.Sanitize.quoteIdentifier(
            c.trim.stripPrefix("\"").stripSuffix("\"")))
          .mkString(", ")
        i = close + 1
      }
      inner = s"SELECT $cols FROM $qualified"
    }
    skipWs()
    val rest = t.substring(i)
    val restTokens = rest.split("\\s+").filter(_.nonEmpty).toSeq
    restTokens.map(_.toUpperCase) match {
      case "FROM" +: "STDIN" +: _ =>
        err("0A000", "COPY FROM STDIN is not supported: the edge is read-only")
      case "TO" +: "STDOUT" +: _ =>
        val opts = restTokens.drop(2)
          .map(_.replaceAll("[(),]", " ").trim).flatMap(_.split("\\s+"))
          .filter(_.nonEmpty)
        parseCopyOptions(opts) match {
          case Right((csv, header)) => Some(Right(CopyOut(inner, csv, header)))
          case Left(e) => Some(Left(e))
        }
      case "TO" +: _ =>
        err("0A000", "COPY TO is only supported with STDOUT")
      case _ => err("42601", "cannot parse COPY statement")
    }
  }

  /** Accepted: nothing; [WITH] CSV [HEADER [bool]]; [WITH] FORMAT
    * {TEXT|CSV} [HEADER [bool]]. Anything else refuses — silently
    * ignoring a DELIMITER would ship a shape the client mis-parses. */
  private def parseCopyOptions(
      tokens: Seq[String]): Either[PgEdgeError, (Boolean, Boolean)] = {
    var csv = false
    var header = false
    var i = 0
    val up = tokens.map(_.toUpperCase)
    def boolAt(j: Int): Option[(Boolean, Int)] =
      if (j < up.length) up(j) match {
        case "TRUE" | "ON" | "1" => Some((true, j + 1))
        case "FALSE" | "OFF" | "0" => Some((false, j + 1))
        case _ => None
      } else None
    while (i < up.length) {
      up(i) match {
        case "WITH" => i += 1
        case "FORMAT" if i + 1 < up.length && up(i + 1) == "CSV" =>
          csv = true; i += 2
        case "FORMAT" if i + 1 < up.length && up(i + 1) == "TEXT" =>
          i += 2
        case "CSV" => csv = true; i += 1
        case "HEADER" =>
          boolAt(i + 1) match {
            case Some((v, next)) => header = v; i = next
            case None => header = true; i += 1
          }
        case other =>
          return Left(new PgEdgeError("0A000",
            s"COPY option '$other' is not supported"))
      }
    }
    if (header && !csv)
      return Left(new PgEdgeError("0A000",
        "COPY HEADER requires CSV format"))
    Right((csv, header))
  }

  private def runCopyOut(out: DataOutputStream, c: CopyOut,
      user: AuthenticatedUser): Unit = {
    val result = withAnsiConfs { engine.executeQuery(c.inner, user) }
    val schema = result.df.schema
    val resp = new java.io.ByteArrayOutputStream()
    resp.write(0) // overall format: text
    resp.write(schema.fields.length >> 8); resp.write(schema.fields.length & 0xff)
    schema.fields.foreach { _ => resp.write(0); resp.write(0) }
    writeMessage(out, MsgCopyOutResponse, resp.toByteArray)
    if (c.header)
      writeMessage(out, MsgCopyData,
        (schema.fields.map(f => csvField(f.name)).mkString(",") + "\n")
          .getBytes(UTF_8))
    var n = 0L
    val it = result.df.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      val line = schema.fields.indices.map { i =>
        if (r.isNullAt(i)) { if (c.csv) "" else "\\N" }
        else {
          val v = PgTypes.encode(r.get(i), schema.fields(i).dataType)
          if (c.csv) csvField(v) else copyTextField(v)
        }
      }.mkString(if (c.csv) "," else "\t") + "\n"
      writeMessage(out, MsgCopyData, line.getBytes(UTF_8))
      n += 1
      if (n % 256 == 0) out.flush()
    }
    writeMessage(out, MsgCopyDone, Array.empty)
    writeMessage(out, MsgCommandComplete, commandComplete(s"COPY $n"))
  }

  /** pg COPY text-format escaping: backslash, tab, newline, CR. */
  private def copyTextField(v: String): String = {
    val sb = new StringBuilder(v.length)
    v.foreach {
      case '\\' => sb.append("\\\\")
      case '\t' => sb.append("\\t")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** CSV field quoting per RFC 4180; EMPTY strings quote too, so a
    * re-import keeps them distinct from NULL (pg's behavior). */
  private def csvField(v: String): String =
    if (v.isEmpty) "\"\""
    else if (v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + v.replace("\"", "\"\"") + "\""
    else v

  private def encodeRow(r: Row, schema: StructType): Seq[Option[String]] =
    schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      if (r.isNullAt(i)) None
      else Some(PgTypes.encode(r.get(i), f.dataType))
    }

  /** Per-column result encoding honoring the portal's Bind-time result
    * format codes: text for 0, pg wire binary for 1 (the fixed-width
    * numeric/bool types plus text — what psycopg3/pgJDBC request when
    * in binary mode). A binary request on a type without a binary
    * encoding here is a loud 0A000, never silent text. */
  private def encodePortalRow(r: Row, schema: StructType,
      resFmts: IndexedSeq[Int]): Seq[Option[Array[Byte]]] = {
    // same contract as parameter formats: absent, one-for-all, or
    // positional — a mismatched positional count is a protocol error,
    // not an index crash
    if (resFmts.length > 1 && resFmts.length != schema.fields.length)
      throw new PgEdgeError("08P01",
        s"bind message has ${resFmts.length} result formats but " +
          s"${schema.fields.length} columns")
    schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      if (r.isNullAt(i)) None
      else if (formatFor(resFmts, i) == 0)
        Some(PgTypes.encode(r.get(i), f.dataType).getBytes(UTF_8))
      else Some(binaryCell(r.get(i), f.dataType))
    }
  }

  private def binaryCell(v: Any, dt: org.apache.spark.sql.types.DataType)
      : Array[Byte] = {
    import org.apache.spark.sql.types._
    def buf(n: Int) = java.nio.ByteBuffer.allocate(n)
    dt match {
      case BooleanType =>
        Array[Byte](if (v.asInstanceOf[Boolean]) 1 else 0)
      case ShortType => buf(2).putShort(v.asInstanceOf[Short]).array()
      case IntegerType => buf(4).putInt(v.asInstanceOf[Int]).array()
      case LongType => buf(8).putLong(v.asInstanceOf[Long]).array()
      case FloatType => buf(4).putFloat(v.asInstanceOf[Float]).array()
      case DoubleType => buf(8).putDouble(v.asInstanceOf[Double]).array()
      case StringType => v.toString.getBytes(UTF_8) // binary text = utf8
      case other =>
        throw new PgEdgeError("0A000",
          s"binary result format not supported for $other (request text)")
    }
  }

  /** Binary-format parameter per the declared OID — the wire encodings
    * of pg's fixed-width types (network byte order), plus text for
    * text/varchar/unknown. Anything else is a loud 0A000. */
  private def binaryParam(oid: Int, b: Array[Byte]): Any = {
    def buf = java.nio.ByteBuffer.wrap(b)
    oid match {
      case PgTypes.BoolOid => b.length == 1 && b(0) == 1
      case PgTypes.Int2Oid => buf.getShort.toInt
      case PgTypes.Int4Oid => buf.getInt
      case PgTypes.Int8Oid => buf.getLong
      case PgTypes.Float4Oid => buf.getFloat
      case PgTypes.Float8Oid => buf.getDouble
      case PgTypes.TextOid | PgTypes.VarcharOid | 0 => new String(b, UTF_8)
      case other =>
        throw new PgEdgeError("0A000",
          s"binary-format parameter not supported for oid $other (send text)")
    }
  }

  // ------------------------------------------------------------ authents

  private def authenticate(in: DataInputStream, out: DataOutputStream,
      username: String): Option[AuthenticatedUser] = {
    def fail(msg: String): Option[AuthenticatedUser] = {
      writeError(out, "FATAL", "28P01", msg); None
    }
    val cred = credentials.byUser.get(username)
    authMode match {
      case "trust" =>
        cred.map(_._2).orElse(fail(s"""no such user "$username""""))
      case "cleartext" =>
        writeMessage(out, MsgAuthentication, authRequest(AuthCleartextPassword))
        out.flush()
        val given = readPassword(in)
        cred match {
          case Some((pw, u)) if constantEq(pw, given) => Some(u)
          case _ => fail(s"""password authentication failed for user "$username"""")
        }
      case "md5" =>
        val salt = new Array[Byte](4)
        new java.security.SecureRandom().nextBytes(salt)
        writeMessage(out, MsgAuthentication, authRequest(AuthMD5Password, salt))
        out.flush()
        val given = readPassword(in)
        cred match {
          case Some((pw, u)) if constantEq(md5Password(username, pw, salt), given) =>
            Some(u)
          case _ => fail(s"""password authentication failed for user "$username"""")
        }
      case "scram" =>
        writeMessage(out, MsgAuthentication, authSaslMechanisms(Seq("SCRAM-SHA-256")))
        out.flush()
        val init = readMessage(in)
        if (init.tpe != MsgPassword) return fail("expected SASLInitialResponse")
        val (mech, clientFirstRaw) = parseSaslInitialResponse(init.payload)
        if (mech != "SCRAM-SHA-256") return fail(s"unsupported SASL mechanism $mech")
        val clientFirst = new String(clientFirstRaw, UTF_8)
        val (_, clientNonce) = Scram.parseClientFirst(clientFirst)
        val clientFirstBare = clientFirst.stripPrefix("n,,")

        val salt = new Array[Byte](16)
        new java.security.SecureRandom().nextBytes(salt)
        val iterations = 4096
        val combined = clientNonce + Scram.newNonce()
        val serverFirst = Scram.ServerFirst(combined, salt, iterations).render
        writeMessage(out, MsgAuthentication,
          authRequest(AuthSASLContinue, serverFirst.getBytes(UTF_8)))
        out.flush()

        val finalMsg = readMessage(in)
        if (finalMsg.tpe != MsgPassword) return fail("expected SASLResponse")
        val clientFinal = Scram.parseClientFinal(new String(finalMsg.payload, UTF_8))
        if (clientFinal.nonce != combined) return fail("SCRAM nonce mismatch")
        cred match {
          case Some((pw, u)) =>
            val salted = Scram.saltedPassword(pw, salt, iterations)
            val authMsg = Scram.authMessage(clientFirstBare, serverFirst,
              clientFinal.withoutProof)
            if (!Scram.verifyClientProof(clientFinal.proof,
                Scram.storedKey(salted), authMsg))
              return fail(
                s"""password authentication failed for user "$username"""")
            writeMessage(out, MsgAuthentication, authRequest(AuthSASLFinal,
              Scram.renderServerFinal(
                Scram.serverSignature(salted, authMsg)).getBytes(UTF_8)))
            out.flush()
            Some(u)
          case None =>
            fail(s"""password authentication failed for user "$username"""")
        }
    }
  }

  private def readPassword(in: DataInputStream): String = {
    val m = readMessage(in)
    if (m.tpe != MsgPassword)
      throw new graft.sources.pg.PgProtocolException("pg-edge: expected PasswordMessage")
    cstring(java.nio.ByteBuffer.wrap(m.payload))
  }

  private def constantEq(a: String, b: String): Boolean =
    java.security.MessageDigest.isEqual(a.getBytes(UTF_8), b.getBytes(UTF_8))

  private def writeReady(out: DataOutputStream): Unit = {
    writeMessage(out, MsgReadyForQuery, Array('I'.toByte))
    out.flush()
  }

  // -------------------------------------------------------- conf scoping

  // pg clients quote identifiers with double quotes; the engine's parser
  // must read them as identifiers (ANSI), not string literals — without
  // this, SELECT "col" FROM "t" silently selects the LITERAL 'col'.
  // Spark confs are session-wide, so instead of flipping them for the
  // whole engine at start() (which silently re-enabled ANSI for
  // deployments that turned it off), they are set only around pg-edge
  // query execution and restored after, reference-counted so overlapping
  // pg connections restore the ORIGINAL values, not each other's.
  private object AnsiGuard {
    private val keys = Seq(
      "spark.sql.ansi.enabled", "spark.sql.ansi.doubleQuotedIdentifiers")
    private var depth = 0
    private var saved: Seq[(String, Option[String])] = Nil
    def enter(): Unit = synchronized {
      if (depth == 0) {
        saved = keys.map(k => k -> engine.spark.conf.getOption(k))
        keys.foreach(engine.spark.conf.set(_, "true"))
      }
      depth += 1
    }
    def exit(): Unit = synchronized {
      depth -= 1
      if (depth == 0) saved.foreach {
        case (k, Some(v)) => engine.spark.conf.set(k, v)
        case (k, None) => engine.spark.conf.unset(k)
      }
    }
  }

  /** ANSI identifier-quoting confs, scoped to this execution (see
    * [[AnsiGuard]]). A non-pg query running CONCURRENTLY with a pg-edge
    * query still observes the pg confs for that window — session confs
    * have no narrower scope — but the steady state is untouched. */
  private def withAnsiConfs[T](f: => T): T = {
    AnsiGuard.enter()
    try f finally AnsiGuard.exit()
  }

  private def writeError(out: DataOutputStream, severity: String, state: String,
      msg: String): Unit = {
    writeMessage(out, MsgErrorResponse, errorResponse(severity, state, msg))
    out.flush()
  }
}

/** An extended-protocol failure with its SQLSTATE. */
private[server] final class PgEdgeError(val sqlState: String, msg: String)
    extends RuntimeException(msg)

object PgWireEdge {

  /** Rewrite pg `$n` parameter placeholders to the engine's named
    * markers `:pn`, skipping string literals ('' with '' escapes),
    * dollar-quoted strings ($$..$$ / $tag$..$tag$), double-quoted
    * identifiers, line comments and block comments.
    * Returns the rewritten SQL and the highest placeholder number (=
    * the statement's parameter count, per pg semantics). */
  /** Split a simple-protocol query string into its statements at
    * top-level semicolons — quote-aware with the same scanner states as
    * [[rewritePlaceholders]] ('...' with '' escapes, "..." idents,
    * dollar quoting, line and nested block comments), so a ';' inside
    * any of those never splits. Whitespace-only statements drop. */
  private[graft] def splitStatements(sql: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    val cur = new StringBuilder
    // a fragment is a STATEMENT only if it has content outside comments
    // and whitespace — "SELECT 1; -- done" has one statement, and an
    // all-comment string is the empty query (pg's EmptyQueryResponse),
    // not a parse error
    var hasContent = false
    def emit(): Unit = {
      if (hasContent) parts += cur.toString
      cur.clear(); hasContent = false
    }
    val len = sql.length
    var i = 0
    var inStr = false
    var inIdent = false
    var inLineComment = false
    var blockDepth = 0
    while (i < len) {
      val c = sql.charAt(i)
      val next = if (i + 1 < len) sql.charAt(i + 1) else ' '
      if (inLineComment) {
        if (c == '\n') inLineComment = false
        cur.append(c); i += 1
      } else if (blockDepth > 0) {
        if (c == '*' && next == '/') { blockDepth -= 1; cur.append("*/"); i += 2 }
        else if (c == '/' && next == '*') { blockDepth += 1; cur.append("/*"); i += 2 }
        else { cur.append(c); i += 1 }
      } else if (inStr) {
        if (c == '\'' && next == '\'') { cur.append("''"); i += 2 }
        else { if (c == '\'') inStr = false; cur.append(c); i += 1 }
      } else if (inIdent) {
        if (c == '"') inIdent = false
        cur.append(c); i += 1
      } else c match {
        case ';' =>
          emit(); i += 1
        case '\'' => inStr = true; hasContent = true; cur.append(c); i += 1
        case '"' => inIdent = true; hasContent = true; cur.append(c); i += 1
        case '-' if next == '-' => inLineComment = true; cur.append("--"); i += 2
        case '/' if next == '*' => blockDepth = 1; cur.append("/*"); i += 2
        case '$' =>
          var j = i + 1
          while (j < len && (sql.charAt(j).isLetterOrDigit ||
            sql.charAt(j) == '_')) j += 1
          if (j < len && sql.charAt(j) == '$' && !next.isDigit) {
            val delim = sql.substring(i, j + 1)
            val close = sql.indexOf(delim, j + 1)
            val stop = if (close < 0) len else close + delim.length
            cur.append(sql.substring(i, stop))
            hasContent = true
            i = stop
          } else { hasContent = true; cur.append(c); i += 1 }
        case _ =>
          if (!c.isWhitespace) hasContent = true
          cur.append(c); i += 1
      }
    }
    emit()
    parts.result()
  }

  private[graft] def rewritePlaceholders(sql: String): (String, Int) = {
    val out = new StringBuilder(sql.length + 8)
    val len = sql.length
    var i = 0
    var maxN = 0
    var inStr = false
    var inIdent = false
    var inLineComment = false
    var blockDepth = 0
    while (i < len) {
      val c = sql.charAt(i)
      val next = if (i + 1 < len) sql.charAt(i + 1) else ' '
      if (inLineComment) {
        if (c == '\n') inLineComment = false
        out.append(c); i += 1
      } else if (blockDepth > 0) {
        if (c == '*' && next == '/') { blockDepth -= 1; out.append("*/"); i += 2 }
        else if (c == '/' && next == '*') { blockDepth += 1; out.append("/*"); i += 2 }
        else { out.append(c); i += 1 }
      } else if (inStr) {
        if (c == '\'' && next == '\'') { out.append("''"); i += 2 }
        else { if (c == '\'') inStr = false; out.append(c); i += 1 }
      } else if (inIdent) {
        if (c == '"') inIdent = false
        out.append(c); i += 1
      } else c match {
        case '\'' => inStr = true; out.append(c); i += 1
        case '"' => inIdent = true; out.append(c); i += 1
        case '-' if next == '-' => inLineComment = true; out.append("--"); i += 2
        case '/' if next == '*' => blockDepth = 1; out.append("/*"); i += 2
        case '$' if next.isDigit =>
          var j = i + 1
          while (j < len && sql.charAt(j).isDigit) j += 1
          val n = sql.substring(i + 1, j).toInt
          maxN = math.max(maxN, n)
          out.append(":p").append(n)
          i = j
        case '$' =>
          // dollar-quoted string: $$...$$ or $tag$...$tag$ (tag =
          // identifier chars, cannot start with a digit — so `$1` above
          // is always a parameter). Contents pass through verbatim; a
          // `$1` inside must NOT count as a parameter.
          var j = i + 1
          while (j < len && (sql.charAt(j).isLetterOrDigit ||
            sql.charAt(j) == '_')) j += 1
          if (j < len && sql.charAt(j) == '$') {
            val delim = sql.substring(i, j + 1) // e.g. "$$" or "$tag$"
            val close = sql.indexOf(delim, j + 1)
            val stop = if (close < 0) len else close + delim.length
            out.append(sql.substring(i, stop)) // unterminated → verbatim to end
            i = stop
          } else { out.append(c); i += 1 }
        case _ => out.append(c); i += 1
      }
    }
    (out.toString, maxN)
  }
}
