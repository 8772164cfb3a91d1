package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.server.{ApiKeyAuthenticator, FlightSqlEdge}
import graft.session._

/** Flight SQL server edge end to end: our own Flight client (which
  * speaks the real wire protocol over h2c) queries the engine session
  * through GetFlightInfo/DoGet — engine-to-engine Flight federation
  * with RLS, auth, and the session's governance in force. */
class FlightEdgeSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession._

  private var engine: GraftSession = _
  private var edge: FlightSqlEdge = _
  private var url: String = _

  override def beforeAll(): Unit = {
    Tables(spark, sf).registerAll()
    engine = new GraftSession(spark, GraftConfig(defensiveLimit = 1000))
    val auth = new ApiKeyAuthenticator(Map(
      "admin-key" -> AuthenticatedUser("admin", permissions = Set("admin")),
      "analyst-key" -> AuthenticatedUser("analyst",
        permissions = Set("query:*"),
        rules = Map(
          "orders" -> TablePolicy(rlsFilter = Some("o_custkey < 10"))))))
    edge = new FlightSqlEdge(engine, auth.apply)
    url = s"http://127.0.0.1:${edge.start()}"
  }

  override def afterAll(): Unit = if (edge != null) edge.stop()

  private def read(q: String, key: String = "admin-key") =
    spark.read.format("graft.sources.flight.FlightDataSource")
      .option("url", url).option("query", q).option("authToken", key)
      .load()

  test("a flight client runs SQL against the engine session") {
    val rows = read("SELECT n_regionkey, count(*) AS n FROM nation " +
      "GROUP BY n_regionkey ORDER BY n_regionkey").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(1)).sum == 25L)
  }

  test("schema planning happens at GetFlightInfo, rows stream via DoGet") {
    import org.apache.spark.sql.types._
    val df = read("SELECT n_name, n_nationkey FROM nation")
    assert(df.schema.fieldNames.toSeq == Seq("n_name", "n_nationkey"))
    assert(df.schema("n_nationkey").dataType == IntegerType)
    assert(df.count() == 25)
  }

  test("RLS rules ride the wire: analyst sees only permitted orders") {
    val analyst = read("SELECT count(*) AS n FROM orders", "analyst-key")
      .collect()(0).getLong(0)
    val admin = read("SELECT count(*) AS n FROM orders")
      .collect()(0).getLong(0)
    val expected = Tables(spark, sf).orders
      .filter("o_custkey < 10").count()
    assert(analyst == expected, s"analyst=$analyst expected=$expected")
    assert(admin > analyst)
  }

  test("GetFlightInfo is plan-only: zero jobs, no executeQuery") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val logBefore = engine.queryLog.size
      // .schema resolves via GetFlightInfo alone (no DoGet, no collect)
      val schema = read(
        "SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = 7").schema
      assert(schema.fieldNames.toSeq == Seq("o_orderkey", "o_totalprice"))
      assert(engine.queryLog.size == logBefore,
        "GetFlightInfo must plan, not executeQuery (double-execution per fetch)")
      // barrier job (raw RDD — exactly one job, no AQE sub-jobs): the
      // listener bus is ordered, so once this job's start event lands,
      // any job GetFlightInfo ran would already be counted
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 10000
      while (jobs.get() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(jobs.get() == 1,
        s"GetFlightInfo ran ${jobs.get() - 1} Spark job(s); must be plan-only")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a bad api key is UNAUTHENTICATED (grpc-status 16), not a hang") {
    val e = intercept[Exception] { read("SELECT 1", "wrong-key").collect() }
    def chain(x: Throwable): Seq[String] =
      Iterator.iterate(x)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).filter(_ != null).toSeq
    assert(chain(e).exists(_.contains("grpc-status 16")),
      chain(e).mkString(" | "))
  }

  test("a result past maxRows fails the DoGet, never arrives truncated") {
    val capped = new FlightSqlEdge(engine, new ApiKeyAuthenticator(Map(
      "admin-key" -> AuthenticatedUser("admin", permissions = Set("admin")))).apply,
      maxRows = 5)
    val cappedUrl = s"http://127.0.0.1:${capped.start()}"
    def readCapped(q: String) =
      spark.read.format("graft.sources.flight.FlightDataSource")
        .option("url", cappedUrl).option("query", q)
        .option("authToken", "admin-key").load()
    try {
      val e = intercept[Exception](readCapped("SELECT * FROM nation").collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).flatMap(x => Option(x.getMessage)).toSeq
      assert(msgs.exists(_.contains("truncated")), msgs.mkString(" | "))
      assert(readCapped("SELECT n_name FROM nation LIMIT 3").collect().length == 3)
    } finally capped.stop()
  }

  // ------------------------------------------------- catalog discovery

  import org.sparkproject.spark_core.protobuf.{Any => PAny, ByteString, DynamicMessage}
  import graft.sources.flight.FlightProto._
  import graft.sources.grpc.{GrpcFraming, Http2Grpc}
  import scala.jdk.CollectionConverters._

  private def authHeaders = Seq("authorization" -> "Bearer admin-key")

  /** GetFlightInfo for an Any-wrapped command → (schema IPC, ticket). */
  private def callInfo(cmdName: String,
      cmd: DynamicMessage): (Array[Byte], Array[Byte]) = {
    val any = PAny.newBuilder()
      .setTypeUrl(s"type.googleapis.com/arrow.flight.protocol.sql.$cmdName")
      .setValue(if (cmd == null) ByteString.EMPTY else cmd.toByteString)
      .build()
    val desc = DynamicMessage.newBuilder(FlightDescriptorD)
      .setField(FlightDescriptorD.findFieldByName("cmd"),
        ByteString.copyFrom(any.toByteArray))
      .build()
    val respBytes = GrpcFraming.unframe(new java.io.ByteArrayInputStream(
      Http2Grpc.unaryCall(
        s"$url/arrow.flight.protocol.FlightService/GetFlightInfo",
        GrpcFraming.frame(desc.toByteArray), authHeaders)))
    val info = DynamicMessage.parseFrom(FlightInfoD, respBytes)
    val schemaBytes = info.getField(FlightInfoD.findFieldByName("schema"))
      .asInstanceOf[ByteString].toByteArray
    val ep = info.getField(FlightInfoD.findFieldByName("endpoint"))
      .asInstanceOf[java.util.List[_]].get(0).asInstanceOf[DynamicMessage]
    val tk = ep.getField(ep.getDescriptorForType.findFieldByName("ticket"))
      .asInstanceOf[DynamicMessage]
    (schemaBytes, tk.getField(tk.getDescriptorForType.findFieldByName("ticket"))
      .asInstanceOf[ByteString].toByteArray)
  }

  /** DoGet(ticket), reassembled into one Arrow IPC stream. */
  private def doGetIpc(ticket: Array[Byte]): Array[Byte] = {
    val t = DynamicMessage.newBuilder(TicketD)
      .setField(TicketD.findFieldByName("ticket"), ByteString.copyFrom(ticket))
      .build()
    val body = Http2Grpc.unaryCall(
      s"$url/arrow.flight.protocol.FlightService/DoGet",
      GrpcFraming.frame(t.toByteArray), authHeaders)
    val out = new java.io.ByteArrayOutputStream()
    val ch = new org.apache.arrow.vector.ipc.WriteChannel(
      java.nio.channels.Channels.newChannel(out))
    GrpcFraming.unframeAll(body).foreach { msgBytes =>
      val fd = DynamicMessage.parseFrom(FlightDataD, msgBytes)
      val header = fd.getField(FlightDataD.findFieldByName("data_header"))
        .asInstanceOf[ByteString].toByteArray
      val data = fd.getField(FlightDataD.findFieldByName("data_body"))
        .asInstanceOf[ByteString].toByteArray
      org.apache.arrow.vector.ipc.message.MessageSerializer
        .writeMessageBuffer(ch, header.length, java.nio.ByteBuffer.wrap(header))
      ch.write(java.nio.ByteBuffer.wrap(data))
    }
    ch.writeIntLittleEndian(-1)
    ch.writeIntLittleEndian(0)
    out.toByteArray
  }

  /** Read an IPC stream with Arrow Java; hand each loaded root to `f`. */
  private def withIpc[T](ipc: Array[Byte])(
      f: org.apache.arrow.vector.VectorSchemaRoot => T): T = {
    val alloc = new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
    try {
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(ipc), alloc)
      try { reader.loadNextBatch(); f(reader.getVectorSchemaRoot) }
      finally reader.close()
    } finally alloc.close()
  }

  test("catalog discovery: GetCatalogs, GetDbSchemas, GetTables with " +
      "filters and schemas") {
    val (_, catTicket) = callInfo("CommandGetCatalogs", null)
    withIpc(doGetIpc(catTicket)) { root =>
      val v = root.getVector("catalog_name")
        .asInstanceOf[org.apache.arrow.vector.VarCharVector]
      val names = (0 until root.getRowCount).map(i => new String(v.get(i), "UTF-8"))
      assert(names.contains("spark_catalog"), names)
    }
    val (_, schTicket) = callInfo("CommandGetDbSchemas",
      DynamicMessage.newBuilder(CommandGetDbSchemasD).build())
    withIpc(doGetIpc(schTicket)) { root =>
      val v = root.getVector("db_schema_name")
        .asInstanceOf[org.apache.arrow.vector.VarCharVector]
      val names = (0 until root.getRowCount).map(i => new String(v.get(i), "UTF-8"))
      assert(names.contains("default"), names)
    }
    // tables: LIKE filter + include_schema → decodable IPC table schema
    val cmd = DynamicMessage.newBuilder(CommandGetTablesD)
      .setField(CommandGetTablesD.findFieldByName("table_name_filter_pattern"),
        "nat%")
      .setField(CommandGetTablesD.findFieldByName("include_schema"),
        java.lang.Boolean.TRUE)
      .build()
    val (_, tabTicket) = callInfo("CommandGetTables", cmd)
    withIpc(doGetIpc(tabTicket)) { root =>
      val nameV = root.getVector("table_name")
        .asInstanceOf[org.apache.arrow.vector.VarCharVector]
      val typeV = root.getVector("table_type")
        .asInstanceOf[org.apache.arrow.vector.VarCharVector]
      val schemaV = root.getVector("table_schema")
        .asInstanceOf[org.apache.arrow.vector.VarBinaryVector]
      val names = (0 until root.getRowCount)
        .map(i => new String(nameV.get(i), "UTF-8"))
      assert(names == Seq("nation"), names)
      assert(new String(typeV.get(0), "UTF-8") == "VIEW") // registered temp view
      val ipcSchema = org.apache.arrow.vector.ipc.message.MessageSerializer
        .deserializeSchema(new org.apache.arrow.vector.ipc.ReadChannel(
          java.nio.channels.Channels.newChannel(
            new java.io.ByteArrayInputStream(schemaV.get(0)))))
      assert(ipcSchema.getFields.size == 3, ipcSchema) // nation's 3 columns
    }
    // include_schema=false serves the spec's NO-schema variant: the
    // table_schema column is absent, not present-but-empty
    val cmdNoSchema = DynamicMessage.newBuilder(CommandGetTablesD)
      .setField(CommandGetTablesD.findFieldByName("table_name_filter_pattern"),
        "nat%")
      .build()
    val (advNo, tabNo) = callInfo("CommandGetTables", cmdNoSchema)
    val advNoSchema = org.apache.arrow.vector.ipc.message.MessageSerializer
      .deserializeSchema(new org.apache.arrow.vector.ipc.ReadChannel(
        java.nio.channels.Channels.newChannel(
          new java.io.ByteArrayInputStream(advNo))))
    assert(!advNoSchema.getFields.asScala.exists(_.getName == "table_schema"),
      advNoSchema)
    withIpc(doGetIpc(tabNo)) { root =>
      assert(root.getSchema.getFields.asScala.map(_.getName).toSeq ==
        Seq("catalog_name", "db_schema_name", "table_name", "table_type"))
      assert(root.getRowCount == 1)
      // temp views live under the session's current database so a
      // schema-by-schema browser finds them
      val dbV = root.getVector("db_schema_name")
        .asInstanceOf[org.apache.arrow.vector.VarCharVector]
      assert(new String(dbV.get(0), "UTF-8") == "default")
    }
  }

  test("GetSqlInfo serves the dense-union metadata batch") {
    val (schemaIpc, ticket) = callInfo("CommandGetSqlInfo",
      DynamicMessage.newBuilder(CommandGetSqlInfoD).build())
    // advertised schema is the spec's union layout
    val advertised = org.apache.arrow.vector.ipc.message.MessageSerializer
      .deserializeSchema(new org.apache.arrow.vector.ipc.ReadChannel(
        java.nio.channels.Channels.newChannel(
          new java.io.ByteArrayInputStream(schemaIpc))))
    assert(advertised.getFields.get(1).getType
      .isInstanceOf[org.apache.arrow.vector.types.pojo.ArrowType.Union],
      advertised)
    withIpc(doGetIpc(ticket)) { root =>
      assert(root.getRowCount == 4)
      val names = root.getVector("info_name")
        .asInstanceOf[org.apache.arrow.vector.UInt4Vector]
      val ids = (0 until 4).map(names.get)
      assert(ids == Seq(0, 1, 2, 3), ids)
      val union = root.getVector("value")
        .asInstanceOf[org.apache.arrow.vector.complex.DenseUnionVector]
      // server name rides the string child; server-ready the bool child
      assert(union.getTypeId(0) == 0.toByte)
      val sv = union.getVectorByType(0.toByte)
        .asInstanceOf[org.apache.arrow.vector.VarCharVector]
      assert(new String(sv.get(0), "UTF-8") == "graft")
      assert(union.getTypeId(3) == 1.toByte)
    }
  }

  test("GetXdbcTypeInfo lists the served SQL types; data_type filters") {
    val (_, all) = callInfo("CommandGetXdbcTypeInfo",
      DynamicMessage.newBuilder(CommandGetXdbcTypeInfoD).build())
    withIpc(doGetIpc(all)) { root =>
      val names = root.getVector("type_name")
        .asInstanceOf[org.apache.arrow.vector.VarCharVector]
      val vals = (0 until root.getRowCount)
        .map(i => new String(names.get(i), "UTF-8"))
      assert(vals.contains("INTEGER") && vals.contains("VARCHAR") &&
        vals.contains("TIMESTAMP"), vals)
    }
    val (_, one) = callInfo("CommandGetXdbcTypeInfo",
      DynamicMessage.newBuilder(CommandGetXdbcTypeInfoD)
        .setField(CommandGetXdbcTypeInfoD.findFieldByName("data_type"),
          Integer.valueOf(12))
        .build())
    withIpc(doGetIpc(one)) { root =>
      assert(root.getRowCount == 1)
      val names = root.getVector("type_name")
        .asInstanceOf[org.apache.arrow.vector.VarCharVector]
      assert(new String(names.get(0), "UTF-8") == "VARCHAR")
    }
  }

  test("DoPut prepared-statement update acknowledges read-only with -1") {
    // the DBeaver executeUpdate() shape: the engine is read-only, so
    // the edge acknowledges with record_count = -1 instead of erroring
    val upd = DynamicMessage.newBuilder(CommandPreparedStatementUpdateD)
      .setField(CommandPreparedStatementUpdateD
        .findFieldByName("prepared_statement_handle"),
        ByteString.copyFromUtf8("SELECT 1"))
      .build()
    val any = PAny.newBuilder()
      .setTypeUrl("type.googleapis.com/" +
        "arrow.flight.protocol.sql.CommandPreparedStatementUpdate")
      .setValue(upd.toByteString).build()
    val desc = DynamicMessage.newBuilder(FlightDescriptorD)
      .setField(FlightDescriptorD.findFieldByName("cmd"),
        ByteString.copyFrom(any.toByteArray))
      .build()
    val fd = DynamicMessage.newBuilder(FlightDataD)
      .setField(FlightDataD.findFieldByName("flight_descriptor"), desc)
      .build()
    val body = Http2Grpc.unaryCall(
      s"$url/arrow.flight.protocol.FlightService/DoPut",
      GrpcFraming.frame(fd.toByteArray), authHeaders)
    val results = GrpcFraming.unframeAll(body)
    assert(results.size == 1)
    val pr = DynamicMessage.parseFrom(PutResultD, results.head)
    val meta = pr.getField(PutResultD.findFieldByName("app_metadata"))
      .asInstanceOf[ByteString].toByteArray
    val rec = DynamicMessage.parseFrom(DoPutUpdateResultD, meta)
      .getField(DoPutUpdateResultD.findFieldByName("record_count"))
      .asInstanceOf[Long]
    assert(rec == -1L, rec)
  }

  test("prepared statements: stateless handle round-trip via DoAction") {
    val sql = "SELECT n_name FROM nation WHERE n_regionkey = 0 ORDER BY n_name"
    val req = DynamicMessage.newBuilder(ActionCreatePreparedStatementRequestD)
      .setField(ActionCreatePreparedStatementRequestD.findFieldByName("query"),
        sql)
      .build()
    val reqAny = PAny.newBuilder()
      .setTypeUrl("type.googleapis.com/" +
        "arrow.flight.protocol.sql.ActionCreatePreparedStatementRequest")
      .setValue(req.toByteString).build()
    val action = DynamicMessage.newBuilder(ActionD)
      .setField(ActionD.findFieldByName("type"), "CreatePreparedStatement")
      .setField(ActionD.findFieldByName("body"),
        ByteString.copyFrom(reqAny.toByteArray))
      .build()
    val body = Http2Grpc.unaryCall(
      s"$url/arrow.flight.protocol.FlightService/DoAction",
      GrpcFraming.frame(action.toByteArray), authHeaders)
    val results = GrpcFraming.unframeAll(body)
    assert(results.size == 1)
    val res = DynamicMessage.parseFrom(ResultD, results.head)
    val resAny = PAny.parseFrom(res.getField(
      ResultD.findFieldByName("body")).asInstanceOf[ByteString].toByteArray)
    assert(resAny.getTypeUrl.endsWith("ActionCreatePreparedStatementResult"))
    val created = DynamicMessage.parseFrom(
      ActionCreatePreparedStatementResultD, resAny.getValue.toByteArray)
    val handle = created.getField(ActionCreatePreparedStatementResultD
      .findFieldByName("prepared_statement_handle"))
      .asInstanceOf[ByteString].toByteArray
    assert(new String(handle, "UTF-8") == sql) // stateless: handle IS the SQL
    val dsSchema = created.getField(ActionCreatePreparedStatementResultD
      .findFieldByName("dataset_schema")).asInstanceOf[ByteString].toByteArray
    assert(dsSchema.nonEmpty)
    // execute it: GetFlightInfo + DoGet over CommandPreparedStatementQuery
    val q = DynamicMessage.newBuilder(CommandPreparedStatementQueryD)
      .setField(CommandPreparedStatementQueryD
        .findFieldByName("prepared_statement_handle"),
        ByteString.copyFrom(handle))
      .build()
    val (_, ticket) = callInfo("CommandPreparedStatementQuery", q)
    withIpc(doGetIpc(ticket)) { root =>
      val v = root.getVector("n_name")
        .asInstanceOf[org.apache.arrow.vector.VarCharVector]
      val names = (0 until root.getRowCount).map(i => new String(v.get(i), "UTF-8"))
      assert(names.length == 5 && names == names.sorted, names)
    }
    // close is a clean no-op (stateless handles)
    val close = DynamicMessage.newBuilder(ActionD)
      .setField(ActionD.findFieldByName("type"), "ClosePreparedStatement")
      .setField(ActionD.findFieldByName("body"), ByteString.EMPTY)
      .build()
    val closeBody = Http2Grpc.unaryCall(
      s"$url/arrow.flight.protocol.FlightService/DoAction",
      GrpcFraming.frame(close.toByteArray), authHeaders)
    assert(GrpcFraming.unframeAll(closeBody).isEmpty)
  }

}
