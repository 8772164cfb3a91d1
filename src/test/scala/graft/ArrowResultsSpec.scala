package graft

import graft.server.ArrowResults
import java.io.ByteArrayInputStream
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DataFrame → Arrow IPC stream round-trips through a plain Arrow reader
  * (what a pyarrow / arrow-js / DuckDB client would do with the bytes). */
class ArrowResultsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def readBack(bytes: Array[Byte])(f: VectorSchemaRoot => Unit): Unit = {
    val alloc = new RootAllocator(Long.MaxValue)
    try {
      val reader = new ArrowStreamReader(new ByteArrayInputStream(bytes), alloc)
      try { assert(reader.loadNextBatch()); f(reader.getVectorSchemaRoot) }
      finally reader.close()
    } finally alloc.close()
  }

  test("scalar types round-trip with nulls") {
    val df = Seq(
      (1L, Some(2), Some(1.5), Some("a"), Some(true)),
      (2L, None, None, None, None)
    ).toDF("id", "i", "d", "s", "b")
    readBack(ArrowResults.toArrowStream(df.schema, df.collect())) { root =>
      assert(root.getRowCount == 2)
      assert(root.getVector("id").asInstanceOf[BigIntVector].get(0) == 1L)
      assert(root.getVector("i").asInstanceOf[IntVector].get(0) == 2)
      assert(root.getVector("i").isNull(1))
      assert(root.getVector("d").asInstanceOf[Float8Vector].get(0) == 1.5)
      assert(new String(root.getVector("s").asInstanceOf[VarCharVector].get(0)) == "a")
      assert(root.getVector("s").isNull(1))
      assert(root.getVector("b").asInstanceOf[BitVector].get(0) == 1)
    }
  }

  test("dates, timestamps, decimals, binary round-trip") {
    val df = spark.sql(
      """SELECT DATE'2024-03-01' AS dt,
        |       TIMESTAMP'2024-03-01 12:30:45.123456' AS ts,
        |       CAST(12.34 AS DECIMAL(10,2)) AS dec,
        |       CAST('xy' AS BINARY) AS bin""".stripMargin)
    readBack(ArrowResults.toArrowStream(df.schema, df.collect())) { root =>
      val days = root.getVector("dt").asInstanceOf[DateDayVector].get(0)
      assert(days == java.time.LocalDate.of(2024, 3, 1).toEpochDay)
      val micros = root.getVector("ts").asInstanceOf[TimeStampMicroTZVector].get(0)
      assert(micros % 1000000L == 45123456L % 1000000L)
      assert(root.getVector("dec").asInstanceOf[DecimalVector]
        .getObject(0).toString == "12.34")
      assert(new String(root.getVector("bin").asInstanceOf[VarBinaryVector].get(0)) == "xy")
    }
  }

  test("maxRows bounds the stream") {
    val df = spark.range(1000).toDF("n")
    readBack(ArrowResults.toArrowStream(df.schema, df.limit(25).collect()))(
      root => assert(root.getRowCount == 25))
  }

  test("nested types degrade to strings rather than failing") {
    val df = spark.sql("SELECT array(1, 2) AS arr")
    readBack(ArrowResults.toArrowStream(df.schema, df.collect())) { root =>
      val s = new String(root.getVector("arr").asInstanceOf[VarCharVector].get(0))
      assert(s.contains("1") && s.contains("2"))
    }
  }

  test("query_arrow endpoint serves a readable stream over HTTP") {
    import graft.server.{ApiKeyAuthenticator, ApiServer}
    import graft.session.{AuthenticatedUser, GraftConfig, GraftSession}
    Tables(spark, sf).registerAll()
    val engine = new GraftSession(spark, GraftConfig(defensiveLimit = 100))
    val api = new ApiServer(engine,
      new ApiKeyAuthenticator(Map(
        "k" -> AuthenticatedUser("u", permissions = Set("query:execute")))).apply)
    val port = api.start()
    try {
      val conn = new java.net.URI(s"http://localhost:$port/api/v1/query_arrow")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Authorization", "Bearer k")
      conn.setDoOutput(true)
      conn.getOutputStream.write(
        """{"sql": "SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 3"}"""
          .getBytes("UTF-8"))
      assert(conn.getResponseCode == 200)
      assert(conn.getHeaderField("Content-Type") == "application/vnd.apache.arrow.stream")
      val bytes = conn.getInputStream.readAllBytes()
      readBack(bytes) { root =>
        assert(root.getRowCount == 3)
        val v = root.getVector("n_name").asInstanceOf[VarCharVector]
        assert(new String(v.get(0)) == "NATION_0")
      }
    } finally api.stop()
  }

  test("tables endpoint serves Flight-SQL-shaped catalog discovery with embedded schemas") {
    import graft.server.{ApiKeyAuthenticator, ApiServer}
    import graft.session.{AuthenticatedUser, GraftConfig, GraftSession}
    Tables(spark, sf).registerAll()
    val engine = new GraftSession(spark, GraftConfig(defensiveLimit = 100))
    val api = new ApiServer(engine,
      new ApiKeyAuthenticator(Map(
        "k" -> AuthenticatedUser("u", permissions = Set("catalog:read")))).apply)
    val port = api.start()
    def get(params: String): Array[Byte] = {
      val conn = new java.net.URI(s"http://localhost:$port/api/v1/tables$params")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestProperty("Authorization", "Bearer k")
      assert(conn.getResponseCode == 200, params)
      assert(conn.getHeaderField("Content-Type") == "application/vnd.apache.arrow.stream")
      conn.getInputStream.readAllBytes()
    }
    try {
      // full listing: the GetTables 5-column shape, lineitem present, and
      // its table_schema bytes decode back to the table's Arrow schema
      readBack(get("")) { root =>
        val names = root.getSchema.getFields
        assert((0 until names.size()).map(names.get(_).getName) ==
          Seq("catalog_name", "db_schema_name", "table_name", "table_type",
            "table_schema"))
        val tn = root.getVector("table_name").asInstanceOf[VarCharVector]
        val all = (0 until root.getRowCount).map(i => new String(tn.get(i)))
        assert(all.contains("lineitem") && all.contains("orders"), all)
        val i = all.indexOf("lineitem")
        // registerAll creates temp views -> Flight SQL's VIEW type
        assert(new String(root.getVector("table_type")
          .asInstanceOf[VarCharVector].get(i)) == "VIEW")
        val schemaBytes = root.getVector("table_schema")
          .asInstanceOf[VarBinaryVector].get(i)
        val decoded = org.apache.arrow.vector.ipc.message.MessageSerializer
          .deserializeSchema(new org.apache.arrow.vector.ipc.ReadChannel(
            java.nio.channels.Channels.newChannel(
              new ByteArrayInputStream(schemaBytes))))
        val fieldNames = decoded.getFields
        assert((0 until fieldNames.size()).map(fieldNames.get(_).getName).toSet ==
          spark.table("lineitem").schema.fieldNames.toSet)
      }
      // LIKE filter narrows the listing
      readBack(get("?table_name_filter_pattern=line%25")) { root =>
        val tn = root.getVector("table_name").asInstanceOf[VarCharVector]
        val all = (0 until root.getRowCount).map(i => new String(tn.get(i)))
        assert(all.nonEmpty && all.forall(_.startsWith("line")), all)
      }
      // include_schema=false leaves the binary column empty
      readBack(get("?include_schema=false&table_name_filter_pattern=orders")) { root =>
        assert(root.getRowCount >= 1)
        assert(root.getVector("table_schema")
          .asInstanceOf[VarBinaryVector].get(0).isEmpty)
      }
      // catalog pattern that matches nothing yields an empty (but valid) batch
      readBack(get("?catalog=nope")) { root =>
        assert(root.getRowCount == 0)
      }
    } finally api.stop()
  }
}
