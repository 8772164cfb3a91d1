package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.pg._

/** The PostgreSQL wire codec in isolation: framing round-trips, the
  * SCRAM-SHA-256 arithmetic against the published RFC 7677 example
  * vector, the MD5 double-hash against an externally computed vector,
  * the text-format type codec, and the pushdown SQL generator. */
class PgWireSpec extends AnyFunSuite {
  import PgWire._

  private def b64(b: Array[Byte]) = java.util.Base64.getEncoder.encodeToString(b)

  // ------------------------------------------------------------- framing

  test("message framing round-trips") {
    val buf = new ByteArrayOutputStream()
    val out = new DataOutputStream(buf)
    writeMessage(out, MsgQuery, queryMessage("SELECT 1"))
    writeMessage(out, MsgTerminate, Array.empty)
    val in = new DataInputStream(new ByteArrayInputStream(buf.toByteArray))
    val m1 = readMessage(in)
    assert(m1.tpe == MsgQuery)
    assert(cstring(java.nio.ByteBuffer.wrap(m1.payload)) == "SELECT 1")
    assert(readMessage(in).tpe == MsgTerminate)
  }

  test("an insane length is rejected, not allocated") {
    val bytes = Array[Byte]('Q', 0x7f.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte)
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    intercept[PgProtocolException] { readMessage(in) }
  }

  test("startup packet round-trips") {
    val msg = startupMessage(Seq("user" -> "alice", "database" -> "db1"))
    val in = new DataInputStream(new ByteArrayInputStream(msg))
    val (version, params) = readStartup(in)
    assert(version == ProtocolVersion3)
    assert(params == Map("user" -> "alice", "database" -> "db1"))
  }

  test("SSL and GSSENC probes parse as magic versions with no params") {
    // 8-byte packets: length 8 + magic; readStartup must not underflow
    for (magic <- Seq(SslRequestCode, 80877104)) {
      val bb = java.nio.ByteBuffer.allocate(8).putInt(8).putInt(magic)
      val in = new DataInputStream(new ByteArrayInputStream(bb.array()))
      assert(readStartup(in) == (magic, Map.empty))
    }
  }

  test("RowDescription round-trips") {
    val fields = Seq(FieldDesc("a", PgTypes.Int4Oid, -1),
      FieldDesc("b", PgTypes.NumericOid, PgTypes.numericTypmod(10, 2)))
    assert(parseRowDescription(rowDescription(fields)) == fields)
  }

  test("DataRow round-trips, NULL as length -1") {
    val row = dataRow(Seq(Some("x"), None, Some("")))
    val parsed = parseDataRow(row)
    assert(parsed.length == 3)
    assert(new String(parsed(0).get, UTF_8) == "x")
    assert(parsed(1).isEmpty)
    assert(new String(parsed(2).get, UTF_8) == "")
  }

  test("ErrorResponse fields round-trip") {
    val f = parseErrorFields(errorResponse("ERROR", "42601", "syntax error"))
    assert(f == Map('S' -> "ERROR", 'C' -> "42601", 'M' -> "syntax error"))
  }

  // ---------------------------------------------------------------- auth

  test("MD5 double-hash matches an externally computed vector") {
    // python: md5(md5(b'secret'+b'alice').hexdigest().encode()+bytes([1,2,3,4]))
    assert(md5Password("alice", "secret", Array[Byte](1, 2, 3, 4)) ==
      "md598a0412b9c31436fc53776e863350083")
  }

  test("SCRAM-SHA-256 matches the RFC 7677 example vector") {
    val user = "user"; val pass = "pencil"
    val cNonce = "rOprNGfwEbeRWgbNEkqO"
    val sNonce = cNonce + "%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0"
    val serverFirstRaw = s"r=$sNonce,s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096"
    val sf = Scram.parseServerFirst(serverFirstRaw)
    assert(sf.iterations == 4096 && sf.nonce == sNonce)

    val salted = Scram.saltedPassword(pass, sf.salt, sf.iterations)
    assert(b64(salted) == "xKSVEDI6tPlSysH6mUQZOeeOp01r6B3fcJbodRPcYV0=")

    val authMsg = Scram.authMessage(Scram.clientFirstBare(user, cNonce),
      serverFirstRaw, Scram.clientFinalWithoutProof(sNonce))
    assert(b64(Scram.clientProof(salted, authMsg)) ==
      "dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ=")
    assert(b64(Scram.serverSignature(salted, authMsg)) ==
      "6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=")
  }

  test("server-side proof verification accepts the right password only") {
    val salt = "0123456789abcdef".getBytes(UTF_8)
    val salted = Scram.saltedPassword("hunter2", salt, 4096)
    val authMsg = "n=,r=abc,r=abcdef,s=czB=,i=4096,c=biws,r=abcdef"
    val good = Scram.clientProof(salted, authMsg)
    assert(Scram.verifyClientProof(good, Scram.storedKey(salted), authMsg))
    val wrong = Scram.clientProof(
      Scram.saltedPassword("hunter3", salt, 4096), authMsg)
    assert(!Scram.verifyClientProof(wrong, Scram.storedKey(salted), authMsg))
  }

  test("client-first parsing takes the nonce and refuses channel binding") {
    assert(Scram.parseClientFirst("n,,n=,r=xyz") == ("", "xyz"))
    assert(Scram.parseClientFirst("n,,n=bob,r=abc") == ("bob", "abc"))
    intercept[PgProtocolException] { Scram.parseClientFirst("p=tls-server-end-point,,n=,r=x") }
  }

  test("non-ASCII credentials are refused loudly (no silent SASLprep skip)") {
    intercept[PgProtocolException] {
      Scram.saltedPassword("pässword", Array[Byte](1), 1)
    }
  }

  test("SASLInitialResponse round-trips") {
    val (mech, data) = parseSaslInitialResponse(
      saslInitialResponse("SCRAM-SHA-256", "n,,n=,r=abc".getBytes(UTF_8)))
    assert(mech == "SCRAM-SHA-256")
    assert(new String(data, UTF_8) == "n,,n=,r=abc")
  }

  // --------------------------------------------------------------- types

  test("text codec round-trips every mapped type") {
    import java.time.{Instant, LocalDate, LocalDateTime}
    def rt(external: Any, dt: DataType): Any =
      PgTypes.decode(PgTypes.encode(external, dt), dt)

    assert(rt(true, BooleanType) == true)
    assert(rt(false, BooleanType) == false)
    assert(rt(7.toShort, ShortType) == 7.toShort)
    assert(rt(42, IntegerType) == 42)
    assert(rt(1234567890123L, LongType) == 1234567890123L)
    assert(rt(1.25f, FloatType) == 1.25f)
    assert(rt(2.5d, DoubleType) == 2.5d)
    assert(rt("héllo", StringType) == UTF8String.fromString("héllo"))
    assert(java.util.Arrays.equals(
      rt(Array[Byte](0xde.toByte, 0xad.toByte, 0, 1), BinaryType)
        .asInstanceOf[Array[Byte]],
      Array[Byte](0xde.toByte, 0xad.toByte, 0, 1)))
    // date/timestamp decode to Catalyst internal (epoch day / micros)
    assert(rt(LocalDate.of(2024, 1, 2), DateType) ==
      LocalDate.of(2024, 1, 2).toEpochDay.toInt)
    assert(rt(LocalDateTime.of(2024, 1, 2, 3, 4, 5, 123456000), TimestampNTZType) ==
      java.time.temporal.ChronoUnit.MICROS.between(
        LocalDateTime.of(1970, 1, 1, 0, 0),
        LocalDateTime.of(2024, 1, 2, 3, 4, 5, 123456000)))
    val inst = Instant.parse("2024-01-02T03:04:05.123456Z")
    assert(rt(inst, TimestampType) ==
      java.time.temporal.ChronoUnit.MICROS.between(Instant.EPOCH, inst))
    val dec = rt(new java.math.BigDecimal("12345.67"), DecimalType(10, 2))
    assert(dec == Decimal(BigDecimal("12345.67"), 10, 2))
  }

  test("timestamptz decode accepts short and full zone offsets") {
    val micros = PgTypes.decode("2024-01-02 03:04:05.123456+00", TimestampType)
    val micros2 = PgTypes.decode("2024-01-02 08:34:05.123456+05:30", TimestampType)
    assert(micros == micros2)
  }

  test("oid mapping is stable both ways") {
    assert(PgTypes.sparkTypeOf(PgTypes.Int8Oid, -1) == LongType)
    assert(PgTypes.sparkTypeOf(PgTypes.NumericOid,
      PgTypes.numericTypmod(12, 3)) == DecimalType(12, 3))
    assert(PgTypes.oidOf(DecimalType(12, 3)) ==
      (PgTypes.NumericOid, PgTypes.numericTypmod(12, 3)))
    assert(PgTypes.sparkTypeOf(PgTypes.JsonbOid, -1) == StringType)
    // complex Spark types serve as text
    assert(PgTypes.oidOf(ArrayType(IntegerType)) == (PgTypes.TextOid, -1))
  }

  test("connection urls parse with defaults") {
    val full = PgConnInfo.parse("postgres://u:p@db.example:5444/mydb")
    assert(full == PgConnInfo("db.example", 5444, "u", "p", "mydb"))
    val bare = PgConnInfo.parse("postgresql://localhost")
    assert(bare.port == 5432 && bare.user == "postgres" && bare.database == "postgres")
    intercept[IllegalArgumentException] { PgConnInfo.parse("mysql://x/y") }
  }
}
