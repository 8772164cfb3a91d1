package graft

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetAddress, ServerSocket, Socket}

import scala.collection.concurrent.TrieMap

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.kafka.{KafkaWire, KafkaWireClient}
import KafkaWire._

/** In-repo single-node Kafka broker for the wire-source live loop:
  * Metadata v1 / ListOffsets v1 / Fetch v4 over real sockets, records
  * served as properly CRC'd RecordBatch v2 sets. Partitioned in-memory
  * logs with append, so the streaming test can produce between
  * micro-batches. */
final class KafkaBrokerStub(topic: String, nPartitions: Int) {
  private val logs: TrieMap[Int, Vector[(Option[Array[Byte]], Array[Byte], Long)]] =
    TrieMap((0 until nPartitions).map(_ -> Vector.empty): _*)
  @volatile private var running = true
  private val server = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)

  def start(): Int = {
    val t = new Thread(() => {
      while (running) {
        try {
          val s = server.accept()
          val w = new Thread(() => try session(s) catch { case _: Exception => () }
            finally s.close())
          w.setDaemon(true); w.start()
        } catch { case _: Exception => () }
      }
    }, "kafka-stub-accept")
    t.setDaemon(true); t.start()
    server.getLocalPort
  }

  def stop(): Unit = { running = false; server.close() }

  def produce(partition: Int, key: Option[String], value: String,
      ts: Long = 1700000000000L): Unit =
    logs.updateWith(partition)(v => Some(v.getOrElse(Vector.empty) :+
      ((key.map(_.getBytes("UTF-8")), value.getBytes("UTF-8"), ts))))

  def endOffset(partition: Int): Long =
    logs(partition).size.toLong +
      (if (trailingControl.contains(partition)) 1 else 0)

  /** Partitions whose log ends in a transaction COMMIT marker (a
    * control batch): the high watermark sits one past the last data
    * record — the shape that breaks readers that track position by
    * record offsets alone. */
  @volatile var trailingControl: Set[Int] = Set.empty

  /** Per-partition log start offset (retention simulation): a Fetch
    * below it answers OFFSET_OUT_OF_RANGE (error 1), and ListOffsets
    * earliest reports it. */
  @volatile var logStart: Map[Int, Long] = Map.empty

  /** Transient-hiccup simulation: the next N Fetch requests answer
    * success with a correct high watermark but an EMPTY record set —
    * the shape a real broker produces during leader movement or when
    * the response assembly races the produce path. */
  @volatile var emptyFetchesRemaining: Int = 0

  /** A control batch (COMMIT marker) at `offset`: encode one record,
    * set attributes bit 5, restore the CRC. */
  private def controlBatchAt(offset: Long): Array[Byte] = {
    val b = KafkaWire.encodeBatch(offset, 1700000000000L,
      Seq((Some(Array[Byte](0, 0, 0, 1)), Array[Byte](0, 0))))
    b(22) = (b(22) | 0x20).toByte
    val crc = new java.util.zip.CRC32C
    crc.update(b, 21, b.length - 21)
    val cv = crc.getValue.toInt
    b(17) = (cv >>> 24).toByte; b(18) = (cv >>> 16).toByte
    b(19) = (cv >>> 8).toByte; b(20) = cv.toByte
    b
  }

  private def session(sock: Socket): Unit = {
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(sock.getOutputStream)
    while (true) {
      val req = new Reader(recvFrame(in))
      val apiKey = req.i16(); val apiVer = req.i16()
      val corr = req.i32(); req.nullableStr()
      val resp = new Writer
      resp.i32(corr)
      apiKey match {
        case ApiProduce =>
          require(apiVer == 3, s"produce v$apiVer")
          req.nullableStr() // transactional id
          req.i16() // acks
          req.i32() // timeout
          val nt = req.i32()
          resp.i32(nt)
          (0 until nt).foreach { _ =>
            val t = req.str()
            val np = req.i32()
            resp.str(t)
            resp.i32(np)
            (0 until np).foreach { _ =>
              val pid = req.i32()
              val set = req.bytesOpt().getOrElse(Array.emptyByteArray)
              val recs = KafkaWire.decodeRecordSet(set).records
              val base = endOffset(pid)
              recs.foreach(r =>
                logs.updateWith(pid)(v => Some(v.getOrElse(Vector.empty) :+
                  ((r.key, r.value.getOrElse(Array.emptyByteArray),
                    r.timestampMs)))))
              resp.i32(pid); resp.i16(0); resp.i64(base); resp.i64(-1L)
            }
          }
          resp.i32(0) // throttle
        case ApiMetadata =>
          require(apiVer == 1, s"metadata v$apiVer")
          // protocol rule: null array (-1) = ALL topics; empty = none
          val n = req.i32()
          val names = if (n < 0) Seq(topic) else Seq.fill(n)(req.str())
          resp.i32(1) // brokers
          resp.i32(0); resp.str("127.0.0.1"); resp.i32(server.getLocalPort)
          resp.nullableStr(None)
          resp.i32(0) // controller
          resp.i32(names.length)
          names.foreach { t =>
            if (t == topic) {
              resp.i16(0); resp.str(t); resp.i8(0)
              resp.i32(nPartitions)
              (0 until nPartitions).foreach { p =>
                resp.i16(0); resp.i32(p); resp.i32(0)
                resp.i32(1); resp.i32(0) // replicas
                resp.i32(1); resp.i32(0) // isr
              }
            } else {
              resp.i16(3); resp.str(t); resp.i8(0); resp.i32(0) // unknown topic
            }
          }
        case ApiListOffsets =>
          require(apiVer == 1, s"listoffsets v$apiVer")
          req.i32() // replica
          val nt = req.i32()
          resp.i32(nt)
          (0 until nt).foreach { _ =>
            val t = req.str()
            val np = req.i32()
            resp.str(t)
            resp.i32(np)
            (0 until np).foreach { _ =>
              val pid = req.i32(); val ts = req.i64()
              val off = ts match {
                case -2L => logStart.getOrElse(pid, 0L)
                case -1L => endOffset(pid)
                case _ => 0L
              }
              resp.i32(pid); resp.i16(0); resp.i64(-1L); resp.i64(off)
            }
          }
        case ApiFetch =>
          require(apiVer == 4, s"fetch v$apiVer")
          req.i32(); req.i32(); req.i32(); req.i32(); req.i8()
          val nt = req.i32()
          resp.i32(0) // throttle
          resp.i32(nt)
          (0 until nt).foreach { _ =>
            val t = req.str()
            val np = req.i32()
            resp.str(t)
            resp.i32(np)
            (0 until np).foreach { _ =>
              val pid = req.i32(); val off = req.i64(); req.i32()
              val log = logs.getOrElse(pid, Vector.empty)
              val hw = endOffset(pid)
              resp.i32(pid)
              if (off < logStart.getOrElse(pid, 0L)) {
                resp.i16(1) // OFFSET_OUT_OF_RANGE: retention ate it
                resp.i64(hw); resp.i64(hw); resp.i32(0)
                resp.bytes(Array.emptyByteArray)
              } else if (emptyFetchesRemaining > 0) {
                emptyFetchesRemaining -= 1
                resp.i16(0)
                resp.i64(hw); resp.i64(hw); resp.i32(0)
                resp.bytes(Array.emptyByteArray) // transiently empty
              } else {
                resp.i16(0)
                resp.i64(hw) // high watermark
                resp.i64(hw) // last stable
                resp.i32(0) // aborted txns
                val marker =
                  if (trailingControl.contains(pid))
                    controlBatchAt(log.size.toLong)
                  else Array.emptyByteArray
                if (off >= log.size) resp.bytes(
                  if (off == log.size) marker else Array.emptyByteArray)
                else {
                  // serve in two batches when possible, exercising the
                  // client's multi-batch record-set walk
                  val rest = log.drop(off.toInt)
                  val (a, b) = rest.splitAt(math.max(1, rest.size / 2))
                  val bytes =
                    encode(off, a) ++
                      (if (b.nonEmpty) encode(off + a.size, b)
                       else Array.emptyByteArray) ++ marker
                  resp.bytes(bytes)
                }
              }
            }
          }
        case other => throw new IllegalStateException(s"api $other")
      }
      sendFrame(out, resp.result())
    }
  }

  private def encode(base: Long,
      recs: Seq[(Option[Array[Byte]], Array[Byte], Long)]): Array[Byte] =
    KafkaWire.encodeBatch(base, recs.head._3,
      recs.map { case (k, v, _) => (k, v) })
}

class KafkaSourceSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestSession._

  private var stub: KafkaBrokerStub = _
  private var port: Int = _

  override def beforeAll(): Unit = {
    stub = new KafkaBrokerStub("docs", nPartitions = 3)
    port = stub.start()
    (0 until 30).foreach { i =>
      stub.produce(i % 3, Some(s"k$i"), s"value-$i")
    }
  }

  override def afterAll(): Unit = if (stub != null) stub.stop()

  private def opts = Map(
    "bootstrap" -> s"127.0.0.1:$port",
    "topic" -> "docs")

  test("varint zigzag round-trips across the range") {
    for (v <- Seq(0L, 1L, -1L, 63L, -64L, 300L, -300L, 1L << 40,
        -(1L << 40), Long.MaxValue, Long.MinValue)) {
      val w = new Writer; w.varlong(v)
      assert(new Reader(w.result()).varlong() == v, s"varlong $v")
    }
  }

  test("record batches round-trip with a verified CRC32C") {
    val batch = KafkaWire.encodeBatch(7L, 123L,
      Seq((Some("a".getBytes), "va".getBytes), (None, "vb".getBytes)))
    val decoded = KafkaWire.decodeRecordSet(batch)
    val recs = decoded.records
    assert(recs.map(_.offset) == Seq(7L, 8L))
    assert(decoded.endOffset == 9L)
    assert(recs(0).key.map(new String(_)).contains("a"))
    assert(recs(1).key.isEmpty)
    assert(new String(recs(1).value.get) == "vb")
    // a flipped payload byte must fail the CRC, not decode garbage
    val bad = batch.clone()
    bad(bad.length - 1) = (bad(bad.length - 1) ^ 1).toByte
    val e = intercept[java.io.IOException] {
      KafkaWire.decodeRecordSet(bad)
    }
    assert(e.getMessage.contains("CRC"), e.getMessage)
  }

  test("a compressed batch is refused loudly, never silent garbage") {
    val batch = KafkaWire.encodeBatch(0L, 1L, Seq((None, "x".getBytes)))
    // set a compression codec bit in attributes (offset 21 = hi byte)
    batch(22) = (batch(22) | 0x01).toByte
    // fix the CRC so ONLY the codec check fires
    val crc = new java.util.zip.CRC32C
    crc.update(batch, 21, batch.length - 21)
    val cv = crc.getValue.toInt
    batch(17) = (cv >>> 24).toByte; batch(18) = (cv >>> 16).toByte
    batch(19) = (cv >>> 8).toByte; batch(20) = cv.toByte
    val e = intercept[java.io.IOException] {
      KafkaWire.decodeRecordSet(batch)
    }
    assert(e.getMessage.contains("compressed"), e.getMessage)
  }

  test("control batches (transaction markers) are skipped, not data rows") {
    val batch = KafkaWire.encodeBatch(0L, 1L, Seq((None, "x".getBytes)))
    batch(22) = (batch(22) | 0x20).toByte // attributes bit 5: control
    val crc = new java.util.zip.CRC32C
    crc.update(batch, 21, batch.length - 21)
    val cv = crc.getValue.toInt
    batch(17) = (cv >>> 24).toByte; batch(18) = (cv >>> 16).toByte
    batch(19) = (cv >>> 8).toByte; batch(20) = cv.toByte
    val decoded = KafkaWire.decodeRecordSet(batch)
    assert(decoded.records.isEmpty)
    // ...but the marker's offset span still advances the end position,
    // so a reader can step past a trailing COMMIT marker
    assert(decoded.endOffset == 1L)
  }

  test("a vanished offset span fails by default; failOnDataLoss=false skips") {
    // plan a range whose records never existed (the retention/unclean-
    // election shape): hw=0 while the checkpointed range says [0, 5)
    val s2 = new KafkaBrokerStub("gone", 1)
    val p2 = s2.start()
    try {
      import graft.sources.kafka._
      def reader(conf: Map[String, String]) = new KafkaPartitionReader(
        KafkaRange(KafkaSourceOptions(conf +
          ("bootstrap" -> s"127.0.0.1:$p2") + ("topic" -> "gone")),
          0, 0L, 5L))
      val strict = reader(Map.empty)
      val e = intercept[java.io.IOException] { strict.next() }
      assert(e.getMessage.contains("failOnDataLoss"), e.getMessage)
      strict.close()
      val lax = reader(Map("failOnDataLoss" -> "false"))
      assert(!lax.next()) // skips the lost span cleanly
      lax.close()
    } finally s2.stop()
  }

  test("a trailing transaction marker is stepped over, not data loss") {
    // transactional producers leave a COMMIT control batch after the
    // last record, so the high watermark (and the planned range end)
    // sits one past the last DATA offset — the read must consume
    // records 0..4 and step over the marker at 5, not die at it
    val s2 = new KafkaBrokerStub("txn", 1)
    val p2 = s2.start()
    try {
      (0 until 5).foreach(i => s2.produce(0, None, s"v$i"))
      s2.trailingControl = Set(0)
      val df = spark.read.format("graft.sources.kafka.KafkaDataSource")
        .option("bootstrap", s"127.0.0.1:$p2").option("topic", "txn")
        .load()
      val vals = df.selectExpr("CAST(value AS STRING)")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(vals == (0 until 5).map(i => s"v$i"), vals)
    } finally s2.stop()
  }

  test("a transient empty fetch below the high watermark is retried, not data loss") {
    val s2 = new KafkaBrokerStub("blip", 1)
    val p2 = s2.start()
    try {
      (0 until 5).foreach(i => s2.produce(0, None, s"v$i"))
      s2.emptyFetchesRemaining = 2 // two hiccups, then normal service
      import graft.sources.kafka._
      // STRICT mode: the records exist on the broker, so a transient
      // empty response must never surface as a data-loss failure —
      // the reader retries (with a growing fetch size) and completes
      val reader = new KafkaPartitionReader(
        KafkaRange(KafkaSourceOptions(Map(
          "bootstrap" -> s"127.0.0.1:$p2", "topic" -> "blip")),
          0, 0L, 5L))
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      while (reader.next())
        got += new String(reader.get().getBinary(1), "UTF-8")
      reader.close()
      assert(got.toSeq == (0 until 5).map(i => s"v$i"), got)
      // persistent emptiness (no progress at all) still reports loss
      // rather than spinning forever
      s2.emptyFetchesRemaining = 1000
      val stuck = new KafkaPartitionReader(
        KafkaRange(KafkaSourceOptions(Map(
          "bootstrap" -> s"127.0.0.1:$p2", "topic" -> "blip")),
          0, 0L, 5L))
      val e = intercept[java.io.IOException] { stuck.next() }
      assert(e.getMessage.contains("empty fetches"), e.getMessage)
      stuck.close()
      s2.emptyFetchesRemaining = 0
    } finally s2.stop()
  }

  test("OFFSET_OUT_OF_RANGE honors failOnDataLoss=false by skipping to the log start") {
    val s2 = new KafkaBrokerStub("aged", 1)
    val p2 = s2.start()
    try {
      (0 until 6).foreach(i => s2.produce(0, None, s"v$i"))
      s2.logStart = Map(0 -> 3L) // retention ate offsets 0-2
      import graft.sources.kafka._
      def reader(conf: Map[String, String]) = new KafkaPartitionReader(
        KafkaRange(KafkaSourceOptions(conf +
          ("bootstrap" -> s"127.0.0.1:$p2") + ("topic" -> "aged")),
          0, 0L, 6L)) // checkpointed start predates the log start
      val strict = reader(Map.empty)
      val e = intercept[java.io.IOException] { strict.next() }
      assert(e.getMessage.contains("failOnDataLoss"), e.getMessage)
      strict.close()
      // lax mode: skip the lost span, read what's still there
      val lax = reader(Map("failOnDataLoss" -> "false"))
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      while (lax.next())
        got += new String(lax.get().getBinary(1), "UTF-8")
      lax.close()
      assert(got.toSeq == Seq("v3", "v4", "v5"), got)
    } finally s2.stop()
  }

  test("the wire client lists offsets and fetches typed records") {
    val c = new KafkaWireClient("127.0.0.1", port)
    try {
      val md = c.metadata(Seq("docs"))
      assert(md.topics.head.partitions.map(_.partition).sorted == Seq(0, 1, 2))
      val latest = c.listOffsets("docs", Seq(0, 1, 2), -1L)
      assert(latest.values.sum == 30)
      val r = c.fetch("docs", 0, 0L)
      assert(r.records.size == 10)
      assert(new String(r.records.head.value.get, "UTF-8") == "value-0")
    } finally c.close()
  }

  test("batch reads a topic range with one task per partition") {
    val df = spark.read.format("graft.sources.kafka.KafkaDataSource")
      .options(opts).load()
    assert(df.rdd.getNumPartitions == 3)
    val rows = df.selectExpr("CAST(value AS STRING) AS v", "partition",
      "offset").collect()
    assert(rows.length == 30)
    assert(rows.map(_.getString(0)).toSet ==
      (0 until 30).map(i => s"value-$i").toSet)
    // offsets are per-partition contiguous from 0
    rows.groupBy(_.getInt(1)).values.foreach { g =>
      assert(g.map(_.getLong(2)).sorted.toSeq == (0L until 10L))
    }
  }

  test("kafka intake feeds the streaming curation pipeline end to end") {
    // the integration the source exists for: a document firehose on a
    // topic, parsed and pushed through the SAME quality-gate → exact
    // dedup pipeline the batch corpus uses (DocumentStream.cleaned)
    val s2 = new KafkaBrokerStub("corpus", 2)
    val p2 = s2.start()
    try {
      def doc(id: Long, text: String, lang: String): String =
        s"""{"doc_id":$id,"text":"$text","lang":"$lang",""" +
          s""""source":"s","n_chars":${text.length}}"""
      val long1 = ("alpha " * 30).trim
      val long2 = ("beta " * 30).trim
      val long3 = ("gamma " * 40).trim
      Seq(doc(1, long1, "en"), doc(2, long2, "en"),
        doc(3, long1, "en"), // exact duplicate of doc 1
        doc(4, "short", "de"), // fails the min-chars quality gate
        doc(5, long3, "fr"))
        .zipWithIndex.foreach { case (d, i) => s2.produce(i % 2, None, d) }
      val raw = spark.readStream
        .format("graft.sources.kafka.KafkaDataSource")
        .option("bootstrap", s"127.0.0.1:$p2").option("topic", "corpus")
        .option("startingOffsets", "earliest").load()
      val parsed = raw.select(org.apache.spark.sql.functions.from_json(
          org.apache.spark.sql.functions.col("value").cast("string"),
          graft.streaming.DocumentStream.schema).as("d"))
        .select("d.*")
      val q = graft.streaming.DocumentStream.cleaned(parsed)
        .writeStream.format("memory").queryName("kafka_curated")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val rows = spark.sql(
          "SELECT lang, n_tokens FROM kafka_curated").collect()
        // 5 produced → 3 survive (dup collapsed, short doc gated)
        assert(rows.length == 3, rows.mkString(","))
        assert(rows.map(_.getString(0)).sorted.toSeq == Seq("en", "en", "fr"))
        assert(rows.map(_.getInt(1)).toSet == Set(30, 30, 40).map(identity))
      } finally q.stop()
    } finally s2.stop()
  }

  test("murmur2 matches Kafka's published test vectors") {
    // Apache Kafka UtilsTest.testMurmur2 — byte compatibility with the
    // Java client's default partitioner
    assert(KafkaWire.murmur2("21".getBytes("UTF-8")) == -973932308)
    assert(KafkaWire.murmur2("foobar".getBytes("UTF-8")) == -790332482)
    assert(KafkaWire.murmur2(
      "a-little-bit-long-string".getBytes("UTF-8")) == -985981536)
    assert(KafkaWire.murmur2(Array.emptyByteArray) == 275646681)
  }

  test("the sink publishes batch writes; keyed rows use the stock partitioner") {
    val s2 = new KafkaBrokerStub("out", 3)
    val p2 = s2.start()
    try {
      import spark.implicits._
      val df = (0 until 12).map(i => (s"key-$i", s"payload-$i"))
        .toDF("key", "value")
      df.write.format("graft.sources.kafka.KafkaDataSource")
        .option("bootstrap", s"127.0.0.1:$p2").option("topic", "out")
        .mode("append").save()
      val back = spark.read.format("graft.sources.kafka.KafkaDataSource")
        .option("bootstrap", s"127.0.0.1:$p2").option("topic", "out")
        .load()
        .selectExpr("CAST(key AS STRING) k", "CAST(value AS STRING) v",
          "partition").collect()
      assert(back.length == 12)
      assert(back.map(_.getString(1)).toSet ==
        (0 until 12).map(i => s"payload-$i").toSet)
      // every keyed record sits where Kafka's own partitioner puts it
      back.foreach { r =>
        val expect = (KafkaWire.murmur2(
          r.getString(0).getBytes("UTF-8")) & 0x7fffffff) % 3
        assert(r.getInt(2) == expect, s"${r.getString(0)} on ${r.getInt(2)}")
      }
    } finally s2.stop()
  }

  test("topic-to-topic streaming: source feeds the sink continuously") {
    val dst = new KafkaBrokerStub("curated", 2)
    val pDst = dst.start()
    try {
      val q = spark.readStream.format("graft.sources.kafka.KafkaDataSource")
        .options(opts).option("startingOffsets", "earliest").load()
        .selectExpr("key", "CAST(CONCAT('clean:', CAST(value AS STRING)) AS BINARY) AS value")
        .writeStream.format("graft.sources.kafka.KafkaDataSource")
        .option("bootstrap", s"127.0.0.1:$pDst").option("topic", "curated")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ksink").toString)
        .start()
      try {
        q.processAllAvailable()
        val out = spark.read.format("graft.sources.kafka.KafkaDataSource")
          .option("bootstrap", s"127.0.0.1:$pDst").option("topic", "curated")
          .load().selectExpr("CAST(value AS STRING) v").collect()
          .map(_.getString(0))
        assert(out.length >= 30, s"only ${out.length} forwarded")
        assert(out.forall(_.startsWith("clean:")), out.take(3).mkString(","))
      } finally q.stop()
    } finally dst.stop()
  }

  test("micro-batch streaming resumes from checkpointed offsets") {
    val ckpt = java.nio.file.Files.createTempDirectory("kckpt").toString
    val q = spark.readStream.format("graft.sources.kafka.KafkaDataSource")
      .options(opts).option("startingOffsets", "earliest").load()
      .selectExpr("CAST(value AS STRING) AS v")
      .writeStream.format("memory").queryName("kafka_sink")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      val first = spark.sql("SELECT v FROM kafka_sink").collect()
        .map(_.getString(0)).toSet
      assert(first == (0 until 30).map(i => s"value-$i").toSet)
      // produce between micro-batches: only the NEW records arrive
      (30 until 36).foreach(i => stub.produce(i % 3, None, s"value-$i"))
      q.processAllAvailable()
      val all = spark.sql("SELECT v FROM kafka_sink").collect()
        .map(_.getString(0))
      assert(all.length == 36, s"duplicates or losses: ${all.length}")
      assert(all.toSet == (0 until 36).map(i => s"value-$i").toSet)
    } finally q.stop()
  }

  test("kafka CDC stream upserts into an iceberg table, latest-per-key") {
    // the full lakehouse CDC loop over hand-built wire protocols: a
    // keyed Kafka changelog streams through the micro-batch reader,
    // each batch reduces to last-write-per-key BY OFFSET (intra-batch
    // order is only defined by the log), and the iceberg upsert
    // committer lands it as equality-delete + data snapshots — the
    // table always reads latest-per-key, across batches
    import org.apache.spark.sql.functions.{col, expr, from_json}
    val s2 = new KafkaBrokerStub("cdc", 1)
    val p2 = s2.start()
    val tableDir = java.nio.file.Files
      .createTempDirectory("kafka-cdc-wh").resolve("state")
    try {
      Seq(("a", 1L), ("b", 1L), ("b", 2L), ("c", 2L), ("a", 3L))
        .foreach { case (k, v) =>
          s2.produce(0, Some(k), s"""{"k":"$k","v":$v}""")
        }
      var now = 0L
      val committer = graft.streaming.IcebergSink.upsertCommitter(
        graft.sources.iceberg.IcebergCommit.local(tableDir), keyCols = Seq("k"),
        clock = () => { now += 1000; now })
      val parsed = spark.readStream
        .format("graft.sources.kafka.KafkaDataSource")
        .option("bootstrap", s"127.0.0.1:$p2").option("topic", "cdc")
        .option("startingOffsets", "earliest").load()
        .select(from_json(col("value").cast("string"),
          org.apache.spark.sql.types.StructType.fromDDL("k STRING, v BIGINT"))
          .as("d"), col("offset"))
        .select(col("d.k").as("k"), col("d.v").as("v"), col("offset"))
      val q = parsed.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val latest = batch.groupBy(col("k"))
            .agg(expr("max_by(v, offset)").as("v"))
          committer(latest, id)
        }
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("kafka-cdc-ckpt").toString)
        .start()
      try {
        q.processAllAvailable()
        // a second changelog slice lands as the next micro-batch
        s2.produce(0, Some("c"), """{"k":"c","v":9}""")
        s2.produce(0, Some("d"), """{"k":"d","v":1}""")
        q.processAllAvailable()
      } finally q.stop()
      val state = graft.sources.iceberg.IcebergRest
        .readLocal(spark, tableDir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(state == Map("a" -> 3L, "b" -> 2L, "c" -> 9L, "d" -> 1L),
        state.toString)
    } finally s2.stop()
  }
}
