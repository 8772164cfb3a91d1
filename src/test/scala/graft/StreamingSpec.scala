package graft

import graft.streaming.EventStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming extension: drive the event stream synchronously with a memory
  * sink and check the windowed aggregate matches its batch twin. */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  test("windowed counts match the batch computation") {
    val events = EventStream.readEvents(spark, sf)
    val q = EventStream.windowedCounts(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("win_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      // append mode only emits closed windows (watermark passed); with a
      // bounded file the final watermark closes all but the tail windows —
      // compare against the batch result restricted to emitted windows
      val streamed = spark.table("win_out")
        .select(col("window_start"), col("event_type"), col("n"))
      val batch = Tables(spark, sf).events
        .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val joined = streamed.alias("s").join(batch.alias("b"),
        Seq("window_start", "event_type"))
      assert(streamed.count() > 0, "no windows emitted")
      assert(joined.filter(col("s.n") =!= col("b.n")).count() == 0,
        "streamed window counts diverge from batch")
    } finally q.stop()
  }

  test("streaming dedup drops duplicates within the watermark horizon") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(mins: Int) = new java.sql.Timestamp(base.getTime + mins * 60000L)
    in.addData((1L, at(0)), (1L, at(1)), (2L, at(2)), (2L, at(2)), (3L, at(5)))
    val deduped = EventStream.dedupedEvents(
      in.toDF().toDF("event_id", "ts"), horizon = "1 hour")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ckpt3").toString)
      .start()
    try {
      q.processAllAvailable()
      // a later duplicate of id=1 still inside the horizon is dropped too
      in.addData((1L, at(10)), (4L, at(11)))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.sameElements(Array(1L, 2L, 3L, 4L)), ids.mkString(","))
    } finally q.stop()
  }

  test("stream-stream click attribution matches the batch join") {
    val events = EventStream.readEvents(spark, sf)
    val q = EventStream.clickAttribution(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ckpt5").toString)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("attr_out")
        .select(col("click_id"), col("purchase_id"))
      val ev = Tables(spark, sf).events
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("purchase_ts"))
      val batch = c.join(p,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("click_id"), col("purchase_id"))
      assert(streamed.count() > 0, "no attributed pairs emitted")
      assert(streamed.count() == batch.count(),
        s"streamed ${streamed.count()} pairs vs batch ${batch.count()}")
      assert(streamed.except(batch).count() == 0 &&
        batch.except(streamed).count() == 0,
        "stream-stream join diverges from batch twin")
    } finally q.stop()
  }

  test("streaming HLL registers equal the batch sketch, register for register") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    // two increments with overlapping users: the second micro-batch must
    // MERGE into existing register state (max is associative and
    // duplicate-insensitive), not recount
    val batch1 = (1L to 400L).map(u => ("click", u)) ++
      (1L to 150L).map(u => ("view", u * 3))
    val batch2 = (200L to 700L).map(u => ("click", u)) ++
      (1L to 150L).map(u => ("view", u * 3)) // exact duplicates: no-ops
    in.addData(batch1: _*)
    val regs = EventStream.hllRegisters(
      in.toDF().toDF("event_type", "user_id"))
    val q = regs.writeStream.outputMode("complete")
      .format("memory").queryName("hll_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ckpt-hll").toString)
      .start()
    try {
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("hll_out")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      val batchTwin = graft.functions.HllSketch.registers(
        (batch1 ++ batch2).toDF("event_type", "user_id"),
        "user_id", Seq("event_type"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      assert(streamed == batchTwin,
        s"streamed registers diverge: ${streamed.diff(batchTwin)} / ${batchTwin.diff(streamed)}")
      // and the state is bounded by construction: ≤ m rows per type
      val perType = spark.table("hll_out").groupBy("event_type").count()
        .collect().map(_.getLong(1))
      assert(perType.forall(_ <= graft.functions.HllSketch.M))
    } finally q.stop()
  }

  test("stream-static join enriches without streaming state") {
    val events = EventStream.readEvents(spark, sf)
    val dim = Tables(spark, sf).customer.select(
      col("c_custkey"), col("c_mktsegment"))
    val q = EventStream.enriched(events, dim, "user_id", "c_custkey")
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ckpt4").toString)
      .start()
    try {
      q.processAllAvailable()
      val out = spark.table("enrich_out")
      assert(out.count() == Tables(spark, sf).events.count(),
        "left enrichment must preserve every event")
      assert(out.filter(col("c_mktsegment").isNotNull).count() > 0)
    } finally q.stop()
  }

  test("native session windows match batch gap-detection session counts") {
    val events = EventStream.readEvents(spark, sf)
    val q = EventStream.sessionWindowCounts(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("sesswin_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ckpt5").toString)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sesswin_out")
      assert(streamed.count() > 0, "no sessions emitted")
      // batch twin: q_events_sessions gap detection (30-minute gap) —
      // sessions CLOSED by the final watermark must agree per user. A
      // bounded file source leaves the tail session of each user open, so
      // compare on the closed subset only.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val batchSessions = Tables(spark, sf).events
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull, 1)
            .when(col("ts").cast("long") - col("prev_ts").cast("long") > 30 * 60, 1)
            .otherwise(0))
        .withColumn("session_id",
          sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts")).as("session_start"), count(lit(1)).as("n_events"))
      val joined = streamed.alias("s").join(
        batchSessions.alias("b"), Seq("user_id", "session_start"))
      assert(joined.count() == streamed.count(),
        "every emitted session must exist in the batch computation")
      assert(joined.filter(col("s.n_events") =!= col("b.n_events")).count() == 0,
        "session event counts diverge from batch")
    } finally q.stop()
  }

  test("stateful sessionization emits per-user updates") {
    val events = EventStream.readEvents(spark, sf)
    val sessions = EventStream.sessionize(spark, events)
    val q = sessions.writeStream.outputMode("update")
      .format("memory").queryName("sess_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ckpt2").toString)
      .start()
    try {
      q.processAllAvailable()
      val out = spark.table("sess_out")
      val users = Tables(spark, sf).events
        .select(countDistinct(col("user_id"))).head().getLong(0)
      assert(out.select("userId").distinct().count() == users)
      assert(out.filter(col("nEvents") <= 0).count() == 0)
    } finally q.stop()
  }

  test("streaming iceberg sink commits one queryable snapshot per batch, " +
      "replays are no-ops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.sources.iceberg._
    import graft.sources.SnapshotLog.ByVersion
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val warehouse = java.nio.file.Files.createTempDirectory("ice-sink-wh")
    val tableDir = warehouse.resolve("feed")
    var now = 1000L
    val committer = graft.streaming.IcebergSink.committer(
      IcebergCommit.local(tableDir), clock = () => { now += 1000; now })
    val in = MemoryStream[Long]
    val q = in.toDF().toDF("v").writeStream
      .foreachBatch(committer)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ckpt-ice").toString)
      .start()
    try {
      in.addData(1L, 2L, 3L); q.processAllAvailable()
      in.addData(4L, 5L); q.processAllAvailable()
    } finally q.stop()
    val server = new IcebergLocal.CatalogServer(warehouse, "stream")
    val port = server.start()
    try {
      val cat = new IcebergRestCatalog(s"http://127.0.0.1:$port")
      val all = IcebergRest.read(spark, cat, "stream", "feed")
      assert(all.select("v").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L, 4L, 5L))
      // time travel to the first micro-batch's snapshot via its tag
      val first = IcebergRest.read(spark, cat, "stream", "feed",
        Some(ByVersion("batch-0")))
      assert(first.select("v").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L))
      // a replayed batchId (failure recovery) must not duplicate rows
      committer(Seq(1L, 2L, 3L).toDF("v"), 0L)
      val after = IcebergRest.read(spark, cat, "stream", "feed")
      assert(after.count() == 5, "replayed batch committed a duplicate")
    } finally server.stop()
  }

  test("two streaming jobs share one table through REST CAS commits") {
    // the multi-writer streaming story: two INDEPENDENT foreachBatch
    // committers append to the same table through the catalog's
    // compare-and-swap endpoint — interleaved commits all land, replays
    // stay no-ops per stream, and nothing ever overwrites the other
    // job's snapshot (the direct-metadata committer can't promise that)
    import spark.implicits._
    import graft.sources.iceberg._
    val root = java.nio.file.Files.createTempDirectory("ice-two-streams")
    val dir = root.resolve("t")
    val server = new IcebergLocal.CatalogServer(root, "lake")
    val port = server.start()
    try {
      val cat = new IcebergRestCatalog(s"http://127.0.0.1:$port")
      var now = 0L
      val clock = () => { now += 1000; now }
      val table = IcebergCommit.rest(cat, "lake", "t", dir)
      val jobA = graft.streaming.IcebergSink.committer(
        table, clock, streamId = Some("jobA"))
      val jobB = graft.streaming.IcebergSink.committer(
        table, clock, streamId = Some("jobB"))
      jobA(Seq(("a", 1L)).toDF("src", "v"), 0L) // bootstrap (local)
      jobB(Seq(("b", 1L)).toDF("src", "v"), 0L) // first REST commit
      jobA(Seq(("a", 2L)).toDF("src", "v"), 1L)
      jobB(Seq(("b", 2L)).toDF("src", "v"), 1L)
      def state() = IcebergRest.read(spark, cat, "lake", "t")
        .as[(String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
      assert(state() == Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L)))
      // replays from EITHER job are no-ops, even though the other job's
      // commits moved the head in between
      jobA(Seq(("a", 1L)).toDF("src", "v"), 0L)
      jobB(Seq(("b", 2L)).toDF("src", "v"), 1L)
      assert(state() == Seq(("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L)))
      val meta = cat.loadTable("lake", "t")
      assert(meta.snapshots.size == 4, "replay duplicated a snapshot")
      assert(meta.refs.keySet.filter(_.contains("batch")) ==
        Set("jobA-batch-0", "jobA-batch-1", "jobB-batch-0", "jobB-batch-1"))
    } finally {
      server.stop()
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
    }
  }

  test("ref names survive the REST commit body: quotes and backslashes") {
    // the stream id lands in the tag, and the tag in the commit body; a
    // body built as a JSON tree keeps `"` legal and `\t` two characters,
    // so the replayed batch finds its tag and commits nothing
    import spark.implicits._
    import graft.sources.iceberg._
    val root = java.nio.file.Files.createTempDirectory("ice-refnames")
    val dir = root.resolve("t")
    val server = new IcebergLocal.CatalogServer(root, "lake")
    val port = server.start()
    try {
      val cat = new IcebergRestCatalog(s"http://127.0.0.1:$port")
      val table = IcebergCommit.rest(cat, "lake", "t", dir)
      val ids = Seq("job\"q", "job\\tab")
      ids.zipWithIndex.foreach { case (id, i) =>
        val sink = graft.streaming.IcebergSink.committer(table,
          () => 1000L * (i + 1), streamId = Some(id))
        sink(Seq(("a", i.toLong)).toDF("src", "v"), 0L)
        sink(Seq(("a", i.toLong)).toDF("src", "v"), 0L) // the replay
      }
      val meta = cat.loadTable("lake", "t")
      assert(meta.refs.keySet.filter(_.contains("batch")) ==
        ids.map(id => s"$id-batch-0").toSet, meta.refs.keySet)
      assert(meta.snapshots.size == 2, "the replay committed its batch twice")
    } finally {
      server.stop()
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
    }
  }

  test("partitioned streaming commits prune like batch-written tables") {
    // the committer's partitionSpec lands every micro-batch in the
    // IcebergPartitioned layout (tuples + bounds in manifests, spec in
    // metadata), so the STREAMED table serves selective queries by
    // opening only the matching partitions' files — across batches
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.sources.iceberg._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tableDir = java.nio.file.Files
      .createTempDirectory("ice-part-stream").resolve("t")
    var now = 0L
    val committer = graft.streaming.IcebergSink.committer(
      IcebergCommit.local(tableDir), clock = () => { now += 1000; now },
      partitionSpec = Some(Seq(PartitionField("cat", "cat", "identity"))))
    val in = MemoryStream[(String, Long)]
    val q = in.toDF().toDF("cat", "v").writeStream
      .foreachBatch(committer)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ckpt-part").toString)
      .start()
    try {
      in.addData(("a", 1L), ("b", 2L)); q.processAllAvailable()
      in.addData(("a", 3L), ("c", 4L)); q.processAllAvailable()
    } finally q.stop()
    // the table carries the spec; a category filter prunes to that
    // category's files (one per batch it appeared in)
    assert(IcebergLocal.currentMetadata(tableDir).get.partitionSpecs(0)
      .head.transform == "identity")
    val a = IcebergRest.readLocal(spark, tableDir,
      options = Map("filter" -> "cat = 'a'"))
    assert(a.select("v").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    val all = IcebergRest.readLocal(spark, tableDir)
    assert(a.inputFiles.length < all.inputFiles.length,
      s"partitioned stream did not prune: ${a.inputFiles.length} of ${all.inputFiles.length}")
    // replayed batch stays a no-op under the partitioned path too
    committer(Seq(("a", 3L), ("c", 4L)).toDF("cat", "v"), 1L)
    assert(IcebergRest.readLocal(spark, tableDir).count() == 4)
  }

  test("upsert contract: duplicate keys within one batch BOTH survive") {
    // the documented edge: the equality-delete commit retires only
    // PRIOR versions (strict sequence gate), so two same-key rows in
    // one batch both land — which is why callers must reduce to
    // last-write-per-key upstream (the Kafka CDC spec does it by log
    // offset). This pins the contract so a refactor that silently
    // changes it fails here, not in production.
    import spark.implicits._
    val tableDir = java.nio.file.Files
      .createTempDirectory("ice-upsert-dup").resolve("t")
    var now = 0L
    val committer = graft.streaming.IcebergSink.upsertCommitter(
      graft.sources.iceberg.IcebergCommit.local(tableDir), keyCols = Seq("k"),
      clock = () => { now += 1000; now })
    committer(Seq(("a", 1L)).toDF("k", "v"), 0L)
    committer(Seq(("a", 2L), ("a", 3L)).toDF("k", "v"), 1L)
    val rows = graft.sources.iceberg.IcebergRest.readLocal(spark, tableDir)
      .as[(String, Long)].collect().sortBy(_._2).toSeq
    // batch 0's ("a",1) retired; batch 1's two rows both survive
    assert(rows == Seq(("a", 2L), ("a", 3L)), rows.toString)
  }

  test("upsert replay after a crash between delete and data commits is exactly-once") {
    // the one replay window the full-batch no-op test can't reach: the
    // batch's equality-delete snapshot committed (tag batch-<id>-del),
    // then the process died before the data commit. The replay must
    // skip straight to the data commit — re-committing the delete would
    // not be idempotent (a second delete snapshot at a higher sequence
    // could retire the replayed batch's own rows after compaction
    // reorders file sequences).
    import spark.implicits._
    import graft.sources.iceberg._
    val tableDir = java.nio.file.Files
      .createTempDirectory("ice-upsert-crash").resolve("t")
    var now = 0L
    val clock = () => { now += 1000; now }
    val committer = graft.streaming.IcebergSink.upsertCommitter(
      IcebergCommit.local(tableDir), keyCols = Seq("k"), clock = clock)
    committer(Seq(("a", 1L), ("b", 1L)).toDF("k", "v"), 0L)
    // simulate the crash window: batch 1's DELETE commit landed, the
    // data commit did not (the exact artifacts upsertCommitter writes)
    val delDir = tableDir.resolve("data").resolve("batch-1-del")
    Seq("a").toDF("k").coalesce(1).write.mode("overwrite")
      .parquet(delDir.toString)
    IcebergCommit.local(tableDir).append(
      IcebergMaintenance.parquetFileInfos(delDir, content = 2,
        equalityIds = Seq(1)), clock(), Some("batch-1-del"))
    val snapsBefore = IcebergLocal.currentMetadata(tableDir).get.snapshots.size
    // replay of batch 1: exactly ONE new snapshot (the data commit)
    committer(Seq(("a", 2L)).toDF("k", "v"), 1L)
    val meta = IcebergLocal.currentMetadata(tableDir).get
    assert(meta.snapshots.size == snapsBefore + 1,
      "replay re-committed the delete snapshot")
    val rows = IcebergRest.readLocal(spark, tableDir)
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(rows == Seq(("a", 2L), ("b", 1L)), rows.toString)
    // a SECOND full replay of the batch is a complete no-op
    committer(Seq(("a", 2L)).toDF("k", "v"), 1L)
    assert(IcebergLocal.currentMetadata(tableDir).get.snapshots.size ==
      snapsBefore + 1)
    assert(IcebergRest.readLocal(spark, tableDir)
      .as[(String, Long)].collect().sortBy(_._1).toSeq == rows)
  }

  test("streaming iceberg UPSERTS read as latest-per-key; compaction keeps them") {
    // the CDC MERGE shape: each micro-batch commits an equality-delete
    // snapshot on its keys (retiring prior versions) then a data
    // snapshot; the table always reads as latest-per-key through the
    // MoR path, history stays time-travelable, replays are no-ops, and
    // a compaction rewrite preserves the current state with zero
    // delete files left to join
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.sources.iceberg._
    import graft.sources.SnapshotLog.ByVersion
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val warehouse = java.nio.file.Files.createTempDirectory("ice-upsert-wh")
    val tableDir = warehouse.resolve("state")
    var now = 1000L
    val clock = () => { now += 1000; now }
    val committer = graft.streaming.IcebergSink.upsertCommitter(
      IcebergCommit.local(tableDir), keyCols = Seq("k"), clock = clock)
    val in = MemoryStream[(String, Long)]
    val q = in.toDF().toDF("k", "v").writeStream
      .foreachBatch(committer)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ckpt-ups").toString)
      .start()
    try {
      in.addData(("a", 1L), ("b", 1L)); q.processAllAvailable()
      in.addData(("b", 2L), ("c", 2L)); q.processAllAvailable() // b updated
      in.addData(("a", 3L)); q.processAllAvailable()            // a updated
    } finally q.stop()
    def state(spec: Option[graft.sources.SnapshotLog.VersionSpec] = None) =
      IcebergRest.readLocal(spark, tableDir, spec)
        .select("k", "v").as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(state() == Seq(("a", 3L), ("b", 2L), ("c", 2L)))
    // time travel: after batch 1's data commit, b was already updated
    assert(state(Some(ByVersion("batch-1"))) ==
      Seq(("a", 1L), ("b", 2L), ("c", 2L)))
    // replayed batch: full no-op (tag present)
    committer(Seq(("a", 3L)).toDF("k", "v"), 2L)
    assert(state() == Seq(("a", 3L), ("b", 2L), ("c", 2L)))
    // compaction materializes the deletes; current state unchanged,
    // the compacted head carries no delete files
    IcebergMaintenance.compact(spark, IcebergCommit.local(tableDir), clock)
    assert(state() == Seq(("a", 3L), ("b", 2L), ("c", 2L)))
    val meta = IcebergLocal.currentMetadata(tableDir).get
    val scan = IcebergManifests.scanFiles(spark,
      IcebergMetadata.select(meta, None).manifestList)
    assert(scan.positionDeletes.isEmpty && scan.equalityDeletes.isEmpty,
      "compacted head still lists delete files")
    // pre-compaction history is still readable (MoR applied as before)
    assert(state(Some(ByVersion("batch-1"))) ==
      Seq(("a", 1L), ("b", 2L), ("c", 2L)))
  }

  test("streaming upserts into a PARTITIONED table: tuples stamped, pruning works") {
    import spark.implicits._
    import graft.sources.iceberg._
    val warehouse = java.nio.file.Files.createTempDirectory("ice-upsert-pt")
    val tableDir = warehouse.resolve("state")
    var now = 1000L
    val clock = () => { now += 1000; now }
    val spec = Seq(PartitionField("dm", "d", "month"))
    val committer = graft.streaming.IcebergSink.upsertCommitter(
      IcebergCommit.local(tableDir), keyCols = Seq("k"), clock = clock,
      partitionSpec = Some(spec))
    def df(rows: (String, String, Long)*) = rows.toDF("k", "ds", "v")
      .select(col("k"), col("ds").cast("date").as("d"), col("v"))
    committer(df(("a", "1995-01-15", 1L), ("b", "1995-02-15", 1L),
      ("c", "1995-03-15", 1L)), 0L)
    committer(df(("b", "1995-02-20", 2L)), 1L) // b updated, same month
    def readAll = IcebergRest.readLocal(spark, tableDir)
    assert(readAll.select("k", "v").as[(String, Long)].collect()
      .sortBy(_._1).toSeq == Seq(("a", 1L), ("b", 2L), ("c", 1L)))
    // data manifests carry partition tuples under the spec...
    val meta = IcebergLocal.currentMetadata(tableDir).get
    assert(meta.partitionSpecs(meta.defaultSpecId) == spec)
    val scan = IcebergManifests.scanFiles(spark,
      IcebergMetadata.select(meta, None).manifestList)
    assert(scan.dataEntries.forall(_.partition.contains("dm")),
      "a streaming data commit lost its partition tuples")
    // ...the GLOBAL equality deletes still retire the old b...
    assert(scan.equalityDeletes.nonEmpty)
    // ...and a one-month pruned read skips the other months' files
    val feb = IcebergRest.readLocal(spark, tableDir, options = Map(
      "filter" -> "d >= date '1995-02-01' AND d < date '1995-03-01'"))
    assert(feb.select("k", "v").as[(String, Long)].collect().toSeq ==
      Seq(("b", 2L)))
    assert(feb.inputFiles.count(!_.contains("-del")) <
      scan.dataFiles.size,
      s"pruning inert: ${feb.inputFiles.length} of ${scan.dataFiles.size}")
    // replay stays a no-op with the partitioned writer too
    committer(df(("b", "1995-02-20", 2L)), 1L)
    assert(IcebergLocal.currentMetadata(tableDir).get.snapshots.size ==
      meta.snapshots.size)
  }

  test("streaming near-dup candidates equal the batch LSH candidate set") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables(spark, sf).documents
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.NearDupStream
      .candidatePairs(in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ckpt-nd").toString)
      .start()
    try {
      // three increments: pairs must form ACROSS micro-batches (a doc
      // arriving in chunk 3 pairing with its chunk-1 twin), proving the
      // bucket state carries over, not just within-batch joins
      docs.grouped((docs.size + 2) / 3).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("neardup_out")
      .as[(Long, Long)].collect().toSet
    // the batch expectation, re-derived from the SAME shared banding
    // definition (the d_minhash_lsh_pairs candidate stage)
    graft.functions.VectorFunctions.register(spark)
    val banded = graft.operators.TextPipeline.minhashBandedFromRaw(
      Tables(spark, sf).documents)
    val capped = graft.util.Buckets.cap(banded, 200, col("band"), col("bucket"))
    val expected = capped
      .select(col("band"), col("bucket"), col("doc_id").as("id_a"))
      .join(capped.select(col("band"), col("bucket"), col("doc_id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
      .as[(Long, Long)].collect().toSet
    assert(streamed.nonEmpty, "no candidate pairs emitted")
    assert(streamed == expected,
      s"stream-only: ${(streamed -- expected).take(5)}; " +
        s"batch-only: ${(expected -- streamed).take(5)}")
  }

  test("streaming document curation matches the batch pipeline") {
    import graft.streaming.DocumentStream
    val docs = DocumentStream.readDocuments(spark, sf)
    val q = DocumentStream.cleaned(docs)
      .writeStream.outputMode("append")
      .format("memory").queryName("docs_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ckpt3").toString)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("docs_out")
        .select(col("content_hash"), col("lang"), col("n_tokens"))
        .collect().map(_.toSeq).toSet
      val batch = Tables(spark, sf).documents
        .filter(col("n_chars") >= 100)
        .withColumn("content_hash", sha2(col("text"), 256))
        .dropDuplicates("content_hash")
        .select(col("content_hash"), col("lang"),
          size(split(trim(col("text")), "\\s+")).as("n_tokens"))
        .collect().map(_.toSeq).toSet
      assert(streamed.nonEmpty)
      assert(streamed == batch, "stream and batch curation diverge")
    } finally q.stop()
  }

  test("streaming count-min sketch equals the batch sketch counter for counter") {
    import graft.streaming.DocumentStream
    graft.functions.VectorFunctions.register(spark)
    val docs = DocumentStream.readDocuments(spark, sf)
    // complete mode: the memory table holds the live 4×1024 sketch
    val q = DocumentStream.cmsCounters(docs)
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-ckpt-cms").toString)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("cms_out")
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      // the batch sketch from the same definition over the static table
      val batch = DocumentStream.cmsCounters(Tables(spark, sf).documents)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed.nonEmpty && streamed.size <= 4096)
      assert(streamed == batch, "stream and batch sketches diverge")
      // heavy hitters READ OFF the streamed sketch equal the registry
      // query's (same estimate, same 0.5% gate) — the sketch is the
      // whole query state, so the streaming path answers the same
      // question with 4096 counters of state
      val total = streamed.values.sum / 4 // each token increments 4 rows
      val words = graft.Tables(spark, sf).documents
        .selectExpr("explode(split(trim(regexp_replace(regexp_replace(" +
          "lower(text), '[^a-z0-9 ]', ''), ' +', ' ')), ' ')) AS w")
        .filter(col("w") =!= "").select(col("w")).distinct()
        .withColumn("r", explode(lit(Array(0, 1, 2, 3))))
        .withColumn("slot",
          expr("graft_fmix63(graft_porthash63(w) ^ CAST(r AS BIGINT)) % 1024"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      val estByWord = words.groupBy(_._1).map { case (w, rs) =>
        w -> rs.map { case (_, rr, slot) => streamed((rr, slot)) }.min
      }
      val heavyFromStream = estByWord.filter(_._2 * 200 >= total).keySet
      val heavyBatch = SparkEntry.queries("t_heavy_hitters_cms")(spark, sf)
        .collect().map(_.getString(0)).toSet
      assert(heavyFromStream == heavyBatch,
        s"stream-derived heavy hitters diverge: $heavyFromStream vs $heavyBatch")
    } finally q.stop()
  }

  test("iceberg changelog stream: exactly-once tail, WAP-invisible, restart-safe") {
    import graft.sources.iceberg._
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("ice-stream").resolve("nation")
    val ckpt = Files.createTempDirectory("ice-stream-ckpt").toString
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    def partFiles(df: org.apache.spark.sql.DataFrame) = {
      val out = Files.createTempDirectory("ice-stream-data")
      val n = df.count()
      df.coalesce(1).write.mode("overwrite").parquet(out.toString)
      Files.list(out).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
        .map(p => IcebergLocal.DataFileInfo(p.toUri.toString, n,
          Files.size(p)))
    }
    def commit(pred: String, ts: Long,
        branch: Option[String] = None): Long =
      IcebergCommit.local(dir).append(partFiles(nation.filter(pred)), ts,
        schema = Some(nation.schema), branch = branch)
    def n(pred: String) = nation.filter(pred).count()
    commit("n_regionkey = 0", 1000L)
    commit("n_regionkey = 1", 2000L)
    // the FILE sink (exactly-once via its own metadata log) rather
    // than the memory sink, which refuses checkpoint recovery — the
    // restart leg below is the point of this test
    val outDir = Files.createTempDirectory("ice-stream-out").toString
    def startStream() =
      spark.readStream.format("graft-iceberg-stream")
        .option("path", dir.toString).load()
        .writeStream.outputMode("append")
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).start()
    def sunk() = spark.read.parquet(outDir).count()
    val q = startStream()
    try {
      // initial catch-up: everything on main, exactly once
      q.processAllAvailable()
      assert(sunk() == n("n_regionkey <= 1"))
      // a new append is admitted incrementally (only the new rows land)
      commit("n_regionkey = 2", 3000L)
      q.processAllAvailable()
      assert(sunk() == n("n_regionkey <= 2"))
      // write-audit-publish: an unpublished BRANCH commit is invisible...
      commit("n_regionkey = 3", 4000L, branch = Some("audit"))
      q.processAllAvailable()
      assert(sunk() == n("n_regionkey <= 2"),
        "unpublished branch commit leaked into the stream")
      // ...until fast-forward publishes it — then admitted exactly once
      IcebergCommit.local(dir).fastForward("audit")
      q.processAllAvailable()
      assert(sunk() == n("n_regionkey <= 3"))
    } finally q.stop()
    // RESTART from the checkpoint: a commit that landed while the
    // stream was down is admitted exactly once — total = all published
    // rows, nothing re-emitted, nothing missed
    commit("n_regionkey = 4", 5000L)
    val q2 = startStream()
    try {
      q2.processAllAvailable()
      assert(sunk() == n("n_regionkey <= 4"),
        "restart re-emitted already-committed rows (or missed the gap)")
      // a DELETE commit in the window fails loudly (changelog rows are
      // ill-defined under row-level deletes) instead of emitting junk
      val eqOut = Files.createTempDirectory("ice-stream-del")
      nation.limit(1).select(col("n_name"))
        .coalesce(1).write.mode("overwrite").parquet(eqOut.toString)
      val del = Files.list(eqOut).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      IcebergCommit.local(dir).append(Seq(IcebergLocal.DataFileInfo(
        del.toUri.toString, 1, Files.size(del), content = 2,
        equalityIds = Seq(2))), 6000L)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage.contains("delete file") ||
        Option(e.getCause).exists(_.getMessage.contains("delete file")),
        s"expected the loud delete refusal, got: ${e.getMessage}")
    } finally q2.stop()
  }

  test("iceberg changelog stream tails a CATALOG-served table exactly once") {
    import graft.sources.iceberg._
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("ice-catstream")
    val dir = root.resolve("t")
    val ckpt = Files.createTempDirectory("ice-catstream-ckpt").toString
    val outDir = Files.createTempDirectory("ice-catstream-out").toString
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    def partFiles(df: org.apache.spark.sql.DataFrame) = {
      val out = Files.createTempDirectory("ice-catstream-data")
      val n = df.count()
      df.coalesce(1).write.mode("overwrite").parquet(out.toString)
      Files.list(out).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
        .map(p => IcebergLocal.DataFileInfo(p.toUri.toString, n,
          Files.size(p)))
    }
    def n(pred: String) = nation.filter(pred).count()
    // seed the table locally, then ALL traffic goes through the catalog
    IcebergCommit.local(dir).append(partFiles(nation.filter("n_regionkey = 0")),
      1000L, schema = Some(nation.schema))
    val server = new IcebergLocal.CatalogServer(root, "lake")
    val port = server.start()
    try {
      val cat = new IcebergRestCatalog(s"http://127.0.0.1:$port")
      def startStream() =
        spark.readStream.format("graft-iceberg-stream")
          .option("catalog-url", s"http://127.0.0.1:$port")
          .option("namespace", "lake").option("table", "t").load()
          .writeStream.outputMode("append")
          .format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt).start()
      def sunk() = spark.read.parquet(outDir).count()
      val q = startStream()
      try {
        q.processAllAvailable()
        assert(sunk() == n("n_regionkey = 0"))
        // a catalog commit is admitted incrementally
        IcebergCommit.rest(cat, "lake", "t", dir).append(
          partFiles(nation.filter("n_regionkey = 1")), 2000L)
        q.processAllAvailable()
        assert(sunk() == n("n_regionkey <= 1"))
        // WAP through the protocol: the audit commit stays invisible...
        IcebergCommit.rest(cat, "lake", "t", dir).append(
          partFiles(nation.filter("n_regionkey = 2")), 3000L,
          branch = Some("audit"))
        q.processAllAvailable()
        assert(sunk() == n("n_regionkey <= 1"),
          "unpublished REST branch commit leaked into the stream")
        // ...until the fast-forward publish — then admitted exactly once
        IcebergCommit.rest(cat, "lake", "t", dir).fastForward("audit")
        q.processAllAvailable()
        assert(sunk() == n("n_regionkey <= 2"))
      } finally q.stop()
      // restart from the checkpoint: the gap commit arrives exactly once
      IcebergCommit.rest(cat, "lake", "t", dir).append(
        partFiles(nation.filter("n_regionkey = 3")), 4000L)
      val q2 = startStream()
      try {
        q2.processAllAvailable()
        assert(sunk() == n("n_regionkey <= 3"),
          "restart re-emitted or missed the catalog commit")
      } finally q2.stop()
    } finally server.stop()
  }

  test("iceberg CDC stream (mode=changelog): delete commits arrive as delete rows") {
    import graft.sources.iceberg._
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("ice-cdc").resolve("nation")
    val ckpt = Files.createTempDirectory("ice-cdc-ckpt").toString
    val outDir = Files.createTempDirectory("ice-cdc-out").toString
    val nation = spark.read.parquet(s"$sf/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey")
    def partFiles(df: org.apache.spark.sql.DataFrame) = {
      val out = Files.createTempDirectory("ice-cdc-data")
      val n = df.count()
      df.coalesce(1).write.mode("overwrite").parquet(out.toString)
      Files.list(out).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
        .map(p => IcebergLocal.DataFileInfo(p.toUri.toString, n,
          Files.size(p)))
    }
    IcebergCommit.local(dir).append(partFiles(nation.filter("n_regionkey <= 1")),
      1000L, schema = Some(nation.schema))
    // each trigger materializes its CDC window; a committed batch's
    // window is released, so at most the latest one stays held
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    def heldWindows = spark.sparkContext.getPersistentRDDs.keySet -- preexisting
    val q = spark.readStream.format("graft-iceberg-stream")
      .option("path", dir.toString).option("mode", "changelog").load()
      .writeStream.outputMode("append")
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).start()
    def counts() = spark.read.parquet(outDir)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    try {
      q.processAllAvailable()
      val live = nation.filter("n_regionkey <= 1")
      assert(counts() == Map("insert" -> live.count()), counts())
      // a row-level DELETE commit streams as delete rows — the exact
      // window the append-only mode refuses
      IcebergMaintenance.deleteWhere(spark, IcebergCommit.local(dir),
        "n_nationkey % 2 = 1", () => 2000L)
      q.processAllAvailable()
      val odd = live.filter("n_nationkey % 2 = 1").count()
      assert(counts() == Map("insert" -> live.count(), "delete" -> odd),
        counts())
      // a plain append still streams as inserts
      IcebergCommit.local(dir).append(partFiles(nation.filter("n_regionkey = 2")),
        3000L, schema = Some(nation.schema))
      q.processAllAvailable()
      assert(counts() == Map(
        "insert" -> nation.filter("n_regionkey <= 2").count(),
        "delete" -> odd), counts())
      assert(heldWindows.size <= 1, s"windows held after 3 batches: $heldWindows")
    } finally q.stop()
    assert(heldWindows.isEmpty, s"windows held after stop: $heldWindows")
    // unknown mode refuses at load
    val e = intercept[Exception](spark.readStream
      .format("graft-iceberg-stream").option("path", dir.toString)
      .option("mode", "net").load())
    assert(e.getMessage.contains("'append' or 'changelog'"))
  }

  test("iceberg stream: branch tail and starting floors") {
    import graft.sources.iceberg._
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("ice-branchtail").resolve("nation")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    def partFiles(df: org.apache.spark.sql.DataFrame) = {
      val out = Files.createTempDirectory("ice-bt-data")
      val n = df.count()
      df.coalesce(1).write.mode("overwrite").parquet(out.toString)
      Files.list(out).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
        .map(p => IcebergLocal.DataFileInfo(p.toUri.toString, n,
          Files.size(p)))
    }
    def commit(pred: String, ts: Long, branch: Option[String] = None): Long =
      IcebergCommit.local(dir).append(partFiles(nation.filter(pred)), ts,
        schema = Some(nation.schema), branch = branch)
    def n(pred: String) = nation.filter(pred).count()
    commit("n_regionkey = 0", 1000L)                    // main
    commit("n_regionkey = 1", 2000L, Some("audit"))     // branch
    commit("n_regionkey = 2", 3000L, Some("audit"))     // branch
    // BRANCH tail: the audit consumer sees the staged commits main
    // doesn't — branch lineage includes its fork point (main's s1)
    val outB = Files.createTempDirectory("ice-bt-outb").toString
    val qB = spark.readStream.format("graft-iceberg-stream")
      .option("path", dir.toString).option("branch", "audit").load()
      .writeStream.outputMode("append").format("parquet")
      .option("path", outB)
      .option("checkpointLocation",
        Files.createTempDirectory("ice-bt-ckptb").toString).start()
    try {
      qB.processAllAvailable()
      assert(spark.read.parquet(outB).count() == n("n_regionkey <= 2"),
        "branch tail missed staged commits")
    } finally qB.stop()
    // meanwhile a MAIN tail still sees only the published commit
    val outM = Files.createTempDirectory("ice-bt-outm").toString
    val qM = spark.readStream.format("graft-iceberg-stream")
      .option("path", dir.toString).load()
      .writeStream.outputMode("append").format("parquet")
      .option("path", outM)
      .option("checkpointLocation",
        Files.createTempDirectory("ice-bt-ckptm").toString).start()
    try {
      qM.processAllAvailable()
      assert(spark.read.parquet(outM).count() == n("n_regionkey = 0"),
        "main tail leaked branch commits")
    } finally qM.stop()
    // STARTING FLOOR: a fresh main stream commits more history first
    commit("n_regionkey = 3", 4000L)
    commit("n_regionkey = 4", 5000L)
    // starting-snapshot-id=4: only the 5000 ms commit is admitted
    val outF = Files.createTempDirectory("ice-bt-outf").toString
    val qF = spark.readStream.format("graft-iceberg-stream")
      .option("path", dir.toString)
      .option("starting-snapshot-id", "4").load()
      .writeStream.outputMode("append").format("parquet")
      .option("path", outF)
      .option("checkpointLocation",
        Files.createTempDirectory("ice-bt-ckptf").toString).start()
    try {
      qF.processAllAvailable()
      assert(spark.read.parquet(outF).count() == n("n_regionkey = 4"),
        "starting-snapshot-id floor ignored")
    } finally qF.stop()
    // starting-timestamp resolves the same floor from a commit time
    val outT = Files.createTempDirectory("ice-bt-outt").toString
    val qT = spark.readStream.format("graft-iceberg-stream")
      .option("path", dir.toString)
      .option("starting-timestamp", "4500").load()
      .writeStream.outputMode("append").format("parquet")
      .option("path", outT)
      .option("checkpointLocation",
        Files.createTempDirectory("ice-bt-ckptt").toString).start()
    try {
      qT.processAllAvailable()
      assert(spark.read.parquet(outT).count() == n("n_regionkey = 4"),
        "starting-timestamp floor ignored")
    } finally qT.stop()
    // the two floor options are mutually exclusive — loud at load
    val e = intercept[Exception](spark.readStream
      .format("graft-iceberg-stream").option("path", dir.toString)
      .option("starting-snapshot-id", "4")
      .option("starting-timestamp", "4500").load())
    assert(e.getMessage.contains("mutually exclusive"))
  }

  test("iceberg changelog stream: max-snapshots-per-trigger bounds catch-up batches") {
    import graft.sources.iceberg._
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("ice-cap").resolve("nation")
    val ckpt = Files.createTempDirectory("ice-cap-ckpt").toString
    val outDir = Files.createTempDirectory("ice-cap-out").toString
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    def partFiles(df: org.apache.spark.sql.DataFrame) = {
      val out = Files.createTempDirectory("ice-cap-data")
      val n = df.count()
      df.coalesce(1).write.mode("overwrite").parquet(out.toString)
      Files.list(out).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
        .map(p => IcebergLocal.DataFileInfo(p.toUri.toString, n,
          Files.size(p)))
    }
    // FOUR published commits before the stream ever starts — the
    // "stream starts against existing history" catch-up case
    (0 to 3).foreach(i => IcebergCommit.local(dir).append(
      partFiles(nation.filter(s"n_regionkey = $i")), (i + 1) * 1000L,
      schema = Some(nation.schema)))
    val q = spark.readStream.format("graft-iceberg-stream")
      .option("path", dir.toString)
      .option("max-snapshots-per-trigger", "1").load()
      .writeStream.outputMode("append")
      .format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      // everything arrives (the cap bounds batches, never drops data)...
      assert(spark.read.parquet(outDir).count() ==
        nation.filter("n_regionkey <= 3").count())
      // ...across at least 4 batches: one commit per trigger, so the
      // catch-up was bounded, not one giant scan
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 4,
        s"cap ignored: 4 commits admitted in $batches batch(es)")
    } finally q.stop()
    // a capless bad value refuses loudly
    val e = intercept[Exception](spark.readStream
      .format("graft-iceberg-stream").option("path", dir.toString)
      .option("max-snapshots-per-trigger", "0").load())
    assert(e.getMessage.contains("positive"))
  }
}
