package graft.streaming

import java.nio.file.{Files, Path => JPath}

import org.apache.spark.sql.DataFrame

import graft.sources.iceberg.{IcebergCommit, IcebergLocal, IcebergMaintenance}

/** Streaming sink committing each micro-batch as an append-only Iceberg
  * snapshot through an [[IcebergCommit.Target]]:
  * `writeStream.foreachBatch(IcebergSink.committer(IcebergCommit.local(dir)))`.
  * Composes the round's pieces into the standard lakehouse ingest
  * shape — a continuous feed lands as a queryable snapshot history,
  * readable (with time travel) by [[graft.sources.iceberg.IcebergRest]]
  * or any catalog client, while the stream is still running.
  *
  * Every batch commit is a compare-and-swap on the table's head that a
  * lost race retries on the new head, so SEVERAL independent streaming
  * jobs can append to one table — local or catalog-served — and no
  * writer overwrites another's snapshot. An absent table is created by
  * the first batch (through the catalog's create endpoint for a REST
  * target; a racing job's create winning resolves like any lost CAS).
  *
  * Exactly-once per micro-batch: Structured Streaming re-runs a batchId
  * after a failure, so each commit is tagged `batch-<id>` and a batch
  * whose tag already exists in the table's refs is skipped — the replay
  * becomes a no-op instead of a duplicate snapshot.
  *
  * Scale notes for an unbounded stream: the distributed work is exactly
  * the batch's parquet write — the plan executes ONCE (no isEmpty/count
  * pre-pass; emptiness is decided from what was written). Row counts
  * come from the parquet footers, read driver-side — zero Spark jobs.
  * Commit-side growth is bounded: manifest tails compact once they
  * exceed [[IcebergLocal.MergeManifestsAbove]], and `retainLast` caps
  * the snapshot history (per-commit metadata rewrite AND
  * metadata-directory size stay O(retainLast) instead of growing with
  * every batch — Iceberg's expire-snapshots maintenance, fused into the
  * commit).
  */
object IcebergSink {

  /** A `foreachBatch` function writing every micro-batch to
    * `<tableDir>/data/<tag>/` and committing it as a snapshot tagged
    * `<tag>` = `batch-<id>`. `clock` supplies commit timestamps
    * (injectable for deterministic histories in tests). `retainLast`
    * bounds the snapshot history for unbounded streams; note a replayed
    * batchId older than the retained window re-commits (its tag expired
    * with its snapshot), so pick it well above the stream's maximum
    * replay depth — Spark replays only the last unacknowledged batch,
    * so anything ≥ 2 is safe from duplicates in practice. */
  def committer(table: IcebergCommit.Target,
      clock: () => Long = () => System.currentTimeMillis(),
      retainLast: Option[Int] = None,
      /** partition every batch under this spec
        * ([[graft.sources.iceberg.IcebergPartitioned]] layout: tuples +
        * column bounds in the manifests, the spec in the metadata) —
        * the streamed table then prunes like a batch-written one. */
      partitionSpec: Option[Seq[graft.sources.iceberg.PartitionField]] = None,
      /** prefixes the tag (`<streamId>-batch-<id>`) to tell CONCURRENT
        * writers' batches apart: batch ids are per-query, so two jobs
        * sharing a table without one would collide on `batch-0` and
        * silently skip each other's batches. Use a stable per-query id
        * (e.g. derived from the checkpoint location). */
      streamId: Option[String] = None)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    val tag = (streamId.toSeq :+ s"batch-$batchId").mkString("-")
    if (!table.metadata().exists(_.refs.contains(tag))) {
      val dataDir = table.tableDir.resolve("data").resolve(tag)
      // stamp parquet field ids (what real Iceberg writers always do) so
      // the table is rename-evolvable via field-id reads from birth
      val stamped = IcebergLocal.withFieldIds(batch)
      val files = writeBatch(stamped, dataDir, partitionSpec)
        .filter(_.recordCount > 0)
      if (files.nonEmpty) {
        table.append(files, clock(), Some(tag), retainLast,
          schema = Some(stamped.schema), partitionSpec = partitionSpec)
        ()
      } else deleteRecursively(dataDir) // empty batch: nothing to commit
    }
  }

  /** Write `stamped` under `dataDir` (partitioned by `spec` when set)
    * and list the written files with their footer row counts. */
  private def writeBatch(stamped: DataFrame, dataDir: JPath,
      spec: Option[Seq[graft.sources.iceberg.PartitionField]])
      : Seq[IcebergLocal.DataFileInfo] = spec match {
    case Some(sp) =>
      graft.sources.iceberg.IcebergPartitioned.writeFiles(stamped, dataDir, sp)
    case None =>
      stamped.write.mode("overwrite").parquet(dataDir.toString)
      IcebergMaintenance.parquetFileInfos(dataDir)
  }

  /** A `foreachBatch` function committing every micro-batch as a CDC
    * UPSERT on `keyCols` — the streaming MERGE shape: each batch lands
    * as TWO snapshots, first an equality-delete commit on the batch's
    * distinct keys (retiring any prior version of those rows — v2
    * equality deletes apply to data at STRICTLY lower sequence numbers,
    * so the batch's own rows are untouched), then the data commit. The
    * resulting table always reads as "latest row per key", with the
    * full upsert history time-travelable, through the standard MoR read
    * path — and [[graft.sources.iceberg.IcebergMaintenance.compact]]
    * periodically materializes the deletes so read cost stays flat.
    *
    * Exactly-once under batch replay: the data commit's `batch-<id>`
    * tag is checked first (tag present → whole batch is a no-op); a
    * crash between the delete and data commits leaves `batch-<id>-del`
    * tagged, and the replay skips straight to the data commit —
    * re-deleting keys that have no rows yet would also be harmless, but
    * re-committing the delete snapshot would not be idempotent.
    *
    * Rows within one batch must be unique per key (dedupe upstream with
    * `dropDuplicates(keyCols)` or a `Last` aggregate): the intra-batch
    * order of a DataFrame is undefined, so "last write wins" inside a
    * single batch is not decidable here.
    *
    * Scale notes: the delete relation is the batch's key columns only
    * (narrow), written once; reads broadcast it. The distributed work
    * per batch is exactly two parquet writes of batch-sized data; row
    * counts come from footers, zero extra Spark jobs. */
  def upsertCommitter(table: IcebergCommit.Target, keyCols: Seq[String],
      clock: () => Long = () => System.currentTimeMillis(),
      retainLast: Option[Int] = None,
      /** when set, every batch's DATA commit lands Hive-partitioned
        * under this spec (tuples + bounds in the manifests, so pruned
        * reads skip partitions the stream never touched); the
        * equality-delete commits stay GLOBAL (spec-legal: an
        * unpartitioned delete file applies to all partitions), which
        * keeps the delete relation one narrow file per batch instead
        * of one per partition. */
      partitionSpec: Option[Seq[graft.sources.iceberg.PartitionField]] = None)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    require(keyCols.nonEmpty, "upsertCommitter needs at least one key column")
    val tag = s"batch-$batchId"
    val meta = table.metadata()
    if (!meta.exists(_.refs.contains(tag))) {
      // spec field ids are depth-first from 1 over the committed schema
      // (a nested column consumes ids before the next top-level one), so
      // key ids must come from the SAME walk the schema writer uses —
      // "index + 1" silently anti-joins on the wrong column once any
      // struct/array/map column precedes a key column
      val topIds = IcebergLocal.topLevelFieldIds(batch.schema)
      val keyIds = keyCols.map(c => topIds.getOrElse(c,
        throw new IllegalArgumentException(
          s"key column '$c' absent from batch schema ${batch.schema.simpleString}")))
      val delTag = s"$tag-del"
      val delDone = meta.exists(_.refs.contains(delTag))
      val dataDir = table.tableDir.resolve("data").resolve(tag)
      // field ids stamped: the upsert table is rename-evolvable
      val stamped = IcebergLocal.withFieldIds(batch)
      val files = writeBatch(stamped, dataDir, partitionSpec)
      if (files.exists(_.recordCount > 0)) {
        // delete-before-data, skipped for the table's first commit
        // (nothing to retire) or when a replay already committed it
        if (meta.isDefined && !delDone) {
          val delDir = table.tableDir.resolve("data").resolve(delTag)
          batch.selectExpr(keyCols: _*).distinct()
            .write.mode("overwrite").parquet(delDir.toString)
          val delFiles = IcebergMaintenance
            .parquetFileInfos(delDir, content = 2, equalityIds = keyIds)
            .filter(_.recordCount > 0)
          if (delFiles.nonEmpty)
            table.append(delFiles, clock(), Some(delTag), retainLast)
        }
        table.append(files.filter(_.recordCount > 0), clock(), Some(tag),
          retainLast, schema = Some(stamped.schema),
          partitionSpec = partitionSpec)
        ()
      } else deleteRecursively(dataDir) // empty batch: nothing to commit
    }
  }

  private def deleteRecursively(dir: JPath): Unit = {
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.sorted(java.util.Comparator.reverseOrder[JPath]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      } finally s.close()
    }
  }
}
