package org.apache.spark.sql.graft

import java.nio.file.{Path => JPath, Paths}

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.sources.iceberg.{IcebergLocal, IcebergRest, IcebergRestCatalog,
  IcebergTableMeta}
import graft.util.Reuse

/** Streaming CHANGELOG source for an Iceberg table — `readStream
  * .format("graft-iceberg-stream")` with either `option("path",
  * tableDir)` (a locally committed table) or `option("catalog-url",
  * …).option("namespace", …).option("table", …)` (a REST-catalog-served
  * table, the same catalog the batch reads speak): each
  * trigger admits the rows APPENDED to the table's published (`main`)
  * lineage since the last committed snapshot, by the same manifest
  * file-set diff as the batch [[graft.sources.iceberg.IcebergRest
  * .readIncremental]] — the "tail the lake table" consumer every
  * curation pipeline schedules, as a real Structured Streaming source
  * with checkpointed exactly-once offsets.
  *
  * Offsets are SNAPSHOT IDS (monotonic under this writer's serial
  * numbering), so Spark's checkpoint replay contract holds: a restarted
  * stream re-plans exactly the (committed, head] window. The plan per
  * trigger reads only the window's added files — a consumer's cost
  * tracks its lag, not the table size, which is the whole point at
  * 100 TB. On a catalog-served table each trigger costs ONE metadata
  * load (`loadTable`) for the offset check; the manifest walk and data
  * scan go straight to shared storage, exactly like batch.
  *
  * Honest refusals, inherited from the batch diff: a window that
  * REWRITES files (compaction/replace — including a rollback followed
  * by new commits) or commits DELETE files (row-level deletes/upserts)
  * fails loudly rather than emitting wrong changelog rows; unpublished
  * branch commits (write-audit-publish) are invisible until
  * fast-forward/cherry-pick moves `main`, at which point their rows are
  * admitted exactly once.
  *
  * Lives in the `org.apache.spark.sql` package tree because the V1
  * streaming `Source` trait and `Dataset.ofRows` are `private[sql]` —
  * the same shim pattern as [[org.apache.spark.sql.GraftPlanBridge]]
  * (and the same package trick Delta Lake's DeltaSource uses for the
  * same API).
  */
final class IcebergChangeSource(spark: SparkSession,
    target: IcebergChangeSource.Target,
    override val schema: StructType,
    /** `max-snapshots-per-trigger`: cap each micro-batch at N commits
      * of the published lineage. A stream catching up on a long outage
      * (or starting against a year of history) planner-bounds its
      * batches instead of planning one giant scan — the same knob as
      * Kafka's maxOffsetsPerTrigger. None = admit to the head. */
    maxSnapshotsPerTrigger: Option[Int] = None,
    /** `mode=changelog`: each trigger emits CDC rows (the table's
      * columns + `_change_type` insert|delete) via the window
      * changelog read — so row-level DELETE/upsert commits stream as
      * first-class changes instead of failing the append-only tail.
      * The default append mode refuses delete windows loudly. */
    changelog: Boolean = false,
    /** `branch`: the ref whose lineage this stream tails (default
      * `main` — the published table). A write-audit-publish consumer
      * can tail the audit branch itself: its commits stream as they
      * land, while a `main` tail admits them only at publication. A
      * ref that doesn't exist yet simply yields no offset (the stream
      * idles until the first branch commit creates it). */
    refName: String = "main",
    /** `starting-snapshot-id` / `starting-timestamp`: the EXCLUSIVE
      * floor a FRESH stream starts after — history at or before the
      * floor is never admitted (Kafka's startingOffsets shape). Only
      * consulted when no checkpoint exists; a restarted stream always
      * resumes from its committed offset. */
    startingSnapshotId: Option[Long] = None) extends Source {

  /** End of the last batch this source PLANNED (getBatch) — the point
    * the next capped window extends from. On restart Spark replays the
    * last checkpointed batch through getBatch BEFORE calling getOffset
    * (the V1 contract Kafka relies on for the same bookkeeping), so
    * this is always restored; when it is None the stream is genuinely
    * fresh and the floor/cap count from `startingSnapshotId` (or the
    * beginning of the lineage). */
  @volatile private var lastPlannedEnd: Option[Long] = None

  /** Materialized CDC windows by end offset, until their batch commits. */
  private val windows = scala.collection.mutable.Map.empty[Long, DataFrame]

  /** The tailed ref's head: `main` falls back to current-snapshot-id;
    * a named branch that doesn't exist yet has no head (stream idles).
    * Never a raw max-snapshot-id — unpublished OTHER-branch commits
    * can exceed this ref's head and must not leak into the stream. */
  private def refHead(m: IcebergTableMeta): Option[Long] =
    m.refs.get(refName).map(_._2).orElse(
      if (refName == "main") m.currentSnapshotId.filter(_ >= 0) else None)

  override def getOffset: Option[Offset] =
    target.meta().flatMap { m =>
      refHead(m).map { h =>
        val floor = lastPlannedEnd.orElse(startingSnapshotId)
        maxSnapshotsPerTrigger match {
          case None => LongOffset(h)
          case Some(n) =>
            // walk the ref's lineage head→past and stop the window n
            // commits above the floor — the capped offset is always a
            // real lineage snapshot, so the manifest diff plans
            // exactly those commits' files
            val byId = m.snapshots.map(s => s.snapshotId -> s).toMap
            val chain = Iterator.iterate(Option(h))(
                _.flatMap(byId.get).flatMap(_.parentId))
              .takeWhile(_.isDefined).flatten.toSeq
            val pending = floor match {
              case Some(last) =>
                val i = chain.indexOf(last)
                if (i >= 0) chain.take(i)
                else {
                  // The committed floor is gone from the walkable
                  // lineage. Distinguish ROLLBACK (ref rewritten past
                  // the committed offset — emitting a capped offset
                  // below it would REPLAY delivered rows; fail loudly,
                  // the same refusal the batch lineage check makes)
                  // from routine snapshot EXPIRY (the whole retained
                  // chain is genuinely pending) with WRITER-INDEPENDENT
                  // signals — real catalogs assign random 64-bit
                  // snapshot ids, so id ordering proves nothing:
                  // 1. the snapshot still EXISTS in table metadata but
                  //    is off this ref's lineage → the ref was moved
                  //    (rollback keeps orphaned snapshots until
                  //    expiry); 2. the snapshot-log still records the
                  //    floor's commit timestamp — if it is >= the
                  //    oldest retained lineage snapshot's, expiry
                  //    (which only removes snapshots OLDER than every
                  //    retained one) cannot explain the disappearance.
                  val stillExists = byId.contains(last)
                  val loggedTs = m.snapshotLog.collectFirst {
                    case (ts, id) if id == last => ts }
                  val oldestRetainedTs = chain.flatMap(byId.get)
                    .map(_.timestampMs).minOption
                  val timestampEvidence = (loggedTs, oldestRetainedTs) match {
                    case (Some(ts), Some(oldest)) => ts >= oldest
                    case _ => false // no counter-evidence → expiry
                  }
                  val rewritten = stillExists || timestampEvidence
                  if (rewritten)
                    throw new IllegalStateException(
                      s"$refName was rewritten below the stream's " +
                        s"committed position $last (head $h): the " +
                        "lineage no longer contains the committed " +
                        "snapshot — reset the consumer to a lineage " +
                        "snapshot")
                  else
                    // floor EXPIRED (gone from metadata entirely, and
                    // no timestamp evidence of a rewrite): the whole
                    // walkable chain is genuinely pending
                    chain
                }
              case None => chain
            }
            val capped =
              if (pending.size <= n) h
              else pending(pending.size - n)
            LongOffset(capped)
        }
      }
    }

  /** LongOffset's json is the plain number; checkpoint replay hands
    * back a SerializedOffset wrapping the same text. STRICT parse: a
    * malformed or negative checkpointed offset must fail loudly — a
    * lenient strip-non-digits would silently turn "-1" into 1 and
    * re-plan the wrong window. */
  private def idOf(o: Offset): Long = {
    val txt = o.json().trim
    val id = try txt.toLong catch {
      case _: NumberFormatException => throw new IllegalStateException(
        s"corrupt Iceberg stream offset '$txt': expected a plain " +
          "non-negative snapshot id — clear the checkpoint or fix it " +
          "by hand, guessing a window here would replay the wrong data")
    }
    if (id < 0) throw new IllegalStateException(
      s"corrupt Iceberg stream offset '$txt': snapshot ids are " +
        "non-negative")
    id
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    // a fresh stream (no checkpointed start) begins after the declared
    // floor; a restarted one always resumes from its committed offset
    val from = start.map(idOf).orElse(startingSnapshotId).getOrElse(0L)
    lastPlannedEnd = Some(idOf(end))
    if (changelog) {
      // the CDC window plan contains stream-side JOINS (deleted rows ⋈
      // their delete files); re-marking every leaf streaming would turn
      // those into stateful stream-stream joins. Instead the bounded
      // window is materialized once and handed to the runner as ONE
      // streaming leaf — the KafkaSource internalCreateDataFrame shape.
      // Held until the batch commits: released on commit(end).
      val mat = Reuse.materialize(target.changes(spark, from, idOf(end)),
        eager = true)
      windows.synchronized {
        windows.put(idOf(end), mat).foreach(Reuse.release)
      }
      spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(
        mat.queryExecution.toRdd, mat.schema, isStreaming = true)
    } else {
      val df = target.incremental(spark, from, idOf(end))
      // V1 source contract: the returned frame must carry a STREAMING
      // leaf; the batch parquet scan (or the empty-window LocalRelation)
      // is re-marked, nothing else about the plan changes
      val plan = df.queryExecution.analyzed.transformUp {
        case lr: LogicalRelation => lr.copy(isStreaming = true)
        case loc: LocalRelation => loc.copy(isStreaming = true)
      }
      classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
    }
  }

  /** Spark has processed every batch up to `end`: the CDC windows
    * materialized for them are dead weight (on a cluster they would
    * otherwise stay persisted for the stream's lifetime). */
  override def commit(end: Offset): Unit = windows.synchronized {
    val done = windows.keys.filter(_ <= idOf(end)).toSeq
    done.foreach(k => windows.remove(k).foreach(Reuse.release))
  }

  override def stop(): Unit = windows.synchronized {
    windows.values.foreach(Reuse.release)
    windows.clear()
  }

  override def toString: String = s"IcebergChangeSource[$target]"
}

object IcebergChangeSource {

  /** Where the stream's table lives — a local directory or a REST
    * catalog. Both answer the two questions the source asks per
    * trigger: "where is `main` now" (one metadata load) and "plan the
    * (from, to] append window" (the shared manifest file-set diff). */
  sealed trait Target {
    def meta(): Option[IcebergTableMeta]
    def incremental(spark: SparkSession, from: Long, to: Long): DataFrame
    /** CDC window: [[IcebergRest.readChanges]] over (from, to]. */
    def changes(spark: SparkSession, from: Long, to: Long): DataFrame
  }

  final case class LocalDir(tableDir: JPath) extends Target {
    override def meta(): Option[IcebergTableMeta] =
      IcebergLocal.currentMetadata(tableDir)
    override def incremental(spark: SparkSession, from: Long,
        to: Long): DataFrame =
      IcebergRest.readIncremental(spark, tableDir, from, Some(to))
    override def changes(spark: SparkSession, from: Long,
        to: Long): DataFrame =
      IcebergRest.readChanges(spark, tableDir, from, Some(to))
    override def toString: String = tableDir.toString
  }

  final case class CatalogTable(catalog: IcebergRestCatalog,
      namespace: String, table: String) extends Target {
    override def meta(): Option[IcebergTableMeta] =
      Some(catalog.loadTable(namespace, table))
    override def incremental(spark: SparkSession, from: Long,
        to: Long): DataFrame =
      IcebergRest.readIncremental(spark, catalog, namespace, table, from,
        Some(to), Map.empty)
    override def changes(spark: SparkSession, from: Long,
        to: Long): DataFrame =
      IcebergRest.readChanges(spark, catalog, namespace, table, from,
        Some(to), Map.empty)
    override def toString: String = s"$namespace.$table"
  }

  /** The stream's schema without scanning data: the table metadata's
    * field-id-annotated Spark schema when every column maps, else the
    * head read's schema (one footer). Loud when the table doesn't
    * exist yet — a streaming source can't invent columns. */
  def tableSchema(spark: SparkSession, target: Target): StructType = {
    val meta = target.meta().getOrElse(
      throw new IllegalArgumentException(
        s"no committed Iceberg table at $target"))
    meta.sparkSchema.getOrElse {
      // fall back to one data-file footer from the head snapshot
      val head = meta.snapshots.maxBy(_.snapshotId)
      val files = graft.sources.iceberg.IcebergManifests
        .scanFiles(spark, head.manifestList).dataFiles.map(_._1)
      require(files.nonEmpty, s"table $target has no data files yet " +
        "and its metadata schema does not map to Spark types")
      spark.read.parquet(files.head).schema
    }
  }

  def tableSchema(spark: SparkSession, tableDir: JPath): StructType =
    tableSchema(spark, LocalDir(tableDir))

  /** The stream's schema for a mode: changelog appends the spec CDC
    * columns (`_change_type`, `_change_ordinal`, `_commit_snapshot_id`). */
  def streamSchema(spark: SparkSession, target: Target,
      changelog: Boolean): StructType = {
    val base = tableSchema(spark, target)
    if (changelog) IcebergRest.changesSchema(base) else base
  }
}

/** `readStream.format("graft-iceberg-stream")` registration. Options:
  * `path` (local table directory), or `catalog-url` + `namespace` +
  * `table` (+ optional `auth-header`/`auth-value` forwarded on every
  * catalog request) for a REST-catalog-served table;
  * `max-snapshots-per-trigger` caps each micro-batch at N published
  * commits (bounded catch-up after an outage or on first start);
  * `mode=changelog` streams CDC rows (+`_change_type`) so row-level
  * delete/upsert commits are admitted instead of refused;
  * `branch` tails a named ref's lineage instead of `main` (a WAP
  * auditor's view); `starting-snapshot-id` / `starting-timestamp`
  * give a fresh stream an exclusive floor so it skips history
  * (Kafka's startingOffsets shape — ignored once a checkpoint exists). */
final class IcebergStreamProvider
    extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-iceberg-stream"

  private def targetOf(parameters: Map[String, String])
      : IcebergChangeSource.Target =
    (parameters.get("path"), parameters.get("catalog-url")) match {
      case (Some(p), None) =>
        IcebergChangeSource.LocalDir(Paths.get(p))
      case (None, Some(url)) =>
        val ns = parameters.getOrElse("namespace",
          throw new IllegalArgumentException(
            "option 'namespace' is required with 'catalog-url'"))
        val tbl = parameters.getOrElse("table",
          throw new IllegalArgumentException(
            "option 'table' is required with 'catalog-url'"))
        val hdr = for (k <- parameters.get("auth-header");
                       v <- parameters.get("auth-value")) yield k -> v
        IcebergChangeSource.CatalogTable(
          new IcebergRestCatalog(url, () => hdr.toMap), ns, tbl)
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "options 'path' and 'catalog-url' are mutually exclusive")
      case (None, None) => throw new IllegalArgumentException(
        "option 'path' (local table directory) or 'catalog-url' + " +
          "'namespace' + 'table' (catalog-served table) is required")
    }

  private def capOf(parameters: Map[String, String]): Option[Int] =
    parameters.get("max-snapshots-per-trigger").map { v =>
      val n = try v.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"max-snapshots-per-trigger must be a positive integer, got '$v'")
      }
      require(n > 0,
        s"max-snapshots-per-trigger must be a positive integer, got $n")
      n
    }

  /** Strict numeric parse for the starting-* options, with the option
    * name in the error — same contract as max-snapshots-per-trigger. */
  private def parseStartOption(name: String, v: String): Long = {
    val n = try v.trim.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$name must be a non-negative integer, got '$v'")
    }
    require(n >= 0, s"$name must be a non-negative integer, got $n")
    n
  }

  private def modeOf(parameters: Map[String, String]): Boolean =
    parameters.getOrElse("mode", "append") match {
      case "append" => false
      case "changelog" => true
      case other => throw new IllegalArgumentException(
        s"mode must be 'append' or 'changelog', got '$other'")
    }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    capOf(parameters) // validate at load(), not first trigger
    if (parameters.contains("starting-snapshot-id") &&
        parameters.contains("starting-timestamp"))
      throw new IllegalArgumentException(
        "options 'starting-snapshot-id' and 'starting-timestamp' are " +
          "mutually exclusive")
    parameters.get("starting-snapshot-id")
      .foreach(parseStartOption("starting-snapshot-id", _))
    parameters.get("starting-timestamp")
      .foreach(parseStartOption("starting-timestamp", _))
    (shortName(), schema.getOrElse(IcebergChangeSource.streamSchema(
      sqlContext.sparkSession, targetOf(parameters), modeOf(parameters))))
  }

  private def floorOf(target: IcebergChangeSource.Target,
      refName: String, parameters: Map[String, String]): Option[Long] =
    (parameters.get("starting-snapshot-id"),
        parameters.get("starting-timestamp")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "options 'starting-snapshot-id' and 'starting-timestamp' are " +
          "mutually exclusive")
      case (Some(id), None) =>
        Some(parseStartOption("starting-snapshot-id", id))
      case (None, Some(ts)) =>
        // resolve ONCE at start: the newest lineage snapshot committed
        // BEFORE the timestamp is the exclusive floor — the stream
        // admits everything committed at or after it
        val t = parseStartOption("starting-timestamp", ts)
        target.meta().flatMap { m =>
          val byId = m.snapshots.map(s => s.snapshotId -> s).toMap
          val head = m.refs.get(refName).map(_._2).orElse(
            if (refName == "main") m.currentSnapshotId.filter(_ >= 0)
            else None)
          Iterator.iterate(head)(_.flatMap(byId.get).flatMap(_.parentId))
            .takeWhile(_.isDefined).flatten
            .find(id => byId.get(id).exists(_.timestampMs < t))
        }
      case _ => None
    }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val target = targetOf(parameters)
    val changelog = modeOf(parameters)
    val ref = parameters.getOrElse("branch", "main")
    new IcebergChangeSource(sqlContext.sparkSession, target,
      schema.getOrElse(IcebergChangeSource.streamSchema(
        sqlContext.sparkSession, target, changelog)),
      capOf(parameters), changelog, ref, floorOf(target, ref, parameters))
  }
}
