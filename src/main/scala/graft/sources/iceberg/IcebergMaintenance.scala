package graft.sources.iceberg

import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.SnapshotLog.ByVersion

/** Table maintenance for Iceberg tables, local or catalog-served (an
  * [[IcebergCommit.Target]]) — the rewrite-data-files compaction every
  * merge-on-read table eventually needs: each upsert batch adds an
  * equality-delete file whose broadcast anti-join every subsequent read
  * replays, so read cost grows with delete history until a compaction
  * materializes the deletes into a clean file set.
  *
  * [[compact]] reads main's head through the same MoR read path queries
  * use (positional + equality deletes applied, sequence-gated), writes
  * it as fresh parquet, and commits the result as a REPLACE snapshot
  * pinned to that head: the new manifest list carries only the
  * rewritten files, while every earlier snapshot's manifest list stays
  * intact — time travel to pre-compaction history keeps working, and
  * reads of the new head carry zero delete joins. Iceberg's own
  * rewrite_data_files action has the same contract. A commit that lands
  * between the read and the rewrite's commit makes the rewrite stale:
  * it fails with [[IcebergCommitConflict]] instead of dropping the
  * racer's rows, and is never retried.
  *
  * Scale notes: the rewrite is one distributed read→write of the live
  * data (the same cost as any full-table query on the table), the
  * commit is driver-side metadata. Row counts come from parquet
  * footers — no second Spark pass.
  */
object IcebergMaintenance {

  /** Compact `table` into a deletes-free snapshot tagged
    * `compacted-<snapshotId>`; returns the new snapshot id. */
  def compact(spark: SparkSession, table: IcebergCommit.Target,
      clock: () => Long = () => System.currentTimeMillis(),
      retainLast: Option[Int] = None): Long =
    rewriteHead(spark, table, "compact", "compacted", clock, retainLast) {
      (df, outDir) =>
        df.write.mode("overwrite").parquet(outDir.toString)
        parquetFileInfos(outDir)
    }

  /** Read main's head of `table`, rewrite it with `write` into
    * `data/<dir>-<next id>`, and commit the files as a REPLACE snapshot
    * tagged `<tag>-<next id>` and pinned to that head. */
  private def rewriteHead(spark: SparkSession, table: IcebergCommit.Target,
      dir: String, tag: String, clock: () => Long,
      retainLast: Option[Int])(
      write: (DataFrame, JPath) => Seq[IcebergLocal.DataFileInfo]): Long = {
    val meta = table.current().meta
    val head = mainHead(meta)
    val df = IcebergRest.readMeta(spark, meta, Some(ByVersion(head.toString)),
      Map.empty, None, table.tableDir.toString)
    val next = meta.snapshots.map(_.snapshotId).max + 1
    val files =
      write(df, table.tableDir.resolve("data").resolve(f"$dir-$next%05d"))
    table.append(files, clock(), tag = Some(s"$tag-$next"),
      retainLast = retainLast, schema = Some(df.schema), replace = true,
      assertMainAt = Some(head))
  }

  private def mainHead(meta: IcebergTableMeta): Long =
    meta.refs.get("main").map(_._2).orElse(meta.currentSnapshotId)
      .getOrElse(throw new IllegalArgumentException(
        "the table has no published snapshot"))

  /** Z-ORDER clustering compaction — Iceberg's `rewrite_data_files
    * (strategy => 'sort', sort_order => 'zorder(a, b)')`: rewrite the
    * live data ordered by the Morton (Z) curve over `cols`, so each
    * output file covers a small HYPER-RECTANGLE of the value space and
    * its per-column min/max bounds become selective on EVERY clustered
    * dimension at once. At 100 TB this is the file-skipping lever for
    * workloads that filter on several columns: a plain sort helps only
    * its leading column; the Z curve bounds all of them.
    *
    * Mechanics: each column is linearly scaled into min(16, 63/k) bits
    * over its observed [min, max] (one tiny aggregate, driver-side —
    * the cap keeps the interleaved long non-negative), the scaled
    * values are bit-INTERLEAVED into one long (all codegen'd bitwise
    * expressions — no UDF), and the rewrite is
    * `repartitionByRange(files, z).sortWithinPartitions(z)`: contiguous
    * Z ranges per file, one distributed read→write. Bounds come from
    * the parquet footers ([[IcebergPartitioned.fileInfo]]) so the
    * pruner sees them; the commit is a REPLACE snapshot like
    * [[compact]] (deletes materialized, history intact). */
  def compactZOrder(spark: SparkSession, table: IcebergCommit.Target,
      cols: Seq[String], files: Int,
      clock: () => Long = () => System.currentTimeMillis(),
      retainLast: Option[Int] = None): Long =
    rewriteHead(spark, table, "zorder", "zordered", clock, retainLast)(
      zOrderRewrite(_, cols, files, _))

  /** The Z-ORDER rewrite core: write `df` z-clustered on `cols` into
    * `files` files under `outDir`, return their footer-derived infos
    * (bounds included, so the pruner sees the clustering). */
  private def zOrderRewrite(
      df: org.apache.spark.sql.DataFrame, cols: Seq[String],
      files: Int, outDir: JPath): Seq[IcebergLocal.DataFileInfo] = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty && cols.size <= 4, "zorder takes 1..4 columns")
    require(files > 0, "files must be positive")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    val scaled = cols.zipWithIndex.flatMap { case (c, i) =>
      // an empty table or an all-null column has no min/max: the
      // column carries no clustering information — skip it rather than
      // NPE on getDouble (the rewrite still runs; with zero usable
      // columns it degenerates to a plain compaction)
      if (stats.isNullAt(2 * i) || stats.isNullAt(2 * i + 1)) None
      else {
        val (lo, hi) = (stats.getDouble(2 * i), stats.getDouble(2 * i + 1))
        val span = if (hi > lo) hi - lo else 1d
        // nulls cluster at 0 — they stay prunable via null counts
        Some(((coalesce(col(c).cast("double"), lit(lo)) - lit(lo)) /
          lit(span), c))
      }
    }
    val k = math.max(scaled.size, 1)
    // bits per dimension capped so k*bits ≤ 63: the interleaved value
    // must stay NON-NEGATIVE — with the top bit at position 63, signed
    // repartitionByRange would order files with the last dimension's
    // high bit set before everything else (results stay exact, but
    // clustering locality degrades)
    val bits = math.min(16, 63 / k)
    val hi = (1L << bits) - 1
    val quantized = scaled.map { case (frac, _) =>
      least(lit(hi), greatest(lit(0L), (frac * lit(hi.toDouble)).cast("long")))
    }
    val z =
      if (quantized.isEmpty) lit(0L)
      else (0 until bits).flatMap(j => quantized.zipWithIndex.map {
        case (c, ci) =>
          shiftleft(shiftright(c, j).bitwiseAND(lit(1L)), j * k + ci)
      }).reduce(_.bitwiseOR(_))
    df.withColumn("__graft_z", z)
      .repartitionByRange(files, org.apache.spark.sql.functions.col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
      .write.mode("overwrite").parquet(outDir.toString)
    IcebergPartitioned.listParquetDeep(outDir)
      .map(p => IcebergPartitioned.fileInfo(p, df.schema, Nil))
  }

  /** POSITION-DELETE compaction — Iceberg's `rewrite_position_deletes`,
    * the cheaper maintenance op real lakes run between full
    * compactions: every DELETE WHERE adds another small position-delete
    * file whose broadcast anti-join each read replays, so delete-side
    * read cost grows with delete history even when the data layout is
    * fine. This rewrites ONLY the delete side — data files untouched:
    *
    *   1. read every current position-delete file (a narrow two-column
    *      scan, delete-history-sized, not table-sized);
    *   2. drop superseded positions — rows naming a data file no longer
    *      live in the current snapshot (left-semi against the
    *      metadata-sized file inventory, broadcast);
    *   3. dedupe (file_path, pos) — re-deleting an already-deleted row
    *      re-records its position, and history accumulates duplicates;
    *   4. write the survivors as `targetFiles` merged delete files and
    *      commit them with [[IcebergCommit.Target.append]]'s
    *      rewrite-position-deletes shape: carried data and EQUALITY
    *      delete lineage untouched (equality deletes keep their
    *      original sequence gates), carried position-delete files
    *      dropped. The merged file's higher sequence number is sound:
    *      position deletes target explicit (file, pos) pairs, so a
    *      larger sequence can never delete a row the originals
    *      couldn't.
    *
    * Earlier snapshots' manifest lists stay intact — time travel to
    * pre-rewrite history replays the original delete files. Like
    * [[compact]], the commit is pinned to the head it read and never
    * retried. Returns the new snapshot id, or -1 when the table has no
    * position deletes. */
  def rewritePositionDeletes(spark: SparkSession,
      table: IcebergCommit.Target,
      clock: () => Long = () => System.currentTimeMillis(),
      targetFiles: Int = 1,
      retainLast: Option[Int] = None): Long = {
    val meta = table.current().meta
    val head = mainHead(meta)
    val next = meta.snapshots.map(_.snapshotId).max + 1
    val outDir = table.tableDir.resolve("data").resolve(f"posdel-rw-$next%05d")
    val files = posDelRewriteFiles(spark, meta, head, outDir, targetFiles)
    if (files.isEmpty) return -1L
    table.append(files, clock(), tag = Some(s"posdel-rewritten-$next"),
      retainLast = retainLast, dropPositionDeletes = true,
      assertMainAt = Some(head))
  }

  /** The position-delete MERGE core: dedupe every live position-delete
    * row of snapshot `head` (dropping rows whose target file no longer
    * exists) into `targetFiles` files under `outDir`; empty when the
    * head carries no position deletes (caller no-ops). */
  private def posDelRewriteFiles(spark: SparkSession,
      meta: IcebergTableMeta, head: Long, outDir: JPath,
      targetFiles: Int): Seq[IcebergLocal.DataFileInfo] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val snap = IcebergMetadata.select(meta, Some(ByVersion(head.toString)))
    val scan = IcebergManifests.scanFiles(spark, snap.manifestList)
    if (scan.positionDeletes.isEmpty) return Nil
    // path forms differ by writer: Spark's _metadata.file_path (what
    // deleteWhere records) renders file URIs as `file:/x`, manifests
    // carry `file:///x` — join on a NORMALIZED key, keep the original
    // file_path values (the MoR read matches them against _metadata)
    val live = {
      import spark.implicits._
      scan.dataFiles.map(_._1.replaceFirst("^file:/+", "/"))
        .distinct.toDF("fp_norm")
    }
    val merged = spark.read
      .parquet(scan.positionDeletes.map(_._1): _*)
      .select(col("file_path"), col("pos"))
      .withColumn("fp_norm", org.apache.spark.sql.functions
        .regexp_replace(col("file_path"), "^file:/+", "/"))
      .join(broadcast(live), Seq("fp_norm"), "left_semi")
      .drop("fp_norm")
      .distinct()
    merged.coalesce(targetFiles).write.mode("overwrite")
      .parquet(outDir.toString)
    parquetFileInfos(outDir, content = 1).filter(_.recordCount > 0)
  }

  /** Row-level DELETE: commit a positional-delete snapshot for every
    * current row matching `condition` (a Spark SQL boolean expression
    * over the table's columns) — the engine-side implementation of
    * `DELETE FROM t WHERE ...` in the merge-on-read shape. The matching
    * rows' (file, position) pairs come from Spark's own parquet
    * metadata columns; only those two narrow columns are written, so
    * the delete file stays dimension-sized however big the table is.
    * Returns the new snapshot id, or -1 when nothing matched (no empty
    * snapshot committed). Deleting already-deleted rows is a no-op by
    * construction — the MoR read the positions are computed from never
    * surfaces them. The positions are main's head's, so the commit is
    * pinned to that head and never retried, like [[compact]]. */
  def deleteWhere(spark: SparkSession, table: IcebergCommit.Target,
      condition: String,
      clock: () => Long = () => System.currentTimeMillis(),
      retainLast: Option[Int] = None): Long = {
    import org.apache.spark.sql.functions.col
    val meta = table.current().meta
    val head = mainHead(meta)
    val snap = IcebergMetadata.select(meta, Some(ByVersion(head.toString)))
    val scan = IcebergManifests.scanFiles(spark, snap.manifestList)
    // positions come from the PHYSICAL rows (deletes not re-applied):
    // re-recording a position an earlier delete already retired is a
    // no-op under the MoR anti-join, and skipping the extra read keeps
    // this one scan + one narrow write
    val hits = spark.read.parquet(scan.dataFiles.map(_._1): _*)
      .filter(condition)
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").cast("long").as("pos"))
    val next = meta.snapshots.map(_.snapshotId).max + 1
    val outDir = table.tableDir.resolve("data").resolve(f"delete-$next%05d")
    hits.write.mode("overwrite").parquet(outDir.toString)
    val files = parquetFileInfos(outDir, content = 1)
      .filter(_.recordCount > 0)
    if (files.isEmpty) {
      // nothing matched: remove the empty write, commit nothing
      listParquet(outDir).foreach(Files.deleteIfExists(_))
      -1L
    } else
      table.append(files, clock(), tag = Some(s"delete-$next"),
        retainLast = retainLast, assertMainAt = Some(head), maxRetries = 0)
  }

  /** Delete every file under the table's own `data/` and `metadata/`
    * directories that no RETAINED snapshot references — the
    * remove-orphan-files half of Iceberg maintenance, pairing with
    * snapshot expiry (`retainLast`) and [[compact]]: expiry drops
    * snapshots from the metadata, compaction rewrites the live file
    * set, and vacuum reclaims the disk the expired history pinned.
    * Walks current metadata → every retained snapshot's manifest list →
    * manifests → data/delete file paths; anything else under the table
    * directory with a `.parquet`/`.avro` suffix goes. Files OUTSIDE the
    * table directory are never touched (externally-located data files
    * are the caller's to manage). Returns the number of files deleted. */
  def vacuum(tableDir: JPath): Int = {
    val meta = IcebergLocal.currentMetadata(tableDir).getOrElse(return 0)
    val conf = new Configuration()
    def norm(s: String): JPath = {
      val p = if (s.startsWith("file:"))
        java.nio.file.Paths.get(java.net.URI.create(s.replaceFirst("^file:/+", "file:///")))
      else java.nio.file.Paths.get(s)
      p.toAbsolutePath.normalize
    }
    val referenced = scala.collection.mutable.Set.empty[JPath]
    meta.snapshots.foreach { s =>
      referenced += norm(s.manifestList)
      IcebergAvro.read(s.manifestList, conf).foreach { mf =>
        val mp = mf.get("manifest_path").toString
        referenced += norm(mp)
        IcebergAvro.read(mp, conf).foreach { e =>
          val df = e.get("data_file")
            .asInstanceOf[org.apache.avro.generic.GenericRecord]
          referenced += norm(df.get("file_path").toString)
        }
      }
    }
    // current + historical metadata JSONs stay (tiny, and the current
    // one IS the table); only unreferenced avro/parquet artifacts go
    var deleted = 0
    val root = tableDir.toAbsolutePath.normalize
    Seq(tableDir.resolve("data"), tableDir.resolve("metadata"))
      .filter(Files.isDirectory(_)).foreach { base =>
        val walk = Files.walk(base)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .filter(p => Files.isRegularFile(p))
            .filter { p =>
              val n = p.getFileName.toString
              n.endsWith(".parquet") || n.endsWith(".avro")
            }
            .filter(p => p.toAbsolutePath.normalize.startsWith(root))
            .filterNot(p => referenced.contains(p.toAbsolutePath.normalize))
            .toSeq // materialize before deleting under the walk
            .foreach { p => Files.deleteIfExists(p); deleted += 1 }
        } finally walk.close()
      }
    deleted
  }

  /** DataFileInfo for every parquet part under `dir`, row counts from
    * the footers — zero Spark jobs. */
  def parquetFileInfos(dir: JPath, content: Int = 0,
      equalityIds: Seq[Int] = Nil): Seq[IcebergLocal.DataFileInfo] = {
    val conf = new Configuration()
    listParquet(dir).map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), conf))
      val n = try r.getRecordCount finally r.close()
      IcebergLocal.DataFileInfo(p.toUri.toString, n, Files.size(p),
        content, equalityIds)
    }
  }

  private[graft] def listParquet(dir: JPath): Seq[JPath] = {
    val s = Files.list(dir) // close releases the directory fd
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
    } finally s.close()
  }
}
