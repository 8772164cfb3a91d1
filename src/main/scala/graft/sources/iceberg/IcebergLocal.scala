package graft.sources.iceberg

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

/** Iceberg table FILES + filesystem-backed REST catalog, from the
  * public Iceberg table spec (v2) and REST OpenAPI: the Avro manifests
  * and manifest lists a commit prepares over parquet data files, the
  * spec's typed schema struct (nested structs, lists, maps; depth-first
  * field ids) derived from a DataFrame, and a catalog server that serves
  * the tables of a warehouse directory to ANY REST-catalog client —
  * including [[IcebergRestCatalog]], which is how the round-trip is
  * verified end-to-end without the Iceberg runtime jars. The metadata
  * JSON is written by [[IcebergCommit]] alone.
  *
  * A commit's new manifest list carries every prior manifest (the "fast
  * append" shape). A commit of `content = 1` files is a
  * POSITIONAL-DELETE commit (the v2 merge-on-read shape: parquet files
  * of (file_path, pos) rows in a content=1 delete manifest) — which the
  * read side applies.
  */
object IcebergLocal {

  /** One file of an append: an absolute path (any Hadoop-readable
    * scheme), its row count, and its size in bytes. `content` is the
    * spec's data_file content id: 0 = data, 1 = position deletes (a
    * parquet file of (file_path, pos) rows), 2 = equality deletes (a
    * parquet file of the equality columns; `equalityIds` lists their
    * spec field ids) — the two v2 merge-on-read delete shapes.
    * `partition` is the file's partition tuple (partition field name →
    * value, aligned with the commit's partition spec; dates as
    * epoch-day Int); the bound maps are spec field id → single-value
    * binary min/max — all three feed scan pruning. */
  final case class DataFileInfo(path: String, recordCount: Long,
      sizeBytes: Long, content: Int = 0, equalityIds: Seq[Int] = Nil,
      partition: Seq[(String, Any)] = Nil,
      lowerBounds: Map[Int, Array[Byte]] = Map.empty,
      upperBounds: Map[Int, Array[Byte]] = Map.empty,
      /** spec value_counts / null_value_counts (field id → count):
        * IS [NOT] NULL pruning evidence */
      valueCounts: Map[Int, Long] = Map.empty,
      nullCounts: Map[Int, Long] = Map.empty)

  private val mapper = new ObjectMapper()

  /** Directory listing with the stream CLOSED: `Files.list` holds an open
    * directory fd until close() — iterating it to exhaustion does not
    * release it, so a per-commit caller (the streaming sink) would leak
    * one fd per micro-batch until the driver hits ulimit. */
  private def listDir(dir: JPath): Seq[JPath] = {
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq
    } finally s.close()
  }

  /** Manifest entry schema, parameterized on the table's partition
    * record (spec: `data_file.partition` is a struct typed by the
    * partition spec; empty struct for unpartitioned tables). Bound maps
    * use the spec's array-of-key_value shape. */
  private[iceberg] def entrySchemaFor(partition: Schema): Schema =
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |  {"name":"status","type":"int"},
         |  {"name":"sequence_number","type":["null","long"],"default":null},
         |  {"name":"data_file","type":{"type":"record","name":"r2","fields":[
         |    {"name":"content","type":"int"},
         |    {"name":"file_path","type":"string"},
         |    {"name":"file_format","type":"string"},
         |    {"name":"partition","type":["null",${partition.toString}],
         |     "default":null},
         |    {"name":"record_count","type":"long"},
         |    {"name":"file_size_in_bytes","type":"long"},
         |    {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],
         |     "default":null},
         |    {"name":"value_counts","type":["null",{"type":"array","items":
         |      {"type":"record","name":"kv_count","fields":[
         |        {"name":"key","type":"int"},
         |        {"name":"value","type":"long"}]}}],"default":null},
         |    {"name":"null_value_counts","type":["null",
         |      {"type":"array","items":"kv_count"}],"default":null},
         |    {"name":"lower_bounds","type":["null",{"type":"array","items":
         |      {"type":"record","name":"kv_bound","fields":[
         |        {"name":"key","type":"int"},
         |        {"name":"value","type":"bytes"}]}}],"default":null},
         |    {"name":"upper_bounds","type":["null",
         |      {"type":"array","items":"kv_bound"}],"default":null}
         |  ]}}]}""".stripMargin)

  private[iceberg] val emptyPartitionSchema: Schema =
    new Schema.Parser().parse(
      """{"type":"record","name":"r102","fields":[]}""")

  private val manifestEntrySchema: Schema =
    entrySchemaFor(emptyPartitionSchema)

  private[iceberg] def nonNullBranch(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION) {
      import scala.jdk.CollectionConverters._
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).getOrElse(s)
    } else s

  /** The partition struct's Avro schema under `spec`: one nullable
    * field per partition field, typed by the transform's result over
    * the source column (dates stored as epoch-day ints). */
  private def partitionAvroSchema(spec: Seq[PartitionField],
      st: org.apache.spark.sql.types.StructType): Schema = {
    import org.apache.spark.sql.types._
    val fields = spec.map { f =>
      val rt = IcebergPartitions.resultType(f.transform,
        st(f.sourceColumn).dataType)
      val avro = rt match {
        case IntegerType | DateType => "\"int\""
        case LongType => "\"long\""
        case StringType => "\"string\""
        case other => throw new IllegalArgumentException(
          s"partition result type $other of ${f.name} not supported")
      }
      s"""{"name":"${f.name}","type":["null",$avro],"default":null}"""
    }
    new Schema.Parser().parse(
      s"""{"type":"record","name":"r102","fields":[${fields.mkString(",")}]}""")
  }

  private[iceberg] val manifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |  {"name":"manifest_path","type":"string"},
      |  {"name":"manifest_length","type":"long"},
      |  {"name":"partition_spec_id","type":"int"},
      |  {"name":"content","type":"int"},
      |  {"name":"sequence_number","type":"long"},
      |  {"name":"min_sequence_number","type":"long"},
      |  {"name":"added_snapshot_id","type":"long"},
      |  {"name":"added_files_count","type":"int"},
      |  {"name":"existing_files_count","type":"int"},
      |  {"name":"deleted_files_count","type":"int"},
      |  {"name":"added_rows_count","type":"long"},
      |  {"name":"existing_rows_count","type":"long"},
      |  {"name":"deleted_rows_count","type":"long"}]}""".stripMargin)

  private[iceberg] def writeAvro(path: JPath, schema: Schema,
      records: Seq[GenericRecord]): Unit = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, path.toFile)
    try records.foreach(w.append) finally w.close()
  }

  /** Prior-manifest count above which a commit first compacts them into
    * ONE merged manifest (entries re-recorded with status EXISTING).
    * Without merging, every fast-append manifest list carries one record
    * per manifest ever committed, so a per-micro-batch committer pays
    * O(total commits) per commit; with it the amortized carry-forward
    * stays O(threshold + files/threshold). Real Iceberg bounds the same
    * growth with its manifest-merge write path. */
  val MergeManifestsAbove = 100

  /** The spec id this commit's partition spec gets: a prior spec with
    * identical fields is REUSED; anything else becomes a NEW spec at
    * max-prior-id + 1 — partition spec EVOLUTION. Old manifests keep
    * pruning under the spec they were written with (the reader resolves
    * per-manifest `partition_spec_id`); new manifests are stamped with
    * this id and the metadata's `default-spec-id` moves to it. */
  private[iceberg] def resolveSpecId(prior: Option[IcebergTableMeta],
      spec: Seq[PartitionField]): Int =
    prior match {
      case None => 0
      case Some(m) =>
        m.partitionSpecs.collectFirst {
          case (id, fields) if fields == spec => id
        }.getOrElse(
          if (m.partitionSpecs.isEmpty) 0 else m.partitionSpecs.keys.max + 1)
    }

  /** Write this commit's manifest + manifest list under
    * `tableDir/metadata` for snapshot `snapId`, carrying (and, past
    * [[MergeManifestsAbove]], compacting) the prior snapshot's
    * manifests. Pure FILE work — the metadata JSON is
    * [[IcebergCommit]]'s. `uniq` disambiguates file names when
    * several writers prepare the same snapshot id concurrently (the
    * optimistic-concurrency race; the loser's files become orphans that
    * [[IcebergMaintenance.vacuum]] reclaims). Returns the
    * manifest-list path. */
  private[iceberg] def writeSnapshotFiles(tableDir: JPath,
      prior: Option[IcebergTableMeta], files: Seq[DataFileInfo],
      snapId: Long, replace: Boolean,
      partitionSpec: Option[Seq[PartitionField]],
      schema: Option[org.apache.spark.sql.types.StructType],
      uniq: String = "",
      /** the spec id stamped on this commit's NEW manifest (resolved by
        * [[resolveSpecId]]; carried prior manifests keep their own). */
      specId: Int = 0,
      /** rewrite-position-deletes commit shape: carry data and
        * EQUALITY-delete lineage forward but drop every carried
        * POSITION-delete file (the commit's own `files` are their
        * merged/deduped replacement). A delete manifest holding both
        * kinds is rewritten to keep only its equality entries with
        * their original sequence numbers. */
      dropPositionDeletes: Boolean = false,
      /** the PARENT snapshot whose manifests this commit carries —
        * branch-aware: a branch commit carries its branch head, a main
        * commit main's head (NOT the newest snapshot, which may be an
        * unpublished branch head). None = newest snapshot (legacy). */
      parentId: Option[Long] = None): JPath = {
    val metaDir = tableDir.resolve("metadata")
    Files.createDirectories(metaDir)
    val partAvro = partitionSpec match {
      case Some(spec) => partitionAvroSchema(spec, schema.getOrElse(
        throw new IllegalArgumentException(
          "partitionSpec requires schema (source-id resolution)")))
      case None => emptyPartitionSchema
    }
    val entrySchema = entrySchemaFor(partAvro)
    val dataFileSchema = entrySchema.getField("data_file").schema()

    // a manifest holds data files OR delete files, never both (spec:
    // manifest content id describes every entry in it). Both delete
    // kinds (positional=1, equality=2) legally share one content=1
    // delete manifest — a MERGE-style committer produces both at once.
    val contents = files.map(_.content).distinct.sorted
    val manifestContent = contents match {
      case Seq() | Seq(0) => 0
      case s if s.forall(c => c == 1 || c == 2) => 1
      case other => throw new IllegalArgumentException(
        s"one commit cannot mix data and delete files (contents $other)")
    }
    val manifestPath = metaDir.resolve(f"manifest-$snapId%05d$uniq.avro")
    val boundItemSchema = nonNullBranch(
      dataFileSchema.getField("lower_bounds").schema()).getElementType
    val countItemSchema = nonNullBranch(
      dataFileSchema.getField("value_counts").schema()).getElementType
    def kvArray(m: Map[Int, Array[Byte]]): java.util.List[GenericRecord] = {
      val out = new java.util.ArrayList[GenericRecord](m.size)
      m.toSeq.sortBy(_._1).foreach { case (k, v) =>
        val r = new GenericData.Record(boundItemSchema)
        r.put("key", k)
        r.put("value", java.nio.ByteBuffer.wrap(v))
        out.add(r)
      }
      out
    }
    def kvCounts(m: Map[Int, Long]): java.util.List[GenericRecord] = {
      val out = new java.util.ArrayList[GenericRecord](m.size)
      m.toSeq.sortBy(_._1).foreach { case (k, v) =>
        val r = new GenericData.Record(countItemSchema)
        r.put("key", k)
        r.put("value", v)
        out.add(r)
      }
      out
    }
    writeAvro(manifestPath, entrySchema, files.map { f =>
      val df = new GenericData.Record(dataFileSchema)
      df.put("content", f.content)
      df.put("file_path", f.path)
      df.put("file_format", "PARQUET")
      df.put("record_count", f.recordCount)
      df.put("file_size_in_bytes", f.sizeBytes)
      if (f.partition.nonEmpty) {
        val pr = new GenericData.Record(partAvro)
        f.partition.foreach { case (n, v) => pr.put(n, v) }
        df.put("partition", pr)
      }
      if (f.lowerBounds.nonEmpty) df.put("lower_bounds", kvArray(f.lowerBounds))
      if (f.upperBounds.nonEmpty) df.put("upper_bounds", kvArray(f.upperBounds))
      if (f.valueCounts.nonEmpty) df.put("value_counts", kvCounts(f.valueCounts))
      if (f.nullCounts.nonEmpty)
        df.put("null_value_counts", kvCounts(f.nullCounts))
      if (f.equalityIds.nonEmpty) {
        val ids = new java.util.ArrayList[Integer](f.equalityIds.size)
        f.equalityIds.foreach(i => ids.add(Integer.valueOf(i)))
        df.put("equality_ids", ids)
      }
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1) // ADDED
      e.put("data_file", df)
      e
    })

    // fast-append commit: the new manifest list = every prior manifest
    // record carried forward VERBATIM (its added_snapshot_id and sequence
    // numbers are its lineage — rewriting them would corrupt history) +
    // one new record for this commit's manifest. Once the carried tail
    // exceeds MergeManifestsAbove, it is compacted into one merged
    // manifest whose entries are re-recorded as EXISTING (status 0 — the
    // reader keeps 0/1, drops only DELETED), so the tail length resets.
    val hadoopConf = new org.apache.hadoop.conf.Configuration()
    val carriedRaw =
      if (replace) Seq.empty
      else prior.filter(_.snapshots.nonEmpty).toSeq.flatMap { m =>
        val parent = parentId.flatMap(id =>
            m.snapshots.find(_.snapshotId == id))
          .getOrElse(m.snapshots.maxBy(_.snapshotId))
        IcebergAvro.read(parent.manifestList, hadoopConf)
      }
    val carried =
      if (!dropPositionDeletes) carriedRaw
      else carriedRaw.flatMap { r =>
        if (r.get("content").asInstanceOf[Number].intValue() == 0) Some(r)
        else {
          // a content=1 manifest may hold position files (content 1),
          // equality files (content 2), or both; position entries are
          // superseded by this commit's merged replacement
          val entries = IcebergAvro.read(
            r.get("manifest_path").toString, hadoopConf)
          def fileContent(e: GenericRecord): Int =
            Option(e.get("data_file").asInstanceOf[GenericRecord]
              .get("content")).map(_.asInstanceOf[Number].intValue())
              .getOrElse(1)
          val (eqs, poss) = entries.partition(fileContent(_) == 2)
          if (poss.isEmpty) Some(r) // pure equality: carry verbatim
          else if (eqs.isEmpty) None // pure position: dropped
          else {
            // mixed: rewrite keeping only equality entries, each with
            // its ORIGINAL sequence number made explicit (EXISTING)
            val inheritSeq = r.get("sequence_number")
              .asInstanceOf[Number].longValue()
            val minSeqM = r.get("min_sequence_number")
              .asInstanceOf[Number].longValue()
            val keptPath = metaDir.resolve(
              f"manifest-$snapId%05d$uniq-eq${carriedRaw.indexOf(r)}.avro")
            val keptSchema = entries.head.getSchema
            val kept = eqs.map { e =>
              val st = Option(e.get("status"))
                .map(_.asInstanceOf[Number].intValue()).getOrElse(1)
              val explicit =
                if (keptSchema.getField("sequence_number") == null) None
                else Option(e.get("sequence_number"))
                  .map(_.asInstanceOf[Number].longValue())
              val seq = explicit.getOrElse(
                if (st == 1) inheritSeq else minSeqM)
              val n = new GenericData.Record(keptSchema)
              keptSchema.getFields.forEach(f =>
                n.put(f.name(), e.get(f.name())))
              n.put("status", 0)
              if (keptSchema.getField("sequence_number") != null)
                n.put("sequence_number", seq)
              n
            }
            writeAvro(keptPath, keptSchema, kept)
            val nr = new GenericData.Record(r.getSchema)
            r.getSchema.getFields.forEach(f =>
              nr.put(f.name(), r.get(f.name())))
            nr.put("manifest_path", keptPath.toUri.toString)
            nr.put("manifest_length", Files.size(keptPath))
            Some(nr)
          }
        }
      }
    // delete manifests are never compacted — their sequence numbers gate
    // WHICH data files each delete applies to, and a merged manifest
    // would flatten that lineage; only the data tail compacts
    val (carriedData, carriedDeletes) = carried.partition(r =>
      r.get("content").asInstanceOf[Number].intValue() == 0)
    val priorRecords =
      if (carriedData.size < MergeManifestsAbove) carried
      else carriedDeletes ++ {
        // each entry's ORIGINAL data sequence number must survive the
        // merge explicitly: equality deletes are value-keyed and gated
        // solely by d_seq < del_seq, so inheriting the merged manifest's
        // (necessarily minimal) sequence would re-expose every carried
        // row to every carried delete — silently deleting the newest
        // version of upserted keys. Spec inheritance: a null entry
        // sequence means "the manifest's sequence_number" for ADDED
        // entries; EXISTING entries must carry theirs explicitly.
        val entries = carriedData.flatMap { r =>
          val inheritSeq = r.get("sequence_number")
            .asInstanceOf[Number].longValue()
          val minSeq = r.get("min_sequence_number")
            .asInstanceOf[Number].longValue()
          IcebergAvro.read(r.get("manifest_path").toString, hadoopConf)
            .map { e =>
              val explicit =
                if (e.getSchema.getField("sequence_number") == null) None
                else Option(e.get("sequence_number"))
                  .map(_.asInstanceOf[Number].longValue())
              val st = Option(e.get("status"))
                .map(_.asInstanceOf[Number].intValue()).getOrElse(1)
              (e, explicit.getOrElse(if (st == 1) inheritSeq else minSeq))
            }
        }
        val mergedPath = metaDir.resolve(f"manifest-$snapId%05d$uniq-m.avro")
        // the merged manifest's partition struct: when every carried
        // manifest shares ONE spec id and one partition schema, keep
        // both (pruning info survives the merge, stamped with that
        // spec); on a mix, fall back to the empty struct — a single
        // manifest can only declare one spec_id, and labeling spec-A
        // tuples with spec B would misread same-named fields whose
        // transform changed. The affected files just lose partition
        // pruning, which is conservative (never wrong).
        val oldSpecIds = carriedData.map(_.get("partition_spec_id")
          .asInstanceOf[Number].intValue()).distinct
        val oldPartSchemas = entries.map(_._1.get("data_file")
            .asInstanceOf[GenericRecord].getSchema)
          .flatMap(s => Option(s.getField("partition"))
            .map(f => nonNullBranch(f.schema()))).distinct
        val keepPartitions =
          oldSpecIds.size == 1 && oldPartSchemas.size == 1
        val mergedEntrySchema =
          if (keepPartitions) entrySchemaFor(oldPartSchemas.head)
          else manifestEntrySchema
        writeAvro(mergedPath, mergedEntrySchema, entries.map {
          case (old, seq) =>
            val df = new GenericData.Record(
              mergedEntrySchema.getField("data_file").schema())
            val oldDf = old.get("data_file").asInstanceOf[GenericRecord]
            df.getSchema.getFields.forEach(f =>
              df.put(f.name(), oldDf.get(f.name())))
            val e = new GenericData.Record(mergedEntrySchema)
            e.put("status", 0) // EXISTING: carried data, not added here
            e.put("sequence_number", seq) // original lineage, explicit
            e.put("data_file", df)
            e
        })
        val rows = entries.map(_._1.get("data_file")
          .asInstanceOf[GenericRecord]
          .get("record_count").asInstanceOf[Long]).sum
        val minSeq = entries.map(_._2).min
        val r = new GenericData.Record(manifestFileSchema)
        r.put("manifest_path", mergedPath.toUri.toString)
        r.put("manifest_length", Files.size(mergedPath))
        r.put("partition_spec_id",
          if (keepPartitions) oldSpecIds.head else 0)
        r.put("content", 0)
        r.put("sequence_number", snapId)
        r.put("min_sequence_number", minSeq)
        r.put("added_snapshot_id", snapId)
        r.put("added_files_count", 0)
        r.put("existing_files_count", entries.size)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", 0L)
        r.put("existing_rows_count", rows)
        r.put("deleted_rows_count", 0L)
        Seq(r)
      }
    val newRecord = {
      val r = new GenericData.Record(manifestFileSchema)
      r.put("manifest_path", manifestPath.toUri.toString)
      r.put("manifest_length", Files.size(manifestPath))
      r.put("partition_spec_id", specId)
      r.put("content", manifestContent)
      // fast-append: the manifest's data sequence number IS the commit's
      r.put("sequence_number", snapId)
      r.put("min_sequence_number", snapId)
      r.put("added_snapshot_id", snapId)
      r.put("added_files_count", files.size)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", files.map(_.recordCount).sum)
      r.put("existing_rows_count", 0L)
      r.put("deleted_rows_count", 0L)
      r
    }
    val listPath = metaDir.resolve(f"snap-$snapId%05d$uniq.avro")
    writeAvro(listPath, manifestFileSchema, priorRecords.map { old =>
      // re-record under the current schema, copying every field the old
      // record carries (records written by this writer always carry all)
      val r = new GenericData.Record(manifestFileSchema)
      manifestFileSchema.getFields.forEach(f =>
        r.put(f.name(), old.get(f.name())))
      r
    } :+ newRecord)
    listPath
  }

  private val MetadataName = """v(\d+)\.metadata\.json""".r

  /** Latest committed `vN.metadata.json` of the table at `tableDir`.
    * Ordered by the NUMERIC version, not the filename: the `v%05d`
    * padding overflows at snapshot 100000, where a lexicographic sort
    * would pin "latest" to v99999 forever (a regime the per-micro-batch
    * streaming sink actually reaches). */
  def currentMetadataFile(tableDir: JPath): Option[JPath] = {
    val metaDir = tableDir.resolve("metadata")
    if (!Files.isDirectory(metaDir)) return None
    listDir(metaDir)
      .flatMap { p =>
        p.getFileName.toString match {
          case MetadataName(v) => Some((v.toLong, p))
          case _ => None
        }
      }
      .sortBy(_._1).lastOption.map(_._2)
  }

  /** Spark schema → the table spec's typed struct (v2 "schemas" entry):
    * nested structs/lists/maps mapped to the spec's type objects, field
    * ids assigned depth-first from 1 via `counter` (whose final value is
    * the metadata's last-column-id). */
  private[iceberg] def icebergStructNode(
      st: org.apache.spark.sql.types.StructType,
      counter: java.util.concurrent.atomic.AtomicInteger): ObjectNode = {
    import org.apache.spark.sql.types._
    def typeOf(dt: DataType): com.fasterxml.jackson.databind.JsonNode =
      dt match {
        case BooleanType => mapper.getNodeFactory.textNode("boolean")
        case ByteType | ShortType | IntegerType =>
          mapper.getNodeFactory.textNode("int")
        case LongType => mapper.getNodeFactory.textNode("long")
        case FloatType => mapper.getNodeFactory.textNode("float")
        case DoubleType => mapper.getNodeFactory.textNode("double")
        case d: DecimalType =>
          mapper.getNodeFactory.textNode(s"decimal(${d.precision}, ${d.scale})")
        case DateType => mapper.getNodeFactory.textNode("date")
        case TimestampType => mapper.getNodeFactory.textNode("timestamptz")
        case TimestampNTZType => mapper.getNodeFactory.textNode("timestamp")
        case BinaryType => mapper.getNodeFactory.textNode("binary")
        case s: StructType => structOf(s)
        case ArrayType(et, containsNull) =>
          val n = mapper.createObjectNode()
          n.put("type", "list")
          n.put("element-id", counter.incrementAndGet())
          n.set[com.fasterxml.jackson.databind.JsonNode]("element", typeOf(et))
          n.put("element-required", !containsNull)
          n
        case MapType(kt, vt, valueContainsNull) =>
          val n = mapper.createObjectNode()
          n.put("type", "map")
          n.put("key-id", counter.incrementAndGet())
          n.set[com.fasterxml.jackson.databind.JsonNode]("key", typeOf(kt))
          n.put("value-id", counter.incrementAndGet())
          n.set[com.fasterxml.jackson.databind.JsonNode]("value", typeOf(vt))
          n.put("value-required", !valueContainsNull)
          n
        case other => mapper.getNodeFactory.textNode("string") // lossy but typed
      }
    def structOf(s: StructType): ObjectNode = {
      val n = mapper.createObjectNode()
      n.put("type", "struct")
      val fields = n.putArray("fields")
      s.fields.foreach { f =>
        val fn = fields.addObject()
        fn.put("id", counter.incrementAndGet())
        fn.put("name", f.name)
        fn.put("required", !f.nullable)
        fn.set[com.fasterxml.jackson.databind.JsonNode]("type", typeOf(f.dataType))
      }
      n
    }
    structOf(st)
  }

  def currentMetadata(tableDir: JPath): Option[IcebergTableMeta] =
    currentMetadataFile(tableDir)
      .map(p => IcebergMetadata.parse(mapper.readTree(Files.readString(p))))

  /** Stamp Spark's parquet field-id metadata (`parquet.field.id`) onto
    * every TOP-LEVEL column, numbered exactly as [[icebergStructNode]]
    * numbers the committed schema (depth-first, a field's id precedes
    * its nested ids) — so parquet files written from the returned frame
    * carry the same ids the table metadata declares. This is what real
    * Iceberg writers always do, and it is the prerequisite for
    * rename-safe field-id reads (`fieldIdReads` option). Nested ids
    * have no Spark metadata slot; evolution is top-level-column only. */
  def withFieldIds(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.col
    val ids = topLevelFieldIds(df.schema)
    val cols = df.schema.fields.map { f =>
      col("`" + f.name + "`")
        .as(f.name, new MetadataBuilder().withMetadata(f.metadata)
          .putLong("parquet.field.id", ids(f.name).toLong).build())
    }
    df.select(cols.toSeq: _*)
  }

  /** Top-level column name → its spec field id under the SAME
    * depth-first numbering [[icebergStructNode]] commits and
    * [[withFieldIds]] stamps: a struct/array/map column consumes ids
    * for its nested fields before the next top-level column, so "index
    * + 1" is wrong the moment any nested column precedes a key column.
    * This is the one id-assignment walk everything derives from. */
  def topLevelFieldIds(schema: org.apache.spark.sql.types.StructType)
      : Map[String, Int] = {
    import org.apache.spark.sql.types._
    val counter = new java.util.concurrent.atomic.AtomicInteger()
    def skipNested(dt: DataType): Unit = dt match {
      case s: StructType =>
        s.fields.foreach { f => counter.incrementAndGet(); skipNested(f.dataType) }
      case ArrayType(et, _) => counter.incrementAndGet(); skipNested(et)
      case MapType(k, v, _) =>
        counter.incrementAndGet(); skipNested(k)
        counter.incrementAndGet(); skipNested(v)
      case _ => ()
    }
    schema.fields.map { f =>
      val id = counter.incrementAndGet()
      skipNested(f.dataType) // keep numbering aligned with the metadata
      f.name -> id
    }.toMap
  }

  /** REST catalog over a warehouse directory: every subdirectory of
    * `warehouse` with committed metadata is a table in `namespace`.
    * Serves the endpoints [[IcebergRestCatalog]] speaks: config,
    * namespaces, table listing and loading, and POSTs that create a table
    * (CreateTableRequest) or commit to one (CommitTableRequest, applied
    * by [[IcebergCommit.applyCommit]]); an optional `requiredHeader`
    * (name → value) turns on auth (401 otherwise), mirroring the
    * reference catalog's token gate. */
  final class CatalogServer(warehouseDir: JPath, namespace: String,
      requiredHeader: Option[(String, String)] = None,
      /** (accessKey, secretKey, region, service): require every request
        * to carry a valid AWS SigV4 signature — the server RECOMPUTES
        * the signature from the received method/path/headers and the
        * actual payload hash, exactly like the S3 test store, and a
        * mismatch answers 403. The catalog twin of the reference's
        * AWS-IRSA auth mode (iceberg.rs:43-100). */
      sigv4: Option[(String, String, String, String)] = None) {
    // normalize ONCE: a relative warehouse path would otherwise fail the
    // per-request containment check (absolute vs relative parent) and
    // 404 every table
    private val warehouse = warehouseDir.toAbsolutePath.normalize()
    private var server: HttpServer = _

    def start(): Int = {
      // loopback-only, like the embedded API server: this is a local
      // serving helper, not a hardened network edge
      server = HttpServer.create(
        new InetSocketAddress("127.0.0.1", 0), 0)
      server.createContext("/v1", (ex: HttpExchange) => handle(ex))
      server.start()
      server.getAddress.getPort
    }

    def stop(): Unit = if (server != null) server.stop(0)

    private def tables: Seq[String] =
      listDir(warehouse)
        .filter(d => Files.isDirectory(d.resolve("metadata")))
        .map(_.getFileName.toString).sorted

    /** One lock for every table commit: the requirement check and the
      * metadata write must be one atomic step or two racing writers
      * both pass the check (lost update). Per-table locking would work
      * too; commits are metadata-sized, so one lock is not a throughput
      * concern. */
    private val commitLock = new Object

    /** Full SigV4 re-verification: parse the Authorization header,
      * check the credential scope (key id, region, service), check the
      * x-amz-content-sha256 header against the ACTUAL payload, rebuild
      * the canonical request from the signed headers as received, and
      * constant-time-compare the recomputed signature. */
    private def verifySigV4(ex: HttpExchange, body: Array[Byte],
        ak: String, sk: String, region: String, service: String): Boolean = {
      import graft.sources.s3.SigV4
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
        .getOrElse(return false)
      val re = ("AWS4-HMAC-SHA256 Credential=([^/]+)/(\\d{8})/([^/]+)/" +
        java.util.regex.Pattern.quote(service) +
        "/aws4_request, SignedHeaders=([^,]+), Signature=([0-9a-f]+)").r
      auth match {
        case re(cak, dateStamp, creg, signedHeaders, sig) =>
          if (cak != ak || creg != region) return false
          val amzDate = Option(ex.getRequestHeaders.getFirst("x-amz-date"))
            .getOrElse(return false)
          val payloadHash = Option(
            ex.getRequestHeaders.getFirst("x-amz-content-sha256"))
            .getOrElse(return false)
          if (payloadHash != SigV4.sha256Hex(body)) return false
          val headers = signedHeaders.split(';').toSeq.map { h =>
            val v = if (h == "host")
              Option(ex.getRequestHeaders.getFirst("Host")).getOrElse("")
            else Option(ex.getRequestHeaders.getFirst(h)).getOrElse("")
            h -> v
          }
          val query = Option(ex.getRequestURI.getRawQuery).toSeq
            .flatMap(_.split('&').toSeq).filter(_.nonEmpty).map { kv =>
              val i = kv.indexOf('=')
              def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
              if (i < 0) (dec(kv), "")
              else (dec(kv.take(i)), dec(kv.drop(i + 1)))
            }
          val cr = SigV4.canonicalRequest(ex.getRequestMethod,
            ex.getRequestURI.getRawPath, query, headers, payloadHash)
          val sts = s"${SigV4.Algorithm}\n$amzDate\n" +
            s"$dateStamp/$creg/$service/aws4_request\n${SigV4.sha256Hex(cr)}"
          val expected = SigV4.hmac(
            SigV4.signingKey(sk, dateStamp, creg, service), sts)
            .map(x => f"${x & 0xff}%02x").mkString
          java.security.MessageDigest.isEqual(
            expected.getBytes(StandardCharsets.US_ASCII),
            sig.getBytes(StandardCharsets.US_ASCII))
        case _ => false
      }
    }

    private def handle(ex: HttpExchange): Unit = {
      def send(code: Int, body: String): Unit = {
        val b = body.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(code, b.length.toLong)
        ex.getResponseBody.write(b)
        ex.close()
      }
      val authorized = requiredHeader.forall { case (k, v) =>
        Option(ex.getRequestHeaders.getFirst(k)).contains(v)
      }
      if (!authorized) { send(401, """{"error":"unauthorized"}"""); return }
      // body is consumed ONCE up front: SigV4 verification needs the
      // true payload hash, and the POST branches reuse the same bytes
      val bodyBytes =
        if (ex.getRequestMethod == "POST") ex.getRequestBody.readAllBytes()
        else Array.emptyByteArray
      if (!sigv4.forall { case (ak, sk, rg, svc) =>
            verifySigV4(ex, bodyBytes, ak, sk, rg, svc) }) {
        send(403, """{"error":"signature does not match"}"""); return
      }
      def applyPost(what: String)(
          apply: JsonNode => Either[(Int, String), JPath]): Unit = {
        val result =
          try {
            val req = mapper.readTree(bodyBytes)
            commitLock.synchronized(apply(req))
          } catch { case e: java.io.IOException =>
            Left(400 -> s"malformed $what body: ${e.getMessage}")
          }
        result match {
          case Right(mf) =>
            send(200, s"""{"metadata-location":"${mf.toUri}",
              |"metadata":${Files.readString(mf)}}""".stripMargin)
          case Left((code, msg)) =>
            send(code, s"""{"error":${mapper.writeValueAsString(msg)}}""")
        }
      }
      val path = ex.getRequestURI.getPath
      val tablePrefix = s"/v1/namespaces/$namespace/tables"
      path match {
        case "/v1/config" =>
          send(200, """{"defaults":{},"overrides":{}}""")
        case "/v1/namespaces" =>
          send(200, s"""{"namespaces":[["$namespace"]]}""")
        case `tablePrefix` if ex.getRequestMethod == "POST" =>
          // spec CreateTableRequest: name + schema (+ partition-spec) →
          // an EMPTY table (zero snapshots) whose first data commit
          // rides the same CAS as every other (main asserted absent)
          applyPost("create") { req =>
            val name = req.path("name").asText("")
            val dir = warehouse.resolve(name).normalize()
            if (name.isEmpty || name.contains("/") || name.contains("..") ||
                dir.getParent != warehouse)
              Left(400 -> "create needs a legal table name")
            else IcebergCommit.applyCreate(dir, req)
          }
        case `tablePrefix` =>
          val ids = tables.map(t =>
            s"""{"namespace":["$namespace"],"name":"$t"}""")
          send(200, s"""{"identifiers":[${ids.mkString(",")}]}""")
        case p if p.startsWith(tablePrefix + "/") =>
          val t = p.stripPrefix(tablePrefix + "/")
          // getPath percent-decodes, so a crafted ..%2F segment would
          // otherwise resolve OUTSIDE the warehouse and serve arbitrary
          // metadata files — only direct child directories are tables
          val dir = warehouse.resolve(t).normalize()
          val legalName = !t.contains("/") && !t.contains("..") &&
            dir.getParent == warehouse
          (if (legalName) currentMetadataFile(dir) else None) match {
            case Some(_) if ex.getRequestMethod == "POST" =>
              // spec CommitTableRequest: requirement validation and the
              // metadata swap are ATOMIC under the server's commit lock
              // — the linearization point 1000 optimistic writers
              // coordinate through
              applyPost("commit")(IcebergCommit.applyCommit(dir, _))
            case Some(mf) =>
              send(200, s"""{"metadata-location":"${mf.toUri}",
                |"metadata":${Files.readString(mf)}}""".stripMargin)
            case None => send(404, s"""{"error":"no such table $t"}""")
          }
        case _ => send(404, """{"error":"not found"}""")
      }
    }
  }
}

