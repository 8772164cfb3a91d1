package graft.sources.iceberg

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, regexp_replace}

import graft.sources.SnapshotLog
import graft.sources.SnapshotLog.{ByTimestamp, ByVersion, VersionSpec}

/** Minimal Apache Iceberg REST-catalog client + table reader, built from
  * the PUBLIC Iceberg REST OpenAPI and table-spec documents (endpoint
  * paths, table-metadata JSON fields, manifest Avro field names are all
  * spec-normative). This closes the gap the reference serves with
  * iceberg-rust (`crates/connectors/src/sources/iceberg.rs:1-120`:
  * REST catalog + OAuth + snapshot isolation + time travel) — the
  * official Iceberg runtime jars are absent in this environment, but the
  * catalog protocol is plain HTTP+JSON and the manifests are plain Avro
  * (on the classpath), so the read path needs no vendored engine:
  *
  *   REST `GET /v1/namespaces/{ns}/tables/{t}` → table metadata JSON →
  *   snapshot (current / id / tag / branch / timestamp, the reference's
  *   `TableVersionSpec` semantics shared with [[SnapshotLog]]) →
  *   manifest list (Avro) → manifests (Avro) → live data-file paths →
  *   `spark.read.parquet(paths)`.
  *
  * Scale notes: the catalog/metadata/manifest walk is driver-side and
  * proportional to MANIFEST count (metadata, not data); the data scan
  * itself is a plain distributed parquet scan, so predicate pushdown,
  * column pruning, and split planning all apply to the listed files.
  * Manifests are read through Hadoop `FsInput`, so manifest/data URIs
  * may use any registered filesystem scheme (file/http/s3a/...).
  *
  * Merge-on-read: BOTH v2 delete shapes are applied — positional
  * delete files (broadcast anti-join on Spark's `_metadata.file_path`/
  * `_metadata.row_index`, data sequence ≤ the delete's) and equality
  * delete files (null-safe broadcast anti-join on the `equality_ids`
  * columns resolved through the table schema, data sequence strictly
  * below the delete's) — so Flink/Trino-written tables with row-level
  * deletes read correctly.
  */
final case class IcebergSnapshot(snapshotId: Long, timestampMs: Long,
    manifestList: String,
    /** v2 `parent-snapshot-id` — the lineage edge branch fast-forward
      * checks ancestry along; None for root snapshots (or metadata
      * written before parent tracking). */
    parentId: Option[Long] = None,
    /** the spec's snapshot `summary` map (`operation` plus the
      * writer's statistics — `total-files-size`, `total-records`,
      * `added-files-size`, …). Carried verbatim: re-serializing
      * metadata must not strip another writer's stats, and
      * `total-files-size` feeds shuffle-width planning without a
      * manifest walk ([[graft.session.ShuffleWidth]]). */
    summary: Map[String, String] = Map.empty)

final case class IcebergTableMeta(
    location: String,
    currentSnapshotId: Option[Long],
    snapshots: Seq[IcebergSnapshot],
    /** ref name → (type: "tag" | "branch", snapshot id) */
    refs: Map[String, (String, Long)],
    /** per-ref retention overrides (v2 spec ref fields:
      * `min-snapshots-to-keep` / `max-snapshot-age-ms` on branches,
      * `max-ref-age-ms` on any non-main ref) — absent = table default */
    refRetention: Map[String, RefRetention] = Map.empty,
    /** the metadata's `snapshot-log` — the PUBLISHED lineage, one
      * (timestamp-ms, snapshot-id) entry per move of the main pointer
      * (initial commits, fast-forward publishes, rollbacks). Branch
      * (WAP audit) commits never appear here; a re-published snapshot
      * appears once per pointer move. The `history` metadata table is
      * served from this, not from `snapshots`. */
    snapshotLog: Seq[(Long, Long)] = Nil,
    /** current schema's top-level field id → column name (resolves an
      * equality delete's `equality_ids` to join columns) */
    fieldNames: Map[Int, String] = Map.empty,
    /** current schema as a Spark StructType with `parquet.field.id`
      * metadata on every top-level column — present when every column
      * maps to a Spark type; the read schema for `fieldIdReads`
      * (rename-safe schema evolution) */
    sparkSchema: Option[org.apache.spark.sql.types.StructType] = None,
    /** spec-id → partition fields (source ids resolved to column
      * names); feeds [[IcebergPrune]] */
    partitionSpecs: Map[Int, Seq[PartitionField]] = Map.empty,
    defaultSpecId: Int = 0)

/** The v2 spec's per-ref retention fields (snapshot-ref JSON):
  * `min-snapshots-to-keep` and `max-snapshot-age-ms` bound how much of
  * a BRANCH's lineage expiry may drop; `max-ref-age-ms` expires the
  * REF itself (never `main`). All optional — absent fields fall back
  * to the expire call's table-level arguments. */
final case class RefRetention(
    minSnapshotsToKeep: Option[Int] = None,
    maxSnapshotAgeMs: Option[Long] = None,
    maxRefAgeMs: Option[Long] = None)

/** A commit requirement failed (HTTP 409 from a catalog, or a local
  * metadata version taken first): another writer moved the table between
  * this writer's load and its commit. Re-load, re-prepare, retry. */
final class IcebergCommitConflict(msg: String)
    extends RuntimeException(msg)

/** REST catalog over `baseUrl` (e.g. `http://host:8181`); `headers` is
  * re-evaluated per request so OAuth bearer refresh (graft's
  * [[graft.sources.rest.RestAuth]]) plugs in directly. */
object IcebergRestCatalog {
  /** Per-request signing hook: returns the headers to attach for
    * (method, raw path, payload). Static-token and OAuth auth ride the
    * plain `headers` thunk; this exists for schemes that sign the
    * request itself. */
  trait RequestSigner {
    def sign(method: String, path: String,
        payload: Array[Byte]): Map[String, String]
  }

  /** AWS SigV4 request signing for the catalog — the reference's
    * AWS-IRSA-shaped auth mode (iceberg.rs:43-100 supports
    * OAuth2/static/AWS-IRSA); reuses the S3 signer
    * ([[graft.sources.s3.SigV4]]) with service `execute-api`, the
    * service name an API-Gateway-fronted catalog verifies against.
    * Signed headers: host, x-amz-content-sha256, x-amz-date. */
  final class SigV4Signer(host: String, accessKey: String,
      secretKey: String, region: String,
      service: String = "execute-api") extends RequestSigner {
    import graft.sources.s3.SigV4
    override def sign(method: String, path: String,
        payload: Array[Byte]): Map[String, String] = {
      val amzDate = SigV4.amzDateNow()
      val payloadHash = SigV4.sha256Hex(payload)
      val signed = Seq("host" -> host,
        "x-amz-content-sha256" -> payloadHash, "x-amz-date" -> amzDate)
      val auth = SigV4.authorization(method, path, Nil, signed,
        payloadHash, accessKey, secretKey, region, amzDate, service)
      Map("x-amz-date" -> amzDate,
        "x-amz-content-sha256" -> payloadHash,
        "Authorization" -> auth)
    }
  }
}

final class IcebergRestCatalog(baseUrl: String,
    headers: () => Map[String, String] = () => Map.empty,
    signer: Option[IcebergRestCatalog.RequestSigner] = None) {
  private val mapper = new ObjectMapper()
  private val base = baseUrl.stripSuffix("/")

  private def get(path: String): JsonNode = {
    val c = new URI(base + path).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setRequestMethod("GET")
    c.setConnectTimeout(15000)
    c.setReadTimeout(60000)
    headers().foreach { case (k, v) => c.setRequestProperty(k, v) }
    signer.foreach(_.sign("GET", path, Array.emptyByteArray)
      .foreach { case (k, v) => c.setRequestProperty(k, v) })
    try {
      val code = c.getResponseCode
      if (code >= 400)
        throw new java.io.IOException(s"GET $base$path: HTTP $code")
      val body = new String(c.getInputStream.readAllBytes(),
        StandardCharsets.UTF_8)
      mapper.readTree(body)
    } finally c.disconnect()
  }

  /** `GET /v1/config` — defaults/overrides maps (merged, overrides win). */
  def config(): Map[String, String] = {
    val n = get("/v1/config")
    def m(f: String): Map[String, String] = Option(n.get(f)).map { o =>
      val it = o.properties().iterator()
      Iterator.continually(it).takeWhile(_.hasNext)
        .map(_.next()).map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty)
    m("defaults") ++ m("overrides")
  }

  /** `GET /v1/namespaces` — multi-level namespaces joined with '.'. */
  def listNamespaces(): Seq[String] = {
    val n = get("/v1/namespaces")
    jsArr(n.get("namespaces")).map(ns =>
      jsArr(ns).map(_.asText()).mkString("."))
  }

  /** `GET /v1/namespaces/{ns}/tables` — table names. */
  def listTables(namespace: String): Seq[String] = {
    val n = get(s"/v1/namespaces/${enc(namespace)}/tables")
    jsArr(n.get("identifiers")).map(_.get("name").asText())
  }

  /** `GET /v1/namespaces/{ns}/tables/{t}` — the RAW inline metadata
    * document, for callers that need fields [[IcebergTableMeta]]
    * doesn't model (e.g. the current schema JSON a schema-evolution
    * commit copies-and-mutates). */
  def loadTableJson(namespace: String, table: String): JsonNode = {
    val n = get(s"/v1/namespaces/${enc(namespace)}/tables/${enc(table)}")
    Option(n.get("metadata")).getOrElse(
      throw new IllegalArgumentException(
        s"LoadTableResult for $namespace.$table has no inline metadata"))
  }

  /** `GET /v1/namespaces/{ns}/tables/{t}` — LoadTableResult's inline
    * `metadata` document. */
  def loadTable(namespace: String, table: String): IcebergTableMeta = {
    val n = get(s"/v1/namespaces/${enc(namespace)}/tables/${enc(table)}")
    val meta = Option(n.get("metadata")).getOrElse(
      throw new IllegalArgumentException(
        s"LoadTableResult for $namespace.$table has no inline metadata"))
    IcebergMetadata.parse(meta)
  }

  /** `POST /v1/namespaces/{ns}/tables/{t}` — the spec's
    * CommitTableRequest: requirements validated atomically against the
    * CURRENT table state, updates applied on success. A 409 (another
    * writer won the race) raises [[IcebergCommitConflict]] so callers
    * can re-prepare and retry — the optimistic-concurrency loop. */
  def commitTable(namespace: String, table: String,
      body: String): JsonNode =
    post(s"/v1/namespaces/${enc(namespace)}/tables/${enc(table)}", body,
      s"commit $namespace.$table")

  /** `POST /v1/namespaces/{ns}/tables` — the spec's CreateTableRequest:
    * an EMPTY table (zero snapshots) from a Spark schema, typed as the
    * iceberg struct with depth-first field ids, plus an optional
    * partition spec. A racing creator gets [[IcebergCommitConflict]]
    * (409) and should load-and-proceed — creation resolves exactly
    * like a commit race. */
  def createTable(namespace: String, table: String,
      schema: org.apache.spark.sql.types.StructType,
      partitionSpec: Option[Seq[PartitionField]] = None): JsonNode =
    post(s"/v1/namespaces/${enc(namespace)}/tables",
      mapper.writeValueAsString(IcebergCommit.createRequest(table,
        Some(schema), partitionSpec)),
      s"create $namespace.$table")

  private def post(path: String, body: String, label: String): JsonNode = {
    val c = new URI(base + path).toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setConnectTimeout(15000)
    c.setReadTimeout(60000)
    c.setRequestProperty("Content-Type", "application/json")
    headers().foreach { case (k, v) => c.setRequestProperty(k, v) }
    val payload = body.getBytes(StandardCharsets.UTF_8)
    signer.foreach(_.sign("POST", path, payload)
      .foreach { case (k, v) => c.setRequestProperty(k, v) })
    try {
      val out = c.getOutputStream
      out.write(payload)
      out.close()
      val code = c.getResponseCode
      def errBody = Option(c.getErrorStream)
        .map(s => new String(s.readAllBytes(), StandardCharsets.UTF_8))
        .getOrElse("")
      if (code == 409) throw new IcebergCommitConflict(errBody)
      if (code >= 400)
        throw new java.io.IOException(s"POST $label: HTTP $code $errBody")
      mapper.readTree(new String(c.getInputStream.readAllBytes(),
        StandardCharsets.UTF_8))
    } finally c.disconnect()
  }

  private def jsArr(n: JsonNode): Seq[JsonNode] = IcebergJson.arr(n)

  // the REST spec uses %1F as the namespace level separator; single-level
  // namespaces (the common case) need only plain encoding
  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")
}

/** Shared JSON/Avro plumbing for the iceberg module — one definition of
  * the node-iteration and Avro-container loops. */
private[iceberg] object IcebergJson {
  def arr(n: JsonNode): Seq[JsonNode] =
    Option(n).toSeq.flatMap { a =>
      val it = a.elements(); Iterator.continually(it)
        .takeWhile(_.hasNext).map(_.next()).toSeq
    }
}

private[iceberg] object IcebergAvro {
  def read(uri: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[GenericRecord] = {
    val in = new FsInput(new org.apache.hadoop.fs.Path(uri), conf)
    val reader = DataFileReader.openReader(in,
      new GenericDatumReader[GenericRecord]())
    try {
      val out = Seq.newBuilder[GenericRecord]
      while (reader.hasNext) out += reader.next()
      out.result()
    } finally reader.close() // closes the FsInput too
  }
}

object IcebergMetadata {
  /** Parse the spec's table-metadata JSON: snapshots, current pointer,
    * refs (tags/branches). Fields we don't need (schemas, partition
    * specs, sort orders) are intentionally not modeled — the parquet
    * footer is schema-authoritative for the read path. */
  def parse(meta: JsonNode): IcebergTableMeta = {
    val snaps = IcebergJson.arr(meta.get("snapshots")).map { s =>
      IcebergSnapshot(
        snapshotId = s.get("snapshot-id").asLong(),
        timestampMs = s.get("timestamp-ms").asLong(),
        manifestList = s.get("manifest-list").asText(),
        parentId = Option(s.get("parent-snapshot-id"))
          .filterNot(_.isNull).map(_.asLong()),
        summary = Option(s.get("summary")).map { sm =>
          val it = sm.properties().iterator()
          Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
            .map(e => e.getKey -> e.getValue.asText()).toMap
        }.getOrElse(Map.empty))
    }
    val refEntries = Option(meta.get("refs")).map { r =>
      val it = r.properties().iterator()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
    }.getOrElse(Nil)
    val refs = refEntries.map { e =>
      e.getKey -> (e.getValue.get("type").asText(),
        e.getValue.get("snapshot-id").asLong())
    }.toMap
    val refRetention = refEntries.flatMap { e =>
      val v = e.getValue
      val r = RefRetention(
        Option(v.get("min-snapshots-to-keep")).map(_.asInt()),
        Option(v.get("max-snapshot-age-ms")).map(_.asLong()),
        Option(v.get("max-ref-age-ms")).map(_.asLong()))
      if (r == RefRetention()) None else Some(e.getKey -> r)
    }.toMap
    val currentSchemaId =
      Option(meta.get("current-schema-id")).map(_.asInt()).getOrElse(0)
    val curFields = IcebergJson.arr(meta.get("schemas"))
      .find(s => Option(s.get("schema-id")).forall(_.asInt() == currentSchemaId))
      .toSeq.flatMap(s => IcebergJson.arr(s.get("fields")))
    val fieldNames = curFields
      .flatMap(f => for (id <- Option(f.get("id")); n <- Option(f.get("name")))
        yield id.asInt() -> n.asText())
      .toMap
    // partition-specs: transforms keyed by spec-id, source-ids resolved
    // to column names through the current schema. A field whose source
    // id the schema doesn't know is DROPPED (not failed): the pruner
    // simply gains no information from it.
    val specs = IcebergJson.arr(meta.get("partition-specs")).flatMap { sp =>
      Option(sp.get("spec-id")).map(_.asInt()).map { id =>
        id -> IcebergJson.arr(sp.get("fields")).flatMap { f =>
          for {
            name <- Option(f.get("name")).map(_.asText())
            transform <- Option(f.get("transform")).map(_.asText())
            srcId <- Option(f.get("source-id")).map(_.asInt())
            srcName <- fieldNames.get(srcId)
          } yield PartitionField(name, srcName, transform)
        }
      }
    }.toMap
    IcebergTableMeta(
      location = Option(meta.get("location")).map(_.asText()).getOrElse(""),
      currentSnapshotId = Option(meta.get("current-snapshot-id"))
        .map(_.asLong()).filter(_ > 0),
      snapshots = snaps,
      refs = refs,
      refRetention = refRetention,
      snapshotLog = IcebergJson.arr(meta.get("snapshot-log")).flatMap { e =>
        for (t <- Option(e.get("timestamp-ms"));
             s <- Option(e.get("snapshot-id")))
          yield (t.asLong(), s.asLong())
      },
      fieldNames = fieldNames,
      sparkSchema = sparkSchemaOf(curFields),
      partitionSpecs = specs,
      defaultSpecId = Option(meta.get("default-spec-id"))
        .map(_.asInt()).getOrElse(0))
  }

  private val DecimalRe = """decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r

  /** Iceberg primitive type string → Spark type; None for nested or
    * unknown types (the caller then reads by name from the footers). */
  private def sparkTypeOf(n: JsonNode): Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    if (!n.isTextual) return None // nested struct/list/map: footer path
    n.asText() match {
      case "boolean" => Some(BooleanType)
      case "int" => Some(IntegerType)
      case "long" => Some(LongType)
      case "float" => Some(FloatType)
      case "double" => Some(DoubleType)
      case "date" => Some(DateType)
      case "timestamptz" => Some(TimestampType)
      case "timestamp" => Some(TimestampNTZType)
      case "string" | "uuid" => Some(StringType)
      case "binary" => Some(BinaryType)
      case DecimalRe(p, s) => Some(DecimalType(p.toInt, s.toInt))
      case _ => None
    }
  }

  private def sparkSchemaOf(fields: Seq[JsonNode])
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    if (fields.isEmpty) return None
    val mapped = fields.map { f =>
      for {
        id <- Option(f.get("id")).map(_.asInt())
        name <- Option(f.get("name")).map(_.asText())
        dt <- Option(f.get("type")).flatMap(sparkTypeOf)
      } yield StructField(name, dt,
        nullable = !f.path("required").asBoolean(false),
        metadata = new MetadataBuilder()
          .putLong("parquet.field.id", id.toLong).build())
    }
    if (mapped.forall(_.isDefined)) Some(StructType(mapped.flatten))
    else None
  }

  /** Resolve a version spec to a snapshot — the same contract as
    * [[SnapshotLog.resolve]] (and the reference's `TableVersionSpec`):
    * current head, numeric snapshot id, tag, branch head, or latest
    * snapshot at-or-before a timestamp. */
  def select(meta: IcebergTableMeta,
      spec: Option[VersionSpec]): IcebergSnapshot = {
    def byId(id: Long): IcebergSnapshot =
      meta.snapshots.find(_.snapshotId == id).getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot with id $id (have ${
            meta.snapshots.map(_.snapshotId).sorted.mkString(", ")})"))
    spec match {
      case None =>
        byId(meta.currentSnapshotId.getOrElse(
          throw new IllegalArgumentException(
            "table has no current snapshot (empty table)")))
      case Some(ByVersion(v)) =>
        require(v.nonEmpty, "version cannot be empty")
        v.toLongOption match {
          case Some(id) =>
            require(id > 0, s"Snapshot ID must be positive, got $id")
            byId(id)
          case None =>
            meta.refs.get(v) match {
              case Some((_, id)) => byId(id)
              case None => throw new IllegalArgumentException(
                s"no snapshot tagged or branched '$v'")
            }
        }
      case Some(ByTimestamp(ms)) =>
        require(ms <= System.currentTimeMillis(),
          s"Timestamp cannot be in the future: $ms")
        val atOrBefore = meta.snapshots.filter(_.timestampMs <= ms)
        if (atOrBefore.isEmpty)
          throw new IllegalArgumentException(
            s"no snapshot at or before timestamp $ms (earliest is ${
              meta.snapshots.map(_.timestampMs).minOption.getOrElse(-1L)})")
        atOrBefore.maxBy(s => (s.timestampMs, s.snapshotId))
    }
  }
}

/** One equality delete file: path, data sequence number, and the spec
  * field ids of its equality columns (empty = every column in the
  * delete file is an equality column, the common writer shape). */
final case class EqualityDeleteFile(path: String, seq: Long,
    equalityIds: Seq[Int])

/** One live data file with the metadata that prunes it: its partition
  * tuple (partition field name → value, dates as epoch-day Int),
  * per-field-id min/max bounds (spec single-value binary), and size
  * (drives plan statistics for the lazy scan leaf). */
final case class IcebergDataFile(path: String, seq: Long, specId: Int,
    partition: Map[String, Any] = Map.empty,
    lowerBounds: Map[Int, Array[Byte]] = Map.empty,
    upperBounds: Map[Int, Array[Byte]] = Map.empty,
    sizeBytes: Long = 0L,
    /** spec value_counts / null_value_counts: IS [NOT] NULL evidence */
    valueCounts: Map[Int, Long] = Map.empty,
    nullCounts: Map[Int, Long] = Map.empty,
    recordCount: Long = 0L,
    /** spec data_file content id: 0 = data, 1 = position deletes,
      * 2 = equality deletes (delete entries surface through the
      * `files`/`partitions` inspection tables — the MoR-debt signal
      * an operator reads to decide when to compact) */
    content: Int = 0)

/** One snapshot's file inventory: live data files and the delete files
  * that apply to them, each with its data sequence number (the v2
  * ordering that decides WHICH data files a delete can see).
  * `dataEntries` carries the same data files WITH their pruning
  * metadata; `dataFiles` stays the (path, seq) view the MoR join uses. */
final case class IcebergScanFiles(
    dataFiles: Seq[(String, Long)],
    positionDeletes: Seq[(String, Long)],
    equalityDeletes: Seq[EqualityDeleteFile] = Nil,
    dataEntries: Seq[IcebergDataFile] = Nil,
    /** delete files WITH their inspection metadata (content 1/2) — the
      * `files`/`partitions` metadata tables' delete accounting; the MoR
      * read path keeps using the two narrow views above */
    deleteEntries: Seq[IcebergDataFile] = Nil)

object IcebergManifests {
  /** Walk snapshot → manifest list → manifests → live files. Avro field
    * names are spec-normative: `manifest_path`/`content`/sequence fields
    * in the manifest list, `status`/`data_file.{content,file_path}` in
    * manifest entries. Entries with status 2 (DELETED) are dropped.
    * Delete manifests (content=1) are walked like data manifests:
    * positional delete files (data_file content=1) are returned for
    * merge-on-read application; EQUALITY delete files (content=2) are
    * still refused loudly — silently ignoring them would return deleted
    * rows as live data.
    *
    * Sequence numbers follow the spec's inheritance rules: an entry's
    * own `sequence_number` wins when present (merged/compacted
    * manifests re-record EXISTING entries with their ORIGINAL data
    * sequence — the lineage equality deletes gate on); a null sequence
    * on an ADDED entry inherits the manifest's `sequence_number`; a
    * null on an EXISTING/DELETED entry (spec-illegal, but seen in the
    * wild) falls back to the manifest's `min_sequence_number`, the
    * conservative lower bound. */
  def scanFiles(spark: SparkSession, manifestList: String,
      extraConf: Map[String, String] = Map.empty): IcebergScanFiles = {
    // per-source Hadoop conf entries (fs.s3a credentials, fs.<scheme>.impl)
    // apply to the driver-side manifest walk exactly as they do to the
    // distributed scan — a private copy so they never leak session-wide
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    extraConf.foreach { case (k, v) => conf.set(k, v) }
    val manifests = readAvro(manifestList, conf).map { r =>
      val mseq = longField(r, "sequence_number").getOrElse(0L)
      val minSeq = longField(r, "min_sequence_number").getOrElse(mseq)
      (r.get("manifest_path").toString, mseq, minSeq,
        intField(r, "content").getOrElse(0),
        intField(r, "partition_spec_id").getOrElse(0))
    }
    val data = Seq.newBuilder[(String, Long)]
    val entries = Seq.newBuilder[IcebergDataFile]
    val posDeletes = Seq.newBuilder[(String, Long)]
    val eqDeletes = Seq.newBuilder[EqualityDeleteFile]
    val delEntries = Seq.newBuilder[IcebergDataFile]
    manifests.foreach { case (mf, mseq, minSeq, manifestContent, specId) =>
      readAvro(mf, conf).foreach { entry =>
        val status = intField(entry, "status").getOrElse(1)
        val seq = longField(entry, "sequence_number")
          .getOrElse(if (status == 1) mseq else minSeq)
        val df = entry.get("data_file").asInstanceOf[GenericRecord]
        // entry content wins when it says delete; a 0/absent entry in a
        // DELETE manifest (content=1) is still a delete file — the
        // manifest-list content id describes everything it carries
        val fileContent = intField(df, "content").filter(_ > 0)
          .getOrElse(math.max(manifestContent, 0))
        if (status != 2) fileContent match { // 2 = DELETED: not in snapshot
          case 0 =>
            val path = df.get("file_path").toString
            data += ((path, seq))
            entries += IcebergDataFile(path, seq, specId,
              partitionOf(df), boundsOf(df, "lower_bounds"),
              boundsOf(df, "upper_bounds"),
              longField(df, "file_size_in_bytes").getOrElse(0L),
              countsOf(df, "value_counts"),
              countsOf(df, "null_value_counts"),
              longField(df, "record_count").getOrElse(0L))
          case 1 =>
            val path = df.get("file_path").toString
            posDeletes += ((path, seq))
            delEntries += IcebergDataFile(path, seq, specId,
              partitionOf(df), sizeBytes =
                longField(df, "file_size_in_bytes").getOrElse(0L),
              recordCount = longField(df, "record_count").getOrElse(0L),
              content = 1)
          case 2 =>
            val ids = Option(df.getSchema.getField("equality_ids"))
              .flatMap(_ => Option(df.get("equality_ids"))).toSeq
              .flatMap(_.asInstanceOf[java.util.List[_]].asScala
                .map(_.asInstanceOf[Number].intValue()))
            val path = df.get("file_path").toString
            eqDeletes += EqualityDeleteFile(path, seq, ids)
            delEntries += IcebergDataFile(path, seq, specId,
              partitionOf(df), sizeBytes =
                longField(df, "file_size_in_bytes").getOrElse(0L),
              recordCount = longField(df, "record_count").getOrElse(0L),
              content = 2)
          case other => throw new IllegalArgumentException(
            s"unknown data_file content id $other in manifest $mf")
        }
      }
    }
    IcebergScanFiles(data.result(), posDeletes.result(), eqDeletes.result(),
      entries.result(), delEntries.result())
  }

  /** Entry's partition tuple (record field name → value; Avro Utf8
    * normalized to String). Absent/null partition → empty (no pruning
    * information — never an error). */
  private def partitionOf(df: GenericRecord): Map[String, Any] =
    if (df.getSchema.getField("partition") == null) Map.empty
    else Option(df.get("partition")).collect { case r: GenericRecord =>
      r.getSchema.getFields.asScala.map { f =>
        f.name() -> (r.get(f.name()) match {
          case u: org.apache.avro.util.Utf8 => u.toString
          case other => other
        })
      }.toMap
    }.getOrElse(Map.empty)

  /** Entry's bound map (`lower_bounds`/`upper_bounds`): field id →
    * bytes. Accepts both Avro map shape and the spec's array-of-
    * key_value-records shape (what real writers produce). */
  private def boundsOf(df: GenericRecord, field: String)
      : Map[Int, Array[Byte]] = {
    def bytes(v: Any): Array[Byte] = v match {
      case b: java.nio.ByteBuffer =>
        val d = b.duplicate()
        val out = new Array[Byte](d.remaining())
        d.get(out); out
      case a: Array[Byte] => a
      case other => other.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8)
    }
    if (df.getSchema.getField(field) == null) Map.empty
    else Option(df.get(field)).map {
      case l: java.util.List[_] =>
        l.asScala.collect { case r: GenericRecord =>
          r.get("key").asInstanceOf[Number].intValue() -> bytes(r.get("value"))
        }.toMap
      case m: java.util.Map[_, _] =>
        m.asScala.map { case (k, v) =>
          k.toString.toInt -> bytes(v)
        }.toMap
      case _ => Map.empty[Int, Array[Byte]]
    }.getOrElse(Map.empty)
  }

  /** Entry's count map (`value_counts`/`null_value_counts`): field id →
    * count; both the array-of-key_value and Avro-map shapes. */
  private def countsOf(df: GenericRecord, field: String): Map[Int, Long] =
    if (df.getSchema.getField(field) == null) Map.empty
    else Option(df.get(field)).map {
      case l: java.util.List[_] =>
        l.asScala.collect { case r: GenericRecord =>
          r.get("key").asInstanceOf[Number].intValue() ->
            r.get("value").asInstanceOf[Number].longValue()
        }.toMap
      case m: java.util.Map[_, _] =>
        m.asScala.map { case (k, v) =>
          k.toString.toInt -> v.asInstanceOf[Number].longValue()
        }.toMap
      case _ => Map.empty[Int, Long]
    }.getOrElse(Map.empty)

  /** Compatibility wrapper: live data-file paths of an append-only
    * snapshot; refuses if the snapshot carries deletes. */
  def dataFiles(spark: SparkSession, manifestList: String,
      extraConf: Map[String, String] = Map.empty): Seq[String] = {
    val s = scanFiles(spark, manifestList, extraConf)
    require(s.positionDeletes.isEmpty && s.equalityDeletes.isEmpty,
      s"snapshot carries delete files; use scanFiles for MoR reads")
    s.dataFiles.map(_._1)
  }

  private def intField(r: GenericRecord, name: String): Option[Int] =
    if (r.getSchema.getField(name) == null) None
    else Option(r.get(name)).map(_.asInstanceOf[Number].intValue())

  private def longField(r: GenericRecord, name: String): Option[Long] =
    if (r.getSchema.getField(name) == null) None
    else Option(r.get(name)).map(_.asInstanceOf[Number].longValue())

  private def readAvro(uri: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[GenericRecord] =
    IcebergAvro.read(uri, conf)
}

object IcebergRest {
  /** Read one table at an optional version: catalog → metadata →
    * snapshot → file inventory → distributed parquet scan, with
    * positional merge-on-read deletes applied. `options` travel to both
    * the manifest walk (Hadoop conf) and the parquet read, and a
    * declared `schema` applies like any other registered source's.
    *
    * MoR shape at scale: the delete relation ((file_path, pos) pairs —
    * two narrow columns, typically ≪ the data) is BROADCAST and the
    * data side anti-joins against it on Spark's own parquet metadata
    * columns (`_metadata.file_path`, `_metadata.row_index` — the exact
    * spec semantics of a positional delete, no row-id bookkeeping of our
    * own), so the data scan stays a map-only pass: no shuffle, pushdown
    * and pruning untouched. The v2 sequence gate rides the join
    * condition: a delete applies only to data files whose data sequence
    * number is ≤ the delete file's. */
  def read(spark: SparkSession, catalog: IcebergRestCatalog,
      namespace: String, table: String,
      spec: Option[VersionSpec] = None,
      options: Map[String, String] = Map.empty,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val meta = catalog.loadTable(namespace, table)
    readMeta(spark, meta, spec, options, schema, s"$namespace.$table")
  }

  /** Live-data byte volume of a table at a version — the catalog-side
    * input-size statistic [[graft.session.ShuffleWidth]] plans reduce
    * width from when a table has no local data directory to walk
    * (federated/REST-registered sessions). Snapshot-summary-first: the
    * spec's `total-files-size` answers with zero I/O beyond the
    * metadata the registration already fetched; absent that (another
    * writer that skips stats), one metadata-only manifest walk sums
    * `file_size_in_bytes` over the snapshot's live data files. An
    * empty table (no current snapshot) is None, never an error —
    * width planning treats unknown as "no contribution". */
  def tableSizeBytes(spark: SparkSession, catalog: IcebergRestCatalog,
      namespace: String, table: String,
      spec: Option[VersionSpec] = None,
      options: Map[String, String] = Map.empty): Option[Long] =
    scala.util.Try {
      val meta = catalog.loadTable(namespace, table)
      val snap = IcebergMetadata.select(meta, spec)
      snap.summary.get("total-files-size").flatMap(_.toLongOption)
        .getOrElse(IcebergManifests
          .scanFiles(spark, snap.manifestList, options)
          .dataEntries.map(_.sizeBytes).sum)
    }.toOption.filter(_ > 0L)

  /** Read a LOCALLY committed table (no catalog server) at an optional
    * version — the maintenance-side read path (compaction, upsert
    * verification), sharing the full merge-on-read delete application
    * with the REST path. */
  def readLocal(spark: SparkSession, tableDir: java.nio.file.Path,
      spec: Option[VersionSpec] = None,
      options: Map[String, String] = Map.empty): DataFrame = {
    val meta = IcebergLocal.currentMetadata(tableDir).getOrElse(
      throw new IllegalArgumentException(s"no committed table at $tableDir"))
    readMeta(spark, meta, spec, options, None, tableDir.toString)
  }

  /** INCREMENTAL append scan — Iceberg's incremental read
    * (`start-snapshot-id`/`end-snapshot-id`): the rows ADDED strictly
    * after snapshot `fromSnapshotId` (0 = since the beginning), up to
    * and including `toSnapshotId` (default: the current head). The
    * consumer pattern every downstream pipeline runs — "give me what
    * landed since my last checkpoint" — without rereading the table.
    *
    * Computed as a FILE-SET DIFF between the two snapshots' manifests
    * (driver-side metadata only): added files are scanned, nothing
    * else. Correctness guards, both loud:
    *   - a file REMOVED in the window (compaction/replace rewrote the
    *     table) makes "appended rows" undefined — refused;
    *   - a DELETE file added in the window (row-level delete/upsert)
    *     likewise — refused; the CDC upsert path is the right read for
    *     merge histories. Delete files from BEFORE the window are fine:
    *     their sequence gates can never reach the window's data files.
    *
    * At 100 TB the scheduled scan is exactly the new files — an
    * incremental consumer's cost tracks its lag, not the table size. */
  def readIncremental(spark: SparkSession, tableDir: java.nio.file.Path,
      fromSnapshotId: Long, toSnapshotId: Option[Long] = None,
      options: Map[String, String] = Map.empty): DataFrame = {
    val meta = IcebergLocal.currentMetadata(tableDir).getOrElse(
      throw new IllegalArgumentException(s"no committed table at $tableDir"))
    readIncrementalMeta(spark, meta, fromSnapshotId, toSnapshotId, options)
  }

  /** Incremental append scan THROUGH the REST catalog — the same
    * file-set-diff planning on a catalog-served table (one metadata
    * load, then the manifest walk from shared storage). The streaming
    * changelog source tails catalog tables with this. */
  def readIncremental(spark: SparkSession, catalog: IcebergRestCatalog,
      namespace: String, table: String, fromSnapshotId: Long,
      toSnapshotId: Option[Long],
      options: Map[String, String]): DataFrame =
    readIncrementalMeta(spark, catalog.loadTable(namespace, table),
      fromSnapshotId, toSnapshotId, options)

  /** Default window end for incremental/changelog reads: the MAIN ref
    * head (falling back to the current pointer), never the raw max
    * snapshot id — an unpublished WAP branch can own the highest id,
    * and walking its lineage would leak audit commits as changes while
    * silently dropping main commits after the fork point. Same rule
    * IcebergChangeSource pins for the streaming path. */
  private def mainHeadId(meta: IcebergTableMeta): Long =
    meta.refs.get("main").map(_._2)
      .orElse(meta.currentSnapshotId)
      .getOrElse(throw new IllegalArgumentException(
        "incremental read: table has no main ref or current snapshot"))

  private def readIncrementalMeta(spark: SparkSession,
      meta: IcebergTableMeta, fromSnapshotId: Long,
      toSnapshotId: Option[Long],
      options: Map[String, String]): DataFrame = {
    def snapOf(id: Long): IcebergSnapshot =
      meta.snapshots.find(_.snapshotId == id).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot $id not in table history (have ${
            meta.snapshots.map(_.snapshotId).sorted.mkString(", ")})"))
    val to = snapOf(toSnapshotId.getOrElse(mainHeadId(meta)))
    val toScan = IcebergManifests.scanFiles(spark, to.manifestList)
    val fromScan =
      if (fromSnapshotId == 0L) IcebergScanFiles(Nil, Nil)
      else IcebergManifests.scanFiles(
        spark, snapOf(fromSnapshotId).manifestList)
    val fromPaths = fromScan.dataFiles.map(_._1).toSet
    val toPaths = toScan.dataFiles.map(_._1).toSet
    val removed = fromPaths -- toPaths
    if (removed.nonEmpty) throw new IllegalArgumentException(
      s"incremental read ($fromSnapshotId, ${to.snapshotId}]: the window " +
        s"rewrites ${removed.size} file(s) (compaction/replace) — " +
        "appended rows are undefined across a rewrite; read the head")
    val newDeletes =
      (toScan.positionDeletes.map(_._1).toSet --
        fromScan.positionDeletes.map(_._1).toSet) ++
        (toScan.equalityDeletes.map(_.path).toSet --
          fromScan.equalityDeletes.map(_.path).toSet)
    if (newDeletes.nonEmpty) throw new IllegalArgumentException(
      s"incremental read ($fromSnapshotId, ${to.snapshotId}]: the window " +
        s"commits ${newDeletes.size} delete file(s) — appended rows are " +
        "ill-defined under row-level deletes; use readChanges (the CDC " +
        "changelog read, which emits the deletions as first-class rows)")
    val added = toScan.dataFiles.map(_._1).filterNot(fromPaths)
    if (added.isEmpty) {
      val st = meta.sparkSchema.getOrElse(
        spark.read.parquet(toScan.dataFiles.head._1).schema)
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), st)
    } else {
      val df = spark.read.parquet(added: _*)
      options.get("filter").fold(df)(df.where)
    }
  }

  /** CDC CHANGELOG read — Iceberg's create_changelog_view shape: every
    * row-level change committed in the (from, to] snapshot window,
    * tagged `_change_type` = 'insert' | 'delete' (an update arrives as
    * its delete+insert pair, exactly how v2 upserts commit). This is
    * the read the incremental scan hands delete-carrying windows to:
    * [[readIncremental]] refuses them because "appended rows" is the
    * wrong question there; here deletions are first-class output.
    * Non-net semantics (a row inserted and deleted inside the window
    * appears twice, once per change) — the spec procedure's default.
    *
    * Plan shape at scale: inserts are a scan of exactly the window's
    * ADDED data files; deletions materialize only the rows the
    * window's added DELETE files name — position deletes name their
    * target files outright (so only those files are scanned, gated on
    * the v2 sequence rule data_seq ≤ delete_seq), equality deletes
    * scan the files their sequence can see (data_seq < delete_seq)
    * with a broadcast semi-join on the key columns. Cost tracks the
    * window's churn, never the table size. Windows that REWRITE files
    * (compaction/replace) are refused loudly — a rewrite is not a
    * logical change, and attributing its file shuffle to inserts or
    * deletes would fabricate changes; run changelog reads against
    * non-rewritten history, as the spec procedure requires. */
  def readChanges(spark: SparkSession, tableDir: java.nio.file.Path,
      fromSnapshotId: Long, toSnapshotId: Option[Long] = None,
      options: Map[String, String] = Map.empty): DataFrame = {
    val meta = IcebergLocal.currentMetadata(tableDir).getOrElse(
      throw new IllegalArgumentException(s"no committed table at $tableDir"))
    readChangesMeta(spark, meta, fromSnapshotId, toSnapshotId, options)
  }

  /** Changelog read THROUGH the REST catalog. */
  def readChanges(spark: SparkSession, catalog: IcebergRestCatalog,
      namespace: String, table: String, fromSnapshotId: Long,
      toSnapshotId: Option[Long],
      options: Map[String, String]): DataFrame =
    readChangesMeta(spark, catalog.loadTable(namespace, table),
      fromSnapshotId, toSnapshotId, options)

  private def readChangesMeta(spark: SparkSession, meta: IcebergTableMeta,
      fromSnapshotId: Long, toSnapshotId: Option[Long],
      options: Map[String, String]): DataFrame = {
    import spark.implicits._
    def snapOf(id: Long): IcebergSnapshot =
      meta.snapshots.find(_.snapshotId == id).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot $id not in table history (have ${
            meta.snapshots.map(_.snapshotId).sorted.mkString(", ")})"))
    val to = snapOf(toSnapshotId.getOrElse(mainHeadId(meta)))
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    // the window is DECOMPOSED PER SNAPSHOT along the lineage (walking
    // parent-snapshot-id from `to` back to `from`), so every change row
    // is attributed to the exact commit that made it: _change_ordinal
    // is the commit's position in the window (0-based, oldest first),
    // _commit_snapshot_id the snapshot — the spec changelog's columns.
    // Per-segment planning costs one driver-side manifest walk per
    // commit; the DATA scanned is still only each commit's added files
    // and its deletes' named targets.
    val lineage = Iterator.iterate(Option(to))(
        _.flatMap(s => s.parentId.flatMap(byId.get)))
      .takeWhile(_.isDefined).flatten
      .takeWhile(s => s.snapshotId != fromSnapshotId).toSeq.reverse
    if (fromSnapshotId != 0L && lineage.nonEmpty) {
      snapOf(fromSnapshotId) // known id, loud otherwise
      val reached = lineage.headOption.flatMap(_.parentId)
        .contains(fromSnapshotId)
      if (!reached) throw new IllegalArgumentException(
        s"changelog read ($fromSnapshotId, ${to.snapshotId}]: " +
          s"$fromSnapshotId is not on the published lineage of " +
          s"${to.snapshotId} — the table was rolled back or the branch " +
          "rewritten; reset the consumer to a lineage snapshot")
    }
    val dataColsSrc = meta.sparkSchema.map(_.fieldNames.toSeq)
      .orElse(IcebergManifests.scanFiles(spark, to.manifestList)
        .dataFiles.headOption.map(f =>
          spark.read.parquet(f._1).schema.fieldNames.toSeq))
      .getOrElse(throw new IllegalArgumentException(
        "changelog read: table has no schema and no data files"))
    val emptyChanges = {
      val st = changesSchema(meta.sparkSchema.getOrElse(
        spark.read.parquet(IcebergManifests
          .scanFiles(spark, to.manifestList).dataFiles.head._1).schema))
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), st)
    }
    var prevScan =
      if (fromSnapshotId == 0L) IcebergScanFiles(Nil, Nil)
      else IcebergManifests.scanFiles(
        spark, snapOf(fromSnapshotId).manifestList)
    val segments = lineage.zipWithIndex.flatMap { case (snap, ordinal) =>
      val curScan = IcebergManifests.scanFiles(spark, snap.manifestList)
      val out = segmentChanges(spark, meta, prevScan, curScan,
        dataColsSrc, ordinal, snap.snapshotId, fromSnapshotId)
      prevScan = curScan
      out
    }
    val all = segments.reduceOption(_ union _).getOrElse(emptyChanges)
    if (options.get("net").exists(_.toBoolean)) netChanges(all, dataColsSrc)
    else all
  }

  /** `net=true` (the spec procedure's net_changes): collapse the
    * window's churn to its NET effect per row content — a row inserted
    * and deleted inside the window disappears, k extra copies of a
    * duplicate row emit k net inserts. One hash aggregation keyed on
    * the row content (the only shuffle in the changelog path, and only
    * in net mode); the surviving rows carry the LAST contributing
    * change's ordinal/snapshot so a consumer still knows when the net
    * state was reached. */
  private def netChanges(changes: DataFrame,
      dataCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{abs => sqlAbs, explode, lit,
      max_by, sequence, struct, sum, when}
    changes
      .groupBy(dataCols.map(col): _*)
      .agg(
        sum(when(col("_change_type") === "insert", 1).otherwise(-1))
          .as("__net"),
        max_by(struct(col("_change_ordinal"), col("_commit_snapshot_id")),
          col("_change_ordinal")).as("__last"))
      .where(col("__net") =!= 0)
      .withColumn("__copy",
        explode(sequence(lit(1), sqlAbs(col("__net")).cast("int"))))
      .select(dataCols.map(col) ++ Seq(
        when(col("__net") > 0, "insert").otherwise("delete")
          .as("_change_type"),
        col("__last._change_ordinal").as("_change_ordinal"),
        col("__last._commit_snapshot_id").as("_commit_snapshot_id")): _*)
  }

  /** The changelog output schema: the table's columns + the spec
    * changelog metadata columns. */
  def changesSchema(
      base: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    base.add("_change_type", StringType, nullable = false)
      .add("_change_ordinal", IntegerType, nullable = false)
      .add("_commit_snapshot_id", LongType, nullable = false)
  }

  /** One commit's changes: inserts from its added data files, deletes
    * from the rows its added delete files name. */
  private def segmentChanges(spark: SparkSession, meta: IcebergTableMeta,
      prevScan: IcebergScanFiles, curScan: IcebergScanFiles,
      dataCols: Seq[String], ordinal: Int, snapshotId: Long,
      fromSnapshotId: Long): Seq[DataFrame] = {
    import spark.implicits._
    def tagCols(changeType: String) =
      dataCols.map(col) ++ Seq(
        lit(changeType).as("_change_type"),
        lit(ordinal).as("_change_ordinal"),
        lit(snapshotId).as("_commit_snapshot_id"))
    val prevPaths = prevScan.dataFiles.map(_._1).toSet
    val removed = prevPaths -- curScan.dataFiles.map(_._1).toSet
    if (removed.nonEmpty) throw new IllegalArgumentException(
      s"changelog read: snapshot $snapshotId rewrites ${removed.size} " +
        "file(s) (compaction/replace) — a rewrite is not a logical " +
        "change; read a window that does not cross the rewrite")
    // INSERTS: this commit's added data files
    val addedData = curScan.dataFiles.map(_._1).filterNot(prevPaths)
    val inserts =
      if (addedData.isEmpty) None
      else Some(spark.read.parquet(addedData: _*).select(tagCols("insert"): _*))
    // DELETES: rows named by this commit's added delete files, read
    // back from their (still-live) target data files
    val dataSeq = curScan.dataFiles.toDF("d_file", "d_seq")
      .withColumn("d_file", normPath(col("d_file")))
    val newPosDel = curScan.positionDeletes.filterNot(
      prevScan.positionDeletes.toSet)
    val posDeleted =
      if (newPosDel.isEmpty) None
      else {
        val delSeq = newPosDel.toDF("del_src", "del_seq")
          .withColumn("del_src", normPath(col("del_src")))
        val delRows = spark.read.parquet(newPosDel.map(_._1): _*)
          .select(normPath(col("file_path")).as("del_file"),
            col("pos").cast("long").as("del_pos"),
            normPath(col("_metadata.file_path")).as("del_src"))
          .join(broadcast(delSeq), "del_src")
          .select(col("del_file"), col("del_pos"), col("del_seq"))
        // the delete files NAME their targets — scan only those files.
        // Driver-side distinct of file paths: bounded by the table's
        // FILE count (the same cardinality the manifest walk already
        // materializes on the driver), never by row count.
        val targets = delRows.select("del_file").distinct()
          .as[String].collect().toSet
        val targetFiles = curScan.dataFiles.filter(f =>
          targets.contains(normPathStr(f._1)))
        if (targetFiles.isEmpty) None
        else Some(spark.read.parquet(targetFiles.map(_._1): _*)
          .withColumn("__graft_file", normPath(col("_metadata.file_path")))
          .withColumn("__graft_pos", col("_metadata.row_index"))
          .join(broadcast(dataSeq), col("__graft_file") === col("d_file"))
          .join(broadcast(delRows),
            col("__graft_file") === col("del_file") &&
              col("__graft_pos") === col("del_pos") &&
              col("d_seq") <= col("del_seq"), "left_semi")
          .select(tagCols("delete"): _*))
      }
    val prevEqPaths = prevScan.equalityDeletes.map(_.path).toSet
    val newEqDel = curScan.equalityDeletes.filterNot(f =>
      prevEqPaths(f.path))
    val eqDeleted = newEqDel.groupBy(_.equalityIds).toSeq.flatMap {
      case (ids, files) =>
        val eqCols: Seq[String] = ids.map(id =>
          meta.fieldNames.getOrElse(id,
            throw new IllegalArgumentException(
              s"equality delete references unknown field id $id")))
        val maxSeq = files.map(_.seq).max
        // only files the deletes' sequence can see (strict <)
        val candidates = curScan.dataFiles.filter(_._2 < maxSeq)
        if (candidates.isEmpty) None
        else {
          val delSeq = files.map(f => (f.path, f.seq))
            .toDF("del_src", "del_seq")
            .withColumn("del_src", normPath(col("del_src")))
          val del = spark.read.parquet(files.map(_.path): _*)
            .select(eqCols.map(c => col(c).as(s"__eq_$c")) :+
              normPath(col("_metadata.file_path")).as("del_src"): _*)
            .join(broadcast(delSeq), "del_src")
            .drop("del_src")
          val cond = eqCols.map(c => col(c) <=> col(s"__eq_$c"))
            .reduce(_ && _) && col("d_seq") < col("del_seq")
          Some(spark.read.parquet(candidates.map(_._1): _*)
            .withColumn("__graft_file", normPath(col("_metadata.file_path")))
            .join(broadcast(dataSeq), col("__graft_file") === col("d_file"))
            .join(broadcast(del), cond, "left_semi")
            .select(tagCols("delete"): _*))
        }
    }
    inserts.toSeq ++ posDeleted.toSeq ++ eqDeleted
  }

  /** Iceberg METADATA TABLES — the inspection surface real lakes query
    * (`SELECT * FROM t.snapshots`): `snapshots` (id, committed-at,
    * manifest list), `history` (snapshot-log with is-current), `refs`
    * (branches + tags with their pinned snapshot),
    * `files` (per live file — data AND delete, with the spec's content
    * id: path, rows, bytes, spec id, JSON-rendered partition tuple),
    * `partitions` (per partition tuple: data file/row totals plus
    * position/equality delete file and record counts — the number an
    * operator reads to decide when to compact MoR debt). All
    * DRIVER-side metadata walks — the
    * manifest read the data path already does, zero data I/O — then a
    * tiny local DataFrame; at 100 TB these answer "what would this
    * query scan" without scanning it. */
  def metaTable(spark: SparkSession, tableDir: java.nio.file.Path,
      kind: String, spec: Option[VersionSpec] = None): DataFrame = {
    val meta = IcebergLocal.currentMetadata(tableDir).getOrElse(
      throw new IllegalArgumentException(s"no committed table at $tableDir"))
    metaTableOf(spark, meta, kind, spec)
  }

  /** Metadata tables THROUGH the REST catalog — the same inspection
    * surface on a catalog-served table (`snapshots`/`history`/`refs`
    * need only the loaded metadata document; `files`/`partitions` walk
    * the snapshot's manifests from shared storage exactly as the read
    * path does). */
  def metaTable(spark: SparkSession, catalog: IcebergRestCatalog,
      namespace: String, table: String, kind: String,
      spec: Option[VersionSpec]): DataFrame =
    metaTableOf(spark, catalog.loadTable(namespace, table), kind, spec)

  def metaTable(spark: SparkSession, catalog: IcebergRestCatalog,
      namespace: String, table: String, kind: String): DataFrame =
    metaTable(spark, catalog, namespace, table, kind, None)

  private def metaTableOf(spark: SparkSession, meta: IcebergTableMeta,
      kind: String, spec: Option[VersionSpec]): DataFrame = {
    import spark.implicits._
    kind match {
      case "snapshots" =>
        meta.snapshots.sortBy(_.snapshotId)
          .map(s => (s.timestampMs, s.snapshotId, s.manifestList))
          .toDF("committed_at_ms", "snapshot_id", "manifest_list")
      case "history" =>
        // Served from the snapshot-log (the published main lineage),
        // NOT from `snapshots`: WAP branch commits are retained
        // snapshots but were never current, and a rollback/fast-forward
        // re-publication appears once per pointer move. `is_current` is
        // true only for the final log entry (the live head). Metadata
        // written without a snapshot-log (external minimal fixtures)
        // falls back to the snapshots list in commit order.
        val rows =
          if (meta.snapshotLog.nonEmpty)
            meta.snapshotLog.zipWithIndex.map { case ((ts, id), i) =>
              (ts, id, i == meta.snapshotLog.size - 1)
            }
          else meta.snapshots.sortBy(_.snapshotId).map(s =>
            (s.timestampMs, s.snapshotId,
              meta.currentSnapshotId.contains(s.snapshotId)))
        rows.toDF("made_current_at_ms", "snapshot_id", "is_current")
      case "refs" =>
        // every named ref (branches + tags) with its pinned snapshot —
        // what `SELECT * FROM t.refs` answers on a real lake
        meta.refs.toSeq.sortBy(_._1)
          .map { case (name, (tpe, id)) => (name, tpe, id) }
          .toDF("name", "type", "snapshot_id")
      case "files" | "partitions" =>
        val snap = IcebergMetadata.select(meta, spec)
        val scan = IcebergManifests.scanFiles(spark, snap.manifestList)
        def tupleJson(p: Map[String, Any]): String =
          p.toSeq.sortBy(_._1).map { case (k, v) =>
            val rendered = v match {
              case null => "null"
              case s: String => // valid JSON for identity-on-string specs
                "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
              case other => other.toString
            }
            s""""$k":$rendered"""
          }.mkString("{", ",", "}")
        if (kind == "files")
          // data AND delete files (content 0/1/2) — the delete entries
          // are the MoR debt a maintenance operator reads to decide
          // when to compact (rewrite_position_deletes / compact)
          (scan.dataEntries ++ scan.deleteEntries)
            .sortBy(e => (e.content, e.path))
            .map(e => (e.path, e.content, e.recordCount, e.sizeBytes,
              e.specId, tupleJson(e.partition)))
            .toDF("file_path", "content", "record_count",
              "file_size_in_bytes", "spec_id", "partition")
        else {
          val dataG = scan.dataEntries.groupBy(e => tupleJson(e.partition))
          val delG = scan.deleteEntries.groupBy(e => tupleJson(e.partition))
          (dataG.keySet ++ delG.keySet).toSeq.sorted.map { t =>
            val ds = dataG.getOrElse(t, Nil)
            val dels = delG.getOrElse(t, Nil)
            val pos = dels.filter(_.content == 1)
            val eqs = dels.filter(_.content == 2)
            (t, ds.size.toLong, ds.map(_.recordCount).sum,
              pos.size.toLong, pos.map(_.recordCount).sum,
              eqs.size.toLong, eqs.map(_.recordCount).sum)
          }.toDF("partition", "file_count", "record_count",
            "position_delete_file_count", "position_delete_record_count",
            "equality_delete_file_count", "equality_delete_record_count")
        }
      case other => throw new IllegalArgumentException(
        s"unknown metadata table '$other' " +
          "(snapshots | history | refs | files | partitions)")
    }
  }

  private[iceberg] def readMeta(spark: SparkSession, meta: IcebergTableMeta,
      spec: Option[VersionSpec], options: Map[String, String],
      schema: Option[org.apache.spark.sql.types.StructType],
      label: String): DataFrame = {
    val snap = IcebergMetadata.select(meta, spec)
    val fullScan = IcebergManifests.scanFiles(spark, snap.manifestList,
      options - "filter" - "fieldIdReads")
    if (fullScan.dataFiles.isEmpty)
      throw new IllegalArgumentException(
        s"snapshot ${snap.snapshotId} of $label lists no data files")
    // `filter=<sql>`: scan-time predicate — the reference provider's
    // shape, where pushed filters arrive WITH the scan request
    // (`provider.rs:39-120`). Files whose partition tuple or column
    // bounds provably exclude the predicate are dropped BEFORE the
    // distributed read is planned (manifest metadata only, no data
    // I/O); the surviving rows still get the full predicate applied, so
    // pruning precision never changes results. At 100 TB this is the
    // difference between opening every footer of a date-partitioned
    // table and opening one day's worth.
    val filterSql = options.get("filter")
    val scan = filterSql match {
      case Some(f) =>
        val pruneSchema = schema.orElse(meta.sparkSchema).getOrElse(
          spark.read.parquet(fullScan.dataFiles.head._1).schema)
        IcebergPrune.prune(spark, fullScan, meta, pruneSchema, f)
      case None => fullScan
    }
    val result =
      if (scan.dataFiles.isEmpty) {
        // every file pruned away: an empty frame with the table schema
        val st = schema.orElse(meta.sparkSchema).getOrElse(
          spark.read.parquet(fullScan.dataFiles.head._1).schema)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), st)
      } else readScan(spark, scan, meta, options, schema)
    // pruning keeps only files that MIGHT match; the predicate itself
    // still applies row-wise (and commutes with the MoR anti-joins)
    filterSql.fold(result)(result.where)
  }

  /** Distributed read of an (optionally pruned) file inventory —
    * schema-evolution handling, the parquet scan, MoR delete
    * application. Shared by the eager path ([[readMeta]]) and the lazy
    * auto-prune leaf ([[graft.plans.IcebergPruneRule]]), so both read
    * identically.
    *
    * `fieldIdReads=true`: schema-evolution mode — the read schema comes
    * from the table metadata WITH its field ids, and Spark's parquet
    * reader matches columns BY ID (how every real Iceberg reader
    * works), so renamed columns resolve against files written under
    * the old name. Requires data files stamped with field ids
    * ([[IcebergLocal.withFieldIds]]; real Iceberg writers always
    * stamp) — an id-less file fails loudly rather than reading nulls.
    * Spark consults the flag as a SESSION conf at scan build (i.e. at
    * execution, not plan time), so it cannot be set-and-restored around
    * this call; it is scoped to an ISOLATED session instead (same
    * SparkContext and cached data, own SQLConf — the returned frame
    * executes under its own session). The caller's session never sees
    * the flag, so a later plain-parquet read of id-stamped files keeps
    * resolving by name. */
  private[graft] def readScan(spark: SparkSession, scan: IcebergScanFiles,
      meta: IcebergTableMeta, options: Map[String, String],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    val evolve = options.get("fieldIdReads").exists(_.toBoolean)
    val readSchema =
      if (schema.isDefined) schema
      else if (evolve) Some(meta.sparkSchema.getOrElse(
        throw new IllegalArgumentException(
          "fieldIdReads: the table schema has non-primitive columns " +
            "the field-id path cannot map; read without the option")))
      else None
    val sess = if (evolve) {
      val s = spark.newSession()
      s.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      s
    } else spark
    val r = sess.read.options(options - "fieldIdReads" - "filter")
    val base = readSchema.fold(r)(r.schema)
      .parquet(scan.dataFiles.map(_._1): _*)
    if (scan.positionDeletes.isEmpty && scan.equalityDeletes.isEmpty) base
    else applyDeletes(sess, base, scan, meta.fieldNames)
  }

  /** LAZY registry read: wrap the file inventory in a
    * [[graft.plans.IcebergScanPlan]] leaf that
    * [[graft.plans.IcebergPruneRule]] resolves at optimization time —
    * so a `spark.table("lake_t").where(...)` prunes files from the
    * query's OWN predicate, with no explicit `filter` option. Returns
    * None (→ caller falls back to the eager read) when the session has
    * no graft extensions installed (nothing would resolve the leaf),
    * when an explicit `filter`/`fieldIdReads` option asks for the eager
    * semantics, or when the snapshot lists no data files (the eager
    * path owns that error message). */
  def readLazy(spark: SparkSession, catalog: IcebergRestCatalog,
      namespace: String, table: String,
      spec: Option[VersionSpec] = None,
      options: Map[String, String] = Map.empty,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : Option[DataFrame] = {
    if (options.contains("filter") ||
        options.get("fieldIdReads").exists(_.toBoolean)) return None
    val hasRule = spark.sessionState.analyzer.extendedResolutionRules
      .exists(_.isInstanceOf[graft.plans.RowPolicyRule])
    if (!hasRule) return None
    val meta = catalog.loadTable(namespace, table)
    val snap = IcebergMetadata.select(meta, spec)
    val scan = IcebergManifests.scanFiles(spark, snap.manifestList, options)
    if (scan.dataFiles.isEmpty) return None
    // the metadata schema carries parquet.field.id markers (for the
    // evolve path); a by-NAME read schema must not — Spark refuses
    // id-expecting schemas over id-less files
    val st = org.apache.spark.sql.types.StructType(
      schema.orElse(meta.sparkSchema).getOrElse(
        spark.read.options(options).parquet(scan.dataFiles.head._1).schema)
      .fields.map(f => f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove("parquet.field.id").build())))
    val output = st.fields.toSeq.map(f =>
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        f.name, f.dataType, f.nullable, f.metadata)())
    Some(org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
      graft.plans.IcebergScanPlan(s"$namespace.$table", meta, scan,
        options, tableSchema = st, output = output)))
  }

  /** Manifest paths and Spark's `_metadata.file_path` can render the
    * same local file as `file:/p` vs `file:///p`; canonicalize the
    * authority-less file-scheme spelling so the (file, pos) join keys
    * agree. Non-file schemes (s3a://bucket/...) pass through. */
  private def normPath(c: org.apache.spark.sql.Column) =
    regexp_replace(c, "^file:/+", "file:/")

  /** Driver-side twin of [[normPath]] for comparing manifest paths
    * against column-normalized ones. */
  private def normPathStr(p: String): String =
    p.replaceFirst("^file:/+", "file:/")

  /** Apply the snapshot's merge-on-read deletes: tag each data row with
    * its file and sequence number (Spark's own parquet metadata
    * columns — no row-id bookkeeping), then one broadcast anti-join per
    * delete relation. Positional deletes match (file, pos) for data
    * sequence ≤ the delete's; equality deletes match the equality
    * columns null-safely (`<=>` — the spec treats null as equal to
    * null) for data sequence STRICTLY BELOW the delete's. All delete
    * relations are dimension-sized and broadcast, so the data scan
    * stays a map-only pass. */
  private def applyDeletes(spark: SparkSession, base: DataFrame,
      scan: IcebergScanFiles, fieldNames: Map[Int, String]): DataFrame = {
    import spark.implicits._
    val dataCols = base.columns
    val dataSeq = scan.dataFiles.toDF("d_file", "d_seq")
      .withColumn("d_file", normPath(col("d_file")))
    var tagged = base
      .withColumn("__graft_file", normPath(col("_metadata.file_path")))
      .withColumn("__graft_pos", col("_metadata.row_index"))
      .join(broadcast(dataSeq), col("__graft_file") === col("d_file"))
    if (scan.positionDeletes.nonEmpty) {
      // the delete rows: spec columns (file_path, pos), tagged with
      // their carrying file's sequence number
      val delSeq = scan.positionDeletes.toDF("del_src", "del_seq")
        .withColumn("del_src", normPath(col("del_src")))
      val delRows = spark.read.parquet(scan.positionDeletes.map(_._1): _*)
        .select(normPath(col("file_path")).as("del_file"),
          col("pos").cast("long").as("del_pos"),
          normPath(col("_metadata.file_path")).as("del_src"))
        .join(broadcast(delSeq), "del_src")
        .select(col("del_file"), col("del_pos"), col("del_seq"))
      tagged = tagged.join(broadcast(delRows),
        col("__graft_file") === col("del_file") &&
          col("__graft_pos") === col("del_pos") &&
          col("d_seq") <= col("del_seq"),
        "left_anti")
    }
    // equality deletes group by their equality column set; each group is
    // one broadcast anti-join on those columns
    scan.equalityDeletes.groupBy(_.equalityIds).foreach { case (ids, files) =>
      val eqCols: Seq[String] =
        if (ids.nonEmpty) ids.map(id => fieldNames.getOrElse(id,
          throw new IllegalArgumentException(
            s"equality delete references unknown field id $id " +
              s"(schema has ${fieldNames.keys.toSeq.sorted.mkString(", ")})")))
        else spark.read.parquet(files.map(_.path): _*).columns.toSeq
      val missing = eqCols.filterNot(dataCols.contains)
      if (missing.nonEmpty) throw new IllegalArgumentException(
        s"equality delete columns ${missing.mkString(", ")} absent from " +
          "the data schema")
      val delSeq = files.map(f => (f.path, f.seq)).toDF("del_src", "del_seq")
        .withColumn("del_src", normPath(col("del_src")))
      val del = spark.read.parquet(files.map(_.path): _*)
        .select(eqCols.map(c => col(c).as(s"__eq_$c")) :+
          normPath(col("_metadata.file_path")).as("del_src"): _*)
        .join(broadcast(delSeq), "del_src")
        .drop("del_src")
      val cond = eqCols.map(c => col(c) <=> col(s"__eq_$c"))
        .reduce(_ && _) && col("d_seq") < col("del_seq")
      tagged = tagged.join(broadcast(del), cond, "left_anti")
    }
    tagged.select(dataCols.map(col): _*)
  }
}
