package graft.sources.iceberg

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException,
  Path => JPath}
import scala.jdk.CollectionConverters._

import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.spark.sql.types.StructType

/** The one Iceberg write path. Every change to a table — an append,
  * a branch publish, a rollback, a cherry-pick, snapshot expiry, ref
  * retention, a schema change and each maintenance rewrite — is one
  * CommitTableRequest of the Iceberg REST OpenAPI (`requirements` the
  * current metadata must meet, `updates` applied in order), built as a
  * Jackson tree, and [[applyCommit]] is the only code that turns such a
  * request into the next `vN.metadata.json`.
  *
  * A [[Target]] names the table and how its requests are published:
  *  - [[local]] applies the request in-process and publishes version N+1
  *    by hard-linking it into place. A writer whose version was taken by
  *    another one lost the race and gets [[IcebergCommitConflict]];
  *  - [[rest]] POSTs the request to a catalog. [[IcebergLocal.CatalogServer]]
  *    runs the same applier under its commit lock.
  *
  * Appends, ref retention and schema changes rebuild a request that lost
  * the compare-and-swap (CAS) against the new head and retry. Rewrites
  * (compaction, position-delete rewrites, row deletes) and pointer moves
  * (fast-forward, rollback, cherry-pick, expiry) never retry: they were
  * decided against a head that no longer exists, so the conflict
  * propagates for the caller to re-decide. A lost attempt's manifest
  * files carry a per-attempt suffix, stay unreferenced and are reclaimed
  * by [[IcebergMaintenance.vacuum]].
  *
  * The reference's Iceberg connector only reads (iceberg.rs delegates
  * writes to engines); this is graft's write side.
  */
object IcebergCommit {

  private val mapper = new ObjectMapper()

  /** A table as the next request is built from it: the raw metadata
    * tree and its parsed view. */
  final case class Base(root: ObjectNode, meta: IcebergTableMeta)

  private def base(root: ObjectNode): Base =
    Base(root, IcebergMetadata.parse(root))

  /** The table at `dir`, committed in-process. */
  def local(dir: JPath): Target = new Target(dir) {
    protected def label: String = dir.toString
    protected def load(): Option[Base] =
      currentRoot(dir).map { case (_, root) => base(root) }
    protected def create(schema: Option[StructType],
        spec: Option[Seq[PartitionField]]): Base =
      base(createRoot(dir,
        createRequest(dir.getFileName.toString, schema, spec)))
    protected def publish(b: Base, request: ObjectNode): Unit =
      applyCommit(dir, request, ifAbsent = Some(b.root)) match {
        case Right(_) => ()
        case Left((409, msg)) => throw new IcebergCommitConflict(msg)
        case Left((_, msg)) => throw new IllegalArgumentException(msg)
      }
  }

  /** `namespace.table` of `catalog`, whose data and manifests live under
    * `tableDir` (shared storage the catalog's readers also reach). */
  def rest(catalog: IcebergRestCatalog, namespace: String, table: String,
      tableDir: JPath): Target = new Target(tableDir) {
    protected def label: String = s"$namespace.$table"
    protected def load(): Option[Base] =
      try Some(base(catalog.loadTableJson(namespace, table)
        .asInstanceOf[ObjectNode]))
      catch {
        // only a 404 means "not created yet": any other failure
        // propagates instead of racing a second create
        case e: java.io.IOException
            if Option(e.getMessage).exists(_.contains("HTTP 404")) => None
      }
    protected def create(schema: Option[StructType],
        spec: Option[Seq[PartitionField]]): Base = {
      // a racing creator winning resolves like any lost CAS
      try catalog.createTable(namespace, table,
        schema.getOrElse(new StructType()), spec)
      catch { case _: IcebergCommitConflict => () }
      load().getOrElse(throw new IllegalStateException(
        s"$label is absent right after its create"))
    }
    protected def publish(b: Base, request: ObjectNode): Unit = {
      catalog.commitTable(namespace, table,
        mapper.writeValueAsString(request))
      ()
    }
  }

  /** One table and the operations that change it, each written once
    * against [[load]] and [[publish]]. */
  abstract class Target(val tableDir: JPath) {
    protected def label: String
    /** The current metadata; None before the table exists. */
    protected def load(): Option[Base]
    /** The metadata an absent table's first commit builds on. */
    protected def create(schema: Option[StructType],
        spec: Option[Seq[PartitionField]]): Base
    /** Publish `request`, built against `base`; a failed requirement
      * raises [[IcebergCommitConflict]]. */
    protected def publish(base: Base, request: ObjectNode): Unit

    /** The table's current metadata; None before its first commit. */
    def metadata(): Option[IcebergTableMeta] = load().map(_.meta)

    private[iceberg] def current(): Base = load().getOrElse(
      throw new IllegalArgumentException(s"no committed table at $label"))

    /** The one CAS loop: build a request against the current metadata
      * (`absent` supplies it for a table that does not exist yet),
      * publish it, and rebuild it against the new head after a lost
      * CAS, at most `maxRetries` times; with 0 the conflict itself
      * propagates. A build that yields no request commits nothing. */
    private def commit[A](maxRetries: Int, absent: => Base = current())(
        build: Base => (Option[ObjectNode], A)): A = {
      var attempt = 0
      while (true) {
        val b = load().getOrElse(absent)
        val (request, result) = build(b)
        try {
          request.foreach(publish(b, _))
          return result
        } catch {
          case e: IcebergCommitConflict =>
            if (maxRetries == 0) throw e
            attempt += 1
            if (attempt > maxRetries) throw new IllegalStateException(
              s"commit of $label lost the CAS race $maxRetries times; " +
                "raise maxRetries or reduce writer contention")
        }
      }
      throw new IllegalStateException("unreachable")
    }

    /** Commit `files` as a new snapshot (the table is created by its
      * first append) and return the snapshot id. The snapshot carries
      * the parent's manifests (the fast-append shape, merged past
      * [[IcebergLocal.MergeManifestsAbove]]) plus one new manifest, and
      * its summary records the added and total file sizes and records.
      *
      * @param timestampMs the commit time (fixed in tests, wall clock in
      *   production)
      * @param tag also name the new snapshot with this tag
      * @param retainLast expire history in the same commit: only the
      *   newest n snapshots stay, refs on expired snapshots go, and the
      *   expired manifest lists and the metadata versions that predate
      *   every survivor are deleted. Data files and manifests stay.
      * @param schema the committed rows' schema; one that differs from
      *   the table's current schema is added and made current
      * @param replace commit `files` as the table's whole file set (no
      *   prior manifest carried) — how compaction publishes a rewrite
      *   while earlier snapshots stay travelable
      * @param partitionSpec the spec `files` were written under
      *   ([[IcebergPartitioned]]); an identical prior spec is reused,
      *   anything else is added as the new default. Requires `schema`.
      * @param dropPositionDeletes the rewrite-position-deletes shape:
      *   carried position-delete files are dropped (`files` replace
      *   them), data and equality-delete lineage is carried untouched
      * @param branch write-audit-publish: commit to this branch, forking
      *   from main when it is new. Main, the current snapshot and the
      *   snapshot log stay untouched until [[fastForward]] publishes it.
      * @param sortOrder the write order of `files` (identity, ascending,
      *   nulls first), registered as the default sort order. Requires
      *   `schema`.
      * @param assertMainAt require main at this snapshot instead of the
      *   head loaded at commit time — for files computed from an
      *   earlier read
      * @param maxRetries CAS retries of a plain append; rewrites
      *   (`replace`, `dropPositionDeletes`) never retry */
    def append(files: Seq[IcebergLocal.DataFileInfo], timestampMs: Long,
        tag: Option[String] = None, retainLast: Option[Int] = None,
        schema: Option[StructType] = None, replace: Boolean = false,
        partitionSpec: Option[Seq[PartitionField]] = None,
        dropPositionDeletes: Boolean = false,
        branch: Option[String] = None,
        sortOrder: Option[Seq[String]] = None,
        assertMainAt: Option[Long] = None, maxRetries: Int = 10): Long = {
      require(!((replace || dropPositionDeletes) && branch.isDefined),
        "rewrite commits target main; audit a compaction by running it " +
          "after publish, not on a branch")
      val rewrite = replace || dropPositionDeletes
      commit(if (rewrite) 0 else maxRetries, create(schema, partitionSpec)) {
        b =>
        val meta = b.meta
        val ids = meta.snapshots.map(_.snapshotId)
        val snapId = ids.maxOption.getOrElse(0L) + 1
        val mainRef = meta.refs.get("main").map(_._2)
        // the commit builds on its ref's head: the branch (main for a
        // fresh one) or main — never the newest snapshot, which may be
        // an unpublished branch head or a rolled-past snapshot
        val mainHead = mainRef.orElse(ids.maxOption)
        val branchHead = branch.flatMap(br => meta.refs.get(br).map(_._2))
        val parent =
          if (branch.isDefined) branchHead.orElse(mainHead) else mainHead
        // spec-less commits resolve the unpartitioned spec through the
        // same rule, so a manifest's declared spec always matches its
        // partition struct
        val specId = IcebergLocal.resolveSpecId(Some(meta),
          partitionSpec.getOrElse(Nil))
        val list = IcebergLocal.writeSnapshotFiles(tableDir, Some(meta),
          files, snapId, replace, partitionSpec, schema, attemptSuffix(),
          specId, dropPositionDeletes, parent)
        val (schemaCas, schemaUpdates, schemaId) = schema match {
          case Some(st) if !currentSchema(b.root)
              .exists(_.path("fields") == structNode(st).path("fields")) =>
            val (cas, upd, id) = schemaChange(b.root, structNode(st))
            (Seq(cas), upd, id)
          case _ => (Nil, Nil, b.root.path("current-schema-id").asInt(0))
        }
        val sourceIds = schema.map(IcebergLocal.topLevelFieldIds)
          .getOrElse(meta.fieldNames.map(_.swap))
        val specUpdates =
          if (!meta.partitionSpecs.contains(specId)) {
            val fields = partitionSpec.getOrElse(Nil).map(f => obj(
              "name" -> f.name, "transform" -> f.transform,
              "source-id" -> sourceIds.getOrElse(f.sourceColumn,
                throw new IllegalArgumentException(
                  s"partition source column '${f.sourceColumn}' absent " +
                    "from the schema"))))
            // an unpartitioned shape registered for a spec-less commit
            // is not spec evolution: the default stays where it was
            obj("action" -> "add-spec",
              "spec" -> obj("spec-id" -> specId, "fields" -> fields)) +:
              partitionSpec.toSeq.map(_ =>
                obj("action" -> "set-default-spec", "spec-id" -> -1))
          } else if (partitionSpec.isDefined && meta.defaultSpecId != specId)
            Seq(obj("action" -> "set-default-spec", "spec-id" -> specId))
          else Nil
        val sortUpdates = sortOrder.toSeq.flatMap(cols =>
          sortOrderUpdates(b.root, cols, schema))
        val parentTotals = parent
          .flatMap(p => meta.snapshots.find(_.snapshotId == p))
          .map(_.summary).getOrElse(Map.empty)
        def total(k: String): Long =
          parentTotals.get(k).flatMap(_.toLongOption).getOrElse(0L)
        val addedSize = files.map(_.sizeBytes).sum
        val addedRecords = files.filter(_.content == 0).map(_.recordCount).sum
        val snapshot = obj("snapshot-id" -> snapId,
          "sequence-number" -> snapId, "parent-snapshot-id" -> parent,
          "timestamp-ms" -> timestampMs,
          "manifest-list" -> list.toUri.toString, "schema-id" -> schemaId,
          "summary" -> obj(
            "operation" -> (if (rewrite) "replace" else "append"),
            "added-files-size" -> addedSize.toString,
            "added-records" -> addedRecords.toString,
            "total-files-size" -> (total("total-files-size") + addedSize)
              .toString,
            "total-records" -> (total("total-records") + addedRecords)
              .toString))
        val refUpdates =
          setRef(b.root, branch.getOrElse("main"), "branch", snapId) +:
            tag.toSeq.map(setRef(b.root, _, "tag", snapId))
        val expiry = retainLast.toSeq.flatMap { n =>
          val kept = ids.sorted.takeRight(math.max(n - 1, 0)).toSet
          // main stays where a branch commit left it
          val expired = ids.filterNot(id => kept(id) ||
            (branch.isDefined && mainRef.contains(id))).sorted
          val dropped = meta.refs.collect {
            case (name, (_, id)) if expired.contains(id) && name != "main" &&
                !branch.contains(name) && !tag.contains(name) => name
          }
          removals(dropped, expired)
        }
        // the CAS: main for a main commit; the branch for a branch
        // commit, plus main still at the fork point for a fresh branch
        // (forking off a moved head would silently miss its rows)
        val cas = branch match {
          case None => Seq(assertRef("main", assertMainAt.orElse(mainRef)))
          case Some(br) if branchHead.isDefined =>
            Seq(assertRef(br, branchHead))
          case Some(br) => Seq(assertRef(br, None), assertRef("main", mainRef))
        }
        (Some(request(cas ++ schemaCas, schemaUpdates ++ specUpdates ++
          sortUpdates ++ (obj("action" -> "add-snapshot",
            "snapshot" -> snapshot) +: refUpdates) ++ expiry)), snapId)
      }
    }

    /** Publish a branch — the fast-forward half of write-audit-publish:
      * move main to `fromRef`'s head, logged at `timestampMs` (the
      * operation time, not the head's creation time). Main's head must
      * be an ancestor of the branch head: publishing a diverged main
      * would silently unpublish its commits. Returns the published id. */
    def fastForward(fromRef: String,
        timestampMs: Long = System.currentTimeMillis()): Long =
      commit(0) { b =>
        val meta = b.meta
        val target = meta.refs.get(fromRef).map(_._2).getOrElse(
          throw new IllegalArgumentException(
            s"no ref '$fromRef' on $label (have ${
              meta.refs.keys.toSeq.sorted.mkString(", ")})"))
        val mainHead = meta.refs.get("main").map(_._2)
        if (!mainHead.forall(ancestors(meta, target).contains))
          throw new IllegalArgumentException(
            s"not a fast-forward: main (${mainHead.getOrElse(-1L)}) is not " +
              s"an ancestor of '$fromRef' ($target) — main has diverged; " +
              "cherry-pick or rebase the branch instead")
        (Some(request(Seq(assertRef("main", mainHead)),
          Seq(setRef(b.root, "main", "branch", target, Some(timestampMs))))),
          target)
      }

    /** Roll main back to a retained ancestor (Iceberg's
      * `rollback_to_snapshot`), logged at `timestampMs`. The rolled-past
      * snapshots stay travelable until expiry, and the next append
      * builds on the target. A snapshot that is not an ancestor of main
      * — an unpublished branch head — is refused: that move is
      * [[fastForward]] or [[cherryPick]]. */
    def rollbackTo(snapshotId: Long,
        timestampMs: Long = System.currentTimeMillis()): Long =
      commit(0) { b =>
        val meta = b.meta
        if (!meta.snapshots.exists(_.snapshotId == snapshotId))
          throw new IllegalArgumentException(
            s"no snapshot $snapshotId on $label (have ${
              meta.snapshots.map(_.snapshotId).sorted.mkString(", ")})")
        val mainRef = meta.refs.get("main").map(_._2)
        val mainHead = mainRef.orElse(meta.currentSnapshotId)
        if (!mainHead.exists(ancestors(meta, _).contains(snapshotId)))
          throw new IllegalArgumentException(
            s"cannot roll back to $snapshotId: not an ancestor of the " +
              s"current main head (${mainHead.getOrElse(-1L)}) — rolling " +
              "back to an unpublished branch snapshot would publish " +
              "unaudited data; fast-forward or cherry-pick the branch instead")
        (Some(request(Seq(assertRef("main", mainRef)), Seq(
          setRef(b.root, "main", "branch", snapshotId, Some(timestampMs))))),
          snapshotId)
      }

    /** Cherry-pick a branch head onto a diverged main: a new main
      * snapshot carrying main's manifests plus exactly the manifests the
      * branch head added (reused, re-stamped with the new sequence
      * number so main's earlier deletes never apply to them). Only a
      * pure fast-append head qualifies, and one already on main's
      * lineage is refused — applying it again would duplicate rows. */
    def cherryPick(fromRef: String, timestampMs: Long): Long =
      commit(0) { b =>
        val meta = b.meta
        val target = meta.refs.get(fromRef).map(_._2).getOrElse(
          throw new IllegalArgumentException(
            s"no ref '$fromRef' on $label (have ${
              meta.refs.keys.toSeq.sorted.mkString(", ")})"))
        val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
        val snap = byId(target)
        val conf = new org.apache.hadoop.conf.Configuration()
        val headEntries = IcebergAvro.read(snap.manifestList, conf)
        val parentEntries = snap.parentId.flatMap(byId.get).toSeq
          .flatMap(ps => IcebergAvro.read(ps.manifestList, conf))
        def path(r: GenericRecord): String = r.get("manifest_path").toString
        def num(r: GenericRecord, f: String): Long =
          r.get(f).asInstanceOf[Number].longValue()
        val added = headEntries.filter(num(_, "added_snapshot_id") == target)
        // pure fast-append, both directions: only brand-new manifests
        // added (a merged carry re-records EXISTING entries), nothing
        // the parent carried dropped (replace / position-delete rewrite)
        val pureAppend = added.forall(r =>
          num(r, "existing_files_count") == 0 &&
            num(r, "deleted_files_count") == 0) &&
          headEntries.map(path).toSet ==
            parentEntries.map(path).toSet ++ added.map(path)
        if (!pureAppend) throw new IllegalArgumentException(
          s"cannot cherry-pick '$fromRef' ($target): not a pure " +
            "fast-append snapshot — it rewrote, merged, or dropped carried " +
            "manifests; replay the rewrite against main instead")
        val mainRef = meta.refs.get("main").map(_._2)
        val mainHead = mainRef.orElse(meta.currentSnapshotId)
        if (mainHead.exists(ancestors(meta, _).contains(target)))
          throw new IllegalArgumentException(
            s"cannot cherry-pick '$fromRef' ($target): already an ancestor " +
              s"of main's head (${mainHead.getOrElse(-1L)}) — applying it " +
              "again would duplicate its rows")
        val mainEntries = mainHead.flatMap(byId.get).toSeq
          .flatMap(ms => IcebergAvro.read(ms.manifestList, conf))
        val mainPaths = mainEntries.map(path).toSet
        val dupPaths = added.map(path).filter(mainPaths.contains)
        if (dupPaths.nonEmpty) throw new IllegalArgumentException(
          s"cannot cherry-pick '$fromRef' ($target): ${dupPaths.size} of " +
            s"its added manifests already live in main's head (e.g. ${
              dupPaths.head}) — applying it again would duplicate rows")
        val newId = byId.keys.max + 1
        val listSchema = IcebergLocal.manifestFileSchema
        def copy(old: GenericRecord): GenericData.Record = {
          val r = new GenericData.Record(listSchema)
          listSchema.getFields.forEach(f => r.put(f.name(), old.get(f.name())))
          r
        }
        val list = tableDir.resolve("metadata")
          .resolve(f"snap-$newId%05d${attemptSuffix()}.avro")
        IcebergLocal.writeAvro(list, listSchema,
          mainEntries.map(copy) ++ added.map { old =>
            // the manifest's ADDED entries inherit the list entry's
            // sequence, so re-stamping the entry moves the rows' data
            // sequence past every delete main already holds
            val r = copy(old)
            r.put("sequence_number", newId)
            r.put("min_sequence_number", newId)
            r.put("added_snapshot_id", newId)
            r
          })
        val snapshot = obj("snapshot-id" -> newId,
          "sequence-number" -> newId, "parent-snapshot-id" -> mainHead,
          "timestamp-ms" -> timestampMs,
          "manifest-list" -> list.toUri.toString,
          "schema-id" -> b.root.path("current-schema-id").asInt(0),
          "summary" -> obj("operation" -> "append"))
        (Some(request(Seq(assertRef("main", mainRef)), Seq(
          obj("action" -> "add-snapshot", "snapshot" -> snapshot),
          setRef(b.root, "main", "branch", newId)))), newId)
      }

    /** Age- and ref-aware snapshot expiry (Iceberg's `expire_snapshots`):
      * drop snapshots committed before `olderThanMs`, except ref heads
      * and each branch's newest `minSnapshotsToKeep` ancestors, honoring
      * per-ref retention overrides ([[RefRetention]]; a ref older than
      * its `max-ref-age-ms` is dropped itself). The expired snapshots'
      * manifest lists are deleted; manifests and data files stay
      * ([[IcebergMaintenance.vacuum]] is the disk sweep).
      * `timestampMs` is "now" for the age checks. Returns the expired
      * ids; nothing to expire commits nothing. */
    def expireSnapshots(olderThanMs: Long, minSnapshotsToKeep: Int = 1,
        timestampMs: Long = System.currentTimeMillis()): Seq[Long] =
      commit(0) { b =>
        val (dropped, expired) =
          expirePlan(b.meta, olderThanMs, minSnapshotsToKeep, timestampMs)
        if (dropped.isEmpty && expired.isEmpty) (None, Nil)
        else (Some(request(
          Seq(assertRef("main", b.meta.refs.get("main").map(_._2))),
          removals(dropped, expired))), expired)
      }

    /** Declare per-ref retention (the spec's snapshot-ref fields) on an
      * existing ref; `None` leaves a field as it is. */
    def setRefRetention(refName: String,
        minSnapshotsToKeep: Option[Int] = None,
        maxSnapshotAgeMs: Option[Long] = None,
        maxRefAgeMs: Option[Long] = None): Unit =
      commit(10) { b =>
        val (tpe, id) = b.meta.refs.getOrElse(refName,
          throw new IllegalArgumentException(
            s"no ref '$refName' on $label (have ${
              b.meta.refs.keys.toSeq.sorted.mkString(", ")})"))
        val u = setRef(b.root, refName, tpe, id)
        minSnapshotsToKeep.foreach(u.put("min-snapshots-to-keep", _))
        maxSnapshotAgeMs.foreach(u.put("max-snapshot-age-ms", _))
        maxRefAgeMs.foreach(u.put("max-ref-age-ms", _))
        (Some(request(Seq(assertRef(refName, Some(id))), Seq(u))), ())
      }

    /** Rename a top-level column; the field id is kept, so files
      * written under the old name keep resolving. Returns the new
      * schema id. */
    def renameColumn(from: String, to: String): Int =
      evolveSchema { (next, _) =>
        var hit = false
        IcebergJson.arr(next.get("fields")).foreach { f =>
          if (f.path("name").asText() == from) {
            f.asInstanceOf[ObjectNode].put("name", to); hit = true
          }
        }
        require(hit, s"rename: table has no top-level column '$from'")
      }

    /** Add a nullable top-level column under a fresh field id past
      * `last-column-id` (ids are never reused); files written before
      * surface NULL for it. `icebergType` is a spec primitive
      * ("string", "long", ...). Returns the new schema id. */
    def addColumn(name: String, icebergType: String): Int =
      evolveSchema { (next, root) =>
        require(!IcebergJson.arr(next.get("fields"))
          .exists(_.path("name").asText() == name),
          s"add: column '$name' already exists")
        val f = next.withArray[ArrayNode]("fields").addObject()
        f.put("id", root.path("last-column-id").asInt(0) + 1)
        f.put("name", name)
        f.put("required", false)
        f.put("type", icebergType)
        ()
      }

    /** Drop a top-level column from the current schema; its field id is
      * retired and pre-drop snapshots still read it. Returns the new
      * schema id. */
    def dropColumn(name: String): Int =
      evolveSchema { (next, _) =>
        val fields = next.withArray[ArrayNode]("fields")
        val keep = IcebergJson.arr(fields).filter(_.path("name").asText() != name)
        require(keep.size < fields.size(),
          s"drop: table has no top-level column '$name'")
        require(keep.nonEmpty, "drop: cannot remove the last column")
        fields.removeAll()
        keep.foreach(fields.add)
        ()
      }

    /** A metadata-only schema commit: `mutate` edits a copy of the
      * current schema (reading the root for fresh field ids), which is
      * added under the next schema id and made current. */
    private def evolveSchema(mutate: (ObjectNode, JsonNode) => Unit): Int =
      commit(10) { b =>
        val next = currentSchema(b.root).getOrElse(
          throw new IllegalArgumentException(s"no current schema for $label"))
          .deepCopy[ObjectNode]()
        mutate(next, b.root)
        val (cas, updates, id) = schemaChange(b.root, next)
        (Some(request(Seq(cas), updates)), id)
      }
  }

  private def attemptSuffix(): String =
    "-" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  /** A JSON object from (key, value) pairs; `None` values are left out. */
  private def obj(fields: (String, Any)*): ObjectNode = {
    val n = mapper.createObjectNode()
    fields.foreach {
      case (_, None) => ()
      case (k, Some(v)) => put(n, k, v)
      case (k, v) => put(n, k, v)
    }
    n
  }

  private def put(n: ObjectNode, k: String, v: Any): Unit = v match {
    case s: String => n.put(k, s)
    case i: Int => n.put(k, i)
    case l: Long => n.put(k, l)
    case b: Boolean => n.put(k, b)
    case j: JsonNode => n.set[JsonNode](k, j)
    case xs: Seq[_] =>
      val a = n.putArray(k)
      xs.foreach {
        case l: Long => a.add(l)
        case j: JsonNode => a.add(j)
        case other => throw new IllegalArgumentException(s"array item $other")
      }
    case other => throw new IllegalArgumentException(s"json value $other")
  }

  private def request(requirements: Seq[ObjectNode],
      updates: Seq[ObjectNode]): ObjectNode =
    obj("requirements" -> requirements, "updates" -> updates)

  private def assertRef(ref: String, id: Option[Long]): ObjectNode = {
    val n = obj("type" -> "assert-ref-snapshot-id", "ref" -> ref)
    id.fold(n.putNull("snapshot-id"))(n.put("snapshot-id", _))
  }

  private val RetentionKeys =
    Seq("min-snapshots-to-keep", "max-snapshot-age-ms", "max-ref-age-ms")

  /** `set-snapshot-ref` moving `name` to `id`, carrying the ref's
    * retention fields (the update replaces the whole ref). */
  private def setRef(root: JsonNode, name: String, tpe: String, id: Long,
      timestampMs: Option[Long] = None): ObjectNode = {
    val u = obj("action" -> "set-snapshot-ref", "ref-name" -> name,
      "type" -> tpe, "snapshot-id" -> id, "timestamp-ms" -> timestampMs)
    val prior = root.path("refs").path(name)
    RetentionKeys.filter(prior.has).foreach(k => u.set[JsonNode](k, prior.get(k)))
    u
  }

  private def removals(refs: Iterable[String],
      snapshots: Seq[Long]): Seq[ObjectNode] =
    refs.toSeq.sorted.map(r =>
      obj("action" -> "remove-snapshot-ref", "ref-name" -> r)) ++
      (if (snapshots.isEmpty) Nil
       else Seq(obj("action" -> "remove-snapshots",
         "snapshot-ids" -> snapshots)))

  private def currentSchema(root: JsonNode): Option[JsonNode] = {
    val id = root.path("current-schema-id").asInt(0)
    IcebergJson.arr(root.get("schemas"))
      .find(_.path("schema-id").asInt(0) == id)
  }

  private def structNode(st: StructType): ObjectNode =
    IcebergLocal.icebergStructNode(st,
      new java.util.concurrent.atomic.AtomicInteger())

  /** Make `next` the current schema under the next schema id, gated on
    * the current one: (requirement, updates, new id). */
  private def schemaChange(root: JsonNode,
      next: ObjectNode): (ObjectNode, Seq[ObjectNode], Int) = {
    val id = IcebergJson.arr(root.get("schemas"))
      .map(_.path("schema-id").asInt(0)).maxOption.getOrElse(-1) + 1
    next.put("schema-id", id)
    (obj("type" -> "assert-current-schema-id",
      "current-schema-id" -> root.path("current-schema-id").asInt(0)),
      Seq(obj("action" -> "add-schema", "schema" -> next),
        obj("action" -> "set-current-schema", "schema-id" -> -1)), id)
  }

  /** Register `cols` (identity, ascending, nulls first) as the default
    * sort order, reusing an identical order's id. */
  private def sortOrderUpdates(root: JsonNode, cols: Seq[String],
      schema: Option[StructType]): Seq[ObjectNode] = {
    val ids = IcebergLocal.topLevelFieldIds(schema.getOrElse(
      throw new IllegalArgumentException(
        "sortOrder requires schema (source-id resolution)")))
    val fields = mapper.createArrayNode()
    cols.foreach(c => fields.add(obj("transform" -> "identity",
      "source-id" -> ids.getOrElse(c, throw new IllegalArgumentException(
        s"sort column '$c' absent from schema")),
      "direction" -> "asc", "null-order" -> "nulls-first")))
    val orders = IcebergJson.arr(root.get("sort-orders"))
    orders.find(_.path("fields") == fields).map(_.path("order-id").asInt()) match {
      case Some(id) if id == root.path("default-sort-order-id").asInt(0) => Nil
      case Some(id) =>
        Seq(obj("action" -> "set-default-sort-order", "sort-order-id" -> id))
      case None =>
        val id = orders.map(_.path("order-id").asInt()).maxOption.getOrElse(0) + 1
        Seq(obj("action" -> "add-sort-order",
            "sort-order" -> obj("order-id" -> id, "fields" -> fields)),
          obj("action" -> "set-default-sort-order", "sort-order-id" -> -1))
    }
  }

  /** `id` and its ancestors, newest first. */
  private def ancestors(meta: IcebergTableMeta, id: Long): Seq[Long] = {
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    Iterator.iterate(Option(id))(_.flatMap(byId.get).flatMap(_.parentId))
      .takeWhile(_.isDefined).flatten.toSeq
  }

  /** Expiry planning: (refs to drop, snapshot ids to expire) honoring
    * the per-ref retention overrides ([[RefRetention]]):
    *   - a non-main ref whose snapshot is older than its
    *     `max-ref-age-ms` is dropped (its snapshot then survives only if
    *     something else retains it);
    *   - each branch keeps its newest `min-snapshots-to-keep` ancestors
    *     (override, else `minSnapshotsToKeep`) plus every ancestor
    *     younger than its `max-snapshot-age-ms` (override, else
    *     `olderThanMs`);
    *   - any snapshot younger than `olderThanMs`, and every remaining
    *     ref head, survives. */
  private def expirePlan(meta: IcebergTableMeta, olderThanMs: Long,
      minSnapshotsToKeep: Int,
      timestampMs: Long): (Set[String], Seq[Long]) = {
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    val droppedRefs = meta.refs.collect {
      case (name, (_, id)) if name != "main" &&
          meta.refRetention.get(name).flatMap(_.maxRefAgeMs).exists(age =>
            byId.get(id).exists(s => timestampMs - s.timestampMs > age)) =>
        name
    }.toSet
    val liveRefs = meta.refs -- droppedRefs
    val refHeads = liveRefs.values.map(_._2).toSet ++ meta.currentSnapshotId
    val branchKeep = liveRefs.collect {
      case (name, ("branch", head)) =>
        val ret = meta.refRetention.getOrElse(name, RefRetention())
        val keepN = math.max(
          ret.minSnapshotsToKeep.getOrElse(minSnapshotsToKeep), 1)
        val cutoff = ret.maxSnapshotAgeMs.map(timestampMs - _)
          .getOrElse(olderThanMs)
        val chain = ancestors(meta, head)
        chain.take(keepN) ++ chain.filter(id =>
          byId.get(id).exists(_.timestampMs >= cutoff))
    }.flatten.toSet
    val keptIds = meta.snapshots.filter(s =>
      s.timestampMs >= olderThanMs || refHeads.contains(s.snapshotId) ||
        branchKeep.contains(s.snapshotId)).map(_.snapshotId).toSet
    (droppedRefs,
      meta.snapshots.map(_.snapshotId).filterNot(keptIds))
  }

  /** The spec's CreateTableRequest for a Spark schema: the typed struct
    * with depth-first field ids, and the partition spec if any. */
  private[iceberg] def createRequest(name: String,
      schema: Option[StructType],
      partitionSpec: Option[Seq[PartitionField]]): ObjectNode = {
    val st = schema.getOrElse(new StructType())
    val ids = IcebergLocal.topLevelFieldIds(st)
    obj("name" -> name, "schema" -> structNode(st),
      "partition-spec" -> partitionSpec.map(spec => obj("spec-id" -> 0,
        "fields" -> spec.zipWithIndex.map { case (f, i) =>
          obj("name" -> f.name, "transform" -> f.transform,
            "source-id" -> ids.getOrElse(f.sourceColumn,
              throw new IllegalArgumentException(
                s"partition source column '${f.sourceColumn}' absent " +
                  "from schema")),
            "field-id" -> (1000 + i))
        })))
  }

  /** The metadata of an EMPTY table (zero snapshots) at `dir` from a
    * CreateTableRequest: schema taken verbatim as schema 0, the
    * partition spec (if any) as spec 0, the unsorted order 0. */
  private def createRoot(dir: JPath, req: JsonNode): ObjectNode = {
    val root = mapper.createObjectNode()
    root.put("format-version", 2)
    root.put("table-uuid", java.util.UUID.nameUUIDFromBytes(
      dir.toString.getBytes(StandardCharsets.UTF_8)).toString)
    root.put("location", dir.toUri.toString)
    root.put("last-updated-ms", System.currentTimeMillis())
    root.put("last-sequence-number", 0L)
    val sc = req.get("schema").deepCopy[ObjectNode]()
    sc.put("schema-id", 0)
    root.put("last-column-id", maxFieldIdIn(sc))
    root.putArray("schemas").add(sc)
    root.put("current-schema-id", 0)
    val spec = Option(req.get("partition-spec"))
      .map(_.deepCopy[ObjectNode]())
      .getOrElse(obj("fields" -> Seq.empty[JsonNode]))
    if (!spec.has("spec-id")) spec.put("spec-id", 0)
    root.putArray("partition-specs").add(spec)
    root.put("last-partition-id", IcebergJson.arr(spec.get("fields"))
      .flatMap(f => Option(f.get("field-id")).map(_.asInt()))
      .maxOption.getOrElse(999))
    root.put("default-spec-id", 0)
    root.putArray("sort-orders")
      .add(obj("order-id" -> 0, "fields" -> Seq.empty[JsonNode]))
    root.put("default-sort-order-id", 0)
    root.put("current-snapshot-id", -1L)
    root.putArray("snapshots")
    root.putObject("refs")
    root.putArray("snapshot-log")
    root
  }

  /** Max field id anywhere in a schema tree (`id`/`element-id`/
    * `key-id`/`value-id`) — the `last-column-id` a schema implies. */
  private def maxFieldIdIn(sc: JsonNode): Int = {
    var last = 0
    def walk(n: JsonNode): Unit = {
      Seq("id", "element-id", "key-id", "value-id").foreach(k =>
        if (n.has(k) && n.get(k).isInt) last = math.max(last, n.get(k).asInt()))
      n.elements().forEachRemaining(walk)
    }
    walk(sc)
    last
  }

  /** Create the empty table a CreateTableRequest describes as
    * `v00000.metadata.json` under `dir`; 409 when it exists. */
  private[iceberg] def applyCreate(dir: JPath,
      req: JsonNode): Either[(Int, String), JPath] = {
    val schema = req.get("schema")
    if (schema == null || !schema.isObject)
      return Left(400 -> "create needs a schema struct object")
    if (IcebergLocal.currentMetadataFile(dir).isDefined)
      return Left(409 -> s"table ${dir.getFileName} already exists")
    writeMetadataFile(dir.resolve("metadata"), 0, createRoot(dir, req))
      .toRight(409 -> s"table ${dir.getFileName} already exists")
  }

  /** The current metadata version and tree of the table at `dir`. */
  private def currentRoot(dir: JPath): Option[(Long, ObjectNode)] =
    IcebergLocal.currentMetadataFile(dir).flatMap { file =>
      try Some(versionOf(file) ->
        mapper.readTree(Files.readString(file)).asInstanceOf[ObjectNode])
      // superseded and deleted between listing and reading: list again
      catch { case _: NoSuchFileException => currentRoot(dir) }
    }

  private def versionOf(file: JPath): Long =
    file.getFileName.toString.stripPrefix("v")
      .stripSuffix(".metadata.json").toLong

  /** Validate a CommitTableRequest against the table's CURRENT metadata
    * (or `ifAbsent`, the metadata an absent table is created with),
    * apply its updates and publish the result as the next version.
    * Errors are (HTTP status, message): 409 for a failed requirement or
    * a version another writer published first, 400 for a malformed
    * request, 404 for an absent table.
    *
    * Requirements: `assert-ref-snapshot-id` (null = the ref is absent),
    * `assert-table-uuid`, `assert-current-schema-id`. Updates:
    * `add-schema`/`set-current-schema`, `add-spec`/`set-default-spec`,
    * `add-sort-order`/`set-default-sort-order` (the next id is required,
    * so a racing evolution is a 409; -1 names the one added in this
    * request), `add-snapshot`, `set-snapshot-ref` (with the ref's
    * retention fields; every move of main is logged), and
    * `remove-snapshot-ref`/`remove-snapshots` (expiry: referenced
    * snapshots refused, parent edges and log entries cut).
    *
    * After the publish, the removed snapshots' manifest lists and every
    * metadata version that predates all surviving snapshots are
    * deleted; older versions stay as rollback points otherwise. */
  private[iceberg] def applyCommit(dir: JPath, req: JsonNode,
      ifAbsent: Option[ObjectNode] = None): Either[(Int, String), JPath] = {
    val (version, root) = currentRoot(dir)
      .orElse(ifAbsent.map(r => 0L -> r.deepCopy[ObjectNode]()))
      .getOrElse(return Left(404 -> "no committed table"))
    for (r <- IcebergJson.arr(req.get("requirements"))) {
      r.path("type").asText() match {
        case "assert-ref-snapshot-id" =>
          val ref = r.path("ref").asText("main")
          val want = Option(r.get("snapshot-id")).filterNot(_.isNull)
            .map(_.asLong())
          val have = Option(root.path("refs").get(ref))
            .map(_.get("snapshot-id").asLong())
          if (want != have)
            return Left(409 -> (s"requirement failed: ref '$ref' is at " +
              s"${have.getOrElse("absent")}, commit expected " +
              s"${want.getOrElse("absent")}"))
        case "assert-table-uuid" =>
          if (r.path("uuid").asText() != root.path("table-uuid").asText())
            return Left(409 -> "requirement failed: table-uuid mismatch")
        case "assert-current-schema-id" =>
          // a racing schema change moved it: applying anyway would
          // silently drop one of the two evolutions
          val want = r.path("current-schema-id").asInt(-1)
          val have = root.path("current-schema-id").asInt(0)
          if (want != have)
            return Left(409 -> ("requirement failed: current-schema-id " +
              s"is $have, commit expected $want"))
        case other =>
          return Left(400 -> s"unsupported requirement '$other'")
      }
    }
    /** Append `item` to `root[arrayKey]` under the next `idKey`;
      * returns its id or a 409 (a racing writer took it). */
    def addNext(arrayKey: String, idKey: String,
        item: JsonNode): Either[(Int, String), Int] = {
      val arr = root.withArray[ArrayNode](arrayKey)
      val existing = IcebergJson.arr(arr).map(_.path(idKey).asInt(0))
      val id = item.get(idKey).asInt()
      if (existing.contains(id))
        Left(409 -> (s"requirement failed: $idKey $id already exists — " +
          "reload and re-resolve"))
      else if (existing.nonEmpty && id != existing.max + 1)
        Left(409 -> (s"requirement failed: $idKey $id is not the next " +
          s"id (${existing.max + 1})"))
      else { arr.add(item.deepCopy[JsonNode]()); Right(id) }
    }
    def lastAdded(u: JsonNode, key: String, added: Int,
        action: String): Either[(Int, String), Int] = {
      val id = u.path(key).asInt()
      if (id != -1) Right(id)
      else if (added == -1) Left(400 -> s"$action -1 without a preceding add")
      else Right(added)
    }
    var newSnapId = -1L
    var addedSpec, addedSchema, addedOrder = -1
    var changed = false
    var removedLists = Seq.empty[String]
    for (u <- IcebergJson.arr(req.get("updates"))) {
      val action = u.path("action").asText()
      action match {
        case "add-schema" =>
          val sc = u.get("schema")
          if (sc == null || !sc.has("schema-id") || !sc.has("fields"))
            return Left(400 -> "add-schema needs schema-id + fields")
          addedSchema = addNext("schemas", "schema-id", sc) match {
            case Right(id) => id
            case Left(e) => return Left(e)
          }
          // field ids are never reused: last-column-id only grows
          root.put("last-column-id", math.max(
            root.path("last-column-id").asInt(0), maxFieldIdIn(sc)))
        case "set-current-schema" =>
          val id = lastAdded(u, "schema-id", addedSchema, action)
            .fold(e => return Left(e), identity)
          if (!IcebergJson.arr(root.get("schemas"))
              .exists(_.path("schema-id").asInt(0) == id))
            return Left(400 -> s"set-current-schema: no schema $id")
          root.put("current-schema-id", id)
          changed = true
        // the client names the spec id its manifests are stamped with;
        // the server assigns partition field ids, reusing an equivalent
        // (source-id, transform) field's id per the spec rule
        case "add-spec" =>
          val sp = u.get("spec")
          if (sp == null || !sp.has("spec-id") || !sp.has("fields"))
            return Left(400 -> "add-spec needs spec-id + fields")
          val specs = IcebergJson.arr(root.get("partition-specs"))
          val reuse = specs.flatMap(s => IcebergJson.arr(s.get("fields")))
            .map(f => (f.path("source-id").asInt(),
              f.path("transform").asText()) -> f.path("field-id").asInt())
            .toMap
          var lastPid = root.path("last-partition-id").asInt(999)
          val fields = IcebergJson.arr(sp.get("fields")).map { f =>
            val key = (f.path("source-id").asInt(), f.path("transform").asText())
            obj("name" -> f.path("name").asText(), "transform" -> key._2,
              "source-id" -> key._1,
              "field-id" -> reuse.getOrElse(key, { lastPid += 1; lastPid }))
          }
          addedSpec = addNext("partition-specs", "spec-id",
            obj("spec-id" -> sp.get("spec-id").asInt(), "fields" -> fields)) match {
            case Right(id) => id
            case Left(e) => return Left(e)
          }
          root.put("last-partition-id", lastPid)
        case "set-default-spec" =>
          root.put("default-spec-id", lastAdded(u, "spec-id", addedSpec, action)
            .fold(e => return Left(e), identity))
        case "add-sort-order" =>
          val so = u.get("sort-order")
          if (so == null || !so.has("order-id") || !so.has("fields"))
            return Left(400 -> "add-sort-order needs order-id + fields")
          addedOrder = addNext("sort-orders", "order-id", so) match {
            case Right(id) => id
            case Left(e) => return Left(e)
          }
        case "set-default-sort-order" =>
          root.put("default-sort-order-id",
            lastAdded(u, "sort-order-id", addedOrder, action)
              .fold(e => return Left(e), identity))
        case "add-snapshot" =>
          val sn = u.get("snapshot")
          if (sn == null || !sn.has("snapshot-id") || !sn.has("manifest-list"))
            return Left(400 -> "add-snapshot needs snapshot-id + manifest-list")
          newSnapId = sn.get("snapshot-id").asLong()
          if (IcebergJson.arr(root.get("snapshots"))
              .exists(_.path("snapshot-id").asLong() == newSnapId))
            return Left(409 -> s"snapshot $newSnapId already exists")
          root.withArray[ArrayNode]("snapshots").add(sn.deepCopy[JsonNode]())
          root.put("last-sequence-number", math.max(
            root.path("last-sequence-number").asLong(0),
            sn.path("sequence-number").asLong(0)))
          root.put("last-updated-ms", sn.path("timestamp-ms").asLong(0))
          // not logged here: the snapshot-log records main's moves, so a
          // branch (WAP) commit adds its snapshot without an entry
          changed = true
        case "set-snapshot-ref" =>
          val name = u.path("ref-name").asText()
          if (name.isEmpty) return Left(400 -> "set-snapshot-ref needs ref-name")
          val sid = u.path("snapshot-id").asLong()
          // a dangling ref would break every reader that resolves it
          val snapTs = IcebergJson.arr(root.get("snapshots"))
            .find(_.path("snapshot-id").asLong() == sid)
            .map(_.path("timestamp-ms").asLong(0))
            .getOrElse(return Left(400 -> s"set-snapshot-ref: no snapshot $sid"))
          val refs = root.withObject("/refs")
          val moved = !refs.has(name) ||
            refs.get(name).path("snapshot-id").asLong() != sid
          val rn = refs.putObject(name)
          rn.put("snapshot-id", sid)
          rn.put("type", u.path("type").asText("branch"))
          RetentionKeys.filter(u.has).foreach(k => rn.set[JsonNode](k, u.get(k)))
          changed = true
          if (name == "main" && moved) {
            root.put("current-snapshot-id", sid)
            // the log is the history of main's moves: to a snapshot
            // added in this commit at its timestamp; to an existing one
            // (rollback, publish) at the update's operation time, or
            // server wall clock kept monotonic — a regressed log breaks
            // external metadata parsers
            val log = root.withArray[ArrayNode]("snapshot-log")
            val lastTs =
              if (log.size() == 0) 0L
              else log.get(log.size() - 1).path("timestamp-ms").asLong(0L)
            val logTs =
              if (sid == newSnapId) snapTs
              else Option(u.get("timestamp-ms")).filterNot(_.isNull)
                .map(_.asLong())
                .getOrElse(math.max(System.currentTimeMillis(), lastTs))
            root.put("last-updated-ms",
              math.max(root.path("last-updated-ms").asLong(0L), logTs))
            log.add(obj("timestamp-ms" -> logTs, "snapshot-id" -> sid))
          }
        case "remove-snapshot-ref" =>
          val name = u.path("ref-name").asText()
          if (name.isEmpty)
            return Left(400 -> "remove-snapshot-ref needs ref-name")
          // main IS the published table
          if (name == "main") return Left(400 -> "cannot remove ref 'main'")
          root.withObject("/refs").remove(name)
          changed = true
        case "remove-snapshots" =>
          val ids = IcebergJson.arr(u.get("snapshot-ids")).map(_.asLong()).toSet
          if (ids.isEmpty)
            return Left(400 -> "remove-snapshots needs snapshot-ids")
          val refs = root.withObject("/refs")
          val heads = IcebergJson.arr(refs)
            .map(_.path("snapshot-id").asLong()).toSet +
            root.path("current-snapshot-id").asLong(-1L)
          val pinned = ids.intersect(heads)
          if (pinned.nonEmpty)
            return Left(400 -> (s"remove-snapshots: ${
              pinned.toSeq.sorted.mkString(", ")} still referenced by a " +
              "ref or the current pointer"))
          val snaps = root.withArray[ArrayNode]("snapshots")
          val (gone, kept) = IcebergJson.arr(snaps)
            .partition(s => ids.contains(s.path("snapshot-id").asLong()))
          removedLists ++= gone.map(_.path("manifest-list").asText())
            .filter(_.nonEmpty)
          // expiry truncates lineage: no parent edge to a removed id
          kept.foreach { s =>
            if (ids.contains(s.path("parent-snapshot-id").asLong(-1L)))
              s.asInstanceOf[ObjectNode].remove("parent-snapshot-id")
          }
          snaps.removeAll().addAll(kept.asJava)
          val log = root.withArray[ArrayNode]("snapshot-log")
          val keptLog = IcebergJson.arr(log)
            .filterNot(e => ids.contains(e.path("snapshot-id").asLong()))
          log.removeAll().addAll(keptLog.asJava)
          changed = true
        case other =>
          return Left(400 -> s"unsupported update '$other'")
      }
    }
    if (!changed)
      return Left(400 -> ("commit carries no snapshot, schema, ref or " +
        "expiry change"))
    val metaDir = dir.resolve("metadata")
    val out = writeMetadataFile(metaDir, version + 1, root).getOrElse(
      return Left(409 -> (s"requirement failed: metadata version " +
        s"${version + 1} was published by another writer")))
    // reclaim only AFTER the new version landed: until then the current
    // metadata still points at these files
    removedLists.foreach { l =>
      try Files.deleteIfExists(java.nio.file.Paths.get(java.net.URI.create(l)))
      catch { case _: IllegalArgumentException => () }
    }
    if (removedLists.nonEmpty) {
      // versions that list none of the survivors predate them all and
      // point at deleted manifest lists; so does every older version
      val kept = IcebergJson.arr(root.get("snapshots"))
        .map(_.path("snapshot-id").asLong()).toSet
      val older = metadataVersions(metaDir).filter(_._1 < version + 1)
        .sortBy(-_._1)
      val cut = older.indexWhere { case (_, p) =>
        scala.util.Try(IcebergJson.arr(mapper.readTree(Files.readString(p))
          .get("snapshots")).forall(s => !kept(s.path("snapshot-id").asLong())))
          .getOrElse(false)
      }
      if (cut >= 0) older.drop(cut).foreach(v => Files.deleteIfExists(v._2))
    }
    Right(out)
  }

  private def metadataVersions(metaDir: JPath): Seq[(Long, JPath)] = {
    val s = Files.list(metaDir) // close releases the directory fd
    try {
      s.iterator().asScala.toSeq.flatMap { p =>
        val n = p.getFileName.toString
        if (n.matches("""v\d+\.metadata\.json""")) Some(versionOf(p) -> p)
        else None
      }
    } finally s.close()
  }

  /** Publish `root` as `v{version}.metadata.json` if no writer has yet:
    * written to a temp file, then hard-linked into place, which fails
    * when the name exists — the compare-and-swap local writers race on,
    * and a reader never sees a torn file. None when the version was
    * taken. */
  private def writeMetadataFile(metaDir: JPath, version: Long,
      root: JsonNode): Option[JPath] = {
    Files.createDirectories(metaDir)
    val target = metaDir.resolve(f"v$version%05d.metadata.json")
    val tmp = Files.createTempFile(metaDir, ".metadata-", ".json.tmp")
    try {
      Files.writeString(tmp,
        mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root))
      Files.createLink(target, tmp)
      Some(target)
    } catch { case _: FileAlreadyExistsException => None }
    finally Files.deleteIfExists(tmp)
  }
}
