package graft.sources

import graft.session.{WarningCodes, WarningCollector}
import graft.util.Resilience.{CircuitBreaker, ConcurrencyBudget, RetryPolicy}
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}

/** Registers every configured source's tables as views in the session —
  * the Spark analog of the reference's per-source table registration
  * (source name becomes the schema:
  * /root/reference/crates/connectors/src/sources/sql/mod.rs:178-185).
  *
  * View naming: `<table>` (for the default/first source claiming it) and
  * the fully-prefixed `<source>_<table>` always. Spark temp views are
  * flat, so the 3-level `strake.<source>.<table>` namespace maps to the
  * prefix convention.
  *
  * Each scan creation is wrapped in the reference's hardening stack:
  * retry w/ backoff → circuit breaker → per-source concurrency budget
  * (sources/sql/wrappers.rs:193-290, common/circuit_breaker.rs).
  */
final class SourceRegistry(spark: SparkSession) {

  private val breakers = scala.collection.concurrent.TrieMap.empty[String, CircuitBreaker]
  private val budgets = scala.collection.concurrent.TrieMap.empty[String, ConcurrencyBudget]
  private val retry = new RetryPolicy(maxAttempts = 3, baseDelayMillis = 100)

  /** Registers every source, then sizes the shuffle from their statistics. */
  def registerAll(config: SourcesConfig,
      warnings: WarningCollector = new WarningCollector): Unit = {
    config.sources.foreach(s => registerSource(s, warnings))
    graft.session.ShuffleWidth.configureFromStats(spark)
  }

  def registerSource(src: SourceDef, warnings: WarningCollector): Unit = {
    val breaker = breakers.getOrElseUpdate(src.name, new CircuitBreaker(src.name))
    val budget = budgets.getOrElseUpdate(src.name,
      new ConcurrencyBudget(src.maxConcurrentQueries.getOrElse(100)))
    src.tables.foreach { t =>
      val df = budget { () => breaker { () => retry { () => load(src, t) } } }
      // schema drift reconciliation against the declared schema, if any
      val reconciled = t.declaredSchema match {
        case Some(target) => SchemaDrift.reconcile(df, target, warnings)
        case None => df
      }
      reconciled.createOrReplaceTempView(s"${src.name}_${t.name}")
      // catalog-statistics contribution to shuffle-width planning:
      // every registered table records an input-byte estimate so a
      // session with NO local data directory still derives width from
      // volume (ShuffleWidth.statsBytes). Iceberg tables recorded
      // their snapshot total inside load(); an explicit stats_bytes
      // option overrides any derived estimate.
      recordStats(src, t)
      // the bare name belongs to the FIRST source claiming it — only that
      // owner may mark/unmark its cache exemption, or a cache:false source
      // sharing a table name would poison an unrelated source's bare view
      val ownsBare = !spark.catalog.tableExists(t.name) ||
        SourceRegistry.bareOwner(spark, t.name).contains(src.name)
      if (ownsBare) {
        reconciled.createOrReplaceTempView(t.name)
        spark.conf.set(SourceRegistry.bareOwnerKey(t.name), src.name)
      }
      // re-registration with cache: true must also UNDO an earlier mark
      setUncacheable(s"${src.name}_${t.name}", !src.cache)
      if (ownsBare) setUncacheable(t.name, !src.cache)
    }
  }

  /** Record/clear a view's cache exemption in session conf, where the
    * serving session (which owns the result cache, not this registry) can
    * see it. */
  private def setUncacheable(view: String, exempt: Boolean): Unit = {
    val existing = SourceRegistry.uncacheableViews(spark)
    val updated =
      if (exempt) existing + view.toLowerCase else existing - view.toLowerCase
    spark.conf.set(SourceRegistry.UncacheableKey,
      updated.toSeq.sorted.mkString(","))
  }

  private def load(src: SourceDef, t: TableDef): DataFrame = {
    def reader: DataFrameReader = {
      val r = spark.read.options(src.options)
      t.declaredSchema match {
        case Some(sc) if src.sourceType != "jdbc" => r.schema(sc)
        case _ => r
      }
    }
    src.sourceType.toLowerCase match {
      case "parquet" => reader.parquet(pathOf(src, t))
      case "csv" => reader.option("header", src.options.getOrElse("header", "true"))
        .csv(pathOf(src, t))
      case "json" => reader.json(pathOf(src, t))
      case "jdbc" =>
        // DSv2 JDBC with full pushdown: predicates/limit/aggregates travel
        // to the remote database — the Spark analog of the reference's
        // federation pushdown (SURVEY.md §2.3)
        spark.read.format("jdbc")
          .option("url", src.url.getOrElse(
            throw new IllegalArgumentException(s"jdbc source ${src.name} needs url")))
          .option("dbtable", t.name)
          .option("pushDownPredicate", "true")
          .option("pushDownLimit", "true")
          .option("pushDownAggregate", "true")
          .options(src.options)
          .load()
      case kind if RemoteSqlSource.byKind.contains(kind) =>
        // live wire-protocol sources (postgres, mysql, clickhouse) — no
        // driver jar: one shared scan over hand-built clients, with
        // filter/column/limit pushdown and optional range-partitioned
        // parallel reads (the reference's sql/ connectors' federation
        // stance). partition_column on the table def rides through as
        // the range-partitioning column.
        val source = RemoteSqlSource.byKind(kind)
        val r = spark.read.format(source.getClass.getName)
          .option("url", src.url.getOrElse(
            throw new IllegalArgumentException(
              s"${source.wire.kind} source ${src.name} needs url")))
          .option("table", t.name)
          .options(src.options ++
            t.partitionColumn.map("partitionColumn" -> _).toMap)
        (t.declaredSchema match {
          case Some(sc) => r.schema(sc)
          case None => r
        }).load()
      case "iceberg" | "iceberg_rest" =>
        // the reference's iceberg_rest source (iceberg.rs:1-120):
        // catalog_uri + namespace + token/OAuth; auth reuses the REST
        // source's header model so static token, basic, OAuth2
        // client-credentials, and JWT assertion all apply
        val baseUrl = src.url.getOrElse(
          throw new IllegalArgumentException(
            s"iceberg source ${src.name} needs url (catalog uri)"))
        val ro = graft.sources.rest.RestOptions(
          src.options + ("baseurl" -> baseUrl))
        // `auth: sigv4` signs every catalog request (AWS-IRSA-shaped
        // deployments — API-Gateway/Glue-fronted catalogs; reference
        // iceberg.rs:43-100): access_key + secret_key + region
        // (+ service, default execute-api) in the source options
        val signer = src.options.get("auth")
          .filter(_.equalsIgnoreCase("sigv4")).map { _ =>
            def need(k: String) = src.options.getOrElse(k,
              throw new IllegalArgumentException(
                s"iceberg source ${src.name}: auth sigv4 needs '$k'"))
            val host = new java.net.URI(baseUrl).getAuthority
            new graft.sources.iceberg.IcebergRestCatalog.SigV4Signer(
              host, need("access_key"), need("secret_key"),
              need("region"), src.options.getOrElse("service", "execute-api"))
          }
        val catalog = new graft.sources.iceberg.IcebergRestCatalog(
          baseUrl, () => ro.authHeaders ++ ro.extraHeaders, signer)
        val namespace = src.options.getOrElse("namespace", "default")
        val spec: Option[SnapshotLog.VersionSpec] =
          src.options.get("version").map(SnapshotLog.ByVersion)
            .orElse(src.options.get("timestamp_ms")
              .map(ms => SnapshotLog.ByTimestamp(ms.toLong)))
        // Iceberg's `$`-suffixed INSPECTION tables register like any
        // other table: `path: orders$history` (or $snapshots/$refs/
        // $files/$partitions) serves the metadata table under the
        // config's clean view name, so `SELECT * FROM lake_history`
        // answers lineage questions with zero data I/O. The remote
        // table name defaults to the view name when no path is given.
        // `path` is honored ONLY when it names an inspection table
        // (contains '$'): plain paths were historically IGNORED for
        // iceberg sources, and a leftover `path` copy-pasted from a
        // file-source stanza must not silently redirect the read to a
        // different remote table.
        val remote = t.path.filter(_.contains('$')).getOrElse(t.name)
        val metaSplit = remote.lastIndexOf('$')
        if (metaSplit > 0) {
          val (tbl, kind) =
            (remote.substring(0, metaSplit), remote.substring(metaSplit + 1))
          val known = Set("snapshots", "history", "refs", "files",
            "partitions")
          if (!known(kind)) throw new IllegalArgumentException(
            s"unknown Iceberg inspection table '$$$kind' on $remote " +
              s"(have ${known.toSeq.sorted.mkString(", ")})")
          graft.sources.iceberg.IcebergRest.metaTable(
            spark, catalog, namespace, tbl, kind, spec)
        } else {
          // snapshot-summary size statistic → width planning (the
          // catalog metadata is already fetched; total-files-size is
          // free, and a stats-less writer costs one manifest walk)
          graft.session.ShuffleWidth.record(spark,
            s"${src.name}_${t.name}",
            graft.sources.iceberg.IcebergRest.tableSizeBytes(
              spark, catalog, namespace, remote, spec, src.options)
              .getOrElse(0L))
          // per-source options (fs.* credentials etc.) and declared schema
          // apply to iceberg reads exactly as to file sources. LAZY by
          // default when the session has graft extensions: the registered
          // table is an [[graft.plans.IcebergScanPlan]] leaf, so each
          // query's OWN pushed-down predicate prunes the file inventory
          // at plan time (partition tuples + column bounds) — the
          // reference provider's scan-time-filter shape. Falls back to
          // the eager read (extension-less session, explicit `filter`
          // option, fieldIdReads, empty snapshot).
          graft.sources.iceberg.IcebergRest.readLazy(
            spark, catalog, namespace, remote, spec,
            options = src.options, schema = t.declaredSchema)
            .getOrElse(graft.sources.iceberg.IcebergRest.read(
              spark, catalog, namespace, remote, spec,
              options = src.options, schema = t.declaredSchema))
        }
      case "sqlite" =>
        // first-class `.sqlite` FILE source — the clean-room format
        // reader (sources/sqlite), no driver jar needed (reference
        // sqlite.rs:30-195 registers the same tables via a driver
        // pool). `url` is the database file (a `jdbc:sqlite:` prefix
        // is tolerated so existing jdbc-style configs keep working);
        // each table def reads the remote table of the same name.
        val dbFile = src.url.map(_.stripPrefix("jdbc:sqlite:")).getOrElse(
          throw new IllegalArgumentException(
            s"sqlite source ${src.name} needs url (database file)"))
        // src.options FIRST, url-derived path/table LAST: a stray
        // `path` or `table` key in a copy-pasted source stanza must not
        // silently override the database file or redirect every table
        val r0 = spark.read
          .format("graft.sources.sqlite.SqliteDataSource")
          .options(src.options)
          .option("path", dbFile)
          .option("table", t.name)
        (t.declaredSchema match {
          case Some(sc) => r0.schema(sc)
          case None => r0
        }).load()
      case "rest" =>
        val r = spark.read.format("graft.sources.rest.RestDataSource")
          .option("baseUrl", src.url.getOrElse(
            throw new IllegalArgumentException(s"rest source ${src.name} needs url")))
          .options(src.options)
        (t.declaredSchema match {
          case Some(sc) => r.schema(sc)
          case None => r
        }).load()
      case "grpc" =>
        // DSv2 gRPC source; service/method/descriptorSet/transport ride
        // in the source options (the reference's grpc.rs config schema)
        spark.read.format("graft.sources.grpc.GrpcDataSource")
          .option("url", src.url.getOrElse(
            throw new IllegalArgumentException(s"grpc source ${src.name} needs url")))
          .options(src.options)
          .load()
      case "kafka" =>
        // DSv2 Kafka topic source over the hand-built wire client; the
        // table name is the topic unless `topic` is set in options.
        // `url` carries the bootstrap host:port.
        spark.read.format("graft.sources.kafka.KafkaDataSource")
          .option("bootstrap", src.url.getOrElse(
            throw new IllegalArgumentException(
              s"kafka source ${src.name} needs url (bootstrap host:port)")))
          .option("topic", src.options.getOrElse("topic", t.name))
          .options(src.options - "topic")
          .load()
      case "arrowhttp" =>
        spark.read.format("graft.sources.arrowhttp.ArrowHttpDataSource")
          .option("url", src.url.getOrElse(
            throw new IllegalArgumentException(
              s"arrowhttp source ${src.name} needs url")))
          .option("table", t.name)
          .options(src.options)
          .load()
      case "warc" =>
        // WARC 1.0 containers (Common Crawl layout): the table path is a
        // directory of *.warc(.gz). `mode=records` serves the raw WARC
        // fields + payload bytes; `mode=corpus` (default) runs the full
        // ingest — HTTP envelope split + X-Graft header recovery — to
        // (doc_id, text, lang, source).
        src.options.getOrElse("mode", "corpus").toLowerCase match {
          case "records" => graft.sources.warc.Warc.records(spark, pathOf(src, t))
          case "corpus" => graft.sources.warc.Warc.readCorpus(spark, pathOf(src, t))
          case other => throw new IllegalArgumentException(
            s"warc source ${src.name}: mode must be 'records' or 'corpus', got '$other'")
        }
      case "flight" =>
        // Flight SQL over h2c: per-table `query` option, defaulting to a
        // whole-table SELECT on the (sanitized) table name — the same
        // remote-statement stance as the reference's flight.rs tables
        spark.read.format("graft.sources.flight.FlightDataSource")
          .option("url", src.url.getOrElse(
            throw new IllegalArgumentException(
              s"flight source ${src.name} needs url")))
          // backtick-quoted: the remote peer speaks Spark SQL, where
          // double-quoted identifiers are string literals by default
          .option("query", src.options.getOrElse("query",
            s"SELECT * FROM `${graft.util.Sanitize.validateIdentifier(t.name)}`"))
          // remote-addressable name: lets the federation rule collapse
          // same-peer subtrees over this scan (a custom `query` has no
          // addressable name, so only default whole-table scans carry it)
          .options(if (src.options.contains("query")) src.options - "query"
            else src.options + ("table" -> t.name))
          .load()
      case other =>
        throw new IllegalArgumentException(s"unsupported source type: $other")
    }
  }

  /** Record the table's input-byte estimate for width planning.
    * Precedence: `stats_bytes.<table>` / `stats_bytes` source options
    * (the operator's declared size — the only signal for opaque
    * backends) → measured local file/dir size for file-backed types →
    * `stats_rows[.<table>]` × `stats_row_bytes` (default 128 — a
    * conservative compressed-row width) for federated SQL/REST
    * sources. Unknown stays unrecorded: width then falls back to the
    * core floor exactly as before. Iceberg snapshot totals are
    * recorded inside [[load]] where the catalog client is in scope;
    * an explicit option recorded here overwrites that (same key). */
  private def recordStats(src: SourceDef, t: TableDef): Unit = {
    def opt(key: String): Option[Long] =
      src.options.get(s"$key.${t.name}").orElse(src.options.get(key))
        .flatMap(_.toLongOption)
    val est: Long = opt("stats_bytes").getOrElse {
      src.sourceType.toLowerCase match {
        case "parquet" | "csv" | "json" | "orc" | "warc" =>
          SourceRegistry.localBytes(pathOf(src, t))
        case "sqlite" =>
          src.url.map(u => SourceRegistry.localBytes(
            u.stripPrefix("jdbc:sqlite:"))).getOrElse(0L)
        case "jdbc" | "postgres" | "postgresql" | "mysql" |
             "clickhouse" | "rest" | "flight" | "arrowhttp" =>
          opt("stats_rows").map(_ *
            opt("stats_row_bytes").getOrElse(128L)).getOrElse(0L)
        case _ => 0L // iceberg recorded in load(); kafka/grpc unknown
      }
    }
    graft.session.ShuffleWidth.record(spark, s"${src.name}_${t.name}", est)
  }

  private def pathOf(src: SourceDef, t: TableDef): String =
    SourceRegistry.normalizeScheme(
      t.path.orElse(src.url.map(u => s"$u/${t.name}")).getOrElse(
        throw new IllegalArgumentException(s"table ${t.name} needs a path")))
}

object SourceRegistry {
  /** Local file-or-directory byte size; 0 for absent paths or remote
    * schemes (those declare size via `stats_bytes` options instead —
    * a driver-side walk of an object store at registration would be
    * I/O the operator didn't ask for). */
  private[sources] def localBytes(path: String): Long =
    try {
      val p = java.nio.file.Paths.get(
        if (path.startsWith("file:")) java.net.URI.create(path).getPath
        else path)
      if (java.nio.file.Files.isDirectory(p))
        graft.session.ShuffleWidth.dirBytes(p.toString)
      else if (java.nio.file.Files.isRegularFile(p))
        java.nio.file.Files.size(p)
      else 0L
    } catch { case _: Exception => 0L }

  /** Object-store path support, mirroring the reference's scheme'd file
    * URIs (s3/gcs/az/http via OpenDAL, file.rs:124-207). Spark's file
    * sources already resolve any scheme through Hadoop's FileSystem
    * registry, and per-source credentials/impl classes travel as plain
    * `options` entries (`fs.s3a.access.key`, `fs.<scheme>.impl`, …)
    * because file readers merge their options into the per-read Hadoop
    * conf. `http://`/`https://`, `ftp://`, `sftp://`, `s3://`/`s3a://`,
    * `gs://`, and `abfss://`/`abfs://` are ALL served in-repo
    * ([[HttpFileSystem]], [[FtpFileSystem]], [[SftpFileSystem]],
    * [[graft.sources.s3.S3FileSystem]] — a direct SigV4 REST client,
    * with [[graft.sources.s3.GsFileSystem]] reusing it in GCS
    * HMAC-interop mode — and [[graft.sources.azure.AbfsFileSystem]] —
    * Shared Key against the Blob REST API; no hadoop-aws/gcs/azure jars
    * needed; all registered by the session builder). The s3→s3a
    * spelling is normalized so both resolve identically; a deployment
    * shipping the stock connectors overrides fs.<scheme>.impl per
    * read/source and wins. */
  private[graft] def normalizeScheme(p: String): String =
    if (p.startsWith("s3://")) "s3a://" + p.stripPrefix("s3://") else p

  /** Session-conf key listing views whose source opted out of the result
    * cache (`cache: false`); the session conf is the one state both the
    * registry and the serving session share. */
  val UncacheableKey = "spark.graft.cache.disabledViews"

  def uncacheableViews(spark: SparkSession): Set[String] =
    spark.conf.getOption(UncacheableKey)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  private[sources] def bareOwnerKey(table: String): String =
    s"spark.graft.source.bareOwner.${table.toLowerCase}"

  /** Which source first claimed the bare (unprefixed) view name. */
  private[sources] def bareOwner(spark: SparkSession, table: String)
      : Option[String] =
    spark.conf.getOption(bareOwnerKey(table))
}
