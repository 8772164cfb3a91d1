package graft.session

import graft.plans.{CostValidator, DefensiveLimitRule}
import graft.util.Scrubber
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Engine configuration (the subset of the reference's config surface that
  * governs query execution — /root/reference/crates/common/src/config.rs:
  * DEFAULT_CONNECTION_BUDGET=100, DEFAULT_LIMIT=1000; 300 s timeout in
  * federation.rs:415). */
final case class GraftConfig(
    defensiveLimit: Int = 1000,
    maxScanBytes: Option[Long] = None,
    maxOutputRows: Option[Long] = None,
    queryTimeout: Duration = 300.seconds,
    connectionBudget: Int = 100)

final case class QueryResult(df: DataFrame, warnings: Seq[QueryWarning])

/** Result of planning without executing (prepared-statement analog). */
final case class PlanInfo(
    schema: org.apache.spark.sql.types.StructType,
    plan: String,
    defensiveLimited: Boolean)

final case class QueryLogEntry(
    userId: String, scrubbedSql: String, durationMillis: Long,
    cacheHit: Boolean, succeeded: Boolean)

/** Running totals over every query a session has logged, the ones its
  * log has since dropped included. */
final case class QueryTotals(ok: Long, error: Long, cacheHits: Long,
    durationSumMillis: Long) {
  def count: Long = ok + error
  def add(e: QueryLogEntry): QueryTotals = QueryTotals(
    ok + (if (e.succeeded) 1 else 0), error + (if (e.succeeded) 0 else 1),
    cacheHits + (if (e.cacheHit) 1 else 0), durationSumMillis + e.durationMillis)
}

/** The engine facade: `executeQuery(sql, user)` runs the full reference
  * lifecycle (/root/reference/crates/runtime/src/federation.rs:326-487) on
  * Spark:
  *
  *   user context → analyze (RLS/masking applied by [[graft.plans.RowPolicyRule]]
  *   if the session was built with [[GraftExtensions]]) → defensive limit →
  *   cost validation → cache lookup → execute with timeout → cache store →
  *   structured query log with PII scrubbing, bounded to the last
  *   [[GraftSession.LogCapacity]] entries plus running [[QueryTotals]].
  *
  * Execution stays distributed; only results come to the driver. A cache
  * miss runs the query once as a collect bounded at 100,000 rows and keeps
  * the rows on the driver, with a Parquet copy as the durable one; a hit
  * serves those rows with no Spark job, and the cache's `maxBytes` bounds
  * what it holds. Results that are empty, too long or not cacheable stay
  * lazy for the caller.
  */
final class GraftSession(
    val spark: SparkSession,
    val config: GraftConfig = GraftConfig(),
    cache: Option[QueryCache] = None) {

  private val budget = new graft.util.Resilience.ConcurrencyBudget(config.connectionBudget)
  private val limitRule = DefensiveLimitRule(config.defensiveLimit)
  private val validator = CostValidator(config.maxScanBytes, config.maxOutputRows)
  private val log = new Array[QueryLogEntry](GraftSession.LogCapacity)
  private var totals = QueryTotals(0, 0, 0, 0) // guarded by log
  private val groupId = new AtomicLong()

  /** The last [[GraftSession.LogCapacity]] queries, oldest first. */
  def queryLog: Seq[QueryLogEntry] = log.synchronized {
    val n = math.min(totals.count, log.length.toLong).toInt
    Vector.tabulate(n)(i => log(((totals.count - n + i) % log.length).toInt))
  }

  /** Counts and duration sum over every query this session has run. */
  def queryTotals: QueryTotals = log.synchronized(totals)

  private[graft] def record(e: QueryLogEntry): Unit = log.synchronized {
    log((totals.count % log.length).toInt) = e
    totals = totals.add(e)
  }

  /** Entries and weighted bytes the result cache holds; (0, 0) without one. */
  def cacheUsage: (Int, Long) = cache.fold((0, 0L))(c => (c.size, c.totalBytes))

  /** A plan touching any `cache: false` source is exempt from the result
    * cache in both directions (the reference's per-source cache disable,
    * query/cache.rs): TTL-stale answers from a volatile backend are wrong
    * answers. View references survive analysis as SubqueryAlias nodes, so
    * membership is checked against those names. This over-approximates: a
    * user CTE/alias that happens to collide with an opted-out view name
    * also skips the cache — deliberately accepted, because the failure
    * direction is a redundant execution, never a stale answer, and
    * DataFrame-created temp views leave no View marker in the analyzed
    * plan to distinguish precisely. */
  private def cacheableFor(df: DataFrame): Boolean = {
    val disabled = graft.sources.SourceRegistry.uncacheableViews(spark)
    disabled.isEmpty || !df.queryExecution.analyzed.collect {
      case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        s.alias.toLowerCase
    }.exists(disabled.contains)
  }

  def executeQuery(sql: String,
      user: AuthenticatedUser = AuthenticatedUser.anonymous): QueryResult =
    executeQuery(sql, user, Map.empty[String, Any])

  /** Prepared-statement execution: `sql` with named `:param` markers bound
    * to `params` at plan time via Spark's parameterized-SQL API — values
    * bind as typed literals in the analyzer, never by string splicing, so
    * a parameter can't smuggle SQL (the injection stance of the
    * reference's prepared-statement path, flight_sql.rs:533-566, where
    * planQuery returns the schema and bind+execute follow). Full policy
    * pipeline applies: RLS rewrite, defensive limit, cost gate, cache
    * (parameter values participate in the cache key via the plan). */
  def executeQuery(sql: String, user: AuthenticatedUser,
      params: Map[String, Any]): QueryResult =
    executeQuery(sql, user, params, useCache = true)

  /** `useCache = false` skips the result cache in BOTH directions (no
    * lookup, no store): the trace path needs the REAL plan — tracing a
    * cached-relation scan would report empty pushdown and cache-scan
    * metrics for the query being diagnosed. */
  def executeQuery(sql: String, user: AuthenticatedUser,
      params: Map[String, Any], useCache: Boolean): QueryResult = {
    val warnings = new WarningCollector
    val start = System.currentTimeMillis()
    var cacheHit = false
    var ok = false
    try {
      RowPolicyRule_setUser(user)
      val result = budget { () =>
        var df = if (params.isEmpty) spark.sql(sql) else spark.sql(sql, params)
        // defensive limit (decided on the analyzed plan, applied via API)
        if (config.defensiveLimit > 0 &&
          (limitRule(df.queryExecution.analyzed) ne df.queryExecution.analyzed)) {
          warnings.add(WarningCodes.DefensiveLimit,
            s"injected LIMIT ${config.defensiveLimit}")
          df = df.limit(config.defensiveLimit)
        }
        validator.validate(df)
        cache match {
          case Some(c) if useCache && cacheableFor(df) =>
            val k = c.key(df, user)
            c.lookup(spark, k) match {
              case Some(hit) =>
                cacheHit = true
                warnings.add(WarningCodes.CacheHit, k.take(16))
                hit
              case None =>
                warnings.add(WarningCodes.CacheMiss, k.take(16))
                withTimeout(k) { c.store(df, k) }
                c.lookup(spark, k).getOrElse(df)
            }
          case _ => df
        }
      }
      ok = true
      QueryResult(result, warnings.all)
    } finally {
      RowPolicyRule_clear()
      record(QueryLogEntry(user.id, Scrubber.scrub(sql),
        System.currentTimeMillis() - start, cacheHit, ok))
    }
  }

  /** Plan-only path — the prepared-statement analog (the reference plans
    * a statement to return its schema before any execution,
    * server/src/flight_sql.rs:533-566). Applies the same per-user policy
    * rewrite, defensive limit, and cost gate as executeQuery, but never
    * executes or caches; the formatted plan exposes pushdown indicators. */
  def planQuery(sql: String,
      user: AuthenticatedUser = AuthenticatedUser.anonymous,
      params: Map[String, Any] = Map.empty): PlanInfo = {
    RowPolicyRule_setUser(user)
    try {
      var df = if (params.isEmpty) spark.sql(sql) else spark.sql(sql, params)
      var limited = false
      if (config.defensiveLimit > 0 &&
        (limitRule(df.queryExecution.analyzed) ne df.queryExecution.analyzed)) {
        df = df.limit(config.defensiveLimit)
        limited = true
      }
      validator.validate(df)
      PlanInfo(df.schema,
        df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode),
        defensiveLimited = limited)
    } finally RowPolicyRule_clear()
  }

  /** Run `action` on a cancellable job group; cancel on timeout (the Spark
    * analog of the reference's 300 s execution timeout, federation.rs:415). */
  private def withTimeout[T](tag: String)(action: => T): T = {
    val group = s"graft-${groupId.incrementAndGet()}-$tag"
    implicit val ec: ExecutionContext = GraftSession.executionContext
    val sc = spark.sparkContext
    val fut = Future {
      sc.setJobGroup(group, s"graft query $tag", interruptOnCancel = true)
      try action finally sc.clearJobGroup()
    }
    try Await.result(fut, config.queryTimeout)
    catch {
      case e: TimeoutException =>
        sc.cancelJobGroup(group)
        throw new RuntimeException(s"query timed out after ${config.queryTimeout}", e)
    }
  }

  // indirection keeps the analyzer-rule dependency soft: sessions built
  // without GraftExtensions still work (no policies applied)
  private def RowPolicyRule_setUser(u: AuthenticatedUser): Unit =
    graft.plans.RowPolicyRule.setUser(u)
  private def RowPolicyRule_clear(): Unit = graft.plans.RowPolicyRule.clear()
}

object GraftSession {
  /** Query-log entries a session retains: far more than a benchmark run
    * logs, so every request of a run can still be matched to its entry. */
  val LogCapacity = 10000

  private lazy val executionContext: ExecutionContext =
    ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-exec"); t.setDaemon(true); t
      }))

  /** Build a SparkSession with the engine's analyzer extensions installed
    * and the scale-relevant runtime optimizations pinned on (defaults have
    * drifted across Spark versions; the engine's plans assume them):
    * AQE with partition coalescing and skew-join splitting, and runtime
    * bloom-filter pruning for large joins (a shuffle-side row filter built
    * from the selective side — the 100 TB analog of the reference's
    * pushed-filter transfer narrowing).
    *
    * This is the only place main code builds a session. It leaves
    * `spark.sql.shuffle.partitions` to [[ShuffleWidth]], which sizes it
    * from the data the session resolves ([[graft.Tables]],
    * [[graft.sources.SourceRegistry]]) unless the caller pins it. */
  def builder(master: String = "local[*]"): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // http(s)://, ftp://, sftp://, and s3:///s3a:// file paths resolve
      // out of the box (sources/HttpFileSystem, FtpFileSystem,
      // SftpFileSystem, s3/S3FileSystem); per-read auth headers via
      // fs.http.header.*, ftp/sftp credentials in the URI, optional sftp
      // host-key pin via fs.sftp.hostkey.sha256, S3 credentials/endpoint
      // via fs.s3.* (fs.s3a.* accepted as aliases; a deployment shipping
      // hadoop-aws overrides fs.s3a.impl per read/source and wins)
      .config((graft.sources.HttpFileSystem.confEntries ++
        graft.sources.FtpFileSystem.confEntries ++
        graft.sources.SftpFileSystem.confEntries ++
        graft.sources.s3.S3FileSystem.confEntries ++
        graft.sources.azure.AbfsFileSystem.confEntries).map {
        case (k, v) => s"spark.hadoop.$k" -> v
      }.toMap)
    // In local mode the executor shares the driver's JVM, so a missed
    // heartbeat can only mean a GC pause or a hypervisor steal burst.
    // Self-killing on it (exit 56: "unable to send heartbeats to driver
    // more than 60 times" after a full GC during an 18% steal burst)
    // turns a slow run into a dead one. A cluster, local-cluster
    // included, keeps Spark's defaults so a lost executor is still
    // detected promptly.
    if (master == "local" || master.startsWith("local["))
      b.config("spark.executor.heartbeatInterval", "20s")
        .config("spark.network.timeout", "600s")
        .config("spark.executor.heartbeat.maxFailures", "1000")
    else b
  }
}
