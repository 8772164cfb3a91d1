package graft.server

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.session.{AuthenticatedUser, GraftSession}
import graft.sources.SourcesConfig
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Embedded REST serving layer over the engine — the Spark analog of the
  * reference's axum API (/root/reference/crates/server/src/api.rs:22-232):
  *
  *   POST /api/v1/query       {"sql": "..."}  → {columns, rows, warnings}
  *   POST /api/v1/validate    {"sources_yaml": "..."} → {valid, errors}
  *   GET  /api/v1/sources     → registered tables
  *   GET  /api/v1/introspect/{table} → schema of one table
  *
  * Auth mirrors server/src/auth.rs: `Authorization: Bearer <key>` resolved
  * through a pluggable authenticator (API key → AuthenticatedUser with
  * permissions + policy rules); 401 without a valid key.
  *
  * Result rows are JSON for the control-plane API; bulk data egress at
  * scale belongs to the Arrow path (the Flight SQL edge), which
  * this API deliberately doesn't replace — same stance as the reference
  * (REST for control, Flight for data).
  */
final class ApiServer(
    engine: GraftSession,
    authenticator: String => Option[AuthenticatedUser],
    maxRows: Int = 1000,
    guardMode: graft.security.PromptInjectionGuard.GuardMode =
      graft.security.PromptInjectionGuard.Disabled,
    maxConcurrentRequests: Int = 0,
    queueTimeoutMillis: Long = 30000,
    license: LicenseGate.LicenseCache = LicenseGate.alwaysValid,
    sandboxPolicy: ScriptSandbox.SandboxPolicy = ScriptSandbox.SandboxPolicy()) {

  private val mapper = new ObjectMapper()
  private var server: HttpServer = _

  /** Serving-edge connection slots (reference ConcurrencyLayer,
    * crates/server/src/concurrency.rs:52-90): a caller past the slot
    * limit WAITS up to the queue timeout for a slot, then is refused
    * with 429 — admission control at the edge, before any engine work.
    * 0 = unlimited (the default; per-source budgets still apply inside
    * the engine). Fair ordering so a burst can't starve early waiters. */
  private val slots: Option[java.util.concurrent.Semaphore] =
    if (maxConcurrentRequests > 0)
      Some(new java.util.concurrent.Semaphore(maxConcurrentRequests, true))
    else None

  def start(port: Int = 0, bindHost: String = null): Int = {
    // bindHost = null binds all interfaces (a deliberately-served edge);
    // process-private deployments (the embedded child) pass loopback
    server = HttpServer.create(
      if (bindHost == null) new InetSocketAddress(port)
      else new InetSocketAddress(bindHost, port), 0)
    server.createContext("/api/v1/query", authed("query:execute", handleQuery))
    server.createContext("/api/v1/query_arrow", authed("query:execute", handleQueryArrow))
    server.createContext("/api/v1/explain", authed("query:explain", handleExplain))
    server.createContext("/api/v1/trace", authed("query:execute", handleTrace))
    server.createContext("/metrics", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = handleMetrics(ex)
    })
    server.createContext("/api/v1/validate", authed("catalog:read", handleValidate))
    server.createContext("/api/v1/sources", authed("catalog:read", handleSources))
    server.createContext("/api/v1/tables", authed("catalog:read", handleTables))
    server.createContext("/api/v1/introspect/", authed("catalog:read", handleIntrospect))
    // run_python is NOT slot-gated: its handler only babysits a sandbox
    // subprocess — the engine work happens when the script's graft.sql()
    // callback re-enters this server, and THAT request takes a slot. A
    // gated run_python holding its slot across the callback would
    // deadlock a full edge against itself (slots model engine admission,
    // not wall-clock handler occupancy).
    server.createContext("/api/v1/run_python",
      authed("query:execute", handleRunPython, gated = false))
    // a real executor (not the single-threaded default): run_python blocks
    // while its script calls back into THIS server, so serial dispatch
    // would deadlock the callback behind the handler that spawned it
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
      r => { val t = new Thread(r, "graft-api"); t.setDaemon(true); t }))
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)

  /** License gate on the execution paths (reference flight_sql.rs:131-143,
    * api.rs:238-244): one atomic read per request — Invalid refuses with
    * a permission error, Degraded executes with a warning attached. */
  private def licenseAdmits(ex: HttpExchange): Boolean =
    license.currentState match {
      case LicenseGate.Invalid =>
        respond(ex, 403, err("License invalid or expired. Please contact support."))
        false
      case LicenseGate.Degraded =>
        ex.getResponseHeaders.add("X-Graft-Warning",
          "x-graft-license: executing in degraded license state")
        true
      case LicenseGate.Valid => true
    }

  // ------------------------------------------------------------- handlers

  private def handleQuery(ex: HttpExchange, user: AuthenticatedUser): Unit = {
    if (ex.getRequestMethod != "POST") { respond(ex, 405, err("POST required")); return }
    if (!licenseAdmits(ex)) return
    val body = mapper.readTree(ex.getRequestBody)
    val sql = Option(body.get("sql")).map(_.asText()).getOrElse("")
    if (sql.isEmpty) { respond(ex, 400, err("missing sql")); return }
    try {
      val result = engine.executeQuery(sql, user, parseParams(body))
      val (rows, truncated) = collectCapped(result.df)
      // agent-context guard: scan string columns of the outgoing rows
      // (reference: per-batch scan before returning to the agent,
      // python/src/connection.rs:370-412). Enforce throws → 400 below.
      val guardFinding =
        graft.security.PromptInjectionGuard.guard(rows.toSeq, guardMode)
      val out = mapper.createObjectNode()
      val cols = out.putArray("columns")
      result.df.columns.foreach(cols.add)
      val data = out.putArray("rows")
      rows.foreach { r =>
        val arr = data.addArray()
        r.toSeq.foreach {
          case null => arr.addNull()
          case v: Long => arr.add(v)
          case v: Int => arr.add(v)
          case v: Double => arr.add(v)
          case v: Boolean => arr.add(v)
          case v => arr.add(String.valueOf(v))
        }
      }
      val warn = out.putArray("warnings")
      result.warnings.foreach(w => warn.add(s"${w.code}: ${w.message}"))
      if (truncated) warn.add(truncationWarning)
      guardFinding.foreach(f =>
        warn.add(s"x-graft-injection-dryrun: ${f.column} matched '${f.pattern}'"))
      respond(ex, 200, out)
    } catch {
      case NonFatal(e) => respond(ex, 400, err(e.getMessage))
    }
  }

  /** Prepared-statement analog: plan under the caller's policies, return
    * the result schema + formatted plan with pushdown indicators — no
    * execution (reference plans statements for their schema,
    * flight_sql.rs:533-566; pushdown-annotated tree, query/plan_tree.rs). */
  private def handleExplain(ex: HttpExchange, user: AuthenticatedUser): Unit = {
    if (ex.getRequestMethod != "POST") { respond(ex, 405, err("POST required")); return }
    val body = mapper.readTree(ex.getRequestBody)
    val sql = Option(body.get("sql")).map(_.asText()).getOrElse("")
    if (sql.isEmpty) { respond(ex, 400, err("missing sql")); return }
    try {
      val info = engine.planQuery(sql, user)
      val out = mapper.createObjectNode()
      val cols = out.putArray("columns")
      info.schema.fields.foreach { f =>
        val o = cols.addObject()
        o.put("name", f.name)
        o.put("type", f.dataType.simpleString)
        o.put("nullable", f.nullable)
      }
      out.put("plan", info.plan)
      out.put("defensive_limited", info.defensiveLimited)
      respond(ex, 200, out)
    } catch {
      case NonFatal(e) => respond(ex, 400, err(e.getMessage))
    }
  }

  /** Execute WITH tracing — the reference's `execute_query_with_trace`
    * ("STRAKE QUERY REPORT", query/trace.rs:7-72): runs the query under
    * the caller's policies and returns the report text plus the
    * structured fields (timing, row count, pushdown, per-operator
    * runtime metrics). Heavier than /query by design — it executes the
    * plan to populate metrics — so it shares /query's license gate. */
  private def handleTrace(ex: HttpExchange, user: AuthenticatedUser): Unit = {
    if (ex.getRequestMethod != "POST") { respond(ex, 405, err("POST required")); return }
    if (!licenseAdmits(ex)) return
    val body = mapper.readTree(ex.getRequestBody)
    val sql = Option(body.get("sql")).map(_.asText()).getOrElse("")
    if (sql.isEmpty) { respond(ex, 400, err("missing sql")); return }
    try {
      // cache BYPASSED: tracing a cached-relation scan would report empty
      // pushdown and cache-scan metrics for the query being diagnosed
      val result = engine.executeQuery(sql, user, parseParams(body),
        useCache = false)
      val trace = graft.session.TraceReport.run(result.df)
      // the report embeds real sample rows — same outgoing-data guard as
      // the query endpoints (Enforce throws → 400 below)
      val guardFinding = graft.security.PromptInjectionGuard
        .guardCells(trace.sampleCells, guardMode)
      val out = mapper.createObjectNode()
      out.put("report", trace.report)
      out.put("duration_ms", trace.durationMillis)
      out.put("rows", trace.rowCount)
      val pf = out.putArray("pushed_filters")
      trace.pushedFilters.foreach(pf.add)
      val nm = out.putArray("node_metrics")
      trace.nodeMetrics.foreach { n =>
        val o = nm.addObject()
        o.put("node", n.node)
        val ms = o.putObject("metrics")
        n.metrics.foreach { case (k, v) => ms.put(k, v) }
      }
      // warnings travel with the trace: a defensive-limit cap means the
      // reported row count is the CAPPED count, and the caller must know
      val warnings = out.putArray("warnings")
      result.warnings.foreach(w => warnings.add(s"${w.code}: ${w.message}"))
      guardFinding.foreach(f => warnings.add(
        s"x-graft-injection-dryrun: ${f.column} matched '${f.pattern}'"))
      respond(ex, 200, out)
    } catch {
      case NonFatal(e) => respond(ex, 400, err(e.getMessage))
    }
  }

  /** Same query path, Arrow IPC stream out — the bulk-data twin of the
    * JSON endpoint (reference: Flight SQL / PyArrow zero-copy delivery). */
  private def handleQueryArrow(ex: HttpExchange, user: AuthenticatedUser): Unit = {
    if (ex.getRequestMethod != "POST") { respond(ex, 405, err("POST required")); return }
    if (!licenseAdmits(ex)) return
    val body = mapper.readTree(ex.getRequestBody)
    val sql = Option(body.get("sql")).map(_.asText()).getOrElse("")
    if (sql.isEmpty) { respond(ex, 400, err("missing sql")); return }
    try {
      val result = engine.executeQuery(sql, user, parseParams(body))
      val (rows, truncated) = collectCapped(result.df)
      // same injection policy as the JSON endpoint: the Arrow path is the
      // bulk twin, not a policy bypass. Enforce throws → 400 below;
      // dry-run findings surface via X-Graft-Warning.
      val guardFinding =
        graft.security.PromptInjectionGuard.guard(rows.toSeq, guardMode)
      val bytes = ArrowResults.toArrowStream(result.df.schema, rows)
      ex.getResponseHeaders.add("Content-Type", "application/vnd.apache.arrow.stream")
      result.warnings.foreach(w =>
        ex.getResponseHeaders.add("X-Graft-Warning", s"${w.code}: ${w.message}"))
      if (truncated)
        ex.getResponseHeaders.add("X-Graft-Warning", truncationWarning)
      guardFinding.foreach(f =>
        ex.getResponseHeaders.add("X-Graft-Warning",
          s"x-graft-injection-dryrun: ${f.column} matched '${f.pattern}'"))
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    } catch {
      case NonFatal(e) => respond(ex, 400, err(e.getMessage))
    }
  }

  private def handleValidate(ex: HttpExchange, user: AuthenticatedUser): Unit = {
    if (ex.getRequestMethod != "POST") { respond(ex, 405, err("POST required")); return }
    val body = mapper.readTree(ex.getRequestBody)
    val yaml = Option(body.get("sources_yaml")).map(_.asText()).getOrElse("")
    val out = mapper.createObjectNode()
    val errors = out.putArray("errors")
    try {
      val cfg = SourcesConfig.fromYamlString(yaml)
      cfg.sources.foreach { s =>
        if (s.name == "null") errors.add("source missing name")
        if (s.sourceType == "null") errors.add(s"source ${s.name}: missing type")
      }
    } catch {
      case NonFatal(e) => errors.add(s"YAML parsing error: ${e.getMessage}")
    }
    out.put("valid", errors.size() == 0)
    respond(ex, 200, out)
  }

  private def handleSources(ex: HttpExchange, user: AuthenticatedUser): Unit = {
    val out = mapper.createObjectNode()
    val tables = out.putArray("tables")
    engine.spark.catalog.listTables().collect().foreach { t =>
      val o = tables.addObject()
      o.put("name", t.name)
      o.put("isTemporary", t.isTemporary)
    }
    respond(ex, 200, out)
  }

  /** Catalog discovery in the Flight SQL GetTables shape — one Arrow IPC
    * batch with (catalog_name, db_schema_name, table_name, table_type,
    * table_schema), where table_schema is each table's encapsulated Arrow
    * IPC Schema message (reference: flight_sql.rs:625-729,
    * `build_tables_batch`). Query params mirror CommandGetTables:
    * `catalog`, `db_schema_filter_pattern` / `table_name_filter_pattern`
    * (SQL LIKE: % and _), `table_types` (comma list), and
    * `include_schema` (default true; false leaves the binary column
    * empty, as the reference does). */
  private def handleTables(ex: HttpExchange, user: AuthenticatedUser): Unit = {
    if (ex.getRequestMethod != "GET") { respond(ex, 405, err("GET required")); return }
    try {
      val q: Map[String, String] = Option(ex.getRequestURI.getRawQuery)
        .map(_.split("&").toSeq.filter(_.contains("="))
          .map { kv =>
            val Array(k, v) = kv.split("=", 2)
            k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
          }.toMap).getOrElse(Map.empty)
      // SQL LIKE semantics, same as the reference's matches_like_pattern
      def like(value: String, pattern: Option[String]): Boolean = pattern match {
        case None | Some("%") => true
        case Some(p) =>
          val rx = "^" + java.util.regex.Pattern.quote(p)
            .replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q") + "$"
          value.matches(rx)
      }
      val catalogName = engine.spark.catalog.currentCatalog()
      val includeSchema = q.get("include_schema").forall(_.toBoolean)
      val typeFilter = q.get("table_types").map(_.split(",").toSet)
      // the Flight SQL table-type vocabulary: views (incl. temp views)
      // report as VIEW, everything else as TABLE
      def typeOf(t: org.apache.spark.sql.catalog.Table): String =
        if (t.isTemporary || Option(t.tableType).exists(_.toUpperCase.contains("VIEW")))
          "VIEW" else "TABLE"
      val rows: Array[org.apache.spark.sql.Row] =
        if (!like(catalogName, q.get("catalog"))) Array.empty
        else engine.spark.catalog.listTables().collect()
          .filter(t => typeFilter.forall(_.contains(typeOf(t))))
          .filter { t =>
            val db = Option(t.namespace).filter(_.nonEmpty)
              .map(_.mkString(".")).getOrElse("default")
            like(db, q.get("db_schema_filter_pattern")) &&
              like(t.name, q.get("table_name_filter_pattern"))
          }
          .map { t =>
            val ns = Option(t.namespace).filter(_.nonEmpty)
            val db = ns.map(_.mkString(".")).getOrElse("default")
            val qualified = (ns.getOrElse(Array.empty[String]) :+ t.name).mkString(".")
            val schemaBytes =
              if (includeSchema)
                ArrowResults.schemaIpcBytes(engine.spark.table(qualified).schema)
              else Array.emptyByteArray
            org.apache.spark.sql.Row(catalogName, db, t.name, typeOf(t), schemaBytes)
          }
      val out = ArrowResults.toArrowStream(tablesResultSchema, rows)
      ex.getResponseHeaders.add("Content-Type", "application/vnd.apache.arrow.stream")
      ex.sendResponseHeaders(200, out.length)
      ex.getResponseBody.write(out)
      ex.close()
    } catch {
      case NonFatal(e) => respond(ex, 400, err(e.getMessage))
    }
  }

  /** The Flight SQL GetTables result schema (flight_sql.rs tables_schema). */
  private val tablesResultSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("catalog_name",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("db_schema_name",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("table_name",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("table_type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("table_schema",
      org.apache.spark.sql.types.BinaryType)))

  private def handleIntrospect(ex: HttpExchange, user: AuthenticatedUser): Unit = {
    val table = ex.getRequestURI.getPath.stripPrefix("/api/v1/introspect/")
    try {
      graft.util.Sanitize.validateIdentifier(table)
      val schema = engine.spark.table(table).schema
      val out = mapper.createObjectNode()
      out.put("table", table)
      val cols = out.putArray("columns")
      schema.fields.foreach { f =>
        val o = cols.addObject()
        o.put("name", f.name)
        o.put("type", f.dataType.simpleString)
        o.put("nullable", f.nullable)
      }
      respond(ex, 200, out)
    } catch {
      case NonFatal(e) => respond(ex, 404, err(s"unknown table: $table"))
    }
  }

  /** Prometheus text exposition over the engine's query log — the
    * reference serves /metrics alongside its REST API
    * (crates/server/src/lib.rs:465-487). Unauthenticated by convention
    * (scrape targets), and derived from already-scrubbed log entries plus
    * the result cache's size, which lives in the driver heap. Counters
    * and `_sum`/`_count` are the session's running totals; the quantiles
    * cover the entries the log retains, so a scrape costs the same
    * however long the engine has served. */
  private def handleMetrics(ex: HttpExchange): Unit = {
    val t = engine.queryTotals
    val (cacheEntries, cacheBytes) = engine.cacheUsage
    val durs = engine.queryLog.map(_.durationMillis).sorted
    def pct(p: Double): Long =
      if (durs.isEmpty) 0L else durs(math.min(durs.size - 1, (p * durs.size).toInt))
    val body =
      s"""# TYPE graft_queries_total counter
         |graft_queries_total{status="ok"} ${t.ok}
         |graft_queries_total{status="error"} ${t.error}
         |# TYPE graft_cache_hits_total counter
         |graft_cache_hits_total ${t.cacheHits}
         |# TYPE graft_cache_entries gauge
         |graft_cache_entries $cacheEntries
         |# TYPE graft_cache_bytes gauge
         |graft_cache_bytes $cacheBytes
         |# TYPE graft_query_duration_ms summary
         |graft_query_duration_ms{quantile="0.5"} ${pct(0.5)}
         |graft_query_duration_ms{quantile="0.95"} ${pct(0.95)}
         |graft_query_duration_ms{quantile="0.99"} ${pct(0.99)}
         |graft_query_duration_ms_sum ${t.durationSumMillis}
         |graft_query_duration_ms_count ${t.count}
         |""".stripMargin
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "text/plain; version=0.0.4")
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Agent "Code Mode": execute a script in the sandbox
    * (reference mcp.py:258-296 `run_python`). The script's engine access
    * is the injected `graft.sql(...)` callback, which re-enters THIS
    * server over HTTP with the caller's own bearer token — so every query
    * a script issues passes the same auth, permission, row-policy, and
    * injection-guard path as a direct API call. Only stdout/stderr return. */
  private def handleRunPython(ex: HttpExchange, user: AuthenticatedUser): Unit = {
    if (ex.getRequestMethod != "POST") { respond(ex, 405, err("POST required")); return }
    val body = mapper.readTree(ex.getRequestBody)
    val script = Option(body.get("script")).map(_.asText()).getOrElse("")
    if (script.isEmpty) { respond(ex, 400, err("missing script")); return }
    val token = Option(ex.getRequestHeaders.getFirst("Authorization"))
      .getOrElse("").stripPrefix("Bearer ").trim
    val timeout = Option(body.get("timeout_secs")).map(_.asDouble())
      .filter(t => t > 0 && t <= 300)
    // the SERVER's policy governs; the request may only tighten the
    // timeout within it (a caller must never widen its own sandbox).
    // ceil, not truncate: a 2.9s request must not become a 2s limit
    val policy = sandboxPolicy.copy(cpuSeconds =
      math.min(timeout.getOrElse(sandboxPolicy.cpuSeconds.toDouble),
        sandboxPolicy.cpuSeconds.toDouble).ceil.toInt.max(1))
    val result = ScriptSandbox.runWithPolicy(script, policy,
      context = Map(
        "GRAFT_URL" -> s"http://localhost:${server.getAddress.getPort}",
        "GRAFT_TOKEN" -> token))
    val o = mapper.createObjectNode()
    o.put("stdout", result.stdout)
    o.put("stderr", result.stderr)
    o.put("timed_out", result.timedOut)
    o.put("duration_ms", result.durationMs)
    result.attestation.foreach { a =>
      val att = o.putObject("attestation")
      att.put("sandbox_id", a.sandboxId)
      att.put("digest", a.digest)
      val cs = att.putArray("constraints")
      a.constraintsApplied.foreach(cs.add)
    }
    respond(ex, 200, o)
  }

  // ---------------------------------------------------------------- plumbing

  private def truncationWarning: String =
    s"x-graft-truncated: result capped at $maxRows rows"

  /** Collect up to maxRows, DETECTING overflow (fetch one extra row) so
    * truncation is a declared warning, never a silent one — a federated
    * client consuming a capped result as if complete would compute wrong
    * aggregates downstream. */
  private def collectCapped(df: org.apache.spark.sql.DataFrame)
      : (Array[org.apache.spark.sql.Row], Boolean) = {
    val collected = df.limit(maxRows + 1).collect()
    if (collected.length > maxRows) (collected.take(maxRows), true)
    else (collected, false)
  }

  /** Optional prepared-statement binding on a request body:
    * {"params": {"name": value}} → typed literals bound by the analyzer
    * (never string-spliced). Shared by the JSON and Arrow query paths —
    * the bulk endpoint takes the same statements as the control one. */
  private def parseParams(body: com.fasterxml.jackson.databind.JsonNode): Map[String, Any] =
    Option(body.get("params")).filter(_.isObject).map { p =>
      p.properties().asScala.map { e =>
        val v = e.getValue
        val value: Any =
          if (v.isNull) null
          else if (v.isIntegralNumber) v.asLong()
          else if (v.isFloatingPointNumber) v.asDouble()
          else if (v.isBoolean) v.asBoolean()
          else v.asText()
        e.getKey -> value
      }.toMap
    }.getOrElse(Map.empty)

  /** Auth then authorization: the authenticated user must hold `permission`
    * (with the reference's wildcard/admin semantics,
    * common/src/auth.rs:113-155) or the request is refused with 403 —
    * permissions are enforced at the edge, not just mixed into cache keys. */
  private def authed(permission: String,
      h: (HttpExchange, AuthenticatedUser) => Unit,
      gated: Boolean = true): HttpHandler =
    new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        try {
          val header = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
          val token = header.stripPrefix("Bearer ").trim
          authenticator(token) match {
            case Some(user) if user.hasPermission(permission) =>
              slots.filter(_ => gated) match {
                case Some(sem) =>
                  if (!sem.tryAcquire(queueTimeoutMillis,
                      java.util.concurrent.TimeUnit.MILLISECONDS)) {
                    ex.getResponseHeaders.add("Retry-After", "1")
                    respond(ex, 429,
                      err("connection slots exhausted (queue timeout)"))
                  } else
                    try h(ex, user) finally sem.release()
                case None => h(ex, user)
              }
            case Some(_) => respond(ex, 403, err(s"missing permission: $permission"))
            case None => respond(ex, 401, err("unauthenticated"))
          }
        } catch {
          case NonFatal(e) => respond(ex, 500, err(e.getMessage))
        }
    }

  private def err(msg: String): ObjectNode = {
    val o = mapper.createObjectNode(); o.put("error", msg); o
  }

  private def respond(ex: HttpExchange, code: Int, body: ObjectNode): Unit = {
    val bytes = mapper.writeValueAsBytes(body)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }
}

/** In-memory API-key authenticator (the reference hashes keys with Argon2
  * against a database, auth.rs:25-155; the store is pluggable — this
  * implementation keeps sha-256 digests so raw keys never live in memory). */
final class ApiKeyAuthenticator(keys: Map[String, AuthenticatedUser]) {
  private val byDigest: Map[String, AuthenticatedUser] =
    keys.map { case (k, u) => ApiKeyAuthenticator.digest(k) -> u }
  def apply(token: String): Option[AuthenticatedUser] =
    if (token.isEmpty) None else byDigest.get(ApiKeyAuthenticator.digest(token))
}

object ApiKeyAuthenticator {
  def digest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
}
