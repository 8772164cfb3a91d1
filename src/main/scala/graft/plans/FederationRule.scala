package graft.plans

import scala.jdk.CollectionConverters._

import graft.sources.{RemoteSqlOptions, RemoteSqlSource, RemoteSqlTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Automatic same-source subplan federation — the Spark analog of the
  * reference's FederationOptimizerRule
  * (/root/reference/crates/runtime/src/federation.rs:226-240 registers
  * it; crates/connectors/src/sources/sql/postgres_federation.rs:40-66
  * defines the executor contract: same connection string = same
  * database instance = the whole subtree can run remotely as one SQL).
  *
  * Per-scan DSv2 pushdown already ships filters/columns/limits to each
  * wire source. This rule goes further: when a MAXIMAL plan subtree's
  * leaves all scan the SAME remote instance (same source kind + URL),
  * the subtree — joins, aggregates, sorts, limits, set ops — is
  * unparsed to the source's SQL dialect ([[graft.sql.GraftSqlGen]], in
  * strict mode: only dialect-vetted functions ship) and replaced by a
  * single `query`-option scan of that source. A join of two tables
  * living in one Postgres then executes AS a join in that Postgres,
  * and Spark reads back only the (dimension-sized) result, instead of
  * pulling both tables and joining locally. Covered transports: the
  * pg/mysql/clickhouse wire sources (by DSv2 table class) and v1
  * `format("jdbc")` relations (by JDBC url — sqlite/duckdb/derby/...),
  * mirroring the reference's per-engine federation executors.
  *
  * Scale stance (100 TB): federation is for subtrees whose REMOTE
  * result is small — the classic dimension join/aggregate. The gate
  * requires ≥2 same-source scans (a genuine remote join/union) or an
  * Aggregate above a single scan (per-scan pushdown cannot ship GROUP
  * BY); a bare scan or filter/project is never collapsed, because that
  * would defeat Spark-side column pruning and parallel range reads for
  * large fact tables. Anything the dialect cannot express falls back
  * to local execution untouched — the documented contract of the
  * reference router. Opt out with `spark.graft.federation.enabled`.
  *
  * Runs in the Pre-CBO batch: after operator optimization (filters and
  * projections are already in their final positions, so the unparsed
  * SQL carries them) and before V2 scan planning turns
  * [[DataSourceV2Relation]] leaves into scans.
  */
final case class FederationRule(spark: SparkSession) extends Rule[LogicalPlan] {

  import FederationRule._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!spark.conf.get(EnabledKey, "true").toBoolean) return plan
    val wantSubstrait = substraitEngine.isDefined
    val hasWork = (plan +: plan.subqueriesAll).exists(_.exists {
      case p => leafInfo(p).isDefined ||
        (wantSubstrait && parquetLeaf(p).isDefined)
    })
    if (!hasWork) plan else rewrite(plan)
  }

  /** Top-down walk: collapse the first (= maximal) qualifying subtree,
    * otherwise recurse into children and subquery plans. */
  private def rewrite(plan: LogicalPlan): LogicalPlan =
    tryFederate(plan).orElse(trySubstrait(plan)).getOrElse {
      plan.mapChildren(rewrite).transformExpressions {
        case s: SubqueryExpression => s.withNewPlan(rewrite(s.plan))
      }
    }

  /** The opt-in engine for the Substrait tier ("acero" or "duckdb"),
    * absent by default — local parquet subtrees stay on Spark unless the
    * user explicitly routes them, because at scale Spark IS the right
    * engine for its own parquet; the tier exists for parity with the
    * reference's embedded-DuckDB federation (duckdb_federation.rs
    * executes produced Substrait via `from_substrait`). */
  private def substraitEngine: Option[String] =
    Option(spark.conf.get(SubstraitEngineKey, ""))
      .map(_.trim.toLowerCase).filter(_.nonEmpty)

  /** Substrait tier: a join/aggregate subtree whose leaves are all LOCAL
    * parquet scans ships as produced Substrait bytes to the configured
    * engine ([[graft.sql.substrait.SubstraitEngines]]), exactly like the
    * wire tier ships unparsed SQL — same gates (never a bare scan, must
    * be a multi-scan subtree or a grouped aggregate, transferable output
    * types), same dimension-sized-result contract, same fallback: any
    * unsupported shape leaves the subtree on Spark untouched. */
  private def trySubstrait(plan: LogicalPlan): Option[LogicalPlan] =
    substraitEngine.flatMap(substraitCollapse(plan, _))

  private[graft] def substraitCollapse(plan: LogicalPlan,
      engine: String): Option[LogicalPlan] = {
    if (engine == "duckdb") {
      graft.sql.substrait.SubstraitEngines.duckdbStatus match {
        case Left(reason) =>
          logWarning(s"substrait tier configured for duckdb but $reason — " +
            "running locally")
          return None
        case Right(()) => ()
      }
    }
    // a bare scan (optionally aliased) stays local — same stance as the
    // wire tier: collapsing it forfeits column pruning + parallel reads
    if (parquetLeaf(stripAliases(plan)).isDefined) return None
    // the producer has no subquery-expression surface
    if (plan.subqueriesAll.nonEmpty) return None
    val leaves = plan.collectLeaves()
    if (leaves.isEmpty || !leaves.forall(l => parquetLeaf(l).isDefined))
      return None
    val worthIt = leaves.size >= 2 ||
      plan.exists { case _: Aggregate => true; case _ => false }
    if (!worthIt) return None
    if (!plan.output.forall(a => transferable(a.dataType))) return None
    // name each leaf t0..tN for the producer's named-table read-rels and
    // map those names to the parquet paths the engine bridge will open
    var idx = -1
    val tables = scala.collection.mutable.Map.empty[String, String]
    val named = plan.transformUp {
      case l if parquetLeaf(l).isDefined =>
        idx += 1
        val n = s"t$idx"
        tables(n) = parquetLeaf(l).get
        SubqueryAlias(n, l)
    }
    // positional aliases c0..cN: duplicate output names (self-joins)
    // would collide in the Arrow result's name-keyed decode
    val aliased = Project(named.output.zipWithIndex.map {
      case (a, i) => Alias(a, s"c$i")()
    }, named)
    val bytes =
      try graft.sql.substrait.SubstraitProducer.produce(aliased)
      catch {
        case _: graft.sql.substrait.SubstraitProducer.SubstraitUnsupported =>
          return None
      }
    val schema = StructType(plan.output.zipWithIndex.map { case (a, i) =>
      StructField(s"c$i", a.dataType, a.nullable)
    })
    val table = new graft.sql.substrait.SubstraitEngineTable(
      schema, engine, bytes, tables.toMap)
    val rel = DataSourceV2Relation.create(table, None, None,
      CaseInsensitiveStringMap.empty())
    logInfo(s"substrait tier: ${leaves.size}-scan subtree ships to $engine " +
      s"(${tables.keys.toSeq.sorted.mkString(",")})")
    Some(Project(plan.output.zip(rel.output).map { case (old, fresh) =>
      Alias(fresh, old.name)(exprId = old.exprId, qualifier = old.qualifier)
    }, rel))
  }

  private def tryFederate(plan: LogicalPlan): Option[LogicalPlan] = {
    // a bare scan (optionally view-aliased) stays local: per-scan
    // pushdown covers it, and collapsing would forfeit column pruning
    if (leafInfo(stripAliases(plan)).isDefined) return None
    val leaves = collectLeaves(plan)
    if (leaves.isEmpty) return None
    // leaves are remote scans, neutral (VALUES / CTE refs, which
    // unparse as literals/CTE names), or foreign (anything else) — one
    // foreign leaf keeps the subtree local
    val infos = leaves.map(leafInfo)
    val foreign = leaves.zip(infos).exists {
      case (_, Some(_)) => false
      case (_: LocalRelation | _: OneRowRelation, _) => false
      case (_: CTERelationRef | _: UnionLoopRef, _) => false
      case _ => true
    }
    if (foreign) return None
    val wire = infos.flatten
    // instance identity = kind + url + the CONNECTION options that would
    // configure the remote session (passThroughConf: credentials, TLS,
    // compression — scan-shape keys stripped). Url alone is not enough:
    // two v1 JDBC scans of one database registered with different
    // user/password options are different security principals, and
    // collapsing them would run both under the first scan's credentials
    // (row-level security ⇒ silently wrong rows).
    val sources = wire.map(w => (w.kind, w.url, passThroughConf(w))).distinct
    if (sources.size != 1) return None // spans instances — keep local
    // worth shipping only when the remote does work per-scan pushdown
    // can't: a multi-scan subtree (join/union) or a grouped aggregate
    val worthIt = wire.size >= 2 ||
      plan.exists { case _: Aggregate => true; case _ => false }
    if (!worthIt) return None
    if (!plan.output.forall(a => transferable(a.dataType))) return None
    val renamed = withRemoteNames(plan)
    if (renamed.isEmpty) return None
    // positional aliases c0..cN sidestep duplicate output names (a
    // self-join's two `id`s) and make the wire decode schema exact
    val aliased = Project(renamed.get.output.zipWithIndex.map {
      case (a, i) => Alias(a, s"c$i")()
    }, renamed.get)
    val head = wire.head
    val sql =
      try graft.sql.GraftSqlGen.forPlan(aliased, head.kind, strict = true)
      catch { case _: graft.sql.SqlGenError => None }
    sql.flatMap { text =>
      val schema = StructType(plan.output.zipWithIndex.map { case (a, i) =>
        StructField(s"c$i", a.dataType, a.nullable)
      })
      val rel =
        try Some(remoteRelation(head, text, schema))
        catch {
          // e.g. the remote refused schema inference for the generated
          // SQL (jdbc path) — local execution is always a correct plan
          case e: Exception =>
            logWarning(s"federation to ${head.kind} failed, running " +
              s"locally: ${e.getMessage}")
            None
        }
      rel.map { r =>
        logInfo(s"federating ${wire.size}-scan subtree to ${head.kind}: $text")
        // rebind the subtree's attribute ids (and exact types, for the
        // jdbc path whose schema the remote re-infers) so parents
        // resolve unchanged
        Project(plan.output.zip(r.output).map { case (old, fresh) =>
          val e =
            if (fresh.dataType == old.dataType) fresh
            else Cast(fresh, old.dataType)
          Alias(e, old.name)(exprId = old.exprId, qualifier = old.qualifier)
        }, r)
      }
    }
  }

  /** All leaves of the subtree, including those inside subquery
    * expressions (the unparser emits those subqueries into the SQL, so
    * they must live on the same remote instance too). */
  private def collectLeaves(plan: LogicalPlan): Seq[LogicalPlan] =
    (plan +: plan.subqueriesAll).flatMap(_.collectLeaves())

  /** Rewrap every remote leaf so the unparser names it by its REMOTE
    * table: `SubqueryAlias(view_name, rel)` becomes
    * `SubqueryAlias(remote_table, rel)`. None when a leaf was
    * registered by `query` (no addressable remote name). */
  private def withRemoteNames(plan: LogicalPlan): Option[LogicalPlan] = {
    var ok = true
    def wrap(r: LogicalPlan): LogicalPlan =
      leafInfo(r).flatMap(_.table) match {
        case Some(t) => SubqueryAlias(t, r)
        case None => ok = false; r
      }
    def walk(p: LogicalPlan): LogicalPlan = p match {
      case sa: SubqueryAlias =>
        val stripped = stripAliases(sa)
        if (leafInfo(stripped).isDefined) wrap(stripped)
        else sa.mapChildren(walk)
      case leaf if leafInfo(leaf).isDefined => wrap(leaf)
      case other =>
        other.mapChildren(walk).transformExpressions {
          case s: SubqueryExpression => s.withNewPlan(walk(s.plan))
        }
    }
    val walked = walk(plan)
    if (ok) Some(walked) else None
  }

  /** Build the replacement scan. Wire kinds construct the DSv2 relation
    * directly (no re-analysis, no remote round trip — the schema is the
    * subtree's own output); jdbc kinds go through the reader, which
    * re-infers the result schema from the remote (v1 JDBC does not
    * accept a user schema). */
  /** Connection options ride along (credentials beyond the url,
    * truststores, compression); scan-shape options must not (a `query`
    * relation has no partition column, and the old table/query are
    * replaced). */
  private def passThroughConf(leaf: RemoteLeaf): Map[String, String] =
    leaf.conf -- Seq("dbtable", "table", "query",
      "partitioncolumn", "partitionColumn", "numPartitions",
      "numpartitions", "lowerBound", "lowerbound", "upperBound",
      "upperbound", "paths")

  private def remoteRelation(leaf: RemoteLeaf, sql: String,
      schema: StructType): LogicalPlan =
    if (leaf.viaJdbc) {
      val reader = spark.read.format("jdbc").options(passThroughConf(leaf))
        .option("url", leaf.url).option("query", sql)
      reader.load().queryExecution.analyzed
    } else {
      val conf = passThroughConf(leaf) ++
        Map("url" -> leaf.url, "query" -> sql)
      val table = leaf.kind match {
        case k if RemoteSqlSource.byKind.contains(k) =>
          new RemoteSqlTable(schema,
            RemoteSqlOptions(conf, RemoteSqlSource.byKind(k).wire))
        // engine-to-engine: the collapsed subtree ships as Spark SQL to
        // a remote graft peer over the Arrow-carrying transports — the
        // reference's Flight-to-Flight subplan shipping
        case "arrowhttp" =>
          new graft.sources.arrowhttp.ArrowHttpTable(
            schema, graft.sources.arrowhttp.ArrowHttpOptions(conf))
        case "flight" =>
          new graft.sources.flight.FlightTable(
            schema, graft.sources.flight.FlightOptions(conf))
        case other =>
          throw new IllegalStateException(s"no federation executor for $other")
      }
      DataSourceV2Relation.create(table, None, None,
        new CaseInsensitiveStringMap(conf.asJava))
    }
}

object FederationRule {

  val EnabledKey = "spark.graft.federation.enabled"

  /** Engine for the Substrait tier ("acero" | "duckdb"); unset = off. */
  val SubstraitEngineKey = "spark.graft.federation.substrait.engine"

  /** Conf-free entry to the Substrait tier for callers that route ONE
    * plan explicitly (the q_substrait_acero gate query): collapse the
    * given OPTIMIZED plan for `engine`, or None when it doesn't qualify.
    * Session-conf routing stays untouched — no shared-session races. */
  def substraitRewrite(spark: SparkSession, plan: LogicalPlan,
      engine: String): Option[LogicalPlan] =
    FederationRule(spark).substraitCollapse(plan, engine)

  /** The LOCAL-filesystem path of a v1 parquet scan with a single root —
    * the only leaves the Substrait engine bridges can open (both engines
    * run on this host; a directory dataset is handled bridge-side). */
  private def parquetLeaf(p: LogicalPlan): Option[String] = p match {
    case lr: LogicalRelation => lr.relation match {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation
          if h.fileFormat.isInstanceOf[
            org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
        h.location.rootPaths.toSeq match {
          case Seq(one) =>
            val uri = one.toUri
            if (uri.getScheme == null || uri.getScheme == "file")
              Some(uri.getPath)
            else None
          case _ => None
        }
      case _ => None
    }
    case _ => None
  }

  /** One remote scan: dialect kind, instance identity (url — the
    * reference's compute context, postgres_federation.rs:46-49), the
    * remote-addressable table name (absent for query-registered scans),
    * the scan's connection options, and its transport. */
  private final case class RemoteLeaf(kind: String, url: String,
      table: Option[String], conf: Map[String, String], viaJdbc: Boolean)

  /** The wire-source kind of a DSv2 scan, by its Table class. */
  private def kindOf(r: DataSourceV2Relation): Option[String] =
    r.table match {
      case t: RemoteSqlTable => Some(t.opts.wire.kind)
      case _: graft.sources.arrowhttp.ArrowHttpTable => Some("arrowhttp")
      case _: graft.sources.flight.FlightTable => Some("flight")
      case _ => None
    }

  /** The SQL dialect spoken behind a JDBC url. */
  private def jdbcKind(url: String): Option[String] = {
    val u = url.toLowerCase
    Seq("postgresql" -> "postgres", "mysql" -> "mysql",
      "mariadb" -> "mysql", "clickhouse" -> "clickhouse",
      "sqlite" -> "sqlite", "duckdb" -> "duckdb", "derby" -> "derby",
      "oracle" -> "oracle", "snowflake" -> "snowflake")
      .collectFirst { case (p, k) if u.startsWith(s"jdbc:$p") => k }
  }

  private val PlainIdent = "[A-Za-z_][A-Za-z0-9_$]*".r

  /** How the engine case-folds UNQUOTED identifiers (SQL standard says
    * upper; postgres folds lower; the file engines preserve). */
  private def foldCase(kind: String, name: String): String = kind match {
    case "derby" | "oracle" | "snowflake" => name.toUpperCase
    case "postgres" => name.toLowerCase
    case _ => name
  }

  private def leafInfo(leaf: LogicalPlan): Option[RemoteLeaf] = leaf match {
    case r: DataSourceV2Relation =>
      for (k <- kindOf(r); u <- Option(r.options.get("url"))) yield {
        val conf = r.options.asCaseSensitiveMap().asScala.toMap
        val t = Option(r.options.get("table"))
          .orElse(Option(r.options.get("dbtable")))
        RemoteLeaf(k, u, t, conf, viaJdbc = false)
      }
    case lr: LogicalRelation
        if lr.relation.getClass.getName.endsWith(".jdbc.JDBCRelation") =>
      try {
        val rel = lr.relation
        val opts = rel.getClass.getMethod("jdbcOptions").invoke(rel)
        val params = opts.getClass.getMethod("parameters").invoke(opts)
          .asInstanceOf[scala.collection.Map[String, String]]
        for (u <- params.get("url"); k <- jdbcKind(u)) yield {
          // dbtable may be a "(subquery) alias" or schema-qualified —
          // only a plain identifier is remotely addressable by name.
          // Spark's v1 JDBC splices dbtable into SQL UNQUOTED, so the
          // stored catalog name is the engine's case-fold of it; the
          // generator always quotes, so fold first or `"emp"` misses
          // Derby's EMP
          val t = params.get("dbtable").filter(PlainIdent.matches)
            .map(foldCase(k, _))
          RemoteLeaf(k, u, t, params.toMap, viaJdbc = true)
        }
      } catch { case _: ReflectiveOperationException => None }
    case _ => None
  }

  private def stripAliases(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, c) => stripAliases(c)
    case other => other
  }

  /** Types the wire decoders round-trip exactly; anything else (arrays,
    * structs, maps, binary blobs) keeps the subtree local. */
  private def transferable(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | BooleanType | DateType |
        TimestampType | TimestampNTZType => true
    case _ => false
  }
}
