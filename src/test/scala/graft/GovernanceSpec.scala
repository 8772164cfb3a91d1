package graft

import graft.plans.{BudgetExceeded, CostValidator, DefensiveLimitRule}
import graft.session._
import graft.util.{Resilience, Sanitize, Scrubber}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.duration._

/** Governance layer: RLS/masking, defensive limit, cost validation, cache
  * isolation, resilience wrappers — mirroring the reference's own test
  * matrix (defensive_trace.rs:335-405, cost_validator.rs:217-255,
  * test_cache.rs user isolation, auth.rs unit tests). */
class GovernanceSpec extends AnyFunSuite {

  // the shared extended session (see SparkTestSession scaladoc)
  private lazy val gspark: SparkSession = {
    val s = SparkTestSession.spark
    Tables(s, SparkTestSession.sf).registerAll()
    s
  }
  private lazy val engine =
    new GraftSession(gspark, GraftConfig(defensiveLimit = 100), Some(QueryCache.temp()))

  test("RLS filter restricts rows per user") {
    val user = AuthenticatedUser("alice",
      rules = Map("orders" -> TablePolicy(rlsFilter = Some("o_custkey < 10"))))
    val r = engine.executeQuery(
      "SELECT count(*) AS n FROM orders", user)
    val all = engine.executeQuery(
      "SELECT count(*) AS n FROM orders", AuthenticatedUser("bob"))
    val restricted = r.df.head().getLong(0)
    val total = all.df.head().getLong(0)
    assert(restricted < total)
    val direct = gspark.sql("SELECT count(*) FROM orders WHERE o_custkey < 10")
      .head().getLong(0)
    assert(restricted == direct)
  }

  test("masking replaces column values") {
    val user = AuthenticatedUser("carol",
      rules = Map("customer" -> TablePolicy(masking = Map(
        "c_name" -> MaskingRule.Redact,
        "c_mktsegment" -> MaskingRule.KeepFirst(3),
        "c_acctbal" -> MaskingRule.Default("0")))))
    val rows = engine.executeQuery(
      "SELECT c_name, c_mktsegment, c_acctbal FROM customer LIMIT 5", user)
      .df.collect()
    assert(rows.forall(_.getString(0) == "MASKED"))
    assert(rows.forall(r => r.getString(1).endsWith("***") && r.getString(1).length == 6))
    assert(rows.forall(_.getString(2) == "0"))
  }

  test("masking applies below user predicates (no leakage via WHERE)") {
    val user = AuthenticatedUser("dave",
      rules = Map("customer" -> TablePolicy(masking = Map(
        "c_name" -> MaskingRule.Hash))))
    // filtering on the masked column sees hashes, so no plaintext match
    val leaked = engine.executeQuery(
      "SELECT c_custkey FROM customer WHERE c_name LIKE 'Customer%'", user)
    assert(leaked.df.count() == 0)
  }

  test("hash masking is sha2-256") {
    val user = AuthenticatedUser("erin",
      rules = Map("region" -> TablePolicy(masking = Map("r_name" -> MaskingRule.Hash))))
    val got = engine.executeQuery(
      "SELECT r_name FROM region ORDER BY r_regionkey LIMIT 1", user)
      .df.head().getString(0)
    val expect = gspark.sql(
      "SELECT sha2(CAST(min(r_name) AS STRING), 256) FROM region " +
        "WHERE r_regionkey = (SELECT min(r_regionkey) FROM region)")
      .head().getString(0)
    assert(got == expect)
  }

  test("defensive limit injected for unbounded select, skipped for aggregates") {
    val raw = engine.executeQuery("SELECT o_orderkey FROM orders")
    assert(raw.df.count() == 100)
    assert(raw.warnings.exists(_.code == WarningCodes.DefensiveLimit))
    val agg = engine.executeQuery("SELECT count(*) AS n FROM orders")
    assert(!agg.warnings.exists(_.code == WarningCodes.DefensiveLimit))
    val lim = engine.executeQuery("SELECT o_orderkey FROM orders LIMIT 7")
    assert(lim.df.count() == 7)
    assert(!lim.warnings.exists(_.code == WarningCodes.DefensiveLimit))
  }

  test("defensive limit rule plan matrix") {
    val rule = DefensiveLimitRule(50)
    val base = gspark.sql("SELECT o_orderkey FROM orders").queryExecution.analyzed
    assert(rule(base) ne base)
    val agg = gspark.sql("SELECT count(*) FROM orders").queryExecution.analyzed
    assert(rule(agg) eq agg)
    val dist = gspark.sql("SELECT DISTINCT o_orderstatus FROM orders").queryExecution.analyzed
    assert(rule(dist) eq dist)
    val lim = gspark.sql("SELECT o_orderkey FROM orders LIMIT 5").queryExecution.analyzed
    assert(rule(lim) eq lim)
    val sortedProj = gspark.sql(
      "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 5").queryExecution.analyzed
    assert(rule(sortedProj) eq sortedProj)
  }

  test("cache: same user hits, different user misses") {
    val u1 = AuthenticatedUser("u1")
    val u2 = AuthenticatedUser("u2")
    val sql = "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus"
    val first = engine.executeQuery(sql, u1)
    assert(first.warnings.exists(_.code == WarningCodes.CacheMiss))
    val second = engine.executeQuery(sql, u1)
    assert(second.warnings.exists(_.code == WarningCodes.CacheHit))
    assert(second.df.collect().map(_.toString).sorted
      .sameElements(first.df.collect().map(_.toString).sorted))
    val other = engine.executeQuery(sql, u2)
    assert(other.warnings.exists(_.code == WarningCodes.CacheMiss))
  }

  test("cache: permissions change the key") {
    val plain = AuthenticatedUser("same-id")
    val admin = AuthenticatedUser("same-id", permissions = Set("admin"))
    val sql = "SELECT count(*) AS n FROM nation"
    engine.executeQuery(sql, plain)
    val r = engine.executeQuery(sql, admin)
    assert(r.warnings.exists(_.code == WarningCodes.CacheMiss))
  }

  test("cost validator rejects oversized scans and passes small ones") {
    val tiny = CostValidator(maxScanBytes = Some(1L))
    val df = gspark.sql("SELECT * FROM lineitem")
    val e = intercept[BudgetExceeded](tiny.validate(df))
    assert(e.kind == "scan_bytes")
    assert(e.hint.nonEmpty)
    CostValidator(maxScanBytes = Some(Long.MaxValue)).validate(df)
  }

  test("cost validator judges scan bytes on leaves, not join-output estimates") {
    // Spark estimates join output ≈ product of child sizes, so a budget that
    // comfortably covers both scans must still pass a join between them.
    val join = gspark.sql(
      """SELECT l_orderkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey""")
    val leafMax = join.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).max
    val interiorMax = join.queryExecution.optimizedPlan.collect { case p => p }
      .map(_.stats.sizeInBytes).max
    assert(interiorMax > leafMax) // the join estimate really is bigger
    CostValidator(maxScanBytes = Some((leafMax * 2).toLong)).validate(join)
    // and a budget below the actual scan still rejects
    intercept[BudgetExceeded](
      CostValidator(maxScanBytes = Some(1L)).validate(join))
  }

  test("hasPermission: admin bypass, global + hierarchical wildcards, boundaries") {
    assert(AuthenticatedUser("a", Set("admin")).hasPermission("anything:at:all"))
    assert(AuthenticatedUser("a", Set("system:admin")).hasPermission("x"))
    assert(AuthenticatedUser("a", Set("*")).hasPermission("x:y"))
    val u = AuthenticatedUser("a", Set("governance:*", "query:execute"))
    assert(u.hasPermission("query:execute"))
    assert(u.hasPermission("governance:contracts:read"))
    assert(!u.hasPermission("governance"))      // strict hierarchy: foo:* ≠ foo
    assert(!u.hasPermission("governance_plus:x")) // boundary must be ':'
    assert(!u.hasPermission("query:explain"))
    assert(!AuthenticatedUser("a").hasPermission("query:execute"))
  }

  test("cache: persistent root is re-adopted after a restart") {
    val root = java.nio.file.Files.createTempDirectory("graft-cache-restart")
    val df = gspark.sql("SELECT n_nationkey FROM nation WHERE n_nationkey < 5")
    val u = AuthenticatedUser("restart-user")
    val c1 = new QueryCache(root)
    val k = c1.key(df, u)
    assert(c1.store(df, k).isDefined)
    // simulated restart: fresh (empty) index over the same on-disk root
    val c2 = new QueryCache(root)
    assert(c2.lookup(gspark, k).isEmpty)       // cold index, no entry yet
    assert(c2.store(df, k).isDefined)          // adopts the existing dir…
    val hit = c2.lookup(gspark, k)             // …so the key can hit now
    assert(hit.isDefined)
    assert(hit.get.count() == 5)
  }

  test("cache: byte-budget eviction drops LRU entries, keeps hot ones") {
    val root = java.nio.file.Files.createTempDirectory("graft-cache-bytes")
    val u = AuthenticatedUser("weigher")
    // budget sized to hold roughly two of the three results
    val probe = gspark.sql("SELECT n_nationkey FROM nation WHERE n_nationkey < 9")
    val c0 = new QueryCache(root)
    val kProbe = c0.key(probe, u)
    assert(c0.store(probe, kProbe).isDefined)
    val oneEntry = c0.totalBytes
    assert(oneEntry > 0)
    val c = new QueryCache(
      java.nio.file.Files.createTempDirectory("graft-cache-bytes2"),
      maxEntries = 1000, maxBytes = oneEntry * 5 / 2)
    val dfs = (1 to 3).map(i =>
      gspark.sql(s"SELECT n_nationkey FROM nation WHERE n_nationkey < $i"))
    val keys = dfs.map(c.key(_, u))
    dfs.zip(keys).foreach { case (df, k) =>
      assert(c.store(df, k).isDefined); Thread.sleep(5) }
    // 3 entries exceed the ~2.5-entry byte budget: the oldest was evicted
    assert(c.size == 2, s"size=${c.size} bytes=${c.totalBytes}")
    assert(c.totalBytes <= oneEntry * 5 / 2)
    assert(c.lookup(gspark, keys.head).isEmpty, "LRU entry survived")
    assert(c.lookup(gspark, keys.last).isDefined, "hot entry evicted")
    // an entry-count bound alone (256 default) would never have fired here
  }

  test("cache: a cache:false source opts its tables out, both directions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nocache")
    gspark.sql("SELECT n_nationkey, n_name FROM nation")
      .write.mode("overwrite").parquet(s"$dir/volatile.parquet")
    new graft.sources.SourceRegistry(gspark).registerAll(
      graft.sources.SourcesConfig(Seq(graft.sources.SourceDef(
        name = "livefeed", sourceType = "parquet", cache = false,
        url = Some(dir.toString),
        tables = Seq(graft.sources.TableDef("volatile",
          path = Some(s"$dir/volatile.parquet")))))))
    val u = AuthenticatedUser("nocache-user")
    val sql = "SELECT count(*) AS n FROM livefeed_volatile"
    val r1 = engine.executeQuery(sql, u)
    val r2 = engine.executeQuery(sql, u)
    // neither a miss-then-store nor a hit: the cache is bypassed entirely
    for (r <- Seq(r1, r2)) {
      assert(!r.warnings.exists(_.code == WarningCodes.CacheHit), r.warnings)
      assert(!r.warnings.exists(_.code == WarningCodes.CacheMiss), r.warnings)
    }
    assert(r2.df.head().getLong(0) == 25)
    // a query NOT touching the opted-out source still caches
    val cached = engine.executeQuery(
      "SELECT count(*) AS n FROM nation WHERE n_regionkey = 0", u)
    assert(cached.warnings.exists(_.code == WarningCodes.CacheMiss))
  }

  test("query log records scrubbed sql and cache flag") {
    val before = engine.queryLog.size
    engine.executeQuery(
      "SELECT count(*) AS n FROM customer -- contact admin@example.com")
    val entry = engine.queryLog.drop(before).head
    assert(!entry.scrubbedSql.contains("admin@example.com"))
    assert(entry.scrubbedSql.contains("[EMAIL]"))
    assert(entry.succeeded)
  }

  test("scrubber covers email/ssn/card/phone") {
    val s = Scrubber.scrub(
      "email a@b.co ssn 123-45-6789 card 4111 1111 1111 1111 phone (555) 123-4567")
    assert(!s.contains("a@b.co") && !s.contains("123-45-6789") &&
      !s.contains("4111") && !s.contains("555"))
  }

  test("identifier sanitizer rejects injection attempts") {
    Sanitize.validateIdentifier("l_orderkey")
    assert(Sanitize.quoteIdentifier("tbl") == "\"tbl\"")
    Seq("a\"b", "a;b", "a`b", "a\\b", "a b", "", "x" * 129).foreach { bad =>
      intercept[Sanitize.UnsafeIdentifier](Sanitize.validateIdentifier(bad))
    }
  }

  test("circuit breaker trips and half-opens") {
    val cb = new Resilience.CircuitBreaker("t", failureThreshold = 2, cooldownMillis = 50)
    def boom(): Int = throw new RuntimeException("down")
    intercept[RuntimeException](cb(() => boom()))
    intercept[RuntimeException](cb(() => boom()))
    intercept[Resilience.CircuitOpen](cb(() => 1))
    Thread.sleep(60)
    assert(cb(() => 42) == 42) // half-open probe succeeds → closed
    assert(cb(() => 43) == 43)
  }

  test("retry retries then succeeds") {
    var calls = 0
    val r = new Resilience.RetryPolicy(maxAttempts = 3, baseDelayMillis = 1)
    val v = r { () =>
      calls += 1
      if (calls < 3) throw new RuntimeException("flaky") else "ok"
    }
    assert(v == "ok" && calls == 3)
  }

  test("concurrency budget bounds parallel entry") {
    val b = new Resilience.ConcurrencyBudget(2)
    assert(b.available == 2)
    val inside = b { () => b.available }
    assert(inside == 1)
    assert(b.available == 2)
  }

  test("query timeout cancels the job group") {
    val quick = new GraftSession(gspark,
      GraftConfig(queryTimeout = 1.millis, defensiveLimit = 0),
      Some(QueryCache.temp()))
    val e = intercept[RuntimeException] {
      quick.executeQuery(
        // heavy enough to exceed 1 ms: cartesian-ish aggregation
        "SELECT count(*) AS n FROM lineitem a JOIN lineitem b ON a.l_partkey = b.l_partkey")
    }
    assert(e.getMessage.contains("timed out"))
  }
}
