package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Second wave of operator coverage: multiset set-ops, lateral/explode,
  * ordered-set aggregates (percentiles, mode), regexp extraction,
  * time-interval window frames, and approximate-distinct sketches.
  * These extend SURVEY.md §2.1/§2.2 coverage to the full surface a
  * reference user could reach through DataFusion SQL.
  */
object Extended {

  private def t(s: SparkSession, dir: String) = Tables(s, dir)

  /** SQL over per-invocation views: `{name}` placeholders bind unique
    * temp views so concurrent sessions never race on shared view names. */
  private def sqlOn(s: SparkSession, dir: String, sql: String,
      names: String*) =
    graft.GraftQuery.sqlOn(s, names.map(n => n -> t(s, dir).load(n)).toMap, sql)

  /** α_512·m²·2^55 as one exact integer: 1846528·2^73 (the reduced
    * rational of 0.7213/(1+1.079/512), numerator side). */
  private val HllNum = "17439963873760640474311294976"

  /** DuckDB re-derivation of the q_hll_portable sketch: same fmix63
    * basis (HUGEINT staging), same bucket/rho split, same integer-scaled
    * estimate — every column hash-comparable. */
  private def hllOracle: String = {
    val (ctes, last) =
      SketchOracleSql.fmixScalarCtes("f", "d", "l_returnflag", "k")
    s"""WITH d AS (SELECT l_returnflag, CAST(l_partkey AS HUGEINT) AS k FROM lineitem),
       |$ctes,
       |b AS (SELECT l_returnflag, fh >> 54 AS bucket,
       |  CASE WHEN (fh & ((CAST(1 AS BIGINT) << 54) - 1)) = 0 THEN 55
       |       ELSE 55 - length(bin(fh & ((CAST(1 AS BIGINT) << 54) - 1))) END AS rho
       |  FROM $last),
       |r AS (SELECT l_returnflag, bucket, max(rho) AS reg FROM b GROUP BY 1, 2),
       |g AS (SELECT l_returnflag, count(*) AS v_buckets,
       |  sum(CAST(CAST(1 AS BIGINT) << (55 - reg) AS HUGEINT)) AS s_part,
       |  CAST(sum((bucket + 1) * reg) AS BIGINT) AS reg_checksum FROM r GROUP BY 1),
       |e AS (SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts
       |  FROM lineitem GROUP BY 1)
       |SELECT g.l_returnflag, v_buckets,
       |  CAST(CAST('$HllNum' AS HUGEINT) // (2565395 *
       |    ((512 - v_buckets) * CAST(36028797018963968 AS HUGEINT) + s_part)) AS BIGINT)
       |    AS hll_estimate,
       |  reg_checksum, exact_parts
       |FROM g JOIN e USING (l_returnflag)""".stripMargin
  }

  val defs: Seq[GraftQuery] = Seq(

    // Multiset semantics (INTERSECT ALL / EXCEPT ALL) — beyond the
    // reference translator (which only unparsed distinct set-ops), but
    // executable by DataFusion locally.
    GraftQuery("q_intersect_all",
      """SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 200000
        |INTERSECT ALL
        |SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'F'""".stripMargin) { (s, dir) =>
      val o = t(s, dir).orders
      o.filter(col("o_totalprice") > 200000).select(col("o_custkey").as("ck"))
        .intersectAll(o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("ck")))
    },

    GraftQuery("q_except_all",
      """SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 200000
        |EXCEPT ALL
        |SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'F'""".stripMargin) { (s, dir) =>
      val o = t(s, dir).orders
      o.filter(col("o_totalprice") > 200000).select(col("o_custkey").as("ck"))
        .exceptAll(o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("ck")))
    },

    // Correlated EXISTS / NOT EXISTS as SQL text — DataFusion decorrelates
    // these locally (SURVEY.md §2.1 Subquery row); Spark's
    // RewritePredicateSubquery turns them into semi/anti joins.
    GraftQuery("q_subquery_exists",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')""".stripMargin) { (s, dir) =>
      sqlOn(s, dir,
        """SELECT c_custkey, c_name FROM {customer} c
          |WHERE EXISTS (SELECT 1 FROM {orders} o
          |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          |  AND NOT EXISTS (SELECT 1 FROM {orders} o2
          |                  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')""".stripMargin,
        "customer", "orders")
    },

    // Expression limits (reference unparser handles e.g. `LIMIT 10+5`,
    // translator/set_ops.rs:586-592). Spark requires a foldable limit
    // expression and folds it at analysis — same pre-evaluation the
    // reference applies.
    GraftQuery("q_limit_expr",
      "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 10+5") { (s, dir) =>
      sqlOn(s, dir,
        "SELECT o_orderkey FROM {orders} ORDER BY o_orderkey LIMIT 10+5", "orders")
    },

    // Lateral explode (UNNEST): word frequencies over documents.
    GraftQuery("q_explode",
      """SELECT w, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE doc_id < 100)
        |GROUP BY w HAVING count(*) >= 5""".stripMargin) { (s, dir) =>
      t(s, dir).documents.filter(col("doc_id") < 100)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 5)
    },

    // Ordered-set aggregates: exact percentiles + mode. l_quantity is
    // integer-valued, so disc/cont interpolation is exact in both engines.
    GraftQuery("q_percentiles",
      """SELECT l_returnflag,
        |  percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity) AS p50_disc,
        |  percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25_cont,
        |  percentile_cont(0.9) WITHIN GROUP (ORDER BY l_quantity) AS p90_cont,
        |  mode(l_linestatus) AS common_status
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      sqlOn(s, dir,
        """SELECT l_returnflag,
          |  percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity) AS p50_disc,
          |  percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25_cont,
          |  percentile_cont(0.9) WITHIN GROUP (ORDER BY l_quantity) AS p90_cont,
          |  mode(l_linestatus) AS common_status
          |FROM {lineitem} GROUP BY l_returnflag""".stripMargin, "lineitem")
    },

    // ------------------------------- histogram-quantile approximation
    // The SCALE PATH beside q_percentiles: percentile_disc/cont sort
    // every group's rows (per-group sort = the single-task hot spot on
    // a skewed group at 100 TB); here quantiles come from a cumulative
    // walk over a fixed-width HISTOGRAM — one map-side-combinable
    // aggregate over (group, bin), then windows whose partitions hold
    // one row per distinct bin (bounded by the value range, corpus-size
    // independent — the d_ccnet_buckets shape applied to relational
    // aggregation). The estimate is the bin's upper edge, so it
    // overshoots the exact quantile by at most one bin width (spec-
    // pinned); bins derive from exact decimal floor division, so both
    // engines build the identical histogram and the result hashes.
    GraftQuery("q_quantile_hist",
      """WITH h AS (SELECT l_returnflag,
        |    CAST(floor(l_extendedprice / 100) AS BIGINT) AS bin,
        |    count(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (SELECT l_returnflag, bin, c,
        |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
        |    sum(c) OVER (PARTITION BY l_returnflag) AS n FROM h)
        |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n_rows,
        |  CAST(min(CASE WHEN cum * 2 >= n THEN (bin + 1) * 100 END) AS BIGINT) AS p50_est,
        |  CAST(min(CASE WHEN cum * 10 >= 9 * n THEN (bin + 1) * 100 END) AS BIGINT) AS p90_est
        |FROM cum GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val h = t(s, dir).lineitem
        .groupBy(col("l_returnflag"),
          expr("CAST(floor(l_extendedprice / 100) AS BIGINT)").as("bin"))
        .agg(count(lit(1)).as("c"))
      // windows over the HISTOGRAM (distinct bins per flag), never the
      // rows; (flag, bin) rows are distinct so the default RANGE frame
      // has no peers and both engines agree
      val cum = h
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy(col("l_returnflag")).orderBy(col("bin"))))
        .withColumn("n", sum(col("c")).over(
          Window.partitionBy(col("l_returnflag"))))
      cum.groupBy(col("l_returnflag")).agg(
        max(col("n")).cast("bigint").as("n_rows"),
        min(when(col("cum") * 2 >= col("n"), (col("bin") + 1) * 100))
          .cast("bigint").as("p50_est"),
        min(when(col("cum") * 10 >= col("n") * 9, (col("bin") + 1) * 100))
          .cast("bigint").as("p90_est"))
    },

    // Regexp extraction (group capture) — same function name/semantics in
    // both engines for RE2-safe patterns.
    GraftQuery("q_regexp_extract",
      """SELECT c_custkey,
        |  regexp_extract(c_name, '([0-9]+)', 1) AS id_digits
        |FROM customer WHERE c_custkey < 200""".stripMargin) { (s, dir) =>
      t(s, dir).customer.filter(col("c_custkey") < 200)
        .select(col("c_custkey"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("id_digits"))
    },

    // Time-interval RANGE frame (expr.rs:183-203 interval window bounds):
    // orders placed in the trailing 30 days per customer.
    GraftQuery("q_window_time_range",
      """SELECT o_custkey, o_orderkey,
        |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
        |    RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS n_trailing_30d
        |FROM orders WHERE o_custkey < 30""".stripMargin) { (s, dir) =>
      sqlOn(s, dir,
        """SELECT o_custkey, o_orderkey,
          |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
          |    RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS n_trailing_30d
          |FROM {orders} WHERE o_custkey < 30""".stripMargin, "orders")
    },

    // HLL sketch (extension beyond the reference — SURVEY.md §2.2 notes
    // none exist there). Spark's HLL++ estimate is engine-specific, so
    // the raw value has no cross-engine hash — instead the estimate is
    // judged IN-QUERY against its exact twin and the result carries
    // (exact, error-within-spec boolean), which DOES hash: the oracle
    // recomputes the exact count and pins the boolean TRUE, so a
    // drifting sketch (bucket hash, bias correction, merge bug) flips
    // the bit and fails the driver gate. The sketch itself is
    // deterministic per dataset and partition-count-independent (the
    // HLL merge is an exact max-per-register), so the boolean is
    // stable. The fully hash-oracled sketch — registers, checksum, and
    // estimate recomputed bit-for-bit by DuckDB — is q_hll_portable.
    GraftQuery("q_approx_distinct",
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS within_bound
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, dir) =>
      // HLL is duplicate-insensitive, so both the sketch and the exact
      // count read the deduplicated (flag, partkey) relation — one
      // map-side-combinable shuffle instead of Expand + distinct handling.
      t(s, dir).lineitem
        .groupBy(col("l_returnflag"), col("l_partkey")).agg(lit(1))
        .groupBy(col("l_returnflag")).agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          count(lit(1)).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")) <=
            col("exact_parts") * 0.05).as("within_bound"))
    },

    // Portable HyperLogLog (Flajolet-Fuchs-Gandouet-Meunier 2007) — the
    // hash-ORACLED twin of q_approx_distinct. Spark's own HLL++ sketch is
    // engine-internal; this one is built on the portable basis hash, so
    // DuckDB re-derives the ENTIRE sketch — registers, checksum, and the
    // estimate itself — bit-for-bit, turning the cardinality sketch from
    // rows-only into driver-hash-verified.
    //
    // Construction (p=9, m=512 registers): bucket = top 9 bits of
    // fmix63(key); rho = leading-zero rank of the remaining 54 bits + 1
    // (computed as 55 - bitlength, exact in both engines via the binary
    // string length — float log2 would misround near powers of two);
    // register = max(rho) per bucket. `groupBy(bucket).max(rho)` IS the
    // HLL merge operator expressed relationally — duplicate-insensitive,
    // associative, map-side combined by Catalyst — so the same plan that
    // computes the sketch on 32 partitions computes it on 32k, and
    // partial sketches from different clusters union by the same max.
    //
    // The estimate stays in INTEGER arithmetic end to end: the harmonic
    // denominator Σ 2^-reg is scaled by 2^55 so every term is an exact
    // integer (empty buckets contribute 2^55 each; max Σ = 512·2^55 =
    // 2^64, inside DECIMAL(38,0)/HUGEINT), and α_512·m² = 1846528/2565395
    // ·2^18 rides as one exact rational: E = (1846528·2^73) div
    // (2565395·S). No float ever forms, so the estimate hash-matches
    // across engines — the usual reason sketch estimates can't be oracled.
    // E overflows BIGINT only past ~4e18 true distincts (not reachable).
    // Contract: E is the RAW estimator, accurate for n > 2.5m = 1280
    // (true at the gate's sf0.01 and above); below that a consumer applies
    // linear counting m·ln(m/(m-V)) from the V column — transcendental,
    // so it stays client-side. exact_parts is the verification twin (a
    // real distinct count; at 100 TB a user drops it and keeps the
    // one-pass sketch). Scale shape: one map-side-combined shuffle of
    // (flag, bucket) pairs — ≤ m groups per flag — then a 3-row join.
    GraftQuery("q_hll_portable", hllOracle) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      val li = t(s, dir).lineitem
      // HLL is duplicate-insensitive (register = max rho), so BOTH the
      // sketch and its exact verification twin read the deduplicated
      // (flag, partkey) relation: one fact-table scan + one exchange
      // whose final aggregate both branches reuse (ReusedExchange),
      // instead of scanning lineitem twice (registers over raw rows +
      // countDistinct's Expand/two-exchange path). Same trick
      // q_approx_distinct documents; register maxima, estimate, and
      // exact counts are value-identical. r19: 2 scans → 1, exchange of
      // raw (flag, partkey) pairs shared, plan diff in plans/r19.
      // (materialized: the optimizer rewrites the two branches'
      // distinct differently, so ReusedExchange alone does not fire;
      // Reuse picks localCheckpoint locally, recoverable persist on a
      // cluster)
      val dedup = graft.util.Reuse.materialize(
        li.select(col("l_returnflag"), col("l_partkey")).distinct())
      val regs = graft.functions.HllSketch.registers(
        dedup, "l_partkey", Seq("l_returnflag"))
      val sketch = regs.groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("v_buckets"),
        sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), 55 - reg) AS DECIMAL(38,0))"))
          .as("s_part"),
        sum(expr("(bucket + 1) * reg")).as("reg_checksum"))
      val est = sketch.select(col("l_returnflag"), col("v_buckets"),
        expr(s"CAST('$HllNum' AS DECIMAL(38,0)) div (2565395 * " +
          "((512 - v_buckets) * CAST(36028797018963968 AS DECIMAL(38,0)) + s_part))")
          .as("hll_estimate"),
        col("reg_checksum"))
      val exact = dedup.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("exact_parts"))
      est.join(exact, "l_returnflag")
    },

    // TABLESAMPLE via hash-based deterministic sampling: keep rows whose
    // fmix63 of the packed primary key is 0 mod 16 (a 1/16 rate). Unlike
    // seeded RNG sampling (whose algorithm differs per engine and per
    // partition layout), the hash cut is reproducible by ANY engine from
    // the data alone, so the sampled aggregate is fully
    // oracle-verifiable. The integer fmix is pure wrapping arithmetic —
    // no per-row string build + md5 digest like the first cut of this
    // query — and the packed key (linenumber is 1..7 in this schema) is
    // one multiply-add. Map-only at any scale.
    // ------------------------------------------- file-format round-trips
    // The CSV and JSON readers carry driver-checkable correctness: the
    // engine WRITES the table in the format, reads it back with a
    // declared schema, and the result must hash-match the oracle reading
    // the original parquet — any loss in either direction (quoting,
    // escapes, date/decimal text forms, null encodings) breaks the hash.
    // The write lands in a per-(format, dir) temp location, overwritten
    // each run; reference file source: file.rs:26-364.
    GraftQuery("q_csv_roundtrip",
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer""".stripMargin) { (s, dir) =>
      // a fresh per-call directory: a fixed path would race concurrent
      // sessions (one overwrite deleting files under another's lazy
      // read) and hashCode collisions could cross-wire data dirs
      val tmp = roundTripDir("csv")
      val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      spreadForWrite(s, t(s, dir).customer.select(cols.map(col): _*),
          "c_custkey")
        .write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true")
        .schema("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
          "c_acctbal DOUBLE, c_mktsegment STRING")
        .csv(tmp)
    },

    GraftQuery("q_json_roundtrip",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        |FROM orders""".stripMargin) { (s, dir) =>
      val tmp = roundTripDir("json")
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate")
      spreadForWrite(s, t(s, dir).orders.select(cols.map(col): _*),
          "o_orderkey")
        .write.mode("overwrite").json(tmp)
      s.read
        .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
          "o_totalprice DOUBLE, o_orderdate TIMESTAMP")
        .json(tmp)
    },

    // ORC round-trip: same contract as the csv/json rows above but through
    // the columnar ORC reader/writer (predicate pushdown + column pruning
    // work the same as parquet; Spark's native vectorized ORC scan). The
    // reference's file source is parquet/csv/json-only (file.rs:26-364);
    // ORC is an extension a Spark-resident engine gets for free and a
    // warehouse migration actually needs.
    GraftQuery("q_orc_roundtrip",
      """SELECT p_partkey, p_name, p_brand, p_size, p_retailprice
        |FROM part""".stripMargin) { (s, dir) =>
      val tmp = roundTripDir("orc")
      val cols = Seq("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")
      spreadForWrite(s, t(s, dir).part.select(cols.map(col): _*),
          "p_partkey")
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
    },

    // SQLite round-trips: the engine WRITES a real .sqlite database
    // file (sources/sqlite/SqliteWriter.scala — header, schema page,
    // b-tree built bottom-up) and READS it back through the clean-room
    // DSv2 format reader (SqliteFile/SqliteDataSource — b-tree walk,
    // serial types, overflow chains, rowid-alias). Any byte-level slip
    // in either direction breaks the hash vs the oracle on the
    // original parquet; the asymmetric differential (fixtures built by
    // a REAL SQLite, and written files opened by one) lives in
    // SqliteSourceSpec. Reference connector: sql/sqlite.rs:30-195.
    // The fixture build streams toLocalIterator (never .collect) —
    // a .sqlite file is a single-stream artifact by design; this path
    // is the format bridge, not a data-path operator.
    GraftQuery("q_sqlite_scan",
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation""".stripMargin) { (s, dir) =>
      import graft.sources.sqlite._
      val db = java.nio.file.Paths.get(roundTripDir("sqlite"), "db.sqlite")
      val rows = t(s, dir).nation
        .select(col("n_nationkey").cast("long"), col("n_name"),
          col("n_regionkey").cast("long"))
        .orderBy("n_nationkey").toLocalIterator()
      SqliteWriter.write(db, "nation",
        Seq("n_nationkey" -> "INTEGER PRIMARY KEY", "n_name" -> "TEXT",
          "n_regionkey" -> "INTEGER"),
        scala.jdk.CollectionConverters.IteratorHasAsScala(rows).asScala
          .map(r => Seq[Any](r.getLong(0), r.getString(1), r.getLong(2))))
      s.read.format(classOf[SqliteDataSource].getName)
        .option("path", db.toString).option("table", "nation").load()
    },

    // rowid-range pushdown through the correctness gate: the filter on
    // the INTEGER PRIMARY KEY prunes the b-tree descent (pages read ∝
    // selected range), and the surviving rows must still hash-match
    // the oracle's BETWEEN on the original parquet.
    GraftQuery("q_sqlite_pushdown",
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey BETWEEN 20 AND 90""".stripMargin) {
      (s, dir) =>
      import graft.sources.sqlite._
      val db = java.nio.file.Paths.get(roundTripDir("sqlite"), "cust.sqlite")
      val rows = t(s, dir).customer
        .select(col("c_custkey").cast("long"), col("c_name"),
          col("c_acctbal").cast("double"), col("c_mktsegment"))
        .orderBy("c_custkey").toLocalIterator()
      SqliteWriter.write(db, "customer",
        Seq("c_custkey" -> "INTEGER PRIMARY KEY", "c_name" -> "TEXT",
          "c_acctbal" -> "REAL", "c_mktsegment" -> "TEXT"),
        scala.jdk.CollectionConverters.IteratorHasAsScala(rows).asScala
          .map(r => Seq[Any](r.getLong(0), r.getString(1),
            r.getDouble(2), r.getString(3))))
      s.read.format(classOf[SqliteDataSource].getName)
        .option("path", db.toString).option("table", "customer").load()
        .filter(col("c_custkey").between(20, 90))
    },

    // WITHOUT ROWID through the correctness gate: the table is written
    // as a real index b-tree (PK-first records, promoted separators —
    // SqliteWriter.writeWithoutRowid), read back through the index
    // reader with the leading-PK range pruning the descent, and the
    // surviving rows must hash-match the oracle's BETWEEN on the
    // original parquet.
    GraftQuery("q_sqlite_worowid",
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer WHERE c_custkey BETWEEN 30 AND 80""".stripMargin) {
      (s, dir) =>
      import graft.sources.sqlite._
      val db = java.nio.file.Paths.get(roundTripDir("sqlite"), "cust_wr.sqlite")
      val rows = t(s, dir).customer
        .select(col("c_custkey").cast("long"), col("c_name"),
          col("c_acctbal").cast("double"))
        .orderBy("c_custkey").toLocalIterator()
      SqliteWriter.writeWithoutRowid(db, "customer",
        Seq("c_custkey" -> "INTEGER", "c_name" -> "TEXT",
          "c_acctbal" -> "REAL"), Seq("c_custkey"),
        scala.jdk.CollectionConverters.IteratorHasAsScala(rows).asScala
          .map(r => Seq[Any](r.getLong(0), r.getString(1), r.getDouble(2))))
      s.read.format(classOf[SqliteDataSource].getName)
        .option("path", db.toString).option("table", "customer").load()
        .filter(col("c_custkey").between(30, 80))
    },

    // Secondary CREATE INDEX scan through the correctness gate: the
    // writer adds a real index b-tree (entries = (c_nationkey, rowid),
    // binary collation, rowid tiebreak) and the reader's planner picks
    // it for the non-PK range filter — index descent pruned by the
    // leading entry value, then a rowid LOOKBACK into the table b-tree
    // for the non-covered columns (pages read ∝ selected range, not
    // the table; a caching Db reads shared interior pages once). The
    // surviving rows must hash-match the oracle's BETWEEN on the
    // original parquet. Reference gets this via the driver for free
    // (sql/sqlite.rs:30-195); here it is the clean-room file-format
    // twin. nationkey ∈ [5, 15] sits inside the 0-24 nation key space
    // at EVERY scale, so the row returns rows at sf0.001 too.
    GraftQuery("q_sqlite_index",
      """SELECT c_custkey, c_name, c_nationkey
        |FROM customer WHERE c_nationkey BETWEEN 5 AND 15""".stripMargin) {
      (s, dir) =>
      import graft.sources.sqlite._
      val db = java.nio.file.Paths.get(roundTripDir("sqlite"), "cust_ix.sqlite")
      val rows = t(s, dir).customer
        .select(col("c_custkey").cast("long"), col("c_name"),
          col("c_nationkey").cast("long"))
        .orderBy("c_custkey").toLocalIterator()
      SqliteWriter.write(db, "customer",
        Seq("c_custkey" -> "INTEGER PRIMARY KEY", "c_name" -> "TEXT",
          "c_nationkey" -> "INTEGER"),
        scala.jdk.CollectionConverters.IteratorHasAsScala(rows).asScala
          .map(r => Seq[Any](r.getLong(0), r.getString(1), r.getLong(2))),
        indexes = Seq(("idx_cust_nation", Seq("c_nationkey"))))
      s.read.format(classOf[SqliteDataSource].getName)
        .option("path", db.toString).option("table", "customer").load()
        .filter(col("c_nationkey").between(5, 15))
    },

    // WITHOUT ROWID secondary index with a NON-COVERING projection
    // through the correctness gate: the entry carries only
    // (c_nationkey, c_custkey[PK]), so c_name/c_acctbal force the
    // PK-TUPLE LOOKBACK — each surviving entry's trailing PK tuple
    // keys a point descent of the table's PK index
    // (SqliteFile.lookupPkTuple, the rowid lookback's twin; pages read
    // ∝ selected range + one O(depth) path per match through the
    // caching Db). Rows must hash-match the oracle's BETWEEN on the
    // original parquet. nationkey ∈ [5, 15] sits inside the 0-24
    // nation key space at every scale.
    GraftQuery("q_sqlite_lookback",
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer WHERE c_nationkey BETWEEN 5 AND 15""".stripMargin) {
      (s, dir) =>
      import graft.sources.sqlite._
      val db = java.nio.file.Paths.get(roundTripDir("sqlite"), "cust_lb.sqlite")
      val rows = t(s, dir).customer
        .select(col("c_custkey").cast("long"), col("c_name"),
          col("c_acctbal").cast("double"), col("c_nationkey").cast("long"))
        .orderBy("c_custkey").toLocalIterator()
      SqliteWriter.writeWithoutRowid(db, "customer",
        Seq("c_custkey" -> "INTEGER", "c_name" -> "TEXT",
          "c_acctbal" -> "REAL", "c_nationkey" -> "INTEGER"),
        Seq("c_custkey"),
        scala.jdk.CollectionConverters.IteratorHasAsScala(rows).asScala
          .map(r => Seq[Any](r.getLong(0), r.getString(1),
            r.getDouble(2), r.getLong(3))),
        indexes = Seq(("idx_cust_lb_nation", Seq("c_nationkey"))))
      s.read.format(classOf[SqliteDataSource].getName)
        .option("path", db.toString).option("table", "customer").load()
        .filter(col("c_nationkey").between(5, 15))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    },

    // Substrait tier through the correctness gate: the join+aggregate is
    // collapsed by the federation router's Substrait tier
    // (plans/FederationRule.substraitRewrite) into produced plan BYTES
    // executed on Acero — a second engine with its own independent
    // Substrait decoder — and the rows it streams back must still
    // hash-match DuckDB's answer on the original parquet. This is the
    // execution twin of the reference's embedded-DuckDB federation
    // (reference crates/connectors/src/sources/sql/duckdb_federation.rs,
    // crates/sql/src/substrait_producer.rs:529-536). Routed explicitly —
    // not via session conf — so a shared session never races.
    GraftQuery("q_substrait_acero",
      """SELECT n_name, count(*) AS cnt,
        |  CAST(sum(c_custkey) AS BIGINT) AS key_sum
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 0
        |GROUP BY n_name""".stripMargin) { (s, dir) =>
      // integer aggregates only: a float sum's addition ORDER differs
      // between engines, and this row must hash-match DuckDB exactly
      val local = t(s, dir).customer.filter(col("c_acctbal") > 0)
        .join(t(s, dir).nation,
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("c_custkey")).as("key_sum"))
      val collapsed = graft.plans.FederationRule.substraitRewrite(
        s, local.queryExecution.optimizedPlan, "acero").getOrElse(
          throw new IllegalStateException(
            "substrait tier did not collapse the join+aggregate"))
      org.apache.spark.sql.GraftPlanBridge.ofRows(s, collapsed)
    },

    // Substrait ORDER BY ... LIMIT through the gate: the whole
    // join+aggregate+sort+fetch subtree ships as one produced plan
    // (SortRel with uniform nulls-last placement — Acero rejects mixed
    // placement, which the producer now refuses loudly — then
    // FetchRel), executed on Acero, and the top-k rows must hash-match
    // DuckDB. The tiebreak key (n_name, unique per group) makes the
    // top-5 SET deterministic, so the unordered row-set compare is
    // exact. Integer aggregates only, as in q_substrait_acero.
    GraftQuery("q_substrait_topk",
      """SELECT n_name, count(*) AS cnt,
        |  CAST(sum(c_custkey) AS BIGINT) AS key_sum
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 0
        |GROUP BY n_name
        |ORDER BY key_sum DESC, n_name
        |LIMIT 5""".stripMargin) { (s, dir) =>
      val local = t(s, dir).customer.filter(col("c_acctbal") > 0)
        .join(t(s, dir).nation,
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("c_custkey")).as("key_sum"))
        .orderBy(col("key_sum").desc_nulls_last,
          col("n_name").asc_nulls_last)
        .limit(5)
      val collapsed = graft.plans.FederationRule.substraitRewrite(
        s, local.queryExecution.optimizedPlan, "acero").getOrElse(
          throw new IllegalStateException(
            "substrait tier did not collapse the sort+fetch subtree"))
      org.apache.spark.sql.GraftPlanBridge.ofRows(s, collapsed)
    },

    // Iceberg round-trip: WRITE the filtered table as two append-only
    // Iceberg snapshots (spec-shaped metadata JSON + Avro manifests,
    // sources/iceberg/IcebergLocal.scala), serve them over a live REST
    // catalog, and READ the tagged first snapshot back through the REST
    // client + manifest walk + distributed parquet scan
    // (IcebergRest.read). The oracle recomputes the snapshot-1 predicate
    // on the original table, so any slip in the catalog protocol,
    // snapshot resolution, manifest decoding, or file listing breaks the
    // hash. Reference: iceberg.rs:43-100 (TableVersionSpec time travel).
    GraftQuery("q_iceberg_snapshot",
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation WHERE n_regionkey < 2""".stripMargin) { (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, _) = cachedFixture("snapshot", dir) { wh =>
        val tableDir = wh.resolve("nation")
        def appendFiltered(pred: String, ts: Long,
            tag: Option[String]): Unit = {
          val df = t(s, dir).nation.filter(pred)
          IcebergCommit.local(tableDir).append(stageFiles(df, "snap"), ts, tag,
            schema = Some(df.schema))
        }
        appendFiltered("n_regionkey < 2", ts = 1000L, tag = Some("v1"))
        appendFiltered("n_regionkey >= 2", ts = 2000L, tag = None)
      }
      // IcebergRest.read consults the catalog while it builds the
      // DataFrame: the plan it returns scans warehouse files only, so it
      // outlives server.stop() (IcebergRestSpec collects after a stop)
      val server = new IcebergLocal.CatalogServer(warehouse, "lake")
      val port = server.start()
      try {
        val catalog = new IcebergRestCatalog(s"http://127.0.0.1:$port")
        IcebergRest.read(s, catalog, "lake", "nation",
            Some(graft.sources.SnapshotLog.ByVersion("v1")))
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      } finally server.stop()
    },

    // Iceberg MERGE-ON-READ round-trip: write customer as one sorted
    // data snapshot, then BOTH v2 delete shapes — a positional delete
    // file removing every 7th key by (file, pos), and an equality
    // delete file removing one market segment by schema-resolved field
    // id — and read the table back through the REST catalog. The result
    // must hash-match the oracle's plain relational view of the same
    // deletes, proving the delete application (broadcast anti-joins on
    // Spark's parquet metadata columns + null-safe equality columns,
    // sequence-gated) is exact, not just row-countable.
    GraftQuery("q_iceberg_mor",
      """SELECT c_custkey, c_name, c_nationkey, c_mktsegment
        |FROM customer
        |WHERE c_custkey % 7 <> 0 AND c_mktsegment <> 'BUILDING'"""
        .stripMargin) { (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, _) = cachedFixture("mor", dir) { wh =>
      val tableDir = wh.resolve("customer")
      val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
      val data = t(s, dir).customer.select(cols.map(col): _*)
        .orderBy("c_custkey")
      val dataFiles = stageFiles(data, "mor_data")
      IcebergCommit.local(tableDir).append(dataFiles,
        timestampMs = 1000L, schema = Some(data.schema))
      // positional deletes: the file is custkey-sorted, so position =
      // rank - 1; remove every custkey divisible by 7.
      // FIXTURE-ONLY: the unpartitioned Window below funnels the frame
      // through ONE partition — legal here because the input is a single
      // coalesced bounded file whose physical row order IS the sort
      // order, and the block only CONSTRUCTS the delete fixture. Never
      // copy this shape into an operator path (PlanShapeSpec pins the
      // ban); the engine-side equivalent is deleteWhere, which derives
      // positions from parquet metadata columns with no global window.
      val posDel = data
        .withColumn("pos", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("c_custkey")) - 1)
        .filter(col("c_custkey") % 7 === 0)
        .select(lit(dataFiles.head.path).as("file_path"),
          col("pos").cast("long").as("pos"))
      IcebergCommit.local(tableDir).append(
        stageFiles(posDel, "mor_posdel").map(_.copy(content = 1)),
        timestampMs = 2000L)
      // equality deletes: drop one market segment via field id 4
      // (c_mktsegment is the 4th field of the committed schema)
      IcebergCommit.local(tableDir).append(
        stageFiles(s.range(1).select(lit("BUILDING").as("c_mktsegment")),
          "mor_eqdel").map(_.copy(content = 2, equalityIds = Seq(4))),
        timestampMs = 3000L)
      }
      val server = new IcebergLocal.CatalogServer(warehouse, "lake")
      val port = server.start()
      try {
        val catalog = new IcebergRestCatalog(s"http://127.0.0.1:$port")
        IcebergRest.read(s, catalog, "lake", "customer")
      } finally server.stop()
    },

    // Iceberg CDC UPSERT round-trip: the streaming MERGE shape driven
    // through the driver gate — commit customer as batch 0, upsert new
    // account balances for every key ending in 3 as batch 1 (equality-
    // delete commit on the keys, then the data commit), COMPACT the
    // table (rewrite-data-files: deletes materialized, REPLACE
    // snapshot), and read the result back. The latest-per-key state
    // must hash-match the oracle's CASE view of the same update — so
    // upsert semantics AND the compaction rewrite are both exact, not
    // just spec-sampled.
    GraftQuery("q_iceberg_upsert",
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 10 = 3 THEN c_acctbal + 100.0
        |       ELSE c_acctbal END AS c_acctbal
        |FROM customer""".stripMargin) { (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, _) = cachedFixture("upsert", dir) { wh =>
        val tableDir = wh.resolve("customer")
        val base = t(s, dir).customer
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        var now = 0L
        val clock = () => { now += 1000L; now }
        val committer = graft.streaming.IcebergSink.upsertCommitter(
          IcebergCommit.local(tableDir), keyCols = Seq("c_custkey"),
          clock = clock)
        committer(base, 0L)
        committer(base.filter(col("c_custkey") % 10 === 3)
          .withColumn("c_acctbal", col("c_acctbal") + lit(100.0)), 1L)
        IcebergMaintenance.compact(s, IcebergCommit.local(tableDir), clock)
      }
      IcebergRest.readLocal(s, warehouse.resolve("customer"))
    },

    // Row-level DELETE round-trip: IcebergMaintenance.deleteWhere is
    // the engine-side `DELETE FROM t WHERE ...` — it records matching
    // rows' (file, position) pairs from Spark's parquet metadata
    // columns as a positional-delete snapshot. Two successive deletes
    // compose (each applies to all data at-or-before it), and the
    // surviving rows must hash-match the oracle's negated predicate.
    GraftQuery("q_iceberg_delete_where",
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE c_mktsegment <> 'MACHINERY' AND c_custkey % 13 <> 0"""
        .stripMargin) { (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, _) = cachedFixture("del", dir) { wh =>
        val tableDir = wh.resolve("customer")
        val data = t(s, dir).customer
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        IcebergCommit.local(tableDir).append(stageFiles(data, "del_data"),
          timestampMs = 1000L, schema = Some(data.schema))
        var now = 1000L
        val clock = () => { now += 1000L; now }
        IcebergMaintenance.deleteWhere(s, IcebergCommit.local(tableDir),
          "c_mktsegment = 'MACHINERY'", clock)
        IcebergMaintenance.deleteWhere(s, IcebergCommit.local(tableDir),
          "c_custkey % 13 = 0", clock)
      }
      IcebergRest.readLocal(s, warehouse.resolve("customer"))
    },

    // rewrite_position_deletes round-trip: two OVERLAPPING row-level
    // deletes accrete duplicate (file, pos) entries (positions are
    // recorded from physical rows), then the position-delete compaction
    // merges them into ONE deduped delete file — data files and the
    // equality lineage untouched, the read anti-join now replays a
    // single delete file. The post-rewrite read must hash-match the
    // oracle's negated predicates exactly; file-count mechanics are
    // pinned by IcebergPartitionSpec.
    GraftQuery("q_iceberg_posdel_rewrite",
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE c_mktsegment <> 'HOUSEHOLD' AND c_custkey % 7 <> 0"""
        .stripMargin) { (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, _) = cachedFixture("posdelrw", dir) { wh =>
        val tableDir = wh.resolve("customer")
        val data = t(s, dir).customer
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        IcebergCommit.local(tableDir).append(stageFiles(data, "pdr_data"),
          timestampMs = 1000L, schema = Some(data.schema))
        var now = 1000L
        val clock = () => { now += 1000L; now }
        IcebergMaintenance.deleteWhere(s, IcebergCommit.local(tableDir),
          "c_mktsegment = 'HOUSEHOLD'", clock)
        IcebergMaintenance.deleteWhere(s, IcebergCommit.local(tableDir),
          "c_custkey % 7 = 0", clock)
        IcebergMaintenance.rewritePositionDeletes(s,
          IcebergCommit.local(tableDir), clock)
      }
      IcebergRest.readLocal(s, warehouse.resolve("customer"))
    },

    // WRITE-AUDIT-PUBLISH round-trip: stage half the table on an
    // `audit` branch (main readers see nothing), then fast-forward main
    // to the audited head — the staging workflow real lakes gate risky
    // writes with. The post-publish read must hash-match the oracle's
    // full scan, proving the branch commit carried its fork lineage and
    // the publish moved main exactly; invisibility-before-publish and
    // divergence refusal are pinned by IcebergRestSpec.
    GraftQuery("q_iceberg_wap",
      """SELECT c_custkey, c_name, c_nationkey FROM customer""") {
      (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, _) = cachedFixture("wap", dir) { wh =>
        val tableDir = wh.resolve("customer")
        val data = t(s, dir).customer
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
        IcebergCommit.local(tableDir).append(
          stageFiles(data.filter(col("c_nationkey") < 13), "m"), 1000L,
          schema = Some(data.schema))
        IcebergCommit.local(tableDir).append(
          stageFiles(data.filter(col("c_nationkey") >= 13), "a"), 2000L,
          schema = Some(data.schema), branch = Some("audit"))
        IcebergCommit.local(tableDir).fastForward("audit")
      }
      IcebergRest.readLocal(s, warehouse.resolve("customer"))
    },

    // ROLLBACK round-trip: two append commits, then rollback_to_snapshot
    // back to the first — the "bad data landed, un-publish it" op every
    // lake runs. The CURRENT read must surface only the first commit's
    // rows (hash-matched against the oracle's predicate view), while the
    // rolled-past snapshot stays retained for forensics (travel pinned in
    // IcebergRestSpec). Metadata-only: no data file moves at any scale.
    GraftQuery("q_iceberg_rollback",
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation WHERE n_regionkey < 2""".stripMargin) { (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, _) = cachedFixture("rollback", dir) { wh =>
        val tableDir = wh.resolve("nation")
        val data = t(s, dir).nation
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        IcebergCommit.local(tableDir).append(
          stageFiles(data.filter(col("n_regionkey") < 2), "a"), 1000L,
          schema = Some(data.schema))
        IcebergCommit.local(tableDir).append(
          stageFiles(data.filter(col("n_regionkey") >= 2), "b"), 2000L,
          schema = Some(data.schema))
        IcebergCommit.local(tableDir).rollbackTo(1L)
      }
      IcebergRest.readLocal(s, warehouse.resolve("nation"))
    },

    // HISTORY metadata table across a WAP publish + rollback — the
    // lineage question the table exists to answer, oracle-pinned row by
    // row: the snapshot-log records PUBLISHED-pointer moves only, so a
    // branch (audit) commit never appears, a fast-forward publish is
    // stamped at publication time (not the audit commit's creation
    // time), a rollback re-publication makes the same snapshot appear
    // TWICE, and is_current marks only the final entry. Sequence:
    // main append s1 @1000 → audit appends s2 @2000, s3 @3000 (never
    // logged) → fastForward(audit) @4000 publishes s3 → main append s4
    // @5000 → rollbackTo(s3) @6000. Driver-side metadata walk only —
    // zero data I/O at any scale.
    GraftQuery("q_iceberg_history",
      """SELECT * FROM (VALUES
        |  (CAST(1000 AS BIGINT), CAST(1 AS BIGINT), false),
        |  (CAST(4000 AS BIGINT), CAST(3 AS BIGINT), false),
        |  (CAST(5000 AS BIGINT), CAST(4 AS BIGINT), false),
        |  (CAST(6000 AS BIGINT), CAST(3 AS BIGINT), true)
        |) AS h(made_current_at_ms, snapshot_id, is_current)""".stripMargin) {
      (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, _) = cachedFixture("history", dir) { wh =>
        val tableDir = wh.resolve("nation")
        val data = t(s, dir).nation
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        IcebergCommit.local(tableDir).append(
          stageFiles(data.filter(col("n_regionkey") === 0), "a"), 1000L,
          schema = Some(data.schema))
        IcebergCommit.local(tableDir).append(
          stageFiles(data.filter(col("n_regionkey") === 1), "b"), 2000L,
          schema = Some(data.schema), branch = Some("audit"))
        IcebergCommit.local(tableDir).append(
          stageFiles(data.filter(col("n_regionkey") === 2), "c"), 3000L,
          schema = Some(data.schema), branch = Some("audit"))
        IcebergCommit.local(tableDir).fastForward("audit", timestampMs = 4000L)
        IcebergCommit.local(tableDir).append(
          stageFiles(data.filter(col("n_regionkey") === 3), "d"), 5000L,
          schema = Some(data.schema))
        IcebergCommit.local(tableDir).rollbackTo(3L, timestampMs = 6000L)
      }
      IcebergRest.metaTable(s, warehouse.resolve("nation"), "history")
    },

    // CDC CHANGELOG read (create_changelog_view): append s1, append s2,
    // then DELETE WHERE — the (s1, head] window must emit s2's rows as
    // inserts and the deleted rows (with their ORIGINAL values) as
    // deletes, matching the oracle's union of the two predicates. The
    // plan scans only the window's added files plus the delete files'
    // named targets — changelog cost tracks churn, not table size.
    GraftQuery("q_iceberg_changes",
      """SELECT n_nationkey, n_name, n_regionkey,
        |       'insert' AS _change_type,
        |       CAST(0 AS INTEGER) AS _change_ordinal,
        |       CAST(2 AS BIGINT) AS _commit_snapshot_id
        |FROM nation WHERE n_regionkey = 2
        |UNION ALL
        |SELECT n_nationkey, n_name, n_regionkey, 'delete',
        |       CAST(1 AS INTEGER), CAST(3 AS BIGINT)
        |FROM nation WHERE n_regionkey <= 2 AND n_nationkey % 2 = 1"""
        .stripMargin) { (s, dir) =>
      val (warehouse, s1) = changesFixture(s, dir)
      graft.sources.iceberg.IcebergRest.readChanges(s,
        warehouse.resolve("nation"), s1)
    },

    // NET changelog over the same window (the procedure's net_changes):
    // rows both inserted AND deleted inside the window cancel — here
    // the second append's odd rows — leaving its evens as net inserts
    // and the FIRST commit's odds (pre-window content) as net deletes,
    // each attributed to the last contributing change. One content-
    // keyed hash aggregation on top of the churn-bounded changelog.
    GraftQuery("q_iceberg_changes_net",
      """SELECT n_nationkey, n_name, n_regionkey,
        |       'insert' AS _change_type,
        |       CAST(0 AS INTEGER) AS _change_ordinal,
        |       CAST(2 AS BIGINT) AS _commit_snapshot_id
        |FROM nation WHERE n_regionkey = 2 AND n_nationkey % 2 = 0
        |UNION ALL
        |SELECT n_nationkey, n_name, n_regionkey, 'delete',
        |       CAST(1 AS INTEGER), CAST(3 AS BIGINT)
        |FROM nation WHERE n_regionkey <= 1 AND n_nationkey % 2 = 1"""
        .stripMargin) { (s, dir) =>
      // q_iceberg_changes' table: whichever row runs first builds it
      val (warehouse, s1) = changesFixture(s, dir)
      graft.sources.iceberg.IcebergRest.readChanges(s,
        warehouse.resolve("nation"), s1,
        toSnapshotId = None, options = Map("net" -> "true"))
    },

    // AGE-BASED EXPIRE with ref retention, pinned through the refs
    // metadata table: four commits, a tag on the second, then
    // expire_snapshots(older_than) — the pinned tag must survive a
    // sweep that reclaims the unreferenced old history (s1, s3), and
    // main must still serve. The oracle is the exact refs table the
    // spec requires afterwards. Metadata-only at any scale: expiry
    // moves no data files.
    GraftQuery("q_iceberg_expire_age",
      """SELECT * FROM (VALUES
        |  ('main', 'branch', CAST(4 AS BIGINT)),
        |  ('pinned', 'tag', CAST(2 AS BIGINT))
        |) AS r(name, type, snapshot_id)""".stripMargin) { (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, _) = cachedFixture("expire_age", dir) { wh =>
        val tableDir = wh.resolve("nation")
        val data = t(s, dir).nation
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        (0 to 3).foreach { i =>
          IcebergCommit.local(tableDir).append(
            stageFiles(data.filter(col("n_regionkey") === i), s"c$i"),
            (i + 1) * 1000L, schema = Some(data.schema),
            tag = if (i == 1) Some("pinned") else None)
        }
        IcebergCommit.local(tableDir).expireSnapshots(olderThanMs = 3500L,
          minSnapshotsToKeep = 1, timestampMs = 9000L)
      }
      IcebergRest.metaTable(s, warehouse.resolve("nation"), "refs")
    },

    // CHERRY-PICK round-trip: the diverged-main half of write-audit-
    // publish (q_iceberg_wap covers the fast-forward half). Main commits
    // A, the audit branch stages B off A, main diverges with C — then
    // cherryPick replays exactly B's added manifests onto main as a new
    // snapshot (pure metadata: the manifest files are REUSED, re-stamped
    // with the new sequence number so main's sequence-gated deletes
    // can't reach the re-applied rows). The read must surface A∪C∪B,
    // hash-matched against the oracle's full-table view; refusal on
    // non-append snapshots is pinned in IcebergRestSpec.
    GraftQuery("q_iceberg_cherry_pick",
      """SELECT c_custkey, c_name, c_nationkey FROM customer""") {
      (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, _) = cachedFixture("cherry", dir) { wh =>
        val tableDir = wh.resolve("customer")
        val data = t(s, dir).customer
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
        IcebergCommit.local(tableDir).append(
          stageFiles(data.filter(col("c_nationkey") < 8), "a"), 1000L,
          schema = Some(data.schema))
        IcebergCommit.local(tableDir).append(
          stageFiles(data.filter(col("c_nationkey") >= 8 &&
            col("c_nationkey") < 16), "b"), 2000L,
          schema = Some(data.schema), branch = Some("audit"))
        // main diverges AFTER the branch forked: fastForward would
        // refuse this table (pinned in spec); cherry-pick is the out
        IcebergCommit.local(tableDir).append(
          stageFiles(data.filter(col("c_nationkey") >= 16), "c"), 3000L,
          schema = Some(data.schema))
        IcebergCommit.local(tableDir).cherryPick("audit", timestampMs = 4000L)
      }
      IcebergRest.readLocal(s, warehouse.resolve("customer"))
    },

    // EXPIRE + VACUUM round-trip: three append commits, the third with
    // retainLast=2 (snapshot expiry as it commits), then remove-orphan-
    // files over the table directory — with a PLANTED orphan parquet
    // that vacuum must reclaim. The read after both maintenance ops must
    // still hash-match the oracle's full-table view: expiry may only
    // drop history (the expired snapshot's manifest LIST), never a file
    // a retained snapshot still references, and vacuum may only delete
    // the unreferenced. At 100 TB this is the disk-reclaim pair every
    // streaming table runs on a schedule; both ops are metadata-walk +
    // file deletes, no data rewrite.
    GraftQuery("q_iceberg_expire_vacuum",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation""") {
      (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, _) = cachedFixture("expirevac", dir) { wh =>
        val tableDir = wh.resolve("nation")
        val data = t(s, dir).nation
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        IcebergCommit.local(tableDir).append(
          stageFiles(data.filter(col("n_regionkey") < 2), "a"), 1000L,
          schema = Some(data.schema))
        IcebergCommit.local(tableDir).append(
          stageFiles(data.filter(col("n_regionkey") === 2), "b"), 2000L,
          schema = Some(data.schema))
        // plant an orphan in the table's own data dir (a failed writer's
        // leftover — exactly what vacuum exists to reclaim)
        val orphanDir = tableDir.resolve("data").resolve("orphan")
        data.limit(3).coalesce(1).write.mode("overwrite")
          .parquet(orphanDir.toString)
        IcebergCommit.local(tableDir).append(
          stageFiles(data.filter(col("n_regionkey") > 2), "c"), 3000L,
          schema = Some(data.schema), retainLast = Some(2))
        val reclaimed = IcebergMaintenance.vacuum(tableDir)
        require(reclaimed >= 1,
          s"vacuum reclaimed $reclaimed files — the planted orphan survived")
      }
      IcebergRest.readLocal(s, warehouse.resolve("nation"))
    },

    // INCREMENTAL (changelog) read round-trip: three quarterly append
    // commits, then "what landed since snapshot 1" — the checkpoint-
    // consumer pattern. The scan is a manifest file-set diff (driver
    // metadata only) over exactly the window's files, so a consumer's
    // cost tracks its lag, not the table size. Hash-matched against the
    // oracle's Q2+Q3 date-range view; rewrite/delete refusals are
    // pinned by IcebergRestSpec.
    GraftQuery("q_iceberg_incremental",
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-04-01'
        |  AND o_orderdate < TIMESTAMP '1995-10-01'""".stripMargin) {
      (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, _) = cachedFixture("incr", dir) { wh =>
        val tableDir = wh.resolve("orders")
        val orders = t(s, dir).orders.select(col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
        def quarter(from: String, to: String, ts: Long): Unit = {
          val q = orders.where(
            s"o_orderdate >= timestamp '$from' AND o_orderdate < timestamp '$to'")
          IcebergCommit.local(tableDir).append(stageFiles(q, "incr"), ts,
            schema = Some(q.schema))
        }
        quarter("1995-01-01", "1995-04-01", 1000L)
        quarter("1995-04-01", "1995-07-01", 2000L)
        quarter("1995-07-01", "1995-10-01", 3000L)
      }
      IcebergRest.readIncremental(s, warehouse.resolve("orders"),
        fromSnapshotId = 1L)
    },

    // Iceberg SCHEMA EVOLUTION round-trip: commit customer with parquet
    // field ids stamped (what real Iceberg writers do), RENAME c_name
    // to customer_name as a metadata-only schema commit, and read with
    // field-id resolution — files written under the old column name
    // must surface their values under the new one, hash-matched against
    // the oracle's aliased view. Name-based reading cannot pass this;
    // only the spec's by-id column resolution can.
    GraftQuery("q_iceberg_evolution",
      """SELECT c_custkey, c_name AS customer_name, c_mktsegment
        |FROM customer""".stripMargin) { (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, _) = cachedFixture("evolve", dir) { wh =>
        val tableDir = wh.resolve("customer")
        val stamped = IcebergLocal.withFieldIds(
          t(s, dir).customer.select(col("c_custkey"), col("c_name"),
            col("c_mktsegment")))
        IcebergCommit.local(tableDir).append(stageFiles(stamped, "ev_data"),
          timestampMs = 1000L, schema = Some(stamped.schema))
        IcebergCommit.local(tableDir).renameColumn("c_name", "customer_name")
      }
      IcebergRest.readLocal(s, warehouse.resolve("customer"),
        options = Map("fieldIdReads" -> "true"))
    },

    // Iceberg ADD/DROP COLUMN round-trip: both are metadata-only schema
    // commits — ADD surfaces NULL from files written before the column
    // existed (fresh field id, no rewrite), DROP removes the column
    // from the current schema while the bytes stay in the files (and
    // remain time-travelable). The field-id-resolved read of the final
    // schema must hash-match the oracle's projection with a NULL tier.
    GraftQuery("q_iceberg_add_drop",
      """SELECT c_custkey, c_name, CAST(NULL AS VARCHAR) AS c_tier
        |FROM customer""".stripMargin) { (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, _) = cachedFixture("addcol", dir) { wh =>
        val tableDir = wh.resolve("customer")
        val stamped = IcebergLocal.withFieldIds(
          t(s, dir).customer.select(col("c_custkey"), col("c_name"),
            col("c_acctbal")))
        IcebergCommit.local(tableDir).append(stageFiles(stamped, "ad_data"),
          timestampMs = 1000L, schema = Some(stamped.schema))
        IcebergCommit.local(tableDir).addColumn("c_tier", "string")
        IcebergCommit.local(tableDir).dropColumn("c_acctbal")
      }
      IcebergRest.readLocal(s, warehouse.resolve("customer"),
        options = Map("fieldIdReads" -> "true"))
    },

    // Iceberg REST COMMIT round-trip: the full catalog WRITE protocol
    // driven through the hash gate — create the table via the spec's
    // CreateTableRequest (typed schema, zero snapshots), then land TWO
    // data commits through the CommitTableRequest CAS endpoint (the
    // first with `main` asserted ABSENT, the second asserted at
    // snapshot 1), and read the result back through the same catalog.
    // The union of both commits must hash-match the oracle's plain
    // scan — so the created schema, both CAS commits, and the
    // REST-served metadata are all exact, not just spec-sampled.
    GraftQuery("q_iceberg_rest_commit",
      """SELECT c_custkey, c_name, c_nationkey FROM customer""") { (s, dir) =>
      import graft.sources.iceberg._
      import scala.jdk.CollectionConverters._
      val (warehouse, _) = cachedFixture("restc", dir) { wh =>
        val tableDir = wh.resolve("customer")
        val data = t(s, dir).customer
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
        def files(df: org.apache.spark.sql.DataFrame, sub: String) = {
          val out = tableDir.resolve("data").resolve(sub)
          df.coalesce(1).write.mode("overwrite").parquet(out.toString)
          IcebergMaintenance.parquetFileInfos(out)
        }
        val srv = new IcebergLocal.CatalogServer(wh, "lake")
        val p = srv.start()
        try {
          val cat = new IcebergRestCatalog(s"http://127.0.0.1:$p")
          cat.createTable("lake", "customer", data.schema)
          IcebergCommit.rest(cat, "lake", "customer", tableDir).append(
            files(data.filter(col("c_nationkey") < 13), "b0"), 1000L)
          IcebergCommit.rest(cat, "lake", "customer", tableDir).append(
            files(data.filter(col("c_nationkey") >= 13), "b1"), 2000L)
        } finally srv.stop()
      }
      val server = new IcebergLocal.CatalogServer(warehouse, "lake")
      val port = server.start()
      try {
        val catalog = new IcebergRestCatalog(s"http://127.0.0.1:$port")
        IcebergRest.read(s, catalog, "lake", "customer")
      } finally server.stop()
    },

    // Iceberg PARTITIONED-table round-trip: write orders partitioned by
    // month(o_orderdate) — Hive layout with the source column kept in
    // the files, per-file partition tuples + column min/max bounds in
    // the manifests, the spec in the metadata JSON — then read through
    // the REST catalog with a scan-time filter. Partition pruning plans
    // the distributed read over ONLY the files whose tuple/bounds can
    // match (IcebergPartitionSpec pins the scanned-file-count drop;
    // here ~6 of ~80 month files); this query proves the PRUNED read is
    // EXACT, hash-matched against the oracle's plain filtered scan.
    GraftQuery("q_iceberg_partitioned",
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-03-01'
        |  AND o_orderdate < TIMESTAMP '1995-09-01'""".stripMargin) { (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, _) = cachedFixture("part", dir) { wh =>
        val tableDir = wh.resolve("orders")
        // fixture scope: one year of months (12 partitions) is enough
        // to prove pruned-read exactness — the oracle's WHERE lies
        // inside 1995, so rows outside it can't affect the hash, and
        // writing 80 month partitions per run was pure fixture cost
        // (the ~80-file pruning ratios are pinned by
        // IcebergPartitionSpec instead)
        val orders = t(s, dir).orders.select(col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
          .where("o_orderdate >= timestamp '1995-01-01' AND " +
            "o_orderdate < timestamp '1996-01-01'")
        IcebergPartitioned.append(orders, tableDir, "data/b0",
          Seq(PartitionField("o_month", "o_orderdate", "month")),
          timestampMs = 1000L)
      }
      val server = new IcebergLocal.CatalogServer(warehouse, "lake")
      val port = server.start()
      try {
        val catalog = new IcebergRestCatalog(s"http://127.0.0.1:$port")
        IcebergRest.read(s, catalog, "lake", "orders",
          options = Map("filter" ->
            ("o_orderdate >= timestamp '1995-03-01' AND " +
              "o_orderdate < timestamp '1995-09-01'")))
      } finally server.stop()
    },

    // SORTED WRITE round-trip (Iceberg write.sort-order): orders
    // partitioned by year and RANGE-SORTED on o_custkey into 8 files —
    // each file's footer then carries a tight, near-disjoint o_custkey
    // range, so the custkey predicate below prunes most files on BOUNDS
    // alone (partition tuples can't help: every year holds every
    // custkey). One extra exchange at write time buys index-like
    // skipping on every subsequent read — the standard clustering
    // trade at 100 TB. The sort order is declared in the metadata
    // (sort-orders + default-sort-order-id, order 0 kept per the spec);
    // the pruned read hash-matches the oracle's plain filtered scan,
    // and IcebergPartitionSpec pins the file-count drop vs an unsorted
    // twin plus the metadata declaration.
    GraftQuery("q_iceberg_sorted",
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders
        |WHERE o_custkey >= 30 AND o_custkey < 60""".stripMargin) {
      (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, _) = cachedFixture("sorted", dir) { wh =>
        val tableDir = wh.resolve("orders")
        val orders = t(s, dir).orders.select(col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
        IcebergPartitioned.append(orders, tableDir, "data/b0",
          Seq(PartitionField("o_year", "o_orderdate", "year")),
          timestampMs = 1000L, sortBy = Seq("o_custkey"),
          targetFileCount = 28) // ~4 custkey ranges per year partition
      }
      val server = new IcebergLocal.CatalogServer(warehouse, "lake")
      val port = server.start()
      try {
        val catalog = new IcebergRestCatalog(s"http://127.0.0.1:$port")
        IcebergRest.read(s, catalog, "lake", "orders",
          options = Map("filter" ->
            "o_custkey >= 30 AND o_custkey < 60"))
      } finally server.stop()
    },

    // Iceberg partition-spec EVOLUTION round-trip: commit half of a
    // year of orders under spec A = month(o_orderdate), then evolve the
    // table to spec B = month + bucket[4](o_custkey) and commit the
    // other half — the table now holds MIXED-SPEC manifests (spec ids 0
    // and 1, both recorded in the metadata, default moved to 1). The
    // pruned read must stay EXACT across both generations: each
    // manifest prunes under the spec it was written with (per-entry
    // spec-id resolution), and the shared o_month field prunes both.
    // Hash-matched against the oracle's plain filtered scan.
    GraftQuery("q_iceberg_spec_evolution",
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-03-01'
        |  AND o_orderdate < TIMESTAMP '1995-09-01'""".stripMargin) { (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, _) = cachedFixture("specev", dir) { wh =>
        val tableDir = wh.resolve("orders")
        val orders = t(s, dir).orders.select(col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
          .where("o_orderdate >= timestamp '1995-01-01' AND " +
            "o_orderdate < timestamp '1996-01-01'")
        IcebergPartitioned.append(orders.where("o_orderkey % 2 = 0"),
          tableDir, "data/b0",
          Seq(PartitionField("o_month", "o_orderdate", "month")),
          timestampMs = 1000L)
        // bucket[2] keeps the fixture at 12 + 24 files — the SPEC test
        // exercises bucket[4] pruning; here the mixed-spec read is the
        // contract and file count is pure fixture cost
        IcebergPartitioned.append(orders.where("o_orderkey % 2 = 1"),
          tableDir, "data/b1",
          Seq(PartitionField("o_month", "o_orderdate", "month"),
            PartitionField("o_ckb", "o_custkey", "bucket[2]")),
          timestampMs = 2000L)
      }
      val server = new IcebergLocal.CatalogServer(warehouse, "lake")
      val port = server.start()
      try {
        val catalog = new IcebergRestCatalog(s"http://127.0.0.1:$port")
        IcebergRest.read(s, catalog, "lake", "orders",
          options = Map("filter" ->
            ("o_orderdate >= timestamp '1995-03-01' AND " +
              "o_orderdate < timestamp '1995-09-01'")))
      } finally server.stop()
    },

    // Prune × MoR × TIME-TRAVEL, composed: a partitioned table accretes
    // a positional-delete commit (DELETE WHERE), an equality-delete
    // upsert (two snapshots: eq-delete then data), and a LATER data
    // commit — then reads AS-OF the upsert's timestamp WITH a pruning
    // predicate. The pruned as-of read must (a) resolve the snapshot
    // from the travel timestamp, (b) prune data files under the
    // partition spec while KEEPING every delete file that applies to a
    // surviving data file, (c) apply both delete kinds with their
    // sequence-number gates, and (d) leave the post-travel commit
    // invisible. Hash-matched against the oracle's replayed state.
    GraftQuery("q_iceberg_travel_prune",
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 10 = 7 AND o_orderkey % 3 <> 0
        |       THEN o_totalprice + 50.0 ELSE o_totalprice END AS o_totalprice,
        |  o_orderdate
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-03-01'
        |  AND o_orderdate < TIMESTAMP '1995-09-01'
        |  AND o_orderkey % 3 <> 0""".stripMargin) { (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, travelAt) = cachedFixture("travel", dir) { wh =>
        val tableDir = wh.resolve("orders")
        val orders = t(s, dir).orders.select(col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
        val y95 = orders.where("o_orderdate >= timestamp '1995-01-01' " +
          "AND o_orderdate < timestamp '1996-01-01'")
        IcebergPartitioned.append(y95, tableDir, "data/b0",
          Seq(PartitionField("o_month", "o_orderdate", "month")), 1000L)
        var now = 1000L
        val clock = () => { now += 1000L; now }
        IcebergMaintenance.deleteWhere(s, IcebergCommit.local(tableDir),
          "o_orderkey % 3 = 0", clock)
        val committer = graft.streaming.IcebergSink.upsertCommitter(
          IcebergCommit.local(tableDir), keyCols = Seq("o_orderkey"),
          clock = clock)
        committer(y95.where("o_orderkey % 10 = 7 AND o_orderkey % 3 <> 0")
          .withColumn("o_totalprice", col("o_totalprice") + lit(50.0)), 1L)
        val at = now
        // a post-travel commit: 1996-Q1 rows must stay invisible as-of
        // the travel timestamp (one quarter suffices — 3 partitions)
        IcebergPartitioned.append(
          orders.where("o_orderdate >= timestamp '1996-01-01' AND " +
            "o_orderdate < timestamp '1996-04-01'"),
          tableDir, "data/b1",
          Seq(PartitionField("o_month", "o_orderdate", "month")), clock())
        at
      }
      IcebergRest.readLocal(s, warehouse.resolve("orders"),
        spec = Some(graft.sources.SnapshotLog.ByTimestamp(travelAt)),
        options = Map("filter" ->
          ("o_orderdate >= timestamp '1995-03-01' AND " +
            "o_orderdate < timestamp '1995-09-01'")))
    },

    // Z-ORDER clustering round-trip: commit orders in a deliberately
    // unclustered layout (hash-shuffled files — every file spans the
    // whole value space, so nothing prunes), rewrite with
    // compactZOrder(o_custkey, o_totalprice), and read back through a
    // TWO-dimensional predicate. The pruned post-zorder read must be
    // EXACT (hash vs the oracle's plain filtered scan); the file-count
    // drop on both dimensions is pinned by IcebergPartitionSpec.
    GraftQuery("q_iceberg_zorder",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey <= 150 AND o_totalprice <= 50000.0""".stripMargin) {
      (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, _) = cachedFixture("zorder", dir) { wh =>
        val tableDir = wh.resolve("orders")
        val orders = t(s, dir).orders.select(col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
        val out = java.nio.file.Files.createTempDirectory("graft_z_data")
        out.toFile.deleteOnExit()
        orders.repartition(8, col("o_orderkey")) // unclustered on purpose
          .write.mode("overwrite").parquet(out.toString)
        IcebergCommit.local(tableDir).append(
          IcebergMaintenance.parquetFileInfos(out),
          timestampMs = 1000L, schema = Some(orders.schema))
        IcebergMaintenance.compactZOrder(s, IcebergCommit.local(tableDir),
          Seq("o_custkey", "o_totalprice"), files = 8, () => 2000L)
      }
      IcebergRest.readLocal(s, warehouse.resolve("orders"),
        options = Map("filter" ->
          "o_custkey <= 150 AND o_totalprice <= 50000.0"))
    },

    // Parquet BLOOM-FILTER file skipping: orders land hash-partitioned
    // on o_orderkey (every file spans ~the full key range — min/max
    // bounds keep all of them) with blooms enabled on the key; an
    // equality IN-lookup then prunes at PLAN time to just the files
    // whose blooms might hold the keys (footer reads only). The pruned
    // read hash-matches the oracle's plain lookup; the file-count
    // mechanics (present/absent/no-bloom cases) are pinned by
    // IcebergPartitionSpec.
    GraftQuery("q_iceberg_bloom",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey IN (1, 5, 7)""".stripMargin) {
      (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, _) = cachedFixture("bloom", dir) { wh =>
        val tableDir = wh.resolve("orders")
        val orders = t(s, dir).orders.select(col("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
        val out = java.nio.file.Files.createTempDirectory("graft_bloom_data")
        out.toFile.deleteOnExit()
        orders.repartition(8, col("o_orderkey")).write.mode("overwrite")
          .option("parquet.bloom.filter.enabled#o_orderkey", "true")
          .parquet(out.toString)
        IcebergCommit.local(tableDir).append(
          IcebergPartitioned.listParquetDeep(out)
            .map(p => IcebergPartitioned.fileInfo(p, orders.schema, Nil)),
          timestampMs = 1000L, schema = Some(orders.schema))
      }
      IcebergRest.readLocal(s, warehouse.resolve("orders"),
        options = Map("filter" -> "o_orderkey IN (1, 5, 7)"))
    },

    // Iceberg METADATA TABLE round-trip: the `partitions` inspection
    // table (per partition tuple: file/row totals — what real lakes
    // answer "what would this query scan" with) must agree EXACTLY
    // with the data: the oracle recomputes every month's row count and
    // the single-file-per-partition layout from the rows themselves.
    // Driver-side manifest walk only — zero data I/O.
    GraftQuery("q_iceberg_meta_partitions",
      """SELECT '{"o_month":' ||
        |    CAST((year(o_orderdate)-1970)*12 + month(o_orderdate)-1 AS VARCHAR)
        |    || '}' AS "partition",
        |  CAST(1 AS BIGINT) AS file_count, count(*) AS record_count,
        |  CAST(0 AS BIGINT) AS position_delete_file_count,
        |  CAST(0 AS BIGINT) AS position_delete_record_count,
        |  CAST(0 AS BIGINT) AS equality_delete_file_count,
        |  CAST(0 AS BIGINT) AS equality_delete_record_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.iceberg._
      val (warehouse, _) = cachedFixture("metap", dir) { wh =>
        val tableDir = wh.resolve("orders")
        val orders = t(s, dir).orders.select(col("o_orderkey"),
          col("o_orderdate"))
          .where("o_orderdate >= timestamp '1995-01-01' AND " +
            "o_orderdate < timestamp '1996-01-01'")
          .repartition(1) // one writer task → one file per month partition
        IcebergPartitioned.append(orders, tableDir, "data/b0",
          Seq(PartitionField("o_month", "o_orderdate", "month")), 1000L)
      }
      IcebergRest.metaTable(s, warehouse.resolve("orders"), "partitions")
    },

    GraftQuery("q_tablesample", {
      val (ctes, last) = SketchOracleSql.fmixScalarCtes("s", "k", "l_quantity", "h")
      s"""WITH k AS (SELECT l_quantity,
         |  CAST(l_orderkey * 8 + l_linenumber AS HUGEINT) AS h FROM lineitem),
         |$ctes
         |SELECT count(*) AS n_sampled, ${graft.util.Exact.dsumSql("l_quantity", 2)} AS sum_qty
         |FROM $last WHERE fh % 16 = 0""".stripMargin
    }) { (s, dir) =>
      graft.functions.VectorFunctions.register(s)
      t(s, dir).lineitem
        .filter(expr("graft_fmix63(l_orderkey * 8 + l_linenumber) % 16 = 0"))
        .agg(count(lit(1)).as("n_sampled"),
          graft.util.Exact.dsum(col("l_quantity"), 2).as("sum_qty"))
    },

    // Fuzzy entity-resolution join (record linkage, Fellegi & Sunter
    // 1969): find customer records that are digit-typo variants of each
    // other — blocked candidate generation, then exact edit-distance
    // verification. Blocking is the banded pigeonhole discipline the
    // near-dup family uses: the 9-digit id suffix splits into 3
    // tercets; a pair within 2 substitutions agrees on >=1 tercet, so
    // each tercet is one equi-join pass and the union has full recall
    // for <=2-substitution typos. Per-key blocks above 256 rows are
    // DROPPED (both engines replicate the cap exactly) — the skew guard
    // that keeps every pass bounded at 100 TB; production sizing widens
    // the band (more digits per key) as the corpus grows, the
    // planes-per-band rule. Verification is levenshtein() — the same
    // Wagner-Fischer distance in Spark and DuckDB — so the pair set
    // hash-matches. Scale shape: candidate generation is 3 equi-joins
    // on bounded keys with bounded block sizes; nothing all-pairs.
    GraftQuery("q_fuzzy_join",
      """WITH c AS (SELECT c_custkey, c_name, substr(c_name, 10, 9) AS d
        |           FROM customer),
        |k AS (SELECT c_custkey, c_name, b.i AS band,
        |        substr(d, b.i * 3 + 1, 3) AS key
        |      FROM c CROSS JOIN (VALUES (0), (1), (2)) b(i)),
        |sz AS (SELECT band, key, count(*) AS n FROM k GROUP BY 1, 2),
        |kk AS (SELECT k.* FROM k JOIN sz USING (band, key)
        |       WHERE sz.n <= 256),
        |cand AS (SELECT DISTINCT a.c_custkey AS a_key, b2.c_custkey AS b_key,
        |           a.c_name AS a_name, b2.c_name AS b_name
        |         FROM kk a JOIN kk b2 ON a.band = b2.band
        |           AND a.key = b2.key AND a.c_custkey < b2.c_custkey)
        |SELECT a_key, b_key, a_name, b_name,
        |  CAST(levenshtein(a_name, b_name) AS BIGINT) AS lev
        |FROM cand WHERE levenshtein(a_name, b_name) <= 2""".stripMargin) { (s, dir) =>
      val c = t(s, dir).customer
        .select(col("c_custkey"), col("c_name"),
          expr("substring(c_name, 10, 9)").as("d"))
      val k = c
        .select(col("c_custkey"), col("c_name"),
          explode(expr("array(0, 1, 2)")).as("band"), col("d"))
        .select(col("c_custkey"), col("c_name"), col("band"),
          expr("substring(d, band * 3 + 1, 3)").as("key"))
      // block-size census: bounded key space (3 bands x 10^3 values) →
      // broadcast the cap filter, never shuffle the row side for it
      val sz = k.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("n")).filter(col("n") <= 256)
        .select(col("band"), col("key"))
      // kk feeds BOTH self-join sides: materialize it so the banded
      // key derivation + census join run once, not once per side (the
      // un-materialized form re-derived sz and re-scanned customer for
      // each side — 4 scans + 2 census exchanges; r19 plan diff: 1 scan).
      val kk = graft.util.Reuse.materialize(
        k.join(broadcast(sz), Seq("band", "key")))
      val a = kk.select(col("band"), col("key"),
        col("c_custkey").as("a_key"), col("c_name").as("a_name"))
      val b = kk.select(col("band"), col("key"),
        col("c_custkey").as("b_key"), col("c_name").as("b_name"))
      a.join(b, Seq("band", "key"))
        .filter(col("a_key") < col("b_key"))
        .select(col("a_key"), col("b_key"), col("a_name"), col("b_name"))
        .distinct()
        .withColumn("lev",
          levenshtein(col("a_name"), col("b_name")).cast("bigint"))
        .filter(col("lev") <= 2)
    }
  )

  /** Unique writable scratch dir per round-trip invocation; marked for
    * JVM-exit cleanup so repeated bench iterations don't accumulate. */
  private def roundTripDir(format: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft_rt_$format")
    p.toFile.deleteOnExit()
    p.toString
  }

  /** Volume-gated write spread for the format round-trip rows (guide §6
    * output file sizing): target one output file per ~16 MB of SOURCE
    * parquet — text renderings expand parquet 4–10×, so that lands
    * output files in the ~64–160 MB range while engaging the machine
    * (measured at sf5.0: a 64 MB divisor gave orders.json 2 files of
    * ~650 MB on 2 of 32 cores, 9.9–13.3 s; see OPTIMIZATION_r20.md).
    * Capped at the session's volume-derived shuffle width. Under one
    * file's worth — the sf0.1 fixture shape — this is a NO-OP: an A/B
    * at sf0.1 measured the unconditional spread SLOWER (json
    * 0.65→1.02 s, orc 0.46→0.74 s warm; 32 task commits + 32 per-file
    * chmod execs + an exchange for KB-sized files), while at scale the
    * single-task serialize+write and the single-split read-back are
    * exactly the d_warc_extract pathology. Hash on the PK:
    * deterministic assignment, row set unchanged. */
  private def spreadForWrite(s: SparkSession,
      df: org.apache.spark.sql.DataFrame,
      key: String): org.apache.spark.sql.DataFrame = {
    val hconf = s.sparkContext.hadoopConfiguration
    val bytes = df.inputFiles.map { p =>
      try {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hconf).getFileStatus(hp).getLen
      } catch { case _: Exception => 0L }
    }.sum
    val target = math.min(
      s.sessionState.conf.numShufflePartitions.toLong,
      math.max(1L, bytes / (16L << 20))).toInt
    if (target > 1) df.repartition(target, col(key)) else df
  }

  /** Build-once-per-JVM Iceberg fixture cache. The multi-commit
    * fixtures (partitioned month writes, delete/upsert history,
    * REST-created tables) cost several Spark WRITE jobs per build, and
    * rebuilding them on every registry invocation meant the bench's
    * median-of-3 measured fixture construction, not the read path under
    * test. Builds are deterministic per (fixture, sf dir), so the first
    * build is reused: later calls run the same catalog/manifest/prune/
    * delete-apply READ over identical committed table state — the
    * hash-gated contract is unchanged. Tables are treated as immutable
    * after build; a fixture that mutates per call must not use this. */
  private val fixtureCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (java.nio.file.Path, Any)]()

  /** The changelog rows' table: append s1 (regions 0-1), append s2
    * (region 2), then DELETE WHERE odd key; returns (warehouse, s1). */
  private def changesFixture(s: SparkSession,
      dir: String): (java.nio.file.Path, Long) = {
    import graft.sources.iceberg._
    cachedFixture("changes", dir) { wh =>
      val tableDir = wh.resolve("nation")
      val data = t(s, dir).nation
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val first = IcebergCommit.local(tableDir).append(
        stageFiles(data.filter(col("n_regionkey") <= 1), "a"), 1000L,
        schema = Some(data.schema))
      IcebergCommit.local(tableDir).append(
        stageFiles(data.filter(col("n_regionkey") === 2), "b"), 2000L,
        schema = Some(data.schema))
      IcebergMaintenance.deleteWhere(s, IcebergCommit.local(tableDir),
        "n_nationkey % 2 = 1", () => 3000L)
      first
    }
  }

  /** One fixture commit's data: `df` written as a single parquet file
    * in a fresh temp dir (JVM-exit cleanup), described for a manifest. */
  private def stageFiles(df: org.apache.spark.sql.DataFrame,
      tag: String): Seq[graft.sources.iceberg.IcebergLocal.DataFileInfo] = {
    val out = java.nio.file.Files.createTempDirectory(s"graft_ice_$tag")
    out.toFile.deleteOnExit()
    df.coalesce(1).write.mode("overwrite").parquet(out.toString)
    graft.sources.iceberg.IcebergMaintenance.parquetFileInfos(out)
  }

  private def cachedFixture[A](name: String, dir: String)(
      build: java.nio.file.Path => A): (java.nio.file.Path, A) = {
    val v = fixtureCache.computeIfAbsent((name, dir), _ => {
      val wh = java.nio.file.Paths.get(roundTripDir(s"cache_$name"))
      (wh, build(wh): Any)
    })
    (v._1, v._2.asInstanceOf[A])
  }
}
