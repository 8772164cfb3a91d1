package graft

import java.nio.file.{Files, Path => JPath}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.iceberg._

/** Partition specs + scan pruning: the spec's bucket hash pinned to its
  * published test vectors, transform semantics, partitioned writes
  * (Hive layout, tuples + bounds in manifests, spec in metadata), and
  * the pruner's one contract — identical results to the unpruned read,
  * with provably fewer files opened. */
class IcebergPartitionSpec extends AnyFunSuite {
  import SparkTestSession._

  private def freshDir(tag: String): JPath = {
    val p = Files.createTempDirectory(s"ice_part_$tag")
    p.toFile.deleteOnExit()
    p
  }

  test("bucket hash matches the spec's published test vectors") {
    // Iceberg spec Appendix B lists murmur3_x86_32 results: int/long 34
    // hash as the 8-byte little-endian long → 2017239379; UTF-8
    // "iceberg" → 1210000089. A clean-room bucket that disagrees here
    // would bucket-join differently from every other Iceberg engine.
    import IcebergPartitions._
    def leLong(v: Long) = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()
    assert(murmur3(leLong(34L)) == 2017239379)
    assert(murmur3("iceberg".getBytes("UTF-8")) == 1210000089)
    // int and long of equal value land in the same bucket (spec rule)
    assert(bucketOf(34, 16) == bucketOf(34L, 16))
    assert(bucketOf(34, 16).get == 2017239379 % 16)
  }

  test("transforms: year/month/day on dates, truncate, literal side = column side") {
    import IcebergPartitions._
    import org.apache.spark.sql.types._
    val d = java.time.LocalDate.of(1995, 3, 17).toEpochDay.toInt
    assert(applyTransform("year", d, DateType).contains(25))
    assert(applyTransform("month", d, DateType).contains(25 * 12 + 2))
    assert(applyTransform("day", d, DateType).contains(d))
    assert(applyTransform("truncate[10]", 37, IntegerType).contains(30))
    assert(applyTransform("truncate[10]", -7, IntegerType).contains(-10))
    assert(applyTransform("truncate[3]", "iceberg", StringType).contains("ice"))
    // the WRITER's Column evaluation agrees with the PRUNER's literal one
    import spark.implicits._
    val df = Seq(java.sql.Date.valueOf("1995-03-17")).toDF("d")
    val got = df.select(
      transformColumn(org.apache.spark.sql.functions.col("d"), "month",
        DateType).as("m")).head().getInt(0)
    assert(got == 25 * 12 + 2)
  }

  test("partitioned write: Hive layout, tuples + bounds in manifests, spec in metadata") {
    val wh = freshDir("write")
    val dir = wh.resolve("orders")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val spec = Seq(PartitionField("o_month", "o_orderdate", "month"))
    IcebergPartitioned.append(orders, dir, "data/b0", spec, 1000L)
    val meta = IcebergLocal.currentMetadata(dir).get
    // the spec round-trips through the metadata JSON (source id resolved)
    assert(meta.partitionSpecs(0) == spec)
    val snap = meta.snapshots.maxBy(_.snapshotId)
    val scan = IcebergManifests.scanFiles(spark, snap.manifestList)
    assert(scan.dataEntries.nonEmpty)
    // one file per distinct month, each stamped with its tuple
    val months = orders.selectExpr(
      "(year(o_orderdate) - 1970) * 12 + month(o_orderdate) - 1")
      .distinct().collect().map(_.getInt(0)).toSet
    assert(scan.dataEntries.map(_.partition("o_month")).toSet == months)
    // bounds present for the numeric key column
    val ids = IcebergLocal.topLevelFieldIds(orders.schema)
    assert(scan.dataEntries.forall(e =>
      e.lowerBounds.contains(ids("o_orderkey")) &&
        e.upperBounds.contains(ids("o_orderkey"))))
    // and the unpruned read still returns every row, source columns intact
    val all = IcebergRest.readLocal(spark, dir)
    assert(all.count() == orders.count())
    assert(all.columns.sorted.toSeq == orders.columns.sorted.toSeq)
  }

  test("partition pruning: selective date filter reads fewer files, same rows") {
    val wh = freshDir("prune")
    val dir = wh.resolve("orders")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val spec = Seq(PartitionField("o_month", "o_orderdate", "month"))
    IcebergPartitioned.append(orders, dir, "data/b0", spec, 1000L)
    val filter =
      "o_orderdate >= date '1995-03-01' AND o_orderdate < date '1995-06-01'"
    val pruned = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> filter))
    val full = IcebergRest.readLocal(spark, dir).where(filter)
    // THE pruning contract: identical results...
    assert(pruned.count() == full.count() && full.count() > 0)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // ...from strictly fewer files actually scanned (3 months of ~90)
    val totalFiles = full.inputFiles.length
    val prunedFiles = pruned.inputFiles.length
    assert(prunedFiles < totalFiles,
      s"no pruning: $prunedFiles of $totalFiles files")
    assert(prunedFiles <= 4, // 3 months + boundary laxity
      s"month partition should keep ~3 files, kept $prunedFiles")
  }

  test("sorted writes: declared in metadata, bounds prune like an index") {
    val wh = freshDir("sorted")
    val sortedDir = wh.resolve("sorted")
    val plainDir = wh.resolve("plain")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val spec = Seq(PartitionField("o_year", "o_orderdate", "year"))
    // 4 ranges per year partition (7 years) — each written file then
    // holds a ~quarter of the custkey space within its year; a single
    // range per partition would leave every file spanning all custkeys
    IcebergPartitioned.append(orders, sortedDir, "data/b0", spec, 1000L,
      sortBy = Seq("o_custkey"), targetFileCount = 28)
    IcebergPartitioned.append(
      // unsorted twin, hash-spread so every file spans most custkeys
      orders.repartition(8, org.apache.spark.sql.functions.col("o_orderkey")),
      plainDir, "data/b0", spec, 1000L)
    // sf0.001 custkeys span ~1..150; take a ~20% slice of that range
    val filter = "o_custkey >= 30 AND o_custkey < 60"
    val sorted = IcebergRest.readLocal(spark, sortedDir,
      options = Map("filter" -> filter))
    val plain = IcebergRest.readLocal(spark, plainDir,
      options = Map("filter" -> filter))
    // identical rows from both layouts (pruning never changes results)
    assert(sorted.count() == plain.count() && sorted.count() > 0)
    assert(sorted.exceptAll(plain).isEmpty && plain.exceptAll(sorted).isEmpty)
    // the point of the sort: the custkey predicate prunes MOST sorted
    // files on bounds (partition tuples can't help — every year holds
    // every custkey), while the hash-spread twin keeps ~all of its
    val sortedTotal = IcebergRest.readLocal(spark, sortedDir)
      .inputFiles.length
    val plainKept = plain.inputFiles.length
    val plainTotal = IcebergRest.readLocal(spark, plainDir)
      .inputFiles.length
    assert(sorted.inputFiles.length * 2 <= sortedTotal,
      s"sorted layout kept ${sorted.inputFiles.length} of $sortedTotal — " +
        "bounds are not tight")
    assert(plainKept == plainTotal,
      s"hash-spread twin unexpectedly pruned ($plainKept of $plainTotal) — " +
        "the comparison is meaningless")
    // the metadata DECLARES the order: sort-orders carries the custkey
    // identity/asc/nulls-first field, default-sort-order-id points at it,
    // order 0 (unsorted) survives per the spec
    val metaJson = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .build().readTree(Files.readString(
        IcebergLocal.currentMetadataFile(sortedDir).get))
    val so = metaJson.get("sort-orders")
    assert((0 until so.size()).exists(i =>
      so.get(i).path("order-id").asInt() == 0 &&
        so.get(i).path("fields").size() == 0), "order 0 missing")
    val declared = metaJson.path("default-sort-order-id").asInt()
    assert(declared > 0, "default-sort-order-id not moved")
    val fields = (0 until so.size()).map(so.get)
      .find(_.path("order-id").asInt() == declared).get.path("fields")
    assert(fields.size() == 1 &&
      fields.get(0).path("transform").asText() == "identity" &&
      fields.get(0).path("direction").asText() == "asc" &&
      fields.get(0).path("null-order").asText() == "nulls-first")
    // an UNSORTED later commit carries the declared order untouched
    val extra = orders.limit(5)
    IcebergCommit.local(sortedDir).append(
      IcebergPartitioned.writeFiles(extra, sortedDir.resolve("data/b1"),
        spec),
      2000L, schema = Some(extra.schema), partitionSpec = Some(spec))
    val meta2 = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .build().readTree(Files.readString(
        IcebergLocal.currentMetadataFile(sortedDir).get))
    assert(meta2.path("default-sort-order-id").asInt() == declared,
      "a spec-less append reset the table's declared sort order")
    // a SECOND sorted commit with the same columns reuses the order id
    IcebergPartitioned.append(orders.limit(7), sortedDir, "data/b2", spec,
      3000L, sortBy = Seq("o_custkey"), targetFileCount = 2)
    val meta3 = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .build().readTree(Files.readString(
        IcebergLocal.currentMetadataFile(sortedDir).get))
    assert(meta3.path("default-sort-order-id").asInt() == declared)
    assert(meta3.get("sort-orders").size() == meta2.get("sort-orders").size(),
      "identical sort order was re-registered instead of reused")
    // unknown sort column refuses loudly (the writer's column
    // resolution throws before the metadata check can)
    intercept[Exception](
      IcebergPartitioned.append(orders.limit(3), sortedDir, "data/b3",
        spec, 4000L, sortBy = Seq("nope"), targetFileCount = 1))
  }

  test("min/max bounds prune unpartitioned range-laid files") {
    val wh = freshDir("bounds")
    val dir = wh.resolve("nation")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val out = freshDir("bounds_files")
    // 5 range-partitioned files: disjoint n_nationkey intervals
    nation.repartitionByRange(5, org.apache.spark.sql.functions
      .col("n_nationkey")).write.mode("overwrite").parquet(out.toString)
    val files = IcebergPartitioned.listParquetDeep(out)
    assert(files.size == 5)
    val infos = files.map(p =>
      IcebergPartitioned.fileInfo(p, nation.schema, Nil))
    IcebergCommit.local(dir).append(infos, 1000L, schema = Some(nation.schema))
    val pruned = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> "n_nationkey = 13"))
    assert(pruned.count() == 1)
    assert(pruned.inputFiles.length == 1,
      s"bounds should keep exactly 1 of 5 files, kept ${pruned.inputFiles.length}")
    // IN lists prune too; and a range crossing two files keeps two
    val in2 = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> "n_nationkey IN (2, 22)"))
    assert(in2.count() == 2 && in2.inputFiles.length == 2)
  }

  test("unresolvable predicates prune nothing and change nothing") {
    val wh = freshDir("opaque")
    val dir = wh.resolve("nation")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val out = freshDir("opaque_files")
    nation.repartitionByRange(3, org.apache.spark.sql.functions
      .col("n_nationkey")).write.mode("overwrite").parquet(out.toString)
    val infos = IcebergPartitioned.listParquetDeep(out)
      .map(p => IcebergPartitioned.fileInfo(p, nation.schema, Nil))
    IcebergCommit.local(dir).append(infos, 1000L, schema = Some(nation.schema))
    // a function of the column: no necessary condition derivable — the
    // pruner must keep every file, the filter still applies row-wise
    val df = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> "n_nationkey % 5 = 0"))
    assert(df.inputFiles.length == 3)
    assert(df.count() == nation.where("n_nationkey % 5 = 0").count())
    // pruning everything is also legal: an impossible bound reads empty
    val none = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> "n_nationkey > 9999"))
    assert(none.count() == 0)
    assert(none.columns.toSeq == nation.columns.toSeq)
  }

  test("pruning composes with merge-on-read deletes") {
    val wh = freshDir("mor")
    val dir = wh.resolve("orders")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val spec = Seq(PartitionField("o_month", "o_orderdate", "month"))
    IcebergPartitioned.append(orders, dir, "data/b0", spec, 1000L)
    IcebergMaintenance.deleteWhere(spark, IcebergCommit.local(dir),
      "o_orderkey % 3 = 0", () => 2000L)
    val filter = "o_orderdate >= date '1995-03-01' AND o_orderdate < date '1995-06-01'"
    val got = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> filter))
    val want = orders.where(filter).where("o_orderkey % 3 <> 0")
    assert(got.count() == want.count() && want.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.inputFiles.length < orders
      .selectExpr("month(o_orderdate)").distinct().count())
  }

  test("disjunctions prune: OR of two date ranges keeps only those ranges' files") {
    // conjunct-only pruners keep EVERYTHING under an OR; the tri-state
    // evaluator drops a file only when every branch is provably false
    // on it — two one-month ranges keep ~2 of ~80 files
    val wh = freshDir("or")
    val dir = wh.resolve("orders")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_orderdate")
    IcebergPartitioned.append(orders, dir, "data/b0",
      Seq(PartitionField("o_month", "o_orderdate", "month")), 1000L)
    val filter =
      """(o_orderdate >= date '1995-03-01' AND o_orderdate < date '1995-04-01')
        | OR (o_orderdate >= date '1997-06-01' AND o_orderdate < date '1997-07-01')"""
        .stripMargin.replace("\n", "")
    val pruned = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> filter))
    val want = orders.where(filter)
    assert(pruned.count() == want.count() && want.count() > 0)
    assert(pruned.exceptAll(want).isEmpty && want.exceptAll(pruned).isEmpty)
    assert(pruned.inputFiles.length <= 3,
      s"OR ranges should keep ~2 files, kept ${pruned.inputFiles.length}")
    // NOT stays conservative (no True state to refute with): all files
    // kept, results exact through the residual filter
    val notted = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> "NOT (o_orderdate >= date '1995-03-01')"))
    assert(notted.count() ==
      orders.where("NOT (o_orderdate >= date '1995-03-01')").count())
  }

  test("bucket partitions: spec-hash tuples end to end; equality prunes to one bucket") {
    // write → manifest tuples → prune, all through the murmur3 bucket
    // pinned to the spec vectors: every row must land in the bucket the
    // PRUNER computes for it, or an equality filter would silently
    // scan the wrong (or every) bucket
    val wh = freshDir("bucket")
    val dir = wh.resolve("nation")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val spec = Seq(PartitionField("kb", "n_nationkey", "bucket[4]"))
    IcebergPartitioned.append(nation, dir, "data/b0", spec, 1000L)
    val meta = IcebergLocal.currentMetadata(dir).get
    val scan = IcebergManifests.scanFiles(spark,
      meta.snapshots.maxBy(_.snapshotId).manifestList)
    // the written tuples are exactly the spec-hash buckets
    val wantBuckets = (0L until 25L)
      .flatMap(k => IcebergPartitions.bucketOf(k, 4)).toSet
    assert(scan.dataEntries.map(_.partition("kb")).toSet == wantBuckets)
    // equality keeps only the key's bucket; results exact
    val pruned = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> "n_nationkey = 7"))
    assert(pruned.count() == 1)
    assert(pruned.inputFiles.length < scan.dataFiles.size)
    val keptTuple = IcebergPrune.prune(spark, scan, meta, nation.schema,
      "n_nationkey = 7").dataEntries.map(_.partition("kb")).distinct
    assert(keptTuple == Seq(IcebergPartitions.bucketOf(7L, 4).get))
    // a RANGE filter cannot use buckets (no order): everything kept,
    // results still exact through the residual filter
    val range = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> "n_nationkey >= 20"))
    assert(range.count() == nation.where("n_nationkey >= 20").count())
  }

  test("null-count stats prune IS NULL / IS NOT NULL; null partitions prune too") {
    val wh = freshDir("nulls")
    val dir = wh.resolve("t")
    import spark.implicits._
    val out = freshDir("nulls_files")
    def one(rows: Seq[(Long, Option[String])], sub: String): Unit =
      rows.toDF("id", "c").coalesce(1).write.mode("overwrite")
        .parquet(out.resolve(sub).toString)
    one(Seq((1L, None), (2L, None)), "allnull")
    one(Seq((3L, Some("x")), (4L, None)), "mixed")
    one(Seq((5L, Some("y")), (6L, Some("z"))), "nonull")
    val schema = Seq((1L, Option("x"))).toDF("id", "c").schema
    val infos = Seq("allnull", "mixed", "nonull").flatMap(s =>
      IcebergPartitioned.listParquetDeep(out.resolve(s))
        .map(p => IcebergPartitioned.fileInfo(p, schema, Nil)))
    IcebergCommit.local(dir).append(infos, 1000L, schema = Some(schema))
    val isNull = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> "c IS NULL"))
    assert(isNull.count() == 3)
    assert(isNull.inputFiles.length == 2, "zero-null file must be pruned")
    val notNull = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> "c IS NOT NULL"))
    assert(notNull.count() == 3)
    assert(notNull.inputFiles.length == 2, "all-null file must be pruned")
    // identity partitions: the null tuple proves all-null, a non-null
    // tuple proves non-null — IS [NOT] NULL prunes whole partitions
    val pdir = wh.resolve("p")
    val rows = Seq((1L, Option("a")), (2L, Option("a")),
      (3L, None: Option[String]), (4L, Option("b"))).toDF("id", "c")
    IcebergPartitioned.append(rows, pdir, "data/b0",
      Seq(PartitionField("c", "c", "identity")), 1000L)
    val allFiles = IcebergRest.readLocal(spark, pdir).inputFiles
    val nullDirFiles = allFiles.count(_.contains("__HIVE_DEFAULT_PARTITION__"))
    assert(nullDirFiles > 0 && nullDirFiles < allFiles.length)
    val pn = IcebergRest.readLocal(spark, pdir,
      options = Map("filter" -> "c IS NULL"))
    assert(pn.count() == 1)
    assert(pn.inputFiles.forall(_.contains("__HIVE_DEFAULT_PARTITION__")),
      s"non-null partitions leaked into an IS NULL scan: ${pn.inputFiles.toSeq}")
    val pnn = IcebergRest.readLocal(spark, pdir,
      options = Map("filter" -> "c IS NOT NULL"))
    assert(pnn.count() == 3)
    assert(pnn.inputFiles.length == allFiles.length - nullDirFiles,
      s"null partition not pruned: ${pnn.inputFiles.toSeq}")
  }

  test("prefix filters prune string bounds and identity/truncate partitions") {
    // the corpus-pipeline string predicate (url LIKE 'https://host/%'):
    // bounds-pruning on range-laid files, partition-pruning on
    // identity and truncate tuples — and '_' stays a WILDCARD (a LIKE
    // carrying one is not a pure prefix and must not prune)
    val wh = freshDir("prefix")
    val dir = wh.resolve("nation")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val out = freshDir("prefix_files")
    nation.repartitionByRange(5, org.apache.spark.sql.functions
      .col("n_name")).write.mode("overwrite").parquet(out.toString)
    val infos = IcebergPartitioned.listParquetDeep(out)
      .map(p => IcebergPartitioned.fileInfo(p, nation.schema, Nil))
    IcebergCommit.local(dir).append(infos, 1000L, schema = Some(nation.schema))
    val pruned = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> "startswith(n_name, 'NATION_2')"))
    assert(pruned.count() ==
      nation.where("startswith(n_name, 'NATION_2')").count())
    assert(pruned.count() == 6) // NATION_2, NATION_20..24
    assert(pruned.inputFiles.length < 5,
      s"prefix bounds did not prune: ${pruned.inputFiles.length} of 5")
    // LIKE with the pure-prefix shape prunes identically...
    val like = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> "n_name LIKE 'NATION_2%'"))
    // ...but NOTE: '_' is a single-char wildcard, so this pattern is
    // NOT a pure prefix — it must keep all files and still be exact
    assert(like.inputFiles.length == 5)
    assert(like.count() == nation.where("n_name LIKE 'NATION_2%'").count())
    // identity partitions: whole non-matching partitions drop
    val pdir = wh.resolve("p")
    import spark.implicits._
    val docs = Seq(("https://en.wikipedia.org/A", 1L),
      ("https://en.wikipedia.org/B", 2L),
      ("https://github.com/x", 3L), ("ftp://old/y", 4L))
      .toDF("url", "v")
      .withColumn("host", org.apache.spark.sql.functions
        .regexp_extract($"url", "^[a-z]+://[^/]+", 0))
    IcebergPartitioned.append(docs, pdir, "data/b0",
      Seq(PartitionField("host", "host", "identity")), 1000L)
    val wiki = IcebergRest.readLocal(spark, pdir,
      options = Map("filter" -> "startswith(host, 'https://en.')"))
    assert(wiki.count() == 2)
    assert(wiki.inputFiles.length <
      IcebergRest.readLocal(spark, pdir).inputFiles.length)
    // truncate partitions: the prefix/tuple overlap decides
    val tdir = wh.resolve("t")
    IcebergPartitioned.append(docs, tdir, "data/b0",
      Seq(PartitionField("h4", "url", "truncate[4]")), 1000L)
    val https = IcebergRest.readLocal(spark, tdir,
      options = Map("filter" -> "startswith(url, 'https://')"))
    assert(https.count() == 3)
    val ftp = IcebergRest.readLocal(spark, tdir,
      options = Map("filter" -> "startswith(url, 'ftp://')"))
    assert(ftp.count() == 1)
    assert(ftp.inputFiles.length <
      IcebergRest.readLocal(spark, tdir).inputFiles.length)
  }

  test("auto-prune: a registered lake table prunes from the query's own predicate") {
    // the lazy path: the registry registers an IcebergScanPlan leaf and
    // IcebergPruneRule resolves it at optimization time with the
    // query's own pushed-down filter — no explicit `filter` option
    // anywhere, exactly the reference provider's scan-time shape
    val wh = freshDir("auto")
    val dir = wh.resolve("orders")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    IcebergPartitioned.append(orders, dir, "data/b0",
      Seq(PartitionField("o_month", "o_orderdate", "month")), 1000L)
    val server = new IcebergLocal.CatalogServer(wh, "lake")
    val port = server.start()
    try {
      import graft.sources.{SourceDef, SourceRegistry, SourcesConfig, TableDef}
      new SourceRegistry(spark).registerAll(SourcesConfig(Seq(
        SourceDef(name = "lakep", sourceType = "iceberg_rest",
          url = Some(s"http://127.0.0.1:$port"),
          options = Map("namespace" -> "lake"),
          tables = Seq(TableDef(name = "orders"))))))
      val filter =
        "o_orderdate >= date '1995-03-01' AND o_orderdate < date '1995-06-01'"
      val q = spark.table("lakep_orders").where(filter)
      val want = orders.where(filter)
      assert(q.count() == want.count() && want.count() > 0)
      assert(q.exceptAll(want).isEmpty && want.exceptAll(q).isEmpty)
      val months = orders.selectExpr("month(o_orderdate)").distinct().count()
      assert(q.inputFiles.length < months,
        s"auto-prune did not drop files: ${q.inputFiles.length} of ~$months")
      assert(q.inputFiles.length <= 4,
        s"month partitions should keep ~3 files, kept ${q.inputFiles.length}")
      // the SQL surface prunes identically
      val agg = spark.sql(
        s"SELECT count(*) AS n FROM lakep_orders WHERE $filter")
      assert(agg.head().getLong(0) == want.count())
      // an UNFILTERED read still returns everything
      assert(spark.table("lakep_orders").count() == orders.count())
      // self-join: MultiInstanceRelation gives each side fresh ids
      val a = spark.table("lakep_orders").select("o_orderkey", "o_custkey")
      val b = spark.table("lakep_orders").select("o_orderkey", "o_totalprice")
      assert(a.join(b, "o_orderkey").count() == orders.count())
      // the three pruning layers COMPOSE: file-level pruning (above),
      // parquet row-group pushdown, and column pruning — the physical
      // plan must show pushed filters and a pruned read schema, or the
      // surviving files are still read too eagerly at 100 TB
      val phys = q.queryExecution.executedPlan.toString
      assert(phys.contains("PushedFilters: [IsNotNull(o_orderdate)"),
        s"parquet pushdown lost under the auto-prune rule:\n$phys")
      val slim = spark.table("lakep_orders").where(filter)
        .select("o_orderkey")
      val slimPhys = slim.queryExecution.executedPlan.toString
      assert(slimPhys.contains("ReadSchema: struct<o_orderkey:"),
        s"column pruning lost under the auto-prune rule:\n$slimPhys")
      assert(!slimPhys.contains("o_custkey"),
        "pruned projection still reads unused columns")
    } finally server.stop()
  }

  test("partition tuples and pruning survive the manifest-tail merge") {
    // a per-batch partitioned stream crosses MergeManifestsAbove; the
    // merged manifest must adopt the shared partition record schema and
    // re-record every tuple — or a long-lived streaming table silently
    // loses partition pruning after ~100 commits
    val wh = freshDir("mergepart")
    val dir = wh.resolve("t")
    import spark.implicits._
    val out = freshDir("mergepart_files")
    val n = IcebergLocal.MergeManifestsAbove + 3
    spark.range(0, n.toLong).toDF("k")
      .withColumn("m", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("k"), org.apache.spark.sql.functions.lit(4)).cast("int"))
      .repartitionByRange(n, $"k")
      .write.mode("overwrite").parquet(out.toString)
    val schema = spark.read.parquet(out.toString).schema
    val spec = Seq(PartitionField("m", "m", "identity"))
    val files = IcebergPartitioned.listParquetDeep(out)
    // one commit per file, partition tuple from the file's own m value
    files.zipWithIndex.foreach { case (p, i) =>
      val m = spark.read.parquet(p.toString).head().getAs[Int]("m")
      val info = IcebergPartitioned.fileInfo(p, schema, Seq("m" -> m))
      IcebergCommit.local(dir).append(Seq(info), 1000L + i,
        schema = Some(schema), partitionSpec = Some(spec))
    }
    val meta = IcebergLocal.currentMetadata(dir).get
    val scan = IcebergManifests.scanFiles(spark,
      meta.snapshots.maxBy(_.snapshotId).manifestList)
    // the merge actually happened AND every tuple survived it
    assert(scan.dataEntries.size == files.size)
    assert(scan.dataEntries.forall(_.partition.get("m").exists(_ != null)),
      "merged manifest lost partition tuples")
    val pruned = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> "m = 2"))
    assert(pruned.count() ==
      spark.read.parquet(out.toString).where("m = 2").count())
    assert(pruned.inputFiles.length < files.size / 2,
      s"pruning lost after merge: ${pruned.inputFiles.length} of ${files.size}")
  }

  test("a spec-less append carries the partition spec forward") {
    val wh = freshDir("carry")
    val dir = wh.resolve("orders")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_orderdate")
    val spec = Seq(PartitionField("o_month", "o_orderdate", "month"))
    IcebergPartitioned.append(orders, dir, "data/b0", spec, 1000L)
    // a plain (streaming-style) append without the spec
    val out = freshDir("carry_files")
    orders.limit(10).coalesce(1).write.mode("overwrite").parquet(out.toString)
    val infos = IcebergPartitioned.listParquetDeep(out)
      .map(p => IcebergPartitioned.fileInfo(p, orders.schema, Nil))
    IcebergCommit.local(dir).append(infos, 2000L)
    val meta = IcebergLocal.currentMetadata(dir).get
    assert(meta.partitionSpecs(0) == spec,
      "spec-less commit dropped the table's partition spec")
    // partitioned files still prune; the unpartitioned file is kept
    val pruned = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> "o_orderdate >= date '1998-01-01'"))
    val want = IcebergRest.readLocal(spark, dir)
      .where("o_orderdate >= date '1998-01-01'")
    assert(pruned.count() == want.count())
  }

  test("z-order compaction tightens bounds on BOTH clustered dimensions") {
    val wh = freshDir("zorder")
    val dir = wh.resolve("orders")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val out = freshDir("zorder_files")
    orders.repartition(8, org.apache.spark.sql.functions.col("o_orderkey"))
      .write.mode("overwrite").parquet(out.toString)
    IcebergCommit.local(dir).append(IcebergMaintenance.parquetFileInfos(out),
      1000L, schema = Some(orders.schema))
    // unclustered baseline: hash layout spreads every value range over
    // every file, so these predicates keep (nearly) all 8 files.
    // Thresholds are the ~25th percentile of THIS sf's ranges (custkey
    // 0..149, totalprice 1.3k..500k at sf0.001) — selective enough for
    // bounds to bite once the layout clusters.
    val fCust = "o_custkey <= 37"
    val fPrice = "o_totalprice <= 80000.0"
    val both = s"$fCust AND $fPrice"
    def filesFor(f: String) = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> f)).inputFiles.length
    val beforeCust = filesFor(fCust)
    val beforePrice = filesFor(fPrice)
    val beforeBoth = filesFor(both)
    assert(beforeBoth >= 7, s"hash layout should not prune: $beforeBoth")
    val wantBoth = IcebergRest.readLocal(spark, dir).where(both)
      .collect().map(_.toString).sorted
    IcebergMaintenance.compactZOrder(spark, IcebergCommit.local(dir),
      Seq("o_custkey", "o_totalprice"), files = 8, () => 2000L)
    // the pruned post-zorder read stays EXACT...
    val after = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> both))
    assert(after.collect().map(_.toString).sorted.sameElements(wantBoth))
    // ...and BOTH single-dimension predicates now skip files (a plain
    // sort would help only its leading column), the 2-D one most
    assert(filesFor(fCust) < beforeCust,
      s"custkey pruning: ${filesFor(fCust)} of $beforeCust")
    assert(filesFor(fPrice) < beforePrice,
      s"totalprice pruning: ${filesFor(fPrice)} of $beforePrice")
    assert(filesFor(both) <= 4,
      s"2-D predicate should skip half the z-ordered files: ${filesFor(both)}")
    // time travel to the pre-zorder snapshot still reads the old layout
    val pre = IcebergRest.readLocal(spark, dir,
      spec = Some(graft.sources.SnapshotLog.ByVersion("1")))
    assert(pre.count() == orders.count())
  }

  test("z-order degenerate inputs: all-null column, 4 columns stay non-negative") {
    import org.apache.spark.sql.functions.{col, lit}
    // all-null clustered column: no min/max to scale by — the column is
    // skipped (no NPE) and the rewrite still lands
    val wh = freshDir("zorder_edge")
    val dir = wh.resolve("t")
    val df = spark.range(0, 1000)
      .select(col("id").as("a"), (col("id") % 7).as("b"),
        lit(null).cast("long").as("c"), (col("id") % 13).as("d"))
    val out = freshDir("zorder_edge_files")
    df.repartition(4).write.mode("overwrite").parquet(out.toString)
    IcebergCommit.local(dir).append(IcebergMaintenance.parquetFileInfos(out),
      1000L, schema = Some(df.schema))
    // 4 clustered columns (one all-null): must not throw, and the
    // result must be row-exact. With k=4 the per-dimension bit width is
    // capped so the interleaved value stays NON-NEGATIVE — a sign-flip
    // would not corrupt rows, only locality, so exactness is the
    // contract pinned here and the cap is pinned by construction
    IcebergMaintenance.compactZOrder(spark, IcebergCommit.local(dir),
      Seq("a", "b", "c", "d"), files = 4, () => 2000L)
    val got = IcebergRest.readLocal(spark, dir)
    assert(got.count() == 1000)
    assert(got.agg(org.apache.spark.sql.functions.sum("a")).head.getLong(0)
      == (0L until 1000L).sum)
    // clustering still effective: with 4 output files the split lands
    // on the TOP interleaved bits (the last dimensions' high bits), so
    // a low-range predicate on d must skip the d-high-bit files
    val pruned = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> "d <= 2"))
    assert(pruned.inputFiles.length < 4,
      s"4-col z-order did not cluster: ${pruned.inputFiles.length} files")
  }

  test("bloom filters skip files that bounds cannot (hash-laid equality lookups)") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val wh = freshDir("bloom")
    // EVEN keys only: every odd key is absent yet inside every file's
    // [min, max], so bounds keep everything and only the bloom can
    // prove absence. Hash layout ⇒ bounds are useless for equality.
    val df = spark.range(0, 4000)
      .select((col("id") * 2).as("k"), (col("id") % 100).as("v"))
    def commit(sub: String, bloom: Boolean): JPath = {
      val dir = wh.resolve(sub)
      val out = freshDir(s"bloom_files_$sub")
      val w = df.repartition(8, col("k")).write.mode("overwrite")
      (if (bloom) w.option("parquet.bloom.filter.enabled#k", "true") else w)
        .parquet(out.toString)
      val infos = IcebergPartitioned.listParquetDeep(out)
        .map(p => IcebergPartitioned.fileInfo(p, df.schema, Nil))
      IcebergCommit.local(dir).append(infos, 1000L, schema = Some(df.schema))
      dir
    }
    val dir = commit("with_bloom", bloom = true)
    def read(f: String, d: JPath = dir) = IcebergRest.readLocal(spark, d,
      options = Map("filter" -> f))
    // present key: only its hash bucket's file survives (+FP slack)
    val one = read("k = 4000")
    assert(one.count() == 1)
    assert(one.inputFiles.length <= 2,
      s"bloom kept ${one.inputFiles.length} of 8 files for one present key")
    // absent in-range key: bounds keep all 8, blooms prove 0
    val none = read("k = 4001")
    assert(none.count() == 0 && none.inputFiles.length == 0,
      s"absent key kept ${none.inputFiles.length} files")
    // IN mixes present + absent: only the present keys' files survive
    val in2 = read("k IN (10, 4001, 6000)")
    assert(in2.count() == 2 && in2.inputFiles.length <= 3)
    // files written WITHOUT blooms stay (no evidence = conservative)
    val plain = commit("no_bloom", bloom = false)
    val noneNb = read("k = 4001", plain)
    assert(noneNb.count() == 0)
    assert(noneNb.inputFiles.length == 8,
      "bloom-less files must be kept, not guessed absent")
    // STRING keys hash through parquet's BINARY bloom path too (the
    // URL/doc-id lookup shape of a corpus pipeline)
    val sdir = wh.resolve("strings")
    val sdf = spark.range(0, 4000)
      .select(concat(lit("url-"), (col("id") * 2)).as("u"), col("id").as("v"))
    val sout = freshDir("bloom_files_str")
    sdf.repartition(8, col("u")).write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#u", "true")
      .parquet(sout.toString)
    IcebergCommit.local(sdir).append(IcebergPartitioned.listParquetDeep(sout)
      .map(p => IcebergPartitioned.fileInfo(p, sdf.schema, Nil)),
      1000L, schema = Some(sdf.schema))
    val sHit = read("u = 'url-4000'", sdir)
    assert(sHit.count() == 1 && sHit.inputFiles.length <= 2)
    val sMiss = read("u = 'url-4001'", sdir)
    assert(sMiss.count() == 0 && sMiss.inputFiles.length == 0,
      s"absent string key kept ${sMiss.inputFiles.length} files")
  }

  test("bloom skipping: DATE and DECIMAL equality keys") {
    import org.apache.spark.sql.functions.{col, date_add, lit}
    val wh = freshDir("bloom_typed")
    def commit(sub: String, df: org.apache.spark.sql.DataFrame,
        keyCol: String): JPath = {
      val dir = wh.resolve(sub)
      val out = freshDir(s"bloomt_files_$sub")
      df.repartition(8, col(keyCol)).write.mode("overwrite")
        .option(s"parquet.bloom.filter.enabled#$keyCol", "true")
        .parquet(out.toString)
      IcebergCommit.local(dir).append(IcebergPartitioned.listParquetDeep(out)
        .map(p => IcebergPartitioned.fileInfo(p, df.schema, Nil)),
        1000L, schema = Some(df.schema))
      dir
    }
    def read(dir: JPath, f: String) = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> f))
    // DATE keys (epoch-day INT32): every other day present
    val ddir = commit("dates", spark.range(0, 4000)
      .select(date_add(lit(java.sql.Date.valueOf("2000-01-01")),
        (col("id") * 2).cast("int")).as("d"), col("id").as("v")), "d")
    val dHit = read(ddir, "d = date '2000-01-05'") // offset 4: present
    assert(dHit.count() == 1 && dHit.inputFiles.length <= 2,
      s"present date kept ${dHit.inputFiles.length} files")
    val dMiss = read(ddir, "d = date '2000-01-06'") // odd offset: absent
    assert(dMiss.count() == 0 && dMiss.inputFiles.length == 0,
      s"absent date kept ${dMiss.inputFiles.length} files")
    // DECIMAL(15,2) -> INT64 physical: values k*2 + 0.25
    val d15 = commit("dec15", spark.range(0, 4000)
      .select(((col("id") * 200 + 25).cast("decimal(15,2)") / 100)
        .cast("decimal(15,2)").as("p"), col("id").as("v")), "p")
    val pHit = read(d15, "p = 4.25")
    assert(pHit.count() == 1 && pHit.inputFiles.length <= 2,
      s"present decimal kept ${pHit.inputFiles.length} files")
    val pMiss = read(d15, "p = 5.25")
    assert(pMiss.count() == 0 && pMiss.inputFiles.length == 0,
      s"absent decimal kept ${pMiss.inputFiles.length} files")
    // a literal finer than the declared scale can't equal any stored
    // value; the pass must stay conservative (keep), never misprune
    val pFine = read(d15, "p = 4.255")
    assert(pFine.count() == 0)
    // DECIMAL(25,2) -> FIXED_LEN_BYTE_ARRAY physical
    val d25 = commit("dec25", spark.range(0, 4000)
      .select(((col("id") * 200 + 25).cast("decimal(25,2)") / 100)
        .cast("decimal(25,2)").as("p"), col("id").as("v")), "p")
    val fHit = read(d25, "p = 4.25")
    assert(fHit.count() == 1 && fHit.inputFiles.length <= 2,
      s"present fixed decimal kept ${fHit.inputFiles.length} files")
    val fMiss = read(d25, "p = 5.25")
    assert(fMiss.count() == 0 && fMiss.inputFiles.length == 0,
      s"absent fixed decimal kept ${fMiss.inputFiles.length} files")
  }

  test("metadata tables: snapshots, history, files, partitions") {
    val wh = freshDir("metatbl")
    val dir = wh.resolve("orders")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_orderdate")
      .where("o_orderdate >= date '1995-01-01' AND " +
        "o_orderdate < date '1995-04-01'").repartition(1)
    val spec = Seq(PartitionField("o_month", "o_orderdate", "month"))
    IcebergPartitioned.append(orders.where("o_orderkey % 2 = 0"),
      dir, "data/b0", spec, 1000L)
    IcebergPartitioned.append(orders.where("o_orderkey % 2 = 1"),
      dir, "data/b1", spec, 2000L)
    val snaps = IcebergRest.metaTable(spark, dir, "snapshots").collect()
    assert(snaps.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1000L, 1L), (2000L, 2L)))
    val hist = IcebergRest.metaTable(spark, dir, "history").collect()
    assert(hist.map(r => (r.getLong(1), r.getBoolean(2))).toSeq ==
      Seq((1L, false), (2L, true)))
    val files = IcebergRest.metaTable(spark, dir, "files")
    // 3 months × 2 commits = 6 files; rows sum to the table's rows
    assert(files.count() == 6)
    assert(files.agg(org.apache.spark.sql.functions.sum("record_count"))
      .head().getLong(0) == orders.count())
    assert(files.select("spec_id").distinct().head().getInt(0) == 0)
    val parts = IcebergRest.metaTable(spark, dir, "partitions").collect()
    assert(parts.length == 3, s"expected 3 month partitions: ${parts.toSeq}")
    assert(parts.forall(_.getLong(1) == 2L), "2 files per month partition")
    // files/partitions honor TIME TRAVEL: as-of snapshot 1 only the
    // first commit's files exist (1 per month, half the rows)
    val files1 = IcebergRest.metaTable(spark, dir, "files",
      Some(graft.sources.SnapshotLog.ByVersion("1")))
    assert(files1.count() == 3)
    assert(files1.agg(org.apache.spark.sql.functions.sum("record_count"))
      .head().getLong(0) ==
      orders.where("o_orderkey % 2 = 0").count())
    val parts1 = IcebergRest.metaTable(spark, dir, "partitions",
      Some(graft.sources.SnapshotLog.ByVersion("1"))).collect()
    assert(parts1.length == 3 && parts1.forall(_.getLong(1) == 1L))
    intercept[IllegalArgumentException](
      IcebergRest.metaTable(spark, dir, "nope"))
  }

  test("metadata tables expose delete files and per-partition MoR debt") {
    import org.apache.spark.sql.functions.{col, lit}
    val wh = freshDir("metadel")
    val dir = wh.resolve("orders")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_orderdate")
      .where("o_orderdate >= date '1995-01-01' AND " +
        "o_orderdate < date '1995-04-01'").repartition(1)
    IcebergPartitioned.append(orders, dir, "data/b0",
      Seq(PartitionField("o_month", "o_orderdate", "month")), 1000L)
    // position deletes via the engine's DELETE WHERE...
    val nDel = IcebergRest.readLocal(spark, dir)
      .where("o_orderkey % 5 = 0").count()
    IcebergMaintenance.deleteWhere(spark, IcebergCommit.local(dir), "o_orderkey % 5 = 0",
      () => 2000L)
    // ...and one equality-delete file (the upsert shape) on a key that
    // EXISTS and survives the position delete
    val eqKey = orders.where("o_orderkey % 5 <> 0")
      .agg(org.apache.spark.sql.functions.min("o_orderkey"))
      .head().getAs[Number](0).longValue()
    val eqDir = freshDir("metadel_eq")
    orders.limit(0).select(col("o_orderkey"))
      .union(spark.range(1).select(lit(eqKey).as("o_orderkey")))
      .coalesce(1).write.mode("overwrite").parquet(eqDir.toString)
    IcebergCommit.local(dir).append(
      IcebergMaintenance.parquetFileInfos(eqDir, content = 2,
        equalityIds = Seq(1)), 3000L)
    val files = IcebergRest.metaTable(spark, dir, "files")
    val byContent = files.groupBy("content").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byContent(0) == 3, s"3 month data files: $byContent")
    assert(byContent.getOrElse(1, 0L) >= 1, s"position deletes: $byContent")
    assert(byContent.getOrElse(2, 0L) == 1, s"equality deletes: $byContent")
    assert(files.where("content = 1")
      .agg(org.apache.spark.sql.functions.sum("record_count"))
      .head().getLong(0) == nDel,
      "position-delete record count != deleted rows")
    val parts = IcebergRest.metaTable(spark, dir, "partitions")
    // delete files commit unpartitioned -> their debt lands under the
    // empty tuple, with zero data files
    val debt = parts.where("partition = '{}'").collect()
    assert(debt.length == 1, s"no empty-tuple debt row: ${parts.collect().toSeq}")
    val d = debt.head
    assert(d.getAs[Long]("file_count") == 0 &&
      d.getAs[Long]("record_count") == 0)
    assert(d.getAs[Long]("position_delete_record_count") == nDel)
    assert(d.getAs[Long]("equality_delete_file_count") == 1 &&
      d.getAs[Long]("equality_delete_record_count") == 1)
    // data partitions carry zero delete debt of their own
    assert(parts.where("partition <> '{}'")
      .where("position_delete_file_count <> 0 OR " +
        "equality_delete_file_count <> 0").count() == 0)
    // time travel to the pre-delete snapshot shows NO delete entries
    val files1 = IcebergRest.metaTable(spark, dir, "files",
      Some(graft.sources.SnapshotLog.ByVersion("1")))
    assert(files1.where("content <> 0").count() == 0)
    // and the read path still applies both delete kinds exactly
    val live = IcebergRest.readLocal(spark, dir)
    assert(live.count() == orders.count() - nDel - 1)
  }

  test("rewrite_position_deletes merges delete files, data untouched") {
    import org.apache.spark.sql.functions.{col, lit, sum => fsum}
    val wh = freshDir("posdelrw")
    val dir = wh.resolve("orders")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_orderdate")
      .where("o_orderdate >= date '1995-01-01' AND " +
        "o_orderdate < date '1995-04-01'").repartition(1)
    IcebergPartitioned.append(orders, dir, "data/b0",
      Seq(PartitionField("o_month", "o_orderdate", "month")), 1000L)
    var now = 1000L
    val clock = () => { now += 1000L; now }
    // two OVERLAPPING deletes: the second re-records every %35 key's
    // position (positions come from physical rows), so the delete
    // history carries duplicates the rewrite must collapse
    IcebergMaintenance.deleteWhere(spark, IcebergCommit.local(dir), "o_orderkey % 5 = 0", clock)
    IcebergMaintenance.deleteWhere(spark, IcebergCommit.local(dir), "o_orderkey % 7 = 0", clock)
    // plus one equality delete whose lineage must survive untouched
    val eqKey = orders.where("o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0")
      .agg(org.apache.spark.sql.functions.min("o_orderkey"))
      .head().getAs[Number](0).longValue()
    val eqDir = freshDir("posdelrw_eq")
    orders.limit(0).select(col("o_orderkey"))
      .union(spark.range(1).select(lit(eqKey).as("o_orderkey")))
      .coalesce(1).write.mode("overwrite").parquet(eqDir.toString)
    IcebergCommit.local(dir).append(
      IcebergMaintenance.parquetFileInfos(eqDir, content = 2,
        equalityIds = Seq(1)), clock())
    val preSnap = IcebergLocal.currentMetadata(dir).get
      .snapshots.map(_.snapshotId).max
    def delStats() = {
      val f = IcebergRest.metaTable(spark, dir, "files")
        .where("content = 1")
      (f.count(), f.agg(fsum("record_count")).head().getLong(0))
    }
    val want = IcebergRest.readLocal(spark, dir)
      .collect().map(_.toString).sorted
    val (filesBefore, recsBefore) = delStats()
    assert(filesBefore >= 2, s"need >1 delete file, got $filesBefore")
    val nDistinct = orders
      .where("o_orderkey % 5 = 0 OR o_orderkey % 7 = 0").count()
    assert(recsBefore > nDistinct, "fixture lost its duplicate positions")
    val dataBefore = IcebergRest.metaTable(spark, dir, "files")
      .where("content = 0").select("file_path")
      .collect().map(_.getString(0)).sorted.toSeq
    IcebergMaintenance.rewritePositionDeletes(spark, IcebergCommit.local(dir), clock)
    // FEWER delete files, duplicates gone, data files byte-identical
    val (filesAfter, recsAfter) = delStats()
    assert(filesAfter == 1, s"expected 1 merged delete file: $filesAfter")
    assert(recsAfter == nDistinct,
      s"merged positions $recsAfter != distinct deleted rows $nDistinct")
    val dataAfter = IcebergRest.metaTable(spark, dir, "files")
      .where("content = 0").select("file_path")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(dataAfter == dataBefore, "rewrite touched data files")
    // equality delete survived with its gate intact
    assert(IcebergRest.metaTable(spark, dir, "files")
      .where("content = 2").count() == 1)
    // read hashes unchanged
    val after = IcebergRest.readLocal(spark, dir)
      .collect().map(_.toString).sorted
    assert(after.sameElements(want), "rewrite changed the live rows")
    assert(!after.exists(_.contains(s"[$eqKey,")),
      "equality-deleted key resurfaced")
    // time travel intact: pre-rewrite snapshot replays the original
    // delete files; pre-delete snapshot shows everything
    val pre = IcebergRest.readLocal(spark, dir,
      spec = Some(graft.sources.SnapshotLog.ByVersion(preSnap.toString)))
      .collect().map(_.toString).sorted
    assert(pre.sameElements(want))
    assert(IcebergRest.readLocal(spark, dir,
      spec = Some(graft.sources.SnapshotLog.ByVersion("1"))).count()
      == orders.count())
    // idempotent-ish: a second rewrite has nothing to merge beyond the
    // single file it rewrites to a single file; zero deletes -> -1
    val again = IcebergMaintenance.rewritePositionDeletes(spark, IcebergCommit.local(dir), clock)
    assert(again > 0)
    assert(delStats() == (1L, nDistinct))
  }

  test("prune × MoR × time travel: the pruned as-of read keeps its delete files") {
    import org.apache.spark.sql.functions.{col, expr, lit, when}
    val wh = freshDir("travel")
    val dir = wh.resolve("orders")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    IcebergPartitioned.append(orders, dir, "data/b0",
      Seq(PartitionField("o_month", "o_orderdate", "month")), 1000L)
    var now = 1000L
    val clock = () => { now += 1000L; now }
    // s2: positional deletes; s3+s4: equality-delete upsert (price bump)
    IcebergMaintenance.deleteWhere(spark, IcebergCommit.local(dir), "o_orderkey % 3 = 0", clock)
    val committer = graft.streaming.IcebergSink.upsertCommitter(
      IcebergCommit.local(dir), keyCols = Seq("o_orderkey"), clock = clock)
    committer(orders.where("o_orderkey % 10 = 7 AND o_orderkey % 3 <> 0")
      .withColumn("o_totalprice", col("o_totalprice") + lit(50.0)), 1L)
    val travelAt = now
    // s5 AFTER the travel point: must not apply to the as-of read
    IcebergMaintenance.deleteWhere(spark, IcebergCommit.local(dir), "o_orderkey % 10 = 1", clock)
    // timestamp literal on the NTZ column: the UTC cast unwrap must
    // still derive the pruning predicate through the coercion cast
    val filter = "o_orderdate >= timestamp '1995-03-01' AND " +
      "o_orderdate < timestamp '1995-06-01'"
    val got = IcebergRest.readLocal(spark, dir,
      spec = Some(graft.sources.SnapshotLog.ByTimestamp(travelAt)),
      options = Map("filter" -> filter))
    val expect = orders.where(filter).where("o_orderkey % 3 <> 0")
      .withColumn("o_totalprice",
        when(expr("o_orderkey % 10 = 7"), col("o_totalprice") + 50.0)
          .otherwise(col("o_totalprice")))
    assert(got.count() == expect.count() && expect.count() > 0)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
    // pruning was ACTIVE on the as-of read: of ~80 month files, only
    // the window's survive — while BOTH delete files still applied
    assert(got.inputFiles.count(_.contains("/data/b0/")) <= 4,
      s"as-of read did not prune: ${got.inputFiles.count(_.contains("/data/b0/"))} base files")
    // rows the post-travel delete targets are still visible as-of then
    assert(got.where("o_orderkey % 10 = 1").count() > 0)
    val cur = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> filter))
    assert(cur.where("o_orderkey % 10 = 1").count() == 0,
      "current read must apply the newest delete")
  }

  test("partition spec evolution: mixed-spec manifests prune under their own spec") {
    val wh = freshDir("evolve")
    val dir = wh.resolve("orders")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val specA = Seq(PartitionField("o_month", "o_orderdate", "month"))
    val specB = Seq(PartitionField("o_month", "o_orderdate", "month"),
      PartitionField("ckb", "o_custkey", "bucket[4]"))
    IcebergPartitioned.append(orders.where("o_orderkey % 2 = 0"),
      dir, "data/b0", specA, 1000L)
    IcebergPartitioned.append(orders.where("o_orderkey % 2 = 1"),
      dir, "data/b1", specB, 2000L)
    // an identical-spec commit REUSES its id instead of minting spec 2
    IcebergPartitioned.append(orders.where("o_orderkey % 100 = 50"),
      dir, "data/b2", specB, 3000L)
    val meta = IcebergLocal.currentMetadata(dir).get
    assert(meta.partitionSpecs(0) == specA, "spec A lost by evolution")
    assert(meta.partitionSpecs(1) == specB, "spec B not recorded")
    assert(meta.partitionSpecs.keySet == Set(0, 1),
      "identical re-commit minted a new spec id")
    assert(meta.defaultSpecId == 1)
    // the spec rule: the shared o_month field keeps its partition field
    // id across specs; the new bucket field gets a fresh one
    val metaFiles = {
      val s = java.nio.file.Files.list(dir.resolve("metadata"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".metadata.json"))
      } finally s.close()
    }
    val raw = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readString(metaFiles.maxBy(p =>
        p.getFileName.toString.stripPrefix("v")
          .stripSuffix(".metadata.json").toIntOption.getOrElse(0))))
    val specNodes = (0 until raw.get("partition-specs").size())
      .map(raw.get("partition-specs").get)
    def fieldId(specId: Int, name: String): Int = {
      val sp = specNodes.find(_.get("spec-id").asInt() == specId).get
      (0 until sp.get("fields").size()).map(sp.get("fields").get)
        .find(_.get("name").asText() == name).get.get("field-id").asInt()
    }
    assert(fieldId(0, "o_month") == fieldId(1, "o_month"),
      "equivalent field must reuse its partition field id")
    assert(fieldId(1, "ckb") > fieldId(1, "o_month"))
    // manifests are stamped with the spec they were written under
    val scan = IcebergManifests.scanFiles(spark,
      meta.snapshots.maxBy(_.snapshotId).manifestList)
    assert(scan.dataEntries.map(_.specId).toSet == Set(0, 1))
    // a date filter prunes BOTH generations (o_month lives in each spec)
    val f1 = "o_orderdate >= date '1995-03-01' AND " +
      "o_orderdate < date '1995-06-01'"
    val pruned = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> f1))
    val full = IcebergRest.readLocal(spark, dir).where(f1)
    assert(pruned.count() == full.count() && full.count() > 0)
    val keptDate = IcebergPrune.prune(spark, scan, meta, orders.schema, f1)
    def bySpec(s: IcebergScanFiles) =
      s.dataEntries.groupBy(_.specId).view.mapValues(_.size).toMap
    assert(bySpec(keptDate)(0) < bySpec(scan)(0), "spec-A files not pruned")
    assert(bySpec(keptDate)(1) < bySpec(scan)(1), "spec-B files not pruned")
    // a custkey equality prunes ONLY spec-B files (spec A carries no
    // bucket info — all its files must survive), results stay exact
    val ck = orders.select("o_custkey").head().getLong(0)
    val f2 = s"o_custkey = $ck"
    val prunedCk = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> f2))
    val fullCk = IcebergRest.readLocal(spark, dir).where(f2)
    assert(prunedCk.count() == fullCk.count() && fullCk.count() > 0)
    val keptCk = IcebergPrune.prune(spark, scan, meta, orders.schema, f2)
    // spec-A files carry NO bucket tuple, so only their o_custkey
    // column bounds may prune them (a handful of narrow-range files);
    // a bucket[4] misapplied across specs would kill ~3/4 of them
    assert(bySpec(keptCk)(0) > bySpec(scan)(0) * 3 / 4,
      s"spec-A files wrongly pruned by a bucket only spec B has: " +
        s"${bySpec(keptCk)(0)} of ${bySpec(scan)(0)} kept")
    assert(bySpec(keptCk)(1) < bySpec(scan)(1),
      "spec-B bucket partition did not prune")
  }

  test("bucket[N] on a timestamp column hashes epoch-micros; writer = pruner") {
    // ADVICE r11 (high): the writer used to hash cast("long") = epoch
    // SECONDS while the pruner hashes the literal's epoch MICROS (the
    // Iceberg-spec value) — equality filters then pruned files that
    // CONTAIN matching rows, silently.
    val wh = freshDir("tsbucket")
    val dir = wh.resolve("events")
    val events = spark.read.parquet(s"$sf/events.parquet")
      .select("event_id", "ts", "event_type")
    val spec = Seq(PartitionField("tsb", "ts", "bucket[8]"))
    IcebergPartitioned.append(events, dir, "data/b0", spec, 1000L)
    val meta = IcebergLocal.currentMetadata(dir).get
    val scan = IcebergManifests.scanFiles(spark,
      meta.snapshots.maxBy(_.snapshotId).manifestList)
    // driver-side epoch-micros, independent of the column's tz flavor
    def micros(v: Any): Long = v match {
      case t: java.sql.Timestamp =>
        val i = t.toInstant; i.getEpochSecond * 1000000L + i.getNano / 1000L
      case l: java.time.LocalDateTime =>
        l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          l.getNano / 1000L
    }
    val vals = events.select("ts").na.drop().collect().map(r => micros(r.get(0)))
    val want = vals.flatMap(IcebergPartitions.bucketOf(_, 8)).toSet
    assert(scan.dataEntries.map(_.partition("tsb")).toSet == want,
      "written tuples are not the spec's epoch-micros hash")
    // equality on a timestamp literal keeps its bucket and its rows
    val one = events.select("ts").na.drop().head().get(0)
    val lit = (one match {
      case t: java.sql.Timestamp => t.toLocalDateTime
      case l: java.time.LocalDateTime => l
    }).format(java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    val tsType = events.schema("ts").dataType
    val litSql =
      if (tsType == org.apache.spark.sql.types.TimestampNTZType)
        s"TIMESTAMP_NTZ '$lit'"
      else s"timestamp '$lit'"
    val pruned = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> s"ts = $litSql"))
    val full = IcebergRest.readLocal(spark, dir).where(s"ts = $litSql")
    assert(full.count() > 0, "test literal matched nothing")
    assert(pruned.count() == full.count(),
      "epoch-seconds/micros hash mismatch pruned matching rows")
    assert(pruned.inputFiles.length < scan.dataFiles.size,
      "equality on the bucket source column should prune to ~1 bucket")
    // unsupported bucket source types must refuse loudly, not stamp
    // tuples no spec-compliant reader can reproduce
    intercept[IllegalArgumentException] {
      IcebergPartitions.transformColumn(
        org.apache.spark.sql.functions.col("x"), "bucket[4]",
        org.apache.spark.sql.types.DoubleType)
    }
  }

  test("LIKE with a non-default escape char never becomes a prefix prune") {
    // ADVICE r11 (medium): `s LIKE 'abc#%' ESCAPE '#'` means the
    // LITERAL string 'abc%' — deriving prefix 'abc#' from it prunes
    // the interval ['abc#','abc$'), which EXCLUDES the matching rows.
    val wh = freshDir("likeesc")
    val dir = wh.resolve("t")
    import spark.implicits._
    val out = freshDir("likeesc_files")
    Seq("abc%", "abc%tail").toDF("s").coalesce(1).write.mode("overwrite")
      .parquet(out.resolve("match").toString)
    Seq("zzz1", "zzz2").toDF("s").coalesce(1).write.mode("overwrite")
      .parquet(out.resolve("other").toString)
    val schema = Seq("x").toDF("s").schema
    val infos = Seq("match", "other").flatMap(d =>
      IcebergPartitioned.listParquetDeep(out.resolve(d))
        .map(p => IcebergPartitioned.fileInfo(p, schema, Nil)))
    IcebergCommit.local(dir).append(infos, 1000L, schema = Some(schema))
    val got = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> "s LIKE 'abc#%' ESCAPE '#'"))
    assert(got.collect().map(_.getString(0)).toSeq == Seq("abc%"),
      "non-default-escape LIKE wrongly pruned its matching file")
    // the default-escape pure prefix still prunes (one file, not two)
    val pre = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> "s LIKE 'abc%'"))
    assert(pre.count() == 2 && pre.inputFiles.length == 1)
  }

  test("string bounds compare in UTF-8 byte order, not UTF-16") {
    // ADVICE r11 (low): parquet stat order is unsigned UTF-8 bytes;
    // String.compareTo (UTF-16 units) says emoji (surrogates
    // 0xD800–0xDFFF) sort BELOW U+E000–U+FFFF, so a `>=` against a
    // private-use-area literal used to prune the emoji file that
    // matches it.
    val wh = freshDir("utf8ord")
    val dir = wh.resolve("t")
    import spark.implicits._
    val out = freshDir("utf8ord_files")
    val emoji = "🙂" // U+1F642, UTF-8 f0 9f 99 82
    Seq(s"${emoji}a", s"${emoji}b").toDF("s").coalesce(1)
      .write.mode("overwrite").parquet(out.toString)
    val schema = Seq("x").toDF("s").schema
    val infos = IcebergPartitioned.listParquetDeep(out)
      .map(p => IcebergPartitioned.fileInfo(p, schema, Nil))
    IcebergCommit.local(dir).append(infos, 1000L, schema = Some(schema))
    val got = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> "s >= ''"))
    assert(got.count() == 2,
      "UTF-16 comparison pruned a file whose rows all match")
    assert(got.inputFiles.length == 1)
    // and the dual stays selective: s < U+E000 proves empty via bounds
    val none = IcebergRest.readLocal(spark, dir,
      options = Map("filter" -> "s < ''"))
    assert(none.count() == 0 && none.inputFiles.length == 0)
  }
}
