package graft

import graft.session.ShuffleWidth
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loader for the driver-provided TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Mirrors the reference's lazy, scan-based table model (a table is a schema +
  * scan provider; see /root/reference/crates/connectors/src/sources/file.rs:26-364):
  * each table is a parquet `ListingTable` there, a parquet DataFrame scan here.
  * Catalyst provides predicate pushdown / column pruning on top, exactly as
  * DataFusion does for the reference.
  *
  * At 100 TB these reads are partitioned parquet directories; nothing here
  * assumes single-file inputs — `spark.read.parquet(path)` handles both.
  */
final case class Tables(spark: SparkSession, dir: String) {
  /** Resolved-relation cache: `spark.read.parquet` builds a fresh file
    * index + reads footers for schema on every call; resolving each table
    * once per (session, dir) removes that constant cost from every query.
    * This is driver-side metadata only (the analog of a catalog's table
    * cache) — at 100 TB the file listing is exactly the thing you don't
    * want to redo per query. Resolving a directory also sizes the
    * session's shuffle from its bytes ([[ShuffleWidth.configure]]). */
  def load(name: String): DataFrame = {
    ShuffleWidth.configure(spark, dir)
    Tables.cache.getOrElseUpdate((spark, dir, name),
      if (name == "events") loadEvents
      else spark.read.parquet(s"$dir/$name.parquet"))
  }

  def region: DataFrame = load("region")
  def nation: DataFrame = load("nation")
  def customer: DataFrame = load("customer")
  def supplier: DataFrame = load("supplier")
  def part: DataFrame = load("part")
  def orders: DataFrame = load("orders")
  def lineitem: DataFrame = load("lineitem")
  /** events.ts has shipped as both parquet TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects → read nanos as long, truncate to micros) and
    * plain timestamp[us] (reads as TIMESTAMP_NTZ under Spark 4's NTZ
    * inference). Land on session-zoned TimestampType either way so every
    * downstream query sees one type. */
  def events: DataFrame = load("events")

  private def loadEvents: DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    // The NTZ→TimestampType cast below is instant-preserving ONLY at
    // UTC; every engine entry point pins the session zone, but a caller
    // who built a bare SparkSession would silently shift events
    // timestamps relative to the nanos-as-long path. Pin it here too.
    require(spark.conf.get("spark.sql.session.timeZone", "") == "UTC",
      "graft.Tables.events needs spark.sql.session.timeZone=UTC " +
        "(set by GraftSession.builder) — NTZ normalization would shift " +
        "instants under any other zone")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents: DataFrame = load("documents")
  def embeddings: DataFrame = load("embeddings")

  /** All table names the engine serves (the `strake.public` namespace in the
    * reference; /root/reference/crates/runtime/src/federation.rs:104-110). */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every table as a temp view so `spark.sql` works against the
    * same namespace the DataFrame queries use. */
  def registerAll(): Unit =
    names.foreach(n => load(n).createOrReplaceTempView(n))
}

object Tables {
  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]
}
