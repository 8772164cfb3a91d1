package graft.session

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SizeEstimator

/** Plan-keyed, user-isolated result cache: rows on the driver, Parquet on
  * disk.
  *
  * Mirrors the reference cache semantics
  * (/root/reference/crates/runtime/src/query/cache.rs:33-441 and
  * CacheKey::from_plan in federation.rs:385-413):
  *  - key = SHA-256(canonicalized optimized plan) + user id + sorted
  *    permissions — two users never share entries;
  *  - values are driver-resident rows, as the reference's moka LRU holds
  *    Arrow batches. A hit is a `LocalRelation`, so the serving edges'
  *    `df.schema` and bounded `collect()` answer it with no Spark job.
  *    Each entry also persists as a single Parquet file, the durable copy
  *    a restarted cache over the same root re-adopts; one file keeps the
  *    rows of a sorted result in order;
  *  - a miss runs the query once, as a collect bounded at 100,000 rows
  *    (the edges' largest delivery bound); longer results are not cached;
  *  - TTL expiry + LRU eviction bounded by entry count and by `maxBytes`;
  *  - empty results are not cached (cache.rs skip-empty);
  *  - per-query opt-out.
  *
  * Spark's `plan.canonicalized.semanticHash` would also work, but the
  * digest of the canonicalized plan string matches the reference's
  * "hash of debug-formatted plan" approach and is stable across JVMs.
  */
final class QueryCache(
    root: Path,
    ttlMillis: Long = 3600L * 1000,
    maxEntries: Int = 256,
    /** Byte budget for all entries together — the reference's moka weigher
      * (cache.rs:33-441 weighs entries by batch bytes, not count), so one
      * huge result can't pin 255 small ones out while the entry-count bound
      * never fires. An entry weighs the larger of its Parquet bytes and its
      * estimated heap bytes, so the budget bounds the driver heap and the
      * disk alike. */
    maxBytes: Long = QueryCache.DefaultMaxBytes) {

  import QueryCache.{Entry, MaxRows}
  private val index = new ConcurrentHashMap[String, Entry]()
  Files.createDirectories(root)

  def key(df: DataFrame, user: AuthenticatedUser): String = {
    val planText = df.queryExecution.optimizedPlan.canonicalized.toString
    val md = MessageDigest.getInstance("SHA-256")
    md.update(planText.getBytes("UTF-8"))
    md.update(0.toByte)
    md.update(user.cacheKey.getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Returns the cached result as a DataFrame over driver-resident rows,
    * or None. */
  def lookup(spark: SparkSession, k: String): Option[DataFrame] = {
    val e = index.get(k)
    if (e == null) None
    else if (System.currentTimeMillis() - e.createdAt > ttlMillis) {
      invalidate(k); None
    } else {
      e.lastUsed = System.currentTimeMillis()
      Some(GraftPlanBridge.ofRows(spark, e.rows.newInstance()))
    }
  }

  /** Runs `df` once as a bounded collect and caches the rows; skips empty
    * results (cache.rs skip-empty) and results longer than `MaxRows`. The
    * Parquet write is atomic: tmp dir + rename, so a restart never adopts
    * a partial copy. */
  def store(df: DataFrame, k: String): Boolean = {
    val target = root.resolve(k)
    if (Files.exists(target)) {
      // Data already on disk (persistent root across restarts, or a
      // concurrent store won the race) — read it back into memory once so
      // the key can actually hit from now on.
      if (!index.containsKey(k)) put(k, target, relationOf(df.schema,
        df.sparkSession.read.schema(df.schema).parquet(target.toString).collect()))
      return true
    }
    val rows = df.limit(MaxRows + 1).collect()
    if (rows.isEmpty || rows.length > MaxRows) return false
    val relation = relationOf(df.schema, rows)
    val tmp = root.resolve(k + ".tmp" + System.nanoTime())
    GraftPlanBridge.ofRows(df.sparkSession, relation)
      .coalesce(1).write.parquet(tmp.toString)
    try Files.move(tmp, target)
    catch {
      // concurrent store of the same key won the move — its contents are
      // identical (same plan + user), so losing the race is success
      case _: java.nio.file.FileAlreadyExistsException => deleteRec(tmp)
    }
    put(k, target, relation)
    true
  }

  private def relationOf(schema: StructType, rows: Array[Row]): LocalRelation =
    LocalRelation.fromExternalRows(DataTypeUtils.toAttributes(schema), rows.toSeq)

  private def put(k: String, dir: Path, rows: LocalRelation): Unit = {
    val now = System.currentTimeMillis()
    index.put(k, Entry(dir, rows, now, now,
      math.max(dirBytes(dir), SizeEstimator.estimate(rows.data))))
    evictIfNeeded()
  }

  def invalidate(k: String): Unit = {
    val e = index.remove(k)
    if (e != null) deleteRec(e.dir)
  }

  def size: Int = index.size()

  /** Total weighted bytes currently indexed (each entry: the larger of its
    * Parquet and its heap bytes). */
  def totalBytes: Long = {
    import scala.jdk.CollectionConverters._
    index.values().asScala.map(_.bytes).sum
  }

  // Serializes evictions: two concurrent store()s racing the same LRU
  // victim (or a TTL invalidate shrinking the index mid-minBy) must not
  // throw out of a user's query.
  private val evictLock = new Object

  private def evictIfNeeded(): Unit = evictLock.synchronized {
    import scala.jdk.CollectionConverters._
    while (index.size() > maxEntries ||
        (index.size() > 1 && totalBytes > maxBytes)) {
      // size>1 guard: a single over-budget entry stays until its TTL —
      // evicting the result we just stored would turn the store into a no-op
      index.entrySet().asScala.minByOption(_.getValue.lastUsed) match {
        case Some(lru) => invalidate(lru.getKey)
        case None => return
      }
    }
  }

  private def dirBytes(p: Path): Long = {
    import scala.jdk.CollectionConverters._
    val stream = Files.walk(p)
    try stream.iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    finally stream.close()
  }

  private def deleteRec(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val stream = Files.walk(p)
      val all = try stream.iterator().asScala.toSeq finally stream.close()
      all.reverse.foreach(f => Files.deleteIfExists(f))
    }
}

object QueryCache {
  private final case class Entry(dir: Path, rows: LocalRelation,
      createdAt: Long, var lastUsed: Long, bytes: Long)

  /** Longest result the cache holds: the largest delivery bound of the
    * serving edges (the `FlightSqlEdge` / `PgWireEdge` default `maxRows`). */
  private val MaxRows = 100000

  /** 1 GiB, or an eighth of the heap on a smaller driver. */
  private val DefaultMaxBytes: Long =
    math.min(1L << 30, Runtime.getRuntime.maxMemory / 8)

  def temp(): QueryCache =
    new QueryCache(Paths.get(Files.createTempDirectory("graft-cache").toString))
}
