package graft.session

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Shuffle width sized from scanned volume, not core count.
  *
  * The 50× scale probe (round 17, BASELINE.md) demonstrated the rule:
  * at 30M lineitem rows a 32-wide shuffle put q10's reduce tasks at
  * the spill edge (trail swinging 19–95 s on one disk) while a
  * 128-wide shuffle ran flat — the partition count must follow the
  * data so each reduce task's working set stays memory-sized however
  * large the input grows. Core count is only the FLOOR (below it,
  * cores idle); the ceiling guards against task-scheduling overhead
  * swamping tiny tasks.
  *
  * The estimate is deliberately cheap and static: sum the on-disk
  * bytes of each data directory once, when the session first resolves
  * it ([[graft.Tables]]), and divide by a target of compressed bytes per
  * reduce task. Columnar sources expand ~10–15× in flight here (sf5.0:
  * 236 MB of parquet is ~3 GB of rows), so the 2 MB compressed target
  * keeps a reduce task's working set in the tens of MB. AQE then
  * coalesces DOWN at runtime
  * when a stage's actual exchange is small — over-provisioning width
  * is self-correcting, under-provisioning is a spill (asymmetry that
  * justifies rounding up). Tables with no local directory to walk —
  * federated JDBC/REST and Iceberg registrations — contribute through
  * recorded catalog statistics instead ([[StatsKeyPrefix]]): Iceberg
  * snapshot `total-files-size`, declared row-count estimates, remote
  * file sizes. Both signals add; either alone carries a session.
  */
object ShuffleWidth {

  /** Compressed input bytes a single reduce task should own: 2 MB of
    * parquet ≈ 25–60 MB in flight at this corpus' expansion ratios.
    * Calibrated on the round-17 50× probe: 236 MB / 2 MB → 118 ≈ the
    * empirically-flat 128-wide run; 17.5 MB at sf0.1 → 9, floored to
    * the 32 cores the recorded baselines assume. */
  val TargetBytesPerPartition: Long = 2L << 20

  /** Scheduling-overhead ceiling for a single-box session; a real
    * cluster raises it with executor count. */
  val MaxWidth: Int = 4096

  /** Width for a given input volume: ceil(bytes/target) clamped to
    * [cores, MaxWidth]. */
  def forBytes(inputBytes: Long, cores: Int): Int = {
    val byVolume =
      (inputBytes + TargetBytesPerPartition - 1) / TargetBytesPerPartition
    math.min(MaxWidth.toLong, math.max(cores.toLong, byVolume)).toInt
  }

  /** Recursive on-disk size of a source directory (regular files only;
    * 0 when absent — callers fall back to the core floor). */
  def dirBytes(dir: String): Long = {
    val root: Path = Paths.get(dir)
    if (!Files.isDirectory(root)) return 0L
    val it = Files.walk(root)
    try it.filter(p => Files.isRegularFile(p))
      .mapToLong(p => try Files.size(p) catch { case _: Exception => 0L })
      .sum()
    finally it.close()
  }

  /** Session-conf prefix under which [[configure]] records data
    * directories and [[graft.sources.SourceRegistry]] per-registered-table
    * input-byte estimates (Iceberg snapshot `total-files-size`, federated
    * row-count × row-width, file sizes of paths outside the session data
    * dir). The catalog side of the width rule: a session whose tables
    * arrive through a sources config — no local data directory at all —
    * still gets volume-derived width instead of the core floor. */
  val StatsKeyPrefix = "graft.stats.bytes."

  /** Record one table's estimated input bytes (idempotent per view
    * name; non-positive estimates are "unknown" and never recorded). */
  def record(spark: SparkSession, view: String, bytes: Long): Unit =
    if (bytes > 0L)
      spark.conf.set(StatsKeyPrefix + view.toLowerCase, bytes.toString)

  /** Sum of every recorded per-table estimate in this session. */
  def statsBytes(spark: SparkSession): Long =
    spark.conf.getAll.collect {
      case (k, v) if k.startsWith(StatsKeyPrefix) =>
        v.toLongOption.getOrElse(0L)
    }.sum

  /** Drop every recorded estimate (re-registration against a different
    * config, and test isolation in shared sessions). */
  def clearStats(spark: SparkSession): Unit =
    spark.conf.getAll.keys.filter(_.startsWith(StatsKeyPrefix))
      .foreach(spark.conf.unset)

  /** Record a data directory's bytes once per session ([[graft.Tables]]
    * calls it as it resolves one) and, when new, re-derive the width. */
  def configure(spark: SparkSession, dir: String): Unit = {
    val key = StatsKeyPrefix + "dir:" + dir
    if (spark.conf.getOption(key).isEmpty) {
      spark.conf.set(key, dirBytes(dir).toString)
      configureFromStats(spark)
    }
  }

  /** The width this rule last set: a set width that differs was pinned. */
  private val AppliedKey = "graft.shuffle.applied"

  /** Set `spark.sql.shuffle.partitions` from every recorded statistic and
    * return the width in effect; a width the caller pinned (builder or
    * `spark.conf.set`) is left alone. AQE's coalescing trims unused width
    * per stage at runtime. */
  def configureFromStats(spark: SparkSession): Int = {
    // getAll holds only the settings someone made, not the defaults
    val set = spark.conf.getAll.get("spark.sql.shuffle.partitions")
    if (set.nonEmpty && set != spark.conf.getOption(AppliedKey)) set.get.toInt
    else {
      val width = forBytes(statsBytes(spark), spark.sparkContext.defaultParallelism)
      spark.conf.set("spark.sql.shuffle.partitions", width.toString)
      spark.conf.set(AppliedKey, width.toString)
      width
    }
  }
}
