package graft.sources.iceberg

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.time.LocalDate

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{functions => F}

/** Iceberg partition specs + scan pruning, built from the PUBLIC table
  * spec (partition transforms, Appendix B bucket hashing, Appendix D
  * single-value binary serialization). Closes the scale gap the
  * reference serves with its provider-side partition pruning
  * (`crates/connectors/src/sources/iceberg/provider.rs:39-120`): a
  * selective query on a date-partitioned 100 TB table must open the
  * few files whose partition tuple / column bounds can match — not
  * every footer in the table.
  *
  * Three pieces:
  *   - [[PartitionField]] + transforms, evaluated BOTH as Spark
  *     `Column`s (the writer's partition values — codegen'd, no UDF
  *     except `bucket`, whose murmur3 has no builtin equivalent) and
  *     on driver-side literals (the pruner's side of the comparison);
  *   - a partitioned table writer ([[IcebergPartitioned.append]]):
  *     Hive-layout parquet write on SYNTHESIZED transform columns (the
  *     source columns stay IN the data files, as the spec requires),
  *     per-file partition tuples and column min/max bounds stamped
  *     into the manifest entries, the spec recorded in the metadata
  *     JSON — so external readers prune these tables natively too;
  *   - a conservative file pruner ([[IcebergPrune]]): each pushed
  *     conjunct yields NECESSARY conditions on a file's partition
  *     tuple (via the transform's monotonicity, or bucket equality)
  *     and its column bounds; a file is skipped only when a condition
  *     provably fails. Anything unresolvable (unknown transform, type,
  *     or expression shape) keeps the file — pruning is an
  *     optimization, never a semantics change, and the full predicate
  *     is re-applied to the surviving rows.
  *
  * Scale notes: pruning is driver-side over manifest ENTRIES (metadata,
  * not data) — O(files) tuple/bound comparisons, zero I/O beyond the
  * manifest walk the read already does. The win is the scan: at 1000
  * daily partitions, a one-day query schedules ~1/1000th of the splits.
  */
final case class PartitionField(
    name: String,
    sourceColumn: String,
    /** identity | year | month | day | hour | bucket[N] | truncate[W] | void */
    transform: String)

object IcebergPartitions {
  private val BucketRe = """bucket\[(\d+)\]""".r
  private val TruncRe = """truncate\[(\d+)\]""".r

  /** murmur3_x86_32, seed 0 — the spec's bucket hash (Appendix B;
    * public algorithm, Austin Appleby 2008). */
  def murmur3(bytes: Array[Byte]): Int = {
    val c1 = 0xcc9e2d51
    val c2 = 0x1b873593
    var h = 0
    val nBlocks = bytes.length / 4
    var i = 0
    while (i < nBlocks) {
      val o = i * 4
      var k = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8) |
        ((bytes(o + 2) & 0xff) << 16) | ((bytes(o + 3) & 0xff) << 24)
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2
      h ^= k; h = Integer.rotateLeft(h, 13); h = h * 5 + 0xe6546b64
      i += 1
    }
    var k = 0
    val tail = nBlocks * 4
    (bytes.length & 3) match {
      case 3 =>
        k ^= (bytes(tail + 2) & 0xff) << 16
        k ^= (bytes(tail + 1) & 0xff) << 8
        k ^= bytes(tail) & 0xff
      case 2 =>
        k ^= (bytes(tail + 1) & 0xff) << 8
        k ^= bytes(tail) & 0xff
      case 1 => k ^= bytes(tail) & 0xff
      case _ => ()
    }
    if ((bytes.length & 3) != 0) {
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2; h ^= k
    }
    h ^= bytes.length
    h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13
    h *= 0xc2b2ae35; h ^= h >>> 16
    h
  }

  private def leLong(v: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()

  /** Spec bucket: ints/longs/dates/timestamps hash as the 8-byte
    * little-endian long (int and long of equal value bucket alike),
    * strings as UTF-8 bytes. None = untyped for bucketing (keep). */
  def bucketOf(value: Any, n: Int): Option[Int] = {
    val h = value match {
      case null => return None
      case i: Int => Some(murmur3(leLong(i.toLong)))
      case l: Long => Some(murmur3(leLong(l)))
      case s: String => Some(murmur3(s.getBytes(UTF_8)))
      case _ => None
    }
    h.map(x => (x & Integer.MAX_VALUE) % n)
  }

  /** The transform's result as a Spark Column over the source column —
    * the writer's partition value. Semantics are the spec's: year/month
    * are offsets from 1970, day is epoch days, hour is epoch hours.
    * All builtins (codegen'd) except `bucket`, whose murmur3 has no
    * Spark builtin — a scalar UDF confined to the WRITE projection. */
  def transformColumn(c: Column, transform: String, dt: DataType): Column =
    transform match {
      case "identity" => c
      case "year" | "month" | "day" =>
        // date-family transforms are UTC per the spec; a TIMESTAMP
        // column normalizes through its raw epoch seconds so the
        // session timezone can never skew the partition values away
        // from the pruner's literal-side arithmetic
        val d = dt match {
          case TimestampType => F.date_from_unix_date(
            F.floor(c.cast("double") / 86400d).cast("int"))
          case _ => c.cast("date")
        }
        transform match {
          case "year" => (F.year(d) - F.lit(1970)).cast("int")
          case "month" =>
            ((F.year(d) - F.lit(1970)) * 12 + F.month(d) - F.lit(1))
              .cast("int")
          case _ =>
            F.datediff(d, F.lit("1970-01-01")).cast("int")
        }
      case "hour" => F.floor(c.cast("double") / 3600d).cast("int")
      case "void" => F.lit(null).cast("int")
      case BucketRe(n) =>
        val buckets = n.toInt
        val longBucket = F.udf((l: java.lang.Long) =>
          if (l == null) null
          else bucketOf(l.longValue(), buckets).map(Integer.valueOf).orNull)
        dt match {
          case StringType =>
            F.udf((s: String) =>
              bucketOf(s, buckets).map(Integer.valueOf).orNull).apply(c)
          case ByteType | ShortType | IntegerType | LongType =>
            longBucket.apply(c.cast("long"))
          // the spec hashes DATE as its epoch-day int widened to long
          case DateType =>
            longBucket.apply(F.datediff(c, F.lit("1970-01-01")).cast("long"))
          // the spec hashes TIMESTAMP as epoch MICROS — which is also
          // what applyTransform's literal side hashes (Catalyst's
          // internal representation). cast("long") (epoch SECONDS)
          // would stamp tuples the pruner disagrees with: matching
          // files silently pruned, and spec-noncompliant layouts for
          // external readers.
          case TimestampType =>
            longBucket.apply(F.unix_micros(c))
          case TimestampNTZType =>
            F.udf((t: java.time.LocalDateTime) =>
              if (t == null) null
              else bucketOf(t.toEpochSecond(java.time.ZoneOffset.UTC) *
                  1000000L + t.getNano / 1000L, buckets)
                .map(Integer.valueOf).orNull).apply(c)
          // anything else (float/decimal/binary): refuse LOUDLY — a
          // silent cast("long") fallthrough writes tuples no
          // spec-compliant reader can reproduce
          case other => throw new IllegalArgumentException(
            s"bucket[$buckets] unsupported over $other source type")
        }
      case TruncRe(w) =>
        val width = w.toInt
        dt match {
          case StringType => F.substring(c, 1, width)
          case LongType => c - ((c % width + width) % width)
          case _ => (c - ((c % width + width) % width)).cast("int")
        }
      case other => throw new IllegalArgumentException(
        s"unknown partition transform '$other'")
    }

  /** The transform applied to one DRIVER-side value (dates as epoch-day
    * Int, timestamps as epoch-micro Long — Catalyst's internal
    * representations, which is what resolved literals carry). None =
    * not evaluable here → the pruner keeps the file. */
  def applyTransform(transform: String, value: Any, dt: DataType)
      : Option[Any] = transform match {
    case "identity" => Some(value)
    case "year" | "month" | "day" =>
      val epochDay: Option[Long] = (value, dt) match {
        case (d: Int, DateType) => Some(d.toLong)
        case (m: Long, TimestampType | TimestampNTZType) =>
          Some(Math.floorDiv(m, 86_400_000_000L))
        case _ => None
      }
      epochDay.map { d =>
        val ld = LocalDate.ofEpochDay(d)
        transform match {
          case "year" => ld.getYear - 1970
          case "month" => (ld.getYear - 1970) * 12 + ld.getMonthValue - 1
          case _ => d.toInt
        }
      }
    case "hour" => (value, dt) match {
      case (m: Long, TimestampType | TimestampNTZType) =>
        Some(Math.floorDiv(m, 3_600_000_000L).toInt)
      case _ => None
    }
    case BucketRe(n) => bucketOf(value, n.toInt)
    case TruncRe(w) => value match {
      case i: Int => Some(i - Math.floorMod(i, w.toInt))
      case l: Long => Some(l - Math.floorMod(l, w.toLong))
      case s: String => Some(s.substring(0, math.min(s.length, w.toInt)))
      case _ => None
    }
    case _ => None
  }

  /** Monotone transforms preserve source order (t(a) >= t(b) whenever
    * a >= b), so range predicates push through them; bucket/void don't. */
  def isMonotone(transform: String): Boolean = transform match {
    case "identity" | "year" | "month" | "day" | "hour" => true
    case TruncRe(_) => true
    case _ => false
  }

  /** The transform's result type given the source type (drives the Avro
    * partition record and the metadata spec). */
  def resultType(transform: String, dt: DataType): DataType = transform match {
    case "identity" => dt
    case TruncRe(_) => dt
    case _ => IntegerType
  }

  /** Spec single-value binary serialization (Appendix D) for bound
    * maps: fixed-width little-endian numerics, UTF-8 strings. None =
    * type not serialized (no bound recorded → reader keeps the file). */
  def serializeBound(value: Any, dt: DataType): Option[Array[Byte]] = {
    def le(n: Int)(f: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      f(b); b.array()
    }
    (value, dt) match {
      case (null, _) => None
      case (i: Int, IntegerType | DateType) => Some(le(4)(_.putInt(i)))
      case (l: Long, LongType | TimestampType | TimestampNTZType) =>
        Some(le(8)(_.putLong(l)))
      case (f: Float, FloatType) => Some(le(4)(_.putFloat(f)))
      case (d: Double, DoubleType) => Some(le(8)(_.putDouble(d)))
      case (b: Array[Byte], StringType) => Some(b)
      case (s: String, StringType) => Some(s.getBytes(UTF_8))
      case (b: Boolean, BooleanType) => Some(Array[Byte](if (b) 1 else 0))
      case _ => None
    }
  }

  /** Inverse of [[serializeBound]]: bytes → the comparison-domain value
    * (dates as epoch-day Int, timestamps as epoch-micro Long). */
  def deserializeBound(bytes: Array[Byte], dt: DataType): Option[Any] = {
    def le = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType | DateType if bytes.length == 4 => Some(le.getInt)
      case LongType | TimestampType | TimestampNTZType if bytes.length == 8 =>
        Some(le.getLong)
      case FloatType if bytes.length == 4 => Some(le.getFloat)
      case DoubleType if bytes.length == 8 => Some(le.getDouble)
      // strings stay RAW UTF-8 bytes: decoding to java.lang.String and
      // back is lossy on truncated multi-byte sequences, and
      // String.compareTo (UTF-16 code units) disagrees with the
      // unsigned-UTF-8 order parquet computed the stat in for
      // supplementary characters — cmp compares byte-space instead
      case StringType => Some(bytes)
      case BooleanType if bytes.length == 1 => Some(bytes(0) != 0)
      case _ => None
    }
  }

  /** Total order where defined: numerics via BigDecimal (exact — a
    * float/double rounding slip here could wrongly EXCLUDE a file),
    * strings in UNSIGNED UTF-8 byte order — the order parquet computes
    * string min/max in AND the order Spark's UTF8String (row-level
    * string comparison) uses. String.compareTo would disagree on
    * supplementary characters vs U+E000–U+FFFF (emoji are common in
    * web corpora) and wrongly exclude files. None = incomparable →
    * keep. */
  def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: String, y: String) => Some(java.util.Arrays.compareUnsigned(
      x.getBytes(UTF_8), y.getBytes(UTF_8)))
    case (x: String, y: Array[Byte]) => // literal vs raw stat bytes
      Some(java.util.Arrays.compareUnsigned(x.getBytes(UTF_8), y))
    case (x: Array[Byte], y: String) =>
      Some(java.util.Arrays.compareUnsigned(x, y.getBytes(UTF_8)))
    case (x: Boolean, y: Boolean) => Some(x.compareTo(y))
    case (x: Array[Byte], y: Array[Byte]) => // parquet binary stat order
      Some(java.util.Arrays.compareUnsigned(x, y))
    case _ =>
      def num(v: Any): Option[BigDecimal] = v match {
        case i: Int => Some(BigDecimal(i))
        case l: Long => Some(BigDecimal(l))
        case f: Float => Some(BigDecimal(f.toDouble))
        case d: Double => Some(BigDecimal(d))
        case d: java.math.BigDecimal => Some(BigDecimal(d))
        case _ => None
      }
      for (x <- num(a); y <- num(b)) yield x.compare(y)
  }
}

/** Partitioned Iceberg table writes: Hive-layout parquet on synthesized
  * transform columns, manifests stamped with partition tuples + column
  * bounds, the spec recorded in the table metadata. */
object IcebergPartitioned {
  import IcebergPartitions._

  private def partColName(f: PartitionField) = s"__gp_${f.name}"

  /** Write `df` partitioned by `spec` under `tableDir/<dataSubdir>` and
    * commit it as a snapshot whose manifest entries carry each file's
    * partition tuple and column min/max bounds. The SOURCE columns stay
    * in the data files (the spec's layout — only the synthesized
    * transform columns become directories), so plain parquet readers
    * and the MoR path read the files unchanged. Returns the snapshot id. */
  def append(df: DataFrame, tableDir: JPath, dataSubdir: String,
      spec: Seq[PartitionField], timestampMs: Long,
      tag: Option[String] = None, retainLast: Option[Int] = None,
      /** WRITE-time sort columns: data is range-distributed and sorted
        * on (partition tuple, sortBy) before the write, so each file's
        * sortBy bounds are TIGHT and near-disjoint — range predicates
        * on the sort key prune most files; the order is declared in the
        * table metadata (`sort-orders` + default-sort-order-id). */
      sortBy: Seq[String] = Nil,
      /** file-count target for the sorted layout (range partitions
        * before the Hive-dir split); required > 0 when sortBy is set. */
      targetFileCount: Int = 0): Long = {
    require(spec.nonEmpty,
      "use IcebergCommit.Target.append for unpartitioned commits")
    IcebergCommit.local(tableDir).append(
      writeFiles(df, tableDir.resolve(dataSubdir), spec, sortBy,
        targetFileCount),
      timestampMs, tag, retainLast,
      schema = Some(df.schema), partitionSpec = Some(spec),
      sortOrder = if (sortBy.nonEmpty) Some(sortBy) else None)
  }

  /** The distributed half of [[append]]: the Hive-layout partitioned
    * parquet write plus per-file tuple/bound extraction — WITHOUT the
    * commit, so committers with their own commit discipline (the
    * streaming sink's tag-idempotence) can compose. */
  def writeFiles(df: DataFrame, outDir: JPath,
      spec: Seq[PartitionField], sortBy: Seq[String] = Nil,
      targetFileCount: Int = 0): Seq[IcebergLocal.DataFileInfo] = {
    val schema = df.schema
    val partCols = spec.map { f =>
      transformColumn(F.col(f.sourceColumn), f.transform,
        schema(f.sourceColumn).dataType).as(partColName(f))
    }
    val withCols = df.select(df.columns.map(F.col) ++ partCols: _*)
    // sorted layout: range-distribute on (partition tuple, sort key) —
    // one exchange — then sort within tasks, so each written file holds
    // a contiguous near-disjoint sort-key range and its footer bounds
    // prune like an index; the same shape Iceberg's write.sort-order
    // produces. Unsorted writes keep the caller's partitioning.
    val arranged =
      if (sortBy.isEmpty) withCols
      else {
        require(targetFileCount > 0,
          "sorted writes need targetFileCount > 0 (range distribution)")
        val keys = spec.map(f => F.col(partColName(f))) ++
          sortBy.map(F.col)
        withCols.repartitionByRange(targetFileCount, keys: _*)
          .sortWithinPartitions(keys: _*)
      }
    arranged.write.mode("overwrite")
      .partitionBy(spec.map(partColName): _*)
      .parquet(outDir.toString)
    listParquetDeep(outDir).map { p =>
      fileInfo(p, schema, parsePartitionDirs(outDir, p, spec, schema))
    }
  }

  /** DataFileInfo for one parquet file: row count + per-column min/max
    * bounds from the FOOTER (driver-side metadata read, zero Spark
    * jobs), partition tuple as given. */
  def fileInfo(p: JPath, schema: StructType,
      partition: Seq[(String, Any)]): IcebergLocal.DataFileInfo = {
    val ids = IcebergLocal.topLevelFieldIds(schema)
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri),
      new org.apache.hadoop.conf.Configuration()))
    val (count, lower, upper, valueCounts, nullCounts) = try {
      import scala.jdk.CollectionConverters._
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      // a column's bound is recorded only when EVERY row group has
      // non-null-capable stats for it; anything else stays unbounded.
      // Null counts are independent: a column can be all-null (no
      // bounds) and still carry an exact null count — the IS NULL
      // pruning evidence.
      val mins = scala.collection.mutable.Map.empty[String, Any]
      val maxs = scala.collection.mutable.Map.empty[String, Any]
      val dead = scala.collection.mutable.Set.empty[String]
      val nulls = scala.collection.mutable.Map.empty[String, Long]
      val nullsDead = scala.collection.mutable.Set.empty[String]
      for (b <- blocks; c <- b.getColumns.asScala) {
        val name = c.getPath.toDotString
        if (byName.contains(name) && !nullsDead(name)) {
          val st = c.getStatistics
          if (st == null || !st.isNumNullsSet) {
            nullsDead += name; nulls.remove(name)
          } else nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
        }
        if (byName.contains(name) && !dead(name)) {
          val st = c.getStatistics
          if (st == null || st.isEmpty || !st.hasNonNullValue) {
            dead += name; mins.remove(name); maxs.remove(name)
          } else {
            val (mn, mx) = (statValue(st.genericGetMin.asInstanceOf[AnyRef]),
              statValue(st.genericGetMax.asInstanceOf[AnyRef]))
            (mins.get(name), maxs.get(name)) match {
              case (None, None) => mins(name) = mn; maxs(name) = mx
              case (Some(pmn), Some(pmx)) =>
                (cmp(mn, pmn), cmp(mx, pmx)) match {
                  case (Some(cl), Some(ch)) =>
                    if (cl < 0) mins(name) = mn
                    if (ch > 0) maxs(name) = mx
                  case _ => // incomparable across row groups: no bound
                    dead += name; mins.remove(name); maxs.remove(name)
                }
              case _ =>
                dead += name; mins.remove(name); maxs.remove(name)
            }
          }
        }
      }
      def ser(m: collection.Map[String, Any]): Map[Int, Array[Byte]] =
        m.flatMap { case (name, v) =>
          for {
            id <- ids.get(name)
            b <- serializeBound(v, byName(name))
          } yield id -> b
        }.toMap
      val rows = r.getRecordCount
      val nc = nulls.flatMap { case (name, n) =>
        ids.get(name).map(_ -> n)
      }.toMap
      // top-level columns: total value count == row count (spec
      // value_counts includes nulls)
      val vc = nc.keys.map(_ -> rows).toMap
      (rows, ser(mins), ser(maxs), vc, nc)
    } finally r.close()
    // RAW-character path, not JPath.toUri: Hive-escaped partition dirs
    // contain literal '%' (':' → %3A), which toUri would re-encode to
    // %253A — a name that matches nothing on disk when Spark treats
    // the string's characters literally (Hadoop Path semantics)
    IcebergLocal.DataFileInfo("file:" + p.toAbsolutePath.toString,
      count, Files.size(p),
      partition = partition, lowerBounds = lower, upperBounds = upper,
      valueCounts = valueCounts, nullCounts = nullCounts)
  }

  /** Parquet statistics value → the comparison/serialization domain. */
  private def statValue(v: AnyRef): Any = v match {
    case b: org.apache.parquet.io.api.Binary => b.getBytes
    case other => other
  }

  /** Every parquet file under `dir`, recursively (Hive partition
    * layouts nest). */
  def listParquetDeep(dir: JPath): Seq[JPath] = {
    val s = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet")).toSeq
    } finally s.close()
  }

  /** Recover one file's partition tuple from its Hive-layout directory
    * segments (`__gp_<name>=<value>/...`), typed per the transform's
    * result type. */
  private def parsePartitionDirs(root: JPath, file: JPath,
      spec: Seq[PartitionField], schema: StructType): Seq[(String, Any)] = {
    import scala.jdk.CollectionConverters._
    val segs = root.relativize(file).iterator().asScala.map(_.toString)
      .filter(_.contains("=")).map { s =>
        val i = s.indexOf('=')
        s.substring(0, i) -> unescape(s.substring(i + 1))
      }.toMap
    spec.map { f =>
      val raw = segs.getOrElse(partColName(f),
        throw new IllegalStateException(
          s"partition dir for ${f.name} missing under $file"))
      val v: Any =
        if (raw == null) null
        else resultType(f.transform, schema(f.sourceColumn).dataType) match {
          case IntegerType => raw.toInt
          case LongType => raw.toLong
          case DateType => LocalDate.parse(raw).toEpochDay.toInt
          case StringType => raw
          case other => throw new IllegalArgumentException(
            s"partition transform ${f.transform} on $other not supported")
        }
      f.name -> v
    }
  }

  /** Hive path unescape: %xx sequences; the null-partition sentinel. */
  private def unescape(s: String): String =
    if (s == "__HIVE_DEFAULT_PARTITION__") null
    else if (!s.contains('%')) s
    else {
      val out = new java.io.ByteArrayOutputStream()
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length) {
          out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
          i += 3
        } else { out.write(c.toInt); i += 1 }
      }
      new String(out.toByteArray, UTF_8)
    }
}

/** Conservative manifest-entry pruning for a pushed-down predicate. */
object IcebergPrune {
  import IcebergPartitions._
  import org.apache.spark.sql.catalyst.expressions._

  private sealed trait Op
  private case object Eq extends Op
  private case object Lt extends Op
  private case object Le extends Op
  private case object Gt extends Op
  private case object Ge extends Op
  private case object IsNullOp extends Op
  private case object NotNullOp extends Op
  private case object PrefixOp extends Op

  private val TruncPat = """truncate\[(\d+)\]""".r

  /** One necessary condition: `col op value` (or `col IN values`;
    * the null ops carry no values). */
  private final case class Pred(col: String, op: Op, values: Seq[Any])

  /** Resolve `filterSql` against `schema` to a typed condition the
    * tri-state evaluator prunes with. Analyze, don't optimize: the
    * optimizer folds a Filter over an empty relation AWAY; analysis
    * alone gives resolved attribute types and folded typed literals
    * with no execution. */
  private def condOf(spark: org.apache.spark.sql.SparkSession,
      schema: StructType, filterSql: String): Option[Expression] = {
    val dummy = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val plan = dummy.filter(filterSql).queryExecution.analyzed
    plan.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
  }

  /** Unwrap a numeric-widening cast on the attribute side: comparisons
    * run in exact BigDecimal space, so `cast(int_col as bigint) < 5L`
    * prunes identically to `int_col < 5`. Other casts stay opaque. */
  private def attrOf(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case Cast(a: AttributeReference, dt, _, _)
        if numericish(a.dataType) && numericish(dt) => Some(a.name)
    // `ntz_col >= timestamp '...'`: coercion casts the COLUMN to
    // TimestampType, hiding the attribute. At a UTC cast zone the cast
    // is the IDENTITY on epoch-micros (both flavors store micros, and
    // UTC wall time = instant), so unwrapping is exact — under any
    // other zone the cast shifts instants and the case must not match.
    case Cast(a: AttributeReference, TimestampType, tz, _)
        if a.dataType == TimestampNTZType && tz.exists(utcZone) =>
      Some(a.name)
    case Cast(a: AttributeReference, TimestampNTZType, tz, _)
        if a.dataType == TimestampType && tz.exists(utcZone) =>
      Some(a.name)
    case _ => None
  }

  private def utcZone(tz: String): Boolean =
    try java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
    catch { case _: Exception => false }

  private def numericish(dt: DataType): Boolean = dt match {
    case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
         _: FloatType | _: DoubleType | _: DecimalType => true
    case _ => false
  }

  private def litValue(l: Literal): Option[Any] = l.dataType match {
    case IntegerType | DateType => Some(l.value)
    case LongType | TimestampType | TimestampNTZType => Some(l.value)
    case ShortType => Some(l.value.asInstanceOf[Short].toInt)
    case ByteType => Some(l.value.asInstanceOf[Byte].toInt)
    case FloatType | DoubleType | BooleanType => Some(l.value)
    case StringType => Option(l.value).map(_.toString)
    case _: DecimalType => Option(l.value)
      .map(_.asInstanceOf[org.apache.spark.sql.types.Decimal]
        .toJavaBigDecimal)
    case _ => None
  }

  /** Fold the value side: a plain literal, or any foldable expression
    * — in particular the `Cast(date_literal AS timestamp)` the analyzer
    * inserts for `ts_col >= date '...'`, the most common selective
    * filter shape. Analyzed casts carry their resolved timezone, so
    * eval here matches eval in the executor. */
  private def constOf(e: Expression): Option[Literal] = e match {
    case l: Literal => Some(l)
    case _ if e.foldable =>
      try Some(Literal.create(e.eval(), e.dataType))
      catch { case _: Exception => None }
    case _ => None
  }

  private def binary(l: Expression, r: Expression, op: Op, flipped: Op)
      : Option[Pred] =
    (for (c <- attrOf(l); v <- constOf(r).flatMap(litValue))
      yield Pred(c, op, Seq(v)))
      .orElse(for (c <- attrOf(r); v <- constOf(l).flatMap(litValue))
        yield Pred(c, flipped, Seq(v)))

  private def toPred(e: Expression): Option[Pred] = e match {
    case EqualTo(a, b) => binary(a, b, Eq, Eq)
    case LessThan(a, b) => binary(a, b, Lt, Gt)
    case LessThanOrEqual(a, b) => binary(a, b, Le, Ge)
    case GreaterThan(a, b) => binary(a, b, Gt, Lt)
    case GreaterThanOrEqual(a, b) => binary(a, b, Ge, Le)
    case In(a, list) =>
      val vs = list.map(l => constOf(l).flatMap(litValue))
      if (vs.nonEmpty && vs.forall(_.isDefined))
        attrOf(a).map(c => Pred(c, Eq, vs.flatten))
      else None
    // plain attributes only: a CAST can MANUFACTURE nulls (bad string →
    // null int), so cast-unwrapping here would over-prune
    case IsNull(a: AttributeReference) => Some(Pred(a.name, IsNullOp, Nil))
    case IsNotNull(a: AttributeReference) =>
      Some(Pred(a.name, NotNullOp, Nil))
    // prefix filters — the string predicate corpus pipelines actually
    // run (url LIKE 'https://en.wikipedia.org/%'). The optimizer
    // rewrites pure-prefix LIKEs to StartsWith; the filter-option path
    // sees the analyzed Like, so both shapes convert. A LIKE whose
    // pattern carries any other wildcard (including '_') is NOT a pure
    // prefix and stays unconverted (conservative).
    case StartsWith(a: AttributeReference, l) =>
      constOf(l).flatMap(litValue).collect {
        case s: String => Pred(a.name, PrefixOp, Seq(s))
      }
    // default escape char ONLY: under `LIKE 'abc#%' ESCAPE '#'` the
    // pattern means the literal string 'abc%' — deriving prefix 'abc#'
    // from it would prune files whose rows ARE 'abc%...'. (The '\\'
    // exclusion below already keeps default-escaped patterns out.)
    case Like(a: AttributeReference, Literal(pat, StringType), '\\')
        if pat != null => {
      val p = pat.toString
      val prefix = p.dropRight(1)
      if (p.endsWith("%") && !prefix.exists(c => c == '%' || c == '_' ||
          c == '\\'))
        Some(Pred(a.name, PrefixOp, Seq(prefix)))
      else None
    }
    case _ => None
  }

  /** The least byte string ABOVE every string with this prefix, in the
    * unsigned UTF-8 byte order [[cmp]] compares strings in (increment
    * the rightmost non-0xFF byte, drop the rest); None when the prefix
    * is all 0xFF — then there is no upper bound. Byte-space, not
    * char-space: incrementing a UTF-16 char can manufacture an unpaired
    * surrogate whose UTF-8 encoding (U+FFFD) byte-compares BELOW
    * supplementary characters — an upper bound that excludes strings
    * it must cover. */
  private def nextPrefix(prefix: Array[Byte]): Option[Array[Byte]] = {
    var i = prefix.length - 1
    while (i >= 0 && prefix(i) == 0xFF.toByte) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(prefix, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  /** Partition-tuple necessary condition for one predicate against one
    * file's partition value `p` under transform `t`: for monotone t,
    * `attr >= v ⇒ t(attr) >= t(v)` (and duals); for bucket, equality
    * only. True = cannot exclude. */
  private def partitionKeeps(pred: Pred, p: Any, pf: PartitionField,
      sourceType: DataType): Boolean = pred.op match {
    case IsNullOp =>
      // every supported transform is null-preserving (t(x) null iff x
      // null) except void, which erases all information: a NON-null
      // partition value proves every row's source is non-null
      pf.transform == "void" || p == null
    case NotNullOp =>
      // a null tuple on a null-preserving transform proves all-null
      pf.transform == "void" || p != null
    case PrefixOp =>
      val prefix = pred.values.head.asInstanceOf[String]
      pf.transform match {
        // null tuple under a null-preserving transform = all rows null
        // = LIKE never true; identity tuples ARE the column values;
        // truncate tuples are the first w chars, so the prefix must
        // agree with them on the overlap
        case "identity" => p != null && p.toString.startsWith(prefix)
        case TruncPat(w) =>
          p != null && {
            val pv = p.toString
            if (prefix.length >= w.toInt) pv == prefix.take(w.toInt)
            else pv.startsWith(prefix)
          }
        case _ => true
      }
    case _ if p == null => true // null partition value: no order info
    case _ =>
      def tv(v: Any): Option[Any] =
        applyTransform(pf.transform, v, sourceType)
      if (isMonotone(pf.transform)) pred.op match {
        case Eq => pred.values.exists(v =>
          tv(v).flatMap(cmp(p, _)).forall(_ == 0))
        case Gt | Ge => pred.values.exists(v =>
          tv(v).flatMap(cmp(p, _)).forall(_ >= 0))
        case Lt | Le => pred.values.exists(v =>
          tv(v).flatMap(cmp(p, _)).forall(_ <= 0))
        case _ => true
      } else pred.op match {
        case Eq => pred.values.exists(v => tv(v).forall(_ == p))
        case _ => true // bucket/void carry no order
      }
  }

  /** Column-bounds necessary condition: the predicate's satisfying set
    * must intersect [lo, hi]. Missing bounds keep the file. */
  private def boundsKeep(pred: Pred, lo: Option[Any], hi: Option[Any])
      : Boolean = pred.op match {
    case Eq => pred.values.exists { v =>
      lo.flatMap(cmp(_, v)).forall(_ <= 0) &&
        hi.flatMap(cmp(_, v)).forall(_ >= 0)
    }
    case Gt => pred.values.exists(v => hi.flatMap(cmp(_, v)).forall(_ > 0))
    case Ge => pred.values.exists(v => hi.flatMap(cmp(_, v)).forall(_ >= 0))
    case Lt => pred.values.exists(v => lo.flatMap(cmp(_, v)).forall(_ < 0))
    case Le => pred.values.exists(v => lo.flatMap(cmp(_, v)).forall(_ <= 0))
    case IsNullOp | NotNullOp => true // decided on null counts, not bounds
    case PrefixOp =>
      // strings with prefix p live in [p, nextPrefix(p)) in UTF-8 byte
      // order: the file can hold one iff that interval intersects
      // [lo, hi]
      val prefix = pred.values.head.asInstanceOf[String].getBytes(UTF_8)
      hi.flatMap(cmp(_, prefix)).forall(_ >= 0) &&
        nextPrefix(prefix).forall(u => lo.flatMap(cmp(_, u)).forall(_ < 0))
  }

  /** Tri-state truth value of a predicate over one file's metadata:
    * False = PROVABLY no row in the file satisfies it (safe to skip);
    * Unknown = might. (A True state — provably all rows match — is not
    * derived: the residual row-wise filter makes it unnecessary.) */
  private sealed trait Tri
  private case object TriFalse extends Tri
  private case object TriUnknown extends Tri

  /** Full-condition evaluation with three-valued logic, so DISJUNCTIONS
    * prune too: `d IN week1 OR d IN week5` skips every file outside
    * both ranges — the reference provider evaluates whole filter trees
    * the same way. AND is false if either side is; OR only if both;
    * NOT of anything provable-here stays Unknown (we never derive
    * True); an unconvertible leaf is Unknown. */
  private def eval(e: Expression, keeps: Pred => Boolean): Tri = e match {
    case And(l, r) =>
      if (eval(l, keeps) == TriFalse || eval(r, keeps) == TriFalse) TriFalse
      else TriUnknown
    case Or(l, r) =>
      if (eval(l, keeps) == TriFalse && eval(r, keeps) == TriFalse) TriFalse
      else TriUnknown
    case Not(_) => TriUnknown // would need a True state to refute
    case other => toPred(other) match {
      case Some(p) => if (keeps(p)) TriUnknown else TriFalse
      case None => TriUnknown
    }
  }

  /** Prune `scan`'s data files under `filterSql`. Returns the kept
    * subset (positions/equality deletes untouched — deletes against
    * pruned files anti-join nothing). */
  def prune(spark: org.apache.spark.sql.SparkSession,
      scan: IcebergScanFiles, meta: IcebergTableMeta,
      schema: StructType, filterSql: String): IcebergScanFiles =
    condOf(spark, schema, filterSql)
      .map(pruneWith(scan, meta, schema, _)).getOrElse(scan)

  /** Prune under a resolved predicate expression (the auto-prune
    * rule's path — no SQL re-parse, no dummy frame). */
  private[graft] def pruneExpr(scan: IcebergScanFiles,
      meta: IcebergTableMeta, schema: StructType,
      cond: Expression): IcebergScanFiles =
    pruneWith(scan, meta, schema, cond)

  /** Candidate-file cap for the bloom pass: the bloom test is one
    * driver-side FOOTER read per file, so it only runs once partition/
    * bounds/null pruning has cut the candidate set to something a
    * driver can touch — at 100 TB the metadata prunes do the bulk work
    * and this pass polishes off equality lookups on high-cardinality
    * columns (where min/max bounds are useless on hash-laid data). */
  val BloomPruneMaxFiles = 512

  /** Parquet BLOOM-FILTER file skipping for Eq/IN predicates: a file is
    * dropped only when EVERY row group carries a bloom for the column
    * and EVERY predicate value tests definitely-absent in EVERY row
    * group. Missing blooms, unsupported types, or any read error keep
    * the file (conservative). Reads footers only — no data pages. */
  private def bloomPrune(scan: IcebergScanFiles, schema: StructType,
      cond: Expression): IcebergScanFiles = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    if (scan.dataEntries.isEmpty ||
      scan.dataEntries.size > BloomPruneMaxFiles) return scan
    // only equality evidence exists in a bloom — skip the whole pass
    // (and its footer I/O) when the condition carries no Eq/IN leaf
    def hasEq(e: Expression): Boolean = e match {
      case And(l, r) => hasEq(l) || hasEq(r)
      case Or(l, r) => hasEq(l) || hasEq(r)
      case Not(_) => false
      case other => toPred(other).exists(p => p.op == Eq && p.values.nonEmpty)
    }
    if (!hasEq(cond)) return scan
    val conf = new org.apache.hadoop.conf.Configuration()
    def mightContain(path: String, col: String, vals: Seq[Any]): Boolean =
      try {
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(java.net.URI.create(
            path.replaceFirst("^file:/+", "file:///"))), conf))
        try {
          import scala.jdk.CollectionConverters._
          val mt = r.getFooter.getFileMetaData.getSchema
          if (!mt.containsField(col)) return true
          val fieldType = mt.getType(Seq(col): _*)
          if (!fieldType.isPrimitive) return true
          val prim = fieldType.asPrimitiveType().getPrimitiveTypeName
          import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
          // proven absent ⟺ every row group has a bloom AND every
          // predicate value hashes to definitely-absent in it
          val provenAbsent = r.getFooter.getBlocks.asScala.forall { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == col) match {
              case None => false // no chunk meta: cannot prove
              case Some(cc) =>
                val bf = r.getBloomFilterDataReader(b).readBloomFilter(cc)
                // DECIMAL literals (java BigDecimal) hash as the
                // file's physical representation: the unscaled value
                // at the column's DECLARED scale (the logical-type
                // annotation), as INT32/INT64 or the fixed-width
                // big-endian two's-complement bytes. A literal that
                // cannot be represented at that scale exactly can
                // never equal a stored value — but None (keep) stays
                // the conservative answer for every unsupported shape.
                lazy val decScale: Option[Int] =
                  fieldType.asPrimitiveType().getLogicalTypeAnnotation match {
                    case d: org.apache.parquet.schema.LogicalTypeAnnotation
                        .DecimalLogicalTypeAnnotation => Some(d.getScale)
                    case _ => None
                  }
                def unscaled(bd: java.math.BigDecimal)
                    : Option[java.math.BigInteger] =
                  decScale.flatMap(sc =>
                    try Some(bd.setScale(sc).unscaledValue())
                    catch { case _: ArithmeticException => None })
                bf != null && vals.forall { v =>
                  val h: Option[Long] = (prim, v) match {
                    case (INT64, l: Long) => Some(bf.hash(l))
                    case (INT64, i: Int) => Some(bf.hash(i.toLong))
                    // covers plain ints AND dates (epoch-day INT32)
                    case (INT32, i: Int) => Some(bf.hash(i))
                    case (DOUBLE, d: Double) => Some(bf.hash(d))
                    case (FLOAT, f: Float) => Some(bf.hash(f))
                    case (BINARY, s: String) => Some(bf.hash(
                      org.apache.parquet.io.api.Binary.fromString(s)))
                    case (INT32, bd: java.math.BigDecimal) =>
                      unscaled(bd).flatMap(u =>
                        try Some(bf.hash(u.intValueExact()))
                        catch { case _: ArithmeticException => None })
                    case (INT64, bd: java.math.BigDecimal) =>
                      unscaled(bd).flatMap(u =>
                        try Some(bf.hash(u.longValueExact()))
                        catch { case _: ArithmeticException => None })
                    case (FIXED_LEN_BYTE_ARRAY, bd: java.math.BigDecimal) =>
                      unscaled(bd).flatMap { u =>
                        val len = fieldType.asPrimitiveType().getTypeLength
                        val raw = u.toByteArray
                        if (raw.length > len) None // overflows the width
                        else {
                          // sign-extend to the declared fixed width
                          val out = Array.fill[Byte](len)(
                            if (u.signum() < 0) -1 else 0)
                          System.arraycopy(raw, 0, out,
                            len - raw.length, raw.length)
                          Some(bf.hash(org.apache.parquet.io.api.Binary
                            .fromConstantByteArray(out)))
                        }
                      }
                    case _ => None // unsupported literal/type pairing
                  }
                  h.exists(hh => !bf.findHash(hh))
                }
            }
          }
          !provenAbsent
        } finally r.close()
      } catch { case _: Exception => true } // unreadable footer: keep
    // footer reads are independent, high-latency I/O on object stores:
    // test candidates on a bounded pool instead of one driver thread
    // (512 sequential S3 HEAD+GET round-trips would be seconds of
    // plan-time stall; 16-way brings it to tens of millis per wave)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(16, scan.dataEntries.size)))
    val kept = try {
      import scala.jdk.CollectionConverters._
      val tasks = scan.dataEntries.map { e =>
        new java.util.concurrent.Callable[Boolean] {
          override def call(): Boolean = {
            def fileKeeps(pred: Pred): Boolean = pred.op match {
              case Eq if pred.values.nonEmpty =>
                mightContain(e.path, pred.col, pred.values)
              case _ => true
            }
            eval(cond, fileKeeps) != TriFalse
          }
        }
      }
      pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
        .zip(scan.dataEntries).collect { case (true, e) => e }
    } finally pool.shutdown()
    val keptPaths = kept.map(_.path).toSet
    scan.copy(
      dataFiles = scan.dataFiles.filter(f => keptPaths.contains(f._1)),
      dataEntries = kept)
  }

  private def pruneWith(scan: IcebergScanFiles, meta: IcebergTableMeta,
      schema: StructType, cond: Expression): IcebergScanFiles = {
    if (scan.dataEntries.isEmpty) return scan
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    val idsByName = IcebergLocal.topLevelFieldIds(schema)
    val kept = scan.dataEntries.filter { e =>
      val spec = meta.partitionSpecs.getOrElse(e.specId, Nil)
      def keeps(pred: Pred): Boolean = {
        val srcType = byName.get(pred.col)
        val partOk = spec.find(_.sourceColumn == pred.col) match {
          case Some(pf) if srcType.isDefined =>
            e.partition.get(pf.name) match {
              case Some(p) => partitionKeeps(pred, p, pf, srcType.get)
              case None => true
            }
          case _ => true
        }
        val bOk = (srcType, idsByName.get(pred.col)) match {
          case (Some(dt), Some(id)) =>
            val lo = e.lowerBounds.get(id).flatMap(deserializeBound(_, dt))
            val hi = e.upperBounds.get(id).flatMap(deserializeBound(_, dt))
            if (lo.isEmpty && hi.isEmpty) true
            else boundsKeep(pred, lo, hi)
          case _ => true
        }
        // null-count evidence (spec null_value_counts): IS NULL is
        // provably false on a zero-null file; IS NOT NULL on an
        // all-null one. Missing counts keep the file.
        val nOk = pred.op match {
          case IsNullOp =>
            !idsByName.get(pred.col).flatMap(e.nullCounts.get).contains(0L)
          case NotNullOp =>
            val allNull = for {
              id <- idsByName.get(pred.col)
              n <- e.nullCounts.get(id)
              v <- e.valueCounts.get(id)
            } yield n == v && v > 0L
            !allNull.contains(true)
          case _ => true
        }
        partOk && bOk && nOk
      }
      eval(cond, keeps) != TriFalse
    }
    val keptPaths = kept.map(_.path).toSet
    bloomPrune(scan.copy(
      dataFiles = scan.dataFiles.filter(f => keptPaths.contains(f._1)),
      dataEntries = kept), schema, cond)
  }
}
