package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import graft.meta.DataFileInfo

/** Per-file column statistics: harvested from parquet FOOTERS at commit
  * time and evaluated against pushed filters at scan-planning time, so a
  * selective query plans tasks only for files whose [min, max] window can
  * possibly match (Delta-style data skipping; the reference carries no file
  * stats — its Cassandra manifest records names/sizes only, see
  * `meta/MetaCommit.scala`).
  *
  * Values are stored in a TYPE-STABLE string encoding chosen so collection
  * and evaluation can never disagree via timezone/locale round-trips:
  * integers and longs verbatim, floats/doubles via `toString`, dates as
  * epoch-DAY ints, timestamps as epoch-MICRO longs, booleans as
  * true/false, strings verbatim (only when ≤ [[MAX_STRING_STATS_LEN]]
  * chars — a truncated max would be unsound). Columns with no encodable
  * stats simply have no entry, and every evaluation falls back to "might
  * match" — skipping is an optimization, never a correctness gate.
  *
  * Scale: the footer read is one ~KB metadata fetch per written file on
  * the commit path, the same cost class as the file move it rides along
  * with; evaluation is driver-side arithmetic over the manifest (no I/O).
  * At 100 TB the win is planning tasks for 1% of files instead of all of
  * them whenever the data is clustered on the filtered column — see
  * `CompactionCommand`'s Z-order rewrite, which creates exactly that
  * clustering.
  */
object FileStats {
  /** String min/max beyond this length are dropped (not truncated —
    * a truncated max understates the range and would skip wrongly). */
  val MAX_STRING_STATS_LEN = 96

  /** Stats are collected for at most this many leading data columns
    * (Delta's dataSkippingNumIndexedCols analog). */
  private val MAX_COLS = 32

  // ------------------------------------------------------------------
  // collection (write/commit path)
  // ------------------------------------------------------------------

  /** Test spy: footer reads issued from the DRIVER (no TaskContext). The
    * commit path collects stats executor-side ([[graft.write.GraftCommitProtocol]]);
    * a driver-side read appearing here is a scale regression. */
  private[graft] val driverReads = new java.util.concurrent.atomic.AtomicLong(0)

  /** Read `file`'s parquet footer and aggregate per-column stats across
    * its row groups. Returns (numRecords, mins, maxs, nullCounts) in the
    * manifest encoding. Any failure degrades to "no stats". */
  def collect(
      file: org.apache.hadoop.fs.Path,
      conf: Configuration,
      schema: StructType):
      (Long, Map[String, String], Map[String, String], Map[String, Long]) = {
    if (org.apache.spark.TaskContext.get() == null) driverReads.incrementAndGet()
    try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        val numRecords = blocks.map(_.getRowCount).sum
        val indexed = schema.fields.take(MAX_COLS)
          .filter(f => encodable(f.dataType)).map(f => f.name -> f.dataType)
        val mins = Map.newBuilder[String, String]
        val maxs = Map.newBuilder[String, String]
        val nulls = Map.newBuilder[String, Long]
        // column chunks keyed by dotted path; top-level columns only
        val chunks = blocks.flatMap(_.getColumns.asScala)
          .groupBy(_.getPath.toDotString)
        indexed.foreach { case (name, dt) =>
          chunks.get(name).foreach { cs =>
            val stats = cs.map(_.getStatistics)
            if (stats.forall(s => s != null && !s.isEmpty)) {
              if (stats.forall(_.isNumNullsSet))
                nulls += name -> stats.map(_.getNumNulls).sum
              // hasNonNullValue => min/max are set for the chunk; an
              // all-null chunk contributes no range
              val withVals = stats.filter(_.hasNonNullValue)
              if (withVals.nonEmpty) {
                val encoded = withVals.map(s =>
                  (encode(s.genericGetMin.asInstanceOf[AnyRef], dt),
                    encode(s.genericGetMax.asInstanceOf[AnyRef], dt)))
                if (encoded.forall { case (a, b) => a != null && b != null }) {
                  mins += name -> encoded.map(_._1)
                    .reduce((a, b) => if (statLess(a, b, dt)) a else b)
                  maxs += name -> encoded.map(_._2)
                    .reduce((a, b) => if (statLess(a, b, dt)) b else a)
                }
              }
            }
          }
        }
        (numRecords, mins.result(), maxs.result(), nulls.result())
      } finally reader.close()
    } catch {
      case _: Exception => (-1L, Map.empty, Map.empty, Map.empty)
    }
  }

  private def encodable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | BooleanType | StringType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }

  /** Parquet footer value -> manifest string; null = not encodable.
    * Signed zero is normalized to +0.0: Spark compares -0.0 == 0.0 equal,
    * but the manifest comparisons below use `Double.compare` (total order,
    * -0.0 < 0.0) — an un-normalized -0.0 max would skip files that match
    * `d = 0.0` (Delta's stats collection normalizes the same way). */
  private def encode(v: AnyRef, dt: DataType): String = (v, dt) match {
    case (n: Number, FloatType | DoubleType) =>
      val d0 = n.doubleValue()
      if (d0.isNaN) null
      else { val d = if (d0 == 0.0) 0.0 else d0; d.toString }
    case (n: Number, _) => n.toString // int-family, date days, ts micros
    case (b: java.lang.Boolean, BooleanType) => b.toString
    case (b: Binary, StringType) =>
      val s = b.toStringUsingUTF8
      if (s.length <= MAX_STRING_STATS_LEN) s else null
    case _ => null
  }

  /** Manifest-encoding order for `dt`. Strings compare by UNSIGNED UTF-8
    * BYTES — parquet footer min/max and Spark's runtime `UTF8String`
    * ordering are both byte-wise, and Java's UTF-16 `String.compareTo`
    * disagrees with them above the BMP (a supplementary character sorts
    * BELOW U+E000 in UTF-16 but above it in UTF-8), which would skip files
    * that actually match. */
  private[graft] def statLess(a: String, b: String, dt: DataType): Boolean =
    dt match {
      case StringType =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
      case FloatType | DoubleType => a.toDouble < b.toDouble
      case BooleanType => !a.toBoolean && b.toBoolean
      case _ => a.toLong < b.toLong
    }

  // ------------------------------------------------------------------
  // evaluation (scan-planning path)
  // ------------------------------------------------------------------

  /** Can `f` possibly hold a row matching ALL of `filters`? Conservative:
    * unknown columns, missing stats, and unhandled filter shapes keep the
    * file. */
  def mayMatch(f: DataFileInfo, filters: Seq[Filter], schema: StructType): Boolean =
    filters.forall(mayMatchOne(f, _, schema))

  private def typeOf(schema: StructType, col: String): Option[DataType] =
    schema.fields.find(_.name.equalsIgnoreCase(col))
      .map(_.dataType).filter(encodable)

  private[graft] def statKey(f: DataFileInfo, col: String): Option[String] = {
    // manifest keys carry the written-schema case; resolve case-insensitively
    val lower = col.toLowerCase
    (f.minValues.keysIterator ++ f.maxValues.keysIterator ++
      f.nullCounts.keysIterator).find(_.toLowerCase == lower)
  }

  private def mayMatchOne(f: DataFileInfo, filter: Filter, schema: StructType): Boolean =
    filter match {
      case And(l, r) => mayMatchOne(f, l, schema) && mayMatchOne(f, r, schema)
      case Or(l, r) => mayMatchOne(f, l, schema) || mayMatchOne(f, r, schema)
      case EqualTo(c, v) => inRange(f, c, v, schema, allowEqMin = true, allowEqMax = true)
      case EqualNullSafe(c, null) => mayHaveNull(f, c)
      case EqualNullSafe(c, v) => inRange(f, c, v, schema, allowEqMin = true, allowEqMax = true)
      case In(c, vs) =>
        vs == null || vs.isEmpty ||
          vs.exists(v => v != null &&
            inRange(f, c, v, schema, allowEqMin = true, allowEqMax = true))
      case GreaterThan(c, v) => // need max > v
        cmpStat(f, c, v, schema, useMax = true).forall(_ > 0)
      case GreaterThanOrEqual(c, v) => // need max >= v
        cmpStat(f, c, v, schema, useMax = true).forall(_ >= 0)
      case LessThan(c, v) => // need min < v
        cmpStat(f, c, v, schema, useMax = false).forall(_ < 0)
      case LessThanOrEqual(c, v) => // need min <= v
        cmpStat(f, c, v, schema, useMax = false).forall(_ <= 0)
      case IsNull(c) => mayHaveNull(f, c)
      case IsNotNull(c) => mayHaveNonNull(f, c)
      case StringStartsWith(c, prefix) if prefix != null =>
        // rows matching the prefix sort within [prefix, prefix+∞): skip if
        // max < prefix, or if min's BYTE prefix already exceeds it (byte
        // comparisons — see statLess on why UTF-16 order would be unsound)
        cmpStat(f, c, prefix, schema, useMax = true).forall(_ >= 0) && {
          statKey(f, c).flatMap(k => f.minValues.get(k)) match {
            case Some(mn) =>
              val pb = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val mb = mn.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              unsignedCompare(mb.take(pb.length), pb) <= 0
            case None => true
          }
        }
      case _ => true // Not(...), string contains/ends-with, unknown: keep
    }

  private def mayHaveNull(f: DataFileInfo, c: String): Boolean =
    statKey(f, c).flatMap(k => f.nullCounts.get(k)) match {
      case Some(n) => n > 0
      case None => true
    }

  private def mayHaveNonNull(f: DataFileInfo, c: String): Boolean =
    statKey(f, c).flatMap(k => f.nullCounts.get(k)) match {
      case Some(n) => f.numRecords < 0 || n < f.numRecords
      case None => true
    }

  /** All rows of `c` inside [min, max]? For `useMax` compare max vs `v`,
    * else min vs `v`; None = no verdict (missing stats / type). */
  private def cmpStat(
      f: DataFileInfo, c: String, v: Any, schema: StructType,
      useMax: Boolean): Option[Int] =
    for {
      dt <- typeOf(schema, c)
      key <- statKey(f, c)
      stored <- (if (useMax) f.maxValues else f.minValues).get(key)
      fv <- normalize(v, dt)
      sv <- decode(stored, dt)
      r <- compare(sv, fv, dt)
    } yield r

  private def inRange(
      f: DataFileInfo, c: String, v: Any, schema: StructType,
      allowEqMin: Boolean, allowEqMax: Boolean): Boolean = {
    if (v == null) return false // EqualTo(null) matches nothing
    val aboveMin = cmpStat(f, c, v, schema, useMax = false)
      .forall(r => if (allowEqMin) r <= 0 else r < 0)
    val belowMax = cmpStat(f, c, v, schema, useMax = true)
      .forall(r => if (allowEqMax) r >= 0 else r > 0)
    aboveMin && belowMax
  }

  /** Manifest string -> comparable value. */
  private def decode(s: String, dt: DataType): Option[Any] =
    try dt match {
      case ByteType | ShortType | IntegerType | LongType |
           DateType | TimestampType | TimestampNTZType => Some(s.toLong)
      case FloatType | DoubleType => // normalize -0.0 (old manifests)
        val d = s.toDouble; Some(if (d == 0.0) 0.0 else d)
      case BooleanType => Some(s.toBoolean)
      case StringType => Some(s)
      case _ => None
    } catch { case _: Exception => None }

  /** Filter value (external Java/Scala form) -> the same comparable form
    * as [[decode]]. */
  private def normalize(v: Any, dt: DataType): Option[Any] = (v, dt) match {
    case (null, _) => None
    case (n: Number, ByteType | ShortType | IntegerType | LongType) =>
      Some(n.longValue())
    case (n: Number, FloatType | DoubleType) => // -0.0 == 0.0 in Spark
      val d = n.doubleValue(); Some(if (d == 0.0) 0.0 else d)
    case (b: Boolean, BooleanType) => Some(b)
    case (s: String, StringType) => Some(s)
    case (s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
      Some(s.toString)
    case (d: java.sql.Date, DateType) => Some(d.toLocalDate.toEpochDay)
    case (d: java.time.LocalDate, DateType) => Some(d.toEpochDay)
    case (n: Number, DateType) => Some(n.longValue())
    case (t: java.sql.Timestamp, TimestampType) =>
      Some(t.getTime * 1000L + (t.getNanos / 1000) % 1000)
    case (i: java.time.Instant, TimestampType) =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000)
    case (dt2: java.time.LocalDateTime, TimestampNTZType) =>
      Some(dt2.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L +
        dt2.getNano / 1000)
    case (n: Number, TimestampType | TimestampNTZType) => Some(n.longValue())
    case _ => None
  }

  private def compare(a: Any, b: Any, dt: DataType): Option[Int] = (a, b) match {
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: Double, y: Double) => Some(java.lang.Double.compare(x, y))
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case (x: String, y: String) => // byte order, matching parquet + runtime
      Some(org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)))
    case _ => None
  }

  private def unsignedCompare(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }
}
