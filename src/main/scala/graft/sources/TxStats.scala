package graft.sources

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.column.statistics.{BinaryStatistics, DoubleStatistics, FloatStatistics, IntStatistics, LongStatistics}
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DateType, DoubleType, FloatType, IntegerType, LongType, StringType, StructType, TimestampType}

/** Manifest-level column statistics — FILE SKIPPING for the tx table.
  *
  * At 100 TB the expensive part of a selective scan is not the bytes it
  * keeps but the files it must OPEN to discover there is nothing to
  * keep: parquet's own row-group pruning still costs one footer read
  * per file per query. Recording per-file min/max into the commit
  * manifest moves that check to the driver's single manifest read —
  * zero file opens for a provably-excluded file, the Delta/Iceberg
  * data-skipping design. Stats are computed ONCE at commit time from
  * the freshly-written files' footers (O(new files) driver metadata
  * IO, the same envelope the commit already pays for its listing) and
  * carried forward with the files they describe.
  *
  * Correctness stance — skipping must never change results, so a file
  * is skipped ONLY when the pushed predicate provably excludes its
  * whole [min, max] range, and everything doubtful keeps the file:
  *   - only top-level Int/Long/Double/Float/String/Timestamp/Date
  *     columns carry stats. Timestamp stats are exact epoch-MICROS and
  *     date stats epoch-DAYS integer strings, recorded ONLY from the
  *     INT64-micros / INT32-date physical forms and compared by pure
  *     instant arithmetic (DateTimeUtils literal conversion — no
  *     calendar or timezone parsing on either side); INT96 files
  *     record nothing (their footers carry no usable stats), which is
  *     why the tx write path pins TIMESTAMP_MICROS output;
  *   - double/float stats are dropped when min/max is NaN;
  *   - string stats are used only when min, max, AND the literal are
  *     pure ASCII (≤ [[MaxStringStat]] chars) — there Java's String
  *     order equals parquet's unsigned-UTF-8 byte order, outside it
  *     they can disagree and a wrong skip is silent data loss;
  *   - a column missing stats in ANY block of a file drops the
  *     column's min/max for that file;
  *   - NULL-probing predicates (IsNull/IsNotNull) skip through the
  *     recorded per-file null/row COUNTS ([[ColStat]] nulls/rows):
  *     `IS NOT NULL` proves out an all-null file, `IS NULL` a
  *     null-free one; unknown counts (legacy manifests, partition
  *     value entries) never skip.
  *
  * THE ONE SKIP RULE is [[mayMatch]]: a file is kept unless some
  * conjunct provably excludes it, by min/max ([[excludes]]) or by bloom
  * ([[bloomExcludes]]). Every skip decision of the tx table calls it:
  * the scan and its runtime filters, the row-level rebase's overlap
  * check, and through [[TxTable.partitionFiles]] every
  * predicate-scoped rewrite.
  */
object TxStats {

  /** May a file with these stats and blooms hold a row on which every
    * filter of `filters` is TRUE? False only when some conjunct
    * provably excludes the whole file; an empty filter list keeps it. */
  def mayMatch(stats: Map[String, ColStat], blooms: Map[String, FileBloom],
               schema: StructType, filters: Seq[Filter]): Boolean =
    !filters.exists(f => excludes(stats, schema, f) || bloomExcludes(blooms, f))

  /** Min/max as canonical strings (decimal for integrals,
    * `Double.toString` for floating point, raw for ASCII strings) —
    * parsed back against the table schema's column type.
    *
    * `nulls`/`rows` (both -1 = unknown, the legacy-manifest and
    * partition-synthesized default) carry the footer's null count and
    * the file's row count, which is what lets NULL-probing predicates
    * skip: `IS NOT NULL` proves a file out when every row is null
    * (nulls == rows), `IS NULL` when none is (nulls == 0). Unknown
    * counts never skip — the conservative default that keeps old
    * manifests exactly as prunable as they were. */
  final case class ColStat(min: String, max: String,
                           nulls: Long = -1L, rows: Long = -1L)

  /** Per-file bloom filter for point-lookup skipping on HIGH-CARDINALITY
    * columns where min/max is useless (ids, uuids, hashes span the whole
    * domain in every file). Opt-in at commit (`bloomColumns`), built by
    * one distributed pass over the freshly-written files, stored
    * base64-encoded in the manifest (~2 KiB per file-column at the
    * default 256 words). The hash schedule is [[graft.ext.Bloom]]'s —
    * numeric keys cast to long, strings through xxhash64(seed 42) — and
    * the driver-side probe ([[graft.functions.BloomOps.mightContain]])
    * runs the identical arithmetic, so a negative probe is PROOF the
    * file holds no matching row; false positives only keep a file. */
  final case class FileBloom(words: Array[Long], k: Int, isString: Boolean) {
    def mightContain(key: Long): Boolean =
      graft.functions.BloomOps.mightContain(key, words, k)
  }

  /** Normalize an equality literal the way the build side normalized its
    * rows; None (unknown type / NaN-ish) never skips. */
  private def bloomKey(v: Any, isString: Boolean): Option[Long] =
    if (isString) v match {
      case s: String => Some(
        org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(s),
          StringType, 42L))
      case _ => None
    } else v match {
      case i: java.lang.Integer => Some(i.longValue())
      case l: java.lang.Long    => Some(l.longValue())
      case s: java.lang.Short   => Some(s.longValue())
      case b: java.lang.Byte    => Some(b.longValue())
      // doubles cast to long on the build side (Bloom.norm) — mirror it
      case d: java.lang.Double  => if (d.isNaN) None else Some(d.longValue())
      case f: java.lang.Float   => if (f.isNaN) None else Some(f.longValue())
      case _ => None
    }

  /** Does an equality-shaped filter provably miss every bloom'd row of
    * the file? Composes with the min/max test in [[excludes]]. */
  def bloomExcludes(blooms: Map[String, FileBloom], filter: Filter): Boolean =
    filter match {
      case EqualTo(a, v) if v != null =>
        blooms.get(a).exists(b =>
          bloomKey(v, b.isString).exists(k => !b.mightContain(k)))
      case EqualNullSafe(a, v) if v != null =>
        // non-null `<=>` matches exactly what `=` does (see excludes)
        bloomExcludes(blooms, EqualTo(a, v))
      case In(a, vs) if vs != null && vs.nonEmpty =>
        vs.forall(v => v != null && bloomExcludes(blooms, EqualTo(a, v)))
      case And(l, r) => bloomExcludes(blooms, l) || bloomExcludes(blooms, r)
      case Or(l, r)  => bloomExcludes(blooms, l) && bloomExcludes(blooms, r)
      case _ => false
    }

  val MaxStringStat = 64

  private def ascii(s: String): Boolean =
    s.length <= MaxStringStat && s.forall(_ < 128)

  /** Per-column stats of one freshly-written parquet file, from its
    * footer alone. Columns whose every block carries usable statistics
    * get an entry; everything else is absent (= never skipped on). */
  def forFile(file: Path, schema: StructType): Map[String, ColStat] = {
    val wanted = schema.fields.map(f => f.name -> f.dataType).toMap
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toString), new Configuration()))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      if (blocks.isEmpty) return Map.empty
      val totalRows = blocks.map(_.getRowCount).sum
      // a file written under datetimeRebaseModeInWrite=LEGACY stores
      // hybrid-Julian-rebased micros/days (Spark marks it with this
      // footer key); excludes() compares proleptic literals, and for
      // pre-1582 instants the two calendars disagree by days — a wrong
      // skip would be silent data loss, so such files record NO
      // timestamp/date stats (modern data never carries the marker)
      val legacyRebase = reader.getFooter.getFileMetaData
        .getKeyValueMetaData.containsKey("org.apache.spark.legacyDateTime")
      // (col -> per-block (min, max) strings); None poisons the column
      var acc = Map.empty[String, Option[(String, String)]]
      // (col -> summed null count); None = some block lacks the count
      var accNulls = Map.empty[String, Option[Long]]
      for (block <- blocks; col <- block.getColumns.asScala) {
        val parts = col.getPath.toArray
        if (parts.length == 1 && wanted.contains(parts(0))) {
          val name = parts(0)
          val s: org.apache.parquet.column.statistics.Statistics[_] =
            col.getStatistics
          val mm: Option[(String, String)] =
            if (s == null || !s.hasNonNullValue) None
            else (s, wanted(name)) match {
              case (ls: LongStatistics, LongType) =>
                Some((ls.getMin.toString, ls.getMax.toString))
              case (is: IntStatistics, IntegerType) =>
                Some((is.getMin.toString, is.getMax.toString))
              case (ds: DoubleStatistics, DoubleType)
                  if !ds.getMin.isNaN && !ds.getMax.isNaN =>
                Some((ds.getMin.toString, ds.getMax.toString))
              case (fs: FloatStatistics, FloatType)
                  if !fs.getMin.isNaN && !fs.getMax.isNaN =>
                Some((fs.getMin.toString, fs.getMax.toString))
              case (bs: BinaryStatistics, StringType) =>
                val mn = bs.genericGetMin.toStringUsingUTF8
                val mx = bs.genericGetMax.toStringUsingUTF8
                if (ascii(mn) && ascii(mx)) Some((mn, mx)) else None
              // timestamps as exact epoch-MICROS integer strings — the
              // most common filter column on event tables finally skips
              // on UNPARTITIONED layouts. Only the INT64 micros physical
              // form qualifies (the tx write path pins it): INT96 files
              // carry no usable footer stats at all, and a MILLIS file's
              // integers would be off by 1000× — both fall through to
              // "no stat", the conservative default.
              case (ls: LongStatistics, TimestampType)
                  if !legacyRebase && tsMicrosUtc(col.getPrimitiveType
                    .getLogicalTypeAnnotation) =>
                Some((ls.getMin.toString, ls.getMax.toString))
              // dates as exact epoch-DAYS integer strings (INT32 DATE —
              // the only physical form Spark writes for DateType)
              case (is: IntStatistics, DateType)
                  if !legacyRebase &&
                    col.getPrimitiveType.getLogicalTypeAnnotation
                      .isInstanceOf[LogicalTypeAnnotation
                        .DateLogicalTypeAnnotation] =>
                Some((is.getMin.toString, is.getMax.toString))
              case _ => None
            }
          acc = acc.updated(name, (acc.get(name), mm) match {
            case (Some(Some((a, b))), Some((c, d))) =>
              Some((minOf(wanted(name), a, c), maxOf(wanted(name), b, d)))
            case (None, v) => v // first block
            case _ => None // poisoned: some block lacks stats
          })
          val bn: Option[Long] =
            if (s == null || s.isNumNullsSet == false || s.getNumNulls < 0)
              None
            else Some(s.getNumNulls)
          accNulls = accNulls.updated(name,
            (accNulls.get(name), bn) match {
              case (Some(Some(a)), Some(b)) => Some(a + b)
              case (None, v) => v // first block
              case _ => None // some block lacks the count
            })
        }
      }
      // three emission shapes per column:
      //  - min/max + known nulls  → full ColStat (value AND null skips)
      //  - min/max, nulls unknown → legacy shape (value skips only)
      //  - no min/max but ALL-NULL → sentinel ""/"" row ([[excludes]]
      //    short-circuits on nulls == rows BEFORE any parse, and an
      //    all-null file can never match a value probe anyway)
      acc.keySet.union(accNulls.keySet).toSeq.flatMap { k =>
        (acc.getOrElse(k, None), accNulls.getOrElse(k, None)) match {
          case (Some((mn, mx)), Some(n)) =>
            Some(k -> ColStat(mn, mx, n, totalRows))
          case (Some((mn, mx)), None) => Some(k -> ColStat(mn, mx))
          case (None, Some(n)) if n == totalRows && totalRows > 0 =>
            Some(k -> ColStat("", "", n, totalRows))
          case _ => None
        }
      }.toMap
    } finally reader.close()
  }

  /** Is this parquet logical type the INT64 UTC-adjusted MICROS
    * timestamp form (the one whose raw integers compare exactly against
    * a literal converted with DateTimeUtils)? */
  private def tsMicrosUtc(ann: LogicalTypeAnnotation): Boolean = ann match {
    case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
      t.isAdjustedToUTC &&
        t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
    case _ => false
  }

  private def minOf(dt: org.apache.spark.sql.types.DataType, a: String,
                    b: String): String = dt match {
    case LongType | IntegerType | TimestampType | DateType =>
      if (a.toLong <= b.toLong) a else b
    case DoubleType | FloatType => if (a.toDouble <= b.toDouble) a else b
    case _ => if (a <= b) a else b
  }
  private def maxOf(dt: org.apache.spark.sql.types.DataType, a: String,
                    b: String): String = dt match {
    case LongType | IntegerType | TimestampType | DateType =>
      if (a.toLong >= b.toLong) a else b
    case DoubleType | FloatType => if (a.toDouble >= b.toDouble) a else b
    case _ => if (a >= b) a else b
  }

  /** Build per-file blooms for the freshly-written files of one commit:
    * ONE distributed aggregation per column over the commit directory
    * (`input_file_name` keys the fold), ≤ files·words rows collected.
    * Numeric and string columns only — anything else refuses loudly
    * (a silent NULL-cast bloom would skip every file). */
  def buildFileBlooms(spark: org.apache.spark.sql.SparkSession,
                      dataDir: Path, newFiles: Seq[String],
                      schema: StructType, cols: Seq[String],
                      words: Int = 256, k: Int = 5)
      : Map[String, Map[String, FileBloom]] = {
    import org.apache.spark.sql.functions._
    if (cols.isEmpty || newFiles.isEmpty) return Map.empty
    val byName = newFiles.map(f => f.split('/').last -> f).toMap
    val read = spark.read.schema(schema).parquet(dataDir.toString)
    val perCol = cols.map { c =>
      val isString = schema.fields.find(_.name == c).map(_.dataType) match {
        case Some(StringType) => true
        case Some(_: org.apache.spark.sql.types.NumericType) => false
        case other => throw new IllegalArgumentException(
          s"bloom column '$c' must be numeric or string, got " +
            s"${other.map(_.simpleString).getOrElse("<missing>")}")
      }
      val rows = read.filter(col(c).isNotNull)
        .select(input_file_name().as("f"),
          explode(graft.ext.Bloom.posArray(col(c), isString, k, words))
            .as("pos"))
        .select(col("f"), (col("pos") / 64L).cast("int").as("w"),
          call_function("shiftleft", lit(1L),
            (col("pos") % 64L).cast("int")).as("mask"))
        .groupBy(col("f"), col("w")).agg(expr("bit_or(mask)").as("word"))
        .collect()
      val byFile = rows.groupBy(r => r.getString(0).split('/').last)
      c -> byFile.flatMap { case (name, rs) =>
        byName.get(name).map { rel =>
          val arr = new Array[Long](words)
          rs.foreach(r => arr(r.getInt(1)) = r.getLong(2))
          rel -> FileBloom(arr, k, isString)
        }
      }
    }
    // pivot (col -> file -> bloom) into (file -> col -> bloom); a file
    // with zero non-null rows gets an ALL-ZERO bloom (correct: nothing
    // can match), so fill it in explicitly
    newFiles.map { f =>
      f -> perCol.flatMap { case (c, byFile) =>
        byFile.get(f) match {
          case Some(b) => Some(c -> b)
          case None =>
            val isString = schema.fields.find(_.name == c)
              .exists(_.dataType == StringType)
            Some(c -> FileBloom(new Array[Long](words), k, isString))
        }
      }.toMap
    }.filter(_._2.nonEmpty).toMap
  }

  /** A pushed timestamp literal as epoch micros — both the external
    * java.sql form and the java8-API Instant form arrive depending on
    * `spark.sql.datetime.java8API.enabled`; anything else never skips. */
  private def tsLitMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaTimestamp(t))
    case i: java.time.Instant =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .instantToMicros(i))
    case _ => None
  }

  /** A pushed date literal as epoch days (both external forms). */
  private def dateLitDays(v: Any): Option[Long] = v match {
    case d: java.sql.Date =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaDate(d).toLong)
    case d: java.time.LocalDate =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .localDateToDays(d).toLong)
    case _ => None
  }

  /** Does `filter` provably exclude every row of a file with these
    * stats? Unknown columns, unhandled filter shapes, and un-parsable
    * literals all answer false (keep the file). */
  def excludes(stats: Map[String, ColStat], schema: StructType,
               filter: Filter): Boolean = {
    def longLit(v: Any): Option[Long] = v match {
      case i: java.lang.Integer => Some(i.longValue())
      case l: java.lang.Long    => Some(l.longValue())
      case s: java.lang.Short   => Some(s.longValue())
      case b: java.lang.Byte    => Some(b.longValue())
      case _ => None
    }
    // -0.0 normalized to 0.0 on BOTH literal and stat sides:
    // Double.compare orders -0.0 below 0.0 while SQL equality treats
    // them equal, and the order mismatch could wrongly exclude a file
    // whose min/max recorded the other zero (the DirTailFilters ieee
    // lesson applied to stats)
    def norm0(d: Double): Double = if (d == 0.0) 0.0 else d
    def dblLit(v: Any): Option[Double] = v match {
      case d: java.lang.Double =>
        if (d.isNaN) None else Some(norm0(d.doubleValue()))
      case f: java.lang.Float  =>
        if (f.isNaN) None else Some(norm0(f.doubleValue()))
      case other => longLit(other).map(_.toDouble)
    }
    // per-type interval tests: lt = literal provably below every row, etc.
    def outside(col: String, v: Any,
                test: (Int, Int) => Boolean): Boolean = {
      // an ALL-NULL column can never match a value probe — exclude
      // before any min/max parsing (its sentinel ""/"" never parses)
      if (stats.get(col).exists(st => st.rows > 0 && st.nulls == st.rows))
        return true
      // test(cmpMin, cmpMax) where cmpMin = compare(v, min), cmpMax =
      // compare(v, max); returns true when the file cannot match
      (for {
        st <- stats.get(col)
        if st.min.nonEmpty && st.max.nonEmpty
        dt <- schema.fields.find(_.name == col).map(_.dataType)
        cmp <- dt match {
          case LongType | IntegerType =>
            longLit(v).map(l =>
              (java.lang.Long.compare(l, st.min.toLong),
                java.lang.Long.compare(l, st.max.toLong)))
          case DoubleType =>
            dblLit(v).map(d =>
              (java.lang.Double.compare(d, norm0(st.min.toDouble)),
                java.lang.Double.compare(d, norm0(st.max.toDouble))))
          case FloatType =>
            // parse the stat through Float FIRST: "0.1".toDouble and
            // 0.1f widened to double are DIFFERENT values, and comparing
            // across them can wrongly exclude a file whose rows equal
            // the literal exactly — both sides must be the same widened
            // float before any compare
            dblLit(v).map(d =>
              (java.lang.Double.compare(d, norm0(st.min.toFloat.toDouble)),
                java.lang.Double.compare(d, norm0(st.max.toFloat.toDouble))))
          case StringType => v match {
            case s: String if ascii(s) =>
              Some((s.compareTo(st.min), s.compareTo(st.max)))
            case _ => None
          }
          // timestamp/date literals convert to the SAME integers the
          // stats recorded (epoch micros / epoch days — timezone-free
          // instant arithmetic, no calendar parsing), then compare
          // exactly like any integral column
          case TimestampType =>
            tsLitMicros(v).map(l =>
              (java.lang.Long.compare(l, st.min.toLong),
                java.lang.Long.compare(l, st.max.toLong)))
          case DateType =>
            dateLitDays(v).map(d =>
              (java.lang.Long.compare(d, st.min.toLong),
                java.lang.Long.compare(d, st.max.toLong)))
          case _ => None
        }
      } yield test(cmp._1, cmp._2)).getOrElse(false)
    }
    filter match {
      case EqualTo(a, v) =>
        outside(a, v, (cmpMin, cmpMax) => cmpMin < 0 || cmpMax > 0)
      case EqualNullSafe(a, v) if v != null =>
        // with a NON-NULL literal, `<=>` matches exactly what `=` does
        // (null rows match neither), so the same interval test proves
        // the file out; a NULL literal matches null rows, whose
        // presence stats cannot disprove — keep (the default arm)
        outside(a, v, (cmpMin, cmpMax) => cmpMin < 0 || cmpMax > 0)
      case GreaterThan(a, v) => // rows > v exist only if max > v
        outside(a, v, (_, cmpMax) => cmpMax >= 0)
      case GreaterThanOrEqual(a, v) =>
        outside(a, v, (_, cmpMax) => cmpMax > 0)
      case LessThan(a, v) => // rows < v exist only if min < v
        outside(a, v, (cmpMin, _) => cmpMin <= 0)
      case LessThanOrEqual(a, v) =>
        outside(a, v, (cmpMin, _) => cmpMin < 0)
      case In(a, vs) if vs != null && vs.nonEmpty =>
        vs.forall(v => v != null &&
          excludes(stats, schema, EqualTo(a, v)))
      // a provably-never-TRUE conjunct excludes EVERY file — the shape
      // MERGE emits for an empty/all-null source key; without this arm
      // the intended prune-everything silently became prune-nothing
      // (a no-op merge rewriting the whole table)
      case _: AlwaysFalse => true
      // null-probing predicates skip through the recorded counts
      // ([[ColStat]] nulls/rows; -1 = unknown never skips):
      case IsNotNull(a) => // rows exist only if some value is non-null
        stats.get(a).exists(st => st.rows > 0 && st.nulls == st.rows)
      case IsNull(a) =>    // rows exist only if some value IS null
        stats.get(a).exists(st => st.rows >= 0 && st.nulls == 0L)
      case And(l, r) => // a conjunct excluding alone excludes the file
        excludes(stats, schema, l) || excludes(stats, schema, r)
      case Or(l, r) =>
        excludes(stats, schema, l) && excludes(stats, schema, r)
      case _ => false
    }
  }
}
