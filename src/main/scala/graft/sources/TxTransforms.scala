package graft.sources

import org.apache.spark.sql.{Column, functions}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType, TimestampType}

/** Iceberg-style HIDDEN PARTITIONING for the tx table: `PARTITIONED BY
  * (bucket(8, id), days(ts), truncate(4, name))` records a TRANSFORM
  * per partition field; partition VALUES are derived from the source
  * column at stage time and live only in file paths (+ min=max stats
  * entries keyed by the derived field name) — the source column stays
  * in file bytes, the derived one never enters the logical schema, and
  * a reader never has to know the layout to query correctly (the
  * hidden-partitioning contract).
  *
  * What each transform buys at 100 TB:
  *  - `bucket(n, col)`: storage-partitioned joins — two tables
  *    bucketed the same way join with ZERO shuffle (the scan reports
  *    `KeyGroupedPartitioning(bucket(n, col))`, no manually
  *    materialized bucket column), and point lookups prune to one
  *    bucket via the projected equality.
  *  - `years(ts)` / `months(ts)` / `days(ts)` / `hours(ts)`: time-
  *    partitioned event tables at the grain the ingest rate calls for
  *    — a `ts` range predicate prunes whole grain directories through
  *    the projected ordinal bounds, no manual date column. Ordinals
  *    are the Iceberg convention: years since 1970, months since
  *    1970-01, days/hours since the epoch.
  *  - `truncate(n, col)`: prefix layouts on strings (equality and
  *    >= n-codepoint prefix predicates prune on the truncated value)
  *    and floor-to-width layouts on int/long (equality AND range
  *    predicates prune — the floor is monotone).
  *
  * PREDICATE PROJECTION (the Iceberg `Projections` idea): a filter on
  * the SOURCE column conservatively implies a filter on the DERIVED
  * value, which the existing stats-skipping layer evaluates against
  * the path-derived min=max entries. Projections are sound-only —
  * a shape with no projection simply prunes nothing.
  *
  * Determinism notes (what makes path values trustworthy):
  *  - bucket uses Spark's Murmur3 (`hash()`, seed 42) pmod n — a pure
  *    function of the int/long value, identical on driver and
  *    executors, every JVM.
  *  - days/hours are `floor(epoch-seconds / grain)` — explicitly
  *    UTC-fixed (never the session-timezone `cast(ts as date)`, whose
  *    value changes with configuration — a layout must not lie when
  *    the session moves); years/months go through the epoch day as a
  *    timezone-free DATE, same fixing.
  *  - truncate is codepoint `substring(1, n)` on strings and
  *    `v − floorMod(v, n)` on int/long (Iceberg semantics).
  * Anything else (floats, session-dependent or non-deterministic
  * expressions) refuses loudly at declaration.
  */
private[graft] object TxTransforms {

  /** One partition field: `name` is the derived column as it appears
    * in paths and stats keys; identity fields have name == source. */
  final case class PartitionField(name: String, transform: String,
                                  source: String) {
    def isIdentity: Boolean = transform == "identity"
  }

  private val Bucket = """bucket\[(\d+)\]""".r
  private val Truncate = """truncate\[(\d+)\]""".r

  /** Manifest wire form: "name=transform(source)" per non-identity
    * field, e.g. "id_bucket=bucket[8](id)". */
  def encode(f: PartitionField): String =
    s"${f.name}=${f.transform}(${f.source})"

  private val Enc = """([^=]+)=([a-z]+\[?\d*\]?)\(([^)]+)\)""".r
  def decode(s: String): PartitionField = s match {
    case Enc(n, t, src) => PartitionField(n, t, src)
    case other => throw new IllegalArgumentException(
      s"unparseable partition transform '$other'")
  }

  /** The manifest's full field spec: every partition column name,
    * with its transform when the transforms map declares one (map
    * values are the "transform(source)" half of the wire form). */
  def spec(m: TxTable.Manifest): Seq[PartitionField] =
    m.partitionColumns.map { n =>
      m.partitionTransforms.get(n).map(v => decode(s"$n=$v"))
        .getOrElse(PartitionField(n, "identity", n))
    }

  /** The map entry for a non-identity field. */
  def encodeValue(f: PartitionField): String =
    s"${f.transform}(${f.source})"

  /** Identity partition column names — the ones that are REAL schema
    * columns (readers attach their values; derived fields are hidden
    * and their sources live in file bytes). */
  def identityNames(m: TxTable.Manifest): Seq[String] =
    spec(m).filter(_.isIdentity).map(_.name)

  /** The derived column expression staged before the partitioned
    * write. Also validates the source's type against the transform. */
  def deriveColumn(f: PartitionField, schema: StructType): Column = {
    require(schema.fieldNames.contains(f.source),
      s"partition transform ${f.transform} references missing column " +
        s"'${f.source}' in ${schema.simpleString}")
    val st = schema(f.source).dataType
    val c = functions.col(f.source)
    f.transform match {
      case "identity" => c
      case Bucket(n) =>
        require(st == LongType || st == IntegerType,
          s"bucket(${f.source}) needs an int/long source, got " +
            st.simpleString)
        functions.when(c.isNull, functions.lit(null))
          .otherwise(functions.pmod(functions.hash(c),
            functions.lit(n.toInt)))
      case "days" =>
        require(st == TimestampType,
          s"days(${f.source}) needs a timestamp source, got " +
            st.simpleString)
        // UTC-fixed: epoch seconds / 86400, floored — never the
        // session-timezone date cast
        functions.floor(c.cast("long") / 86400).cast("int")
      case "hours" =>
        require(st == TimestampType,
          s"hours(${f.source}) needs a timestamp source, got " +
            st.simpleString)
        functions.floor(c.cast("long") / 3600).cast("int")
      case "years" | "months" =>
        require(st == TimestampType,
          s"${f.transform}(${f.source}) needs a timestamp source, got " +
            st.simpleString)
        // UTC-fixed calendar grains (Iceberg ordinals: years since
        // 1970, months since 1970-01): epoch day → DATE — a DATE is
        // timezone-free, so year()/month() over it are pure — never
        // year(ts)/month(ts), which convert through the session zone
        val d = functions.date_from_unix_date(
          functions.floor(c.cast("long") / 86400).cast("int"))
        if (f.transform == "years") functions.year(d) - functions.lit(1970)
        else (functions.year(d) - functions.lit(1970)) *
          functions.lit(12) + functions.month(d) - functions.lit(1)
      case Truncate(n) =>
        st match {
          case StringType =>
            functions.when(c.isNull, functions.lit(null))
              .otherwise(c.substr(1, n.toInt))
          case IntegerType | LongType =>
            // Iceberg integral truncate: floor to width, v − floorMod(v,
            // W) — negative values floor DOWN (-7 at width 10 → -10),
            // which is what keeps the derived value monotone in v
            functions.when(c.isNull, functions.lit(null))
              .otherwise(c - functions.pmod(c, functions.lit(n.toInt)))
          case other => throw new IllegalArgumentException(
            s"truncate(${f.source}) needs a string/int/long source, " +
              s"got ${other.simpleString}")
        }
      case other => throw new UnsupportedOperationException(
        s"unsupported partition transform '$other' — supported: " +
          "identity, bucket[n], years, months, days, hours, truncate[n]")
    }
  }

  /** The derived value's type (what path strings parse back as). */
  def derivedType(f: PartitionField, schema: StructType): DataType =
    f.transform match {
      case "identity" => schema(f.name).dataType
      case Bucket(_) => IntegerType
      case "days" | "hours" | "years" | "months" => IntegerType
      case Truncate(_) => schema(f.source).dataType
    }

  // ------------------------- driver-side transform value computation

  /** Spark's `hash()` for one int/long value (Murmur3, seed 42) —
    * must agree bit-for-bit with the staged column expression. */
  private def sparkHash(v: Any): Option[Int] = v match {
    case l: Long => Some(org.apache.spark.unsafe.hash.Murmur3_x86_32
      .hashLong(l, 42))
    case i: Int => Some(org.apache.spark.unsafe.hash.Murmur3_x86_32
      .hashInt(i, 42))
    case i: java.lang.Integer => Some(org.apache.spark.unsafe.hash
      .Murmur3_x86_32.hashInt(i, 42))
    case l: java.lang.Long => Some(org.apache.spark.unsafe.hash
      .Murmur3_x86_32.hashLong(l, 42))
    case _ => None
  }

  private def bucketOf(v: Any, n: Int): Option[Int] =
    sparkHash(v).map(h => ((h % n) + n) % n)

  /** (epoch seconds, sub-second nanos) of a pushed timestamp literal. */
  private def tsParts(v: Any): Option[(Long, Long)] = v match {
    case t: java.sql.Timestamp =>
      Some((Math.floorDiv(t.getTime, 1000L), t.getNanos.toLong))
    case i: java.time.Instant =>
      Some((i.getEpochSecond, i.getNano.toLong))
    case _ => None
  }

  /** Grain ordinal of a pushed timestamp literal (UTC, floor) — the
    * same arithmetic as the staged derivation — plus whether the
    * literal sits EXACTLY on the grain's boundary (start of the
    * day/hour/month/year, zero sub-second): `ts < start-of-grain-d`
    * implies `grain <= d-1`, one whole directory sharper than the
    * generic `grain <= d`. */
  private def dayAndBoundary(v: Any): Option[(Int, Boolean)] =
    tsParts(v).map { case (sec, nanos) =>
      (Math.floorDiv(sec, 86400L).toInt,
        Math.floorMod(sec, 86400L) == 0L && nanos == 0L)
    }

  private def hourAndBoundary(v: Any): Option[(Int, Boolean)] =
    tsParts(v).map { case (sec, nanos) =>
      (Math.floorDiv(sec, 3600L).toInt,
        Math.floorMod(sec, 3600L) == 0L && nanos == 0L)
    }

  /** Year/month ordinal via `LocalDate.ofEpochDay` — the identical
    * proleptic-Gregorian calendar `date_from_unix_date` + `year()/
    * month()` evaluate in the staged column. */
  private def calAndBoundary(v: Any, months: Boolean)
      : Option[(Int, Boolean)] =
    tsParts(v).map { case (sec, nanos) =>
      val ld = java.time.LocalDate.ofEpochDay(Math.floorDiv(sec, 86400L))
      val midnight = Math.floorMod(sec, 86400L) == 0L && nanos == 0L
      if (months)
        ((ld.getYear - 1970) * 12 + ld.getMonthValue - 1,
          midnight && ld.getDayOfMonth == 1)
      else (ld.getYear - 1970, midnight && ld.getDayOfYear == 1)
    }

  /** Integral truncate of a pushed int/long literal — the driver twin
    * of the staged `v − pmod(v, W)`, declining (None) when the floor
    * would overflow (near MinValue the wrapped value is no longer
    * monotone, so range projections over it would be unsound). The
    * result keeps the SOURCE's boxed type: the derived column is
    * int/long by [[derivedType]], and the stats layer compares typed. */
  private def truncNum(v: Any, w: Int): Option[Any] = v match {
    case i: java.lang.Integer =>
      val t = i.intValue - Math.floorMod(i.intValue, w)
      if (t > i.intValue) None else Some(Int.box(t))
    case l: java.lang.Long =>
      val t = l.longValue - Math.floorMod(l.longValue, w.toLong)
      if (t > l.longValue) None else Some(Long.box(t))
    case _ => None
  }

  /** First `n` CODEPOINTS of `v` — the driver-side twin of
    * [[deriveColumn]]'s `substr(1, n)` (Spark substring counts
    * codepoints, not UTF-16 units; `String.take(n)` counts units, so on
    * a value with supplementary characters it would project a prefix
    * the staged layout never wrote — and a mismatched projected
    * equality silently EXCLUDES files that hold matching rows). */
  private def truncPrefix(v: String, n: Int): String =
    if (v.codePointCount(0, v.length) <= n) v
    else v.substring(0, v.offsetByCodePoints(0, n))

  /** Project a source-column filter onto the derived partition values:
    * extra conjuncts keyed by the derived field NAME, evaluated by the
    * stats layer against the path min=max entries. Sound-only — an
    * unprojectable shape adds nothing. */
  def projectFilter(f: org.apache.spark.sql.sources.Filter,
                    fields: Seq[PartitionField])
      : Seq[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    // every floor-shaped transform (time grains AND integral truncate)
    // is monotone in its source, so one projection shape serves all:
    // Eq → Eq, Gt/Gte → Gte, Lt/Lte → Lte — with the exact-boundary
    // tightening for Lt (`v` is the FIRST value of its own grain ⇒
    // strictly-below implies the previous grain). `grain` returns the
    // derived value + boundary flag, or None to decline.
    def floorProj(pf: PartitionField, grain: Any => Option[(Any, Boolean)],
                  prev: Any => Any): Seq[Filter] = f match {
      case EqualTo(a, v) if a == pf.source =>
        grain(v).map(g => EqualTo(pf.name, g._1)).toSeq
      case GreaterThan(a, v) if a == pf.source =>
        grain(v).map(g => GreaterThanOrEqual(pf.name, g._1)).toSeq
      case GreaterThanOrEqual(a, v) if a == pf.source =>
        grain(v).map(g => GreaterThanOrEqual(pf.name, g._1)).toSeq
      case LessThan(a, v) if a == pf.source =>
        grain(v).map { case (d, boundary) =>
          LessThanOrEqual(pf.name, if (boundary) prev(d) else d)
        }.toSeq
      case LessThanOrEqual(a, v) if a == pf.source =>
        grain(v).map(g => LessThanOrEqual(pf.name, g._1)).toSeq
      case _ => Nil
    }
    def timeProj(pf: PartitionField,
                 g: Any => Option[(Int, Boolean)]): Seq[Filter] =
      floorProj(pf, v => g(v).map { case (d, b) => (d: Any, b) },
        d => d.asInstanceOf[Int] - 1)
    fields.filterNot(_.isIdentity).flatMap { pf =>
      pf.transform match {
        case Bucket(n) => f match {
          case EqualTo(a, v) if a == pf.source =>
            bucketOf(v, n.toInt).map(b => EqualTo(pf.name, b)).toSeq
          case In(a, vs) if a == pf.source && vs != null &&
              vs.nonEmpty && vs.forall(_ != null) =>
            val bs = vs.toSeq.map(v => bucketOf(v, n.toInt))
            if (bs.forall(_.isDefined))
              Seq(In(pf.name, bs.flatten.distinct.map(b => b: Any).toArray))
            else Nil
          case _ => Nil
        }
        case "days" => timeProj(pf, dayAndBoundary)
        case "hours" => timeProj(pf, hourAndBoundary)
        case "months" => timeProj(pf, calAndBoundary(_, months = true))
        case "years" => timeProj(pf, calAndBoundary(_, months = false))
        case Truncate(n) => f match {
          case EqualTo(a, v: String) if a == pf.source =>
            Seq(EqualTo(pf.name, truncPrefix(v, n.toInt)))
          case StringStartsWith(a, p)
              if a == pf.source && p != null &&
                p.codePointCount(0, p.length) >= n.toInt =>
            Seq(EqualTo(pf.name, truncPrefix(p, n.toInt)))
          // integral truncate: the boundary case is `v` an exact
          // multiple of W (it IS its own derived value); `prev` steps
          // one width down, declining near-MinValue underflow
          case _ => floorProj(pf,
            v => truncNum(v, n.toInt).map(t => (t, t == v)),
            {
              case t: java.lang.Integer
                  if t.intValue >= Int.MinValue + n.toInt =>
                Int.box(t.intValue - n.toInt)
              case t: java.lang.Long
                  if t.longValue >= Long.MinValue + n.toInt =>
                Long.box(t.longValue - n.toInt)
              case t => t // underflow: keep the untightened (still
                          // sound) bound
            })
        }
        case _ => Nil
      }
    }
  }

  /** Augment a skip-filter list with its transform projections — the
    * one place skip filters gain their projected conjuncts. */
  def withProjections(filters: Seq[org.apache.spark.sql.sources.Filter],
                      fields: Seq[PartitionField])
      : Seq[org.apache.spark.sql.sources.Filter] =
    filters ++ filters.flatMap(projectFilter(_, fields))

  def withProjections(filters: Seq[org.apache.spark.sql.sources.Filter],
                      m: TxTable.Manifest)
      : Seq[org.apache.spark.sql.sources.Filter] =
    if (m.partitionTransforms.isEmpty) filters
    else withProjections(filters, spec(m))

  /** The schema the STATS layer evaluates against: the table schema
    * plus one typed field per hidden partition field, so a projected
    * filter on a derived name can be compared against its path-derived
    * min=max entries (TxStats.excludes types values by schema lookup —
    * an untypeable column never prunes). */
  def skipSchema(schema: StructType,
                 fields: Seq[PartitionField]): StructType = {
    val hidden = fields.filterNot(_.isIdentity)
    if (hidden.isEmpty) schema
    else StructType(schema.fields ++ hidden.map(f =>
      org.apache.spark.sql.types.StructField(f.name,
        derivedType(f, schema), nullable = true)))
  }

  def skipSchema(schema: StructType, m: TxTable.Manifest): StructType =
    skipSchema(schema, spec(m))

  /** The DSv2 transform expression the scan reports for SPJ / the
    * table advertises via `partitioning()`. */
  def v2Transform(f: PartitionField)
      : org.apache.spark.sql.connector.expressions.Transform = {
    import org.apache.spark.sql.connector.expressions.{Expressions => E}
    f.transform match {
      case "identity" => E.identity(f.name)
      case Bucket(n) => E.bucket(n.toInt, f.source)
      case "days" => E.days(f.source)
      case "hours" => E.hours(f.source)
      case "years" => E.years(f.source)
      case "months" => E.months(f.source)
      case Truncate(n) =>
        E.apply("truncate", E.literal(Int.box(n.toInt)),
          E.column(f.source))
    }
  }

  /** Parse SQL `PARTITIONED BY` transforms into partition fields —
    * the TxCatalog CREATE hook. Refuses unknown/unsupported shapes
    * loudly rather than silently ignoring a layout clause. */
  def fromV2(transforms: Seq[
      org.apache.spark.sql.connector.expressions.Transform])
      : Seq[PartitionField] = {
    def oneRef(t: org.apache.spark.sql.connector.expressions.Transform)
        : String = {
      require(t.references().length == 1 &&
          t.references()(0).fieldNames().length == 1,
        s"partition transform $t must reference one top-level column")
      t.references()(0).fieldNames()(0)
    }
    transforms.map { t =>
      t.name() match {
        case "identity" =>
          val c = oneRef(t); PartitionField(c, "identity", c)
        case "bucket" =>
          val c = oneRef(t)
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
                if l.value().isInstanceOf[Number] =>
              l.value().asInstanceOf[Number].intValue()
          }.getOrElse(throw new IllegalArgumentException(
            s"bucket transform $t carries no numeric width"))
          require(n >= 1, s"bucket width must be >= 1, got $n")
          PartitionField(s"${c}_bucket", s"bucket[$n]", c)
        case "days" =>
          val c = oneRef(t)
          PartitionField(s"${c}_day", "days", c)
        case "hours" =>
          val c = oneRef(t)
          PartitionField(s"${c}_hour", "hours", c)
        case "years" =>
          val c = oneRef(t)
          PartitionField(s"${c}_year", "years", c)
        case "months" =>
          val c = oneRef(t)
          PartitionField(s"${c}_month", "months", c)
        case "truncate" =>
          val c = oneRef(t)
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
                if l.value().isInstanceOf[Number] =>
              l.value().asInstanceOf[Number].intValue()
          }.getOrElse(throw new IllegalArgumentException(
            s"truncate transform $t carries no numeric width"))
          require(n >= 1, s"truncate width must be >= 1, got $n")
          PartitionField(s"${c}_trunc", s"truncate[$n]", c)
        case other => throw new UnsupportedOperationException(
          s"unsupported PARTITIONED BY transform '$other' — supported: " +
            "identity columns, bucket(n, col), years(ts), months(ts), " +
            "days(ts), hours(ts), truncate(n, col); arbitrary " +
            "expressions are not a deterministic layout")
      }
    }
  }
}
