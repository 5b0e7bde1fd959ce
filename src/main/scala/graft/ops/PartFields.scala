package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** DERIVED PARTITION TRANSFORMS for the versioned table — Iceberg's
  * hidden-partitioning idea expressed over the commit-log format: a
  * table declares `days(ts)` / `months(ts)` / `truncate(n, col)` /
  * `bucket(n, col)` (or a plain identity column) in its `partition`
  * property, every routed write COMPUTES the partition value inside
  * the existing one-pass `partitionBy` ([[VersionedTable]]'s `__p_`
  * leaf scheme, now keyed by the transform's FIELD name, e.g.
  * `__p_ts_day=1995-03-15`), and scan-side pruning translates pushed
  * predicates on the BASE column into leaf-token tests — a
  * `WHERE ts BETWEEN …` prunes day leaves without the query ever
  * naming the derived field. The user never materializes, loads, or
  * filters by a partition column; the layout is a storage concern the
  * manifest owns (Iceberg spec §Partitioning; time-based layout is
  * the production default the reference's own timestamped run paths
  * gesture at — spotifyextract.py:92-94).
  *
  * Each transform carries three synchronized contracts, all driver-side
  * and bytes-sized (the 100 TB posture of partition pruning — one
  * manifest read decides, no listing, no footers):
  *
  *  - WRITE: `valueOf(col, dt)` — the Spark expression the routed
  *    write appends as the `__p_` dup column; NULL-safe (a NULL base
  *    value lands in the hive default leaf for every transform —
  *    bucket guards explicitly, since `hash(NULL)` is the seed, not
  *    NULL).
  *  - EQUALITY: `eqToken(v)` — the leaf token a base-column literal
  *    routes to, for `=`/`IN`/null-safe-eq pruning (all transforms).
  *  - RANGE: `rangeTest(lower, v)` — a token-level test for
  *    `>`/`>=`/`<`/`<=` conjuncts, defined only where the transform is
  *    ORDER-PRESERVING on the rendered token (days/months: ISO text
  *    sorts chronologically; truncate: prefix/floor is monotone).
  *    Bucket scrambles order on purpose and translates equality only.
  *
  * Every translation is a may-keep decision, never a row filter —
  * callers re-apply all predicates above the scan, so an
  * untranslatable value degrades to "scan the leaf", never to a wrong
  * result (the stats-skipping rule, [[VersionedTable.readAtPruned]]).
  */
sealed trait PartField {
  /** Base column the transform reads (what predicates name). */
  def source: String
  /** Leaf field name rendered into `__p_<name>=<token>` dirs. */
  def name: String
  /** Canonical spec text stored in the `partition` table property. */
  def spec: String
  /** The transform over an input column of declared type `dt`. */
  def valueOf(c: Column, dt: DataType): Column
  /** Leaf token for base-column literal `v` (inner None = the hive
    * default leaf); outer None = untranslatable value → no pruning.
    */
  def eqToken(v: Any): Option[Option[String]]
  /** Token test for a range conjunct on the base column: `lower=true`
    * translates `c > v`/`c >= v` (keep tokens at/above v's), false the
    * `<`/`<=` twins; None = not order-preserving → no pruning.
    */
  def rangeTest(lower: Boolean, v: Any): Option[Option[String] => Boolean]
}

/** Plain identity partitioning (the original `PARTITIONED BY (col)`):
  * the leaf holds the rendered value itself. Ranges don't translate —
  * value ordering is type-dependent and identity layouts are for
  * CATEGORICAL columns (ranges belong to stats skipping).
  */
final case class PartIdentity(source: String) extends PartField {
  def name: String = source
  def spec: String = source
  def valueOf(c: Column, dt: DataType): Column = c
  def eqToken(v: Any): Option[Option[String]] = v match {
    case null => Some(None)
    case _: String | _: java.lang.Boolean | _: java.lang.Byte |
         _: java.lang.Short | _: java.lang.Integer | _: java.lang.Long |
         _: java.sql.Date | _: java.time.LocalDate =>
      Some(VersionedTable.renderPartitionValue(v))
    case _ => None
  }
  def rangeTest(lower: Boolean, v: Any): Option[Option[String] => Boolean] = None
}

private[ops] object PartDates {
  // day/month transforms over TIMESTAMP (an instant) are defined in
  // UTC, ALWAYS — the Iceberg rule. Baking the writer session's zone
  // into the leaf tokens would silently desynchronize pruning whenever
  // a reader session runs under a different spark.sql.session.timeZone
  // (the token says one day, the reader's translation computes
  // another, and matching leaves get dropped). DATE and TIMESTAMP_NTZ
  // are zone-free by construction; only instants need the pin.
  def dayOf(v: Any): Option[java.time.LocalDate] = v match {
    case d: java.sql.Date => Some(d.toLocalDate)
    case d: java.time.LocalDate => Some(d)
    case t: java.sql.Timestamp =>
      Some(t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate)
    case i: java.time.Instant =>
      Some(i.atZone(java.time.ZoneOffset.UTC).toLocalDate)
    // TIMESTAMP_NTZ literals arrive as LocalDateTime — naive, so the
    // date part IS the day (no zone conversion, matching the write
    // side's to_date over an NTZ column)
    case n: java.time.LocalDateTime => Some(n.toLocalDate)
    case _ => None
  }

  // the UTC calendar day of an instant column, session-zone-proof:
  // floored micros→days arithmetic (floor, not div — pre-epoch
  // instants must round down), rendered back as a DateType. The
  // division is INTEGRAL (`div`, exact at every long): the floored
  // numerator is a lossless multiple of `day`, but a double `/` casts
  // it to IEEE754 first, which is not exact past ±2^53 µs from the
  // epoch (~1685 / ~2255) — a one-day-off token there would
  // desynchronize write-side leaves from dayOf's exact driver-side
  // translation, and equality/range pruning would drop matching leaves
  // overflow-free floor division: `us - pmod(us, day)` underflows for
  // instants within a remainder of Long.MinValue (the truncate-clamp
  // bug class), so compute floorDiv as truncating `div` with a -1
  // adjustment on inexact negative quotients — no subtraction on the
  // full-range value anywhere
  def utcDay(c: Column): Column = {
    val us = unix_micros(c)
    val day = 86400000000L
    val q = call_function("div", us, lit(day))
    val floorQ = q - when(us < 0 && pmod(us, lit(day)) =!= 0, lit(1L))
      .otherwise(lit(0L))
    date_from_unix_date(floorQ.cast("int"))
  }

  // overflow-free floored `div` over already-integral columns (the
  // utcDay device generalized): truncating div with a -1 adjustment on
  // inexact negative quotients
  private def floorDivCol(c: Column, n: Long): Column = {
    val q = call_function("div", c, lit(n))
    q - when(c < 0 && pmod(c, lit(n)) =!= 0, lit(1L)).otherwise(lit(0L))
  }

  // the UTC hour token of an instant column (`yyyy-MM-dd-HH`), built
  // from the same exact floored-micros arithmetic as utcDay: hour index
  // since epoch → (day, hour-of-day), day rendered through DateType
  // (date_format over a DATE round-trips the fields in any session
  // zone), hour-of-day zero-padded so the token text sorts
  // chronologically. NULL instants propagate to a NULL token (the hive
  // default leaf).
  def utcHourToken(c: Column): Column = {
    val hourUs = 3600000000L
    val hours = floorDivCol(unix_micros(c), hourUs)
    val day = floorDivCol(hours, 24L)
    val hod = pmod(hours, lit(24L)) // pmod is non-negative pre-epoch too
    concat(
      date_format(date_from_unix_date(day.cast("int")), "yyyy-MM-dd"),
      lit("-"), lpad(hod.cast("string"), 2, "0"))
  }

  // driver-side twin of utcHourToken for literal translation — instants
  // resolve in UTC, NTZ stays naive (matching the write expression)
  def hourTokenOf(v: Any): Option[String] = {
    val ldt: Option[java.time.LocalDateTime] = v match {
      case t: java.sql.Timestamp =>
        Some(t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime)
      case i: java.time.Instant =>
        Some(i.atZone(java.time.ZoneOffset.UTC).toLocalDateTime)
      case n: java.time.LocalDateTime => Some(n)
      case _ => None // hours() is timestamp-only; dates have no hour
    }
    ldt.map(d => f"${d.getYear}%04d-${d.getMonthValue}%02d-" +
      f"${d.getDayOfMonth}%02d-${d.getHour}%02d")
  }
}

/** `hours(ts)` — one leaf per UTC hour: the landing-zone layout for
  * high-volume streaming ingest where even a day leaf is too coarse to
  * replace (per-hour micro-batch reloads, hour-scoped OPTIMIZE).
  * ~8760 leaves/year, so it pairs naturally with partition SPEC
  * EVOLUTION: run hours() on the hot ingest window, then
  * `REPLACE PARTITION FIELD` to days()/months() as the table ages —
  * one metadata commit, old leaves keep pruning under their own era
  * and refine into the coarser spec (pre-r16 this transform was
  * refused precisely because the fan-out was forever; evolution
  * removed that objection). Tokens are `yyyy-MM-dd-HH` (zero-padded
  * ISO prefix + hour), which sorts chronologically, so timestamp
  * RANGES prune; timestamps only (a date has no hour — Iceberg's rule).
  */
final case class PartHours(source: String) extends PartField {
  def name: String = s"${source}_hour"
  def spec: String = s"hours($source)"
  def valueOf(c: Column, dt: DataType): Column = dt match {
    // instants resolve in UTC, never the session zone (PartDates)
    case TimestampType => PartDates.utcHourToken(c)
    // NTZ: the naive fields, zone-free end to end (cast-to-instant and
    // format both use the session zone, so the wall-clock fields
    // round-trip — the PartMonths/PartYears device)
    case _ => date_format(c, "yyyy-MM-dd-HH")
  }
  def eqToken(v: Any): Option[Option[String]] =
    if (v == null) Some(None)
    else PartDates.hourTokenOf(v).map(Some(_))
  def rangeTest(lower: Boolean, v: Any): Option[Option[String] => Boolean] =
    PartDates.hourTokenOf(v).map { h =>
      // NULL-leaf rows have a NULL base value — no range matches them
      if (lower) t => t.exists(_ >= h) else t => t.exists(_ <= h)
    }
}

/** `days(ts)` — one leaf per calendar day (the nightly-reload layout:
  * ~365 leaves/year, the replaced unit of the everyday dynamic
  * overwrite). Tokens are ISO `yyyy-MM-dd`, which sorts
  * chronologically, so date/timestamp RANGES prune (GT/GE keep tokens
  * >= the bound's day — day granularity makes that the tight sound
  * bound; rows later the same day share the leaf).
  */
final case class PartDays(source: String) extends PartField {
  def name: String = s"${source}_day"
  def spec: String = s"days($source)"
  def valueOf(c: Column, dt: DataType): Column = dt match {
    case DateType => c
    // instants resolve in UTC, never the session zone (PartDates)
    case TimestampType => PartDates.utcDay(c)
    case _ => to_date(c) // NTZ: the naive date part, zone-free
  }
  def eqToken(v: Any): Option[Option[String]] =
    if (v == null) Some(None)
    else PartDates.dayOf(v).map(d => Some(d.toString))
  def rangeTest(lower: Boolean, v: Any): Option[Option[String] => Boolean] =
    PartDates.dayOf(v).map { d =>
      val tok = d.toString
      // NULL-leaf rows have a NULL base value — no range matches them
      if (lower) t => t.exists(_ >= tok) else t => t.exists(_ <= tok)
    }
}

/** `months(ts)` — one leaf per calendar month (the archival layout for
  * multi-year history). Tokens `yyyy-MM`; same ordering argument as
  * [[PartDays]].
  */
final case class PartMonths(source: String) extends PartField {
  def name: String = s"${source}_month"
  def spec: String = s"months($source)"
  def valueOf(c: Column, dt: DataType): Column = dt match {
    // instants resolve in UTC, never the session zone (PartDates);
    // date_format over the UTC day is zone-free for date inputs
    case TimestampType => date_format(PartDates.utcDay(c), "yyyy-MM")
    case _ => date_format(c, "yyyy-MM")
  }
  private def tok(v: Any): Option[String] =
    PartDates.dayOf(v).map(d => f"${d.getYear}%04d-${d.getMonthValue}%02d")
  def eqToken(v: Any): Option[Option[String]] =
    if (v == null) Some(None) else tok(v).map(Some(_))
  def rangeTest(lower: Boolean, v: Any): Option[Option[String] => Boolean] =
    tok(v).map { m =>
      if (lower) t => t.exists(_ >= m) else t => t.exists(_ <= m)
    }
}

/** `years(ts)` — one leaf per calendar year (decade-scale archives
  * where even months over-fan). Tokens are the zero-padded year; the
  * 4-digit pad keeps lexicographic order chronological for every AD
  * year. Same UTC rule and ordering argument as [[PartDays]].
  */
final case class PartYears(source: String) extends PartField {
  def name: String = s"${source}_year"
  def spec: String = s"years($source)"
  def valueOf(c: Column, dt: DataType): Column = dt match {
    case TimestampType => date_format(PartDates.utcDay(c), "yyyy")
    case _ => date_format(c, "yyyy")
  }
  private def tok(v: Any): Option[String] =
    PartDates.dayOf(v).map(d => f"${d.getYear}%04d")
  def eqToken(v: Any): Option[Option[String]] =
    if (v == null) Some(None) else tok(v).map(Some(_))
  def rangeTest(lower: Boolean, v: Any): Option[Option[String] => Boolean] =
    tok(v).map { y =>
      if (lower) t => t.exists(_ >= y) else t => t.exists(_ <= y)
    }
}

/** `truncate(width, col)` — Iceberg's truncate transform: strings keep
  * their first `width` characters (a prefix layout: tenant codes, ID
  * prefixes), integrals floor to the nearest multiple of `width`
  * (`v - (v mod width)`, floored mod). Both are monotone, so ranges
  * prune. The string trunc of `''` shares the hive default leaf with
  * NULL (the [[VersionedTable.renderPartitionValue]] conflation), so
  * string-range tests evaluate the default leaf AS `''` — NULL rows
  * can't match a range, but empty-string rows can.
  */
final case class PartTruncate(width: Int, source: String) extends PartField {
  require(width >= 1, s"truncate($width, $source): width must be >= 1")
  def name: String = s"${source}_trunc"
  def spec: String = s"truncate($width,$source)"
  def valueOf(c: Column, dt: DataType): Column = dt match {
    case StringType => substring(c, 1, width)
    // integrals compute in LONG with the floor CLAMPED at Long.MinValue:
    // plain `c - pmod(c, w)` overflows for values within `w` of the Long
    // (or the column type's) minimum — ANSI mode throws the write, and
    // legacy mode wraps to a huge positive token that breaks the
    // monotone-token assumption rangeTest relies on (a range predicate
    // could then wrongly prune the leaf holding those rows). The clamp
    // keeps the token a true lower bound of every row in its leaf, so
    // floor monotonicity — and with it range pruning — holds at the edge
    case _ =>
      val cl = c.cast("long")
      when(c.isNull, lit(null).cast("long"))
        .otherwise(coalesce(try_subtract(cl, pmod(cl, lit(width.toLong))),
          lit(Long.MinValue)))
  }
  // driver-side twin of the write expression above — same clamp, so
  // write tokens and eq/range translation can never disagree
  private def intFloor(v: Long): Long = {
    val r = java.lang.Math.floorMod(v, width.toLong)
    if (v < Long.MinValue + r) Long.MinValue else v - r
  }
  private def intTok(v: Any): Option[Long] = v match {
    case i: java.lang.Integer => Some(intFloor(i.toLong))
    case l: java.lang.Long => Some(intFloor(l.longValue))
    case s: java.lang.Short => Some(intFloor(s.toLong))
    case b: java.lang.Byte => Some(intFloor(b.toLong))
    case _ => None
  }
  // the write side truncates by CODE POINT (Spark substring); a UTF-16
  // `take` would split a surrogate pair and produce a token the leaf
  // name never contains
  private def cpTake(s: String): String = {
    val n = s.codePointCount(0, s.length)
    if (n <= width) s else s.substring(0, s.offsetByCodePoints(0, width))
  }
  // Java String order is UTF-16; Spark compares strings in UTF-8 byte
  // order. The two agree strictly below the surrogate block (U+D800):
  // UTF-16 sorts supplementary chars at their surrogate positions —
  // BELOW U+E000..FFFF — while UTF-8 byte order sorts them above. At
  // or past U+D800 (rare: private-use/supplementary text) range
  // translation stands down and the leaf scans (correctness > pruning)
  private def utf8OrderSafe(s: String): Boolean = s.forall(_ < '\uD800')
  def eqToken(v: Any): Option[Option[String]] = v match {
    case null => Some(None)
    case s: String =>
      Some(VersionedTable.renderPartitionValue(cpTake(s)))
    case _ => intTok(v).map(t => Some(t.toString))
  }
  def rangeTest(lower: Boolean, v: Any): Option[Option[String] => Boolean] =
    v match {
      case s: String =>
        val tokV = cpTake(s)
        if (!utf8OrderSafe(tokV)) None
        else {
          // the default leaf holds ''-valued rows: test it as ''; a
          // token outside the order-safe range must scan, never prune
          def test(t: String): Boolean =
            !utf8OrderSafe(t) || (if (lower) t >= tokV else t <= tokV)
          Some(t => test(t.getOrElse("")))
        }
      case _ => intTok(v).map { tokV =>
        // a foreign/unparseable token must scan, never prune
        def asLong(t: String): Option[Long] = t.toLongOption
        if (lower) t => t.forall(s => asLong(s).forall(_ >= tokV))
        else t => t.forall(s => asLong(s).forall(_ <= tokV))
      }
    }
}

/** `bucket(n, col)` — hash distribution into `n` leaves: the layout
  * for high-cardinality join/lookup keys where identity would fan out
  * unboundedly. The hash is Spark's own `hash()` (Murmur3, seed 42),
  * evaluated driver-side through the same Catalyst expression for
  * literal translation, so write and prune can never disagree. NULL
  * is guarded to the default leaf explicitly (`hash(NULL)` returns
  * the seed, not NULL). Equality/IN prune to exactly one leaf of n;
  * ranges don't translate (hashing scrambles order by design).
  */
final case class PartBucket(n: Int, source: String) extends PartField {
  require(n >= 2, s"bucket($n, $source): need at least 2 buckets")
  def name: String = s"${source}_bucket"
  def spec: String = s"bucket($n,$source)"
  def valueOf(c: Column, dt: DataType): Column =
    when(c.isNull, lit(null)).otherwise(pmod(hash(c), lit(n)))
  def eqToken(v: Any): Option[Option[String]] = v match {
    case null => Some(None)
    case _: String | _: java.lang.Boolean | _: java.lang.Byte |
         _: java.lang.Short | _: java.lang.Integer | _: java.lang.Long |
         _: java.sql.Date | _: java.time.LocalDate =>
      // Literal() infers the Catalyst type from the external value, so
      // the driver-side hash sees the same input width as the column
      val h = Murmur3Hash(Seq(Literal(v)), 42).eval(null).asInstanceOf[Int]
      Some(Some(java.lang.Math.floorMod(h, n).toString))
    case _ => None
  }
  def rangeTest(lower: Boolean, v: Any): Option[Option[String] => Boolean] = None
}

object PartFields {

  // one transform spec: a bare identifier (identity) or fn(args...).
  // Unrecognized text parses as identity — the pre-transform property
  // format stored raw column names, and old manifests must keep reading.
  private val DaysRe = """(?i)days\s*\(\s*([^(),\s]+)\s*\)""".r
  private val MonthsRe = """(?i)months\s*\(\s*([^(),\s]+)\s*\)""".r
  private val TruncNumColRe = """(?i)truncate\s*\(\s*(\d+)\s*,\s*([^(),\s]+)\s*\)""".r
  private val TruncColNumRe = """(?i)truncate\s*\(\s*([^(),\s]+)\s*,\s*(\d+)\s*\)""".r
  private val BucketNumColRe = """(?i)bucket\s*\(\s*(\d+)\s*,\s*([^(),\s]+)\s*\)""".r
  private val BucketColNumRe = """(?i)bucket\s*\(\s*([^(),\s]+)\s*,\s*(\d+)\s*\)""".r
  private val YearsRe = """(?i)years\s*\(\s*([^(),\s]+)\s*\)""".r
  private val HoursRe = """(?i)hours\s*\(\s*([^(),\s]+)\s*\)""".r

  def parse(spec: String): PartField = spec.trim match {
    case HoursRe(c) => PartHours(c)
    case DaysRe(c) => PartDays(c)
    case MonthsRe(c) => PartMonths(c)
    case YearsRe(c) => PartYears(c)
    case TruncNumColRe(w, c) => PartTruncate(w.toInt, c)
    case TruncColNumRe(c, w) => PartTruncate(w.toInt, c)
    case BucketNumColRe(n, c) => PartBucket(n.toInt, c)
    case BucketColNumRe(c, n) => PartBucket(n.toInt, c)
    case s if s.nonEmpty => PartIdentity(s)
    case s => throw new IllegalArgumentException(
      s"graft-vtable: empty partition transform in '$spec'")
  }

  /** Split a `partition` property on TOP-LEVEL commas only —
    * `days(ts),bucket(16,id)` is two specs, the comma inside
    * `bucket(16,id)` is not a separator.
    */
  def parseList(prop: String): Seq[PartField] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    prop.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c => cur.append(c)
    }
    out += cur.toString
    require(depth == 0,
      s"graft-vtable: unbalanced parentheses in partition spec '$prop'")
    out.result().map(_.trim).filter(_.nonEmpty).map(parse)
  }

  // the per-transform SOURCE-TYPE whitelist: identity needs a
  // low-cardinality atomic prunable type (a timestamp/double identity
  // leaf would render tokens the pruner's renderPartitionValue never
  // produces — silently wrong pruning); days/months need a temporal
  // type; truncate a string/integral; bucket any hashable atomic.
  private val identityOk: Set[DataType] = Set(StringType, IntegerType,
    LongType, ShortType, ByteType, BooleanType, DateType)
  private val truncOk: Set[DataType] = Set(StringType, IntegerType,
    LongType, ShortType, ByteType)
  private val bucketOk: Set[DataType] = Set(StringType, IntegerType,
    LongType, ShortType, ByteType, BooleanType, DateType)

  /** Validate declared partition fields against the table's schema —
    * THE one gate both creation paths (catalog `PARTITIONED BY` and
    * API `createIfAbsent` props) run, so an API-declared layout can
    * never smuggle in a type the pruning contract doesn't cover.
    * Returns the fields with sources resolved to the schema's exact
    * column case.
    */
  def validate(fields: Seq[PartField], schema: StructType): Seq[PartField] = {
    val resolved = fields.map { f =>
      val sf = schema.fields.find(_.name.equalsIgnoreCase(f.source))
        .getOrElse(throw new IllegalArgumentException(
          s"graft-vtable: partition transform '${f.spec}' names column " +
            s"'${f.source}', which is not in the schema " +
            schema.fieldNames.mkString("(", ", ", ")")))
      def retarget(field: PartField, src: String): PartField = field match {
        case PartIdentity(_) => PartIdentity(src)
        case PartHours(_) => PartHours(src)
        case PartDays(_) => PartDays(src)
        case PartMonths(_) => PartMonths(src)
        case PartYears(_) => PartYears(src)
        case PartTruncate(w, _) => PartTruncate(w, src)
        case PartBucket(n, _) => PartBucket(n, src)
      }
      def bad(need: String): Nothing = throw new IllegalArgumentException(
        s"graft-vtable: partition transform '${f.spec}' needs a $need " +
          s"column, but '${sf.name}' is ${sf.dataType.simpleString} — " +
          "use statsCol data skipping / OPTIMIZE clustering for " +
          "continuous dimensions")
      f match {
        case _: PartIdentity if !identityOk.contains(sf.dataType) =>
          bad("categorical atomic (string/integral/boolean/date)")
        // a DATE has no hour to extract — the Iceberg rule
        case _: PartHours if sf.dataType != TimestampType &&
            sf.dataType != TimestampNTZType =>
          bad("timestamp")
        case _: PartDays | _: PartMonths | _: PartYears
            if sf.dataType != DateType && sf.dataType != TimestampType &&
              sf.dataType != TimestampNTZType =>
          bad("date or timestamp")
        case _: PartTruncate if !truncOk.contains(sf.dataType) =>
          bad("string or integral")
        case _: PartBucket if !bucketOk.contains(sf.dataType) =>
          bad("atomic (string/integral/boolean/date)")
        case _ => ()
      }
      retarget(f, sf.name)
    }
    val dupNames = resolved.groupBy(_.name.toLowerCase).collect {
      case (_, g) if g.size > 1 => g.head.name }
    require(dupNames.isEmpty,
      s"graft-vtable: duplicate partition field ${dupNames.mkString(",")}" +
        " — each transform must produce a distinct leaf field")
    resolved
  }

  /** TOKEN REFINEMENT across partition-spec eras: when `from` is
    * provably FINER than `into` on the same source column — every
    * `from` leaf maps into exactly one `into` leaf — translate a
    * `from` leaf token to the `into` token its rows belong to. This is
    * what lets a dynamic partition overwrite (and its disjointness
    * conflict check) treat pre-evolution leaves as first-class
    * partitions after `days(ts)` evolved to `months(ts)`: a day leaf
    * belongs wholly to one month, so it drops or carries exactly like
    * a month leaf, instead of the whole old era rewriting through the
    * conservative plain-entry path. Refinable pairs: the temporal
    * ladder (days→months/years, months→years) and identity→any
    * transform on the same column (an identity token IS the rendered
    * value). Inner None = the hive default leaf (NULL rows stay in the
    * default leaf under every transform); outer None = not refinable —
    * the old leaf spans several new leaves (months→days,
    * bucket→anything) or the token doesn't parse — callers fall back
    * to the conservative treatment (plain-entry rewrite / must-scan).
    */
  def refineToken(from: PartField, into: PartField, tok: Option[String],
      srcType: DataType): Option[Option[String]] = {
    if (!from.source.equalsIgnoreCase(into.source)) return None
    tok match {
      case None =>
        // the default leaf holds NULL rows — which stay in the default
        // leaf under every transform — EXCEPT that string identity/
        // truncate leaves conflate '' with NULL, and '' bucket-routes
        // to a real leaf: not provably one target, stand down
        if (srcType == StringType && into.isInstanceOf[PartBucket]) None
        else Some(None)
      case Some(t) =>
        lazy val date =
          try Some(java.time.LocalDate.parse(t))
          catch { case _: Exception => None }
        lazy val hourTok = t.matches("""\d{4}-\d{2}-\d{2}-\d{2}""")
        (from, into) match {
          // the temporal ladder: hours→days/months/years (an hour leaf
          // belongs wholly to one day — the spec-evolution aging path)
          case (_: PartHours, _: PartDays) if hourTok =>
            Some(Some(t.take(10)))
          case (_: PartHours, _: PartMonths) if hourTok =>
            Some(Some(t.take(7)))
          case (_: PartHours, _: PartYears) if hourTok =>
            Some(Some(t.take(4)))
          case (_: PartDays, _: PartMonths) =>
            date.map(d => Some(f"${d.getYear}%04d-${d.getMonthValue}%02d"))
          case (_: PartDays, _: PartYears) =>
            date.map(d => Some(f"${d.getYear}%04d"))
          case (_: PartMonths, _: PartYears)
              if t.matches("""\d{4}-\d{2}""") =>
            Some(Some(t.take(4)))
          case (_: PartIdentity, _) =>
            // re-type the rendered value, then the target transform's
            // own literal translation applies — one contract, not two
            val v: Option[Any] = srcType match {
              case StringType => Some(t)
              case IntegerType => t.toIntOption.map(java.lang.Integer.valueOf)
              case LongType => t.toLongOption.map(java.lang.Long.valueOf)
              case ShortType => t.toShortOption.map(java.lang.Short.valueOf)
              case ByteType => t.toByteOption.map(java.lang.Byte.valueOf)
              case BooleanType => t.toBooleanOption.map(java.lang.Boolean.valueOf)
              case DateType => date.map(java.sql.Date.valueOf)
              case _ => None
            }
            v.flatMap(into.eqToken)
          case _ => None
        }
    }
  }

  /** Translate pushed source `Filter`s into per-field leaf-token tests
    * ([[VersionedTable.readAtPruned]]'s shape): only top-level
    * conjuncts on a transform's BASE column translate — that is the
    * hidden-partitioning contract, the query names `ts`, never
    * `ts_day`. Disjunctions and untranslatable values contribute
    * nothing (scan-safe); multiple conjuncts on one field AND.
    */
  def prunePredicates(fields: Seq[PartField],
      filters: Seq[Filter]): Seq[(String, Option[String] => Boolean)] = {
    def testsOf(f: PartField, flt: Filter): Option[Option[String] => Boolean] =
      flt match {
        case EqualTo(a, v) if a == f.source =>
          f.eqToken(v).map(tok => (t: Option[String]) => t == tok)
        case EqualNullSafe(a, v) if a == f.source =>
          f.eqToken(v).map(tok => (t: Option[String]) => t == tok)
        case In(a, vs) if a == f.source =>
          val toks = vs.toIndexedSeq.map(f.eqToken)
          // one untranslatable IN element poisons the whole list (the
          // leaf might hold that element's rows)
          if (toks.exists(_.isEmpty)) None
          else { val set = toks.flatten.toSet
            Some((t: Option[String]) => set.contains(t)) }
        case IsNull(a) if a == f.source =>
          Some((t: Option[String]) => t.isEmpty)
        case GreaterThan(a, v) if a == f.source => f.rangeTest(lower = true, v)
        case GreaterThanOrEqual(a, v) if a == f.source => f.rangeTest(lower = true, v)
        case LessThan(a, v) if a == f.source => f.rangeTest(lower = false, v)
        case LessThanOrEqual(a, v) if a == f.source => f.rangeTest(lower = false, v)
        case And(l, r) =>
          (testsOf(f, l), testsOf(f, r)) match {
            case (Some(a), Some(b)) => Some(t => a(t) && b(t))
            case (one, other) => one.orElse(other)
          }
        case _ => None
      }
    fields.flatMap { f =>
      val tests = filters.flatMap(testsOf(f, _))
      if (tests.isEmpty) None
      else Some(f.name -> ((t: Option[String]) => tests.forall(_(t))))
    }
  }
}
