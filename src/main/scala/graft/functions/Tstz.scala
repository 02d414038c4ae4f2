package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Zone-preserving TIMESTAMP WITH TIME ZONE.
  *
  * The reference packs a zone key into the value itself
  * (presto-spi/src/main/java/com/facebook/presto/spi/type/DateTimeEncoding.java —
  * millisUtc << 12 | zoneKey; TimestampWithTimeZoneType.java). Spark has no
  * zone-carrying timestamp, so the engine represents the type as a struct
  * `{__tstz_i: TIMESTAMP (UTC instant), __tstz_z: STRING (zone id)}`:
  *
  *  - literals `TIMESTAMP '2017-03-01 10:00 Asia/Kathmandu'` and
  *    `CAST(x AS TIMESTAMP WITH TIME ZONE)` build the struct
  *    (PrestoSql.tstzLiterals / castTstz → graft_tstz / graft_to_tstz);
  *  - `AT TIME ZONE` keeps the instant and swaps the zone
  *    (DesugarAtTimeZoneRewriter semantics);
  *  - comparisons use the INSTANT only (DateTimeOperators — equal instants
  *    in different zones are equal; the PrestoDialect.SqlSemantics
  *    analyzer rule lowers them, like the CharMark pad-insensitivity);
  *  - `CAST(tstz AS VARCHAR)` renders Joda 'yyyy-MM-dd HH:mm:ss.SSS ZZZ'
  *    (util/DateTimeUtils.java TIMESTAMP_WITH_TIME_ZONE_FORMATTER): wall
  *    time in the value's zone + the zone id as stored;
  *  - field extractors (hour/day/…) view the WALL time via TstzWall;
  *    timezone_hour/minute expose the value's zone offset at the instant.
  *
  *  - GROUP BY / DISTINCT / ORDER BY use the INSTANT only (the
  *    PrestoDialect.SqlSemantics rule strips zones from grouping/sort keys
  *    and keeps a first() representative for display —
  *    TimestampWithTimeZoneType's
  *    equality/hash/compare read only the packed millis);
  *  - date_trunc truncates the wall time in the value's zone and RETURNS
  *    timestamp with time zone in that zone
  *    (truncateTimestampWithTimeZone).
  *
  * Window PARTITION BY/ORDER BY key on the instant like GROUP BY (the
  * Engine tstz pass strips zones from the window spec, keeping function
  * arguments intact), and date_add/date_diff are zone-preserving: time
  * units shift the instant, calendar units operate on the wall time in
  * the value's zone (DST-aware), matching the reference's
  * chronology-based addFieldValueTimestampWithTimeZone.
  *
  * format_datetime over tstz renders wall time AND zone tokens in the
  * value's zone (TstzFormat; Joda Z-runs translated via jodaZoneTokens).
  *
  * Documented residue (COVERAGE): TIME WITH TIME ZONE stays out of
  * scope. */
object Tstz {
  val I = "__tstz_i"
  val Z = "__tstz_z"

  /** The session's zone (spark.sql.session.timeZone — Engine sessions
    * default UTC, changeable via SET TIME ZONE / SET SESSION timezone).
    * Readable at analysis time on the driver AND at eval time in tasks
    * (Spark propagates SQL confs into TaskContext). */
  def sessionZone: String =
    org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone

  val dataType: StructType = StructType(Seq(
    StructField(I, TimestampType, nullable = true),
    StructField(Z, StringType, nullable = true)))

  def isTstz(dt: DataType): Boolean = dt match {
    case s: StructType =>
      s.fields.length == 2 && s.fields(0).name == I && s.fields(1).name == Z
    case _ => false
  }

  def instant(e: Expression): Expression = GetStructField(e, 0, Some(I))
  def zone(e: Expression): Expression = GetStructField(e, 1, Some(Z))

  /** An instant shifted so its UTC rendering shows the wall clock of zone
    * `z` (a zone-less TIMESTAMP for UTC-pinned consumers — date_trunc,
    * date_format with an explicit Some("UTC") timeZoneId). */
  def utcWall(instantExpr: Expression, z: Expression): Expression =
    FromUTCTimestamp(instantExpr, z)

  /** An instant, viewed as the wall clock of zone `z`, as a
    * TIMESTAMP_NTZ — the wall time itself, no display zone. Encoded
    * through the UTC rendering (FromUTCTimestamp then a UTC-pinned cast),
    * which is BIJECTIVE: the previous encoding re-entered the SESSION
    * zone's wall clock (ToUTCTimestamp(…, sessionZone)), and a value-zone
    * wall landing in a session-zone DST gap (e.g. session
    * America/New_York, a Tokyo wall in the 02:00–03:00 spring-forward
    * hole) shifted by the gap, corrupting hour()/trunc/add results.
    * Spark's field extractors (hour/day/year/…) and timestampadd/diff are
    * NTZ-native and zone-free, so the wall view feeds them directly. */
  def wallAt(instantExpr: Expression, z: Expression): Expression =
    Cast(utcWall(instantExpr, z), TimestampNTZType, Some("UTC"))

  /** Wall-clock view in the value's zone (as a TIMESTAMP_NTZ). */
  def wall(e: Expression): Expression = wallAt(instant(e), zone(e))

  /** Inverse of [[wallAt]]: a wall TIMESTAMP interpreted as the wall clock
    * of zone `z` → the instant. An NTZ wall reads back through UTC (the
    * bijective leg of [[wallAt]]); a zone-less TIMESTAMP (with_timezone's
    * session-rendered input) reads its SESSION wall — reading a rendering
    * is total, only ENCODING into a foreign wall clock can hit a gap. */
  def unwall(w: Expression, z: Expression): Expression = {
    val asUtcWall =
      if (w.resolved && w.dataType == TimestampNTZType)
        Cast(w, TimestampType, Some("UTC"))
      else FromUTCTimestamp(w, Literal(sessionZone))
    ToUTCTimestamp(asUtcWall, z)
  }

  def make(i: Expression, z: Expression): Expression =
    CreateNamedStruct(Seq(Literal(I), i, Literal(Z), z))

  /** Does the type contain a tstz anywhere (row/array/map nesting)? */
  /** Either zone-carrying type: tstz or its TIME sibling ([[Ttz]]) — both
    * compare/group on the packed instant only, so the strip machinery
    * treats them uniformly. */
  def containsTstz(dt: DataType): Boolean = dt match {
    case s: StructType =>
      isTstz(s) || Ttz.isTtz(s) || s.fields.exists(f => containsTstz(f.dataType))
    case a: ArrayType => containsTstz(a.elementType)
    case m: MapType => containsTstz(m.keyType) || containsTstz(m.valueType)
    case _ => false
  }

  /** Replace every nested tstz with its INSTANT, recursively — comparison
    * operands become zone-free so row/array equality over tstz fields
    * compares instants, matching RowOperators/DateTimeOperators. */
  def stripZones(e: Expression): Expression = e.dataType match {
    case dt if isTstz(dt) => instant(e)
    case dt if Ttz.isTtz(dt) => Ttz.millis(e)
    case s: StructType if containsTstz(s) =>
      CreateNamedStruct(s.fields.zipWithIndex.flatMap { case (f, i) =>
        Seq(Literal(f.name),
          stripZones(GetStructField(e, i, Some(f.name))))
      }.toIndexedSeq)
    case a: ArrayType if containsTstz(a) =>
      val x = UnresolvedNamedLambdaVariable(Seq(s"tstz_l${nextLambda()}"))
      ArrayTransform(e, LambdaFunction(stripZonesLambda(x, a.elementType), Seq(x)))
    case _ => e
  }

  private val lambdaId = new java.util.concurrent.atomic.AtomicInteger(0)
  private def nextLambda(): Int = lambdaId.incrementAndGet()

  /** stripZones over a lambda variable — unresolved, so field access goes
    * by NAME (UnresolvedExtractValue resolves after lambda binding). */
  private def stripZonesLambda(v: Expression, dt: DataType): Expression = dt match {
    case t if isTstz(t) =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(v, Literal(I))
    case t if Ttz.isTtz(t) =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(v, Literal(Ttz.M))
    case s: StructType if containsTstz(s) =>
      CreateNamedStruct(s.fields.flatMap { f =>
        Seq(Literal(f.name), stripZonesLambda(
          org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
            v, Literal(f.name)), f.dataType))
      }.toIndexedSeq)
    case a: ArrayType if containsTstz(a) =>
      val y = UnresolvedNamedLambdaVariable(Seq(s"tstz_l${nextLambda()}"))
      ArrayTransform(v, LambdaFunction(stripZonesLambda(y, a.elementType), Seq(y)))
    case _ => v
  }

  /** Zone offset in seconds at an instant (DST-correct). */
  /** Translate Joda zone-token runs to java.time equivalents (outside
    * quoted literals): ZZZ→VV (zone id), ZZ→xxx (±HH:mm), Z→Z (±HHmm).
    * The y/M/d/H/m/s/S core and z/zzzz names agree between the two. */
  def jodaZoneTokens(p: String): String = {
    val sb = new StringBuilder
    var i = 0
    var inQuote = false
    while (i < p.length) {
      val c = p.charAt(i)
      if (c == '\'') { inQuote = !inQuote; sb.append(c); i += 1 }
      else if (!inQuote && c == 'Z') {
        var n = 0
        while (i + n < p.length && p.charAt(i + n) == 'Z') n += 1
        sb.append(if (n >= 3) "VV" else if (n == 2) "xxx" else "Z")
        i += n
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  def offsetSeconds(zoneId: String, instantMicros: Long): Int =
    java.time.ZoneId.of(zoneId, java.time.ZoneId.SHORT_IDS).getRules
      .getOffset(java.time.Instant.EPOCH.plus(
        instantMicros, java.time.temporal.ChronoUnit.MICROS))
      .getTotalSeconds
}

/** The wall-time view of a datetime argument: tstz → wall time in the
  * value's zone; anything else passes through. Lets every Presto-name
  * field extractor (hour, day_of_week, …) accept both types. */
case class TstzWall(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override lazy val replacement: Expression =
    if (Tstz.isTstz(child.dataType)) Tstz.wall(child)
    else if (Ttz.isTtz(child.dataType)) TtzToTimestamp(child)
    else child
  override protected def withNewChildInternal(c: Expression): TstzWall =
    copy(child = c)
}

/** date_format whose tstz input formats the WALL time in the value's zone,
  * gap-safe: the formatter runs PINNED to UTC over the UTC-rendered wall
  * (DateFormatClass is not NTZ-native, so feeding it the NTZ wall view
  * would coerce back through the session zone's possibly non-bijective
  * wall clock). Every other datetime type keeps session-zone semantics. */
case class TstzWallFormat(child: Expression, pattern: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {
  override lazy val replacement: Expression =
    if (Tstz.isTstz(child.dataType))
      DateFormatClass(
        Tstz.utcWall(Tstz.instant(child), Tstz.zone(child)), pattern,
        Some("UTC"))
    else if (Ttz.isTtz(child.dataType))
      DateFormatClass(TtzToTimestamp(child), pattern, Some(Tstz.sessionZone))
    else if (child.dataType == TimestampType)
      DateFormatClass(child, pattern, Some(Tstz.sessionZone))
    else
      // a replacement must resolve as-is — ResolveTimeZone does not
      // descend into replacements, so BOTH the implicit date/string →
      // timestamp coercion and the formatter zone become explicit
      // session-zone forms here
      DateFormatClass(
        Cast(child, TimestampType, Some(Tstz.sessionZone)), pattern,
        Some(Tstz.sessionZone))
  override def left: Expression = child
  override def right: Expression = pattern
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): TstzWallFormat =
    copy(child = l, pattern = r)
}

/** The instant view: tstz → UTC instant; anything else passes through. */
case class TstzInstant(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override lazy val replacement: Expression =
    if (Tstz.isTstz(child.dataType)) Tstz.instant(child) else child
  override protected def withNewChildInternal(c: Expression): TstzInstant =
    copy(child = c)
}

/** at_timezone / AT TIME ZONE (DateTimeFunctions.java "at_timezone",
  * planner DesugarAtTimeZoneRewriter): the INSTANT is unchanged, only the
  * display zone moves. A zone-less timestamp coerces to tstz at the
  * session zone first (UTC here), so its instant is itself. */
case class GraftAtTimezone(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {
  override lazy val replacement: Expression =
    Tstz.make(TstzInstant(left), right)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): GraftAtTimezone = copy(left = l, right = r)
}

/** with_timezone(timestamp, zone) (DateTimeFunctions.java): interpret the
  * WALL time in the given zone. */
case class GraftWithTimezone(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {
  override lazy val replacement: Expression =
    Tstz.make(Tstz.unwall(left, right), right)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): GraftWithTimezone =
    copy(left = l, right = r)
}

/** CAST(x AS TIMESTAMP WITH TIME ZONE): tstz identity; timestamp tags the
  * session zone (Spark's LTZ timestamp is already the instant, so only the
  * display-zone tag moves); a string parses wall time + optional trailing
  * zone (util/DateTimeUtils.java parseTimestampWithTimeZone — zone
  * defaults to the session's when absent). */
case class GraftToTstz(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override lazy val replacement: Expression = child.dataType match {
    case dt if Tstz.isTstz(dt) => child
    case dt if Ttz.isTtz(dt) => TtzToTstz(child)
    case StringType => TstzParse(child)
    case _ => Tstz.make(Cast(child, TimestampType), Literal(Tstz.sessionZone))
  }
  override protected def withNewChildInternal(c: Expression): GraftToTstz =
    copy(child = c)
}

/** Parse 'yyyy-M-d[ H:m[:s[.SSS]]][ zone]' into the tstz struct. Zone may
  * be a region id or offset; absent → UTC (the session zone). */
case class TstzParse(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = Tstz.dataType
  override def nullable: Boolean = true
  override protected def nullSafeEval(v: Any): Any = {
    val s = v.toString.trim
    TstzParse.parse(s) match {
      case Some((micros, zone)) =>
        InternalRow(micros, UTF8String.fromString(zone))
      case None =>
        throw new IllegalArgumentException(
          s"Value cannot be cast to timestamp with time zone: $s")
    }
  }
  override protected def withNewChildInternal(c: Expression): TstzParse =
    copy(child = c)
}

object TstzParse {
  private val withZone = java.util.regex.Pattern.compile(
    """^(\d{4}-\d{1,2}-\d{1,2})([ T](\d{1,2}:\d{1,2}(:\d{1,2}(\.\d{1,6})?)?))?\s+(\S+)$""")
  private val noZone = java.util.regex.Pattern.compile(
    """^(\d{4}-\d{1,2}-\d{1,2})([ T](\d{1,2}:\d{1,2}(:\d{1,2}(\.\d{1,6})?)?))?$""")

  /** → (instant micros, zone id) or None on parse failure. */
  def parse(s: String): Option[(Long, String)] = {
    val mz = withZone.matcher(s)
    val (datePart, timePart, zonePart) =
      if (mz.matches() && isZone(mz.group(6)))
        (mz.group(1), Option(mz.group(3)), mz.group(6))
      else {
        val m0 = noZone.matcher(s)
        if (!m0.matches()) return None
        (m0.group(1), Option(m0.group(3)), Tstz.sessionZone)
      }
    try {
      val ld = java.time.LocalDate.parse(datePart,
        java.time.format.DateTimeFormatter.ofPattern("yyyy-M-d"))
      val lt = timePart match {
        case Some(t) =>
          java.time.LocalTime.parse(t,
            java.time.format.DateTimeFormatter.ofPattern("H:m[:s[.SSSSSS][.SSSSS][.SSSS][.SSS][.SS][.S]]"))
        case None => java.time.LocalTime.MIDNIGHT
      }
      val zid = java.time.ZoneId.of(zonePart, java.time.ZoneId.SHORT_IDS)
      val inst = java.time.ZonedDateTime.of(ld, lt, zid).toInstant
      Some((inst.getEpochSecond * 1000000L + inst.getNano / 1000L, zonePart))
    } catch { case _: java.time.DateTimeException => None }
  }

  def isZone(z: String): Boolean =
    try { java.time.ZoneId.of(z, java.time.ZoneId.SHORT_IDS); true }
    catch { case _: java.time.DateTimeException => false }
}

/** Registry-level dispatch for functions whose tstz form differs from the
  * session-zone form: the builder cannot see argument types, so the choice
  * is deferred to resolution. */
case class TstzAware(tag: String, child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override lazy val replacement: Expression =
    if (Tstz.isTstz(child.dataType)) tag match {
      case "iso8601" => TstzIso8601(child)
      case "tz_hour" => TstzZonePart(child, minutePart = false)
      case "tz_minute" => TstzZonePart(child, minutePart = true)
    } else if (Ttz.isTtz(child.dataType)) tag match {
      // ttz: the value's zone offset at the 1970-01-01 frame
      case "tz_hour" => TtzZonePart(child, minutePart = false)
      case "tz_minute" => TtzZonePart(child, minutePart = true)
      case "iso8601" => TstzIso8601(TtzToTstz(child))
    } else tag match {
      case "iso8601" => Iso8601(child)
      case "tz_hour" => TimeZonePart(child, minutePart = false)
      case "tz_minute" => TimeZonePart(child, minutePart = true)
    }
  override protected def withNewChildInternal(c: Expression): TstzAware =
    copy(child = c)
}

/** Render a tstz as the reference does (DateTimeUtils.java
  * TIMESTAMP_WITH_TIME_ZONE_FORMATTER, Joda 'yyyy-MM-dd HH:mm:ss.SSS ZZZ'):
  * wall time in the value's zone + the zone id as stored. */
case class TstzToString(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val row = child.eval(input).asInstanceOf[InternalRow]
    if (row == null || row.isNullAt(0) || row.isNullAt(1)) return null
    val micros = row.getLong(0)
    val zone = row.getUTF8String(1).toString
    val zdt = java.time.Instant.EPOCH
      .plus(micros, java.time.temporal.ChronoUnit.MICROS)
      .atZone(java.time.ZoneId.of(zone, java.time.ZoneId.SHORT_IDS))
    UTF8String.fromString(zdt.format(java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")) + " " + zone)
  }
  override protected def withNewChildInternal(c: Expression): TstzToString =
    copy(child = c)
}

/** timezone_hour / timezone_minute over tstz: the VALUE's zone offset at
  * the instant (DateTimeFunctions.java timeZoneHourFromTimestampWithTimeZone).
  * Non-tstz input keeps the session-zone behavior (TimeZonePart). */
case class TstzZonePart(child: Expression, minutePart: Boolean)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val row = child.eval(input).asInstanceOf[InternalRow]
    if (row == null || row.isNullAt(0) || row.isNullAt(1)) return null
    val off = Tstz.offsetSeconds(row.getUTF8String(1).toString, row.getLong(0))
    if (minutePart) (off % 3600) / 60L else off / 3600L
  }
  override protected def withNewChildInternal(c: Expression): TstzZonePart =
    copy(child = c)
}

/** format_datetime over tstz: the wall time AND the zone tokens render in
  * the VALUE's zone, not the session's (DateTimeFunctions.java
  * formatDatetimeWithTimeZone formats at the value's chronology). Joda
  * zone-token runs translate to java.time: ZZZ→VV (zone id), ZZ→xxx
  * (±HH:mm), Z→Z (±HHmm); 'z'/'zzzz' (short/full names) agree. */
case class TstzFormat(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  @transient private lazy val literalFormatter =
    right match {
      case Literal(p, StringType) if p != null =>
        java.time.format.DateTimeFormatter
          .ofPattern(Tstz.jodaZoneTokens(p.toString))
      case _ => null
    }
  override def eval(input: InternalRow): Any = {
    val row = left.eval(input).asInstanceOf[InternalRow]
    if (row == null || row.isNullAt(0) || row.isNullAt(1)) return null
    val pat = right.eval(input)
    if (pat == null) return null
    val zdt = java.time.Instant.EPOCH
      .plus(row.getLong(0), java.time.temporal.ChronoUnit.MICROS)
      .atZone(java.time.ZoneId.of(row.getUTF8String(1).toString,
        java.time.ZoneId.SHORT_IDS))
    val fmt =
      if (literalFormatter != null) literalFormatter
      else java.time.format.DateTimeFormatter
        .ofPattern(Tstz.jodaZoneTokens(pat.toString))
    UTF8String.fromString(zdt.format(fmt))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : TstzFormat = copy(left = l, right = r)
}

/** Type-dispatched format_datetime: tstz input formats at the value's
  * zone (TstzFormat); everything else keeps Spark's session-zone
  * DateFormatClass over the wall view. */
case class TstzFormatDatetime(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {
  override lazy val replacement: Expression =
    if (Tstz.isTstz(left.dataType)) TstzFormat(left, right)
    else {
      // TypeCoercion/CheckAnalysis never see inside a replacement, so the
      // DATE/varchar→timestamp cast the analyzer used to insert must be
      // built here explicitly
      val wall = TstzWall(left)
      val ts =
        if (wall.dataType == TimestampType) wall
        else Cast(wall, TimestampType)
      DateFormatClass(ts, right,
        // ResolveTimeZone does not reach inside a replacement — fill the
        // session zone ourselves (same value the rule would assign)
        Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
    }
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : TstzFormatDatetime = copy(left = l, right = r)
}

/** to_iso8601 over tstz: offset-rendered instant in the value's zone
  * (DateTimeFunctions.java toISO8601FromTimestampWithTimeZone). */
case class TstzIso8601(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = {
    val row = child.eval(input).asInstanceOf[InternalRow]
    if (row == null || row.isNullAt(0) || row.isNullAt(1)) return null
    val zdt = java.time.Instant.EPOCH
      .plus(row.getLong(0), java.time.temporal.ChronoUnit.MICROS)
      .atZone(java.time.ZoneId.of(row.getUTF8String(1).toString,
        java.time.ZoneId.SHORT_IDS))
    UTF8String.fromString(zdt.format(java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSxxx")))
  }
  override protected def withNewChildInternal(c: Expression): TstzIso8601 =
    copy(child = c)
}
