package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** Presto → Spark function-name/semantics compatibility layer.
  *
  * The reference registers ~250 scalar/aggregate names in
  * presto-main/src/main/java/com/facebook/presto/metadata/FunctionRegistry
  * .java:406-560. Spark covers nearly all semantics but under different
  * names / argument orders; this registry closes the gap so Presto SQL runs
  * unchanged through `Engine.sql`.
  *
  * Mechanism: each builder either delegates to a Spark builtin via
  * `UnresolvedFunction` (resolved by the analyzer — no private constructor
  * coupling) or constructs a small Catalyst expression tree. Aggregate
  * compositions call `.toAggregateExpression()` explicitly.
  */
object PrestoFunctions {

  private def fn(name: String, args: Seq[Expression]): Expression =
    UnresolvedFunction(name, args, isDistinct = false)

  private def lit(v: Any): Expression = Literal(v)

  /** array<row(k,v)> → map<k, array<v>>: distinct keys, then per-key value
    * collection (MapFromEntriesFunction/MultimapFromEntriesFunction). Struct
    * fields accessed by ordinal (Presto rows are anonymous); lambdas
    * constructed directly — they cannot pass through UnresolvedFunction. */
  private def multimapFromEntries(entries: Expression): Expression = {
    val k = UnresolvedNamedLambdaVariable(Seq("mfe_k"))
    val p = UnresolvedNamedLambdaVariable(Seq("mfe_p"))
    val q = UnresolvedNamedLambdaVariable(Seq("mfe_q"))
    val r = UnresolvedNamedLambdaVariable(Seq("mfe_r"))
    val keys = ArrayDistinct(ArrayTransform(entries,
      LambdaFunction(GetStructField(p, 0), Seq(p))))
    MapFromArrays(keys, ArrayTransform(keys, LambdaFunction(
      ArrayTransform(
        ArrayFilter(entries, LambdaFunction(
          EqualTo(GetStructField(q, 0), k), Seq(q))),
        LambdaFunction(GetStructField(r, 1), Seq(r))),
      Seq(k))))
  }

  /** Presto substr: zero start yields '', and a negative start pointing
    * before the string head yields '' too (StringFunctions.java:215,262 —
    * `if (start + length < 0) return EMPTY`); Spark clamps both to the
    * head. Everything else (negative-from-end, past-end, len<=0) agrees
    * with Spark's Substring. */
  private def prestoSubstr(e: Seq[Expression]): Expression = {
    val base =
      if (e.length >= 3)
        Substring(e(0), Cast(e(1), IntegerType), Cast(e(2), IntegerType))
      else Substring(e(0), Cast(e(1), IntegerType), Literal(Int.MaxValue))
    val start = Cast(e(1), LongType)
    If(Or(EqualTo(start, Literal(0L)),
      And(LessThan(start, Literal(0L)),
        GreaterThan(UnaryMinus(start), Cast(Length(e(0)), LongType)))),
      Literal(""), base)
  }

  /** exists(arr, x -> x IS NULL) — lambda constructed directly. */
  private def arrayHasNull(arr: Expression): Expression = {
    val x = UnresolvedNamedLambdaVariable(Seq("ahn_x"))
    ArrayExists(arr, LambdaFunction(IsNull(x), Seq(x)))
  }

  private def litInt(e: Expression): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case Literal(l: Long, LongType) => l.toInt
    case other => throw new IllegalArgumentException(
      s"expected integer literal, got $other")
  }

  /** MySQL date pattern (Presto date_format/date_parse,
    * DateTimeFunctions.java) → java.time pattern. */
  def mysqlToJavaPattern(p: String): String = {
    val sb = new StringBuilder
    var i = 0
    var literal = new StringBuilder
    def flush(): Unit = {
      if (literal.nonEmpty) {
        val s = literal.toString
        if (s.exists(_.isLetter)) sb.append("'").append(s.replace("'", "''")).append("'")
        else sb.append(s)
        literal = new StringBuilder
      }
    }
    while (i < p.length) {
      if (p(i) == '%' && i + 1 < p.length) {
        flush()
        p(i + 1) match {
          case 'Y' => sb.append("yyyy"); case 'y' => sb.append("yy")
          case 'm' => sb.append("MM");   case 'c' => sb.append("M")
          case 'd' => sb.append("dd");   case 'e' => sb.append("d")
          case 'H' => sb.append("HH");   case 'k' => sb.append("H")
          case 'h' | 'I' => sb.append("hh"); case 'l' => sb.append("h")
          case 'i' => sb.append("mm")
          case 'S' | 's' => sb.append("ss")
          case 'f' => sb.append("SSSSSS")
          case 'p' => sb.append("a")
          case 'M' => sb.append("MMMM"); case 'b' => sb.append("MMM")
          case 'W' => sb.append("EEEE"); case 'a' => sb.append("EEE")
          case 'j' => sb.append("DDD")
          case 'T' => sb.append("HH:mm:ss")
          // %v is ISO week-of-year; week-based format patterns are banned on
          // Spark >= 3.0. date_format lowers %v/%x via mysqlFormatWithWeek
          // BEFORE this translation runs; only date_parse still reaches
          // here, where the token passes through verbatim (documented
          // divergence — week-numbers are not round-trippable in Spark).
          case 'v' => literal.append("%v")
          case '%' => literal.append('%')
          case other => literal.append(other)
        }
        i += 2
      } else { literal.append(p(i)); i += 1 }
    }
    flush()
    sb.toString
  }

  /** Presto's MySQL `%v` maps to Joda appendWeekOfWeekyear(2) and `%x` to
    * appendWeekyear(4,4) (DateTimeFunctions.java:1201-1205); Spark bans
    * week-based pattern LETTERS but exposes the same ISO values through
    * weekofyear() and the yearofweek extract field. Lower a pattern that
    * uses them to concat(format(segment), lpad(week,2,'0'), ...) so the
    * remaining tokens still go through the normal translation. */
  private def mysqlFormatWithWeek(ts: Expression, p: String): Expression = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[Expression]
    val seg = new StringBuilder
    def flushSeg(): Unit = if (seg.nonEmpty) {
      parts += DateFormatClass(ts, lit(mysqlToJavaPattern(seg.toString)))
      seg.clear()
    }
    var i = 0
    while (i < p.length) {
      if (p(i) == '%' && i + 1 < p.length && p(i + 1) == 'v') {
        flushSeg()
        parts += fn("lpad",
          Seq(Cast(fn("weekofyear", Seq(ts)), StringType), lit(2), lit("0")))
        i += 2
      } else if (p(i) == '%' && i + 1 < p.length && p(i + 1) == 'x') {
        flushSeg()
        parts += fn("lpad", Seq(Cast(
          fn("date_part", Seq(lit("yearofweek"), ts)), StringType),
          lit(4), lit("0")))
        i += 2
      } else if (p(i) == '%' && i + 1 < p.length) {
        seg.append(p(i)).append(p(i + 1)); i += 2
      } else { seg.append(p(i)); i += 1 }
    }
    flushSeg()
    if (parts.length == 1) parts.head else fn("concat", parts.toSeq)
  }

  /** Parse-side ISO-week tokens: Presto's date_parse with `%v`
    * (week-of-weekyear) / `%x` (weekyear) builds a Joda parser
    * (DateTimeFunctions.java:1201-1205) whose unspecified fields default
    * to the epoch, so `date_parse('1998 53', '%x %v')` is the MONDAY of
    * ISO week 53 of weekyear 1998 (TestDateTimeFunctionsBase:795). Spark
    * bans week-based pattern letters, so lower the parse to arithmetic:
    * ISO weekyear X's week 1 contains Jan 4 → monday(Jan 4 of X) +
    * (v-1) weeks. Only patterns whose %-tokens are exactly {%v, %x, %%}
    * plus literal separators take this path (mixed week+field patterns
    * keep the documented pass-through divergence); unmatchable input
    * yields NULL where the reference errors (the repo-wide posture). */
  private def weekOnlyPattern(p: String): Boolean = {
    var i = 0
    var hasWeek = false
    while (i < p.length) {
      if (p(i) == '%' && i + 1 < p.length) {
        p(i + 1) match {
          case 'v' | 'x' => hasWeek = true
          case '%' =>
          case _ => return false
        }
        i += 2
      } else i += 1
    }
    hasWeek
  }

  private def mysqlParseWithWeek(input: Expression, p: String): Expression = {
    val rx = new StringBuilder
    var i = 0
    var group = 0
    var gx = -1
    var gv = -1
    val lit0 = new StringBuilder
    def flushLit(): Unit = if (lit0.nonEmpty) {
      rx.append(java.util.regex.Pattern.quote(lit0.toString)); lit0.clear()
    }
    while (i < p.length) {
      if (p(i) == '%' && i + 1 < p.length) {
        p(i + 1) match {
          case 'v' => flushLit(); group += 1; gv = group; rx.append("(\\d{1,2})")
          case 'x' => flushLit(); group += 1; gx = group; rx.append("(\\d{1,4})")
          case '%' => lit0.append('%')
          case other => lit0.append(other)
        }
        i += 2
      } else { lit0.append(p(i)); i += 1 }
    }
    flushLit()
    val pattern = lit("^" + rx.toString)
    def grp(g: Int, dflt: Int): Expression =
      if (g < 0) lit(dflt)
      else Cast(fn("regexp_extract", Seq(input, pattern, lit(g))), IntegerType)
    val x = grp(gx, 1970) // Joda epoch default weekyear
    val v = grp(gv, 1)
    // monday of (weekyear x, week v): trunc(Jan 4 of x, 'WEEK') + (v-1)*7
    val monday = fn("date_add", Seq(
      fn("trunc", Seq(fn("make_date", Seq(x, lit(1), lit(4))), lit("WEEK"))),
      Multiply(Subtract(v, lit(1)), lit(7))))
    val matched = fn("regexp_like", Seq(input, pattern))
    If(EqualNullSafe(matched, Literal(true)),
      Cast(monday, TimestampType), Literal(null, TimestampType))
  }

  /** Teradata date token set → java.time pattern (DateFormatParser.java:
    * 28-62). Tokens are uppercase, longest-match (HH24 before HH, YYYY
    * before YY); unrecognized LETTERS throw like the reference's lexer;
    * other characters pass through as literals. */
  def teradataToJavaPattern(p: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < p.length) {
      val rest = p.substring(i)
      if (rest.startsWith("YYYY")) { sb.append("yyyy"); i += 4 }
      else if (rest.startsWith("YY")) { sb.append("yy"); i += 2 }
      else if (rest.startsWith("MM")) { sb.append("MM"); i += 2 }
      else if (rest.startsWith("DD")) { sb.append("dd"); i += 2 }
      else if (rest.startsWith("HH24")) { sb.append("HH"); i += 4 }
      else if (rest.startsWith("HH")) { sb.append("hh"); i += 2 }
      else if (rest.startsWith("MI")) { sb.append("mm"); i += 2 }
      else if (rest.startsWith("SS")) { sb.append("ss"); i += 2 }
      else {
        val c = p.charAt(i)
        if (c.isLetter) throw new IllegalArgumentException(
          s"Failed to tokenize string [$c] at offset [$i]")
        if (c == '\'') sb.append("''") else sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  private def teradataPattern(e: Expression): Expression = e match {
    case Literal(s, StringType) if s != null =>
      Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
        teradataToJavaPattern(s.toString)), StringType)
    case other => other
  }

  private def translatedPattern(e: Expression): Expression = e match {
    case Literal(s, StringType) if s != null =>
      Literal(org.apache.spark.unsafe.types.UTF8String.fromString(
        mysqlToJavaPattern(s.toString)), StringType)
    case other => other // non-literal pattern: pass through (caller beware)
  }

  /** name → builder. */
  val registry: Map[String, Seq[Expression] => Expression] = Map(
    // CHAR(n) type marker emitted by PrestoSql.castChar — identity value,
    // consumed (and stripped) by the PrestoDialect.SqlSemantics
    // char-comparison lowering (Chars.compareChars pad-insensitivity).
    "graft_char_mark" -> (e => CharMark(e.head)),
    // --- string (StringFunctions.java) ---
    "strpos" -> (e => fn("locate", Seq(e(1), e(0)))),
    // Presto split's delimiter is a LITERAL string; Spark's builtin treats
    // it as a regex. Quote literal delimiters (\Q...\E) for parity; dynamic
    // delimiters pass through as regex (documented divergence).
    "split" -> { e =>
      val delim = e(1) match {
        case Literal(s, StringType) if s != null =>
          lit(java.util.regex.Pattern.quote(s.toString))
        case other => other
      }
      StringSplit(e(0), delim, if (e.length > 2) e(2) else lit(-1))
    },
    // out-of-range index → NULL (StringFunctions.java:374); Spark's builtin
    // returns '' which is indistinguishable from a real empty field.
    // Delimiter is literal, like split above.
    "split_part" -> { e =>
      e(1) match {
        // empty delimiter: every CODE POINT is a part, index past the end
        // is NULL (StringFunctions.java:368)
        case Literal(s, StringType) if s != null && s.toString.isEmpty =>
          If(GreaterThan(Cast(e(2), LongType), Cast(Length(e(0)), LongType)),
            Literal(null, StringType),
            Substring(e(0), Cast(e(2), IntegerType), lit(1)))
        case d =>
          val delim = d match {
            case Literal(s, StringType) if s != null =>
              lit(java.util.regex.Pattern.quote(s.toString))
            case other => other
          }
          val parts = StringSplit(e(0), delim, lit(-1))
          If(GreaterThan(e(2), Size(parts)),
            Literal(null, StringType), ElementAt(parts, e(2)))
      }
    },
    // full-codepoint chr/codepoint (Spark's char/ascii are ASCII-bounded)
    "chr" -> (e => CodePointChar(e(0))),
    // Presto log(number, base) — Spark's builtin is log(base, number).
    "log" -> (e => if (e.length == 2) Logarithm(e(1), e(0)) else fn("ln", e)),
    // 2-arg trims: Spark SQL's form is (trimStr, srcStr) — flipped vs
    // Presto's (srcStr, charsToTrim). Catalyst classes constructed directly
    // (these entries shadow the builtin names). The 1-arg forms trim the
    // full Java/airlift WHITESPACE set (SliceUtf8.leftTrim —   et al.,
    // pinned by TestStringFunctions:564), not just ASCII space.
    "trim" -> (e => if (e.length == 1) StringTrim(e(0), Some(whitespaceLit))
      else StringTrim(e(0), Some(e(1)))),
    "ltrim" -> (e => if (e.length == 1) StringTrimLeft(e(0), Some(whitespaceLit))
      else StringTrimLeft(e(0), Some(e(1)))),
    "rtrim" -> (e => if (e.length == 1) StringTrimRight(e(0), Some(whitespaceLit))
      else StringTrimRight(e(0), Some(e(1)))),
    // substr(s, 0[, len]) → '' (StringFunctions.java:215); Spark treats a
    // zero start as the string head.
    "substr" -> (e => prestoSubstr(e)),
    "substring" -> (e => prestoSubstr(e)),
    "codepoint" -> (e => FirstCodePoint(e(0))),
    "levenshtein_distance" -> (e => fn("levenshtein", e)),
    "split_to_map" -> (e => fn("str_to_map", Seq(e(0), e(1), e(2)))),
    "to_utf8" -> (e => fn("encode", Seq(e(0), lit("UTF-8")))),
    // invalid sequences REPLACED (default U+FFFD) / custom / deleted —
    // Spark's decode throws on malformed bytes
    "from_utf8" -> { e =>
      val rep = e.lift(1) match {
        case None => "�"
        case Some(Literal(s, StringType)) if s != null => s.toString
        case Some(Literal(n, IntegerType)) =>
          new String(Character.toChars(n.asInstanceOf[Int]))
        case Some(Literal(n, LongType)) =>
          new String(Character.toChars(n.asInstanceOf[Long].toInt))
        case Some(other) => throw new IllegalArgumentException(
          s"from_utf8 replacement must be a literal, got $other")
      }
      FromUtf8Lenient(e(0), rep)
    },
    "normalize" -> (e => NormalizeString(e(0),
      e.lift(1).collect {
        case Literal(s, StringType) if s != null => s.toString
      }.getOrElse("NFC"))),
    "word_stem" -> (e => WordStem(e.head)),
    // graft extensions (not reference names): web-corpus preprocessing
    // scalars, SQL-callable for Engine/extension users.
    "html_to_text" -> (e => HtmlText(e.head)),
    "multi_match_stats" -> (e => MultiMatchStats(e.head, e.drop(1).map {
      case Literal(s, StringType) if s != null => s.toString
      case other => throw new IllegalArgumentException(
        s"multi_match_stats patterns must be string literals, got $other")
    })),
    // --- math (MathFunctions.java) ---
    // SIGNED base conversion (Long.toString/parseLong, lowercase) —
    // Spark's conv() is unsigned 64-bit, so negatives round-trip wrong.
    "to_base" -> (e => StaticInvoke(scalarOpsCls, StringType, "toBase",
      Seq(Cast(e(0), LongType), Cast(e(1), LongType)),
      Seq(LongType, LongType), propagateNull = true, returnNullable = false)),
    "from_base" -> (e => StaticInvoke(scalarOpsCls, LongType, "fromBase",
      Seq(Cast(e(0), StringType), Cast(e(1), LongType)),
      Seq(StringType, LongType), propagateNull = true, returnNullable = false)),
    // truncate(x) → round toward zero; truncate(x, n) → at scale n
    // (MathFunctions truncate + the decimal variants).
    "truncate" -> { e =>
      def trunc(x: Expression): Expression =
        If(GreaterThanOrEqual(x, lit(0.0d)),
          fn("floor", Seq(x)), fn("ceil", Seq(x)))
      if (e.length == 1) Cast(trunc(e(0)), DoubleType)
      else {
        val p = Pow(lit(10.0d), Cast(e(1), DoubleType))
        Cast(Divide(trunc(Multiply(Cast(e(0), DoubleType), p)), p), DoubleType)
      }
    },
    "infinity" -> (_ => lit(Double.PositiveInfinity)),
    "nan" -> (_ => lit(Double.NaN)),
    "e" -> (_ => lit(math.E)),
    // random() → double in [0,1); random(n) → integer in [0,n) of n's type
    // (MathFunctions.java:575-605).
    "random" -> (e =>
      if (e.isEmpty) fn("rand", e)
      else Cast(fn("floor", Seq(Multiply(fn("rand", Nil),
        Cast(e(0), DoubleType)))),
        e(0) match { case r if r.resolved => r.dataType; case _ => LongType })),
    // RETURNS NULL ON NULL (MathFunctions.java isNaN/isFinite/isInfinite
    // annotations); Spark's isnan(NULL) is false.
    "is_nan" -> (e => If(IsNull(e(0)),
      Literal(null, BooleanType), fn("isnan", e))),
    "is_finite" -> (e => And(Not(fn("isnan", e)),
      LessThan(fn("abs", e), lit(Double.PositiveInfinity)))),
    "is_infinite" -> (e => EqualTo(fn("abs", e), lit(Double.PositiveInfinity))),
    "cosine_similarity" -> (e => CosineSimilarity(e(0), e(1))),
    // --- bitwise (BitwiseFunctions.java) ---
    "bitwise_and" -> (e => BitwiseAnd(e(0), e(1))),
    "bitwise_or" -> (e => BitwiseOr(e(0), e(1))),
    "bitwise_xor" -> (e => BitwiseXor(e(0), e(1))),
    "bitwise_not" -> (e => BitwiseNot(e(0))),
    // Presto bit_count(num, bits): population count of the low `bits` of
    // num's two's-complement form (BitwiseFunctions.java:31).
    "bit_count" -> { e =>
      val num = Cast(e(0), LongType)
      if (e.length == 1) BitwiseCount(num)
      else {
        val mask = Subtract(
          ShiftLeft(Literal(1L), Cast(e(1), IntegerType)), Literal(1L))
        Cast(If(EqualTo(Cast(e(1), IntegerType), Literal(64)),
          BitwiseCount(num), BitwiseCount(BitwiseAnd(num, mask))), LongType)
      }
    },
    // --- datetime (DateTimeFunctions.java) ---
    // ParseToTimestamp/ParseToDate constructed DIRECTLY: delegating through
    // the name would hit the Teradata to_timestamp/to_date compat entries
    // (temp functions shadow builtins) and re-translate the pattern.
    "date_parse" -> (e => e(1) match {
      case Literal(s, StringType) if s != null && weekOnlyPattern(s.toString) =>
        mysqlParseWithWeek(e(0), s.toString)
      case _ => new ParseToTimestamp(e(0), translatedPattern(e(1)))
    }),
    // date_format shadows the builtin name → construct the Catalyst class
    // directly (delegating via UnresolvedFunction would recurse into us).
    "date_format" -> { e =>
      e(1) match {
        case Literal(s, StringType) if s != null && s.toString.contains("%") =>
          val p = s.toString
          if (p.contains("%v") || p.contains("%x"))
            mysqlFormatWithWeek(TstzWall(e(0)), p)
          else TstzWallFormat(e(0), translatedPattern(e(1)))
        case _ => TstzWallFormat(e(0), e(1))
      }
    },
    // Joda-pattern pair (format_datetime/parse_datetime): Joda and java.time
    // patterns agree on the y/M/d/H/m/s/S core; exotic tokens (e.g. Joda 'ZZ')
    // diverge — documented divergence, no translation attempted.
    // tstz input formats at the VALUE's zone, zone tokens included
    // (DateTimeFunctions.java formatDatetimeWithTimeZone); other datetime
    // types keep the session-zone DateFormatClass
    "format_datetime" -> (e => TstzFormatDatetime(e(0), e(1))),
    "parse_datetime" -> (e => new ParseToTimestamp(e(0), e(1))),
    // tstz → the INSTANT's epoch (to_unixtime is zone-independent)
    "to_unixtime" -> (e =>
      Cast(fn("unix_timestamp", Seq(TstzInstant(e.head))), DoubleType)),
    "from_unixtime" -> (e => fn("timestamp_seconds", Seq(e(0)))),
    "to_iso8601" -> (e => TstzAware("iso8601", e(0))),
    "from_iso8601_timestamp" -> (e => Cast(e(0), TimestampType)),
    "from_iso8601_date" -> (e => Cast(e(0), DateType)),
    // field extractors view a tstz's WALL time in the value's zone
    // (DateTimeFunctions.java *FromTimestampWithTimeZone forms) — TstzWall
    // is the identity on every other datetime type
    "day_of_week" -> (e => Add(fn("weekday", Seq(TstzWall(e.head))), lit(1))),
    "dow" -> (e => Add(fn("weekday", Seq(TstzWall(e.head))), lit(1))),
    "day_of_month" -> (e => fn("day", Seq(TstzWall(e.head)))),
    "day_of_year" -> (e => fn("dayofyear", Seq(TstzWall(e.head)))),
    "doy" -> (e => fn("dayofyear", Seq(TstzWall(e.head)))),
    "week" -> (e => fn("weekofyear", Seq(TstzWall(e.head)))),
    "week_of_year" -> (e => fn("weekofyear", Seq(TstzWall(e.head)))),
    // week-based format patterns are banned on Spark >= 3.0; YEAROFWEEK is a
    // supported extract field.
    "year_of_week" -> (e =>
      Cast(fn("date_part", Seq(lit("yearofweek"), TstzWall(e(0)))), IntegerType)),
    "yow" -> (e =>
      Cast(fn("date_part", Seq(lit("yearofweek"), TstzWall(e(0)))), IntegerType)),
    // no 'millisecond'/'microsecond' extract field in Spark — derive
    // ms-of-second from the 'SSS' format pattern.
    "millisecond" -> (e =>
      Cast(TstzWallFormat(e(0), lit("SSS")), IntegerType)),
    // --- timestamp with time zone (TimestampWithTimeZoneType.java) ---
    "graft_to_tstz" -> (e => GraftToTstz(e.head)),
    // TIME WITH TIME ZONE (functions/Ttz.scala): literals + CAST routing
    "graft_to_ttz" -> (e => TtzCast(e.head)),
    "graft_to_ipaddress" -> (e => IpCast(e.head)),
    "graft_at_timezone" -> (e => GraftAtTimezone(e(0), e(1))),
    "with_timezone" -> (e => GraftWithTimezone(e(0), e(1))),
    // Presto date_add('unit', n, ts) / date_diff('unit', from, to): Spark's
    // PARSER owns these names and accepts the same arg order with an
    // UNQUOTED unit (date_add(MONTH, 2, d)); QUOTED-unit calls are
    // rerouted to these *_unit aliases by the PrestoSql front-end (the
    // parser rejects the quoted form before any registry lookup).
    "date_add_unit" -> (e => DateTimeShift.add(e(0), e(1), e(2))),
    "date_diff_unit" -> (e => DateTimeShift.diff(e(0), e(1), e(2))),
    // --- json (JsonFunctions.java) ---
    "json_extract_scalar" -> (e => fn("get_json_object", e)),
    "json_extract" -> (e => fn("get_json_object", e)),
    "json_format" -> (e => e.head),
    // json_parse VALIDATES (JsonFunctions.java json_parse throws
    // INVALID_FUNCTION_ARGUMENT on malformed input — try(json_parse(x))
    // must recover to NULL). The value itself stays the original text (the
    // engine's JSON is a string type); validity is probed with
    // get_json_object at '$', which yields NULL only for malformed
    // documents — except the literal 'null', which is valid JSON.
    "json_parse" -> { e =>
      val x = e.head
      val probe = fn("get_json_object", Seq(x, lit("$")))
      // valid → CANONICAL text (compact, object keys sorted — the
      // reference's SORTED_MAPPER recipe, JsonFunctions.java:148)
      val canon = StaticInvoke(scalarOpsCls, StringType, "jsonNormalize",
        Seq(Cast(x, StringType)), Seq(StringType), propagateNull = true,
        returnNullable = false)
      CaseWhen(Seq(
        (IsNull(x), Cast(Literal(null), StringType)),
        (Or(IsNotNull(probe),
          EqualTo(StringTrim(x, None), lit("null"))), canon)),
        Some(Cast(fn("raise_error", Seq(
          Concat(Seq(lit("Cannot convert value to JSON: '"),
            Cast(x, StringType), lit("'"))))), StringType)))
    },
    // size of the array OR object at the path; scalars → 0
    // (JsonFunctions.java jsonSize).
    "json_size" -> { e =>
      val ext = fn("get_json_object", e)
      If(IsNull(ext), Cast(Literal(null), IntegerType),
        CaseWhen(Seq(
          (StartsWith(ext, lit("[")),
            fn("json_array_length", Seq(ext))),
          (StartsWith(ext, lit("{")),
            Size(fn("json_object_keys", Seq(ext))))),
          Some(lit(0))))
    },
    // NULL input → NULL (@SqlNullable), not false
    "is_json_scalar" -> (e => If(IsNull(e(0)), Literal(null, BooleanType),
      Not(RLike(fn("trim", Seq(e(0))), lit("^[\\[{]"))))),
    // STRICTLY typed element match: the string "8" never equals the
    // number 8 (JsonFunctions.java jsonArrayContains overloads)
    "json_array_contains" -> { e =>
      // an unresolved second argument (rare: bare column) defaults to the
      // string overload — the builder must dispatch on a type NOW
      val vt = scala.util.Try(e(1).dataType).getOrElse(StringType)
      val (method, arg, argT) = vt match {
        case BooleanType => ("jsonArrayContainsBool", e(1), BooleanType)
        case ByteType | ShortType | IntegerType | LongType =>
          ("jsonArrayContainsLong", Cast(e(1), LongType), LongType)
        case FloatType | DoubleType | _: DecimalType =>
          ("jsonArrayContainsDouble", Cast(e(1), DoubleType), DoubleType)
        case _ => ("jsonArrayContainsString", Cast(e(1), StringType), StringType)
      }
      StaticInvoke(scalarOpsCls, BooleanType, method,
        Seq(Cast(e(0), StringType), arg), Seq(StringType, argT),
        propagateNull = true, returnNullable = true)
    },
    // index-th element (negative = from the end) as JSON text; a JSON null
    // element or non-array input → SQL NULL (JsonFunctions.java:376)
    "json_array_get" -> (e =>
      StaticInvoke(scalarOpsCls, StringType, "jsonArrayGet",
        Seq(Cast(e(0), StringType), Cast(e(1), LongType)),
        Seq(StringType, LongType), propagateNull = true,
        returnNullable = true)),
    // --- regex (JoniRegexpFunctions.java) ---
    // spark.graft.regex.maxSteps > 0 (read at resolution) routes the
    // family through steps-bounded evaluators (functions/SafeRegex.scala)
    // — the reference's FeaturesConfig RegexLibrary defense re-expressed;
    // 0 (default) keeps Spark's codegen'd builtins on the hot path.
    "regexp_like" -> (e => {
      val st = SafeRegex.confSteps
      if (st > 0) BoundedRegexpLike(e(0), e(1), st) else RLike(e(0), e(1))
    }),
    // regex semantics — must NOT route through the literal-split shim
    // (fn("split") would resolve to the shadowing temp registration).
    "regexp_split" -> (e => {
      val st = SafeRegex.confSteps
      val lim = if (e.length > 2) e(2) else lit(-1)
      if (st > 0) BoundedRegexpSplit(e(0), e(1), lim, st)
      else StringSplit(e(0), e(1), lim)
    }),
    // 2-arg form strips matches; 3-arg with a lambda replaces each match by
    // the lambda of its capture groups (JoniRegexpFunctions.java). RegExp
    // Replace constructed directly — the builtin name is shadowed by this
    // very entry. (The lambda variant stays unbounded — its per-match
    // lambda already bounds work per match.)
    "regexp_replace" -> (e => {
      val st = SafeRegex.confSteps
      if (e.length == 2)
        if (st > 0) BoundedRegexpReplace(e(0), e(1), Literal(""), st)
        else RegExpReplace(e(0), e(1), Literal(""))
      else e(2) match {
        case _: LambdaFunction => RegexpReplaceLambda(e(0), e(1), e(2))
        case repl =>
          if (st > 0) BoundedRegexpReplace(e(0), e(1), repl, st)
          else RegExpReplace(e(0), e(1), repl)
      }
    }),
    // Presto's 2-arg form returns the WHOLE match (group 0) and NULL when
    // nothing matches (JoniRegexpFunctions regexpExtract); Spark defaults
    // to group 1 and returns '' on no match.
    "regexp_extract" -> (e => {
      val st = SafeRegex.confSteps
      val g = if (e.length > 2) e(2) else lit(0)
      if (st > 0) BoundedRegexpExtract(e(0), e(1), g, st)
      else If(RLike(e(0), e(1)), RegExpExtract(e(0), e(1), g),
        Literal(null, StringType))
    }),
    "regexp_extract_all" -> (e => {
      val st = SafeRegex.confSteps
      val g = if (e.length > 2) e(2) else lit(0)
      if (st > 0) BoundedRegexpExtractAll(e(0), e(1), g, st)
      else RegExpExtractAll(e(0), e(1), g)
    }),
    "zip" -> (e => fn("arrays_zip", e)),
    // --- binary/hash (VarbinaryFunctions.java) ---
    "to_hex" -> (e => fn("hex", e)),
    "from_hex" -> (e => fn("unhex", e)),
    "to_base64" -> (e => fn("base64", e)),
    "from_base64" -> (e => fn("unbase64", e)),
    "sha256" -> (e => fn("unhex", Seq(fn("sha2", Seq(e(0), lit(256)))))),
    "sha512" -> (e => fn("unhex", Seq(fn("sha2", Seq(e(0), lit(512)))))),
    "sha1" -> (e => fn("unhex", Seq(fn("sha", e)))), // "sha" = builtin alias
    "hmac_sha256" -> (e => Hmac(e(0), e(1), "HmacSHA256")),
    "hmac_sha1" -> (e => Hmac(e(0), e(1), "HmacSHA1")),
    "hmac_sha512" -> (e => Hmac(e(0), e(1), "HmacSHA512")),
    "hmac_md5" -> (e => Hmac(e(0), e(1), "HmacMD5")),
    // URL-safe base64 (VarbinaryFunctions.java to/fromBase64Url).
    "to_base64url" -> (e => fn("translate",
      Seq(fn("base64", e), lit("+/"), lit("-_")))),
    "from_base64url" -> (e => fn("unbase64",
      Seq(fn("translate", Seq(e(0), lit("-_"), lit("+/")))))),
    "to_big_endian_32" -> (e => ToBigEndian(e(0), 32)),
    "to_big_endian_64" -> (e => ToBigEndian(e(0), 64)),
    "from_big_endian_32" -> (e => FromBigEndian(e(0), 32)),
    "from_big_endian_64" -> (e => FromBigEndian(e(0), 64)),
    "to_ieee754_32" -> (e => ToIeee754(Cast(e(0), DoubleType), 32)),
    "to_ieee754_64" -> (e => ToIeee754(Cast(e(0), DoubleType), 64)),
    "from_ieee754_32" -> (e => FromIeee754(e(0), 32)),
    "from_ieee754_64" -> (e => FromIeee754(e(0), 64)),
    "hamming_distance" -> (e => HammingDistance(e(0), e(1))),
    "normal_cdf" -> (e => NormalCdf(
      Cast(e(0), DoubleType), Cast(e(1), DoubleType), Cast(e(2), DoubleType))),
    "inverse_normal_cdf" -> (e => InverseNormalCdf(
      Cast(e(0), DoubleType), Cast(e(1), DoubleType), Cast(e(2), DoubleType))),
    "wilson_interval_lower" -> (e => WilsonInterval(
      Cast(e(0), DoubleType), Cast(e(1), DoubleType), Cast(e(2), DoubleType),
      upper = false)),
    "wilson_interval_upper" -> (e => WilsonInterval(
      Cast(e(0), DoubleType), Cast(e(1), DoubleType), Cast(e(2), DoubleType),
      upper = true)),
    "parse_duration" -> (e => ParseDuration(e(0))),
    "to_milliseconds" -> (e => IntervalMillis(e(0))),
    // AT TIME ZONE (DesugarAtTimeZoneRewriter): zone-preserving — the
    // instant is unchanged, the display zone moves (see Tstz.scala).
    "at_timezone" -> (e => GraftAtTimezone(e(0), e(1))),
    // localtime (DateTimeFunctions.java "localtime" special form): Presto's
    // bare-keyword TIME-of-day. Spark's parser has no niladic localtime, so
    // the callable form is localtime() (syntax divergence only — the TYPE
    // divergence is closed: Engine sessions enable spark.sql.timeType, so
    // this returns a true TIME value, as do TIME literals/casts/extracts).
    // Built as the Catalyst class directly: the compat current_time entry
    // below SHADOWS the builtin, and localtime must stay plain TIME.
    // precision 3: Presto's TIME is millisecond-resolution
    // (SPI/type/TimeType.java)
    "localtime" -> (_ =>
      new org.apache.spark.sql.catalyst.expressions.CurrentTime(lit(3))),
    // current_time (SqlBase.g4 #specialDateTimeFunction): Presto's type is
    // TIME WITH TIME ZONE at the session zone — wrap the TIME-of-day in the
    // ttz struct (closes the COVERAGE.md residue; on the UTC Engine session
    // the instant is unchanged, only the type/rendering gains the zone).
    "current_time" -> (_ => TimeToTtz(
      new org.apache.spark.sql.catalyst.expressions.CurrentTime(lit(3)))),
    // current_timezone() (DateTimeFunctions.java:132) is Spark-native with
    // identical name/semantics — no shim needed.
    // tstz → the VALUE's zone offset at the instant; otherwise the session
    // zone's (TimeZonePart)
    "timezone_hour" -> (e => TstzAware("tz_hour", e(0))),
    "timezone_minute" -> (e => TstzAware("tz_minute", e(0))),
    // Spark parse_url has no PORT key — extract from AUTHORITY.
    "url_extract_port" -> (e => Cast(fn("nullif", Seq(
      fn("regexp_extract",
        Seq(fn("parse_url", Seq(e(0), lit("AUTHORITY"))), lit(":([0-9]+)$"), lit(1))),
      lit(""))), LongType)),
    // --- array (Array*.java) ---
    // the planner-internal name for the ARRAY[...] constructor
    // (reference ArrayConstructor.java / TestExpressionInterpreter:1260)
    "array_constructor" -> (e => fn("array", e)),
    "cardinality" -> (e => Cardinality(e.head)),
    "contains" -> (e => fn("array_contains", e)),
    // a NULL element makes min/max NULL (ArrayMinFunction/ArrayMaxFunction
    // return null on any null entry); Spark's builtins skip nulls
    "array_min" -> (e => If(arrayHasNull(e(0)), Literal(null), ArrayMin(e(0)))),
    "array_max" -> (e => If(arrayHasNull(e(0)), Literal(null), ArrayMax(e(0)))),
    // flatten SKIPS null sub-arrays (TestArrayOperators:1707); Spark
    // returns NULL for the whole result
    "flatten" -> { e =>
      val x = UnresolvedNamedLambdaVariable(Seq("fl_x"))
      Flatten(ArrayFilter(e(0), LambdaFunction(IsNotNull(x), Seq(x))))
    },
    // the 0.206 implementation merges SORTED copies, so the output is
    // ascending (TestArrayOperators:1101 pins ['bar','foo'])
    "array_intersect" -> (e => SortArray(ArrayIntersect(e(0), e(1)), lit(true))),
    "repeat_value" -> (e => fn("array_repeat", e)),
    // Presto repeat(value, n) → ARRAY (RepeatFunction.java:32); the string
    // form does not exist in 0.206 (Spark's builtin of the same name is
    // string repeat — shadowed here).
    "repeat" -> (e => fn("array_repeat", e)),
    // ngrams(arr, n) → array of n-element sub-arrays (Presto ngrams).
    "ngrams" -> { e =>
      val i = UnresolvedNamedLambdaVariable(Seq("i"))
      ArrayTransform(
        fn("sequence", Seq(lit(1),
          fn("greatest", Seq(lit(1), Subtract(fn("size", Seq(e(0))),
            Subtract(e(1), lit(1))))))),
        LambdaFunction(Slice(e(0), i, e(1)), Seq(i)))
    },
    // --- lambda (higher-order) --- lambdas cannot pass through
    // UnresolvedFunction (analyzer rejects them pre-resolution), so the HOF
    // expression classes are constructed directly.
    "reduce" -> (e => ArrayAggregate(e(0), e(1), e(2), e(3))),
    "any_match" -> (e => ArrayExists(e(0), e(1))),
    "all_match" -> (e => ArrayForAll(e(0), e(1))),
    // ROW(a, b) anonymous-row constructor (SqlBase.g4 #rowConstructor).
    "row" -> (e => CreateStruct(e)),
    // apply(x, f): invoke a unary lambda on a scalar (LambdaFunctions.java).
    // Must itself be a HigherOrderFunction — the analyzer rejects lambdas
    // passed to anything else, so composing transform-over-array under a
    // non-HOF head does not resolve.
    "apply" -> (e => ApplyLambda(e(0), e(1))),
    // map() / map(keys_array, values_array) (MapConstructor.java) — Spark's
    // builtin `map` is the variadic k,v,... pair form, kept as a fallback
    // for any other arity.
    "map" -> (e =>
      if (e.isEmpty) CreateMap(Nil)
      else if (e.length == 2) MapFromArrays(e(0), e(1))
      else CreateMap(e)),
    // none_match: the analyzer requires the expression RESOLVED FROM a
    // lambda-bearing call to itself be a higher-order function (Not(exists)
    // is rejected), so negate inside the lambda body instead.
    "none_match" -> (e => e(1) match {
      case LambdaFunction(body, args, hidden) =>
        ArrayForAll(e(0), LambdaFunction(Not(body), args, hidden))
      case other => Not(ArrayExists(e(0), other))
    }),
    // --- map construction (MapFromEntriesFunction, SplitToMultimap…) ---
    // multimap_from_entries(array<row(k,v)>) → map<k, array<v>>.
    "multimap_from_entries" -> (e => multimapFromEntries(e(0))),
    "split_to_multimap" -> { e =>
      // delimiters are literal (StringFunctions.java splitToMultimap)
      def quoted(x: Expression): Expression = x match {
        case Literal(s, StringType) if s != null =>
          lit(java.util.regex.Pattern.quote(s.toString))
        case other => other
      }
      val s = UnresolvedNamedLambdaVariable(Seq("stm_s"))
      val kv = StringSplit(s, quoted(e(2)), lit(2))
      multimapFromEntries(ArrayTransform(
        StringSplit(e(0), quoted(e(1)), lit(-1)),
        LambdaFunction(CreateStruct(Seq(
          ElementAt(kv, lit(1)), ElementAt(kv, lit(2)))), Seq(s))))
    },
    // --- geospatial core (presto-geospatial/GeoFunctions.java) ---
    "st_point" -> (e => StPoint(Cast(e(0), DoubleType), Cast(e(1), DoubleType))),
    "st_geometry_from_text" -> (e => StGeometryFromText(e(0))),
    "st_astext" -> (e => StAsText(e(0))),
    "st_as_text" -> (e => StAsText(e(0))),
    "st_x" -> (e => GeoMeasure(e(0), "x")),
    "st_y" -> (e => GeoMeasure(e(0), "y")),
    "st_xmin" -> (e => GeoMeasure(e(0), "xmin")),
    "st_xmax" -> (e => GeoMeasure(e(0), "xmax")),
    "st_ymin" -> (e => GeoMeasure(e(0), "ymin")),
    "st_ymax" -> (e => GeoMeasure(e(0), "ymax")),
    "st_area" -> (e => GeoMeasure(e(0), "area")),
    "st_length" -> (e => GeoMeasure(e(0), "length")),
    "st_centroid" -> (e => StCentroid(e(0))),
    "st_envelope" -> (e => StEnvelope(e(0))),
    "st_contains" -> (e => GeoPredicate(e(0), e(1), "contains")),
    "st_within" -> (e => GeoPredicate(e(0), e(1), "within")),
    "st_intersects" -> (e => GeoPredicate(e(0), e(1), "intersects")),
    "st_distance" -> (e => StDistance(e(0), e(1))),
    "st_numpoints" -> (e => GeoInfo(e(0), "numpoints")),
    "st_geometrytype" -> (e => GeoInfo(e(0), "geometrytype")),
    "st_isclosed" -> (e => GeoInfo(e(0), "isclosed")),
    "st_dimension" -> (e => GeoInfo(e(0), "dimension")),
    "st_isempty" -> (e => GeoInfo(e(0), "isempty")),
    "st_coorddim" -> (e => GeoInfo(e(0), "coorddim")),
    "st_numinteriorring" -> (e => GeoInfo(e(0), "numinteriorring")),
    "st_numgeometries" -> (e => GeoInfo(e(0), "numgeometries")),
    "st_startpoint" -> (e => StLinePoint(e(0), Literal(1))),
    "st_endpoint" -> (e => StLinePoint(e(0), Literal(1), fromEnd = true)),
    "st_pointn" -> (e => StLinePoint(e(0), Cast(e(1), IntegerType))),
    "st_exteriorring" -> (e => StExteriorRing(e(0))),
    "st_equals" -> (e => StEquals(e(0), e(1))),
    "st_disjoint" -> (e => GeoPredicate(e(0), e(1), "disjoint")),
    // WKT constructors restricted by type (stLineFromText / stPolygon)
    "st_linefromtext" -> (e => StGeometryFromText(e(0))),
    "st_polygon" -> (e => StGeometryFromText(e(0))),
    // topology relations (GeoFunctions.java stTouches/stCrosses/stOverlaps)
    "st_touches" -> (e => GeoPredicate(e(0), e(1), "touches")),
    "st_crosses" -> (e => GeoPredicate(e(0), e(1), "crosses")),
    "st_overlaps" -> (e => GeoPredicate(e(0), e(1), "overlaps")),
    // constructors / accessors (stConvexHull, stBoundary, stEnvelopeAsPts,
    // stGeometries/stGeometryN, interior rings, validity predicates)
    "st_convexhull" -> (e => StConvexHull(e(0))),
    "st_boundary" -> (e => StBoundary(e(0))),
    "st_envelopeaspts" -> (e => StEnvelopeAsPts(e(0))),
    "st_geometries" -> (e => StGeometries(e(0))),
    "st_geometryn" -> (e => StGeometryN(e(0), Cast(e(1), IntegerType))),
    "st_interiorringn" -> (e =>
      StInteriorRings(e(0), indexed = true, Some(Cast(e(1), IntegerType)))),
    "st_interiorrings" -> (e => StInteriorRings(e(0), indexed = false)),
    "st_issimple" -> (e => GeoInfo(e(0), "issimple")),
    "st_isring" -> (e => GeoInfo(e(0), "isring")),
    "st_isvalid" -> (e => GeoInfo(e(0), "isvalid")),
    // clipping constructors + utilities (GeoFunctions.java stUnion /
    // stIntersection / stDifference / stSymDifference / stBuffer /
    // lineLocatePoint / simplifyGeometry / invalidReason)
    "st_relate" -> (e => StRelate(e(0), e(1), e(2))),
    "st_union" -> (e => StClipOp(e(0), e(1), "union")),
    "st_intersection" -> (e => StClipOp(e(0), e(1), "intersection")),
    "st_difference" -> (e => StClipOp(e(0), e(1), "difference")),
    "st_symdifference" -> (e => StClipOp(e(0), e(1), "symdifference")),
    "st_buffer" -> (e => StBuffer(e(0), Cast(e(1), DoubleType))),
    "line_locate_point" -> (e => LineLocatePoint(e(0), e(1))),
    "simplify_geometry" -> (e => SimplifyGeometry(e(0), Cast(e(1), DoubleType))),
    "geometry_invalid_reason" -> (e => GeometryInvalidReason(e(0))),
    // verbatim reference spelling (GeoFunctions.java:165 registers
    // "ST_GeometryFromText", which lowercases with no underscores)
    "st_geometryfromtext" -> (e => StGeometryFromText(e(0))),
    // Bing tile family (BingTileFunctions.java:1-492): tile = packed BIGINT
    "bing_tile" -> (e => BingTileCall("bing_tile", e)),
    "bing_tile_at" -> (e => BingTileCall("bing_tile_at",
      Seq(Cast(e(0), DoubleType), Cast(e(1), DoubleType), e(2)))),
    "bing_tile_quadkey" -> (e => BingTileCall("bing_tile_quadkey", e)),
    "bing_tile_zoom_level" -> (e => BingTileCall("bing_tile_zoom_level", e)),
    "bing_tile_coordinates" -> (e => BingTileCall("bing_tile_coordinates", e)),
    "bing_tiles_around" -> (e => BingTileCall("bing_tiles_around",
      Seq(Cast(e(0), DoubleType), Cast(e(1), DoubleType), e(2)))),
    "bing_tile_polygon" -> (e => BingTilePolygon(e(0))),
    "geometry_to_bing_tiles" -> (e => GeometryToBingTiles(e(0), e(1))),
    // great_circle_distance (GeoFunctions.java greatCircleDistance)
    "great_circle_distance" -> (e => StaticInvoke(bingTilesCls, DoubleType,
      "greatCircleDistance", e.map(Cast(_, DoubleType)),
      Seq(DoubleType, DoubleType, DoubleType, DoubleType),
      propagateNull = true, returnNullable = false)),
    // round_bigint_decimals (MathFunctions.java:732 — a bare
    // @ScalarFunction whose derived name is callable; round(bigint, d) is
    // the identity on the value)
    "round_bigint_decimals" -> (e => Cast(e(0), LongType)),
    // --- conditional ---
    // Presto greatest/least RETURN_NULL_ON_NULL (AbstractGreatestLeast
    // .java:118); Spark's builtins skip nulls.
    "greatest" -> (e =>
      if (e.length == 1) e.head
      else If(e.map(x => IsNull(x): Expression).reduce(Or(_, _)),
        Literal(null), Greatest(e))),
    "least" -> (e =>
      if (e.length == 1) e.head
      else If(e.map(x => IsNull(x): Expression).reduce(Or(_, _)),
        Literal(null), Least(e))),
    // fail(message) (FailureFunction.java): raise a runtime error — pairs
    // with try() for Presto's error-recovery idiom.
    "fail" -> (e => fn("raise_error", Seq(Cast(e.last, StringType)))),
    "try" -> (e => TryEval(e.head)),
    // Presto type spellings (integer/varchar/row(...)), literal varchar
    // keeps its length (TypeOfFunction.java)
    "typeof" -> (e => PrestoTypeOf(e(0))),
    // Presto replace with an EMPTY search string interleaves the
    // replacement (java.lang.String.replace semantics); Spark returns the
    // input unchanged. Keep the codegen'd builtin for the common path.
    "replace" -> { e =>
      val rep = if (e.length >= 3) e(2) else lit("")
      If(EqualTo(Length(e(1)), lit(0)),
        StaticInvoke(scalarOpsCls, StringType, "replaceAll",
          Seq(Cast(e(0), StringType), Cast(e(1), StringType),
            Cast(rep, StringType)),
          Seq(StringType, StringType, StringType), propagateNull = true,
          returnNullable = false),
        StringReplace(e(0), e(1), rep))
    },
    // --- aggregates (operator/aggregation/) ---
    // optional maxStandardError arg maps to HLL++ relativeSD
    "approx_distinct" -> (e =>
      (if (e.length > 1) HyperLogLogPlusPlus(e.head,
        e(1) match { case Literal(d: Double, _) => d; case _ => 0.05 })
      else HyperLogLogPlusPlus(e.head)).toAggregateExpression()),
    // approx_percentile(x, p) / weighted (x, w, p[, accuracy]) — the 0.206
    // forms (ApproximateLongPercentileAggregations.java:37,57,78; there is
    // no (x, p, accuracy)). Spark's sketch takes no weight, so the weighted
    // forms run EXACT percentile with a frequency column — exact satisfies
    // any accuracy bound; result is double (Presto rounds to the input type
    // for bigint inputs — documented divergence at the fraction).
    "approx_percentile" -> (e =>
      if (e.length <= 2) fn("percentile_approx", e :+ lit(10000))
      else fn("percentile", Seq(e(0), e(2), Cast(e(1), LongType)))),
    "arbitrary" -> (e => First(e.head, ignoreNulls = true).toAggregateExpression()),
    // array_agg KEEPS nulls (ArrayAggregationFunction.java); collect_list
    // drops them — wrap each value in a never-null struct, then unwrap.
    "array_agg" -> { e =>
      val s = UnresolvedNamedLambdaVariable(Seq("aa_s"))
      ArrayTransform(
        CollectList(CreateStruct(Seq(e.head))).toAggregateExpression(),
        LambdaFunction(GetStructField(s, 0), Seq(s)))
    },
    "geometric_mean" -> (e => Exp(
      Average(Log(e.head)).toAggregateExpression())),
    // custom aggregate: NULL keys skipped, first value per key wins,
    // no qualifying row -> NULL (MapAggregationFunction.java semantics —
    // a map_from_entries(collect_list(...)) composition throws on NULL
    // or duplicate keys instead)
    "map_agg" -> (e => MapAggAgg(e(0), e(1)).toAggregateExpression()),
    // Presto-EXACT checksum bytes (ChecksumAggregationFunction.java:
    // wrapping sum of typeHash·PRIME64) — to_hex(checksum(0)) is all
    // zeros like the reference.
    "checksum" -> (e => PrestoChecksum(e.head).toAggregateExpression()),
    // Presto CAST(x AS JSON) lowered by the front-end (JsonOperators.java
    // rendering: rows are anonymous -> JSON arrays).
    "presto_to_json" -> (e => PrestoToJson(e.head)),
    // Presto IF has a 2-argument form (ConditionalFunctions: false/NULL
    // condition yields NULL); Spark's builtin insists on 3.
    "if" -> (e =>
      if (e.length == 2) If(e(0), e(1), Literal.create(null, NullType))
      else If(e(0), e(1), e(2))),
    // Presto grouping(a, b, ...) is the multi-argument BIT-VECTOR form
    // (GroupingOperationRewriter — leftmost argument = most significant
    // bit) computed from the ARGUMENT positions, so subsets and
    // reorderings of the grouping keys are legal
    // (AbstractTestQueries testGroupingInTableSubquery). Spark's
    // grouping_id demands an exact match with the grouping expressions, so
    // the vector is assembled from single-column grouping() bits instead;
    // the result type matches grouping_id's (what the exact-match rows
    // have always produced).
    "grouping" -> (e =>
      if (e.length == 1) Grouping(e.head)
      else {
        val dt = GroupingID(Nil).dataType
        e.zipWithIndex.map { case (x, i) =>
          val mask = 1L << (e.length - 1 - i)
          val bit: Expression =
            if (dt == LongType) Literal(mask) else Literal(mask.toInt)
          Multiply(Cast(Grouping(x), dt), bit)
        }.reduceLeft[Expression]((a, b) => Add(a, b))
      }),
    // N-variants (minmaxby/MaxNAggregationFunction.java — bounded heap);
    // 2-arg forms construct the builtin classes (name is shadowed).
    "max_by" -> (e =>
      if (e.length >= 3) MaxByN(e(0), e(1), litInt(e(2)), asc = false).toAggregateExpression()
      else MaxBy(e(0), e(1)).toAggregateExpression()),
    "min_by" -> (e =>
      if (e.length >= 3) MaxByN(e(0), e(1), litInt(e(2)), asc = true).toAggregateExpression()
      else MinBy(e(0), e(1)).toAggregateExpression()),
    // max(x, n) / min(x, n) → array of the n largest/smallest
    // (MaxNAggregationFunction/MinNAggregationFunction): the value ranks
    // itself through the bounded heap. 1-arg forms stay the builtins.
    "max" -> (e =>
      if (e.length == 2) MaxByN(e(0), e(0), litInt(e(1)), asc = false)
        .toAggregateExpression()
      else Max(e.head).toAggregateExpression()),
    "min" -> (e =>
      if (e.length == 2) MaxByN(e(0), e(0), litInt(e(1)), asc = true)
        .toAggregateExpression()
      else Min(e.head).toAggregateExpression()),
    "histogram" -> (e => HistogramAgg(e.head).toAggregateExpression()),
    // approx_most_frequent(buckets, value, capacity): Misra-Gries
    // heavy-hitters summary (post-0.206 Presto surface; exact whenever
    // per-group distincts fit in capacity)
    "approx_most_frequent" -> (e => ApproxMostFrequentAgg(
      e(1), litInt(e(0)), litInt(e(2))).toAggregateExpression()),
    "numeric_histogram" -> (e =>
      NumericHistogramAgg(litInt(e(0)), e(1), e.lift(2)).toAggregateExpression()),
    "map_union" -> (e => MapUnionAgg(e.head).toAggregateExpression()),
    "every" -> (e => fn("bool_and", e)),
    "bitwise_and_agg" -> (e => fn("bit_and", e)),
    "bitwise_or_agg" -> (e => fn("bit_or", e)),
    // multimap_agg(k, v) → map<k, array<v>> (MultimapAggregationFunction
    // .java:47): collect entries, then group per key. NULL keys are
    // skipped and a group with no non-null key yields NULL (the key is a
    // non-nullable input channel in the reference).
    "multimap_agg" -> { e =>
      val entries =
        CollectList(CreateStruct(Seq(e(0), e(1)))).toAggregateExpression()
      val x = UnresolvedNamedLambdaVariable(Seq("mma_x"))
      val nonNullKeys = ArrayFilter(entries,
        LambdaFunction(IsNotNull(GetStructField(x, 0)), Seq(x)))
      If(EqualTo(Size(nonNullKeys), Literal(0)),
        Literal.create(null, NullType), multimapFromEntries(nonNullKeys))
    },
    // --- HLL sketch family (HyperLogLogFunctions.java / ApproximateSet
    //     Aggregation.java) — custom TypedImperativeAggregate ---
    "approx_set" -> (e => ApproxSetAgg(e.head).toAggregateExpression()),
    "merge" -> (e => MergeHllAgg(e.head).toAggregateExpression()),
    "empty_approx_set" -> (_ => Literal(HllSketch.emptySerialized(), BinaryType)),
    // --- url (UrlFunctions.java) ---
    "url_extract_protocol" -> (e => fn("parse_url", Seq(e(0), lit("PROTOCOL")))),
    "url_extract_host" -> (e => fn("parse_url", Seq(e(0), lit("HOST")))),
    "url_extract_path" -> (e => fn("parse_url", Seq(e(0), lit("PATH")))),
    "url_extract_query" -> (e => fn("parse_url", Seq(e(0), lit("QUERY")))),
    "url_extract_fragment" -> (e => fn("parse_url", Seq(e(0), lit("REF")))),
    // first-occurrence, ''-for-valueless semantics (UrlFunctions.java:124)
    "url_extract_parameter" -> (e =>
      StaticInvoke(scalarOpsCls, StringType, "urlExtractParameter",
        Seq(Cast(e(0), StringType), Cast(e(1), StringType)),
        Seq(StringType, StringType), propagateNull = true,
        returnNullable = true)),
    // --- Teradata compatibility (presto-teradata-functions plugin:
    // TeradataDateFunctions.java to_char/to_date/to_timestamp with the
    // YYYY/MM/DD/HH24/HH/MI/SS token set — DateFormatParser.java:28-62;
    // TeradataStringFunctions.java index/char2hexint) ---
    "to_char" -> (e =>
      fn("date_format", Seq(e(0), teradataPattern(e(1))))),
    "to_date" -> (e =>
      if (e.length == 1) new ParseToDate(e(0))
      else new ParseToDate(e(0), teradataPattern(e(1)))),
    "to_timestamp" -> (e =>
      if (e.length == 1) new ParseToTimestamp(e(0))
      else new ParseToTimestamp(e(0), teradataPattern(e(1)))),
    "index" -> (e => fn("locate", Seq(e(1), e(0)))),
    // hex of the UTF-16BE encoding, uppercase (base16().upperCase())
    "char2hexint" -> (e =>
      fn("hex", Seq(fn("encode", Seq(e(0), lit("UTF-16BE")))))),
    // --- SetDigest (type/setdigest/SetDigestFunctions.java) ---
    "make_set_digest" -> (e => MakeSetDigestAgg(e.head).toAggregateExpression()),
    "merge_set_digest" -> (e => MergeSetDigestAgg(e.head).toAggregateExpression()),
    "jaccard_index" -> (e => SetDigestBinary(e(0), e(1), "jaccard_index")),
    "intersection_cardinality" -> (e =>
      SetDigestBinary(e(0), e(1), "intersection_cardinality")),
    "hash_counts" -> (e => HashCounts(e.head)),
    // --- ML (presto-ml/MLFunctions.java, MLFeaturesFunctions.java) ---
    // features(x1, …) → map<bigint,double>, the reference's FeatureVector
    "features" -> (e => CreateMap(e.zipWithIndex.flatMap { case (x, i) =>
      Seq(Literal(i.toLong), Cast(x, DoubleType)) })),
    "learn_regressor" -> (e =>
      LearnModelAgg(Cast(e(0), DoubleType), e(1), classifier = false)
        .toAggregateExpression()),
    "learn_classifier" -> (e =>
      LearnModelAgg(Cast(e(0), DoubleType), e(1), classifier = true)
        .toAggregateExpression()),
    // linear kernel only: the libsvm params string is accepted and ignored
    "learn_libsvm_regressor" -> (e =>
      LearnModelAgg(Cast(e(0), DoubleType), e(1), classifier = false)
        .toAggregateExpression()),
    "learn_libsvm_classifier" -> (e =>
      LearnModelAgg(Cast(e(0), DoubleType), e(1), classifier = true)
        .toAggregateExpression()),
    "regress" -> (e => MlPredict(e(0), e(1), classify = false)),
    "classify" -> (e => MlPredict(e(0), e(1), classify = true)),
    "evaluate_classifier_predictions" -> (e =>
      EvaluatePredictionsAgg(e(0), e(1)).toAggregateExpression()),
    // --- color / terminal rendering (ColorFunctions.java) ---
    // COLOR type maps to BIGINT (the reference's own encoding: rgb >= 0,
    // system colors negative). StaticInvoke participates in codegen.
    "color" -> (e => e.length match {
      case 1 => colorCall(LongType, "color", Seq(e(0)), Seq(StringType))
      case 3 => colorCall(LongType, "interpolate",
        Seq(Cast(e(0), DoubleType), Cast(e(1), LongType), Cast(e(2), LongType)),
        Seq(DoubleType, LongType, LongType))
      case _ => colorCall(LongType, "colorBetween",
        Seq(Cast(e(0), DoubleType), Cast(e(1), DoubleType),
          Cast(e(2), DoubleType), Cast(e(3), LongType), Cast(e(4), LongType)),
        Seq(DoubleType, DoubleType, DoubleType, LongType, LongType))
    }),
    "rgb" -> (e => colorCall(LongType, "rgb",
      e.take(3).map(Cast(_, LongType)), Seq(LongType, LongType, LongType))),
    "render" -> (e =>
      if (e.length == 1)
        colorCall(StringType, "renderBool", Seq(Cast(e(0), BooleanType)),
          Seq(BooleanType))
      else
        colorCall(StringType, "render",
          Seq(Cast(e(0), StringType), Cast(e(1), LongType)),
          Seq(StringType, LongType))),
    "bar" -> (e => {
      val args = Seq(Cast(e(0), DoubleType), Cast(e(1), LongType)) ++
        e.drop(2).take(2).map(Cast(_, LongType))
      colorCall(StringType, "bar", args,
        DoubleType +: Seq.fill(args.length - 1)(LongType))
    })
  )

  // ColorFns is a top-level object: scalac emits static forwarders on the
  // paired `graft.functions.ColorFns` class, which StaticInvoke targets.
  private val colorCls: Class[_] = Class.forName("graft.functions.ColorFns")
  private val scalarOpsCls: Class[_] = Class.forName("graft.functions.ScalarOps")
  private val bingTilesCls: Class[_] = Class.forName("graft.functions.BingTiles")

  // the Java/airlift whitespace set (Character.isWhitespace code points —
  // U+3000 IDEOGRAPHIC SPACE is the highest) — what SliceUtf8's trims remove
  private val whitespaceLit: Expression = lit(
    (0 to 0x3000).filter(Character.isWhitespace)
      .map(cp => new String(Character.toChars(cp))).mkString)

  private def colorCall(dt: DataType, method: String, args: Seq[Expression],
                        inputTypes: Seq[DataType]): Expression =
    StaticInvoke(colorCls, dt, method, args, inputTypes,
      propagateNull = true, returnNullable = false)

  /** Register everything into the session's function registry. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    registry.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

/** Unit-string date arithmetic (Presto date_add('day', n, ts)). */
object DateTimeShift {
  // timestampadd/timestampdiff are PARSER constructs (the unit is an
  // identifier, not an argument) — they do not resolve through the
  // function registry, so the Catalyst classes take the unit directly.
  private def unitOf(e: Expression): String = e match {
    case Literal(s, StringType) if s != null => s.toString
    case other => throw new IllegalArgumentException(
      s"datetime unit must be a literal string, got $other")
  }

  def add(unit: Expression, n: Expression, ts: Expression): Expression =
    TimestampAdd(unitOf(unit), n, ts)

  def diff(unit: Expression, from: Expression, to: Expression): Expression =
    TimestampDiff(unitOf(unit), from, to)
}
