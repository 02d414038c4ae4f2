package graft

/** Textual shims for the Presto grammar forms Spark's parser rejects
  * (PARSER/SqlBase.g4). Only purely-syntactic forms are handled here —
  * anything semantic lives in the function registry or the dialect's
  * analyzer rules (PrestoDialect). The session parser
  * (PrestoDialect.PrestoParser) runs `rewrite` on every SQL statement.
  *
  * `ARRAY[e1, e2]` (SqlBase.g4 primaryExpression #arrayConstructor) becomes
  * `array(e1, e2)`; the matching `]` is found with a bracket stack, so
  * nested constructors and subscripts inside the element list survive:
  * `ARRAY[ARRAY[1]][1][1]` → `array(array(1))[1][1]` (the trailing
  * subscripts are Presto 1-based and are shifted by the analyzer rule
  * PrestoDialect.LowerSqlOperators, not here).
  * Scanning is literal-aware: single-quoted strings (with '' escapes),
  * double-quoted identifiers, line/block comments pass through untouched.
  */
object PrestoSql {

  /** Complex-type spellings in a cast-target position → Spark's forms
    * (SqlBase.g4 type rule): `AS ROW(name type, ...)` → `AS STRUCT<name:
    * type>`, `AS ARRAY(t)` / `AS ARRAY<t>` / `AS MAP(k, v)` with row types
    * anywhere inside convert recursively. Only fires after AS (cast
    * targets) — `ROW(a, b)` VALUE constructors are left for the function
    * registry. */
  private def rowTypes(sql: String): String = {
    val mask = maskLiterals(sql) // keyword search + paren scan skip literals
    val m = java.util.regex.Pattern
      .compile("(?i)\\bAS\\s+(ROW|ARRAY|MAP)\\s*[(<]").matcher(mask)
    if (!m.find()) return sql
    val open = m.end() - 1 // the ( or < delimiter
    var depth = 1
    var i = open + 1
    while (i < mask.length && depth > 0) {
      mask(i) match {
        case '(' | '<' => depth += 1
        case ')' | '>' => depth -= 1
        case _ =>
      }
      i += 1
    }
    val typeText = sql.substring(m.start(1), i)
    sql.substring(0, m.start()) + "AS " + prestoType(typeText) +
      rowTypes(sql.substring(i))
  }

  private def rowBody(body: String): String = {
    // split top-level commas
    val fields = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var start = 0
    for (i <- body.indices) body(i) match {
      case '(' | '<' => depth += 1
      case ')' | '>' => depth -= 1
      case ',' if depth == 0 => fields += body.substring(start, i); start = i + 1
      case _ =>
    }
    fields += body.substring(start)
    val converted = fields.map { f =>
      val t = f.trim
      val sp = t.indexWhere(_.isWhitespace)
      val (name, tpe) = (t.substring(0, sp), t.substring(sp).trim)
      s"$name: ${prestoType(tpe)}"
    }
    converted.mkString("STRUCT<", ", ", ">")
  }

  /** Presto's parenthesized complex-type spellings → Spark's angle-bracket
    * forms, recursively: ROW(a T, ...) → STRUCT<a: T>, ARRAY(T) → ARRAY<T>,
    * MAP(K, V) → MAP<K, V>. Scalar types pass through. */
  private def prestoType(t0: String): String = {
    val t = t0.trim
    def inner(prefix: String): Option[String] = {
      val m = java.util.regex.Pattern
        .compile(s"(?i)^$prefix\\s*[(<](.*)[)>]$$").matcher(t)
      if (m.matches()) Some(m.group(1)) else None
    }
    inner("ROW").map(rowBody)
      .orElse(inner("ARRAY").map(b => s"ARRAY<${prestoType(b)}>"))
      .orElse(inner("MAP").map { b =>
        var depth = 0
        val cut = b.indices.find { i =>
          b(i) match {
            case '(' | '<' => depth += 1; false
            case ')' | '>' => depth -= 1; false
            case ',' => depth == 0
            case _ => false
          }
        }.getOrElse(b.length)
        s"MAP<${prestoType(b.substring(0, cut))}, ${prestoType(b.substring(cut + 1))}>"
      })
      .getOrElse(t)
  }

  /** Presto UNNEST (SqlBase.g4 #unnest) → Spark's table-valued functions.
    * `FROM UNNEST(a)` → `FROM explode(a)`; the join forms
    * `CROSS JOIN UNNEST(a) AS u(c)` / `, UNNEST(a) u(c)` → Hive-style
    * `LATERAL VIEW explode(a) u AS c` (correlated, like the reference's
    * UnnestOperator probe side); multi-argument UNNEST zips —
    * `inline(arrays_zip(...))`; `WITH ORDINALITY` appends Presto's 1-based
    * BIGINT position column via a posexplode-over-zip subquery. Keyword and
    * bracket scanning run on the literal mask; generated aliases come from
    * a per-rewrite counter (deterministic output) under a `__graft_u`
    * prefix no real query uses. */
  private def unnest(sql: String,
      counter: java.util.concurrent.atomic.AtomicLong): String = {
    val mask = maskLiterals(sql)
    val m = java.util.regex.Pattern
      .compile("(?i)(\\bCROSS\\s+JOIN\\s+|,\\s*)?\\bUNNEST\\s*\\(").matcher(mask)
    if (!m.find()) return sql
    val open = mask.indexOf('(', m.end() - 1)
    var depth = 1
    var i = open + 1
    while (i < mask.length && depth > 0) {
      if (mask(i) == '(') depth += 1 else if (mask(i) == ')') depth -= 1
      i += 1
    }
    val args = sql.substring(open + 1, i - 1)
    val argsMask = mask.substring(open + 1, i - 1)
    var rest = sql.substring(i)
    // WITH ORDINALITY: Presto appends a 1-based BIGINT position as the LAST
    // column; emitted as a posexplode-over-zip subquery.
    val ordM = java.util.regex.Pattern
      .compile("(?is)^\\s*WITH\\s+ORDINALITY").matcher(rest)
    val ordinality = ordM.find()
    if (ordinality) rest = rest.substring(ordM.end())
    // top-level arg split (bracket depth tracked on the mask)
    var d = 0
    val cuts = scala.collection.mutable.ArrayBuffer(-1)
    for (k <- argsMask.indices) argsMask(k) match {
      case '(' | '[' => d += 1
      case ')' | ']' => d -= 1
      case ',' if d == 0 => cuts += k
      case _ =>
    }
    cuts += args.length
    val argList = cuts.sliding(2).map { w => args.substring(w(0) + 1, w(1)).trim }.toSeq
    val u = s"__graft_u${counter.incrementAndGet()}"
    val tvf =
      if (ordinality)
        s"(SELECT ${u}z.*, CAST(${u}p + 1 AS BIGINT) AS ${u}_ordinality " +
          s"FROM posexplode(arrays_zip(${argList.mkString(", ")})) ${u}0(${u}p, ${u}z))"
      else if (argList.length == 1) s"explode(${argList.head})"
      else s"inline(arrays_zip(${argList.mkString(", ")}))"
    val joinForm = Option(m.group(1)).exists(_.trim.nonEmpty)
    // optional alias: [AS] ident [(col, ...)]
    val am = java.util.regex.Pattern
      .compile("(?is)^\\s*(?:AS\\s+)?([A-Za-z_][A-Za-z0-9_]*)\\s*(\\(([^)]*)\\))?.*")
      .matcher(rest)
    val (alias, cols, aliasLen) =
      if (am.matches() && !Set("on", "where", "group", "order", "join", "left",
          "right", "cross", "inner", "full", "union", "limit", "having", "with",
          "intersect", "except", "values", "lateral", "unnest")
          .contains(am.group(1).toLowerCase(java.util.Locale.ROOT))) {
        val end = if (am.group(2) != null) am.end(2) else am.end(1)
        (am.group(1), Option(am.group(3)), end)
      } else (u, None, 0)
    if (!joinForm) {
      val aliasPart =
        if (aliasLen > 0) s" $alias" + cols.map(c => s"($c)").getOrElse("")
        else if (ordinality) s" $alias" // a subquery needs an alias
        else ""
      sql.substring(0, m.start()) + tvf + aliasPart + unnest(rest.substring(aliasLen), counter)
    } else if (ordinality) {
      val aliasPart = s" $alias" + cols.map(c => s"($c)").getOrElse("")
      sql.substring(0, m.start()) + s" CROSS JOIN LATERAL $tvf$aliasPart" +
        unnest(rest.substring(aliasLen), counter)
    } else {
      val colsPart = cols.map(c => s" AS $c").getOrElse("")
      sql.substring(0, m.start()) + s" LATERAL VIEW $tvf $alias$colsPart" +
        unnest(rest.substring(aliasLen), counter)
    }
  }

  /** Position-preserving literal mask: the CONTENTS of single-quoted string
    * literals (with '' escapes), double-quoted identifiers, and line/block
    * comments are replaced by spaces, so regex/keyword passes can scan
    * `mask` while editing the original at the same offsets. */
  private[graft] def maskLiterals(sql: String): String = {
    val out = sql.toCharArray
    var i = 0
    val n = sql.length
    def blank(from: Int, to: Int): Unit = {
      var k = from
      while (k < to) { out(k) = ' '; k += 1 }
    }
    while (i < n) {
      sql(i) match {
        case '\'' =>
          val start = i; i += 1
          while (i < n && (sql(i) != '\'' || (i + 1 < n && sql(i + 1) == '\'' && { i += 1; true }))) i += 1
          i = math.min(i + 1, n)
          blank(start + 1, math.max(start + 1, i - 1))
        case '"' =>
          val start = i; i += 1
          while (i < n && sql(i) != '"') i += 1
          i = math.min(i + 1, n)
          blank(start + 1, math.max(start + 1, i - 1))
        case '-' if i + 1 < n && sql(i + 1) == '-' =>
          val start = i
          while (i < n && sql(i) != '\n') i += 1
          blank(start, i)
        case '/' if i + 1 < n && sql(i + 1) == '*' =>
          val start = i; i += 2
          while (i + 1 < n && !(sql(i) == '*' && sql(i + 1) == '/')) i += 1
          i = math.min(i + 2, n)
          blank(start, i)
        case _ => i += 1
      }
    }
    new String(out)
  }

  /** Quantified comparisons beyond the IN forms (SqlBase.g4
    * #quantifiedComparison; MAIN/sql/planner/QuantifiedComparisonRewriter):
    * `X op ALL|ANY|SOME (subquery)` for op ∈ {<, <=, >, >=, =, <>, !=}.
    * Spark has no quantified-comparison grammar, so each form lowers to the
    * classic aggregate-bound expansion with full three-valued logic:
    * empty subquery → TRUE for ALL / FALSE for ANY; a NULL element or NULL
    * probe can only weaken a verdict to UNKNOWN, never flip it (the
    * violating/witness element for an inequality is the subquery min/max).
    * The probe expression is spliced more than once — fine for the
    * deterministic expressions the grammar position allows. `= ANY` and
    * `<> ALL` stay with the main scanner's IN / NOT IN rewrite. */
  private def quantifiedCmp(sql: String): String = {
    val mask = maskLiterals(sql)
    val m = java.util.regex.Pattern
      .compile("(?i)(<=|>=|<>|!=|<|>|=)\\s*(ALL|ANY|SOME)\\s*\\(")
      .matcher(mask)
    while (m.find()) {
      val op = m.group(1)
      val quant = m.group(2).toUpperCase(java.util.Locale.ROOT)
      val isAll = quant == "ALL"
      val skip = (op == "=" && !isAll) || ((op == "<>" || op == "!=") && isAll)
      if (!skip) {
        // subquery bounds
        val open = m.end() - 1
        var depth = 1
        var i = open + 1
        while (i < mask.length && depth > 0) {
          if (mask(i) == '(') depth += 1 else if (mask(i) == ')') depth -= 1
          i += 1
        }
        val sub = sql.substring(open + 1, i - 1)
        // probe expression: scan LEFT over one valueExpression — atoms
        // (identifier/number/quoted/balanced-paren groups with an optional
        // function-name head) glued by arithmetic/concat connectors.
        val kw = Set("SELECT", "WHERE", "AND", "OR", "NOT", "WHEN", "THEN",
          "ELSE", "CASE", "END", "BY", "ON", "IN", "FROM", "HAVING", "SET",
          "VALUES", "JOIN", "BETWEEN", "LIKE", "IS", "AS", "DISTINCT", "ALL")
        var p = m.start()
        while (p > 0 && mask(p - 1).isWhitespace) p -= 1
        var probeStart = p
        var continue2 = true
        while (continue2) {
          var q = probeStart
          // one atom, scanning back from q
          if (q > 0 && (mask(q - 1) == ')' || mask(q - 1) == ']')) {
            val close = mask(q - 1)
            val openCh = if (close == ')') '(' else '['
            var d = 1; q -= 1
            while (q > 0 && d > 0) {
              q -= 1
              if (mask(q) == close) d += 1
              else if (mask(q) == openCh) d -= 1
            }
            // optional function-name head directly before the parens
            while (q > 0 && (mask(q - 1).isLetterOrDigit || mask(q - 1) == '_')) q -= 1
          } else if (q > 0 && (mask(q - 1).isLetterOrDigit || mask(q - 1) == '_' || mask(q - 1) == '.')) {
            val e0 = q
            while (q > 0 && (mask(q - 1).isLetterOrDigit || mask(q - 1) == '_' || mask(q - 1) == '.')) q -= 1
            if (kw(mask.substring(q, e0).trim.toUpperCase(java.util.Locale.ROOT))) q = e0 // keyword: boundary
          } else if (q > 0 && (mask(q - 1) == '\'' || mask(q - 1) == '"')) {
            val quote = mask(q - 1); q -= 1
            while (q > 0 && mask(q - 1) != quote) q -= 1
            if (q > 0) q -= 1
          }
          if (q == probeStart) continue2 = false // no atom consumed: stop
          else {
            probeStart = q
            // connector? (+ - * / % || or a dereference dot)
            var r = probeStart
            while (r > 0 && mask(r - 1).isWhitespace) r -= 1
            if (r > 0 && "+-*/%|.".contains(mask(r - 1))) {
              if (mask(r - 1) == '|' && !(r > 1 && mask(r - 2) == '|')) continue2 = false
              else {
                var r2 = r - 1
                if (mask(r2) == '|') r2 -= 1 // second bar of ||
                probeStart = r2
              }
            } else continue2 = false
          }
        }
        if (probeStart < p) {
          val x = sql.substring(probeStart, p).trim
          def agg(f: String) =
            s"(SELECT $f FROM ($sub) __qt(__qc))"
          val cnt = agg("count(*)")
          val nn = agg("count(__qc)")
          val mn = agg("min(__qc)")
          val mx = agg("max(__qc)")
          val nul = "CAST(NULL AS BOOLEAN)"
          val repl = (op, isAll) match {
            case ("=", true) =>
              s"CASE WHEN $cnt = 0 THEN true " +
                s"WHEN ($x) <> $mn OR ($x) <> $mx THEN false " +
                s"WHEN $nn < $cnt THEN $nul " +
                s"WHEN ($x) = $mn AND ($x) = $mx THEN true ELSE $nul END"
            case ("<>" | "!=", false) =>
              s"CASE WHEN $cnt = 0 THEN false " +
                s"WHEN $mn <> $mx THEN IF(($x) IS NULL, $nul, true) " +
                s"WHEN ($x) <> $mn THEN true " +
                s"WHEN $nn < $cnt THEN $nul " +
                s"WHEN ($x) = $mn THEN false ELSE $nul END"
            case (o, true) => // inequality ALL: violating element is the bound
              val b = if (o == "<" || o == "<=") mn else mx
              s"CASE WHEN $cnt = 0 THEN true " +
                s"WHEN NOT (($x) $o $b) THEN false " +
                s"WHEN $nn < $cnt THEN $nul " +
                s"WHEN ($x) $o $b THEN true ELSE $nul END"
            case (o, false) => // inequality ANY: witness element
              val w = if (o == "<" || o == "<=") mx else mn
              s"CASE WHEN $cnt = 0 THEN false " +
                s"WHEN ($x) $o $w THEN true " +
                s"WHEN $nn < $cnt THEN $nul " +
                s"WHEN NOT (($x) $o $w) THEN false ELSE $nul END"
          }
          return quantifiedCmp(
            sql.substring(0, probeStart) + repl + " " + sql.substring(i))
        }
      }
    }
    sql
  }

  /** Presto typed literals beyond Spark's set (SqlBase.g4 #typeConstructor:
    * `SMALLINT '1'`, `VARCHAR 'a'`, `JSON '[1]'`, ...) — Spark only accepts
    * DATE/TIMESTAMP/TIME/INTERVAL/X typed literals, so the rest lower to
    * CAST (JSON to a validating json_parse; REAL spelled FLOAT; CHAR and
    * VARCHAR unbounded → STRING). */
  private def typedLiterals(sql: String): String = {
    val mask = maskLiterals(sql)
    val m = java.util.regex.Pattern.compile(
      "(?i)\\b(SMALLINT|TINYINT|BIGINT|INTEGER|INT|REAL|DOUBLE|BOOLEAN|VARCHAR|CHAR|JSON|IPADDRESS)\\s*'")
      .matcher(mask)
    if (!m.find()) return sql
    var i = m.end() // first char after the opening quote (blanked on mask)
    while (i < mask.length && mask(i) != '\'') i += 1
    val lit = sql.substring(m.end() - 1, math.min(i + 1, sql.length))
    val t = m.group(1).toUpperCase(java.util.Locale.ROOT)
    val repl = t match {
      case "JSON" => s"json_parse($lit)"
      case "IPADDRESS" => s"graft_to_ipaddress($lit)"
      // CHAR 'x  ' is char(n) of the literal's length — the written text IS
      // the padded representation; mark it so comparisons trim (Chars.java)
      case "CHAR" => s"graft_char_mark(CAST($lit AS STRING))"
      case "VARCHAR" => s"CAST($lit AS STRING)"
      case "REAL" => s"CAST($lit AS FLOAT)"
      case other => s"CAST($lit AS $other)"
    }
    sql.substring(0, m.start()) + repl + typedLiterals(sql.substring(i + 1))
  }

  /** Presto `CAST(x AS JSON)` / `TRY_CAST(x AS JSON)` (JsonOperators.java)
    * — Spark has no JSON type, so the cast lowers to the
    * `presto_to_json` rendering expression (rows → JSON arrays, maps →
    * objects, NULL map keys fail so TRY recovers). */
  private def castJson(sql: String): String = {
    val mask = maskLiterals(sql)
    val m = java.util.regex.Pattern
      .compile("(?i)\\bAS\\s+JSON\\s*\\)").matcher(mask)
    if (!m.find()) return sql
    // walk LEFT to the unmatched open paren of this cast
    var depth = 0
    var p = m.start() - 1
    var open = -1
    while (p >= 0 && open < 0) {
      mask(p) match {
        case ')' => depth += 1
        case '(' => if (depth == 0) open = p else depth -= 1
        case _ =>
      }
      p -= 1
    }
    if (open < 0) return sql
    var w = open
    while (w > 0 && mask(w - 1).isWhitespace) w -= 1
    val ws = {
      var k = w
      while (k > 0 && (mask(k - 1).isLetterOrDigit || mask(k - 1) == '_')) k -= 1
      k
    }
    val kw = mask.substring(ws, w).toUpperCase(java.util.Locale.ROOT)
    if (kw != "CAST" && kw != "TRY_CAST") return sql
    val body = sql.substring(open + 1, m.start())
    val close = sql.indexOf(')', m.start()) // the matched `)` of AS JSON)
    val inner = s"presto_to_json($body)"
    val repl = if (kw == "TRY_CAST") s"try($inner)" else inner
    castJson(sql.substring(0, ws) + repl + sql.substring(close + 1))
  }

  /** `SUBSTRING(x FROM y [FOR z])` parses straight to Spark's Substring
    * class, bypassing the registry's Presto-semantics `substr` shim (zero
    * and beyond-head starts yield ''). Rewrite the ANSI form to the comma
    * form so the shim applies. */
  private def substringFrom(sql0: String): String = {
    val mask = maskLiterals(sql0)
    val m = java.util.regex.Pattern
      .compile("(?i)\\bSUBSTRING\\s*\\(").matcher(mask)
    while (m.find()) {
      val open = m.end() - 1
      var depth = 1
      var i = open + 1
      var fromAt = -1
      var forAt = -1
      while (i < mask.length && depth > 0) {
        mask(i) match {
          case '(' => depth += 1; i += 1
          case ')' => depth -= 1; i += 1
          case c if depth == 1 && (c == 'F' || c == 'f') =>
            if (mask.regionMatches(true, i, "FROM", 0, 4) &&
              (i == 0 || !mask(i - 1).isLetterOrDigit) &&
              (i + 4 >= mask.length || !mask(i + 4).isLetterOrDigit) &&
              fromAt < 0) { fromAt = i; i += 4 }
            else if (mask.regionMatches(true, i, "FOR", 0, 3) &&
              (i == 0 || !mask(i - 1).isLetterOrDigit) &&
              (i + 3 >= mask.length || !mask(i + 3).isLetterOrDigit) &&
              forAt < 0 && fromAt >= 0) { forAt = i; i += 3 }
            else i += 1
          case _ => i += 1
        }
      }
      if (depth == 0 && fromAt > 0) {
        val close = i - 1
        val x = sql0.substring(open + 1, fromAt)
        val y =
          if (forAt > 0) sql0.substring(fromAt + 4, forAt)
          else sql0.substring(fromAt + 4, close)
        val z = if (forAt > 0) Some(sql0.substring(forAt + 3, close)) else None
        val repl = z match {
          case Some(len) => s"substr($x, $y, $len)"
          case None => s"substr($x, $y)"
        }
        return substringFrom(
          sql0.substring(0, m.start()) + repl + sql0.substring(close + 1))
      }
    }
    sql0
  }

  /** Presto's bare niladic specials (SqlBase.g4
    * #specialDateTimeFunction: LOCALTIME / LOCALTIMESTAMP, and
    * CURRENT_PATH, all with no argument list); Spark's parser only
    * accepts the callable forms (`localtime()` resolves through the
    * registry to current_time(), `localtimestamp()` is Spark-native,
    * `current_path()` is the Engine session function). Qualified
    * references (`t.localtime`) and already-callable forms pass through;
    * the words are reserved in Presto, so no identifier can collide. */
  private def niladicSpecials(sql0: String): String = {
    val mask = maskLiterals(sql0)
    val m = java.util.regex.Pattern
      .compile("(?i)\\b(localtime|localtimestamp|current_path|current_time)\\b")
      .matcher(mask)
    val sb = new StringBuilder
    var last = 0
    while (m.find()) {
      val before = {
        var i = m.start - 1
        while (i >= 0 && mask(i).isWhitespace) i -= 1
        if (i >= 0) mask(i) else ' '
      }
      var j = m.end
      while (j < mask.length && mask(j).isWhitespace) j += 1
      val callable = j < mask.length && mask(j) == '('
      if (before != '.' && !callable) {
        sb.append(sql0.substring(last, m.end)).append("()")
        last = m.end
      }
    }
    if (last == 0) sql0
    else { sb.append(sql0.substring(last)); sb.toString }
  }

  /** Presto's grammar treats the normalization form in
    * `normalize(s, NFD)` as a bare KEYWORD (SqlBase.g4 #normalize);
    * Spark parses it as a column reference that never resolves. Quote it
    * so the registry builder receives a string literal. */
  private def normalizeForms(sql0: String): String = {
    val mask = maskLiterals(sql0)
    val m = java.util.regex.Pattern
      .compile("(?i)\\bNORMALIZE\\s*\\(").matcher(mask)
    while (m.find()) {
      val open = m.end() - 1
      var depth = 1
      var i = open + 1
      var lastComma = -1
      while (i < mask.length && depth > 0) {
        mask(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case ',' if depth == 1 => lastComma = i
          case _ =>
        }
        i += 1
      }
      if (depth == 0 && lastComma > 0) {
        val close = i - 1
        val arg = sql0.substring(lastComma + 1, close).trim
        if (arg.matches("(?i)NFC|NFD|NFKC|NFKD"))
          return normalizeForms(sql0.substring(0, lastComma + 1) +
            s" '${arg.toUpperCase(java.util.Locale.ROOT)}'" +
            sql0.substring(close))
      }
    }
    sql0
  }

  /** Presto CHAR(n) is FIXED LENGTH: `CAST(x AS CHAR(n))` pads with
    * spaces to exactly n (CharType / CharacterStringCasts — LENGTH of the
    * result is always n, concat keeps the padding); Spark's char cast
    * neither pads nor counts the padding. Lower to rpad, wrapped in the
    * graft_char_mark identity so comparisons on CHAR operands get
    * Presto's pad-insensitive semantics (Chars.compareChars) from the
    * PrestoDialect.SqlSemantics analyzer rule. */
  private def castChar(sql: String): String = {
    val mask = maskLiterals(sql)
    val m = java.util.regex.Pattern
      .compile("(?i)\\bAS\\s+CHAR\\s*\\(\\s*(\\d+)\\s*\\)\\s*\\)").matcher(mask)
    if (!m.find()) return sql
    val n = m.group(1).toInt
    // walk LEFT to the unmatched open paren of this cast
    var depth = 0
    var p = m.start() - 1
    var open = -1
    while (p >= 0 && open < 0) {
      mask(p) match {
        case ')' => depth += 1
        case '(' => if (depth == 0) open = p else depth -= 1
        case _ =>
      }
      p -= 1
    }
    if (open < 0) return sql
    var w = open
    while (w > 0 && mask(w - 1).isWhitespace) w -= 1
    val ws = {
      var k = w
      while (k > 0 && (mask(k - 1).isLetterOrDigit || mask(k - 1) == '_')) k -= 1
      k
    }
    val kw = mask.substring(ws, w).toUpperCase(java.util.Locale.ROOT)
    if (kw != "CAST" && kw != "TRY_CAST") return sql
    val body = sql.substring(open + 1, m.start())
    val inner = s"rpad(CAST(($body) AS STRING), $n, ' ')"
    val repl =
      if (kw == "TRY_CAST") s"graft_char_mark(try($inner))"
      else s"graft_char_mark($inner)"
    castChar(sql.substring(0, ws) + repl + sql.substring(m.end()))
  }

  /** Zone-carrying TIMESTAMP literals (SqlBase.g4 TIMESTAMP '...';
    * util/DateTimeUtils.java parseTimestampLiteral — a trailing region id
    * or offset makes the literal TIMESTAMP WITH TIME ZONE, preserving the
    * zone via DateTimeEncoding). Spark would parse the same text to a bare
    * instant, losing the zone — reroute to graft_to_tstz, whose TstzParse
    * keeps (instant, zone); constant-folded at plan time. */
  private def tstzLiterals(sql: String): String = {
    val mask = maskLiterals(sql)
    val m = java.util.regex.Pattern
      .compile("(?i)\\bTIMESTAMP\\s*'").matcher(mask)
    var from = 0
    while (m.find(from)) {
      val qStart = m.end() - 1
      var q = qStart + 1
      while (q < sql.length && sql(q) != '\'') q += 1
      if (q < sql.length) {
        val content = sql.substring(qStart + 1, q)
        val zm = java.util.regex.Pattern.compile(
          """^\d{4}-\d{1,2}-\d{1,2}([ T]\d{1,2}:\d{1,2}(:\d{1,2}(\.\d{1,6})?)?)?\s+(\S+)$""")
          .matcher(content)
        if (zm.matches() && graft.functions.TstzParse.isZone(zm.group(4)))
          return sql.substring(0, m.start()) +
            s"graft_to_tstz('$content')" + tstzLiterals(sql.substring(q + 1))
      }
      from = m.end()
    }
    sql
  }

  /** `CAST(x AS TIMESTAMP WITH TIME ZONE)` → graft_to_tstz(x)
    * (TimestampWithTimeZoneType; same paren-walk as castChar). */
  private def castTstz(sql: String): String = {
    val mask = maskLiterals(sql)
    val m = java.util.regex.Pattern
      .compile("(?i)\\bAS\\s+TIMESTAMP\\s+WITH\\s+TIME\\s+ZONE\\s*\\)")
      .matcher(mask)
    if (!m.find()) return sql
    var depth = 0
    var p = m.start() - 1
    var open = -1
    while (p >= 0 && open < 0) {
      mask(p) match {
        case ')' => depth += 1
        case '(' => if (depth == 0) open = p else depth -= 1
        case _ =>
      }
      p -= 1
    }
    if (open < 0) return sql
    var w = open
    while (w > 0 && mask(w - 1).isWhitespace) w -= 1
    val ws = {
      var k = w
      while (k > 0 && (mask(k - 1).isLetterOrDigit || mask(k - 1) == '_')) k -= 1
      k
    }
    val kw = mask.substring(ws, w).toUpperCase(java.util.Locale.ROOT)
    if (kw != "CAST" && kw != "TRY_CAST") return sql
    val body = sql.substring(open + 1, m.start())
    val inner = s"graft_to_tstz($body)"
    val repl = if (kw == "TRY_CAST") s"try($inner)" else inner
    castTstz(sql.substring(0, ws) + repl + sql.substring(m.end()))
  }

  /** Zone-carrying TIME literals (`TIME '03:04:05.321 +07:09'` —
    * SqlBase.g4 TIME '...'; util/DateTimeUtils.java parseTimeLiteral: a
    * trailing zone makes the literal TIME WITH TIME ZONE). Spark's TIME
    * parser rejects the zone → reroute to graft_to_ttz (functions/Ttz),
    * constant-folded at plan time. */
  private def ttzLiterals(sql: String): String = {
    val mask = maskLiterals(sql)
    val m = java.util.regex.Pattern
      .compile("(?i)\\bTIME\\s*'").matcher(mask)
    var from = 0
    while (m.find(from)) {
      val qStart = m.end() - 1
      var q = qStart + 1
      while (q < sql.length && sql(q) != '\'') q += 1
      if (q < sql.length) {
        val content = sql.substring(qStart + 1, q)
        val tm = graft.functions.TtzParse.pattern.matcher(content.trim)
        if (tm.matches() && tm.group(6) != null &&
            graft.functions.TstzParse.isZone(tm.group(6)))
          return sql.substring(0, m.start()) +
            s"graft_to_ttz('$content')" + ttzLiterals(sql.substring(q + 1))
      }
      from = m.end()
    }
    sql
  }

  /** `CAST(x AS TIME WITH TIME ZONE)` → graft_to_ttz(x) (same paren-walk
    * as castTstz; the \bTIME\s+WITH pattern cannot match inside
    * TIMESTAMP WITH TIME ZONE). */
  private def castTtz(sql: String): String = {
    val mask = maskLiterals(sql)
    val m = java.util.regex.Pattern
      .compile("(?i)\\bAS\\s+TIME\\s+WITH\\s+TIME\\s+ZONE\\s*\\)")
      .matcher(mask)
    if (!m.find()) return sql
    var depth = 0
    var p = m.start() - 1
    var open = -1
    while (p >= 0 && open < 0) {
      mask(p) match {
        case ')' => depth += 1
        case '(' => if (depth == 0) open = p else depth -= 1
        case _ =>
      }
      p -= 1
    }
    if (open < 0) return sql
    var w = open
    while (w > 0 && mask(w - 1).isWhitespace) w -= 1
    val ws = {
      var k = w
      while (k > 0 && (mask(k - 1).isLetterOrDigit || mask(k - 1) == '_')) k -= 1
      k
    }
    val kw = mask.substring(ws, w).toUpperCase(java.util.Locale.ROOT)
    if (kw != "CAST" && kw != "TRY_CAST") return sql
    val body = sql.substring(open + 1, m.start())
    val inner = s"graft_to_ttz($body)"
    val repl = if (kw == "TRY_CAST") s"try($inner)" else inner
    castTtz(sql.substring(0, ws) + repl + sql.substring(m.end()))
  }

  /** Presto spells the binary type VARBINARY (SqlBase.g4 baseType); Spark
    * spells it BINARY — map the bare type name outside literals. */
  private def varbinaryType(sql: String): String = {
    val mask = maskLiterals(sql)
    val m = java.util.regex.Pattern
      .compile("(?i)\\bVARBINARY\\b").matcher(mask)
    val out = new StringBuilder
    var last = 0
    while (m.find()) {
      out.append(sql.substring(last, m.start())).append("BINARY")
      last = m.end()
    }
    out.append(sql.substring(last)).toString
  }

  /** `CAST(x AS IPADDRESS)` → graft_to_ipaddress(x) (same paren-walk as
    * castTtz; functions/IpAddress.scala). */
  private def castIpAddress(sql: String): String = {
    val mask = maskLiterals(sql)
    val m = java.util.regex.Pattern
      .compile("(?i)\\bAS\\s+IPADDRESS\\s*\\)").matcher(mask)
    if (!m.find()) return sql
    var depth = 0
    var p = m.start() - 1
    var open = -1
    while (p >= 0 && open < 0) {
      mask(p) match {
        case ')' => depth += 1
        case '(' => if (depth == 0) open = p else depth -= 1
        case _ =>
      }
      p -= 1
    }
    if (open < 0) return sql
    var w = open
    while (w > 0 && mask(w - 1).isWhitespace) w -= 1
    val ws = {
      var k = w
      while (k > 0 && (mask(k - 1).isLetterOrDigit || mask(k - 1) == '_')) k -= 1
      k
    }
    val kw = mask.substring(ws, w).toUpperCase(java.util.Locale.ROOT)
    if (kw != "CAST" && kw != "TRY_CAST") return sql
    val body = sql.substring(open + 1, m.start())
    val inner = s"graft_to_ipaddress($body)"
    val repl = if (kw == "TRY_CAST") s"try($inner)" else inner
    castIpAddress(sql.substring(0, ws) + repl + sql.substring(m.end()))
  }

  /** `X AT TIME ZONE Z` (SqlBase.g4 AT timeZoneSpecifier;
    * DesugarAtTimeZoneRewriter) → graft_at_timezone(X, Z). Operand X is the
    * preceding primary (parenthesized/call, quoted literal with optional
    * type keyword, or identifier chain); Z is a string literal, an
    * `INTERVAL '±hh:mm' HOUR TO MINUTE` offset (rendered as the offset
    * string — a valid zone id), or an identifier/call. */
  private def atTimeZone(sql: String): String = {
    val mask = maskLiterals(sql)
    val m = java.util.regex.Pattern
      .compile("(?i)\\bAT\\s+TIME\\s+ZONE\\b").matcher(mask)
    if (!m.find()) return sql
    // ---- operand (left) ----
    var e = m.start() - 1
    while (e >= 0 && mask(e).isWhitespace) e -= 1
    if (e < 0) return sql
    var s = -1
    if (mask(e) == ')') {
      var depth = 0; var p = e
      while (p >= 0 && s < 0) {
        mask(p) match {
          case ')' => depth += 1
          case '(' => depth -= 1; if (depth == 0) s = p
          case _ =>
        }
        p -= 1
      }
      if (s < 0) return sql
      var w = s - 1
      while (w >= 0 && mask(w).isWhitespace) w -= 1
      if (w >= 0 && (mask(w).isLetterOrDigit || mask(w) == '_')) {
        var k = w
        while (k >= 0 && (mask(k).isLetterOrDigit || mask(k) == '_')) k -= 1
        s = k + 1
      }
    } else if (sql(e) == '\'') {
      var p = e - 1
      while (p >= 0 && sql(p) != '\'') p -= 1
      if (p < 0) return sql
      s = p
      // optional typed-literal keyword (TIMESTAMP '...')
      var w = p - 1
      while (w >= 0 && mask(w).isWhitespace) w -= 1
      if (w >= 0 && (mask(w).isLetterOrDigit || mask(w) == '_')) {
        var k = w
        while (k >= 0 && (mask(k).isLetterOrDigit || mask(k) == '_')) k -= 1
        val word = mask.substring(k + 1, w + 1).toUpperCase(java.util.Locale.ROOT)
        if (word == "TIMESTAMP" || word == "TIME") s = k + 1
      }
    } else if (mask(e).isLetterOrDigit || mask(e) == '_') {
      var k = e
      while (k >= 0 && (mask(k).isLetterOrDigit || mask(k) == '_' || mask(k) == '.')) k -= 1
      s = k + 1
    } else return sql
    // ---- zone (right) ----
    var z = m.end()
    while (z < mask.length && mask(z).isWhitespace) z += 1
    if (z >= mask.length) return sql
    var zEnd = -1
    var zoneText: String = null
    if (sql(z) == '\'') {
      var p = z + 1
      while (p < sql.length && sql(p) != '\'') p += 1
      if (p >= sql.length) return sql
      zEnd = p + 1
      zoneText = sql.substring(z, zEnd)
    } else if (mask.regionMatches(true, z, "INTERVAL", 0, 8)) {
      // the interval body is blanked on the mask — re-read it from sql
      val im = java.util.regex.Pattern.compile(
        "(?is)^INTERVAL\\s*'([+-]?\\d{1,2}:\\d{2})'\\s*HOUR\\s+TO\\s+MINUTE")
        .matcher(sql.substring(z))
      if (!im.find()) return sql
      val off = im.group(1)
      val norm = if (off.startsWith("+") || off.startsWith("-")) off else "+" + off
      zEnd = z + im.end()
      zoneText = s"'$norm'"
    } else if (mask(z).isLetterOrDigit || mask(z) == '_') {
      var p = z
      while (p < mask.length && (mask(p).isLetterOrDigit || mask(p) == '_' || mask(p) == '.')) p += 1
      if (p < mask.length && mask(p) == '(') {
        var depth = 0
        while (p < mask.length) {
          mask(p) match {
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) { p += 1; zEnd = p }
            case _ =>
          }
          if (zEnd >= 0) p = mask.length else p += 1
        }
        if (zEnd < 0) return sql
      } else zEnd = p
      zoneText = sql.substring(z, zEnd)
    } else return sql
    val operand = sql.substring(s, e + 1)
    atTimeZone(sql.substring(0, s) +
      s"graft_at_timezone($operand, $zoneText)" + sql.substring(zEnd))
  }

  /** Presto `date_add('unit', n, ts)` / `date_diff('unit', a, b)` spell
    * the unit as a QUOTED string (DateTimeFunctions.java); Spark's parser
    * owns those names and rejects quoted units before any registry lookup,
    * so the quoted-unit calls reroute to the registry's *_unit aliases. */
  private def dateAddUnit(sql: String): String = {
    val mask = maskLiterals(sql)
    val m = java.util.regex.Pattern
      .compile("(?i)\\bDATE_(ADD|DIFF)\\s*\\(\\s*'").matcher(mask)
    if (!m.find()) return sql
    val fnEnd = sql.indexOf('(', m.start())
    val repl = "date_" + m.group(1).toLowerCase(java.util.Locale.ROOT) + "_unit"
    sql.substring(0, m.start()) + repl + dateAddUnit(sql.substring(fnEnd))
  }

  /** Presto allows a bare VALUES table as an IN-list subquery
    * (`x IN (VALUES (1), (2))`); Spark's grammar wants a query there —
    * wrap it: `IN (SELECT * FROM (VALUES ...))`. */
  private def inValues(sql: String): String = {
    val mask = maskLiterals(sql)
    val m = java.util.regex.Pattern
      .compile("(?i)\\bIN\\s*\\(\\s*VALUES\\b").matcher(mask)
    if (!m.find()) return sql
    val open = mask.indexOf('(', m.start())
    var depth = 1
    var i = open + 1
    while (i < mask.length && depth > 0) {
      if (mask(i) == '(') depth += 1 else if (mask(i) == ')') depth -= 1
      i += 1
    }
    val body = sql.substring(open + 1, i - 1)
    // the derived table needs an alias: Spark parses an unaliased
    // `FROM (VALUES ...)` inside a subquery as a call to a routine FROM
    sql.substring(0, m.start()) + s"IN (SELECT * FROM ($body) __graft_v)" +
      inValues(sql.substring(i))
  }

  /** Presto allows zero-argument `count()` (≡ count(*), SqlBase.g4
    * functionCall with empty args; AbstractTestQueries
    * testWindowFunctionWithoutParameters); Spark's parser rejects the empty
    * argument list. */
  /** Spark's grammar rejects LATERAL inside a PARENTHESIZED join relation
    * (`FROM ((subq) u CROSS JOIN UNNEST(u.a) t(c)) GROUP BY ...` — 0.206
    * allows the wrapping parens, AbstractTestQueries testUnnest union
    * form). When the UNNEST rewrite has introduced LATERAL at the top
    * level of such a pair and the pair is an un-aliased complete FROM
    * relation (followed by a clause keyword, a closing paren, a comma, or
    * the end), the parens are semantically transparent — strip them. */
  private def unwrapLateralParens(sql: String): String = {
    val mask = maskLiterals(sql)
    val fromPat = java.util.regex.Pattern
      .compile("(?i)\\bFROM\\s*\\(").matcher(mask)
    def identChar(c: Char): Boolean =
      c.isLetterOrDigit || c == '_' || c == '$'
    while (fromPat.find()) {
      val open = fromPat.end() - 1
      // a derived table (subquery) directly after the paren is a shape
      // Spark already accepts LATERAL inside — never strip those parens
      var k = open + 1
      while (k < mask.length && mask(k).isWhitespace) k += 1
      val derivedTable = Seq("SELECT", "WITH", "VALUES", "TABLE").exists { kw =>
        mask.regionMatches(true, k, kw, 0, kw.length) &&
          (k + kw.length >= mask.length || !identChar(mask(k + kw.length)))
      }
      var depth = 1
      var i = open + 1
      var lateralTop = false
      while (i < mask.length && depth > 0) {
        mask(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
            if (depth == 1 && !derivedTable &&
                mask.regionMatches(true, i, "LATERAL", 0, 7) &&
                (i == 0 || !identChar(mask(i - 1))) &&
                (i + 7 >= mask.length || !identChar(mask(i + 7))))
              lateralTop = true
        }
        i += 1
      }
      val close = i - 1
      var j = close + 1
      while (j < mask.length && mask(j).isWhitespace) j += 1
      val follower =
        if (j >= mask.length) ""
        else mask.substring(j, math.min(mask.length, j + 10))
      val unaliased = j >= mask.length || follower.startsWith(")") ||
        follower.startsWith(",") ||
        "(?i)^(GROUP|ORDER|WHERE|HAVING|LIMIT|UNION|EXCEPT|INTERSECT)\\b".r
          .findFirstIn(follower).isDefined
      if (lateralTop && unaliased && close > open)
        return unwrapLateralParens(sql.substring(0, open) + " " +
          sql.substring(open + 1, close) + " " + sql.substring(close + 1))
    }
    sql
  }

  /** Presto `TABLESAMPLE SYSTEM|BERNOULLI (n)` (SqlBase.g4 sampleType,
    * SampleNode.java:40) — Spark's spelling is `TABLESAMPLE (n PERCENT)`
    * (row-level Bernoulli). SYSTEM's split-level granularity is an
    * execution detail the reference's own boundary test doesn't pin
    * beyond 0 → empty and 100 → everything, which hold exactly. */
  private def tablesample(sql: String): String = {
    val mask = maskLiterals(sql)
    val m = java.util.regex.Pattern.compile(
      "(?i)\\bTABLESAMPLE\\s+(?:SYSTEM|BERNOULLI)\\s*\\(\\s*([0-9]+(?:\\.[0-9]+)?)\\s*\\)")
      .matcher(mask)
    if (!m.find()) return sql
    sql.substring(0, m.start()) + "TABLESAMPLE (" + m.group(1) + " PERCENT)" +
      tablesample(sql.substring(m.end()))
  }

  private def countStar(sql: String): String = {
    val mask = maskLiterals(sql)
    val m = java.util.regex.Pattern
      .compile("(?i)\\bCOUNT\\s*\\(\\s*\\)").matcher(mask)
    if (!m.find()) return sql
    sql.substring(0, m.start()) + "count(*)" + countStar(sql.substring(m.end()))
  }

  /** Presto ordered aggregates (SqlBase.g4 aggregation orderBy;
    * AggregationNode.java:77 carries the orderings):
    * `array_agg(x ORDER BY k1 [ASC|DESC] [NULLS FIRST|LAST], ...)` —
    * Spark has no ORDER BY inside aggregate calls, so the clause lowers to
    * sorting AFTER collection: collect (key..., value) structs, array_sort
    * with a comparator built from the sort items (Presto sort-item
    * defaults: ASC, NULLS LAST), project the value back out. A trailing
    * `FILTER (WHERE ...)` moves onto the collect_list (same pre-aggregation
    * semantics); zero collected rows yield NULL, not an empty array
    * (ArrayAggregationFunction returns NULL for an empty group). DISTINCT
    * dedups the (key, value) structs — legal Presto ordered-DISTINCT
    * requires sort keys ⊆ arguments, where that IS distinct-by-value. */
  private def orderedAggs(sql0: String): String = {
    val mask = maskLiterals(sql0)
    val m = java.util.regex.Pattern
      .compile("(?i)\\barray_agg\\s*\\(").matcher(mask)
    while (m.find()) {
      val open = m.end() - 1
      // one scan of the call body: top-level commas, ORDER BY, close paren
      var depth = 1
      var i = open + 1
      var obStart = -1 // position of O in top-level ORDER
      var obAfterBy = -1
      val commas = scala.collection.mutable.ArrayBuffer.empty[Int]
      while (i < mask.length && depth > 0) {
        mask(i) match {
          case '(' | '[' => depth += 1; i += 1
          case ')' | ']' => depth -= 1; i += 1
          case ',' if depth == 1 => if (obStart < 0) commas += i; i += 1
          case c if c.isLetter || c == '_' =>
            val ws = i
            while (i < mask.length && (mask(i).isLetterOrDigit || mask(i) == '_')) i += 1
            if (depth == 1 && obStart < 0 &&
                mask.substring(ws, i).equalsIgnoreCase("order")) {
              var j = i
              while (j < mask.length && mask(j).isWhitespace) j += 1
              var k = j
              while (k < mask.length && (mask(k).isLetterOrDigit || mask(k) == '_')) k += 1
              if (mask.substring(j, k).equalsIgnoreCase("by")) {
                obStart = ws; obAfterBy = k; i = k
              }
            }
          case _ => i += 1
        }
      }
      val close = i - 1
      if (obStart >= 0 && depth == 0) {
        // argument (strip an optional DISTINCT head)
        var argFrom = open + 1
        val dm = java.util.regex.Pattern.compile("(?is)^\\s*DISTINCT\\b")
          .matcher(mask.substring(argFrom, obStart))
        val distinct = dm.find()
        if (distinct) argFrom += dm.end()
        val arg = sql0.substring(argFrom, obStart).trim
        // sort items: top-level commas within the ORDER BY region
        var d2 = 0
        var p = obAfterBy
        val cuts = scala.collection.mutable.ArrayBuffer(obAfterBy)
        while (p < close) {
          mask(p) match {
            case '(' | '[' => d2 += 1
            case ')' | ']' => d2 -= 1
            case ',' if d2 == 0 => cuts += p + 1
            case _ =>
          }
          p += 1
        }
        val bounds = (cuts :+ (close + 1)).toSeq
        case class Item(expr: String, asc: Boolean, nullsFirst: Boolean)
        val items = bounds.sliding(2).map { w =>
          var (from, to) = (w(0), w(1) - 1) // to excludes the , or )
          var slice = mask.substring(from, to)
          var asc = true
          var nullsFirst = false // Presto sort-item default: NULLS LAST
          val nm = java.util.regex.Pattern
            .compile("(?is)\\s+NULLS\\s+(FIRST|LAST)\\s*$").matcher(slice)
          if (nm.find()) {
            nullsFirst = nm.group(1).equalsIgnoreCase("first")
            to = from + nm.start(); slice = mask.substring(from, to)
          }
          val am = java.util.regex.Pattern
            .compile("(?is)\\s+(ASC|DESC)\\s*$").matcher(slice)
          if (am.find()) {
            asc = am.group(1).equalsIgnoreCase("asc")
            to = from + am.start()
          }
          Item(sql0.substring(from, to).trim, asc, nullsFirst)
        }.toSeq
        // optional trailing FILTER (WHERE cond) — Spark only allows FILTER
        // on a top-level aggregate call, so the condition folds INTO the
        // collect instead: rows failing it produce a NULL (CASE without
        // ELSE), which collect_list drops — same pre-aggregation semantics.
        var tail = close + 1
        var filterCond = ""
        val fm = java.util.regex.Pattern
          .compile("(?is)^\\s*FILTER\\s*\\(\\s*WHERE\\b")
          .matcher(mask.substring(close + 1))
        if (fm.find()) {
          var fd = 1
          var q = close + 1 + fm.end()
          while (q < mask.length && fd > 0) {
            if (mask(q) == '(') fd += 1 else if (mask(q) == ')') fd -= 1
            q += 1
          }
          filterCond = sql0.substring(close + 1 + fm.end(), q - 1).trim
          tail = q
        }
        // unique lambda/struct names (deterministic per input text)
        val k = Iterator.from(0)
          .find(n => !sql0.contains(s"__ga${n}l")).get
        val (lv, rv, vv) = (s"__ga${k}l", s"__ga${k}r", s"__ga${k}v")
        val fields = items.zipWithIndex
          .map { case (it, n) => s"${it.expr} AS __s$n" } :+ s"$arg AS __v"
        val struct = s"struct(${fields.mkString(", ")})"
        val collected =
          if (filterCond.isEmpty) struct
          else s"CASE WHEN ($filterCond) THEN $struct END"
        val core = s"collect_list($collected)"
        val arr = if (distinct) s"array_distinct($core)" else core
        val cmp = items.zipWithIndex.foldRight("0") { case ((it, n), next) =>
          val (lt, gt) = if (it.asc) ("-1", "1") else ("1", "-1")
          val (ln, rn) = if (it.nullsFirst) ("-1", "1") else ("1", "-1")
          s"CASE WHEN $lv.__s$n IS NULL AND $rv.__s$n IS NULL THEN $next " +
            s"WHEN $lv.__s$n IS NULL THEN $ln WHEN $rv.__s$n IS NULL THEN $rn " +
            s"WHEN $lv.__s$n < $rv.__s$n THEN $lt " +
            s"WHEN $lv.__s$n > $rv.__s$n THEN $gt ELSE $next END"
        }
        // padding spaces: the source may abut the call against the next
        // token ("...)FROM" appears verbatim in the reference corpus)
        val repl = s"CASE WHEN size($arr) = 0 THEN NULL ELSE " +
          s"transform(array_sort($arr, ($lv, $rv) -> $cmp), $vv -> $vv.__v) END "
        return orderedAggs(
          sql0.substring(0, m.start()) + repl + sql0.substring(tail))
      }
    }
    sql0
  }

  /** `min(DISTINCT x)` / `max(DISTINCT x)` are legal in Presto and
    * identical to plain min/max (DISTINCT cannot change an extremum —
    * the planner's MarkDistinct is skipped for them); the Engine's compat
    * min/max builders reject the DISTINCT form, so drop the keyword.
    * Mask-guided so a literal containing "min(distinct" is untouched. */
  private def minMaxDistinct(sql0: String): String = {
    val mask = maskLiterals(sql0)
    val m = java.util.regex.Pattern
      .compile("(?i)\\b(min|max)\\s*\\(\\s*(distinct)\\b").matcher(mask)
    if (!m.find()) sql0
    else minMaxDistinct(
      sql0.substring(0, m.start(2)) + sql0.substring(m.end(2)))
  }

  /** Presto IGNORES a window frame declared on ranking / offset functions:
    * WindowOperator computes rank/row_number/ntile/lag/lead positionally
    * over the whole partition regardless of FrameInfo
    * (MAIN/operator/window/RankingFunction hierarchy takes no frame input;
    * the product-tests corpus writes e.g. `rank() OVER (ORDER BY d RANGE
    * BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)`). Spark REJECTS an
    * explicit frame on these functions at analysis — delete the frame
    * text, which carries no semantics in the reference. */
  private def stripNeutralFrames(sql0: String): String = {
    val mask = maskLiterals(sql0)
    def matchClose(open: Int): Int = {
      var depth = 1; var i = open + 1
      while (i < mask.length && depth > 0) {
        if (mask(i) == '(') depth += 1 else if (mask(i) == ')') depth -= 1
        i += 1
      }
      i - 1
    }
    val m = java.util.regex.Pattern.compile(
      "(?i)\\b(rank|dense_rank|percent_rank|cume_dist|row_number|ntile|lag|lead)\\s*\\(")
      .matcher(mask)
    while (m.find()) {
      val close = matchClose(m.end() - 1)
      val overM = java.util.regex.Pattern.compile("(?is)^\\s*OVER\\s*\\(")
        .matcher(mask.substring(close + 1))
      if (overM.find()) {
        val overOpen = close + 1 + overM.end() - 1
        val overClose = matchClose(overOpen)
        val body = mask.substring(overOpen + 1, overClose)
        var frAt = -1
        val fm = java.util.regex.Pattern
          .compile("(?i)\\b(ROWS|RANGE|GROUPS)\\b").matcher(body)
        while (frAt < 0 && fm.find()) {
          val pre = body.substring(0, fm.start())
          if (pre.count(_ == '(') == pre.count(_ == ')')) frAt = fm.start()
        }
        if (frAt >= 0)
          return stripNeutralFrames(
            sql0.substring(0, overOpen + 1 + frAt) + sql0.substring(overClose))
      }
    }
    sql0
  }

  /** Presto evaluates window frame bounds PER ROW (WindowOperator /
    * FrameInfo take a bound CHANNEL — AbstractTestQueries testWindowFrames
    * runs `ROWS BETWEEN mod(custkey, 2) PRECEDING AND custkey / 500
    * FOLLOWING`); Spark's parser requires foldable bounds. Non-literal ROWS
    * bounds on sum/avg/count/min/max are lowered here to a per-row fold of
    * the collected partition: one UNBOUNDED..UNBOUNDED collect_list (the
    * only semantics-preserving shape — the frame of every row can reach any
    * position), one row_number, then a sequence(s0, e0) index fold reading
    * elements in place.
    * All pieces bind once via a single-element transform() so the window
    * expressions are not duplicated per use. The generated text contains no
    * `[n]` subscripts (the 1-based subscript shift never fires on it)
    * and its ORDER BY items pick up the Presto NULLS LAST default from the
    * defaultNullOrdering pass that runs after this one.
    *
    * SCALE CONTRACT: the collected array is O(partition) heap — the same
    * bound as the reference's WindowOperator/PagesIndex
    * (presto-main/.../operator/WindowOperator.java). TIME:
    * [[graft.plans.DynamicFrameJoin]] rewrites the emitted Window into a
    * grouped-aggregate branch (one sorted array per partition) joined back
    * to the rows — WindowExec never serializes the O(partition) array into
    * every output UnsafeRow (that serialization alone was O(rows²) bytes)
    * — and the body below folds `sequence(s0, e0)` with `element_at`
    * reads instead of `slice`, whose interpreted eval copies the whole
    * array per row. Measured (tools/DynFrameProbe): the two changes cut
    * the single-partition constant ~2.5×, but the per-row cost is STILL
    * O(partition): Spark's interpreted higher-order-function eval pays an
    * O(array)-per-call tax whenever the partition array flows through a
    * lambda (measured directly: one element_at per row over a broadcast
    * 160k array is 0.3 s; the same read wrapped in transform() is 45 s) —
    * so both the binder transform() and the fold keep the giant-single-
    * partition case superlinear. The linear path is prefix arrays +
    * binder inlining (DynamicFrameJoin scaladoc). DynamicFramesSpec pins
    * the single-partition bound, the join plan shape, and
    * join-vs-WindowExec-path equivalence
    * (`spark.graft.dynamicFrameJoin=false` keeps the single-branch form). */
  private def dynamicFrames(sql0: String): String = {
    val mask = maskLiterals(sql0)
    sealed trait Bound
    case object UnbPrec extends Bound
    case object UnbFoll extends Bound
    case object CurRow extends Bound
    case class Prec(e: String) extends Bound
    case class Foll(e: String) extends Bound
    def classify(t: String): Option[Bound] = {
      val s = t.trim
      if (s.matches("(?is)^UNBOUNDED\\s+PRECEDING$")) Some(UnbPrec)
      else if (s.matches("(?is)^UNBOUNDED\\s+FOLLOWING$")) Some(UnbFoll)
      else if (s.matches("(?is)^CURRENT\\s+ROW$")) Some(CurRow)
      else {
        val m = java.util.regex.Pattern
          .compile("(?is)^(.*\\S)\\s+(PRECEDING|FOLLOWING)$").matcher(s)
        if (!m.matches()) None
        else if (m.group(2).equalsIgnoreCase("preceding")) Some(Prec(m.group(1)))
        else Some(Foll(m.group(1)))
      }
    }
    def literal(b: Bound): Boolean = b match {
      case Prec(e) => e.trim.matches("\\d+")
      case Foll(e) => e.trim.matches("\\d+")
      case _ => true
    }
    // A CONSTANT frame whose start is after its end (`ROWS BETWEEN 2
    // PRECEDING AND 3 PRECEDING`) is legal in Presto and always empty
    // (aggregate over no rows → NULL / count 0); Spark rejects it at
    // analysis. Route those through the same slice machinery — its
    // `CASE WHEN e0 >= s0` guard produces the empty-frame result.
    def constOff(b: Bound): Option[Long] = b match {
      case Prec(e) if e.trim.matches("\\d+") => Some(-e.trim.toLong)
      case Foll(e) if e.trim.matches("\\d+") => Some(e.trim.toLong)
      case CurRow => Some(0L)
      case _ => None
    }
    def emptyConst(lo: Bound, hi: Bound): Boolean =
      (constOff(lo), constOff(hi)) match {
        case (Some(a), Some(b)) => a > b
        case _ => false
      }
    val m = java.util.regex.Pattern.compile("(?i)\\bOVER\\s*\\(").matcher(mask)
    while (m.find()) {
      val open = m.end() - 1
      var depth = 1
      var i = open + 1
      while (i < mask.length && depth > 0) {
        if (mask(i) == '(') depth += 1 else if (mask(i) == ')') depth -= 1
        i += 1
      }
      val close = i - 1
      val body = mask.substring(open + 1, close)
      // ROWS [BETWEEN] frame at paren depth 0 of the window spec
      val rb = java.util.regex.Pattern.compile("(?i)\\bROWS\\b").matcher(body)
      var found = false
      while (!found && rb.find()) {
        val d = body.substring(0, rb.start()).count(_ == '(') -
          body.substring(0, rb.start()).count(_ == ')')
        if (d == 0) found = true
      }
      if (found) {
        val afterRows = body.substring(rb.end())
        val between = java.util.regex.Pattern
          .compile("(?is)^\\s*BETWEEN\\b").matcher(afterRows)
        val (b1, b2) =
          if (between.find()) {
            // top-level AND splits the two bounds
            val region = afterRows.substring(between.end())
            var d2 = 0
            var p = 0
            var andAt = -1
            while (andAt < 0 && p < region.length) {
              region(p) match {
                case '(' => d2 += 1; p += 1
                case ')' => d2 -= 1; p += 1
                case c if c.isLetter || c == '_' =>
                  val ws = p
                  while (p < region.length &&
                    (region(p).isLetterOrDigit || region(p) == '_')) p += 1
                  if (d2 == 0 && region.substring(ws, p).equalsIgnoreCase("and"))
                    andAt = ws
                case _ => p += 1
              }
            }
            if (andAt < 0) (None, None)
            else {
              val base = open + 1 + rb.end() + between.end()
              (classify(sql0.substring(base, base + andAt)),
                classify(sql0.substring(base + andAt + 3, open + 1 + close - (open + 1))))
            }
          } else {
            // shorthand `ROWS e PRECEDING` = BETWEEN e PRECEDING AND CURRENT ROW
            val base = open + 1 + rb.end()
            (classify(sql0.substring(base, close)), Some(CurRow))
          }
        (b1, b2) match {
          case (Some(lo0), Some(hi0))
            if (!(literal(lo0) && literal(hi0)) || emptyConst(lo0, hi0)) &&
              lo0 != UnbFoll && hi0 != UnbPrec =>
            // window spec pieces (positions on the mask, text from sql0)
            val pm = java.util.regex.Pattern
              .compile("(?i)\\bORDER\\s+BY\\b").matcher(body)
            var obAt = -1
            while (obAt < 0 && pm.find()) {
              val d = body.substring(0, pm.start()).count(_ == '(') -
                body.substring(0, pm.start()).count(_ == ')')
              if (d == 0) obAt = pm.start()
            }
            // preceding aggregate call: `fname ( args )` directly before OVER
            var j = m.start() - 1
            while (j >= 0 && sql0(j).isWhitespace) j -= 1
            if (obAt >= 0 && obAt < rb.start() && j >= 0 && mask(j) == ')') {
              var dc = 1
              var k = j - 1
              while (k >= 0 && dc > 0) {
                if (mask(k) == ')') dc += 1 else if (mask(k) == '(') dc -= 1
                k -= 1
              }
              val openCall = k + 1
              var ne = openCall - 1
              while (ne >= 0 && sql0(ne).isWhitespace) ne -= 1
              var ns = ne
              while (ns >= 0 && (sql0(ns).isLetterOrDigit || sql0(ns) == '_')) ns -= 1
              val fname = sql0.substring(ns + 1, ne + 1).toLowerCase
              val arg = sql0.substring(openCall + 1, j).trim
              val supported =
                Set("sum", "avg", "count", "min", "max", "first_value", "last_value")
              if (supported(fname) && !arg.matches("(?is)^DISTINCT\\b.*")) {
                val partText = sql0.substring(open + 1, open + 1 + obAt).trim
                val orderText = sql0.substring(open + 1 + obAt, open + 1 + rb.start()).trim
                val suf = Iterator.from(0).find(n => !sql0.contains(s"__fr$n")).get
                val (w, x, acc) = (s"__fr${suf}w", s"__fr${suf}x", s"__fr${suf}a")
                val fullWin = s"OVER ($partText $orderText ROWS BETWEEN " +
                  "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
                val rnWin = s"OVER ($partText $orderText)"
                val collectVal = if (arg == "*") "1" else s"($arg)"
                val fields = scala.collection.mutable.ArrayBuffer(
                  s"collect_list(struct($collectVal AS __v)) $fullWin AS a",
                  s"row_number() $rnWin AS r")
                def off(b: Bound, slot: String): String = b match {
                  case UnbPrec => "1"
                  case UnbFoll => s"size($w.a)"
                  case CurRow => s"$w.r"
                  case Prec(e) =>
                    fields += s"CAST(($e) AS BIGINT) AS $slot"; s"$w.r - $w.$slot"
                  case Foll(e) =>
                    fields += s"CAST(($e) AS BIGINT) AS $slot"; s"$w.r + $w.$slot"
                }
                val lo = off(lo0, "p1")
                val hi = off(hi0, "p2")
                // marker consumed by plans.DynamicFrameJoin: fn name (with
                // `*` for count(*)) plus the two bound kinds — u(nbounded)/
                // c(urrent row)/p(receding: r-pN)/f(ollowing: r+pN) — so the
                // rule can rebuild s0/e0 from the r/p1/p2 fields and replace
                // the whole binder with prefix-array reads (sum/avg/count)
                // without parsing the fold body. Dead weight on the
                // fallback path (a never-read constant struct field).
                def kind(b: Bound): String = b match {
                  case UnbPrec | UnbFoll => "u"
                  case CurRow => "c"
                  case Prec(_) => "p"
                  case Foll(_) => "f"
                }
                if (Set("sum", "avg", "count")(fname))
                  fields += s"'$fname${if (arg == "*") "*" else ""}|" +
                    s"${kind(lo0)}|${kind(hi0)}' AS __dfr"
                val s0 = s"greatest(1, $lo)"
                val e0 = s"least(size($w.a), $hi)"
                // Per-row frame evaluation is O(frame), not O(partition):
                // iterate the index range with sequence() and read elements
                // in place via element_at() — zero-copy on UnsafeArrayData.
                // slice()'s interpreted eval copies the WHOLE partition
                // array per row (toObjectArray), which kept the pre-round-8
                // form quadratic even after the DynamicFrameJoin rewrite
                // removed WindowExec's per-row array serialization.
                val seq = s"sequence(CAST($s0 AS BIGINT), CAST($e0 AS BIGINT))"
                def elem(ix: String) = s"element_at($w.a, CAST($ix AS INT)).__v"
                val typedNull = s"IF(1=0, element_at($w.a, 1).__v, NULL)"
                def foldNn(init: String, merge: (String, String) => String) =
                  s"aggregate($seq, $init, ($acc, $x) -> ${merge(acc, elem(x))})"
                val nnCount = foldNn(s"CAST(0 AS BIGINT)",
                  (a, e) => s"$a + (CASE WHEN $e IS NULL THEN 0 ELSE 1 END)")
                val bodyExpr = fname match {
                  case "count" =>
                    val cnt =
                      if (arg == "*") s"CAST($e0 - $s0 + 1 AS BIGINT)" else nnCount
                    s"CASE WHEN $e0 >= $s0 THEN $cnt ELSE CAST(0 AS BIGINT) END"
                  case "sum" =>
                    s"CASE WHEN $e0 >= $s0 THEN ${foldNn(typedNull, (a, e) =>
                      s"CASE WHEN $e IS NULL THEN $a WHEN $a IS NULL THEN $e " +
                        s"ELSE $a + $e END")} END"
                  case "avg" =>
                    s"CASE WHEN $e0 >= $s0 THEN ${foldNn("CAST(NULL AS DOUBLE)",
                      (a, e) => s"CASE WHEN $e IS NULL THEN $a " +
                        s"WHEN $a IS NULL THEN CAST($e AS DOUBLE) " +
                        s"ELSE $a + CAST($e AS DOUBLE) END")} / nullif($nnCount, 0) END"
                  case "min" =>
                    s"CASE WHEN $e0 >= $s0 THEN ${foldNn(typedNull, (a, e) =>
                      s"CASE WHEN $e IS NULL THEN $a WHEN $a IS NULL THEN $e " +
                        s"WHEN $e < $a THEN $e ELSE $a END")} END"
                  case "max" =>
                    s"CASE WHEN $e0 >= $s0 THEN ${foldNn(typedNull, (a, e) =>
                      s"CASE WHEN $e IS NULL THEN $a WHEN $a IS NULL THEN $e " +
                        s"WHEN $e > $a THEN $e ELSE $a END")} END"
                  case "first_value" =>
                    s"CASE WHEN $e0 >= $s0 THEN ${elem(s0)} END"
                  case "last_value" =>
                    s"CASE WHEN $e0 >= $s0 THEN ${elem(e0)} END"
                }
                val repl = s"element_at(transform(array(struct(" +
                  fields.mkString(", ") + s")), $w -> $bodyExpr), 1)"
                return dynamicFrames(
                  sql0.substring(0, ns + 1) + repl + sql0.substring(close + 1))
              }
            }
          case _ =>
        }
      }
    }
    sql0
  }

  /** Presto GROUP BY forms Spark's grammar lacks (SqlBase.g4 groupingElement
    * + QueryPlanner grouping-set expansion): a bare `()` item (global set),
    * `GROUP BY DISTINCT ...` (deduplicates the EXPANDED sets —
    * AggregationNode), and mixing plain columns with ROLLUP/CUBE/GROUPING
    * SETS items (the expansion is the CROSS PRODUCT of each item's sets).
    * All three lower to one explicit `GROUPING SETS (...)` clause, which
    * both engines agree on. Plain single-form GROUP BY (columns only, or a
    * single ROLLUP/CUBE/GROUPING SETS) is left untouched — ordinals and
    * Spark's native paths stay intact. */
  private def groupByForms(sql0: String): String = {
    val mask = maskLiterals(sql0)
    val m = java.util.regex.Pattern
      .compile("(?i)\\bGROUP\\s+BY\\b").matcher(mask)
    while (m.find()) {
      // clause extent: to a depth-0 terminator keyword, a closing paren
      // below start depth, or end of text
      var i = m.end()
      var depth = 0
      var end = mask.length
      val term = java.util.regex.Pattern.compile(
        "(?i)^(HAVING|ORDER|WINDOW|LIMIT|OFFSET|FETCH|UNION|INTERSECT|EXCEPT)\\b")
      var scan = true
      while (scan && i < mask.length) {
        mask(i) match {
          case '(' => depth += 1; i += 1
          case ')' =>
            if (depth == 0) { end = i; scan = false } else { depth -= 1; i += 1 }
          case c if c.isLetter =>
            val ws = i
            while (i < mask.length && (mask(i).isLetterOrDigit || mask(i) == '_')) i += 1
            if (depth == 0 && term.matcher(mask.substring(ws, i)).find()) {
              end = ws; scan = false
            }
          case _ => i += 1
        }
      }
      val clause = sql0.substring(m.end(), end)
      val clauseMask = mask.substring(m.end(), end)
      // split items at depth-0 commas
      val cuts = scala.collection.mutable.ArrayBuffer(-1)
      var d = 0
      for (p <- clauseMask.indices) clauseMask(p) match {
        case '(' => d += 1
        case ')' => d -= 1
        case ',' if d == 0 => cuts += p
        case _ =>
      }
      cuts += clause.length
      var items = cuts.toSeq.sliding(2).map { case Seq(a, b) =>
        clause.substring(a + 1, b).trim
      }.toList
      val distinct = items.nonEmpty &&
        items.head.matches("(?is)^DISTINCT\\b.*")
      if (distinct) items = items.head.replaceFirst("(?is)^DISTINCT\\s*", "") :: items.tail
      def kind(it: String): String =
        if (it.matches("\\(\\s*\\)")) "empty"
        else if (it.matches("(?is)^ROLLUP\\s*\\(.*\\)$")) "rollup"
        else if (it.matches("(?is)^CUBE\\s*\\(.*\\)$")) "cube"
        else if (it.matches("(?is)^GROUPING\\s+SETS\\s*\\(.*\\)$")) "sets"
        else "plain"
      val kinds = items.map(kind)
      val needs = distinct || kinds.contains("empty") ||
        (items.length > 1 && kinds.exists(_ != "plain"))
      // bare single ROLLUP/CUBE keeps Spark's one-scan native plan, but its
      // `()` set misses Presto's one-row-on-EMPTY-input semantics — closed
      // below with a ZERO-SCAN union branch (global aggregate over
      // WHERE 1=0, admitted by a LIMIT-1 emptiness probe in HAVING), not
      // the full-scan global branch explicit `()` sets pay
      val bareSingle = !needs &&
        (kinds == List("rollup") || kinds == List("cube"))
      if ((needs || kinds == List("sets") || bareSingle) && items.nonEmpty) {
        // each item → its list of element-sets (elements are text chunks)
        def splitTop(s: String): List[String] = {
          val out = scala.collection.mutable.ArrayBuffer(-1)
          var dd = 0
          for (p <- s.indices) s(p) match {
            case '(' => dd += 1
            case ')' => dd -= 1
            case ',' if dd == 0 => out += p
            case _ =>
          }
          out += s.length
          out.toSeq.sliding(2).map { case Seq(a, b) => s.substring(a + 1, b).trim }
            .filter(_.nonEmpty).toList
        }
        def inner(it: String): String = {
          val o = it.indexOf('(')
          it.substring(o + 1, it.lastIndexOf(')'))
        }
        def elems(e: String): List[String] =
          if (e.startsWith("(") && e.endsWith(")")) splitTop(e.drop(1).dropRight(1))
          else List(e)
        val perItem: List[List[List[String]]] = items.zip(kinds).map {
          case (_, "empty") => List(Nil)
          case (it, "plain") => List(List(it))
          case (it, "rollup") =>
            val args = splitTop(inner(it)).map(elems)
            (args.length to 0 by -1).map(n => args.take(n).flatten).toList
          case (it, "cube") =>
            val args = splitTop(inner(it)).map(elems)
            args.foldRight(List(List.empty[String])) { (a, acc) =>
              acc.map(a ++ _) ++ acc
            }
          case (it, _) =>
            splitTop(inner(it)).map(s =>
              if (s.matches("\\(\\s*\\)")) Nil
              else if (s.startsWith("(")) splitTop(s.drop(1).dropRight(1))
              else List(s))
        }
        var sets: List[List[String]] =
          perItem.foldLeft(List(List.empty[String])) { (acc, itemSets) =>
            acc.flatMap(prefix => itemSets.map(prefix ++ _))
          }
        if (distinct) {
          val seen = scala.collection.mutable.LinkedHashMap.empty[Set[String], List[String]]
          sets.foreach { s =>
            val k = s.map(_.toLowerCase.replaceAll("\\s+", " ")).toSet
            if (!seen.contains(k)) seen.update(k, s)
          }
          sets = seen.values.toList
        }
        // EMPTY grouping sets: Presto emits one row per empty set even on
        // EMPTY input (each is a global aggregation — QueryPlanner); Spark's
        // Expand-based plan emits nothing. Queries that spell `()` out are
        // lowered to `GROUPING SETS (non-empty) UNION ALL <global agg>` —
        // identical on non-empty input, correct on empty input. The extra
        // branch is a global partial-aggregate scan, paid ONLY by queries
        // that wrote an explicit empty set; a single bare ROLLUP/CUBE keeps
        // Spark's one-scan native plan (its `()` set misses the
        // empty-input row — documented divergence; doubling every rollup's
        // scans for that corner is the wrong trade at scale).
        val hasEmpty = sets.exists(_.isEmpty)
        def normEl(s: String) = s.toLowerCase.replaceAll("\\s+", " ").trim
        lazy val unionRewrite: Option[String] = {
          if (!hasEmpty) None
          else {
            val depthPrefix = {
              val arr = new Array[Int](mask.length + 1)
              var dd = 0
              for (p <- mask.indices) {
                arr(p) = dd
                if (mask(p) == '(') dd += 1 else if (mask(p) == ')') dd -= 1
              }
              arr(mask.length) = dd
              arr
            }
            val gbDepth = depthPrefix(m.start())
            var qStart = -1
            val sm = java.util.regex.Pattern.compile("(?i)\\bSELECT\\b").matcher(mask)
            while (sm.find() && sm.start() < m.start())
              if (depthPrefix(sm.start()) == gbDepth) qStart = sm.start()
            val groupEls = sets.flatten.map(normEl).toSet
            if (qStart < 0 || groupEls.exists(_.matches("\\d+"))) None
            else {
              val selEnd = qStart + "SELECT".length
              // select-list extent: to the depth-equal FROM
              var fp = selEnd
              var fromAt = -1
              while (fromAt < 0 && fp < m.start()) {
                if (mask(fp).isLetter) {
                  val ws = fp
                  while (fp < mask.length && (mask(fp).isLetterOrDigit || mask(fp) == '_')) fp += 1
                  if (depthPrefix(ws) == gbDepth &&
                      mask.substring(ws, fp).equalsIgnoreCase("from")) fromAt = ws
                } else fp += 1
              }
              val selText = if (fromAt < 0) "" else sql0.substring(selEnd, fromAt)
              // HAVING region after the GROUP BY clause
              val afterM = java.util.regex.Pattern.compile("(?is)^\\s*HAVING\\b")
                .matcher(mask.substring(end))
              var tailStart = end
              var userHaving = ""
              if (afterM.find()) {
                var hp = end + afterM.end()
                var hEnd = mask.length
                val hterm = java.util.regex.Pattern.compile(
                  "(?i)^(ORDER|WINDOW|LIMIT|OFFSET|FETCH|UNION|INTERSECT|EXCEPT)$")
                var hscan = true
                while (hscan && hp < mask.length) {
                  mask(hp) match {
                    case '(' => hp += 1
                    case ')' if depthPrefix(hp) == gbDepth => hEnd = hp; hscan = false
                    case c if c.isLetter =>
                      val ws = hp
                      while (hp < mask.length && (mask(hp).isLetterOrDigit || mask(hp) == '_')) hp += 1
                      if (depthPrefix(ws) == gbDepth &&
                          hterm.matcher(mask.substring(ws, hp)).find()) {
                        hEnd = ws; hscan = false
                      }
                    case _ => hp += 1
                  }
                }
                userHaving = sql0.substring(end, hEnd)
                tailStart = hEnd
              }
              // Window functions in the select list ride the rewrite via a
              // DISJOINT-branch lift (round 11): the probe-guarded union
              // branch emits rows exactly when the main branch does not,
              // so each side computes the window over its own rows — main
              // keeps the native plan with the window intact, and the
              // branch wraps its zero-scan global aggregate in a subquery
              // (grouping columns → typed-NULL inner columns, aggregate
              // calls → inner columns) and applies the window above it.
              // An OVER inside a nested subquery item or in HAVING keeps
              // the native plan (the lift itself bails on subquery-bearing
              // items, restoring the pre-round-11 behavior there).
              val selHasTopWindow =
                "(?i)\\bOVER\\s*\\(".r.findFirstIn(selText).isDefined
              val badGuards = fromAt < 0 ||
                selText.matches("(?is)^\\s*DISTINCT\\b.*") ||
                "(?i)\\bOVER\\s*\\(".r.findFirstIn(userHaving).isDefined
              if (badGuards) None
              else {
                // grouping(...) inside the GLOBAL-AGG union branch: every
                // argument is grouped away there, so the call is the
                // all-ones bitmask constant (Presto QueryPlanner assigns
                // bit 1 per absent argument, leftmost = MSB) — substitute
                // it textually, since the branch has no GROUP BY for the
                // call to resolve against
                def substGrouping(text: String): String = {
                  val tm = maskLiterals(text)
                  val gp = java.util.regex.Pattern
                    .compile("(?i)\\bgrouping\\s*\\(").matcher(tm)
                  val sb = new StringBuilder
                  var last = 0
                  while (gp.find()) if (gp.start() >= last) {
                    var gd = 1; var gi = gp.end(); var commas = 0
                    while (gi < tm.length && gd > 0) {
                      tm(gi) match {
                        case '(' => gd += 1
                        case ')' => gd -= 1
                        case ',' if gd == 1 => commas += 1
                        case _ =>
                      }
                      gi += 1
                    }
                    sb.append(text.substring(last, gp.start()))
                    sb.append("CAST(" + ((1L << (commas + 1)) - 1) +
                      " AS BIGINT)")
                    last = gi
                  }
                  sb.append(text.substring(last))
                  sb.toString
                }
                // NULL the grouping columns in the global-agg branch via a
                // typed all-NULL aggregate (max of an empty CASE)
                val selItems = {
                  val sm2 = mask.substring(selEnd, fromAt)
                  val cc = scala.collection.mutable.ArrayBuffer(-1)
                  var dd = 0
                  for (p <- sm2.indices) sm2(p) match {
                    case '(' => dd += 1
                    case ')' => dd -= 1
                    case ',' if dd == 0 => cc += p
                    case _ =>
                  }
                  cc += sm2.length
                  cc.toSeq.sliding(2).map { case Seq(a, b) =>
                    selText.substring(a + 1, b).trim }.toList
                }
                val branchList = selItems.map { it =>
                  val am = java.util.regex.Pattern
                    .compile("(?is)^(.*\\S)\\s+AS\\s+(\\w+)$").matcher(it)
                  val (expr, alias) =
                    if (am.matches()) (am.group(1), Some(am.group(2)))
                    else (it, None)
                  if (groupEls.contains(normEl(expr))) {
                    val a = alias.orElse(
                      if (expr.matches("[A-Za-z_][A-Za-z0-9_]*")) Some(expr)
                      else None)
                    s"max(CASE WHEN 1=0 THEN ($expr) END)" +
                      a.map(" AS " + _).getOrElse("")
                  } else substGrouping(it)
                }.mkString(", ")
                val fromText = sql0.substring(fromAt, m.start()).trim
                // (correlated bodies cannot reach here with a usable plan:
                // Spark rejects outer references under a grouping-sets
                // Aggregate before any of this matters)
                // position just past a depth-equal WHERE keyword, if any
                // (the user predicate runs from there to the GROUP BY)
                val whereEndAt = {
                  var p = fromAt
                  var at = -1
                  while (at < 0 && p < m.start()) {
                    if (mask(p).isLetter) {
                      val ws = p
                      while (p < m.start() &&
                        (mask(p).isLetterOrDigit || mask(p) == '_')) p += 1
                      if (depthPrefix(ws) == gbDepth &&
                          mask.substring(ws, p).equalsIgnoreCase("where"))
                        at = p
                    } else p += 1
                  }
                  at
                }
                // parenthesize the user predicate before AND-ing the
                // deadener — a bare `a OR b AND (1=0)` binds as
                // `a OR (b AND 1=0)` and leaves the branch alive
                val deadFrom =
                  if (whereEndAt >= 0)
                    sql0.substring(fromAt, whereEndAt) + " (" +
                      sql0.substring(whereEndAt, m.start()).trim +
                      ") AND (1=0)"
                  else fromText + " WHERE 1=0"
                val probe =
                  s"(SELECT count(*) FROM (SELECT 1 $fromText LIMIT 1)) = 0"
                val guard =
                  if (userHaving.trim.nonEmpty)
                    "HAVING (" + substGrouping(userHaving.trim.replaceFirst(
                      "(?is)^HAVING\\b", "").trim) + s") AND $probe"
                  else s"HAVING $probe"
                if (selHasTopWindow) {
                  windowLift(selItems, sets, normEl, substGrouping,
                    bareSingle, sql0, mask, qStart, m.end(), end, userHaving,
                    deadFrom, guard, tailStart)
                } else if (bareSingle) {
                  // native ROLLUP/CUBE stays (marker keeps re-entry from
                  // reprocessing it: the item reads as "plain"); the union
                  // branch costs ZERO scan — its aggregate runs over
                  // WHERE 1=0 (constant-folds to an empty LocalRelation)
                  // and the emptiness probe stops at the first input row
                  val main = sql0.substring(qStart, m.end()) +
                    " /*graft:native*/" + sql0.substring(m.end(), end) +
                    userHaving
                  val branch = "SELECT " + branchList + " " + deadFrom +
                    " " + guard
                  Some(sql0.substring(0, qStart) + main + " UNION ALL " +
                    branch + " " + sql0.substring(tailStart))
                } else {
                val nonEmpty = sets.filter(_.nonEmpty)
                val main =
                  if (nonEmpty.isEmpty) Nil
                  else List(sql0.substring(qStart, m.end()) + " " +
                    nonEmpty.map(s => "(" + s.mkString(", ") + ")")
                      .mkString("GROUPING SETS (", ", ", ")") + userHaving)
                val branch = "SELECT " + branchList + " " +
                  fromText + substGrouping(userHaving)
                val parts = main ++ List.fill(sets.count(_.isEmpty))(branch)
                Some(sql0.substring(0, qStart) + parts.mkString(" UNION ALL ") +
                  sql0.substring(tailStart))
                }
              }
            }
          }
        }
        unionRewrite match {
          case Some(rw) => return groupByForms(rw)
          case None if needs =>
            val rendered = sets.map(s => "(" + s.mkString(", ") + ")")
              .mkString("GROUPING SETS (", ", ", ")")
            return groupByForms(
              sql0.substring(0, m.end()) + " " + rendered + sql0.substring(end))
          case None =>
        }
      }
    }
    sql0
  }

  /** groupByForms' window-in-select lift (the round-11 close of the
    * empty-input residue — reference semantics:
    * MAIN/sql/analyzer/StatementAnalyzer.java:1540-1562). The probe-guarded
    * empty-set branch and the native main branch are DISJOINT (the probe
    * admits the branch exactly when the input is empty, where the native
    * plan emits nothing), so each side may compute the select list's
    * window functions over its own rows. Main keeps the native plan with
    * the original text; the branch becomes
    * `SELECT <items'> FROM (SELECT <typed-NULL grouping cols, aggregate
    * calls> <deadened FROM> <probe HAVING>) __graft_wb` where <items'>
    * rewrites aggregate calls to the inner aliases and grouping-element
    * identifiers to the typed-NULL columns — so a window's PARTITION
    * BY/ORDER BY resolves against the wrapped one-row aggregate. UNION
    * ALL takes its output names from the main branch, so the branch needs
    * no alias reconstruction. Bails (native plan, the pre-round-11
    * behavior) on: non-identifier grouping elements, subqueries inside a
    * select item, or unbalanced text. */
  private def windowLift(selItems: List[String], sets: List[List[String]],
      normEl: String => String, substGrouping: String => String,
      bareSingle: Boolean, sql0: String, mask: String, qStart: Int,
      gbKeywordEnd: Int, gbClauseEnd: Int, userHaving: String,
      deadFrom: String, guard: String, tailStart: Int): Option[String] = {
    val gElsOrig = {
      val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]
      sets.flatten.foreach(e => seen.getOrElseUpdate(normEl(e), e))
      seen.values.toList
    }
    if (!gElsOrig.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*"))) return None
    val gIdx = gElsOrig.map(_.toLowerCase).zipWithIndex.toMap
    // aggregate heads that must move into the inner query even when their
    // arguments reference grouping columns (sum(g) over empty input = NULL,
    // exactly the () row's value)
    val aggNames = Set("sum", "count", "avg", "min", "max", "stddev",
      "stddev_pop", "stddev_samp", "variance", "var_pop", "var_samp",
      "skewness", "kurtosis", "corr", "covar_pop", "covar_samp",
      "regr_slope", "regr_intercept", "bool_and", "bool_or", "every",
      "arbitrary", "any_value", "approx_distinct", "approx_percentile",
      "approx_set", "merge", "histogram", "numeric_histogram", "map_agg",
      "map_union", "multimap_agg", "array_agg", "checksum", "count_if",
      "max_by", "min_by", "geometric_mean", "bitwise_and_agg",
      "bitwise_or_agg", "bitwise_xor_agg", "listagg", "string_agg",
      "set_agg", "set_union", "reduce_agg", "approx_most_frequent",
      "entropy", "first", "last", "collect_list", "collect_set")
    val innerAggs =
      scala.collection.mutable.LinkedHashMap.empty[String, (String, String)]
    def aliasFor(callText: String): String = {
      val k = callText.toLowerCase.replaceAll("\\s+", " ").trim
      innerAggs.getOrElseUpdate(k,
        (s"__graft_a${innerAggs.size}", callText))._1
    }
    // one select item → its branch-outer text (None = can't place)
    def lift(text: String): Option[String] = {
      val tm = maskLiterals(text)
      if ("(?i)\\bSELECT\\b".r.findFirstIn(tm).isDefined) return None
      def refsGrouping(from: Int, until: Int): Boolean = {
        var p = from; var found = false
        while (!found && p < until) {
          if (tm(p).isLetter || tm(p) == '_') {
            val ws = p
            while (p < until && (tm(p).isLetterOrDigit || tm(p) == '_')) p += 1
            var q = p
            while (q < until && tm(q).isWhitespace) q += 1
            val qualified = (ws > 0 && tm(ws - 1) == '.') ||
              (q < until && (tm(q) == '(' || tm(q) == '.'))
            if (!qualified && gIdx.contains(text.substring(ws, p).toLowerCase))
              found = true
          } else p += 1
        }
        found
      }
      def closeOf(open: Int): Int = {
        var dd = 0; var p = open
        while (p < tm.length) {
          if (tm(p) == '(') dd += 1
          else if (tm(p) == ')') { dd -= 1; if (dd == 0) return p }
          p += 1
        }
        -1
      }
      val sb = new StringBuilder
      var p = 0
      var ok = true
      def emitRange(a: Int, b: Int): Unit =
        lift(text.substring(a, b)) match {
          case Some(t) => sb.append(t)
          case None => ok = false
        }
      while (ok && p < text.length) {
        val c = tm(p)
        if (c.isLetter || c == '_') {
          val ws = p
          while (p < tm.length && (tm(p).isLetterOrDigit || tm(p) == '_')) p += 1
          val word = text.substring(ws, p)
          var q = p
          while (q < tm.length && tm(q).isWhitespace) q += 1
          val isCall = q < tm.length && tm(q) == '(' &&
            (ws == 0 || tm(ws - 1) != '.')
          if (isCall) {
            val close = closeOf(q)
            if (close < 0) ok = false
            else {
              // absorb a FILTER (WHERE ...) suffix into the call extent
              var fEnd = close + 1
              val fm = java.util.regex.Pattern.compile("(?is)^\\s*FILTER\\s*\\(")
                .matcher(tm.substring(close + 1))
              if (fm.find()) {
                val fClose = closeOf(close + 1 + fm.end() - 1)
                if (fClose >= 0) fEnd = fClose + 1
              }
              val om = java.util.regex.Pattern.compile("(?is)^\\s*OVER\\s*\\(")
                .matcher(tm.substring(fEnd))
              if (om.find()) { // window call: recurse into args + spec
                val oOpen = fEnd + om.end() - 1
                val oClose = closeOf(oOpen)
                if (oClose < 0) ok = false
                else {
                  sb.append(word).append('(')
                  emitRange(q + 1, close)
                  sb.append(')').append(text.substring(close + 1, oOpen + 1))
                  emitRange(oOpen + 1, oClose)
                  sb.append(')')
                  p = oClose + 1
                }
              } else {
                val overInside = "(?i)\\bOVER\\b".r
                  .findFirstIn(tm.substring(ws, fEnd)).isDefined
                if (!overInside && (aggNames.contains(word.toLowerCase) ||
                    !refsGrouping(ws, fEnd))) {
                  sb.append(aliasFor(text.substring(ws, fEnd)))
                  p = fEnd
                } else { // scalar over grouping cols / nested window: recurse
                  sb.append(word).append('(')
                  emitRange(q + 1, close)
                  sb.append(')').append(text.substring(close + 1, fEnd))
                  p = fEnd
                }
              }
            }
          } else {
            gIdx.get(word.toLowerCase) match {
              case Some(i) if (ws == 0 || tm(ws - 1) != '.') &&
                  (q >= tm.length || tm(q) != '.') =>
                sb.append(s"__graft_g$i")
              case _ => sb.append(word)
            }
          }
        } else { sb.append(text(p)); p += 1 }
      }
      if (ok) Some(sb.toString) else None
    }
    val outerItems = selItems.map(it => lift(substGrouping(it)))
    if (outerItems.exists(_.isEmpty)) return None
    val innerGs = gElsOrig.zipWithIndex.map { case (g, i) =>
      s"max(CASE WHEN 1=0 THEN ($g) END) AS __graft_g$i" }
    val innerSel = (innerGs ++
      innerAggs.values.toList.map { case (a, t) => s"$t AS $a" } ++
      (if (innerGs.isEmpty) List("count(*) AS __graft_cnt") else Nil))
      .mkString(", ")
    // ONE branch regardless of how many empty sets: separate UNION'd
    // branches would each compute the window over their own single row
    // (two `()` sets would both get row_number()=1); instead the inner
    // aggregate row is replicated per empty set and the branch's window
    // spans all replicas — exactly Presto/DuckDB's one-row-per-empty-set
    // + window-over-the-result semantics.
    val nEmpty = sets.count(_.isEmpty)
    val dupJoin =
      if (nEmpty <= 1) ""
      else " CROSS JOIN (" + (1 to nEmpty)
        .map(i => s"SELECT $i AS __graft_dup")
        .mkString(" UNION ALL ") + ") __graft_dups"
    val branch = "SELECT " + outerItems.map(_.get).mkString(", ") +
      " FROM (SELECT " + innerSel + " " + deadFrom + " " + guard +
      ") __graft_wb" + dupJoin
    val main =
      if (bareSingle)
        sql0.substring(qStart, gbKeywordEnd) + " /*graft:native*/" +
          sql0.substring(gbKeywordEnd, gbClauseEnd) + userHaving
      else
        sql0.substring(qStart, gbKeywordEnd) + " /*graft:native*/ " +
          sets.map(s => "(" + s.mkString(", ") + ")")
            .mkString("GROUPING SETS (", ", ", ")") + userHaving
    Some(sql0.substring(0, qStart) + main + " UNION ALL " + branch +
      " " + sql0.substring(tailStart))
  }

  /** Presto `x LIKE p ESCAPE NULL` evaluates to NULL (null escape — the
    * reference's LikeFunctions reads the escape at runtime); Spark's
    * grammar requires a literal escape character and rejects NULL at
    * parse. A NULL pattern likewise yields NULL, so substituting the
    * pattern-plus-escape with a typed NULL preserves the semantics. */
  private def escapeNull(sql0: String): String = {
    val mask = maskLiterals(sql0)
    val m = java.util.regex.Pattern
      .compile("(?i)\\bLIKE\\s*'[^']*'\\s+ESCAPE\\s+NULL\\b").matcher(mask)
    if (!m.find()) return sql0
    val likeEnd = sql0.indexOf('\'', m.start())
    escapeNull(sql0.substring(0, likeEnd) + "CAST(NULL AS STRING)" +
      sql0.substring(m.end()))
  }

  /** Presto EXTRACT fields vs Spark (reference DateTimeFunctions.java +
    * ExtractField grammar): Presto DOW/DAY_OF_WEEK is ISO (Mon=1..Sun=7;
    * Spark's DOW is Sunday-based — DOW_ISO matches); YOW/YEAR_OF_WEEK,
    * DAY_OF_MONTH, DAY_OF_YEAR need Spark's spellings; SECOND is the
    * integer second-of-minute (Spark returns a fractional DECIMAL);
    * TIMEZONE_HOUR/TIMEZONE_MINUTE route to timezone_hour/minute — the
    * session zone's offset at the instant (0 under the UTC default), or
    * the VALUE's zone for zone-carrying types. */
  private def extractFields(sql0: String): String = {
    val mask = maskLiterals(sql0)
    val m = java.util.regex.Pattern
      .compile("(?i)\\bEXTRACT\\s*\\(\\s*(\\w+)\\s+FROM\\b").matcher(mask)
    while (m.find()) {
      val field = m.group(1).toUpperCase
      val fs = m.start(1)
      val fe = m.end(1)
      val simple = Map(
        "DOW" -> "DOW_ISO", "DAY_OF_WEEK" -> "DOW_ISO",
        "YOW" -> "YEAROFWEEK", "YEAR_OF_WEEK" -> "YEAROFWEEK",
        "DAY_OF_MONTH" -> "DAY", "DAY_OF_YEAR" -> "DOY")
      if (simple.contains(field))
        return extractFields(
          sql0.substring(0, fs) + simple(field) + sql0.substring(fe))
      if (field == "SECOND" || field == "TIMEZONE_HOUR" ||
          field == "TIMEZONE_MINUTE") {
        val open = sql0.indexOf('(', m.start())
        var depth = 1
        var i = open + 1
        while (i < mask.length && depth > 0) {
          if (mask(i) == '(') depth += 1 else if (mask(i) == ')') depth -= 1
          i += 1
        }
        val close = i - 1
        val repl =
          if (field == "SECOND")
            "CAST(FLOOR(EXTRACT(SECS " +
              sql0.substring(fe, close) + ")) AS BIGINT)"
          else {
            // session-zone offset at the value's instant (0 under the UTC
            // default; ±h/±m after SET TIME ZONE) — routes to the same
            // timezone_hour/minute functions, which are tstz/ttz-aware
            val expr = sql0.substring(fe, close)
              .replaceFirst("(?is)^\\s*FROM\\b", "")
            val f =
              if (field == "TIMEZONE_HOUR") "timezone_hour"
              else "timezone_minute"
            s"$f($expr)"
          }
        return extractFields(
          sql0.substring(0, m.start()) + repl + sql0.substring(close + 1))
      }
    }
    sql0
  }

  /** Presto evaluates lag/lead offsets, nth_value positions, and ntile
    * bucket counts PER ROW (reference LagFunction.java:46-63,
    * LeadFunction.java, NthValueFunction.java, NTileFunction.java:45-76
    * read the argument channel at each position; a NULL argument yields
    * NULL, not the default). Spark requires foldable int literals for all
    * four. Rewrites, triggered ONLY when the argument is not a plain
    * integer literal (static calls keep Spark's native window fast path):
    *  - literal NULL argument → typed NULL (CASE WHEN 1=0).
    *  - lag/lead(v, k[, d]) → index the full-partition collect_list at
    *    row_number()∓k, Presto bounds + default semantics; k<0 errors.
    *  - nth_value(v, k) with an explicit full frame → element k of the
    *    partition array, NULL past the end, error below 1.
    *  - ntile(b) → Presto's exact bucket formula (NTileFunction.bucket)
    *    over row_number() and the partition row count.
    * The collected array is ONE value per partition (Spark computes an
    * unbounded-frame aggregate once per partition), so memory is
    * O(partition) — the same as the reference's WindowIndex, which also
    * materializes the full partition for these functions. */
  private def dynamicWindowArgs(sql0: String): String = {
    val mask = maskLiterals(sql0)
    def matchClose(open: Int): Int = {
      var depth = 1
      var i = open + 1
      while (i < mask.length && depth > 0) {
        if (mask(i) == '(') depth += 1 else if (mask(i) == ')') depth -= 1
        i += 1
      }
      i - 1
    }
    def splitArgs(open: Int, close: Int): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      var depth = 0
      var i = open + 1
      while (i < close) {
        mask(i) match {
          case '(' | '[' => depth += 1
          case ')' | ']' => depth -= 1
          case ',' if depth == 0 => out += i
          case _ =>
        }
        i += 1
      }
      val cuts = (open +: out.toSeq :+ close)
      cuts.sliding(2).map { case Seq(a, b) => sql0.substring(a + 1, b) }.toSeq
    }
    val m = java.util.regex.Pattern
      .compile("(?i)\\b(lag|lead|nth_value|ntile)\\s*\\(").matcher(mask)
    while (m.find()) {
      val fname = m.group(1).toLowerCase
      val fnStart = m.start()
      val open = m.end() - 1
      val close = matchClose(open)
      val args = splitArgs(open, close)
      val overM = java.util.regex.Pattern.compile("(?is)^\\s*OVER\\s*\\(")
        .matcher(mask.substring(close + 1))
      val argIdx = if (fname == "ntile") 0 else 1
      val dynamic = args.length > argIdx &&
        !args(argIdx).trim.matches("\\d+") && overM.find()
      if (dynamic) {
        val overOpen = close + 1 + overM.end() - 1
        val overClose = matchClose(overOpen)
        val body = mask.substring(overOpen + 1, overClose)
        def depth0(p: java.util.regex.Pattern): Int = {
          val mm = p.matcher(body)
          var at = -1
          while (at < 0 && mm.find()) {
            val pre = body.substring(0, mm.start())
            if (pre.count(_ == '(') == pre.count(_ == ')')) at = mm.start()
          }
          at
        }
        val obAt = depth0(java.util.regex.Pattern.compile("(?i)\\bORDER\\s+BY\\b"))
        val frAt = depth0(java.util.regex.Pattern.compile("(?i)\\b(ROWS|RANGE)\\b"))
        val bodyText = sql0.substring(overOpen + 1, overClose)
        val partText =
          bodyText.substring(0, if (obAt >= 0) obAt else if (frAt >= 0) frAt else bodyText.length).trim
        val orderText =
          if (obAt < 0) ""
          else bodyText.substring(obAt, if (frAt >= 0) frAt else bodyText.length).trim
        val frameText = if (frAt < 0) "" else bodyText.substring(frAt).trim
        val fullFrame = frameText.matches(
          "(?is)(ROWS|RANGE)\\s+BETWEEN\\s+UNBOUNDED\\s+PRECEDING\\s+AND\\s+UNBOUNDED\\s+FOLLOWING")
        val kArg = args(argIdx).trim
        val vArg = if (fname == "ntile") "CAST(1 AS BIGINT)" else args(0).trim
        def replaceWith(repl: String): String =
          sql0.substring(0, fnStart) + repl + sql0.substring(overClose + 1)
        if (kArg.equalsIgnoreCase("null")) {
          val nullT =
            if (fname == "ntile") "CAST(NULL AS BIGINT)"
            else s"(CASE WHEN 1=0 THEN ($vArg) END)"
          return dynamicWindowArgs(replaceWith(nullT))
        }
        // nth_value semantics depend on the frame; only the full-frame
        // form (the one the reference's own suite exercises dynamically)
        // is rewritten — other frames stay on the native path.
        if (fname != "nth_value" || fullFrame) {
          val suf = Iterator.from(0).find(n => !sql0.contains(s"__dw$n")).get
          val w = s"__dw${suf}w"
          val fullWin = s"OVER ($partText $orderText ROWS BETWEEN " +
            "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
          val rnWin = s"OVER ($partText $orderText)"
          val fields = scala.collection.mutable.ArrayBuffer(
            s"row_number() $rnWin AS r",
            s"CAST(($kArg) AS BIGINT) AS k")
          if (fname == "ntile")
            fields += s"count(*) OVER ($partText ROWS BETWEEN UNBOUNDED " +
              "PRECEDING AND UNBOUNDED FOLLOWING) AS n"
          else
            fields += s"collect_list(struct(($vArg) AS __v)) $fullWin AS a"
          // deliberate error paths (negative offset / position < 1 /
          // buckets <= 0 raise in Presto): element_at(..., 0) throws.
          val bodyExpr = fname match {
            case "lag" =>
              val dflt = if (args.length > 2) s"(${args(2).trim})" else "NULL"
              s"CASE WHEN $w.k IS NULL THEN NULL " +
                s"WHEN $w.k < 0 THEN element_at($w.a, 0).__v " +
                s"WHEN $w.r - $w.k >= 1 THEN " +
                s"element_at($w.a, CAST($w.r - $w.k AS INT)).__v " +
                s"ELSE $dflt END"
            case "lead" =>
              val dflt = if (args.length > 2) s"(${args(2).trim})" else "NULL"
              s"CASE WHEN $w.k IS NULL THEN NULL " +
                s"WHEN $w.k < 0 THEN element_at($w.a, 0).__v " +
                s"WHEN $w.r + $w.k <= size($w.a) THEN " +
                s"element_at($w.a, CAST($w.r + $w.k AS INT)).__v " +
                s"ELSE $dflt END"
            case "nth_value" =>
              s"CASE WHEN $w.k IS NULL THEN NULL " +
                s"WHEN $w.k >= 1 AND $w.k <= size($w.a) THEN " +
                s"element_at($w.a, CAST($w.k AS INT)).__v " +
                s"WHEN $w.k >= 1 THEN NULL " +
                s"ELSE element_at($w.a, 0).__v END"
            case "ntile" =>
              s"CASE WHEN $w.k <= 0 THEN element_at(array(CAST(1 AS BIGINT)), 0) " +
                s"WHEN $w.n < $w.k THEN CAST($w.r AS BIGINT) " +
                s"WHEN ($w.r - 1) < (($w.n div $w.k + 1) * ($w.n % $w.k)) " +
                s"THEN ($w.r - 1) div ($w.n div $w.k + 1) + 1 " +
                s"ELSE ($w.r - 1 - $w.n % $w.k) div ($w.n div $w.k) + 1 END"
          }
          val repl = "element_at(transform(array(struct(" +
            fields.mkString(", ") + s")), $w -> $bodyExpr), 1)"
          return dynamicWindowArgs(replaceWith(repl))
        }
      }
    }
    sql0
  }

  /** Presto's DEFAULT null placement is NULLS LAST for BOTH sort directions
    * (MAIN/sql/planner/QueryPlanner toSortOrder — UNDEFINED falls to the
    * LAST branch); Spark's ascending default is NULLS FIRST. The parser
    * materializes the default (a bare `ASC` is indistinguishable from
    * `ASC NULLS FIRST` in the plan), so the default is applied HERE in the
    * text, per sort item: every item that neither spells a NULLS ordering
    * nor ends with DESC (Spark's DESC default is already NULLS LAST) gets
    * `NULLS LAST` appended. Literal-aware via the position mask; applies to
    * query-level ORDER BY and window-spec ORDER BY alike, and coexists with
    * explicit NULLS FIRST/LAST on other items in the same query. */
  /** Presto's LIKE has NO default escape character (an ESCAPE clause must
    * be explicit — Presto LikeFunctions.likePattern): a backslash in the
    * pattern is a literal backslash. Spark defaults the escape to '\'.
    * With escapedStringLiterals on (Engine sessions), double every
    * backslash inside a LIKE pattern literal that is not followed by an
    * explicit ESCAPE clause, so each literal backslash matches itself. */
  private def likeNoEscape(sql0: String): String = {
    if (!sql0.contains('\\')) return sql0
    val mask = maskLiterals(sql0)
    val out = new StringBuilder
    var last = 0
    val m = java.util.regex.Pattern.compile("(?i)\\bLIKE\\s*'").matcher(mask)
    while (m.find()) {
      val litStart = m.end() // first char inside the quote
      var i = litStart
      // literal end on the MASKED text (interior chars incl. '' doubling
      // are blanked there; the closing quote survives)
      while (i < mask.length && mask(i) != '\'') i += 1
      var j = i + 1
      while (j < mask.length && mask(j).isWhitespace) j += 1
      val hasEscape = mask.regionMatches(true, j, "ESCAPE", 0, 6)
      if (!hasEscape && sql0.substring(litStart, i).contains('\\')) {
        out.append(sql0.substring(last, litStart))
        out.append(sql0.substring(litStart, i).replace("\\", "\\\\"))
        last = i
      }
    }
    out.append(sql0.substring(last))
    out.toString
  }

  private def defaultNullOrdering(sql: String): String = {
    val mask = maskLiterals(sql).toUpperCase(java.util.Locale.ROOT)
    val m = java.util.regex.Pattern.compile("\\bORDER\\s+BY\\b").matcher(mask)
    // end-of-item terminators at paren depth 0 (clause keywords; a column
    // literally named e.g. `rows` as the last sort key would stop the scan
    // early and just miss the append — harmless for correctness of parsing)
    val stop = Set("LIMIT", "OFFSET", "FETCH", "ROWS", "RANGE", "GROUPS",
      "WINDOW", "UNION", "INTERSECT", "EXCEPT")
    val inserts = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (m.find()) {
      var i = m.end()
      var depth = 0
      var itemStart = i
      var done = false
      def endItem(endPos: Int): Unit = {
        val words = mask.substring(itemStart, endPos)
          .split("[^A-Z0-9_$]+").filter(_.nonEmpty)
        val needs = words.nonEmpty && (words.last match {
          case "DESC" | "FIRST" | "LAST" => false
          case _ => true
        })
        if (needs) {
          // insert right after the last non-space char of the item
          var p = endPos
          while (p > itemStart && sql(p - 1).isWhitespace) p -= 1
          inserts += p
        }
      }
      while (i < mask.length && !done) {
        mask(i) match {
          case '(' | '[' => depth += 1; i += 1
          case ')' | ']' =>
            if (depth == 0) { endItem(i); done = true }
            else { depth -= 1; i += 1 }
          case ',' if depth == 0 =>
            endItem(i); i += 1; itemStart = i
          case ';' if depth == 0 => endItem(i); done = true
          case c if c.isLetter || c == '_' =>
            val ws = i
            while (i < mask.length && (mask(i).isLetterOrDigit || mask(i) == '_')) i += 1
            if (depth == 0 && stop(mask.substring(ws, i))) {
              endItem(ws); done = true
            }
          case _ => i += 1
        }
      }
      if (!done) endItem(mask.length)
    }
    if (inserts.isEmpty) sql
    else {
      val out = new StringBuilder(sql)
      inserts.sorted.reverse.foreach(p => out.insert(p, " NULLS LAST"))
      out.toString
    }
  }

  def rewrite(sql0: String): String = {
    val sql = likeNoEscape(escapeNull(defaultNullOrdering(dynamicFrames(dynamicWindowArgs(stripNeutralFrames(minMaxDistinct(extractFields(groupByForms(orderedAggs(
      quantifiedCmp(countStar(tablesample(inValues(castChar(castJson(castIpAddress(varbinaryType(castTstz(castTtz(atTimeZone(tstzLiterals(ttzLiterals(typedLiterals(
        dateAddUnit(normalizeForms(substringFrom(unwrapLateralParens(unnest(rowTypes(niladicSpecials(sql0)),
          new java.util.concurrent.atomic.AtomicLong(0))))))))))))))))))))))))))))))
    val out = new StringBuilder(sql.length + 16)
    // positions (in `out`) of '[' brackets opened: true = converted ARRAY[
    var stack = List.empty[Boolean]
    var i = 0
    val n = sql.length
    def isWordChar(c: Char) = c.isLetterOrDigit || c == '_'
    // VALUES-list tracking for Presto's `VALUES ROW(a, b)` row constructor
    // (SqlBase.g4 #rowConstructor): the ROW keyword there declares the
    // COLUMNS of the row — Spark's spelling is plain `VALUES (a, b)` — while
    // `ROW(...)` anywhere else builds a nested struct (function registry).
    var parenDepth = 0
    var valuesDepths = List.empty[Int]
    var rowStripPending = false
    var phantom = List.empty[Int] // depths of dropped `(ROW(...))` wrappers
    // `(ROW(args))` as a whole VALUES item is a PARENTHESIZED row
    // constructor (grouping parens around #rowConstructor): the wrapper
    // paren and the ROW keyword both vanish — `(args)` is Spark's form.
    def isPureRowWrapper(at: Int): Boolean = {
      var j = at + 1
      while (j < n && sql(j).isWhitespace) j += 1
      if (j + 3 > n || !sql.substring(j, j + 3).equalsIgnoreCase("row")) return false
      j += 3
      while (j < n && sql(j).isWhitespace) j += 1
      if (j >= n || sql(j) != '(') return false
      var d = 1; j += 1
      while (j < n && d > 0) {
        if (sql(j) == '(') d += 1 else if (sql(j) == ')') d -= 1
        j += 1
      }
      while (j < n && sql(j).isWhitespace) j += 1
      j < n && sql(j) == ')'
    }
    while (i < n) {
      val c = sql(i)
      c match {
        case '\'' => // string literal ('' escape)
          val start = i; i += 1
          while (i < n && (sql(i) != '\'' || (i + 1 < n && sql(i + 1) == '\'' && { i += 1; true }))) i += 1
          i = math.min(i + 1, n)
          out.append(sql.substring(start, i))
        case '"' => // quoted identifier — Presto's double quotes ALWAYS
          // delimit identifiers (SqlBase.g4; strings are single-quoted),
          // while Spark's default parser reads them as string literals.
          // Emit the backtick spelling ("" escape → ", ` → ``); Spark's
          // case-insensitive resolver then matches Presto's
          // case-insensitive identifier semantics.
          val start = i; i += 1
          val body = new StringBuilder
          while (i < n && (sql(i) != '"' ||
              (i + 1 < n && sql(i + 1) == '"' && { body.append('"'); i += 1; true }))) {
            if (sql(i) != '"') body.append(sql(i))
            i += 1
          }
          i = math.min(i + 1, n)
          out.append('`').append(body.toString.replace("`", "``")).append('`')
        case '-' if i + 1 < n && sql(i + 1) == '-' => // line comment
          val start = i
          while (i < n && sql(i) != '\n') i += 1
          out.append(sql.substring(start, i))
        case '/' if i + 1 < n && sql(i + 1) == '*' => // block comment
          val start = i; i += 2
          while (i + 1 < n && !(sql(i) == '*' && sql(i + 1) == '/')) i += 1
          i = math.min(i + 2, n)
          out.append(sql.substring(start, i))
        case ch if ch.isLetter || ch == '_' => // word: check for ARRAY [
          val start = i
          while (i < n && isWordChar(sql(i))) i += 1
          val word = sql.substring(start, i)
          var j = i
          while (j < n && sql(j).isWhitespace) j += 1
          if (word.equalsIgnoreCase("array") && j < n && sql(j) == '[') {
            out.append("array(")
            stack ::= true
            i = j + 1
            rowStripPending = false
          } else if (word.equalsIgnoreCase("varchar") && (j >= n || sql(j) != '(')) {
            // Presto's unbounded VARCHAR type — Spark's VARCHAR requires a
            // length; STRING is the unbounded equivalent.
            out.append("STRING")
            rowStripPending = false
          } else if ((word.equalsIgnoreCase("any") || word.equalsIgnoreCase("some")) &&
              j < n && sql(j) == '(' && out.reverseIterator.dropWhile(_.isWhitespace).take(1).contains('=') &&
              !out.reverseIterator.dropWhile(_.isWhitespace).slice(1, 2).exists(c => c == '<' || c == '>' || c == '!')) {
            // `x = ANY(subquery)` (quantifiedComparison, SqlBase.g4) is
            // exactly IN — Spark has no quantified-comparison grammar.
            val cut = out.length - 1 - out.reverseIterator.indexWhere(!_.isWhitespace)
            out.setLength(cut)
            out.append(" IN ")
          } else if (word.equalsIgnoreCase("all") && j < n && sql(j) == '(' && {
              val tail = out.reverseIterator.dropWhile(_.isWhitespace).take(2).mkString
              tail == "=!" || tail == "><" // "!=" reversed, "<>" reversed
            }) {
            // `x <> ALL(subquery)` / `x != ALL(subquery)` is NOT IN.
            val cut = out.length - 1 - out.reverseIterator.indexWhere(!_.isWhitespace)
            out.setLength(cut - 1)
            out.append(" NOT IN ")
          } else if (word.equalsIgnoreCase("decimal") && j < n && sql(j) == '\'') {
            // DECIMAL 'x.y' literal (SqlBase.g4 #typeConstructor) → Spark's
            // BD-suffixed decimal literal.
            var k = j + 1
            while (k < n && sql(k) != '\'') k += 1
            out.append(sql.substring(j + 1, k)).append("BD")
            i = math.min(k + 1, n)
            rowStripPending = false
          } else if (word.equalsIgnoreCase("values")) {
            out.append(word)
            valuesDepths ::= parenDepth
            rowStripPending = true
          } else if (word.equalsIgnoreCase("row") && rowStripPending &&
              j < n && sql(j) == '(') {
            // drop the keyword; the parenthesized list IS the row
            rowStripPending = false
          } else {
            out.append(word)
            rowStripPending = false
          }
        case '[' =>
          stack ::= false
          out.append('['); i += 1
        case ']' =>
          stack match {
            case true :: rest => out.append(')'); stack = rest
            case false :: rest => out.append(']'); stack = rest
            case Nil => out.append(']')
          }
          i += 1
        case '(' =>
          if (rowStripPending && isPureRowWrapper(i)) {
            phantom ::= parenDepth // drop the wrapper; pending stays armed
            i += 1
          } else {
            parenDepth += 1
            rowStripPending = false
            out.append(c); i += 1
          }
        case ')' =>
          if (phantom.nonEmpty && parenDepth == phantom.head) {
            phantom = phantom.tail // matching end of a dropped wrapper
            i += 1
          } else {
            parenDepth -= 1
            while (valuesDepths.nonEmpty && parenDepth < valuesDepths.head)
              valuesDepths = valuesDepths.tail
            rowStripPending = false
            out.append(c); i += 1
          }
        case ',' =>
          if (valuesDepths.nonEmpty && parenDepth == valuesDepths.head)
            rowStripPending = true
          out.append(c); i += 1
        case other =>
          if (!other.isWhitespace) rowStripPending = false
          out.append(other); i += 1
      }
    }
    out.toString
  }
}
