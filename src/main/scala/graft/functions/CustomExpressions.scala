package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** cosine_similarity over two numeric arrays (dense form of Presto's
  * cosine_similarity(map,map), MathFunctions.java). Native codegen: a single
  * fused loop over both vectors — stays inside whole-stage codegen, unlike
  * the equivalent zip_with/aggregate HOF tree which allocates an
  * intermediate array per row.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
        if Seq(lt, rt).forall(t => t == FloatType || t == DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_similarity expects two float/double arrays, got " +
            s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
    }
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
    val rGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
        int $n = Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double x = (double) $a.$lGet($i);
          double y = (double) $b.$rGet($i);
          $dot += x * y; $na += x * x; $nb += y * y;
        }
        if ($na == 0.0 || $nb == 0.0) {
          ${ev.isNull} = true;
        } else {
          ${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
        }
      """
    })
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** `bits`-bit SimHash of an array<bigint> of token hashes: bit b is set when
  * more elements have bit b set than clear. One pass with an `int` vote
  * counter per bit, bit-identical to the HOF form
  * {{{
  * aggregate(sequence(0, bits - 1), cast(0 as bigint), (acc, b) -> acc | IF(
  *   aggregate(hashes, 0, (a, h) -> a + IF(((h >> b) & 1) = 1, 1, -1)) > 0,
  *   shiftleft(cast(1 as bigint), b), cast(0 as bigint)))
  * }}}
  * which Spark evaluates as interpreted lambdas, once per element per bit.
  * Like that form, a NULL element votes −1 on every bit and a NULL or empty
  * array gives 0 (the per-bit `NULL > 0` test is false).
  */
case class SimHash(child: Expression, bits: Int)
    extends UnaryExpression {
  require(bits >= 1 && bits <= 64, s"simhash bits must be in 1..64, got $bits")

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash expects array<bigint>, got ${t.simpleString}")
    }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L else ArrayKernels.simhash(v.asInstanceOf[ArrayData], bits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value} = ${c.isNull} ? 0L :
        graft.functions.ArrayKernels.simhash(${c.value}, $bits);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "simhash"
}

/** Shannon entropy in bits of an array's element distribution,
  * `0.0 - Σ p·log2(p)` over the distinct elements with p = count / size.
  * One sort-and-count pass, bit-identical to the HOF form
  * {{{
  * 0.0 - aggregate(
  *   transform(sort_array(array_distinct(xs)), c ->
  *     (size(filter(xs, x -> x = c)) / n) * log2(size(filter(xs, x -> x = c)) / n)),
  *   cast(0.0 as double), (a, p) -> a + p)          -- n = size(xs) as double
  * }}}
  * whose interpreted lambdas scan the array once per distinct element. The
  * sum runs in the same (binary string) order with Spark's `Log2` formula,
  * so the double rounding matches. A NULL element gives NULL, as there
  * (its count is 0 and `log2(0)` is NULL).
  */
case class ArrayEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  // binary-collated strings only: the kernel sorts and counts by bytes
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"array_entropy expects array<string>, got ${t.simpleString}")
    }

  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (ArrayKernels.anyNull(a)) null else ArrayKernels.entropy(a)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      if (graft.functions.ArrayKernels.anyNull($c)) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.ArrayKernels.entropy($c);
      }""")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "array_entropy"
}

/** Static entry points of [[SimHash]] and [[ArrayEntropy]] for whole-stage
  * codegen (scalac emits forwarders on the paired ArrayKernels class). */
object ArrayKernels {
  def simhash(hashes: ArrayData, bits: Int): Long = {
    val votes = new Array[Int](bits)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      var b = 0
      if (hashes.isNullAt(i)) {
        while (b < bits) { votes(b) -= 1; b += 1 }
      } else {
        val h = hashes.getLong(i)
        while (b < bits) {
          votes(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) sig |= 1L << b
      b += 1
    }
    sig
  }

  def anyNull(a: ArrayData): Boolean = {
    val n = a.numElements()
    var i = 0
    while (i < n && !a.isNullAt(i)) i += 1
    i < n
  }

  /** Entropy of a NULL-free array<string>. */
  def entropy(a: ArrayData): Double = {
    val n = a.numElements()
    val xs = new Array[UTF8String](n)
    var i = 0
    while (i < n) { xs(i) = a.getUTF8String(i); i += 1 }
    java.util.Arrays.sort(xs, (x: UTF8String, y: UTF8String) => x.binaryCompare(y))
    val size = n.toDouble
    var sum = 0.0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && xs(j) == xs(i)) j += 1
      val p = (j - i) / size
      sum += p * (StrictMath.log(p) / StrictMath.log(2))
      i = j
    }
    0.0 - sum
  }
}

/** Presto cardinality(x): arrays, maps, and HyperLogLog sketches
  * (SPI/type/HyperLogLogType.java — here a binary-encoded sketch). */
case class Cardinality(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType match {
    case BinaryType => LongType
    case _ => IntegerType
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: ArrayType | _: MapType | BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cardinality expects array/map/HLL, got ${t.simpleString}")
    }

  override protected def nullSafeEval(v: Any): Any = child.dataType match {
    case _: ArrayType => v.asInstanceOf[ArrayData].numElements()
    case _: MapType => v.asInstanceOf[MapData].numElements()
    case BinaryType =>
      java.lang.Long.valueOf(Sketches.cardinality(v.asInstanceOf[Array[Byte]]))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.dataType match {
      case _: ArrayType | _: MapType =>
        nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $c.numElements();")
      case BinaryType =>
        nullSafeCodeGen(ctx, ev, c =>
          s"${ev.value} = graft.functions.Sketches.cardinality($c);")
    }

  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Unicode normalization (Presto normalize(s, form), StringFunctions.java). */
case class NormalizeString(child: Expression, form: String)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      v.toString, java.text.Normalizer.Form.valueOf(form)))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** HTML → text extraction for web-corpus preprocessing (the trafilatura/
  * CCNet step that precedes every text-quality operator): a single-pass
  * scanner that strips tags (each tag is a word separator),
  * drops <script>/<style> element CONTENT and <!-- comments --> entirely
  * (entities inside them must NOT decode), decodes the named entities
  * amp/lt/gt/quot/apos/nbsp and numeric &#NN;/&#xHH; forms, and
  * collapses whitespace runs to single spaces, trimmed. Stray '&' and
  * unknown entities pass through literally (lenient, like real parsers). */
case class HtmlText(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    UTF8String.fromString(HtmlText.extract(v.toString))
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object HtmlText {
  def extract(html: String): String = {
    val sb = new StringBuilder
    val n = html.length
    val lower = html.toLowerCase
    def skipElement(from: Int, name: String): Int = {
      val e = lower.indexOf("</" + name, from)
      if (e < 0) n
      else {
        val close = html.indexOf('>', e)
        if (close < 0) n else close + 1
      }
    }
    // A real tag name ends at '>', '/', or whitespace — '<scripty>' and
    // '<styled-box>' are ordinary tags, not script/style elements.
    def tagAt(i: Int, name: String): Boolean =
      lower.startsWith("<" + name, i) && {
        val j = i + 1 + name.length
        j >= n || {
          val ch = html.charAt(j)
          ch == '>' || ch == '/' || Character.isWhitespace(ch)
        }
      }
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        sb.append(' ') // any markup boundary separates words
        if (lower.startsWith("<!--", i)) {
          val e = lower.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (tagAt(i, "script")) i = skipElement(i, "script")
        else if (tagAt(i, "style")) i = skipElement(i, "style")
        else {
          val e = html.indexOf('>', i)
          i = if (e < 0) n else e + 1
        }
      } else if (c == '&') {
        val semi = html.indexOf(';', i)
        val dec: Option[String] =
          if (semi > i && semi - i <= 10) {
            html.substring(i + 1, semi) match {
              case "amp" => Some("&")
              case "lt" => Some("<")
              case "gt" => Some(">")
              case "quot" => Some("\"")
              case "apos" => Some("'")
              case "nbsp" => Some(" ")
              case e if e.length > 2 && (e.startsWith("#x") || e.startsWith("#X")) =>
                try Some(new String(Character.toChars(
                  Integer.parseInt(e.substring(2), 16))))
                catch { case _: Exception => None }
              case e if e.length > 1 && e.startsWith("#") &&
                  e.drop(1).forall(_.isDigit) =>
                try Some(new String(Character.toChars(e.drop(1).toInt)))
                catch { case _: Exception => None }
              case _ => None
            }
          } else None
        dec match {
          case Some(s) => sb.append(s); i = semi + 1
          case None => sb.append('&'); i += 1
        }
      } else {
        sb.append(c); i += 1
      }
    }
    sb.toString.split("\\s+").filter(_.nonEmpty).mkString(" ")
  }
}

/** Aho-Corasick multi-pattern automaton (Aho & Corasick 1975) — the
  * blocklist/phrase-list filter a corpus pipeline runs with THOUSANDS of
  * patterns: one pass over the text regardless of pattern count, where a
  * contains() loop costs O(patterns × text). Built once per plan (the
  * expression holds the automaton; tasks get it via closure broadcast).
  * Finds ALL occurrences, including overlapping ones, via output links. */
class AhoCorasick(patterns: Seq[String]) extends Serializable {
  import scala.collection.mutable
  private val gotoMap = mutable.ArrayBuffer(mutable.HashMap.empty[Char, Int])
  private val outBuf = mutable.ArrayBuffer(List.empty[Int])
  // trie
  patterns.zipWithIndex.foreach { case (p, idx) =>
    var v = 0
    p.foreach { ch =>
      v = gotoMap(v).getOrElseUpdate(ch, {
        gotoMap += mutable.HashMap.empty[Char, Int]
        outBuf += Nil
        gotoMap.length - 1
      })
    }
    outBuf(v) = idx :: outBuf(v)
  }
  private val fail = new Array[Int](gotoMap.length)
  // BFS fail links; output sets union through the fail chain
  locally {
    val q = mutable.Queue.empty[Int]
    gotoMap(0).values.foreach { v => fail(v) = 0; q += v }
    while (q.nonEmpty) {
      val u = q.dequeue()
      gotoMap(u).foreach { case (ch, v) =>
        var f = fail(u)
        while (f != 0 && !gotoMap(f).contains(ch)) f = fail(f)
        fail(v) = if (gotoMap(f).contains(ch) && gotoMap(f)(ch) != v)
          gotoMap(f)(ch) else 0
        outBuf(v) = outBuf(v) ++ outBuf(fail(v))
        q += v
      }
    }
  }
  private val gotoArr: Array[Map[Char, Int]] = gotoMap.map(_.toMap).toArray
  private val out: Array[List[Int]] = outBuf.toArray
  private val plen: Array[Int] = patterns.map(_.length).toArray

  /** (n_matches incl. overlapping, distinct patterns hit, min start or -1). */
  def stats(text: String): (Long, Int, Int) = {
    var state = 0
    var n = 0L
    var firstPos = Int.MaxValue
    val hit = new Array[Boolean](plen.length)
    var i = 0
    while (i < text.length) {
      val ch = text.charAt(i)
      while (state != 0 && !gotoArr(state).contains(ch)) state = fail(state)
      state = gotoArr(state).getOrElse(ch, 0)
      out(state).foreach { idx =>
        n += 1
        hit(idx) = true
        val start = i - plen(idx) + 1
        if (start < firstPos) firstPos = start
      }
      i += 1
    }
    (n, hit.count(identity), if (firstPos == Int.MaxValue) -1 else firstPos)
  }
}

/** Multi-pattern match statistics over a lowercased text column:
  * struct(n_matches, n_patterns, first_pos). Patterns are plan-time
  * constants (the blocklist); matching is case-insensitive. */
case class MultiMatchStats(child: Expression, patterns: Seq[String])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("n_matches", LongType, nullable = false),
    StructField("n_patterns", IntegerType, nullable = false),
    StructField("first_pos", IntegerType, nullable = false)))
  // Locale.ROOT: default-locale lowercasing is locale-sensitive (Turkish
  // 'I' → dotless 'ı' would silently stop matching 'in'/'join' patterns)
  @transient private lazy val ac =
    new AhoCorasick(patterns.map(_.toLowerCase(java.util.Locale.ROOT)))
  override protected def nullSafeEval(v: Any): Any = {
    val (n, p, f) = ac.stats(v.toString.toLowerCase(java.util.Locale.ROOT))
    InternalRow(n, p, f)
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** The PORTER2 ("English") Snowball stemmer — the algorithm behind the
  * reference's word_stem (WordStemFunction.java binds
  * org.tartarus.snowball.ext.EnglishStemmer for 'en'; the published
  * snowball spec is implemented here directly). Non-English stemmers are
  * a documented divergence (inputs pass through unchanged). */
case class WordStem(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType

  private val vowels = "aeiouy"
  private def isV(w: String, i: Int): Boolean = vowels.indexOf(w(i)) >= 0
  private val doubles =
    Set("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
  private val liEnding = "cdeghkmnrt"

  /** region start: position after the first non-vowel following a vowel. */
  private def regionAfter(w: String, from: Int): Int = {
    var i = from
    while (i < w.length && !isV(w, i)) i += 1
    while (i < w.length && isV(w, i)) i += 1
    math.min(i + 1, w.length)
  }

  /** Short syllable at position of the word's LAST vowel run end — per
    * spec: (vowel, non-vowel other than w/x/Y, preceded by non-vowel), or
    * (vowel at word start, followed by non-vowel). */
  private def endsShortSyllable(w: String): Boolean = {
    val n = w.length
    if (n == 2) isV(w, 0) && !isV(w, 1)
    else if (n >= 3)
      !isV(w, n - 3) && isV(w, n - 2) && !isV(w, n - 1) &&
        !"wxY".contains(w(n - 1))
    else false
  }

  def stem(word: String): String = {
    var w = word.toLowerCase
    if (w.length <= 2) return w
    val exceptional = Map(
      "skis" -> "ski", "skies" -> "sky", "dying" -> "die", "lying" -> "lie",
      "tying" -> "tie", "idly" -> "idl", "gently" -> "gentl",
      "ugly" -> "ugli", "early" -> "earli", "only" -> "onli",
      "singly" -> "singl")
    if (exceptional.contains(w)) return exceptional(w)
    if (Set("sky", "news", "howe", "atlas", "cosmos", "bias",
      "andes").contains(w)) return w
    // mark consonant-y as Y
    if (w(0) == 'y') w = "Y" + w.substring(1)
    w = w.zipWithIndex.map { case (c, i) =>
      if (c == 'y' && i > 0 && isV(w, i - 1)) 'Y' else c
    }.mkString
    // R1 / R2 (positions stay valid: all edits below are at the tail).
    // Special prefixes gener/commun/arsen set R1 right after them.
    val r1 = Seq("gener", "commun", "arsen").find(w.startsWith)
      .map(_.length).getOrElse(regionAfter(w, 0))
    val r2 = regionAfter(w, r1)
    def inR1(suffixLen: Int) = w.length - suffixLen >= r1
    def inR2(suffixLen: Int) = w.length - suffixLen >= r2
    // step 0: apostrophe forms (straight quotes only in this corpus)
    for (s <- Seq("'s'", "'s", "'")) if (w.endsWith(s)) w = w.dropRight(s.length)
    // step 1a
    if (w.endsWith("sses")) w = w.dropRight(2)
    else if (w.endsWith("ied") || w.endsWith("ies"))
      w = w.dropRight(if (w.length > 4) 2 else 1)
    else if (w.endsWith("us") || w.endsWith("ss")) ()
    else if (w.endsWith("s") &&
      (0 until w.length - 2).exists(isV(w, _))) w = w.dropRight(1)
    if (Set("inning", "outing", "canning", "herring", "earring", "proceed",
      "exceed", "succeed").contains(w)) return w.toLowerCase
    // step 1b
    val eedSuffix = Seq("eedly", "eed").find(w.endsWith)
    eedSuffix match {
      case Some(s) =>
        if (inR1(s.length)) w = w.dropRight(s.length) + "ee"
      case None =>
        Seq("ingly", "edly", "ing", "ed").find(w.endsWith).foreach { s =>
          val stem0 = w.dropRight(s.length)
          if (stem0.exists(c => vowels.indexOf(c) >= 0)) {
            w = stem0
            if (w.endsWith("at") || w.endsWith("bl") || w.endsWith("iz"))
              w += "e"
            else if (w.length >= 2 && doubles(w.takeRight(2)))
              w = w.dropRight(1)
            else if (w.length >= r1 && endsShortSyllable(w) &&
              regionAfter(w, 0) >= w.length) w += "e"
          }
        }
    }
    // step 1c
    if (w.length > 2 && (w.last == 'y' || w.last == 'Y') &&
      !isV(w, w.length - 2)) w = w.dropRight(1) + "i"
    // step 2 (longest suffix, condition in R1)
    val step2 = Seq(
      "ization" -> "ize", "ational" -> "ate", "fulness" -> "ful",
      "ousness" -> "ous", "iveness" -> "ive", "tional" -> "tion",
      "biliti" -> "ble", "lessli" -> "less", "entli" -> "ent",
      "ation" -> "ate", "alism" -> "al", "aliti" -> "al", "ousli" -> "ous",
      "iviti" -> "ive", "fulli" -> "ful", "enci" -> "ence",
      "anci" -> "ance", "abli" -> "able", "izer" -> "ize", "ator" -> "ate",
      "alli" -> "al", "bli" -> "ble", "ogi" -> "og", "li" -> "")
    step2.find { case (s, _) => w.endsWith(s) }.foreach { case (s, rep) =>
      if (inR1(s.length)) {
        if (s == "ogi") {
          if (w.length > 3 && w(w.length - 4) == 'l')
            w = w.dropRight(s.length) + rep
        } else if (s == "li") {
          if (w.length > 2 && liEnding.indexOf(w(w.length - 3)) >= 0)
            w = w.dropRight(2)
        } else w = w.dropRight(s.length) + rep
      }
    }
    // step 3
    val step3 = Seq("ational" -> "ate", "tional" -> "tion",
      "alize" -> "al", "icate" -> "ic", "iciti" -> "ic", "ical" -> "ic",
      "ative" -> "", "ful" -> "", "ness" -> "")
    step3.find { case (s, _) => w.endsWith(s) }.foreach { case (s, rep) =>
      if (inR1(s.length)) {
        if (s == "ative") { if (inR2(s.length)) w = w.dropRight(s.length) }
        else w = w.dropRight(s.length) + rep
      }
    }
    // step 4 (in R2)
    val step4 = Seq("ement", "ance", "ence", "able", "ible", "ment", "ant",
      "ent", "ism", "ate", "iti", "ous", "ive", "ize", "ion", "al", "er",
      "ic")
    step4.find(w.endsWith).foreach { s =>
      if (inR2(s.length)) {
        if (s == "ion") {
          if (w.length > 3 && "st".contains(w(w.length - 4)))
            w = w.dropRight(3)
        } else w = w.dropRight(s.length)
      }
    }
    // step 5
    if (w.endsWith("e") &&
      (inR2(1) || (inR1(1) && !endsShortSyllable(w.dropRight(1)))))
      w = w.dropRight(1)
    else if (w.endsWith("l") && inR2(1) && w.length > 1 &&
      w(w.length - 2) == 'l') w = w.dropRight(1)
    w.toLowerCase
  }

  override protected def nullSafeEval(v: Any): Any =
    UTF8String.fromString(stem(v.toString))
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** HMAC family (Presto HmacFunctions.java) over javax.crypto. */
case class Hmac(data: Expression, key: Expression, algo: String)
    extends BinaryExpression with CodegenFallback {
  override def left: Expression = data
  override def right: Expression = key
  override def dataType: DataType = BinaryType

  override protected def nullSafeEval(d: Any, k: Any): Any = {
    val mac = javax.crypto.Mac.getInstance(algo)
    val keyBytes = k match {
      case b: Array[Byte] => b
      case s => s.toString.getBytes("UTF-8")
    }
    mac.init(new javax.crypto.spec.SecretKeySpec(keyBytes, algo))
    val dataBytes = d match {
      case b: Array[Byte] => b
      case s => s.toString.getBytes("UTF-8")
    }
    mac.doFinal(dataBytes)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(data = l, key = r)
}

/** Presto chr(n): the UTF-8 character for a full unicode CODE POINT
  * (StringFunctions.java:112 codepointChar — Character.toChars); Spark's
  * builtin char() is ASCII-modulo-256. */
case class CodePointChar(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any = {
    val n = v match { case l: Long => l.toInt; case i: Int => i }
    UTF8String.fromString(new String(Character.toChars(n)))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Presto codepoint(s): the code point of the string's single character
  * (StringFunctions.java:120) — supplementary-plane aware, unlike Spark's
  * ascii(). */
case class FirstCodePoint(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(v: Any): Any =
    v.toString.codePointAt(0)
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

/** Presto from_utf8(bin[, replacement]): decode with invalid sequences
  * REPLACED (default U+FFFD) or DELETED (empty replacement) — Spark's
  * decode() throws on malformed input (StringFunctions.java:1046). */
case class FromUtf8Lenient(child: Expression, replacement: String)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any = {
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
    if (replacement.isEmpty) {
      dec.onMalformedInput(java.nio.charset.CodingErrorAction.IGNORE)
      dec.onUnmappableCharacter(java.nio.charset.CodingErrorAction.IGNORE)
    } else {
      dec.onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      dec.onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
      dec.replaceWith(replacement)
    }
    UTF8String.fromString(dec.decode(
      java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])).toString)
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Presto typeof(x): the Presto spelling of the argument's type
  * (TypeOfFunction.java) — fully static, so the value is a literal-like
  * per-row constant; a literal string keeps its varchar(n) length. */
case class PrestoTypeOf(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  private def name(dt: DataType): String = dt match {
    case NullType => "unknown"
    case BooleanType => "boolean"
    case ByteType => "tinyint"
    case ShortType => "smallint"
    case IntegerType => "integer"
    case LongType => "bigint"
    case FloatType => "real"
    case DoubleType => "double"
    case StringType => "varchar"
    case BinaryType => "varbinary"
    case DateType => "date"
    case _: TimestampType => "timestamp"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case a: ArrayType => s"array(${name(a.elementType)})"
    case m: MapType => s"map(${name(m.keyType)}, ${name(m.valueType)})"
    case s: StructType =>
      s.fields.map(f => s"${f.name} ${name(f.dataType)}")
        .mkString("row(", ", ", ")")
    case other => other.simpleString
  }

  private lazy val rendered: UTF8String = UTF8String.fromString(child match {
    case Literal(s: UTF8String, StringType) if s != null =>
      s"varchar(${s.numChars})"
    case _ => name(child.dataType)
  })
  override def eval(input: InternalRow): Any = rendered
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Type marker for Presto CHAR(n) values (SPI/type/CharType.java). The
  * engine represents CHAR as its space-padded string (PrestoSql.castChar →
  * rpad), which matches Presto for every function and for comparisons
  * between equal-length chars — but Presto's comparisons are
  * PAD-INSENSITIVE across lengths (Chars.compareChars logically pads the
  * shorter operand with spaces; CharOperators.equal compares the trimmed
  * values). This identity wrapper survives resolution so the dialect's
  * `PrestoDialect.SqlSemantics` analyzer rule can see which comparison
  * operands are CHAR-typed and lower them to trim/pad-normalized forms; the
  * rule strips it from the plan afterwards, so it never executes. */
case class CharMark(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(c: Expression): CharMark =
    copy(child = c)
}
