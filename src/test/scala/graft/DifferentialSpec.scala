package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Differential testing: the same randomly-generated query built through
  * the DataFrame API and through a SQL string must agree exactly. Two
  * independent construction paths through the analyzer catch compat-layer
  * and plan-shape bugs the fixed query corpus misses (the query-diff idea
  * of the reference's H2QueryRunner, turned inward). */
class DifferentialSpec extends AnyFunSuite {
  import TestSession._

  private val numCols = Seq("l_quantity", "l_extendedprice", "l_discount")
  private val keyCols = Seq("l_returnflag", "l_linestatus", "l_shipmode_absent")

  private case class RandQuery(
      groupCol: String, aggCol: String, aggFn: String,
      filterCol: String, filterLo: Double, filterHi: Double)

  private val genQuery: Gen[RandQuery] = for {
    g <- Gen.oneOf("l_returnflag", "l_linestatus")
    a <- Gen.oneOf(numCols)
    f <- Gen.oneOf("sum", "min", "max", "avg", "count")
    fc <- Gen.oneOf(numCols)
    lo <- Gen.chooseNum(0.0, 30.0)
    hi <- Gen.chooseNum(30.0, 100000.0)
  } yield RandQuery(g, a, f, fc, lo, hi)

  private def viaApi(q: RandQuery): DataFrame = {
    val li = Tables.t(spark, sf, "lineitem")
      .filter(col(q.filterCol) >= q.filterLo && col(q.filterCol) <= q.filterHi)
    val agg = q.aggFn match {
      case "sum" => sum(col(q.aggCol).cast("decimal(18,2)")).cast("decimal(38,2)")
      case "min" => min(col(q.aggCol))
      case "max" => max(col(q.aggCol))
      case "avg" => round(avg(col(q.aggCol)), 6)
      case "count" => count(col(q.aggCol)).cast("long")
    }
    li.groupBy(q.groupCol).agg(agg.as("v")).orderBy(q.groupCol)
  }

  private def viaSql(q: RandQuery): DataFrame = {
    Tables.registerAll(spark, sf)
    val aggSql = q.aggFn match {
      case "sum" => s"CAST(sum(CAST(${q.aggCol} AS DECIMAL(18,2))) AS DECIMAL(38,2))"
      case "avg" => s"round(avg(${q.aggCol}), 6)"
      case "count" => s"CAST(count(${q.aggCol}) AS BIGINT)"
      case f => s"$f(${q.aggCol})"
    }
    spark.sql(s"""
      SELECT ${q.groupCol}, $aggSql AS v
      FROM lineitem
      WHERE ${q.filterCol} >= ${q.filterLo} AND ${q.filterCol} <= ${q.filterHi}
      GROUP BY ${q.groupCol} ORDER BY ${q.groupCol}""")
  }

  test("random join+filter+agg queries agree across API and SQL paths") {
    val params = Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(7L)
    val genJoin = for {
      jt <- Gen.oneOf("inner", "left_semi")
      g <- Gen.oneOf("o_orderstatus", "o_orderpriority")
      lo <- Gen.chooseNum(0.0, 40.0)
    } yield (jt, g, lo)
    (1 to 12).foreach { i =>
      val (jt, g, lo) = genJoin(params, seed).get
      seed = seed.next
      val li = Tables.t(spark, sf, "lineitem").filter(col("l_quantity") >= lo)
      val o = Tables.t(spark, sf, "orders")
      val api = (jt match {
        case "inner" => o.join(li, col("o_orderkey") === col("l_orderkey"))
        case _ => o.join(li, col("o_orderkey") === col("l_orderkey"), jt)
      }).groupBy(g).agg(count(lit(1)).as("n")).orderBy(g)
        .collect().map(_.toString).toSeq
      Tables.registerAll(spark, sf)
      val sqlJoin = jt match {
        case "inner" => "JOIN lineitem ON o_orderkey = l_orderkey"
        case _ => "LEFT SEMI JOIN lineitem ON o_orderkey = l_orderkey"
      }
      val sql = spark.sql(s"""
        SELECT $g, count(*) AS n
        FROM orders $sqlJoin AND l_quantity >= $lo
        GROUP BY $g ORDER BY $g""").collect().map(_.toString).toSeq
      assert(api == sql, s"case $i: ($jt, $g, $lo)")
    }
  }

  test("random window top-k queries agree across API and SQL paths") {
    import org.apache.spark.sql.expressions.Window
    val params = Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(11L)
    val gen = for {
      fn <- Gen.oneOf("row_number", "rank", "dense_rank")
      part <- Gen.oneOf("l_returnflag", "l_linestatus")
      ord <- Gen.oneOf("l_extendedprice", "l_quantity", "l_orderkey")
      k <- Gen.chooseNum(1, 5)
    } yield (fn, part, ord, k)
    (1 to 12).foreach { i =>
      val (fn, part, ord, k) = gen(params, seed).get
      seed = seed.next
      // unique (orderkey, linenumber) tie-break keeps ranks deterministic
      val w = Window.partitionBy(part)
        .orderBy(col(ord), col("l_orderkey"), col("l_linenumber"))
      val f = fn match {
        case "row_number" => row_number()
        case "rank" => rank()
        case _ => dense_rank()
      }
      val api = Tables.t(spark, sf, "lineitem")
        .withColumn("rn", f.over(w)).filter(col("rn") <= k)
        .groupBy(part).agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).cast("long").as("s"))
        .orderBy(part).collect().map(_.toString).toSeq
      Tables.registerAll(spark, sf)
      val sql = spark.sql(s"""
        SELECT $part, count(*) AS n, CAST(sum(l_orderkey) AS BIGINT) AS s
        FROM (SELECT *, $fn() OVER (PARTITION BY $part
          ORDER BY $ord, l_orderkey, l_linenumber) AS rn FROM lineitem)
        WHERE rn <= $k GROUP BY $part ORDER BY $part""")
        .collect().map(_.toString).toSeq
      assert(api == sql, s"case $i: ($fn, $part, $ord, $k)")
    }
  }

  test("random set-operation queries agree across API and SQL paths") {
    val params = Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(23L)
    val gen = for {
      op <- Gen.oneOf("UNION", "UNION ALL", "INTERSECT", "EXCEPT")
      cutA <- Gen.chooseNum(10.0, 40.0)
      cutB <- Gen.chooseNum(10.0, 40.0)
    } yield (op, cutA, cutB)
    (1 to 12).foreach { i =>
      val (op, cutA, cutB) = gen(params, seed).get
      seed = seed.next
      val a = Tables.t(spark, sf, "lineitem")
        .filter(col("l_quantity") <= cutA).select("l_returnflag", "l_linestatus")
      val b = Tables.t(spark, sf, "lineitem")
        .filter(col("l_quantity") <= cutB).select("l_returnflag", "l_linestatus")
      val api = (op match {
        case "UNION" => a.union(b).distinct()
        case "UNION ALL" => a.union(b)
        case "INTERSECT" => a.intersect(b)
        case "EXCEPT" => a.except(b)
      }).groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag").collect().map(_.toString).toSeq
      Tables.registerAll(spark, sf)
      val sql = spark.sql(s"""
        SELECT l_returnflag, count(*) AS n FROM (
          SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity <= $cutA
          $op
          SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity <= $cutB)
        GROUP BY l_returnflag ORDER BY l_returnflag""")
        .collect().map(_.toString).toSeq
      assert(api == sql, s"case $i: ($op, $cutA, $cutB)")
    }
  }

  test("random filter+group+agg queries agree across API and SQL paths") {
    val params = Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(42L)
    (1 to 25).foreach { i =>
      val q = genQuery(params, seed).get
      seed = seed.next
      val api = viaApi(q).collect().map(_.toString).toSeq
      val sql = viaSql(q).collect().map(_.toString).toSeq
      assert(api == sql, s"case $i: $q\napi=$api\nsql=$sql")
    }
  }

  test("native text normalization == the regex composition it replaced") {
    // NormalizeWs/NormalizedTokens/WordShingles are single-pass rewrites of
    // trim(regexp_replace(lower(t),'\s+',' ')) + split + HOF shingles; the
    // dedup oracles pin them on fixture text — this pins them on
    // adversarial text: unicode letters, NBSP (NOT regex-\s whitespace —
    // must stay inside tokens), every ASCII \s char, empty and
    // all-whitespace strings, multi-byte boundaries.
    import org.apache.spark.sql.Column
    val wsChars = Seq(' ', '\t', '\n', '\u000B', '\f', '\r')
    val genPiece: Gen[String] = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf("Füße", "ΑΒΓΔ", "中文 文本", "ÅÉÎ", "a b", "ß", "ﬁ"),
      Gen.oneOf(wsChars).map(_.toString),
      Gen.listOfN(3, Gen.oneOf(wsChars)).map(_.mkString),
      Gen.const(""))
    val genText: Gen[String] =
      Gen.listOfN(8, genPiece).map(_.mkString)
    val params = Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(7L)
    val texts = (1 to 60).map { _ =>
      val t = genText(params, seed).get; seed = seed.next; t
    } ++ Seq("", " ", "\t\n\r", "a", " a ", "A B C")
    import spark.implicits._
    val df = texts.toDF("text")
    val legacyNorm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    def legacyShingles(toks: Column, k: Int): Column =
      filter(
        transform(toks, (_, i) =>
          when(i + k <= size(toks), array_join(slice(toks, i + 1, lit(k)), " "))),
        s => s.isNotNull)
    val rows = df.select(
      operators.Dedup.normalize(col("text")).as("nw"),
      legacyNorm.as("nw0"),
      operators.Dedup.tokens(col("text")).as("tk"),
      split(legacyNorm, " ").as("tk0"),
      operators.Dedup.shinglesOf(operators.Dedup.tokens(col("text")), 2).as("sh"),
      legacyShingles(split(legacyNorm, " "), 2).as("sh0")
    ).collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.get(0) == r.get(1), s"normalize diverged on ${t.map(_.toInt)}")
      assert(r.getSeq[String](2) == r.getSeq[String](3),
        s"tokens diverged on ${t.map(_.toInt)}")
      assert(r.getSeq[String](4) == r.getSeq[String](5),
        s"shingles diverged on ${t.map(_.toInt)}")
    }
  }

  test("SimHash and ArrayEntropy kernels == the HOF forms they replaced, " +
      "under whole-stage codegen and interpreted") {
    // d05/t05 and Dedup.simhash once computed these as nested
    // aggregate/transform/filter lambdas; the kernels must give the same
    // bits. Cases the oracles' fixture text never reaches: NULL and empty
    // arrays, NULL elements, negative and >= 2^32 hashes, 1/32/64-bit
    // signatures, single-distinct arrays (entropy exactly 0.0), multi-byte
    // and empty-string elements.
    import org.apache.spark.sql.{Column, Row}
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.types._
    val genHash: Gen[java.lang.Long] = Gen.frequency(
      1 -> Gen.const(null: java.lang.Long),
      3 -> Gen.chooseNum(0L, 0xffffffffL).map(Long.box),
      2 -> Gen.chooseNum(Long.MinValue, -1L).map(Long.box),
      2 -> Gen.chooseNum(0x100000000L, Long.MaxValue).map(Long.box),
      1 -> Gen.oneOf(0L, -1L, Long.MinValue, Long.MaxValue).map(Long.box))
    val genStr: Gen[String] = Gen.frequency(
      1 -> Gen.const(null: String),
      8 -> Gen.oneOf("", "a", "b", "ab", "A", "ß", "中", "文", "Füße", "ΑΒ", "\uD83D\uDE00", " "))
    def genArr[T](g: Gen[T]): Gen[Seq[T]] = Gen.frequency(
      1 -> Gen.const(null: Seq[T]),
      1 -> Gen.const(Seq.empty[T]),
      8 -> Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, g)))
    val params = Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(11L)
    def draw[T](g: Gen[T]): T = { val v = g(params, seed).get; seed = seed.next; v }
    def l(v: Long): java.lang.Long = java.lang.Long.valueOf(v)
    val hashArrays: Seq[Seq[java.lang.Long]] = (1 to 150).map(_ => draw(genArr(genHash))) ++
      Seq[Seq[java.lang.Long]](null, Seq(), Seq(null), Seq(null, null, l(7)), Seq(l(-1)),
        Seq(l(0x1ffffffffL), l(1)))
    val strArrays: Seq[Seq[String]] = (1 to 150).map(_ => draw(genArr(genStr))) ++
      Seq(null, Seq(), Seq(""), Seq("a", "a", "a"), Seq("中", "中"), Seq(null), Seq("a", null))
    val n = math.max(hashArrays.length, strArrays.length)
    def hAt(i: Int) = hashArrays(i % hashArrays.length)
    def xsAt(i: Int) = strArrays(i % strArrays.length)
    val rows = (0 until n).map(i => Row(i, hAt(i), xsAt(i)))
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("h", ArrayType(LongType)), StructField("xs", ArrayType(StringType))))
    // an RDD source, not a local relation: the optimizer folds projections
    // over local data at plan time, which would bypass the kernels' codegen
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    def kernel(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
      org.apache.spark.sql.GraftBridge.column(e)
    def hcol = org.apache.spark.sql.GraftBridge.expression(col("h"))
    def simhashHof(bits: Int): Column = expr(s"""
      aggregate(sequence(0, ${bits - 1}), cast(0 as bigint), (acc, b) -> acc | IF(
        aggregate(h, cast(0 as int), (a, x) -> a + IF(((x >> b) & 1) = 1, 1, -1)) > 0,
        shiftleft(cast(1 as bigint), b), cast(0 as bigint)))""")
    val entropyHof = expr("""
      0.0 - aggregate(
        transform(sort_array(array_distinct(xs)), c ->
          (size(filter(xs, x -> x = c)) / cast(size(xs) as double)) *
          log2(size(filter(xs, x -> x = c)) / cast(size(xs) as double))),
        cast(0.0 as double), (a, p) -> a + p)""")
    val bitsCases = Seq(1, 32, 64)
    def q = df.select(col("id") +: (bitsCases.flatMap(b => Seq(
        kernel(graft.functions.SimHash(hcol, b)), simhashHof(b))) ++ Seq(
        kernel(graft.functions.ArrayEntropy(
          org.apache.spark.sql.GraftBridge.expression(col("xs")))), entropyHof)): _*)
    val modes = Seq(
      true -> Seq("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      false -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for ((wscg, confs) <- modes) {
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        val qm = q
        val out = qm.collect().sortBy(_.getInt(0))
        assert(qm.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]) == wscg)
        assert(out.length == rows.length)
        var zeros = 0
        out.foreach { r =>
          val i = r.getInt(0)
          bitsCases.indices.foreach { k =>
            assert(r.get(1 + 2 * k) == r.get(2 + 2 * k),
              s"simhash(${bitsCases(k)}) diverged (wscg=$wscg) on ${hAt(i)}")
          }
          val (e, e0) = (r.get(7), r.get(8))
          assert(java.util.Objects.equals(e, e0),
            s"entropy diverged (wscg=$wscg): $e vs $e0 on ${xsAt(i)}")
          if (e == 0.0) zeros += 1
        }
        assert(zeros > 0, "no single-distinct array reached the entropy kernel")
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
