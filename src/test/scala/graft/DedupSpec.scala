package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  import TestSession._
  import operators.Dedup

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("connected components: chain propagates past one hop") {
    // 1-2-3-4-5 is a 4-hop chain: forces multiple propagation rounds
    val labels = cc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("connected components: disjoint clusters and a cycle") {
    val labels = cc(Seq((1L, 2L), (2L, 3L), // component {1,2,3}
      (10L, 11L), // pair
      (20L, 21L), (21L, 22L), (22L, 20L))) // 3-cycle
    assert(labels == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connected components: edge direction is irrelevant") {
    // min id on the dst side: label must still flow to every node
    val labels = cc(Seq((5L, 1L), (5L, 9L), (9L, 3L)))
    assert(labels == Map(1L -> 1L, 3L -> 1L, 5L -> 1L, 9L -> 1L))
  }

  test("LSH hot-bucket cap bounds the candidate stage") {
    import spark.implicits._
    // 20 identical boilerplate docs (every band hashes into one hot bucket)
    // plus one near-dup pair of distinct text
    val boiler = (0L until 20L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again"))
    val pair = Seq(
      (100L, "completely different content about spark engines at scale today"),
      (101L, "completely different content about spark engines at scale now"))
    val df = (boiler ++ pair).toDF("doc_id", "text")

    val uncapped = Dedup.minhashLshPairs(df, "doc_id", "text")
    // boilerplate cluster alone contributes C(20,2) = 190 pairs
    assert(uncapped.count() >= 190)

    val capped = Dedup.minhashLshPairs(df, "doc_id", "text", maxBucketSize = 5)
    val cappedPairs = capped.collect().map(r => (r.getLong(0), r.getLong(1)))
    // hot buckets dropped: no boilerplate pairs survive, the small bucket does
    assert(cappedPairs.toSet == Set((100L, 101L)))

    // a cap above every bucket size changes nothing
    val bigCap = Dedup.minhashLshPairs(df, "doc_id", "text", maxBucketSize = 1000)
    assert(bigCap.count() == uncapped.count())
  }

  test("passage dedup finds cross-document boilerplate windows") {
    import spark.implicits._
    val boiler = "all rights reserved by the example corporation"
    val df = Seq(
      (1L, s"doc one body text $boiler trailing content here"),
      (2L, s"completely different opening $boiler and another ending"),
      (3L, "no shared window in this document at all today")).toDF("doc_id", "text")
    val hot = Dedup.passageDedup(df, "doc_id", "text",
      window = 4, stride = 1, minDocs = 2).collect()
    assert(hot.nonEmpty)
    // every reported chunk really spans both docs and comes from the
    // boilerplate span
    assert(hot.forall(_.getAs[Long]("n_docs") == 2L))
    assert(hot.forall(r => boiler.contains(
      r.getAs[String]("chunk").split(" ").head) ||
      r.getAs[String]("chunk").split(" ").forall(boiler.contains)))
    // the scrub application: explode windows, join the (small) hot-chunk
    // table, flag exactly docs 1+2
    val windows = df.select(col("doc_id"),
      explode(Dedup.stridedShinglesOf(Dedup.tokens(col("text")), 4, 1))
        .as("chunk"))
    val docsHit = windows.join(
      Dedup.passageDedup(df, "doc_id", "text", 4, 1, 2).select("chunk"),
      "chunk").select("doc_id").distinct().as[Long].collect().toSet
    assert(docsHit == Set(1L, 2L))
  }

  test("strided shingles: stride=k yields non-overlapping chunks") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    val out = df.select(
      Dedup.stridedShinglesOf(Dedup.tokens(col("text")), 2, 2).as("c"))
      .as[Seq[String]].head()
    assert(out == Seq("a b", "c d", "e f"))
    val s1 = df.select(
      Dedup.stridedShinglesOf(Dedup.tokens(col("text")), 2, 1).as("c"))
      .as[Seq[String]].head()
    assert(s1 == Seq("a b", "b c", "c d", "d e", "e f", "f g"))
  }

  test("LSH hot-bucket guard is ON by default") {
    import spark.implicits._
    assert(Dedup.DefaultMaxBucketSize == 1000)
    // a boilerplate cluster above the default cap: all bands land in one
    // bucket of size 1100 > 1000, so the DEFAULT path must drop it
    val boiler = (0L until 1100L).map(i =>
      (i, "identical licence header boilerplate text repeated across files"))
    val pair = Seq(
      (5000L, "completely different content about spark engines at scale today"),
      (5001L, "completely different content about spark engines at scale now"))
    val df = (boiler ++ pair).toDF("doc_id", "text")
    val defaults = Dedup.minhashLshPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(defaults.toSet == Set((5000L, 5001L)))
    // explicit opt-out restores exhaustive pairing within the hot bucket
    val optOut = Dedup.minhashLshPairs(df, "doc_id", "text",
      maxBucketSize = Int.MaxValue)
    assert(optOut.count() >= 1100L * 1099L / 2)
  }

  test("d09 keeps exactly one doc per cluster") {
    val df = SparkEntry.all("d09_dedup_clusters").fn(spark, sf)
    val rows = df.collect()
    val byRep = rows.groupBy(_.getLong(1))
    byRep.foreach { case (rep, members) =>
      // rep is a member, is the min id, and is the only keeper
      assert(members.map(_.getLong(0)).min == rep)
      assert(members.count(_.getBoolean(3)) == 1)
      // cluster_size agrees with the member count
      assert(members.forall(_.getLong(2) == members.length))
    }
    // every clustered doc pairs with at least one other (components of ≥2)
    assert(rows.forall(_.getLong(2) >= 2) || rows.isEmpty)
  }

  // The two pair-finding driver entries must plan their candidate stages
  // as bucketed EQUI-joins — a BroadcastNestedLoopJoin or CartesianProduct
  // anywhere means an all-pairs O(n²) shape crept back in (the same pin
  // RangeJoinSpec keeps on the interval join).
  for (name <- Seq("d06_ngram_jaccard", "d07_embedding_neardup"))
    test(s"$name plans no all-pairs join") {
      val plan = Dedup.queries(name)
        .fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan.take(800))
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"))
    }

  // d05/t05 compute their per-row math with the SimHash and ArrayEntropy
  // kernels. An aggregate or filter lambda here means the interpreted form
  // (evaluated per element per bit, or per distinct char) came back; the one
  // lambda left is d05's md5 token-hash transform.
  for ((name, kernel, lambdas) <- Seq(
      ("d05_simhash", "SimHash", Seq("ArrayTransform")),
      ("t05_char_entropy", "ArrayEntropy", Nil)))
    test(s"$name evaluates its per-row math as a kernel, not lambdas") {
      import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
      val plan = SparkEntry.all(name).fn(spark, sf).queryExecution.optimizedPlan
      val exprs = plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))
      val hofs = exprs.collect { case h: HigherOrderFunction => h.getClass.getSimpleName }
      assert(hofs == lambdas, plan.treeString.take(1200))
      assert(exprs.exists(_.getClass.getSimpleName == kernel), plan.treeString.take(1200))
    }

  // d12: the eval n-gram set must BROADCAST (the corpus side is the
  // 100 TB side — a shuffled join there would shuffle every corpus gram;
  // the broadcast keeps the corpus side one map pass + per-doc count).
  test("d12 broadcasts the eval gram set against the corpus gram stream") {
    val plan = Dedup.queries("d12_decontaminate")
      .fn(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("decontaminate counts distinct shared grams per doc") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the cat sat on the mat today"),     // shares "the cat sat", "cat sat on"
      (2L, "completely different words here entirely"),
      (3L, "the cat sat the cat sat")           // repeated gram counts once
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "the cat sat on a rug")).toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, eval, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 3L -> 1L))
  }

  test("winnowing guarantee: docs sharing a substring >= w+k-1 chars share a fingerprint") {
    import spark.implicits._
    // k=8, w=4: any common normalized substring of length >= 11 must
    // produce at least one common (fingerprint) selection
    val shared = "quickbrownfoxesjumped" // 21 alpha chars, well over 11
    val df = Seq(
      (1L, s"alpha $shared omega end of the first document body"),
      (2L, s"totally unrelated preamble $shared and a different tail"),
      (3L, "no overlap with anything else whatsoever in this one")
    ).toDF("doc_id", "text")
    val fp = Dedup.winnow(df, "doc_id", "text").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    assert((fp(1L) intersect fp(2L)).nonEmpty, "guarantee violated")
    assert((fp(1L) intersect fp(3L)).isEmpty ||
      (fp(1L) intersect fp(3L)).size < (fp(1L) intersect fp(2L)).size)
  }

  test("winnowing picks the rightmost minimum on ties and dedups selections") {
    import spark.implicits._
    // a run of one character: every k-gram hashes identically, so each
    // window's min ties and the RIGHTMOST position wins -> selected
    // positions are exactly w-1 .. n-1 (one per window, all same hash)
    val df = Seq((7L, "a" * 20)).toDF("doc_id", "text") // n = 20-8+1 = 13 grams
    val rows = Dedup.winnow(df, "doc_id", "text").collect()
      .map(r => (r.getLong(2), r.getLong(1))).sortBy(_._1) // (pos, fingerprint)
    assert(rows.map(_._1).toSeq == (3L to 12L), s"positions: ${rows.map(_._1).mkString(",")}")
    assert(rows.map(_._2).distinct.length == 1, "all fingerprints must be the same hash")
  }

  test("winnowing density is bounded: at most one fingerprint per window start") {
    val out = Dedup.winnow(Tables.t(spark, sf, "documents"), "doc_id", "text")
      .groupBy("doc_id").count().collect()
    assert(out.nonEmpty && out.forall(_.getLong(1) >= 1))
  }

  test("winnow overlap pairs: shared-substring docs pair; hot-postings cap prunes") {
    import spark.implicits._
    val shared = "sharedboilerplateheaderacrossdocs" // > w+k-1 alpha chars
    val df = Seq(
      (1L, s"$shared plus unique body one with words"),
      (2L, s"$shared plus other unique content two"),
      (3L, "entirely disjoint text in the third document here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowOverlapPairs(df, "doc_id", "text",
        minShared = 2, maxPostings = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
    // cap = 1: every fingerprint shared by BOTH docs is hot -> no pairs
    val capped = Dedup.winnowOverlapPairs(df, "doc_id", "text",
        minShared = 1, maxPostings = 1)
      .count()
    assert(capped == 0)
  }

  test("lshDedupAgainst: incoming docs pair with reference near-dups only " +
      "— within-side duplicates never form pairs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val reference = Seq(
      (2L, base), // near-dup target
      (4L, "completely different reference content about engines at scale"),
      (6L, base)  // reference-side duplicate of 2 — must NOT pair with it
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, base + " extra"), // near-dups 2 and 6
      (3L, base + " extra"), // incoming-side duplicate of 1 — must not pair with 1
      (5L, "entirely novel incoming text with no reference overlap at all")
    ).toDF("doc_id", "text")
    val pairs = Dedup.lshDedupAgainst(reference, incoming, "doc_id", "text",
        minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 6L), (3L, 2L), (3L, 6L)), s"got $pairs")
  }

  test("semDedup: duplicates group within clusters, representatives kept, " +
      "cross-cluster lookalikes never pair") {
    import spark.implicits._
    // two well-separated directions; ids 1/2/3 are near-identical copies
    // on axis A, 10/11 near-identical on axis B, 20 is isolated
    def v(axis: Int, jitter: Double): Seq[Float] =
      (0 until 8).map(i =>
        (if (i == axis) 1.0 + jitter else jitter * (i % 3)).toFloat)
    val df = Seq(
      (1L, v(0, 0.00)), (2L, v(0, 0.01)), (3L, v(0, 0.02)),
      (10L, v(4, 0.00)), (11L, v(4, 0.015)),
      (20L, (0 until 8).map(i => (if (i % 2 == 0) 1.0 else -1.0).toFloat))
    ).toDF("vec_id", "embedding")
    val init = df.filter(col("vec_id") === 1L || col("vec_id") === 10L)
      .select(col("vec_id").cast("int").as("centroid_id"),
        col("embedding").as("centroid"))
    val out = Dedup.semDedup(df, "vec_id", "embedding", init,
        iters = 1, tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(out.map(x => (x._1, x._2)).toSeq ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L), (20L, 20L)))
    assert(out.map(_._3).toSeq ==
      Seq(true, false, false, true, false, true))
  }

  test("semDedup mega-cluster cap in its binding regime: a mis-chosen k " +
      "stays cap-bounded, recall trades for the cost bound") {
    import spark.implicits._
    // 40 near-identical vectors, ONE centroid (k=1 deliberately wrong for
    // the corpus): uncapped pairs are C(40,2); the cap salts the cluster
    // into ceil(40/10)=4 cells and candidates stay within cells
    def v(j: Double): Seq[Float] =
      (0 until 8).map(i => (if (i == 0) 1.0 + j else j * (i % 3)).toFloat)
    val df = (1L to 40L).map(i => (i, v(i * 0.0005))).toDF("vec_id", "embedding")
    val init = df.filter(col("vec_id") === 1L)
      .select(col("vec_id").cast("int").as("centroid_id"),
        col("embedding").as("centroid"))

    // non-binding (default cap): one component, one representative
    val keepsUncapped = Dedup.semDedup(df, "vec_id", "embedding", init,
      iters = 1, tau = 0.95).filter(col("keep")).count()
    assert(keepsUncapped == 1L)

    // binding: one representative PER NON-EMPTY CELL — the documented
    // recall trade (cross-cell duplicates survive as kept rows) for a
    // hard cap·|c| cost bound
    val capped = Dedup.semDedup(df, "vec_id", "embedding", init,
      iters = 1, tau = 0.95, maxClusterSize = 10)
    val keepsCapped = capped.filter(col("keep")).count()
    val cells = df.select(pmod(xxhash64(col("vec_id")), lit(4L)))
      .distinct().count()
    assert(keepsCapped == cells, s"keeps=$keepsCapped cells=$cells")
    assert(keepsCapped > 1 && keepsCapped <= 4)
    // every row still classified, reps are cluster members
    assert(capped.count() == 40L)
  }

  test("lshDedupAgainst under a 100x-duplicated incoming wave (the d11 " +
      "lesson, cross-corpus form): exact-dedup first restores recall " +
      "the hot-bucket cap takes away") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val reference = Seq((1000L, base)).toDF("doc_id", "text")
    val incoming = (1L to 100L).map(i => (i, base + " extra"))
      .toDF("doc_id", "text")

    // adequate cap: all 100 duplicates match the one reference doc
    val full = Dedup.lshDedupAgainst(reference, incoming, "doc_id", "text",
      minJaccard = 0.5)
    assert(full.count() == 100L)

    // binding cap: the wave floods every band bucket past the cap and the
    // REAL reference match is lost with it — the cap's documented contract
    val starved = Dedup.lshDedupAgainst(reference, incoming, "doc_id",
      "text", minJaccard = 0.5, maxBucketSize = 20)
    assert(starved.count() == 0L)

    // the production order (d11): exact-dedup the wave FIRST — one
    // survivor carries the multiplicity, the cap never binds, and the
    // match expands back to all 100 incoming ids
    val survivors = Dedup.exactDedup(incoming, "doc_id", "text")
    val surviving = incoming.join(survivors, "doc_id")
    val matches = Dedup.lshDedupAgainst(reference, surviving, "doc_id",
      "text", minJaccard = 0.5, maxBucketSize = 20)
    assert(matches.count() == 1L)
    // expansion via the exact fingerprint groups: every wave member maps
    // to its surviving representative's verdict
    val byFp = incoming.groupBy(expr("xxhash64(text)").as("fp"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n"))
    val total = matches.join(byFp,
      matches("new_id") === byFp("rep_id")).agg(sum("n")).collect()(0).getLong(0)
    assert(total == 100L)
  }

  test("ingestWave: exact-first contract by construction — wave classes, " +
      "reference gate, near-dups for survivors only, verdicts expand " +
      "through the representative") {
    import spark.implicits._
    val long = (1 to 30).map(i => s"tok$i").mkString(" ")
    val longNear = (1 to 29).map(i => s"tok$i").mkString(" ") + " tokX"
    val reference = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, long)).toDF("doc_id", "text")
    val incoming = Seq(
      (11L, "alpha beta gamma delta epsilon zeta"), // exact copy of ref 1
      (12L, "completely different text with its own words here"),
      (13L, "completely different text with its own words here"), // copy of 12
      (14L, longNear), // near-dup of ref 2 (j = 26/30 of shingles... >= 0.8)
      (15L, "alpha beta gamma delta epsilon zeta")) // second copy of ref 1
      .toDF("doc_id", "text")
    val verdicts = operators.Dedup
      .ingestWave(reference, incoming, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    // 11 is its class representative (min id) and exactly matches ref 1;
    // 15 rejects through 11; 13 rejects through 12; 14 survives the exact
    // gates and near-matches ref 2; 12 is the only kept document
    assert(verdicts.map(v => (v._1, v._3)) == Set(
      (13L, "exact_wave"), (15L, "exact_wave"),
      (11L, "exact_ref"), (14L, "near_ref")))
    assert(verdicts.contains((13L, 12L, "exact_wave")))
    assert(verdicts.contains((15L, 11L, "exact_wave")))
    assert(verdicts.contains((11L, 1L, "exact_ref")))
    assert(verdicts.contains((14L, 2L, "near_ref")))
    val kept = incoming.join(
      operators.Dedup.ingestWave(reference, incoming, "doc_id", "text")
        .select(col("new_id").as("doc_id")),
      Seq("doc_id"), "left_anti").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L))
  }

  test("winnow hot-fingerprint cap in its binding regime: boilerplate " +
      "postings dropped, rare fingerprints still pair") {
    import spark.implicits._
    // 30 docs share one boilerplate prefix: its fingerprints land at the
    // same positions in every doc, so each accumulates 30 postings and
    // crosses maxPostings=10. Docs 100/101 share a DIFFERENT passage whose
    // fingerprints have exactly 2 postings.
    val boiler = (0L until 30L).map(i =>
      (i, s"commonboilerplatefooternoticetext unique$i trailer"))
    val rare = Seq(
      (100L, "rare shared passage appearing twice only plus alpha"),
      (101L, "rare shared passage appearing twice only plus omega"))
    val df = (boiler ++ rare).toDF("doc_id", "text")

    val capped = Dedup.winnowOverlapPairs(df, "doc_id", "text",
        minShared = 1, maxPostings = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall semantics: a pair supported ONLY by over-hot fingerprints is
    // LOST (the boilerplate cluster); pairs with any sub-cap fingerprint
    // survive — same contract as the LSH hot-bucket guard
    assert(capped == Set((100L, 101L)), s"got $capped")

    // uncapped control: the boilerplate cluster floods C(30,2) = 435 pairs
    val uncapped = Dedup.winnowOverlapPairs(df, "doc_id", "text",
        minShared = 1, maxPostings = 100000).count()
    assert(uncapped >= 435 + 1, s"got $uncapped")
  }
}
