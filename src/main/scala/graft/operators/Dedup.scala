package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Large-scale deduplication operators for training-data pipelines.
  *
  * Beyond the reference's surface (Presto 0.206 has no dedup library);
  * designed Spark-first for 100 TB corpora:
  *   - exact / normalized dedup: one hash-shuffle on the fingerprint —
  *     the minimal possible plan (group-by on a 128-bit key, map-side
  *     partial aggregation keeps the shuffle at one row per distinct doc
  *     per partition);
  *   - MinHash LSH: shingles → K independent min-hashes → bands; candidate
  *     generation is a self-join on (band_id, band_hash) buckets, which
  *     shuffles only bucket keys, never full pairwise O(n²);
  *   - SimHash: 64-bit signature from per-token hash bit-votes;
  *   - n-gram Jaccard verification on LSH candidates only.
  *
  * Hashes are md5-derived (not xxhash64) where the DuckDB oracle must
  * reproduce them bit-for-bit.
  */
object Dedup {

  private def ex(c: Column) = org.apache.spark.sql.GraftBridge.expression(c)
  private def cl(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftBridge.column(e)

  /** Canonical text normalization: lowercase, collapse whitespace, trim —
    * `trim(regexp_replace(lower(c), '\s+', ' '))` as a single-pass native
    * expression (graft.functions.NormalizeWs; the regex form is the
    * dominant cost of the dedup pipeline at corpus scale). */
  def normalize(c: Column): Column = cl(graft.functions.NormalizeWs(ex(c)))

  /** 128-bit content fingerprint of normalized text. */
  def fingerprint(c: Column): Column = md5(normalize(c).cast("binary"))

  /** Normalized word tokens: `split(normalize(c), ' ')` fused into the
    * same single pass (graft.functions.NormalizedTokens). */
  def tokens(c: Column): Column = cl(graft.functions.NormalizedTokens(ex(c)))

  /** Word-level k-shingles over a tokens column — one concatWs pass per
    * window (graft.functions.WordShingles; the HOF transform/slice/
    * array_join chain evaluates interpreted and was the second-largest
    * cost of the shingle table). */
  def shinglesOf(toks: Column, k: Int): Column =
    cl(graft.functions.WordShingles(ex(toks), k))

  /** Strided token windows (stride=k ⇒ non-overlapping chunks). */
  def stridedShinglesOf(toks: Column, k: Int, stride: Int): Column =
    cl(graft.functions.WordShingles(ex(toks), k, stride))

  /** Library API: PASSAGE-level exact dedup — find token windows shared
    * across documents (licence headers, navigation chrome, quote chains:
    * the boilerplate that survives document-level dedup because the
    * surrounding text differs). `window`-token chunks every `stride`
    * tokens are fingerprinted; chunks appearing in ≥ `minDocs` distinct
    * documents come back with their spread. The follow-up "scrub" pass is
    * a broadcast semi-join of this (small) result against the corpus.
    *
    * Scale posture: the corpus pass is map-only (tokenize → windows →
    * explode); the one shuffle carries (chunk, doc_id) pairs — window
    * text, never documents — with map-side combine on the per-partition
    * repeats; output is bounded by the repeated-chunk count. */
  def passageDedup(df: DataFrame, idCol: String, textCol: String,
      window: Int = 4, stride: Int = 2, minDocs: Int = 2): DataFrame = {
    val chunks = df
      .select(col(idCol), tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= window)
      .select(col(idCol),
        explode(stridedShinglesOf(col("__t"), window, stride)).as("chunk"))
    chunks.groupBy(col("chunk"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col(idCol)).as("min_doc_id"),
        max(col(idCol)).as("max_doc_id"))
      .filter(col("n_docs") >= minDocs)
  }

  /** One MinHash value: min over shingles of an md5-derived 64-bit hash,
    * seeded by `seed` (distinct permutation per seed). */
  def minhash(shingleCol: Column, seed: Int): Column =
    array_min(transform(shingleCol, sh => md5MinHashUnit(seed, sh)))

  /** The per-shingle hash `minhash` minimizes: md5-derived, so an external
    * oracle (DuckDB) reproduces it bit-for-bit. Slower than xxhash64 —
    * prefer the default hash family when cross-engine parity isn't needed. */
  def md5MinHashUnit(seed: Int, sh: Column): Column =
    conv(substring(md5(concat(lit(seed.toString), lit(":"), sh).cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** 64-bit SimHash of a token-array column: per-bit majority vote of token
    * xxhash64 values. Each token is hashed once; the vote is one codegen'd
    * pass over the hashes (graft.functions.SimHash, whose scaladoc gives the
    * nested aggregate/transform form it replaces). `tokensCol` is the name
    * of an array<string> column in scope. */
  def simhash(tokensCol: String): Column =
    cl(graft.functions.SimHash(ex(transform(col(tokensCol), t => xxhash64(t))), 64))

  private def docs(s: SparkSession, d: String) = Tables.t(s, d, "documents")

  /** LSH candidates verified by exact shingle-Jaccard ≥ 0.8 (the d04
    * pipeline): (id_a, id_b, j) with id_a < id_b, j unrounded.
    *
    * The shingle table is computed ONCE and materialized
    * (`localCheckpoint`): it feeds three consumers — the minhash explode
    * and both sides of the verify join — and without the checkpoint each
    * re-runs normalize+tokenize+shingle over the corpus (3× the dominant
    * scan cost; production pipelines materialize this table for the same
    * reason). Duplicate shingles can't change a min-hash, so the
    * `array_distinct` form is shared with the signature stage. */
  private def lshVerifiedPairs(dd: DataFrame): DataFrame = {
    val sh = dd.select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), array_distinct(shinglesOf(col("t"), 3)).as("sh"))
      .localCheckpoint(true)
    // Exact-Jaccard verification runs over 64-BIT HASHED shingle sets:
    // |A∩B| and |A| are preserved under a collision-free hash, and at
    // ~10² pairs × ~10³-element unions the 2^-64 birthday term is ~1e-9
    // corpus-wide — while the candidate⋈shingles join now shuffles 8-byte
    // longs instead of full shingle strings and intersects primitive
    // arrays (measured 4× on the verify stage at sf1: 8.7→2.2 s).
    // |A∪B| = |A|+|B|-|A∩B| avoids building a union set per pair.
    val shh = sh.select(col("doc_id"),
        array_distinct(transform(col("sh"), s => xxhash64(s))).as("shh"))
      .localCheckpoint(true)
    minhashLshPairsFromShingles(sh, "doc_id", "sh")
      .join(shh.select(col("doc_id").as("id_a"), col("shh").as("sha")), "id_a")
      .join(shh.select(col("doc_id").as("id_b"), col("shh").as("shb")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sha"), col("shb"))).as("i"),
        size(col("sha")).as("na"), size(col("shb")).as("nb"))
      .select(col("id_a"), col("id_b"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("j"))
      .filter(col("j") >= 0.8)
  }

  /** Library API: exact dedup keeping the smallest id per normalized-text
    * fingerprint. One hash-shuffle on the 128-bit fingerprint. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as(idCol))
      .drop("fp")

  /** Library API: connected components over an undirected edge list via
    * iterative min-label propagation — resolves near-dup PAIRS into dedup
    * CLUSTERS (keep one doc per component), the step a production pipeline
    * runs after LSH + verification.
    *
    * Each round every node takes the min label among itself and its
    * neighbors, so a label travels one hop per round: convergence in
    * O(component diameter) rounds. Near-dup clusters are shallow (a dup of a
    * dup of X is usually also a direct dup of X), so 3–5 rounds typical.
    * Scale posture: each round is one shuffle of the edge list joined with
    * the label table — never materializes anything super-linear; a round is
    * `localCheckpoint`ed so the plan/lineage stays O(1) across rounds
    * instead of doubling per iteration (the classic driver-OOM of iterative
    * DataFrame algorithms at scale).
    *
    * Returns (node, label) with label = min node id of the component. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20): DataFrame = {
    val sym = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
    // materialize the edge list once: every round joins it, and without
    // the checkpoint each round re-runs the whole upstream pipeline that
    // produced the edges (at corpus scale that pipeline — LSH + verify —
    // dwarfs the propagation rounds; 26% off d09 even at sf0.1)
    val undirected = sym.union(sym.select(col("dst").as("src"),
      col("src").as("dst"))).localCheckpoint(true)
    var labels = undirected.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val viaNeighbor = undirected
        .join(labels, undirected("dst") === labels("node"))
        .select(undirected("src").as("node"), col("label"))
      val next = viaNeighbor.union(labels)
        .groupBy("node").agg(min(col("label")).as("label"))
        .localCheckpoint(true)
      converged = next
        .join(labels.withColumnRenamed("label", "prev"), "node")
        .filter(col("label") =!= col("prev"))
        .isEmpty
      labels = next
      iter += 1
    }
    labels
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — semantic
    * deduplication for web-scale training data): k-means clusters the
    * embedding space, then near-duplicate detection runs WITHIN each
    * cluster only — the move that turns an O(n²) all-pairs cosine into
    * Σ|cluster|², bounded by making k grow with the corpus (the paper
    * uses k ≈ √n; candidates never leave their cluster). Pairs at
    * cosine ≥ tau connect into duplicate groups (connected components)
    * and each group keeps its min-id representative.
    *
    * Scale: centroid training is [[Similarity.kmeansFit]] (k×dim-bounded
    * shuffles), assignment is one broadcast pass, the pair join is
    * cluster-partitioned (shuffle keyed on centroid_id — never a global
    * all-pairs), and component propagation is edge-list-bounded
    * ([[connectedComponents]]).
    *
    * Returns (id, centroid_id, rep, keep): rep = min id of the duplicate
    * group (itself when unpaired), keep = (rep == id). */
  /** `maxClusterSize` is the mega-cluster guard (the d15 cap pattern, in
    * its binding regime): a MIS-CHOSEN k (too small for the corpus) can
    * hand one cluster most of the points, and Σ|cluster|² then degrades
    * to ~n². Clusters above the cap are salted into ceil(|c|/cap)
    * deterministic cells (xxhash64 of the id) and candidates only form
    * within a (cluster, cell) — cost is re-bounded at cap·|c| per
    * cluster. CONTRACT when binding: near-dup pairs split across cells
    * are NOT candidates, so some duplicates survive as kept rows (recall
    * trades for a hard cost bound; pick k so the cap never binds — k
    * grows with the corpus — and the default 1M cap only catches the
    * mis-configuration). */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
      init: DataFrame, iters: Int, tau: Double,
      maxClusterSize: Int = 1 << 20): DataFrame = {
    val cents = Similarity.kmeansFit(corpus.select(col(idCol), col(vecCol)),
      idCol, vecCol, init, iters)
    val assigned0 = Similarity.ivfAssign(
        corpus.select(col(idCol), col(vecCol)), idCol, vecCol, cents)
      .localCheckpoint(true)
    // k rows — broadcast by size
    val sizes = assigned0.groupBy("centroid_id").agg(count(lit(1)).as("csz"))
    val assigned = assigned0.join(broadcast(sizes), "centroid_id")
      .withColumn("cell",
        when(col("csz") <= maxClusterSize, lit(0L)).otherwise(
          pmod(xxhash64(col(idCol)),
            ceil(col("csz").cast("double") / maxClusterSize).cast("long"))))
    val l = assigned.select(col("centroid_id"), col("cell"),
      col(idCol).as("id_a"), col(vecCol).as("va"))
    val r = assigned.select(col("centroid_id").as("c_r"),
      col("cell").as("cell_r"), col(idCol).as("id_b"), col(vecCol).as("vb"))
    val pairs = l.join(r,
        col("centroid_id") === col("c_r") && col("cell") === col("cell_r") &&
          col("id_a") < col("id_b"))
      .filter(Similarity.cosine(col("va"), col("vb")) >= tau)
      .select("id_a", "id_b")
    val cc = connectedComponents(pairs, "id_a", "id_b")
    assigned
      .join(cc, col(idCol) === cc("node"), "left")
      .select(col(idCol), col("centroid_id"),
        coalesce(col("label"), col(idCol)).as("rep"),
        (coalesce(col("label"), col(idCol)) === col(idCol)).as("keep"))
  }

  /** Eval-set DECONTAMINATION: flag corpus documents that share any
    * word-level n-gram with a benchmark/eval set — the train/test overlap
    * check of large-scale LM data pipelines (13-gram overlap in GPT-3's
    * appendix; exact-substring/n-gram variants since). Returns one row per
    * contaminated corpus doc: (idCol, shared_ngrams = distinct grams also
    * present anywhere in the eval set).
    *
    * Scale shape: the eval side is benchmarks (10^3-10^5 docs) while the
    * corpus is the 100 TB side, so the eval n-gram set is built small,
    * de-duplicated, and BROADCAST; the corpus side is one map pass
    * (normalize → tokenize → n-grams → explode) into a broadcast semi-join
    * and a partial-aggregated count — the only corpus-wide shuffle is the
    * final per-doc count, map-side combined on doc id. Gram strings keep
    * the count collision-free; at petabyte scale hash the gram column
    * (xxhash64) on both sides to shrink the broadcast — counts are
    * unchanged short of a 64-bit collision. */
  def decontaminate(corpus: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame = {
    def grams(df: DataFrame, cols: Column*) = df.select(
      (cols :+ explode(array_distinct(
        shinglesOf(tokens(col(textCol)), n))).as("g")): _*)
    val evalGrams = grams(eval).select(col("g")).distinct()
    grams(corpus, col(idCol))
      .join(broadcast(evalGrams), "g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("shared_ngrams"))
  }

  /** Library API: MinHash-LSH candidate pairs over a text column.
    * Pipeline: tokenize → k-shingles (exploded; each shingle hashed once per
    * hash function) → per-doc signature via groupBy-min → band → bucket
    * self-join. Returns (id_a, id_b) with id_a < id_b, deduplicated.
    *
    * `maxBucketSize` caps the per-(band, hash) bucket: a bucket of B docs
    * emits B² candidate rows from the self-join, so one boilerplate cluster
    * (empty templates, licence headers) turns the candidate stage quadratic
    * at corpus scale. Buckets above the cap are dropped BEFORE the join —
    * the standard production guard: members of a hot bucket either re-pair
    * through their other, more selective bands or are left to the exact
    * dedup stage (identical docs never reach LSH anyway). The bucket-size
    * aggregation shuffles one row per bucket key, and AQE broadcasts it
    * back — cost O(#buckets), never O(candidates). The guard is ON by
    * default (cap 1000 ⇒ worst bucket ≤ 10⁶ candidate rows); pass
    * `maxBucketSize = Int.MaxValue` to opt out when exact recall over a
    * known-clean corpus matters more than the quadratic safety net. */
  val DefaultMaxBucketSize = 1000

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 8, bandSize: Int = 2,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(numHashes % bandSize == 0, "numHashes must be divisible by bandSize")
    val shingled = df
      .select(col(idCol), tokens(col(textCol)).as("t"))
      .select(col(idCol), array_distinct(shinglesOf(col("t"), shingleK)).as("sh"))
    minhashLshPairsFromShingles(shingled, idCol, "sh",
      numHashes, bandSize, maxBucketSize)
  }

  /** As `minhashLshPairs`, but over an already-computed array<string>
    * shingle column — lets the caller materialize the shingle table once
    * and share it with the exact-verify stage. */
  def minhashLshPairsFromShingles(df: DataFrame, idCol: String,
      shingleCol: String, numHashes: Int = 8, bandSize: Int = 2,
      maxBucketSize: Int = DefaultMaxBucketSize,
      hashFn: (Int, Column) => Column = (i, sh) => xxhash64(lit(i), sh)): DataFrame = {
    require(numHashes % bandSize == 0, "numHashes must be divisible by bandSize")
    val allBands = lshBandTable(df, idCol, shingleCol, numHashes,
      bandSize, hashFn)
    val banded =
      if (maxBucketSize == Int.MaxValue) allBands
      else {
        val coolBuckets = allBands.groupBy("band", "bh")
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") <= maxBucketSize)
          .select("band", "bh")
        allBands.join(coolBuckets, Seq("band", "bh"))
      }
    val l = banded.select(col("band"), col("bh"), col(idCol).as("id_a"))
    val r = banded.select(col("band").as("band_r"), col("bh").as("bh_r"),
      col(idCol).as("id_b"))
    l.join(r, col("band") === col("band_r") && col("bh") === col("bh_r") &&
        col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** (id, band, bh) LSH band table — the shared signature pipeline.
    * Layout is DELIBERATELY explode+groupBy, not K map-only
    * array_min(transform(...)) folds: higher-order functions evaluate
    * interpreted (outside codegen) and, when the shingle column is an
    * inline expression, CollapseProject additionally re-runs the O(n·k)
    * shingle construction K times per doc (measured 17x slower at sf0.1;
    * the fold form re-measured 1.4x slower even against a materialized
    * shingle column). The exploded form hashes each shingle exactly once
    * per hash function inside whole-stage codegen and pays one
    * map-side-combined shuffle of (doc, K mins) partials. */
  private def lshBandTable(df: DataFrame, idCol: String, shingleCol: String,
      numHashes: Int, bandSize: Int,
      hashFn: (Int, Column) => Column): DataFrame = {
    val shingled = df.select(col(idCol), explode(col(shingleCol)).as("sh"))
    val hashed = shingled.select(col(idCol) +:
      (0 until numHashes).map(i => hashFn(i, col("sh")).as(s"h$i")): _*)
    val sig = hashed.groupBy(idCol)
      .agg(min(col("h0")).as("h0"),
        (1 until numHashes).map(i => min(col(s"h$i")).as(s"h$i")): _*)
    sig.select(col(idCol),
      posexplode(array((0 until numHashes / bandSize).map(b =>
        concat_ws(",", (0 until bandSize).map(j =>
          col(s"h${b * bandSize + j}")): _*)): _*)).as(Seq("band", "bh")))
  }

  /** Incremental (cross-corpus) near-dup detection — the nightly-crawl
    * ingestion gate: flag INCOMING documents that near-duplicate any
    * REFERENCE document, without ever self-joining either side. Band
    * buckets join reference×incoming only (within-side pairs never
    * form), candidates verify by exact Jaccard on hashed shingles, and
    * the hot-bucket cap bounds any boilerplate bucket's cross product
    * (combined postings ≤ maxBucketSize, the self-join guard's
    * contract). At 100 TB the reference side's band table is computed
    * once per ingest wave and is tiny next to the corpus (K×8-byte mins
    * per doc); only the delta re-shingles.
    *
    * Returns (new_id, ref_id, j) with j ≥ minJaccard. */
  def lshDedupAgainst(reference: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, shingleK: Int = 3, numHashes: Int = 8,
      bandSize: Int = 2, minJaccard: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(numHashes % bandSize == 0, "numHashes must be divisible by bandSize")
    def shingled(df: DataFrame): DataFrame = df
      .select(col(idCol), tokens(col(textCol)).as("t"))
      .filter(size(col("t")) >= shingleK)
      .select(col(idCol),
        array_distinct(shinglesOf(col("t"), shingleK)).as("sh"))
      .localCheckpoint(true)
    val refSh = shingled(reference)
    val newSh = shingled(incoming)
    val refB = lshBandTable(refSh, idCol, "sh", numHashes, bandSize,
        (i, sh) => xxhash64(lit(i), sh))
      .select(col("band"), col("bh"), col(idCol).as("ref_id"))
    val newB = lshBandTable(newSh, idCol, "sh", numHashes, bandSize,
        (i, sh) => xxhash64(lit(i), sh))
      .select(col("band"), col("bh"), col(idCol).as("new_id"))
    val cool = refB.select("band", "bh").union(newB.select("band", "bh"))
      .groupBy("band", "bh").agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxBucketSize)
      .select("band", "bh")
    val cand = refB.join(cool, Seq("band", "bh"))
      .join(newB, Seq("band", "bh"))
      .select("new_id", "ref_id").distinct()
    def hashedSh(df: DataFrame): DataFrame = df.select(col(idCol),
      array_distinct(transform(col("sh"), sh => xxhash64(sh))).as("shh"))
    cand
      .join(hashedSh(refSh).select(col(idCol).as("ref_id"),
        col("shh").as("sha")), "ref_id")
      .join(hashedSh(newSh).select(col(idCol).as("new_id"),
        col("shh").as("shb")), "new_id")
      .select(col("new_id"), col("ref_id"),
        size(array_intersect(col("sha"), col("shb"))).as("i"),
        size(col("sha")).as("na"), size(col("shb")).as("nb"))
      .select(col("new_id"), col("ref_id"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("j"))
      .filter(col("j") >= minJaccard)
  }

  /** EXACT-FIRST ingestion of a crawl wave against a reference corpus —
    * the round-13 d17 soak lesson promoted from protocol to API: naive
    * LSH-first ingest of a duplicate-heavy wave (the common crawl case:
    * the same page fetched 100×) re-shingles every copy, floods band
    * buckets past the hot-bucket cap, and the cap then silently STARVES a
    * real cross-corpus match out of its bucket (measured sf30: exact-first
    * 20.2 s vs naive 130.5 s, 100× smaller join output — and the naive
    * order is a CORRECTNESS risk, not just slow). This API makes the safe
    * order the only order:
    *   1. exact dedup WITHIN the wave (one fingerprint shuffle; one
    *      representative per content class);
    *   2. exact gate against the reference (fingerprint join — reps whose
    *      content the corpus already holds never reach LSH);
    *   3. near-dup LSH against the reference for the SURVIVING reps only;
    *   4. verdicts expand by construction: every class member is rejected
    *      through its representative.
    *
    * Returns one row per REJECTED incoming document:
    * (new_id, dup_of, reason ∈ {exact_wave, exact_ref, near_ref},
    * jaccard). Kept wave = incoming minus returned new_ids. */
  def ingestWave(reference: DataFrame, incoming: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 3, numHashes: Int = 8,
      bandSize: Int = 2, minJaccard: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val wave = incoming
      .select(col(idCol).as("new_id"), col(textCol).as("__text"),
        fingerprint(col(textCol)).as("__fp"))
      .localCheckpoint(true) // feeds three consumers; never re-fingerprint
    val reps = wave.groupBy("__fp").agg(min("new_id").as("rep"))
    val exactWave = wave.join(reps, "__fp")
      .filter(col("new_id") =!= col("rep"))
      .select(col("new_id"), col("rep").as("dup_of"),
        lit("exact_wave").as("reason"), lit(1.0).as("jaccard"))
    val refFp = reference.select(col(idCol).as("ref_id"),
      fingerprint(col(textCol)).as("__fp"))
    val exactRef = reps.join(refFp, "__fp")
      .groupBy("rep").agg(min("ref_id").as("dup_of"))
      .select(col("rep").as("new_id"), col("dup_of"),
        lit("exact_ref").as("reason"), lit(1.0).as("jaccard"))
    val survivorIds = reps.join(refFp, Seq("__fp"), "left_anti")
      .select(col("rep"))
    val survivors = wave.join(survivorIds, col("new_id") === col("rep"))
      .select(col("new_id").as(idCol), col("__text").as(textCol))
    val near = lshDedupAgainst(reference, survivors, idCol, textCol,
        shingleK, numHashes, bandSize, minJaccard, maxBucketSize)
      .select(col("new_id"), col("ref_id").as("dup_of"),
        lit("near_ref").as("reason"), col("j").as("jaccard"))
    exactWave.union(exactRef).union(near)
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS local fingerprinting algorithm): normalize to the alpha
    * character stream, hash every k-gram (md5-unit, DuckDB-replayable),
    * slide a w-gram window over the hash sequence and select each
    * window's MINIMUM hash, rightmost occurrence on ties (robust
    * winnowing), then de-duplicate selections across overlapping windows.
    * Guarantee: any substring match of length ≥ w+k−1 shares at least one
    * fingerprint — the property that makes this the standard local
    * algorithm for partial-overlap detection at corpus scale.
    *
    * Scale: the k-gram explode is map-side; the only shuffle partitions
    * grams by doc_id for the sliding-window min (Spark window frame
    * ROWS [0, w−1]) — O(corpus chars), with output density 2/(w+1).
    * The rightmost-tie argmin rides ONE window function: min over
    * struct(h, −i) orders by hash then by LARGEST position. */
  def winnow(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("doc_id"),
        regexp_replace(lower(col(textCol)), "[^a-z]", "").as("nt"))
      .filter(length(col("nt")) >= k + w - 1)
    val grams = base
      .select(col("doc_id"), (length(col("nt")) - (k - 1)).as("n"),
        posexplode(transform(sequence(lit(0), length(col("nt")) - k),
          i => col("nt").substr(i + lit(1), lit(k)))))
      .select(col("doc_id"), col("n"), col("pos").as("i"),
        md5MinHashUnit(0, col("col")).as("h"))
    val frame = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("mn", min(struct(col("h"), (-col("i")).as("negi"))).over(frame))
      .filter(col("i") <= col("n") - w) // full windows only
      .select(col("doc_id"), col("mn.h").as("fingerprint"),
        (-col("mn.negi")).cast("long").as("pos"))
      .distinct()
  }

  /** Partial-overlap candidate pairs from winnowing fingerprints — the
    * detector built on `winnow`: documents sharing ≥ `minShared` distinct
    * fingerprints. The join is posting-list shaped (self-join keyed on
    * fingerprint), so a boilerplate fingerprint shared by B docs emits B²
    * pairs — `maxPostings` drops over-hot fingerprints before the join
    * (the LSH hot-bucket lesson; docs still pair through their rarer
    * fingerprints). At 100 TB the shuffle carries (doc, fingerprint)
    * rows — ~29% of gram count — never documents. */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minShared: Int = 10,
      maxPostings: Int = 200): DataFrame = {
    val docFp = winnow(df, idCol, textCol, k, w)
      .select(col("doc_id"), col("fingerprint")).distinct()
    val cool = docFp.groupBy("fingerprint")
      .agg(count(lit(1)).as("postings"))
      .filter(col("postings") <= maxPostings)
      .select("fingerprint")
    val pruned = docFp.join(cool, Seq("fingerprint"))
    val l = pruned.select(col("fingerprint"), col("doc_id").as("id_a"))
    val r = pruned.select(col("fingerprint").as("f2"), col("doc_id").as("id_b"))
    l.join(r, col("fingerprint") === col("f2") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  val queries: Map[String, Q] = Map(

    // Winnowing overlap detector: pairs sharing >= 10 distinct
    // fingerprints (hot-fingerprint cap 200 — verified non-binding at
    // this SF by the oracle's own posting counts, so the cap clause is
    // exercised as a no-op and the pair set is exact).
    // SemDeDup end-to-end: 1 k-means iteration from 4 seed centroids,
    // final assignment, within-cluster cosine >= 0.35 pairs, connected
    // components, min-id representative per duplicate group. Every stage
    // is deterministic arithmetic, so the oracle retrains the identical
    // centroids (the s07 unrolled-Lloyd pattern), replays the
    // cluster-bounded pair join, and closes the components with a
    // recursive CTE — a wrong assignment tie-break, threshold edge, or
    // component label hash-fails.
    "d16_semdedup" -> Q(
      (s, d) => {
        val e = Tables.t(s, d, "embeddings")
        val init = e.filter(col("vec_id") < 4)
          .select(col("vec_id").cast("int").as("centroid_id"),
            col("embedding").as("centroid"))
        semDedup(e, "vec_id", "embedding", init, iters = 1, tau = 0.35)
          .select(col("vec_id"), col("centroid_id").cast("int").as("centroid_id"),
            col("rep"), col("keep"))
          .orderBy("vec_id")
      },
      Some("""
        WITH RECURSIVE e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        c0 AS (SELECT CAST(vec_id AS INT) AS centroid_id, v AS c
               FROM e WHERE vec_id < 4),
        a1 AS (
          SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c0.centroid_id,
              list_sum(list_transform(range(1, len(e.v)+1), i -> e.v[i] * c0.c[i])) /
                sqrt(list_sum(list_transform(c0.c, x -> x*x))) AS cs
            FROM e CROSS JOIN c0)
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid_id) = 1),
        c1 AS (
          SELECT centroid_id, list(m ORDER BY i) AS c FROM (
            SELECT a1.centroid_id AS centroid_id, t.i AS i, avg(e.v[t.i]) AS m
            FROM a1 JOIN e USING (vec_id), unnest(range(1, len(e.v)+1)) AS t(i)
            GROUP BY a1.centroid_id, t.i)
          GROUP BY centroid_id),
        a2 AS (
          SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c1.centroid_id,
              list_sum(list_transform(range(1, len(e.v)+1), i -> e.v[i] * c1.c[i])) /
                sqrt(list_sum(list_transform(c1.c, x -> x*x))) AS cs
            FROM e CROSS JOIN c1)
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid_id) = 1),
        av AS MATERIALIZED (
          SELECT a2.vec_id, a2.centroid_id, e.v FROM a2 JOIN e USING (vec_id)),
        pairs AS MATERIALIZED (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM av a JOIN av b
            ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
          WHERE list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i] * b.v[i])) /
              (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
               sqrt(list_sum(list_transform(b.v, x -> x*x)))) >= 0.35),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach(n, m) AS (
          SELECT src, src FROM edges
          UNION
          SELECT r.n, e2.dst FROM reach r JOIN edges e2 ON r.m = e2.src),
        comp AS (SELECT n, min(m) AS rep FROM reach GROUP BY n)
        SELECT av.vec_id, CAST(av.centroid_id AS INT) AS centroid_id,
          COALESCE(comp.rep, av.vec_id) AS rep,
          COALESCE(comp.rep, av.vec_id) = av.vec_id AS keep
        FROM av LEFT JOIN comp ON av.vec_id = comp.n
        ORDER BY av.vec_id""")),

    "d15_winnow_overlap" -> Q(
      (s, d) => winnowOverlapPairs(docs(s, d), "doc_id", "text")
        .orderBy("id_a", "id_b"),
      Some("""
        WITH nd AS MATERIALIZED (
          SELECT doc_id, regexp_replace(lower(text), '[^a-z]', '', 'g') AS nt
          FROM documents),
        b AS (
          SELECT doc_id, nt, length(nt) - 7 AS n
          FROM nd WHERE length(nt) >= 11),
        g AS (SELECT doc_id, n, unnest(range(0, n)) AS i, nt FROM b),
        hg AS MATERIALIZED (
          SELECT doc_id, n, i,
            CAST(CAST('0x' || substr(md5('0:' ||
              substr(nt, CAST(i AS INT) + 1, 8)), 1, 15) AS UBIGINT)
              AS BIGINT) AS h
          FROM g),
        wj AS (
          SELECT a.doc_id, a.i AS j, c.i AS i, c.h
          FROM hg a JOIN hg c
            ON a.doc_id = c.doc_id AND c.i BETWEEN a.i AND a.i + 3
          WHERE a.i <= a.n - 4),
        mn AS (SELECT doc_id, j, min(h) AS mh FROM wj GROUP BY doc_id, j),
        sel AS (
          SELECT wj.doc_id, wj.j, max(wj.i) AS pos
          FROM wj JOIN mn
            ON wj.doc_id = mn.doc_id AND wj.j = mn.j AND wj.h = mn.mh
          GROUP BY wj.doc_id, wj.j),
        fp AS MATERIALIZED (
          SELECT DISTINCT s.doc_id, hg.h
          FROM sel s JOIN hg
            ON hg.doc_id = s.doc_id AND hg.i = s.pos),
        cool AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= 200),
        pf AS MATERIALIZED (SELECT fp.doc_id, fp.h FROM fp JOIN cool USING (h))
        SELECT a.doc_id AS id_a, c.doc_id AS id_b,
          CAST(count(*) AS BIGINT) AS n_shared
        FROM pf a JOIN pf c ON a.h = c.h AND a.doc_id < c.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 10
        ORDER BY id_a, id_b""")),

    // Winnowing fingerprints, aggregated per document (count, xor and min
    // of the selected hashes, sum of selected positions — the position
    // sum pins the rightmost-tie rule and the selection windows; the
    // DuckDB side replays the window argmin relationally via a
    // range-join + min + rightmost-max).
    "d14_winnowing" -> Q(
      (s, d) => winnow(docs(s, d), "doc_id", "text")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_fp"),
          expr("bit_xor(fingerprint)").as("fp_xor"),
          sum(col("pos")).cast("long").as("pos_sum"),
          min(col("fingerprint")).as("fp_min"))
        .orderBy("doc_id"),
      Some("""
        WITH nd AS (
          SELECT doc_id, regexp_replace(lower(text), '[^a-z]', '', 'g') AS nt
          FROM documents),
        b AS (
          SELECT doc_id, nt, length(nt) - 7 AS n
          FROM nd WHERE length(nt) >= 11),
        g AS (SELECT doc_id, n, unnest(range(0, n)) AS i, nt FROM b),
        hg AS (
          SELECT doc_id, n, i,
            CAST(CAST('0x' || substr(md5('0:' ||
              substr(nt, CAST(i AS INT) + 1, 8)), 1, 15) AS UBIGINT)
              AS BIGINT) AS h
          FROM g),
        wj AS (
          SELECT a.doc_id, a.i AS j, c.i AS i, c.h
          FROM hg a JOIN hg c
            ON a.doc_id = c.doc_id AND c.i BETWEEN a.i AND a.i + 3
          WHERE a.i <= a.n - 4),
        mn AS (SELECT doc_id, j, min(h) AS mh FROM wj GROUP BY doc_id, j),
        sel AS (
          SELECT wj.doc_id, wj.j, max(wj.i) AS pos
          FROM wj JOIN mn
            ON wj.doc_id = mn.doc_id AND wj.j = mn.j AND wj.h = mn.mh
          GROUP BY wj.doc_id, wj.j),
        fp AS (
          SELECT DISTINCT s.doc_id, s.pos, hg.h
          FROM sel s JOIN hg
            ON hg.doc_id = s.doc_id AND hg.i = s.pos)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
          bit_xor(h) AS fp_xor,
          CAST(sum(pos) AS BIGINT) AS pos_sum, min(h) AS fp_min
        FROM fp GROUP BY doc_id ORDER BY doc_id""")),

    // Exact dedup on normalized text: keep the min doc_id per fingerprint.
    "d01_dedup_exact" -> Q(
      (s, d) => docs(s, d)
        .groupBy(fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .groupBy()
        .agg(count(lit(1)).as("n_unique"),
          sum(col("n_copies")).cast("long").as("n_total"),
          (sum(col("n_copies")) - count(lit(1))).cast("long").as("n_dropped")),
      Some("""
        SELECT count(*) AS n_unique,
          CAST(sum(n_copies) AS BIGINT) AS n_total,
          CAST(sum(n_copies) - count(*) AS BIGINT) AS n_dropped
        FROM (
          SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
            min(doc_id) AS keep_id, count(*) AS n_copies
          FROM documents GROUP BY 1)""")),

    // Exact-dedup survivors listed per language (the keep-list shape a
    // pipeline actually materializes).
    "d02_dedup_keeplist" -> Q(
      (s, d) => docs(s, d)
        .groupBy(col("lang"), fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("keep_id")).cast("long").as("sum_keep_ids"))
        .orderBy("lang"),
      Some("""
        SELECT lang, count(*) AS n_kept, CAST(sum(keep_id) AS BIGINT) AS sum_keep_ids
        FROM (
          SELECT lang, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
            min(doc_id) AS keep_id
          FROM documents GROUP BY 1, 2)
        GROUP BY lang ORDER BY lang""")),

    // MinHash signatures (8 hashes) — deterministic md5-derived values the
    // oracle reproduces; at scale this is a pure map stage (no shuffle).
    "d03_minhash_sig" -> Q(
      (s, d) => {
        docs(s, d).filter(col("doc_id") < 50)
          .select(col("doc_id"), tokens(col("text")).as("t"))
          .select(col("doc_id"), shinglesOf(col("t"), 3).as("sh"))
          .select(col("doc_id") +:
            (0 until 4).map(i => minhash(col("sh"), i).as(s"mh$i")): _*)
          .orderBy("doc_id")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
          FROM documents WHERE doc_id < 50),
        sh AS (
          SELECT doc_id,
            list_transform(range(1, len(t) - 1),
              i -> array_to_string(t[i:i+2], ' ')) AS shingles
          FROM toks)
        SELECT doc_id,
          list_min(list_transform(shingles,
            s -> CAST(('0x' || substr(md5('0:' || s), 1, 15)) AS UBIGINT)::BIGINT)) AS mh0,
          list_min(list_transform(shingles,
            s -> CAST(('0x' || substr(md5('1:' || s), 1, 15)) AS UBIGINT)::BIGINT)) AS mh1,
          list_min(list_transform(shingles,
            s -> CAST(('0x' || substr(md5('2:' || s), 1, 15)) AS UBIGINT)::BIGINT)) AS mh2,
          list_min(list_transform(shingles,
            s -> CAST(('0x' || substr(md5('3:' || s), 1, 15)) AS UBIGINT)::BIGINT)) AS mh3
        FROM sh ORDER BY doc_id""")),

    // MinHash-LSH near-dup candidates: band the signature, bucket-join.
    // Scalable shape: explode shingles (each md5 computed exactly once),
    // groupBy-min builds the K-hash signature in one shuffle on doc_id,
    // candidate generation is a self-join on (band, band-hash) buckets —
    // never O(n²) pairwise. Same pipeline at 100 TB, just more partitions.
    // The full filter funnel — dedup gate (smallest doc_id per normalized
    // fingerprint survives) ∧ quality gate (token count, alpha ratio,
    // token length) ∧ language gate, with per-reason drop counts: the
    // composition a production training-data pipeline runs as stage one.
    // Each gate is a map-side expression; the only shuffle is the
    // fingerprint groupBy — at 100 TB this is one pass + one hash shuffle
    // of fingerprints.
    "d08_pipeline_filter" -> Q(
      (s, d) => {
        val dd = docs(s, d)
        val keepers = dd
          .groupBy(fingerprint(col("text")).as("fp"))
          .agg(min(col("doc_id")).as("keep_id"))
          .select(col("keep_id"))
        val toks = col("t")
        dd.join(keepers, dd("doc_id") === keepers("keep_id"), "left")
          .select(col("doc_id"), col("text"), col("lang"),
            col("keep_id").isNotNull.as("dedup_ok"),
            Dedup.tokens(col("text")).as("t"))
          .select(col("doc_id"), col("lang"), col("dedup_ok"),
            (size(toks) >= 10).as("len_ok"),
            (length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double") /
              length(col("text")).cast("double") > 0.6).as("alpha_ok"),
            col("lang").isin("en", "es", "zh", "fr", "de").as("lang_ok"))
          .groupBy("lang")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(when(col("dedup_ok") && col("len_ok") && col("alpha_ok") &&
              col("lang_ok"), 1).otherwise(0)).cast("long").as("n_kept"),
            sum(when(!col("dedup_ok"), 1).otherwise(0)).cast("long").as("drop_dup"),
            sum(when(!col("len_ok") || !col("alpha_ok"), 1).otherwise(0))
              .cast("long").as("drop_quality"),
            sum(when(!col("lang_ok"), 1).otherwise(0)).cast("long").as("drop_lang"))
          .orderBy("lang")
      },
      Some("""
        WITH keepers AS (
          SELECT min(doc_id) AS keep_id
          FROM documents
          GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))),
        gates AS (
          SELECT d.doc_id, d.lang,
            k.keep_id IS NOT NULL AS dedup_ok,
            len(string_split(trim(regexp_replace(lower(d.text), '\s+', ' ', 'g')), ' ')) >= 10 AS len_ok,
            CAST(length(regexp_replace(d.text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) /
              length(d.text) > 0.6 AS alpha_ok,
            d.lang IN ('en', 'es', 'zh', 'fr', 'de') AS lang_ok
          FROM documents d LEFT JOIN keepers k ON d.doc_id = k.keep_id)
        SELECT lang,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CASE WHEN dedup_ok AND len_ok AND alpha_ok AND lang_ok
            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(sum(CASE WHEN NOT dedup_ok THEN 1 ELSE 0 END) AS BIGINT) AS drop_dup,
          CAST(sum(CASE WHEN NOT len_ok OR NOT alpha_ok THEN 1 ELSE 0 END) AS BIGINT) AS drop_quality,
          CAST(sum(CASE WHEN NOT lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS drop_lang
        FROM gates GROUP BY lang ORDER BY lang""")),

    // MinHash-LSH candidates + exact-Jaccard verification — the full
    // near-dup pipeline. The LSH stage is O(n·bands) instead of O(n²); the
    // exact verify touches only candidate pairs. The oracle recomputes the
    // ≥0.8 pair set exhaustively (with the |A|/|B| ≥ 0.8 size bound as a
    // pushdown prefilter — implied by jaccard ≥ 0.8, so still exact), which
    // doubles as an LSH recall check: a missed true pair would hash-mismatch.
    // Incremental cross-corpus dedup: the even-doc_id half plays the
    // existing corpus, the odd half the incoming crawl; LSH bands join
    // reference×incoming only and exact Jaccard verifies. The oracle is
    // the EXHAUSTIVE exact cross-pair set (length-prefiltered) — LSH
    // recall at this threshold must be total or the hash fails (the d04
    // contract, cross-corpus form).
    "d17_dedup_against" -> Q(
      (s, d) => {
        val dd = docs(s, d)
        lshDedupAgainst(
          dd.filter(col("doc_id") % 2 === 0),
          dd.filter(col("doc_id") % 2 === 1),
          "doc_id", "text")
          .select(col("new_id"), col("ref_id"), round(col("j"), 4).as("jaccard"))
          .orderBy("new_id", "ref_id")
      },
      Some("""
        WITH t AS (
          SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
          FROM documents),
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(toks) - 2 + 1),
              i -> array_to_string(toks[i:i+2], ' '))) AS shingles
          FROM t WHERE len(toks) >= 3)
        SELECT i.doc_id AS new_id, r.doc_id AS ref_id,
          round(CAST(len(list_intersect(i.shingles, r.shingles)) AS DOUBLE) /
            len(list_distinct(list_concat(i.shingles, r.shingles))), 4) AS jaccard
        FROM sh i JOIN sh r
          ON i.doc_id % 2 = 1 AND r.doc_id % 2 = 0
          AND len(i.shingles) >= 0.8 * len(r.shingles)
          AND len(r.shingles) >= 0.8 * len(i.shingles)
        WHERE CAST(len(list_intersect(i.shingles, r.shingles)) AS DOUBLE) /
            len(list_distinct(list_concat(i.shingles, r.shingles))) >= 0.8
        ORDER BY new_id, ref_id""")),

    // Exact-first wave ingestion (ingestWave): the d17 lesson as an API.
    // Oracle replays all three verdict classes declaratively: exact
    // classes on normalized text, the reference gate, and the exhaustive
    // Jaccard for the surviving representatives (the d17 pattern).
    "d18_ingest_wave" -> Q(
      (s, d) => {
        val dd = docs(s, d)
        ingestWave(
          dd.filter(col("doc_id") % 2 === 0),
          dd.filter(col("doc_id") % 2 === 1),
          "doc_id", "text")
          .select(col("new_id"), col("dup_of"), col("reason"),
            round(col("jaccard"), 4).as("jaccard"))
          .orderBy("new_id", "reason", "dup_of")
      },
      Some("""
        WITH norm AS MATERIALIZED (
          SELECT doc_id,
            trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
          FROM documents),
        wave AS (SELECT doc_id, nt FROM norm WHERE doc_id % 2 = 1),
        refs AS (SELECT doc_id, nt FROM norm WHERE doc_id % 2 = 0),
        reps AS MATERIALIZED (
          SELECT nt, min(doc_id) AS rep FROM wave GROUP BY 1),
        exact_wave AS (
          SELECT w.doc_id AS new_id, r.rep AS dup_of,
            'exact_wave' AS reason, CAST(1.0 AS DOUBLE) AS jaccard
          FROM wave w JOIN reps r ON w.nt = r.nt AND w.doc_id <> r.rep),
        exact_ref AS (
          SELECT new_id, dup_of, 'exact_ref' AS reason,
            CAST(1.0 AS DOUBLE) AS jaccard
          FROM (
            SELECT r.rep AS new_id, min(f.doc_id) AS dup_of
            FROM reps r JOIN refs f ON r.nt = f.nt GROUP BY 1) q),
        survivors AS (
          SELECT rep FROM reps
          WHERE NOT EXISTS (SELECT 1 FROM refs f WHERE f.nt = reps.nt)),
        t AS (SELECT doc_id, string_split(nt, ' ') AS toks FROM norm),
        sh AS MATERIALIZED (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(toks) - 2 + 1),
              i -> array_to_string(toks[i:i+2], ' '))) AS shingles
          FROM t WHERE len(toks) >= 3),
        near AS (
          SELECT i.doc_id AS new_id, r.doc_id AS dup_of,
            'near_ref' AS reason,
            round(CAST(len(list_intersect(i.shingles, r.shingles)) AS DOUBLE) /
              len(list_distinct(list_concat(i.shingles, r.shingles))), 4)
              AS jaccard
          FROM sh i
          JOIN survivors s ON s.rep = i.doc_id
          JOIN sh r ON r.doc_id % 2 = 0
            AND len(i.shingles) >= 0.8 * len(r.shingles)
            AND len(r.shingles) >= 0.8 * len(i.shingles)
          WHERE CAST(len(list_intersect(i.shingles, r.shingles)) AS DOUBLE) /
              len(list_distinct(list_concat(i.shingles, r.shingles))) >= 0.8)
        SELECT new_id, dup_of, reason, jaccard FROM exact_wave
        UNION ALL SELECT new_id, dup_of, reason, jaccard FROM exact_ref
        UNION ALL SELECT new_id, dup_of, reason, jaccard FROM near
        ORDER BY new_id, reason, dup_of""")),

    "d04_minhash_lsh_pairs" -> Q(
      (s, d) => lshVerifiedPairs(docs(s, d))
        .select(col("id_a"), col("id_b"), round(col("j"), 4).as("jaccard"))
        .orderBy("id_a", "id_b"),
      Some("""
        WITH t AS (
          SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
          FROM documents),
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(toks) - 2 + 1),
              i -> array_to_string(toks[i:i+2], ' '))) AS shingles
          FROM t WHERE len(toks) >= 3)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
            len(list_distinct(list_concat(a.shingles, b.shingles))), 4) AS jaccard
        FROM sh a JOIN sh b
          ON a.doc_id < b.doc_id
          AND len(a.shingles) >= 0.8 * len(b.shingles)
          AND len(b.shingles) >= 0.8 * len(a.shingles)
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
            len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8
        ORDER BY id_a, id_b""")),

    // Near-dup CLUSTER resolution: the verified pair set (d04) collapsed
    // into connected components by iterative min-label propagation — the
    // step that decides which doc survives (min doc_id per component) when
    // duplicates chain (A≈B, B≈C ⇒ {A,B,C} one cluster even if A≉C).
    // The oracle recomputes components independently via a recursive CTE
    // (transitive closure to the min reachable id), so the distributed
    // fixpoint is checked against a declarative definition, not a replay.
    //
    // Graph CONTRACTION (round 6): exact copies form cliques in the full
    // pair graph (identical normalized text ⇒ identical shingle set ⇒
    // jaccard 1 with every copy, and the same jaccard as their keeper
    // against everything else), so the propagation runs on the CONTRACTED
    // graph — one node per distinct content, survivor-level LSH pairs as
    // edges — and copies then inherit their keeper's component label
    // through one fingerprint join. Labels agree with the all-pairs
    // graph: the keeper is already the min doc_id of its copy group, so
    // the min over a contracted component equals the min over the full
    // component. Node set (docs in ≥1 oracle pair) is preserved: a doc
    // participates iff its content has >1 copy (clique edges) or its
    // keeper has a survivor-level near-dup edge. At the 100×-duplicated
    // sf10 fixture the fixpoint runs over 241 edges instead of 27 M,
    // and rounds shrink with the contracted diameter. The oracle still
    // closes over the exhaustive all-pairs set via the recursive CTE.
    "d09_dedup_clusters" -> Q(
      (s, d) => {
        val dd = docs(s, d)
        val withFp = dd
          .filter(size(tokens(col("text"))) >= 3)
          .select(col("doc_id"), fingerprint(col("text")).as("fp"))
          .localCheckpoint(true)
        val groups = withFp.groupBy("fp").agg(
          min(col("doc_id")).as("keeper"),
          count(lit(1)).as("n_copies"))
        val survivorPairs = lshVerifiedPairs(
            dd.join(groups.select(col("keeper").as("doc_id")),
              Seq("doc_id"), "leftsemi"))
          .select("id_a", "id_b")
        val ccK = connectedComponents(survivorPairs, "id_a", "id_b")
        // every keeper gets a component label (its own if unpaired), and
        // copies participate when the clique or an LSH edge links them
        val kLab = groups
          .join(ccK, groups("keeper") === ccK("node"), "left")
          .select(col("fp"), col("keeper"), col("n_copies"),
            coalesce(col("label"), col("keeper")).as("label"),
            col("node").isNotNull.as("in_lsh"))
        val cc = withFp.join(kLab, "fp")
          .filter(col("n_copies") > 1 || col("in_lsh"))
          .select(col("doc_id").as("node"), col("label"))
        val sizes = cc.groupBy(col("label").as("rep"))
          .agg(count(lit(1)).cast("long").as("cluster_size"))
        cc.join(sizes, cc("label") === sizes("rep"))
          .select(col("node").as("doc_id"), col("label").as("cluster_rep"),
            col("cluster_size"),
            (col("node") === col("label")).as("is_keeper"))
          .orderBy("doc_id")
      },
      Some("""
        WITH RECURSIVE t AS (
          SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
          FROM documents),
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(toks) - 2 + 1),
              i -> array_to_string(toks[i:i+2], ' '))) AS shingles
          FROM t WHERE len(toks) >= 3),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b
            ON a.doc_id < b.doc_id
            AND len(a.shingles) >= 0.8 * len(b.shingles)
            AND len(b.shingles) >= 0.8 * len(a.shingles)
          WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
              len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach(n, m) AS (
          SELECT src, src FROM edges
          UNION
          SELECT r.n, e.dst FROM reach r JOIN edges e ON r.m = e.src),
        comp AS (SELECT n AS doc_id, min(m) AS cluster_rep FROM reach GROUP BY n),
        sizes AS (SELECT cluster_rep AS rep, count(*) AS cs FROM comp GROUP BY 1)
        SELECT c.doc_id, c.cluster_rep, CAST(s.cs AS BIGINT) AS cluster_size,
          c.doc_id = c.cluster_rep AS is_keeper
        FROM comp c JOIN sizes s ON c.cluster_rep = s.rep
        ORDER BY doc_id""")),

    // URL canonicalization dedup — the web-corpus stage before content
    // dedup: scheme/www/default-port/fragment/tracking-param noise
    // collapses to one canonical URL per page. The fixture has no URL
    // column, so deterministic noisy URLs are planted from doc_id (10
    // variants per canonical page); the canonicalizer is a pure regex
    // chain (map-only at scale) and the oracle replays it, pinning group
    // count, sizes, and min-doc_id keepers.
    "d10_url_canonical" -> Q(
      (s, d) => {
        val url = concat(
          lit("http"), when(col("doc_id") % 2 === 0, "s").otherwise(""),
          lit("://"), when(col("doc_id") % 3 === 0, "WWW.").otherwise(""),
          lit("site"), col("doc_id") % 50, lit(".example.com"),
          when(col("doc_id") % 5 === 0, ":80").otherwise(""),
          lit("/page/"), col("doc_id") % 25,
          when(col("doc_id") % 7 === 0, "/").otherwise(""),
          lit("?utm_source="), col("doc_id") % 11, lit("&id="), col("doc_id") % 25,
          when(col("doc_id") % 13 === 0, "#frag").otherwise(""))
        val canonical = Seq[Column => Column](
          lower,
          regexp_replace(_, "^https://", "http://"),
          regexp_replace(_, "^http://www\\.", "http://"),
          regexp_replace(_, ":80/", "/"),
          regexp_replace(_, "#.*$", ""),
          regexp_replace(_, "utm_[^&]*&", ""),
          regexp_replace(_, "/\\?", "?")
        ).foldLeft(url)((c, f) => f(c))
        docs(s, d)
          .select(col("doc_id"), canonical.as("canonical"))
          .groupBy("canonical")
          .agg(count(lit(1)).cast("long").as("n_variants"),
            min(col("doc_id")).as("keep_id"))
          .orderBy("canonical")
      },
      Some("""
        WITH u AS (
          SELECT doc_id,
            'http' || CASE WHEN doc_id % 2 = 0 THEN 's' ELSE '' END ||
            '://' || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
            'site' || (doc_id % 50) || '.example.com' ||
            CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END ||
            '/page/' || (doc_id % 25) ||
            CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END ||
            '?utm_source=' || (doc_id % 11) || '&id=' || (doc_id % 25) ||
            CASE WHEN doc_id % 13 = 0 THEN '#frag' ELSE '' END AS url
          FROM documents),
        c AS (
          SELECT doc_id,
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(lower(url), '^https://', 'http://'),
                      '^http://www\.', 'http://'),
                    ':80/', '/'),
                  '#.*$', ''),
                'utm_[^&]*&', ''),
              '/\?', '?') AS canonical
          FROM u)
        SELECT canonical, CAST(count(*) AS BIGINT) AS n_variants,
          min(doc_id) AS keep_id
        FROM c GROUP BY canonical ORDER BY canonical""")),

    // SimHash signatures, hash-checked bit-for-bit: the query variant uses a
    // 32-bit md5-derived token hash both engines can compute (the library
    // `simhash` API keeps xxhash64 — cheaper at scale, same algorithm). The
    // per-bit vote is the SimHash kernel; the oracle replays its HOF form.
    "d05_simhash" -> Q(
      (s, d) => docs(s, d)
        .select(col("doc_id"), col("source"), cl(graft.functions.SimHash(ex(
          transform(split(normalize(col("text")), " "),
            t => conv(substring(md5(t), 25, 8), 16, 10).cast("long"))), 32)).as("sig"))
        .orderBy("doc_id"),
      Some("""
        WITH t AS (
          SELECT doc_id, source,
            string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
          FROM documents),
        h AS (
          SELECT doc_id, source,
            list_transform(toks, t ->
              CAST(('0x' || substr(md5(t), 25, 8))::UBIGINT AS BIGINT)) AS hashes
          FROM t)
        SELECT doc_id, source,
          CAST(list_sum(list_transform(range(0, 32), b ->
            CASE WHEN list_sum(list_transform(hashes, h2 ->
                   CASE WHEN (h2 >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
              THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS sig
        FROM h ORDER BY doc_id""")),

    // Embedding-cosine near-dup detection via multi-table hyperplane LSH —
    // the semantic-dedup stage of a training pipeline in its SCALE shape:
    // candidates come from a (table, bucket) EQUI-join over
    // Similarity.lshBuckets (4 tables × 4 planes; banding recall
    // 1−(1−p⁴)⁴), cosine is verified on candidate pairs only, and the
    // whole pipeline is deterministic md5-seeded arithmetic the DuckDB
    // oracle replays bit-for-bit (same candidates, same survivors).
    // Threshold 0.35 sits in the synthetic fixture's tail (max pairwise
    // ≈ 0.51); DedupSpec pins the no-cartesian plan shape.
    "d07_embedding_neardup" -> Q(
      (s, d) => {
        val e = Tables.t(s, d, "embeddings").localCheckpoint(true)
        val b = e.select(col("vec_id"),
          posexplode(Similarity.lshBuckets(col("embedding"), 4, 4))
            .as(Seq("tbl", "bucket")))
        val l = b.select(col("tbl"), col("bucket"), col("vec_id").as("id_a"))
        val r = b.select(col("tbl").as("tbl_r"), col("bucket").as("bucket_r"),
          col("vec_id").as("id_b"))
        val cand = l.join(r, col("tbl") === col("tbl_r") &&
            col("bucket") === col("bucket_r") && col("id_a") < col("id_b"))
          .select("id_a", "id_b").distinct()
        cand
          .join(e.select(col("vec_id").as("id_a"), col("embedding").as("ea")), "id_a")
          .join(e.select(col("vec_id").as("id_b"), col("embedding").as("eb")), "id_b")
          .select(col("id_a"), col("id_b"),
            round(Similarity.cosine(col("ea"), col("eb")), 6).as("cos"))
          .filter(col("cos") > 0.35)
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH e AS (SELECT vec_id, embedding FROM embeddings),
        bt AS (
          SELECT vec_id, tt.t AS tbl,
            CAST(list_sum(list_transform(range(0, 4), p ->
              CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1), i ->
                  CAST(embedding[i] AS DOUBLE) *
                  (CASE WHEN ('0x' || substr(md5(CAST(tt.t * 4 + p AS VARCHAR) || ':' ||
                      CAST(i - 1 AS VARCHAR)), 32, 1))::INT % 2 = 0
                    THEN 1.0 ELSE -1.0 END))) > 0
                THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT) AS bucket
          FROM e, (SELECT unnest(range(0, 4)) AS t) tt),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM bt a JOIN bt b
            ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        scored AS (
          SELECT c.id_a, c.id_b,
            round(
              list_sum(list_transform(range(1, len(ea.embedding) + 1),
                i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))) /
              (sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
               sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
              6) AS cos
          FROM cand c
          JOIN e ea ON ea.vec_id = c.id_a
          JOIN e eb ON eb.vec_id = c.id_b)
        SELECT id_a, id_b, cos FROM scored WHERE cos > 0.35
        ORDER BY id_a, id_b""")),

    // n-gram (token-set) Jaccard VERIFICATION over LSH candidates — the
    // stage after candidate generation, composed from the library API the
    // way d04's pipeline does: candidates come from
    // minhashLshPairsFromShingles (bucketed band self-join, never O(n²)),
    // with the md5 hash family so the DuckDB oracle replays the exact same
    // signatures/buckets/candidates bit-for-bit. The verify join touches
    // candidate pairs only; DedupSpec pins the no-cartesian plan shape.
    "d06_ngram_jaccard" -> Q(
      (s, d) => {
        val base = docs(s, d)
          .select(col("doc_id"), tokens(col("text")).as("t"))
          .filter(size(col("t")) >= 3)
          .select(col("doc_id"), array_distinct(col("t")).as("tset"),
            array_distinct(shinglesOf(col("t"), 3)).as("sh"))
          .localCheckpoint(true) // feeds LSH + both verify sides once
        val cand = minhashLshPairsFromShingles(base, "doc_id", "sh",
          hashFn = (i, sh) => md5MinHashUnit(i, sh))
        cand
          .join(base.select(col("doc_id").as("id_a"), col("tset").as("t_a")), "id_a")
          .join(base.select(col("doc_id").as("id_b"), col("tset").as("t_b")), "id_b")
          .select(col("id_a"), col("id_b"),
            round(size(array_intersect(col("t_a"), col("t_b"))).cast("double") /
              size(array_union(col("t_a"), col("t_b"))).cast("double"), 6).as("jaccard"))
          .filter(col("jaccard") > 0.5)
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH t0 AS (
          SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
          FROM documents),
        f AS (
          SELECT doc_id, list_distinct(t) AS tset,
            list_distinct(list_transform(range(1, len(t) - 2 + 1),
              i -> array_to_string(t[i:i+2], ' '))) AS sh
          FROM t0 WHERE len(t) >= 3),
        sig AS (
          SELECT doc_id,
            list_min(list_transform(sh, s -> CAST(('0x' || substr(md5('0:' || s), 1, 15)) AS UBIGINT)::BIGINT)) AS mh0,
            list_min(list_transform(sh, s -> CAST(('0x' || substr(md5('1:' || s), 1, 15)) AS UBIGINT)::BIGINT)) AS mh1,
            list_min(list_transform(sh, s -> CAST(('0x' || substr(md5('2:' || s), 1, 15)) AS UBIGINT)::BIGINT)) AS mh2,
            list_min(list_transform(sh, s -> CAST(('0x' || substr(md5('3:' || s), 1, 15)) AS UBIGINT)::BIGINT)) AS mh3,
            list_min(list_transform(sh, s -> CAST(('0x' || substr(md5('4:' || s), 1, 15)) AS UBIGINT)::BIGINT)) AS mh4,
            list_min(list_transform(sh, s -> CAST(('0x' || substr(md5('5:' || s), 1, 15)) AS UBIGINT)::BIGINT)) AS mh5,
            list_min(list_transform(sh, s -> CAST(('0x' || substr(md5('6:' || s), 1, 15)) AS UBIGINT)::BIGINT)) AS mh6,
            list_min(list_transform(sh, s -> CAST(('0x' || substr(md5('7:' || s), 1, 15)) AS UBIGINT)::BIGINT)) AS mh7
          FROM f),
        bands AS (
          SELECT doc_id, b.band,
            CASE b.band WHEN 0 THEN mh0 || ',' || mh1 WHEN 1 THEN mh2 || ',' || mh3
                        WHEN 2 THEN mh4 || ',' || mh5 ELSE mh6 || ',' || mh7 END AS bh
          FROM sig, (SELECT unnest(range(0, 4)) AS band) b),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
          FROM bands a JOIN bands b2
            ON a.band = b2.band AND a.bh = b2.bh AND a.doc_id < b2.doc_id),
        scored AS (
          SELECT c.id_a, c.id_b,
            round(CAST(len(list_intersect(fa.tset, fb.tset)) AS DOUBLE) /
              CAST(len(list_distinct(list_concat(fa.tset, fb.tset))) AS DOUBLE), 6) AS jaccard
          FROM cand c
          JOIN f fa ON fa.doc_id = c.id_a
          JOIN f fb ON fb.doc_id = c.id_b)
        SELECT id_a, id_b, jaccard FROM scored WHERE jaccard > 0.5
        ORDER BY id_a, id_b""")),

    // Exact-dedup PREFILTER → MinHash-LSH — the composition a production
    // pipeline actually runs, and the scale lesson the sf1 soak measured:
    // identical documents (boilerplate, mirrored pages) all land in the
    // same LSH buckets, so candidate pairs grow with the SQUARE of the
    // copy count (the 10×-copied sf1 fixture multiplied d04's pair stage
    // ~100×). One fingerprint hash-shuffle first removes exact copies, so
    // LSH sees each distinct text once and near-dup candidates scale with
    // distinct content, not corpus size. The oracle recomputes keepers +
    // the exhaustive survivor pair set independently.
    // Eval-set decontamination over the fixture: docs with doc_id % 29 = 0
    // stand in as the benchmark set, the rest as the training corpus; a
    // contaminated doc is one sharing any normalized word 3-gram with the
    // eval side. Eval gram set broadcasts (PlanSpec-style pin in
    // DedupSpec); corpus side stays one map pass + per-doc count.
    // Passage-level exact dedup: 4-token windows every 2 tokens,
    // cross-document repeats (the boilerplate that document-level dedup
    // misses). One (chunk, doc) shuffle, never documents; the oracle
    // rebuilds the identical strided-window table in SQL and replays
    // every count.
    "d13_passage_dedup" -> Q(
      (s, d) => passageDedup(docs(s, d), "doc_id", "text",
          window = 4, stride = 2, minDocs = 2)
        .orderBy("chunk"),
      Some("""
        WITH t AS (
          SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
          FROM documents),
        c AS (
          SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS chunk
          FROM t, unnest(range(1, len(toks) - 4 + 2, 2)) AS u(i)
          WHERE len(toks) >= 4)
        SELECT chunk, count(DISTINCT doc_id) AS n_docs,
          count(*) AS n_occurrences,
          min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        FROM c GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2
        ORDER BY chunk""")),

    "d12_decontaminate" -> Q(
      (s, d) => {
        val dd = docs(s, d)
        decontaminate(
          dd.filter(col("doc_id") % 29 =!= 0),
          dd.filter(col("doc_id") % 29 === 0),
          "doc_id", "text", n = 3)
          .orderBy("doc_id")
      },
      Some("""
        WITH t AS (
          SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
          FROM documents),
        g AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
            range(1, len(toks) - 2 + 1),
            i -> array_to_string(toks[i:i+2], ' ')))) AS g
          FROM t WHERE len(toks) >= 3),
        ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 29 = 0),
        co AS (SELECT doc_id, g FROM g WHERE doc_id % 29 <> 0)
        SELECT co.doc_id, CAST(count(*) AS BIGINT) AS shared_ngrams
        FROM co JOIN ev USING (g)
        GROUP BY co.doc_id ORDER BY co.doc_id""")),

    "d11_lsh_after_exact" -> Q(
      (s, d) => {
        val dd = docs(s, d)
        val keep = dd
          .groupBy(fingerprint(col("text")).as("fp"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id")
        lshVerifiedPairs(dd.join(keep, Seq("doc_id"), "leftsemi"))
          .select(col("id_a"), col("id_b"), round(col("j"), 4).as("jaccard"))
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH keep AS (
          SELECT min(doc_id) AS doc_id
          FROM (SELECT doc_id,
                  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
                FROM documents)
          GROUP BY fp),
        d AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id IN (SELECT doc_id FROM keep)),
        t AS (
          SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
          FROM d),
        sh AS (
          SELECT doc_id,
            list_distinct(list_transform(range(1, len(toks) - 2 + 1),
              i -> array_to_string(toks[i:i+2], ' '))) AS shingles
          FROM t WHERE len(toks) >= 3)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
            len(list_distinct(list_concat(a.shingles, b.shingles))), 4) AS jaccard
        FROM sh a JOIN sh b
          ON a.doc_id < b.doc_id
          AND len(a.shingles) >= 0.8 * len(b.shingles)
          AND len(b.shingles) >= 0.8 * len(a.shingles)
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
            len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8
        ORDER BY id_a, id_b"""))
  )
}
