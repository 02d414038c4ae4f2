package graft.operators

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Text-analysis operators for training-data pipelines: language ID
  * (stopword-hit heuristic), quality scoring, token counting, document
  * fingerprinting. All pure expression trees over the `documents` table —
  * map-only at cluster scale (no shuffle until the final aggregate).
  */
object TextAnalysis {

  private def docs(s: SparkSession, d: String) = Tables.t(s, d, "documents")

  private val norm: Column => Column = Dedup.normalize

  /** Marker token sets per language (tiny-vocab heuristic; the fixture text
    * is synthetic English-ish SQL vocabulary, so markers are drawn from it —
    * the operator shape, not a linguistics claim). */
  val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "fast", "slow"),
    "sql" -> Seq("join", "filter", "scan", "agg", "query", "sort"),
    "data" -> Seq("row", "column", "table", "value", "data"),
    "stream" -> Seq("stream", "window", "batch", "merge"))

  def markerHits(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => t.isInCollection(words)))

  /** Library API: pack documents into fixed token-budget training
    * sequences, per shard, in id order (see t09 entry note). Returns the
    * input ids annotated with (shard, n_tokens, start, pack). The window
    * is PARTITIONED by shard — no global sort; each shard's running
    * offset computes independently, so the pass scales with executors. */
  def sequencePack(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, budget: Int, shards: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(idCol), (col(idCol) % shards).as("shard"),
        size(Dedup.tokens(col(textCol))).as("n_tokens"))
      .withColumn("start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack", floor(col("start") / budget))
  }

  /** Library API: deterministic mixture resampling to target class
    * weights (see t10 entry note). Returns one row per weighted class:
    * (classCol, n_total, rate, n_kept, kept_id_sum). Classes absent from
    * `weights` are dropped. All joins against the class-level relations
    * broadcast (they have |weights| rows); the corpus pass is map-only. */
  def mixtureResample(df: org.apache.spark.sql.DataFrame, idCol: String,
      classCol: String, weights: Map[String, Double]): org.apache.spark.sql.DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val w = weights.toSeq.toDF(classCol, "wt")
    val in = df.join(broadcast(w), classCol)
    val counts = in.groupBy(col(classCol))
      .agg(count(lit(1)).cast("double").as("n_total"))
    val rates = counts.join(broadcast(w), classCol)
    val scale = rates.agg(min(col("n_total") / col("wt")).as("scale"))
    val r = rates.crossJoin(broadcast(scale))
      .select(col(classCol), col("n_total").cast("long").as("n_total"),
        least(lit(1.0), col("wt") * col("scale") / col("n_total")).as("rate"))
    val kept = in.join(broadcast(r.select(col(classCol), col("rate"))), classCol)
      .filter(Dedup.md5MinHashUnit(0, col(idCol).cast("string")).cast("double")
        < col("rate") * lit(1152921504606846976.0))
      .groupBy(col(classCol))
      .agg(count(lit(1)).cast("long").as("n_kept"),
        sum(col(idCol)).cast("long").as("kept_id_sum"))
    r.join(kept, Seq(classCol), "left")
      .select(col(classCol), col("n_total"), round(col("rate"), 6).as("rate"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_id_sum"), lit(0L)).as("kept_id_sum"))
  }

  /** Library API: bigram language-model perplexity scoring — the CCNet
    * quality-filter shape (score each document by how surprising its
    * token stream is under an n-gram LM trained on the corpus itself;
    * keep the low-perplexity head / drop the gibberish tail).
    *
    * Model: Laplace-smoothed bigram, p(w2|w1) = (c(w1,w2)+1)/(c(w1)+V),
    * with c(w1) summed FROM the bigram table (so rows normalize) and V =
    * corpus-wide distinct-token count. Score: per-document mean negative
    * log-likelihood over its bigrams (`nll`) and perplexity exp(nll).
    *
    * Plan shape at 100 TB: one exploded-bigram aggregation builds the
    * model (shuffle is O(model), not O(corpus) — map-side combine
    * collapses repeats per partition), the model re-joins BROADCAST, and
    * the per-document mean is the only corpus-sized shuffle (map-side
    * combined to one row per doc). `maxVocab > 0` caps the model for
    * open vocabularies: tokens outside the top-`maxVocab` by count map to
    * an OOV bucket BEFORE counting, bounding the model at
    * (maxVocab+1)² regardless of corpus size. */
  def lmPerplexity(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, maxVocab: Int = 0): org.apache.spark.sql.DataFrame = {
    val toks0 = df.select(col(idCol), Dedup.tokens(col(textCol)).as("__t"))
    val toks =
      if (maxVocab <= 0) toks0
      else {
        val top = toks0.select(explode(col("__t")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("w")).limit(maxVocab)
          .select(col("w"), lit(true).as("__keep"))
        // map-only OOV rewrite via a broadcast membership map
        val keepSet = map_from_arrays(
          collect_list(col("w")), collect_list(lit(true)))
        val kept = top.agg(keepSet.as("__m"))
        toks0.crossJoin(broadcast(kept))
          .select(col(idCol), transform(col("__t"),
            t => when(col("__m")(t).isNotNull, t).otherwise(lit("<oov>")))
            .as("__t"))
      }
    val bg = toks.select(col(idCol),
      explode(Dedup.shinglesOf(col("__t"), 2)).as("bg"))
    val model = bg.groupBy("bg").agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val uni = model.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val vdf = toks.select(explode(col("__t")).as("w"))
      .agg(countDistinct(col("w")).cast("double").as("vsz"))
    val scoredModel = model.join(uni, "w1")
      .crossJoin(vdf)
      .select(col("bg"),
        ((col("c12") + 1.0) / (col("c1") + col("vsz"))).as("p"))
    bg.join(broadcast(scoredModel), "bg")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        avg(-log(col("p"))).as("__nll"))
      .select(col(idCol), col("n_bigrams"),
        round(col("__nll"), 6).as("nll"),
        round(exp(col("__nll")), 4).as("ppl"))
  }

  /** t15 blocklist: nested patterns to exercise overlapping matches. */
  private val blocklistPatterns = Seq("scan", "can", "an", "join", "in", "data")

  /** DuckDB replay: per pattern, brute-force all 0-based occurrence
    * positions with a list comprehension, then aggregate counts / hit
    * flags / min position across patterns. */
  private def blocklistOracle: String = {
    val occ = blocklistPatterns.zipWithIndex.map { case (p, i) =>
      s"""list_filter(range(0, length(lt) - ${p.length} + 1), i ->
         substr(lt, CAST(i AS INT) + 1, ${p.length}) = '$p') AS o$i"""
    }.mkString(",\n          ")
    val idx = blocklistPatterns.indices
    val total = idx.map(i => s"len(o$i)").mkString(" + ")
    val hits = idx.map(i => s"(CASE WHEN len(o$i) > 0 THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val mins = idx.map(i => s"coalesce(list_min(o$i), 2000000000)")
      .mkString(", ")
    s"""
      WITH t AS (SELECT doc_id, lower(text) AS lt FROM documents),
      o AS (SELECT doc_id,
          $occ
        FROM t)
      SELECT doc_id,
        CAST($total AS BIGINT) AS n_matches,
        CAST($hits AS INT) AS n_patterns,
        CAST(CASE WHEN $total = 0 THEN -1
          ELSE least($mins) END AS INT) AS first_pos
      FROM o ORDER BY doc_id"""
  }

  val queries: Map[String, Q] = Map(

    // Bigram-LM perplexity scoring (quality filtering by corpus-trained
    // n-gram LM — the CCNet shape). The oracle retrains the identical
    // Laplace-smoothed model in SQL and replays every score, so the
    // count plumbing, smoothing denominator, and log/exp math all
    // hash-check. Uncapped vocabulary here (the fixture's is 31 tokens);
    // the maxVocab OOV path is spec-tested (top-K ties are not
    // oracle-stable by nature).
    // Blocklist / phrase-list matching via a REAL Aho-Corasick automaton
    // (one text pass regardless of pattern count — the only shape that
    // survives a thousands-of-phrases filter list at corpus scale; a
    // contains() loop is O(patterns × text)). The pattern set nests
    // ("an" inside "scan", "in" inside "join") so overlapping and nested
    // occurrences are exercised; the oracle recounts every pattern's
    // occurrence positions by brute force in SQL — a missed output link,
    // wrong fail transition, or off-by-one start position hash-fails.
    "t15_blocklist_match" -> Q(
      (s, d) => {
        val st = _root_.graft.functions.multi_match_stats(
          col("text"), blocklistPatterns)
        docs(s, d)
          .select(col("doc_id"), st.as("st"))
          .select(col("doc_id"),
            col("st.n_matches").as("n_matches"),
            col("st.n_patterns").as("n_patterns"),
            col("st.first_pos").as("first_pos"))
          .orderBy("doc_id")
      },
      Some(blocklistOracle)),

    // HTML → text extraction (the web-corpus preprocessing step): each
    // document renders into a REAL html page (escaped body text, title,
    // style/script elements, a comment, and an entity-bearing paragraph),
    // and the HtmlText scanner extracts the text back. The oracle knows
    // the expected extraction closed-form: title words + the original
    // text (whitespace-normalized; escaping round-trips) + the decoded
    // entity paragraph — a scanner that leaks script/style content,
    // misses an entity form, or splits words on the wrong boundaries
    // hash-fails.
    "t14_html_extract" -> Q(
      (s, d) => {
        val esc = replace(replace(replace(col("text"),
          lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
        val html = concat(
          lit("<html><head><title>doc "), col("doc_id").cast("string"),
          lit("</title><style>p{margin:0;}</style></head>" +
            "<body><!-- nav chrome --><p>"),
          esc,
          lit("</p><script>if(1<2){var x='&amp;&lt;ignored';}</script>" +
            "<p>score &amp; rank &lt; 10 &#65;&#x42;</p></body></html>"))
        docs(s, d)
          .select(col("doc_id"),
            _root_.graft.functions.html_to_text(html).as("extracted"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
          trim(regexp_replace('doc ' || CAST(doc_id AS VARCHAR) || ' ' ||
            text || ' score & rank < 10 AB', '\s+', ' ', 'g')) AS extracted
        FROM documents ORDER BY doc_id""")),

    "t11_lm_perplexity" -> Q(
      (s, d) => lmPerplexity(docs(s, d), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""
        WITH t AS (
          SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
          FROM documents),
        bg AS (
          SELECT doc_id, unnest(list_transform(range(1, len(toks) - 2 + 2),
            i -> array_to_string(toks[i:i+1], ' '))) AS bg
          FROM t WHERE len(toks) >= 2),
        model AS (
          SELECT bg, count(*) AS c12, string_split(bg, ' ')[1] AS w1
          FROM bg GROUP BY bg),
        uni AS (SELECT w1, sum(c12) AS c1 FROM model GROUP BY w1),
        v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vsz
              FROM (SELECT unnest(toks) AS w FROM t)),
        p AS (
          SELECT m.bg, (m.c12 + 1.0) / (u.c1 + v.vsz) AS p
          FROM model m JOIN uni u ON m.w1 = u.w1 CROSS JOIN v)
        SELECT b.doc_id, count(*) AS n_bigrams,
          round(avg(-ln(p.p)), 6) AS nll,
          round(exp(avg(-ln(p.p))), 4) AS ppl
        FROM bg b JOIN p ON b.bg = p.bg
        GROUP BY b.doc_id ORDER BY b.doc_id""")),

    // Language-ID heuristic: argmax of marker-set hit counts (deterministic
    // tie-break by category name order en > sql > data > stream).
    "t01_lang_id" -> Q(
      (s, d) => {
        val hits = markers.toSeq.sortBy(_._1).map { case (k, ws) =>
          markerHits(col("t"), ws).as(s"h_$k")
        }
        docs(s, d)
          .select(col("doc_id"), Dedup.tokens(col("text")).as("t"))
          .select(col("doc_id") +: hits: _*)
          .withColumn("predicted",
            when(col("h_en") >= greatest(col("h_sql"), col("h_data"), col("h_stream")), "en")
              .when(col("h_sql") >= greatest(col("h_data"), col("h_stream")), "sql")
              .when(col("h_data") >= col("h_stream"), "data")
              .otherwise("stream"))
          .groupBy("predicted")
          .agg(count(lit(1)).as("n"),
            sum(col("h_en") + col("h_sql") + col("h_data") + col("h_stream"))
              .cast("long").as("total_hits"))
          .orderBy("predicted")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
          FROM documents),
        hits AS (
          SELECT doc_id,
            CAST(len(list_filter(t, x -> x IN ('row','column','table','value','data'))) AS INT) AS h_data,
            CAST(len(list_filter(t, x -> x IN ('the','a','fast','slow'))) AS INT) AS h_en,
            CAST(len(list_filter(t, x -> x IN ('join','filter','scan','agg','query','sort'))) AS INT) AS h_sql,
            CAST(len(list_filter(t, x -> x IN ('stream','window','batch','merge'))) AS INT) AS h_stream
          FROM toks)
        SELECT CASE
            WHEN h_en >= greatest(h_sql, h_data, h_stream) THEN 'en'
            WHEN h_sql >= greatest(h_data, h_stream) THEN 'sql'
            WHEN h_data >= h_stream THEN 'data'
            ELSE 'stream' END AS predicted,
          count(*) AS n,
          CAST(sum(h_en + h_sql + h_data + h_stream) AS BIGINT) AS total_hits
        FROM hits GROUP BY 1 ORDER BY predicted""")),

    // Quality scoring: length, token stats, punctuation/whitespace ratios,
    // stopword ratio, composite keep/drop flag.
    "t02_quality_score" -> Q(
      (s, d) => {
        val toks = col("t")
        docs(s, d)
          .select(col("doc_id"), col("text"), Dedup.tokens(col("text")).as("t"))
          .select(
          col("doc_id"),
          length(col("text")).as("n_chars_m"),
          size(toks).as("n_tokens"),
          round(length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double") /
            length(col("text")).cast("double"), 6).as("alpha_ratio"),
          round(size(filter(toks, t => t.isInCollection(Seq("the", "a", "and", "of"))))
            .cast("double") / size(toks).cast("double"), 6).as("stopword_ratio"),
          round(aggregate(transform(toks, t => length(t)), lit(0),
            (acc, x) => acc + x).cast("double") / size(toks).cast("double"), 6)
            .as("avg_token_len"))
          .withColumn("keep",
            col("n_tokens") >= 10 && col("alpha_ratio") > 0.6 && col("avg_token_len") < 12)
          .orderBy("doc_id")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, text,
            string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
          FROM documents)
        SELECT doc_id,
          length(text) AS n_chars_m,
          CAST(len(t) AS INT) AS n_tokens,
          round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) /
            CAST(length(text) AS DOUBLE), 6) AS alpha_ratio,
          round(CAST(len(list_filter(t, x -> x IN ('the','a','and','of'))) AS DOUBLE) /
            CAST(len(t) AS DOUBLE), 6) AS stopword_ratio,
          round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) /
            CAST(len(t) AS DOUBLE), 6) AS avg_token_len,
          (len(t) >= 10 AND
            round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) /
              CAST(length(text) AS DOUBLE), 6) > 0.6 AND
            round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) /
              CAST(len(t) AS DOUBLE), 6) < 12) AS keep
        FROM toks ORDER BY doc_id""")),

    // Token counting: whitespace tokens + BPE-ish regex tokens (word pieces
    // and standalone punctuation) + chars-per-token.
    "t03_token_count" -> Q(
      (s, d) => docs(s, d).select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\\\s]', 0)"))
          .as("re_tokens"),
        round(length(col("text")).cast("double") /
          size(split(trim(col("text")), "\\s+")).cast("double"), 6).as("chars_per_tok"))
        .orderBy("doc_id"),
      Some("""
        SELECT doc_id,
          CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS ws_tokens,
          CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS INT) AS re_tokens,
          round(CAST(length(text) AS DOUBLE) /
            CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE), 6) AS chars_per_tok
        FROM documents ORDER BY doc_id""")),

    // Character-level Shannon entropy — a perplexity proxy for quality
    // filtering (gibberish/binary-noise docs score far from prose). The
    // ArrayEntropy kernel sums over the distinct chars in sorted order, and
    // the oracle sorts its distinct-char list too, so the double summation
    // order is identical → hash-exact.
    "t05_char_entropy" -> Q(
      (s, d) => docs(s, d)
        .select(col("doc_id"), split(col("text"), "").as("chars"))
        .select(col("doc_id"), size(col("chars")).cast("long").as("n_chars"),
          round(org.apache.spark.sql.GraftBridge.column(graft.functions.ArrayEntropy(
            org.apache.spark.sql.GraftBridge.expression(col("chars")))), 6).as("entropy"))
        .orderBy("doc_id"),
      Some("""
        WITH c AS (
          SELECT doc_id,
            list_transform(range(1, length(text) + 1),
              i -> substr(text, CAST(i AS INT), 1)) AS chars
          FROM documents),
        d AS (
          SELECT doc_id, chars, list_sort(list_distinct(chars)) AS dl,
            CAST(len(chars) AS DOUBLE) AS n
          FROM c)
        SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
          round(0.0 - list_sum(list_transform(dl, ch ->
            (len(list_filter(chars, x -> x = ch)) / n) *
            log2(len(list_filter(chars, x -> x = ch)) / n))), 6) AS entropy
        FROM d ORDER BY doc_id""")),

    // PII detection + redaction — the scrubbing stage of a training-data
    // pipeline. The fixture text is synthetic and PII-free, so the query
    // plants deterministic PII (email / IPv4 / phone derived from doc_id)
    // and then detects and redacts it: counts per category plus the
    // scrubbed length, with a postcondition column proving no email
    // survives the scrub. Conservative character-class regexes (identical
    // semantics in Java regex and DuckDB's RE2). Map-only at scale.
    "t07_pii_scrub" -> Q(
      (s, d) => {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ip = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
        val phone = "[0-9]{3}-[0-9]{4,6}"
        // SQL string literals eat one level of backslash escaping, the
        // DataFrame-API regexp_replace takes the pattern verbatim
        def rxAll(c: String, rx: String) =
          expr(s"regexp_extract_all($c, '${rx.replace("\\", "\\\\")}', 0)")
        docs(s, d)
          .select(col("doc_id"),
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@example.com from 10.0."), (col("doc_id") % 256),
              lit(".7 phone 555-01"), (col("doc_id") % 10),
              (col("doc_id") % 7)).as("raw"))
          .select(col("doc_id"),
            size(rxAll("raw", email)).as("n_emails"),
            size(rxAll("raw", ip)).as("n_ips"),
            size(rxAll("raw", phone)).as("n_phones"),
            regexp_replace(regexp_replace(regexp_replace(col("raw"),
              email, "<EMAIL>"), ip, "<IP>"), phone, "<PHONE>").as("scrubbed"))
          .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
            length(col("scrubbed")).as("len_scrubbed"),
            (size(rxAll("scrubbed", email)) === 0).as("clean"))
          .orderBy("doc_id")
      },
      Some("""
        WITH raw AS (
          SELECT doc_id,
            text || ' contact user' || doc_id || '@example.com from 10.0.' ||
              (doc_id % 256) || '.7 phone 555-01' || (doc_id % 10) ||
              (doc_id % 7) AS raw
          FROM documents),
        det AS (
          SELECT doc_id, raw,
            CAST(len(regexp_extract_all(raw,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
            CAST(len(regexp_extract_all(raw,
              '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS INT) AS n_ips,
            CAST(len(regexp_extract_all(raw, '[0-9]{3}-[0-9]{4,6}')) AS INT) AS n_phones,
            regexp_replace(regexp_replace(regexp_replace(raw,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
              '[0-9]{3}-[0-9]{4,6}', '<PHONE>', 'g') AS scrubbed
          FROM raw)
        SELECT doc_id, n_emails, n_ips, n_phones,
          length(scrubbed) AS len_scrubbed,
          len(regexp_extract_all(scrubbed,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) = 0 AS clean
        FROM det ORDER BY doc_id""")),

    // Repetition signals (the Gopher-style quality filters): type-token
    // ratio, most-frequent-token share, distinct-bigram fraction. High
    // repetition = boilerplate/spam. Pure expression trees (map-only);
    // distinct lists sorted so every fold order is engine-identical.
    "t08_repetition" -> Q(
      (s, d) => docs(s, d)
        .select(col("doc_id"), Dedup.tokens(col("text")).as("t"))
        .select(col("doc_id"), col("t"),
          sort_array(array_distinct(col("t"))).as("dt"))
        .select(col("doc_id"), col("t"), col("dt"),
          Dedup.shinglesOf(col("t"), 2).as("bg"))
        .select(col("doc_id"),
          size(col("t")).as("n_tokens"),
          round(size(col("dt")).cast("double") /
            size(col("t")).cast("double"), 6).as("type_token_ratio"),
          round(expr("array_max(transform(dt, w -> size(filter(t, x -> x = w))))")
            .cast("double") / size(col("t")).cast("double"), 6)
            .as("top_token_share"),
          round(size(array_distinct(col("bg"))).cast("double") /
            size(col("bg")).cast("double"), 6).as("distinct_bigram_ratio"))
        .orderBy("doc_id"),
      Some("""
        WITH toks AS (
          SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
          FROM documents),
        w AS (
          SELECT doc_id, t, list_sort(list_distinct(t)) AS dt,
            list_transform(range(1, len(t)),
              i -> array_to_string(t[i:i+1], ' ')) AS bg
          FROM toks)
        SELECT doc_id,
          CAST(len(t) AS INT) AS n_tokens,
          round(CAST(len(dt) AS DOUBLE) / CAST(len(t) AS DOUBLE), 6)
            AS type_token_ratio,
          round(CAST(list_max(list_transform(dt,
              w2 -> len(list_filter(t, x -> x = w2)))) AS DOUBLE) /
            CAST(len(t) AS DOUBLE), 6) AS top_token_share,
          round(CAST(len(list_distinct(bg)) AS DOUBLE) /
            CAST(len(bg) AS DOUBLE), 6) AS distinct_bigram_ratio
        FROM w ORDER BY doc_id""")),

    // Stratified (class-balanced) sampling — the training-mix operation:
    // per-language fractions via sampleBy. Per-stratum populations are
    // hash-checked; the sampled size is pinned by a Bernoulli bound.
    "t06_stratified_sample" -> Q(
      (s, d) => {
        val fractions = Map("en" -> 0.5, "es" -> 0.25, "zh" -> 0.25)
        val sampled = docs(s, d)
          .stat.sampleBy("lang", fractions, seed = 42L)
          .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
        val totals = docs(s, d).filter(col("lang").isin(fractions.keys.toSeq: _*))
          .groupBy("lang").agg(count(lit(1)).as("n_total"))
        totals.join(sampled, Seq("lang"), "left")
          .select(col("lang"), col("n_total"),
            (coalesce(col("n_sampled"), lit(0L)) >=
              col("n_total") * when(col("lang") === "en", 0.25).otherwise(0.05) &&
             coalesce(col("n_sampled"), lit(0L)) <=
              col("n_total") * when(col("lang") === "en", 0.75).otherwise(0.50))
              .as("fraction_ok"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, count(*) AS n_total, true AS fraction_ok
        FROM documents WHERE lang IN ('en', 'es', 'zh')
        GROUP BY lang ORDER BY lang""")),

    // Sequence PACKING: concatenate documents (in id order, per shard)
    // into fixed token-budget training sequences — the packing pass of an
    // LM data pipeline. A doc belongs to the pack its START offset falls
    // in (floor(start/budget)); the doc straddling a boundary overflows
    // its pack by < one doc, the standard concat-then-chunk discipline.
    // Scale shape: shard = id % N keeps every window PARTITIONED (no
    // global sort/single-reducer cumsum — each shard packs independently
    // on its executor, which is exactly how a 100 TB corpus packs).
    "t09_sequence_pack" -> Q(
      (s, d) => sequencePack(docs(s, d), "doc_id", "text",
          budget = 256, shards = 8)
        .groupBy("shard", "pack")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum("n_tokens").cast("long").as("pack_tokens"))
        .orderBy("shard", "pack"),
      Some("""
        WITH t AS (
          SELECT doc_id, doc_id % 8 AS shard,
            len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS n_tokens
          FROM documents),
        o AS (
          SELECT shard, n_tokens,
            coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
          FROM t)
        SELECT shard, CAST(floor(start / 256) AS BIGINT) AS pack,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
        FROM o GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Mixture RESAMPLING: down-sample each class to hit target mixture
    // weights, bottlenecked by the scarcest class (scale = min over
    // classes of count/weight; class keep-rate = weight*scale/count, so
    // the bottleneck class keeps ~everything and the rest thin out to the
    // target proportions). Membership is a DETERMINISTIC md5-unit
    // threshold on the doc id — reproducible across runs/engines, no RNG
    // state — so the pass is one map stage plus two 5-row aggregates
    // (class counts broadcast back). The same discipline sets domain
    // mixtures (web/books/code) in LM training runs.
    "t10_mixture_resample" -> Q(
      (s, d) => {
        val weights = Map(
          "en" -> 0.40, "zh" -> 0.20, "de" -> 0.20, "es" -> 0.10, "fr" -> 0.10)
        mixtureResample(docs(s, d), "doc_id", "lang", weights)
          .orderBy("lang")
      },
      Some("""
        WITH w AS (
          SELECT lang, CAST(wt AS DOUBLE) AS wt FROM (VALUES
            ('en', 0.40), ('zh', 0.20), ('de', 0.20), ('es', 0.10), ('fr', 0.10)) v(lang, wt)),
        c AS (
          SELECT lang, count(*) AS n_total FROM documents
          WHERE lang IN (SELECT lang FROM w) GROUP BY lang),
        s AS (SELECT min(n_total / wt) AS scale FROM c JOIN w USING (lang)),
        r AS (
          SELECT c.lang, n_total,
            least(1.0, wt * (SELECT scale FROM s) / n_total) AS rate
          FROM c JOIN w USING (lang)),
        k AS (
          SELECT d.lang, d.doc_id
          FROM documents d JOIN r ON d.lang = r.lang
          WHERE CAST(('0x' || substr(md5('0:' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS UBIGINT)::BIGINT
            < rate * 1152921504606846976.0)
        SELECT r.lang, CAST(n_total AS BIGINT) AS n_total,
          CAST(round(rate, 6) AS DOUBLE) AS rate,
          CAST(count(k.doc_id) AS BIGINT) AS n_kept,
          CAST(coalesce(sum(k.doc_id), 0) AS BIGINT) AS kept_id_sum
        FROM r LEFT JOIN k ON r.lang = k.lang
        GROUP BY r.lang, n_total, rate ORDER BY r.lang""")),

    // Document fingerprinting: md5 content fingerprint + cheap rolling-hash
    // style prefix/suffix fingerprints for fast prefiltering.
    "t04_fingerprint" -> Q(
      (s, d) => docs(s, d).select(
        col("doc_id"),
        Dedup.fingerprint(col("text")).as("fp"),
        md5(substring(norm(col("text")), 1, 64).cast("binary")).as("fp_prefix"),
        md5(reverse(substring(reverse(norm(col("text"))), 1, 64)).cast("binary"))
          .as("fp_suffix"))
        .orderBy("doc_id"),
      Some("""
        WITH n AS (
          SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
          FROM documents)
        SELECT doc_id,
          md5(nt) AS fp,
          md5(substr(nt, 1, 64)) AS fp_prefix,
          md5(CASE WHEN length(nt) <= 64 THEN nt
                   ELSE substr(nt, length(nt) - 63, 64) END) AS fp_suffix
        FROM n ORDER BY doc_id"""))
  )
}
