package graft.pipeline

import graft.{Q, Tables => T}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines (SURVEY.md §2.10 L4 + north
  * star): token counting, quality scoring, n-gram language ID, document
  * fingerprinting. Everything is per-row Catalyst expressions — Spark's
  * own split/slice/array fns plus the byte-pass natives of
  * [[graft.functions.TextScan]] (normalization, language ID, shingle
  * hashes) — embarrassingly parallel, no shuffle except the final
  * aggregates; safe at 100 TB.
  */
object TextAnalysis {
  import Dedup.{normText, shingles}

  /** Whitespace tokens of normalized text. */
  def tokens(c: Column): Column = split(normText(c), " ")

  /** Stopword lists for the language-ID heuristic (tiny on purpose — the
    * point is the operator shape: per-language evidence → argmax).
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "on", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"))

  /** Predicted language: argmax of stopword hits over [[tokens]]
    * (duplicates counted); ties break to the lexicographically greatest
    * code, as the struct max `array_max(array(struct(hits, code)...)).code`
    * does — deterministic. One native byte pass
    * ([[graft.functions.TextScan.langId]]): the per-list `filter(toks, t ->
    * array_contains(list, t))` lambdas kept the gate out of whole-stage
    * codegen.
    */
  def langId(c: Column): Column =
    graft.functions.TextScan.langId(c, stopwords.toSeq)

  /** Bottom-k document fingerprint: the k smallest 60-bit md5 shingle
    * hashes (a deterministic min-wise sketch; two docs share shingles iff
    * their sketches overlap). Native one-pass hash array — HOF md5 lambdas
    * are interpreted per element.
    */
  def fingerprint(c: Column, k: Int = 8): Column = {
    slice(array_sort(graft.functions.TextScan.shingleHashes(c)), 1, k)
  }

  /** Corpus-trained bigram language-model quality score (the CCNet/
    * fastText-era shape: score text by how expected its token sequences are
    * under a reference model; low scores → gibberish/garbled docs). The
    * "model" is document frequencies from the corpus itself: for each
    * distinct doc bigram (w1 w2), lp = ln(df(w1 w2) / df(w1)) ≤ 0, and the
    * doc score is the exact-integer mean of lp in micro-units (engine-
    * portable: integer counts, one IEEE ln rounded to micro-units, integer
    * tie-safe mean — no order-dependent double summation).
    *
    * Scale shape: two narrow DF aggregations (unigram, bigram — map-side
    * combine), two equi-joins on short string keys, one per-doc agg. The
    * native [[graft.functions.ShingleStrings]] builds distinct n-grams in
    * one pass.
    */
  def lmScore(docs: DataFrame): DataFrame = {
    import graft.pipeline.Dedup.shingles
    val uni = docs.select(col("doc_id"), explode(shingles(col("text"), 1)).as("w1"))
    val df1 = uni.groupBy("w1").agg(count(lit(1)).as("c1"))
    val bg = docs.select(col("doc_id"), explode(shingles(col("text"), 2)).as("bg"))
    val df2 = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
    val lp = bg.join(df2, Seq("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(df1, Seq("w1"))
      .withColumn("lpu",
        round(log(col("c2").cast("double") / col("c1").cast("double")) * 1e6, 0)
          .cast("long"))
    lp.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lpu")).as("s"))
      .withColumn("rr", (lit(2) * abs(col("s")) + col("n_bigrams"))
        .divide(lit(2) * col("n_bigrams")).cast("long"))
      .select(col("doc_id"), col("n_bigrams"),
        when(col("s") >= 0, col("rr")).otherwise(-col("rr")).as("avg_lp_micro"))
  }

  /** Context-window chunking — the tokenize-and-window step before training
    * on fixed context lengths: overlapping token windows of `maxTokens`
    * with `overlap` tokens carried across boundaries (stride =
    * maxTokens − overlap). Docs at or under `maxTokens` yield one window.
    * Emits (doc_id, chunk_idx, chunk_tokens, chunk_md5) — the md5 proves
    * byte-exact window extraction without shipping window text.
    *
    * Scale shape: per-row `explode(sequence)` over integer window math —
    * no shuffle at all; a 100 TB corpus chunks in a single map stage.
    */
  def splitIntoWindows(docs: DataFrame, maxTokens: Int = 64,
      overlap: Int = 8): DataFrame = {
    require(overlap < maxTokens, "overlap must be smaller than the window")
    val stride = maxTokens - overlap
    // windows beyond the first only if tokens remain past the first window:
    // 1 + ceil((n - maxTokens) / stride) via (a + stride - 1) div stride
    val extra = greatest(lit(0),
      expr(s"(size(__toks) - $maxTokens + $stride - 1) div $stride"))
    docs
      .withColumn("__toks", tokens(col("text")))
      .withColumn("chunk_idx", explode(sequence(lit(0), extra)))
      .withColumn("__w", slice(col("__toks"),
        col("chunk_idx") * stride + 1, lit(maxTokens)))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("__w")).as("chunk_tokens"),
        md5(concat_ws(" ", col("__w"))).as("chunk_md5"))
  }

  val queries: Map[String, Q] = Map(
    // L4e: bigram-LM quality score (oracle hash-checked — integer-exact).
    "q_text_lm" -> ((s, dir) => lmScore(T.documents(s, dir))),

    // Context-window chunking (oracle hash-checked): 64-token windows with
    // 8-token overlap; every window md5 re-derived by DuckDB.
    "q_text_windows" -> ((s, dir) =>
      splitIntoWindows(T.documents(s, dir))),

    // Token-entropy quality signal (oracle hash-checked): Shannon entropy
    // of each doc's token distribution, H = ln(n) − (Σ c·ln c)/n, in
    // integer MICRO-nats — gibberish scores high, boilerplate scores low; a
    // third quality axis next to the repetition ratios and the bigram LM.
    // Engine-portable by the lmScore recipe: each ln is rounded to
    // micro-units BEFORE summation (integer sums are order-independent;
    // a double Σ c·ln c would drift by summation order and never
    // hash-match). Shape: one explode + (doc, word) count + per-doc agg —
    // two narrow shuffles, the same layout as tf-idf (per-row HOF counting
    // would be O(len²) per doc).
    "q_text_entropy" -> ((s, dir) => {
      val tf = T.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      tf.withColumn("wlu",
          round(log(col("c").cast("double")) * 1e6, 0).cast("long"))
        .groupBy("doc_id")
        .agg(sum("c").as("n"), count(lit(1)).as("n_distinct"),
          sum(col("c") * col("wlu")).as("s"))
        .select(col("doc_id"), col("n_distinct").cast("long").as("n_distinct"),
          (round(log(col("n").cast("double")) * 1e6, 0).cast("long") -
            expr("s div n")).as("entropy_micronats"))
    }),

    // L4: corpus stats by (lang, source) — exact ratios via int sums.
    "q_text_stats" -> ((s, dir) => {
      val d = T.documents(s, dir)
        .withColumn("n_tokens", size(tokens(col("text"))))
        .withColumn("n_chars_actual", length(col("text")))
      d.groupBy("lang", "source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("sum_tokens"),
          (sum(col("n_tokens").cast("long")).cast("double") /
            count(lit(1)).cast("double")).as("avg_tokens"),
          max(col("n_chars_actual")).as("max_chars"),
          sum(col("n_chars").cast("long")).as("sum_chars_meta"))
    }),

    // Per-doc quality scoring: punctuation ratio, stopword ratio, mean word
    // length — all exact integer ratios, oracle-checked. One fused pass over
    // the text (TextStatsOne) instead of 4 HOF traversals; the ratios are
    // arithmetically identical to the split-based oracle definitions.
    "q_text_quality" -> ((s, dir) => {
      T.documents(s, dir)
        .select(col("doc_id"), length(col("text")).as("len"),
          graft.functions.TextHashes.textStatsOne(col("text"), stopwords("en"))
            .as("st"))
        .select(
          col("doc_id"),
          col("st.n_tokens").as("n_tokens"),
          round(col("st.punct").cast("double") / col("len").cast("double"), 6)
            .as("punct_ratio"),
          round(col("st.stop_hits").cast("double") /
            col("st.n_tokens").cast("double"), 6).as("stop_ratio"),
          round(col("st.word_chars").cast("double") /
            col("st.n_tokens").cast("double"), 6).as("mean_word_len"))
    }),

    // BPE-ish regex token classes (letters / digits / other), oracle-checked.
    "q_text_tokens" -> ((s, dir) => {
      T.documents(s, dir).select(
        col("doc_id"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("n_word"),
        size(expr("regexp_extract_all(text, '[0-9]+', 0)")).as("n_num"),
        size(expr("regexp_extract_all(text, '[^a-zA-Z0-9\\\\s]', 0)")).as("n_other"))
    }),

    // Language-ID heuristic vs the labeled lang column — deterministic
    // stopword-hits argmax (ties break to the lexicographically greatest
    // code), oracle-checked via the equivalent CASE cascade.
    "q_text_langid" -> ((s, dir) => {
      T.documents(s, dir)
        .withColumn("predicted", langId(col("text")))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
    }),

    // Bottom-16 fingerprints (oracle hash-checked): twice the sketch of
    // `q_text_fingerprint_md5`, so overlap estimates between documents have
    // half the variance. The sketch is emitted as a '|'-joined string, not
    // a raw array, so the driver's pandas-based rows check can sort the
    // column.
    "q_text_fingerprint" -> ((s, dir) => {
      T.documents(s, dir)
        .select(col("doc_id"),
          array_join(fingerprint(col("text"), 16).cast("array<string>"), "|").as("fp"))
    }),

    // Bottom-8 fingerprint over the 60-bit md5 bridge (oracle
    // hash-checked): DuckDB reproduces every sketch bit-for-bit.
    "q_text_fingerprint_md5" -> ((s, dir) => {
      T.documents(s, dir)
        .select(col("doc_id"),
          array_join(fingerprint(col("text")).cast("array<string>"), "|").as("fp"))
    }),

    // Repetition / diversity filter (Gopher-style quality gate): distinct
    // unigram and bigram ratios per doc, plus the keep decision at a 0.3
    // unigram-diversity threshold. Per-row expressions + no shuffle — the
    // filter a 100 TB corpus actually runs before training.
    "q_text_repetition" -> ((s, dir) => {
      val nT = col("st.n_tokens")
      val uniRatio = round(col("st.distinct_tokens").cast("double") /
        nT.cast("double"), 6)
      T.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.TextHashes.textStatsOne(col("text"), Nil).as("st"))
        .select(
          col("doc_id"),
          nT.as("n_tokens"),
          uniRatio.as("uniq_unigram_ratio"),
          round(when(nT > 1, col("st.distinct_bigrams").cast("double") /
            (nT - 1).cast("double")).otherwise(1.0), 6).as("uniq_bigram_ratio"),
          (uniRatio >= 0.3).cast("int").as("keep"))
    }),

    // TF-IDF: classic corpus weighting — term frequency per (doc, word),
    // document frequency per word, idf = ln(N/df), emit each doc's top
    // term. Two narrow shuffles ((doc,word) then (word)) plus a broadcast
    // single-row N; ranking uses the ROUNDED score so cross-engine ln()
    // last-ulp drift can't reorder ties.
    "q_text_tfidf" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      val toks = docs.select(col("doc_id"),
        explode(tokens(col("text"))).as("word"))
      val tf = toks.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val scored = tf.join(dfreq, "word").crossJoin(broadcast(n))
        .withColumn("tfidf", round(col("tf").cast("double") *
          log(col("n").cast("double") / col("df").cast("double")), 6))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("word"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("word").as("top_term"), col("tfidf"))
    }),

    // Gopher-style quality GATE: the rule-composition step on top of
    // q_text_quality's metrics — each document either keeps or carries the
    // ordered list of rules it failed (word-count bounds, mean-word-length
    // bounds, stopword floor, punctuation ceiling — the Gopher/C4 recipe
    // shape with thresholds sized to BIND on this corpus). Every
    // comparison is an integer cross-multiplication (word_chars < 4·n_tok
    // instead of wc/nt < 4.0), so the verdicts hash-match cross-engine
    // with no float seam; the stats come from the one-pass TextStatsOne
    // expression, so the gate is one codegen'd projection — the per-row
    // pre-filter a 100 TB curation pass runs FIRST, before anything
    // pairwise.
    "q_text_gate" -> ((s, dir) => {
      val st = graft.functions.TextHashes
        .textStatsOne(col("text"), stopwords("en"))
      T.documents(s, dir)
        .select(col("doc_id"), length(col("text")).as("len"), st.as("st"))
        .select(col("doc_id"),
          concat(
            when(col("st.n_tokens") < 30, lit("few_words;")).otherwise(""),
            when(col("st.n_tokens") > 10000, lit("many_words;")).otherwise(""),
            when(col("st.word_chars") < col("st.n_tokens") * 4,
              lit("short_words;")).otherwise(""),
            when(col("st.word_chars") > col("st.n_tokens") * 10,
              lit("long_words;")).otherwise(""),
            when(col("st.stop_hits") * 20 < col("st.n_tokens"),
              lit("low_stopwords;")).otherwise(""),
            when(col("st.punct") * 10 > col("len"),
              lit("high_punct;")).otherwise("")).as("fail_reasons"))
        .withColumn("keep", col("fail_reasons") === "")
    }),

    // c-TF-IDF (the BERTopic class-TF-IDF): per SOURCE, the terms most
    // distinctive of that source vs the rest of the corpus — the standard
    // cluster/source labeling step of corpus triage. tfn = ctf/len_s
    // (within-class rate), idf = ln(1 + A/f_w) with A = average class
    // token count and f_w = corpus-wide frequency; both factors
    // micro-unit-rounded before the integer product (the BM25 recipe), so
    // the ranking hash-matches cross-engine. One corpus explode, then
    // narrow class-level aggregations — nothing pairwise.
    "q_text_ctfidf" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      val toks = docs.select(col("source"), explode(tokens(col("text"))).as("word"))
      val ctf = toks.groupBy("source", "word").agg(count(lit(1)).as("ctf"))
      val lens = ctf.groupBy("source").agg(sum("ctf").as("len_s"))
      val fw = ctf.groupBy("word").agg(sum("ctf").as("f_w"))
      val tot = lens.agg(sum("len_s").as("sl"), count(lit(1)).as("c"))
      val scored = ctf.join(broadcast(lens), "source").join(fw, "word")
        .crossJoin(broadcast(tot))
        .withColumn("tfn_u", round(col("ctf").cast("double") /
          col("len_s").cast("double") * lit(1e6), 0).cast("long"))
        .withColumn("idf_u", round(log(lit(1.0) +
          (col("sl").cast("double") / col("c").cast("double")) /
            col("f_w").cast("double")) * lit(1e6), 0).cast("long"))
        .withColumn("score_u", col("tfn_u") * col("idf_u"))
      val w = Window.partitionBy("source")
        .orderBy(col("score_u").desc, col("word"))
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .select(col("source"), col("rank"), col("word"), col("score_u"))
    }),

    // PII-style scrubbing: mask emails and long digit runs before training —
    // the standard redaction pass of a corpus pipeline. Output is the md5 of
    // the redacted text (small, still proves byte-exact transform parity)
    // plus the match count.
    "q_text_redact" -> ((s, dir) => {
      val redacted = regexp_replace(
        regexp_replace(col("text"),
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "[0-9]{4,}", "<NUM>")
      T.documents(s, dir).select(
        col("doc_id"),
        md5(redacted).as("redacted_md5"),
        (size(expr("regexp_extract_all(text, '[0-9]{4,}', 0)")) +
          size(expr("regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\\\.[A-Za-z]{2,}', 0)")))
          .as("n_redacted"))
    }),

    // Corpus-level top-20 words by frequency (tie-break on the word) — the
    // classic vocabulary sanity check: one explode + one agg shuffle + a
    // TakeOrdered, no global sort of the full word list.
    "q_text_topwords" -> ((s, dir) => {
      T.documents(s, dir)
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20)
    }),

    // Scale twin of q_text_topwords (oracle hash-checked against the EXACT
    // top-20): top words via Spark 4's mergeable ApproxTopK (DataSketches
    // frequent-items) — per-source PARTIAL sketches combined at read time,
    // the same pre-aggregated rollup shape as the E61 HLL pattern. A
    // frequent-items sketch is EXACT while tracked items ≤ capacity, and
    // this corpus's per-source vocabulary (~31 words) sits far below the
    // 1024-slot sketch, so the full estimate re-ranked with the exact
    // path's deterministic (n DESC, word) rule IS the exact top-20 — the
    // oracle is q_text_topwords' SQL verbatim. Above capacity (real-corpus
    // regime) the estimate degrades per the sketch's εN guarantee and the
    // named unit keeps the bound. At 100 TB the per-shard sketches are
    // tiny and materializable; the re-rank touches ≤1024 sketch rows,
    // never raw text.
    "q_text_topwords_sketch" -> ((s, dir) => {
      val words = T.documents(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("word"))
      words
        .groupBy("source")
        .agg(expr("approx_top_k_accumulate(word, 1024)").as("sk"))
        .agg(expr("approx_top_k_estimate(approx_top_k_combine(sk), 1024)")
          .as("est"))
        .select(explode(col("est")).as("e"))
        .select(col("e.item").as("word"), col("e.count").as("n"))
        .orderBy(col("n").desc, col("word")).limit(20)
    }),

    // Data-profiling / quality-gate stats over the corpus: null rates,
    // domain sizes, length bounds — the validation step of a training
    // pipeline (one pass, all exact values).
    "q_profile" -> ((s, dir) => {
      T.documents(s, dir).agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("text").isNull || length(col("text")) === 0, 1)
          .otherwise(0)).as("n_empty_text"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        min(length(col("text"))).as("min_len"),
        max(length(col("text"))).as("max_len"),
        sum(when(length(col("text")) =!= col("n_chars"), 1).otherwise(0))
          .as("n_len_mismatch"))
    })
  )

  /** [[fingerprint]] with bottom-`k` per document. */
  private def fingerprintSql(k: Int): String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) < 3 THEN []
      |         ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |           i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) END AS sh
      |  FROM t)
      |SELECT doc_id,
      |  array_to_string(list_slice(list_sort(list_transform(sh,
      |    s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))), 1, $k), '|') AS fp
      |FROM sh ORDER BY ALL NULLS FIRST""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_text_fingerprint" -> fingerprintSql(16),
    "q_text_fingerprint_md5" -> fingerprintSql(8),
    "q_text_lm" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(list_distinct(toks)) AS w1 FROM t),
        |df1 AS (SELECT w1, count(*) AS c1 FROM u GROUP BY 1),
        |b AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(toks) < 2 THEN []
        |         ELSE list_distinct(list_transform(generate_series(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i + 1])) END) AS bg
        |  FROM t),
        |df2 AS (SELECT bg, count(*) AS c2 FROM b GROUP BY 1),
        |lp AS (
        |  SELECT doc_id,
        |    CAST(round(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)) * 1000000, 0) AS BIGINT) AS lpu
        |  FROM b
        |  JOIN df2 USING (bg)
        |  JOIN df1 ON split_part(bg, ' ', 1) = df1.w1),
        |a AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(lpu) AS BIGINT) AS s
        |  FROM lp GROUP BY 1),
        |r AS (SELECT *, (2 * abs(s) + n_bigrams) // (2 * n_bigrams) AS rr FROM a)
        |SELECT doc_id, n_bigrams,
        |  CAST(CASE WHEN s >= 0 THEN rr ELSE -rr END AS BIGINT) AS avg_lp_micro
        |FROM r ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_text_stats" ->
      """WITH d AS (
        |  SELECT lang, source, n_chars, length(text) AS n_chars_actual,
        |    len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS n_tokens
        |  FROM documents)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(n_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_tokens,
        |  CAST(max(n_chars_actual) AS INTEGER) AS max_chars,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars_meta
        |FROM d GROUP BY 1, 2 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS INTEGER) AS n_tokens,
        |  round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) /
        |        CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
        |  round(CAST(len(list_filter(toks, x -> list_contains(
        |      ['the','a','of','and','to','in','is','it','on','for'], x))) AS DOUBLE) /
        |        CAST(len(toks) AS DOUBLE), 6) AS stop_ratio,
        |  round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) /
        |        CAST(len(toks) AS DOUBLE), 6) AS mean_word_len
        |FROM t ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_profile" ->
      """SELECT count(*) AS n_rows,
        |  CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_text,
        |  count(DISTINCT lang) AS n_langs,
        |  count(DISTINCT source) AS n_sources,
        |  CAST(min(length(text)) AS INTEGER) AS min_len,
        |  CAST(max(length(text)) AS INTEGER) AS max_len,
        |  CAST(SUM(CASE WHEN length(text) != n_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_len_mismatch
        |FROM documents""".stripMargin,
    "q_text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |    round(CAST(len(list_distinct(toks)) AS DOUBLE) /
        |          CAST(len(toks) AS DOUBLE), 6) AS uniq_unigram_ratio,
        |    CASE WHEN len(toks) > 1 THEN
        |      round(CAST(len(list_distinct(list_transform(
        |          generate_series(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i + 1]))) AS DOUBLE) /
        |        CAST(len(toks) - 1 AS DOUBLE), 6)
        |    ELSE 1.0 END AS uniq_bigram_ratio
        |  FROM t)
        |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        |  uniq_unigram_ratio, uniq_bigram_ratio,
        |  CAST(CASE WHEN uniq_unigram_ratio >= 0.3 THEN 1 ELSE 0 END AS INTEGER) AS keep
        |FROM m ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_text_windows" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0,
        |      greatest(0, (len(toks) - 64 + 56 - 1) // 56))) AS chunk_idx
        |  FROM t)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(len(list_slice(toks, chunk_idx * 56 + 1, chunk_idx * 56 + 64)) AS INTEGER) AS chunk_tokens,
        |  md5(array_to_string(list_slice(toks, chunk_idx * 56 + 1, chunk_idx * 56 + 64), ' ')) AS chunk_md5
        |FROM w ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_text_entropy" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
        |wl AS (SELECT doc_id, c,
        |         CAST(round(ln(CAST(c AS DOUBLE)) * 1e6, 0) AS BIGINT) AS wlu
        |       FROM tf),
        |d AS (SELECT doc_id, SUM(c) AS n, CAST(count(*) AS BIGINT) AS n_distinct,
        |        SUM(c * wlu) AS s
        |      FROM wl GROUP BY 1)
        |SELECT doc_id, n_distinct,
        |  CAST(CAST(round(ln(CAST(n AS DOUBLE)) * 1e6, 0) AS BIGINT) - (s // n) AS BIGINT) AS entropy_micronats
        |FROM d ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, word,
        |    round(CAST(tf AS DOUBLE) * ln(CAST(nn.n AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (word) CROSS JOIN nn),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn
        |  FROM scored)
        |SELECT doc_id, word AS top_term, tfidf FROM ranked WHERE rn = 1
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_text_gate" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    len(toks) AS nt,
        |    list_sum(list_transform(toks, x -> length(x))) AS wc,
        |    len(list_filter(toks, x -> list_contains(
        |      ['the','a','of','and','to','in','is','it','on','for'], x))) AS sh,
        |    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS p,
        |    length(text) AS len
        |  FROM t),
        |g AS (
        |  SELECT doc_id,
        |    (CASE WHEN nt < 30 THEN 'few_words;' ELSE '' END) ||
        |    (CASE WHEN nt > 10000 THEN 'many_words;' ELSE '' END) ||
        |    (CASE WHEN wc < nt * 4 THEN 'short_words;' ELSE '' END) ||
        |    (CASE WHEN wc > nt * 10 THEN 'long_words;' ELSE '' END) ||
        |    (CASE WHEN sh * 20 < nt THEN 'low_stopwords;' ELSE '' END) ||
        |    (CASE WHEN p * 10 > len THEN 'high_punct;' ELSE '' END) AS fail_reasons
        |  FROM m)
        |SELECT doc_id, fail_reasons, fail_reasons = '' AS keep FROM g
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_text_ctfidf" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS word
        |  FROM documents),
        |ctf AS (SELECT source, word, CAST(count(*) AS BIGINT) AS ctf FROM toks GROUP BY 1, 2),
        |lens AS (SELECT source, CAST(SUM(ctf) AS BIGINT) AS len_s FROM ctf GROUP BY 1),
        |fw AS (SELECT word, CAST(SUM(ctf) AS BIGINT) AS f_w FROM ctf GROUP BY 1),
        |tot AS (SELECT CAST(SUM(len_s) AS BIGINT) AS sl, CAST(count(*) AS BIGINT) AS c FROM lens),
        |scored AS (
        |  SELECT t.source, t.word,
        |    CAST(round(CAST(t.ctf AS DOUBLE) / CAST(l.len_s AS DOUBLE) * 1000000, 0) AS BIGINT) *
        |    CAST(round(ln(1.0 + (CAST(tot.sl AS DOUBLE) / CAST(tot.c AS DOUBLE)) /
        |                   CAST(f.f_w AS DOUBLE)) * 1000000, 0) AS BIGINT) AS score_u
        |  FROM ctf t JOIN lens l USING (source) JOIN fw f USING (word) CROSS JOIN tot),
        |ranked AS (
        |  SELECT source, word, score_u,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY score_u DESC, word) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT source, rank, word, score_u FROM ranked WHERE rank <= 3
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_text_langid" ->
      """WITH t AS (
        |  SELECT lang,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT lang,
        |    len(list_filter(toks, x -> list_contains(
        |      ['the','a','of','and','to','in','is','it','on','for'], x))) AS s_en,
        |    len(list_filter(toks, x -> list_contains(
        |      ['der','die','das','und','ist','nicht','ein','mit','zu','auf'], x))) AS s_de,
        |    len(list_filter(toks, x -> list_contains(
        |      ['le','la','les','et','est','un','une','dans','pour','que'], x))) AS s_fr
        |  FROM t)
        |SELECT lang,
        |  CASE WHEN s_fr >= s_en AND s_fr >= s_de THEN 'fr'
        |       WHEN s_en >= s_de THEN 'en' ELSE 'de' END AS predicted,
        |  count(*) AS n
        |FROM s GROUP BY 1, 2 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_text_redact" ->
      """SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{4,}', '<NUM>', 'g')) AS redacted_md5,
        |  CAST(len(regexp_extract_all(text, '[0-9]{4,}')) +
        |       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_redacted
        |FROM documents ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_text_topwords" ->
      """SELECT * FROM (
        |  SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS word
        |    FROM documents)
        |  GROUP BY 1 ORDER BY n DESC, word LIMIT 20)
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    // the sketch twin is exact below capacity (see the query's doc
    // comment), so its oracle is the exact top-20 verbatim
    "q_text_topwords_sketch" ->
      """SELECT * FROM (
        |  SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS word
        |    FROM documents)
        |  GROUP BY 1 ORDER BY n DESC, word LIMIT 20)
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS INTEGER) AS n_word,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_num,
        |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS INTEGER) AS n_other
        |FROM documents ORDER BY ALL NULLS FIRST""".stripMargin
  )
}
