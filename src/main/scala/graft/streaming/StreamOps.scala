package graft.streaming

import graft.Det
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming surface (SURVEY.md §2.9 T1–T5): the same event
  * transformations as `operators.Temporal`, usable on `readStream` inputs.
  *
  * Batch and streaming share these plan builders — Structured Streaming's
  * incremental execution handles state: windowed aggregates keep per-window
  * state bounded by the watermark (T4), and dedup state is likewise
  * watermark-expired (T5). On a 100 TB/day feed the state store holds only
  * the open windows per key, not history.
  */
object StreamOps {

  /** T1/T4: tumbling 1-hour counts with a 10-minute watermark; works for
    * batch DataFrames too (watermark is a no-op in batch).
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(Det.cents(col("value"))).as("sum_c"))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n"), col("sum_c"))

  /** T5: stateful dedup on event_id within the watermark horizon. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming CONTENT dedup — the ingest-time twin of the batch exact
    * dedup: drop records whose normalized-text hash was already seen within
    * the watermark horizon. State holds one 32-char hash per distinct doc in
    * the horizon, never the text.
    */
  def contentDedupWithinWatermark(docs: DataFrame, textCol: String,
      tsCol: String): DataFrame =
    docs
      .withColumn("__h", md5(trim(regexp_replace(lower(col(textCol)), "\\s+", " "))))
      .withWatermark(tsCol, "10 minutes")
      .dropDuplicatesWithinWatermark("__h")
      .drop("__h")

  /** Streaming NEAR-dup dedup, inline half: drop records whose full MinHash
    * SIGNATURE was already seen within the watermark horizon. Catches
    * everything content dedup does (normalization folds case/whitespace)
    * plus docs whose shingle sets collide on all k minima — jaccard ≈ 1
    * near-dups — while keeping the state entry a single short string per
    * distinct signature. Docs too short to shingle fall back to the
    * content hash (a degenerate all-equal signature would otherwise glue
    * every short doc together).
    *
    * This is deliberately only HALF of near-dedup: verified-pair removal
    * needs a candidate join no single-key state store expresses — that
    * half is [[nearDupCandidatesStream]] + the batch Jaccard verify.
    */
  def signatureDedupWithinWatermark(docs: DataFrame, textCol: String,
      tsCol: String, k: Int = 8): DataFrame = {
    val key = when(size(col("hv")) > 0, concat_ws(",", col("sig")))
      .otherwise(concat(lit("short:"),
        md5(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")))))
    graft.pipeline.DedupIndex.withSignatures(docs, textCol, k)
      .withColumn("__sig", key)
      .drop("hv", "sig")
      .withWatermark(tsCol, "10 minutes")
      .dropDuplicatesWithinWatermark("__sig")
      .drop("__sig")
  }

  /** One emitted LSH band-bucket collision: `doc_b` landed in a bucket
    * `doc_a` (the bucket's first-seen anchor) already occupies.
    */
  case class BandHit(doc_a: Long, doc_b: Long, band: Int)

  /** Streaming NEAR-dup dedup, candidate half: the banded-LSH candidate
    * generator of [[graft.pipeline.Dedup.nearDuplicatePairs]] as an
    * incremental stream. Each doc's k-minima md5 signature splits into
    * `bands` band keys ([[graft.pipeline.DedupIndex.bandKeys]], the batch
    * format); per (band, bandSig) bucket the state store keeps ONE long —
    * the first doc_id ever seen there — and every later arrival emits a
    * (anchor, newcomer, band) candidate. The expensive exchange of batch
    * LSH becomes a keyed state lookup; the exact Jaccard verify stays a
    * periodic batch job over the emitted candidates (collision ≠ duplicate).
    *
    * Contract notes: candidates are at-least-once (a doc re-sent after its
    * first batch re-emits against the anchor; a pair colliding in two bands
    * emits once per band) — the batch verifier dedups pairs anyway. Within
    * a bucket only anchor↔newcomer pairs emit, not newcomer↔newcomer:
    * transitive candidates surface through the anchor exactly like the
    * batch generator's greedy clustering. Bucket state expires by
    * event-time timeout `horizonMinutes` past the watermark — bounded
    * state on an unbounded feed.
    */
  def nearDupCandidatesStream(docs: DataFrame, textCol: String = "text",
      tsCol: String = "ts", k: Int = 8, bands: Int = 4,
      horizonMinutes: Int = 10): Dataset[BandHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.pipeline.DedupIndex
    // shingle-less docs are dropped before hashing (see DedupIndex.withShingles)
    DedupIndex.withSignatures(DedupIndex.withShingles(
        docs.withWatermark(tsCol, "10 minutes"), textCol), textCol, k)
      .select(col("doc_id").cast("long"), col(tsCol),
        posexplode(DedupIndex.bandKeys(col("sig"), k, bands))
          .as(Seq("__band", "__bsig")))
      .as[(Long, java.sql.Timestamp, Int, String)]
      .groupByKey(x => (x._3, x._4))
      .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, String),
            rows: Iterator[(Long, java.sql.Timestamp, Int, String)],
            state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // micro-batch arrival order is arbitrary: anchor-election must
            // be deterministic, so order by (event time, doc_id)
            val arrivals = rows.map(x => (x._2.getTime, x._1)).toArray.sorted
            var anchor = state.getOption
            val out = Array.newBuilder[BandHit]
            arrivals.foreach { case (_, id) =>
              anchor match {
                case Some(a) => if (a != id) out += BandHit(a, id, key._1)
                case None => anchor = Some(id)
              }
            }
            anchor.foreach { a =>
              state.update(a)
              // expire relative to EVENT time (like sessionizeWithState) —
              // the current watermark is still 0 during the first batch, so
              // a watermark-relative timeout would land in 1970 and evict
              // every anchor as soon as the watermark advances
              state.setTimeoutTimestamp(
                arrivals.last._1 + horizonMinutes * 60L * 1000L)
            }
            out.result().iterator
          }
      }
  }

  /** Streaming incremental near-dedup against a PERSISTED corpus index —
    * [[graft.pipeline.DedupIndex.lookup]] as a stream: each arriving doc
    * computes its own md5 MinHash signature and band keys (stateless
    * per-row maps), STREAM-STATIC joins the corpus bucket table on
    * (band, bsig), verifies candidates by exact Jaccard against the STORED
    * corpus shingle sets, and emits (doc_corpus, doc_new, jaccard). One
    * persisted index serves the batch lookup and this stream.
    *
    * State shape: stream-static joins keep NO state (the static side is
    * the same parquet the batch path reads, re-scanned per micro-batch and
    * broadcast when small); the only stateful step is the within-watermark
    * pair dedup — a pair colliding in b bands would otherwise emit b
    * identical rows. The batch's candidates-then-join-back hv fetch can't
    * work on a stream (it would be a stream-stream self join), so the
    * batch doc's hashed shingle set rides the band explode instead —
    * bands× per-row duplication, zero extra state.
    */
  def indexLookupStream(docs: DataFrame,
      corpus: graft.pipeline.DedupIndex.Components,
      textCol: String = "text", idCol: String = "doc_id",
      tsCol: String = "ts", k: Int = 8,
      bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    import graft.functions.TextHashes.jaccardLong
    import graft.pipeline.DedupIndex
    // shingle-less docs are dropped before hashing (see DedupIndex.withShingles)
    DedupIndex.withSignatures(DedupIndex.withShingles(
        docs.withWatermark(tsCol, "10 minutes"), textCol), textCol, k)
      .select(col(idCol).as("doc_new"), col(tsCol), col("hv").as("hv_b"),
        posexplode(DedupIndex.bandKeys(col("sig"), k, bands))
          .as(Seq("band", "bsig")))
      .join(corpus.buckets
        .select(col("band"), col("bsig"), col("doc").as("doc_corpus")),
        Seq("band", "bsig"))
      .filter(col("doc_corpus") =!= col("doc_new"))
      .join(corpus.sigs.select(col("doc").as("doc_corpus"), col("hv").as("hv_a")),
        Seq("doc_corpus"))
      .withColumn("jaccard", round(jaccardLong(col("hv_a"), col("hv_b")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_corpus"), col("doc_new"), col(tsCol), col("jaccard"))
      .dropDuplicatesWithinWatermark("doc_corpus", "doc_new")
      .drop(tsCol)
  }

  /** Streaming ANN lookup against a PERSISTED vector index — the
    * [[indexLookupStream]] pattern for the similarity side: each arriving
    * vector becomes a top-k query over the persisted IVF×SQ8 components
    * ([[graft.pipeline.VectorIndex]]), exactly what the batch
    * `Similarity.sq8IvfTopK` computes, as a stream.
    *
    * Per arriving (vec_id, embedding, ts):
    *   1. probe cells — the nprobe nearest coarse centroids, computed
    *      per-row over ONE collected centroid array (centroids are tiny by
    *      construction; batch `probeCells` uses a window function, which
    *      streams can't — array_sort over struct(-sim, cell) reproduces its
    *      exact (csim desc, cell) tie-break);
    *   2. candidates — stream-static equi-join on cell against the
    *      persisted assignment, then on vec_id against the persisted code
    *      table (only ~nprobe/k of the code table is touched, the IVF
    *      pruning shape);
    *   3. score — asymmetric SQ8 against the broadcast 1-row stats;
    *   4. top-k — a watermark-bounded windowed aggregation per query
    *      (array_sort + slice reproduces the batch (approx desc, vec_id)
    *      tie-break); results emit when the window closes.
    *
    * State: ONLY the open per-query windows (candidates of in-flight
    * queries) — nothing proportional to the corpus; the corpus side is the
    * same immutable parquet the batch path reads, re-scanned per
    * micro-batch. Returns (qid, rank, vec_id, approx) ≡ the batch
    * `sq8IvfTopK` rows for the same inputs (StreamingSpec proves equality).
    */
  def vectorLookupStream(vecs: DataFrame, cells: DataFrame,
      cellAssign: DataFrame, sq8Codes: DataFrame, sq8StatsRow: DataFrame,
      k: Int = 10, nprobe: Int = 3, tsCol: String = "ts",
      windowLen: String = "10 minutes"): DataFrame = {
    import graft.functions.VectorOps.{cosineSim, sq8AsymSim}
    // tiny static sides, collected into one broadcastable row each
    val centRow = cells
      .agg(collect_list(struct(col("cell"), col("cvec"))).as("cents"))
    val probed = vecs
      .withWatermark(tsCol, "10 minutes")
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"), col(tsCol))
      .crossJoin(broadcast(centRow))
      .withColumn("__p",
        explode(slice(array_sort(transform(col("cents"), c =>
          struct((-round(cosineSim(col("qvec"), c.getField("cvec")), 6)).as("ns"),
            c.getField("cell").as("cell")))), 1, nprobe)))
      .select(col("qid"), col("qvec"), col(tsCol), col("__p.cell").as("cell"))
    probed
      .join(cellAssign.select("vec_id", "cell"), Seq("cell"))
      .filter(col("qid") =!= col("vec_id"))
      .join(sq8Codes.withColumnRenamed("codes", "__codes"), Seq("vec_id"))
      .crossJoin(broadcast(sq8StatsRow))
      .withColumn("approx",
        round(sq8AsymSim(col("qvec"), col("__codes"), col("mns"),
          col("spans")), 6))
      .groupBy(col("qid"), window(col(tsCol), windowLen))
      .agg(slice(array_sort(collect_list(
        struct((-col("approx")).as("na"), col("vec_id"), col("approx")))),
        1, k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("t.vec_id").as("vec_id"), col("t.approx").as("approx"))
  }

  /** Streaming BM25 lookup against a PERSISTED text index — the
    * [[indexLookupStream]]/[[vectorLookupStream]] pattern for the retrieval
    * side: each arriving query document tokenizes ITSELF (stateless per-row
    * maps), stream-static joins its distinct terms against the persisted
    * posting lists ([[graft.pipeline.TextIndex]]), sums exact integer BM25
    * contributions per candidate in a watermark-bounded window, and emits
    * per-query top-k when the window closes — exactly what the batch
    * `TextIndex.bm25TopK` computes, as a stream (StreamingSpec proves
    * equality).
    *
    * State shape: the corpus side is the same immutable parquet the batch
    * path reads (stream-static joins keep no state); the only stateful
    * steps are the two chained windowed aggregations — per-(query, doc)
    * score sum, then per-query top-k — whose state is the candidates of
    * IN-FLIGHT queries only, nothing proportional to the corpus.
    */
  def bm25SearchStream(queryDocs: DataFrame,
      ix: graft.pipeline.TextIndex.Components, k: Int = 10,
      tsCol: String = "ts", windowLen: String = "10 minutes"): DataFrame = {
    import graft.pipeline.{TextAnalysis, TextIndex}
    val qt = queryDocs
      .withWatermark(tsCol, "10 minutes")
      .select(col("qid"), col(tsCol),
        explode(array_distinct(TextAnalysis.tokens(col("qtext")))).as("word"))
    val scored = qt
      .join(ix.postings, Seq("word"))
      .filter(col("doc") =!= col("qid"))
      .join(ix.vocab.withColumnRenamed("df", "__df"), Seq("word"))
      .crossJoin(broadcast(ix.stats))
      .withColumn("__c", TextIndex.contributionU(col("tf"), col("__df"),
        col("dl"), col("n"), col("sdl")))
      .groupBy(window(col(tsCol), windowLen), col("qid"), col("doc"))
      .agg(sum("__c").as("score_u"))
    // chained time-window aggregation (append mode): the second agg windows
    // on the first's window column — per-query top-k via the same
    // array_sort tie-break ((score_u desc, doc)) as the batch row_number
    scored
      .groupBy(window(col("window"), windowLen), col("qid"))
      .agg(slice(array_sort(collect_list(
        struct((-col("score_u")).as("ns"), col("doc"), col("score_u")))),
        1, k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("t.doc").as("doc_id"), col("t.score_u").as("score_u"))
  }

  /** Streaming typo-tolerant BM25 against the persisted index — the
    * stream twin of [[graft.pipeline.TextIndex.bm25FuzzyTopK]]: each
    * arriving query word emits its 1-deletion neighborhood (a per-row
    * map, stream-legal), stream-static joins the STATIC vocab-variant
    * table on the variant key, and the levenshtein refine keeps edit
    * distance ≤ 1. The expansion dedupes per (qid, word) with a
    * watermark-evicted dropDuplicates (all of a query's expansions share
    * its event time, so the time column rides the key and state stays
    * in-flight-queries-sized), then the scoring/top-k tail is the
    * [[bm25SearchStream]] chained-window shape verbatim. Static-side
    * cost: (len+1)× the vocab — at 100 TB persisted as one more index
    * component.
    */
  def fuzzySearchStream(queryDocs: DataFrame,
      ix: graft.pipeline.TextIndex.Components, k: Int = 10,
      tsCol: String = "ts", windowLen: String = "10 minutes",
      variants: Option[DataFrame] = None): DataFrame = {
    import graft.pipeline.{TextAnalysis, TextIndex}
    val vv = variants.getOrElse(ix.vocab.select(col("word"))
      .withColumn("variant", explode(TextIndex.deletionVariants(col("word")))))
    val qt = queryDocs
      .withWatermark(tsCol, "10 minutes")
      .select(col("qid"), col(tsCol),
        explode(array_distinct(TextAnalysis.tokens(col("qtext")))).as("qword"))
      .withColumn("variant",
        explode(TextIndex.deletionVariants(col("qword"))))
      .join(vv, Seq("variant"))
      .filter(levenshtein(col("qword"), col("word")) <= 1)
      .dropDuplicates("qid", "word", tsCol)
      .select(col("qid"), col(tsCol), col("word"))
    val scored = qt
      .join(ix.postings, Seq("word"))
      .filter(col("doc") =!= col("qid"))
      .join(ix.vocab.withColumnRenamed("df", "__df"), Seq("word"))
      .crossJoin(broadcast(ix.stats))
      .withColumn("__c", TextIndex.contributionU(col("tf"), col("__df"),
        col("dl"), col("n"), col("sdl")))
      .groupBy(window(col(tsCol), windowLen), col("qid"), col("doc"))
      .agg(sum("__c").as("score_u"))
    scored
      .groupBy(window(col("window"), windowLen), col("qid"))
      .agg(slice(array_sort(collect_list(
        struct((-col("score_u")).as("ns"), col("doc"), col("score_u")))),
        1, k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("t.doc").as("doc_id"), col("t.score_u").as("score_u"))
  }

  /** Streaming exact-phrase lookup against the PERSISTED positional
    * postings — the retrieval family's contamination-probe member as a
    * stream: each arriving query doc's leading trigram stream-static joins
    * the stored (word, doc, pos) rows, and two chained watermark-bounded
    * windowed aggregations replay the batch anchor-coverage walk
    * ([[graft.pipeline.TextIndex.phraseTopDocs]]): per-(query, doc,
    * anchor) coverage, then per-(query, doc) hit counts. State = in-flight
    * queries' candidate anchors only, never the corpus.
    */
  def phraseSearchStream(queryDocs: DataFrame, positions: DataFrame,
      m: Int = 3, tsCol: String = "ts",
      windowLen: String = "10 minutes"): DataFrame = {
    import graft.pipeline.TextAnalysis
    val qp = queryDocs
      .withWatermark(tsCol, "10 minutes")
      .withColumn("__toks",
        filter(TextAnalysis.tokens(col("qtext")), w => length(w) > 0))
      .select(col("qid"), col(tsCol),
        least(size(col("__toks")), lit(m)).as("plen"),
        posexplode(slice(col("__toks"), 1, m)).as(Seq("i", "w")))
    val cov = qp
      .join(positions, col("word") === col("w"))
      .select(col("qid"), col(tsCol), col("plen"), col("doc"),
        (col("pos") - col("i")).as("anchor"), col("i"))
      .groupBy(window(col(tsCol), windowLen), col("qid"), col("plen"),
        col("doc"), col("anchor"))
      // count ≡ count-distinct here (streaming forbids the latter): for a
      // fixed (qid, doc, anchor, i) at most ONE position row matches —
      // pos = anchor + i and a doc has one word per position
      .agg(count(lit(1)).as("cover"))
    cov.filter(col("cover") === col("plen"))
      .groupBy(window(col("window"), windowLen), col("qid"), col("doc"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col("qid"), col("doc").as("doc_id"), col("n_hits"))
  }

  /** Streaming window-proximity search against static positional postings —
    * the stream twin of [[graft.pipeline.TextIndex.proximityTopDocs]].
    *
    * The batch walk pairs anchors with occurrences through a self-join; a
    * stream may not join itself, so the pairing moves to the STATIC side:
    * each position row expands into the `window` anchor slots it can
    * serve (anchor = pos−window+1 .. pos), arriving query words
    * stream-static join that expanded table on word, and THREE chained
    * windowed aggregations (Spark 4 multiple-stateful-operator support,
    * the E106 posture) replay the batch semantics in append mode:
    * (1) collapse duplicate (anchor, query-word) slots — the stream-legal
    * spelling of the batch count-distinct — while flagging whether this
    * anchor slot is a real occurrence of the anchor word (`mi = 0` at
    * offset 0); (2) per anchor: distinct-word cover + the anchor flag;
    * (3) per doc: count fully-covered anchored windows. The static
    * expansion is window× the positions table — the read-side cost of
    * making the walk single-pass; a 100 TB deployment would persist it as
    * one more index component. State = in-flight query windows only.
    */
  def proximitySearchStream(queryDocs: DataFrame, positions: DataFrame,
      m: Int = 3, win: Int = 8, tsCol: String = "ts",
      windowLen: String = "10 minutes"): DataFrame = {
    import graft.pipeline.TextAnalysis
    // static side: every anchor slot each occurrence can serve
    val slots = positions
      .withColumn("anchor",
        explode(sequence(col("pos") - (win - 1), col("pos"))))
      .filter(col("anchor") >= 1)
      .select(col("word"), col("doc"), col("anchor"),
        (col("pos") === col("anchor")).as("at_anchor"))
    val qw = queryDocs
      .withWatermark(tsCol, "10 minutes")
      .withColumn("__toks",
        filter(TextAnalysis.tokens(col("qtext")), w => length(w) > 0))
      .withColumn("nw", size(array_distinct(slice(col("__toks"), 1, m))))
      .select(col("qid"), col(tsCol), col("nw"),
        posexplode(slice(col("__toks"), 1, m)).as(Seq("i", "w")))
      .groupBy(window(col(tsCol), windowLen), col("qid"), col("nw"), col("w"))
      .agg(min(col("i")).as("mi"))
    val slotRows = qw
      .join(slots, col("word") === col("w"))
      .groupBy(window(col("window"), windowLen), col("qid"), col("nw"),
        col("doc"), col("anchor"), col("w"))
      .agg(max(when(col("mi") === 0 && col("at_anchor"), 1).otherwise(0))
        .as("af"))
    val cov = slotRows
      .groupBy(window(col("window"), windowLen), col("qid"), col("nw"),
        col("doc"), col("anchor"))
      .agg(count(lit(1)).as("cover"), max(col("af")).as("anchored"))
    cov.filter(col("cover") === col("nw") && col("anchored") === 1)
      .groupBy(window(col("window"), windowLen), col("qid"), col("doc"))
      .agg(count(lit(1)).as("n_windows"))
      .select(col("qid"), col("doc").as("doc_id"), col("n_windows"))
  }

  /** Streaming BPE tokenization against a persisted vocab (the E84/E90/E97
    * stream-static pattern completed for the tokenizer artifact): arriving
    * docs explode to (pos, word) statelessly, stream-static join the stored
    * segmentation on word (only arriving words' vocab rows are touched —
    * never the corpus), out-of-vocabulary words fall back to the same
    * merge-list fold as batch ([[graft.pipeline.Bpe.segmentExpr]], the
    * merge table riding a 1-row broadcast), and ONE watermark-bounded
    * windowed aggregation reassembles the exact per-doc token stream with
    * the same
    * (n_tokens_bpe, tokens_md5) contract as batch
    * [[graft.pipeline.Bpe.tokenize]]. State = open doc windows only —
    * nothing proportional to the vocabulary or the corpus it was trained
    * on; one persisted artifact serves batch and stream.
    */
  def bpeTokenizeStream(docs: DataFrame, vocab: DataFrame,
      merges: DataFrame,
      tsCol: String = "ts", windowLen: String = "10 minutes"): DataFrame = {
    import graft.pipeline.{Bpe, TextAnalysis}
    docs.withWatermark(tsCol, "10 minutes")
      .select(col("doc_id"), col(tsCol),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
      .join(vocab.select("word", "s"), Seq("word"), "left")
      .crossJoin(broadcast(Bpe.mergesRow(merges)))
      .withColumn("s",
        coalesce(col("s"), Bpe.segmentExpr(col("word"), col("ms"))))
      .groupBy(window(col(tsCol), windowLen), col("doc_id"))
      .agg(sum(size(col("s"))).as("n_tokens_bpe"),
        md5(concat_ws("|", flatten(transform(
          array_sort(collect_list(struct(col("pos"), col("s")))),
          t => t.getField("s"))))).as("tokens_md5"))
      .select("doc_id", "n_tokens_bpe", "tokens_md5")
  }

  /** Streaming classification against the persisted Naive Bayes model
    * (the stream-static family member for the classifier artifact):
    * arriving docs explode to word occurrences statelessly; each
    * occurrence scores against every label (broadcast label-constant row;
    * per-occurrence contribution = coalesce(stored score_u, label
    * default_u) — algebraically equal to batch
    * [[graft.pipeline.NaiveBayes.predict]]'s matched/unmatched split, which
    * the StreamingSpec equality proves); one watermark-bounded windowed agg
    * sums per (doc, label) and a CHAINED second windowed agg emits the
    * per-doc argmax with the batch (s_u DESC, lang ASC) tie-break. State =
    * open doc windows only — never the model or its corpus.
    */
  def nbClassifyStream(docs: DataFrame, m: graft.pipeline.NaiveBayes.Model,
      tsCol: String = "ts", windowLen: String = "10 minutes"): DataFrame = {
    import graft.pipeline.TextAnalysis
    val occ = docs.withWatermark(tsCol, "10 minutes")
      .select(col("doc_id"), col(tsCol),
        explode(TextAnalysis.tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .crossJoin(broadcast(m.labels.select("lang", "prior_u", "default_u")))
      .join(m.model.select("lang", "word", "score_u"), Seq("lang", "word"),
        "left")
      .withColumn("__c", coalesce(col("score_u"), col("default_u")))
    val perLabel = occ
      .groupBy(window(col(tsCol), windowLen), col("doc_id"), col("lang"),
        col("prior_u"))
      .agg(sum("__c").as("sum_c"))
      .withColumn("s_u", col("prior_u") + col("sum_c"))
    perLabel
      .groupBy(window(col("window"), windowLen), col("doc_id"))
      .agg(slice(array_sort(collect_list(
        struct((-col("s_u")).as("ns"), col("lang"), col("s_u")))), 1, 1)
        .as("top"))
      .select(col("doc_id"), explode(col("top")).as("t"))
      .select(col("doc_id"), col("t.lang").as("lang_pred"),
        col("t.s_u").as("score_u"))
  }

  /** The full streaming ingest pipeline over the persisted artifact family
    * — arriving documents flow through every curation stage the batch
    * [[graft.pipeline.Curation]] composition runs, each stage served by an
    * artifact built once from the corpus:
    *
    *   1. quality gate — the batch `stageQuality` predicate per-row
    *      (stateless);
    *   2. exact dedup — content hash anti-joins the PERSISTED corpus hash
    *      table (stream-static left join + null filter; left-anti is not in
    *      the supported stream-static set), then within-stream first-wins
    *      via `dropDuplicatesWithinWatermark` on the hash;
    *   3. + 4. language classification AND BPE token accounting in ONE
    *      word-explode pass: occurrences × labels join the persisted NB
    *      model (coalesce to default_u) while the persisted BPE vocab +
    *      merge-list fallback segments the same rows; a windowed per-(doc,
    *      label) sum then a CHAINED windowed argmax emit (lang_pred,
    *      score_u, n_tokens_bpe, tokens_md5) with the batch tie-breaks —
    *      token fields are label-invariant and ride the argmax struct;
    *   5. near-dup gate — the [[indexLookupStream]] candidate chain
    *      (band-key equi-join against the persisted buckets, exact-Jaccard
    *      verify against the persisted signatures), folded to a per-doc
    *      max-match flag by a third chained windowed aggregation; docs with
    *      no verified corpus match ≥ threshold survive. Shingle-less docs
    *      ride a `posexplode_outer` null row (batch semantics: they can
    *      never near-dup) and a self-id match is nulled out rather than
    *      filtered so the doc is not lost with it.
    *
    * State: open windows of the IN-FLIGHT batch only (the corpus side is
    * immutable parquet re-scanned per micro-batch) — nothing proportional
    * to the corpus. The document text rides the first two aggregations'
    * group keys (payload-through-window); at production batch sizes you
    * would emit ids from the argmax and re-join the payload from the ingest
    * source instead — the state is still bounded by the watermark either
    * way.
    */
  def curateStream(docs: DataFrame,
      corpusHashes: DataFrame,
      corpus: graft.pipeline.DedupIndex.Components,
      nb: graft.pipeline.NaiveBayes.Model,
      vocab: DataFrame, merges: DataFrame,
      minTokens: Int = 5, minUniqRatio: Double = 0.3,
      k: Int = 8, bands: Int = 4, threshold: Double = 0.5,
      tsCol: String = "ts", windowLen: String = "10 minutes"): DataFrame = {
    import graft.functions.TextHashes.jaccardLong
    import graft.pipeline.{Bpe, Dedup, DedupIndex, TextAnalysis}
    val gated = docs.withWatermark(tsCol, "10 minutes")
      .filter(graft.functions.TextScan.qualityGate(col("text"), minTokens,
        minUniqRatio))
      .withColumn("h", md5(Dedup.normText(col("text"))))
    val hashHits = corpusHashes.select(col("h")).distinct()
      .withColumn("__hit", lit(1))
    val exact = gated.join(hashHits, Seq("h"), "left")
      .filter(col("__hit").isNull).drop("__hit")
      .dropDuplicatesWithinWatermark("h")
      .drop("h")
    val occ = exact
      .select(col("doc_id"), col(tsCol), col("text"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
      .crossJoin(broadcast(nb.labels.select("lang", "prior_u", "default_u")))
      .join(nb.model.select("lang", "word", "score_u"), Seq("lang", "word"),
        "left")
      .join(vocab.select(col("word"), col("s")), Seq("word"), "left")
      .crossJoin(broadcast(Bpe.mergesRow(merges)))
      .withColumn("__s",
        coalesce(col("s"), Bpe.segmentExpr(col("word"), col("ms"))))
      .withColumn("__c", coalesce(col("score_u"), col("default_u")))
    val perLabel = occ
      .groupBy(window(col(tsCol), windowLen), col("doc_id"), col("text"),
        col("lang"), col("prior_u"))
      .agg(sum(col("__c")).as("sum_c"),
        sum(size(col("__s"))).as("ntok"),
        md5(concat_ws("|", flatten(transform(
          array_sort(collect_list(struct(col("pos"), col("__s")))),
          t => t.getField("__s"))))).as("tmd5"))
      .withColumn("s_u", col("prior_u") + col("sum_c"))
    val classified = perLabel
      .groupBy(window(col("window"), windowLen), col("doc_id"), col("text"))
      .agg(slice(array_sort(collect_list(struct((-col("s_u")).as("ns"),
        col("lang"), col("s_u"), col("ntok"), col("tmd5")))), 1, 1).as("top"))
      .select(col("window"), col("doc_id"), col("text"),
        explode(col("top")).as("t"))
      .select(col("window"), col("doc_id"), col("text"),
        col("t.lang").as("lang_pred"), col("t.s_u").as("score_u"),
        col("t.ntok").as("n_tokens_bpe"), col("t.tmd5").as("tokens_md5"))
    // a shingle-less doc keeps its row, with null hv_b/__sig (no bands)
    val shingled = DedupIndex.withSignatures(classified, "text", k)
      .withColumn("hv_b", when(size(col("hv")) > 0, col("hv")))
      .withColumn("__sig", when(size(col("hv")) > 0, col("sig")))
      .select(col("window"), col("doc_id"), col("lang_pred"), col("score_u"),
        col("n_tokens_bpe"), col("tokens_md5"), col("hv_b"),
        posexplode_outer(when(col("__sig").isNotNull,
          DedupIndex.bandKeys(col("__sig"), k, bands)))
          .as(Seq("band", "bsig")))
      .join(corpus.buckets.select(col("band"), col("bsig"),
        col("doc").as("doc_corpus")), Seq("band", "bsig"), "left")
      .withColumn("doc_corpus",
        when(col("doc_corpus") === col("doc_id"), lit(null))
          .otherwise(col("doc_corpus")))
      .join(corpus.sigs.select(col("doc").as("doc_corpus"),
        col("hv").as("hv_a")), Seq("doc_corpus"), "left")
      .withColumn("__dup",
        when(col("hv_a").isNotNull && col("hv_b").isNotNull &&
          round(jaccardLong(col("hv_a"), col("hv_b")), 6) >= threshold, 1)
          .otherwise(0))
    shingled
      .groupBy(window(col("window"), windowLen), col("doc_id"),
        col("lang_pred"), col("score_u"), col("n_tokens_bpe"),
        col("tokens_md5"))
      .agg(max(col("__dup")).as("__anydup"))
      .filter(col("__anydup") === 0)
      .select(col("doc_id"), col("lang_pred"), col("score_u"),
        col("n_tokens_bpe"), col("tokens_md5"))
  }

  /** Stream-stream interval join — the canonical click↔impression
    * attribution shape: a click joins the impression it followed within
    * `horizon`. Both sides carry watermarks and the join condition bounds
    * event time on both ends, so each side's state store retains only
    * `horizon`+watermark of history — bounded state on an unbounded feed.
    */
  def clickAttribution(impressions: DataFrame, clicks: DataFrame,
      horizon: String = "15 minutes"): DataFrame = {
    val imp = impressions
      .withWatermark("imp_ts", "10 minutes")
    val clk = clicks
      .withWatermark("click_ts", "10 minutes")
    imp.join(clk,
      expr(s"""imp_user = click_user AND
              |click_ts >= imp_ts AND
              |click_ts <= imp_ts + interval $horizon""".stripMargin))
      .select(col("imp_user").as("user_id"), col("imp_id"), col("click_id"),
        col("imp_ts"), col("click_ts"))
  }

  /** Custom keyed state (the Hive-has-nothing-like-this row of §2.9): per
    * user, emit the running event count with every update.
    */
  def runningCountsPerUser(events: Dataset[(Long, Long)]):
      Dataset[(Long, Long)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, batch: Iterator[(Long, Long)], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + batch.size
          state.update(total)
          (user, total)
      }
  }

  /** Streaming twin of the batch per-key EWMA (SURVEY E169, `q_ts_ewma`):
    * state per key = the last ≤W cents, newest first — the EXACT integer
    * history the batch lag chain reads, so a replayed event stream emits
    * byte-identical EWMA values WHATEVER the micro-batch boundaries (the
    * append-≡-retrain proof posture of the NB/BPE twins). Within a batch
    * rows fold in (tsUs, eventId) order; across batches the caller feeds
    * per-key event time monotonically (the sessionizer twin's contract —
    * out-of-order feeds need an upstream watermark sort, not more state).
    * State is W longs per live key, independent of stream length.
    *
    * Input (userId, tsUs, eventId, cents); output (userId, eventId, ewma)
    * with ewma = Σ centsⱼ·2^(W−1−j) / ((2^W − 2^(W−1−m))·100) — one
    * double division over exact longs, engine- and replay-deterministic.
    */
  def ewmaPerKey(events: Dataset[(Long, Long, Long, Long)], w: Int = 16):
      Dataset[(Long, Long, Double)] = {
    // w ≥ 64 would wrap the Long shifts silently (Java shifts are mod 64)
    // and large w risks numerator overflow (cents · 2^(w−1) · w must stay
    // within Long); w ≤ 32 keeps cents up to ~1.3e8 exact
    require(w >= 1 && w <= 32, s"ewmaPerKey: w must be in [1, 32], got $w")
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.NoTimeout()) {
        (user: Long, batch: Iterator[(Long, Long, Long, Long)],
            state: GroupState[List[Long]]) =>
          var hist = state.getOption.getOrElse(Nil) // newest first, ≤ w
          val out = batch.toSeq.sortBy(e => (e._2, e._3)).map {
            case (_, _, eventId, cents) =>
              hist = (cents :: hist).take(w)
              val num = hist.iterator.zipWithIndex
                .map { case (c, j) => c * (1L << (w - 1 - j)) }.sum
              val den = ((1L << w) - (1L << (w - 1 - (hist.size - 1)))) * 100L
              (user, eventId, num.toDouble / den.toDouble)
          }
          state.update(hist)
          out.iterator
      }
  }

  /** [[runningCountsPerUser]] rewritten on Spark 4's `transformWithState` —
    * the REPLACEMENT arbitrary-state API (SPARK-46815): named typed state
    * slots (`ValueState`/`ListState`/`MapState`) with per-state TTL,
    * timers decoupled from state, and schema-evolvable RocksDB-backed
    * storage. Requires the RocksDB state store provider. Kept alongside
    * the mapGroupsWithState spelling so both extension points stay
    * exercised.
    */
  class RunningCountProcessor
      extends StatefulProcessor[Long, (Long, Long), (Long, Long)] {
    @transient private var count: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("count", Encoders.scalaLong,
        TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        timers: TimerValues): Iterator[(Long, Long)] = {
      val total = (if (count.exists()) count.get() else 0L) + rows.size
      count.update(total)
      Iterator.single((user, total))
    }
  }

  /** [[runningCountsPerUser]] via [[RunningCountProcessor]]. */
  def runningCountsTws(events: Dataset[(Long, Long)]): Dataset[(Long, Long)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new RunningCountProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** One open session per user: [start, end] in event-time µs + count. */
  case class SessionState(startUs: Long, endUs: Long, n: Long)
  /** An emitted (closed) session. */
  case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long)

  /** Event-time sessionization with ARBITRARY state — the
    * flatMapGroupsWithState shape that `session_window` compiles to under
    * the hood, written out because it is the extension point for any
    * custom per-key streaming state machine (the session is just the demo
    * payload). Contract:
    *  - within a batch, events extend the open session while the gap to
    *    its end is <= `gap`; a larger gap CLOSES the session (emitted
    *    immediately) and opens a new one;
    *  - a session with no successor is closed by an EVENT-TIME TIMEOUT:
    *    state carries a timeout at end + gap, and when the WATERMARK
    *    passes it Spark calls back with `hasTimedOut` and the final
    *    session is emitted — so state per user is one (start, end, n)
    *    triple, expired by the watermark, never unbounded.
    * Input: (user_id, ts) columns; the 10-minute watermark is attached
    * here (EventTimeTimeout requires one). State times are ms-precision
    * (GroupState's timeout clock) scaled to µs.
    */
  def sessionizeWithState(events: DataFrame,
      gapMinutes: Int = 5): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").cast("long"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[(Long, java.sql.Timestamp)],
            state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.startUs, s.endUs, s.n))
          } else {
            // micro-batch arrival order is arbitrary; sort within batch
            // (the watermark bounds how far back an event can land)
            val times = batch.map(_._2.getTime * 1000L).toArray.sorted
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            times.foreach { t =>
              cur = cur match {
                // strict <: the session window is [start, last + gap) — an
                // event exactly AT prev + gap starts a NEW session, matching
                // the Temporal T3b session_window contract (the two paths
                // are cross-checked, so the boundary must not diverge)
                case Some(s) if t - s.endUs < gapUs =>
                  Some(SessionState(s.startUs, math.max(s.endUs, t), s.n + 1))
                case Some(s) =>
                  closed ::= SessionOut(user, s.startUs, s.endUs, s.n)
                  Some(SessionState(t, t, 1))
                case None => Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // EventTimeTimeout timestamps are epoch MILLIS
              state.setTimeoutTimestamp(s.endUs / 1000 + gapUs / 1000)
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming materialized-view maintenance — the stream twin of
    * [[graft.operators.Lake.maintainAgg]]: a STREAM of CDC rows
    * (snapshotDiff shape) folds into a continuously-maintained per-group
    * (cnt, sum_v) aggregate. Each change row becomes the same ±
    * contributions as the batch fold (removed −, added +, changed both —
    * group migrations included), and one stateful streaming aggregation
    * keeps the running totals: state = one row per LIVE GROUP, never the
    * base table, and each micro-batch's work ∝ its change rows. Run with
    * `outputMode("complete")` (the MV is the aggregate's full state) or
    * `update` (emit only groups a batch touched); bootstrap by replaying
    * the initial snapshot as an all-"added" first batch — the standard
    * change-feed bootstrap, and exactly how [[graft.operators.Versioned
    * .commitCdc]] emits a table's first commit.
    */
  /** Exactly-once streaming ingest into a [[graft.operators.Versioned]]
    * table (E148): every micro-batch lands as ONE append (delta) commit —
    * cost ∝ batch rows, never table size — and a crash-replayed batch id
    * is recognized by its committed `_batchid` marker and skipped, so the
    * checkpoint + marker pair gives end-to-end exactly-once without a
    * transactional sink API. `foreachBatch` is the Structured Streaming
    * escape hatch for exactly this shape (a batch-only writer driven by a
    * stream); downstream readers see each batch atomically via the
    * claim/seal protocol, and the CDC/file-stream surfaces compose
    * unchanged on top of the resulting history.
    */
  def versionedIngest(stream: DataFrame, dir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.operators.Versioned.appendBatchIdempotent(batch, dir, id)
        ()
      }
      .start()

  /** [[versionedIngest]] with E150's expectation gates applied per batch:
    * rows satisfying every named predicate append as the batch's delta
    * commit; the rest land in the table's `_quarantine` sidecar tagged
    * with the violated gate names and the batch's commit version — the
    * streaming DLT-expectations posture. Idempotence is inherited: a
    * replayed batch id short-circuits BEFORE either write, so neither the
    * commit nor the quarantine double-appends. NULL predicate results
    * count as violations, exactly as in the batch
    * [[graft.operators.Versioned.commitExpect]].
    *
    * Crash semantics: the quarantine append runs BEFORE the commit
    * seals, so a crash anywhere in the batch leaves an uncommitted hole
    * the replay re-runs in full — the table stays exactly-once via the
    * batch-id marker, and the quarantine stays exactly-once because the
    * crashed attempt's debris is tagged with the hole version and
    * filtered by [[graft.operators.Versioned.quarantine]].
    */
  def versionedIngestExpect(stream: DataFrame, dir: String,
      checkpoint: String, expectations: Seq[(String, org.apache.spark.sql.Column)]):
      org.apache.spark.sql.streaming.StreamingQuery = {
    require(expectations.nonEmpty, "versionedIngestExpect: no expectations")
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ingestExpectBatch(batch, dir, id, expectations)
      }
      .start()
  }

  /** One gated exactly-once ingest batch — the per-batch body shared by
    * [[versionedIngestExpect]] and the `graft.versioned` streaming SINK
    * ([[graft.sources.VersionedStreamSink]]): valid rows append as the
    * batch's delta commit, rejects land in the `_quarantine` sidecar
    * tagged with the violated gate names and the commit version; a
    * replayed batch id short-circuits BEFORE either write.
    */
  private[graft] def ingestExpectBatch(batch: DataFrame, dir: String,
      id: Long,
      expectations: Seq[(String, org.apache.spark.sql.Column)]): Unit = {
    val (ok, viol) = graft.operators.Versioned.gateCols(expectations)
    // The quarantine write rides BEFORE the commit seals (the
    // `beforeSeal` hook), INTO the claimed version's own dir: sealed
    // first, a crash between seal and quarantine would make the replay
    // short-circuit on the batch-id marker and permanently lose the
    // rejected rows — exactly-once for the table but not for the
    // advertised quarantine contract. Sealed last, a crash instead
    // leaves debris inside an UNSEALED version dir, which
    // [[graft.operators.Versioned.quarantine]] (committed versions
    // only) never reads and vacuum removes with the hole — so BOTH
    // sides replay exactly-once, and retention can't resurface debris.
    graft.operators.Versioned
      .appendBatchIdempotent(batch.filter(ok), dir, id, beforeSeal = { v =>
        batch.filter(!ok).withColumn("violations", viol)
          .withColumn("commit_version", lit(v))
          .write.mode("overwrite")
          .parquet(graft.operators.Versioned.quarantineDir(dir, v))
      })
    ()
  }

  def maintainAggStream(cdc: DataFrame, groupO: String, groupN: String,
      valO: String, valN: String): DataFrame = {
    val minus = cdc.filter(col("change_type").isin("removed", "changed"))
      .select(col(groupO).as("grp"), lit(-1L).as("cnt"),
        (-col(valO)).cast("long").as("sum_v"))
    val plus = cdc.filter(col("change_type").isin("added", "changed"))
      .select(col(groupN).as("grp"), lit(1L).as("cnt"),
        col(valN).cast("long").as("sum_v"))
    minus.unionByName(plus)
      .groupBy("grp").agg(sum("cnt").as("cnt"), sum("sum_v").as("sum_v"))
      .filter(col("cnt") > 0)
  }
}
