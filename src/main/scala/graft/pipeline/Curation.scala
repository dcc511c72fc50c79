package graft.pipeline

import graft.{Q, Tables => T}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composition a real training-data
  * pipeline runs over raw crawl text, assembled from the operators this
  * library already ships one-by-one (SURVEY.md §2.10 north star; the
  * reference's per-operator surface stops at single passes, so the chain
  * itself is the extension):
  *
  *   1. language filter    — predicted language (TextAnalysis.langId) = 'en'
  *   2. quality gate       — ≥ 5 tokens and distinct-unigram ratio ≥ 0.3
  *                           (the Gopher-style repetition screen)
  *   3. exact dedup        — keep the smallest doc_id per md5(normalized text)
  *   4. near-dup removal   — MinHash-LSH verified pairs over the survivors
  *                           (Dedup.nearDuplicatePairs); greedily drop the
  *                           LARGER id of every pair, i.e. first-seen wins
  *   5. reproducible sample — md5 hash-bucket of doc_id < 50%
  *
  * Every stage is deterministic and engine-portable (md5 keys, integer
  * ratios rounded before compare), so the WHOLE chain — not just each
  * operator — is hash-checked against a single DuckDB CTE chain
  * (`q_pipeline_curate`), and the per-stage survivor funnel is checked by
  * `q_pipeline_funnel`.
  *
  * Scale shape (100 TB): stages 1–2 and 5 are per-row expressions — no
  * shuffle, applied BEFORE anything wide so the expensive stages see only
  * survivors. Stages 1–2 and stage 3's key are native byte passes over the
  * text ([[graft.functions.TextScan]]), so the gate filter stays in
  * whole-stage codegen. Stage 3 is one hash-shuffle on a 128-bit key with
  * map-side combine. Stage 4 materializes the stage-3 survivors ONCE,
  * together with their shingle hashes and signature (one md5 per shingle):
  * that job is the only one that reads the input and runs the gates and
  * the stage-3 shuffle. The banded-LSH pipeline (one exchange on the small band key,
  * candidates ~n·bands — never n²) and the half-width anti-join on doc_id
  * both read the materialization. Total: three narrow shuffles over
  * ever-shrinking survivor sets, each run once.
  *
  * Near-dup drop rule: "larger id of any verified pair" is the greedy
  * first-seen-wins rule (Lee et al.-style). On a pair chain a–b, b–c it can
  * drop BOTH b and c even when (a,c) was never verified — acceptable for
  * curation (recall over precision); cluster-canonical selection is the
  * [[Dedup.duplicateClusters]] path.
  */
object Curation {

  /** Stage 1: keep docs whose PREDICTED language (stopword-hits argmax over
    * the tiny built-in lists, [[TextAnalysis.langId]] — one native byte pass
    * per doc) is `keep` — the labeled `lang` column is not consulted,
    * mirroring a real crawl where labels don't exist.
    */
  def stageLang(docs: DataFrame, keep: String = "en"): DataFrame =
    docs.filter(TextAnalysis.langId(col("text")) === keep)

  /** Stage 2: Gopher-style repetition/length gate on normalized whitespace
    * tokens (`toks = split(normText(text), ' ')`): `size(toks) >= minTokens
    * && round(size(array_distinct(toks)) / size(toks), 6) >= minUniqRatio`.
    * The ratio is rounded to 6 places BEFORE the threshold compare so the
    * oracle's double arithmetic can't flip a boundary doc. One native byte
    * pass ([[graft.functions.TextScan.qualityGate]]) counts the tokens and
    * the distinct ones; spelled with `split`/`array_distinct`, the three
    * uses of `toks` each re-ran the regex normalization.
    */
  def stageQuality(docs: DataFrame, minTokens: Int = 5,
      minUniqRatio: Double = 0.3): DataFrame =
    docs.filter(graft.functions.TextScan.qualityGate(col("text"), minTokens,
      minUniqRatio))

  /** Stage 3: exact dedup keyed on md5(normalized text) — fixed-width
    * shuffle key, min_by keeps the smallest doc_id's whole row (hash agg
    * with map-side partial combine; no per-group sort).
    */
  def stageExact(docs: DataFrame): DataFrame =
    exactKeyed(docs).drop("h")

  /** [[stageExact]] with the content-hash key retained — the single
    * definition of the exact-dedup stage; [[curateIncremental]] keeps `h`
    * for its corpus anti-join.
    */
  private def exactKeyed(docs: DataFrame): DataFrame =
    docs
      .withColumn("h", md5(Dedup.normText(col("text"))))
      .groupBy("h")
      .agg(min_by(struct(col("doc_id"), col("lang"), col("source"),
        col("text")), col("doc_id")).as("r"))
      .select(col("h"), col("r.doc_id"), col("r.lang"), col("r.source"),
        col("r.text"))

  /** Stage 4: drop the larger id of every LSH-verified near-dup pair among
    * the survivors. Returns `docs`' columns (which must not include
    * `hv`/`sig`). The anti-join key is the bare doc_id — document text never
    * rides this exchange.
    *
    * Without `precomputedPairs` the pairs are derived in-query, with
    * [[Dedup.nearDuplicatePairs]]'s signature, banding and verify code
    * ([[DedupIndex.withSignatures]] → [[DedupIndex.signedComponents]] →
    * [[DedupIndex.selfPairs]]): `docs` is checkpointed ONCE together with
    * its `hv`/`sig` columns, and that one materialization serves the
    * components and the anti-join's left side. Left lazy, `docs` would be
    * re-derived per consumer — its whole upstream (scan, gates, exact
    * shuffle) run twice.
    *
    * `precomputedPairs` (the persisted [[DedupIndex]] pair table) skips the
    * in-query LSH derivation: near-dup pairs among a SUBSET of the corpus
    * are exactly the corpus pairs with both endpoints in the subset (band
    * keys and Jaccard are per-document/per-pair facts), so two semi-joins
    * on bare ids replace the whole shingle→signature→band→verify pipeline —
    * at 100 TB, the difference between an id-join job and a corpus re-scan.
    * This branch leaves `docs` as given: the caller materializes it if it
    * has more consumers ([[curate]] does).
    */
  def stageNear(docs: DataFrame, precomputedPairs: Option[DataFrame] = None):
      DataFrame = {
    def dropLarger(from: DataFrame, pairs: DataFrame): DataFrame =
      from.join(pairs.select(col("doc_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    precomputedPairs match {
      case Some(p) =>
        val ids = docs.select(col("doc_id"))
        dropLarger(docs,
          p.join(ids.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
            .join(ids.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi"))
      case None =>
        val signed = graft.Ckpt(DedupIndex.withSignatures(docs, "text"))
        dropLarger(signed,
          DedupIndex.selfPairs(DedupIndex.signedComponents(signed, "doc_id")))
          .drop("hv", "sig")
    }
  }

  /** Stage 5: reproducible hash-bucket sample (see [[Sampling.hashBucket]]). */
  def stageSample(docs: DataFrame, pct: Int = 50): DataFrame =
    docs.filter(Sampling.hashBucket(col("doc_id")) < pct)

  /** The full chain; emits the curated (doc_id, lang, source). Either way
    * the stage-3 survivors are materialized once, so the input is read and
    * the gate+exact chain runs once per call: without `precomputedPairs`
    * [[stageNear]] checkpoints them with their signatures; with it they feed
    * three id-joins (two semi, one anti) and are checkpointed here.
    */
  def curate(docs: DataFrame,
      precomputedPairs: Option[DataFrame] = None): DataFrame = {
    val exact = stageExact(stageQuality(stageLang(docs)))
    val survivors =
      if (precomputedPairs.isDefined) graft.Ckpt(exact) else exact
    stageSample(stageNear(survivors, precomputedPairs))
      .select("doc_id", "lang", "source")
  }

  /** Per-stage survivor counts (stage 1 = raw input … 6 = sampled), the
    * monitoring row every curation run logs. Each stage's count is its own
    * aggregation over the shared lazy chain; the stage-4 survivor set has
    * multiple consumers (its own count + the near-dup stage), so it is
    * checkpointed — the production pattern for a multi-consumer funnel.
    */
  def funnel(docs: DataFrame,
      precomputedPairs: Option[DataFrame] = None): DataFrame = {
    val s1 = docs.select("doc_id", "lang", "source", "text")
    val s2 = stageLang(s1)
    val s3 = stageQuality(s2)
    val s4 = graft.Ckpt(stageExact(s3))
    val s5 = stageNear(s4, precomputedPairs)
    val s6 = stageSample(s5)
    Seq(s1, s2, s3, s4, s5, s6).zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(i + 1).as("stage"), col("n_docs"))
    }.reduce(_.union(_))
  }

  /** Incremental curation — the daily-ingest variant of [[curate]]: gate a
    * NEW batch, dedup it against the already-ingested corpus AND within
    * itself, sample. The corpus contributes only two side tables — its
    * content-hash set (exact dedup) and its [[DedupIndex]] components (near
    * dedup) — both of which a production pipeline persists (`DedupIndex`
    * literally, the hash set as one more index component or a Bloom), so
    * the corpus text is scanned once here and never at scale. Drop rules:
    * a batch doc exact- or near-matching the corpus always drops (the
    * corpus copy is first-seen); within the batch the larger id of every
    * verified pair drops, exactly like [[stageNear]].
    *
    * Scale shape: per-row gates shrink the batch before anything wide; the
    * exact stage is one hash-shuffle of the BATCH plus an anti-join against
    * the fixed-width corpus hash set; the near stage is the E83 lookup
    * (batch-only signatures, one (band, bsig) equi-join) plus the banded
    * self-join of the batch survivors. Nothing in the job is proportional
    * to corpus size except the two prebuilt side tables it reads.
    */
  def curateIncremental(batch: DataFrame, corpus: DataFrame): DataFrame = {
    val gated = stageQuality(stageLang(batch))
    val corpusHashes = corpus
      .select(md5(Dedup.normText(col("text"))).as("h")).distinct()
    // checkpoint the gate+dedup tail: three consumers below (within-batch
    // signatures, cross-corpus lookup, the final anti-join's left side)
    // would each replay the gates otherwise
    val exact = graft.Ckpt(
      exactKeyed(gated)
        .join(corpusHashes, Seq("h"), "left_anti")
        .drop("h"))
    val dropWithin = DedupIndex.selfPairs(
      DedupIndex.components(exact, "text", "doc_id"))
      .select(col("doc_b").as("doc_id"))
    val dropCross = DedupIndex.lookup(
      DedupIndex.components(corpus, "text", "doc_id"), exact, "text", "doc_id")
      .select(col("doc_new").as("doc_id"))
    val near = exact.join(dropWithin.union(dropCross).distinct(),
      Seq("doc_id"), "left_anti")
    stageSample(near).select("doc_id", "lang", "source")
  }

  /** [[curateIncremental]] over a PERSISTED [[DedupIndex]] that covers
    * corpus ∪ batch (the production shape: the index is maintained by
    * append as batches land, and the daily curation job only reads it):
    *
    *   - exact stage: anti-join the gated batch against the persisted
    *     content-hash component, restricted to corpus ids;
    *   - near stage: both drop sets come from the persisted PAIR table —
    *     a batch survivor drops if it pairs with any corpus doc (cross) or
    *     is the larger end of a pair between two survivors (within). Pair
    *     facts depend only on their endpoints, so restricting the corpus
    *     pair table by id-membership is exact, and `q_pipeline_curate_incr`
    *     keeps hashing against the same oracle as the self-contained path.
    *
    * Nothing in this job reads corpus TEXT: the corpus contributes its id
    * column (one pruned parquet scan) and two persisted side tables. The
    * batch side still computes its own gates and hashes — it's new data.
    */
  def curateIncrementalIndexed(batch: DataFrame, corpusIds: DataFrame,
      pairs: DataFrame, hashes: DataFrame): DataFrame = {
    val cid = corpusIds.select(col(corpusIds.columns.head).as("cid"))
    val gated = stageQuality(stageLang(batch))
    val corpusHashes = hashes
      .join(cid.select(col("cid").as("doc")), Seq("doc"), "left_semi")
      .select("h").distinct()
    val exact = graft.Ckpt(
      exactKeyed(gated)
        .join(corpusHashes, Seq("h"), "left_anti")
        .drop("h"))
    val ids = exact.select(col("doc_id"))
    val dropWithin = pairs
      .join(ids.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(ids.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
      .select(col("doc_b").as("doc_id"))
    // pairs are stored doc_a < doc_b — a survivor↔corpus pair can sit in
    // either orientation, so both directions are collected
    val dropCross = pairs
      .join(cid.select(col("cid").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(ids.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
      .select(col("doc_b").as("doc_id"))
      .union(pairs
        .join(cid.select(col("cid").as("doc_b")), Seq("doc_b"), "left_semi")
        .join(ids.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
        .select(col("doc_a").as("doc_id")))
    val near = exact.join(dropWithin.union(dropCross).distinct(),
      Seq("doc_id"), "left_anti")
    stageSample(near).select("doc_id", "lang", "source")
  }

  val queries: Map[String, Q] = Map(
    // North-star composition: the whole 5-stage curation chain, hash-checked
    // end to end (oracle re-derives every stage including the full LSH pair
    // pipeline over the stage-3 survivors). The near-dup stage reads the
    // persisted DedupIndex pair table (two id semi-joins) instead of
    // re-shingling the survivors — the r6 index-lifecycle principle applied
    // to the composition itself.
    "q_pipeline_curate" -> ((s, dir) =>
      curate(T.documents(s, dir).select("doc_id", "lang", "source", "text"),
        Some(DedupIndex.pairs(s, dir)))),

    // Survivor funnel: one row per stage with the count entering/leaving it.
    "q_pipeline_funnel" -> ((s, dir) =>
      funnel(T.documents(s, dir), Some(DedupIndex.pairs(s, dir)))),

    // Incremental ingest: curate "today's crawl" (doc_id % 5 == 0) against
    // the already-ingested corpus (the rest) — gates, exact + near dedup
    // both against the corpus and within the batch, reproducible sample.
    // The corpus side is served entirely by the persisted index (content
    // hashes + pair table); corpus TEXT is never read — only its id column.
    "q_pipeline_curate_incr" -> ((s, dir) => {
      val docs = T.documents(s, dir).select("doc_id", "lang", "source", "text")
      curateIncrementalIndexed(
        docs.filter(pmod(col("doc_id"), lit(5)) === 0),
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0).select("doc_id"),
        DedupIndex.pairs(s, dir),
        DedupIndex.contentHashes(s, dir))
    })
  )

  /** Shared oracle CTE chain re-deriving every stage. `lang_ok`/`qual`/
    * `exact` mirror stages 1–3; [[Dedup.lshPairsMd5Sql]] (pointed at the
    * `exact` survivor set) re-derives stage 4's pair pipeline; `near`/`samp`
    * apply the drop rule and the hash-bucket sample.
    */
  /** Just the gate CTEs (`base` → `lang_ok` → `qual`), parameterized on the
    * source relation — `q_pipeline_curate_incr` points them at the batch.
    */
  private def gateCtesSql(src: String): String =
    s"""base AS (
       |  SELECT doc_id, lang, source, text,
       |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
       |  FROM $src),
       |lscore AS (
       |  SELECT doc_id, lang, source, text, toks,
       |    len(list_filter(toks, x -> list_contains(
       |      ['the','a','of','and','to','in','is','it','on','for'], x))) AS s_en,
       |    len(list_filter(toks, x -> list_contains(
       |      ['der','die','das','und','ist','nicht','ein','mit','zu','auf'], x))) AS s_de,
       |    len(list_filter(toks, x -> list_contains(
       |      ['le','la','les','et','est','un','une','dans','pour','que'], x))) AS s_fr
       |  FROM base),
       |lang_ok AS (
       |  SELECT doc_id, lang, source, text, toks FROM lscore
       |  WHERE (CASE WHEN s_fr >= s_en AND s_fr >= s_de THEN 'fr'
       |              WHEN s_en >= s_de THEN 'en' ELSE 'de' END) = 'en'),
       |qual AS (
       |  SELECT doc_id, lang, source, text, toks FROM lang_ok
       |  WHERE len(toks) >= 5
       |    AND round(CAST(len(list_distinct(toks)) AS DOUBLE) /
       |              CAST(len(toks) AS DOUBLE), 6) >= 0.3)""".stripMargin

  private val curateCtesSql: String =
    s"""${gateCtesSql("documents")},
       |exact AS (
       |  SELECT doc_id, lang, source, text FROM (
       |    SELECT doc_id, lang, source, text,
       |      row_number() OVER (
       |        PARTITION BY md5(array_to_string(toks, ' '))
       |        ORDER BY doc_id) AS rn
       |    FROM qual) WHERE rn = 1),
       |${Dedup.lshPairsMd5Sql("exact")},
       |near AS (
       |  SELECT e.doc_id, e.lang, e.source FROM exact e
       |  WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.doc_b = e.doc_id)),
       |samp AS (
       |  SELECT doc_id, lang, source FROM near
       |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_pipeline_curate" ->
      s"""WITH $curateCtesSql
         |SELECT doc_id, lang, source FROM samp
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_pipeline_funnel" ->
      s"""WITH $curateCtesSql
         |SELECT * FROM (
         |  SELECT CAST(1 AS INTEGER) AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM base
         |  UNION ALL SELECT 2, count(*) FROM lang_ok
         |  UNION ALL SELECT 3, count(*) FROM qual
         |  UNION ALL SELECT 4, count(*) FROM exact
         |  UNION ALL SELECT 5, count(*) FROM near
         |  UNION ALL SELECT 6, count(*) FROM samp)
         |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Incremental ingest: gates over the batch only; exact anti-join vs the
    // corpus content-hash set; near-dup candidates from ONE banded chain
    // over batch-survivors ∪ corpus (disjoint id spaces: % 5) with the drop
    // rule "batch doc drops on any corpus match, larger id drops within the
    // batch"; then the hash-bucket sample.
    "q_pipeline_curate_incr" ->
      s"""WITH bsrc AS (
         |  SELECT doc_id, lang, source, text FROM documents WHERE doc_id % 5 = 0),
         |${gateCtesSql("bsrc")},
         |exact0 AS (
         |  SELECT doc_id, lang, source, text, h FROM (
         |    SELECT doc_id, lang, source, text,
         |      md5(array_to_string(toks, ' ')) AS h,
         |      row_number() OVER (
         |        PARTITION BY md5(array_to_string(toks, ' '))
         |        ORDER BY doc_id) AS rn
         |    FROM qual) WHERE rn = 1),
         |chash AS (
         |  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
         |  FROM documents WHERE doc_id % 5 <> 0),
         |exact AS (
         |  SELECT e.doc_id, e.lang, e.source, e.text FROM exact0 e
         |  WHERE NOT EXISTS (SELECT 1 FROM chash c WHERE c.h = e.h)),
         |allsrc AS (
         |  SELECT doc_id, text FROM exact
         |  UNION ALL
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
         |${Dedup.lshBandedCtesSql("allsrc")},
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bsig = b.bsig
         |  WHERE b.doc_id % 5 = 0
         |    AND (a.doc_id % 5 <> 0 OR a.doc_id < b.doc_id)),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b FROM cand c
         |    JOIN hs x ON x.doc_id = c.doc_a
         |    JOIN hs y ON y.doc_id = c.doc_b
         |  WHERE round(CAST(len(list_intersect(x.hv, y.hv)) AS DOUBLE) /
         |        CAST(len(list_distinct(x.hv || y.hv)) AS DOUBLE), 6) >= 0.5),
         |near AS (
         |  SELECT e.doc_id, e.lang, e.source FROM exact e
         |  WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.doc_b = e.doc_id)),
         |samp AS (
         |  SELECT doc_id, lang, source FROM near
         |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50)
         |SELECT doc_id, lang, source FROM samp
         |ORDER BY ALL NULLS FIRST""".stripMargin
  )
}
