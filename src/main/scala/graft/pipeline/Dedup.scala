package graft.pipeline

import graft.{Q, Tables => T}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Deduplication operators for training-data pipelines (SURVEY.md §2.10 L1/L2
  * + the north-star extensions in BASELINE.json): exact, MinHash-LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Scale design (the whole point of these ops is the 100 TB case):
  *  - exact dedup is one hash-shuffle on the dedup key; the scale variant
  *    keys on a 128-bit content hash so the shuffle key is 16 bytes, not the
  *    document text.
  *  - MinHash-LSH never builds the n² pair matrix: docs shard into
  *    (band, band_signature) buckets — one shuffle on a small key — and only
  *    within-bucket pairs are candidate-joined, then Jaccard-verified.
  *  - shingles and signatures are one-pass native expressions over the
  *    60-bit md5 bridge ([[graft.functions.TextHashes]]) — no UDF
  *    serialization, deterministic across runs and cluster sizes, and
  *    reproduced bit-for-bit by the DuckDB oracle.
  */
object Dedup {

  /** Normalized text: lowercase, collapse whitespace, trim —
    * `trim(regexp_replace(lower(c), '\s+', ' '))`, computed as Spark's
    * `lower` then one byte pass ([[graft.functions.TextScan.normText]]).
    */
  def normText(c: Column): Column = graft.functions.TextScan.normText(c)

  /** Distinct word n-gram shingles (default 3-word) of normalized text.
    *
    * Pure-DataFrame shape (kept as documentation): `ws = split(normText, " ");
    * array_distinct(transform(sequence(0, size(ws)-n), i ->
    * concat_ws(" ", slice(ws, i+1, n))))` — but HOF lambdas are interpreted
    * per element (~40µs each; 8.6 s over sf0.1 documents), so the shipped
    * implementation is the one-pass native [[graft.functions.ShingleStrings]].
    * Its words are Java's `toLowerCase(ROOT).trim.split("\\s+")` (not
    * [[normText]]'s Spark `lower`), cut by the byte scanner that also
    * digests the hashed set `hv` ([[graft.functions.TextScan.shingleHashes]]).
    */
  def shingles(c: Column, n: Int = 3): Column =
    graft.functions.TextHashes.shingleStrings(c, n)

  /** Exact Jaccard similarity of two distinct-element string arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, 0.0).otherwise(inter / uni)
  }

  /** Content-defined chunk hashes (Rabin-Karp rolling-hash boundaries):
    * shift-robust chunk fingerprints — inserting a prefix invalidates only
    * the chunk containing the edit. See
    * [[graft.functions.ContentChunks]].
    */
  def contentChunks(c: Column, avgBits: Int = 6): Column =
    graft.functions.TextHashes.contentChunks(c, avgBits)

  /** MinHash-LSH near-duplicate pairs: k-perm md5 signatures, `bands`
    * bands of k/bands rows, candidate pairs from band-bucket collisions,
    * verified by exact Jaccard ≥ threshold over the md5 hashed shingle sets.
    * Returns (doc_a, doc_b, jaccard).
    *
    * This is [[DedupIndex.selfPairs]] over in-query [[DedupIndex.components]]
    * — the same algebra the persisted index runs, so DuckDB re-derives every
    * candidate pair and Jaccard value ([[lshPairsMd5Sql]]). Plan shape
    * (scale-critical): the band shuffle carries only (band, bsig, doc),
    * never the shingle arrays; candidate pairs are deduped as bare id pairs,
    * and the shingle sets are joined back for the verify step only.
    */
  def nearDuplicatePairs(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 8, bands: Int = 4, threshold: Double = 0.5): DataFrame =
    DedupIndex.selfPairs(
      DedupIndex.components(docs, textCol, idCol, k, bands), threshold)

  /** Duplicate clusters from a pair list: connected components by iterative
    * min-label propagation. Returns (id, label) where `label` is the
    * smallest id in the component — the canonical survivor, so "keep one per
    * cluster" is `filter(id === label)`.
    *
    * Scale shape: each iteration is one equi-join + one (id) aggregation —
    * all narrow keys; rounds needed = O(component diameter), and near-dup
    * components are overwhelmingly tiny (pairs/triples), so 3–4 rounds
    * converge in practice. `localCheckpoint` cuts the growing lineage so
    * iteration N doesn't replay 1..N-1; the per-round convergence count is
    * the standard driver-side fixpoint check (an O(1)-row action, not a
    * data collect).
    */
  def duplicateClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // materialize the PAIR list once, BEFORE the symmetric union: `pairs`
    // is typically the tail of an expensive pipeline (LSH candidate
    // generation + verify), and both the loop below and the union's two
    // branches would otherwise re-execute it (the old spelling
    // checkpointed the union, so the pipeline still ran twice inside the
    // one materialization).
    val p = graft.Ckpt(pairs.select(col("doc_a"), col("doc_b")))
    // the symmetric union stays LAZY: both branches are scans of the
    // checkpoint, so each round's join reads it twice at RDD-scan cost —
    // a second materialization of the union measured as pure overhead on
    // persisted-pair inputs
    val edges = p.select(col("doc_a").as("x"), col("doc_b").as("y"))
      .union(p.select(col("doc_b").as("x"), col("doc_a").as("y")))
    var labels = graft.Ckpt(
      edges.select(col("x").as("id")).distinct()
        .withColumn("label", col("id")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val neighborMin = edges
        .join(labels.select(col("id").as("y"), col("label").as("ylabel")), Seq("y"))
        .groupBy(col("x").as("id")).agg(min(col("ylabel")).as("nlabel"))
      val updated = graft.Ckpt(
        labels.join(neighborMin, Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"),
            (col("nlabel") < col("label")).as("changed")))
      converged = updated.filter(col("changed")).limit(1).count() == 0
      labels = updated.select("id", "label")
      iter += 1
    }
    // A capped exit would return SPLIT components that downstream dedup
    // (and the exact recursive-CTE oracle) would silently disagree with —
    // fail loudly and name the fix instead.
    if (!converged) throw new IllegalStateException(
      s"duplicateClusters did not converge in $maxIters rounds — component " +
        "diameter exceeds the cap; raise maxIters or use " +
        "duplicateClustersLogStar (O(log n) rounds)")
    labels
  }

  /** Connected components by alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): O(log n) rounds versus [[duplicateClusters]]' O(diameter) —
    * the upgrade when components are DEEP (long duplicate chains, e.g.
    * boilerplate that drifts one edit per crawl snapshot). Same contract:
    * (id, label) with `label` the component minimum.
    *
    * Scale shape per round: two narrow (key, key) aggregations + joins over
    * the edge list, `localCheckpoint` between rounds, and an O(1)-row
    * signature action for the fixpoint check. Min-label stays the default —
    * near-dup components are overwhelmingly shallow and its per-round
    * constant is smaller.
    */
  def duplicateClustersLogStar(pairs: DataFrame, maxIters: Int = 25): DataFrame =
    logStarWithRounds(pairs, maxIters)._1

  /** [[duplicateClustersLogStar]] plus the round count (for convergence
    * tests: a chain of length n must converge in ~log2(n) rounds).
    */
  def logStarWithRounds(pairs: DataFrame, maxIters: Int = 25):
      (DataFrame, Int) = {
    // canonical undirected edges (u < v), no self-loops
    var edges = graft.Ckpt(pairs
      .select(least(col("doc_a"), col("doc_b")).as("u"),
        greatest(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct())

    // (count, bit_xor of row hashes): O(1)-row equality signature
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.select(xxhash64(col("u"), col("v")).as("h"))
        .agg(count(lit(1)), expr("bit_xor(h)")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // large-star(a): connect every LARGER neighbor b of a to
    // m(a) = min({a} ∪ N(a)); m <= a < b keeps the edge canonical.
    def largeStar(e: DataFrame): DataFrame = {
      val adj = e.select(col("u").as("a"), col("v").as("b"))
        .union(e.select(col("v").as("a"), col("u").as("b")))
      val m = adj.groupBy("a").agg(min("b").as("minb"))
        .select(col("a"), least(col("a"), col("minb")).as("m"))
      adj.filter(col("b") > col("a"))
        .join(m, Seq("a"))
        .select(col("m").as("u"), col("b").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }

    // small-star(a): connect every SMALLER neighbor (and a itself) to the
    // minimum of the smaller neighborhood.
    def smallStar(e: DataFrame): DataFrame = {
      val adj = e.select(col("u").as("a"), col("v").as("b"))
        .union(e.select(col("v").as("a"), col("u").as("b")))
      val sm = adj.filter(col("b") < col("a"))
      val m = sm.groupBy("a").agg(min("b").as("m"))
      val toSmaller = sm.join(m, Seq("a"))
        .select(col("m").as("u"), col("b").as("v"))
        .filter(col("u") =!= col("v"))
      val toSelf = m.select(col("m").as("u"), col("a").as("v"))
      toSmaller.union(toSelf).distinct()
    }

    var sig = signature(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val updated = graft.Ckpt(smallStar(largeStar(edges)))
      val usig = signature(updated)
      converged = usig == sig
      edges = updated
      sig = usig
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"log-star components did not converge in $maxIters rounds (log* n " +
        "should need <= ~6) — raise maxIters")
    // converged edges are stars: u = component min, v = member
    val labels = edges.select(col("v").as("id"), col("u").as("label"))
      .groupBy("id").agg(min("label").as("label"))
      .union(edges.select(col("u").as("id"), col("u").as("label")).distinct())
      .groupBy("id").agg(min("label").as("label"))
    (labels, iter)
  }

  /** Deterministic integer PageRank over the undirected near-dup pair graph
    * — CENTRALITY-based canonical selection within duplicate components:
    * where min-label keeps the smallest id, the highest-rank member is the
    * version most connected to the rest of its component (the hub of a
    * boilerplate drift cluster), and `argmax(rank) per label` picks it.
    *
    * All arithmetic is exact-integer in micro-units so every engine lands
    * on identical ranks (double PageRank is summation-order-dependent and
    * would never hash-match): rank₀ = 10⁶; per round each node sends
    * `rank DIV degree` to each neighbor and collects
    * `(100-d)% · 10⁶ + (d% · Σ contribs) DIV 100` with d = 85. Fixed
    * `iters` rounds, no convergence test — the oracle unrolls the same
    * rounds as a CTE chain.
    *
    * Scale shape: one narrow (src) join + one (dst) aggregation per round
    * over a checkpointed edge list — the alternating-exchange pattern of
    * [[duplicateClusters]]; state is one long per node.
    */
  def pageRank(pairs: DataFrame, iters: Int = 5, scale: Long = 1000000L,
      dampingPct: Int = 85): DataFrame = {
    val edges = graft.Ckpt(pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val ed = graft.Ckpt(edges.join(deg, Seq("src")))
    val base = scale * (100 - dampingPct) / 100
    var ranks = deg.select(col("src").as("id"), lit(scale).as("rank"))
    for (_ <- 1 to iters) {
      // every pair-graph node has degree >= 1 and an inbound neighbor
      // (edges are symmetric), so the aggregation re-covers every node —
      // no dangling-mass term needed
      ranks = ed
        .join(ranks.select(col("id").as("src"), col("rank")), Seq("src"))
        .select(col("dst").as("id"), expr("rank div deg").as("c"))
        .groupBy("id").agg(sum(col("c")).as("s"))
        .select(col("id"),
          (lit(base) + expr(s"($dampingPct * s) div 100")).as("rank"))
    }
    ranks.select(col("id").as("doc_id"), col("rank").as("rank_micro"))
  }

  /** Canonical-per-component selection by CENTRALITY: joins
    * [[duplicateClusters]] labels with [[pageRank]] ranks and keeps, per
    * component, the member with the highest rank (ties break to the
    * smallest id). The "keep the best version" policy for boilerplate-drift
    * clusters, where min-id keeps whichever copy happened to be crawled
    * first. One extra narrow join + one (label) aggregation on top of the
    * two iterative passes; `pairs` should be checkpointed by the caller if
    * it tails an expensive pipeline (both consumers traverse it).
    */
  def canonicalByRank(pairs: DataFrame): DataFrame = {
    val labels = duplicateClusters(pairs)
    val ranks = pageRank(pairs)
    labels.join(ranks, labels("id") === ranks("doc_id"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"),
        min_by(struct(col("doc_id"), col("rank_micro")),
          struct((-col("rank_micro")).as("nr"), col("doc_id"))).as("c"))
      .select(col("label"), col("c.doc_id").as("canonical_id"),
        col("c.rank_micro").as("canonical_rank"),
        col("cluster_size").cast("long").as("cluster_size"))
  }

  /** Per-document duplicated-span profile: which fraction of a document's
    * L-token windows also appear in OTHER documents (the exact-substring
    * dedup signal of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" — boilerplate/licence blocks/copypasta show up
    * as high dup fractions even when whole-document hashes differ).
    *
    * Scale shape: windows hash to 15-hex md5 prefixes BEFORE the exchange
    * (only (doc_id, 15-char key) rides the two shuffles: one countDistinct
    * by window, one per-doc sum after an equi-join back). Distinct windows
    * per doc — a doc repeating its own boilerplate counts once.
    */
  def duplicatedSpans(docs: DataFrame, l: Int = 8): DataFrame = {
    // native one-pass positional hashes + distinct, NOT shingles()+md5():
    // shingles materializes every l-gram as a ~60-byte string inside a
    // per-row array before hashing, and at the sf1 probe that allocation
    // churn made this query scale 16.7x for 10x data (GC amplification);
    // the fused hash path restored ~linear scaling. Hash values are
    // identical (substr(md5(space-joined gram), 1, 15)), so the oracle is
    // unchanged; distinct-over-hashes ≡ distinct-over-grams (md5).
    import graft.functions.TextHashes.spanMd5Hashes
    // two consumers (the shared-gram agg + the join back): one corpus pass
    val grams = graft.Ckpt(docs
      .select(col("doc_id"),
        explode(array_distinct(spanMd5Hashes(col("text"), l))).as("h")))
    // (doc_id, h) pairs are distinct by construction, so a plain count per
    // h equals the distinct-doc count — skips the two-phase distinct agg
    // (the oracle keeps HAVING count(DISTINCT doc_id), same values)
    val shared = grams.groupBy("h")
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"), lit(1).as("dup"))
    grams.join(shared, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        coalesce(sum(col("dup")), lit(0)).cast("long").as("n_dup_spans"))
  }

  /** Exact-substring dedup APPLIED, not just counted (the removal step of
    * Lee et al.'s dedup): a word is dropped iff it sits inside any l-gram
    * whose hash appears in >= minDocs distinct documents; survivors are
    * reassembled in order. Returns per doc (n_words, n_removed, clean_md5)
    * — the md5 of the reassembled text hash-proves byte-exact removal
    * without shipping document bodies through the result.
    *
    * Scale shape: all narrow keys — positional gram hashes explode per row
    * (native one-pass [[graft.functions.TextHashes.spanMd5Hashes]]), the
    * shared-gram set is one (hash) aggregation, dup starts come back on the
    * same hash key, and coverage is a per-doc window: a word at position q
    * is covered iff some duplicated gram STARTS in [q-l+1, q], which over
    * dense positions is `max(flag) OVER (ROWS l-1 PRECEDING..CURRENT)` —
    * linear in corpus size, never O(words x starts). Reassembly sorts only
    * each doc's own kept words (bounded by doc length, no global sort).
    */
  def removeDuplicatedSpans(docs: DataFrame, l: Int = 8, minDocs: Int = 2): DataFrame = {
    import graft.functions.TextHashes.spanMd5Hashes
    val toks = docs.select(col("doc_id"), split(normText(col("text")), " ").as("toks"))
    // two consumers (the shared-gram agg + the dup-start join): one pass
    val grams = graft.Ckpt(docs.select(col("doc_id"),
      posexplode(spanMd5Hashes(col("text"), l)).as(Seq("p", "h"))))
    val shared = grams.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("h")
    // one row per duplicated gram START (h determines (doc,p) uniquely here)
    val dupStarts = grams.join(shared, Seq("h"))
      .select(col("doc_id"), col("p").as("q"), lit(1).as("f"))
    val words = toks.select(col("doc_id"), posexplode(col("toks")).as(Seq("q", "word")))
    val cover = Window.partitionBy("doc_id").orderBy("q").rowsBetween(-(l - 1), 0)
    words.join(dupStarts, Seq("doc_id", "q"), "left")
      .withColumn("cov", max(coalesce(col("f"), lit(0))).over(cover))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("cov")).cast("long").as("n_removed"),
        array_sort(collect_list(when(col("cov") === 0,
          struct(col("q"), col("word"))))).as("kept"))
      .select(col("doc_id"), col("n_words"), col("n_removed"),
        md5(array_join(expr("transform(kept, s -> s.word)"), " ")).as("clean_md5"))
  }

  /** Benchmark decontamination: per training document, how many of its
    * L-token windows appear in the benchmark set (the n-gram-overlap
    * contamination check every LLM training run does against its eval
    * suites before training). `contaminated` = any overlap.
    *
    * Scale shape: benchmark window hashes are DISTINCT and tiny relative to
    * the corpus — explicitly broadcast, so the training corpus never
    * shuffles: per-row window hashing + a broadcast left join + one per-doc
    * aggregation.
    */
  def contamination(docs: DataFrame, bench: DataFrame, l: Int = 8): DataFrame = {
    val bg = bench
      .select(explode(shingles(col("text"), l)).as("g"))
      .select(substring(md5(col("g")), 1, 15).as("h")).distinct()
      .withColumn("hit", lit(1))
    docs
      .select(col("doc_id"), explode(shingles(col("text"), l)).as("g"))
      .select(col("doc_id"), substring(md5(col("g")), 1, 15).as("h"))
      .join(broadcast(bg), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        coalesce(sum(col("hit")), lit(0)).cast("long").as("n_bench_spans"))
      .withColumn("contaminated", col("n_bench_spans") > 0)
  }

  /** Cross-source n-gram overlap matrix — the corpus-diversity /
    * cross-source-contamination probe: for every pair of sources, the
    * exact Jaccard similarity of their distinct shingle-hash SETS, in
    * exact basis points. A near-identical mirror source shows up as a
    * ~10000 bp cell; a healthy mixture sits low.
    *
    * Scale shape: one corpus shingle pass collapsed to DISTINCT
    * (source, hash-prefix) rows, then a self-equi-join on the hash whose
    * fan-out per hash is bounded by (#sources sharing it)² ≤ S² — S is
    * the mixture's source count (dozens), so the pair explosion is
    * bounded by S² per hash, NEVER corpus². Set sizes broadcast. Pairs
    * with zero shared shingles do not appear (by construction of the
    * join), which is exactly the sparse representation a wide mixture
    * needs.
    */
  def sourceOverlap(docs: DataFrame, n: Int = 3): DataFrame = {
    // three consumers (sizes + both sides of the self-join): checkpoint
    // so the corpus shingle pass runs once
    val sh = graft.Ckpt(docs.select(col("source"),
        explode(shingles(col("text"), n)).as("g"))
      .select(col("source"), substring(md5(col("g")), 1, 15).as("h"))
      .distinct())
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("sz"))
    sh.select(col("source").as("src_a"), col("h"))
      .join(sh.select(col("source").as("src_b"), col("h")), Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_inter"))
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("sz").as("sz_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("sz").as("sz_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_inter"), col("sz_a"),
        col("sz_b"),
        expr("(10000 * n_inter) div (sz_a + sz_b - n_inter)")
          .as("jaccard_bp"))
  }

  /** EXACT set-similarity join via prefix filtering (the AllPairs/PPJoin
    * principle — Bayardo et al., "Scaling Up All Pairs Similarity
    * Search") — the exact counterpart of the approximate MinHash-LSH
    * pipeline: emits EVERY pair with shingle-set Jaccard ≥ num/den, no
    * probabilistic recall. Each doc's distinct shingle hashes sort into
    * one GLOBAL canonical order (ascending 60-bit md5 value); a doc of
    * size s exposes only its first s − ⌈t·s⌉ + 1 hashes as candidate
    * keys. Prefix-filtering guarantee: J(A,B) ≥ t ⟹ |A∩B| ≥
    * t·max(|A|,|B|), and two sets with overlap ≥ α must intersect within
    * their (size − α + 1)-prefixes — so the candidate equi-join on prefix
    * hashes misses nothing, and the exact integer verify
    * (inter·den ≥ num·union) keeps only true pairs. Returns
    * (doc_a, doc_b, n_inter, n_union, jaccard_bp).
    *
    * Scale shape: candidate fan-out is bounded by the prefix length
    * ((1−t)·s + 1 per doc — at t = ½, half the LSH pipeline's band
    * replication) times the per-hash doc frequency; the verify joins the
    * two docs' hash ARRAYS only for candidates, exactly the LSH verify
    * stage. The n² spelling exists only as this row's DuckDB oracle — a
    * hash match against it PROVES completeness on the corpus, which no
    * LSH row can claim.
    */
  /** Per-doc distinct hash sets laid out in the FREQUENCY-ordered global
    * canonical order (df asc, hash asc) — the AllPairs optimization that
    * makes prefix filtering effective: any global total order preserves
    * the completeness guarantee, and putting the RAREST hashes first
    * means each doc's exposed prefix is its least-common shingles, so the
    * candidate join's Σ df² collapses (on a stop-word-dense corpus the
    * value-ordered spelling degenerates toward all-pairs; this one does
    * not). One extra linear df aggregation at build.
    */
  private[graft] def freqOrderedSets(docs: DataFrame, n: Int): DataFrame = {
    // `ex` feeds both the df aggregation and the join below, but stays
    // LAZY: both references live inside ONE evaluation (every caller
    // checkpoints the frame this feeds), and the subtree ends at the
    // distinct()'s exchange — identical on both branches, so Spark's
    // ReusedExchange serves the second reference from the first's shuffle
    // files and the corpus explode+md5 scan runs once either way. The r14
    // eager Ckpt here paid an extra materialization job for recompute
    // that reuse already covered (measured this round: removing it cut
    // the q_dedup_setsim Ckpt-build phase with an identical plan row set
    // — the DedupIndex.lookup lesson).
    // ONE exchange serves the whole df-ordering phase (guide §2.4): hash
    // partitioning on `h` alone satisfies the clustering the distinct
    // needs (h is a subset of its keys, so all (doc_id, h) duplicates
    // colocate), the df aggregation groups BY h exchange-free on the same
    // partitioning, and the ex⋈dfq join is co-partitioned. The previous
    // spelling (`distinct()` then groupBy(h) then join on h) paid three
    // corpus-sized exchanges for the same row set — and the first one
    // deduped almost nothing, because [[shingles]] already emits DISTINCT
    // shingles per doc (only md5 collisions remain for distinct to fold).
    val ex = docs
      .select(col("doc_id"), explode(shingles(col("text"), n)).as("g"))
      .select(col("doc_id"),
        conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long").as("h"))
      .repartition(col("h"))
      .distinct()
    val dfq = ex.groupBy("h").agg(count(lit(1)).as("dfh"))
    ex.join(dfq, Seq("h"))
      .groupBy("doc_id")
      .agg(expr("transform(sort_array(collect_list(struct(dfh, h))), s -> s.h)")
        .as("hv"), count(lit(1)).as("sz"))
  }

  def setSimJoinExact(docs: DataFrame, tNum: Int, tDen: Int,
      n: Int = 3): DataFrame = {
    // `sets` feeds THREE consumers (the prefix explode + both sides of
    // the verify join); left lazy, Catalyst re-executes the whole
    // shingle-explode + distinct + df-ordering pipeline per consumer —
    // the corpus pass ran 3× (measured: the dominant cost of
    // q_dedup_setsim at sf0.1). Checkpointed, it runs once; the
    // materialized table is one (doc_id, hash-array, size) row per doc —
    // the same bounded footprint the verify join shuffles anyway.
    val sets = graft.Ckpt(freqOrderedSets(docs, n))
    // prefix length s − ⌈t·s⌉ + 1, integer: ceil(a/b) = (a + b − 1) div b
    val pfx = sets.withColumn("plen",
      (col("sz") - expr(s"(${tNum}L * sz + ${tDen}L - 1) div ${tDen}L")
        + lit(1L)).cast("int"))
      .select(col("doc_id"), explode(expr("slice(hv, 1, plen)")).as("h"))
    val cand = pfx.select(col("doc_id").as("doc_a"), col("h"))
      .join(pfx.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // Verify-stage algebra (guide §4 — expression cost in the hot path):
    // the Jaccard predicate collapses into the join condition, and spelled
    // over n_union it referenced n_inter TWICE — the r14 plan evaluated
    // size(array_intersect(hv_a, hv_b)) twice per candidate in the join
    // condition plus once more in the output project. Respelled over the
    // single-occurrence form inter·(den+num) ≥ (szA+szB)·num (exact long
    // algebra: inter·den ≥ (szA+szB−inter)·num ⟺ that), with a CHEAP
    // size-compatibility conjunct first (J ≥ t ⟹ t·max(szA,szB) ≤
    // min(szA,szB); codegen short-circuits the And), size-incompatible
    // pairs never evaluate the intersect at all and survivors evaluate it
    // twice total instead of three times. Row set unchanged — the size
    // bound is implied by the Jaccard predicate itself.
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hv").as("hv_a"),
        col("sz").as("sz_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hv").as("hv_b"),
        col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("n_inter",
        size(array_intersect(col("hv_a"), col("hv_b"))).cast("long"))
      .filter((least(col("sz_a"), col("sz_b")) * tDen >=
          greatest(col("sz_a"), col("sz_b")) * tNum) &&
        (col("n_inter") * (tDen + tNum) >= (col("sz_a") + col("sz_b")) * tNum))
      .withColumn("n_union", col("sz_a") + col("sz_b") - col("n_inter"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"),
        expr("(10000 * n_inter) div n_union").as("jaccard_bp"))
  }

  /** EXACT containment join — the ASYMMETRIC sibling of
    * [[setSimJoinExact]] for quote/subset detection: emits (a, b) when
    * C(a→b) = |A∩B|/|A| ≥ num/den, i.e. at least that fraction of doc
    * a's shingles appear in doc b (a long doc quoting a short one scores
    * high a→b while Jaccard stays low). Prefix filtering applies on the
    * CONTAINED side only: C ≥ t ⟹ |A∩B| ≥ ⌈t·|A|⌉, so a's
    * (|A| − ⌈t·|A|⌉ + 1)-prefix must hit B somewhere — the b side
    * exposes its FULL hash list (the inverted-index posture: b is the
    * indexed corpus, a the probe set). Verify is the exact integer
    * inter·den ≥ ⌈t·|A|⌉-free form inter·den ≥ num·szA. Returns
    * (doc_a, doc_b, n_inter, sz_a, containment_bp), a ≠ b, both
    * directions distinct.
    */
  def containmentJoinExact(docs: DataFrame, tNum: Int, tDen: Int,
      n: Int = 3): DataFrame = {
    // Four consumers here (prefix side, FULL indexed side, both verify
    // joins) — the un-checkpointed corpus pipeline executed 4× (the
    // 13.2 s baseline row; see setSimJoinExact).
    val sets = graft.Ckpt(freqOrderedSets(docs, n))
    val pfx = sets.withColumn("plen",
      (col("sz") - expr(s"(${tNum}L * sz + ${tDen}L - 1) div ${tDen}L")
        + lit(1L)).cast("int"))
      .select(col("doc_id").as("doc_a"),
        explode(expr("slice(hv, 1, plen)")).as("h"))
    val full = sets.select(col("doc_id").as("doc_b"),
      explode(col("hv")).as("h"))
    val cand = pfx.join(full, Seq("h"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // Same verify-stage algebra as [[setSimJoinExact]]: a cheap size
    // conjunct first (C ≥ t ⟹ inter ≥ t·szA and inter ≤ szB, so
    // szB·den ≥ szA·num is necessary) short-circuits the exact intersect
    // for size-incompatible pairs; the containment predicate already
    // references n_inter once. Row set unchanged.
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hv").as("hv_a"),
        col("sz").as("sz_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hv").as("hv_b"),
        col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("n_inter",
        size(array_intersect(col("hv_a"), col("hv_b"))).cast("long"))
      .filter((col("sz_b") * tDen >= col("sz_a") * tNum) &&
        (col("n_inter") * tDen >= col("sz_a") * tNum))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("sz_a"),
        expr("(10000 * n_inter) div sz_a").as("containment_bp"))
  }

  val queries: Map[String, Q] = Map(
    // L2n: EXACT containment join at C ≥ 3/4 — naive-n² oracle again, so
    // the hash match certifies the asymmetric prefix filter's
    // completeness; the output includes both directions where they hold.
    "q_dedup_containment_join" -> ((s, dir) =>
      containmentJoinExact(T.documents(s, dir), 3, 4)),

    // L2o: shingle novelty curve — per doc, the fraction of its distinct
    // shingles NOT seen in any earlier doc (first_seen = min doc_id per
    // shingle): the running-originality metric of an ordered ingest.
    // One explode + a per-shingle min + a per-doc ratio in basis points.
    "q_text_novelty" -> ((s, dir) => {
      // two consumers (first-seen agg + the join): one corpus pass
      val sh = graft.Ckpt(T.documents(s, dir)
        .select(col("doc_id"),
          explode(shingles(col("text"))).as("g"))
        .select(col("doc_id"), substring(md5(col("g")), 1, 15).as("h"))
        .distinct())
      val first = sh.groupBy("h").agg(min("doc_id").as("first_seen"))
      sh.join(first, Seq("h"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_seen") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          expr("(10000 * n_novel) div n_shingles").as("novelty_bp"))
    }),

    // L2m: EXACT set-similarity join at Jaccard ≥ 1/2 — the oracle is the
    // naive n² spelling, so the hash match proves the prefix filter's
    // completeness claim on this corpus, pair for pair.
    "q_dedup_setsim" -> ((s, dir) =>
      setSimJoinExact(T.documents(s, dir), 1, 2)),

    // L2l: cross-source overlap matrix — every source pair's exact
    // shingle-set Jaccard in basis points, hash-checked cell by cell.
    "q_dedup_source_overlap" -> ((s, dir) =>
      sourceOverlap(T.documents(s, dir))),

    // L2g: benchmark decontamination — docs 0-9 stand in for the eval set;
    // remaining docs are profiled for n-gram overlap against it
    // (oracle-checked).
    "q_dedup_contamination" -> ((s, dir) => {
      val all = T.documents(s, dir)
      contamination(all.filter(col("doc_id") >= 10),
        all.filter(col("doc_id") < 10))
    }),

    // L2f: exact-substring dedup signal — per-doc duplicated L-token window
    // counts (oracle hash-checked; md5-keyed windows are engine-portable;
    // docs shorter than L tokens have no windows and appear in neither
    // engine's output).
    "q_dedup_spans" -> ((s, dir) =>
      duplicatedSpans(T.documents(s, dir))),

    // L2f (oracle hash-checked): exact-substring dedup APPLIED — duplicated
    // 8-grams removed and the survivor text reassembled; clean_md5 proves
    // the rewritten corpus byte-for-byte cross-engine.
    "q_dedup_span_removal" -> ((s, dir) =>
      removeDuplicatedSpans(T.documents(s, dir))),

    // L1: exact dedup — keep the smallest doc_id per normalized text. Keyed
    // on the 128-bit md5 of the normalized text, NOT the text itself, so the
    // shuffle key is fixed-width (32 hex chars) and the document bodies never
    // ride a wide exchange; min_by makes it a HASH aggregation with map-side
    // partial combine — no per-group sort, the shape that survives 100 TB.
    // (md5 rather than xxhash64 so the oracle reproduces the key; collision
    // probability ~n²/2¹²⁹ is negligible. doc_id is unique, so min_by is
    // deterministic.)
    "q_dedup_exact" -> ((s, dir) => {
      T.documents(s, dir)
        .withColumn("h", md5(normText(col("text"))))
        .groupBy("h")
        .agg(min_by(struct(col("doc_id"), col("lang"), col("source")),
          col("doc_id")).as("r"))
        .select("r.doc_id", "r.lang", "r.source")
    }),

    // L1b: scale variant — dedup key is a 128-bit content hash (md5 so the
    // oracle can reproduce it), not the full text.
    "q_dedup_exact_hash" -> ((s, dir) => {
      T.documents(s, dir)
        .withColumn("h", md5(normText(col("text"))))
        .groupBy("h").agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
        .select("keep_id", "n_dups")
    }),

    // L2 (DECLARED DEMO, `SparkEntry.demoQueries`; oracle hash-checked):
    // the non-persisted pair API on a fresh corpus at k=16 / 4 bands /
    // t=0.6. Production reads the persisted pair table
    // (`q_dedup_index_pairs`); this spelling re-shingles raw text in-query
    // by design.
    "q_dedup_near" -> ((s, dir) =>
      nearDuplicatePairs(T.documents(s, dir), "text", "doc_id",
        k = 16, threshold = 0.6)),

    // L2e (DECLARED DEMO, `SparkEntry.demoQueries`; oracle hash-checked):
    // cluster-size distribution over in-query LSH pairs (k=16, t=0.5) —
    // the non-persisted twin of `q_dedup_clusters_md5`.
    "q_dedup_clusters" -> ((s, dir) => {
      val pairs = nearDuplicatePairs(T.documents(s, dir), "text", "doc_id",
        k = 16, threshold = 0.5)
      duplicateClusters(pairs)
        .groupBy("label").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    }),

    // L2 md5 twin (oracle hash-checked): the ENTIRE LSH near-dup pair
    // pipeline — signatures, banding, candidate join, Jaccard verify — on
    // the md5 bridge, so the DuckDB oracle re-derives every pair.
    "q_dedup_near_md5" -> ((s, dir) =>
      nearDuplicatePairs(T.documents(s, dir), "text", "doc_id")),

    // L2g (oracle hash-checked): the persisted dedup-index lifecycle
    // (DedupIndex, the dedup analogue of the E65 vector index). Build:
    // dump the persisted banded bucket table — the LSH join key rows every
    // lookup hits; the oracle re-derives each from raw text.
    "q_dedup_index_build" -> ((s, dir) => {
      // unconditional rebuild (the q_pq_build pattern): this entry's bench
      // median measures the index-time write pass — sigs, buckets, AND the
      // verified pair table (round 7) — not a warm read. Carrying the pair
      // join here is the point: every graph/curation query stops paying it.
      val vd = DedupIndex.rebuild(s, dir)
      s.read.parquet(vd + "/buckets")
        .select(col("doc").as("doc_id"), col("band").cast("long").as("band"),
          col("bsig"))
    }),

    // L2g': the persisted PAIR TABLE must equal the from-scratch pipeline
    // (oracle byte-identical to q_dedup_near_md5) — hash-proof that the
    // whole persisted chain (sigs → buckets → verified pairs) is lossless.
    // Every graph/curation consumer reads this table instead of
    // re-shingling raw text, so this row is their correctness anchor.
    "q_dedup_index_pairs" -> ((s, dir) => DedupIndex.pairs(s, dir)),

    // L2h: index REMOVAL (takedowns/re-crawls) — drop docs doc_id % 7 == 0
    // from the persisted index, then the pair set must equal a from-scratch
    // build over the REDUCED corpus (oracle re-derives from
    // `documents WHERE doc_id % 7 <> 0`): remove(B) ≡ build(corpus ∖ B),
    // hash-proved. Pair membership depends only on the two endpoints, so
    // the anti-join over the persisted pair table is exact, not approximate.
    "q_dedup_remove_pairs" -> ((s, dir) =>
      DedupIndex.removePairs(DedupIndex.pairs(s, dir),
        T.documents(s, dir).select(col("doc_id"))
          .filter(pmod(col("doc_id"), lit(7)) === 0))),

    // L2g'': incremental lookup — "today's crawl" (doc_id % 5 == 0)
    // against the index over the already-kept corpus (the rest): which new
    // docs near-duplicate a kept doc. NOTE the corpus components are built
    // in-query here (the demo corpus is a SLICE of the table the persisted
    // index covers in full), so this timing includes the corpus signature
    // pass; the production path hands `lookup` DedupIndex.persisted(...)
    // and computes signatures for the batch only — q_dedup_index_pairs is
    // the row that hash-proves the persisted components.
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      DedupIndex.lookup(
        DedupIndex.components(
          docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "text", "doc_id"),
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), "text", "doc_id")
    }),

    // L2g'''': the PERSISTED lookup path itself — the same batch against
    // the full persisted index (which contains the batch too: "is this doc
    // already indexed, and what does it collide with"); self-matches are
    // excluded, batch↔batch collisions appear in both directions (the
    // lookup is directional corpus→new). Batch-only signature computation
    // + the stored buckets/sigs: a regression in the persisted read path
    // lands in THIS row's hash and bench median.
    "q_dedup_index_lookup" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      DedupIndex.lookup(DedupIndex.persisted(s, dir),
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), "text", "doc_id")
    }),

    // L2g''': append maintenance — corpus index + appended batch must
    // produce the SAME pair set as a from-scratch build over everything
    // (signatures are per-doc maps; oracle byte-identical to
    // q_dedup_near_md5, the E66 pattern for the dedup index).
    "q_dedup_append_pairs" -> ((s, dir) => {
      val docs = T.documents(s, dir)
      DedupIndex.selfPairs(DedupIndex.appendBatch(
        DedupIndex.components(
          docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "text", "doc_id"),
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), "text", "doc_id"))
    }),

    // L2e md5 twin (oracle hash-checked): connected components over the
    // md5 LSH pairs — the oracle resolves the same components with a
    // recursive CTE, so the min-label clustering is cross-engine-verified
    // end to end, not just unit-tested on planted chains. The pair list
    // comes from the PERSISTED index (`q_dedup_index_pairs` hash-proves it
    // equal to the from-scratch pipeline), so this query's cost is the
    // iteration itself — at 100 TB the corpus shingle pass is paid once at
    // index build, not per analytics query.
    "q_dedup_clusters_md5" -> ((s, dir) => {
      duplicateClusters(DedupIndex.pairs(s, dir))
        .groupBy("label").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    }),

    // L2e'' — the log-star path against the SAME recursive-CTE oracle as
    // q_dedup_clusters_md5: both component algorithms (O(diameter)
    // min-label and O(log n) large/small-star) are hash-proved equivalent
    // end to end every round, not just unit-tested on planted chains.
    // Persisted pair list, same as q_dedup_clusters_md5.
    "q_dedup_clusters_logstar" -> ((s, dir) => {
      duplicateClustersLogStar(DedupIndex.pairs(s, dir))
        .groupBy("label").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    }),

    // L2e''' — centrality within duplicate components (oracle hash-checked):
    // 5 rounds of exact-integer PageRank over the md5 LSH pair graph (read
    // from the persisted index); the oracle unrolls the identical rounds as
    // a CTE chain, so every rank in the final state matches bit-for-bit.
    "q_dedup_pagerank" -> ((s, dir) =>
      pageRank(DedupIndex.pairs(s, dir))),

    // L2e'''' — canonical-by-centrality (oracle hash-checked): components
    // from the recursive-CTE-verified min-label path, canonical member from
    // the round-unrolled PageRank — the two verified iterative algorithms
    // composed and hash-checked TOGETHER, both reading the persisted pair
    // table (already parquet-backed, so no extra checkpoint needed for its
    // two consumers).
    "q_dedup_canonical" -> ((s, dir) =>
      canonicalByRank(DedupIndex.pairs(s, dir))),

    // L2b (DECLARED DEMO, `SparkEntry.demoQueries`; oracle hash-checked):
    // SimHash band populations — `sim60` cut into 4 × 15-bit bands, and the
    // number of documents per (band, key): the bucket sizes a banded
    // SimHash near-dup index would probe. One aggregate over the
    // `q_dedup_simhash_md5` fingerprints.
    "q_dedup_simhash" -> ((s, dir) =>
      T.documents(s, dir)
        .select(graft.functions.TextHashes.simHashMd5(col("text")).as("sim60"))
        .select(posexplode(array((0 until 4).map(b =>
          shiftright(col("sim60"), 15 * b).bitwiseAND(0x7fffL)): _*))
          .as(Seq("band", "key")))
        .groupBy("band", "key").agg(count(lit(1)).as("n"))),

    // L2a' — the cross-engine MinHash twin: ONE md5 digest per shingle
    // (60-bit positive long), then k=8 XOR-bijection permutations with
    // md5-derived constants, emitted as '|'-joined strings. Oracle
    // reproduces every signature bit-for-bit; the LSH pipeline derives the
    // same signature from the hashed set (`DedupIndex.withSignatures`).
    // Docs with no 3-gram are filtered on both sides (empty-set minima are
    // undefined).
    "q_dedup_minhash_md5" -> ((s, dir) => {
      T.documents(s, dir)
        .select(col("doc_id"), shingles(col("text")).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"),
          array_join(graft.functions.TextHashes.minHashSigMd5(col("sh"))
            .cast("array<string>"), "|").as("sig"))
    }),

    // L2b' — the cross-engine SimHash twin over md5 word hashes (60 bits so
    // the hash parses as a positive signed long in every engine). Same
    // majority-vote semantics as any SimHash; DuckDB reproduces md5, so
    // this one is oracle hash-checked bit-for-bit.
    "q_dedup_simhash_md5" -> ((s, dir) =>
      T.documents(s, dir).select(col("doc_id"),
        graft.functions.TextHashes.simHashMd5(col("text")).as("sim60"))),

    // L2d (DECLARED DEMO, `SparkEntry.demoQueries` — rolling xxhash has no
    // DuckDB twin; shift-robustness verified in PipelineSpec, and the md5
    // CDC twin `q_dedup_chunks_md5` is the hash-checked row): chunk-sharing
    // distribution across the corpus — how many content-defined chunks
    // appear in k distinct docs. One explode + two narrow aggs.
    "q_dedup_chunks" -> ((s, dir) => {
      T.documents(s, dir)
        .select(col("doc_id"), explode(contentChunks(col("text"))).as("chunk"))
        .groupBy("chunk").agg(countDistinct(col("doc_id")).as("n_docs"))
        .groupBy("n_docs").agg(count(lit(1)).as("n_chunks"))
    }),

    // L2d' — the cross-engine CDC twin (oracle hash-checked): word-level
    // content-defined chunks with md5 boundary hashes and md5 chunk keys
    // (same local-window boundary rule = same shift-robustness; DuckDB
    // reproduces every key). Downstream shape identical to q_dedup_chunks.
    "q_dedup_chunks_md5" -> ((s, dir) => {
      T.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.functions.TextHashes.wordChunksMd5(col("text"))).as("chunk"))
        .groupBy("chunk").agg(countDistinct(col("doc_id")).as("n_docs"))
        .groupBy("n_docs").agg(count(lit(1)).as("n_chunks"))
    }),

    // L2c: exact n-gram Jaccard on a bounded candidate set (same-source
    // pairs), SQL-portable → oracle-checked. Pairwise compare runs on the
    // 60-bit md5 hashed shingle sets (the string-set Jaccard up to 60-bit
    // collisions, ~5× cheaper than string arrays).
    // DELIBERATELY NOT THE SCALE PATH: the same-source self-join is n² in
    // the hottest source key — it exists because DuckDB can reproduce it
    // exactly (the oracle for the Jaccard arithmetic). Production near-dup
    // at 100 TB routes through q_dedup_near's LSH candidate generator, which
    // verifies with this same jaccardLong on ~n·bands candidates instead.
    "q_dedup_jaccard" -> ((s, dir) => {
      // the n² self-join references the shingled frame twice: checkpoint
      // so the shingle pass runs once (the quadratic JOIN stays — that is
      // this declared demo's point)
      val d = graft.Ckpt(T.documents(s, dir)
        .select(col("doc_id"), col("source"),
          graft.functions.TextScan.shingleHashes(col("text")).as("sh")))
      val x = d.select(col("source"), col("doc_id").as("doc_a"),
        col("sh").as("sh_a"), size(col("sh")).cast("long").as("sz_a"))
      val y = d.select(col("source"), col("doc_id").as("doc_b"),
        col("sh").as("sh_b"), size(col("sh")).cast("long").as("sz_b"))
      // The O(|set|) intersect runs ONLY behind a CASE guard of the two
      // cheap bounds (guide §4): the id order (halves the quadratic
      // candidates — separate filter conjuncts get reassembled in
      // optimizer order, so the guard must live INSIDE the expression,
      // where CASE WHEN evaluation order is a semantic guarantee) and the
      // size-compatibility bound (J ≤ min/max, and the kept predicate is
      // round(J, 6) ≥ 0.2 ⟹ J ≥ 0.1999995, so min·10⁷ < max·1999995
      // refutes a pair from sizes alone — exact long arithmetic). A
      // guard-failed pair gets NULL jac and null ≥ 0.2 is false, so the
      // row set is unchanged: survivors all pass both bounds and their
      // jac is the same rounded Jaccard as before.
      x.join(y, Seq("source"))
        .withColumn("jac",
          when(col("doc_a") < col("doc_b") &&
              least(col("sz_a"), col("sz_b")) * lit(10000000L) >=
                greatest(col("sz_a"), col("sz_b")) * lit(1999995L),
            round(graft.functions.TextHashes.jaccardLong(
              col("sh_a"), col("sh_b")), 6)))
        .filter(col("jac") >= 0.2)
        .select("source", "doc_a", "doc_b", "jac")
    })
  )

  /** The signature + banding CTEs (`t`, `shx`, `hs`, `sig`, `banded`):
    * normalized 3-gram shingles → 60-bit md5 hashes → k-perm XOR MinHash
    * signature → `bands` bands of k/bands rows (','-joined slice as band
    * key) — the oracle twin of [[DedupIndex.signatures]]+[[DedupIndex.banded]];
    * `q_dedup_index_build` re-derives the persisted bucket table from this.
    * `src` is the relation the pipeline reads (any CTE/table with doc_id +
    * text) — [[Curation]] points it at its filtered survivor set.
    */
  private[pipeline] def lshBandedCtesSql(src: String, k: Int = 8,
      bands: Int = 4): String = {
    val r = k / bands
    s"""t AS (
      |  SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
      |  FROM $src),
      |shx AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) < 3 THEN []
      |         ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |           i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) END AS sh
      |  FROM t),
      |hs AS (
      |  SELECT doc_id,
      |    list_transform(sh, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hv
      |  FROM shx WHERE len(sh) > 0),
      |sig AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(1, $k),
      |      p -> list_min(list_transform(hv,
      |        h -> xor(h, CAST(('0x' || substr(md5('perm|' || CAST(p AS VARCHAR)), 1, 15)) AS BIGINT))))) AS sg
      |  FROM hs),
      |banded AS (
      |  SELECT doc_id, b.band,
      |    array_to_string(list_slice(sg, b.band * $r + 1, b.band * $r + $r), ',') AS bsig
      |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, ${bands - 1})) AS band) b)""".stripMargin
  }

  /** [[lshBandedCtesSql]] plus `cand` and `pairs`: distinct candidate pairs
    * → Jaccard ≥ `threshold` verify on the hash sets — the oracle twin of
    * [[nearDuplicatePairs]] with the same (k, bands, threshold).
    */
  private[pipeline] def lshPairsMd5Sql(src: String = "documents", k: Int = 8,
      bands: Int = 4, threshold: Double = 0.5): String =
    s"""${lshBandedCtesSql(src, k, bands)},
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT c.doc_a, c.doc_b,
      |    round(CAST(len(list_intersect(x.hv, y.hv)) AS DOUBLE) /
      |          CAST(len(list_distinct(x.hv || y.hv)) AS DOUBLE), 6) AS jaccard
      |  FROM cand c
      |    JOIN hs x ON x.doc_id = c.doc_a
      |    JOIN hs y ON y.doc_id = c.doc_b
      |  WHERE round(CAST(len(list_intersect(x.hv, y.hv)) AS DOUBLE) /
      |        CAST(len(list_distinct(x.hv || y.hv)) AS DOUBLE), 6) >= $threshold)""".stripMargin

  /** The full from-scratch near-dup pair derivation — shared VERBATIM by
    * `q_dedup_near_md5` (batch pipeline), `q_dedup_index_pairs` (persisted
    * index), and `q_dedup_append_pairs` (corpus index + appended batch):
    * all three paths must hash to the same pair set. `q_dedup_near` is the
    * same derivation at its own (k, threshold).
    */
  private def nearMd5Sql(k: Int = 8, threshold: Double = 0.5): String =
    s"""WITH ${lshPairsMd5Sql(k = k, threshold = threshold)}
       |SELECT doc_a, doc_b, jaccard FROM pairs
       |ORDER BY ALL NULLS FIRST""".stripMargin

  /** Exact component labels over the md5 LSH pairs via a recursive CTE:
    * defines `edges`, `reach`, `labels` (id → component-min label). Callers
    * must open with WITH RECURSIVE.
    */
  private[pipeline] val clusterLabelCtesSql: String =
    """edges AS (
      |  SELECT doc_a AS x, doc_b AS y FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(x, label) AS (
      |  SELECT x, x FROM (SELECT DISTINCT x FROM edges)
      |  UNION
      |  SELECT e.x, r.label FROM edges e JOIN reach r ON e.y = r.x),
      |labels AS (SELECT x AS id, min(label) AS label FROM reach GROUP BY 1)""".stripMargin

  /** Connected components over the md5 LSH pairs, resolved exactly by a
    * recursive CTE — shared verbatim by `q_dedup_clusters_md5` (min-label)
    * and `q_dedup_clusters_logstar` (large/small-star): both paths must
    * hash to the same components. `q_dedup_clusters` is the same derivation
    * over k=16 signatures.
    */
  private def clustersMd5Sql(k: Int = 8): String =
    s"""WITH RECURSIVE ${lshPairsMd5Sql(k = k)},
       |$clusterLabelCtesSql,
       |csize AS (
       |  SELECT label, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM labels GROUP BY 1)
       |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
       |FROM csize GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin

  /** [[pageRank]]'s 5 rounds unrolled as CTEs (`pedges`, `pdeg`, `r0`…`r5`)
    * over the shared `pairs` CTE — integer arithmetic makes the per-round
    * state identical in any engine (`//` and `div` agree on non-negative
    * operands).
    */
  private lazy val pagerankRoundCtesSql: String = {
    val rounds = (1 to 5).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS id,
         |    150000 + (85 * SUM(r.rank // d.deg)) // 100 AS rank
         |  FROM pedges e
         |    JOIN r${i - 1} r ON e.src = r.id
         |    JOIN pdeg d ON e.src = d.src
         |  GROUP BY 1)"""
    }.mkString(",\n")
    s"""pedges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |pdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM pedges GROUP BY 1),
       |r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS rank FROM pdeg),
       |$rounds""".stripMargin
  }

  private lazy val pagerankSql: String =
    s"""WITH ${lshPairsMd5Sql()},
       |$pagerankRoundCtesSql
       |SELECT id AS doc_id, CAST(rank AS BIGINT) AS rank_micro FROM r5
       |ORDER BY ALL NULLS FIRST""".stripMargin

  /** [[canonicalByRank]]: the recursive-CTE labels joined with the unrolled
    * PageRank state; rn = 1 under (rank DESC, id) reproduces the
    * (max rank, min id) pick exactly.
    */
  private lazy val canonicalSql: String =
    s"""WITH RECURSIVE ${lshPairsMd5Sql()},
       |$clusterLabelCtesSql,
       |$pagerankRoundCtesSql,
       |ranked AS (
       |  SELECT l.label, r.id, r.rank,
       |    row_number() OVER (PARTITION BY l.label ORDER BY r.rank DESC, r.id) AS rn,
       |    count(*) OVER (PARTITION BY l.label) AS cluster_size
       |  FROM labels l JOIN r5 r ON l.id = r.id)
       |SELECT label, id AS canonical_id, CAST(rank AS BIGINT) AS canonical_rank,
       |  CAST(cluster_size AS BIGINT) AS cluster_size
       |FROM ranked WHERE rn = 1 ORDER BY ALL NULLS FIRST""".stripMargin

  /** [[graft.functions.TextHashes.simHashMd5]] per document. */
  private val simhashMd5Sql: String =
    """SELECT doc_id,
      |  CAST(list_sum(list_transform(generate_series(0, 59),
      |    b -> CASE WHEN 2 * len(list_filter(hs, h -> ((h >> b) & 1) = 1)) > len(hs)
      |         THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sim60
      |FROM (SELECT doc_id,
      |        list_transform(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
      |          w -> CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT)) AS hs
      |      FROM documents)
      |ORDER BY ALL NULLS FIRST""".stripMargin

  val oracles: Map[String, String] = Map(
    // asymmetric completeness certificate: naive ordered-pairs spelling
    "q_dedup_containment_join" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |shx AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN []
        |         ELSE list_transform(generate_series(1, len(toks) - 2),
        |           i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) END AS sh
        |  FROM t),
        |hs AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(sh,
        |      s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS hv
        |  FROM shx WHERE len(sh) > 0),
        |sized AS (SELECT doc_id, hv, CAST(len(hv) AS BIGINT) AS sz FROM hs),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.hv, b.hv)) AS BIGINT) AS n_inter,
        |    a.sz AS sz_a
        |  FROM sized a JOIN sized b ON a.doc_id <> b.doc_id)
        |SELECT doc_a, doc_b, n_inter, sz_a,
        |  CAST((10000 * n_inter) // sz_a AS BIGINT) AS containment_bp
        |FROM pairs WHERE n_inter * 4 >= sz_a * 3
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_text_novelty" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |shx AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN []
        |         ELSE list_transform(generate_series(1, len(toks) - 2),
        |           i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) END AS sh
        |  FROM t),
        |e AS (
        |  SELECT DISTINCT doc_id, substr(md5(s), 1, 15) AS h
        |  FROM (SELECT doc_id, unnest(sh) AS s FROM shx)),
        |f AS (SELECT h, min(doc_id) AS first_seen FROM e GROUP BY 1)
        |SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN f.first_seen = e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST((10000 * SUM(CASE WHEN f.first_seen = e.doc_id THEN 1 ELSE 0 END))
        |       // count(*) AS BIGINT) AS novelty_bp
        |FROM e JOIN f USING (h)
        |GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    // the naive n² spelling IS the oracle: a hash match proves the prefix
    // filter found every pair (completeness), not just true ones
    "q_dedup_setsim" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |shx AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN []
        |         ELSE list_transform(generate_series(1, len(toks) - 2),
        |           i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) END AS sh
        |  FROM t),
        |hs AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(sh,
        |      s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS hv
        |  FROM shx WHERE len(sh) > 0),
        |sized AS (SELECT doc_id, hv, CAST(len(hv) AS BIGINT) AS sz FROM hs),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.hv, b.hv)) AS BIGINT) AS n_inter,
        |    a.sz + b.sz - CAST(len(list_intersect(a.hv, b.hv)) AS BIGINT) AS n_union
        |  FROM sized a JOIN sized b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, n_inter, n_union,
        |  CAST((10000 * n_inter) // n_union AS BIGINT) AS jaccard_bp
        |FROM pairs WHERE n_inter * 2 >= n_union * 1
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_source_overlap" ->
      """WITH t AS (
        |  SELECT source,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |shx AS (
        |  SELECT source,
        |    CASE WHEN len(toks) < 3 THEN []
        |         ELSE list_transform(generate_series(1, len(toks) - 2),
        |           i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) END AS sh
        |  FROM t),
        |e AS (
        |  SELECT DISTINCT source, substr(md5(s), 1, 15) AS h
        |  FROM (SELECT source, unnest(sh) AS s FROM shx)),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS sz FROM e GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(count(*) AS BIGINT) AS n_inter
        |  FROM e a JOIN e b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT i.src_a, i.src_b, i.n_inter, sa.sz AS sz_a, sb.sz AS sz_b,
        |  CAST((10000 * i.n_inter) // (sa.sz + sb.sz - i.n_inter) AS BIGINT) AS jaccard_bp
        |FROM inter i
        |  JOIN sizes sa ON sa.source = i.src_a
        |  JOIN sizes sb ON sb.source = i.src_b
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_pagerank" -> pagerankSql,
    "q_dedup_canonical" -> canonicalSql,
    "q_dedup_contamination" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 8 THEN []
        |         ELSE list_distinct(list_transform(generate_series(1, len(toks) - 7),
        |           i -> array_to_string(list_slice(toks, i, i + 7), ' '))) END AS sh
        |  FROM t),
        |g AS (SELECT doc_id, substr(md5(unnest(sh)), 1, 15) AS h FROM sh),
        |bh AS (SELECT DISTINCT h FROM g WHERE doc_id < 10)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bench_spans,
        |  SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) > 0 AS contaminated
        |FROM g LEFT JOIN bh b ON g.h = b.h
        |WHERE g.doc_id >= 10
        |GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_spans" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 8 THEN []
        |         ELSE list_distinct(list_transform(generate_series(1, len(toks) - 7),
        |           i -> array_to_string(list_slice(toks, i, i + 7), ' '))) END AS sh
        |  FROM t),
        |g AS (SELECT doc_id, substr(md5(unnest(sh)), 1, 15) AS h FROM sh),
        |shared AS (SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(SUM(CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
        |FROM g LEFT JOIN shared s ON g.h = s.h
        |GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_span_removal" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(1, greatest(len(toks) - 7, 0))) AS p
        |  FROM t),
        |gh AS (
        |  SELECT doc_id, p,
        |    substr(md5(array_to_string(list_slice(toks, p, p + 7), ' ')), 1, 15) AS h
        |  FROM g),
        |shared AS (SELECT h FROM gh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |st AS (SELECT gh.doc_id, gh.p FROM gh JOIN shared s ON gh.h = s.h),
        |w AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS q
        |  FROM t),
        |f AS (
        |  SELECT w.doc_id, w.q, w.toks[w.q] AS word,
        |    CASE WHEN st.p IS NULL THEN 0 ELSE 1 END AS fl
        |  FROM w LEFT JOIN st ON w.doc_id = st.doc_id AND w.q = st.p),
        |c AS (
        |  SELECT doc_id, q, word,
        |    max(fl) OVER (PARTITION BY doc_id ORDER BY q
        |                  ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cov
        |  FROM f)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(cov) AS BIGINT) AS n_removed,
        |  md5(coalesce(string_agg(word, ' ' ORDER BY q) FILTER (WHERE cov = 0), '')) AS clean_md5
        |FROM c GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_minhash_md5" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 3 THEN []
        |         ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |           i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) END AS sh
        |  FROM t),
        |hs AS (
        |  SELECT doc_id,
        |    list_transform(sh, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hv
        |  FROM sh WHERE len(sh) > 0)
        |SELECT doc_id,
        |  array_to_string(list_transform(generate_series(1, 8),
        |    p -> list_min(list_transform(hv,
        |      h -> xor(h, CAST(('0x' || substr(md5('perm|' || CAST(p AS VARCHAR)), 1, 15)) AS BIGINT))))),
        |    '|') AS sig
        |FROM hs ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_near" -> nearMd5Sql(k = 16, threshold = 0.6),
    "q_dedup_near_md5" -> nearMd5Sql(),
    "q_dedup_index_build" ->
      s"""WITH ${lshBandedCtesSql("documents")}
         |SELECT doc_id, CAST(band AS BIGINT) AS band, bsig FROM banded
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    // persisted-index pairs and append-merged pairs must both equal the
    // from-scratch pipeline — byte-identical oracle, three ways proved
    "q_dedup_index_pairs" -> nearMd5Sql(),
    "q_dedup_append_pairs" -> nearMd5Sql(),
    // removal: anti-joined persisted pairs ≡ from-scratch build over the
    // reduced corpus (the oracle re-derives everything from the survivors)
    "q_dedup_remove_pairs" ->
      s"""WITH ${lshPairsMd5Sql("(SELECT * FROM documents WHERE doc_id % 7 <> 0)")}
         |SELECT doc_a, doc_b, jaccard FROM pairs
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_index_lookup" ->
      s"""WITH ${lshBandedCtesSql("documents")},
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_corpus, b.doc_id AS doc_new
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bsig = b.bsig
         |  WHERE b.doc_id % 5 = 0 AND a.doc_id <> b.doc_id)
         |SELECT c.doc_corpus, c.doc_new,
         |  round(CAST(len(list_intersect(x.hv, y.hv)) AS DOUBLE) /
         |        CAST(len(list_distinct(x.hv || y.hv)) AS DOUBLE), 6) AS jaccard
         |FROM cand c
         |  JOIN hs x ON x.doc_id = c.doc_corpus
         |  JOIN hs y ON y.doc_id = c.doc_new
         |WHERE round(CAST(len(list_intersect(x.hv, y.hv)) AS DOUBLE) /
         |      CAST(len(list_distinct(x.hv || y.hv)) AS DOUBLE), 6) >= 0.5
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_incremental" ->
      s"""WITH ${lshBandedCtesSql("documents")},
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_corpus, b.doc_id AS doc_new
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bsig = b.bsig
         |  WHERE a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0)
         |SELECT c.doc_corpus, c.doc_new,
         |  round(CAST(len(list_intersect(x.hv, y.hv)) AS DOUBLE) /
         |        CAST(len(list_distinct(x.hv || y.hv)) AS DOUBLE), 6) AS jaccard
         |FROM cand c
         |  JOIN hs x ON x.doc_id = c.doc_corpus
         |  JOIN hs y ON y.doc_id = c.doc_new
         |WHERE round(CAST(len(list_intersect(x.hv, y.hv)) AS DOUBLE) /
         |      CAST(len(list_distinct(x.hv || y.hv)) AS DOUBLE), 6) >= 0.5
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_clusters" -> clustersMd5Sql(k = 16),
    "q_dedup_clusters_md5" -> clustersMd5Sql(),
    // the log-star twin must land on the SAME exact components
    "q_dedup_clusters_logstar" -> clustersMd5Sql(),
    "q_dedup_chunks_md5" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
        |    CASE WHEN len(toks) < 2 THEN CAST([] AS BIGINT[])
        |         ELSE list_filter(generate_series(CAST(2 AS BIGINT), CAST(len(toks) AS BIGINT)),
        |           i -> CAST(('0x' || substr(md5(toks[i - 1] || ' ' || toks[i]), 1, 15)) AS BIGINT) % 8 = 0)
        |    END AS bnd
        |  FROM t),
        |e AS (
        |  SELECT doc_id, toks,
        |    list_concat(list_concat([CAST(0 AS BIGINT)], bnd),
        |      CASE WHEN len(bnd) > 0 AND bnd[-1] = n THEN CAST([] AS BIGINT[]) ELSE [n] END) AS bb
        |  FROM b),
        |c AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(bb) - 1),
        |      j -> substr(md5(array_to_string(list_slice(toks, bb[j] + 1, bb[j + 1]), ' ')), 1, 15))) AS chunk
        |  FROM e),
        |d AS (SELECT chunk, count(DISTINCT doc_id) AS n_docs FROM c GROUP BY 1)
        |SELECT n_docs, CAST(count(*) AS BIGINT) AS n_chunks
        |FROM d GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH s AS ($simhashMd5Sql),
         |b AS (SELECT unnest(generate_series(0, 3)) AS band)
         |SELECT CAST(b.band AS INTEGER) AS band,
         |  (s.sim60 >> (15 * b.band)) & 32767 AS key, count(*) AS n
         |FROM s CROSS JOIN b GROUP BY ALL ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_simhash_md5" -> simhashMd5Sql,
    "q_dedup_exact" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |      ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_exact_hash" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents
        |GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_dedup_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, source, list_distinct(
        |    list_transform(
        |      generate_series(1, len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) - 2),
        |      i -> array_to_string(list_slice(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), i, i + 2), ' ')
        |    )) AS s
        |  FROM documents
        |  WHERE len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) >= 3)
        |SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        CAST(len(list_distinct(a.s || b.s)) AS DOUBLE), 6) AS jac
        |FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      CAST(len(list_distinct(a.s || b.s)) AS DOUBLE), 6) >= 0.2
        |ORDER BY ALL NULLS FIRST""".stripMargin
  )
}
