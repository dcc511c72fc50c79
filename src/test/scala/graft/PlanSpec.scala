package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the "would this survive 100×" checks
  * (SURVEY.md §4.1): projection/filter pushdown into the parquet scan,
  * broadcast joins for dims, TakeOrderedAndProject for global top-k, and
  * partial (map-side) aggregation.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("scan+project: column pruning reaches the parquet reader") {
    val p = plan("q_scan_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double>"),
      s"expected 3-column ReadSchema:\n$p")
  }

  test("filter: predicates are pushed to the parquet scan") {
    val p = plan("q_filter_pred")
    assert(p.contains("PushedFilters: [") && p.contains("l_quantity"),
      s"expected pushed filters on l_quantity:\n$p")
  }

  test("star join: dims broadcast — fact table never shuffles for the join") {
    val p = plan("q_join_star")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
  }

  test("global top-k plans as TakeOrderedAndProject (no global sort)") {
    val li = Tables.orders(spark, sf)
    val p = li.orderBy(org.apache.spark.sql.functions.col("o_totalprice").desc)
      .limit(10).queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("grouped agg: partial aggregation before the shuffle (map-side combine)") {
    val p = plan("q_agg_group")
    assert(p.contains("partial_"), s"expected partial aggregation:\n$p")
  }

  test("bench harness: determinism sort eliminated under the bit_xor consumer") {
    // Pins Bench.consume's actual shape: xxhash64(struct(*)) + bit_xor — an
    // order-agnostic aggregate, so EliminateSorts drops the verification
    // sort, yet every output column is still computed (no pruning to a bare
    // row count).
    import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}
    val df = SparkEntry.queries("q_agg_group")(spark, sf)
    val all = df.columns.map(col).toIndexedSeq
    val benchPlan = df.select(xxhash64(struct(all: _*)).as("h"))
      .agg(expr("bit_xor(h)")).queryExecution.executedPlan.toString
    assert(!benchPlan.contains("Sort "), s"sort should be optimized away:\n$benchPlan")
    // xxhash64(struct(*)) fuses into the upstream operator's result
    // projection (not rendered in the plan string), so pin the bit_xor
    // aggregate plus its partial (map-side) phase instead.
    assert(benchPlan.contains("bit_xor"), s"consumer must bit_xor the row hash:\n$benchPlan")
    assert(benchPlan.contains("partial_bit_xor"), s"expected partial aggregation:\n$benchPlan")
  }

  test("binned range join: hash joins on the bin key, never a nested loop") {
    val p = plan("q_join_range")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$p")
    assert(p.contains("HashJoin"), s"expected a hash join on _bin:\n$p")
  }

  test("native as-of join: AsOfJoinExec merge plan, one shuffle per input") {
    val df = SparkEntry.queries("q_join_asof_native")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin "), s"expected the custom operator:\n$p")
    // co-partitioned merge: exactly one hash exchange per input feeds it
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 3, s"expected <= 3 hash exchanges (2 inputs + agg):\n$p")
  }

  test("exact dedup: the exchange partitions on the content hash, not the text") {
    val p = plan("q_dedup_exact")
    // the window's Exchange key must be the fixed-width md5, and the raw
    // document text must not appear in any hashpartitioning clause
    val exchangeLines = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchangeLines.nonEmpty, s"expected a hash exchange:\n$p")
    assert(exchangeLines.exists(_.contains("h#")), s"expected md5 key h:\n$p")
    assert(!exchangeLines.exists(_.contains("text#")),
      s"document text must not be a shuffle key:\n$p")
  }

  test("top-words: TakeOrdered over a partially aggregated explode (no global sort)") {
    val df = pipeline.TextAnalysis.queries("q_text_topwords")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
    assert(p.contains("partial_"), s"expected map-side combine:\n$p")
  }

  test("IVF assign: centroids broadcast; no shuffle of the full vector table for the argmax") {
    val df = pipeline.Similarity.queries("q_sim_ivf_assign")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected the centroid side to broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbroadcast cartesian allowed:\n$p")
  }

  test("ANN: bucket join is a hash join on the packed key, never a cartesian") {
    val df = pipeline.Similarity.queries("q_sim_ann")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected an equi-join on the bucket key:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in the ANN path:\n$p")
  }

  test("partitioned layout: a filter on the partition column prunes at plan time") {
    val dir = java.nio.file.Files.createTempDirectory("partprune").toFile
    val out = new java.io.File(dir, "li").getAbsolutePath
    Tables.lineitem(spark, sf)
      .write.partitionBy("l_returnflag").mode("overwrite").parquet(out)
    val df = spark.read.parquet(out)
      .filter(org.apache.spark.sql.functions.col("l_returnflag") === "R")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("l_returnflag"),
      s"expected partition filters in the scan:\n$p")
    // the pruned scan must not list the other partitions' files
    val scanned = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!scanned.contains("l_returnflag=A"), "partition A should be pruned")
  }

  test("dpp: the fact scan carries a dynamicpruning partition filter from the dim side") {
    val p = plan("q_join_dpp")
    assert(p.contains("dynamicpruning"),
      s"expected a dynamic partition pruning subquery in the fact scan:\n$p")
    assert(p.contains("PartitionFilters") && p.contains("l_ym"),
      s"expected the pruning to bind the l_ym partition column:\n$p")
  }

  test("contamination: benchmark hashes broadcast — corpus side never shuffles for the join") {
    val p = plan("q_dedup_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"expected broadcast join on benchmark hashes:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not sort-merge:\n$p")
  }

  test("span dedup: the exchange carries the 15-hex key, not document text") {
    val p = plan("q_dedup_spans")
    // the shuffle key is the substring(md5) hash column 'h'
    assert("Exchange hashpartitioning\\(h#".r.findFirstIn(p).isDefined,
      s"expected the window-hash exchange key:\n$p")
    assert(!p.toLowerCase.contains("exchange hashpartitioning(text"),
      s"document text must not be a shuffle key:\n$p")
  }

  test("freqOrderedSets: one repartition-by-h serves distinct + df + join (no composite-key exchange)") {
    // The df-ordered set build (the q_dedup_setsim / q_dedup_containment_join
    // Ckpt phase) must hash-partition the exploded corpus by h ONCE
    // (REPARTITION_BY_COL): the (doc_id, h) distinct, the df aggregation and
    // the ex⋈dfq join all ride that partitioning. A composite
    // (doc_id, h) exchange — the old distinct()'s — would mean the
    // one-exchange layout regressed to per-operator shuffles.
    val df = pipeline.Dedup.freqOrderedSets(Tables.documents(spark, sf), 3)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("REPARTITION_BY_COL"),
      s"expected the explicit by-h repartition:\n$p")
    val exchangeLines = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchangeLines.nonEmpty, s"expected hash exchanges:\n$p")
    assert(!exchangeLines.exists(l => l.contains("doc_id#") && l.contains("h#")),
      s"no exchange may key on the composite (doc_id, h):\n$p")
  }

  test("pq: codebooks broadcast for encode; no cartesian against the corpus") {
    val df = SparkEntry.queries("q_pq_codes")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"expected broadcast codebook join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian in PQ encode:\n$p")
  }

  test("shard packing: one exchange on source, no global sort") {
    // Under the order-agnostic bench consumer (the verification total sort
    // is eliminated), the packing pipeline itself must show only the
    // source-partitioned window exchange — no rangepartitioning.
    import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}
    val df = SparkEntry.queries("q_sample_pack")(spark, sf)
    val all = df.columns.map(col).toIndexedSeq
    val p = df.select(xxhash64(struct(all: _*)).as("h"))
      .agg(expr("bit_xor(h)")).queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(source"),
      s"expected source-partitioned window exchange:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"no global sort in the packing path:\n$p")
  }

  test("salted join: the fact exchange carries (orderkey, salt), no broadcast") {
    val p = plan("q_join_salted")
    val exchangeLines = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchangeLines.exists(l => l.contains("l_orderkey") && l.contains("_salt")),
      s"expected a salted join exchange on (l_orderkey, _salt):\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"the salted fact-fact join must not broadcast (it exists to pin the shuffle shape):\n$p")
  }

  test("two-phase top-k: the wide ranking exchange is salted, not per-qid") {
    // The Q·N scored candidates must shuffle on (qid, _salt) — the unsalted
    // per-qid exchange is the straggler shape the two-phase rewrite removes.
    val p = plan("q_pq_adc")
    val exchangeLines = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchangeLines.exists(l => l.contains("qid") && l.contains("_salt")),
      s"expected the salted (qid, _salt) ranking exchange:\n$p")
  }

  test("ivfadc: candidates come from a hash join on cell — never a cartesian over the code table") {
    val p = plan("q_pq_ivfadc")
    assert(!p.contains("CartesianProduct"), s"no cartesian in IVFADC:\n$p")
    val joinLines = p.linesIterator.filter(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin")).toSeq
    assert(joinLines.exists(_.contains("cell")),
      s"expected the cell-pruning equi-join:\n$p")
  }

  test("sq8: encode is a broadcast map over the scan; search exchange is salted") {
    // Encode: the trained stats row broadcasts (BroadcastNestedLoopJoin of a
    // 1-row build side is the literal-attach shape); the corpus itself must
    // not hash-shuffle — the only hashpartitioning allowed is the 64-row
    // dim-stats aggregation.
    val pe = plan("q_sq8_codes")
    assert(pe.contains("BroadcastExchange"),
      s"expected the stats row to broadcast:\n$pe")
    val exchangeLines = pe.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchangeLines.forall(_.contains("dim#")),
      s"encode may shuffle only the 64-row dim stats, never the corpus:\n$pe")
    // Search: the wide Q·N ranking exchange must carry the salted key.
    val ps = plan("q_sq8_topk")
    val searchExchanges = ps.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(searchExchanges.exists(l => l.contains("qid") && l.contains("_salt")),
      s"expected the salted (qid, _salt) ranking exchange:\n$ps")
  }

  test("funnel: one exchange on user_id feeds the walk; no other data shuffle") {
    // The sequence walk must ride a single user_id shuffle — every
    // hash exchange in the plan carries user_id or the 4-row stage agg key.
    val p = plan("q_funnel")
    val exchangeLines = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchangeLines.nonEmpty &&
      exchangeLines.forall(l => l.contains("user_id#") || l.contains("stage#")),
      s"expected only user_id/stage exchanges in the funnel:\n$p")
  }

  test("sq8-ivf: candidates from a hash join on cell, never a cartesian over codes") {
    val p = plan("q_sq8_ivf")
    assert(!p.contains("CartesianProduct"), s"no cartesian in IVF-SQ8:\n$p")
    assert(p.linesIterator.exists(l =>
      (l.contains("HashJoin") || l.contains("SortMergeJoin")) && l.contains("cell")),
      s"expected the cell-pruning equi-join:\n$p")
  }

  test("fuzzy join: candidates from a hash join on the deletion variant, no nested loop") {
    // The naive lev<=1 spelling is a BroadcastNestedLoopJoin over n² pairs;
    // the SymSpell rewrite must plan as an equi-join on the variant key.
    val p = plan("q_join_fuzzy")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no n² pairing in the fuzzy join:\n$p")
    assert(p.linesIterator.exists(l =>
      (l.contains("HashJoin") || l.contains("SortMergeJoin")) && l.contains("variant")),
      s"expected the variant-key equi-join:\n$p")
  }

  test("fuzzy join d<=2: variant-key equi-join, no nested loop") {
    val p = plan("q_join_fuzzy2")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no n² pairing in the d<=2 fuzzy join:\n$p")
    assert(p.linesIterator.exists(l =>
      (l.contains("HashJoin") || l.contains("SortMergeJoin")) && l.contains("variant")),
      s"expected the variant-key equi-join:\n$p")
  }

  test("md5 LSH pairs: banded candidate join is a hash join, never a cartesian") {
    val p = plan("q_dedup_near_md5")
    assert(!p.contains("CartesianProduct"), s"no cartesian in the LSH path:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected an equi-join on the band key:\n$p")
    // the shuffle must carry band keys / doc ids, never raw document text
    val exchangeLines = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(!exchangeLines.exists(_.contains("text#")),
      s"document text must not be a shuffle key:\n$p")
  }

  test("curate gates: no regexp_replace, no lambda; the gate filter runs in codegen") {
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, RegExpReplace}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import graft.pipeline.Curation
    val gated = Curation.stageExact(
      Curation.stageQuality(Curation.stageLang(Tables.documents(spark, sf))))
    val opt = gated.queryExecution.optimizedPlan
    val conds = opt.collect { case f: Filter => f.condition }
    assert(conds.nonEmpty, s"expected the gate filter:\n$opt")
    conds.foreach { c =>
      assert(!c.toString.contains("regexp_replace") &&
        !c.toString.toLowerCase.contains("lambdafunction"),
        s"gate filter spells the regex or a lambda:\n$c")
    }
    // the exact stage's md5(normText) key too: no regex anywhere in the chain
    val slow = opt.collect { case p => p.expressions }.flatten.exists(_.find(e =>
      e.isInstanceOf[RegExpReplace] || e.isInstanceOf[LambdaFunction]).isDefined)
    assert(!slow, s"regex or lambda left in the gate+exact plan:\n$opt")
    gated.collect()
    val p = gated.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("Filter")),
      s"the gate filter fell out of whole-stage codegen:\n$p")
  }

  test("near-dup signatures: one shingle-hash expression, no shingle_strings") {
    import org.apache.spark.sql.DataFrame
    import graft.functions.{ShingleHash60, ShingleStrings}
    import graft.pipeline.DedupIndex
    def count(df: DataFrame, f: org.apache.spark.sql.catalyst.expressions.Expression => Boolean): Int =
      df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect { case e if f(e) => e }.size).sum
      }.sum
    val docs = Tables.documents(spark, sf)
    for ((name, df) <- Seq(
        "withSignatures" -> DedupIndex.withSignatures(docs, "text"),
        "signatures" -> DedupIndex.signatures(docs, "text", "doc_id"))) {
      val opt = df.queryExecution.optimizedPlan
      assert(count(df, _.isInstanceOf[ShingleHash60]) == 1,
        s"$name: expected one shingle-hash expression:\n$opt")
      assert(count(df, _.isInstanceOf[ShingleStrings]) == 0,
        s"$name: shingle_strings left in the plan:\n$opt")
    }
  }

  test("guardrail: every declared demo names a real query") {
    // The demo set gates the scale probe (`@demos` expansion in Bench's
    // SKIP) — a typo'd name would silently re-admit a quadratic demo to
    // the sf1 probe.
    val unknown = SparkEntry.demoQueries -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"demoQueries not in queries: $unknown")
  }

  test("guardrail: no declared query plans a cartesian/nested-loop join unless whitelisted") {
    // The regression this protects against: a refactor silently turning an
    // equi-join into an n² pairing. Every declared query's physical plan is
    // swept; the EXACT offender sets are pinned both ways, so a new
    // cartesian fails the build AND a stale whitelist entry does too.
    // No declared query plans an unbroadcast CartesianProduct — the only
    // quadratic demos (q_sim_topk, q_join_cross) ride a broadcast of their
    // deliberately tiny side instead.
    val cartesianOk = Set[String]()
    // Every BroadcastNestedLoopJoin below is a provably small build side:
    //  - q_join_cross: the declared J7 cross-join surface (5×25 dims)
    //  - q_sim_topk: the declared brute-force baseline (5 probes broadcast)
    //  - q_pq_adc / q_pq_adc_hashinit / q_pq_ivfadc / q_pq_rerank: 1-row
    //    ADC LUT attach
    //  - q_sq8_codes / q_sq8_topk / q_sq8_ivf / q_sq8_ivf_append /
    //    q_sq8_ivf_remove: 1-row trained-stats attach (the SQ8 quantizer row)
    //  - q_sim_ivf_assign / q_sim_kmeans / q_sim_ivf /
    //    q_dedup_semantic(_capped): <=10-row centroid argmax broadcast
    //    (q_sim_ivf now reads the PERSISTED quantizer — the surviving BNLJ
    //    is the probe step's 8-row centroid broadcast only)
    //  - q_text_tfidf: 1-row corpus doc-count attach
    //  - q_text_ctfidf: 1-row corpus-total (Σlen, class-count) attach
    //  - q_text_bm25 / q_bm25_index_search: 1-row corpus-stats (n, sdl)
    //    attach (the BM25 avgdl input)
    //  - q_retrieval_hybrid: the same 1-row stats attaches from BOTH fused
    //    systems (bm25 stats row + sq8 trained-stats row)
    //  - q_bpe_tokenize: the 1-row step-ordered merge-list attach that the
    //    out-of-vocabulary fallback folds over. q_bpe_vocab_build is NOT
    //    here: it reads the persisted vocab (plain scan after the E102
    //    reroute). q_bpe_train / q_bpe_append_train left this whitelist in
    //    the r14 optimization round: the per-round argmax pair now inlines
    //    as literals (the broadcast-crossJoin per merge round is gone)
    //  - q_bm25_append_search: the same 1-row stats attach as
    //    q_bm25_index_search, through the append-merged components
    //  - q_nb_train / q_nb_predict / q_nb_confusion / q_nb_model_build /
    //    q_nb_model_append: 1-row vocabulary-size and corpus-count
    //    attaches, plus the <=n-label broadcast cross that scores each doc
    //    against every label
    //  - q_text_cosine_sparse: the 1-row corpus-count (stats.n) attach
    //    that prices the df-pruning gate — same family as q_text_bm25
    //  - q_bm25_fuzzy: the same 1-row stats attach as q_bm25_index_search,
    //    reached through the deletion-variant expansion (itself a hash join)
    //  - q_bm25_maxscore: the same 1-row stats attach as
    //    q_bm25_index_search, in the upper-bound frame, phase A, and (on
    //    fallback) the full scorer
    //  - q_heavy_hitters: the 1-row (n_total, n_keys) threshold attach —
    //    the same stats-row family as q_text_bm25; the CMS probe itself
    //    rides only the already-filtered hitter rows
    //  - q_dsir_select: the 1-row model-totals attach (tt, rt for the
    //    smoothing denominators) — the same stats-row family as
    //    q_text_bm25; the log-ratio table itself joins back by broadcast
    //    HASH join on the bucket id
    //  - q_unigram_vocab / q_unigram_segment / q_unigram_prune: the 1-row
    //    vocabulary-total attach (Σcnt for the micro-nat scores), once per
    //    EM stage — the same stats-row family as q_text_bm25; the Viterbi
    //    arc join itself is an equi-join on the piece string (the prune
    //    row's loss-threshold attach rides a key0 broadcast HASH join and
    //    is NOT part of this whitelist)
    val bnljOk = Set(
      "q_dsir_select",
      "q_heavy_hitters",
      "q_unigram_vocab", "q_unigram_segment", "q_unigram_prune",
      "q_bm25_append_search", "q_bm25_fuzzy", "q_bm25_index_search",
      "q_bm25_maxscore",
      "q_text_cosine_sparse",
      "q_bpe_tokenize",
      "q_nb_confusion", "q_nb_model_append", "q_nb_model_build",
      "q_nb_predict", "q_nb_train",
      "q_pipeline_classify_sample",
      "q_dedup_semantic", "q_dedup_semantic_capped",
      "q_join_cross", "q_pq_adc", "q_pq_adc_hashinit", "q_pq_ivfadc",
      "q_pq_rerank", "q_retrieval_hybrid", "q_sim_ivf", "q_sim_ivf_assign",
      "q_sim_kmeans", "q_sim_topk", "q_sq8_codes", "q_sq8_ivf",
      "q_sq8_ivf_append", "q_sq8_ivf_remove", "q_sq8_topk", "q_text_bm25",
      "q_text_ctfidf", "q_text_tfidf")
    // Unpartitioned (single-task) windows — the "No Partition Defined"
    // WindowExec that serializes the whole input through one task. Every
    // surviving entry is a documented METADATA-SCALE window (input bounded
    // by config/grouping cardinality, never the corpus):
    //  - q_sample_allocation: windows over the per-source COUNT frame
    //    (one row per source — a few dozen rows)
    //  - q_sample_weighted: the rank window over the k=50 TakeOrdered
    //    winners only (the corpus-sized phase is the TakeOrdered itself)
    //  - q_dsir_select: the same shape — rank window over the k=100
    //    TakeOrdered winners only
    //  - q_ts_interpolate: windows over the dense resample GRID (one row
    //    per time bucket — calendar-bounded, never event-sized; the only
    //    event-sized pass is the bucket aggregation before it)
    // q_pareto is deliberately NOT here: its running sum is the two-phase
    // runningSumRanged rewrite whose windows are bucket-partitioned.
    val winOk = Set(
      "q_dsir_select",
      "q_sample_allocation", "q_sample_weighted", "q_ts_interpolate")
    val cart = scala.collection.mutable.SortedSet.empty[String]
    val bnlj = scala.collection.mutable.SortedSet.empty[String]
    val winGlobal = scala.collection.mutable.SortedSet.empty[String]
    // sparkPlan = the planned physical tree (no AQE re-plan — the guardrail
    // pins what the optimizer CHOSE, which is what survives a scale-up).
    // Caveats on "the whole plan is swept":
    //  - graft.Ckpt.off disables the iterative operators' inter-round
    //    checkpoints for this thread: a checkpoint truncates lineage to a
    //    LogicalRDD scan, which would hide the LSH pair pipeline inside the
    //    clustering/pagerank/canonical queries from this scan. With it off,
    //    their full lineage is visible — at the cost that their fixpoint
    //    loops (and any eager action a query takes, notably q_pq_build's
    //    index write) EXECUTE during plan construction; this test is
    //    plan-shape-only in its assertions, not execution-free.
    graft.Ckpt.off.set(true)
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.sparkPlan
        val p = plan.toString
        if (p.contains("CartesianProduct")) cart += name
        if (p.contains("BroadcastNestedLoopJoin")) bnlj += name
        val hasGlobalWin = plan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w
        }.nonEmpty
        if (hasGlobalWin) winGlobal += name
      }
    } finally graft.Ckpt.off.set(false)
    assert(cart.toSet === cartesianOk,
      s"cartesian set drifted: got $cart, pinned $cartesianOk")
    assert(bnlj.toSet === bnljOk,
      s"nested-loop set drifted: got $bnlj, pinned $bnljOk")
    assert(winGlobal.toSet === winOk,
      s"single-task window set drifted: got $winGlobal, pinned $winOk")
  }

  test("whole-stage codegen covers the scan-filter-project pipeline") {
    // WSCG spans only appear in AQE's final plan — execute first.
    val df = SparkEntry.queries("q_filter_pred")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // WSCG stages print as "*(n)" prefixes in the compact plan form.
    assert(p.contains("*(1)"), s"expected WSCG stage markers:\n$p")
  }
}
