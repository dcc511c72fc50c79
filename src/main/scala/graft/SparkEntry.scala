package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-category query modules under `graft.operators` /
  * `graft.pipeline`. Every `queries` key with a matching `oracleSql` entry is
  * hash-compared against DuckDB at sf0.01 by the driver harness; keys without
  * an oracle get a rows-only check (non-SQL-expressible ops).
  */
object SparkEntry {

  private def modules: Seq[(Map[String, Q], Map[String, String])] = Seq(
    (operators.ScanProjectFilter.queries, operators.ScanProjectFilter.oracles),
    (operators.Aggregations.queries, operators.Aggregations.oracles),
    (operators.Joins.queries, operators.Joins.oracles),
    (operators.Windows.queries, operators.Windows.oracles),
    (operators.SortSetOps.queries, operators.SortSetOps.oracles),
    (operators.Functions.queries, operators.Functions.oracles),
    (operators.Temporal.queries, operators.Temporal.oracles),
    (operators.Lake.queries, operators.Lake.oracles),
    (operators.Profile.queries, operators.Profile.oracles),
    (operators.Versioned.queries, operators.Versioned.oracles),
    (operators.Subqueries.queries, operators.Subqueries.oracles),
    (sources.CatalogDml.queries, sources.CatalogDml.oracles),
    (operators.Analytics.queries, operators.Analytics.oracles),
    (pipeline.Dedup.queries, pipeline.Dedup.oracles),
    (pipeline.Curation.queries, pipeline.Curation.oracles),
    (pipeline.Sampling.queries, pipeline.Sampling.oracles),
    (pipeline.Similarity.queries, pipeline.Similarity.oracles),
    (pipeline.TextAnalysis.queries, pipeline.TextAnalysis.oracles),
    (pipeline.TextIndex.queries, pipeline.TextIndex.oracles),
    (pipeline.Bpe.queries, pipeline.Bpe.oracles),
    (pipeline.Unigram.queries, pipeline.Unigram.oracles),
    (pipeline.NaiveBayes.queries, pipeline.NaiveBayes.oracles),
    (pipeline.Multimodal.queries, pipeline.Multimodal.oracles),
    (pipeline.Web.queries, pipeline.Web.oracles)
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H-style star join: revenue by nation/year over
    * lineitem⋈orders⋈customer⋈nation — dims broadcast, one shuffle for the agg.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(n("n_name"), year(o("o_orderdate")).as("o_year"))
      .agg(Det.sumDollars(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("n_name"), col("o_year"))
  }

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Every query is wrapped in a total order over all output columns
    * (asc nulls-first; oracles end in `ORDER BY ALL NULLS FIRST`) so the
    * driver's row-order hash compare is deterministic. The sort is a
    * verification device: under `Bench`'s order-agnostic aggregate consumer
    * (`bit_xor` of `xxhash64(struct(*))`) Catalyst eliminates it
    * (EliminateSorts), so it costs nothing in benchmarked plans.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.flatMap(_._1).toMap.map { case (name, q) =>
      name -> ((s: SparkSession, dir: String) => Det.ordered(q(s, dir)))
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.iterator.flatMap(_._2).toMap

  /** DECLARED DEMOS — queries that exist to anchor or demonstrate a path a
    * 100 TB deployment would not run as written, kept in the per-round
    * sweep for correctness but excluded from scale claims:
    *
    *  - `q_dedup_jaccard` / `q_join_theta_range` / `q_sim_topk`: the
    *    declared quadratic oracle anchors (n² self-join / BNLJ theta /
    *    crossJoin exact top-k); their scale-safe twins are the LSH
    *    pipeline, `rangeJoinBinned`, and the ANN/IVF/ADC family.
    *  - `q_dedup_near` / `q_dedup_clusters` / `q_dedup_chunks`: the
    *    non-persisted spellings, which re-derive signatures from raw corpus
    *    text in-query (all but `q_dedup_chunks`, the byte-level rolling
    *    hash, run the md5 algebra and are oracle-checked). Production reads
    *    the persisted index (`q_dedup_index_*`, `q_dedup_clusters_md5`,
    *    `q_dedup_chunks_md5` are those rows); these demo the non-persisted
    *    API on a fresh corpus.
    *  - `q_dedup_simhash`: the band populations of a banded SimHash index
    *    built in-query from raw text (oracle-checked); `q_dedup_simhash_md5`
    *    is the per-document fingerprint row.
    *
    * `Bench` expands the literal `@demos` in `SPARK_GRAFT_BENCH_SKIP` to
    * this set, so the sf1 scaling probe excludes every declared demo
    * without hand-maintaining the list; normal driver sweeps never set
    * SKIP and keep running them.
    */
  val demoQueries: Set[String] = Set(
    "q_dedup_jaccard", "q_join_theta_range", "q_sim_topk",
    "q_dedup_near", "q_dedup_clusters", "q_dedup_chunks", "q_dedup_simhash")
}
