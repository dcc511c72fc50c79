package graft.operators

import graft.{Det, Q, Tables => T}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.4 A1–A12: hash aggregation surface.
  *
  * Hive executes these over reference xml tables via delegation
  * (`AvroFromXmlSerde.scala:13`); here they are `groupBy().agg(...)` plans —
  * Catalyst plans partial (map-side) + final aggregation automatically, so at
  * 100 TB the shuffle carries one row per (partition, group), not per input
  * row. Double-typed measures are aggregated as exact integer cents
  * (see [[graft.Det]]) purely for oracle hash determinism.
  */
object Aggregations {
  import Det._

  /** Distributed running (prefix) sum over a TOTAL order — the two-phase
    * rewrite of `SUM(x) OVER (ORDER BY valCol DESC, tieCol ASC)`, whose
    * direct spelling is a single-task sort-and-scan over the whole input
    * (the WindowExec "No Partition Defined" scale-killer):
    *
    *  1. pick explicit BUCKET BOUNDARY KEYS once, driver-side, from a
    *     deterministic hash-sample of the order keys (every row whose
    *     `xxhash64(tieCol) % p == 0` — a pure row function, so the sample
    *     is identical on every evaluation, task retry, or speculative
    *     copy; `p` is sized off a count so the collect stays ~128 keys
    *     per bucket regardless of input size);
    *  2. assign every row its bucket as a PURE EXPRESSION over the
    *     boundaries (a codegen'd comparison chain) — unlike
    *     `repartitionByRange`, whose reservoir-sampled boundaries are
    *     re-drawn per JOB, bucket membership here cannot differ between
    *     the totals pass and the output pass, so the two-phase
    *     decomposition is deterministic by construction, not by luck;
    *  3. per-bucket partial totals — a METADATA-SCALE collect, one row
    *     per bucket (the Versioned manifest/zone-map posture) —
    *     prefix-summed driver-side into a broadcast offset table;
    *  4. a bucket-LOCAL running sum (window partitioned by the bucket
    *     id, which also bounds every window partition to ~1/n of the
    *     data) plus the bucket's broadcast offset.
    *
    * All integer arithmetic, so phase order cannot change the result: the
    * output is row-identical to the single-partition window at any bucket
    * count — including NULL `valCol` rows, which are pinned to the last
    * bucket (matching `desc`'s nulls-last order) with their running sum
    * coalesced to the accumulated non-null mass, exactly what the
    * single-partition window yields for trailing nulls. Also returns the
    * grand total as `totCol` (the driver-side Σ of the partial totals —
    * no second pass). Costs one cached narrow key scan (shared by the
    * count and the boundary-sample collect) + the totals aggregate before
    * the windowed pass — constant extra scans, no extra shuffles (the
    * window and the totals agg each hash-shuffle on the bucket id exactly
    * as the windowed pass alone would).
    */
  def runningSumRanged(df: org.apache.spark.sql.DataFrame, valCol: String,
      tieCol: String, cumCol: String, totCol: String)
      : org.apache.spark.sql.DataFrame = {
    val s = df.sparkSession
    // bucket count follows the shuffle parallelism but is CAPPED at 256:
    // the bucket-id expression below is a comparison chain of n−1 terms,
    // and a production-scale shuffle.partitions (2000+) would build an
    // expression tree big enough to blow past codegen method limits and
    // degrade to interpreted evaluation. 256 buckets of ~sequential
    // prefix work is ample sweep parallelism at any scale.
    val n = math.min(
      s.conf.get("spark.sql.shuffle.partitions", "32").toInt, 256)
    // cache the narrow key projection across its two EAGER consumers
    // (count, then the boundary-sample collect) so the upstream plan runs
    // once for both; unpersist is safe immediately after because nothing
    // lazy holds the cached frame
    val keys = df.select(col(valCol).as("__v"), col(tieCol).as("__t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sampled =
      try {
        val cnt = keys.count()
        // deterministic sample of order keys: ~128/bucket in expectation.
        // Null-valued keys are excluded — they are pinned to the last
        // bucket by pidExpr below, so cuts only ever partition the
        // non-null order prefix.
        val p = math.max(1L, cnt / math.max(1L, 128L * n))
        keys.filter(col("__v").isNotNull &&
            pmod(xxhash64(col("__t")), lit(p)) === 0)
          .collect().map(r => (r.get(0), r.get(1)))
      } finally { keys.unpersist(false); () }
    // sort the sample in the window's total order (valCol DESC, tieCol ASC)
    // and take n-1 evenly spaced, de-duplicated cut keys
    val ord = new Ordering[(Any, Any)] {
      private def cmp(a: Any, b: Any): Int = (a, b) match {
        case (x: Number, y: Number) =>
          java.lang.Double.compare(x.doubleValue(), y.doubleValue()) match {
            case 0 => (x, y) match { // exact for longs beyond 2^53
              case (lx: java.lang.Long, ly: java.lang.Long) =>
                java.lang.Long.compare(lx, ly)
              case _ => 0
            }
            case c => c
          }
        case (x: Comparable[_], y) =>
          x.asInstanceOf[Comparable[Any]].compareTo(y)
        case _ => 0
      }
      def compare(a: (Any, Any), b: (Any, Any)): Int = {
        val byVal = -cmp(a._1, b._1)
        if (byVal != 0) byVal else cmp(a._2, b._2)
      }
    }
    val sorted = sampled.sorted(ord)
    val cuts: Seq[(Any, Any)] =
      if (sorted.isEmpty) Seq.empty
      else (1 until n).map(i => sorted((i * sorted.length) / n))
        .distinct.sorted(ord).toSeq
    // bucket id = how many cut keys strictly precede this row — a pure,
    // deterministic, codegen'd expression (no sampling at execution time).
    // NULL valCol rows go to the LAST bucket explicitly: the window's
    // `desc` order sorts nulls last (Spark's desc default), but the
    // comparison chain would evaluate to 0 for them (null comparisons)
    // and silently misplace them in bucket 0.
    val pidChain = cuts
      .map { case (cv, ct) =>
        when(col(valCol) < lit(cv) ||
          (col(valCol) === lit(cv) && col(tieCol) > lit(ct)), 1).otherwise(0)
      }
      .reduceOption(_ + _).getOrElse(lit(0))
    val pidExpr =
      when(col(valCol).isNull, lit(cuts.length)).otherwise(pidChain)
    val bucketed = df.withColumn("__pid", pidExpr)
    // one row per bucket: the per-bucket partial sums (0 for a bucket
    // holding only null values — sum skips nulls)
    val totals = bucketed.groupBy("__pid")
      .agg(coalesce(sum(col(valCol)), lit(0L)).as("__t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offs = totals.map { case (pid, t) => val o = acc; acc += t; (pid, o) }
    val grand = acc
    val offDf = s.createDataFrame(offs.toIndexedSeq).toDF("__pid", "__off")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__pid")
      .orderBy(col(valCol).desc, col(tieCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // coalesce: a window frame holding only nulls sums to null, but its
    // running total is exactly the bucket offset (all non-null mass
    // accumulated earlier) — matching the single-partition window, where
    // trailing null rows carry the grand total
    bucketed.join(broadcast(offDf), Seq("__pid"))
      .withColumn(cumCol,
        coalesce(sum(col(valCol)).over(w), lit(0L)) + col("__off"))
      .withColumn(totCol, lit(grand))
      .drop("__pid", "__off")
  }

  /** Equi-width histogram over an exact-cents value: bucket = cents div
    * width, with per-bucket count and exact min/max — the profiling
    * primitive engines expose as `histogram()`/`width_bucket`. One narrow
    * aggregation; empty buckets are absent (sparse form).
    */
  def equiWidthHistogram(df: org.apache.spark.sql.DataFrame,
      centsCol: org.apache.spark.sql.Column, widthCents: Long)
      : org.apache.spark.sql.DataFrame =
    df.select(centsCol.as("__c"))
      .groupBy(expr(s"__c div ${widthCents}L").as("bucket"))
      .agg(count(lit(1)).as("n"), min(col("__c")).as("min_c"),
        max(col("__c")).as("max_c"))

  val queries: Map[String, Q] = Map(
    // A13: equi-width histogram of l_extendedprice in $100 buckets —
    // bucket ids, counts, and exact in-bucket extrema hash-checked.
    "q_histogram" -> ((s, dir) =>
      equiWidthHistogram(T.lineitem(s, dir), cents(col("l_extendedprice")),
        10000L)),

    // A14: Pareto / cumulative-contribution analysis — parts ranked by
    // exact-cents revenue with a running cumulative and the classic
    // 80%-head flag, decided by integer cross-multiplication
    // ((cum − own) · 5 < total · 4, so the crossing row is IN). The part
    // dimension GROWS with SF, so the running sum is the two-phase
    // [[runningSumRanged]] rewrite (range partitions + broadcast offsets
    // + partition-local windows) — no single-task ordered window anywhere
    // in the plan; the oracle spells the same total order as one
    // unpartitioned window, which the integer arithmetic matches exactly.
    "q_pareto" -> ((s, dir) => {
      val r = T.lineitem(s, dir).groupBy("l_partkey")
        .agg(sum(cents(col("l_extendedprice"))).as("rev_c"))
      runningSumRanged(r, "rev_c", "l_partkey", "cum_c", "tot")
        .select(col("l_partkey"), col("rev_c"), col("cum_c"),
          ((col("cum_c") - col("rev_c")) * 5 < col("tot") * 4)
            .as("in_head80"))
    }),
    // A1: TPC-H Q1 shape — grouped sum/avg/count.
    "q_agg_group" -> ((s, dir) => {
      T.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(cents(col("l_quantity"))).as("sum_qty_c"),
          sum(cents(col("l_extendedprice"))).as("sum_base_c"),
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("sum_disc_c"),
          avgDollars(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("n"))
    }),

    // A2: global (no-key) aggregate.
    "q_agg_global" -> ((s, dir) => {
      T.lineitem(s, dir).agg(
        count(lit(1)).as("n"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        sumDollars(col("l_extendedprice")).as("sum_price"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"))
    }),

    // A3: DISTINCT aggregates.
    "q_agg_distinct" -> ((s, dir) => {
      T.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          sum_distinct(cents(col("l_quantity"))).as("sum_dist_qty_c"))
    }),

    // A4: several distinct aggregates in one query (Expand-based plan).
    "q_agg_multi_distinct" -> ((s, dir) => {
      T.lineitem(s, dir)
        .groupBy("l_linestatus")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          sum_distinct(cents(col("l_discount"))).as("sum_dist_disc_c"))
    }),

    // A5: HAVING (post-aggregation filter).
    "q_agg_having" -> ((s, dir) => {
      T.lineitem(s, dir)
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n"), sum(cents(col("l_quantity"))).as("sum_qty_c"))
        .filter(col("n") >= 25)
    }),

    // A6: ROLLUP with grouping_id; NULLS FIRST spelled out on both sides
    // (Spark ASC defaults nulls-first, DuckDB nulls-last).
    "q_agg_rollup" -> ((s, dir) => {
      T.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          sum(cents(col("l_quantity"))).as("sum_qty_c"))
    }),

    // A7: CUBE.
    "q_agg_cube" -> ((s, dir) => {
      T.customer(s, dir)
        .cube("c_mktsegment", "c_nationkey")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          sumDollars(col("c_acctbal")).as("sum_bal"))
    }),

    // A8: GROUPING SETS (SQL surface).
    "q_agg_grouping_sets" -> ((s, dir) => {
      T.lineitem(s, dir).createOrReplaceTempView("gs_lineitem")
      s.sql(
        s"""SELECT l_returnflag, l_linestatus, grouping_id() AS gid,
           |  count(*) AS n, sum(${sqlCents("l_quantity")}) AS sum_qty_c
           |FROM gs_lineitem
           |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    }),

    // A9: conditional aggregation (CASE inside agg).
    "q_agg_cond" -> ((s, dir) => {
      T.events(s, dir)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("value") > 50, 1).otherwise(0)).as("n_hi"),
          sum(when(col("value") > 50, cents(col("value"))).otherwise(0L))
            .as("sum_hi_c"))
    }),

    // A10 (oracle hash-checked via its BOUND): the HLL++ sketch value
    // itself has no cross-engine twin, so the row outputs the exact
    // distinct count PLUS `approx_ok` = |sketch − exact| ≤ 3·rsd·exact,
    // and the oracle asserts TRUE — the advertised error contract is
    // hash-proved every round, not just unit-sampled. Deterministic:
    // HLL++ merges are order-insensitive, so the sketch value (and the
    // boolean) is a pure function of the multiset. At 100 TB the sketch
    // runs alone; this row is its standing certification against exact.
    //
    // Plan shape: the exact and sketch counts run as SEPARATE aggregations
    // joined on the 3-row group key — spelling them in one agg() makes
    // Catalyst plan the mixed distinct/non-distinct Expand (every input
    // row duplicated, both aggregates riding a doubled shuffle: measured
    // 4.8 s at sf0.1 vs 1.2 s split). countDistinct alone plans as the
    // clean two-phase (flag, partkey) partial dedup; the sketch alone is
    // one narrow partial/final HLL pass.
    "q_approx_distinct" -> ((s, dir) => {
      val exact = T.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"))
      val sketch = T.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx"))
      exact.join(sketch, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n_parts"),
          (abs(col("approx") - col("n_parts")) <=
            lit(3 * 0.01) * col("n_parts")).as("approx_ok"))
    }),

    // A15: heavy hitters (frequent items) — the Count-Min-Sketch member of
    // the sketch family (Cormode-Muthukrishnan), certified against the
    // exact counts like q_approx_distinct certifies HLL. The exact side is
    // the oracle anchor: parts whose line count reaches 1.4× the mean
    // count per key, decided by integer cross-multiplication
    // (cnt·n_keys·5 ≥ 7·n_total — exact at any SF, and mean-relative so
    // the hitter set is non-empty at every SF the driver runs). The
    // sketch side is the 100 TB path: `stat.countMinSketch` runs ONE
    // pass of fixed-width mergeable partial sketches (treeAggregate — no
    // shuffle at all, memory = width·depth counters regardless of key
    // cardinality), and the broadcast sketch answers point estimates.
    // `cms_ok` certifies the CMS contract on every heavy hitter: estimates
    // never undercount and overcount by at most eps·N (eps = 1e-3, depth 5
    // at confidence 0.99, fixed seed → deterministic). The probe udf is
    // the documented sketch-probe seam (the Layout.scala mightContain
    // mold): a CountMinSketch lookup has no Catalyst expression, and the
    // udf rides over only the heavy-hitter rows, never the table.
    "q_heavy_hitters" -> ((s, dir) => {
      val keys = T.lineitem(s, dir).select(col("l_partkey"))
      val cms = keys.stat.countMinSketch("l_partkey", 0.001, 0.99, 42)
      val b = s.sparkContext.broadcast(cms)
      val est = udf((k: Long) => b.value.estimateCount(k))
      val tot = keys.agg(count(lit(1)).as("n_total"),
        countDistinct(col("l_partkey")).as("n_keys"))
      keys.groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(tot))
        .filter(col("cnt") * col("n_keys") * 5 >= col("n_total") * 7)
        .withColumn("e", est(col("l_partkey").cast("long")))
        .select(col("l_partkey"), col("cnt"),
          (col("e") >= col("cnt") &&
            col("e") <= col("cnt") + lit(0.001) * col("n_total")).as("cms_ok"))
    }),

    // A11: collect_list / collect_set, sorted for determinism and joined to
    // strings (the driver's pandas hash compare can't sort array columns).
    "q_agg_collect" -> ((s, dir) => {
      T.customer(s, dir)
        .groupBy("c_nationkey")
        .agg(
          array_join(array_sort(collect_list(col("c_name"))), "|").as("names"),
          array_join(array_sort(collect_set(col("c_mktsegment"))), "|")
            .as("segments"))
    }),

    // Statistical aggregates (Hive 2.1 surface): stddev/variance/corr/covar.
    // Spark's built-in one-pass `stddev_samp`/`corr` are the production path
    // (and what a user would write); for the cross-engine hash gate they
    // drift from DuckDB's streaming algorithm in the last ulps even after
    // rounding, so here the moments are computed from EXACT integer sums
    // (n, Σx, Σx², Σxy over cents-longs — order-independent) with one final
    // double expression spelled identically in both engines → bit-identical.
    "q_agg_stats" -> ((s, dir) => {
      val dc = cents(col("l_discount"))
      val tc = cents(col("l_tax"))
      val n = col("n").cast("double")
      def d(name: String) = col(name).cast("double")
      // sample (co)variance in cents² from raw moments: (Σxy - ΣxΣy/n)/(n-1)
      val varX = (d("sxx") - d("sx") * d("sx") / n) / (n - lit(1.0))
      val varY = (d("syy") - d("sy") * d("sy") / n) / (n - lit(1.0))
      val covXY = (d("sxy") - d("sx") * d("sy") / n) / (n - lit(1.0))
      T.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(dc).as("sx"), sum(dc * dc).as("sxx"),
          sum(tc).as("sy"), sum(tc * tc).as("syy"),
          sum(dc * tc).as("sxy"))
        .select(
          col("l_returnflag"),
          // Unrounded: over identical integer moments both engines evaluate
          // the identical IEEE expression → bit-identical doubles. round(,6)
          // DIVERGED on exact decimal .5 ties (Spark rounds the shortest
          // decimal rendering, DuckDB the binary value) — same pattern as
          // q_win_dist.
          (sqrt(varX) / lit(100.0)).as("sd_disc"),
          (varX / lit(10000.0)).as("var_disc"),
          (covXY / sqrt(varX * varY)).as("corr_dt"),
          (covXY / lit(10000.0)).as("cov_dt"))
    }),

    // Argmax/argmin + boolean aggregates. The ordering value is made unique
    // (cents * 10^8 + linenumber-scaled orderkey) so the argmax is
    // deterministic under ties.
    "q_agg_argmax" -> ((s, dir) => {
      val uniq = (floor(col("l_quantity") * 100).cast("long") * lit(100000000L)
        + col("l_orderkey") * lit(10L) + col("l_linenumber"))
      T.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          max_by(col("l_orderkey"), uniq).as("biggest_qty_order"),
          min_by(col("l_orderkey"), uniq).as("smallest_qty_order"),
          bool_and(col("l_quantity") > 0).as("all_positive"),
          bool_or(col("l_discount") > 0.09).as("any_high_disc"))
    }),

    // A12: exact interpolated percentile (over integer cents; rounded to
    // absorb last-ulp interpolation differences).
    //
    // Measured alternative, round 15: a histogram + cumulative-window
    // spelling benched SLOWER than the non-codegen ObjectHashAggregate
    // here (price cents are near-unique, so the histogram degenerates to
    // the raw row count); the built-in stays. Numbers and the removed
    // spelling: OPTIMIZATION_r15.md.
    "q_agg_percentile" -> ((s, dir) => {
      T.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(expr(s"percentile(${"floor(l_quantity * 100)"}, 0.5)"), 4)
            .as("med_qty_c"),
          round(expr(s"percentile(floor(l_extendedprice * 100), 0.9)"), 4)
            .as("p90_price_c"))
    }),

    // A12b: the scale twin — approx_percentile (t-digest-style sketch,
    // mergeable partial state, bounded memory per group) where exact
    // percentile buffers every value. No oracle (sketch internals differ
    // across engines); accuracy vs exact asserted in PipelineSpec.
    "q_agg_percentile_approx" -> ((s, dir) => {
      T.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          expr("approx_percentile(floor(l_quantity * 100), 0.5, 1000)")
            .as("med_qty_c"),
          expr("approx_percentile(floor(l_extendedprice * 100), 0.9, 1000)")
            .as("p90_price_c"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q_pareto" ->
      """WITH r AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM lineitem GROUP BY 1),
        |w AS (
        |  SELECT l_partkey, rev_c,
        |    CAST(SUM(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c,
        |    CAST(SUM(rev_c) OVER () AS BIGINT) AS tot
        |  FROM r)
        |SELECT l_partkey, rev_c, cum_c,
        |  (cum_c - rev_c) * 5 < tot * 4 AS in_head80
        |FROM w ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_histogram" ->
      """WITH c AS (
        |  SELECT CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cc
        |  FROM lineitem)
        |SELECT cc // 10000 AS bucket, count(*) AS n,
        |  CAST(min(cc) AS BIGINT) AS min_c, CAST(max(cc) AS BIGINT) AS max_c
        |FROM c GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    // the exact count is re-derived; TRUE asserts the Spark-side sketch
    // honored its 3·rsd bound (see the query's doc comment)
    "q_approx_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts, TRUE AS approx_ok
        |FROM lineitem GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    // exact heavy-hitter set re-derived; TRUE asserts the Spark-side CMS
    // honored its (no-undercount, ≤ eps·N overcount) bound per hitter
    "q_heavy_hitters" ->
      """WITH t AS (SELECT count(*) AS n_total,
        |  count(DISTINCT l_partkey) AS n_keys FROM lineitem),
        |c AS (SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1)
        |SELECT c.l_partkey, c.cnt, TRUE AS cms_ok
        |FROM c, t WHERE c.cnt * t.n_keys * 5 >= t.n_total * 7
        |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_agg_group" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(${sqlCents("l_quantity")}) AS BIGINT) AS sum_qty_c,
         |  CAST(SUM(${sqlCents("l_extendedprice")}) AS BIGINT) AS sum_base_c,
         |  CAST(SUM(${sqlCents("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS sum_disc_c,
         |  ${sqlAvgDollars("l_quantity")} AS avg_qty,
         |  count(*) AS n
         |FROM lineitem GROUP BY 1,2 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_agg_global" ->
      s"""SELECT count(*) AS n,
         |  count(DISTINCT l_orderkey) AS n_orders,
         |  ${sqlSumDollars("l_extendedprice")} AS sum_price,
         |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
         |FROM lineitem""".stripMargin,
    "q_agg_distinct" ->
      s"""SELECT l_returnflag,
         |  count(DISTINCT l_partkey) AS n_parts,
         |  CAST(SUM(DISTINCT ${sqlCents("l_quantity")}) AS BIGINT) AS sum_dist_qty_c
         |FROM lineitem GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_agg_multi_distinct" ->
      s"""SELECT l_linestatus,
         |  count(DISTINCT l_partkey) AS n_parts,
         |  count(DISTINCT l_suppkey) AS n_supps,
         |  count(DISTINCT l_orderkey) AS n_orders,
         |  CAST(SUM(DISTINCT ${sqlCents("l_discount")}) AS BIGINT) AS sum_dist_disc_c
         |FROM lineitem GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_agg_having" ->
      s"""SELECT l_partkey, count(*) AS n,
         |  CAST(SUM(${sqlCents("l_quantity")}) AS BIGINT) AS sum_qty_c
         |FROM lineitem GROUP BY 1 HAVING count(*) >= 25 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_agg_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, GROUPING_ID(l_returnflag, l_linestatus) AS gid,
         |  count(*) AS n,
         |  CAST(SUM(${sqlCents("l_quantity")}) AS BIGINT) AS sum_qty_c
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_agg_cube" ->
      s"""SELECT c_mktsegment, c_nationkey, GROUPING_ID(c_mktsegment, c_nationkey) AS gid,
         |  count(*) AS n,
         |  ${sqlSumDollars("c_acctbal")} AS sum_bal
         |FROM customer GROUP BY CUBE (c_mktsegment, c_nationkey)
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_agg_grouping_sets" ->
      s"""SELECT l_returnflag, l_linestatus, GROUPING_ID(l_returnflag, l_linestatus) AS gid,
         |  count(*) AS n,
         |  CAST(SUM(${sqlCents("l_quantity")}) AS BIGINT) AS sum_qty_c
         |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         |ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_agg_cond" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
         |  CAST(SUM(CASE WHEN value > 50 THEN ${sqlCents("value")} ELSE 0 END) AS BIGINT) AS sum_hi_c
         |FROM events GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_agg_collect" ->
      """SELECT c_nationkey,
        |  array_to_string(list_sort(list(c_name)), '|') AS names,
        |  array_to_string(list_sort(list(DISTINCT c_mktsegment)), '|') AS segments
        |FROM customer GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_agg_stats" ->
      s"""WITH m AS (
         |  SELECT l_returnflag,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    CAST(SUM(${sqlCents("l_discount")}) AS DOUBLE) AS sx,
         |    CAST(SUM(${sqlCents("l_discount")} * ${sqlCents("l_discount")}) AS DOUBLE) AS sxx,
         |    CAST(SUM(${sqlCents("l_tax")}) AS DOUBLE) AS sy,
         |    CAST(SUM(${sqlCents("l_tax")} * ${sqlCents("l_tax")}) AS DOUBLE) AS syy,
         |    CAST(SUM(${sqlCents("l_discount")} * ${sqlCents("l_tax")}) AS DOUBLE) AS sxy
         |  FROM lineitem GROUP BY 1)
         |SELECT l_returnflag,
         |  sqrt((sxx - sx * sx / n) / (n - 1.0)) / 100.0 AS sd_disc,
         |  ((sxx - sx * sx / n) / (n - 1.0)) / 10000.0 AS var_disc,
         |  ((sxy - sx * sy / n) / (n - 1.0)) /
         |    sqrt(((sxx - sx * sx / n) / (n - 1.0)) * ((syy - sy * sy / n) / (n - 1.0))) AS corr_dt,
         |  ((sxy - sx * sy / n) / (n - 1.0)) / 10000.0 AS cov_dt
         |FROM m ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_agg_argmax" ->
      """SELECT l_returnflag,
        |  arg_max(l_orderkey, CAST(FLOOR(l_quantity * 100) AS BIGINT) * 100000000
        |    + l_orderkey * 10 + l_linenumber) AS biggest_qty_order,
        |  arg_min(l_orderkey, CAST(FLOOR(l_quantity * 100) AS BIGINT) * 100000000
        |    + l_orderkey * 10 + l_linenumber) AS smallest_qty_order,
        |  bool_and(l_quantity > 0) AS all_positive,
        |  bool_or(l_discount > 0.09) AS any_high_disc
        |FROM lineitem GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,
    "q_agg_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(FLOOR(l_quantity * 100), 0.5), 4) AS med_qty_c,
        |  round(quantile_cont(FLOOR(l_extendedprice * 100), 0.9), 4) AS p90_price_c
        |FROM lineitem GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin
  )
}
