package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

/** Benchmark main — driver contract: print ONE parseable JSON line
  * `{"metric":"total","value":N,"unit":"sec",...}`.
  *
  * Harness choices (driven by round-1/2 findings):
  *  - the consumer is `select(xxhash64(struct(all))).agg(bit_xor(h))`, not
  *    `count()` and not `sum(...)`: under `count()` Catalyst prunes every
  *    unused projection, so narrow-projection queries mostly measured
  *    parquet row counting; under ANSI mode (Spark 4 default) a running
  *    `sum` of uniform random 64-bit hashes overflows Long after a handful
  *    of rows and aborts the job (round-2's numbers were time-to-abort).
  *    `bit_xor` forces every output column, is order-agnostic (the
  *    verification-only total sort is still eliminated — EliminateSorts
  *    under an aggregate), and cannot overflow.
  *  - per-query failures are counted, reported in the JSON (`"errors":N`),
  *    and make the run exit non-zero — never silently absorbed.
  *  - the printed line carries only the total plus a small headline-query
  *    map; the full per-query map goes to `bench_queries.json` (the 86-entry
  *    inline map overflowed the driver's line capture → `"parsed": null`).
  *    It is printed AFTER `spark.stop()` so it is the last stdout line.
  *  - each query runs `Runs`× and reports its MEDIAN: round-3 vs round-4 on
  *    byte-identical code drifted +34% under single-shot timing, so a real
  *    regression below ~1.4× was indistinguishable from noise. The JSON
  *    carries `"runs":3`; `bench_queries.json` keeps the min/max spread.
  */
object Bench {

  /** Headline queries included inline in the printed JSON (kept small so the
    * line never truncates): one per major subsystem.
    */
  private val headline = Seq(
    "q_agg_group", "q_join_star", "q_win_rank", "q_dedup_exact_hash",
    "q_dedup_near", "q_sim_ann", "q_text_quality", "q_stream_session",
    "q_sq8_ivf", "q_merge_upsert", "q_pq_build", "q_pq_ivfadc",
    "q_dedup_index_build", "q_dedup_incremental", "q_dedup_index_lookup",
    // r15 additions (additions-only per the harness contract): the heavy
    // queries the r14/r15 optimization rounds actually touched, so the
    // driver's per-query table can see their deltas instead of computing
    // its geomean over sub-second noise-band rows.
    "q_dedup_containment_join", "q_dedup_setsim", "q_lake_skipping",
    "q_lake_skipping_multi", "q_bpe_vocab_build", "q_hist_equidepth",
    "q_table_profile", "q_text_bm25", "q_unigram_prune")

  /** [[consume]] exposed for the optimization-round profiler ([[Prof]]),
    * so its per-query timings use the EXACT bench consumer.
    */
  private[graft] def consumeForProf(df: DataFrame): Unit = consume(df)

  /** Materialize every output column of `df` (codegen'd hash, no collect).
    * bit_xor is overflow-free under ANSI mode and order-agnostic.
    */
  private def consume(df: DataFrame): Unit = {
    val all = df.columns.map(col).toIndexedSeq
    df.select(xxhash64(struct(all: _*)).as("h")).agg(expr("bit_xor(h)")).collect()
    ()
  }

  /** FROZEN host-speed control — DO NOT EDIT ACROSS ROUNDS. A fixed
    * scan+shuffle+join+agg workload built directly on the Spark API (no
    * graft operator in the plan), timed median-of-3 BEFORE and AFTER the
    * query sweep. The round-6 host-degradation episode (identical code,
    * +32% twenty minutes apart, load <2/32) cost a round of bench signal
    * because the slowdown was only arguable in prose; with `control_pre`/
    * `control_post` in the JSON, a uniform host slowdown is
    * machine-detectable (control moved ⇒ normalize; control flat ⇒ the
    * query deltas are real), and drift DURING the sweep shows up as
    * pre≠post.
    */
  private def control(spark: SparkSession, sfDir: String): Double = {
    val times = (1 to 3).map { _ =>
      System.gc()
      val t0 = System.nanoTime()
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
      consume(li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_returnflag"), col("o_orderpriority"))
        .agg(expr("sum(l_quantity) AS sq"), expr("avg(l_extendedprice) AS ae"),
          expr("count(1) AS n")))
      (System.nanoTime() - t0) / 1e9
    }.sorted
    times(1)
  }

  def main(args: Array[String]): Unit = {
    JdkOpens.requireOrExit("graft.Bench")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session once (FS/parquet-footer/codegen init) so the first
    // timed query doesn't absorb ~5s of one-time setup.
    Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    // ... and one untimed full query: table counts alone don't initialize
    // the SQL/aggregation/codegen paths, so whatever query sorted first
    // was still absorbing ~1.5s of first-query setup.
    try consume(SparkEntry.queries("q_agg_global")(spark, sfDir))
    catch { case _: Throwable => () }
    // The persisted vector index is build-on-first-use: warm it OUTSIDE the
    // timed region, or on a clean box the alphabetically-FIRST consumer
    // (q_pq_adc, which sorts before q_pq_build) absorbs the whole ~4s build
    // into its first timed run — fatal under SPARK_GRAFT_BENCH_RUNS=1 and
    // still skews the min/max spread at 3. q_pq_build stays an unconditional
    // rebuild, so the build cost is measured exactly once, in its own entry.
    try pipeline.VectorIndex.ensure(spark, sfDir)
    catch { case _: Throwable => () }
    // Same for the dedup signature index (its consumers other than the
    // unconditional-rebuild q_dedup_index_build read it build-if-absent).
    try pipeline.DedupIndex.ensure(spark, sfDir)
    catch { case _: Throwable => () }
    // ... and the BM25 inverted index (q_bm25_index_search / the hybrid
    // fusion read it build-if-absent; q_bm25_index_build carries the build).
    try pipeline.TextIndex.ensure(spark, sfDir)
    catch { case _: Throwable => () }
    val Runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS") match {
      case None => 3
      case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse(
        sys.error(s"SPARK_GRAFT_BENCH_RUNS must be a positive int, got '$v'"))
    }
    // Probe-harness escape hatch: the sf1 scaling probe (ScaleProbe data)
    // must exclude the declared quadratic demos — they blow up by DESIGN at
    // 10×, and one of them would eat the whole probe budget. Normal driver
    // runs never set this, so the per-round sweep stays complete.
    // `@demos` expands to SparkEntry.demoQueries (the declared quadratic /
    // fast-path demo set) so the probe never hand-maintains the list.
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
      .flatMap(n => if (n == "@demos") SparkEntry.demoQueries else Set(n))
    // Include-filter twin of SKIP (probe harness only): re-time a handful
    // of queries (e.g. after fixing one that failed at the sf1 probe)
    // without paying for the full sweep. Driver runs never set either.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // One full control+sweep+control pass. Returned controls bracket THIS
    // attempt, so host drift during the attempt shows up as pre != post.
    def attempt(): Attempt = {
      val controlPre = control(spark, sfDir)
      val failed = scala.collection.mutable.ArrayBuffer.empty[String]
      // results: name -> (median, min, max) over Runs timings (a query that
      // throws counts as failed once and keeps its single time-to-fail).
      val results = SparkEntry.queries.toSeq.filterNot(q => skip(q._1))
        .filter(q => only.isEmpty || only(q._1))
        .sortBy(_._1).map { case (name, fn) =>
        val times = scala.collection.mutable.ArrayBuffer.empty[Double]
        var broken = false
        var r = 0
        while (r < Runs && !broken) {
          // Pay accumulated GC debt OUTSIDE the timed region: back-to-back
          // runs otherwise bill one query for its predecessors' garbage —
          // sf0.1 medians showed 14x intra-query spread (q_json_funcs
          // 0.35..4.8s) on queries whose plans are trivially cheap.
          System.gc()
          val t0 = System.nanoTime()
          try consume(fn(spark, sfDir))
          catch { case e: Throwable =>
            broken = true
            failed += name
            System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
          times += (System.nanoTime() - t0) / 1e9
          r += 1
        }
        // a broken query reports ONLY its time-to-fail (the last attempt) —
        // mixing it into a median with earlier successful runs would make
        // cross-round comparisons of a flaky query meaningless
        val stats =
          if (broken) (times.last, times.last, times.last)
          else { val s = times.sorted; (s(s.size / 2), s.head, s.last) }
        name -> stats
      }
      Attempt(results, failed.toSeq, controlPre, control(spark, sfDir))
    }
    // Drift-triggered rerun (round-8 lesson): the E91 control DETECTED a
    // mid-sweep ~2x host slowdown (control_pre 0.915 -> control_post 1.788)
    // but nothing acted on it — the round's numbers shipped ~30% inflated
    // and a human had to hand-normalize against a quiesced rerun. Now the
    // sweep re-runs itself (up to twice, by default) while its controls
    // disagree by >30% in either direction, every attempt is reported, and
    // the attempt with the flattest controls becomes the headline. Default
    // raised 2 → 3 after round 11, where BOTH attempts' controls drifted
    // >30% on a noisy host and the headline shipped inflated — a drifting
    // host gets a third chance at a flat sweep. Probe harnesses that
    // cannot afford extra sweeps set SPARK_GRAFT_BENCH_MAX_ATTEMPTS=1.
    val maxAttempts = sys.env.get("SPARK_GRAFT_BENCH_MAX_ATTEMPTS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(3)
    def drift(a: Attempt): Double =
      if (math.min(a.controlPre, a.controlPost) <= 0) 1.0
      else math.max(a.controlPre, a.controlPost) /
        math.min(a.controlPre, a.controlPost)
    val attempts = scala.collection.mutable.ArrayBuffer(attempt())
    while (drift(attempts.last) > 1.3 && attempts.size < maxAttempts) {
      System.err.println(
        f"[bench] controls drifted ${drift(attempts.last)}%.2fx " +
          f"(pre=${attempts.last.controlPre}%.3f post=${attempts.last.controlPost}%.3f); re-running sweep")
      attempts += attempt()
    }
    // Headline = the attempt with the flattest controls (ties -> latest,
    // which ran on the warmest JVM).
    val best = attempts.zipWithIndex.minBy { case (a, i) => (drift(a), -i) }._1
    val perQuery = best.results
      .map { case (k, (med, mn, mx)) =>
        s"\"" + k + "\":" + f"""{"median":$med%.3f,"min":$mn%.3f,"max":$mx%.3f}""" }
      .mkString("{", ",", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_queries.json"),
      perQuery.getBytes("UTF-8"))
    val times = best.results.map { case (k, (med, _, _)) => k -> med }.toMap
    val hl = headline.filter(times.contains)
      .map(k => s"\"" + k + "\":" + f"${times(k)}%.3f")
      .mkString("{", ",", "}")
    val total = times.values.sum
    val attemptsJson = attempts
      .map(a => f"""{"total":${a.results.map(_._2._1).sum}%.3f,"control_pre":${a.controlPre}%.3f,"control_post":${a.controlPost}%.3f,"errors":${a.failed.size}}""")
      .mkString("[", ",", "]")
    spark.stop()
    // Printed after spark.stop() so this is the LAST stdout line (the driver
    // tail-parses; sbt trailers land on stderr under -error).
    println(f"""{"metric":"total","value":$total,"unit":"sec","n_queries":${best.results.size},"errors":${best.failed.size},"skipped":${skip.size},"runs":$Runs,"control_pre":${best.controlPre}%.3f,"control_post":${best.controlPost}%.3f,"attempts":$attemptsJson,"queries":$hl,"sf":"$sfDir"}""")
    if (best.failed.nonEmpty) {
      System.err.println(s"[bench] ${best.failed.size} queries failed: ${best.failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** One control+sweep+control pass: per-query (median, min, max), the
    * queries that threw, and the bracketing host-speed controls.
    */
  private final case class Attempt(
      results: Seq[(String, (Double, Double, Double))],
      failed: Seq[String],
      controlPre: Double,
      controlPost: Double)
}
