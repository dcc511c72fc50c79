package xbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Benchmark driver: one JVM, one `local[N]` Spark session at a time, one
  * workload per run. Prints `metric value unit` report lines, then one
  * `XBENCH-RESULT {json}` line for `run.py`.
  *
  * Run order: fixtures (untimed) → `setups` × (session start, XSD→schema,
  * first pass) → warm-up passes, with the expected values computed beside
  * them (both untimed) → measured passes until `seconds` have elapsed. Every pass's outputs are checked.
  * With `trace`, measured passes alternate between untraced and traced
  * (the difference is the tracing overhead), then the per-layer probes run.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, size: String, corrupt: Boolean, threads: Int,
      work: File, xsd: File, buildFp: String, genFp: String)

  val EndToEnd: Seq[(String, String)] = Seq("xml_mb_s" -> "MB/s", "setup_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "xsd.schema_ms" -> "ms", "iter.full_mb_s" -> "MB/s",
    "iter.pruned_mb_s" -> "MB/s", "split.mb_s" -> "MB/s",
    "scan.full_s" -> "s", "scan.pruned_s" -> "s", "scan.split_s" -> "s",
    "scan.records" -> "count",
    "curate.parse_s" -> "s", "curate.gates_s" -> "s", "curate.exact_s" -> "s",
    "curate.near_s" -> "s", "curate.sample_s" -> "s",
    "curate.rows.in" -> "count", "curate.rows.lang" -> "count",
    "curate.rows.quality" -> "count", "curate.rows.exact" -> "count",
    "curate.rows.near" -> "count", "curate.rows.sample" -> "count",
    "lake.commit_s" -> "s", "lake.append_s" -> "s", "lake.read_all_s" -> "s",
    "lake.read_key_s" -> "s", "lake.meta_ms" -> "ms",
    "lake.files_written" -> "count", "lake.bytes_written" -> "B",
    "lake.read_mb_s" -> "MB/s", "lake.stored_per_xml_byte" -> "ratio",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.task_skew" -> "ratio", "spark.cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.plan_s" -> "s", "spark.util" -> "ratio",
    "trace.overhead_pct" -> "%")

  private val units: Map[String, String] = (EndToEnd ++ PerLayer).toMap

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.all.find(_.name == a.workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val (result, lines) = run(a, w)
    lines.foreach(println)
    println("XBENCH-RESULT " + result)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("size"), m("corrupt") == "1", m("threads").toInt, new File(m("work")),
      new File(m("xsd")), m("build-fp"), m("gen-fp"))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.threads}]")
      .appName("xmlbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * a.threads).toString)
      .config("spark.sql.files.openCostInBytes", "0")
      // AQE re-plans when a stage finishes, so which stage finishes first
      // changed curate's job and task counts between passes of one run
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private final case class Measured(out: PassOut, mbs: Double, traced: Boolean,
      layer: Map[String, Double])

  def run(a: Args, w: Workload): (String, Seq[String]) = {
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    w.fx = Fixtures.get(w.family, a.size, a.seed, a.corrupt, a.genFp, a.work)
    val setupFx = w.fx.slice(1) // set-up passes read the first part file
    phase("fixtures")
    w.xml = new XmlInput(w.family, a.xsd)
    if (w eq LakeIngest) LakeIngest.tableDir = new File(a.work, "lake-table")
    val tracer = new Tracer
    val counters = new Counters
    var attempted = 0L
    var failed = 0L
    val toCheck = ArrayBuffer[Obs]()
    val errors = ArrayBuffer[String]()

    def doPass(spark: SparkSession, prefix: String = ""): Option[PassOut] = {
      w.reset()
      System.gc()
      attempted += w.opsPerPass
      try {
        val out = tracer.span("pass", "bench")(w.pass(spark, tracer))
        toCheck ++= out.obs.map(o => o.copy(op = prefix + o.op))
        Some(out)
      } catch {
        case e: Exception =>
          failed += w.opsPerPass
          errors += s"${e.getClass.getName}: ${e.getMessage}".take(300)
          None
      }
    }

    // set-up, repeated: the first is cold; the median is reported
    val nSetups = if (a.trace) 1 else 3
    var spark: SparkSession = null
    var schema: org.apache.spark.sql.types.StructType = null
    val setupTimes = (1 to nSetups).map { _ =>
      if (spark != null) spark.stop()
      w.reset()
      System.gc()
      val t0 = System.nanoTime()
      spark = session(a)
      schema = w.xml.schema()
      w.configure(spark)
      w.using(setupFx)(doPass(spark, Setup))
      (System.nanoTime() - t0) / 1e9
    }

    phase("setups")
    // the expected values are computed while the warm-up passes run: both
    // are untimed, and neither keeps all threads busy on its own
    val expectedRun = {
      import scala.concurrent.ExecutionContext.Implicits.global
      val (session, whole) = (spark, w.fx)
      scala.concurrent.Future(expectedObs(a, w, whole, setupFx, session, schema))
    }
    (1 to w.warmupPasses).foreach(_ => doPass(spark))
    val expected = scala.concurrent.Await.result(expectedRun,
      scala.concurrent.duration.Duration.Inf)
    phase("warmup")
    def check(): Unit = {
      toCheck.foreach { o =>
        if (!expected.get(o.op).contains(o)) {
          failed += 1
          errors += s"output check failed: $o, expected ${expected.get(o.op)}"
        }
      }
      toCheck.clear()
    }
    check()

    val measured = ArrayBuffer[Measured]()
    val minPasses = if (a.trace) 4 else 3
    val t0 = System.nanoTime()
    var i = 0
    while (i < minPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      // untraced, traced, traced, untraced, ...: a drift over the loop
      // cancels out of the traced/untraced comparison
      val traced = a.trace && (i % 4 == 1 || i % 4 == 2)
      if (traced) {
        counters.attach(spark)
        tracer.enabled = true
        tracer.startPass(i)
      }
      val before = if (traced) counters.snapshot(spark.sparkContext) else null
      val out = doPass(spark)
      val layer =
        if (!traced) Map.empty[String, Double]
        else {
          val after = counters.snapshot(spark.sparkContext)
          counters.detach(spark)
          tracer.enabled = false
          engine(counters, before, after, tracer.ofPass(i), a.threads)
        }
      out.foreach(o => measured += Measured(o, w.passBytes / o.xmlSeconds / 1e6, traced, layer))
      i += 1
    }
    check()
    phase("measured")

    val report = scala.collection.mutable.LinkedHashMap[String, Double]()
    val untraced = measured.filterNot(_.traced)
    if (untraced.nonEmpty) report("xml_mb_s") = median(untraced.map(_.mbs).toSeq)
    report("setup_s") = median(setupTimes)
    // per-pass lake sizes and read rate are printed on every run
    if (w eq LakeIngest) Seq("lake.read_mb_s", "lake.stored_per_xml_byte").foreach { k =>
      val xs = measured.flatMap(_.out.extra.get(k)).toSeq
      if (xs.nonEmpty) report(k) = median(xs)
    }

    if (a.trace) {
      tracer.enabled = true
      val traced = measured.filter(_.traced).toSeq
      if (traced.nonEmpty) {
        val perPass = traced.map(m => m.out.times ++ m.out.extra ++ m.layer)
        perPass.flatMap(_.keys).distinct.foreach(k => report(k) = median(perPass.flatMap(_.get(k))))
        if (untraced.nonEmpty) {
          val u = median(untraced.map(_.mbs).toSeq)
          report("trace.overhead_pct") = (u - median(traced.map(_.mbs))) / u * 100
        }
      }
      val (probes, probeOps, probeErrors) = Probes.run(w, schema, tracer)
      report ++= probes
      attempted += probeOps
      failed += probeErrors.size
      errors ++= probeErrors
      attempted += w.extraOps
      val (extras, extraObs) =
        try w.traceExtras(spark, tracer)
        catch {
          case e: Exception =>
            errors += s"${e.getClass.getName}: ${e.getMessage}".take(300)
            failed += w.extraOps
            (Map.empty[String, Double], Nil)
        }
      report ++= extras
      toCheck ++= extraObs
      check()
      writeSpans(a, tracer)
    }
    spark.stop()
    phase(if (a.trace) "trace_extras" else "stop")

    val names = if (a.trace) PerLayer else EndToEnd
    val metrics = names.map { case (n, unit) =>
      n -> Json.Raw(Json.obj(Seq("value" -> report.getOrElse(n, 0.0), "unit" -> unit)))
    }
    val selfTimes = tracer.selfSeconds(_ >= 0)
    val correct = failed == 0
    val result = Json.obj(Seq(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics)),
      "report" -> Json.Raw(Json.obj(report.toSeq.map { case (k, v) =>
        k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> units.getOrElse(k, "")))) })),
      "setups_s" -> setupTimes,
      "passes" -> measured.toSeq.map(m => Json.Raw(Json.obj(Seq(
        "xml_mb_s" -> m.mbs, "traced" -> m.traced)))),
      "self_s" -> selfTimes,
      "phases_s" -> phases.toMap,
      "errors" -> errors.distinct.toSeq))
    val lines = Seq(
      s"workload=${w.name} seed=${a.seed} size=${a.size} trace=${if (a.trace) 1 else 0} " +
        s"threads=${a.threads} setups=$nSetups warmup=${w.warmupPasses} " +
        s"passes=${measured.size} pass_mb=${w.passBytes / 1e6}",
      f"ops attempted=$attempted failed=$failed") ++
      report.map { case (k, v) => s"  $k $v ${units.getOrElse(k, "")}" } ++
      selfTimes.toSeq.sortBy(_._1).map { case (l, s) => s"  self.$l $s s" } ++
      Seq("  phases " + phases.map { case (k, v) => f"$k=$v%.1fs" }.mkString(" ")) ++
      errors.distinct.take(5).map("  error: " + _)
    (result, lines)
  }

  /** Engine counters of one traced pass, and the lake's driver-side
    * metadata time: each commit/append call's wall time minus the part of
    * it covered by Spark jobs.
    */
  private def engine(c: Counters, a: Snap, b: Snap, spans: Seq[Span],
      threads: Int): Map[String, Double] = {
    val wall = spans.find(_.name == "pass").map(_.seconds).getOrElse(Double.NaN)
    val stages = c.tasksBetween(a, b).groupBy(_.stage).values.toSeq
    val skew = {
      val mx = stages.map(_.map(_.durationMs).max.toDouble).sum
      val md = stages.map(ts => median(ts.map(_.durationMs.toDouble))).sum
      if (md > 0) mx / md else 1.0
    }
    val jobs = c.jobsBetween(a, b)
    val metaMs = spans.filter(s => s.name == "lake.commit" || s.name == "lake.append")
      .map { s =>
        val inside = jobs.filter(j => j.endMs >= s.startMs && j.startMs <= s.endMs)
          .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
          .sortBy(_._1)
        var covered = 0L
        var reach = Long.MinValue
        inside.foreach { case (st, en) =>
          val from = math.max(st, reach)
          if (en > from) covered += en - from
          reach = math.max(reach, en)
        }
        (s.endMs - s.startMs - covered).toDouble
      }.sum
    val cpu = (b.cpuNs - a.cpuNs) / 1e9
    Map(
      "spark.jobs" -> (b.jobs - a.jobs).toDouble,
      "spark.tasks" -> (b.tasks - a.tasks).toDouble,
      "spark.shuffle_write_mb" -> (b.shuffleWriteBytes - a.shuffleWriteBytes) / 1e6,
      "spark.spill_mb" -> (b.spillBytes - a.spillBytes) / 1e6,
      "spark.task_skew" -> skew,
      "spark.cpu_s" -> cpu,
      "spark.gc_s" -> (b.gcMs - a.gcMs) / 1e3,
      "spark.plan_s" -> (b.planNs - a.planNs) / 1e9,
      "spark.util" -> cpu / (threads * wall)) ++
      (if (spans.exists(_.layer == "versioned")) Map("lake.meta_ms" -> metaMs) else Map.empty)
  }

  /** Op-name prefix of set-up passes, which run over a slice of the input. */
  val Setup = "setup:"

  /** Expected observations of whole-input and set-up passes, cached beside
    * the fixture per build.
    */
  private def expectedObs(a: Args, w: Workload, fx: Fixture, setupFx: Fixture,
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): Map[String, Obs] = {
    val f = new File(fx.dir, s"expected-${w.name}-${a.buildFp}.txt")
    val obs =
      if (f.exists) Files.readAllLines(f.toPath, UTF_8).toArray(Array.empty[String]).toSeq.map { l =>
        val Array(op, h, n) = l.split(" ")
        Obs(op, h.toLong, n.toLong)
      } else {
        val rows = fx.rows()
        val got = w.expected(spark, rows, schema) ++
          w.expected(spark, rows.take(setupFx.records.toInt), schema)
            .map(o => o.copy(op = Setup + o.op))
        val tmp = new File(f.getPath + ".tmp")
        Files.write(tmp.toPath, got.map(o => s"${o.op} ${o.hash} ${o.count}").mkString("\n").getBytes(UTF_8))
        Files.move(tmp.toPath, f.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        got
      }
    obs.map(o => o.op -> o).toMap
  }

  private def writeSpans(a: Args, t: Tracer): Unit = {
    val dir = new File(a.work, "traces")
    dir.mkdirs()
    Files.write(new File(dir, s"${a.workload}-s${a.seed}.jsonl").toPath,
      t.toJsonLines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
