package xbench

import java.io.File
import graft.operators.Versioned
import graft.pipeline.Curation
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A checked value one op produced: the order-free hash of every output
  * column and the row count.
  */
final case class Obs(op: String, hash: Long, count: Long)

/** What one pass did. `xmlSeconds` is the wall time the workload's
  * `xml_mb_s` counts; `times` holds per-call seconds and `extra` per-pass
  * sizes and counts, both named as the per-layer metrics they feed.
  */
final case class PassOut(xmlSeconds: Double, obs: Seq[Obs],
    times: Map[String, Double], extra: Map[String, Double] = Map.empty)

/** Calls into `graft.xml` shared by the workloads. */
final class XmlInput(val family: Family, xsdRoot: File) {
  val xsdDir: String = new File(xsdRoot, family.name).getPath

  def schema(): StructType =
    graft.xml.XsdSchema.structTypeFor(xsdDir, "", family.recordType)

  def read(spark: SparkSession, files: Seq[File],
      splittable: Boolean = false): DataFrame =
    spark.read.format("graft.xml")
      .option("xml.schema.location", xsdDir)
      .option("xml.separator.tag", family.separator)
      .option("xml.separator.tag.type", family.recordType)
      .option("xml.splittable", splittable.toString)
      .load(files.map(_.getPath): _*)
}

object Check {
  /** bit_xor(xxhash64(struct(*))) and count(*) in one job. */
  def hashOf(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("h"))
      .agg(expr("bit_xor(h)"), count(lit(1))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  /** [[hashOf]] of a DataFrame holding `rows`, computed on the driver with
    * the same function `xxhash64` evaluates (seed 42), without a job.
    */
  def hashOfRows(rows: Iterable[Row], schema: StructType): (Long, Long) = {
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    var x = 0L
    var n = 0L
    rows.foreach { r =>
      x ^= XxHash64Function.hash(toInternal(r), schema, 42L)
      n += 1
    }
    (x, n)
  }

  def obs(op: String, hc: (Long, Long)): Obs = Obs(op, hc._1, hc._2)

  def timed[A](t: Tracer, name: String, layer: String)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = t.span(name, layer)(body)
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** One closed-loop workload: a single client that issues a pass, waits for
  * its result, checks it, and issues the next.
  */
abstract class Workload(val name: String, val family: Family,
    val warmupPasses: Int, val prunedLeaf: String) {
  /** The fixture passes run over: the whole input, or a set-up slice. */
  var fx: Fixture = _
  var xml: XmlInput = _

  def using[A](f: Fixture)(body: => A): A = {
    val saved = fx
    fx = f
    try body finally fx = saved
  }

  /** Checked ops per pass. */
  def opsPerPass: Int

  /** XML bytes one pass's `xml_mb_s` counts. */
  def passBytes: Long

  /** Untimed state reset before every pass. */
  def reset(): Unit = ()

  def pass(spark: SparkSession, t: Tracer): PassOut

  /** Expected observations, computed from the generating rows. */
  def expected(spark: SparkSession, rows: Seq[Row], schema: StructType): Seq[Obs]

  /** Checked ops in [[traceExtras]]. */
  def extraOps: Int = 0

  /** Extra traced calls after the measured loop (per-layer metrics only).
    * Returns metrics and the observations to check.
    */
  def traceExtras(spark: SparkSession, t: Tracer): (Map[String, Double], Seq[Obs]) =
    (Map.empty, Nil)

  /** Session settings: one task per part file, and for the orders dump the
    * single file splits into as many equal tasks as there are parts.
    */
  def configure(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      (fx.parts.map(_.length).max + 1).toString)
}

/** Full-schema hash of the multi-file dump, a one-leaf projection of it,
  * and the same records read from one file with `xml.splittable=true`.
  */
object XmlScan extends Workload("xml_scan", Orders, warmupPasses = 4,
    prunedLeaf = "customer") {
  def opsPerPass = 3
  def passBytes: Long = 2 * fx.partBytes + fx.single.get.length

  def pass(spark: SparkSession, t: Tracer): PassOut = {
    import Check._
    val (full, sFull) = timed(t, "scan.full", "xml")(hashOf(xml.read(spark, fx.parts)))
    val (pruned, sPruned) = timed(t, "scan.pruned", "xml")(
      hashOf(xml.read(spark, fx.parts).select(prunedLeaf)))
    val (split, sSplit) = timed(t, "scan.split", "xml")(
      hashOf(xml.read(spark, fx.single.toSeq, splittable = true)))
    PassOut(sFull + sPruned + sSplit,
      Seq(obs("full", full), obs("pruned", pruned), obs("split", split)),
      Map("scan.full_s" -> sFull, "scan.pruned_s" -> sPruned, "scan.split_s" -> sSplit),
      Map("scan.records" -> full._2.toDouble))
  }

  def expected(spark: SparkSession, rows: Seq[Row], schema: StructType): Seq[Obs] = {
    val all = Check.hashOfRows(rows, schema)
    val leaf = schema.fieldIndex(prunedLeaf)
    val pruned = Check.hashOfRows(rows.map(r => Row(r.get(leaf))), StructType(Seq(schema(leaf))))
    Seq(Check.obs("full", all), Check.obs("pruned", pruned), Check.obs("split", all))
  }
}

/** `Curation.curate` over the document corpus read from XML. */
object Curate extends Workload("curate", Docs, warmupPasses = 2,
    prunedLeaf = "source") {
  def opsPerPass = 1
  override def extraOps = 1
  def passBytes: Long = fx.partBytes

  def pass(spark: SparkSession, t: Tracer): PassOut = {
    val (h, s) = Check.timed(t, "curate", "pipeline")(
      Check.hashOf(Curation.curate(xml.read(spark, fx.parts))))
    PassOut(s, Seq(Check.obs("curate", h)), Map.empty)
  }

  def expected(spark: SparkSession, rows: Seq[Row], schema: StructType): Seq[Obs] = {
    // an RDD, not a local relation: the optimizer would otherwise fold the
    // gates over the local rows into one driver-side pass
    val gen = spark.createDataFrame(spark.sparkContext.parallelize(rows,
      spark.sparkContext.defaultParallelism), schema)
    val (h, n) = Check.hashOf(Curation.curate(gen))
    Seq(Obs("curate", h, n), Obs("funnel", 0L, n))
  }

  /** Times growing prefixes of the public stage calls; each stage's time is
    * the increment over the previous prefix, and each prefix's row count is
    * the funnel. Every prefix is consumed the same way, by hashing all four
    * document columns, so an increment is the stage's own cost. The last
    * prefix's row count is checked against the reference curation.
    */
  override def traceExtras(spark: SparkSession, t: Tracer): (Map[String, Double], Seq[Obs]) = {
    t.startPass(-2)
    val docs = xml.read(spark, fx.parts).select("doc_id", "lang", "source", "text")
    val lang = Curation.stageLang(docs)
    val quality = Curation.stageQuality(lang)
    val exact = Curation.stageExact(quality)
    val near = Curation.stageNear(exact)
    val sample = Curation.stageSample(near)
    val prefixes = Seq("in" -> docs, "lang" -> lang, "quality" -> quality,
      "exact" -> exact, "near" -> near, "sample" -> sample)
    val runs = prefixes.map { case (stage, df) =>
      stage -> Check.timed(t, s"curate.prefix.$stage", "pipeline")(Check.hashOf(df))
    }.toMap
    def secs(stage: String) = runs(stage)._2
    val m = Map(
      "curate.parse_s" -> secs("in"),
      "curate.gates_s" -> (secs("quality") - secs("in")),
      "curate.exact_s" -> (secs("exact") - secs("quality")),
      "curate.near_s" -> (secs("near") - secs("exact")),
      "curate.sample_s" -> (secs("sample") - secs("near"))) ++
      runs.map { case (stage, ((_, n), _)) => s"curate.rows.$stage" -> n.toDouble }
    (m, Seq(Obs("funnel", 0L, runs("sample")._1._2)))
  }
}

/** The orders dump in four batches: `Versioned.commit` of the first,
  * `appendRows` of the rest, then a full `readLatest` and one with a key
  * range. Each pass starts from an empty table directory.
  */
object LakeIngest extends Workload("lake_ingest", Orders, warmupPasses = 1,
    prunedLeaf = "customer") {
  var tableDir: File = _
  def opsPerPass = 2
  def passBytes: Long = fx.partBytes

  /** Four batches of equal part counts; a one-part set-up slice is a single
    * batch, so set-up commits and reads back without appending.
    */
  private def batches: Seq[Seq[File]] = fx.parts.grouped(math.max(1, fx.parts.size / 4)).toSeq

  /** About 1% of the ids, in the middle of a dump of `records` orders. */
  private def keyRange(records: Long): (Long, Long) = {
    val lo = records / 2
    (lo, lo + math.max(1L, records / 100))
  }

  override def reset(): Unit = Paths.deleteTree(tableDir)

  def pass(spark: SparkSession, t: Tracer): PassOut = {
    import Check._
    val dir = tableDir.getPath
    val bs = batches
    val (_, sCommit) = timed(t, "lake.commit", "versioned")(
      Versioned.commit(xml.read(spark, bs.head), dir))
    val sAppend = bs.tail.map { b =>
      timed(t, "lake.append", "versioned")(Versioned.appendRows(xml.read(spark, b), dir))._2
    }.sum
    val (all, sAll) = timed(t, "lake.read_all", "versioned")(
      hashOf(Versioned.readLatest(spark, dir)))
    val (lo, hi) = keyRange(fx.records)
    val (key, sKey) = timed(t, "lake.read_key", "versioned")(
      hashOf(Versioned.readLatest(spark, dir).filter(col("id").between(lo, hi))))
    val parquetBytes = parquetFiles(tableDir).map(_.length).sum
    PassOut(sCommit + sAppend, Seq(obs("read_all", all), obs("read_key", key)),
      Map("lake.commit_s" -> sCommit, "lake.append_s" -> sAppend,
        "lake.read_all_s" -> sAll, "lake.read_key_s" -> sKey),
      Map("lake.read_mb_s" -> parquetBytes / sAll / 1e6,
        "lake.stored_per_xml_byte" -> Paths.bytesUnder(tableDir).toDouble / passBytes,
        "lake.files_written" -> parquetFiles(tableDir).size.toDouble,
        "lake.bytes_written" -> parquetBytes.toDouble))
  }

  private def parquetFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(parquetFiles)
    else if (f.getName.endsWith(".parquet")) Seq(f) else Nil

  def expected(spark: SparkSession, rows: Seq[Row], schema: StructType): Seq[Obs] = {
    val (lo, hi) = keyRange(rows.size)
    val id = schema.fieldIndex("id")
    Seq(Check.obs("read_all", Check.hashOfRows(rows, schema)),
      Check.obs("read_key", Check.hashOfRows(
        rows.filter(r => r.getLong(id) >= lo && r.getLong(id) <= hi), schema)))
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(XmlScan, Curate, LakeIngest)
}
