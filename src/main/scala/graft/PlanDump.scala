package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round plan-evidence tool (not part of the driver
  * contract): write `.explain("formatted")` for named declared queries
  * with [[Ckpt]] DISABLED for this thread, so the dumped plan keeps the
  * full lineage of every checkpointed subtree — [[Prof]]'s dumps show
  * the post-materialization plan (`Scan ExistingRDD`), which hides
  * exactly the build phases the optimization rounds restructure.
  *
  * Usage: runMain graft.PlanDump <outDir> <query>[,query...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS. Nothing is executed beyond
  * what query CONSTRUCTION runs (index ensure()s are warmed first so
  * build-if-absent reads resolve).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    JdkOpens.requireOrExit("graft.PlanDump")
    require(args.length >= 2, "usage: PlanDump <outDir> <query>[,query...]")
    val outDir = args(0)
    val names = args.drop(1).flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    new java.io.File(outDir).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try pipeline.VectorIndex.ensure(spark, sfDir)
    catch { case _: Throwable => () }
    try pipeline.DedupIndex.ensure(spark, sfDir)
    catch { case _: Throwable => () }
    try pipeline.TextIndex.ensure(spark, sfDir)
    catch { case _: Throwable => () }
    // Internal build frames (the subtrees that production code hides
    // behind a Ckpt materialization): addressable under a leading
    // underscore so their plan shape can be committed as evidence.
    val internal: Map[String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "_dedup_freqsets" -> ((s, d) =>
        pipeline.Dedup.freqOrderedSets(Tables.documents(s, d), 3)))
    Ckpt.off.set(true)
    try names.foreach { name =>
      val fn = internal.getOrElse(name, SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name")))
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$name.txt"), plan)
      println(s"[plandump] $name -> $outDir/$name.txt")
    } finally Ckpt.off.set(false)
    spark.stop()
  }
}
