package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-probe data generator: writes an N×-replicated copy of an sfDir
  * so the bench can measure how every query scales one decade PAST the
  * largest driver-generated SF — the empirical check of each "scale-safe"
  * plan-shape claim (a query whose plan is linear must show ~N× wall time,
  * not N²×).
  *
  * Replication is key-shifted: every join/group key moves by
  * `replica * STRIDE`, so foreign keys stay consistent (orders still join
  * customers, lineitems still join their orders) and key cardinality grows
  * N× like a real larger SF. Dimension tables (region, nation) are copied
  * once — exactly how TPC-H scales.
  *
  * Documents get a per-replica word-suffix bijection (`w` → `wx3` in
  * replica 3): within a replica, shingle-set structure (and therefore the
  * planted near-dup clusters) is preserved EXACTLY under any word-level
  * bijection; across replicas, shingle sets are disjoint, so the true
  * near-dup pair count grows linearly with N. Naive row replication would
  * make every replica an exact duplicate of its source row — pair output
  * (and any correct LSH's verify stage) would then grow QUADRATICALLY in N
  * by construction of the DATA, and the probe would misread that as a plan
  * defect. Embedding vectors are replicated as-is: ANN candidate sets grow
  * linearly with cell depth regardless of vector values.
  *
  * Usage: `runMain graft.ScaleProbe <srcDir> <dstDir> <factor>`
  * (defaults: /root/testdata/sf0.1 → /tmp/graft-sfprobe/sf1 ×10).
  */
object ScaleProbe {

  /** Key shift per replica — far above any key in the source data. */
  val Stride = 100000000L

  private def replicate(spark: SparkSession, df: DataFrame, factor: Int,
      keyCols: Seq[String]): DataFrame = {
    import spark.implicits._
    val reps = spark.createDataset(0 until factor).toDF("__rep")
    keyCols.foldLeft(df.crossJoin(broadcast(reps)))((acc, k) =>
        acc.withColumn(k, col(k) + col("__rep") * lit(Stride)))
      .drop("__rep")
  }

  def main(args: Array[String]): Unit = {
    JdkOpens.requireOrExit("graft.ScaleProbe")
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft-sfprobe/sf1")
    val factor = args.lift(2).flatMap(_.toIntOption).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val keyed: Seq[(String, Seq[String])] = Seq(
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "events" -> Seq("event_id", "user_id"),
      "embeddings" -> Seq("vec_id"))
    keyed.foreach { case (t, keys) =>
      replicate(spark, spark.read.parquet(s"$src/$t.parquet"), factor, keys)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    // documents: key shift + per-replica word-suffix bijection (see header)
    locally {
      import spark.implicits._
      val reps = spark.createDataset(0 until factor).toDF("__rep")
      spark.read.parquet(s"$src/documents.parquet")
        .crossJoin(broadcast(reps))
        .withColumn("doc_id", col("doc_id") + col("__rep") * lit(Stride))
        .withColumn("text",
          when(col("__rep") === 0, col("text"))
            .otherwise(expr("regexp_replace(text, '(\\\\S+)', " +
              "concat('$1x', cast(__rep AS STRING)))")))
        .withColumn("n_chars", length(col("text")))
        .drop("__rep")
        .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    }
    // dimensions: single copy
    Seq("region", "nation").foreach(t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet"))
    spark.stop()
    println(s"""{"metric":"scaleprobe","src":"$src","dst":"$dst","factor":$factor}""")
  }
}
