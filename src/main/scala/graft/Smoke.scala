package graft

import org.apache.spark.sql.SparkSession

/** Local smoke runner mirroring the driver's t1 check: SparkEntry.entry
  * must return >0 rows on sf0.001. Usage: `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    JdkOpens.requireOrExit("graft.Smoke")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(5).foreach(r => println(s"[smoke] $r"))
    require(rows.nonEmpty, "entry returned 0 rows")
    spark.stop()
  }
}
