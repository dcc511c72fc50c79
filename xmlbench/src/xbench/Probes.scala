package xbench

import java.io.ByteArrayInputStream
import java.nio.file.Files
import graft.xml.{XmlRecordIterator, XmlSplitScanner}
import org.apache.spark.sql.types.StructType

/** Single-thread timings of the `graft.xml` building blocks over one part
  * file held in memory, so no Spark scheduling or file I/O is in them.
  */
object Probes {

  private val Warm = 2
  private val Reps = 7

  /** Per-layer metrics, ops attempted, and failure messages (a probe fails
    * when it yields another record count than the part file holds).
    */
  def run(w: Workload, schema: StructType, t: Tracer): (Map[String, Double], Int, Seq[String]) = {
    t.startPass(-3)
    val bytes = Files.readAllBytes(w.fx.parts.head.toPath)
    val records = w.fx.records / w.fx.parts.size
    val sep = w.family.separator
    val pruned = StructType(Seq(schema(w.prunedLeaf)))

    def iterate(s: StructType): Long = {
      val it = new XmlRecordIterator(new ByteArrayInputStream(bytes), s, sep)
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
    def split(): Long = {
      val it = new XmlSplitScanner(new ByteArrayInputStream(bytes), bytes.length.toLong, sep)
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
    val errors = Seq.newBuilder[String]
    /** Median seconds of `Reps` calls after `Warm` untimed ones. */
    def secs(name: String, expect: Long)(body: => Long): Double = {
      (1 to Warm).foreach(_ => body)
      Main.median((1 to Reps).map { _ =>
        val (n, s) = Check.timed(t, name, "xml")(body)
        if (expect >= 0 && n != expect) errors += s"$name yielded $n records, expected $expect"
        s
      })
    }
    val mb = bytes.length / 1e6
    val m = Map(
      "xsd.schema_ms" -> secs("xsd.schema", -1) { w.xml.schema(); 0L } * 1e3,
      "iter.full_mb_s" -> mb / secs("iter.full", records)(iterate(schema)),
      "iter.pruned_mb_s" -> mb / secs("iter.pruned", records)(iterate(pruned)),
      "split.mb_s" -> mb / secs("split", records)(split()))
    val errs = errors.result().distinct
    (m, 3, errs)
  }
}
