package xbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom
import org.apache.spark.sql.Row
import scala.collection.mutable.ArrayBuffer

/** One kind of generated XML input: its committed XSD directory, record
  * separator, record type and part-file count at each size.
  */
sealed abstract class Family(val name: String, val root: String,
    val separator: String, val recordType: String) {
  /** (part files, records per file) at `size`. Part counts are multiples of
    * 4, and a fixture is read with one task per part, so every scan on
    * `local[1|2|4]` runs in whole waves of equal tasks.
    */
  def shape(size: String): (Int, Int)
}

object Orders extends Family("orders", "orders", "order", "orderType") {
  def shape(size: String): (Int, Int) =
    if (size == "smoke") (16, 40) else (16, 6000)
}

object Docs extends Family("docs", "corpus", "doc", "docType") {
  def shape(size: String): (Int, Int) =
    if (size == "smoke") (8, 60) else (8, 1250)
}

/** A fixture on disk. `parts` hold equal record counts; `single` (orders
  * only) holds every record of `parts` in one file, for the splittable read.
  * `rows` regenerates the generating frame's rows in part order; it is only
  * called when expected values are not cached yet.
  */
final case class Fixture(family: Family, dir: File, parts: IndexedSeq[File],
    single: Option[File], records: Long, rows: () => IndexedSeq[Row]) {
  def partBytes: Long = parts.map(_.length).sum

  /** The first `n` parts; a slice's splittable read uses its first part. */
  def slice(n: Int): Fixture = {
    val kept = records / parts.size * n
    copy(parts = parts.take(n), single = single.map(_ => parts.head),
      records = kept, rows = () => rows().take(kept.toInt))
  }
}

/** Seeded fixture generator. The library under test sees only the XML files
  * it writes and the committed XSDs; the rows it returns are the generating
  * frame the output checks compare against. Fixtures are cached under a
  * (family, size, seed, corrupt, generator) fingerprint and are built before
  * any timed region starts.
  */
object Fixtures {

  /** Fixture directories kept per family; older ones are deleted. */
  private val Keep = 3

  def get(family: Family, size: String, seed: Long, corrupt: Boolean,
      genFp: String, work: File): Fixture = {
    val base = new File(work, "fixtures")
    val key = s"${family.name}-$size-s$seed${if (corrupt) "-corrupt" else ""}-$genFp"
    val dir = new File(base, key)
    val (nParts, perPart) = family.shape(size)
    def gen(): Generated = family match {
      case Orders => genOrders(seed, nParts, perPart, corrupt)
      case Docs => genDocs(seed, nParts, perPart, corrupt)
    }
    // rows of a fixture generated here are kept for the expected values
    var fresh: Option[Generated] = None
    if (!new File(dir, "_complete").exists) {
      val g = gen()
      fresh = Some(g)
      val tmp = new File(base, s".tmp-$key-${System.nanoTime}")
      tmp.mkdirs()
      def xml(body: Iterator[Array[Byte]]): Array[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        out.write(s"<${family.root}>\n".getBytes(UTF_8))
        body.foreach(b => out.write(b))
        out.write(s"</${family.root}>\n".getBytes(UTF_8))
        out.toByteArray
      }
      g.bodies.zipWithIndex.foreach { case (b, i) =>
        Files.write(new File(tmp, f"part-$i%02d.xml").toPath, xml(Iterator(b)))
      }
      if (family == Orders) {
        val single = new File(tmp, "single")
        single.mkdirs()
        Files.write(new File(single, "all.xml").toPath, xml(g.bodies.iterator))
      }
      Files.write(new File(tmp, "_complete").toPath, Array.emptyByteArray)
      if (dir.exists) Paths.deleteTree(dir)
      Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
      evict(base, family, dir)
    }
    val parts = (0 until nParts).map(i => new File(dir, f"part-$i%02d.xml"))
    val single = Some(new File(dir, "single/all.xml")).filter(_ => family == Orders)
    Fixture(family, dir, parts, single, nParts.toLong * perPart,
      () => fresh.getOrElse(gen()).rows)
  }

  private def evict(base: File, family: Family, keep: File): Unit = {
    val mine = Option(base.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.startsWith(family.name + "-"))
      .sortBy(f => -f.lastModified)
    mine.drop(Keep).filter(_ != keep).foreach(Paths.deleteTree)
  }

  /** Part bodies (records only, no root element) and the generating rows. */
  final case class Generated(bodies: IndexedSeq[Array[Byte]],
      rows: IndexedSeq[Row])

  private def rng(seed: Long, family: Family): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ family.name.hashCode)

  private val cities = Array("Springfield", "Riverton", "Lakeside", "Fairview",
    "Greenville", "Kingston", "Ashland", "Clinton", "Madison", "Salem")
  private val countries = Array("US", "CA", "DE", "FR", "GB", "NL", "SE", "JP")
  private val streets = Array("Elm", "Oak", "Pine", "Maple", "Cedar", "Birch",
    "Main", "High", "Mill", "Park")
  private val statuses = Array("NEW", "PAID", "SHIPPED", "DELIVERED", "RETURNED")

  private def money(cents: Long): String = s"${cents / 100}.${pad(cents % 100, 2)}"

  /** `n` zero-padded to `width` digits (string formatting is the generator's
    * hot spot).
    */
  private def pad(n: Long, width: Int): String = {
    val d = n.toString
    if (d.length >= width) d else "0" * (width - d.length) + d
  }

  /** Nested orders: 1–8 line-item children each, an optional note. Parts
    * are generated in parallel, each from its own seeded stream. With
    * `corrupt`, the first order's customer differs between the XML and the
    * generating rows.
    */
  def genOrders(seed: Long, nParts: Int, perPart: Int,
      corrupt: Boolean): Generated = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val parts = (0 until nParts).map(p => Future(genOrdersPart(seed, p, perPart, corrupt)))
      .map(Await.result(_, scala.concurrent.duration.Duration.Inf))
    Generated(parts.map(_._1), parts.flatMap(_._2))
  }

  private def genOrdersPart(seed: Long, p: Int, perPart: Int,
      corrupt: Boolean): (Array[Byte], IndexedSeq[Row]) = {
    val r = rng(seed * 1000003L + p, Orders)
    val rows = new ArrayBuffer[Row](perPart)
    val sb = new java.lang.StringBuilder(perPart * 600)
    var i = 0
    while (i < perPart) {
      val id = p.toLong * perPart + i + 1
      val priority = 1 + r.nextInt(5)
      val customer = "c" + pad(r.nextInt(1000000), 6)
      val placed = s"20${20 + r.nextInt(6)}-${pad(1 + r.nextInt(12), 2)}-${pad(1 + r.nextInt(28), 2)}"
      val status = statuses(r.nextInt(statuses.length))
      val street = s"${1 + r.nextInt(999)} ${streets(r.nextInt(streets.length))} St"
      val city = cities(r.nextInt(cities.length))
      val country = countries(r.nextInt(countries.length))
      val nLines = 1 + r.nextInt(8)
      var totalCents = 0L
      val lines = (1 to nLines).map { n =>
        val sku = "SKU-" + pad(r.nextInt(100000), 5)
        val qty = 1 + r.nextInt(9)
        val cents = 100L + r.nextInt(99900)
        totalCents += qty * cents
        (n, sku, qty, money(cents))
      }
      val note =
        if (r.nextInt(10) < 3) s"deliver to ${streets(r.nextInt(streets.length)).toLowerCase} gate ${r.nextInt(50)}"
        else null
      val xmlCustomer = if (corrupt && id == 1L) customer + "x" else customer
      sb.append("<order id=\"").append(id).append("\" priority=\"").append(priority)
        .append("\"><customer>").append(xmlCustomer).append("</customer><placed>")
        .append(placed).append("</placed><status>").append(status)
        .append("</status><total>").append(money(totalCents))
        .append("</total><address><street>").append(street)
        .append("</street><city>").append(city).append("</city><country>")
        .append(country).append("</country></address>")
      lines.foreach { case (n, sku, qty, price) =>
        sb.append("<line n=\"").append(n).append("\"><sku>").append(sku)
          .append("</sku><qty>").append(qty).append("</qty><price>")
          .append(price).append("</price></line>")
      }
      if (note != null) sb.append("<note>").append(note).append("</note>")
      sb.append("</order>\n")
      // elements in schema order, then attributes (graft.xml's layout)
      rows += Row(customer, placed, status, money(totalCents).toDouble,
        Row(street, city, country),
        lines.map { case (n, sku, qty, price) => Row(sku, qty, price.toDouble, n) },
        note, id, priority)
      i += 1
    }
    (sb.toString.getBytes(UTF_8), rows.toIndexedSeq)
  }

  private val stop = graft.pipeline.TextAnalysis.stopwords
  private val sources = Array("web", "news", "forum", "wiki", "books")

  /** Sampling bucket of a doc id, as `Sampling.hashBucket` computes it. */
  def sampleBucket(id: Long): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes(UTF_8))
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (v % 100).toInt
  }

  /** Crawl-style corpus. Per doc: 8% German or French, 5% low quality
    * (too short or repetitive), 6% exact duplicates of an earlier English
    * doc (case and whitespace changed), 11% near duplicates of an earlier
    * English doc (two words replaced, so several form a cluster), the rest
    * unique English. With `corrupt`, the first unique English doc that the
    * sample keeps has a different `source` in the XML than in the rows.
    */
  def genDocs(seed: Long, nParts: Int, perPart: Int,
      corrupt: Boolean): Generated = {
    val r = rng(seed, Docs)
    val stopAll = stop.values.flatten.toSet
    val vocab = Iterator.continually {
      val n = 3 + r.nextInt(7)
      new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
    }.filterNot(stopAll).take(4000).toArray
    def word(): String = {
      val u = r.nextDouble()
      vocab((u * u * vocab.length).toInt)
    }
    def text(lang: String, n: Int, stopShare: Double): Array[String] =
      Array.fill(n)(if (r.nextDouble() < stopShare) stop(lang)(r.nextInt(stop(lang).size)) else word())
    val uniques = new ArrayBuffer[Array[String]]()
    var corrupted = !corrupt
    val rows = new ArrayBuffer[Row](nParts * perPart)
    val bodies = (0 until nParts).map { p =>
      val sb = new java.lang.StringBuilder(perPart * 600)
      var i = 0
      while (i < perPart) {
        val id = p.toLong * perPart + i + 1
        val u = r.nextDouble()
        val (lang, body, unique) =
          if (u < 0.08) {
            val l = if (r.nextBoolean()) "de" else "fr"
            (l, text(l, 30 + r.nextInt(50), 0.35).mkString(" "), false)
          } else if (u < 0.13) {
            val b =
              if (r.nextBoolean()) text("en", 2 + r.nextInt(3), 0.3)
              else Array.fill(8)(Array("the", word(), "of", word())).flatten
            ("en", b.mkString(" "), false)
          } else if (u < 0.19 && uniques.nonEmpty) {
            val src = uniques(r.nextInt(uniques.length))
            ("en", (src.head.capitalize +: src.tail).mkString(" ").replaceFirst(" ", "  "), false)
          } else if (u < 0.30 && uniques.nonEmpty) {
            val t = uniques(r.nextInt(uniques.length)).clone()
            t(r.nextInt(t.length)) = word(); t(r.nextInt(t.length)) = word()
            ("en", t.mkString(" "), false)
          } else {
            val t = text("en", 40 + r.nextInt(60), 0.3)
            uniques += t
            ("en", t.mkString(" "), true)
          }
        val source = sources(r.nextInt(sources.length))
        val xmlSource =
          if (!corrupted && unique && sampleBucket(id) < 50) { corrupted = true; source + "x" }
          else source
        sb.append("<doc doc_id=\"").append(id).append("\" lang=\"").append(lang)
          .append("\"><source>").append(xmlSource).append("</source><text>")
          .append(body).append("</text></doc>\n")
        rows += Row(source, body, id, lang)
        i += 1
      }
      sb.toString.getBytes(UTF_8)
    }
    require(corrupted, "no doc qualified as the corruption target")
    Generated(bodies, rows.toIndexedSeq)
  }
}

object Paths {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length
}
