package graft.xml

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.types.StructType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Differential property over generated (XSD, document) pairs:
  *  - the split read over random split points equals the unsplit read;
  *  - the unsplit read equals Spark's built-in `xml` reader within their
  *    shared subset (no XSD defaults; `attributePrefix=""`,
  *    `valueTag=_Value`, `ignoreNamespace`, `ignoreSurroundingSpaces`);
  *  - DROPMALFORMED and PERMISSIVE counts agree on corrupted leaf values;
  *  - every row the scan hands out is its own canonical `UnsafeRow`.
  *
  * Documents mix comments, CDATA, entity and character references, CR LF,
  * multi-byte UTF-8, and prefixed, self-closing and same-name nested
  * records. Nested records stay out of the split property: a split that
  * begins inside a record cannot see its depth (XmlSplitScanner's
  * documented limit).
  */
class XmlDifferentialSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private case class Field(name: String, xsd: String, optional: Boolean)
  private case class Shape(fields: Seq[Field], sub: Boolean, tags: Boolean, kind: Boolean)
  private case class Doc(shape: Shape, xml: String, records: Int, nested: Boolean)

  private val genShape: Gen[Shape] = for {
    n <- Gen.choose(1, 4)
    types <- Gen.listOfN(n, Gen.oneOf("xs:string", "xs:int", "xs:long", "xs:double", "xs:boolean"))
    opts <- Gen.listOfN(n, Gen.oneOf(true, false))
    sub <- Gen.oneOf(true, false)
    tags <- Gen.oneOf(true, false)
    kind <- Gen.oneOf(true, false)
  } yield Shape(types.zip(opts).zipWithIndex.map { case ((t, o), i) => Field(s"f$i", t, o) },
    sub, tags, kind)

  private def xsd(s: Shape): String = {
    val elems = s.fields.map { f =>
      s"""<xs:element name="${f.name}" type="${f.xsd}"${if (f.optional) " minOccurs=\"0\"" else ""}/>"""
    } ++ (if (s.sub) Seq("""<xs:element name="sub" type="subType" minOccurs="0"/>""") else Nil) ++
      (if (s.tags) Seq("""<xs:element name="tag" type="xs:string" minOccurs="0" maxOccurs="unbounded"/>""")
       else Nil)
    s"""<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
       |  <xs:complexType name="subType"><xs:sequence>
       |    <xs:element name="a" type="xs:int"/>
       |    <xs:element name="b" type="xs:string" minOccurs="0"/>
       |  </xs:sequence></xs:complexType>
       |  <xs:complexType name="recType">
       |    <xs:sequence>${elems.mkString}</xs:sequence>
       |    <xs:attribute name="id" type="xs:long" use="required"/>
       |    ${if (s.kind) """<xs:attribute name="kind" type="xs:string"/>""" else ""}
       |  </xs:complexType>
       |</xs:schema>""".stripMargin
  }

  /** Padding: whitespace, CR LF and comments (never separator lookalikes). */
  private val genPad: Gen[String] =
    Gen.listOf(Gen.oneOf(" ", "\n", "\r\n", "\t", "<!-- note -->")).map(_.take(3).mkString)

  /** Leaf text with at least one non-space character, in pieces that each
    * decode to themselves or a known char.
    */
  private def genChars(cdata: Boolean): Gen[String] = Gen.nonEmptyListOf(Gen.frequency(
    6 -> Gen.alphaNumStr.suchThat(_.nonEmpty).map(_.take(6)),
    1 -> Gen.oneOf("café", "€", "😀", "ñ"),
    1 -> Gen.oneOf("&amp;", "&lt;", "&gt;", "&quot;", "&apos;", "&#x41;", "&#233;", "&#x1F600;"),
    1 -> Gen.const(if (cdata) "<![CDATA[x<y & z]]>" else "x&lt;y"),
    1 -> Gen.oneOf(" ", "\r\n", " \n ")
  )).map(ps => "w" + ps.take(6).mkString)
  private val genText = genChars(cdata = true)

  private def genValue(xsdType: String): Gen[String] = xsdType match {
    case "xs:string" => genText
    case "xs:int" => Gen.choose(Int.MinValue, Int.MaxValue).map(_.toString)
    case "xs:long" => Gen.choose(Long.MinValue, Long.MaxValue).map(_.toString)
    case "xs:double" => Gen.choose(-1e6, 1e6).map(_.toString)
    case _ => Gen.oneOf("true", "false")
  }

  private def genRecord(s: Shape, id: Int, corrupt: Boolean): Gen[(String, Boolean)] = for {
    values <- Gen.sequence[List[Option[String]], Option[String]](s.fields.map { f =>
      val v = genValue(f.xsd).map(x => Some(x): Option[String])
      if (f.optional) Gen.frequency(3 -> v, 1 -> Gen.const(None)) else v
    })
    pads <- Gen.listOfN(s.fields.length + 4, genPad)
    subV <- Gen.option(Gen.zip(Gen.choose(-1000, 1000), Gen.option(genText)))
    tagV <- Gen.listOf(genText).map(_.take(3))
    kindV <- Gen.option(genChars(cdata = false))
    prefixed <- Gen.frequency(1 -> true, 4 -> false)
    nested <- Gen.frequency((if (corrupt) 0 else 1) -> true, 5 -> false)
  } yield {
    val tagName = if (prefixed) "p:rec" else "rec"
    val ns = if (prefixed) " xmlns:p=\"urn:example:p\"" else ""
    val kindAttr = if (s.kind) kindV.map(k => s""" kind="$k"""").getOrElse("") else ""
    val vals = values.toIndexedSeq
    val firstInt = s.fields.indexWhere(f => f.xsd == "xs:int" && vals(s.fields.indexOf(f)).isDefined)
    val body = new StringBuilder
    s.fields.zip(vals).zipWithIndex.foreach { case ((f, v), i) =>
      v.foreach { x =>
        val text = if (corrupt && i == firstInt) s"x$x" else x
        body.append(pads(i)).append(s"<${f.name}> $text </${f.name}>")
      }
    }
    if (s.sub) subV.foreach { case (a, b) =>
      body.append(s"<sub><a>$a</a>${b.map(t => s"<b>$t</b>").getOrElse("")}</sub>")
    }
    if (s.tags) tagV.foreach(t => body.append(s"<tag>$t</tag>"))
    if (nested) body.append(s"""<rec id="-$id"><f0>inner</f0></rec>""")
    body.append(pads(s.fields.length))
    val open = s"""<$tagName id="$id"$ns$kindAttr"""
    val xml =
      if (body.forall(_.isWhitespace)) s"$open/>" // self-closing
      else s"$open>$body</$tagName>"
    (xml, nested)
  }

  /** `corrupt`: every second record's first int leaf (a required `n`
    * leads the shape) gets a non-numeric value. Such records do not nest:
    * the built-in reader's PERMISSIVE recovery emits a nested same-name
    * record of a corrupt one as a row of its own.
    */
  private def genDoc(corrupt: Boolean): Gen[Doc] = for {
    generated <- genShape
    shape = if (!corrupt) generated
      else generated.copy(fields = Field("n", "xs:int", optional = false) +: generated.fields)
    n <- Gen.choose(1, 8)
    recs <- Gen.sequence[List[(String, Boolean)], (String, Boolean)](
      (1 to n).map(i => genRecord(shape, i, corrupt && i % 2 == 0)))
    pads <- Gen.listOfN(n + 1, genPad)
  } yield {
    val xml = "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\r\n<!-- generated -->\n<root>" +
      recs.map(_._1).zip(pads).map { case (r, p) => p + r }.mkString + pads.last + "</root>\n"
    Doc(shape, xml, n, recs.exists(_._2))
  }

  private def cases(corrupt: Boolean, n: Int): Seq[Doc] =
    (0 until n).map(i => genDoc(corrupt).pureApply(Gen.Parameters.default,
      Seed(1000L * (if (corrupt) 2 else 1) + i)))

  /** Writes the XSD and the document; returns (schema dir, data dir). */
  private def write(d: Doc): (String, String) = {
    val dir = Files.createTempDirectory("xmldiff").toFile
    val schemaDir = new java.io.File(dir, "schema"); schemaDir.mkdirs()
    val dataDir = new java.io.File(dir, "data"); dataDir.mkdirs()
    Files.writeString(new java.io.File(schemaDir, "s.xsd").toPath, xsd(d.shape))
    Files.write(new java.io.File(dataDir, "d.xml").toPath, d.xml.getBytes(UTF_8))
    (schemaDir.getAbsolutePath, dataDir.getAbsolutePath)
  }

  private def ours(schemaDir: String, dataDir: String, mode: String): DataFrame =
    spark.read.format("graft.xml")
      .option("xml.schema.location", schemaDir)
      .option("xml.separator.tag", "rec")
      .option("xml.separator.tag.type", "recType")
      .option("mode", mode)
      .load(dataDir)

  private def builtin(schema: StructType, dataDir: String, mode: String): DataFrame =
    spark.read.format("xml").schema(schema)
      .option("rowTag", "rec")
      .option("attributePrefix", "")
      .option("valueTag", "_Value")
      .option("ignoreNamespace", "true")
      .option("ignoreSurroundingSpaces", "true")
      .option("mode", mode)
      .load(dataDir)

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def scanOf(df: DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }
      .getOrElse(fail("no file scan in the plan"))

  /** Checks every row the scan of `df` hands out: an `UnsafeRow`, a new
    * object per record (Spark's projection reuses one), with canonical bytes
    * at every depth ([[XmlFixtures.canonicalBytes]]). Returns the number of
    * rows.
    */
  private def assertCanonicalScan(df: DataFrame, what: => String): Int = {
    val scan = scanOf(df)
    val schema = scan.requiredSchema
    val problems = scan.inputRDDs().head.mapPartitions { it =>
      val canonical = XmlFixtures.canonicalBytes(schema)
      var prev: InternalRow = null
      it.map { r =>
        val problem = r match {
          case _ if r eq prev => "one row object handed out twice"
          case u: UnsafeRow =>
            val want = canonical(u)
            if (java.util.Arrays.equals(u.getBytes, want)) ""
            else s"bytes ${XmlDifferentialSpec.hex(u.getBytes)}\n" +
              s"canonical ${XmlDifferentialSpec.hex(want)}"
          case o => s"not an UnsafeRow: ${o.getClass.getName}"
        }
        prev = r
        problem
      }
    }.collect()
    problems.find(_.nonEmpty).foreach(p => fail(s"$p\nof:\n$what"))
    problems.length
  }

  private def fixture(dir: String, sep: String, typ: String, ns: String = "",
      opts: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("graft.xml")
      .option("xml.schema.location", s"$dir/schema")
      .option("xml.separator.tag", sep)
      .option("xml.separator.tag.type", typ)
      .option("xml.separator.tag.type.ns", ns)
      .options(opts)
      .load(s"$dir/data")

  test("split reads over random split points equal the unsplit read") {
    val rnd = new scala.util.Random(7)
    cases(corrupt = false, 40).filterNot(_.nested).foreach { d =>
      val (schemaDir, _) = write(d)
      val schema = XsdSchema.structTypeFor(schemaDir, "", "recType")
      val bytes = d.xml.getBytes(UTF_8)
      // split reads trickle 1-7 bytes per read, so every token also
      // straddles buffer refills somewhere
      def rows(from: Int, until: Int): Seq[Row] =
        new XmlRecordIterator(
          if (until < 0) new ByteArrayInputStream(bytes)
          else new XmlDifferentialSpec.Trickle(bytes.drop(from), rnd.nextLong()),
          schema, "rec",
          splitLength = if (until < 0) -1L else (until - from).toLong)
          .map(r => CatalystTypeConverters.convertToScala(r, schema).asInstanceOf[Row])
          .toList
      val whole = rows(0, -1)
      assert(whole.length === d.records)
      (1 to 8).foreach { _ =>
        val cuts = (0 +: Seq.fill(rnd.nextInt(4) + 1)(rnd.nextInt(bytes.length)) :+ bytes.length)
          .distinct.sorted
        val split = cuts.sliding(2).flatMap { case Seq(a, b) => rows(a, b) }.toList
        assert(split === whole, s"cuts $cuts of:\n${d.xml}")
      }
    }
  }

  test("the unsplit read equals Spark's built-in xml reader on the shared subset") {
    cases(corrupt = false, 12).foreach { d =>
      val (schemaDir, dataDir) = write(d)
      val a = ours(schemaDir, dataDir, "FAILFAST")
      val b = builtin(a.schema, dataDir, "FAILFAST")
      val rows = sorted(a)
      assert(rows.length === d.records)
      assert(rows === sorted(b), s"document:\n${d.xml}")
    }
  }

  test("every scanned row is its own canonical UnsafeRow") {
    cases(corrupt = false, 40).foreach { d =>
      val (schemaDir, dataDir) = write(d)
      assert(assertCanonicalScan(ours(schemaDir, dataDir, "FAILFAST"), d.xml) === d.records)
    }
    cases(corrupt = true, 6).foreach { d =>
      val (schemaDir, dataDir) = write(d)
      assert(assertCanonicalScan(ours(schemaDir, dataDir, "PERMISSIVE"), d.xml) === d.records)
    }
    val res = "src/test/resources/graftxml"
    val team = "http://example.org/graft/team"
    def inline(f: XmlFixtures.Fixture, mode: String) = {
      val (schemaDir, _) = XmlFixtures.write(f)
      fixture(new java.io.File(schemaDir).getParent, f.separator, f.typeName,
        opts = Map("mode" -> mode))
    }
    Seq(
      "library" -> (fixture(s"$res/library", "item", "itemType"), 4),
      "library, xml.decimal.as.decimal" -> (fixture(s"$res/library", "item", "itemType",
        opts = Map("xml.decimal.as.decimal" -> "true")), 4),
      "venetian" -> (fixture(s"$res/venetian", "Player", "PlayerType", team), 3),
      "simpleContent" -> (fixture(s"$res/simplecontent", "sample", "sampleType"), 2),
      "nil and defaults" -> (fixture(s"$res/nildefaults", "reading", "readingType"), 3),
      "long-tail primitives" -> (inline(XmlFixtures.longTail, "FAILFAST"), 1),
      "extension + xs:list" -> (inline(XmlFixtures.extensionList, "FAILFAST"), 2),
      "PERMISSIVE" -> (inline(XmlFixtures.permissive, "PERMISSIVE"), 3)
    ).foreach { case (name, (df, n)) => assert(assertCanonicalScan(df, name) === n, name) }
  }

  test("an unpartitioned scan hands out the record iterator itself, no projection") {
    val dir = "src/test/resources/graftxml/library"
    val scan = scanOf(fixture(dir, "item", "itemType"))
    assert(scan.relation.partitionSchema.isEmpty)
    val reader = scan.relation.fileFormat.buildReaderWithPartitionValues(spark,
      scan.relation.dataSchema, scan.relation.partitionSchema, scan.requiredSchema,
      Nil, scan.relation.options, spark.sessionState.newHadoopConf())
    new java.io.File(s"$dir/data").listFiles().filter(_.getName.endsWith(".xml")).foreach { f =>
      val it = reader(PartitionedFile(InternalRow.empty,
        SparkPath.fromPath(new Path(f.toURI)), 0L, f.length()))
      assert(it.isInstanceOf[XmlRecordIterator], it.getClass.getName)
      val rows = it.toList
      assert(rows.nonEmpty && rows.forall(_.isInstanceOf[UnsafeRow]))
      assert(rows.zip(rows.tail).forall { case (a, b) => !(a eq b) })
    }
  }

  test("DROPMALFORMED and PERMISSIVE counts agree with the built-in reader on corrupt leaves") {
    cases(corrupt = true, 6).foreach { d =>
      val (schemaDir, dataDir) = write(d)
      val dropped = ours(schemaDir, dataDir, "DROPMALFORMED")
      assert(dropped.count() === builtin(dropped.schema, dataDir, "DROPMALFORMED").count(),
        s"document:\n${d.xml}")
      val kept = ours(schemaDir, dataDir, "PERMISSIVE")
      val keptB = builtin(kept.schema, dataDir, "PERMISSIVE")
      // collected first: Spark refuses a query of the corrupt column alone
      def counts(df: DataFrame) = {
        val rows = df.collect()
        (rows.length, rows.count(r => !r.isNullAt(r.fieldIndex("_corrupt_record"))))
      }
      val (n, bad) = counts(kept)
      assert((n, bad) === counts(keptB), s"document:\n${d.xml}")
      assert(n === d.records && bad === d.records / 2) // every second record is bad
    }
  }
}

object XmlDifferentialSpec {
  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** A stream that returns 1 to 7 bytes per read. */
  final class Trickle(bytes: Array[Byte], seed: Long) extends java.io.InputStream {
    private val rnd = new scala.util.Random(seed)
    private var pos = 0
    override def read(): Int =
      if (pos >= bytes.length) -1 else { pos += 1; bytes(pos - 1) & 0xff }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (pos >= bytes.length) -1
      else {
        val n = math.min(math.min(len, 1 + rnd.nextInt(7)), bytes.length - pos)
        System.arraycopy(bytes, pos, b, off, n)
        pos += n
        n
      }
  }
}
