package graft.xml

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Splittable XML scan (`xml.splittable=true`): the scanner must assign
  * every record to exactly one split REGARDLESS of where the split boundary
  * falls — the golden property is that the union over any split partition of
  * the file equals the single-split read.
  */
class XmlSplitSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // A document exercising the byte-scan hazards: '>' in attribute values,
  // a nested element with the separator's name, comments and CDATA with
  // fake separator tags inside, a self-closing record, and a prefixed tag.
  private val doc =
    """<?xml version="1.0"?>
      |<!-- header comment with a fake <rec> tag -->
      |<root>
      |  <rec id="1"><name>alpha</name><v>10</v></rec>
      |  <skipme><rec-not-really/></skipme>
      |  <rec id="2" note="a &gt; b and a > b"><name>beta</name><v>20</v></rec>
      |  <!-- between records: <rec id="fake"/> -->
      |  <rec id="3"><name><![CDATA[gamma ]]&gt; </rec> inside cdata]]></name><v>30</v></rec>
      |  <rec id="4"><name>outer</name><rec id="4n"><name>nested</name><v>44</v></rec><v>40</v></rec>
      |  <rec id="5"/>
      |  <ns:rec id="6" xmlns:ns="urn:x"><name>zeta</name><v>60</v></ns:rec>
      |</root>
      |""".stripMargin
  private val bytes = doc.getBytes(UTF_8)

  // The every-boundary document: the hazards a boundary can land inside of
  // and still be resolved, with CR LF, lone CR and 1- to 4-byte UTF-8 text.
  private val everyByteDoc =
    """<?xml version="1.0"?>
      |<!-- plain header comment -->
      |<root>
      |  <rec id="1"><name>alpha</name><v>10</v></rec>
      |  <skipme><rec-not-really/></skipme>
      |  <rec id="2" note="a &gt; b and a > b"><name>beta café € 😀{CRLF}line two{CR}three</name><v>20</v></rec>{CR}
      |  <!-- a comment between records -->
      |  <rec id="3"><name><![CDATA[gamma raw text]]></name><v>30</v></rec>
      |  <rec id="5"/>
      |  <ns:rec id="6" xmlns:ns="urn:x"><name>zeta</name><v>60</v></ns:rec>
      |</root>
      |""".stripMargin.replace("{CRLF}", "\r\n").replace("{CR}", "\r").getBytes(UTF_8)

  /** Scan the whole byte range as one split. */
  private def scanAll(data: Array[Byte], sep: String): Seq[String] =
    new XmlSplitScanner(new ByteArrayInputStream(data), data.length, sep)
      .map(new String(_, UTF_8)).toSeq

  test("scanner: whole-file split extracts every record subtree verbatim") {
    val recs = scanAll(bytes, "rec")
    assert(recs.length === 6)
    assert(recs(0) === """<rec id="1"><name>alpha</name><v>10</v></rec>""")
    assert(recs(1).contains("a &gt; b and a > b") && recs(1).endsWith("</rec>"))
    assert(recs(2).contains("<![CDATA[gamma ]]&gt; </rec> inside cdata]]>"))
    assert(recs(3).contains("""<rec id="4n"><name>nested</name><v>44</v></rec>"""))
    assert(recs(3).endsWith("<v>40</v></rec>")) // nested same-name closed once
    assert(recs(4) === """<rec id="5"/>""")
    assert(recs(5).startsWith("<ns:rec") && recs(5).endsWith("</ns:rec>"))
  }

  test("scanner: every split boundary partitions the records exactly once") {
    // Hazards here exclude the two documented blind spots of byte-offset
    // XML splitting (see XmlSplitScanner scaladoc): separator-tag lookalikes
    // INSIDE comments/CDATA, and NESTED separator elements — a boundary
    // landing inside either cannot be resolved without global context. All
    // other constructs must partition cleanly at EVERY byte boundary.
    val d = everyByteDoc
    val whole = scanAll(d, "rec")
    assert(whole.length === 5)
    // For EVERY possible 2-way split point, the two splits together must
    // yield exactly the whole-file record list, in order.
    (1 until d.length).foreach { cut =>
      val s1 = new XmlSplitScanner(new ByteArrayInputStream(d), cut, "rec")
        .map(new String(_, UTF_8)).toSeq
      // second split: stream starts at `cut`, owns records starting there
      val s2 = new XmlSplitScanner(
        new ByteArrayInputStream(d.drop(cut)), d.length - cut, "rec")
        .map(new String(_, UTF_8)).toSeq
      assert(s1 ++ s2 === whole, s"split at byte $cut lost or duplicated records")
    }
  }

  test("split read: every split boundary gives the unsplit rows") {
    // The same partition property through the record reader's split mode,
    // which runs the boundary matcher in front of the tokenizer in place.
    val d = everyByteDoc
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("name", StringType), StructField("v", IntegerType)))
    def rows(data: Array[Byte], splitLength: Long): Seq[String] =
      new XmlRecordIterator(new ByteArrayInputStream(data), schema, "rec",
        splitLength = splitLength).map(_.toSeq(schema).mkString("|")).toList
    val whole = new XmlRecordIterator(new ByteArrayInputStream(d), schema, "rec")
      .map(_.toSeq(schema).mkString("|")).toList
    assert(whole.length === 5)
    assert(whole(1) === "2|beta café € 😀\nline two\nthree|20")
    (1 until d.length).foreach { cut =>
      val got = rows(d, cut) ++ rows(d.drop(cut), d.length - cut)
      assert(got === whole, s"split at byte $cut lost or duplicated records")
    }
    // and with the input arriving 1-7 bytes per read (records copied
    // across many buffer refills)
    val trickled = new XmlSplitScanner(new XmlDifferentialSpec.Trickle(d, 3), d.length, "rec")
      .map(new String(_, UTF_8)).toSeq
    assert(trickled === scanAll(d, "rec"))
  }

  test("scanner: unexpected EOF inside a record is a clear error") {
    val truncated = doc.substring(0, doc.indexOf("beta")).getBytes(UTF_8)
    val e = intercept[IllegalStateException] {
      scanAll(truncated, "rec")
    }
    assert(e.getMessage.contains("EOF"))
  }

  test("end-to-end: multi-split read of one file equals single-split read") {
    val dir = java.nio.file.Files.createTempDirectory("xmlsplit").toFile
    val schemaDir = new java.io.File(dir, "schema"); schemaDir.mkdirs()
    val dataDir = new java.io.File(dir, "data"); dataDir.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(schemaDir, "s.xsd").toPath,
      """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |  <xs:complexType name="rType">
        |    <xs:sequence>
        |      <xs:element type="xs:long" name="id"/>
        |      <xs:element type="xs:string" name="payload"/>
        |    </xs:sequence>
        |  </xs:complexType>
        |</xs:schema>""".stripMargin)
    // One file, many records with irregular sizes so boundaries land inside
    // records, tags, and text alike.
    val sb = new StringBuilder("<root>\n")
    (1 to 500).foreach { i =>
      sb.append(s"""  <r><id>$i</id><payload>${"x" * (i % 97)}</payload></r>\n""")
    }
    sb.append("</root>\n")
    java.nio.file.Files.writeString(
      new java.io.File(dataDir, "big.xml").toPath, sb.toString)

    // File-split planning reads these confs at ACTION time, so set them
    // around each materialization, not just the lazy read().
    def collected(splittable: Boolean, maxPartitionBytes: String):
        (Int, Seq[Seq[Any]]) = {
      spark.conf.set("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      try {
        val df = spark.read.format("graft.xml")
          .option("xml.schema.location", schemaDir.getAbsolutePath)
          .option("xml.separator.tag", "r")
          .option("xml.separator.tag.type", "rType")
          .option("xml.splittable", splittable.toString)
          .load(dataDir.getAbsolutePath)
        (df.rdd.getNumPartitions,
          df.orderBy("id").collect().map(_.toSeq).toSeq)
      } finally {
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")
      }
    }

    val (_, a) = collected(splittable = false, "128m")
    val (nParts, b) = collected(splittable = true, "4096") // force many splits
    // >1 task on ONE file — the whole point of the option
    assert(nParts > 1, s"expected multiple splits, got $nParts")
    assert(b.length === 500)
    assert(a === b)
  }
}
