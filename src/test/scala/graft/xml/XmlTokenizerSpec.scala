package graft.xml

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Behaviours of a conforming XML parser that the record reader must keep:
  * encodings, line-end and attribute normalization, references, the
  * XXE-safe entity rule, and the well-formedness errors. Each expected
  * value is what the JDK StAX (Woodstox) reader produced for the same bytes.
  */
class XmlTokenizerSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("s", StringType), StructField("a", StringType),
    StructField("n", IntegerType)))

  /** (s, a, n) of every record `<r>`, nulls as null. */
  private def read(bytes: Array[Byte]): Seq[(String, String, Any)] =
    new XmlRecordIterator(new ByteArrayInputStream(bytes), schema, "r").map { r =>
      (if (r.isNullAt(0)) null else r.getUTF8String(0).toString,
        if (r.isNullAt(1)) null else r.getUTF8String(1).toString,
        if (r.isNullAt(2)) null else r.getInt(2))
    }.toList

  private def readUtf8(doc: String) = read(doc.getBytes(UTF_8))

  private def error(doc: String): String = {
    val e = intercept[Exception](readUtf8(doc))
    e.getMessage
  }

  private val body = "<root><r a=\"été\"><s>café ñ €</s></r></root>"

  test("an ISO-8859-1-declared file reads like its UTF-8 twin") {
    val twin = readUtf8("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" + body)
    assert(twin === Seq(("café ñ €", "été", null)))
    val latin = "<?xml version=\"1.0\" encoding=\"ISO-8859-1\"?>" +
      body.replace(" €", "") // the euro sign is not in Latin-1
    assert(read(latin.getBytes(ISO_8859_1)) === Seq(("café ñ", "été", null)))
  }

  test("UTF-16 files with a byte-order mark read like their UTF-8 twin") {
    val doc = "<?xml version=\"1.0\" encoding=\"UTF-16\"?>" + body
    val twin = readUtf8(body)
    assert(read(doc.getBytes("UTF-16")) === twin) // big-endian, with BOM
    val le = Array(0xFF.toByte, 0xFE.toByte) ++ body.getBytes("UTF-16LE")
    assert(read(le) === twin)
    val bom8 = Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ body.getBytes(UTF_8)
    assert(read(bom8) === twin)
  }

  test("CR LF and a lone CR become LF; attribute whitespace becomes spaces") {
    assert(readUtf8("<root><r a=\"x\r\ny\rz\tw\nv\"><s>a\r\nb\rc</s><n>\r\n5\r</n></r></root>") ===
      Seq(("a\nb\nc", "x y z w v", 5)))
    // in CDATA too, before trimming
    assert(readUtf8("<root><r><s> <![CDATA[ a\r\nb ]]> </s></r></root>") ===
      Seq(("a\nb", null, null)))
  }

  test("character references and the predefined entities decode") {
    assert(readUtf8("<root><r><s>x&#10;y&#xE9;z&#x1F600;</s></r></root>") ===
      Seq(("x\nyéz😀", null, null)))
    // references are not whitespace-normalized in attribute values
    assert(readUtf8("<root><r a=\"x&#10;y&#9;z&#13;w\"><s>q</s></r></root>") ===
      Seq(("q", "x\ny\tz\rw", null)))
    assert(readUtf8("<root><r a=\"&lt;&gt;&amp;&apos;&quot;\"><s>&lt;&gt;&amp;&apos;&quot;</s></r></root>") ===
      Seq(("<>&'\"", "<>&'\"", null)))
  }

  test("a DTD-declared internal or SYSTEM entity is undeclared, never expanded") {
    val internal = error("<?xml version=\"1.0\"?><!DOCTYPE root [<!ENTITY secret \"SECRETVAL\">]>" +
      "<root><r><s>&secret;</s></r></root>")
    assert(internal.contains("Undeclared general entity \"secret\""), internal)
    val system = error("<?xml version=\"1.0\"?><!DOCTYPE root [<!ENTITY ext SYSTEM \"file:///etc/hostname\">]>" +
      "<root><r><s>&ext;</s></r></root>")
    assert(system.contains("Undeclared general entity \"ext\""), system)
    assert(error("<root><r a=\"&foo;\"><s>q</s></r></root>").contains("Undeclared general entity \"foo\""))
    // a DOCTYPE whose entities are never referenced is skipped
    assert(readUtf8("<?xml version=\"1.0\"?><!DOCTYPE root [<!ENTITY secret \"SECRETVAL\">]>" +
      "<root><r><s>ok</s></r></root>") === Seq(("ok", null, null)))
  }

  test("a duplicate attribute, '<' in a value, a C0 control and a mismatched end tag are errors") {
    assert(error("<root><r a=\"1\" a=\"2\"><s>q</s></r></root>").contains("Duplicate attribute 'a'"))
    assert(error("<root><r a=\"x<y\"><s>q</s></r></root>").contains("'<' (code 60) in attribute value"))
    assert(error("<root><r><s>x\u0001y</s></r></root>").contains("Illegal character ((CTRL-CHAR, code 1))"))
    assert(error("<root><r a=\"x\u0001y\"><s>q</s></r></root>").contains("Illegal character ((CTRL-CHAR, code 1))"))
    assert(error("<root><r><s>x</t></r></root>").contains("Unexpected close tag </t>; expected </s>."))
  }

  test("document-level errors: EOF, two roots, text outside the root, unbound prefix") {
    assert(error("<root><r><s>x</s>").contains("Unexpected EOF"))
    assert(error("<root><r><s>x</s></r></root><root2/>").contains("multiple roots"))
    assert(error("<root><r><s>x</s></r></root>junk").contains("Unexpected character 'j' (code 106) in epilog"))
    assert(error("<root><r><p:s>x</p:s></r></root>").contains("Undeclared namespace prefix \"p\""))
    assert(error("<root><r><s>a]]>b</s></r></root>").contains("']]>' not allowed"))
  }

  test("tokens larger than the read buffer, delivered a few bytes per read") {
    val big = "é" * 70000 + "x" * 30000 // > 64 KiB of text, 2-byte chars included
    val doc = "<?xml version=\"1.0\"?><!DOCTYPE root [<!ENTITY e \"v\">]>\r\n<root>" +
      s"<r a=\"$big\"><s><!-- ${"c" * 70000} --> $big &amp; <![CDATA[$big]]></s></r>" +
      "<r><s>tail</s><n>7</n></r></root>"
    val bytes = doc.getBytes(UTF_8)
    val expected = Seq((s"$big & $big", big, null), ("tail", null, 7))
    assert(read(bytes) === expected)
    val trickle = new XmlDifferentialSpec.Trickle(bytes, 1)
    val rows = new XmlRecordIterator(trickle, schema, "r").map { r =>
      (r.getUTF8String(0).toString, if (r.isNullAt(1)) null else r.getUTF8String(1).toString,
        if (r.isNullAt(2)) null else r.getInt(2))
    }.toList
    assert(rows === expected)
  }

  test("comments, PIs, mixed content and tag whitespace leave the leaf text") {
    assert(readUtf8("<root><r><s>a<!-- c -->b<?pi x?>c<b>zz</b>d</s></r></root>") ===
      Seq(("abcd", null, null)))
    assert(readUtf8("<root ><r\t\na = 'v'\r\n><s>q</s ></r ></root >") ===
      Seq(("q", "v", null)))
  }
}
