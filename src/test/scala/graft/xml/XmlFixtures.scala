package graft.xml

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{SafeProjection, UnsafeProjection}
import org.apache.spark.sql.types.StructType

/** Inline XSD/document pairs that more than one spec reads. */
object XmlFixtures {

  /** Records `<separator>` of XSD type `typeName`. */
  final case class Fixture(typeName: String, separator: String, xsd: String, xml: String)

  val longTailPayload = "binary payload!"

  /** XSD long-tail primitives: short, unsignedInt, unsignedLong (a wide
    * decimal), anyURI, base64Binary, and a boolean written as 1.
    */
  val longTail: Fixture = Fixture("recType", "r",
    """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
      |  <xs:complexType name="recType">
      |    <xs:sequence>
      |      <xs:element type="xs:short" name="a"/>
      |      <xs:element type="xs:unsignedInt" name="b"/>
      |      <xs:element type="xs:unsignedLong" name="c"/>
      |      <xs:element type="xs:anyURI" name="u"/>
      |      <xs:element type="xs:base64Binary" name="payload"/>
      |      <xs:element type="xs:boolean" name="flag"/>
      |    </xs:sequence>
      |  </xs:complexType>
      |</xs:schema>""".stripMargin,
    s"""<root><r><a>-7</a><b>4294967295</b><c>18446744073709551615</c>
       |<u>https://example.org/x</u><payload>${java.util.Base64.getEncoder
      .encodeToString(longTailPayload.getBytes("UTF-8"))}</payload><flag>1</flag></r></root>""".stripMargin)

  /** complexContent extension (inherited fields first) and an xs:list leaf. */
  val extensionList: Fixture = Fixture("EventType", "ev",
    """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
      |  <xs:simpleType name="intList">
      |    <xs:list itemType="xs:int"/>
      |  </xs:simpleType>
      |  <xs:complexType name="BaseType">
      |    <xs:sequence>
      |      <xs:element type="xs:string" name="id"/>
      |    </xs:sequence>
      |    <xs:attribute name="version" type="xs:int"/>
      |  </xs:complexType>
      |  <xs:complexType name="EventType">
      |    <xs:complexContent>
      |      <xs:extension base="BaseType">
      |        <xs:sequence>
      |          <xs:element type="xs:double" name="score"/>
      |          <xs:element type="intList" name="pages" minOccurs="0"/>
      |        </xs:sequence>
      |      </xs:extension>
      |    </xs:complexContent>
      |  </xs:complexType>
      |</xs:schema>""".stripMargin,
    """<root>
      |  <ev version="3"><id>a1</id><score>0.5</score><pages>1 2  3</pages></ev>
      |  <ev><id>a2</id><score>1.5</score></ev>
      |</root>""".stripMargin)

  /** Three records; the second one's int leaf is not a number. */
  val permissive: Fixture = Fixture("rType", "r",
    """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
      |  <xs:complexType name="rType">
      |    <xs:sequence>
      |      <xs:element type="xs:string" name="id"/>
      |      <xs:element type="xs:int" name="n" minOccurs="0"/>
      |    </xs:sequence>
      |  </xs:complexType>
      |</xs:schema>""".stripMargin,
    "<root><r><id>a</id><n>1</n></r>" +
      "<r><id>b</id><n>bogus</n></r>" +
      "<r><id>c</id><n>3</n></r></root>")

  /** The canonical `UnsafeRow` bytes of a row of `schema`: its deep safe
    * copy re-projected through `UnsafeProjection.create(schema)`. A row whose
    * own bytes differ has a dead byte, a wrong offset or a wrong null bit.
    */
  def canonicalBytes(schema: StructType): InternalRow => Array[Byte] = {
    val toSafe = SafeProjection.create(schema)
    val toUnsafe = UnsafeProjection.create(schema)
    r => toUnsafe(toSafe(r)).getBytes
  }

  /** Writes the XSD and the document under a new temp directory; returns
    * (schema dir, data dir).
    */
  def write(f: Fixture): (String, String) = {
    val dir = Files.createTempDirectory("xmlfix").toFile
    val schemaDir = new File(dir, "schema"); schemaDir.mkdirs()
    val dataDir = new File(dir, "data"); dataDir.mkdirs()
    Files.writeString(new File(schemaDir, "s.xsd").toPath, f.xsd)
    Files.writeString(new File(dataDir, "d.xml").toPath, f.xml)
    (schemaDir.getAbsolutePath, dataDir.getAbsolutePath)
  }
}
