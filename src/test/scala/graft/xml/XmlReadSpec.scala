package graft.xml

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end `spark.read.format("graft.xml")` tests over the three fixture
  * families — replaces the reference's assertion-free println smoke tests
  * (`TestAvroTranformer.scala:58-66`) with golden rows (SURVEY.md §5.2).
  */
class XmlReadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val base = "src/test/resources/graftxml"

  private def readLibrary = spark.read.format("graft.xml")
    .option("xml.schema.location", s"$base/library/schema")
    .option("xml.separator.tag", "item")
    .option("xml.separator.tag.type", "itemType")
    .option("xml.separator.tag.type.ns", "")
    .load(s"$base/library/data")

  test("S7: the reference's XML→Avro pipeline — read XML, sink Avro, round-trip") {
    // The reference's whole purpose (AvroFromXmlSerde: XML in, Avro records
    // out), end to end on the Spark-native stack: graft.xml read → the
    // built-in avro sink (bundled in Spark 4's spark-sql) → re-read, full
    // row equality including nested structs and arrays.
    val dir = java.nio.file.Files.createTempDirectory("xml2avro").toString
    val xml = readLibrary
    // Spark 4 bundles the avro classes in spark-sql but not the "avro"
    // DataSourceRegister alias — address the FileFormat by class name.
    val avro = "org.apache.spark.sql.avro.AvroFileFormat"
    xml.write.mode("overwrite").format(avro).save(s"$dir/library_avro")
    val back = spark.read.format(avro).load(s"$dir/library_avro")
    assert(back.schema === xml.schema)
    val a = xml.orderBy("sku").collect().map(_.toString).toSeq
    val b = back.orderBy("sku").collect().map(_.toString).toSeq
    assert(a === b && a.length === 4)
  }

  test("library: full records — nested structs, arrays, trim, coercions") {
    val rows = readLibrary.orderBy("sku").collect()
    // 4 records: the junk:item element counts too — data-side tag matching is
    // namespace-blind by local name (AvroTransormer.scala:106,143 parity).
    assert(rows.length === 4)
    val r1 = rows.find(_.getAs[String]("sku") == "SKU-001").get
    assert(r1.getAs[String]("title") === "Distributed Query Engines")
    assert(r1.getAs[Double]("price") === 54.90)
    assert(r1.getAs[Long]("isbn") === 9780000000017L)
    assert(r1.getAs[Boolean]("in_print") === true)
    assert(r1.getAs[String]("released") === "2021-03-14")
    assert(r1.getAs[Float]("weight_kg") === 1.25f)
    assert(r1.getAs[Row]("publisher").getAs[String]("pub_name") === "Lakeside Press")
    assert(r1.getSeq[String](r1.fieldIndex("tag")).toSeq === Seq("systems", "databases"))
    val reviews = r1.getSeq[Row](r1.fieldIndex("review")).toSeq
    assert(reviews.toSeq.map(x => (x.getAs[String]("reviewer"), x.getAs[Int]("stars")))
      === Seq(("ada", 5), ("grace", 4)))
    assert(r1.getAs[Int]("shelf") === 3)

    val r2 = rows.find(_.getAs[String]("sku") == "SKU-002").get
    assert(r2.getAs[String]("title") === "Padded Title") // text trimmed
    assert(r2.isNullAt(r2.fieldIndex("isbn")))
    assert(r2.isNullAt(r2.fieldIndex("publisher")))
    assert(r2.getSeq[String](r2.fieldIndex("tag")).toSeq === Seq("essays"))
    assert(r2.isNullAt(r2.fieldIndex("shelf"))) // unknown_attr silently dropped

    val r3 = rows.find(_.getAs[String]("sku") == "SKU-003").get
    assert(r3.getAs[Row]("publisher").isNullAt(1)) // city minOccurs=0 absent
  }

  test("column pruning: projecting two fields parses only those subtrees") {
    val df = readLibrary.select("sku", "price")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<price:double,sku:string>") ||
      plan.contains("ReadSchema: struct<sku:string,price:double>"),
      s"pruned schema not pushed to scan:\n$plan")
    val got = df.collect().map(r => (r.getString(0), if (r.isNullAt(1)) -1.0 else r.getDouble(1))).toMap
    assert(got("SKU-001") === 54.90 && got("SKU-002") === 12.0 && got("SKU-003") === 7.5)
  }

  test("xsi:nil reads as null; absent attrs and empty elements take XSD defaults") {
    val df = spark.read.format("graft.xml")
      .option("xml.schema.location", s"$base/nildefaults/schema")
      .option("xml.separator.tag", "reading")
      .option("xml.separator.tag.type", "readingType")
      .option("xml.separator.tag.type.ns", "")
      .load(s"$base/nildefaults/data")
    val rows = df.orderBy("id").collect()
    assert(rows.length === 3)
    val Seq(r1, r2, r3) = rows.toSeq
    // r1: everything explicit — defaults must NOT override present values
    assert(r1.getAs[String]("source") === "sensor")
    assert(r1.getAs[Int]("version") === 1)
    assert(r1.getAs[Double]("value") === 21.5)
    assert(r1.getAs[String]("unit") === "kelvin")
    assert(r1.getAs[String]("note") === "ok")
    // r2: xsi:nil value → null; absent attrs take default/fixed;
    // present-but-empty unit takes its default; absent note stays null
    assert(r2.isNullAt(r2.fieldIndex("value")))
    assert(r2.getAs[String]("source") === "manual")
    assert(r2.getAs[Int]("version") === 2)
    assert(r2.getAs[String]("unit") === "celsius")
    assert(r2.isNullAt(r2.fieldIndex("note")))
    // r3: xsi:nil="false" is not nil; self-closed unit takes the default
    assert(r3.getAs[Double]("value") === 3.5)
    assert(r3.getAs[String]("unit") === "celsius")
  }

  test("venetian blind: namespaced data, attribute-only-ish records") {
    val df = spark.read.format("graft.xml")
      .option("xml.schema.location", s"$base/venetian/schema")
      .option("xml.separator.tag", "Player")
      .option("xml.separator.tag.type", "PlayerType")
      .option("xml.separator.tag.type.ns", "http://example.org/graft/team")
      .load(s"$base/venetian/data")
    val rows = df.orderBy("Number").collect()
    assert(rows.map(r => (r.getAs[Int]("Number"), r.getAs[String]("Alias"),
      r.getAs[String]("Position"))).toSeq ===
      Seq((1, "hawk", "keeper"), (4, "anchor", "back"), (7, "swift", "wing")))
  }

  test("simpleContent: _Value text + attributes on the same element") {
    val df = spark.read.format("graft.xml")
      .option("xml.schema.location", s"$base/simplecontent/schema")
      .option("xml.separator.tag", "sample")
      .option("xml.separator.tag.type", "sampleType")
      .load(s"$base/simplecontent/data")
    val rows = df.orderBy("id").collect()
    assert(rows.length === 2)
    val t1 = rows(0).getAs[Row]("temperature")
    assert(t1.getAs[Double]("_Value") === 21.5)
    assert(t1.getAs[String]("unit") === "C")
    assert(t1.getAs[String]("sensor") === "s1")
    assert(rows(1).isNullAt(rows(1).fieldIndex("humidity")))
    assert(rows(0).getAs[String]("at") === "2024-06-01T10:00:00Z")
  }

  test("many-files contract: a directory of XML files reads as one table") {
    val dir = java.nio.file.Files.createTempDirectory("xmlmany").toFile
    val dataDir = new java.io.File(dir, "data"); dataDir.mkdirs()
    (0 until 8).foreach { f =>
      val recs = (0 until 5).map(i =>
        s"<item sku='F$f-$i'><title>t</title><price>${f * 10 + i}</price>" +
          "<in_print>true</in_print></item>").mkString
      java.nio.file.Files.writeString(
        new java.io.File(dataDir, s"part-$f.xml").toPath,
        s"<library>$recs</library>")
    }
    val df = spark.read.format("graft.xml")
      .option("xml.schema.location", s"$base/library/schema")
      .option("xml.separator.tag", "item")
      .option("xml.separator.tag.type", "itemType")
      .load(dataDir.getAbsolutePath)
    assert(df.count() === 40)
    assert(df.select("sku").distinct().count() === 40)
    // files are non-splittable, so record counts survive any partitioning
    assert(df.rdd.getNumPartitions >= 1)
  }

  test("XML → parquet round-trip preserves rows and schema (S2 contract)") {
    val out = java.nio.file.Files.createTempDirectory("xmlrt").toString
    readLibrary.write.mode("overwrite").parquet(s"$out/lib")
    val back = spark.read.parquet(s"$out/lib")
    assert(back.count() === readLibrary.count())
    assert(back.schema.fieldNames.sorted === readLibrary.schema.fieldNames.sorted)
    val a = readLibrary.orderBy("sku").collect().map(_.toString)
    val b = back.orderBy("sku").collect().map(_.toString)
    assert(a.toSeq === b.toSeq)
  }

  test("mode=DROPMALFORMED skips corrupt records and keeps good ones") {
    val dir = java.nio.file.Files.createTempDirectory("xmldrop").toFile
    val schemaDir = new java.io.File(dir, "schema"); schemaDir.mkdirs()
    val dataDir = new java.io.File(dir, "data"); dataDir.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(schemaDir, "s.xsd").toPath,
      """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |  <xs:complexType name="rType">
        |    <xs:sequence>
        |      <xs:element type="xs:int" name="n"/>
        |      <xs:element type="xs:string" name="s" minOccurs="0"/>
        |    </xs:sequence>
        |  </xs:complexType>
        |</xs:schema>""".stripMargin)
    java.nio.file.Files.writeString(new java.io.File(dataDir, "d.xml").toPath,
      "<root><r><n>1</n><s>ok</s></r>" +
        "<r><n>bogus</n><s>bad-leaf</s></r>" +            // corrupt mid-record
        "<r><n>not</n><deep><x>y</x></deep></r>" +        // corrupt with subtree
        "<r><n>3</n></r></root>")
    val df = spark.read.format("graft.xml")
      .option("xml.schema.location", schemaDir.getAbsolutePath)
      .option("xml.separator.tag", "r")
      .option("xml.separator.tag.type", "rType")
      .option("mode", "DROPMALFORMED")
      .load(dataDir.getAbsolutePath)
    // single-scan action (no orderBy): accumulator updates count once per
    // scan execution, so a sort's sampling pass would double them.
    val rows = df.collect().sortBy(_.getInt(0))
    assert(rows.map(_.getInt(0)).toSeq === Seq(1, 3))
    assert(rows(0).getString(1) === "ok" && rows(1).isNullAt(1))
    // both dropped records are counted, not silently discarded, and the
    // progress counter reports the survivors
    assert(XmlFileFormat.counters(df).map(_.dropped.value) === Some(2L))
    assert(XmlFileFormat.counters(df).map(_.parsed.value) === Some(2L))
  }

  test("two concurrent scans each keep their own counters") {
    def table(name: String, good: Int, bad: Int) = {
      val dir = java.nio.file.Files.createTempDirectory(s"xmlcount-$name").toFile
      val schemaDir = new java.io.File(dir, "schema"); schemaDir.mkdirs()
      val dataDir = new java.io.File(dir, "data"); dataDir.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(schemaDir, "s.xsd").toPath,
        """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
          |  <xs:complexType name="rType">
          |    <xs:sequence><xs:element type="xs:int" name="n"/></xs:sequence>
          |  </xs:complexType>
          |</xs:schema>""".stripMargin)
      val recs = (1 to good).map(i => s"<r><n>$i</n></r>") ++
        (1 to bad).map(i => s"<r><n>bad$i</n></r>")
      java.nio.file.Files.writeString(new java.io.File(dataDir, "d.xml").toPath,
        recs.mkString("<root>", "", "</root>"))
      spark.read.format("graft.xml")
        .option("xml.schema.location", schemaDir.getAbsolutePath)
        .option("xml.separator.tag", "r")
        .option("xml.separator.tag.type", "rType")
        .option("mode", "DROPMALFORMED")
        .load(dataDir.getAbsolutePath)
    }
    val a = table("a", good = 3, bad = 1)
    val b = table("b", good = 5, bad = 4)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val runs = Seq(Future(a.collect().length), Future(b.collect().length))
    assert(runs.map(Await.result(_, 5.minutes)) === Seq(3, 5))
    def counts(df: org.apache.spark.sql.DataFrame) =
      XmlFileFormat.counters(df).map(c => (c.dropped.value, c.parsed.value))
    assert(counts(a) === Some((1L, 3L)))
    assert(counts(b) === Some((4L, 5L)))
  }

  test("CDATA sections and comments inside leaves are handled") {
    val dir = java.nio.file.Files.createTempDirectory("xmlcdata").toFile
    val schemaDir = new java.io.File(dir, "schema"); schemaDir.mkdirs()
    val dataDir = new java.io.File(dir, "data"); dataDir.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(schemaDir, "s.xsd").toPath,
      """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |  <xs:complexType name="rType">
        |    <xs:sequence>
        |      <xs:element type="xs:string" name="body"/>
        |      <xs:element type="xs:int" name="n"/>
        |    </xs:sequence>
        |  </xs:complexType>
        |</xs:schema>""".stripMargin)
    java.nio.file.Files.writeString(new java.io.File(dataDir, "d.xml").toPath,
      "<root><r><body><![CDATA[raw <markup> & stuff]]></body>" +
        "<!-- a comment between elements --><n><![CDATA[42]]></n></r></root>")
    val rows = spark.read.format("graft.xml")
      .option("xml.schema.location", schemaDir.getAbsolutePath)
      .option("xml.separator.tag", "r")
      .option("xml.separator.tag.type", "rType")
      .load(dataDir.getAbsolutePath).collect()
    assert(rows.length === 1)
    assert(rows(0).getString(0) === "raw <markup> & stuff")
    assert(rows(0).getInt(1) === 42)
  }

  test("mode=PERMISSIVE keeps bad records: null leaf + corrupt-record column") {
    val (schemaDir, dataDir) = XmlFixtures.write(XmlFixtures.permissive)
    val df = spark.read.format("graft.xml")
      .option("xml.schema.location", schemaDir)
      .option("xml.separator.tag", "r")
      .option("xml.separator.tag.type", "rType")
      .option("mode", "PERMISSIVE")
      .load(dataDir)
    assert(df.schema.fieldNames.toSeq === Seq("id", "n", "_corrupt_record"))
    val rows = df.collect().sortBy(_.getString(0))
    assert(rows.length === 3) // nothing dropped
    assert(rows(0).getInt(1) === 1 && rows(0).isNullAt(2))
    assert(rows(1).isNullAt(1)) // bad leaf null-filled
    assert(rows(1).getString(2).contains("n:"), rows(1).toString) // reported
    assert(rows(2).getInt(1) === 3 && rows(2).isNullAt(2))
  }

  test("PERMISSIVE with the corrupt column pruned away still null-fills") {
    val dir = java.nio.file.Files.createTempDirectory("xmlperm2").toFile
    val schemaDir = new java.io.File(dir, "schema"); schemaDir.mkdirs()
    val dataDir = new java.io.File(dir, "data"); dataDir.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(schemaDir, "s.xsd").toPath,
      """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |  <xs:complexType name="rType">
        |    <xs:sequence>
        |      <xs:element type="xs:string" name="id"/>
        |      <xs:element type="xs:int" name="n" minOccurs="0"/>
        |    </xs:sequence>
        |  </xs:complexType>
        |</xs:schema>""".stripMargin)
    java.nio.file.Files.writeString(new java.io.File(dataDir, "d.xml").toPath,
      "<root><r><id>a</id><n>1</n></r><r><id>b</id><n>bogus</n></r></root>")
    val df = spark.read.format("graft.xml")
      .option("xml.schema.location", schemaDir.getAbsolutePath)
      .option("xml.separator.tag", "r")
      .option("xml.separator.tag.type", "rType")
      .option("mode", "PERMISSIVE")
      .load(dataDir.getAbsolutePath)
    // projecting only data columns prunes _corrupt_record out of the scan;
    // the rescue path must not depend on the report column being present
    val rows = df.select("id", "n").collect().sortBy(_.getString(0))
    assert(rows.length === 2)
    assert(rows(0).getInt(1) === 1)
    assert(rows(1).isNullAt(1))
  }

  test("xml.decimal.as.decimal=true: price reads as exact BigDecimal") {
    val df = spark.read.format("graft.xml")
      .option("xml.schema.location", s"$base/library/schema")
      .option("xml.separator.tag", "item")
      .option("xml.separator.tag.type", "itemType")
      .option("xml.decimal.as.decimal", "true")
      .load(s"$base/library/data")
    val r = df.filter(org.apache.spark.sql.functions.col("sku") === "SKU-001")
      .select("price").collect()(0)
    val got = r.getDecimal(0)
    assert(got.compareTo(new java.math.BigDecimal("54.90")) === 0, s"got $got")
  }

  test("xml.namespace.aware=true distinguishes same-local-name elements by ns") {
    val dir = java.nio.file.Files.createTempDirectory("xmlns").toFile
    val schemaDir = new java.io.File(dir, "schema"); schemaDir.mkdirs()
    val dataDir = new java.io.File(dir, "data"); dataDir.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(schemaDir, "s.xsd").toPath,
      """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema"
        |    targetNamespace="http://example.org/good" elementFormDefault="qualified">
        |  <xs:complexType name="recType">
        |    <xs:sequence>
        |      <xs:element type="xs:string" name="id"/>
        |      <xs:element type="xs:string" name="payload" minOccurs="0"/>
        |    </xs:sequence>
        |  </xs:complexType>
        |</xs:schema>""".stripMargin)
    // Two namespaces, same local names: g:payload must be read, b:payload
    // skipped; the b:rec record element must not produce a record at all.
    java.nio.file.Files.writeString(new java.io.File(dataDir, "d.xml").toPath,
      """<root xmlns:g="http://example.org/good" xmlns:b="http://example.org/bad">
        |  <g:rec><g:id>1</g:id><g:payload>right</g:payload><b:payload>WRONG</b:payload></g:rec>
        |  <b:rec><b:id>2</b:id><b:payload>WRONG</b:payload></b:rec>
        |</root>""".stripMargin)
    def read(aware: Boolean) = {
      val r = spark.read.format("graft.xml")
        .option("xml.schema.location", schemaDir.getAbsolutePath)
        .option("xml.separator.tag", "rec")
        .option("xml.separator.tag.type", "recType")
        .option("xml.separator.tag.type.ns", "http://example.org/good")
      (if (aware) r.option("xml.namespace.aware", "true") else r)
        .load(dataDir.getAbsolutePath)
    }
    val aware = read(aware = true).orderBy("id").collect()
    assert(aware.length === 1) // b:rec is not a record in strict mode
    assert(aware(0).getString(0) === "1")
    assert(aware(0).getString(1) === "right") // trailing b:payload skipped
    // default (reference parity): namespace-blind — both recs read, and the
    // trailing b:payload clobbers g:payload (last scalar occurrence wins)
    val blind = read(aware = false).orderBy("id").collect()
    assert(blind.length === 2)
    assert(blind(0).getString(1) === "WRONG")
  }

  test("xs:choice records read end-to-end: populated branch set, others null") {
    val dir = java.nio.file.Files.createTempDirectory("xmlchoice").toFile
    val schemaDir = new java.io.File(dir, "schema"); schemaDir.mkdirs()
    val dataDir = new java.io.File(dir, "data"); dataDir.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(schemaDir, "p.xsd").toPath,
      """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |  <xs:complexType name="paymentType">
        |    <xs:sequence>
        |      <xs:element type="xs:long" name="order_id"/>
        |      <xs:choice>
        |        <xs:element type="xs:string" name="card_number"/>
        |        <xs:element type="xs:string" name="iban"/>
        |      </xs:choice>
        |    </xs:sequence>
        |  </xs:complexType>
        |</xs:schema>""".stripMargin)
    java.nio.file.Files.writeString(new java.io.File(dataDir, "d.xml").toPath,
      """<payments>
        |  <payment><order_id>1</order_id><card_number>4111-x</card_number></payment>
        |  <payment><order_id>2</order_id><iban>DE89-y</iban></payment>
        |</payments>""".stripMargin)
    val rows = spark.read.format("graft.xml")
      .option("xml.schema.location", schemaDir.getAbsolutePath)
      .option("xml.separator.tag", "payment")
      .option("xml.separator.tag.type", "paymentType")
      .load(dataDir.getAbsolutePath)
      .orderBy("order_id").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[String]("card_number") === "4111-x")
    assert(rows(0).isNullAt(rows(0).fieldIndex("iban")))
    assert(rows(1).isNullAt(rows(1).fieldIndex("card_number")))
    assert(rows(1).getAs[String]("iban") === "DE89-y")
  }

  test("substitution-group records read end-to-end: member branch populated") {
    val dir = java.nio.file.Files.createTempDirectory("xmlsubst").toFile
    val schemaDir = new java.io.File(dir, "schema"); schemaDir.mkdirs()
    val dataDir = new java.io.File(dir, "data"); dataDir.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(schemaDir, "s.xsd").toPath,
      """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |  <xs:element name="vehicle" type="xs:string" abstract="true"/>
        |  <xs:element name="car" type="xs:string" substitutionGroup="vehicle"/>
        |  <xs:element name="bike" type="xs:string" substitutionGroup="vehicle"/>
        |  <xs:complexType name="garageType">
        |    <xs:sequence>
        |      <xs:element type="xs:long" name="id"/>
        |      <xs:element ref="vehicle"/>
        |    </xs:sequence>
        |  </xs:complexType>
        |</xs:schema>""".stripMargin)
    java.nio.file.Files.writeString(new java.io.File(dataDir, "d.xml").toPath,
      """<garages>
        |  <garage><id>1</id><car>mazda</car></garage>
        |  <garage><id>2</id><bike>brompton</bike></garage>
        |</garages>""".stripMargin)
    val rows = spark.read.format("graft.xml")
      .option("xml.schema.location", schemaDir.getAbsolutePath)
      .option("xml.separator.tag", "garage")
      .option("xml.separator.tag.type", "garageType")
      .load(dataDir.getAbsolutePath)
      .orderBy("id").collect()
    assert(rows.map(r => (r.getLong(0),
      Option(r.getAs[String]("car")), Option(r.getAs[String]("bike")))).toSeq ===
      Seq((1L, Some("mazda"), None), (2L, None, Some("brompton"))))
  }

  test("write path: df.write.format(graft.xml) round-trips through the reader") {
    val out = java.nio.file.Files.createTempDirectory("xmlwrite").toFile
    val outPath = new java.io.File(out, "lib").getAbsolutePath
    readLibrary.write.format("graft.xml")
      .option("xml.separator.tag", "item")
      .option("xml.root.tag", "library")
      .mode("overwrite")
      .save(outPath)
    val files = new java.io.File(outPath).listFiles.filter(_.getName.endsWith(".xml"))
    assert(files.nonEmpty)
    val back = spark.read.format("graft.xml")
      .option("xml.schema.location", s"$base/library/schema")
      .option("xml.separator.tag", "item")
      .option("xml.separator.tag.type", "itemType")
      .load(outPath)
    val orig = readLibrary.collect().map(_.toString).sorted
    val rt = back.collect().map(_.toString).sorted
    assert(rt.toSeq === orig.toSeq)
  }

  test("XSD long-tail primitives: ints, unsigned, token/anyURI, base64Binary, bool 1/0") {
    val (schemaDir, dataDir) = XmlFixtures.write(XmlFixtures.longTail)
    val rows = spark.read.format("graft.xml")
      .option("xml.schema.location", schemaDir)
      .option("xml.separator.tag", "r")
      .option("xml.separator.tag.type", "recType")
      .load(dataDir).collect()
    assert(rows.length === 1)
    val r = rows(0)
    assert(r.getInt(0) === -7)
    assert(r.getLong(1) === 4294967295L)
    assert(r.getDecimal(2).toBigInteger.toString === "18446744073709551615")
    assert(r.getString(3) === "https://example.org/x")
    assert(new String(r.getAs[Array[Byte]](4), "UTF-8") === XmlFixtures.longTailPayload)
    assert(r.getBoolean(5) === true) // XSD "1" is true (plain parseBoolean isn't)
  }

  test("write path round-trips decimal and binary leaves") {
    val dir = java.nio.file.Files.createTempDirectory("xmlwrt2").toFile
    val schemaDir = new java.io.File(dir, "schema"); schemaDir.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(schemaDir, "s.xsd").toPath,
      """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |  <xs:complexType name="rType">
        |    <xs:sequence>
        |      <xs:element type="xs:long" name="id"/>
        |      <xs:element type="xs:decimal" name="amount"/>
        |      <xs:element type="xs:base64Binary" name="payload"/>
        |    </xs:sequence>
        |  </xs:complexType>
        |</xs:schema>""".stripMargin)
    import spark.implicits._
    val out = new java.io.File(dir, "data").getAbsolutePath
    Seq((7L, new java.math.BigDecimal("12.340000000000000000"),
        Array[Byte](1, 2, -3, 127)))
      .toDF("id", "amount", "payload")
      .selectExpr("id", "CAST(amount AS DECIMAL(38,18)) AS amount", "payload")
      .write.format("graft.xml")
      .option("xml.separator.tag", "r").mode("overwrite").save(out)
    val back = spark.read.format("graft.xml")
      .option("xml.schema.location", schemaDir.getAbsolutePath)
      .option("xml.separator.tag", "r")
      .option("xml.separator.tag.type", "rType")
      .option("xml.decimal.as.decimal", "true")
      .load(out).collect()(0)
    assert(back.getLong(0) === 7L)
    assert(back.getDecimal(1).compareTo(new java.math.BigDecimal("12.34")) === 0)
    assert(back.getAs[Array[Byte]](2).toSeq === Seq[Byte](1, 2, -3, 127))
  }

  test("streaming sink: writeStream format(graft.xml) produces readable files") {
    val dir = java.nio.file.Files.createTempDirectory("xmlsink").toFile
    val schemaDir = new java.io.File(dir, "schema"); schemaDir.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(schemaDir, "s.xsd").toPath,
      """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |  <xs:complexType name="evType">
        |    <xs:sequence>
        |      <xs:element type="xs:long" name="n"/>
        |    </xs:sequence>
        |  </xs:complexType>
        |</xs:schema>""".stripMargin)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val out = new java.io.File(dir, "out").getAbsolutePath
    val q = input.toDF().toDF("n")
      .writeStream.format("graft.xml")
      .option("xml.separator.tag", "ev")
      .option("checkpointLocation", new java.io.File(dir, "ckpt").getAbsolutePath)
      .start(out)
    input.addData(1L, 2L, 3L)
    q.processAllAvailable()
    q.stop()
    val back = spark.read.format("graft.xml")
      .option("xml.schema.location", schemaDir.getAbsolutePath)
      .option("xml.separator.tag", "ev")
      .option("xml.separator.tag.type", "evType")
      .load(out)
    assert(back.collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("complexContent extension + xs:list records read end-to-end") {
    val (schemaDir, dataDir) = XmlFixtures.write(XmlFixtures.extensionList)
    val df = spark.read.format("graft.xml")
      .option("xml.schema.location", schemaDir)
      .option("xml.separator.tag", "ev")
      .option("xml.separator.tag.type", "EventType")
      .load(dataDir)
    // inherited fields come first in the schema
    assert(df.schema.fieldNames.toSeq === Seq("id", "version", "score", "pages"))
    val rows = df.orderBy("id").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[String]("id") === "a1")
    assert(rows(0).getAs[Int]("version") === 3)
    assert(rows(0).getAs[Double]("score") === 0.5)
    assert(rows(0).getSeq[Int](rows(0).fieldIndex("pages")).toSeq === Seq(1, 2, 3))
    assert(rows(1).getAs[String]("id") === "a2")
    assert(rows(1).isNullAt(rows(1).fieldIndex("version")))
    assert(rows(1).isNullAt(rows(1).fieldIndex("pages")))
  }

  /** Records `<r>` with a string, a nested struct, a repeated string, an
    * xs:list of ints and an int.
    */
  private val recXsd =
    """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
      |  <xs:simpleType name="intList"><xs:list itemType="xs:int"/></xs:simpleType>
      |  <xs:complexType name="subType"><xs:sequence>
      |    <xs:element name="a" type="xs:int"/>
      |    <xs:element name="b" type="xs:string" minOccurs="0"/>
      |  </xs:sequence></xs:complexType>
      |  <xs:complexType name="rType"><xs:sequence>
      |    <xs:element name="id" type="xs:string"/>
      |    <xs:element name="sub" type="subType" minOccurs="0"/>
      |    <xs:element name="tag" type="xs:string" minOccurs="0" maxOccurs="unbounded"/>
      |    <xs:element name="pages" type="intList" minOccurs="0"/>
      |    <xs:element name="n" type="xs:int" minOccurs="0"/>
      |  </xs:sequence></xs:complexType>
      |</xs:schema>""".stripMargin

  private def recSchemaDir(): String = {
    val dir = java.nio.file.Files.createTempDirectory("xmlrec").toFile
    java.nio.file.Files.writeString(new java.io.File(dir, "s.xsd").toPath, recXsd)
    dir.getAbsolutePath
  }

  test("partitioned directory: each row carries its region, and a region filter prunes") {
    val dir = java.nio.file.Files.createTempDirectory("xmlpart").toFile
    def part(region: String, recs: String*): Unit = {
      val d = new java.io.File(dir, s"data/region=$region"); d.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(d, s"$region.xml").toPath,
        recs.mkString("<root>", "", "</root>"))
    }
    part("eu",
      "<r><id>e1</id><sub><a>1</a><b>x</b></sub><tag>t1</tag><tag>t2</tag><n>10</n></r>",
      "<r><id>e2</id><pages>4 5</pages></r>")
    part("us",
      "<r><id>u1</id><sub><a>3</a></sub><n>30</n></r>",
      "<r><id>u2</id><tag>t3</tag></r>",
      "<r><id>u3</id></r>")
    val df = spark.read.format("graft.xml")
      .option("xml.schema.location", recSchemaDir())
      .option("xml.separator.tag", "r")
      .option("xml.separator.tag.type", "rType")
      .load(s"$dir/data")
    assert(df.schema.fieldNames.toSeq === Seq("id", "sub", "tag", "pages", "n", "region"))
    val rows = df.orderBy("id").collect().map(_.toString).toSeq
    assert(rows === Seq(
      "[e1,[1,x],ArraySeq(t1, t2),null,10,eu]",
      "[e2,null,null,ArraySeq(4, 5),null,eu]",
      "[u1,[3,null],null,null,30,us]",
      "[u2,null,ArraySeq(t3),null,null,us]",
      "[u3,null,null,null,null,us]"))
    val eu = df.filter(org.apache.spark.sql.functions.col("region") === "eu")
    assert(eu.select("id").collect().map(_.getString(0)).sorted.toSeq === Seq("e1", "e2"))
    val scan = eu.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.partitionFilters.nonEmpty)
    // only the eu file was opened: its two records are all the scan parsed
    assert(XmlFileFormat.counters(eu).get.parsed.value === 2L)
  }

  test("a failed record leaves nothing behind; huge leaves and arrays grow the scratch") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeRow
    val schema = XsdSchema.structTypeFor(recSchemaDir(), "", "rType")
    val withCorrupt = schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    def read(xml: String, s: org.apache.spark.sql.types.StructType,
        drop: Boolean = false, permissive: Boolean = false): List[UnsafeRow] =
      new XmlRecordIterator(new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")), s, "r",
        dropMalformed = drop, permissive = permissive).map(_.asInstanceOf[UnsafeRow]).toList
    // fails in `pages` after its nested struct, two repeated elements and
    // two list items were written, then again at `n`
    val bad = "<r><id>bad</id><sub><a>1</a><b>bb</b></sub><tag>t1</tag><tag>t2</tag>" +
      "<pages>4 5 x</pages><n>bogus</n></r>"
    val good = "<r><id>good</id><sub><a>2</a></sub><tag>t3</tag><pages>7 8</pages><n>9</n></r>"
    def doc(recs: String*) = recs.mkString("<root>", "", "</root>")

    val dropped = read(doc(bad, good), schema, drop = true)
    assert(dropped.length === 1)
    assert(dropped.head.getBytes.toSeq === read(doc(good), schema).head.getBytes.toSeq)

    val kept = read(doc(bad, good), withCorrupt, permissive = true)
    assert(kept.length === 2)
    val rescued = kept.head
    assert(rescued.getUTF8String(0).toString === "bad")
    assert(rescued.isNullAt(3) && rescued.isNullAt(4)) // pages and n rescued to null
    assert(rescued.getUTF8String(5).toString.startsWith("pages: "))
    assert(kept(1).getBytes.toSeq ===
      read(doc(good), withCorrupt, permissive = true).head.getBytes.toSeq)
    val canonical = XmlFixtures.canonicalBytes(withCorrupt)
    kept.foreach(r => assert(r.getBytes.toSeq === canonical(r).toSeq))

    // a 1 MiB leaf and 10,000 repeated elements, between two small records
    val text = Array.tabulate(1 << 20)(i => ('a' + i % 26).toChar).mkString
    val tags = (0 until 10000).map(i => s"t$i")
    val big = s"<r><id>big</id><sub><a>7</a><b>$text</b></sub>" +
      tags.map(t => s"<tag>$t</tag>").mkString + "</r>"
    val rows = read(doc(good, big, good), schema)
    assert(rows.length === 3)
    val b = rows(1)
    assert(b.getUTF8String(0).toString === "big")
    assert(b.getStruct(1, 2).getUTF8String(1).toString === text)
    val got = b.getArray(2)
    assert(got.numElements() === tags.length)
    assert((0 until got.numElements()).map(got.getUTF8String(_).toString) === tags)
    assert(b.getBytes.toSeq === XmlFixtures.canonicalBytes(schema)(b).toSeq)
    assert(rows(0).getBytes.toSeq === rows(2).getBytes.toSeq)
  }

  test("missing required option yields a clear error naming the key") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft.xml")
        .option("xml.separator.tag", "item")
        .load(s"$base/library/data")
    }
    assert(e.getMessage.contains("xml.schema.location"))
  }

  test("malformed numeric text fails fast (no NULL-on-corrupt mode)") {
    val dir = java.nio.file.Files.createTempDirectory("xmlbad").toFile
    val schemaDir = new java.io.File(dir, "schema"); schemaDir.mkdirs()
    val dataDir = new java.io.File(dir, "data"); dataDir.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(schemaDir, "s.xsd").toPath,
      """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |  <xs:complexType name="rType">
        |    <xs:sequence><xs:element type="xs:int" name="n"/></xs:sequence>
        |  </xs:complexType>
        |</xs:schema>""".stripMargin)
    java.nio.file.Files.writeString(new java.io.File(dataDir, "d.xml").toPath,
      "<root><r><n>not-a-number</n></r></root>")
    val df = spark.read.format("graft.xml")
      .option("xml.schema.location", schemaDir.getAbsolutePath)
      .option("xml.separator.tag", "r")
      .option("xml.separator.tag.type", "rType")
      .load(dataDir.getAbsolutePath)
    val e = intercept[org.apache.spark.SparkException] { df.collect() }
    assert(e.getCause != null)
  }

  test("a Hadoop key passed as a reader option reaches the tasks that open the files") {
    // the scan ships its option-derived configuration: with `fs.file.impl`
    // naming a counting local FS (uncached, so the option is honoured on
    // every lookup), the tasks' opens go through it, and the rows match
    val before = CountingLocalFs.xmlOpens.get
    val viaOption = spark.read.format("graft.xml")
      .option("xml.schema.location", s"$base/library/schema")
      .option("xml.separator.tag", "item")
      .option("xml.separator.tag.type", "itemType")
      .option("fs.file.impl", classOf[CountingLocalFs].getName)
      .option("fs.file.impl.disable.cache", "true")
      .load(s"$base/library/data")
    val a = viaOption.orderBy("sku").collect().map(_.toString).toSeq
    val b = readLibrary.orderBy("sku").collect().map(_.toString).toSeq
    assert(a === b && a.length === 4)
    assert(CountingLocalFs.xmlOpens.get > before)
  }

  test("ConfEntries round-trips every session entry, long and non-ASCII values") {
    import scala.jdk.CollectionConverters._
    def entries(c: org.apache.hadoop.conf.Configuration): Map[String, String] =
      c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    val conf = spark.sessionState.newHadoopConf()
    // DataOutput.writeUTF refuses strings whose encoding passes 65,535 bytes
    conf.set("graft.test.long", "x" * 70000)
    conf.set("graft.test.unicode", "Zürich — 東京 — \uD83D\uDE00")
    val want = entries(conf)
    assert(want.size > 100 && want("graft.test.long").length === 70000)
    val serializers = Seq(
      new org.apache.spark.serializer.JavaSerializer(spark.sparkContext.getConf),
      new org.apache.spark.serializer.KryoSerializer(spark.sparkContext.getConf))
    serializers.foreach { ser =>
      val inst = ser.newInstance()
      val back = inst.deserialize[ConfEntries](
        inst.serialize(new ConfEntries(conf))).value
      assert(back ne conf)
      assert(entries(back) === want, ser.getClass.getSimpleName)
    }
  }
}

/** A local file system that counts the XML files it opens. */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(p: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (p.getName.endsWith(".xml")) CountingLocalFs.xmlOpens.incrementAndGet()
    super.open(p, bufferSize)
  }
}

object CountingLocalFs {
  val xmlOpens = new java.util.concurrent.atomic.AtomicInteger()
}
