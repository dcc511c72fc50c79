package graft.xml

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, LogicalRelation, OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.util.LongAccumulator

/** XML DataSource (SURVEY.md §2.1 S2–S5): `spark.read.format("graft.xml")`.
  *
  * The Spark-native replacement for the reference's Hive plug-in pair
  * (`AvroFromXmlSerde` + `AvroFromXmlInputFormat`,
  * `/root/reference/src/main/scala/com/github/xmlavrobridge/AvroFromXmlInputFormat.scala:31-103`).
  * Same four table properties, now reader options (S5,
  * `AvroFromXmlSerde.scala:19-25`):
  *
  *   - `xml.separator.tag`          — element delimiting one record
  *   - `xml.separator.tag.type`     — XSD type name of that element
  *   - `xml.separator.tag.type.ns`  — its namespace ("" for none)
  *   - `xml.schema.location`        — directory of XSD files
  *
  * Extras beyond the reference's surface (all default-off for parity):
  *   - `mode=DROPMALFORMED`         — skip corrupt records (count surfaces as
  *                                    a named accumulator in the Spark UI)
  *   - `mode=PERMISSIVE`            — null-fill bad leaf values, report them
  *                                    in `columnNameOfCorruptRecord`
  *                                    (default `_corrupt_record`)
  *   - `xml.decimal.as.decimal=true` — xs:decimal ⇒ DecimalType(38,18)
  *   - `xml.namespace.aware=true`   — strict element-namespace matching
  *
  * Scale design:
  *  - non-splittable by default: the reference's reader ignores split offsets
  *    and opens the whole file (`AvroFromXmlInputFormat.scala:49,52-58`), i.e.
  *    XML is treated as a non-splittable format; parallelism comes from many
  *    files (like spark-xml's multiline mode). `xml.splittable=true` lifts
  *    this: byte-offset splits, where a separator-tag boundary matcher in
  *    front of the tokenizer picks each split's records (ownership rule in
  *    [[XmlSplitScanner]]), so one huge dump parallelizes too.
  *  - schema derived ONCE on the driver by `inferSchema` and shipped to tasks
  *    inside the closure — fixes the reference's per-task XSD re-parse
  *    (`AvroTransormer.scala:26-43`, SURVEY.md §4.1).
  *  - tasks open files with the scan's own Hadoop configuration (session
  *    settings plus reader options), loaded once on the driver and
  *    broadcast once per scan as its bare key/value entries
  *    ([[ConfEntries]]) rather than through `Configuration.write`, which
  *    gzips each of its ~1,100 keys' provenance; an executor rebuilds it
  *    once per broadcast, with no default-resource parse.
  *  - `requiredSchema` (Catalyst's pruned projection) is handed straight to
  *    the record reader, so unprojected XML subtrees are skipped, not built.
  *  - the record reader writes each record straight into an `UnsafeRow`;
  *    with no partition columns those rows are the scan's output, with no
  *    safe→unsafe projection (and no per-task code generation for one).
  *  - one byte-level UTF-8 tokenizer ([[XmlTokenizer]]) reads both paths:
  *    the whole file, or a split's owned records in place in the file
  *    buffer — no per-record copy and no parser per record.
  *  - scan counters belong to the scan's own format instance (one per
  *    `load()`); [[XmlFileFormat.counters]] finds them from the DataFrame.
  */
class XmlFileFormat extends FileFormat with DataSourceRegister with Serializable {

  import XmlFileFormat._

  /** This relation's scan counters, set when a scan of it is planned. */
  @transient @volatile private var scanCounters: Option[XmlScanCounters] = None

  override def shortName(): String = "graft.xml"

  override def toString: String = "GraftXML"

  override def inferSchema(sparkSession: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val (schemaDir, _, typeNs, typeName) = requiredOptions(options)
    val base = XsdSchema.structTypeFor(schemaDir, typeNs, typeName,
      decimalAsDecimal = boolOpt(options, "xml.decimal.as.decimal"))
    // PERMISSIVE mode reports leaf-coercion failures into an appended
    // corrupt-record column (csv/json source convention).
    if (parseMode(options) == "PERMISSIVE") {
      Some(base.add(StructField(corruptColName(options), StringType,
        nullable = true)))
    } else Some(base)
  }

  /** Write path (improvement over the reference, whose SerDe never
    * implements `serialize`): one XML document per task file, records
    * delimited by `xml.separator.tag`, root element `xml.root.tag`
    * (default "root"). See [[XmlOutputWriter]] for the encoding contract.
    */
  override def prepareWrite(sparkSession: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
    val separatorTag = options.getOrElse("xml.separator.tag",
      throw new IllegalArgumentException(
        "graft.xml write requires option 'xml.separator.tag'"))
    val rootTag = options.getOrElse("xml.root.tag", "root")
    new OutputWriterFactory {
      override def getFileExtension(context: TaskAttemptContext): String = ".xml"
      override def newInstance(path: String, dataSchema: StructType,
          context: TaskAttemptContext): OutputWriter =
        new XmlOutputWriter(path, dataSchema, separatorTag, rootTag, context)
    }
  }

  /** Non-splittable by default (reference parity — parallelism from many
    * files). `xml.splittable=true` opts into byte-offset splits: each split
    * parses only records whose start tag begins inside it (the ownership
    * rule of [[XmlSplitScanner]]), so one 50 GB dump fans out across
    * executors instead of being one task at 100 TB.
    */
  override def isSplitable(sparkSession: SparkSession,
      options: Map[String, String], path: Path): Boolean =
    boolOpt(options, "xml.splittable")

  /** The reader's rows are already `UnsafeRow`s of `requiredSchema`, so a
    * table with no partition columns takes them as they are. Spark's default
    * would copy each one through a generated safe-to-unsafe projection,
    * generated again in every task. Partition columns still go through
    * Spark's join and projection.
    */
  override def buildReaderWithPartitionValues(sparkSession: SparkSession,
      dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
    if (partitionSchema.isEmpty) {
      buildReader(sparkSession, dataSchema, partitionSchema, requiredSchema,
        filters, options, hadoopConf)
    } else super.buildReaderWithPartitionValues(sparkSession, dataSchema,
      partitionSchema, requiredSchema, filters, options, hadoopConf)

  override protected def buildReader(sparkSession: SparkSession,
      dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val (_, separatorTag, typeNs, _) = requiredOptions(options)
    // mode=FAILFAST (default; reference parity) | DROPMALFORMED (skip bad
    // records — the 100 TB posture) | PERMISSIVE (null-fill bad leaves,
    // report into the corrupt-record column), matching csv/json conventions.
    val mode = parseMode(options)
    val dropMalformed = mode == "DROPMALFORMED"
    val permissive = mode == "PERMISSIVE"
    val corruptCol = corruptColName(options)
    // xml.namespace.aware=true: strict element-namespace matching against the
    // record type's namespace (default: reference's local-name-only matching).
    val nsUri =
      if (boolOpt(options, "xml.namespace.aware")) Some(typeNs) else None
    // Per-scan named accumulators: parsed/dropped counts surface in the
    // Spark UI per stage, so scan progress and corruption rates at scale are
    // observable, not silent.
    val dropped = sparkSession.sparkContext.longAccumulator(
      "graft.xml: malformed records dropped")
    val parsed = sparkSession.sparkContext.longAccumulator(
      "graft.xml: records parsed")
    scanCounters = Some(XmlScanCounters(dropped, parsed))
    val confBroadcast = sparkSession.sparkContext.broadcast(
      new ConfEntries(hadoopConf))
    val splittable = boolOpt(options, "xml.splittable")
    (file: PartitionedFile) => {
      val path = file.toPath
      val in = path.getFileSystem(confBroadcast.value.value).open(path)
      // The tokenizer reads 64 KiB chunks straight into its own buffer, so
      // the stream needs no buffering layer. A split read seeks to its
      // first byte; the boundary matcher in front of the tokenizer picks
      // the records the split owns, parsed in place with no record copy.
      val splitLength = if (splittable) file.length else -1L
      if (splittable && file.start > 0) in.seek(file.start)
      new XmlRecordIterator(in, requiredSchema, separatorTag, dropMalformed,
        nsUri, () => dropped.add(1), () => parsed.add(1), permissive,
        corruptCol, splitLength)
    }
  }
}

object XmlFileFormat {

  /** The counters of the most recent scan of `df`'s XML relation — the
    * programmatic twin of the Spark-UI named accumulators (FileFormat V1 has
    * no SQLMetric surface). Driver-side only; used by tests and ingest jobs
    * that want the corruption count after an action. Each `load()` makes
    * its own format instance, so concurrent scans of different DataFrames
    * keep their own counts. None before the first action.
    */
  def counters(df: DataFrame): Option[XmlScanCounters] =
    df.queryExecution.analyzed.collect { case r: LogicalRelation => r.relation }
      .collect { case h: HadoopFsRelation => h.fileFormat }
      .collectFirst { case f: XmlFileFormat => f }
      .flatMap(_.scanCounters)

  private def boolOpt(options: Map[String, String], key: String): Boolean =
    options.get(key).exists(_.equalsIgnoreCase("true"))

  private val ValidModes = Set("FAILFAST", "DROPMALFORMED", "PERMISSIVE")

  private def parseMode(options: Map[String, String]): String = {
    val m = options.getOrElse("mode", "FAILFAST").toUpperCase(java.util.Locale.ROOT)
    require(ValidModes.contains(m),
      s"graft.xml mode must be one of ${ValidModes.mkString(", ")}; got '$m'")
    m
  }

  private def corruptColName(options: Map[String, String]): String =
    options.getOrElse("columnNameOfCorruptRecord", "_corrupt_record")

  /** The reference `require`s the same four keys (AvroFromXmlInputFormat.scala:33-43). */
  private def requiredOptions(options: Map[String, String]):
      (String, String, String, String) = {
    def req(k: String): String = options.getOrElse(k,
      throw new IllegalArgumentException(s"graft.xml requires option '$k'"))
    (req("xml.schema.location"), req("xml.separator.tag"),
      options.getOrElse("xml.separator.tag.type.ns", ""),
      req("xml.separator.tag.type"))
  }
}

/** One scan's named accumulators: records dropped by DROPMALFORMED, and
  * records parsed.
  */
final case class XmlScanCounters(dropped: LongAccumulator, parsed: LongAccumulator)

/** Class-name hook so `spark.read.format("graft.xml")` resolves via the
  * `graft.xml.DefaultSource` convention (alongside the service-registry
  * shortName).
  */
class DefaultSource extends XmlFileFormat
