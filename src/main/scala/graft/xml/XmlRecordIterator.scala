package graft.xml

import java.io.InputStream
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Streaming XML → `UnsafeRow` record reader (SURVEY.md §2.1 S2).
  *
  * Same record-assembly semantics as the reference's pull-parse loop
  * (`/root/reference/src/main/scala/com/github/xmlavrobridge/AvroTransormer.scala:77-170`),
  * re-expressed over the byte-level [[XmlTokenizer]] with a schema-directed
  * (rather than path-map-directed) walk:
  *
  *  - a record = one subtree rooted at `separatorTag`; one record
  *    materialized per `next()` — O(record) memory (`:77-170`)
  *  - start/end tags matched by LOCAL name only; namespaces on the data side
  *    are ignored (`:106,143`)
  *  - leaf text accumulated across text, CDATA and references and trimmed
  *    before coercion (`:159-163,:98`)
  *  - coercion via `java.lang.*.valueOf` semantics, fail-fast on malformed
  *    numbers by default, matching the reference's no-NULL-on-corrupt
  *    behavior (`convert`, `:194-208`); `dropMalformed` opts into skipping
  *    bad records instead — at 100 TB one corrupt record must not kill a
  *    1000-executor job
  *  - attributes not present in the schema are silently dropped (`:180-188`)
  *  - mixed content unsupported: element children inside a leaf are skipped
  *    (`:155,164`)
  *  - `_Value` synthetic field receives the text of simpleContent elements
  *
  * Rows are Spark's `UnsafeRow`s, one independent row (its own exact-size
  * `byte[]`) per record, so callers may keep them (`.toList`) and the scan
  * hands them to Spark with no projection. Leaves go from the tokenizer's
  * byte slices into a reused [[RowBuffer]]: numbers as slot bits, with no
  * boxing and no `String` on the common path; text and bytes copied once.
  * At the record's END the buffer writes the row in Spark's canonical
  * layout. Each struct of the schema gets one [[StructPlan]], built with the
  * iterator: a byte-keyed field table, the per-field value kind, coercion
  * and row layout, and the plans of its nested structs, so nothing is looked
  * up by name or type per record.
  *
  * Improvement over the reference (documented, not parity-locked): elements
  * absent from the supplied schema are skipped subtree-wise, which is what
  * makes Catalyst column pruning reach INSIDE the parser — `requiredSchema`
  * from the FileFormat drives this walk, so unprojected subtrees are never
  * materialized (SURVEY.md §4.1 "column pruning inside the XML parser").
  *
  * @param namespaceUri when set (reader option `xml.namespace.aware=true`),
  *   only elements whose namespace URI equals this value ("" = no namespace)
  *   match schema fields or the separator tag; same-local-name elements from
  *   other namespaces are skipped subtree-wise. Default `None` keeps the
  *   reference's local-name-only matching (`AvroTransormer.scala:106,143`).
  *   Attributes stay local-name-matched in both modes (qualified attributes
  *   are rare and the reference ignores attribute namespaces too).
  * @param onDropped invoked once per record discarded by DROPMALFORMED — the
  *   FileFormat wires a named LongAccumulator here so a 100 TB ingest can
  *   report its corruption rate in the Spark UI instead of dropping silently.
  * @param onRecord invoked once per successfully parsed record — the scan
  *   progress signal (the reference reports byte progress via
  *   `ProgressCounter.java:5-35`; a record count per stage is the Spark-UI
  *   analogue).
  * @param permissive mode=PERMISSIVE: a leaf value that fails coercion
  *   becomes null and the record is KEPT; the failure messages land in the
  *   `corruptCol` string field when the (pruned) schema carries it. Records
  *   that fail structurally still follow the dropMalformed/fail-fast rule.
  * @param corruptCol name of the corrupt-record column PERMISSIVE reports
  *   into (appended to the schema by the FileFormat).
  * @param splitLength split read (`xml.splittable=true`): `input` starts at
  *   a split's first byte, and only records whose start tag begins within
  *   `splitLength` bytes of it are read (see [[XmlSplitScanner]] for the
  *   ownership rule). Negative (the default) reads a whole document.
  */
final class XmlRecordIterator(input: InputStream, schema: StructType,
    separatorTag: String, dropMalformed: Boolean = false,
    namespaceUri: Option[String] = None,
    onDropped: () => Unit = () => (),
    onRecord: () => Unit = () => (),
    permissive: Boolean = false,
    corruptCol: String = "_corrupt_record",
    splitLength: Long = -1L)
    extends Iterator[InternalRow] {

  import XmlTokenizer.{End, Eof, Start}
  import StructPlan._

  private val tok = new XmlTokenizer(input, fragment = splitLength >= 0)
  private val plan = new StructPlan(schema)
  private val rows = new RowBuffer(tok.text)
  private val sep = separatorTag.getBytes(UTF_8)
  private val ns = namespaceUri.orNull
  private val corruptIdx = {
    val b = corruptCol.getBytes(UTF_8)
    plan.lookup(b, 0, b.length)
  }

  // per-record coercion-failure log (PERMISSIVE mode only)
  private var corruptMessages: java.lang.StringBuilder = _

  private var nextRecord: InternalRow = _
  private var finished = false

  override def hasNext: Boolean = {
    if (nextRecord == null && !finished) advance()
    nextRecord != null
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException("end of XML input")
    val r = nextRecord; nextRecord = null; r
  }

  /** True when the current START's namespace passes the (optional)
    * strict-namespace check.
    */
  private def nsMatches(): Boolean = ns == null || tok.elementNamespace == ns

  private def advance(): Unit = {
    while (true) {
      if (splitLength >= 0 && tok.depth == 0) { // between the split's records
        val at = tok.findRecordStart(sep)
        if (at < 0 || at >= splitLength) { finish(); return }
      }
      val ev = tok.next(collect = false)
      if (ev == Eof) { finish(); return }
      if (ev == Start && tok.localIs(sep) && nsMatches()) {
        val recordDepth = tok.depth // depth of the separator element itself
        try {
          rows.reset()
          corruptMessages = null
          val node = parseStruct(plan)
          if (permissive && corruptMessages != null && corruptIdx >= 0) {
            val m = corruptMessages.toString.getBytes(UTF_8)
            rows.setBytes(node + corruptIdx, m, 0, m.length)
          }
          nextRecord = rows.toRow(plan, node)
          onRecord()
          return
        } catch {
          case e: XmlParseException => throw e // the stream itself is broken
          case e: Exception if dropMalformed =>
            onDropped()
            // unwind whatever is left of this record, then keep scanning
            while (tok.depth >= recordDepth) tok.next(collect = false)
        }
      }
    }
  }

  private def finish(): Unit = {
    finished = true
    tok.close()
  }

  /** Parse the struct whose START the tokenizer is on, through its END,
    * into a fresh node of [[rows]]; returns the node.
    */
  private def parseStruct(p: StructPlan): Int = {
    val node = rows.alloc(p.size)
    // Attributes present in the schema are set; unknown ones dropped (:180-188).
    // The schema lists a type's attributes after its elements, so with k
    // attributes on the tag the first is most likely field size - k.
    var i = 0
    var hint = p.size - tok.attrCount
    while (i < tok.attrCount) {
      val idx = p.lookupNext(hint, tok.buf, tok.attrLocalStart(i), tok.attrLocalLength(i))
      if (idx >= 0) {
        hint = idx + 1
        tok.attrValue(i)
        coerce(p, idx, p.fieldKind(idx), p.fieldType(idx),
          tok.valueArr, tok.valueOff, tok.valueLen, node + idx)
      }
      i += 1
    }
    // XSD attribute default/fixed: absent attributes take the declared value.
    if (p.attrDefaults != null) {
      i = 0
      while (i < p.size) {
        val d = p.attrDefaults(i)
        if (d != null && rows.isNull(node + i)) {
          coerce(p, i, p.fieldKind(i), p.fieldType(i), d, 0, d.length, node + i)
        }
        i += 1
      }
    }

    val valueIdx = p.valueIdx
    val collect = valueIdx >= 0
    var valueText: ByteBuilder = null // the element's own text, for _Value
    var repeatedSeen = false
    hint = 0 // the element expected next
    val t = tok.text
    var mark = t.length // the element's own text is appended from here
    var ev = tok.next(collect)
    while (ev != End) {
      if (collect && t.length > mark) {
        if (valueText == null) valueText = new ByteBuilder(t.length - mark)
        valueText.append(t.arr, mark, t.length - mark)
      }
      val idx =
        if (nsMatches()) p.lookupNext(hint, tok.buf, tok.localStart, tok.localLength) else -1
      if (idx >= 0) hint = if (p.repeated(idx)) idx else idx + 1
      if (idx < 0) tok.skipElement() // pruned, undeclared, or wrong ns
      else if (tok.isNil) tok.skipElement() // xsi:nil="true": explicit null
      else if (p.repeated(idx)) {
        // a PERMISSIVE-rescued element is logged but not appended
        // (the array types are containsNull = false)
        val x = rows.alloc(1)
        if (parseValue(p, idx, x)) { rows.append(node + idx, x); repeatedSeen = true }
      } else parseValue(p, idx, node + idx)
      mark = t.length
      ev = tok.next(collect)
    }
    if (collect && t.length > mark) {
      if (valueText == null) valueText = new ByteBuilder(t.length - mark)
      valueText.append(t.arr, mark, t.length - mark)
    }
    if (repeatedSeen) {
      i = 0
      while (i < p.size) {
        if (p.repeated(i) && rows.isOpen(node + i)) rows.closeArray(node + i, p.elemWidth(i))
        i += 1
      }
    }
    if (valueText != null) {
      coerce(p, valueIdx, p.fieldKind(valueIdx), p.fieldType(valueIdx),
        valueText.arr, 0, valueText.length, node + valueIdx)
    }
    node
  }

  /** Parse one element value of field `idx` (START already read) into entry
    * `dst`: a nested struct, or leaf text, where the XSD default=/fixed=
    * lexical form replaces EMPTY text. False when PERMISSIVE rescued it.
    */
  private def parseValue(p: StructPlan, idx: Int, dst: Int): Boolean = {
    val child = p.child(idx)
    if (child != null) {
      val node = parseStruct(child)
      rows.setStruct(dst, node, rows.structSize(child, node))
      true
    } else {
      val t = tok.text
      val start = t.length
      tok.readLeaf()
      val d = p.elemDefaults(idx)
      if (d != null && isBlank(t.arr, start, t.length - start)) {
        coerce(p, idx, p.elemKind(idx), p.elemType(idx), d, 0, d.length, dst)
      } else coerce(p, idx, p.elemKind(idx), p.elemType(idx), t.arr, start, t.length - start, dst)
    }
  }

  /** convert(), rescued to null + a corrupt-record note in PERMISSIVE mode
    * (then false). Only leaf coercions are rescued — structural failures
    * still follow the fail-fast / DROPMALFORMED record rule.
    */
  private def coerce(p: StructPlan, idx: Int, kind: Int, dt: DataType,
      b: Array[Byte], off: Int, len: Int, dst: Int): Boolean =
    if (!permissive) { convert(kind, dt, b, off, len, dst); true }
    else try { convert(kind, dt, b, off, len, dst); true } catch {
      case e: Exception =>
        rows.setNull(dst)
        if (corruptMessages == null) {
          corruptMessages = new java.lang.StringBuilder
        } else corruptMessages.append("; ")
        corruptMessages.append(p.names(idx)).append(": ").append(e.getMessage)
        false
    }

  /** Trim-then-valueOf coercion, fail-fast (AvroTransormer.scala:194-208),
    * of the UTF-8 text `b[off, off+len)` into entry `dst`. Trimming drops
    * bytes <= 0x20, which in UTF-8 are exactly the chars String.trim drops.
    */
  private def convert(kind: Int, dt: DataType, b: Array[Byte], off: Int, len: Int,
      dst: Int): Unit = {
    var s = off
    var e = off + len
    while (s < e && isSpace(b(s))) s += 1
    while (e > s && isSpace(b(e - 1))) e -= 1
    (kind: @annotation.switch) match {
      case KString => rows.setBytes(dst, b, s, e - s)
      case KInt =>
        val v = digits(b, s, e, 9)
        rows.setFixed(dst,
          if (v != Long.MinValue) v else java.lang.Integer.parseInt(str(b, s, e)).toLong)
      case KLong =>
        val v = digits(b, s, e, 18)
        rows.setFixed(dst, if (v != Long.MinValue) v else java.lang.Long.parseLong(str(b, s, e)))
      case KFloat =>
        rows.setFixed(dst,
          java.lang.Float.floatToRawIntBits(java.lang.Float.parseFloat(str(b, s, e))).toLong)
      case KDouble =>
        val v = decimal(b, s, e)
        rows.setFixed(dst, java.lang.Double.doubleToRawLongBits(
          if (!java.lang.Double.isNaN(v)) v else java.lang.Double.parseDouble(str(b, s, e))))
      case KBoolean =>
        // XSD's boolean lexical space is {true, false, 1, 0}; plain
        // parseBoolean (reference behavior) silently reads "1" as false.
        val v =
          if (e - s == 1 && (b(s) == '1' || b(s) == '0')) b(s) == '1'
          else java.lang.Boolean.parseBoolean(str(b, s, e))
        rows.setFixed(dst, if (v) 1L else 0L)
      case KDecimal => // xml.decimal.as.decimal / xs:unsignedLong
        val d = dt.asInstanceOf[DecimalType]
        val v = Decimal(new java.math.BigDecimal(str(b, s, e)), d.precision, d.scale)
        if (d.precision <= Decimal.MAX_LONG_DIGITS) rows.setFixed(dst, v.toUnscaledLong)
        else {
          val u = v.toJavaBigDecimal.unscaledValue.toByteArray
          rows.setBytes(dst, u, 0, u.length)
        }
      case KBinary => // xs:base64Binary (MIME decoder tolerates line wraps)
        val v = java.util.Base64.getMimeDecoder.decode(java.util.Arrays.copyOfRange(b, s, e))
        rows.setBytes(dst, v, 0, v.length)
      case KList => // xs:list: whitespace-separated item lexical forms
        val et = dt.asInstanceOf[ArrayType].elementType
        val ek = kindOf(et)
        rows.openArray(dst)
        var i = s
        while (i < e) {
          val t = i
          while (i < e && !isSpace(b(i))) i += 1
          val x = rows.alloc(1)
          convert(ek, et, b, t, i - t, x)
          rows.append(dst, x)
          while (i < e && isSpace(b(i))) i += 1
        }
        rows.closeArray(dst, slotWidth(et))
      case _ => throw new IllegalArgumentException(
        s"unsupported leaf type in XML schema: $dt")
    }
  }
}

/** The read plan of one struct of the schema: everything the per-record
  * walk needs, resolved once.
  */
private[xml] final class StructPlan(st: StructType) {
  import StructPlan._

  val size: Int = st.length
  val names: Array[String] = st.fieldNames
  private val nameBytes = names.map(_.getBytes(UTF_8))

  // Open-addressing table: local-name bytes → field index. A repeated name
  // resolves to its LAST field, as a name → index map built in order would.
  private val mask = Integer.highestOneBit(math.max(size, 1) * 4) * 2 - 1
  private val slots = Array.fill(mask + 1)(-1)
  for (i <- 0 until size) {
    val b = nameBytes(i)
    var s = hash(b, 0, b.length) & mask
    while (slots(s) >= 0 && !java.util.Arrays.equals(nameBytes(slots(s)), b)) s = (s + 1) & mask
    slots(s) = i
  }

  /** The field each field's name resolves to: itself, or the last field of
    * the same name.
    */
  private val resolved = Array.tabulate(size)(i => lookup(nameBytes(i), 0, nameBytes(i).length))

  /** [[lookup]] that first tries field `hint` (any Int): a sequence's
    * elements mostly arrive in schema order, so the next one is usually the
    * field after the last, and a name compare costs less than hashing it.
    */
  def lookupNext(hint: Int, b: Array[Byte], off: Int, len: Int): Int = {
    if (hint >= 0 && hint < size) {
      val n = nameBytes(hint)
      if (XmlTokenizer.sameBytes(n, 0, n.length, b, off, len)) return resolved(hint)
    }
    lookup(b, off, len)
  }

  /** Index of the field named `b[off, off+len)`, or -1. */
  def lookup(b: Array[Byte], off: Int, len: Int): Int = {
    var s = hash(b, off, len) & mask
    while (true) {
      val f = slots(s)
      if (f < 0) return -1
      val n = nameBytes(f)
      if (XmlTokenizer.sameBytes(n, 0, n.length, b, off, len)) return f
      s = (s + 1) & mask
    }
    -1
  }

  /** The field's whole type and kind: how an attribute or `_Value` reads. */
  val fieldType: Array[DataType] = st.fields.map(_.dataType)
  val fieldKind: Array[Int] = fieldType.map(kindOf)

  /** One element occurrence: xs:list leaves (ArrayType with `xml.list`,
    * maxOccurs=1) read their whole text as the array; any other ArrayType
    * is a repeated element of its element type.
    */
  val repeated: Array[Boolean] = st.fields.map {
    case f @ StructField(_, ArrayType(et, _), _, _) =>
      !(f.metadata.contains("xml.list") && !et.isInstanceOf[ArrayType])
    case _ => false
  }
  val elemType: Array[DataType] = st.fields.indices.map { i =>
    (fieldType(i), repeated(i)) match {
      case (ArrayType(et, _), true) => et
      case (dt, _) => dt
    }
  }.toArray
  val elemKind: Array[Int] = elemType.map(kindOf)
  val child: Array[StructPlan] = elemType.map {
    case s: StructType => new StructPlan(s)
    case _ => null
  }

  // UnsafeRow layout: null words, then one 8-byte slot per field.
  val nullBytes: Int = RowBuffer.nullWords(size) * 8
  val fixedBytes: Int = nullBytes + 8 * size
  /** Bytes a fixed-width value writes into its slot. */
  val fieldWidth: Array[Int] = fieldType.map(slotWidth)
  /** Decimals wider than a long: 16 bytes in the row even when null. */
  val wide: Array[Boolean] = fieldType.map {
    case d: DecimalType => d.precision > Decimal.MAX_LONG_DIGITS
    case _ => false
  }
  /** An array field's element type, and its element slot width. */
  val arrayElem: Array[DataType] = fieldType.map {
    case ArrayType(et, _) => et
    case _ => null
  }
  val elemWidth: Array[Int] = arrayElem.map(et => if (et == null) 0 else slotWidth(et))

  // XSD default=/fixed=: attribute defaults fill ABSENT attributes; element
  // defaults fill PRESENT-but-EMPTY leaf elements.
  private def defaultsOf(key: String): Array[Array[Byte]] = {
    val d = st.fields.map(f =>
      if (f.metadata.contains(key)) f.metadata.getString(key).getBytes(UTF_8) else null)
    if (d.exists(_ != null)) d else null
  }
  val attrDefaults: Array[Array[Byte]] = defaultsOf("xml.default.attr")
  val elemDefaults: Array[Array[Byte]] =
    Option(defaultsOf("xml.default.elem")).getOrElse(new Array[Array[Byte]](size))

  val valueIdx: Int = lookup(ValueBytes, 0, ValueBytes.length)
}

private[xml] object StructPlan {
  private val ValueBytes = "_Value".getBytes(UTF_8)

  final val KString = 0
  final val KInt = 1
  final val KLong = 2
  final val KFloat = 3
  final val KDouble = 4
  final val KBoolean = 5
  final val KDecimal = 6
  final val KBinary = 7
  final val KList = 8
  final val KOther = 9

  def kindOf(dt: DataType): Int = dt match {
    case StringType => KString
    case IntegerType => KInt
    case LongType => KLong
    case FloatType => KFloat
    case DoubleType => KDouble
    case BooleanType => KBoolean
    case _: DecimalType => KDecimal
    case BinaryType => KBinary
    case _: ArrayType => KList
    case _ => KOther
  }

  private def hash(b: Array[Byte], off: Int, len: Int): Int = {
    var h = len
    var i = off
    while (i < off + len) { h = h * 31 + b(i); i += 1 }
    h ^ (h >>> 15)
  }

  def isSpace(c: Byte): Boolean = c >= 0 && c <= 0x20

  /** Only whitespace (String.trim's notion: chars <= U+0020). */
  def isBlank(b: Array[Byte], off: Int, len: Int): Boolean = {
    var i = off
    while (i < off + len) { if (!isSpace(b(i))) return false; i += 1 }
    true
  }

  def str(b: Array[Byte], s: Int, e: Int): String = new String(b, s, e - s, UTF_8)

  /** Bytes of one value's slot in an array of `dt` (a row slot is always
    * 8): Spark's `UnsafeArrayWriter` element size, or an 8-byte offset and
    * size for variable-length values.
    */
  def slotWidth(dt: DataType): Int = dt match {
    case IntegerType | FloatType => 4
    case BooleanType => 1
    case _ => 8
  }

  private val Pow10 = Array.tabulate(16)(i => math.pow(10, i))

  /** `[+-]?[0-9]+(.[0-9]+)?` with at most 15 digits, as a Double; NaN for
    * anything else (the caller falls back to the JDK parser). Exact: the
    * digits and the power of ten are both exact doubles, and one IEEE
    * division rounds correctly (the fast path of every correct parser).
    */
  def decimal(b: Array[Byte], s: Int, e: Int): Double = {
    var i = s
    val neg = i < e && b(i) == '-'
    if (i < e && (b(i) == '-' || b(i) == '+')) i += 1
    var m = 0L
    var nd = 0 // digits
    var frac = -1 // digits after the point, once seen
    while (i < e) {
      val c = b(i)
      if (c == '.' && frac < 0 && nd > 0) frac = 0
      else {
        val d = c - '0'
        if (d < 0 || d > 9) return Double.NaN
        m = m * 10 + d
        nd += 1
        if (frac >= 0) frac += 1
      }
      i += 1
    }
    if (nd == 0 || nd > 15 || frac == 0) return Double.NaN
    val v = if (frac > 0) m / Pow10(frac) else m.toDouble
    if (neg) -v else v
  }

  /** `[+-]?[0-9]{1,maxDigits}` as a Long; Long.MinValue when the text is
    * anything else, so the caller falls back to the JDK parser (and its
    * exact error message).
    */
  def digits(b: Array[Byte], s: Int, e: Int, maxDigits: Int): Long = {
    var i = s
    val neg = i < e && b(i) == '-'
    if (i < e && (b(i) == '-' || b(i) == '+')) i += 1
    if (i == e || e - i > maxDigits) return Long.MinValue
    var v = 0L
    while (i < e) {
      val d = b(i) - '0'
      if (d < 0 || d > 9) return Long.MinValue
      v = v * 10 + d
      i += 1
    }
    if (neg) -v else v
  }
}
