package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Round, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Curation's per-document text steps as native expressions over ONE
  * byte-level word scanner ([[WordScan]]): each reads the document's UTF-8
  * bytes once, with no regex, no per-token lambda and no per-shingle
  * `String`.
  *
  * Two normalizations, each byte-identical to the Spark/Java spelling it
  * replaces (pinned by `TextScanSpec`):
  *
  *  - normalized tokens, `split(trim(regexp_replace(lower(c), '\s+', ' ')),
  *    ' ')`: the words are the maximal runs of bytes outside Java's `\s`
  *    (`[ \t\n\x0B\f\r]`), of Spark's `lower(c)` — the builders below put
  *    `Lower` in front, so case mapping stays Spark's own. No word gives the
  *    one empty token `[""]`. Invalid UTF-8 is first decoded and re-encoded
  *    as `regexp_replace` does (each bad byte becomes U+FFFD).
  *  - shingle words, Java `toLowerCase(ROOT).trim.split("\\s+")`: trim drops
  *    every char ≤ U+0020 at both ends, then the same `\s` split. Pure-ASCII
  *    text is lowercased in place; any other text takes the `String` path
  *    for the case mapping and is then scanned as bytes.
  *
  * Both separators are ASCII and UTF-8 never uses an ASCII byte inside a
  * multi-byte char, so a byte split of valid UTF-8 is the char split.
  */
object TextScan {
  // Spark 4 Column↔Expression bridge (the Column ctor no longer takes exprs).
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
  import org.apache.spark.sql.functions.lower

  /** `trim(regexp_replace(lower(c), '\s+', ' '))`. */
  def normText(c: Column): Column = column(NormText(expression(lower(c))))

  /** Stopword-hit argmax over the normalized tokens of `c`: the code whose
    * list holds most tokens (duplicates counted), ties to the greatest
    * code — `array_max(array(struct(hits, code)...)).code`.
    */
  def langId(c: Column, lists: Seq[(String, Seq[String])]): Column =
    column(LangId(expression(lower(c)), lists))

  /** `size(toks) >= minTokens && round(size(array_distinct(toks)) /
    * size(toks), 6) >= minUniqRatio` over the normalized tokens of `c`.
    */
  def qualityGate(c: Column, minTokens: Int, minUniqRatio: Double): Column =
    column(QualityGate(expression(lower(c)), minTokens, minUniqRatio))

  /** `md5_hash60_array(shingle_strings(c, n))`, digesting each distinct
    * shingle straight from the scanned bytes.
    */
  def shingleHashes(c: Column, n: Int = 3): Column =
    column(ShingleHash60(expression(c), n))

  /** Number of shingle words of `c`: `shingle_strings(c, n)` is empty
    * exactly when this is below `n`.
    */
  def wordCount(c: Column): Column = column(ShingleWordCount(expression(c)))

  /** Strict UTF-8 well-formedness (Unicode Table 3-7: no overlongs, no
    * surrogates, nothing past U+10FFFF) — exactly the inputs Java's decoder
    * round-trips unchanged.
    */
  private[functions] def validUtf8(b: Array[Byte], len: Int): Boolean = {
    var i = 0
    while (i < len) {
      val c = b(i) & 0xff
      if (c < 0x80) i += 1
      else {
        // continuation count and the second byte's range per lead byte
        var more = 1; var lo = 0x80; var hi = 0xbf
        if (c >= 0xc2 && c <= 0xdf) more = 1
        else if (c >= 0xe0 && c <= 0xef) {
          more = 2
          if (c == 0xe0) lo = 0xa0 else if (c == 0xed) hi = 0x9f
        } else if (c >= 0xf0 && c <= 0xf4) {
          more = 3
          if (c == 0xf0) lo = 0x90 else if (c == 0xf4) hi = 0x8f
        } else return false
        if (i + more >= len) return false
        val c1 = b(i + 1) & 0xff
        if (c1 < lo || c1 > hi) return false
        var k = 2
        while (k <= more) {
          val ck = b(i + k) & 0xff
          if (ck < 0x80 || ck > 0xbf) return false
          k += 1
        }
        i += more + 1
      }
    }
    true
  }
}

/** The byte-level word scanner every [[TextScan]] expression runs on. One
  * instance per expression instance (per task); `load*` copies one
  * document's bytes into a reused buffer and splits it into words
  * `[starts(i), ends(i))` with a hash per word, so no step allocates per
  * word. Not thread-safe.
  */
private[graft] final class WordScan {
  var buf: Array[Byte] = new Array[Byte](1024)
  var len = 0
  var words = 0
  var starts: Array[Int] = new Array[Int](128)
  var ends: Array[Int] = new Array[Int](128)
  var hashes: Array[Int] = new Array[Int](128)
  /** The scanned range is already normalized: no leading or trailing
    * separator, every gap one ' '.
    */
  var normalized = false
  /** The loaded bytes are the input's own (no decode/re-encode). */
  var verbatim = false

  private var table: Array[Int] = new Array[Int](256)
  var firsts: Array[Int] = new Array[Int](128)

  private def fill(s: UTF8String): Unit = {
    len = s.numBytes()
    if (buf.length < len) buf = new Array[Byte](math.max(len, buf.length * 2))
    s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET)
  }

  private def fill(b: Array[Byte]): Unit = {
    len = b.length
    if (buf.length < len) buf = new Array[Byte](math.max(len, buf.length * 2))
    System.arraycopy(b, 0, buf, 0, len)
  }

  /** Normalized-token words of `s` (already passed through Spark's lower). */
  def loadNorm(s: UTF8String): Unit = {
    fill(s)
    verbatim = s.isFullAscii || TextScan.validUtf8(buf, len)
    if (!verbatim) fill(s.toString.getBytes(UTF_8))
    split(0, len)
  }

  /** Shingle words of `s`: lowercased, trimmed of chars ≤ U+0020, split. */
  def loadShingle(s: UTF8String): Unit = {
    if (s.isFullAscii) {
      fill(s)
      var i = 0
      while (i < len) {
        val b = buf(i)
        if (b >= 'A' && b <= 'Z') buf(i) = (b + 32).toByte
        i += 1
      }
    } else fill(s.toString.toLowerCase(Locale.ROOT).getBytes(UTF_8))
    splitTrimmed()
  }

  /** Shingle word count only: case mapping never makes or removes a
    * separator, so valid UTF-8 is counted as it is.
    */
  def loadShingleCount(s: UTF8String): Unit = {
    fill(s)
    if (!s.isFullAscii && !TextScan.validUtf8(buf, len))
      fill(s.toString.getBytes(UTF_8))
    splitTrimmed()
  }

  private def splitTrimmed(): Unit = {
    var from = 0
    var to = len
    while (from < to && (buf(from) & 0xff) <= 0x20) from += 1
    while (to > from && (buf(to - 1) & 0xff) <= 0x20) to -= 1
    split(from, to)
  }

  @inline private def isSep(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  private def grow(): Unit = {
    val n = starts.length * 2
    starts = java.util.Arrays.copyOf(starts, n)
    ends = java.util.Arrays.copyOf(ends, n)
    hashes = java.util.Arrays.copyOf(hashes, n)
  }

  private def split(from: Int, to: Int): Unit = {
    words = 0
    var clean = true
    var i = from
    while (i < to) {
      val b = buf(i)
      if (isSep(b)) {
        if (b != ' ' || i == from || isSep(buf(i - 1)) || i == to - 1) clean = false
        i += 1
      } else {
        if (words == starts.length) grow()
        starts(words) = i
        var h = 0
        while (i < to && !isSep(buf(i))) { h = 31 * h + buf(i); i += 1 }
        ends(words) = i
        hashes(words) = h
        words += 1
      }
    }
    normalized = clean
  }

  /** Rewrites the buffer as the words joined by single spaces (in place:
    * the write position never passes the read position), so `n` words
    * from `i` are the one slice `[starts(i), ends(i + n - 1))`.
    */
  def join(): Unit = if (!normalized) {
    var w = 0
    var i = 0
    while (i < words) {
      if (i > 0) { buf(w) = ' '; w += 1 }
      val l = ends(i) - starts(i)
      System.arraycopy(buf, starts(i), buf, w, l)
      starts(i) = w; ends(i) = w + l
      w += l
      i += 1
    }
    len = w
    normalized = true
  }

  /** Loads `s` as shingle words and finds its distinct n-word shingles;
    * returns how many. The x-th, in first-occurrence order, is the slice
    * `[starts(i), ends(i + n - 1))` of `buf` for `i = firsts(x)`.
    */
  def shingles(s: UTF8String, n: Int): Int = {
    loadShingle(s)
    val count = words - n + 1
    if (count <= 0) 0 else { join(); distinct(count, n) }
  }

  /** First occurrences of the distinct slices `[starts(i), ends(i + span -
    * 1))` for i in `[0, count)`, into `firsts` in order; returns how many.
    * Slices are told apart by their bytes, never by hash alone.
    */
  def distinct(count: Int, span: Int): Int = {
    var size = 16
    while (size < count * 2) size <<= 1
    if (table.length < size) table = new Array[Int](size)
    else java.util.Arrays.fill(table, 0, size, 0)
    if (firsts.length < count) firsts = new Array[Int](math.max(count, firsts.length * 2))
    val mask = size - 1
    var d = 0
    var i = 0
    while (i < count) {
      var h = hashes(i)
      var k = 1
      while (k < span) { h = h * 0x9e3779b1 + hashes(i + k); k += 1 }
      h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13
      val s = starts(i); val e = ends(i + span - 1)
      var slot = h & mask
      var found = false
      while (!found && table(slot) != 0) {
        val j = table(slot) - 1
        if (java.util.Arrays.equals(buf, starts(j), ends(j + span - 1), buf, s, e))
          found = true
        else slot = (slot + 1) & mask
      }
      if (!found) { table(slot) = i + 1; firsts(d) = i; d += 1 }
      i += 1
    }
    d
  }
}

/** A [[TextScan]] native over a non-null text: its work is the typed method
  * `scan(text)`, which generated code calls on the expression object
  * itself (its per-task [[WordScan]] state included). So the operator
  * holding it stays in whole-stage codegen, which any `CodegenFallback`
  * expression would take it out of.
  */
private[graft] trait TextScanCodegen extends UnaryExpression {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj(prettyName, this)
    defineCodeGen(ctx, ev, c => s"$self.scan($c)")
  }
}

/** `trim(regexp_replace(c, '\s+', ' '))` for a lowered `c`; returns `c`
  * itself when it is already normalized.
  */
case class NormText(child: Expression) extends TextScanCodegen {
  override def dataType: DataType = StringType
  override def prettyName: String = "norm_text"

  @transient private lazy val scanner = new WordScan

  override def nullSafeEval(input: Any): Any = scan(input.asInstanceOf[UTF8String])

  def scan(s: UTF8String): UTF8String = {
    val scan = scanner
    scan.loadNorm(s)
    if (scan.normalized && scan.verbatim) s
    else { scan.join(); UTF8String.fromBytes(scan.buf, 0, scan.len) }
  }

  override protected def withNewChildInternal(c: Expression): NormText = copy(child = c)
}

/** Stopword-hit argmax of [[TextScan.langId]] over a lowered `child`. A
  * null text scores null hits everywhere, which the struct max also breaks
  * to the greatest code.
  */
case class LangId(child: Expression, lists: Seq[(String, Seq[String])])
    extends UnaryExpression {
  require(lists.nonEmpty, "langId needs at least one stopword list")
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "lang_id"

  require(lists.size <= 64, "langId supports at most 64 languages")

  private val sorted = lists.sortBy(_._1)
  @transient private lazy val codes = sorted.map(x => UTF8String.fromString(x._1)).toArray
  @transient private lazy val stop = new StopTable(sorted.map(_._2))
  @transient private lazy val scan = new WordScan
  @transient private lazy val hits = new Array[Int](sorted.length)

  private def count(s: Int, e: Int, h: Int): Unit = {
    var m = stop.lists(scan.buf, s, e, h)
    var li = 0
    while (m != 0) { if ((m & 1L) != 0) hits(li) += 1; m >>>= 1; li += 1 }
  }

  override def eval(input: InternalRow): Any =
    classify(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj(prettyName, this)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      UTF8String ${ev.value} = $self.classify(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  /** The predicted code of a lowered text (null: the greatest code). */
  def classify(v: UTF8String): UTF8String = {
    if (v == null) return codes(codes.length - 1)
    java.util.Arrays.fill(hits, 0)
    scan.loadNorm(v)
    if (scan.words == 0) count(0, 0, 0) // the one empty token
    var i = 0
    while (i < scan.words) { count(scan.starts(i), scan.ends(i), scan.hashes(i)); i += 1 }
    var best = 0
    var li = 1
    while (li < hits.length) { if (hits(li) >= hits(best)) best = li; li += 1 }
    codes(best)
  }

  override protected def withNewChildInternal(c: Expression): LangId = copy(child = c)
}

/** Stopword lookup for [[LangId]]: an open-addressing table from a word's
  * bytes (and its [[WordScan]] hash) to the bitmask of lists holding it.
  */
private final class StopTable(lists: Seq[Seq[String]]) {
  private val entries = lists.zipWithIndex
    .flatMap { case (ws, li) => ws.map(_ -> li) }
    .groupBy(_._1).toSeq.map { case (w, ls) =>
      w.getBytes(UTF_8) -> ls.foldLeft(0L)((m, x) => m | (1L << x._2)) }
  private val mask = {
    var size = 16
    while (size < entries.size * 4) size <<= 1
    size - 1
  }
  private val hashes = new Array[Int](mask + 1)
  private val words = new Array[Array[Byte]](mask + 1)
  private val masks = new Array[Long](mask + 1)
  entries.foreach { case (w, m) =>
    var h = 0
    w.foreach(b => h = 31 * h + b)
    var slot = StopTable.mix(h) & mask
    while (words(slot) != null) slot = (slot + 1) & mask
    hashes(slot) = h; words(slot) = w; masks(slot) = m
  }

  /** Bitmask of the lists holding `buf[s, e)`, whose word hash is `h`. */
  def lists(buf: Array[Byte], s: Int, e: Int, h: Int): Long = {
    var slot = StopTable.mix(h) & mask
    while (words(slot) != null) {
      val w = words(slot)
      if (hashes(slot) == h && java.util.Arrays.equals(buf, s, e, w, 0, w.length))
        return masks(slot)
      slot = (slot + 1) & mask
    }
    0L
  }
}

private object StopTable {
  def mix(h0: Int): Int = { var h = h0; h ^= h >>> 16; h *= 0x85ebca6b; h ^ (h >>> 13) }
}

/** The repetition/length gate of [[TextScan.qualityGate]] over a lowered
  * `child`. The ratio is compared raw when it is more than 1e-6 from the
  * threshold (rounding to 6 places moves it by at most 5e-7) and through
  * Spark's own `round(·, 6)` otherwise.
  */
case class QualityGate(child: Expression, minTokens: Int, minUniqRatio: Double)
    extends TextScanCodegen {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "quality_gate"

  @transient private lazy val scanner = new WordScan

  override def nullSafeEval(input: Any): Any = scan(input.asInstanceOf[UTF8String])

  def scan(s: UTF8String): Boolean = {
    val scan = scanner
    scan.loadNorm(s)
    val n = math.max(scan.words, 1)
    if (n < minTokens) return false
    val d = if (scan.words == 0) 1 else scan.distinct(scan.words, 1)
    val ratio = d.toDouble / n.toDouble
    if (math.abs(ratio - minUniqRatio) > 1e-6) ratio >= minUniqRatio
    else Round(Literal(ratio), Literal(6)).eval().asInstanceOf[Double] >= minUniqRatio
  }

  override protected def withNewChildInternal(c: Expression): QualityGate = copy(child = c)
}

/** `md5_hash60_array(shingle_strings(child, n))`: the 60-bit md5 of each
  * distinct n-word shingle, in first-occurrence order, digested from the
  * joined word bytes with one reused `MessageDigest`.
  */
case class ShingleHash60(child: Expression, n: Int) extends TextScanCodegen {
  require(n >= 1, s"shingle width must be >= 1, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash60"

  @transient private lazy val scanner = new WordScan
  @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")
  @transient private lazy val digest = new Array[Byte](16)

  override def nullSafeEval(input: Any): Any = scan(input.asInstanceOf[UTF8String])

  def scan(s: UTF8String): ArrayData = {
    val scan = scanner
    val d = scan.shingles(s, n)
    val out = new Array[Long](d)
    var x = 0
    while (x < d) {
      val i = scan.firsts(x)
      md.update(scan.buf, scan.starts(i), scan.ends(i + n - 1) - scan.starts(i))
      md.digest(digest, 0, 16)
      var h = 0L
      var j = 0
      while (j < 8) { h = (h << 8) | (digest(j) & 0xffL); j += 1 }
      out(x) = h >>> 4 // first 15 hex chars, as Md5Hash60
      x += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(c: Expression): ShingleHash60 =
    copy(child = c)
}

/** Shingle word count of [[TextScan.wordCount]]. */
case class ShingleWordCount(child: Expression) extends TextScanCodegen {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "shingle_word_count"

  @transient private lazy val scanner = new WordScan

  override def nullSafeEval(input: Any): Any = scan(input.asInstanceOf[UTF8String])

  def scan(s: UTF8String): Int = {
    scanner.loadShingleCount(s)
    scanner.words
  }

  override protected def withNewChildInternal(c: Expression): ShingleWordCount =
    copy(child = c)
}
