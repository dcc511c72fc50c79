package graft.functions

import java.util.Locale
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Native Catalyst expressions for the dedup hot path (SURVEY.md §4.2: the
  * "optional Expression for performance — k-perm hashing in one pass" row).
  *
  * The higher-order-function formulation (`transform(sequence(1,k), p ->
  * array_min(transform(sh, h -> hash(h, p))))`) evaluates one interpreted
  * lambda per (element × permutation) — measured ~21 ms/row at 52 shingles ×
  * 16 perms. These expressions do the same work in a single compiled JVM loop
  * per row (~µs): ~1000× less per-row overhead, which at 100 TB is the
  * difference between one pass and an unrunnable job.
  *
  * Every near-dup hash (shingle sets, MinHash, SimHash, fingerprints) is
  * the 60-bit md5 bridge ([[Md5Hash60]]): stable across runs, JVMs and
  * cluster sizes, and reproducible bit-for-bit by the DuckDB oracle. The one
  * Spark-private hash left is [[ContentChunks]]' byte-level chunk key (an
  * xxhash64 digest), which has no exact md5 twin. Used by
  * [[graft.pipeline.Dedup]].
  */
object TextHashes {
  // Spark 4 Column↔Expression bridge (the Column ctor no longer takes exprs).
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  /** Distinct n-word shingle strings of whitespace-normalized, lowercased
    * text — the one-pass fusion of normText → split → slice/concat →
    * distinct. [[md5Hash60Array]] of it is the hashed shingle set every
    * near-dup path verifies Jaccard on.
    */
  def shingleStrings(c: Column, n: Int = 3): Column =
    column(ShingleStrings(expression(c), n))

  /** POSITIONAL md5 15-hex-char hashes of every n-word gram of normalized
    * text, in start order and NOT distinct — `posexplode` recovers (start,
    * hash). Where [[shingleStrings]] feeds set-semantics ops (MinHash),
    * this feeds span REMOVAL, which must know every occurrence's position.
    * Cross-engine twin of the oracle's
    * `substr(md5(array_to_string(list_slice(toks, p, p+n-1), ' ')), 1, 15)`.
    */
  def spanMd5Hashes(c: Column, n: Int = 8): Column =
    column(SpanMd5Hashes(expression(c), n))

  /** 60-bit SimHash over md5 word hashes of normalized text: bit i is set
    * iff the majority of word hashes have bit i set. md5 exists in every
    * engine, so the DuckDB oracle reproduces it bit-for-bit; 60 bits because
    * 15 hex chars parse into a positive signed long everywhere.
    */
  def simHashMd5(c: Column): Column = column(SimHashMd5(expression(c)))

  /** k-perm MinHash signature over the 60-bit md5 hashes of the shingles,
    * permuted by XOR with md5-derived constants ([[Md5Hash60]]):
    * sig(p) = min over the set of the permuted hash. Input is the STRING
    * shingle array; 60-bit hashes as in [[simHashMd5]].
    */
  def minHashSigMd5(c: Column, k: Int = 8): Column =
    column(MinHashSigMd5(expression(c), k))

  /** [[minHashSigMd5]] from the shingles' 60-bit hashes (the
    * [[md5Hash60Array]] of the same shingle array) instead of the strings:
    * bit-identical output with no second digest per shingle, for callers
    * that keep the hashed set anyway (the LSH verify needs it).
    */
  def minHashSigMd5Hashed(hv: Column, k: Int = 8): Column =
    column(MinHashSigMd5Hashed(expression(hv), k))

  /** Jaccard similarity of two distinct-long-element arrays in one pass
    * (sort + merge count) — replaces array_intersect + array_union, which
    * each build a hash set per row.
    */
  def jaccardLong(a: Column, b: Column): Column =
    column(JaccardLong(expression(a), expression(b)))

  /** All per-document text statistics in ONE pass over the text: token
    * count, punctuation count (original text), stopword hits, total word
    * chars, distinct unigram and bigram counts. The HOF formulation
    * (split + filter + aggregate + array_distinct + transform) traverses
    * the text 4–6 times with one interpreted lambda per token each —
    * this is the fused replacement, arithmetic identical to the split-based
    * definitions the DuckDB oracle evaluates.
    */
  def textStatsOne(c: Column, stop: Seq[String]): Column =
    column(TextStatsOne(expression(c), stop))

  /** Content-defined chunk hashes of text: a Rabin-Karp rolling hash over a
    * sliding byte window places chunk boundaries where `hash & mask == 0`
    * (expected chunk length 2^avgBits), and each chunk is fingerprinted with
    * XXH64. Unlike fixed-width slicing, inserting a prefix shifts only the
    * chunk containing the edit — the rest of the fingerprints survive, which
    * is what makes chunk-level dedup robust to shifted content.
    */
  def contentChunks(c: Column, avgBits: Int = 6): Column =
    column(ContentChunks(expression(c), avgBits))

  /** Word-level content-defined chunk keys — the cross-engine twin of
    * [[contentChunks]]: a boundary closes the chunk after token i whenever
    * the 60-bit md5 hash of the 2-token window (toks(i-1), toks(i)) is
    * ≡ 0 mod 2^avgBits (expected chunk ≈ 2^avgBits tokens), and each chunk
    * is keyed by the first 15 hex chars of the md5 of its space-joined
    * tokens. Same shift-robustness as the byte-level rolling hash (a
    * boundary depends only on its local window, so an edit re-keys only
    * the chunk containing it), but every ingredient — whitespace split,
    * md5, mod — is reproducible in DuckDB, which makes this variant
    * oracle hash-checkable where the byte-level chunk keys are not.
    */
  def wordChunksMd5(c: Column, avgBits: Int = 3): Column =
    column(WordChunksMd5(expression(c), avgBits))

  /** Element-wise 60-bit md5 hash of a string array (first 15 hex chars as
    * a positive long — the engine-portable bridge). Native one-pass loop;
    * the HOF spelling (`transform` + builtin md5/conv/substring) pays the
    * interpreted-lambda dispatch per element.
    */
  def md5Hash60Array(c: Column): Column = column(Md5Hash60Array(expression(c)))
}

case class ShingleStrings(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"shingle width must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_strings"

  @transient private lazy val scan = new WordScan

  // One byte pass on the scanner [[ShingleHash60]] digests from, so the
  // strings and their hashes cannot drift apart.
  override def nullSafeEval(input: Any): Any = {
    val d = scan.shingles(input.asInstanceOf[UTF8String], n)
    val out = new Array[Any](d)
    var x = 0
    while (x < d) {
      val i = scan.firsts(x)
      out(x) = UTF8String.fromBytes(scan.buf, scan.starts(i), scan.ends(i + n - 1) - scan.starts(i))
      x += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): ShingleStrings =
    copy(child = c)
}

/** md5 hex-15 hash of the n-word gram starting at each position (0-based,
  * in order, one per start — no distinct): the positional gram index for
  * span removal. Same normalization as [[ShingleStrings]]; texts shorter
  * than n words yield an empty array.
  */
case class SpanMd5Hashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"span width must be >= 1, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "span_md5_hashes"

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
      .toLowerCase(Locale.ROOT).trim
    val words = text.split("\\s+")
    if (words.length < n) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](words.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= words.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j)); j += 1
      }
      md.reset()
      val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hx = new java.lang.StringBuilder(16)
      var b = 0
      while (b < 8) {
        hx.append(Character.forDigit((d(b) >> 4) & 0xf, 16))
        hx.append(Character.forDigit(d(b) & 0xf, 16))
        b += 1
      }
      out(i) = UTF8String.fromString(hx.substring(0, 15))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): SpanMd5Hashes =
    copy(child = c)
}

case class JaccardLong(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_long"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData].toLongArray()
    val b = r.asInstanceOf[ArrayData].toLongArray()
    if (a.length == 0 && b.length == 0) return java.lang.Double.valueOf(0.0)
    java.util.Arrays.sort(a); java.util.Arrays.sort(b)
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    java.lang.Double.valueOf(inter.toDouble / union.toDouble)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): JaccardLong = copy(left = newLeft, right = newRight)
}

case class SimHashMd5(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_md5"

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
      .toLowerCase(Locale.ROOT).trim
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](60)
    val words = text.split("\\s+")
    var i = 0
    while (i < words.length) {
      val h = Md5Hash60(md, words(i))
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(c: Expression): SimHashMd5 =
    copy(child = c)
}

/** The 60-bit md5 bridge and the md5 MinHash built on it, in ONE place.
  * `hash60(s)` is the first 15 hex chars of md5(s) as a positive long —
  * the value DuckDB gets from `('0x' || substr(md5(s), 1, 15))::BIGINT`.
  * The md5 MinHash permutes that 60-bit space by XOR with one md5-derived
  * constant per permutation, c_p = hash60("perm|p"): a bijection, exact in
  * both engines (no overflow, stays positive), so sig(p) = min_j(hv_j ^ c_p)
  * needs one digest per shingle, not k.
  */
private[graft] object Md5Hash60 {
  def apply(md: java.security.MessageDigest, s: String): Long =
    ofBytes(md, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def ofBytes(md: java.security.MessageDigest, b: Array[Byte]): Long = {
    md.reset()
    val d = md.digest(b)
    var h = 0L
    var j = 0
    while (j < 8) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
    h >>> 4 // first 15 hex chars, always positive
  }

  /** Element-wise hash of a string array, digesting each element's UTF-8
    * bytes as stored (no String round trip). SQL-exposed callers may pass a
    * null ELEMENT, which must not NPE the task: it hashes as the empty
    * string (internal callers never produce null elements). `md` is the
    * caller's per-instance digest.
    */
  def ofArray(md: java.security.MessageDigest, arr: ArrayData): Array[Long] = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      out(i) = ofBytes(md, if (s == null) Array.emptyByteArray else s.getBytes)
      i += 1
    }
    out
  }

  /** c_1..c_k; callers compute them once per expression instance. */
  def permConsts(k: Int): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(k)(p => apply(md, "perm|" + (p + 1)))
  }

  /** sig(p) = min_j(hs_j ^ c_p); an empty set gives Long.MaxValue rows. */
  def xorMinSig(hs: Array[Long], consts: Array[Long]): GenericArrayData = {
    val sig = new Array[Long](consts.length)
    var p = 0
    while (p < consts.length) {
      val c = consts(p)
      var m = Long.MaxValue
      var j = 0
      while (j < hs.length) { val v = hs(j) ^ c; if (v < m) m = v; j += 1 }
      sig(p) = m; p += 1
    }
    new GenericArrayData(sig)
  }
}

case class MinHashSigMd5(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, s"signature size must be >= 1, got $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig_md5"

  @transient private lazy val permConsts = Md5Hash60.permConsts(k)
  @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any =
    Md5Hash60.xorMinSig(Md5Hash60.ofArray(md, input.asInstanceOf[ArrayData]),
      permConsts)

  override protected def withNewChildInternal(c: Expression): MinHashSigMd5 =
    copy(child = c)
}

/** [[MinHashSigMd5]] over the already-hashed shingle set (`hv`). */
case class MinHashSigMd5Hashed(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, s"signature size must be >= 1, got $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig_md5_hashed"

  @transient private lazy val permConsts = Md5Hash60.permConsts(k)

  override def nullSafeEval(input: Any): Any =
    Md5Hash60.xorMinSig(input.asInstanceOf[ArrayData].toLongArray(), permConsts)

  override protected def withNewChildInternal(c: Expression): MinHashSigMd5Hashed =
    copy(child = c)
}

case class TextStatsOne(child: Expression, stop: Seq[String])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("punct", IntegerType, nullable = false),
    StructField("stop_hits", IntegerType, nullable = false),
    StructField("word_chars", LongType, nullable = false),
    StructField("distinct_tokens", IntegerType, nullable = false),
    StructField("distinct_bigrams", IntegerType, nullable = false)))
  override def prettyName: String = "text_stats_one"

  @transient private lazy val stopSet = {
    val s = new java.util.HashSet[String](stop.size * 2)
    stop.foreach(s.add); s
  }

  override def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[UTF8String].toString
    // punctuation counted over the ORIGINAL text (oracle: regexp keeps
    // only [.,;:!?] then measures length)
    var punct = 0
    var i = 0
    while (i < raw.length) {
      (raw.charAt(i): @annotation.switch) match {
        case '.' | ',' | ';' | ':' | '!' | '?' => punct += 1
        case _ =>
      }
      i += 1
    }
    // tokens of normalized text: lower → trim → split on whitespace runs
    // (identical token list to split(trim(regexp_replace(lower, '\s+', ' ')), ' '))
    val toks = raw.toLowerCase(Locale.ROOT).trim.split("\\s+")
    var stopHits = 0
    var wordChars = 0L
    val seen = new java.util.HashSet[String](toks.length * 2)
    val seenBi = new java.util.HashSet[String](toks.length * 2)
    var t = 0
    while (t < toks.length) {
      val tok = toks(t)
      wordChars += tok.codePointCount(0, tok.length)
      if (stopSet.contains(tok)) stopHits += 1
      seen.add(tok)
      if (t > 0) seenBi.add(toks(t - 1) + " " + tok)
      t += 1
    }
    new GenericInternalRow(Array[Any](toks.length, punct, stopHits,
      wordChars, seen.size, seenBi.size))
  }

  override protected def withNewChildInternal(c: Expression): TextStatsOne =
    copy(child = c)
}

case class ContentChunks(child: Expression, avgBits: Int)
    extends UnaryExpression with CodegenFallback {
  require(avgBits >= 1 && avgBits <= 20, s"avgBits must be in [1,20], got $avgBits")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "content_chunks"
  import org.apache.spark.sql.catalyst.expressions.XXH64

  private val Window = 16
  private val mask = (1L << avgBits) - 1
  // polynomial rolling hash base and its Window-th power (for removals)
  private val Base = 257L
  private val basePow: Long = {
    var p = 1L; var i = 0
    while (i < Window) { p *= Base; i += 1 }
    p
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val out = new mutable.ArrayBuffer[Long]
    var h = 0L
    var chunkStart = 0
    var i = 0
    while (i < bytes.length) {
      h = h * Base + (bytes(i) & 0xff)
      if (i >= Window) h -= basePow * (bytes(i - Window) & 0xff)
      // boundary: rolling hash hits the mask AND the chunk is non-trivial
      if (i + 1 - chunkStart >= Window && (h & mask) == 0) {
        out += XXH64.hashUnsafeBytes(bytes,
          Platform.BYTE_ARRAY_OFFSET + chunkStart, i + 1 - chunkStart, 42L)
        chunkStart = i + 1
      }
      i += 1
    }
    if (chunkStart < bytes.length) {
      out += XXH64.hashUnsafeBytes(bytes,
        Platform.BYTE_ARRAY_OFFSET + chunkStart, bytes.length - chunkStart, 42L)
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): ContentChunks =
    copy(child = c)
}

case class Md5Hash60Array(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_hash60_array"

  @transient private lazy val md = java.security.MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(Md5Hash60.ofArray(md, input.asInstanceOf[ArrayData]))

  override protected def withNewChildInternal(c: Expression): Md5Hash60Array =
    copy(child = c)
}

case class WordChunksMd5(child: Expression, avgBits: Int)
    extends UnaryExpression with CodegenFallback {
  require(avgBits >= 1 && avgBits <= 20, s"avgBits must be in [1,20], got $avgBits")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_chunks_md5"

  private val mask = (1L << avgBits) - 1

  private def hex15(md: java.security.MessageDigest, s: String): UTF8String = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(16)
    var j = 0
    while (j < 8) {
      sb.append(Character.forDigit((d(j) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(j) & 0xf, 16))
      j += 1
    }
    UTF8String.fromString(sb.substring(0, 15))
  }

  override def nullSafeEval(input: Any): Any = {
    // Same normalization as SimHashMd5 / the oracle's
    // string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '):
    // empty text yields one empty token (and so one md5("") chunk) in both.
    val text = input.asInstanceOf[UTF8String].toString
      .toLowerCase(Locale.ROOT).trim
    val toks = text.split("\\s+")
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new mutable.ArrayBuffer[Any]
    val sb = new java.lang.StringBuilder
    var start = 0
    def close(endExcl: Int): Unit = {
      sb.setLength(0)
      var j = start
      while (j < endExcl) {
        if (j > start) sb.append(' ')
        sb.append(toks(j)); j += 1
      }
      out += hex15(md, sb.toString)
      start = endExcl
    }
    var i = 1
    while (i < toks.length) {
      if ((Md5Hash60(md, toks(i - 1) + " " + toks(i)) & mask) == 0L) close(i + 1)
      i += 1
    }
    if (start < toks.length) close(toks.length)
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): WordChunksMd5 =
    copy(child = c)
}
