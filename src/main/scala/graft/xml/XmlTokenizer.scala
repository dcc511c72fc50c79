package graft.xml

import java.io.InputStream
import java.nio.{ByteBuffer, CharBuffer}
import java.nio.charset.{Charset, StandardCharsets}

/** A well-formedness error in the XML input. The stream cannot be read on
  * past it, so it is fatal in every read mode (DROPMALFORMED skips records
  * whose VALUES are bad, not documents that are not XML).
  */
final class XmlParseException(msg: String) extends IllegalStateException(msg)

private[xml] object XmlTokenizer {
  final val Start = 1
  final val End = 2
  final val Eof = 3

  private val XsiNs = "http://www.w3.org/2001/XMLSchema-instance"
  private val XmlNs = "http://www.w3.org/XML/1998/namespace"
  private val XmlnsBytes = "xmlns".getBytes(StandardCharsets.US_ASCII)
  private val XmlBytes = "xml".getBytes(StandardCharsets.US_ASCII)
  private val NilBytes = "nil".getBytes(StandardCharsets.US_ASCII)
  private val CommentEnd = "-->".getBytes(StandardCharsets.US_ASCII)
  private val CdataOpen = "[CDATA[".getBytes(StandardCharsets.US_ASCII)
  private val CdataEnd = "]]>".getBytes(StandardCharsets.US_ASCII)
  private val PiEnd = "?>".getBytes(StandardCharsets.US_ASCII)
  private val DeclEncoding = """encoding\s*=\s*["']([A-Za-z0-9._:-]+)["']""".r

  @inline private def isSpace(c: Int): Boolean =
    c <= ' ' && (c == ' ' || c == '\n' || c == '\t' || c == '\r')

  /** Ends an element name: whitespace, `>` or `/` (one compare for the
    * letters that make up most names).
    */
  @inline private def isNameEnd(c: Int): Boolean =
    c <= '>' && (c == '>' || c == '/' || isSpace(c))

  private[xml] def sameBytes(a: Array[Byte], aOff: Int, aLen: Int,
      b: Array[Byte], bOff: Int, bLen: Int): Boolean = {
    if (aLen != bLen) return false
    var i = 0
    while (i < aLen) {
      if (a(aOff + i) != b(bOff + i)) return false
      i += 1
    }
    true
  }
}

/** Byte-level UTF-8 pull tokenizer: the one XML reader of the scan, shared
  * by the unsplit read, the split read and [[XmlSplitScanner]].
  *
  * It reads `input` in 64 KiB chunks into one buffer and hands out element
  * names, attribute values and character data as slices of that buffer, so
  * a leaf never becomes a `String` on its way to a row.
  * [[next]] yields START, END and EOF; character data (text and CDATA
  * sections) between them is validated and, when the caller asks, decoded
  * into [[text]]. Comments, processing instructions and the DOCTYPE are
  * skipped.
  *
  * Well-formedness is checked as a conforming non-validating parser does:
  * matched end tags, unique attribute names, no `<` in attribute values, no
  * C0 control characters, valid UTF-8, no `]]>` in text, one root element,
  * bound namespace prefixes. Line ends are normalized (CR LF and lone CR
  * become LF) and attribute values are whitespace-normalized. No DTD is
  * processed: the DOCTYPE is skipped whole, and any entity other than the
  * five predefined ones and character references is an error, so nothing
  * a document declares is ever expanded (XXE-safe).
  *
  * Non-UTF-8 input (a UTF-16 byte-order mark or pattern, or a declared
  * encoding that is not UTF-8 or ASCII) is transcoded to UTF-8 in front of
  * the same tokenizer.
  *
  * @param fragment split-read mode: the stream starts at an arbitrary byte
  *   offset of a UTF-8 file. No encoding is sniffed and no document-level
  *   rule applies; the caller positions the tokenizer on each record with
  *   [[findRecordStart]] and reads the record's events until depth 0.
  */
private[xml] final class XmlTokenizer(input: InputStream, fragment: Boolean) {
  import XmlTokenizer._

  private var in: InputStream = input
  /** The read buffer. Slices handed out stay valid until the next call. */
  var buf: Array[Byte] = new Array[Byte](64 * 1024)
  private var pos = 0 // next unread byte
  private var lim = 0 // end of the valid bytes
  private var ts = 0 // start of the token being read: fill() keeps buf from here on
  private var hold = -1 // when >= 0, fill() keeps buf from here on too (a record copy)
  private var base = 0L // stream offset of buf(0)
  private var eof = false

  /** Decoded character data appended by `next(collect = true)`; only the
    * caller clears it.
    */
  val text = new ByteBuilder(256)
  private val value = new ByteBuilder(64) // decoded attribute value

  /** Element depth: 1 inside the root (or, in fragment mode, the record). */
  var depth = 0
  private var sawRoot = false
  private var declAt = 0L // where an XML declaration may stand (after a BOM)

  // The current START tag. Offsets are relative to tagAt (the tag's '<'),
  // so they survive a buffer compaction while the tag is being read; the
  // qualified name spans [1, nameE), its local part [localS, nameE).
  private var tagAt = 0
  private var nameE = 0
  private var localS = 0
  private var pendingEnd = false // a self-closing START owes its END
  /** Attributes of the current START tag. */
  var attrCount = 0
  private var aNameS = new Array[Int](8)
  private var aNameE = new Array[Int](8)
  private var aLocalS = new Array[Int](8)
  private var aValS = new Array[Int](8)
  private var aValE = new Array[Int](8)
  private var aRaw = new Array[Boolean](8) // value needs no decoding

  // Open elements' qualified names (for end-tag matching), stacked.
  private var names = new Array[Byte](256)
  private var nameOff = new Array[Int](32) // nameOff(d): start of depth d's name
  private var namesTop = 0
  // In-scope namespace bindings; an empty prefix is the default namespace.
  private var nsPrefix = new Array[Array[Byte]](8)
  private var nsUri = new Array[String](8)
  private var nsCount = 0
  private var nsMark = new Array[Int](32) // nsMark(d): bindings below depth d

  if (!fragment) sniffEncoding()

  def close(): Unit = in.close()

  // ---------------------------------------------------------------- buffer

  /** Reads more input, keeping `buf` from `ts` on (compacted to 0). Local
    * positions must be reloaded from `pos`/`ts` afterwards. False at EOF.
    */
  private def fill(): Boolean = {
    if (eof) return false
    val keep = if (hold >= 0) math.min(hold, ts) else ts
    if (keep > 0) {
      System.arraycopy(buf, keep, buf, 0, lim - keep)
      base += keep; pos -= keep; lim -= keep; ts -= keep
      if (hold >= 0) hold -= keep
    }
    if (lim == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
    var n = 0
    while (n == 0) n = in.read(buf, lim, buf.length - lim)
    if (n < 0) { eof = true; false } else { lim += n; true }
  }

  /** Makes `n` bytes from `pos` available if the input has them. */
  private def ensure(n: Int): Boolean = {
    while (lim - pos < n && fill()) {}
    lim - pos >= n
  }

  /** `more(p)`: fill while reading a token; returns the reloaded position. */
  private def more(p: Int, where: String): Int = {
    pos = p
    if (!fill()) fail(s"Unexpected EOF $where")
    pos
  }

  private def fail(msg: String): Nothing = throw new XmlParseException(msg)

  private def charDesc(c: Int): String =
    if (c >= 0x20 && c < 0x7f) s"'${c.toChar}' (code $c)"
    else f"(code 0x${c & 0xff}%x)"

  // ------------------------------------------------------------- encoding

  /** Detects a byte-order mark or a declared encoding; transcodes anything
    * that is not UTF-8 (or its ASCII subset) to UTF-8.
    */
  private def sniffEncoding(): Unit = {
    ensure(4)
    def at(i: Int): Int = if (i < lim) buf(i) & 0xff else -1
    if (at(0) == 0xEF && at(1) == 0xBB && at(2) == 0xBF) { pos = 3; declAt = 3 }
    else if ((at(0) == 0xFE && at(1) == 0xFF) || (at(0) == 0xFF && at(1) == 0xFE))
      transcode(StandardCharsets.UTF_16) // the decoder reads and drops the BOM
    else if (at(0) == 0 && at(1) == '<' && at(2) == 0 && at(3) == '?')
      transcode(StandardCharsets.UTF_16BE)
    else if (at(0) == '<' && at(1) == 0 && at(2) == '?' && at(3) == 0)
      transcode(StandardCharsets.UTF_16LE)
    else if (at(0) == '<' && at(1) == '?') {
      var end = -1
      while (end < 0) {
        var i = 2
        while (i + 1 < lim && !(buf(i) == '?' && buf(i + 1) == '>')) i += 1
        if (i + 1 < lim) end = i
        else if (lim >= 4096 || !fill()) end = lim
      }
      val decl = new String(buf, 0, end, StandardCharsets.ISO_8859_1)
      if (decl.startsWith("<?xml") && decl.length > 5 && isSpace(decl.charAt(5))) {
        DeclEncoding.findFirstMatchIn(decl).map(_.group(1)).foreach { enc =>
          val e = enc.toUpperCase(java.util.Locale.ROOT)
          // A 16/32-bit name in a stream that starts with 8-bit "<?" is
          // contradicted by the bytes, which win (as in encoding detection).
          val wide = e.startsWith("UTF-16") || e.startsWith("UTF-32") ||
            e.startsWith("UTF16") || e.startsWith("UTF32") || e.startsWith("UCS")
          if (!wide && e != "UTF-8" && e != "UTF8" && e != "US-ASCII" && e != "ASCII") {
            val cs = try Charset.forName(enc) catch {
              case _: IllegalArgumentException => fail(s"Unsupported encoding '$enc'")
            }
            transcode(cs)
          }
        }
      }
    }
  }

  private def transcode(cs: Charset): Unit = {
    in = new Utf8Transcoder(java.util.Arrays.copyOf(buf, lim), in, cs)
    pos = 0; lim = 0; ts = 0; eof = false; declAt = 0
  }

  // --------------------------------------------------------------- events

  /** Advances to the next START, END or EOF. Character data on the way is
    * validated, and appended to [[text]] when `collect` is set.
    */
  def next(collect: Boolean): Int = {
    if (pendingEnd) { pendingEnd = false; popElement(); return End }
    while (true) {
      if (depth == 0 && !fragment) skipMisc() else scanChars(collect, cdata = false)
      if (pos >= lim) return atEof()
      ts = pos
      if (lim - pos < 2 && !ensure(2)) fail("Unexpected EOF after '<'")
      val c = buf(pos + 1)
      if (c == '/') { readEndTag(); return End }
      else if (c == '!') readBang(collect)
      else if (c == '?') readPi()
      else { readStartTag(); return Start }
    }
    Eof
  }

  private def atEof(): Int = {
    if (depth > 0) fail("Unexpected EOF; was expecting a close tag for element <" +
      new String(names, nameOff(depth), namesTop - nameOff(depth), StandardCharsets.UTF_8) + ">")
    if (!fragment && !sawRoot) fail("Unexpected EOF in prolog")
    Eof
  }

  /** Skips the rest of the current element (its START already read). */
  def skipElement(): Unit = {
    val d = depth
    while (depth >= d) next(collect = false)
  }

  /** Appends a leaf element's character data to [[text]] through its END,
    * skipping child elements (mixed content).
    */
  def readLeaf(): Unit = {
    var ev = next(collect = true)
    while (ev != End) {
      skipElement()
      ev = next(collect = true)
    }
  }

  /** Prolog / epilog: only whitespace may stand between markup. */
  private def skipMisc(): Unit = {
    var p = pos
    while (true) {
      while (p < lim && isSpace(buf(p))) p += 1
      if (p < lim) {
        if (buf(p) != '<') fail(s"Unexpected character ${charDesc(buf(p))} in " +
          (if (sawRoot) "epilog" else "prolog") + "; expected '<'")
        pos = p
        return
      }
      ts = p; pos = p
      if (!fill()) return
      p = pos
    }
  }

  /** Character data up to the next `<` (text) or through `]]>` (a CDATA
    * section, `cdata`), validated; appended to [[text]] when `collect`.
    */
  private def scanChars(collect: Boolean, cdata: Boolean): Unit = {
    var p = pos
    var run = p // start of the not yet appended plain run
    while (true) {
      val b = buf
      val l = lim
      var c = 0
      if (cdata) while (p < l && { c = b(p); c >= 0x20 && c != ']' }) p += 1
      else while (p < l && { c = b(p); c >= 0x20 && c != '<' && c != '&' && c != ']' }) p += 1
      if (p >= l) {
        if (collect && p > run) text.append(b, run, p - run)
        ts = p; pos = p
        if (!fill()) {
          if (cdata) fail("Unexpected EOF in CDATA section")
          return
        }
        p = pos; run = p
      } else if (c == '\n' || c == '\t') p += 1
      else if (c == '<') {
        if (collect && p > run) text.append(b, run, p - run)
        pos = p
        return
      } else if (c == ']') {
        ts = run; pos = p; ensure(3); p = pos; run = ts
        if (lim - p >= 3 && buf(p + 1) == ']' && buf(p + 2) == '>') {
          if (!cdata) fail("String ']]>' not allowed in textual content, " +
            "except as the end marker of CDATA section")
          if (collect && p > run) text.append(buf, run, p - run)
          pos = p + 3
          return
        }
        p += 1
      } else if (c == '&') {
        if (collect && p > run) text.append(b, run, p - run)
        ts = p; pos = p
        readReference(if (collect) text else null)
        p = pos; run = p
      } else if (c == '\r') { // CR LF and lone CR both become LF
        if (collect) { text.append(b, run, p - run); text.append('\n') }
        ts = p; pos = p + 1
        if (ensure(1) && buf(pos) == '\n') pos += 1
        p = pos; run = p
      } else if (c < 0) {
        // the 2-byte sequences and the 3-byte ones that need no range check
        // (leads E1-EC, EE) are validated inline: most non-ASCII text
        val c0 = c & 0xff
        if (p + 2 < l && c0 >= 0xC2 && c0 <= 0xDF && (b(p + 1) & 0xC0) == 0x80) p += 2
        else if (p + 3 < l && ((c0 >= 0xE1 && c0 <= 0xEC) || c0 == 0xEE) &&
            (b(p + 1) & 0xC0) == 0x80 && (b(p + 2) & 0xC0) == 0x80) p += 3
        else { ts = run; pos = p; checkUtf8(); p = pos; run = ts }
      } else fail(s"Illegal character ((CTRL-CHAR, code $c))")
    }
  }

  /** At `&` (pos): decodes one entity or character reference into `out`
    * (validation only when null) and leaves pos after its `;`.
    */
  private def readReference(out: ByteBuilder): Unit = {
    var semi = -1
    while (semi < 0) {
      var i = pos + 1
      while (i < lim && i - pos <= 32 && buf(i) != ';') {
        val c = buf(i)
        if (isSpace(c) || c == '<' || c == '&' || c == '"' || c == '\'')
          fail(s"Unexpected character ${charDesc(c)} in an entity reference (missing name or ';'?)")
        i += 1
      }
      if (i < lim && buf(i) == ';') semi = i
      else if (i - pos > 32 || !fill()) {
        val tail = new String(buf, pos, math.min(lim - pos, 33), StandardCharsets.UTF_8)
        fail(s"Unterminated entity reference: $tail")
      }
    }
    decodeReference(buf, pos, semi, out)
    pos = semi + 1
  }

  /** The reference `b[amp..semi]` (`&…;`): the five predefined entities and
    * character references decode; anything else is an undeclared entity.
    */
  private def decodeReference(b: Array[Byte], amp: Int, semi: Int, out: ByteBuilder): Unit = {
    val n = semi - amp - 1
    if (n <= 0) fail("Unexpected character ';' (code 59) (missing name?)")
    def is(s: String): Boolean = n == s.length && {
      var i = 0
      while (i < n && b(amp + 1 + i) == s.charAt(i)) i += 1
      i == n
    }
    val ch: Int =
      if (b(amp + 1) == '#') {
        val hex = n > 1 && b(amp + 2) == 'x'
        var i = amp + (if (hex) 3 else 2)
        if (i == semi) fail("Illegal character entity: no digits")
        var v = 0L
        while (i < semi) {
          val d = Character.digit(b(i), if (hex) 16 else 10)
          if (d < 0) fail(s"Illegal character entity: unexpected ${charDesc(b(i))}")
          v = v * (if (hex) 16 else 10) + d
          if (v > 0x10FFFF) fail("Illegal character entity: value higher than max allowed (0x10ffff)")
          i += 1
        }
        val cp = v.toInt
        if (!(cp == 0x9 || cp == 0xA || cp == 0xD || (cp >= 0x20 && cp <= 0xD7FF) ||
            (cp >= 0xE000 && cp <= 0xFFFD) || cp >= 0x10000))
          fail(f"Illegal character entity: expansion character (code 0x$cp%x)")
        cp
      } else if (is("lt")) '<'
      else if (is("gt")) '>'
      else if (is("amp")) '&'
      else if (is("quot")) '"'
      else if (is("apos")) '\''
      else fail("Undeclared general entity \"" +
        new String(b, amp + 1, n, StandardCharsets.UTF_8) + "\"")
    if (out != null) out.appendCodePoint(ch)
  }

  /** At a byte >= 0x80 (pos): validates one UTF-8 sequence, pos after it. */
  private def checkUtf8(): Unit = {
    val c = buf(pos) & 0xff
    val n = if (c >= 0xC2 && c <= 0xDF) 2 else if (c >= 0xE0 && c <= 0xEF) 3
      else if (c >= 0xF0 && c <= 0xF4) 4 else 0
    if (n == 0) fail(f"Invalid UTF-8 start byte 0x$c%x")
    if (!ensure(n)) fail("Unexpected EOF in a UTF-8 sequence")
    var cp = c & (0x7F >> n)
    var i = 1
    while (i < n) {
      val d = buf(pos + i) & 0xff
      if ((d & 0xC0) != 0x80) fail(f"Invalid UTF-8 middle byte 0x$d%x")
      cp = (cp << 6) | (d & 0x3F)
      i += 1
    }
    if ((n == 3 && cp < 0x800) || (n == 4 && (cp < 0x10000 || cp > 0x10FFFF)))
      fail("Invalid UTF-8: overlong or out-of-range sequence")
    if ((cp >= 0xD800 && cp <= 0xDFFF) || cp == 0xFFFE || cp == 0xFFFF)
      fail(f"Invalid UTF-8 character 0x$cp%x")
    pos += n
  }

  /** At `<!` (pos == ts): a comment, a CDATA section or the DOCTYPE. */
  private def readBang(collect: Boolean): Unit = {
    ensure(9)
    if (lim - pos >= 4 && buf(pos + 2) == '-' && buf(pos + 3) == '-') {
      pos += 4
      skipPast(CommentEnd, "in a comment")
    } else if (lim - pos >= 9 && sameBytes(buf, pos + 2, 7, CdataOpen, 0, 7)) {
      if (depth == 0) fail("CDATA section outside the root element")
      pos += 9
      scanChars(collect, cdata = true)
    } else if (depth == 0 && !sawRoot && !fragment && lim - pos >= 9 &&
        new String(buf, pos + 2, 7, StandardCharsets.ISO_8859_1) == "DOCTYPE") {
      skipDeclaration()
    } else fail("Unexpected <! construct (only comments, CDATA and a prolog DOCTYPE allowed)")
  }

  /** Skips a `<!` declaration (the DOCTYPE) whole: quoted literals and
    * the internal subset (declarations, comments) are passed over, never
    * interpreted.
    */
  private def skipDeclaration(): Unit = {
    var p = pos + 2
    var brackets = 0
    var quote = 0
    while (true) {
      if (p >= lim) p = more(p, "in a <!...> declaration")
      val c = buf(p)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') quote = c
      else if (c == '[') brackets += 1
      else if (c == ']') brackets -= 1
      else if (c == '>' && brackets == 0) { pos = p + 1; return }
      else if (c == '<' && brackets > 0) { // a comment inside the subset may hold quotes
        pos = p
        if (ensure(4) && buf(pos + 1) == '!' && buf(pos + 2) == '-' && buf(pos + 3) == '-') {
          pos += 4
          skipPast(CommentEnd, "in a comment")
          p = pos - 1
        } else p = pos
      }
      p += 1
    }
  }

  /** At `<?` (pos == ts): a processing instruction. `<?xml` is the XML
    * declaration, legal only at the very start of the document.
    */
  private def readPi(): Unit = {
    ensure(6)
    val isXml = lim - pos >= 6 && {
      val t = new String(buf, pos + 2, 3, StandardCharsets.ISO_8859_1)
      t.equalsIgnoreCase("xml") && (isSpace(buf(pos + 5)) || buf(pos + 5) == '?')
    }
    if (isXml && (fragment || base + pos != declAt))
      fail("Illegal processing instruction target (\"xml\"); xml (case insensitive) " +
        "is reserved by the specs.")
    pos += 2
    skipPast(PiEnd, "in a processing instruction")
  }

  /** Moves pos past the next occurrence of `term`. */
  private def skipPast(term: Array[Byte], where: String): Unit = {
    val t0 = term(0)
    var p = pos
    while (true) {
      while (p < lim && buf(p) != t0) p += 1
      if (p < lim) {
        ts = p; pos = p
        if (!ensure(term.length)) fail(s"Unexpected EOF $where")
        p = pos
        if (sameBytes(buf, p, term.length, term, 0, term.length)) {
          pos = p + term.length
          return
        }
        p += 1
      } else {
        ts = p; pos = p
        if (!fill()) fail(s"Unexpected EOF $where")
        p = pos
      }
    }
  }

  // ----------------------------------------------------------------- tags

  /** At `<` + name (pos == ts): one start tag with its attributes. */
  private def readStartTag(): Unit = {
    if (depth == 0 && !fragment) {
      if (sawRoot) fail("Illegal to have multiple roots (start tag in epilog?).")
      sawRoot = true
    }
    var p = pos + 1
    var colon = -1 // offsets from here on are relative to ts: fills move the tag
    var c = 0
    while ({ if (p >= lim) p = more(p, "in a start tag"); c = buf(p); !isNameEnd(c) }) {
      if (c == ':') colon = p - ts
      else if (c <= '>' && (c == '<' || c == '=' || c == '"' || c == '\'' || c == '&' || c >= 0 && c < 0x20))
        fail(s"Unexpected character ${charDesc(c)} in a start tag")
      p += 1
    }
    if (p == ts + 1) fail(s"Unexpected character ${charDesc(c)} (missing name?)")
    nameE = p - ts
    localS = if (colon >= 0) colon + 1 else 1
    var nsWork = colon >= 0 || buf(ts + 1) == 'x' // a prefix, or maybe xmlns
    attrCount = 0
    while (true) {
      var spaced = false
      while ({ if (p >= lim) p = more(p, "in a start tag"); isSpace(buf(p)) }) { p += 1; spaced = true }
      c = buf(p)
      if (c == '>') {
        pos = p + 1
        finishStartTag(nsWork)
        return
      }
      if (c == '/') {
        if (p + 1 >= lim) p = more(p, "in a start tag")
        if (buf(p + 1) != '>') fail(s"Unexpected character ${charDesc(buf(p + 1))} after '/' in a start tag")
        pendingEnd = true
        pos = p + 2
        finishStartTag(nsWork)
        return
      }
      if (!spaced) fail(s"Unexpected character ${charDesc(c)}; expected whitespace before an attribute")
      // attribute name
      val an = p - ts
      var acolon = -1
      while ({ if (p >= lim) p = more(p, "in a start tag"); c = buf(p); c != '=' && !isNameEnd(c) }) {
        if (c == ':') acolon = p - ts
        else if (c <= '>' && (c == '<' || c == '"' || c == '\'' || c == '&' || c >= 0 && c < 0x20))
          fail(s"Unexpected character ${charDesc(c)} in an attribute name")
        p += 1
      }
      if (acolon >= 0 || buf(ts + an) == 'x') nsWork = true
      val ane = p - ts
      while ({ if (p >= lim) p = more(p, "in a start tag"); isSpace(buf(p)) }) p += 1
      if (buf(p) != '=') fail(s"Unexpected character ${charDesc(buf(p))} expected '='")
      p += 1
      while ({ if (p >= lim) p = more(p, "in a start tag"); isSpace(buf(p)) }) p += 1
      val q = buf(p)
      if (q != '"' && q != '\'') fail(s"Unexpected character ${charDesc(q)} in start tag Expected a quote")
      p += 1
      val vs = p - ts
      var raw = true
      var done = false
      while (!done) {
        val b = buf
        val l = lim
        while (p < l && { c = b(p); c >= 0x20 && c != q && c != '<' && c != '&' }) p += 1
        if (p >= l) p = more(p, "in an attribute value")
        else if (c == q) done = true
        else if (c == '<') fail("Unexpected character '<' (code 60) in attribute value")
        else if (c == '&') {
          pos = p; readReference(null); p = pos; raw = false
        } else if (c == '\t' || c == '\n' || c == '\r') { p += 1; raw = false }
        else if (c < 0) { pos = p; checkUtf8(); p = pos }
        else fail(s"Illegal character ((CTRL-CHAR, code $c))")
      }
      val i = attrCount
      if (i == aNameS.length) growAttrs()
      aNameS(i) = an; aNameE(i) = ane
      aLocalS(i) = if (acolon >= 0) acolon + 1 else an
      aValS(i) = vs; aValE(i) = p - ts; aRaw(i) = raw
      attrCount = i + 1
      p += 1 // the closing quote
    }
  }

  private def growAttrs(): Unit = {
    val n = aNameS.length * 2
    aNameS = java.util.Arrays.copyOf(aNameS, n); aNameE = java.util.Arrays.copyOf(aNameE, n)
    aLocalS = java.util.Arrays.copyOf(aLocalS, n); aValS = java.util.Arrays.copyOf(aValS, n)
    aValE = java.util.Arrays.copyOf(aValE, n); aRaw = java.util.Arrays.copyOf(aRaw, n)
  }

  /** Duplicate-attribute and namespace checks; pushes the element. */
  private def finishStartTag(nsWork: Boolean): Unit = {
    tagAt = ts
    val t = tagAt
    var i = 1
    while (i < attrCount) {
      var j = 0
      while (j < i) {
        if (sameBytes(buf, t + aNameS(i), aNameE(i) - aNameS(i),
            buf, t + aNameS(j), aNameE(j) - aNameS(j)))
          fail(s"Duplicate attribute '${attrQName(i)}'.")
        j += 1
      }
      i += 1
    }
    val d = depth + 1
    if (d == nameOff.length) {
      nameOff = java.util.Arrays.copyOf(nameOff, d * 2)
      nsMark = java.util.Arrays.copyOf(nsMark, d * 2)
    }
    nsMark(d) = nsCount
    if (nsWork) bindNamespaces()
    val len = nameE - 1
    if (namesTop + len > names.length)
      names = java.util.Arrays.copyOf(names, math.max(names.length * 2, namesTop + len))
    System.arraycopy(buf, t + 1, names, namesTop, len)
    nameOff(d) = namesTop
    namesTop += len
    depth = d
  }

  /** Pushes this tag's `xmlns` declarations, then checks that the element's
    * and attributes' prefixes are bound.
    */
  private def bindNamespaces(): Unit = {
    val t = tagAt
    var i = 0
    while (i < attrCount) {
      val s = t + aNameS(i)
      val n = aNameE(i) - aNameS(i)
      val isDefault = sameBytes(buf, s, n, XmlnsBytes, 0, 5)
      if (isDefault || (n > 6 && sameBytes(buf, s, 5, XmlnsBytes, 0, 5) && buf(s + 5) == ':')) {
        val prefix = if (isDefault) Array.emptyByteArray
          else java.util.Arrays.copyOfRange(buf, s + 6, s + n)
        if (nsCount == nsPrefix.length) {
          nsPrefix = java.util.Arrays.copyOf(nsPrefix, nsCount * 2)
          nsUri = java.util.Arrays.copyOf(nsUri, nsCount * 2)
        }
        nsPrefix(nsCount) = prefix
        nsUri(nsCount) = attrValueString(i)
        nsCount += 1
      }
      i += 1
    }
    if (localS != 1) resolve(t + 1, localS - 2, "")
    i = 0
    while (i < attrCount) {
      if (aLocalS(i) != aNameS(i)) {
        val s = t + aNameS(i)
        val n = aLocalS(i) - 1 - aNameS(i)
        if (!sameBytes(buf, s, n, XmlnsBytes, 0, 5))
          resolve(s, n, s" (for attribute \"${attrLocalName(i)}\")")
      }
      i += 1
    }
  }

  /** The namespace bound to prefix `buf[s, s+n)` (n == 0: the default). */
  private def resolve(s: Int, n: Int, what: String): String = {
    var k = nsCount - 1
    while (k >= 0) {
      val p = nsPrefix(k)
      if (sameBytes(p, 0, p.length, buf, s, n)) return nsUri(k)
      k -= 1
    }
    if (n == 0) ""
    else if (sameBytes(buf, s, n, XmlBytes, 0, 3)) XmlNs
    else fail("Undeclared namespace prefix \"" +
      new String(buf, s, n, StandardCharsets.UTF_8) + "\"" + what)
  }

  /** At `</` (pos == ts): one end tag, matched against the open element. */
  private def readEndTag(): Unit = {
    if (depth > 0) { // fast path: `</` + the open element's name + `>`
      val o = nameOff(depth)
      val n = namesTop - o
      if (lim - pos >= n + 3 || ensure(n + 3)) {
        val s = pos + 2
        var i = 0
        while (i < n && buf(s + i) == names(o + i)) i += 1
        if (i == n && buf(s + n) == '>') {
          pos = s + n + 1
          popElement()
          return
        }
      }
    }
    var p = pos + 2
    while ({ if (p >= lim) p = more(p, "in an end tag"); !isNameEnd(buf(p)) }) p += 1
    val n = p - (ts + 2)
    while ({ if (p >= lim) p = more(p, "in an end tag"); isSpace(buf(p)) }) p += 1
    def got = new String(buf, ts + 2, n, StandardCharsets.UTF_8)
    if (depth == 0) fail(s"Unexpected close tag </$got>: no open element")
    val o = nameOff(depth)
    if (!sameBytes(buf, ts + 2, n, names, o, namesTop - o))
      fail(s"Unexpected close tag </$got>; expected </" +
        new String(names, o, namesTop - o, StandardCharsets.UTF_8) + ">.")
    if (buf(p) != '>') fail(s"Unexpected character ${charDesc(buf(p))} in an end tag")
    pos = p + 1
    popElement()
  }

  private def popElement(): Unit = {
    namesTop = nameOff(depth)
    nsCount = nsMark(depth)
    depth -= 1
  }

  // ------------------------------------------- accessors for the START tag

  /** The current element's local name is `name` (UTF-8 bytes). */
  def localIs(name: Array[Byte]): Boolean =
    sameBytes(buf, tagAt + localS, nameE - localS, name, 0, name.length)
  def localStart: Int = tagAt + localS
  def localLength: Int = nameE - localS

  /** The current element's namespace URI ("" for none). */
  def elementNamespace: String =
    resolve(tagAt + 1, if (localS == 1) 0 else localS - 2, "")

  def attrLocalStart(i: Int): Int = tagAt + aLocalS(i)
  def attrLocalLength(i: Int): Int = aNameE(i) - aLocalS(i)
  private def attrLocalName(i: Int): String =
    new String(buf, attrLocalStart(i), attrLocalLength(i), StandardCharsets.UTF_8)
  private def attrQName(i: Int): String =
    new String(buf, tagAt + aNameS(i), aNameE(i) - aNameS(i), StandardCharsets.UTF_8)

  /** Attribute i's normalized value: `valueArr[valueOff, valueOff+valueLen)`
    * after this call (a slice of the buffer when nothing needed decoding).
    */
  var valueArr: Array[Byte] = _
  var valueOff = 0
  var valueLen = 0
  def attrValue(i: Int): Unit = {
    val s = tagAt + aValS(i)
    val e = tagAt + aValE(i)
    if (aRaw(i)) { valueArr = buf; valueOff = s; valueLen = e - s; return }
    value.clear()
    var p = s
    while (p < e) {
      val c = buf(p)
      if (c == '&') {
        var semi = p + 1
        while (buf(semi) != ';') semi += 1
        decodeReference(buf, p, semi, value)
        p = semi + 1
      } else {
        if (c == '\r' && p + 1 < e && buf(p + 1) == '\n') p += 1 // CR LF: one space
        value.append(if (c == '\t' || c == '\n' || c == '\r') ' ' else c)
        p += 1
      }
    }
    valueArr = value.arr; valueOff = 0; valueLen = value.length
  }

  private def attrValueString(i: Int): String = {
    attrValue(i)
    new String(valueArr, valueOff, valueLen, StandardCharsets.UTF_8)
  }

  /** The current START carries xsi:nil="true" (or "1"). Namespace-checked:
    * a no-namespace `nil` attribute is ordinary data.
    */
  def isNil: Boolean = {
    var i = 0
    while (i < attrCount) {
      if (aLocalS(i) != aNameS(i) &&
          sameBytes(buf, attrLocalStart(i), attrLocalLength(i), NilBytes, 0, 3)) {
        val s = tagAt + aNameS(i)
        if (resolve(s, aLocalS(i) - 1 - aNameS(i), "") == XsiNs) {
          val v = attrValueString(i)
          return v == "true" || v == "1"
        }
      }
      i += 1
    }
    false
  }

  // ------------------------------------------------------ record boundaries

  /** The split boundary matcher: moves to the next start tag whose local
    * name is `sep` and returns its stream offset (-1 at EOF). Only `<!` and
    * `<?` sections are skipped whole; every other tag is passed over by its
    * name alone, since `<` cannot occur in an attribute value. This is the
    * byte-matching rule of Hadoop's `XmlInputFormat`.
    */
  def findRecordStart(sep: Array[Byte]): Long = {
    var p = pos
    while (true) {
      while (p < lim && buf(p) != '<') p += 1
      if (p >= lim) {
        ts = p; pos = p
        if (!fill()) return -1
        p = pos
      } else {
        ts = p; pos = p
        if (!ensure(2)) return -1
        p = pos
        val c = buf(p + 1)
        if (c == '!') { skipBangRaw(); p = pos }
        else if (c == '?') { pos = p + 2; skipPast(PiEnd, "in a processing instruction"); p = pos }
        else if (c == '/') p += 2
        else {
          val (local, end) = nameAt(p + 1)
          p = end
          if (sameBytes(buf, local, end - local, sep, 0, sep.length)) {
            pos = ts
            return base + ts
          }
        }
      }
    }
    -1
  }

  /** Name bytes from `p` to a name end (EOF too); returns (local start,
    * end), both shifted if the buffer was compacted (ts is kept).
    */
  private def nameAt(p0: Int): (Int, Int) = {
    var p = p0
    var local = p
    while ({
      if (p >= lim) { pos = p; fill(); local -= p - pos; p = pos }
      p < lim && !isNameEnd(buf(p))
    }) {
      if (buf(p) == ':') local = p + 1
      p += 1
    }
    (local, p)
  }

  /** At `<!` (pos == ts) outside the tokenizer's grammar: a comment, a
    * CDATA section or a declaration, skipped whole.
    */
  private def skipBangRaw(): Unit = {
    ensure(4)
    if (lim - pos >= 4 && buf(pos + 2) == '-' && buf(pos + 3) == '-') {
      pos += 4; skipPast(CommentEnd, "in a comment")
    } else if (lim - pos >= 3 && buf(pos + 2) == '[') {
      pos += 3; skipPast(CdataEnd, "in a CDATA section")
    } else skipDeclaration()
  }

  /** At a record's start tag (pos, from [[findRecordStart]]): the record's
    * bytes through its matching end tag. Nesting counts same-local-name
    * start tags; only the separator's own tags are read past their name.
    */
  def copyRecord(sep: Array[Byte]): Array[Byte] = {
    def eofMsg = "unexpected EOF inside <" + new String(sep, StandardCharsets.UTF_8) +
      "> record (malformed XML)"
    hold = pos
    var p = pos + 1
    var open = if (tagEndSelfClosing(p, eofMsg)) 0 else 1
    p = pos
    while (open > 0) {
      while (p < lim && buf(p) != '<') p += 1
      if (p >= lim) {
        pos = p
        if (!fill()) throw new XmlParseException(eofMsg)
        p = pos
      } else {
        pos = p
        if (!ensure(2)) throw new XmlParseException(eofMsg)
        p = pos
        val c = buf(p + 1)
        if (c == '!') { ts = p; skipBangRaw(); p = pos }
        else if (c == '?') { pos = p + 2; skipPast(PiEnd, "in a processing instruction"); p = pos }
        else if (c == '/') {
          val (local, end) = nameAt(p + 2)
          if (end >= lim) throw new XmlParseException(eofMsg)
          if (sameBytes(buf, local, end - local, sep, 0, sep.length)) open -= 1
          p = end
          while ({ if (p >= lim) p = more(p, "in an end tag"); buf(p) != '>' }) p += 1
          p += 1
        } else {
          val (local, end) = nameAt(p + 1)
          p = end
          if (end < lim && sameBytes(buf, local, end - local, sep, 0, sep.length)) {
            if (!tagEndSelfClosing(p, eofMsg)) open += 1
            p = pos
          }
        }
      }
    }
    pos = p
    val rec = java.util.Arrays.copyOfRange(buf, hold, p)
    hold = -1
    rec
  }

  /** From inside a start tag at `p0`: scans (quote-aware) past its `>`,
    * leaving pos after it; true when the tag is self-closing.
    */
  private def tagEndSelfClosing(p0: Int, eofMsg: => String): Boolean = {
    var p = p0
    var quote = 0
    var prev = 0
    while (true) {
      if (p >= lim) {
        pos = p
        if (!fill()) throw new XmlParseException(eofMsg)
        p = pos
      }
      val c = buf(p)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') quote = c
      else if (c == '>') { pos = p + 1; return prev == '/' }
      prev = c
      p += 1
    }
    false
  }
}

/** Unsynchronized growable byte buffer. */
private[xml] final class ByteBuilder(initial: Int) {
  var arr = new Array[Byte](math.max(initial, 16))
  var length = 0
  def clear(): Unit = length = 0
  def append(b: Int): Unit = {
    if (length == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length << 1)
    arr(length) = b.toByte
    length += 1
  }
  def append(src: Array[Byte], off: Int, len: Int): Unit = {
    if (length + len > arr.length)
      arr = java.util.Arrays.copyOf(arr, math.max(arr.length << 1, length + len))
    System.arraycopy(src, off, arr, length, len)
    length += len
  }
  def appendCodePoint(cp: Int): Unit =
    if (cp < 0x80) append(cp)
    else if (cp < 0x800) { append(0xC0 | (cp >> 6)); append(0x80 | (cp & 0x3F)) }
    else if (cp < 0x10000) {
      append(0xE0 | (cp >> 12)); append(0x80 | ((cp >> 6) & 0x3F)); append(0x80 | (cp & 0x3F))
    } else {
      append(0xF0 | (cp >> 18)); append(0x80 | ((cp >> 12) & 0x3F))
      append(0x80 | ((cp >> 6) & 0x3F)); append(0x80 | (cp & 0x3F))
    }
}

/** UTF-8 view of a stream in another charset. `head` holds bytes already
  * read from `in`; malformed input raises the decoder's error.
  */
private final class Utf8Transcoder(head: Array[Byte], in: InputStream, cs: Charset)
    extends InputStream {
  private val decoder = cs.newDecoder()
  private val encoder = StandardCharsets.UTF_8.newEncoder()
  private val src = ByteBuffer.allocate(math.max(16384, head.length))
  src.put(head).flip()
  private val chars = CharBuffer.allocate(8192)
  chars.flip()
  private val out = ByteBuffer.allocate(8192 * 3)
  out.flip()
  private var srcEof = false
  private var done = false

  override def read(): Int = {
    while (!out.hasRemaining) if (!refill()) return -1
    out.get() & 0xff
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (len == 0) return 0
    while (!out.hasRemaining) if (!refill()) return -1
    val n = math.min(len, out.remaining)
    out.get(b, off, n)
    n
  }

  /** Decodes and re-encodes the next chunk; false once all is delivered. */
  private def refill(): Boolean = {
    if (done) return false
    if (!srcEof) {
      src.compact()
      val n = in.read(src.array, src.position(), src.remaining)
      if (n < 0) srcEof = true else src.position(src.position() + n)
      src.flip()
    }
    chars.compact()
    var r = decoder.decode(src, chars, srcEof)
    if (r.isError) r.throwException()
    val last = srcEof && !src.hasRemaining
    if (last) { r = decoder.flush(chars); if (r.isError) r.throwException() }
    chars.flip()
    out.clear()
    r = encoder.encode(chars, out, last)
    if (r.isError) r.throwException()
    if (last && !chars.hasRemaining) { encoder.flush(out); done = true }
    out.flip()
    true
  }

  override def close(): Unit = in.close()
}
