package graft.xml

import java.io.InputStream
import java.nio.charset.StandardCharsets.UTF_8

/** Record boundaries of one byte-offset split (reader option
  * `xml.splittable=true`, SURVEY.md §7 "splittable scan"), as raw bytes.
  *
  * The reference treats XML as non-splittable — its InputFormat ignores the
  * split offsets and opens the whole file
  * (`/root/reference/src/main/scala/com/github/xmlavrobridge/AvroFromXmlInputFormat.scala:49,52-58`),
  * so one 50 GB dump is one task. The known fix (Hadoop's `XmlInputFormat`,
  * Spark's `XmlRecordReader`): each split scans forward from its start
  * offset for the first separator start tag and owns every record whose
  * START tag begins inside it. A record that straddles the split end is
  * finished by reading past the boundary; the next split skips it because
  * its start tag precedes that split's range — every record is owned by
  * exactly one split.
  *
  * The boundary matcher is [[XmlTokenizer.findRecordStart]], which the split
  * read of [[XmlRecordIterator]] runs in front of the same tokenizer that
  * parses the records, straight from the file buffer. This iterator is the
  * thin byte-copying layer over that matcher, for callers that want each
  * owned record's bytes.
  *
  * Byte-level hazards handled:
  *  - `>` inside quoted attribute values (legal XML): a start tag is read
  *    quote-aware only when it is the separator's, to see if it self-closes;
  *    `<` cannot occur in an attribute value, so no other tag needs it
  *  - nested elements with the separator's own name — depth counting
  *  - comments / CDATA / processing instructions containing `<sep>` lookalike
  *    text — skipped whole (outside records) or copied verbatim (inside)
  *  - namespace-prefixed separator tags — matched on local name, like the
  *    record parser (`AvroTransormer.scala:106,143` parity)
  *
  * Constraints (documented, standard for byte-offset XML splitting):
  *  - UTF-8 (or ASCII) input — no encoding is sniffed mid-file; byte
  *    matching is safe in UTF-8 because multi-byte sequences never contain
  *    ASCII bytes
  *  - records must be namespace-self-contained: a split read parses each
  *    record without its ancestors, so a prefix declared only on an
  *    ancestor of the separator element is unbound there (an error)
  *  - a split that BEGINS inside a comment or CDATA section whose text
  *    contains separator-tag lookalikes can mis-detect a record start —
  *    the inherent blind spot of byte-offset XML splitting (shared by
  *    Hadoop's XmlInputFormat and spark-xml): the matcher cannot know it
  *    woke up inside such a section without reading from the file start.
  *    Splits that begin OUTSIDE them skip/copy these sections atomically
  *    (tested). Keep `xml.splittable` off for files whose comments/CDATA
  *    may embed separator-tag text.
  *  - similarly, separator elements must not NEST for splittable reads: a
  *    split that begins inside a record sees a nested same-name child as a
  *    top-level record start (it cannot know its depth without reading from
  *    the file start — same spark-xml rowTag caveat). Nesting stays fully
  *    supported in the default non-splittable mode, and within a split
  *    (depth-counted) when the record starts inside it.
  *
  * @param in stream already positioned at the split start (caller seeks)
  * @param splitLength bytes in this split; records starting at offset >=
  *   splitLength (relative to the split start) belong to the next split
  */
final class XmlSplitScanner(in: InputStream, splitLength: Long,
    separatorTag: String) extends Iterator[Array[Byte]] {

  private val tok = new XmlTokenizer(in, fragment = true)
  private val sep = separatorTag.getBytes(UTF_8)
  private var nextRec: Array[Byte] = _
  private var finished = false

  override def hasNext: Boolean = {
    if (nextRec == null && !finished) {
      val at = tok.findRecordStart(sep)
      if (at < 0 || at >= splitLength) { finished = true; tok.close() }
      else nextRec = tok.copyRecord(sep)
    }
    nextRec != null
  }

  override def next(): Array[Byte] = {
    if (!hasNext) throw new NoSuchElementException("end of split")
    val r = nextRec; nextRec = null; r
  }
}
