package graft.xml

import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.types.{ArrayType, DataType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.bitset.BitSetMethods

/** The values of the record being read, and their encoding as one
  * `UnsafeRow`.
  *
  * Values land here in document order; the row is written in field order
  * once the record's END is read. So a repeated field's elements may be
  * interleaved with other fields (`<line/><note/><line/>`), and a
  * non-repeated field's last occurrence wins without leaving dead bytes in
  * the row.
  *
  * The scratch is a pool of entries plus a byte arena, both reused across
  * records and grown to the largest record read. The arena is the
  * tokenizer's text buffer: a record's leaf texts pile up in it, and a string
  * value points at its own trimmed text there, so it is copied once, into
  * the row. A struct of n fields takes
  * n consecutive entries (a node), one per field; an array element takes one
  * entry, linked to the next. An entry is
  *  - `Null`: absent, or a leaf PERMISSIVE rescued;
  *  - `Fixed`: the slot bits of an int, long, float, double, boolean or
  *    decimal of precision <= 18;
  *  - `Bytes`: `len` bytes at arena offset `value` (string, binary, or the
  *    unscaled bytes of a wider decimal);
  *  - `Struct`: the node at entry `value`, `size` bytes encoded;
  *  - `Open`: a repeated field still collecting: `len` elements from entry
  *    `value`, the last one at `size`;
  *  - `Arr`: a closed array: `len` elements from entry `value`, `size`
  *    bytes encoded.
  *
  * The encoding is byte for byte what Spark's `UnsafeProjection` writes for
  * the same values (`UnsafeRowWriter`, `UnsafeArrayWriter`): null bits and
  * 8-byte slots, then the variable-length values in field order, each padded
  * to a word; a null decimal of precision > 18 keeps its 16 zero bytes. Every
  * row gets its own exact-size `byte[]`, so a row stays valid after the
  * iterator moves on.
  */
private[xml] final class RowBuffer(arena: ByteBuilder) {
  import RowBuffer._

  private var kind = new Array[Int](256)
  private var value = new Array[Long](256)
  private var len = new Array[Int](256)
  private var size = new Array[Int](256)
  private var next = new Array[Int](256)
  private var top = 0

  /** Forgets the previous record. */
  def reset(): Unit = { top = 0; arena.clear() }

  /** `n` fresh `Null` entries; returns the first. */
  def alloc(n: Int): Int = {
    val at = top
    if (at + n > kind.length) {
      val cap = math.max(kind.length * 2, at + n)
      kind = java.util.Arrays.copyOf(kind, cap)
      value = java.util.Arrays.copyOf(value, cap)
      len = java.util.Arrays.copyOf(len, cap)
      size = java.util.Arrays.copyOf(size, cap)
      next = java.util.Arrays.copyOf(next, cap)
    }
    java.util.Arrays.fill(kind, at, at + n, Null)
    top = at + n
    at
  }

  def isNull(e: Int): Boolean = kind(e) == Null
  def isOpen(e: Int): Boolean = kind(e) == Open

  def setNull(e: Int): Unit = kind(e) = Null

  def setFixed(e: Int, bits: Long): Unit = { kind(e) = Fixed; value(e) = bits }

  /** `b[off, off+n)`, used in place when `b` is the arena. */
  def setBytes(e: Int, b: Array[Byte], off: Int, n: Int): Unit = {
    kind(e) = Bytes
    len(e) = n
    if (b eq arena.arr) value(e) = off
    else {
      value(e) = arena.length
      arena.append(b, off, n)
    }
  }

  def setStruct(e: Int, node: Int, bytes: Int): Unit = {
    kind(e) = Struct; value(e) = node; size(e) = bytes
  }

  /** Makes `e` an empty array that [[append]] extends. */
  def openArray(e: Int): Unit = { kind(e) = Open; len(e) = 0 }

  /** Appends element `x` to the open array `e`; an entry that is not open
    * starts a new array (a repeated field's first element replaces whatever
    * value an attribute gave the field).
    */
  def append(e: Int, x: Int): Unit = {
    next(x) = -1
    if (kind(e) == Open && len(e) > 0) { next(size(e)) = x; len(e) += 1 }
    else { kind(e) = Open; value(e) = x; len(e) = 1 }
    size(e) = x
  }

  /** Closes the open array `e`, whose elements take `width`-byte slots. */
  def closeArray(e: Int, width: Int): Unit = {
    val m = len(e)
    var n = 8 + nullWords(m) * 8 + round8(m * width)
    var x = value(e).toInt
    var j = 0
    while (j < m) {
      n += varBytes(x)
      x = next(x)
      j += 1
    }
    kind(e) = Arr
    size(e) = n
  }

  /** The variable-length bytes an element entry adds to its array. */
  private def varBytes(x: Int): Int = (kind(x): @annotation.switch) match {
    case Bytes => round8(len(x))
    case Struct | Arr => size(x)
    case _ => 0
  }

  /** Encoded size of the struct `p` at `node`. */
  def structSize(p: StructPlan, node: Int): Int = {
    var n = p.fixedBytes
    var i = 0
    while (i < p.size) {
      val e = node + i
      n += ((kind(e): @annotation.switch) match {
        case Null => if (p.wide(i)) 16 else 0
        case Fixed => 0
        case Bytes => if (p.wide(i)) 16 else round8(len(e))
        case _ => size(e)
      })
      i += 1
    }
    n
  }

  /** The record: the struct `p` at `node` in its own exact-size row. */
  def toRow(p: StructPlan, node: Int): UnsafeRow = {
    val n = structSize(p, node)
    val bytes = new Array[Byte](n) // zeroed: null words, slots and padding
    writeStruct(p, node, bytes, Platform.BYTE_ARRAY_OFFSET)
    val row = new UnsafeRow(p.size)
    row.pointTo(bytes, n)
    row
  }

  /** Writes the struct `p` at `node` at address `at` of `dst`; returns its
    * size.
    */
  private def writeStruct(p: StructPlan, node: Int, dst: Array[Byte], at: Long): Int = {
    var cursor = at + p.fixedBytes
    var i = 0
    while (i < p.size) {
      val e = node + i
      val slot = at + p.nullBytes + 8L * i
      (kind(e): @annotation.switch) match {
        case Null =>
          BitSetMethods.set(dst, at, i)
          if (p.wide(i)) { Platform.putLong(dst, slot, (cursor - at) << 32); cursor += 16 }
        case Fixed => putFixed(dst, slot, p.fieldWidth(i), value(e))
        case Bytes =>
          val n = copyBytes(e, dst, cursor)
          Platform.putLong(dst, slot, ((cursor - at) << 32) | n)
          cursor += (if (p.wide(i)) 16 else round8(n))
        case Struct =>
          val n = writeStruct(p.child(i), value(e).toInt, dst, cursor)
          Platform.putLong(dst, slot, ((cursor - at) << 32) | n)
          cursor += n
        case _ =>
          val n = writeArray(p.arrayElem(i), p.child(i), e, dst, cursor)
          Platform.putLong(dst, slot, ((cursor - at) << 32) | n)
          cursor += n
      }
      i += 1
    }
    (cursor - at).toInt
  }

  /** Writes the array `e` of `et` elements (structs read by `elem`) at
    * address `at` of `dst`; returns its size.
    */
  private def writeArray(et: DataType, elem: StructPlan, e: Int,
      dst: Array[Byte], at: Long): Int = {
    val m = len(e)
    val w = StructPlan.slotWidth(et)
    Platform.putLong(dst, at, m)
    val slots = at + 8 + nullWords(m) * 8L
    var cursor = slots + round8(m * w)
    var x = value(e).toInt
    var j = 0
    while (j < m) {
      val slot = slots + j.toLong * w
      (kind(x): @annotation.switch) match {
        case Fixed => putFixed(dst, slot, w, value(x))
        case Bytes =>
          val n = copyBytes(x, dst, cursor)
          Platform.putLong(dst, slot, ((cursor - at) << 32) | n)
          cursor += round8(n)
        case Struct =>
          val n = writeStruct(elem, value(x).toInt, dst, cursor)
          Platform.putLong(dst, slot, ((cursor - at) << 32) | n)
          cursor += n
        case _ =>
          val inner = et.asInstanceOf[ArrayType].elementType
          val n = writeArray(inner, null, x, dst, cursor)
          Platform.putLong(dst, slot, ((cursor - at) << 32) | n)
          cursor += n
      }
      x = next(x)
      j += 1
    }
    (cursor - at).toInt
  }

  private def copyBytes(e: Int, dst: Array[Byte], at: Long): Int = {
    val n = len(e)
    System.arraycopy(arena.arr, value(e).toInt, dst, (at - Platform.BYTE_ARRAY_OFFSET).toInt, n)
    n
  }
}

private[xml] object RowBuffer {
  final val Null = 0
  final val Fixed = 1
  final val Bytes = 2
  final val Struct = 3
  final val Open = 4
  final val Arr = 5

  def nullWords(n: Int): Int = (n + 63) >>> 6
  def round8(n: Int): Int = (n + 7) & ~7

  private def putFixed(dst: Array[Byte], at: Long, width: Int, bits: Long): Unit =
    (width: @annotation.switch) match {
      case 8 => Platform.putLong(dst, at, bits)
      case 4 => Platform.putInt(dst, at, bits.toInt)
      case _ => Platform.putByte(dst, at, bits.toByte)
    }
}
