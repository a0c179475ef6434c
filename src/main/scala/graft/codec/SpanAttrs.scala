package graft.codec

import graft.model.Box
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** One span field's UTF-8 bytes, re-pointed at the next span's field
  * without copying: at an `UnsafeRow`'s bytes (graft.job.FastScan) or at a
  * String's UTF-8 encoding (the typed decoder). Re-pointing allocates
  * nothing, where a `UTF8String` per field would cost an object with four
  * volatile stores in its constructor. A null field reads as "" and is
  * flagged [[isNull]]; readers must not keep the field past its span.
  */
final class SpanField {
  private[codec] var base: AnyRef = null
  private[codec] var offset: Long = 0L
  private[codec] var numBytes: Int = 0
  private var nul = true

  /** The field was null; it then reads as "". */
  def isNull: Boolean = nul

  /** Point at `numBytes` bytes at `offset` of `base` (as `Platform`). */
  def point(base: AnyRef, offset: Long, numBytes: Int): this.type = {
    this.base = base; this.offset = offset; this.numBytes = numBytes
    nul = false
    this
  }

  def set(s: UTF8String): this.type =
    if (s == null) setNull() else point(s.getBaseObject, s.getBaseOffset, s.numBytes)

  def set(s: String): this.type =
    if (s == null) setNull()
    else {
      val b = s.getBytes(UTF_8)
      point(b, Platform.BYTE_ARRAY_OFFSET, b.length)
    }

  def setNull(): this.type = {
    base = null; offset = 0L; numBytes = 0
    nul = true
    this
  }

  /** The field's bytes equal `k`. */
  def is(k: Array[Byte]): Boolean =
    numBytes == k.length &&
      ByteArrayMethods.arrayEquals(base, offset, k, Platform.BYTE_ARRAY_OFFSET, numBytes)

  private[codec] def byteAt(i: Int): Byte = Platform.getByte(base, offset + i)

  /** Bytes [from, to) decoded as `UTF8String.toString` decodes them. */
  private[codec] def string(from: Int, to: Int): String = base match {
    case a: Array[Byte] =>
      new String(a, (offset - Platform.BYTE_ARRAY_OFFSET).toInt + from, to - from, UTF_8)
    case _ => UTF8String.fromAddress(base, offset + from, to - from).toString
  }

  override def toString: String = string(0, numBytes)
}

/** The byte-level reader of span attributes (FIXTURES.md §2): the
  * `;`-separated `key=value` text of `font`/`line`/`para`/`heading` spans
  * and the `font=<id>;box=l,t,w,h` ref of `word` spans, read straight from
  * a [[SpanField]]'s UTF-8 bytes. Both span decoders read through it
  * ([[TreeBuilder]] owns one per document).
  *
  * Keys: the value of `key` is that of the first segment whose text before
  * its first `=` is exactly `key` (so `boxx=`/`xbox=` do not match, and
  * `font=a=b` reads `a=b`). `;` and `=` are ASCII and never occur inside
  * a multi-byte UTF-8 character, so the byte scan splits exactly where a
  * scan of the decoded String would.
  *
  * Numbers: a value of the form `-?digits(.digits)?` with at most 15
  * digits is computed as m / 10^k. Both operands are exact doubles and
  * IEEE division rounds correctly, so the result is bit-identical to
  * `Double.parseDouble` (Clinger, PLDI 1990). Any other form (exponent,
  * `+`, whitespace, `.5`, `1.`, `NaN`, more than 15 digits, a box with
  * other than four fields) falls back to the String parse of that value
  * ([[SpanCodec.parseBox]], `toDouble`), so results, exception classes and
  * messages are those of the String parse.
  *
  * Font ids are interned per instance: the same id bytes give the same
  * `String`, so a word ref allocates no String.
  */
final class SpanAttrs {
  import SpanAttrs._

  // id bytes -> (owned copy of the bytes, id); `last` is the entry the
  // previous word used, since consecutive words mostly share a font
  private val fontIds = new java.util.HashMap[UTF8String, (UTF8String, String)]
  private var last: (UTF8String, String) = null

  // the scan position: where the last `fastNumber` stopped
  private var pos = 0

  /** `box=` of `s`; the empty box when absent. */
  def box(s: SpanField): Box = {
    val from = find(s, KBox)
    if (from < 0) TreeBuilder.EmptyBox else parseBox(s, from)
  }

  /** `size=` of `s` as a double; 0 when absent. */
  def size(s: SpanField): Double = {
    val from = find(s, KSize)
    if (from < 0) 0.0
    else {
      val d = fastNumber(s, from)
      if (d.isNaN || pos != valueEnd(s, from)) string(s, from).toDouble else d
    }
  }

  /** `level=` of `s` as an int; 0 when absent. */
  def level(s: SpanField): Int = {
    val from = find(s, KLevel)
    if (from < 0) 0 else string(s, from).toInt
  }

  /** `font=` of `s`, interned; "" when absent. */
  def font(s: SpanField): String = {
    val from = find(s, KFont)
    if (from < 0) return ""
    val len = valueEnd(s, from) - from
    val base = s.base
    val off = s.offset + from
    if (last != null && last._1.numBytes == len && ByteArrayMethods.arrayEquals(
        last._1.getBaseObject, last._1.getBaseOffset, base, off, len)) return last._2
    val view = UTF8String.fromAddress(base, off, len)
    last = fontIds.get(view)
    if (last == null) {
      val key = view.copy() // the view points into a reused row buffer
      last = (key, key.toString)
      fontIds.put(key, last)
    }
    last._2
  }

  /** m / 10^k for a `-?digits(.digits)?` number of at most 15 digits
    * starting at byte `from` of `s` and ending at a `,`, a `;` or the end;
    * NaN for any other form (the fast form never yields NaN, so the
    * sentinel is unambiguous). Sets [[pos]] to where the scan stopped.
    */
  private def fastNumber(s: SpanField, from: Int): Double = {
    val n = s.numBytes
    var i = from
    val neg = i < n && s.byteAt(i) == '-'
    if (neg) i += 1
    var m = 0L
    var digits = 0
    var frac = 0
    var dot = false
    var more = true
    while (more && i < n) {
      val c = s.byteAt(i)
      if (c >= '0' && c <= '9') {
        m = m * 10 + (c - '0'); digits += 1
        if (dot) frac += 1
        i += 1
      } else if (c == '.' && !dot && digits > 0) { dot = true; i += 1 }
      else more = false
    }
    pos = i
    val end = i == n || { val c = s.byteAt(i); c == ',' || c == ';' }
    if (!end || digits == 0 || digits > 15 || (dot && frac == 0)) Double.NaN
    else {
      val v = m.toDouble / Pow10(frac)
      if (neg) -v else v
    }
  }

  /** Four comma-separated fast-form fields filling the value at `from`
    * exactly; any other shape takes [[SpanCodec.parseBox]] on the value's
    * String.
    */
  private def parseBox(s: SpanField, from: Int): Box = {
    val l = fastNumber(s, from)
    if (!l.isNaN && comma(s)) {
      val t = fastNumber(s, pos + 1)
      if (!t.isNaN && comma(s)) {
        val w = fastNumber(s, pos + 1)
        if (!w.isNaN && comma(s)) {
          val h = fastNumber(s, pos + 1)
          if (!h.isNaN && !comma(s)) return Box(l, t, w, h)
        }
      }
    }
    SpanCodec.parseBox(string(s, from))
  }

  private def comma(s: SpanField): Boolean = pos < s.numBytes && s.byteAt(pos) == ','
}

object SpanAttrs {
  private val KBox = "box".getBytes("US-ASCII")
  private val KFont = "font".getBytes("US-ASCII")
  private val KSize = "size".getBytes("US-ASCII")
  private val KLevel = "level".getBytes("US-ASCII")

  /** 10^k for k <= 15, each exact. */
  private val Pow10 = Array.iterate(1.0, 16)(_ * 10)

  /** Where the value of `key` starts in `s`: after the `key=` that opens
    * the first segment whose text before its first `=` is `key` (`key`
    * holds no `=` or `;`, so a segment starting with `key=` is one); -1
    * when none does.
    */
  private def find(s: SpanField, key: Array[Byte]): Int = {
    val n = s.numBytes
    val k = key.length
    var from = 0
    while (from <= n) {
      if (from + k < n && s.byteAt(from + k) == '=' && matches(s, from, key)) return from + k + 1
      from = valueEnd(s, from) + 1
    }
    -1
  }

  private def matches(s: SpanField, from: Int, key: Array[Byte]): Boolean = {
    var i = 0
    while (i < key.length && s.byteAt(from + i) == key(i)) i += 1
    i == key.length
  }

  /** The next `;` at or after `from`, or the end of `s`. */
  private def valueEnd(s: SpanField, from: Int): Int = {
    val n = s.numBytes
    var i = from
    while (i < n && s.byteAt(i) != ';') i += 1
    i
  }

  /** The value starting at `from`, up to the next `;`, as a String. */
  private def string(s: SpanField, from: Int): String = s.string(from, valueEnd(s, from))
}
