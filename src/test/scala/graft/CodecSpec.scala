package graft

import graft.codec.{SpanAttrs, SpanCodec, SpanField}
import graft.fixtures.Fixtures
import graft.model._
import org.apache.spark.unsafe.Platform
import org.scalatest.funsuite.AnyFunSuite
import scala.util.{Failure, Success, Try}

class CodecSpec extends AnyFunSuite {

  test("encode/decode round-trips the flagship fixture") {
    val row = Fixtures.flagshipDoc
    val tree = SpanCodec.decode(row.spans, fast = false)
    val re = SpanCodec.encode(tree)
    assert(re == row.spans.toVector)
  }

  test("fast mode drops image/drawing spans but keeps tables") {
    val spans = Vector(
      Span("page", "", "", 0),
      Span("para", "box=0.0,0.0,10.0,5.0", "e1", 1),
      Span("line", "box=0.0,0.0,10.0,5.0", "l1", 2),
      Span("word", "hi", "font=f1;box=0.0,0.0,4.0,5.0", 3),
      Span("image", "", "blob://x", 4),
      Span("table", "a,b\n1,2", "t1", 5))
    val fast = SpanCodec.decode(spans, fast = true)
    assert(fast.pages.head.elements.map(_.typ) == Vector("paragraph", "table"))
    val full = SpanCodec.decode(spans, fast = false)
    assert(full.pages.head.elements.map(_.typ) == Vector("paragraph", "image", "table"))
    assert(full.pages.head.elements(1).mediaRef == "blob://x")
    assert(full.pages.head.elements(2).payload == "a,b\n1,2")
  }

  test("hdr/ftr spans flag the innermost open element") {
    val spans = Vector(
      Span("page", "", "", 0),
      Span("para", "box=0.0,0.0,10.0,5.0", "h1", 1),
      Span("hdr", "", "", 2),
      Span("line", "box=0.0,0.0,10.0,5.0", "l1", 3),
      Span("word", "top", "font=f1;box=0.0,0.0,4.0,5.0", 4),
      Span("para", "box=0.0,20.0,10.0,5.0", "b1", 5),
      Span("line", "box=0.0,20.0,10.0,5.0", "l2", 6),
      Span("word", "body", "font=f1;box=0.0,20.0,4.0,5.0", 7))
    val t = SpanCodec.decode(spans, fast = false)
    val es = t.pages.head.elements
    assert(es(0).isHeader && !es(1).isHeader)
  }

  test("stray word without an open line is preserved in a synthesized line, not dropped") {
    val spans = Vector(
      Span("page", "", "", 0),
      Span("para", "box=0.0,0.0,10.0,5.0", "p1", 1),
      Span("word", "orphan", "font=f1;box=0.0,0.0,4.0,5.0", 2), // no line span
      Span("line", "box=0.0,0.0,10.0,5.0", "l1", 3),
      Span("word", "normal", "font=f1;box=0.0,0.0,4.0,5.0", 4))
    val t = SpanCodec.decode(spans, fast = false)
    val words = t.pages.head.elements.flatMap(_.lines).flatMap(_.words).map(_.content)
    assert(words.contains("orphan"), words.mkString(",")) // silent loss forbidden
    assert(words.contains("normal"))
  }

  test("offset is the ordering authority (shuffled input decodes the same)") {
    val row = Fixtures.flagshipDoc
    val shuffled = new scala.util.Random(7).shuffle(row.spans.toVector)
    assert(SpanCodec.decode(shuffled, fast = true) ==
      SpanCodec.decode(row.spans, fast = true))
  }

  test("property: random fixture trees round-trip through the codec") {
    (0L until 50L).foreach { seed =>
      val rng = new Fixtures.Rng(seed)
      val row = Fixtures.compositeDoc(s"g-$seed", 1 + rng.nextInt(4), rng,
        1 + rng.nextInt(4), withMedia = seed % 2 == 0)
      val tree = SpanCodec.decode(row.spans, fast = false)
      assert(SpanCodec.encode(tree) == row.spans.toVector, s"seed=$seed")
    }
  }

  test("fmt renders one fractional digit, locale-free") {
    assert(SpanCodec.fmt(1.0) == "1.0")
    assert(SpanCodec.fmt(1.25) == "1.2") // rint: banker's rounding
    assert(SpanCodec.fmt(123.456) == "123.5")
    assert(SpanCodec.fmt(0.05) == "0.0")
    // sign survives magnitudes below 1 (integer division used to truncate
    // -0.3 to whole part 0 and silently drop the minus)
    assert(SpanCodec.fmt(-0.3) == "-0.3")
    assert(SpanCodec.fmt(-1.25) == "-1.2")
    assert(SpanCodec.parseBox(SpanCodec.fmtBox(Box(-0.3, 2.5, -12.7, 0.0))) ==
      Box(-0.3, 2.5, -12.7, 0.0))
  }

  test("encode rejects font ids that would corrupt the kv syntax") {
    val base = Fixtures.flagshipDoc
    val tree = SpanCodec.decode(base.spans, fast = true)
    val poisoned = tree.copy(pages = tree.pages.map(p => p.copy(elements =
      p.elements.map(e => e.copy(lines = e.lines.map(l => l.copy(words =
        l.words.map(w => w.copy(font = "f1;box=9,9,9,9")))))))))
    val e = intercept[IllegalArgumentException](SpanCodec.encode(poisoned))
    assert(e.getMessage.contains("kv-encodable"))
  }

  // The String scan the byte scanner replaced: the reference for the
  // SpanAttrs equivalence tests below.
  private def kv(s: String, key: String): Option[String] = {
    var from = 0
    while (from <= s.length) {
      val end0 = s.indexOf(';', from)
      val end = if (end0 < 0) s.length else end0
      val eq = s.indexOf('=', from)
      if (eq >= from && eq < end &&
        eq - from == key.length && s.regionMatches(from, key, 0, key.length))
        return Some(s.substring(eq + 1, end))
      if (end0 < 0) return None
      from = end + 1
    }
    None
  }

  private val Empty = Box(0, 0, 0, 0)

  private def field(s: String): SpanField = new SpanField().set(s)

  /** Same value (doubles by raw bits) or same exception class + message. */
  private def sameOutcome[A](text: String, what: String)(byString: => A, byBytes: => A)(
      bits: A => Seq[Long]): Unit =
    (Try(byString), Try(byBytes)) match {
      case (Success(a), Success(b)) =>
        assert(bits(a) == bits(b), s"$what of [$text]: String $a, bytes $b")
      case (Failure(a), Failure(b)) =>
        assert(a.getClass == b.getClass && a.getMessage == b.getMessage,
          s"$what of [$text]: String $a, bytes $b")
      case (a, b) => fail(s"$what of [$text]: String $a, bytes $b")
    }

  private def boxBits(b: Box): Seq[Long] =
    Seq(b.l, b.t, b.w, b.h).map(java.lang.Double.doubleToRawLongBits)

  /** Every attribute the decoders read from `text`, String scan vs bytes. */
  private def assertSameAttrs(text: String): Unit = {
    def attrs = new SpanAttrs
    def u = field(text)
    sameOutcome(text, "box")(kv(text, "box").fold(Empty)(SpanCodec.parseBox),
      attrs.box(u))(boxBits)
    sameOutcome(text, "size")(kv(text, "size").fold(0.0)(_.toDouble), attrs.size(u))(
      d => Seq(java.lang.Double.doubleToRawLongBits(d)))
    sameOutcome(text, "level")(kv(text, "level").fold(0)(_.toInt), attrs.level(u))(
      i => Seq(i.toLong))
    assert(kv(text, "font").getOrElse("") == attrs.font(u), s"font of [$text]")
  }

  test("byte scanner reads the same attributes as the String parse: table") {
    val numbers = Seq("0", "-0.0", "-0", "0.0", "12.5", "-12.7", "007.50",
      "123456789012345", "12345678901234.5", "0.00000000000001",
      "1234567890123456", "12345678901234567", "1.2345678901234567",
      "9007199254740993", "0.1234567890123456789012345", "1.00000000000000000000000001",
      "1e3", "+1.5", " 1.5", "1.5 ", "1.", ".5", "-.5", "-", "--1", "1.2.3",
      "NaN", "-Infinity", "0x1p3", "4.0f", "1d", "", "x", "１")
    val boxes = numbers.flatMap(n => Seq(s"$n,2.0,3.0,4.0", s"1.0,2.0,3.0,$n")) ++ Seq(
      "1,2,3", "1,2,3,4,5", "1,2,3,4,", "1,2,3,4,,", ",1,2,3", "1,,3,4", ",,,,", ",",
      "", "1.0,2.0,x,4.0", "1.0;2.0", "1.0 ,2.0,3.0,4.0")
    val texts = boxes.map("box=" + _) ++ numbers.map("size=" + _) ++
      numbers.map("level=" + _) ++ Seq(
        "", ";", ";;;", "box", "box=", "=1", "box=1,2,3,4;box=5,6,7,8",
        "size=1;size=2", "boxx=1,2,3,4", "xbox=1,2,3,4", "boxx=1,2,3,4;box=5,6,7,8",
        "a=b=c;box=1,2,3,4", "box=1,2,3,4;", "box=1,2,3,4;;", ";box=1,2,3,4",
        "box =1,2,3,4", " box=1,2,3,4", "level=2;box=1.5,2.5,3.5,4.5;size=12",
        "font=a=b", "font=f1;box=1.0,2.0,3.0,4.0", "box=1.0,2.0,3.0,4.0;font=f1",
        "font=;box=1,2,3,4", "font", "font=f1;font=f2", "fontx=f1;font=f2",
        "font=schrift-ä€😀;box=1.0,2.0,3.0,4.0", "fünt=x;font=ß;box=1,2,3,4",
        "font=f1;box=1.0,2.0,3.0,4.0;", "font=f1=x;box=-0.3,2.5,-12.7,0.0")
    texts.foreach(assertSameAttrs)
  }

  test("byte scanner reads the same attributes as the String parse: random") {
    val rng = new scala.util.Random(8)
    (0 until 10000).foreach { _ =>
      def d = (rng.nextDouble() - 0.5) * math.pow(10, rng.nextInt(8))
      assertSameAttrs(s"font=f${rng.nextInt(3)};box=${SpanCodec.fmtBox(Box(d, d, d, d))}")
    }
    def decimal: String = {
      val digits = 1 + rng.nextInt(17)
      val ds = Seq.fill(digits)(('0' + rng.nextInt(10)).toChar).mkString
      val dot = rng.nextInt(digits + 1)
      val sign = if (rng.nextBoolean()) "-" else ""
      if (dot == 0) sign + ds else sign + ds.take(dot) + "." + ds.drop(dot)
    }
    (0 until 10000).foreach { _ =>
      assertSameAttrs(s"box=$decimal,$decimal,$decimal,$decimal;size=$decimal")
    }
  }

  test("font ids are interned per document: same bytes, same String") {
    val attrs = new SpanAttrs
    val a = attrs.font(field("font=f1;box=1,2,3,4"))
    val b = attrs.font(field("font=f2;box=1,2,3,4"))
    val c = attrs.font(field("font=f1;box=5,6,7,8"))
    assert(a == "f1" && b == "f2" && (a eq c))
    // the interned id owns its bytes: overwriting the source buffer
    // (an UnsafeRow the scanner reuses) does not change it
    val buf = "font=f3".getBytes("UTF-8")
    val d = attrs.font(new SpanField().point(buf, Platform.BYTE_ARRAY_OFFSET, buf.length))
    buf(6) = '9'.toByte
    assert(d == "f3" && (attrs.font(field("font=f3")) eq d))
    assert(attrs.font(new SpanField().point(buf, Platform.BYTE_ARRAY_OFFSET, buf.length)) == "f9")
  }

  test("FastScan decodes a generic (non-Unsafe) span array like the typed decoder") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val spans = Fixtures.flagshipDoc.spans.toVector
    def arr(ss: Seq[Span]) = new GenericArrayData(ss.map(sp => InternalRow(
      UTF8String.fromString(sp.kind), UTF8String.fromString(sp.text),
      UTF8String.fromString(sp.media_ref), sp.offset)).toArray[Any])
    val shuffled = new scala.util.Random(3).shuffle(spans)
    Seq(spans, shuffled).foreach { ss =>
      assert(graft.job.FastScan.decodeSpans(arr(ss), fast = false) ==
        SpanCodec.decode(spans, fast = false))
    }
  }

  test("a span field reads a null as \"\" and decodes a byte range as UTF8String does") {
    val f = new SpanField().set(null: String)
    assert(f.isNull && f.toString == "")
    val bytes = "xäöü€😀y".getBytes("UTF-8") ++ Array[Byte](-1, 'z'.toByte)
    f.point(bytes, Platform.BYTE_ARRAY_OFFSET + 1, bytes.length - 1)
    assert(!f.isNull && f.toString ==
      org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes, 1, bytes.length - 1).toString)
  }
}
