package graft.codec

import graft.model._

/** Codec between the flat `spans` column (FIXTURES.md §2) and the
  * per-document tree. The span stream is a pre-order serialization of the
  * reference document model (pages -> elements -> lines -> words,
  * export.py:283-303); `offset` is the only ordering authority
  * (SURVEY.md §2.6 T1).
  *
  * Kinds:
  *  - `font`   text="size=<px>"          media_ref=<font id>
  *  - `page`   (empty)                   page start
  *  - `para` / `heading` text="box=l,t,w,h[;level=k]" media_ref=<elem id>
  *  - `hdr` / `ftr`  flags the innermost open element (isHeader/isFooter)
  *  - `line`   text="box=l,t,w,h"        media_ref=<line id>
  *  - `word`   text=<word>               media_ref="font=<id>;box=l,t,w,h"
  *  - `image` / `drawing`  media_ref=<media uri>   (dropped in fast mode,
  *    mirroring Parsr's fast config, parsr_wrapper.py:44-49)
  *  - `table`  text=<csv>                media_ref=<table id>
  *
  * Decoding reads the kinds, the `box=`/`size=`/`level=` texts and the
  * word refs from their UTF-8 bytes ([[SpanField]], [[SpanAttrs]]), for
  * both decoders through one [[feed]]. A box or size number of the form `-?digits(.digits)?` with at
  * most 15 digits is computed exactly as m / 10^k, bit-identical to
  * `toDouble`; any other value falls back to the String parse
  * ([[parseBox]], `toDouble`), keeping its results and exceptions. A null
  * `text`/`media_ref` reads as "", a null `kind` skips the span.
  */
object SpanCodec {

  /** The String parse of a `box=` value: `split(",")` and `toDouble` per
    * field. [[SpanAttrs]] falls back to it for any value outside its exact
    * fast path, so both keep one result, exception class and message.
    */
  def parseBox(s: String): Box = {
    val p = s.split(",")
    Box(p(0).toDouble, p(1).toDouble, p(2).toDouble, p(3).toDouble)
  }

  def fmt(d: Double): String = {
    // fixed-point, one fractional digit (FIXTURES.md §2) — locale-free.
    // Sign is emitted explicitly: for values in (-1.0, 0) the integer part
    // truncates to 0 and would silently swallow the minus.
    val scaled = math.rint(d * 10.0).toLong
    val sign = if (scaled < 0) "-" else ""
    val abs = math.abs(scaled)
    s"$sign${abs / 10}.${abs % 10}"
  }

  def fmtBox(b: Box): String = s"${fmt(b.l)},${fmt(b.t)},${fmt(b.w)},${fmt(b.h)}"

  /** Decode a span stream into the document tree: the typed decoder.
    * Each span's Strings are encoded to UTF-8 and go through [[feed]], the
    * one span reader [[graft.job.FastScan]] also uses.
    *
    * @param fast drop media (image/drawing) spans, the analog of Parsr fast
    *             mode module pruning (parsr_wrapper.py:44-49) + the
    *             fast-mode null-element filter (export.py:203-216, S4 —
    *             unclassified elements simply never materialize here).
    */
  def decode(spans: Seq[Span], fast: Boolean): DocTree = {
    // offset is the ordering authority; fixture encoders emit in order, so
    // only pay for the sort when the stream actually arrives shuffled
    val isSorted = {
      var ok = true
      var prev = Int.MinValue
      val it = spans.iterator
      while (ok && it.hasNext) {
        val o = it.next().offset
        if (o < prev) ok = false else prev = o
      }
      ok
    }
    val sorted = if (isSorted) spans else spans.sortBy(_.offset)
    val b = new TreeBuilder(fast)
    val kind, text, ref = new SpanField
    sorted.foreach(sp =>
      feed(b, kind.set(sp.kind), text.set(sp.text), ref.set(sp.media_ref), sp.offset))
    b.result()
  }

  private val KWord = "word".getBytes("US-ASCII")
  private val KLine = "line".getBytes("US-ASCII")
  private val KPara = "para".getBytes("US-ASCII")
  private val KHeading = "heading".getBytes("US-ASCII")
  private val KPage = "page".getBytes("US-ASCII")
  private val KHdr = "hdr".getBytes("US-ASCII")
  private val KFtr = "ftr".getBytes("US-ASCII")
  private val KFont = "font".getBytes("US-ASCII")
  private val KImage = "image".getBytes("US-ASCII")
  private val KDrawing = "drawing".getBytes("US-ASCII")
  private val KTable = "table".getBytes("US-ASCII")

  /** Feed one span to `b`, the one span reader of both decoders. A null
    * `kind` skips the span; a null `text` or `ref` reads as "".
    */
  def feed(b: TreeBuilder, kind: SpanField, text: SpanField, ref: SpanField,
      offset: Int): Unit = {
    if (kind.isNull) return
    // ordered by expected frequency: word >> line >> rest
    if (kind.is(KWord)) b.onWord(text, ref)
    else if (kind.is(KLine)) b.onLine(text, ref)
    else if (kind.is(KPara)) b.onElem(isHeading = false, text, ref)
    else if (kind.is(KPage)) b.onPage()
    else if (kind.is(KHdr)) b.onHdr()
    else if (kind.is(KFtr)) b.onFtr()
    else if (kind.is(KFont)) b.onFont(text, ref)
    else if (kind.is(KHeading)) b.onElem(isHeading = true, text, ref)
    else if (kind.is(KImage)) b.onMedia("image", ref, offset)
    else if (kind.is(KDrawing)) b.onMedia("drawing", ref, offset)
    else if (kind.is(KTable)) b.onTable(text, ref)
    // unknown kinds ignored (forward compat)
  }

  /** Encode a tree back to a span stream (fixture builder + round-trip
    * property tests).
    */
  def encode(doc: DocTree): Vector[Span] = {
    val out = Vector.newBuilder[Span]
    var off = 0
    def emit(kind: String, text: String, ref: String): Unit = {
      out += Span(kind, text, ref, off); off += 1
    }
    doc.fonts.foreach(f => emit("font", s"size=${fmt(f.size)}", f.id))
    doc.pages.foreach { page =>
      emit("page", "", "")
      page.elements.foreach { e =>
        e.typ match {
          case "paragraph" | "heading" =>
            val kind = if (e.typ == "paragraph") "para" else "heading"
            val lvl = if (e.typ == "heading") s";level=${e.level}" else ""
            emit(kind, s"box=${fmtBox(e.box)}$lvl", e.id)
            if (e.isHeader) emit("hdr", "", "")
            if (e.isFooter) emit("ftr", "", "")
            e.lines.foreach { l =>
              emit("line", s"box=${fmtBox(l.box)}", l.id)
              l.words.foreach { w =>
                // the kv syntax has no escaping: a font id containing the
                // separators would silently corrupt the decoded box/font
                // — fail the encode instead of round-tripping garbage
                require(!w.font.contains(';') && !w.font.contains('='),
                  s"font id not kv-encodable: '${w.font}'")
                emit("word", w.content, s"font=${w.font};box=${fmtBox(w.box)}")
              }
            }
          case "image" | "drawing" =>
            emit(e.typ, "", e.mediaRef)
          case "table" =>
            emit("table", e.payload, e.id)
          case other =>
            throw new IllegalArgumentException(s"unknown element type $other")
        }
      }
    }
    out.result()
  }
}
