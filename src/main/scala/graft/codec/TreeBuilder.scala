package graft.codec

import graft.model._
import scala.collection.mutable.ArrayBuffer

/** Streaming document-tree builder — the shared state machine behind both
  * span decoders (object Span stream and the InternalRow fast path,
  * graft.job.FastScan), fed through [[SpanCodec.feed]]. Spans MUST be fed
  * in offset order. Span attributes are read from the UTF-8 bytes by one
  * [[SpanAttrs]] per document; no [[SpanField]] is kept past its call.
  */
final class TreeBuilder(fast: Boolean) {
  private val attrs = new SpanAttrs
  private val fonts = Vector.newBuilder[FontDef]
  private val pages = Vector.newBuilder[Page]

  private var curPage: ArrayBuffer[Elem] = null
  private var elemId: String = null
  private var elemTyp: String = null
  private var elemBox: Box = TreeBuilder.EmptyBox
  private var elemLevel: Int = 0
  private var elemHdr = false
  private var elemFtr = false
  private var elemLines: ArrayBuffer[Line] = null
  private var lineId: String = null
  private var lineBox: Box = TreeBuilder.EmptyBox
  private var lineWords: ArrayBuffer[Word] = null
  private var autoId = 0

  private def flushLine(): Unit = {
    if (lineId != null) {
      elemLines += Line(lineId, lineBox, lineWords.toVector)
      lineId = null; lineWords = null
    }
  }
  private def flushElem(): Unit = {
    flushLine()
    if (elemId != null) {
      curPage += Elem(elemId, elemTyp, elemBox, elemLevel, elemHdr, elemFtr,
        elemLines.toVector, "", "")
      elemId = null; elemLines = null
    }
  }
  private def flushPage(): Unit = {
    flushElem()
    if (curPage != null) {
      pages += Page(curPage.toVector)
      curPage = null
    }
  }
  private def ensurePage(): Unit =
    if (curPage == null) curPage = ArrayBuffer.empty[Elem]

  def onFont(text: SpanField, ref: SpanField): Unit =
    fonts += FontDef(ref.toString, attrs.size(text))

  def onPage(): Unit = { flushPage(); curPage = ArrayBuffer.empty[Elem] }

  def onElem(isHeading: Boolean, text: SpanField, ref: SpanField): Unit = {
    flushElem(); ensurePage()
    elemId = ref.toString
    elemTyp = if (isHeading) "heading" else "paragraph"
    elemBox = attrs.box(text)
    elemLevel = attrs.level(text)
    elemHdr = false; elemFtr = false
    elemLines = ArrayBuffer.empty[Line]
  }

  def onHdr(): Unit = if (elemId != null) elemHdr = true
  def onFtr(): Unit = if (elemId != null) elemFtr = true

  def onLine(text: SpanField, ref: SpanField): Unit = openLine(ref.toString, attrs.box(text))

  private def openLine(id: String, box: Box): Unit = {
    flushLine()
    if (elemLines == null) { // tolerate stray line outside element
      ensurePage()
      autoId += 1
      elemId = "auto-line-" + autoId; elemTyp = "paragraph"
      elemBox = TreeBuilder.EmptyBox; elemLevel = 0
      elemHdr = false; elemFtr = false
      elemLines = ArrayBuffer.empty[Line]
    }
    lineId = id
    lineBox = box
    lineWords = ArrayBuffer.empty[Word]
  }

  def onWord(text: SpanField, ref: SpanField): Unit = {
    if (lineWords == null) {
      // a word with no open line is a malformed stream: synthesize the
      // line (the same tolerance onLine applies to a stray line outside
      // an element) rather than silently dropping text — at 10^12 rows
      // silent data loss is the one unacceptable failure mode. Unique id
      // per synthesized line: line ids become span refs on re-encode.
      autoId += 1
      openLine("auto-word-line-" + autoId, TreeBuilder.EmptyBox)
    }
    val font = attrs.font(ref)
    val box = attrs.box(ref)
    lineWords += Word(text.toString, font, box)
  }

  def onMedia(kind: String, ref: SpanField, offset: Int): Unit = {
    // fast mode drops the media element WITHOUT flushing the open element.
    // For codec-produced streams the two modes are equivalent anyway
    // (SpanCodec.encode only emits media at element boundaries, always
    // followed by a fresh para/heading span before any line); for a
    // hand-built stream interleaving media MID-element, fast mode keeps
    // the paragraph whole — the faithful reading of the reference's fast
    // mode, where Parsr never produced the media element and explicit
    // para spans alone define segmentation.
    if (!fast) {
      flushElem(); ensurePage()
      curPage += Elem("media-" + offset, kind, TreeBuilder.EmptyBox, 0,
        isHeader = false, isFooter = false, Vector.empty, ref.toString, "")
    }
  }

  def onTable(text: SpanField, ref: SpanField): Unit = {
    flushElem(); ensurePage()
    val id = ref.toString
    curPage += Elem(id, "table", TreeBuilder.EmptyBox, 0,
      isHeader = false, isFooter = false, Vector.empty, id, text.toString)
  }

  def result(): DocTree = {
    flushPage()
    DocTree(fonts.result(), pages.result())
  }
}

object TreeBuilder {
  val EmptyBox: Box = Box(0, 0, 0, 0)
}
