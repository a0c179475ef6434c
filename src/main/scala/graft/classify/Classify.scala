package graft.classify

import graft.assemble.OutElement
import graft.lm.Scorer
import graft.model._
import graft.stats.DocInfo
import graft.text.PyText

/** Block-classification helpers: header/footer dedup (J1), page-number
  * strip (P5), header/footer flag demotion (P4).
  */
object Classify {

  /** only_text (doc_info.py:83-88) over raw elements: all word contents,
    * stripped, space-joined, unicode-fixed.
    */
  def onlyText(es: Seq[Elem]): String = {
    val r = es.flatMap(_.lines.flatMap(_.words.map(w => PyText.pyStrip(w.content))))
    PyText.fixBadUnicode(r.mkString(" "))
  }

  /** only_points (doc_info.py:91-99): the four corners of each element
    * box as (t, l) tuples.
    */
  def onlyPoints(es: Seq[Elem]): Seq[(Double, Double)] =
    es.flatMap { e =>
      val b = e.box
      Seq(
        (b.t, b.l),
        (b.t + b.h, b.l),
        (b.t, b.l + b.w),
        (b.t + b.h, b.l + b.w))
    }

  /** One page's element set with what [[superSimiliar]] and the scorer
    * read of it, each computed at most once per [[removeDuplicates]] call.
    */
  private final class PageSet(val elems: Seq[Elem], lang: String) {
    lazy val text: String = onlyText(elems)
    lazy val chars: Map[Char, Int] = PyText.charCounts(text)
    lazy val points: Seq[(Double, Double)] = onlyPoints(elems)
    lazy val bounds: Geometry.Rect = Geometry.boundsOf(points)
    lazy val score: Double = Scorer.singleScore(text, lang)
  }

  /** super_similiar (doc_info.py:102-123): char-multiset Jaccard > 0.8 AND
    * bbox overlap > 0.6; needs >= 4 points (>= 1 element) on each side.
    */
  private def superSimiliar(s1: PageSet, s2: PageSet): Boolean = {
    if (math.min(s1.points.length, s2.points.length) < 4) return false
    val jSim = PyText.jaccardCounts(s1.chars, s2.chars)
    val bSim = Geometry.simRect(s1.bounds, s2.bounds)
    jSim > 0.8 && bSim > 0.6
  }

  /** remove_duplicates (doc_info.py:126-152) — the header/footer
    * similarity self-join across pages. Faithful to the reference's
    * mutate-while-scanning semantics: when a later page's element-set
    * scores better, the earlier entry is REMOVED from the results list
    * (shortening it — the caller's zip then misaligns pages, a reference
    * quirk we replicate, SURVEY.md §7.4); when the earlier one wins, the
    * later page contributes an empty list.
    */
  def removeDuplicates(pageItems: Vector[Seq[Elem]],
      lang: String = "multi"): Vector[Seq[Elem]] = {
    if (pageItems.isEmpty) return pageItems
    val empty = new PageSet(Seq.empty, lang)
    val results = scala.collection.mutable.ArrayBuffer(new PageSet(pageItems.head, lang))
    pageItems.tail.foreach { elements =>
      val page = new PageSet(elements, lang)
      var cool = true
      var i = 0
      var break = false
      while (i < results.length && !break) {
        val r = results(i)
        if (r.elems.nonEmpty && superSimiliar(r, page)) {
          if (r.score <= page.score) {
            // previous got a better/equal score -> skip this one
            cool = false
            break = true
          } else {
            // this one is better -> remove previous (list shrinks).
            // CPython `for r in results: ... results.remove(r)` skips the
            // element that shifts into the removed slot — replicated by
            // NOT re-examining index i after the removal.
            results.remove(i)
          }
        }
        i += 1
      }
      results.append(if (cool) page else empty)
    }
    results.iterator.map(_.elems).toVector
  }

  /** remove_page_number_header_footer (doc_info.py:155-171) — INTENDED
    * semantics, applied to raw element sets: drop sets whose text is empty
    * after removing numbers, punctuation, "seite" and "von".
    */
  def isPageNumberText(text: String): Boolean =
    PyText.pyStrip(
      PyText.cleanNoPunctNoNumber(text)
        .replace("seite", "")
        .replace("von", "")) == ""

  /** The reference call site (export.py:312-314) passes rendered
    * `Element` OBJECTS into only_text, whose dict-typed traversal yields ""
    * for every element — so with `remove_page_number=True` ALL separated
    * headers/footers are dropped (SURVEY.md §7.4 class of quirks; traced:
    * doc_info.py:43-56 traverse returns None for str/Element ->
    * extract_elements yields [] -> only_text "" -> texts all "" -> results
    * []). `typeBugCompat=true` (the default, matching the reference's
    * tested fast+experimental profile) replicates that; `false` gives the
    * intended per-element page-number check on the rendered text.
    */
  def removePageNumberElements(
      items: List[OutElement],
      typeBugCompat: Boolean): List[OutElement] =
    if (typeBugCompat) Nil
    else items.filterNot(e => isPageNumberText(e.lines.flatten.mkString(" ")))

  /** fix_headers_footers (export.py:260-274): demote isHeader/isFooter
    * flags when the element statistically looks like body text. Returns a
    * new tree (the reference mutates in place).
    */
  def fixHeadersFooters(doc: DocTree, info: DocInfo): DocTree = {
    val pages = doc.pages.map { p =>
      Page(p.elements.map { e =>
        var out = e
        if (e.isHeader && info.isBodyParagraph(e)) out = out.copy(isHeader = false)
        if (e.isFooter && info.isBodyParagraph(out)) out = out.copy(isFooter = false)
        out
      })
    }
    DocTree(doc.fonts, pages)
  }
}
