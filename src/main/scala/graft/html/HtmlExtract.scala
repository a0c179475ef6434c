package graft.html

import graft.job.RowSeam
import graft.job.RowSeam.nonNull
import graft.model.{ExtractedDoc, Span}
import graft.text.PyText
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.util.LongAccumulator

/** HTML main-content extraction (north_rule: "HTML boilerplate strip …
  * DOM heuristics") — the web-side counterpart of the PDF/layout kernel,
  * built from scratch on public algorithms:
  *
  *  - a tolerant streaming HTML tokenizer (no external parser — the
  *    sandbox has no jsoup, and a full DOM is unnecessary): tag stack,
  *    raw-text elements (script/style/…) skipped wholesale, comments and
  *    doctypes skipped, entities decoded with the same HTML4 table as
  *    the ftfy step (PyText.unescapeHtml), block segmentation at
  *    block-level tags;
  *  - per-block features: word count, anchor-word count (link density),
  *    heading level — the shallow-text-feature representation of
  *    Kohlschütter et al., "Boilerplate Detection using Shallow Text
  *    Features" (WSDM 2010);
  *  - the paper's published NumWordsRules decision tree over
  *    (prev, curr, next) classifies each block content vs boilerplate
  *    (navigation, footers, link lists — high link density or short
  *    isolated text);
  *  - a heading re-attachment pass keeps a heading when its following
  *    block is content (headings are short, so the raw tree drops them).
  *
  * Output is the pipeline's own shape — `ExtractedDoc(doc_id, spans,
  * text)` with spans (kind ∈ {heading, body, list, table, image},
  * offset = emission order) — so everything downstream of the PDF
  * kernel (corpus ops, dedup, CorpusPrep, packing) composes unchanged:
  * kept tables arrive as CSV-ish text exactly like the PDF side's table
  * pass-through, and inline images as media_ref-bearing spans like the
  * PDF side's media pass-through (interleaved text + media).
  *
  * Scale shape: one pure function per row inside mapPartitions — map-only,
  * zero shuffle, embarrassingly parallel; identical deployment layout to
  * the PDF kernel (ingest bucketing, chunked resume).
  */
object HtmlExtract {

  /** One text block with its shallow features. `kind` tags the block's
    * structural origin: "body" (default), "list" (accumulated inside a
    * ul/ol item), or "table" (a whole table captured as CSV-ish text) —
    * classification ignores it; it only steers the emitted span kind so
    * web and PDF corpora share a uniform table/list side-channel (the PDF
    * side's S6 table-CSV pass-through, Extractor.scala).
    */
  final case class Block(text: String, words: Int, linkWords: Int,
      heading: Int, kind: String = "body") {
    def linkDensity: Double =
      if (words == 0) 0.0 else linkWords.toDouble / words
  }

  /** Tags that open/close a text block. */
  private val BlockTags = Set(
    "address", "article", "aside", "blockquote", "br", "caption", "dd",
    "div", "dl", "dt", "fieldset", "figcaption", "figure", "footer",
    "form", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "li",
    "main", "nav", "ol", "p", "pre", "section", "table", "tbody", "td",
    "tfoot", "th", "thead", "tr", "ul")

  /** Raw-text elements: content ends ONLY at the matching close tag (may
    * contain unescaped '<'), per the HTML parsing spec.
    */
  private val RawTextTags = Set("script", "style", "textarea", "title")

  /** Non-content containers holding normal markup: their text is
    * discarded while a nesting counter is open (NOT raw-skipped — an
    * omitted close tag must not eat the document, and they nest).
    */
  private val ContainerSkipTags = Set(
    "noscript", "template", "svg", "iframe", "object", "select",
    "button", "canvas", "audio", "video")

  /** Tags legal inside <head>. Any OTHER open tag auto-closes an open
    * head like a browser's tree builder does — HTML5 allows omitting BOTH
    * `</head>` and `<body>`, and without this rule such pages would keep
    * inHead set forever and extract to empty.
    */
  private val HeadAllowedTags = Set(
    "head", "html", "base", "basefont", "bgsound", "link", "meta",
    "title", "style", "script", "noscript", "template")


  /** Tokenize + segment an HTML document into text blocks. Tolerant by
    * construction: unknown tags are inline no-ops, unclosed tags never
    * error (there is no tree to unbalance), stray `<` is text, attribute
    * values may contain `>` when quoted.
    */
  def blocks(html: String): Vector[Block] = tokenize(html)._1

  /** Out-links in document order: (href, anchor text), entity-decoded and
    * whitespace-normalized — the crawl-frontier / URL-graph primitive
    * (compose hrefs with Web.canonicalUrl + urlDedup). One pass of the
    * same tolerant tokenizer: links inside raw-text (script strings) and
    * skip containers (svg/noscript/template) are NOT links — and a skip-
    * container <a> never implicitly closes an outer HTML anchor; an <a>
    * appearing inside <head> auto-closes the head (it is not head-legal
    * content — browser behavior) and IS collected as a body link; a
    * nested/unclosed <a> implicitly closes the previous one like a
    * browser's tree builder; anchors without an href (fragment targets)
    * are skipped.
    */
  def links(html: String): Vector[(String, String)] = tokenize(html)._2

  /** Inline images as (anchorBlockIdx, src, alt): anchorBlockIdx is the
    * index of the block being accumulated when the <img> was seen (=
    * the block the image interrupts or precedes), which classification
    * uses to decide whether the image belongs to kept content. See
    * extractRow for the keep rule and emission order.
    */
  def images(html: String): Vector[(Int, String, String)] = tokenize(html)._3

  /** Page-level crawl metadata: <title> text, <html lang>, the
    * rel=canonical link (a SELF-declared canonical URL — feed it to
    * urlDedup in preference to the fetch URL), meta description, meta
    * robots (noindex/nofollow gate web corpora before extraction), and
    * <base href> (the document's declared resolution base for relative
    * links — see resolveRef/extractLinks). Empty string = absent; first
    * occurrence wins (browser behavior) — EXCEPT robots, where multiple
    * meta tags union their comma-joined directives so the most
    * restrictive applies (crawler convention).
    */
  final case class PageMeta(title: String, lang: String, canonical: String,
      description: String, robots: String, base: String)

  def pageMeta(html: String): PageMeta = tokenize(html)._4

  /** The page's effective resolution base, browser order: the declared
    * <base href> (itself resolved against the page URL when both exist),
    * else the page URL; null when neither is known. Shared by
    * extractLinks and extractAllRow so the two can never diverge.
    */
  private def effectiveBaseOf(meta: PageMeta, pageUrl: String): String =
    if (meta.base.isEmpty) pageUrl
    else if (pageUrl == null) meta.base
    else resolveRef(pageUrl, meta.base)

  /** rel=canonical resolved to ABSOLUTE form when a page URL is known —
    * a relative canonical ("/index") is host-ambiguous and would wrongly
    * merge distinct sites into one urlDedup group. Resolution uses the
    * same effective base as links (<base href> applies to <link>
    * elements per the HTML spec).
    */
  private def resolvedCanonical(meta: PageMeta, pageUrl: String): String =
    if (meta.canonical.isEmpty) ""
    else {
      val b = effectiveBaseOf(meta, pageUrl)
      if (b == null) meta.canonical else resolveRef(b, meta.canonical)
    }

  /** RFC 3986 §5 reference resolution, hand-rolled: java.net.URI
    * implements the OLDER RFC 2396, which (verified on this JVM)
    * mis-resolves query-only refs ("?page=2" must KEEP the base path —
    * every pagination link) and leaves above-root dot segments in place
    * ("../../x" against "https://e/a/" must collapse to "https://e/x",
    * not "https://e/../x"). This is the §5.2.2 transform + §5.2.4
    * remove_dot_segments over the appendix-B component split — pure
    * string slicing, total (no URI grammar rejection: an href with raw
    * spaces resolves with the spaces kept, which a frontier prefers to
    * losing the row). A schemeless base cannot anchor resolution — the
    * href is returned verbatim.
    */
  def resolveRef(base: String, href: String): String = {
    // appendix-B split: (scheme, authority, path, query, fragment) —
    // query/fragment as Option to distinguish absent from empty
    def split(u: String): (Option[String], Option[String], String,
        Option[String], Option[String]) = {
      var rest = u
      val hashIdx = rest.indexOf('#')
      val frag = if (hashIdx < 0) None else {
        val f = rest.substring(hashIdx + 1); rest = rest.substring(0, hashIdx); Some(f)
      }
      val qIdx = rest.indexOf('?')
      val query = if (qIdx < 0) None else {
        val q = rest.substring(qIdx + 1); rest = rest.substring(0, qIdx); Some(q)
      }
      val colon = rest.indexOf(':')
      val slash = rest.indexOf('/')
      val scheme =
        if (colon > 0 && (slash < 0 || colon < slash) &&
            rest.substring(0, colon).forall(c => c.isLetterOrDigit || c == '+' ||
              c == '-' || c == '.') && rest.charAt(0).isLetter) {
          val s = rest.substring(0, colon); rest = rest.substring(colon + 1); Some(s)
        } else None
      val auth =
        if (rest.startsWith("//")) {
          val end = rest.indexWhere(c => c == '/', 2) match {
            case -1 => rest.length
            case e => e
          }
          val a = rest.substring(2, end); rest = rest.substring(end); Some(a)
        } else None
      (scheme, auth, rest, query, frag)
    }
    // RFC 3986 §5.2.4
    def removeDotSegments(p: String): String = {
      val out = new StringBuilder
      var in = p
      while (in.nonEmpty) {
        if (in.startsWith("../")) in = in.substring(3)
        else if (in.startsWith("./")) in = in.substring(2)
        else if (in.startsWith("/./")) in = "/" + in.substring(3)
        else if (in == "/.") in = "/"
        else if (in.startsWith("/../") || in == "/..") {
          in = if (in == "/..") "/" else "/" + in.substring(4)
          val cut = out.lastIndexOf("/")
          out.setLength(math.max(0, cut))
        } else if (in == "." || in == "..") in = ""
        else {
          val next = in.indexOf('/', 1)
          val seg = if (next < 0) in else in.substring(0, next)
          out.append(seg)
          in = if (next < 0) "" else in.substring(next)
        }
      }
      out.toString
    }
    def mergePaths(baseAuth: Option[String], basePath: String, refPath: String): String =
      if (baseAuth.isDefined && basePath.isEmpty) "/" + refPath
      else {
        val cut = basePath.lastIndexOf('/')
        (if (cut < 0) "" else basePath.substring(0, cut + 1)) + refPath
      }
    if (base == null) return href
    if (href == null) return base
    val (bScheme, bAuth, bPath, bQuery, _) = split(base)
    if (bScheme.isEmpty) return href // relative base: nothing to anchor on
    val (rScheme, rAuth, rPath, rQuery, rFrag) = split(href)
    val (scheme, auth, path, query) =
      if (rScheme.isDefined) (rScheme, rAuth, removeDotSegments(rPath), rQuery)
      else if (rAuth.isDefined) (bScheme, rAuth, removeDotSegments(rPath), rQuery)
      else if (rPath.isEmpty)
        (bScheme, bAuth, bPath, if (rQuery.isDefined) rQuery else bQuery)
      else if (rPath.startsWith("/"))
        (bScheme, bAuth, removeDotSegments(rPath), rQuery)
      else (bScheme, bAuth, removeDotSegments(mergePaths(bAuth, bPath, rPath)), rQuery)
    val sb = new StringBuilder
    scheme.foreach(s => sb.append(s).append(':'))
    auth.foreach(a => sb.append("//").append(a))
    sb.append(path)
    query.foreach(q => sb.append('?').append(q))
    rFrag.foreach(f => sb.append('#').append(f))
    sb.toString
  }

  /** Case-insensitive attribute lookup inside a tag's attribute source
    * (the text between tag name and '>'): quoted or unquoted value per
    * the HTML5 attribute grammar; None when the attribute is absent.
    */
  private[graft] def attrValue(src: String, attr: String): Option[String] = {
    // sequential attribute walk (not substring search: 'href=/x' inside
    // ANOTHER attribute's quoted value must not match)
    var i = 0
    val n = src.length
    while (i < n) {
      // skip whitespace and stray self-closing slashes between attributes
      while (i < n && (Character.isWhitespace(src.charAt(i)) || src.charAt(i) == '/'))
        i += 1
      val nameStart = i
      while (i < n && !Character.isWhitespace(src.charAt(i)) && src.charAt(i) != '=')
        i += 1
      val name = src.substring(nameStart, i)
      while (i < n && Character.isWhitespace(src.charAt(i))) i += 1
      var value: Option[String] = None
      if (i < n && src.charAt(i) == '=') {
        i += 1
        while (i < n && Character.isWhitespace(src.charAt(i))) i += 1
        if (i >= n) value = Some("")
        else {
          val c = src.charAt(i)
          if (c == '"' || c == '\'') {
            val e = src.indexOf(c, i + 1)
            value = Some(if (e < 0) src.substring(i + 1) else src.substring(i + 1, e))
            i = if (e < 0) n else e + 1
          } else {
            val s = i
            while (i < n && !Character.isWhitespace(src.charAt(i))) i += 1
            value = Some(src.substring(s, i))
          }
        }
      }
      if (name.equalsIgnoreCase(attr)) return value // bare attr -> None
      // progress guarantee: an empty name implies charAt(i) == '=' (the
      // only non-ws char the name loop stops on), and the value branch
      // above always advanced past it — every iteration moves i forward
    }
    None
  }

  private def tokenize(html: String)
      : (Vector[Block], Vector[(String, String)], Vector[(Int, String, String)],
         PageMeta) = {
    // page metadata (see pageMeta()): first occurrence wins, "" = absent
    var metaTitle = ""
    var metaLang = ""
    var metaCanonical = ""
    var metaDescription = ""
    var metaRobots = ""
    var metaBase = ""
    val out = Vector.newBuilder[Block]
    val text = new StringBuilder
    val anchorText = new StringBuilder
    var aDepth = 0
    var headingLevel = 0
    var skipDepth = 0 // open ContainerSkipTags
    var listDepth = 0 // open ul/ol: blocks flushed inside get kind "list"
    // <head> auto-closes at <body>, at any non-head-legal open tag, or at
    // non-whitespace text, like a browser's tree builder (HTML5 permits
    // omitting </head> AND <body> — neither may discard the document)
    var inHead = false
    // table capture: while a <table> is open, cell flushes accumulate as
    // (rowIdx, text, words, linkWords) instead of emitting blocks; the
    // close back to depth 0 emits ONE kind="table" block with CSV-ish
    // text (rows = lines, cells comma-joined, RFC-4180 quoting). Nested
    // tables are flattened into the outer capture as extra rows.
    var tableDepth = 0
    var tableRowIdx = 0
    val tableCells =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, Int, Int)]
    // out-link collection (see links()): href of the open anchor + its
    // accumulating anchor text; emitted at </a>, at an implicit close
    // (next <a> open), or at EOF
    val outLinks = Vector.newBuilder[(String, String)]
    var linkHref: String = null
    val linkText = new StringBuilder
    // inline images (the interleaved text+media face of the web kernel):
    // (index of the block being accumulated when <img> was seen, src,
    // alt) — images inside tables or skip containers are not content
    // images (an <img> in <head> auto-closes the head, like any other
    // non-head-legal tag)
    val outImages = Vector.newBuilder[(Int, String, String)]
    var blockCount = 0
    def emitLink(): Unit = {
      if (linkHref != null) {
        outLinks += ((linkHref,
          PyText.unescapeHtml(linkText.toString).trim.replaceAll("\\s+", " ")))
        linkHref = null
      }
      linkText.setLength(0)
    }

    def words(s: String): Int = {
      var n = 0; var in = false
      s.foreach { c =>
        if (Character.isWhitespace(c)) in = false
        else if (!in) { in = true; n += 1 }
      }
      n
    }
    def flush(): Unit = {
      val t = PyText.unescapeHtml(text.toString).trim
        .replaceAll("\\s+", " ")
      val w = words(t)
      if (w > 0) {
        val lw = math.min(w, words(PyText.unescapeHtml(anchorText.toString)))
        if (tableDepth > 0) tableCells += ((tableRowIdx, t, w, lw))
        else {
          out += Block(t, w, lw, headingLevel,
            if (listDepth > 0) "list" else "body")
          blockCount += 1
        }
      }
      text.clear(); anchorText.clear()
    }
    def csvCell(s: String): String =
      if (s.exists(c => c == ',' || c == '"' || c == '\n'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    def flushTable(): Unit = {
      flush()
      if (tableCells.nonEmpty) {
        val csv = tableCells.groupBy(_._1).toSeq.sortBy(_._1)
          .map(_._2.map(c => csvCell(c._2)).mkString(","))
          .mkString("\n")
        val w = tableCells.iterator.map(_._3).sum
        out += Block(csv, w,
          math.min(w, tableCells.iterator.map(_._4).sum), 0, "table")
        blockCount += 1
      }
      tableCells.clear(); tableRowIdx = 0
    }

    val n = html.length
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (c1 == '!' || c1 == '?') {
          // comment or doctype/PI
          if (html.startsWith("<!--", i)) {
            val e = html.indexOf("-->", i + 4)
            i = if (e < 0) n else e + 3
          } else {
            val e = html.indexOf('>', i)
            i = if (e < 0) n else e + 1
          }
        } else if (c1 == '/' || Character.isLetter(c1)) {
          val closing = c1 == '/'
          var j = i + (if (closing) 2 else 1)
          val nameStart = j
          while (j < n && (Character.isLetterOrDigit(html.charAt(j)) ||
            html.charAt(j) == '-')) j += 1
          val name = html.substring(nameStart, j)
            .toLowerCase(java.util.Locale.ROOT)
          // scan to the tag end, honouring quoted attribute values
          var quote = 0.toChar
          while (j < n && (quote != 0 || html.charAt(j) != '>')) {
            val cj = html.charAt(j)
            if (quote != 0) { if (cj == quote) quote = 0 }
            else if (cj == '"' || cj == '\'') quote = cj
            j += 1
          }
          // '/>' marks self-closing only in its XML/void-element shape —
          // directly after the tag name, or after whitespace or a quoted
          // value. Per HTML5 a '/' inside an UNQUOTED attribute value
          // ('<a href=http://x.com/>') is part of the value, and treating
          // it as self-closing would desynchronize anchor tracking.
          val selfClosed = j > nameStart && j < n && quote == 0 &&
            html.charAt(j - 1) == '/' && {
              val before = html.charAt(j - 2)
              j - 1 == nameStart + name.length ||
                Character.isWhitespace(before) || before == '"' || before == '\''
            }
          i = if (j < n) j + 1 else n
          if (name.nonEmpty) {
            // browser-style head auto-close: any open tag that is not
            // legal head content implies the body has started — but not
            // from inside a skip container (markup within a head-level
            // <template>/<noscript> stays out of the insertion-mode
            // decision, like a browser's)
            if (inHead && !closing && skipDepth == 0 && !HeadAllowedTags(name))
              inHead = false
            if (!closing && RawTextTags(name) && !selfClosed) {
              // raw-skip to the matching close tag: "</name" followed by
              // a delimiter ('>', '/', or whitespace) — a bare prefix
              // match would let '</header>' terminate a 'head'-like skip
              val lower = "</" + name
              val rawStart = i
              var contentEnd = n
              var k = i
              var found = -1
              while (found < 0 && k >= 0) {
                k = html.indexOf('<', k)
                if (k < 0) found = n
                else if (html.regionMatches(true, k, lower, 0, lower.length) && {
                    val d = k + lower.length
                    d >= n || html.charAt(d) == '>' || html.charAt(d) == '/' ||
                      Character.isWhitespace(html.charAt(d))
                  }) {
                  contentEnd = k
                  found = { val e = html.indexOf('>', k); if (e < 0) n else e + 1 }
                } else k += 1
              }
              // the raw-skipped <title> content IS the page title; capped
              // at 500 chars — an UNCLOSED <title> makes the rest of the
              // document the title (browsers render it that way too), and
              // a multi-megabyte metadata string must not ship per row on
              // a crawl where truncated pages are routine
              if (name == "title" && metaTitle.isEmpty && skipDepth == 0) {
                val raw = html.substring(rawStart,
                  math.min(contentEnd, rawStart + 4000)) // pre-cap raw work
                val t = PyText.unescapeHtml(raw).trim.replaceAll("\\s+", " ")
                if (t.nonEmpty) metaTitle = t.take(500)
              }
              i = found
            } else if (name == "head") {
              // literal head/body tags inside a skip container must not
              // flip the head state either (same guard as the two
              // auto-close paths)
              if (skipDepth == 0) inHead = !closing && !selfClosed
            } else if (name == "body") {
              if (skipDepth == 0) inHead = false // head auto-closes, like a browser
            } else if (name == "html" || name == "link" || name == "meta" ||
                name == "base") {
              // page-metadata tags (all head-legal; first occurrence wins)
              def attrs = html.substring(nameStart + name.length, math.min(j, n))
              if (!closing && skipDepth == 0) name match {
                case "html" =>
                  if (metaLang.isEmpty)
                    attrValue(attrs, "lang").map(_.trim).filter(_.nonEmpty)
                      .foreach(metaLang = _)
                case "base" =>
                  if (metaBase.isEmpty)
                    attrValue(attrs, "href")
                      .map(v => PyText.unescapeHtmlAttr(v).trim).filter(_.nonEmpty)
                      .foreach(metaBase = _)
                case "link" =>
                  // rel is a SPACE-SEPARATED token set per HTML
                  // (rel="canonical alternate" declares both)
                  if (metaCanonical.isEmpty &&
                      attrValue(attrs, "rel").exists(_.split("\\s+")
                        .exists(_.equalsIgnoreCase("canonical"))))
                    attrValue(attrs, "href")
                      .map(v => PyText.unescapeHtmlAttr(v).trim).filter(_.nonEmpty)
                      .foreach(metaCanonical = _)
                case _ =>
                  val nm = attrValue(attrs, "name")
                    .map(_.trim.toLowerCase(java.util.Locale.ROOT))
                  if (nm.contains("description") && metaDescription.isEmpty)
                    attrValue(attrs, "content")
                      .map(v => PyText.unescapeHtmlAttr(v).trim.replaceAll("\\s+", " "))
                      .filter(_.nonEmpty).foreach(metaDescription = _)
                  else if (nm.contains("robots"))
                    // robots is NOT first-wins: multiple robots metas
                    // union, so the most restrictive directive applies
                    // (crawler convention) — token checks downstream see
                    // every declared directive
                    attrValue(attrs, "content")
                      .map(_.trim.toLowerCase(java.util.Locale.ROOT))
                      .filter(_.nonEmpty).foreach { v =>
                        metaRobots =
                          if (metaRobots.isEmpty) v else metaRobots + "," + v
                      }
              }
            } else if (ContainerSkipTags(name)) {
              if (closing) skipDepth = math.max(0, skipDepth - 1)
              else if (!selfClosed) skipDepth += 1
            } else if (name == "table") {
              flush()
              headingLevel = 0
              if (closing) {
                if (tableDepth > 0) {
                  tableDepth -= 1
                  if (tableDepth == 0) flushTable()
                  else tableRowIdx += 1 // leaving a nested (flattened) table
                }
              } else if (!selfClosed) {
                if (tableDepth > 0) tableRowIdx += 1 // nested: new row
                tableDepth += 1
              }
            } else if (BlockTags(name)) {
              flush()
              if (tableDepth > 0) {
                // heading AND list bookkeeping are both suppressed while
                // a table capture is open — an unclosed <ul> inside a
                // captured table must not leave listDepth elevated (and
                // tag every later body block "list") for the rest of the
                // document
                if (!closing && name == "tr") tableRowIdx += 1
              } else {
                if (!closing && name.length == 2 && name.charAt(0) == 'h' &&
                    name.charAt(1) >= '1' && name.charAt(1) <= '6')
                  headingLevel = name.charAt(1) - '0'
                else headingLevel = 0 // any other block boundary ends a heading
                if (name == "ul" || name == "ol") {
                  if (closing) listDepth = math.max(0, listDepth - 1)
                  else if (!selfClosed) listDepth += 1
                }
              }
            } else if (name == "img") {
              // (inHead is necessarily false here: <img> is not
              // head-legal, so the auto-close above just cleared it)
              if (!closing && skipDepth == 0 && tableDepth == 0) {
                val attrs = html.substring(nameStart + name.length, math.min(j, n))
                attrValue(attrs, "src")
                  .map(v => PyText.unescapeHtmlAttr(v).trim).filter(_.nonEmpty)
                  .foreach { src =>
                    val alt = attrValue(attrs, "alt")
                      .map(v => PyText.unescapeHtmlAttr(v).trim.replaceAll("\\s+", " "))
                      .getOrElse("")
                    outImages += ((blockCount, src, alt))
                  }
              }
            } else if (name == "a") {
              // anchors inside skip containers (an SVG <a>, a template)
              // are invisible to link collection AND must not implicitly
              // close an outer HTML anchor or truncate its text — only
              // the depth bookkeeping runs
              if (closing) {
                aDepth = math.max(0, aDepth - 1)
                if (skipDepth == 0) emitLink()
              } else {
                if (skipDepth == 0) {
                  emitLink() // implicit close of an unclosed previous anchor
                  linkHref = attrValue(
                    html.substring(nameStart + name.length, math.min(j, n)), "href")
                    .map(v => PyText.unescapeHtmlAttr(v).trim)
                    .filter(_.nonEmpty).orNull
                  if (selfClosed) emitLink()
                }
                if (!selfClosed) aDepth += 1
              }
            }
            // other inline tags (<b>, <em>, <span>, …) contribute nothing:
            // browsers render 'Te<em>il</em>wort' as one word, and an
            // inserted separator would split it (and skew word counts)
          }
        } else { text.append(c); i += 1 } // stray '<'
      } else {
        // non-whitespace character tokens also auto-close an open head
        // (browser "in head" insertion mode pops to body on them) —
        // again not from inside a skip container
        if (inHead && skipDepth == 0 && !Character.isWhitespace(c))
          inHead = false
        if (skipDepth == 0 && !inHead) {
          text.append(c)
          if (aDepth > 0) anchorText.append(c)
          if (linkHref != null) linkText.append(c)
        }
        i += 1
      }
    }
    if (tableDepth > 0) flushTable() else flush() // unclosed table at EOF
    emitLink() // unclosed anchor at EOF
    (out.result(), outLinks.result(), outImages.result(),
      PageMeta(metaTitle, metaLang, metaCanonical, metaDescription,
        metaRobots, metaBase))
  }

  /** The published NumWordsRules decision tree (Kohlschütter et al.,
    * WSDM 2010; boilerpipe's NumWordsRulesClassifier): classify block i
    * from (prev, curr, next) link densities and word counts. Missing
    * neighbours contribute zero features.
    */
  def isContent(prev: Option[Block], curr: Block, next: Option[Block]): Boolean = {
    val prevWords = prev.map(_.words).getOrElse(0)
    val nextWords = next.map(_.words).getOrElse(0)
    val prevLd = prev.map(_.linkDensity).getOrElse(0.0)
    if (curr.linkDensity > 0.333333) false
    else if (prevLd > 0.555556) {
      curr.words > 40 || nextWords > 17
    } else {
      curr.words > 16 || nextWords > 15 || prevWords > 4
    }
  }

  /** Classify all blocks; then the heading re-attachment pass: a heading
    * whose next block is kept is kept too (headings are short, so the
    * word-count tree alone discards them — but a heading is the title OF
    * its content).
    */
  def classify(bs: Vector[Block]): Vector[(Block, Boolean)] = {
    val raw = bs.indices.map { i =>
      isContent(if (i > 0) Some(bs(i - 1)) else None, bs(i),
        if (i + 1 < bs.length) Some(bs(i + 1)) else None)
    }.toArray
    var i = bs.length - 2
    while (i >= 0) {
      if (!raw(i) && bs(i).heading > 0 && raw(i + 1) &&
          bs(i).linkDensity <= 0.333333) raw(i) = true
      i -= 1
    }
    bs.zip(raw.toVector)
  }

  /** Per-document kernel: strip boilerplate, emit the pipeline's span
    * shape — INTERLEAVED text + media like the PDF kernel. Span kinds:
    * `table` (CSV-ish capture of a kept table — the web twin of the PDF
    * side's S6 table-CSV pass-through), `heading` (level kept in
    * `media_ref` as `h<level>` — the span struct has no level field),
    * `list` (ul/ol item blocks), `image` (an inline <img> whose anchor
    * block is kept content: media_ref = src, text = alt — the HTML twin
    * of the PDF media span, whose alt text is real document text),
    * `body` (everything else). An image is content iff the block it
    * interrupts/precedes is content (boilerplate images — logos, nav
    * icons, tracking pixels — sit in boilerplate blocks); it is emitted
    * just before its anchor block, trailing images after the last block.
    * Images are NOT part of `text` (the reference excludes media from
    * the text flow, doc_info.py:295-301).
    */
  def extractRow(docId: String, html: String): ExtractedDoc = {
    val (bs, _, imgs, _) = tokenize(html)
    assembleSpans(docId, bs, imgs)
  }

  /** Classified blocks + images -> the interleaved span sequence and the
    * text flow (shared by extractRow and the one-pass extractAll).
    */
  private def assembleSpans(docId: String, bs: Vector[Block],
      imgs: Vector[(Int, String, String)]): ExtractedDoc = {
    val classified = classify(bs)
    val pre = imgs.filter(_._1 < bs.length).groupBy(_._1)
    val trailing = imgs.filter(_._1 >= bs.length)
    val spans = Vector.newBuilder[Span]
    var off = 0
    def emit(kind: String, text: String, ref: String): Unit = {
      spans += Span(kind, text, ref, off); off += 1
    }
    classified.zipWithIndex.foreach { case ((b, keep), i) =>
      if (keep) {
        pre.getOrElse(i, Vector.empty).foreach { case (_, src, alt) =>
          emit("image", alt, src)
        }
        val kind =
          if (b.kind == "table") "table"
          else if (b.heading > 0) "heading"
          else b.kind // "list" | "body"
        emit(kind, b.text, if (b.heading > 0) s"h${b.heading}" else "")
      }
    }
    if (classified.nonEmpty && classified.last._2)
      trailing.foreach { case (_, src, alt) => emit("image", alt, src) }
    ExtractedDoc(docId, spans.result(),
      classified.collect { case (b, true) => b.text }.mkString("\n\n"))
  }

  /** One out-link row of [[extractAll]]. */
  final case class LinkRow(offset: Int, href: String, anchor: String,
      resolved: String)

  /** The one-pass web-document row: main-content spans + text, resolved
    * out-links, and page metadata together. `url` is the input page URL
    * passed through verbatim (provenance + the dedup fallback when no
    * rel=canonical is declared); null when no pageUrlCol was given.
    */
  final case class WebDoc(doc_id: String, spans: Seq[Span], text: String,
      links: Seq[LinkRow], title: String, lang: String, canonical: String,
      description: String, robots: String, base: String, url: String)

  /** THE one definition of per-link resolution (extractAllRow and
    * extractLinks both call it — they can never diverge).
    */
  private def resolvedLinks(ls: Vector[(String, String)], meta: PageMeta,
      pageUrl: String): Vector[LinkRow] = {
    val effectiveBase = effectiveBaseOf(meta, pageUrl)
    ls.zipWithIndex.map { case ((href, anchor), idx) =>
      LinkRow(idx, href, anchor,
        if (effectiveBase == null) href else resolveRef(effectiveBase, href))
    }
  }

  /** ONE-pass kernel: spans + links + metadata from a single tokenize
    * (see extractAll).
    */
  def extractAllRow(docId: String, html: String, pageUrl: String): WebDoc = {
    val (bs, ls, imgs, meta) = tokenize(html)
    val doc = assembleSpans(docId, bs, imgs)
    WebDoc(docId, doc.spans, doc.text, resolvedLinks(ls, meta, pageUrl),
      meta.title, meta.lang, resolvedCanonical(meta, pageUrl),
      meta.description, meta.robots, meta.base, pageUrl)
  }

  /** The production web operator at 100 TB: [[extract]], [[extractLinks]]
    * and [[extractPageMeta]] each tokenize the page; a pipeline that
    * needs all three (the normal crawl shape: content + frontier +
    * canonical dedup URL) pays the hot path three times. This emits all
    * of it from ONE tokenize pass per page — map-only, zero shuffle;
    * project/explode the struct columns downstream. Without `pageUrlCol`
    * the resolved link field is resolved against the page's declared
    * <base href> when present (still the best available anchor), else it
    * carries the raw href — identical to extractLinks with a null url
    * cell. HtmlSpec pins per-field equivalence with the three
    * single-surface operators.
    */
  def extractAll(df: DataFrame, idCol: String = "doc_id",
      htmlCol: String = "html", pageUrlCol: Option[String] = None,
      failedAcc: Option[LongAccumulator] = None): Dataset[WebDoc] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("string"), col(htmlCol).cast("string"), stringOrNull(pageUrlCol))
      .as[(String, String, String)]
      .mapPartitions(rows => RowSeam(rows, failedAcc)(_._1) { case (id, html, pageUrl) =>
        extractAllRow(nonNull(id, "doc_id"), nonNull(html, "html"), pageUrl)
      })
  }

  /** The optional string column `c`, or a null literal. */
  private def stringOrNull(c: Option[String]) =
    c.map(col(_).cast("string")).getOrElse(lit(null.asInstanceOf[String]))

  /** Corpus operator: map-only, zero shuffle (the whole point — same
    * deployment shape as the PDF kernel). Rows fail through
    * [[graft.job.RowSeam]], a null id or html cell included.
    */
  def extract(df: DataFrame, idCol: String = "doc_id",
      htmlCol: String = "html",
      failedAcc: Option[LongAccumulator] = None): Dataset[ExtractedDoc] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("string"), col(htmlCol).cast("string"))
      .as[(String, String)]
      .mapPartitions(rows => RowSeam(rows, failedAcc)(_._1) { case (id, html) =>
        extractRow(nonNull(id, "doc_id"), nonNull(html, "html"))
      })
  }

  /** Out-link operator: (doc_id, offset, href, anchor) rows in document
    * order — the crawl-frontier / URL-graph feed (canonicalize + dedup
    * the hrefs with Web.canonicalUrl / urlDedup downstream). With
    * `pageUrlCol` set, adds a `resolved` column: every href made
    * absolute per RFC 3986 against the page's effective base — the
    * document's <base href> (itself resolved against the page URL) when
    * declared, else the page URL — exactly a browser's resolution
    * order. Map-only, zero shuffle; a page's links are one value of
    * [[graft.job.RowSeam]], flattened after it.
    */
  def extractLinks(df: DataFrame, idCol: String = "doc_id",
      htmlCol: String = "html", pageUrlCol: Option[String] = None,
      failedAcc: Option[LongAccumulator] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    pageUrlCol match {
      case None =>
        df.select(col(idCol).cast("string"), col(htmlCol).cast("string"))
          .as[(String, String)]
          .mapPartitions(rows => RowSeam(rows, failedAcc)(_._1) { case (id, html) =>
            nonNull(id, "doc_id")
            links(nonNull(html, "html")).zipWithIndex.map {
              case ((href, anchor), idx) => (id, idx, href, anchor)
            }
          }.flatten)
          .toDF("doc_id", "offset", "href", "anchor")
      case Some(urlCol) =>
        df.select(col(idCol).cast("string"), col(htmlCol).cast("string"),
            col(urlCol).cast("string"))
          .as[(String, String, String)]
          .mapPartitions(rows => RowSeam(rows, failedAcc)(_._1) { case (id, html, pageUrl) =>
            nonNull(id, "doc_id")
            val (_, ls, _, meta) = tokenize(nonNull(html, "html"))
            resolvedLinks(ls, meta, pageUrl)
              .map(l => (id, l.offset, l.href, l.anchor, l.resolved))
          }.flatten)
          .toDF("doc_id", "offset", "href", "anchor", "resolved")
    }
  }

  /** Page-metadata operator: (doc_id, title, lang, canonical,
    * description, robots, base) — one row per page, map-only. The
    * crawl-side uses: `canonical` feeds urlDedup in preference to the
    * fetch URL, `robots` gates noindex pages out of a corpus, `lang`
    * seeds/checks language ID, `title`/`description` are high-signal
    * text for dedup and quality. With `pageUrlCol` set, `canonical` is
    * RESOLVED to absolute form against the page's effective base — a
    * relative rel=canonical ("/index") is host-ambiguous and would
    * wrongly merge distinct sites in urlDedup. Rows fail through
    * [[graft.job.RowSeam]].
    */
  def extractPageMeta(df: DataFrame, idCol: String = "doc_id",
      htmlCol: String = "html", pageUrlCol: Option[String] = None,
      failedAcc: Option[LongAccumulator] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("string"), col(htmlCol).cast("string"), stringOrNull(pageUrlCol))
      .as[(String, String, String)]
      .mapPartitions(rows => RowSeam(rows, failedAcc)(_._1) { case (id, html, pageUrl) =>
        nonNull(id, "doc_id")
        val m = pageMeta(nonNull(html, "html"))
        (id, m.title, m.lang, resolvedCanonical(m, pageUrl),
          m.description, m.robots, m.base)
      })
      .toDF("doc_id", "title", "lang", "canonical", "description", "robots",
        "base")
  }

  // ---------- byte-level ingest (crawl-native input) ----------
  // Real crawl corpora arrive as bytes + Content-Type; the charset mess
  // (BOM'd pages, windows-1252 mislabeled as latin1, undeclared
  // encodings) is resolved by HtmlCharset's browser-style sniffing
  // ladder HERE, inside the kernel, instead of being silently pushed
  // onto the caller — where a wrong decode would be masked downstream
  // by the PyText mojibake repair.

  /** A decode the charset ladder REFUSED (binary magic under a text
    * label — see [[HtmlCharset.decodeWithCharset]]): throw so the
    * caller's per-row failure seam counts it, instead of the old path
    * where a compressed body silently decoded as windows-1252 noise.
    */
  private def decodeOrFail(docId: String, bytes: Array[Byte],
      contentType: String): String = {
    val s = HtmlCharset.decode(bytes, contentType)
    if (s == null)
      throw new IllegalArgumentException(
        s"$docId: binary payload under a text decode (magic sniff)")
    s
  }

  /** Byte-level [[extractRow]]: sniff + decode, then extract. */
  def extractRowBytes(docId: String, bytes: Array[Byte],
      contentType: String): ExtractedDoc =
    extractRow(docId, decodeOrFail(docId, bytes, contentType))

  /** Byte-level [[extractAllRow]]. */
  def extractAllRowBytes(docId: String, bytes: Array[Byte],
      contentType: String, pageUrl: String): WebDoc =
    extractAllRow(docId, decodeOrFail(docId, bytes, contentType), pageUrl)

  /** Byte-level [[extract]]: `htmlCol` is BINARY; `contentTypeCol`, when
    * given, feeds the transport layer of the sniffing ladder. Decode and
    * extraction run in the same map pass — map-only, zero shuffle, one
    * [[graft.job.RowSeam]] for both.
    */
  def extractBytes(df: DataFrame, idCol: String = "doc_id",
      htmlCol: String = "html_bytes", contentTypeCol: Option[String] = None,
      failedAcc: Option[LongAccumulator] = None): Dataset[ExtractedDoc] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("string"), col(htmlCol).cast("binary"),
        stringOrNull(contentTypeCol))
      .as[(String, Array[Byte], String)]
      .mapPartitions(rows => RowSeam(rows, failedAcc)(_._1) { case (id, bytes, ct) =>
        extractRowBytes(nonNull(id, "doc_id"), nonNull(bytes, htmlCol), ct)
      })
  }

  /** Byte-level [[extractAll]]: the one-pass crawl-ingest operator over
    * raw fetched bytes. Adds a `charset` column nowhere — the WebDoc
    * shape is unchanged; use [[HtmlCharset.sniffCharset]] for decode
    * diagnostics.
    */
  def extractAllBytes(df: DataFrame, idCol: String = "doc_id",
      htmlCol: String = "html_bytes", contentTypeCol: Option[String] = None,
      pageUrlCol: Option[String] = None,
      failedAcc: Option[LongAccumulator] = None): Dataset[WebDoc] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("string"), col(htmlCol).cast("binary"),
        stringOrNull(contentTypeCol), stringOrNull(pageUrlCol))
      .as[(String, Array[Byte], String, String)]
      .mapPartitions(rows => RowSeam(rows, failedAcc)(_._1) { case (id, bytes, ct, pageUrl) =>
        extractAllRowBytes(nonNull(id, "doc_id"), nonNull(bytes, htmlCol), ct, pageUrl)
      })
  }
}
