package graft

import graft.extract.Extractor
import graft.fixtures.Fixtures
import graft.model._
import graft.reflow.ExtractConfig
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial robustness: at corpus scale every malformed row WILL occur.
  * The kernel contract is: valid ExtractedDoc or ExtractionException —
  * never any other throwable — and deterministic output.
  */
class FuzzSpec extends AnyFunSuite {

  private val kinds = Vector("word", "line", "para", "heading", "page",
    "hdr", "ftr", "font", "image", "drawing", "table", "garbage", "", null)

  private val texts = Vector("", "a", "box=1,2,3,4", "box=", "font=f1",
    "size=12", "size=x", "k=v;k2", ";;;", "word-", "-", "\n", " ",
    "box=0.0,0.0,0.0,0.0", "font=f1;box=1.0,2.0,3.0,4.0",
    "äüß", "box=NaN,1,2,3", "level=9", "level=x", null)

  private def randomSpans(rng: Fixtures.Rng, n: Int): Seq[Span] =
    (0 until n).map { i =>
      Span(kinds(rng.nextInt(kinds.length)), texts(rng.nextInt(texts.length)),
        rng.nextInt(6) match {
          case 0 | 1 => ""
          case 2 => null
          case _ => s"ref-${rng.nextInt(5)}"
        }, i)
    }

  test("random span garbage: ExtractedDoc or ExtractionException, deterministic") {
    val cfg = ExtractConfig()
    var ok = 0
    var failed = 0
    (0L until 500L).foreach { seed =>
      val rng = new Fixtures.Rng(0xF00D + seed)
      val row = DocRow(s"fuzz-$seed", randomSpans(rng, 1 + rng.nextInt(60)))
      val first =
        try Right(Extractor.extractRow(row, cfg))
        catch {
          case e: ExtractionException => Left(e.getMessage)
          case e: Throwable => fail(s"seed=$seed unexpected ${e.getClass}: ${e.getMessage}")
        }
      val second =
        try Right(Extractor.extractRow(row, cfg))
        catch { case e: ExtractionException => Left(e.getMessage) }
      assert(first == second, s"seed=$seed nondeterministic")
      first match {
        case Right(doc) =>
          ok += 1
          // emission invariants: offsets are the emission index; kinds
          // are from the output vocabulary
          doc.spans.zipWithIndex.foreach { case (sp, i) =>
            assert(sp.offset == i, s"seed=$seed offset")
            assert(Set("header", "body", "heading", "footnotes", "footer",
              "table", "image", "drawing").contains(sp.kind), s"seed=$seed kind=${sp.kind}")
          }
        case Left(_) => failed += 1
      }
    }
    // both outcomes must actually occur, or the fuzz isn't exercising much
    assert(ok > 0 && failed > 0, s"ok=$ok failed=$failed")
  }

  test("span conservation: without hyphenation every body word survives to the text") {
    val cfg = ExtractConfig()
    (0L until 30L).foreach { seed =>
      val rng = new Fixtures.Rng(0xBEEF + seed)
      val row = Fixtures.compositeDoc(s"cons-$seed", 1 + rng.nextInt(3), rng,
        parasPerPage = 3, withMedia = false)
      val inWords = row.spans.filter(_.kind == "word").map(_.text.toLowerCase)
      val doc = Extractor.extractRow(row, cfg)
      val outText = doc.text.toLowerCase
      val outTokens = outText.split("\\s+").filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.length).toMap
      // every input body word reaches the output as a whole token, except:
      //  - header/footer words (separated + page-number-stripped profile)
      //  - the builder's known hyphen pair, which must arrive REPAIRED
      val inCounts = inWords.groupBy(identity).view.mapValues(_.length).toMap
      val stripped = Set("seite", "von", "stellungnahme", "zum", "entwurf")
      inCounts.foreach { case (w, n) =>
        if (!stripped.contains(w) && !w.forall(_.isDigit) &&
          w != "finan-" && w != "ziellen")
          assert(outTokens.getOrElse(w, 0) > 0,
            s"seed=$seed word '$w' in=$n missing\n$outText")
      }
      val nHyphenPairs = inCounts.getOrElse("finan-", 0)
      if (nHyphenPairs > 0)
        assert(outTokens.getOrElse("finanziellen", 0) >= nHyphenPairs,
          s"seed=$seed dehyphenation lost a join")
    }
  }

  test("structured-but-degenerate shapes never escape the contract") {
    val cfg = ExtractConfig()
    val shapes: Seq[Seq[Span]] = Seq(
      Seq.empty,
      Seq(Span("page", "", "", 0)),
      Seq(Span("word", "orphan", "font=f1", 0)),
      Seq(Span("line", "box=1,2,3,4", "l1", 0)),
      Seq(Span("para", "", "p1", 0)),
      Seq(Span("font", "size=12", "f1", 0)),
      Seq(Span("hdr", "", "", 0), Span("ftr", "", "", 1)),
      Seq(Span("table", "a,b\n1,2", "t1", 0)),
      // duplicate offsets
      Seq(Span("page", "", "", 0), Span("page", "", "", 0)),
      // negative offset
      Seq(Span("page", "", "", -1), Span("para", "", "p", -1)))
    shapes.zipWithIndex.foreach { case (spans, i) =>
      try Extractor.extractRow(DocRow(s"shape-$i", spans), cfg)
      catch {
        case _: ExtractionException => // contract-conform
        case e: Throwable => fail(s"shape $i: unexpected ${e.getClass}: ${e.getMessage}")
      }
    }
  }

  test("FastScan == typed path on random GARBAGE streams, doc for doc") {
    // the Tungsten-direct scanner and the typed-encoder kernel are pinned
    // equal on well-formed corpora elsewhere (PlanSpec); garbage streams
    // exercise the null/unknown-kind/malformed-attribute branches of the
    // InternalRow reader, where a divergence would silently split the two
    // production paths
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("graft-fuzz-fastscan")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val cfg = ExtractConfig()
      val rows: Seq[DocRow] = (0L until 2000L).map { seed =>
        val rng = new Fixtures.Rng(0xFA57 + seed)
        val spans = randomSpans(rng, 1 + rng.nextInt(40))
        // every fifth stream arrives shuffled, with duplicate offsets:
        // both decoders must restore the same (stable) offset order
        val perm = new scala.util.Random(seed).shuffle(spans.indices.toVector)
        DocRow(s"fz-$seed",
          if (seed % 5 == 0) spans.zip(perm).map { case (sp, p) => sp.copy(offset = p / 2) }
          else spans)
      }
      val viaFast = graft.job.FastScan
        .extract(spark.createDataset(rows).toDF(), cfg)
        .collect().map(d => d.doc_id -> d).toMap
      val viaTyped = rows.flatMap { row =>
        try Some(Extractor.extractRow(row, cfg))
        catch { case _: ExtractionException => None
                case scala.util.control.NonFatal(_) => None }
      }.map(d => d.doc_id -> d).toMap
      assert(viaFast.keySet == viaTyped.keySet,
        s"survivor sets differ: ${(viaFast.keySet diff viaTyped.keySet) ++
          (viaTyped.keySet diff viaFast.keySet)}")
      viaFast.foreach { case (id, f) =>
        assert(f.spans == viaTyped(id).spans, s"spans diverge for $id")
        assert(f.text == viaTyped(id).text, s"text diverges for $id")
      }
      assert(viaFast.nonEmpty)
    } finally spark.stop()
  }

  test("html tokenizer: random tag soup never throws, always deterministic") {
    val frags = Vector(
      "<", ">", "</", "/>", "<p", "<p>", "</p>", "<div class=\"", "\">",
      "<a href=", "'x>y'", "\"a>b\"", "</a>", "<script>", "</script>",
      "<h3>", "</h9>", "<!--", "-->", "<!DOCTYPE html>", "<head>", "<body>",
      "&amp;", "&#x41;", "&bogus;", "word ", "täxt ", "<br/>", "<svg>",
      "</svg>", "<noscript>", "<td>", "\n", "<a href=/x/>", "<em>", "</em>",
      // table/list capture machinery (round 4): unbalanced opens/closes,
      // nesting, cells outside rows, lists inside cells and vice versa
      "<table>", "</table>", "<tr>", "</tr>", "<th>", "</th>", "</td>",
      "<caption>", "<tbody>", "</tbody>", "<ul>", "</ul>", "<ol>", "</ol>",
      "<li>", "</li>", ",", "\"q\"",
      // page-metadata + image/link machinery: broken attr soup included
      "<title>", "</title>", "<meta name=description content=", "<base href=",
      "<link rel=canonical href='/c'>", "<img src=", "<img src='/i.png'>",
      "alt=\"a>b\"", "<html lang=de>", "=", "'")
    val rng = new Fixtures.Rng(777L)
    (0 until 600).foreach { _ =>
      val soup = (0 until rng.nextInt(40))
        .map(_ => frags(rng.nextInt(frags.length))).mkString
      val d1 = graft.html.HtmlExtract.extractRow("f", soup)
      val d2 = graft.html.HtmlExtract.extractRow("f", soup)
      assert(d1 == d2, soup)
      // the metadata/link/image faces are total + deterministic too
      assert(graft.html.HtmlExtract.pageMeta(soup) ==
        graft.html.HtmlExtract.pageMeta(soup), soup)
      assert(graft.html.HtmlExtract.links(soup) ==
        graft.html.HtmlExtract.links(soup), soup)
      // the one-pass row (incl. RFC 3986 resolution over fuzz hrefs and
      // markdown rendering of the result) is total + deterministic
      val w1 = graft.html.HtmlExtract.extractAllRow("f", soup, "https://f.x/a/b?q=1")
      val w2 = graft.html.HtmlExtract.extractAllRow("f", soup, "https://f.x/a/b?q=1")
      assert(w1 == w2, soup)
      assert(graft.assemble.SpanMarkdown.render(w1.spans) ==
        graft.assemble.SpanMarkdown.render(w2.spans), soup)
      // feature sanity on every block of every soup
      graft.html.HtmlExtract.blocks(soup).foreach { b =>
        assert(b.words >= 0 && b.linkWords >= 0 && b.linkWords <= b.words, soup)
        assert(Set("body", "list", "table")(b.kind), s"${b.kind}: $soup")
        // a captured table renders as CSV lines; every quoted cell must
        // have balanced quoting (round-trips through a CSV reader)
        if (b.kind == "table")
          b.text.split("\n").foreach { line =>
            assert(line.count(_ == '"') % 2 == 0, s"odd quotes [$line] in $soup")
          }
      }
    }
  }

  test("media decodeMeta: adversarial bytes fail loudly with typed errors, never hang/corrupt") {
    val rng = new Fixtures.Rng(991L)
    def rand(n: Int): Array[Byte] =
      Array.fill(n)((rng.nextLong() & 0xFF).toByte)
    val prefixes = Seq[Array[Byte]](
      Array(), "GRFT".getBytes("US-ASCII"), "RIFF????AVI ".getBytes("US-ASCII"),
      "RIFF????WAVE".getBytes("US-ASCII"), "BM".getBytes("US-ASCII"),
      Array(0x89.toByte, 'P', 'N', 'G'))
    (0 until 300).foreach { i =>
      val p = prefixes(i % prefixes.length)
      val bytes = p ++ rand(rng.nextInt(64))
      try { graft.ops.Multimodal.decodeMeta(bytes); () }
      catch {
        // the accepted loud-failure surface; anything else (OOB from an
        // overflowed bounds check, NPE, ...) fails the fuzz
        case _: IllegalArgumentException => ()
        case _: javax.sound.sampled.UnsupportedAudioFileException => ()
        case _: java.io.IOException => ()
      }
    }
    // crafted AVI with a chunk size near Int.MaxValue: the long-arithmetic
    // bounds check must reject it (an int check overflows and reads OOB)
    val evil = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    evil.put("RIFF".getBytes("US-ASCII")); evil.putInt(16)
    evil.put("AVI ".getBytes("US-ASCII"))
    evil.put("avih".getBytes("US-ASCII")); evil.putInt(Int.MaxValue - 4)
    evil.putInt(0)
    intercept[IllegalArgumentException] {
      graft.ops.Multimodal.decodeMeta(evil.array())
    }
  }

  test("charset ladder: TOTAL over random bytes + random content types, deterministic") {
    val cts = Vector(null, "", "text/html", "text/html; charset=utf-8",
      "text/html; charset=iso-8859-1", "charset=utf-16", "charset=bogus-999",
      "text/html; charset=\"windows-1252\"", "application/octet-stream")
    (0L until 400L).foreach { seed =>
      val rng = new Fixtures.Rng(0xBEEF + seed)
      val n = rng.nextInt(600)
      val bytes = Array.fill(n)(rng.nextInt(256).toByte)
      val ct = cts(rng.nextInt(cts.length))
      // any byte sequence decodes (never throws), to a non-null string,
      // with a non-null chosen label, deterministically
      val (s1, c1) = graft.html.HtmlCharset.decodeWithCharset(bytes, ct)
      val (s2, c2) = graft.html.HtmlCharset.decodeWithCharset(bytes, ct)
      assert(s1 != null && c1 != null, s"seed=$seed")
      assert(s1 == s2 && c1 == c2, s"seed=$seed nondeterministic")
      // and the decoded text feeds the tokenizer without incident
      graft.html.HtmlExtract.extractRow(s"fz-$seed", s1): Unit
    }
  }

  test("robots.txt: parse + evaluation TOTAL over adversarial rule text") {
    val lines = Vector("User-Agent: *", "User-Agent:", "user-agent: a",
      "Disallow: /", "Disallow:", "Allow: /*.x$", "Allow: ****", "Allow: $",
      "Disallow: /a*b*c$", "garbage", ": :", "#c", "Crawl-Delay: 5",
      "Sitemap: https://e/s.xml", "Disallow: /:", "Allow: //", "\t", "")
    (0L until 400L).foreach { seed =>
      val rng = new Fixtures.Rng(0xCAFE + seed)
      val txt = (0 until rng.nextInt(20))
        .map(_ => lines(rng.nextInt(lines.length))).mkString("\n")
      val ua = Vector("*", "a", "Bot/1.0", "")(rng.nextInt(4))
      val url = Vector("https://e/x", "https://e", "e", null, "https://e/a*b")(
        rng.nextInt(5))
      val d1 = graft.ops.RobotsTxt.allowed(txt, ua, url)
      assert(d1 == graft.ops.RobotsTxt.allowed(txt, ua, url),
        s"seed=$seed nondeterministic")
      // the compiled distributed face agrees with the direct evaluation
      val compiled = graft.ops.RobotsTxt.compiledRules(txt, ua)
      assert(graft.ops.RobotsTxt.allowedCompiled(compiled.toSeq, url) == d1,
        s"seed=$seed compiled face diverges")
    }
  }

  test("WARC round-trip: random binary bodies (with embedded fake boundaries) survive framing") {
    (0L until 60L).foreach { seed =>
      val rng = new Fixtures.Rng(0xD00D + seed)
      val pages = (0 until 1 + rng.nextInt(5)).map { i =>
        val n = rng.nextInt(400)
        val body = Array.fill(n)(rng.nextInt(256).toByte)
        // adversarial prefix: a fake record boundary INSIDE the body
        val evil =
          if (rng.nextInt(2) == 0)
            "\r\n\r\nWARC/1.0\r\nContent-Length: 7\r\n".getBytes("US-ASCII") ++ body
          else body
        (s"https://f$seed.example/p$i", "application/octet-stream", evil)
      }
      val warc = graft.sources.Warc.writeWarc(pages,
        gzipPerRecord = rng.nextInt(2) == 0)
      val in: java.io.InputStream = {
        val raw = new java.io.ByteArrayInputStream(warc)
        if (warc(0) == 0x1f.toByte) new java.util.zip.GZIPInputStream(raw) else raw
      }
      val rs = graft.sources.Warc.records(in).filter(_.warcType == "response").toVector
      assert(rs.length == pages.length, s"seed=$seed")
      rs.zip(pages).foreach { case (r, (url, _, body)) =>
        assert(r.targetUri == url, s"seed=$seed")
        assert(java.util.Arrays.equals(r.body, body), s"seed=$seed body mangled")
      }
    }
  }

  test("WARC truncation sweep: a cut at ANY byte yields a kept prefix, never a throw") {
    // pins the lazy parseResponses failure seam: a partially-delivered
    // shard (network cut, mid-write read) must degrade to prefix-kept +
    // counted, whatever byte the cut lands on
    val pages = (0 until 4).map(i =>
      (s"https://t.example/p$i", "text/html",
        s"<p>Seite $i</p>".getBytes("UTF-8"), if (i == 2) 301 else 200,
        if (i == 2) "/ziel" else ""))
    val warc = graft.sources.Warc.writeWarcWithStatus(pages) // plain form
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("graft-fuzz-trunc")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
    val full = {
      val dir = java.nio.file.Files.createTempDirectory("fuzz-trunc")
      java.nio.file.Files.write(dir.resolve("full.warc"), warc)
      graft.sources.Warc.responses(spark, dir.toString + "/*").count()
    }
    assert(full == 4)
    // sweep a spread of cut points incl. the header and both ends. A
    // cut AT a record boundary is itself a well-formed shorter WARC
    // (prefix parsed, nothing to count), so the invariants are: never
    // throw, never exceed the full count, never lose rows SILENTLY
    // mid-record (a mid-record cut must count the file failed), and the
    // seam actually fires somewhere in the sweep
    val cuts = (0 until warc.length by 97) ++ Seq(1, warc.length - 1)
    var seamFired = 0L
    cuts.foreach { cut =>
      val dir = java.nio.file.Files.createTempDirectory("fuzz-trunc")
      java.nio.file.Files.write(dir.resolve("cut.warc"),
        java.util.Arrays.copyOfRange(warc, 0, cut))
      val acc = spark.sparkContext.longAccumulator(s"trunc-$cut")
      val n = graft.sources.Warc
        .responses(spark, dir.toString + "/*", failedAcc = Some(acc))
        .count() // must not throw, whatever the cut
      assert(n <= full, s"cut=$cut")
      seamFired += acc.value
    }
    assert(seamFired >= 1, "no cut in the sweep exercised the failure seam")
    } finally spark.stop()
  }

  test("chunked de-framing: TOTAL over truncations and garbage, exact on well-formed framings") {
    // the HTTP-payload twin of the WARC truncation sweep: deChunk must
    // either return bytes or throw (the per-record payloadError seam) —
    // never hang, never return wrong data on a well-formed input
    val rng = new Fixtures.Rng(777L)
    (0 until 200).foreach { i =>
      val body = new Array[Byte](rng.nextInt(200))
      var j = 0
      while (j < body.length) { body(j) = (rng.nextInt(256) - 128).toByte; j += 1 }
      // well-formed framing with random chunk sizes round-trips exactly
      val out = new java.io.ByteArrayOutputStream()
      var off = 0
      while (off < body.length) {
        val n = math.min(1 + rng.nextInt(17), body.length - off)
        out.write((n.toHexString + "\r\n").getBytes("US-ASCII"))
        out.write(body, off, n)
        out.write("\r\n".getBytes("US-ASCII"))
        off += n
      }
      out.write("0\r\n\r\n".getBytes("US-ASCII"))
      val framed = out.toByteArray
      assert(java.util.Arrays.equals(graft.sources.Warc.deChunk(framed), body), s"i=$i")
      // ANY truncation of that framing: prefix bytes or an exception,
      // deterministically — never an OOM-scale allocation or a hang
      val cut = rng.nextInt(framed.length + 1)
      val torn = java.util.Arrays.copyOfRange(framed, 0, cut)
      try {
        val got = graft.sources.Warc.deChunk(torn)
        assert(got.length <= body.length, s"i=$i cut=$cut")
      } catch { case scala.util.control.NonFatal(_) => () }
      // random garbage: same totality contract
      val junk = new Array[Byte](rng.nextInt(64))
      j = 0
      while (j < junk.length) { junk(j) = (rng.nextInt(256) - 128).toByte; j += 1 }
      try { graft.sources.Warc.deChunk(junk); () }
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  test("xgolden escape/unescape round-trip on adversarial strings") {
    // the escaping underpins 13 frozen-golden gate rows: any string the
    // extraction kernel can emit must survive TSV freeze + thaw exactly
    val nasty = "\t\n\r\\ä€😀'\"`;,|N\u0000\u001b\u2028"
    val rng = new Fixtures.Rng(4242L)
    (0 until 2000).foreach { _ =>
      val len = rng.nextInt(24)
      val s = new String((0 until len).map(_ =>
        nasty.charAt(rng.nextInt(nasty.length))).toArray)
      val esc = graft.XGolden.escape(s)
      // escaped form never contains a raw field/row separator
      assert(!esc.exists(c => c == '\t' || c == '\n' || c == '\r'), s"esc=$esc")
      assert(graft.XGolden.unescape(esc).contains(s))
    }
    // the null sentinel is unambiguous: a literal backslash-N string
    // escapes to something ELSE and round-trips; the bare sentinel thaws
    // to None
    assert(graft.XGolden.escape("\\N") == "\\\\N")
    assert(graft.XGolden.unescape("\\\\N").contains("\\N"))
    assert(graft.XGolden.unescape("\\N").isEmpty)
  }

  test("mojibake round-trip property: fix(mojibake(x)) == x on clean text") {
    val rng = new graft.fixtures.Fixtures.Rng(2024L)
    val alphabet = "abcdefghijklmnopqrstuvwxyz \u00e4\u00f6\u00fc\u00df\u00c4\u00d6\u00dc\u00e9\u2019\u201c\u201d\u20ac."
    (1 to 200).foreach { _ =>
      val len = 1 + rng.nextInt(40)
      val clean = (0 until len)
        .map(_ => alphabet.charAt(rng.nextInt(alphabet.length))).mkString
      val nfc = java.text.Normalizer.normalize(clean, java.text.Normalizer.Form.NFC)
      // simulate the misread: UTF-8 bytes decoded as cp1252 (latin-1 for
      // the bytes cp1252 leaves undefined) — the classic mojibake source
      val bytes = nfc.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val cp1252 = java.nio.charset.Charset.forName("windows-1252")
      val mojibake = new String(bytes.map { b =>
        val one = new String(Array(b), cp1252)
        if (one.charAt(0) == '\ufffd') new String(Array(b),
          java.nio.charset.StandardCharsets.ISO_8859_1) else one
      }.mkString.toCharArray)
      // the full fix_text subset also uncurls quotes after the repair
      val expected = nfc
        .replace('‘', '\'').replace('’', '\'')
        .replace('“', '"').replace('”', '"')
      assert(graft.text.PyText.fixBadUnicode(mojibake) == expected,
        s"clean=$nfc mojibake=$mojibake")
      // idempotence: a fixed string is a fixpoint
      assert(graft.text.PyText.fixBadUnicode(expected) == expected)
    }
  }
}
