package graft

import graft.sources.Sitemap
import graft.ops.RobotsTxt
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class SitemapSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[4]")
    .appName("sitemap-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  private var sparkUsed = false

  override def afterAll(): Unit = if (sparkUsed) spark.stop()

  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")

  // the sitemaps.org protocol page's own urlset example (entity-escaped
  // loc included — the spec REQUIRES & to arrive as &amp;)
  private val urlsetXml =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
      |  <url>
      |    <loc>http://www.example.com/</loc>
      |    <lastmod>2005-01-01</lastmod>
      |    <changefreq>monthly</changefreq>
      |    <priority>0.8</priority>
      |  </url>
      |  <url>
      |    <loc>http://www.example.com/catalog?item=73&amp;desc=vacation_hawaii</loc>
      |    <changefreq>weekly</changefreq>
      |  </url>
      |  <url>
      |    <loc>http://www.example.com/catalog?item=83&amp;desc=vacation_usa</loc>
      |    <lastmod>2004-11-23</lastmod>
      |  </url>
      |</urlset>""".stripMargin

  test("urlset: spec example parses with all optional fields and entity-decoded locs") {
    val p = Sitemap.parse(bytes(urlsetXml))
    assert(p.kind == "urlset")
    assert(!p.truncated)
    assert(p.children.isEmpty)
    assert(p.entries.map(_.loc) == Vector(
      "http://www.example.com/",
      "http://www.example.com/catalog?item=73&desc=vacation_hawaii",
      "http://www.example.com/catalog?item=83&desc=vacation_usa"))
    assert(p.entries(0) == Sitemap.Entry(
      "http://www.example.com/", "2005-01-01", "monthly", "0.8"))
    assert(p.entries(1).lastmod == "" && p.entries(1).changefreq == "weekly")
    assert(p.entries(2).lastmod == "2004-11-23" && p.entries(2).priority == "")
  }

  test("sitemapindex: child references come back as children, never entries") {
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |  <sitemap>
        |    <loc>http://www.example.com/sitemap1.xml.gz</loc>
        |    <lastmod>2004-10-01T18:23:17+00:00</lastmod>
        |  </sitemap>
        |  <sitemap>
        |    <loc>http://www.example.com/sitemap2.xml.gz</loc>
        |  </sitemap>
        |</sitemapindex>""".stripMargin
    val p = Sitemap.parse(bytes(xml))
    assert(p.kind == "sitemapindex")
    assert(p.entries.isEmpty)
    assert(p.children == Vector(
      "http://www.example.com/sitemap1.xml.gz",
      "http://www.example.com/sitemap2.xml.gz"))
  }

  test("text sitemap: one absolute http(s) URL per line; other lines skipped") {
    val txt = "https://t.example/a\nnot a url\nhttp://t.example/b\r\n\r\n  https://t.example/c  \n"
    val p = Sitemap.parse(bytes(txt))
    assert(p.kind == "text")
    assert(p.entries.map(_.loc) == Vector(
      "https://t.example/a", "http://t.example/b", "https://t.example/c"))
  }

  test("gzip + BOM variants decode through the same parse") {
    val gz = {
      val out = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(out)
      g.write(bytes(urlsetXml)); g.finish()
      out.toByteArray
    }
    assert(Sitemap.parse(gz) == Sitemap.parse(bytes(urlsetXml)))
    val bom = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ bytes(urlsetXml)
    assert(Sitemap.parse(bom) == Sitemap.parse(bytes(urlsetXml)))
  }

  test("namespace prefixes and comments are tolerated; missing loc drops the entry") {
    val xml =
      """<?xml version="1.0"?><!-- generator: test -->
        |<sm:urlset xmlns:sm="http://www.sitemaps.org/schemas/sitemap/0.9">
        |  <sm:url><sm:loc>https://ns.example/1</sm:loc></sm:url>
        |  <sm:url><sm:lastmod>2024-01-01</sm:lastmod></sm:url>
        |  <sm:url><sm:loc>https://ns.example/2</sm:loc></sm:url>
        |</sm:urlset>""".stripMargin
    val p = Sitemap.parse(bytes(xml))
    assert(p.kind == "urlset")
    assert(p.entries.map(_.loc) == Vector("https://ns.example/1", "https://ns.example/2"))
  }

  test("entry cap: the parse keeps the first maxEntries and reports truncation") {
    val many = (1 to 10).map(i =>
      s"<url><loc>https://cap.example/$i</loc></url>").mkString
    val xml = s"<urlset>$many</urlset>"
    val p = Sitemap.parse(bytes(xml), maxEntries = 4)
    assert(p.truncated)
    assert(p.entries.map(_.loc) == (1 to 4).map(i => s"https://cap.example/$i").toVector)
    val full = Sitemap.parse(bytes(xml))
    assert(!full.truncated && full.entries.length == 10)
  }

  test("xmlUnescape: predefined + numeric refs decode; unknown/unterminated stay verbatim") {
    assert(Sitemap.xmlUnescape("a&amp;b&lt;c&gt;d&quot;e&apos;f") == "a&b<c>d\"e'f")
    assert(Sitemap.xmlUnescape("x&#65;y&#x42;z") == "xAyBz")
    assert(Sitemap.xmlUnescape("&#x1F600;") == new String(Character.toChars(0x1F600)))
    // unknown name, unterminated ref, HTML5-only name: all verbatim
    assert(Sitemap.xmlUnescape("&nope;&amp&copy;") == "&nope;&amp&copy;")
    // invalid code points stay verbatim too
    assert(Sitemap.xmlUnescape("&#xD800;&#0;") == "&#xD800;&#0;")
    assert(Sitemap.xmlUnescape("no refs") == "no refs")
  }

  test("RobotsTxt.sitemaps: case-insensitive extraction, comments, relative dropped") {
    val robots =
      """# site robots
        |User-Agent: *
        |Disallow: /tmp/
        |Sitemap: https://r.example/sitemap.xml
        |sitemap: http://r.example/sitemap-news.xml  # inline comment
        |SITEMAP: /relative/sitemap.xml
        |Sitemap: ftp://r.example/nope.xml
        |""".stripMargin
    assert(RobotsTxt.sitemaps(robots) == Vector(
      "https://r.example/sitemap.xml", "http://r.example/sitemap-news.xml"))
    assert(RobotsTxt.sitemaps(null).isEmpty)
    // the sitemap lines must not have perturbed group parsing
    assert(!RobotsTxt.allowed(robots, "anybot", "https://r.example/tmp/x"))
    assert(RobotsTxt.allowed(robots, "anybot", "https://r.example/ok"))
  }

  test("entries(): distributed read over mixed files; malformed file counts on failedAcc") {
    sparkUsed = true
    val dir = java.nio.file.Files.createTempDirectory("sitemapspec")
    java.nio.file.Files.write(dir.resolve("a.xml"), bytes(urlsetXml))
    java.nio.file.Files.write(dir.resolve("b.txt"),
      bytes("https://t.example/only\n"))
    val idx =
      """<sitemapindex><sitemap><loc>https://i.example/child.xml</loc></sitemap></sitemapindex>"""
    java.nio.file.Files.write(dir.resolve("c.xml"), bytes(idx))
    // a gzip header with garbage behind it -> parse throws -> counted, no rows
    java.nio.file.Files.write(dir.resolve("bad.xml.gz"),
      Array[Byte](0x1f, 0x8b.toByte, 1, 2, 3, 4))
    val acc = spark.sparkContext.longAccumulator("sitemap-failed")
    val df = Sitemap.entries(spark, dir.toString + "/*", minPartitions = 2,
      failedAcc = Some(acc)).cache()
    val rows = df.collect().map(r =>
      (r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(rows.contains(("url", "http://www.example.com/", "2005-01-01")))
    assert(rows.contains(("url", "https://t.example/only", "")))
    assert(rows.contains(("sitemap", "https://i.example/child.xml", "")))
    assert(df.count() == 3 + 1 + 1)
    assert(acc.value == 1L)
  }

  test("frontierFromSitemaps: canonicalized, deduplicated, max-lastmod; composes with frontierGated") {
    sparkUsed = true
    val sp = spark
    import sp.implicits._
    val entries = Seq(
      // scheme/case + fragment variants of ONE logical page
      ("s1", "url", "HTTP://Seed.Example/a#frag", "2024-01-01", "", ""),
      ("s2", "url", "http://seed.example/a", "2024-06-01", "daily", "0.9"),
      ("s1", "url", "https://seed.example/b", "", "", ""),
      ("s1", "url", "https://seed.example/blocked/c", "2024-02-02", "", ""),
      // sitemapindex children never seed the frontier
      ("s1", "sitemap", "https://seed.example/more.xml", "", "", ""))
      .toDF("sitemap", "kind", "loc", "lastmod", "changefreq", "priority")
    val seeds = graft.pipeline.WebPrep.frontierFromSitemaps(entries)
    val got = seeds.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got.size == 3)
    val aKey = got.keys.find(_.endsWith("/a")).get
    assert(got(aKey) == "2024-06-01") // max lastmod wins across variants
    assert(got.keys.count(_.contains("more.xml")) == 0)
    // robots.txt gate composes on the same url key
    val robots = Seq(("seed.example", "User-Agent: *\nDisallow: /blocked/\n"))
      .toDF("host", "robots_txt")
    val gated = graft.pipeline.WebPrep.frontierGated(seeds, robots)
      .collect().map(_.getString(0)).toSet
    assert(gated.size == 2 && !gated.exists(_.contains("/blocked/")))
  }

  test("sitemapindex expansion: index -> child fetch -> urlset, one level per call, robots-gated") {
    sparkUsed = true
    val sp = spark
    import sp.implicits._
    // a filesystem-backed fetch seam: child URL -> fixture bytes
    val dir = java.nio.file.Files.createTempDirectory("sitemapidx")
    val childA =
      """<urlset><url><loc>https://idx.example/a</loc><lastmod>2026-01-03</lastmod></url>
        |<url><loc>https://idx.example/b</loc></url></urlset>""".stripMargin
    val childNested = // a child that is ITSELF an index: stays unexpanded
      "<sitemapindex><sitemap><loc>https://idx.example/deeper.xml</loc></sitemap></sitemapindex>"
    java.nio.file.Files.write(dir.resolve("child-a.xml"), childA.getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("child-n.xml"), childNested.getBytes("UTF-8"))
    val index = "<sitemapindex>" +
      "<sitemap><loc>https://idx.example/child-a.xml</loc></sitemap>" +
      "<sitemap><loc>https://idx.example/child-n.xml</loc></sitemap>" +
      "<sitemap><loc>https://idx.example/blocked/child-x.xml</loc></sitemap>" +
      "<sitemap><loc>https://idx.example/fehlt.xml</loc></sitemap>" +
      "</sitemapindex>"
    java.nio.file.Files.write(dir.resolve("index.xml"), index.getBytes("UTF-8"))
    val entries = graft.sources.Sitemap.entries(
      sp, dir.toString + "/index.xml", minPartitions = 1)
    val base = dir.toString
    val fetch: String => Array[Byte] = { url =>
      val name = url.substring(url.lastIndexOf('/') + 1)
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(base, name)) // missing file -> throws -> failedAcc
    }
    val robots = Seq(("idx.example", "User-Agent: *\nDisallow: /blocked/\n"))
      .toDF("host", "robots_txt")
    val acc = sp.sparkContext.longAccumulator("sitemap_fetch_failed")
    val expanded = graft.pipeline.WebPrep.expandSitemapIndex(
      entries, fetch, robotsTxt = Some(robots), failedAcc = Some(acc))
    val rows = expanded.collect()
      .map(r => (r.getString(1), r.getString(2))).toSet
    // page entries from the fetched child; the nested index's children
    // surface as kind=sitemap rows for the NEXT cycle (one level only);
    // the blocked child was never fetched; the missing child counted
    assert(rows == Set(
      ("url", "https://idx.example/a"),
      ("url", "https://idx.example/b"),
      ("sitemap", "https://idx.example/deeper.xml")), rows)
    assert(acc.value == 1L) // fehlt.xml
    // the composed seed feed: (url, lastmod) ready for gate/diff
    val seeds = graft.pipeline.WebPrep.frontierFromSitemapIndex(
      entries, fetch, robotsTxt = Some(robots))
    val got = seeds.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == Map("https://idx.example/a" -> "2026-01-03",
      "https://idx.example/b" -> ""), got)
  }

  test("frontierFromSitemapIndex leaves no cache behind") {
    sparkUsed = true
    val sp = spark
    import sp.implicits._
    val entries = Seq(("idx", "sitemap", "https://idx.example/child.xml", "", "", ""))
      .toDF("sitemap", "kind", "loc", "lastmod", "changefreq", "priority")
    val page = bytes("<urlset><url><loc>https://idx.example/a</loc></url></urlset>")
    val fetch: String => Array[Byte] = _ => page
    spark.catalog.clearCache()
    val seeds = graft.pipeline.WebPrep.frontierFromSitemapIndex(entries, fetch)
    assert(seeds.collect().map(_.getString(0)).toSeq == Seq("https://idx.example/a"))
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
