package graft

import graft.pipeline.CrawlLoop
import graft.pipeline.CrawlLoop.CrawlConfig
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class CrawlLoopSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[4]")
    .appName("crawlloop-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshCfg(cycles: Int): CrawlConfig = CrawlConfig(
    outDir = java.nio.file.Files.createTempDirectory("crawlloop").toString,
    cycles = cycles)

  private def siteFrames() = {
    val sp = spark
    import sp.implicits._
    val web = graft.fixtures.HtmlFixtures.site(depth = 2, fanout = 2)
      .toDF("url", "html")
    val seeds = Seq("https://crawl.example/start").toDF("url")
    val robots = Seq(graft.fixtures.HtmlFixtures.siteRobots())
      .toDF("host", "robots_txt")
    (web, seeds, robots)
  }

  private def docsByCycle(cfg: CrawlConfig): Map[Int, Set[String]] =
    CrawlLoop.readDocs(spark, cfg)
      .select("cycle", "url").collect()
      .groupBy(_.getInt(0)).map { case (c, rs) =>
        c -> rs.map(_.getString(1)).toSet
      }

  private def metrics(cfg: CrawlConfig) =
    spark.read.parquet(cfg.outDir + "/metrics")
      .orderBy("cycle").collect()
      .map(r => (r.getAs[Int]("cycle"), r.getAs[Long]("frontier_in"),
        r.getAs[Long]("to_fetch"), r.getAs[Long]("fetched"),
        r.getAs[Long]("docs_kept"), r.getAs[String]("status")))

  test("BFS layering, robots subtree never fetched, dedup + noindex in-loop, exhaustion") {
    val (web, seeds, robots) = siteFrames()
    val cfg = freshCfg(cycles = 10)
    CrawlLoop.run(spark, web, seeds, robots, cfg)
    val byCycle = docsByCycle(cfg)
    // cycle 0: the seed alone
    assert(byCycle(0) == Set("https://crawl.example/start"))
    // cycle 1: /hop1/0 is fetched but noindex-dropped from the corpus;
    // /hop1/1 survives AS the keeper of its declared canonical
    // (dedup_url = .../hop1/0 — pinned below); /impressum lands;
    // /geheim/* must never appear (robots), /tot/* never (dead)
    assert(!byCycle.values.flatten.exists(_.contains("/geheim")))
    assert(!byCycle.values.flatten.exists(_.contains("/tot")))
    assert(byCycle(1) == Set("https://crawl.example/hop1/1",
      "https://crawl.example/impressum"))
    assert(CrawlLoop.readDocs(spark, cfg)
      .filter(org.apache.spark.sql.functions.col("url")
        === "https://crawl.example/hop1/1")
      .select("dedup_url").collect().map(_.getString(0)).toSeq ==
      Seq("https://crawl.example/hop1/0"))
    // cycle 2: the full leaf layer
    assert(byCycle(2) == (0 until 4)
      .map(i => s"https://crawl.example/hop2/$i").toSet)
    val ms = metrics(cfg)
    // fetched counts the noindex + canonical pages (they ARE fetched);
    // /start is never refetched despite every page linking back to it
    assert(ms(0)._4 == 1 && ms(1)._4 == 3 && ms(2)._4 == 4, ms.mkString(";"))
    // exhaustion: after the leaves, only already-fetched + dead + robots-
    // closed urls remain -> a cycle with to_fetch 0 ends the run early
    assert(ms.last._6 == "exhausted" && ms.last._3 == 0)
    assert(ms.length < 10, s"expected early exhaustion, ran ${ms.length}")
    // noindex page's LINKS were followed: its children are leaf pages
    // fetched in cycle 2 (hop2/0, hop2/1 are hop1/0's children)
    assert(byCycle(2).contains("https://crawl.example/hop2/0"))
  }

  test("webFromBytes: a WARC-landed crawl container drives the loop to the same corpus") {
    val sp = spark
    import sp.implicits._
    val site = graft.fixtures.HtmlFixtures.site(depth = 2, fanout = 2)
    // the site shipped as a WARC container, the way a fetcher lands it
    val warc = graft.sources.Warc.writeWarc(site.map { case (url, html) =>
      (url, "text/html; charset=utf-8", html.getBytes("UTF-8"))
    }, gzipPerRecord = true)
    val dir = java.nio.file.Files.createTempDirectory("crawlwarc")
    java.nio.file.Files.write(dir.resolve("site.warc.gz"), warc)
    val web = CrawlLoop.webFromBytes(
      graft.sources.Warc.responses(sp, dir.toString + "/*"))
    val seeds = Seq("https://crawl.example/start").toDF("url")
    val robots = Seq(graft.fixtures.HtmlFixtures.siteRobots())
      .toDF("host", "robots_txt")
    val cfg = freshCfg(cycles = 10)
    CrawlLoop.run(sp, web, seeds, robots, cfg)
    // identical corpus to the in-memory web frame (CrawlLoopSpec test 1)
    val got = CrawlLoop.readDocs(sp, cfg).select("cycle", "url").collect()
      .map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    assert(got == Seq(
      (0, "https://crawl.example/start"),
      (1, "https://crawl.example/hop1/1"),
      (1, "https://crawl.example/impressum"),
      (2, "https://crawl.example/hop2/0"),
      (2, "https://crawl.example/hop2/1"),
      (2, "https://crawl.example/hop2/2"),
      (2, "https://crawl.example/hop2/3")), got)
  }

  test("resume: completed cycles never re-run; exhausted run is a no-op") {
    val (web, seeds, robots) = siteFrames()
    val cfg = freshCfg(cycles = 10)
    CrawlLoop.run(spark, web, seeds, robots, cfg)
    val before = metrics(cfg).toSeq
    val docsBefore = docsByCycle(cfg)
    // the run exhausted: a re-run must change nothing (no new metrics
    // rows, no rewritten docs)
    CrawlLoop.run(spark, web, seeds, robots, cfg)
    assert(metrics(cfg).toSeq == before)
    assert(docsByCycle(cfg) == docsBefore)
  }

  test("duplicate-url web rows: refetches collapse, latest capture wins in webFromBytes") {
    val sp = spark
    import sp.implicits._
    // run-level defense: two web rows for /start -> one corpus row,
    // deterministic (max payload) winner
    val (web0, seeds, robots) = siteFrames()
    val startHtml = web0.filter($"url" === "https://crawl.example/start")
      .collect()(0).getString(1)
    val web = web0.union(Seq(
      ("https://crawl.example/start", startHtml.replace("Start", "Alt")))
      .toDF("url", "html"))
    val cfg = freshCfg(cycles = 1)
    CrawlLoop.run(sp, web, seeds, robots, cfg)
    val rows = CrawlLoop.readDocs(sp, cfg).select("url", "title").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("https://crawl.example/start", "Start")), rows)
    // byte-level: webFromBytes keeps the LATEST capture per url
    val captures = Seq(
      ("https://a.example/p", "2026-01-02T00:00:00Z", "<p>neu</p>"),
      ("https://a.example/p", "2026-01-01T00:00:00Z", "<p>alt</p>"))
      .map { case (u, ts, h) => (u, ts, "text/html", h.getBytes("UTF-8")) }
      .toDF("url", "fetch_ts", "content_type", "html_bytes")
    val got = CrawlLoop.webFromBytes(captures).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("https://a.example/p", "<p>neu</p>")), got)
    // tsCol = null keeps every capture
    assert(CrawlLoop.webFromBytes(captures, tsCol = null).count() == 2)
    // a NEWER 3xx capture must not erase a real older 200 under
    // latest-fetch-wins: status-bearing frames keep only HTTP-200 rows
    val withRedirect = Seq(
      ("https://a.example/p", "2026-01-01T00:00:00Z", 200, "<p>echt</p>"),
      ("https://a.example/p", "2026-02-01T00:00:00Z", 301, ""))
      .map { case (u, ts, st, h) =>
        (u, ts, st, "text/html", h.getBytes("UTF-8")) }
      .toDF("url", "fetch_ts", "http_status", "content_type", "html_bytes")
    val kept = CrawlLoop.webFromBytes(withRedirect).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(kept == Seq(("https://a.example/p", "<p>echt</p>")), kept)
  }

  test("304 revalidation: refreshes the staleness clock and the fetch log, never becomes a document") {
    val sp = spark
    import sp.implicits._
    // a WARC landing with a 200@Jan (etag v1), its 304 revalidation
    // @Mar (etag v2), and an un-revalidated second page
    val warc = graft.sources.Warc.writeWarcRecords(Seq(
      graft.sources.Warc.HttpFixture("https://r.example/seite",
        "text/html", "<p>seite</p>".getBytes("UTF-8"),
        date = "2026-01-01T00:00:00Z", etag = "\"v1\""),
      graft.sources.Warc.HttpFixture("https://r.example/seite",
        "text/html", Array.emptyByteArray, status = 304,
        date = "2026-03-01T00:00:00Z", etag = "\"v2\""),
      graft.sources.Warc.HttpFixture("https://r.example/anders",
        "text/html", "<p>anders</p>".getBytes("UTF-8"),
        date = "2026-01-01T00:00:00Z")))
    val dir = java.nio.file.Files.createTempDirectory("crawl-304")
    java.nio.file.Files.write(dir.resolve("reval.warc"), warc)
    val responses = graft.sources.Warc.responses(sp, dir.toString + "/*",
      minPartitions = 1)
    // (a) the 304 lands as a fetch attempt, body-less, validators kept
    val reval = responses.filter($"http_status" === 304).collect()
    assert(reval.length == 1)
    assert(reval(0).getAs[Array[Byte]]("html_bytes").isEmpty)
    assert(reval(0).getAs[String]("etag") == "\"v2\"")
    // (b) freshness: a lastmod BETWEEN the 200 and the 304 marks the
    // page stale only if the 304 is invisible — it must not be
    val seeds = Seq(
      ("https://r.example/seite", "2026-02-01T00:00:00Z"),
      ("https://r.example/anders", "2026-02-01T00:00:00Z"))
      .toDF("url", "lastmod")
    val stale = graft.pipeline.WebPrep
      .frontierStale(seeds, responses.select("url", "fetch_ts"))
      .collect().map(_.getString(0)).toSeq
    assert(stale == Seq("https://r.example/anders"), stale)
    // (c) never a document: webFromBytes under latest-fetch-wins must
    // keep the OLDER 200 page, not erase it with the newer body-less 304
    val pages = CrawlLoop.webFromBytes(responses).collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    assert(pages == Seq(
      ("https://r.example/anders", "<p>anders</p>"),
      ("https://r.example/seite", "<p>seite</p>")), pages)
    // and the extraction composition skips it the same way
    assert(graft.sources.Warc.extractAll(sp, dir.toString + "/*",
      minPartitions = 1).count() == 2)
  }

  test("robotsOf seam: a rule flipping between cycles gates from its cycle on, resume intact") {
    val sp = spark
    import sp.implicits._
    val web = Seq(
      ("https://rs.example/start",
        "<html><body><p>s</p><a href=\"/a\">a</a> <a href=\"/b\">b</a></body></html>"),
      ("https://rs.example/a",
        "<html><body><p>A-inhalt</p></body></html>"),
      ("https://rs.example/b",
        "<html><body><p>B-inhalt</p><a href=\"/a\">a</a></body></html>"))
      .toDF("url", "html")
    val seeds = Seq("https://rs.example/start").toDF("url")
    // cycle 0 allows everything; from cycle 1 on /a is disallowed — a
    // STATIC frame would have fetched /a in cycle 1
    def robotsOf(c: Int) =
      Seq(("rs.example",
        if (c >= 1) "User-Agent: *\nDisallow: /a\n" else "User-Agent: *\n"))
        .toDF("host", "robots_txt")
    val cfg = freshCfg(cycles = 6)
    CrawlLoop.run(spark, web, seeds, cfg, robotsOf _)
    val byCycle = docsByCycle(cfg)
    assert(byCycle(0) == Set("https://rs.example/start"))
    assert(byCycle(1) == Set("https://rs.example/b"), byCycle)
    // /a never fetched: the cycle-1 rules gated it, and /b's re-link in
    // cycle 2 re-tests against cycle-2 rules (still disallowed)
    assert(!byCycle.values.flatten.exists(_.endsWith("/a")))
    val ms = metrics(cfg)
    assert(ms.last._6 == "exhausted")
    // resume: a re-run (even with rules flipped back open) is a no-op —
    // the exhausted marker wins and landed cycles are never re-gated
    CrawlLoop.run(spark, web, seeds, cfg.copy(cycles = 8),
      (_: Int) => Seq(("rs.example", "User-Agent: *\n"))
        .toDF("host", "robots_txt"))
    assert(docsByCycle(cfg) == byCycle)
    assert(metrics(cfg).length == ms.length)
    // a TEMPORARY block: /a disallowed ONLY in cycle 1, reopened from
    // cycle 2 — the blocked url must roll over un-fetched and pass the
    // reopened gate when its cycle comes (eviction would make the
    // per-cycle seam vacuous for exactly these urls)
    def tempBlock(c: Int) =
      Seq(("rs.example",
        if (c == 1) "User-Agent: *\nDisallow: /a\n" else "User-Agent: *\n"))
        .toDF("host", "robots_txt")
    val cfg2 = freshCfg(cycles = 6)
    CrawlLoop.run(spark, web, seeds, cfg2, tempBlock _)
    val byCycle2 = docsByCycle(cfg2)
    assert(byCycle2(1) == Set("https://rs.example/b"), byCycle2)
    assert(byCycle2(2) == Set("https://rs.example/a"), byCycle2)
  }

  test("priorityByInDegree: the horizon cap keeps top-in-degree urls across the cycle boundary") {
    val sp = spark
    import sp.implicits._
    // two seeds both link /zz (in-degree 2); /aa and /ab get one link
    // each — with maxPerHost=2 the ranked plan fetches {zz, aa} in
    // cycle 1 and defers /ab; the UNRANKED plan would take {aa, ab}
    val web = Seq(
      ("https://pr.example/s0",
        "<html><body><p>s0</p><a href=\"/zz\">z</a><a href=\"/aa\">a</a>" +
          "<a href=\"/ab\">b</a></body></html>"),
      ("https://pr.example/s1",
        "<html><body><p>s1</p><a href=\"/zz\">z</a></body></html>"),
      ("https://pr.example/zz", "<html><body><p>Z</p></body></html>"),
      ("https://pr.example/aa", "<html><body><p>A</p></body></html>"),
      ("https://pr.example/ab", "<html><body><p>B</p></body></html>"))
      .toDF("url", "html")
    val seeds = Seq("https://pr.example/s0", "https://pr.example/s1")
      .toDF("url")
    val robots = Seq(("pr.example", "User-Agent: *\n"))
      .toDF("host", "robots_txt")
    def crawl(ranked: Boolean, hashed: Boolean) = {
      val cfg = freshCfg(cycles = 6).copy(maxPerHost = 2,
        priorityByInDegree = ranked, hashedUrlKeys = hashed)
      CrawlLoop.run(spark, web, seeds, robots, cfg)
      (docsByCycle(cfg), cfg)
    }
    val (ranked, rankedCfg) = crawl(ranked = true, hashed = false)
    assert(ranked(1) == Set("https://pr.example/zz",
      "https://pr.example/aa"), ranked)
    assert(ranked(2) == Set("https://pr.example/ab"), ranked)
    // the landed frontier carries the accumulated in-degree
    val deg = spark.read.parquet(rankedCfg.outDir + "/frontier/cycle=0")
      .collect().map(r => (r.getAs[String]("url"), r.getAs[Long]("in_degree")))
      .toMap
    assert(deg("https://pr.example/zz") == 2L &&
      deg("https://pr.example/aa") == 1L, deg)
    // unranked baseline takes the lexicographic pair — the differential
    val (plain, _) = crawl(ranked = false, hashed = false)
    assert(plain(1) == Set("https://pr.example/aa",
      "https://pr.example/ab"), plain)
    // hashedUrlKeys composes: identical corpus and layering
    val (hashed, _) = crawl(ranked = true, hashed = true)
    assert(hashed == ranked, hashed)
  }

  test("planWithValidators: a bare 304 refreshes nothing it did not resend; a full capture replaces wholesale") {
    val sp = spark
    import sp.implicits._
    val fetched = Seq(
      // 200 with both validators, then a NEWER bare 304 (the common
      // real-server shape) — the stored validators must survive
      ("https://v.example/bare", "2026-01-01T00:00:00Z", "\"v1\"",
        "Mon, 05 Jan 2026 00:00:00 GMT", 200),
      ("https://v.example/bare", "2026-03-01T00:00:00Z", "", "", 304),
      // 200 then a newer 304 that RESENT only an etag: etag updates,
      // last_modified keeps the stored value
      ("https://v.example/etag", "2026-01-01T00:00:00Z", "\"e1\"",
        "Mon, 05 Jan 2026 00:00:00 GMT", 200),
      ("https://v.example/etag", "2026-03-01T00:00:00Z", "\"e2\"", "", 304),
      // two FULL captures: the newer replaces wholesale, even where it
      // sent no validator (RFC 9111 storage replacement)
      ("https://v.example/repl", "2026-01-01T00:00:00Z", "\"r1\"",
        "Mon, 05 Jan 2026 00:00:00 GMT", 200),
      ("https://v.example/repl", "2026-02-01T00:00:00Z", "\"r2\"", "", 200),
      // 304-only url (truncated log): its resent values are all we have
      ("https://v.example/only304", "2026-03-01T00:00:00Z", "\"o1\"", "", 304))
      .toDF("url", "fetch_ts", "etag", "last_modified", "http_status")
    val plan = Seq("https://v.example/bare", "https://v.example/etag",
      "https://v.example/repl", "https://v.example/only304",
      "https://v.example/neu").toDF("url")
    val got = graft.pipeline.WebPrep.planWithValidators(plan, fetched)
      .collect().map(r => r.getString(0) ->
        (r.getAs[String]("etag"), r.getAs[String]("last_modified"))).toMap
    assert(got("https://v.example/bare") ==
      ("\"v1\"", "Mon, 05 Jan 2026 00:00:00 GMT"), got)
    assert(got("https://v.example/etag") ==
      ("\"e2\"", "Mon, 05 Jan 2026 00:00:00 GMT"), got)
    assert(got("https://v.example/repl") == ("\"r2\"", ""), got)
    assert(got("https://v.example/only304") == ("\"o1\"", null), got)
    assert(got("https://v.example/neu") == (null, null), got)
    // a status-less frame (plain fetch log) keeps the original
    // latest-capture-wholesale behavior
    val plain = fetched.drop("http_status")
    val got2 = graft.pipeline.WebPrep.planWithValidators(plan, plain)
      .collect().map(r => r.getString(0) -> r.getAs[String]("etag")).toMap
    assert(got2("https://v.example/bare") == "", got2) // newest row wins
  }

  test("crash-retry: a dangling fetched log from a crashed cycle cannot fake exhaustion") {
    val (web, seeds, robots) = siteFrames()
    val cfg = freshCfg(cycles = 1)
    CrawlLoop.run(spark, web, seeds, robots, cfg)
    // simulate a cycle-1 attempt that crashed AFTER landing its fetch
    // log but BEFORE its metrics row: the dangling log holds exactly the
    // urls the retry would want to fetch
    val dangling = spark.read.parquet(cfg.outDir + "/frontier/cycle=0")
      .select("url")
    dangling.write.parquet(cfg.outDir + "/fetched/cycle=1")
    CrawlLoop.run(spark, web, seeds, robots, cfg.copy(cycles = 10))
    // the retry must NOT see its own crashed attempt as already-fetched
    // (that would record to_fetch=0 -> false exhaustion, empty cycle 1)
    val byCycle = docsByCycle(cfg)
    assert(byCycle(1) == Set("https://crawl.example/hop1/1",
      "https://crawl.example/impressum"), byCycle)
    assert(byCycle(2).size == 4)
    assert(metrics(cfg).count(m => m._1 == 1 && m._6 == "exhausted") == 0)
  }

  test("trapFilter: looping trap links never enter the plan or the fetched log; flag off crawls them") {
    val sp = spark
    import sp.implicits._
    val trap = "https://crawl.example/a/b" + "/loop" * 4
    val web = Seq(
      ("https://crawl.example/start",
        "<html><body><article><p>Startseite mit Inhalt hier.</p>" +
          "<a href=\"/echt\">echt</a><a href=\"" + trap + "\">falle</a>" +
          "</article></body></html>"),
      ("https://crawl.example/echt",
        "<html><body><article><p>Echte Seite mit Inhalt.</p></article></body></html>"),
      (trap,
        "<html><body><article><p>Fallenseite Inhalt.</p></article></body></html>"))
      .toDF("url", "html")
    val seeds = Seq("https://crawl.example/start").toDF("url")
    val robots = Seq(("crawl.example", "User-Agent: *\nDisallow:\n"))
      .toDF("host", "robots_txt")
    val cfg = freshCfg(cycles = 10)
    CrawlLoop.run(spark, web, seeds, robots, cfg)
    val urls = CrawlLoop.readDocs(spark, cfg)
      .select("url").collect().map(_.getString(0)).toSet
    assert(urls == Set("https://crawl.example/start",
      "https://crawl.example/echt"), urls)
    // the trap never even entered the fetch log (flipping the flag
    // later may reconsider it)
    val fetched = spark.read.parquet(cfg.outDir + "/fetched")
      .select("url").collect().map(_.getString(0)).toSet
    assert(!fetched.contains(trap), fetched)
    // flag off: the trap IS crawled (the filter is policy, not a bug)
    val cfg2 = freshCfg(cycles = 10).copy(trapFilter = false)
    CrawlLoop.run(spark, web, seeds, robots, cfg2)
    assert(CrawlLoop.readDocs(spark, cfg2)
      .select("url").collect().map(_.getString(0)).toSet.contains(trap))
  }

  test("blocklist: a blocked host's subdomain never enters the plan or fetch log; flag off crawls it") {
    val sp = spark
    import sp.implicits._
    val badUrl = "https://ads.blocked.example/pixel"
    val web = Seq(
      ("https://crawl.example/start",
        "<html><body><article><p>Startseite mit Inhalt hier.</p>" +
          "<a href=\"/echt\">echt</a><a href=\"" + badUrl + "\">ad</a>" +
          "</article></body></html>"),
      ("https://crawl.example/echt",
        "<html><body><article><p>Echte Seite mit Inhalt.</p></article></body></html>"),
      (badUrl,
        "<html><body><article><p>Werbepixel Inhalt.</p></article></body></html>"))
      .toDF("url", "html")
    val seeds = Seq("https://crawl.example/start").toDF("url")
    val robots = Seq(
      ("crawl.example", "User-Agent: *\nDisallow:\n"),
      ("ads.blocked.example", "User-Agent: *\nDisallow:\n"))
      .toDF("host", "robots_txt")
    val cfg = freshCfg(cycles = 10).copy(blocklist = Set("blocked.example"))
    CrawlLoop.run(spark, web, seeds, robots, cfg)
    val urls = CrawlLoop.readDocs(spark, cfg)
      .select("url").collect().map(_.getString(0)).toSet
    assert(urls == Set("https://crawl.example/start",
      "https://crawl.example/echt"), urls)
    // suffix semantics reached fetch time: the SUBDOMAIN of the entry
    // never even entered the fetch log (editing the list reconsiders it)
    val fetched = spark.read.parquet(cfg.outDir + "/fetched")
      .select("url").collect().map(_.getString(0)).toSet
    assert(!fetched.exists(_.contains("blocked.example")), fetched)
    // empty blocklist (the default): the same crawl fetches it
    val cfg2 = freshCfg(cycles = 10)
    CrawlLoop.run(spark, web, seeds, robots, cfg2)
    assert(CrawlLoop.readDocs(spark, cfg2)
      .select("url").collect().map(_.getString(0)).toSet.contains(badUrl))
  }

  test("hashedUrlKeys: the md5_long key layout crawls the identical corpus, frontier and metrics") {
    val (web, seeds, robots) = siteFrames()
    val a = freshCfg(cycles = 10)
    val b = freshCfg(cycles = 10).copy(hashedUrlKeys = true)
    CrawlLoop.run(spark, web, seeds, robots, a)
    CrawlLoop.run(spark, web, seeds, robots, b)
    // keep-set equality per cycle (the urlDedupAtScale pin, loop-level)
    assert(docsByCycle(a) == docsByCycle(b))
    assert(metrics(a).toSeq == metrics(b).toSeq)
    // the hashed fetched log really is the 8-byte layout...
    val log = spark.read.parquet(b.outDir + "/fetched")
    assert(log.columns.toSet == Set("url_h", "cycle"), log.columns.toSeq)
    assert(log.schema("url_h").dataType ==
      org.apache.spark.sql.types.LongType)
    // ...and holds exactly md5_long of the string log's urls
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions.{col, expr}
    val fromString = spark.read.parquet(a.outDir + "/fetched")
      .select(expr("md5_long(url)").as("h")).collect()
      .map(_.getLong(0)).toSet
    val hashed = log.select(col("url_h")).collect().map(_.getLong(0)).toSet
    assert(hashed == fromString)
    // resume works within the hashed layout too
    CrawlLoop.run(spark, web, seeds, robots, b) // exhausted: no-op
    assert(docsByCycle(b) == docsByCycle(a))
  }

  test("a different run_id in an existing outDir is refused, not silently mixed") {
    val (web, seeds, robots) = siteFrames()
    val cfg = freshCfg(cycles = 1)
    CrawlLoop.run(spark, web, seeds, robots, cfg)
    val e = intercept[IllegalArgumentException] {
      CrawlLoop.run(spark, web, seeds, robots, cfg.copy(runId = "crawl-2"))
    }
    assert(e.getMessage.contains("crawl-1"))
  }

  test("resume mid-crawl: a fresh run capped at 1 cycle continues where it stopped") {
    val (web, seeds, robots) = siteFrames()
    val cfg1 = freshCfg(cycles = 1)
    CrawlLoop.run(spark, web, seeds, robots, cfg1)
    assert(metrics(cfg1).length == 1 && docsByCycle(cfg1).keySet == Set(0))
    // same outDir, raised budget: cycles 1.. run; cycle 0 is not redone
    val cfg2 = cfg1.copy(cycles = 10)
    CrawlLoop.run(spark, web, seeds, robots, cfg2)
    val full = docsByCycle(cfg2)
    assert(full.keySet.max >= 2)
    assert(full(0) == Set("https://crawl.example/start"))
    assert(metrics(cfg2).count(_._1 == 0) == 1) // exactly one cycle-0 row
  }

  test("a cycle that throws still releases its cached frames") {
    val (web, seeds, robots) = siteFrames()
    val cfg = freshCfg(cycles = 3)
    // a regular file where the docs table goes: the cycle's docs write
    // fails after gated, toFetch, plan and extracted are cached
    java.nio.file.Files.write(java.nio.file.Paths.get(cfg.outDir, "docs"),
      "not a directory".getBytes("UTF-8"))
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val before = ProfileSpec.persistedAfterGc(sc, Int.MaxValue, 0L)
    intercept[Exception](CrawlLoop.run(spark, web, seeds, robots, cfg))
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(ProfileSpec.persistedAfterGc(sc, before, 10000L) == before)
    assert(!new java.io.File(cfg.outDir, "metrics").exists()) // no cycle completed
  }
}
