package graft.pipeline

import graft.html.HtmlExtract
import graft.job.RowSeam
import graft.job.RowSeam.nonNull
import graft.ops.{Materialize, Web}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The web-ingest counterpart of [[CorpusPrep]]: raw fetched pages
  * `(doc_id, html, url)` -> deduplicated, robots-respecting extracted
  * documents, in the order a crawl pipeline wants them:
  *
  *  1. ONE-pass extraction (`HtmlExtract.extractAll`): main-content
  *     spans + text, resolved out-links, page metadata — map-only;
  *  2. robots gate: pages whose meta robots declares `noindex` are
  *     dropped from the CORPUS (their links still feed the frontier —
  *     noindex forbids indexing, not link-following; only `nofollow`
  *     gates link discovery);
  *  3. canonical-priority URL dedup: the dedup key is the page's own
  *     rel=canonical when it is absolute (scheme-bearing — a canonical
  *     that could not be resolved is host-ambiguous and must NOT merge
  *     across sites), else the fetch URL; keying and keeper semantics
  *     are EXACTLY `Web.urlDedup` (null keys stay their own keepers,
  *     min-doc_id keeper) — so mirror fetches (`/amp/…`, `?utm=…`,
  *     scheme/case variants) of one logical page collapse to one row,
  *     the dedup a frontier cannot do because only the PAGE declares
  *     its canonical.
  *
  * Output: the kept WebDoc rows plus their `dedup_url`. Downstream,
  * content-level dedup and quality filtering continue in [[CorpusPrep]]
  * over (doc_id, text).
  *
  * Scale shape: extraction + gate are map-only. The dedup decision runs
  * over a NARROW (doc_id, dedup_url) projection through `Web.urlDedup`
  * (its group/join shuffles carry only ids + keys), and the wide
  * WebDoc rows join the keeper set once via a left-semi join on the
  * UNIFORM doc_id key — the wide columns never shuffle on the skewed
  * URL key (one viral canonical would be a hot key; doc_id is not).
  *
  * A pipeline needing corpus AND frontier should extract once and call
  * the `*Extracted` variants on the shared output:
  * {{{
  *   val docs = HtmlExtract.extractAll(pages, pageUrlCol = Some("url")).toDF()
  *   val corpus   = WebPrep.prepareExtracted(docs)
  *   val frontier = WebPrep.frontierExtracted(docs)
  * }}}
  */
object WebPrep {

  /** The politeness/robots domain of a URL — delegates to the ONE
    * shared definition ([[graft.ops.Web.hostOf]]) so the gate, the
    * scheduler and the host-summary curation op can never disagree on
    * a host. (Known simplifications, shared by all: per-port robots
    * differences and IPv6 literals are below this resolution.)
    */
  private def urlHost(urlCol: String) = Web.hostOf(col(urlCol))

  /** The same normalization for a robots-table host cell. */
  private def normHost(hostCol: String) =
    regexp_replace(lower(trim(col(hostCol))), ":\\d+$", "")

  /** True when the canonical can anchor a cross-fetch merge: absolute
    * (scheme-bearing) canonicals only — a relative one that could not be
    * resolved (null page URL) would merge distinct sites declaring the
    * same path.
    */
  private def absoluteCanonical = col("canonical") =!= "" &&
    col("canonical").rlike("^[A-Za-z][A-Za-z0-9+.-]*:")

  /** Robots DIRECTIVE check on the token level (the robots value is a
    * comma/space-separated token list; a substring test would misread
    * values like "nonelike"), including the standard `none` shorthand
    * for noindex,nofollow.
    */
  private def robotsForbids(directive: String) = {
    // null robots (external frames that never ran extractAll, which
    // always emits "") must read as 'no directives', not NULL — a NULL
    // here would make filter(!robotsForbids) silently drop the row
    val toks = split(coalesce(col("robots"), lit("")), "[,\\s]+")
    array_contains(toks, directive) || array_contains(toks, "none")
  }

  /** Extract + robots gate + canonical-priority dedup (see object doc). */
  def prepare(pages: DataFrame, idCol: String = "doc_id",
      htmlCol: String = "html", urlCol: String = "url",
      failedAcc: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame =
    prepareExtracted(
      HtmlExtract.extractAll(pages, idCol, htmlCol, Some(urlCol), failedAcc).toDF())

  /** prepare() over an already-extracted `extractAll` output. */
  def prepareExtracted(docs: DataFrame): DataFrame = {
    val live = docs.filter(!robotsForbids("noindex"))
    val keyed = live.withColumn("dedup_src",
      when(absoluteCanonical, col("canonical")).otherwise(col("url")))
    // narrow projection through the pinned null-safe dedup operator:
    // rows whose key is null (no url, unresolvable canonical) stay their
    // own keepers rather than vanishing through null-unsafe join equality
    val decision = Web.urlDedup(
      keyed.select(col("doc_id"), col("dedup_src").as("url")))
    val keepers = decision.filter(col("keep"))
      .select(col("doc_id"), col("canonical_url").as("dedup_url"))
    // wide rows attach the decision once, on the uniform doc_id key
    keyed.drop("dedup_src").join(keepers, Seq("doc_id"))
  }

  /** The crawl-frontier feed from the same pages: every out-link of
    * every page not declaring `nofollow` (noindex pages DO contribute —
    * they may be fetched for link discovery), canonicalized and
    * deduplicated — (url, first_seen_doc) rows ready to diff against
    * the already-fetched set.
    */
  def frontier(pages: DataFrame, idCol: String = "doc_id",
      htmlCol: String = "html", urlCol: String = "url",
      failedAcc: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame =
    frontierExtracted(
      HtmlExtract.extractAll(pages, idCol, htmlCol, Some(urlCol), failedAcc).toDF())

  /** frontier() over an already-extracted `extractAll` output. */
  def frontierExtracted(docs: DataFrame): DataFrame =
    docs.filter(!robotsForbids("nofollow"))
      .select(col("doc_id"), explode(col("links")).as("l"))
      .select(col("doc_id"), Web.canonicalUrl(col("l.resolved")).as("url"))
      .groupBy(col("url")).agg(min(col("doc_id")).as("first_seen_doc"))

  /** PRIORITIZED frontier from a link-edge frame `(doc_id, url)`: one
    * row per canonical target URL with its link in-degree — the classic
    * crawl-ordering signal (OPIC/in-degree scheduling: fetch
    * highly-referenced pages first; Abiteboul et al. 2003, and what the
    * large crawlers approximate). `in_degree` counts edge ROWS (a page
    * linking twice counts twice — the OPIC cash convention);
    * `first_seen_doc` keeps the [[frontier]] dedup witness. Feed
    * `fetchSchedule(..., priorityCol = Some("in_degree"))` so the
    * per-host horizon cap keeps the TOP-in-degree URLs instead of the
    * lexicographically-first. Map-side-combinable count+min agg on the
    * url key — the same scale shape as [[frontier]].
    */
  def frontierRanked(edges: DataFrame, idCol: String = "doc_id",
      urlCol: String = "url"): DataFrame =
    edges.select(col(idCol).as("doc_id"),
        Web.canonicalUrl(col(urlCol)).as("url"))
      .filter(col("url").isNotNull)
      .groupBy(col("url"))
      .agg(count(lit(1)).as("in_degree"),
        min(col("doc_id")).as("first_seen_doc"))

  /** [[frontierRanked]] over an already-extracted `extractAll` output —
    * the RANKED twin of [[frontierExtracted]], same nofollow gate and
    * link explosion, plus the edge-row in-degree count. This is what
    * [[CrawlLoop]] lands per cycle under `priorityByInDegree`, so the
    * politeness horizon keeps the most-referenced URLs first.
    */
  def frontierRankedExtracted(docs: DataFrame): DataFrame =
    frontierRanked(docs.filter(!robotsForbids("nofollow"))
      .select(col("doc_id"), explode(col("links")).as("l"))
      .select(col("doc_id"), col("l.resolved").as("url")))

  /** RFC 9309 robots.txt gate for the frontier — the FETCH-side twin of
    * the meta-robots gate above (meta robots can only judge what was
    * already fetched; robots.txt must gate BEFORE fetch). `robotsTxt`
    * is a per-host frame `(host, robots_txt)`; hosts ≪ URLs, so the
    * rules side broadcasts, and each host's txt is parsed + compiled to
    * the flat rule array ONCE there — the per-URL evaluation sees only
    * the compiled form ([[graft.ops.RobotsTxt.allowedCompiled]]),
    * never re-parses. URLs whose host has no robots row pass (an absent
    * robots.txt allows everything). Host keying is the lowercased
    * hostname without port (document the simplification: per-port
    * robots differences are below this operator's resolution).
    */
  def frontierGated(frontier: DataFrame, robotsTxt: DataFrame,
      userAgent: String = "*", urlCol: String = "url",
      hostCol: String = "host", robotsTxtCol: String = "robots_txt")
      : DataFrame = {
    val ua = userAgent
    val compile = udf((txt: String) =>
      graft.ops.RobotsTxt.compiledRules(txt, ua))
    val decide = udf((compiled: Seq[String], url: String) =>
      graft.ops.RobotsTxt.allowedCompiled(compiled, url))
    // ONE row per normalized host before the broadcast: a robots frame
    // carrying duplicate host rows (easy from a real fetch log) would
    // otherwise duplicate every frontier URL of that host through the
    // left join; max() is the deterministic pick and ignores nulls, so
    // a (host, null) shadowed by a real fetch keeps the real one
    val rules = broadcast(robotsTxt
      .select(normHost(hostCol).as("graft_host"), col(robotsTxtCol))
      .groupBy(col("graft_host"))
      .agg(max(col(robotsTxtCol)).as("graft_txt"))
      .select(col("graft_host"), compile(col("graft_txt")).as("graft_rules")))
    frontier.withColumn("graft_host", urlHost(urlCol))
      .join(rules, Seq("graft_host"), "left")
      .filter(col("graft_rules").isNull ||
        decide(col("graft_rules"), col(urlCol)))
      .drop("graft_host", "graft_rules")
  }

  /** Streaming face of [[prepare]] for incremental crawl ingest — the
    * same three stages on arrival: one-pass extraction (row kernel,
    * carrying the event time through), meta-robots noindex gate,
    * canonical-priority URL dedup as FIRST-arrival suppression within
    * the watermark horizon (`dropDuplicatesWithinWatermark` on the
    * dedup key — state holds key + timestamp, never the page). Same
    * split as dedupExactStream: the stream suppresses on arrival, the
    * periodic batch [[prepare]] stays the cross-horizon authority.
    *
    * Rows fail through [[graft.job.RowSeam]], a null event time
    * included (no poison rows into stateful stages — a streaming task
    * failure crash-loops on checkpoint replay); rows whose dedup key is
    * NULL (no fetch URL, unresolvable canonical) are EXCLUDED like
    * `Web.urlDedupStream` excludes them — state equality would collapse
    * every null-key page into one.
    *
    * Output: the WebDoc columns + the event-time column + `dedup_url`
    * (the canonicalized dedup key of the kept first arrival).
    */
  def prepareStream(pages: DataFrame, eventTimeCol: String,
      watermark: String, idCol: String = "doc_id",
      htmlCol: String = "html", urlCol: String = "url",
      failedAcc: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val extracted = pages
      .select(col(idCol).cast("string"), col(htmlCol).cast("string"),
        col(urlCol).cast("string"),
        col(eventTimeCol).cast("timestamp"))
      .as[(String, String, String, java.sql.Timestamp)]
      .mapPartitions(rows => RowSeam(rows, failedAcc)(_._1) { case (id, html, url, ts) =>
        nonNull(ts, eventTimeCol)
        (HtmlExtract.extractAllRow(nonNull(id, "doc_id"), nonNull(html, "html"), url), ts)
      })
      .select(col("_1.*"), col("_2").as(eventTimeCol))
    streamPrepTail(extracted, eventTimeCol, watermark)
  }

  /** THE post-extraction streaming contract, shared by [[prepareStream]]
    * and [[prepareBytesStream]] so the two faces can never diverge:
    * meta-robots noindex gate, canonical-priority dedup key, null-key
    * exclusion, watermark, first-arrival suppression.
    */
  private def streamPrepTail(extracted: DataFrame, eventTimeCol: String,
      watermark: String): DataFrame =
    extracted
      .filter(!robotsForbids("noindex"))
      .withColumn("dedup_url", Web.canonicalUrl(
        when(absoluteCanonical, col("canonical")).otherwise(col("url"))))
      .filter(col("dedup_url").isNotNull)
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("dedup_url")

  /** Byte-level twin of [[prepareStream]], shaped for
    * [[graft.sources.Warc.responsesStream]]'s rows: the same three
    * stages on arrival, with the charset ladder inside the extraction
    * pass (decode + extract in ONE map, one [[graft.job.RowSeam]]) and
    * non-200 rows dropped up front (redirect captures are edges, not pages).
    * Together they are the continuous crawl-to-corpus path:
    * {{{
    *   val corpus = WebPrep.prepareBytesStream(
    *     Warc.responsesStream(spark, "s3a://crawl/landing/"), "event_time")
    * }}}
    */
  def prepareBytesStream(pages: DataFrame, eventTimeCol: String = "event_time",
      watermark: String = "1 hour", idCol: String = "doc_id",
      bytesCol: String = "html_bytes", contentTypeCol: String = "content_type",
      urlCol: String = "url",
      failedAcc: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val content =
      if (pages.columns.contains("http_status"))
        pages.filter(col("http_status") === 200)
      else pages
    val extracted = content
      .select(col(idCol).cast("string"), col(bytesCol).cast("binary"),
        col(contentTypeCol).cast("string"), col(urlCol).cast("string"),
        col(eventTimeCol).cast("timestamp"))
      .as[(String, Array[Byte], String, String, java.sql.Timestamp)]
      .mapPartitions(rows => RowSeam(rows, failedAcc)(_._1) { case (id, bytes, ct, url, ts) =>
        nonNull(ts, eventTimeCol)
        (HtmlExtract.extractAllRowBytes(nonNull(id, "doc_id"), nonNull(bytes, bytesCol), ct, url), ts)
      })
      .select(col("_1.*"), col("_2").as(eventTimeCol))
    streamPrepTail(extracted, eventTimeCol, watermark)
  }

  /** Frontier SEEDS from sitemap entries ([[graft.sources.Sitemap]]
    * rows): page-URL entries only, canonicalized with the SAME chain
    * the link frontier keys on, deduplicated to one row per canonical
    * URL keeping the lexicographically greatest `lastmod` (W3C datetime
    * strings in one UTC form order chronologically under string max;
    * mixed non-UTC offsets can misorder within a day — below this
    * hint's resolution; a missing lastmod is "" and loses to any real
    * one).
    * Output `(url, lastmod)` — same url key as [[frontier]], so
    * [[frontierGated]] and [[frontierNew]] compose directly:
    * {{{
    *   val seeds = WebPrep.frontierFromSitemaps(
    *     Sitemap.entries(spark, "s3a://crawl/sitemaps/sitemap-*.xml.gz"))
    *   val toFetch = WebPrep.frontierNew(
    *     WebPrep.frontierGated(seeds, robotsTxt), fetchedLog)
    * }}}
    * Map-side-combinable max() agg on the url key — the same scale
    * shape as [[frontier]]'s min() (a viral URL dedups locally before
    * the shuffle).
    */
  def frontierFromSitemaps(entries: DataFrame): DataFrame =
    entries.filter(col("kind") === "url")
      .select(Web.canonicalUrl(col("loc")).as("url"), col("lastmod"))
      .filter(col("url").isNotNull)
      .groupBy(col("url")).agg(max(col("lastmod")).as("lastmod"))

  /** ONE-level sitemapindex expansion: the `kind = "sitemap"` child
    * references of `entries` ([[graft.sources.Sitemap.entries]] rows)
    * are fetched through the caller's `fetch` seam (the same seam shape
    * a real fetcher cluster plugs into [[CrawlLoop]]), parsed with the
    * SAME spec-capped parser, and their rows unioned with the original
    * page entries. Exactly one level per call — a nested index's
    * children come back as fresh `kind = "sitemap"` rows for the NEXT
    * cycle, because an expansion is a FETCH and fetches belong to
    * cycles (the [[graft.sources.Sitemap]] scaladoc's contract). When
    * `robotsTxt` is given, child-sitemap URLs are robots-gated BEFORE
    * fetching like any frontier. A failed/oversized child contributes
    * no rows and counts on `failedAcc`. Distributed shape: children are
    * deduplicated narrow url rows; the fetch+parse runs map-only on the
    * executors, memory bounded by the 50 MB spec cap.
    *
    * The RETURNED frame is a checkpoint ([[Materialize]]), so the
    * children are fetched once, in this call: a lazy result would
    * re-fetch every child sitemap on every action over it (duplicate
    * traffic against hosts the politeness machinery elsewhere rations)
    * and re-increment `failedAcc`. Residual caveat, as for any
    * side-effecting task: a task RETRY or speculative twin during the
    * checkpoint can still fetch a child twice — exactly-once belongs to
    * a landed table, not a checkpoint.
    */
  def expandSitemapIndex(entries: DataFrame, fetch: String => Array[Byte],
      robotsTxt: Option[DataFrame] = None, userAgent: String = "*",
      failedAcc: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val spark = entries.sparkSession
    import spark.implicits._
    val children0 = entries.filter(col("kind") === "sitemap")
      .select(col("loc").as("url"))
      .filter(col("url").isNotNull).distinct()
    val children = robotsTxt
      .map(r => frontierGated(children0, r, userAgent)).getOrElse(children0)
    val f = fetch
    val childEntries = children.select(col("url")).as[String]
      .mapPartitions(_.flatMap { loc =>
        try {
          val bytes = f(loc)
          if (bytes == null) { failedAcc.foreach(_.add(1L)); Nil }
          else {
            val p = graft.sources.Sitemap.parse(bytes)
            if (p.truncated) failedAcc.foreach(_.add(1L))
            p.entries.map(e =>
              (loc, "url", e.loc, e.lastmod, e.changefreq, e.priority)) ++
              p.children.map(c => (loc, "sitemap", c, "", "", ""))
          }
        } catch {
          case scala.util.control.NonFatal(_) =>
            failedAcc.foreach(_.add(1L)); Nil
        }
      })
      .toDF("sitemap", "kind", "loc", "lastmod", "changefreq", "priority")
    Materialize.checkpoint(entries.select("sitemap", "kind", "loc",
        "lastmod", "changefreq", "priority")
      // the expanded references are consumed; page rows + nested refs remain
      .filter(col("kind") =!= "sitemap")
      .unionByName(childEntries))
  }

  /** The composed index-aware seed feed the [[graft.sources.Sitemap]]
    * scaladoc describes, as one operator: expand the index references
    * one level ([[expandSitemapIndex]]), then canonicalize + dedup the
    * page entries ([[frontierFromSitemaps]]). Output `(url, lastmod)`.
    */
  def frontierFromSitemapIndex(entries: DataFrame,
      fetch: String => Array[Byte], robotsTxt: Option[DataFrame] = None,
      userAgent: String = "*",
      failedAcc: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame =
    frontierFromSitemaps(
      expandSitemapIndex(entries, fetch, robotsTxt, userAgent, failedAcc))

  /** RECRAWL candidates from sitemap freshness: pages already fetched
    * whose sitemap `lastmod` is newer than their last fetch — the
    * incremental-crawl complement of [[frontierNew]] (which finds the
    * never-fetched; this finds the fetched-but-stale). `seeds` is the
    * [[frontierFromSitemaps]] shape `(url, lastmod)`; `fetched` carries
    * `(url, fetch ts)` — e.g. the WARC landing's `fetch_ts`, or a crawl
    * log — canonicalized here with the shared chain. Comparison is
    * string max over W3C datetimes with the SAME one-UTC-form caveat as
    * [[frontierFromSitemaps]] (sitemap dates and WARC-Dates both use
    * it); a missing/empty lastmod or fetch ts never marks a page stale.
    * Output `(url, lastmod, fetched_ts)` — feed the urls back through
    * [[frontierGated]] -> [[fetchSchedule]] like any frontier. Inner
    * join on the uniform url key, AQE broadcast-or-SMJ.
    */
  def frontierStale(seeds: DataFrame, fetched: DataFrame,
      fetchedUrlCol: String = "url", fetchedTsCol: String = "fetch_ts")
      : DataFrame = {
    // one ts per canonical url: a landing holding several captures
    // compares against the LATEST fetch
    // a TimestampType ts must render in the SAME W3C form the lastmod
    // strings use — a bare string cast gives 'yyyy-MM-dd HH:mm:ss',
    // whose ' ' < 'T' makes every same-day lastmod compare newer
    val tsAsW3c = fetched.schema(fetchedTsCol).dataType match {
      case org.apache.spark.sql.types.TimestampType =>
        date_format(to_utc_timestamp(col(fetchedTsCol),
            fetched.sparkSession.sessionState.conf.sessionLocalTimeZone),
          "yyyy-MM-dd'T'HH:mm:ss'Z'")
      case _ => col(fetchedTsCol).cast("string")
    }
    val lastFetch = fetched
      .select(Web.canonicalUrl(col(fetchedUrlCol)).as("url"),
        tsAsW3c.as("fetched_ts"))
      .filter(col("url").isNotNull && col("fetched_ts").isNotNull &&
        col("fetched_ts") =!= "")
      .groupBy(col("url")).agg(max(col("fetched_ts")).as("fetched_ts"))
    seeds.filter(col("lastmod").isNotNull && col("lastmod") =!= "")
      .join(lastFetch, Seq("url"))
      .filter(col("lastmod") > col("fetched_ts"))
  }

  /** Conditional-refetch validators onto a fetch plan: left-join the
    * plan's urls with the stored HTTP validators from a
    * responses/landing frame ([[graft.sources.Warc.responses]] rows —
    * `etag` / `last_modified`, "" when the server sent none), so the
    * fetch seam can issue `If-None-Match` / `If-Modified-Since`
    * requests and a 304 costs headers, not a page.
    *
    * "Stored" follows the HTTP caching model, which matters now that
    * [[graft.sources.Warc.responses]] surfaces 304 captures: the
    * latest FULL capture (status != 304) replaces the stored
    * validators wholesale (RFC 9111 storage replacement — max
    * fetch_ts; W3C strings in one UTC form order chronologically, the
    * [[frontierStale]] caveat applies), and a NEWER 304 then updates
    * ONLY the fields it actually resent (RFC 9110 §15.4.5) — a bare
    * 304 must never wipe the stored ETag/Last-Modified, or every
    * subsequent fetch silently degrades to unconditional, the exact
    * cost this operator exists to avoid. Frames without a `statusCol`
    * column (plain fetch logs) treat every row as a full capture —
    * the original latest-capture behavior. Never-fetched urls keep
    * null validators (an unconditional first fetch). Scale shape: the
    * validator side reduces to one NARROW row per canonical url
    * (map-side-combinable max aggregates) before the AQE
    * broadcast-or-SMJ join on the uniform url key.
    */
  def planWithValidators(plan: DataFrame, fetched: DataFrame,
      urlCol: String = "url", fetchedUrlCol: String = "url",
      fetchedTsCol: String = "fetch_ts", etagCol: String = "etag",
      lastModifiedCol: String = "last_modified",
      statusCol: String = "http_status"): DataFrame = {
    val hasStatus = statusCol != null && fetched.columns.contains(statusCol)
    val rows = fetched
      .select(Web.canonicalUrl(col(fetchedUrlCol)).as(urlCol),
        col(fetchedTsCol).cast("string").as("graft_ts"),
        col(etagCol).cast("string").as("graft_etag"),
        col(lastModifiedCol).cast("string").as("graft_lm"),
        (if (hasStatus) col(statusCol) === 304 else lit(false))
          .as("graft_reval"))
      .filter(col(urlCol).isNotNull)
    val latest = rows.groupBy(col(urlCol)).agg(
      max(when(!col("graft_reval"),
        struct(col("graft_ts"), col("graft_etag"), col("graft_lm"))))
        .as("graft_full"),
      max(when(col("graft_reval") && col("graft_etag") =!= "",
        struct(col("graft_ts"), col("graft_etag")))).as("graft_e304"),
      max(when(col("graft_reval") && col("graft_lm") =!= "",
        struct(col("graft_ts"), col("graft_lm")))).as("graft_l304"))
    def merged(reval: Column, revalTs: Column, revalV: Column,
        fullV: Column): Column =
      when(reval.isNotNull &&
        (col("graft_full").isNull || revalTs > col("graft_full.graft_ts")),
        revalV).otherwise(fullV)
    plan.join(latest.select(col(urlCol),
        merged(col("graft_e304"), col("graft_e304.graft_ts"),
          col("graft_e304.graft_etag"), col("graft_full.graft_etag"))
          .as("etag"),
        merged(col("graft_l304"), col("graft_l304.graft_ts"),
          col("graft_l304.graft_lm"), col("graft_full.graft_lm"))
          .as("last_modified")),
      Seq(urlCol), "left")
  }

  /** The frontier diff the scaladoc of [[frontier]] promises: frontier
    * minus the already-fetched set, as an operator, over a RAW fetch log:
    * `fetched` URLs are canonicalized with the SAME chain the frontier
    * keys on, then anti-joined on the url key — AQE picks broadcast vs
    * sort-merge by the fetched side's actual size. The chain is NOT idempotent:
    * `https://x.example/a//` canonicalizes to `…/a/`, and a second pass
    * turns that into `…/a` — so a log of already-canonical keys (a
    * crawl's own landed fetch log) must be diffed as it is, with a plain
    * anti-join on the landed url, as [[CrawlLoop]] does. Null-url frontier
    * rows survive (null equals nothing in an anti join), mirroring
    * urlDedup's null-preserving contract.
    */
  def frontierNew(frontier: DataFrame, fetched: DataFrame,
      urlCol: String = "url", fetchedUrlCol: String = "url"): DataFrame =
    frontier.join(
      fetched.select(Web.canonicalUrl(col(fetchedUrlCol)).as(urlCol)),
      Seq(urlCol), "left_anti")

  /** EXACT-result Bloom-prefiltered face of [[frontierNew]]: a Bloom
    * filter built over the canonical fetched set splits the frontier
    * BEFORE the anti-join shuffle — bloom-NEGATIVE rows are definitely
    * unseen (a Bloom filter has no false negatives) and bypass the join
    * entirely; only bloom-positive rows (true hits + the fpp share of
    * false positives) pay the exact anti-join that settles them. The
    * union is therefore EQUAL to [[frontierNew]] for every fpp — the
    * filter moves cost, never answers (PipelineSpec pins the equality on
    * a randomized frontier).
    *
    * Like [[frontierNew]] it takes a RAW fetch log: the chain is NOT
    * idempotent (`…/a//` → `…/a/` → `…/a`), so a crawl's own landed,
    * already-canonical log is diffed with a plain anti-join on the url,
    * as [[CrawlLoop]] does — fed here, a url ending in `/` never matches
    * its log entry and is fetched again in every cycle that links it.
    *
    * When it wins: a discovery-heavy cycle (most frontier URLs are new —
    * the steady state of an expanding crawl) sends only the revisit tail
    * through the shuffle; at 1% fpp the anti-join sees ~hits + 1% of the
    * rest instead of the whole frontier. Regime bound, stated honestly:
    * the driver-merged filter costs ~1.2 bytes/key at 1% fpp, so it
    * broadcasts comfortably to ~10^9 fetched URLs (~1.2 GB); past that,
    * the plain anti-join (the one [[graft.pipeline.CrawlLoop]] runs) is
    * the diff.
    *
    * `expectedItems` sizes the filter; 0 (default) spends one count()
    * action on the fetched side first. Null-url frontier rows survive
    * on the definitely-new side (the probe maps null to not-seen), the
    * same outcome [[frontierNew]]'s anti-join gives them — null equals
    * nothing there.
    */
  def frontierNewBloom(frontier: DataFrame, fetched: DataFrame,
      urlCol: String = "url", fetchedUrlCol: String = "url",
      expectedItems: Long = 0L, fpp: Double = 0.01): DataFrame = {
    // checkpoint: the canonical chain (~9 regex passes over every
    // fetched row) would otherwise run THREE times — the sizing count,
    // the bloom build, and the settle join's build side. `frontier` is
    // still referenced by both union branches (probe + settle) — checkpoint
    // it caller-side when it is itself expensive to produce. The bloom
    // broadcast is reclaimed by Spark's ContextCleaner once the returned
    // plan is dropped (no explicit destroy: the result is lazy).
    val fetchedCanon = Materialize.checkpoint(fetched
      .select(Web.canonicalUrl(col(fetchedUrlCol)).as(urlCol))
      .filter(col(urlCol).isNotNull))
    val n = if (expectedItems > 0L) expectedItems
      else math.max(1L, fetchedCanon.count())
    val bf = fetchedCanon.stat.bloomFilter(urlCol, n, fpp)
    val bfBc = frontier.sparkSession.sparkContext.broadcast(bf)
    val maybeSeen = udf((u: String) => u != null && bfBc.value.mightContain(u))
    val definitelyNew = frontier.filter(!maybeSeen(col(urlCol)))
    val toSettle = frontier.filter(maybeSeen(col(urlCol)))
      .join(fetchedCanon, Seq(urlCol), "left_anti")
    definitelyNew.unionByName(toSettle)
  }

  /** Politeness schedule for a fetch cycle: per-host fetch sequencing
    * under each host's `Crawl-delay` (RFC 9309 extension field honored
    * Bing/Yandex-style by [[graft.ops.RobotsTxt.crawlDelay]]; hosts
    * without one pace at `defaultDelaySeconds`). For every frontier URL:
    *
    *   - `host`       — the lowercased port-less host the URL fetches
    *     from (the politeness domain);
    *   - `delay_s`    — the host's effective inter-fetch delay;
    *   - `fetch_seq`  — 1-based position in the host's fetch order
    *     (ordered by `urlCol`, deterministic when URLs are unique per
    *     host — which [[frontier]]'s dedup guarantees);
    *   - `not_before_s` — `(fetch_seq - 1) * delay_s`, the earliest
    *     offset from cycle start a delay-respecting fetcher may issue
    *     the request.
    *
    * `maxPerHost` is the cycle horizon: a host never yields more rows
    * than a polite fetcher could reach this cycle (at delay 1s a day is
    * 86,400 fetches), so one viral host cannot flood the plan. Null
    * URLs are dropped (nothing to fetch).
    *
    * Scale shape: the delays side broadcasts (hosts ≪ URLs, parse once
    * per host). The sequencing window shuffles only narrow frontier
    * rows on the host key, and the host-skew a single window partition
    * would suffer (one host with 10^8 frontier URLs = one task) is
    * bounded by a salted two-phase top-k: phase 1 ranks within
    * (host, hash-salt of `saltParts` buckets) and keeps `maxPerHost`
    * per bucket — the global per-host top-k is a subset of the union of
    * per-bucket top-ks — so phase 2's exact per-host window never sees
    * more than `saltParts * maxPerHost` rows for any host, whatever the
    * input skew.
    */
  def fetchSchedule(frontier: DataFrame, robotsTxt: DataFrame,
      userAgent: String = "*", defaultDelaySeconds: Double = 1.0,
      maxPerHost: Int = 86400, saltParts: Int = 32,
      urlCol: String = "url", hostCol: String = "host",
      robotsTxtCol: String = "robots_txt",
      priorityCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ua = userAgent
    // fetch order within a host: by `priorityCol` DESC when given (e.g.
    // frontierRanked's in_degree — the horizon cap then keeps the
    // TOP-priority URLs), url as the deterministic tie-break; plain url
    // order otherwise. The SAME total order drives both window phases,
    // so the salted-phase per-bucket top-k stays a superset of the
    // global per-host top-k for any priority.
    val ordering: Seq[Column] =
      priorityCol.map(c => Seq(col(c).desc, col(urlCol).asc))
        .getOrElse(Seq(col(urlCol).asc))
    val delayOf = udf((txt: String) =>
      graft.ops.RobotsTxt.crawlDelay(txt, ua)
        .map(java.lang.Double.valueOf).orNull)
    // same one-row-per-host collapse as frontierGated (a duplicate host
    // row must not duplicate the host's whole plan)
    val delays = broadcast(robotsTxt
      .select(normHost(hostCol).as("graft_host"), col(robotsTxtCol))
      .groupBy(col("graft_host"))
      .agg(max(col(robotsTxtCol)).as("graft_txt"))
      .select(col("graft_host"),
        delayOf(col("graft_txt")).as("graft_robots_delay")))
    val bounded = frontier
      .filter(col(urlCol).isNotNull)
      .withColumn("graft_host", urlHost(urlCol))
      .withColumn("graft_salt",
        pmod(xxhash64(col(urlCol)), lit(saltParts.toLong)))
      .withColumn("graft_r1", row_number().over(
        Window.partitionBy(col("graft_host"), col("graft_salt"))
          .orderBy(ordering: _*)))
      .filter(col("graft_r1") <= maxPerHost)
      .drop("graft_salt", "graft_r1")
    bounded
      .join(delays, Seq("graft_host"), "left")
      .withColumn("delay_s",
        coalesce(col("graft_robots_delay"), lit(defaultDelaySeconds)))
      .drop("graft_robots_delay")
      .withColumn("fetch_seq", row_number().over(
        Window.partitionBy(col("graft_host")).orderBy(ordering: _*)))
      .filter(col("fetch_seq") <= maxPerHost)
      .withColumn("not_before_s",
        (col("fetch_seq") - lit(1)).cast("double") * col("delay_s"))
      .withColumnRenamed("graft_host", "host")
  }

  /** Adaptive recrawl scheduling from the fetch log itself — the
    * freshness-budget allocator of an incremental crawl: pages that
    * CHANGE often earn short revisit intervals, static pages fall to the
    * slow lane, so the same fetch budget buys more corpus freshness.
    * The estimator is Cho & Garcia-Molina's smoothed Poisson
    * change-rate estimator (ACM TOIT 3(3) 2003, "Estimating frequency
    * of change" — the public reference for crawl scheduling): over a
    * url's consecutive capture pairs,
    *
    *   λ̂ = -ln((n - X + 0.5) / (n + 0.5)) / Ī
    *
    * with `n` = observed intervals, `X` = intervals whose content
    * digest CHANGED, `Ī` = mean interval seconds; the +0.5 smoothing
    * keeps the log finite when every interval changed. The schedule is
    * then `1/λ̂` clamped into [`minIntervalS`, `maxIntervalS`].
    *
    * Input: a fetch log carrying `urlCol` (canonicalized here with the
    * [[graft.ops.Web.canonicalUrl]] chain, so capture series merge
    * across spellings), `tsCol` (TimestampType, W3C `...T...Z` strings,
    * or already-epoch numerics — the [[frontierStale]] dtype-dispatch
    * convention; the string form parses its `Z`/offset properly via the
    * `X` pattern, so the session timezone cannot shift it), and
    * `digestCol` — any content fingerprint (md5_long of the extracted
    * text is the natural feed). Null digests compare null-safely (two
    * nulls = unchanged, null↔value = changed).
    *
    * Output, one row per canonical url:
    *   - `n_captures`, `n_changes` — series length and changed intervals;
    *   - `change_rate_per_day` — round(λ̂·86400, 6); 0.0 for a
    *     never-changed series, null when no interval exists (single
    *     capture) or the series is degenerate (all captures share one
    *     timestamp);
    *   - `next_interval_s` — clamp(floor(1/λ̂)): `maxIntervalS` for
    *     never-changed/single-capture urls, `minIntervalS` for the
    *     degenerate zero-span series;
    *   - `next_fetch_epoch` — last capture epoch + the interval (exact
    *     long arithmetic).
    *
    * Scale shape: one window over the url key (a url's capture count is
    * bounded by revisit frequency — a daily fetch for a year is 365
    * rows, so per-url skew is structurally bounded), then one
    * map-side-combinable aggregation on the same key. The q49 oracle
    * re-derives the lag window, the estimator and both clamps in DuckDB.
    */
  def recrawlSchedule(fetchLog: DataFrame, minIntervalS: Long = 3600L,
      maxIntervalS: Long = 30L * 86400L, urlCol: String = "url",
      tsCol: String = "fetch_ts", digestCol: String = "digest")
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minIntervalS >= 1 && maxIntervalS >= minIntervalS,
      s"need 1 <= minIntervalS <= maxIntervalS, got $minIntervalS, $maxIntervalS")
    // string form: try_to_timestamp (the Warc event_time convention) —
    // the universal ISO-8601 parser takes fractional seconds and both
    // offset spellings (Z / +01:00), which a fixed ssX pattern would
    // null out; rows whose timestamp still fails to parse drop from the
    // series (a malformed capture clock cannot order a series)
    val epochTs = fetchLog.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.TimestampType =>
        unix_timestamp(col(tsCol))
      case org.apache.spark.sql.types.StringType =>
        unix_timestamp(try_to_timestamp(col(tsCol)))
      case _ => col(tsCol).cast("long")
    }
    // digest as the secondary sort key: equal-timestamp captures of one
    // canonical url (two spellings fetched in the same second) must lag
    // in a DETERMINISTIC order or n_changes flips run to run
    val w = Window.partitionBy(col("graft_url"))
      .orderBy(col("graft_ts"), col("graft_digest"))
    val lagged = fetchLog
      .select(Web.canonicalUrl(col(urlCol)).as("graft_url"),
        epochTs.as("graft_ts"), col(digestCol).as("graft_digest"))
      .filter(col("graft_url").isNotNull && col("graft_ts").isNotNull)
      .withColumn("graft_prev_ts", lag(col("graft_ts"), 1).over(w))
      .withColumn("graft_prev_digest", lag(col("graft_digest"), 1).over(w))
    val agg = lagged.groupBy(col("graft_url")).agg(
      count(lit(1)).as("n_captures"),
      max(col("graft_ts")).as("graft_last_ts"),
      sum(when(col("graft_prev_ts").isNotNull, 1L).otherwise(0L))
        .as("graft_n_int"),
      sum(when(col("graft_prev_ts").isNotNull &&
        !(col("graft_digest") <=> col("graft_prev_digest")), 1L)
        .otherwise(0L)).as("n_changes"),
      sum(when(col("graft_prev_ts").isNotNull,
        col("graft_ts") - col("graft_prev_ts"))).as("graft_int_sum"))
    // λ̂ in 1/seconds; the CASE ladder is mirrored term for term by the
    // q49 oracle (same ln, same smoothing, same clamps), so keep the
    // branches in this exact order
    val lambda = -log((col("graft_n_int") - col("n_changes") + lit(0.5)) /
      (col("graft_n_int") + lit(0.5))) *
      col("graft_n_int").cast("double") / col("graft_int_sum").cast("double")
    val interval =
      when(col("graft_n_int") === 0 || col("n_changes") === 0,
        lit(maxIntervalS))
      .when(col("graft_int_sum") === 0, lit(minIntervalS))
      .otherwise(greatest(lit(minIntervalS), least(lit(maxIntervalS),
        floor(lit(1.0) / lambda))))
    val rate =
      when(col("graft_n_int") === 0 || col("graft_int_sum") === 0,
        lit(null).cast("double"))
      .when(col("n_changes") === 0, lit(0.0))
      .otherwise(round(lambda * lit(86400.0), 6))
    agg.select(col("graft_url").as(urlCol), col("n_captures"),
      col("n_changes"), rate.as("change_rate_per_day"),
      interval.as("next_interval_s"),
      (col("graft_last_ts") + interval).as("next_fetch_epoch"))
  }
}
