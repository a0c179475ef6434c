package graft.pipeline

import graft.job.Landed
import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** The batch crawl-cycle driver: [[WebPrep]]'s operators composed into
  * the iteration a crawler actually runs, with the same landed-table
  * checkpoint/resume contract as [[graft.job.ExtractJob]]. One cycle:
  *
  *   frontier -> robots gate ([[WebPrep.frontierGated]])
  *            -> minus fetched set (left-anti join on the landed url)
  *            -> politeness plan ([[WebPrep.fetchSchedule]], horizon-capped)
  *            -> fetch (here: a join against the landed `web` table —
  *               the seam where a real fetcher cluster sits)
  *            -> one-pass extraction ([[graft.html.HtmlExtract.extractAll]])
  *            -> corpus rows ([[WebPrep.prepareExtracted]]) landed under
  *               `outDir/docs/cycle=N`
  *            -> next frontier (link discovery UNION the politeness
  *               rollover — URLs the horizon cap deferred are NOT lost,
  *               they re-enter the next cycle) landed under
  *               `outDir/frontier/cycle=N`
  *            -> one metrics row appended (exact resume boundary).
  *
  * Resume follows the landed-run contract of [[graft.job.Landed]], as
  * ExtractJob's does: a cycle with a `done` metrics row for this run_id
  * is never re-run; a crash mid-cycle re-runs that cycle whole (each
  * cycle's three directory writes are Overwrite — the cycle is the
  * idempotent retry unit); a run whose metrics carry `exhausted` is
  * complete regardless of `cycles`. The loop is driver-orchestrated like
  * any iterative Spark algorithm (PageRank-style): each cycle is a fully
  * distributed job, the driver holds only counters, and lineage is
  * truncated by the landed tables, never by driver-side state.
  *
  * The loop covers link discovery; the sibling frontier feeds compose
  * at the seeds seam of a later run (or a custom cycle): redirect
  * targets via [[graft.sources.Warc.redirectEdges]] over the landed
  * responses (fold multi-hop chains to their ends with
  * [[graft.ops.LinkGraph.resolveRedirectChains]] first), sitemap seeds
  * via [[WebPrep.frontierFromSitemaps]], freshness recrawl via
  * [[WebPrep.frontierStale]] or the change-rate-adaptive
  * [[WebPrep.recrawlSchedule]] over this loop's own `fetched/` log —
  * all keyed on the same canonical url. Custom cycles diff a RAW fetch
  * log with [[WebPrep.frontierNew]] or its exact bloom-prefiltered face
  * [[WebPrep.frontierNewBloom]] (≤~10^9 fetched URLs); a landed, canonical
  * log such as `fetched/` takes a plain anti-join on `url`, as this loop
  * does (a second canonical pass turns `…/a/` into `…/a`: refetched every
  * cycle). A richer priority than in-degree comes from
  * [[graft.ops.LinkGraph.pageRank]] over the accumulated link output,
  * joined onto the frontier as `priorityCol`.
  *
  * One key everywhere: the canonical url string. Seeds and discovered
  * links pass [[graft.ops.Web.canonicalUrl]] once, before they land, so
  * the frontier, the plan and the fetched log all hold canonical urls
  * and the fetched-set diff compares them as landed — never
  * re-canonicalized (the chain is not idempotent: `…/a//` lands as
  * `…/a/`, which a second pass would turn into `…/a`).
  *
  * Scale shape per cycle: frontier frames are NARROW (url-only) through
  * every shuffle; the wide fetched rows join the plan on the url key
  * exactly once and move map-only through extraction; the fetched-set
  * diff reads a dedicated url-only fetch-log table (never the wide
  * corpus rows), an AQE broadcast-or-SMJ anti-join.
  */
object CrawlLoop {

  /** `cycles` and `maxPerHost` must be at least 1: a zero per-host cap
    * plans no url, so every cycle would land empty tables and record
    * `done`, and the crawl would never exhaust. Both are checked when
    * the config is built, before any Spark work.
    */
  final case class CrawlConfig(
      outDir: String,
      cycles: Int,
      runId: String = "crawl-1",
      userAgent: String = "*",
      defaultDelaySeconds: Double = 1.0,
      maxPerHost: Int = 86400,
      format: String = "parquet",
      // host-suffix blocklist (Web.domainBlocklist semantics: an entry
      // blocks the host and every subdomain) applied to every cycle's
      // frontier BEFORE the robots gate — consent/safety enforcement
      // belongs at FETCH time, not just curation time: a blocked host
      // never consumes politeness budget, robots fetches, or bandwidth.
      // Like crawl traps, blocked urls never enter the fetched log, so
      // editing the list later reconsiders them
      blocklist: Set[String] = Set.empty,
      // rank the frontier by link in-degree (WebPrep.frontierRanked's
      // OPIC-style signal): the landed frontier carries an `in_degree`
      // column (edge-row count, accumulated across cycles — a deferred
      // url KEEPS its count and new links add to it), and the
      // politeness plan passes priorityCol so the per-host horizon cap
      // keeps the most-referenced URLs instead of the
      // lexicographically-first. Off = the plain url-ordered frontier.
      // This changes the landed frontier schema — flip it only on a
      // FRESH outDir
      priorityByInDegree: Boolean = false) {
    require(cycles >= 1, s"cycles must be >= 1, got $cycles")
    require(maxPerHost >= 1, s"maxPerHost must be >= 1, got $maxPerHost")
  }

  /** Per-cycle lineage metrics (one row per completed cycle). */
  final case class CycleMetric(run_id: String, cycle: Int,
      frontier_in: Long, gated: Long, to_fetch: Long, fetched: Long,
      docs_kept: Long, frontier_out: Long, wall_ms: Long, status: String,
      ts: Long)

  // threads of a cycle's job pool: every job of its merged barrier runs at
  // once, so later jobs' tasks fill the executors earlier jobs' stragglers
  // free up (guide §2.6 back-fill)
  private val CycleJobs = 8

  private def docsDir(cfg: CrawlConfig) = s"${cfg.outDir}/docs"
  private def frontierDir(cfg: CrawlConfig) = s"${cfg.outDir}/frontier"
  // the fetch LOG is its own narrow table, distinct from the corpus: it
  // records every ATTEMPTED url (the politeness plan), so pages deduped
  // away by canonical collapse, dead urls, and extraction failures all
  // still count as fetched — any later re-link must not refetch them
  private def fetchedDir(cfg: CrawlConfig) = s"${cfg.outDir}/fetched"
  private def metricsPath(cfg: CrawlConfig) = s"${cfg.outDir}/metrics"

  /** Completed cycles of this run (+ whether the crawl already reported
    * exhaustion) — the resume state, read through [[Landed.resume]].
    */
  def completedCycles(spark: SparkSession, cfg: CrawlConfig)
      : (Set[Int], Boolean) = {
    val all = Landed.resume(spark, metricsPath(cfg), cfg.format)(
      _.select(col("run_id"), col("cycle"), col("status")).collect())
      .getOrElse(Array.empty[Row])
    // one outDir = one crawl lineage: a different run_id would restart
    // the cycle counter over this run's landed cycle dirs while the
    // old run's higher cycles survive — a silently MIXED corpus. Fail
    // loudly instead; a fresh crawl belongs in a fresh outDir.
    val others = all.map(_.getString(0)).distinct.filterNot(_ == cfg.runId)
    require(others.isEmpty,
      s"outDir ${cfg.outDir} already holds crawl run(s) " +
        s"${others.mkString(",")} — resume with that run_id or use a " +
        "fresh outDir (cycle dirs would interleave two crawls)")
    val rows = all.filter(_.getString(0) == cfg.runId)
    val done = rows.filter(r => r.getString(2) == "done" ||
      r.getString(2) == "exhausted").map(_.getInt(1)).toSet
    (done, rows.exists(_.getString(2) == "exhausted"))
  }

  /** All landed corpus rows (every completed cycle; `cycle` becomes a
    * partition-discovered column).
    */
  def readDocs(spark: SparkSession, cfg: CrawlConfig): DataFrame =
    spark.read.format(cfg.format).load(docsDir(cfg))

  /** Adapter for the fetch seam: a WARC-landed byte table (the
    * [[graft.sources.Warc.responses]] / `ingestToTable` column shape) as
    * the `(url, html)` web frame [[run]] expects, decoded through the
    * same charset ladder as the byte-level extract path (BOM, transport
    * charset, meta prescan, UTF-8 sniff, windows-1252 fallback).
    * Undecodable rows (null bytes, or a binary-magic payload the
    * ladder refuses) drop and count on `failedAcc`.
    * Refetches of one url (a WARC landing keeps every capture) collapse
    * LATEST-fetch-wins on `tsCol` (WARC-Date strings in one UTC form
    * order chronologically under string max; payload breaks exact-ts
    * ties) — pass `tsCol = null` to keep every capture row instead.
    * When the frame carries `statusCol` (the responses/landing shape),
    * only HTTP-200 rows become pages: a 3xx capture's empty body must
    * not enter the web as a blank page — and under latest-fetch-wins a
    * NEWER 301 capture would otherwise erase a real older 200.
    */
  def webFromBytes(pages: DataFrame, urlCol: String = "url",
      bytesCol: String = "html_bytes",
      contentTypeCol: String = "content_type",
      tsCol: String = "fetch_ts",
      statusCol: String = "http_status",
      failedAcc: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val dec = udf((b: Array[Byte], ct: String) => {
      // null bytes AND ladder refusals (binary magic under a text
      // label) both count — a refused decode must not vanish silently
      val s = if (b == null) null else graft.html.HtmlCharset.decode(b, ct)
      if (s == null) { failedAcc.foreach(_.add(1L)); null } else s
    })
    val contentOnly =
      if (statusCol != null && pages.columns.contains(statusCol))
        pages.filter(col(statusCol) === 200)
      else pages
    val decoded = contentOnly.select(col(urlCol).as("url"),
        dec(col(bytesCol), col(contentTypeCol)).as("html"),
        (if (tsCol == null) lit("") else coalesce(col(tsCol), lit("")))
          .as("graft_ts"))
      .filter(col("html").isNotNull)
    if (tsCol == null) decoded.drop("graft_ts")
    else decoded
      .groupBy(col("url"))
      .agg(max(struct(col("graft_ts"), col("html"))).as("graft_m"))
      .select(col("url"), col("graft_m.html").as("html"))
  }

  /** Run (or resume) the crawl: `web` is the fetchable universe
    * `(url, html)` — a landed WARC table via [[graft.sources.Warc]], or
    * a synthetic site in tests; `seeds` carries a `url` column;
    * `robotsTxt` is the per-host `(host, robots_txt)` frame both gates
    * and the politeness planner read, held STATIC for every cycle —
    * for a multi-day crawl whose robots files may change mid-run, use
    * the `robotsOf` overload below instead.
    */
  def run(spark: SparkSession, web: DataFrame, seeds: DataFrame,
      robotsTxt: DataFrame, cfg: CrawlConfig): Unit =
    run(spark, web, seeds, cfg, robotsOf = _ => robotsTxt)

  /** [[run]] with a PER-CYCLE robots seam: `robotsOf(cycle)` supplies
    * the `(host, robots_txt)` frame each cycle reads — the same seam
    * shape as the fetch side (`web` is the fetch seam), so a long
    * crawl can refresh rules between cycles (RFC 9309 tells crawlers
    * to re-fetch robots.txt at least daily; a 10^12-URL crawl spans
    * many of those). Resume composes naturally: a resumed run calls
    * `robotsOf` only for the cycles it actually executes, and a rule
    * that flipped between runs simply gates the remaining cycles — the
    * landed cycles are history. The gate is evaluated per cycle, and
    * BOTH deferral classes re-test against the current rules when
    * their cycle comes: horizon-deferred urls roll over through the
    * plan diff, and robots-BLOCKED urls roll over un-fetched (see the
    * `blocked` note in the loop) — so a temporarily-disallowed path
    * is fetched once a later cycle's rules reopen it, instead of
    * being silently evicted.
    */
  def run(spark: SparkSession, web: DataFrame, seeds: DataFrame,
      cfg: CrawlConfig, robotsOf: Int => DataFrame): Unit = {
    import spark.implicits._
    val (done, exhausted) = completedCycles(spark, cfg)
    if (exhausted) return
    var cycle = if (done.isEmpty) 0 else done.max + 1
    var continue = true
    // frontier_in of cycle N is BY CONSTRUCTION the row count of the
    // frontier dir cycle N-1 landed — i.e. last cycle's frontier_out
    // metric. Carrying it in a driver var saves the per-cycle footer
    // count job; a resumed run has no in-memory value for its first
    // cycle and falls back to the footer read once.
    var prevFrontierOut: Option[Long] = None
    // one Landed.jobs pool per cycle, opened inside the cycle's scope:
    // its jobs end before the scope releases the frames they read
    while (cycle < cfg.cycles && continue) graft.ops.Materialize.scoped { s =>
      Landed.jobs(s"graft-crawl-${cfg.runId}", CycleJobs) { js =>
        val t0 = System.nanoTime()
        // the per-cycle rules (the static-overload caller sees one frame
        // every cycle; a refresh seam sees its cycle's)
        val robotsTxt = robotsOf(cycle)
        // the landed-table schemas are fully determined by cfg (a fresh
        // outDir is required when priorityByInDegree flips), so the
        // per-cycle reads declare them: schema inference would read a
        // parquet footer every cycle, driver-side cost in the barrier
        val frontierSchema = StructType(StructField("url", StringType) +:
          (if (cfg.priorityByInDegree) Seq(StructField("in_degree", LongType)) else Nil))
        val frontier0 =
          if (cycle == 0)
            seeds.select(graft.ops.Web.canonicalUrl(col("url")).as("url"))
              .filter(col("url").isNotNull).distinct()
          else spark.read.format(cfg.format).schema(frontierSchema)
            .load(s"${frontierDir(cfg)}/cycle=${cycle - 1}")
        // under priority ranking every frontier frame carries in_degree;
        // seeds start at 0 (nothing links them yet — they are fetched
        // unconditionally anyway, the cap orders only what competes)
        val frontier =
          if (cfg.priorityByInDegree && !frontier0.columns.contains("in_degree"))
            frontier0.withColumn("in_degree", lit(0L))
          else frontier0
        // narrow url-only frames; gated caches so the robots-gate UDF pass
        // runs once (the count and the anti-join lineage share it).
        // frontier.count() on the landed dir is a footer-level read (empty
        // projection), not a data pass. Crawl-trap urls (Web.isUrlTrap:
        // length/depth/loop signature) drop BEFORE the robots gate — an
        // unfiltered trap family (calendar pages, session-id loops) would
        // otherwise eat its host's politeness budget forever; trap rows
        // never enter the fetched log
        val trapFree = frontier.filter(!coalesce(
          graft.ops.Web.isUrlTrap(col("url")), lit(true)))
        val blockFree =
          if (cfg.blocklist.isEmpty) trapFree
          else {
            // select-restore the frontier's own columns: domainBlocklist
            // appends (and would clobber) host/flag columns
            val cols = trapFree.columns
            graft.ops.Web.domainBlocklist(trapFree, cfg.blocklist, "url")
              .filter(!col("blocked"))
              .select(cols.head, cols.tail: _*)
          }
        val gated = s.persisted(WebPrep.frontierGated(blockFree, robotsTxt, cfg.userAgent))
        val fetchedSchema =
          StructType(Seq(StructField("url", StringType), StructField("cycle", IntegerType)))
        val fetchedLog =
          if (Landed.exists(spark, fetchedDir(cfg)))
            spark.read.format(cfg.format).schema(fetchedSchema)
              .load(fetchedDir(cfg))
              // COMPLETED cycles only: a crashed attempt of THIS cycle may
              // have landed its own fetched/cycle=N before dying ahead of
              // the metrics row — reading it back would make the retry see
              // to_fetch=0, overwrite the cycle with nothing and falsely
              // record exhaustion (the cycle must stay the idempotent
              // retry unit)
              .filter(col("cycle") < cycle)
              .drop("cycle")
          else Seq.empty[String].toDF("url")
        // the fetched-set diff on the landed url: both sides are already
        // canonical (see the object scaladoc), so no re-canonicalization
        val toFetch = s.persisted(gated.filter(col("url").isNotNull)
          .join(fetchedLog, Seq("url"), "left_anti"))
        // the lineage counts START here but are awaited at the single
        // merged barrier below (with the extraction count and the three
        // writes): at fixture scale the fixed job-launch cost of each
        // driver-synchronous barrier is the crawl wall (x23/x31). The
        // counts race to fill the shared gated/toFetch caches with the
        // downstream jobs — Spark's block-level cache locking makes that safe
        val frontierInF =
          if (prevFrontierOut.isEmpty) Some(js.submit(frontier.count())) else None
        // ONE job for both lineage counts: a tagged union over the two
        // cached frames, one job launch less per cycle
        val countsF = js.submit(gated.select(lit(0).as("graft_k"))
          .unionByName(toFetch.select(lit(1).as("graft_k")))
          .groupBy(col("graft_k")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
        // under priority ranking the horizon cap keeps the TOP-in-degree
        // urls of each host (fetchSchedule's priorityCol contract; the
        // salted two-phase superset argument holds for any priority)
        val plan = s.persisted(WebPrep.fetchSchedule(toFetch, robotsTxt,
          cfg.userAgent, cfg.defaultDelaySeconds, cfg.maxPerHost,
          priorityCol = if (cfg.priorityByInDegree) Some("in_degree")
            else None).select(col("url")))
        // horizon rollover: URLs the per-host cap deferred re-enter the
        // next cycle's frontier instead of silently vanishing — under
        // priority ranking they KEEP their in-degree (new links to them
        // add to it at the frontier merge below)
        val keepCols = col("url") +: (if (cfg.priorityByInDegree)
          Seq(col("in_degree")) else Nil)
        val horizonRollover = toFetch.select(keepCols: _*)
          .join(plan, Seq("url"), "left_anti")
        // robots-BLOCKED urls roll over too, un-fetched: under the
        // per-cycle robotsOf seam a rule may reopen later, and the
        // re-test must run against THAT cycle's rules — evicting gated
        // rows would make the refresh seam vacuous for exactly the urls
        // it exists to reconsider. A permanently-blocked set circulates
        // as narrow url rows only; it never enters to_fetch, the plan,
        // or the fetched log, and a crawl still exhausts on to_fetch=0
        // (the blocked residue stays visible in the final frontier dir)
        val blocked = trapFree.select(keepCols: _*)
          .filter(col("url").isNotNull)
          .join(gated.select(col("url")), Seq("url"), "left_anti")
        val rollover = horizonRollover.unionByName(blocked)
        // a web table may carry several rows per url (WARC relandings
        // refetch pages); collapse AFTER the plan join so the dedup
        // shuffle moves only this cycle's bounded fetch set, with a
        // deterministic winner (max payload — [[webFromBytes]] already
        // resolves refetches latest-fetch-wins upstream)
        val pages = web.join(plan, Seq("url"))
          .groupBy(col("url")).agg(max(col("html")).as("html"))
          .withColumn("doc_id", col("url"))
        val extracted = s.persisted(graft.html.HtmlExtract
          .extractAll(pages, "doc_id", "html", Some("url")).toDF())
        // the extraction count joins the barrier too: its first materialization
        // races the corpus/frontier writes to fill the extracted cache,
        // which the cache locking already serializes per block
        val fetchedF = js.submit(extracted.count())
        val corpus = WebPrep.prepareExtracted(extracted)
        // the log records ATTEMPTS (the politeness plan), not extraction
        // output: a dead url or a page whose extraction failed must not
        // pass the fetched-set diff again every time a later page re-links
        // it — permanent-skip is the crawl default; retries belong to the
        // fetch seam, which can re-inject urls via the seeds of a later run.
        // Frontier dedup: distinct on the url string. Under priority
        // ranking the merge SUMS in-degree: a rolled-over url keeps its
        // accumulated count and this cycle's fresh links add to it
        val frontierNext =
          if (cfg.priorityByInDegree)
            WebPrep.frontierRankedExtracted(extracted)
              .select(col("url"), col("in_degree"))
              .unionByName(rollover)
              .groupBy(col("url")).agg(sum(col("in_degree")).as("in_degree"))
          else WebPrep.frontierExtracted(extracted)
            .select(col("url")).union(rollover).distinct()
        // kept/frontier-out counts ride the writes as observe() metrics
        // (CollectMetrics counts exactly the rows the write lands, with no
        // post-write job), and EVERYTHING — lineage counts, extraction
        // count, three writes — meets at ONE merged barrier: the cycle
        // pays one driver-synchronous wait instead of four
        val keptObs = Observation(s"graft-kept-$cycle")
        val frontierObs = Observation(s"graft-frontier-$cycle")
        js.awaitAll(frontierInF.toSeq ++ Seq(countsF, fetchedF,
          js.submit {
            corpus.observe(keptObs, count(lit(1)).as("n"))
              .write.mode(SaveMode.Overwrite).format(cfg.format)
              .save(s"${docsDir(cfg)}/cycle=$cycle")
          },
          js.submit {
            plan.write.mode(SaveMode.Overwrite).format(cfg.format)
              .save(s"${fetchedDir(cfg)}/cycle=$cycle")
          },
          js.submit {
            frontierNext.observe(frontierObs, count(lit(1)).as("n"))
              .write.mode(SaveMode.Overwrite).format(cfg.format)
              .save(s"${frontierDir(cfg)}/cycle=$cycle")
          }))
        val frontierIn = prevFrontierOut.getOrElse(js.await(frontierInF.get))
        val counts = js.await(countsF)
        val toFetchN = counts.getOrElse(1, 0L)
        val frontierOutN = frontierObs.get("n").asInstanceOf[Long]
        prevFrontierOut = Some(frontierOutN)
        val status = if (toFetchN == 0) "exhausted" else "done"
        Landed.append(spark, Seq(CycleMetric(cfg.runId, cycle, frontierIn,
          counts.getOrElse(0, 0L), toFetchN, js.await(fetchedF),
          keptObs.get("n").asInstanceOf[Long], frontierOutN,
          (System.nanoTime() - t0) / 1000000, status, System.currentTimeMillis())),
          metricsPath(cfg), cfg.format)
        if (status == "exhausted") continue = false
        cycle += 1
      }
    }
  }
}
