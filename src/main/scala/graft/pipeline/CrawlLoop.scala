package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The batch crawl-cycle driver: [[WebPrep]]'s operators composed into
  * the iteration a crawler actually runs, with the same landed-table
  * checkpoint/resume contract as [[graft.job.ExtractJob]]. One cycle:
  *
  *   frontier -> robots gate ([[WebPrep.frontierGated]])
  *            -> minus fetched set ([[WebPrep.frontierNew]])
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
  * Resume mirrors ExtractJob's: a cycle with a `done` metrics row for
  * this run_id is never re-run; a crash mid-cycle re-runs that cycle
  * whole (each cycle's two directory writes are Overwrite — the cycle is
  * the idempotent retry unit); a run whose metrics carry `exhausted` is
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
  * all keyed on the same canonical url. For custom cycles in the
  * ≤~10^9-fetched-URL regime, [[WebPrep.frontierNewBloom]] is the
  * exact-result bloom-prefiltered face of the fetched-set diff (this
  * loop's built-in diff stays the plain anti-join: `hashedUrlKeys`
  * owns the 10^12 tier); a richer priority than in-degree comes from
  * [[graft.ops.LinkGraph.pageRank]] over the accumulated link output,
  * joined onto the frontier as `priorityCol`.
  *
  * Scale shape per cycle: frontier frames are NARROW (url-only) through
  * every shuffle; the wide fetched rows join the plan on the url key
  * exactly once and move map-only through extraction; the fetched-set
  * diff reads a dedicated url-only fetch-log table (never the wide
  * corpus rows). The fetched-set anti-join grows with the crawl — at
  * 10^12 URLs set `CrawlConfig.hashedUrlKeys` to route it (and the
  * frontier dedup) through `Web.urlDedupAtScale`'s md5_long layout;
  * the join stays AQE broadcast-or-SMJ either way.
  */
object CrawlLoop {

  /** `hashedUrlKeys`: the 10^12-URL layout the object scaladoc
    * promises — the fetched-set anti-join and the frontier dedup key
    * `md5_long(url)` (8 bytes) instead of the raw URL string (mean
    * crawl URL ~70 bytes), the same convention as
    * [[graft.ops.Web.urlDedupAtScale]]; the fetched log lands as
    * `url_h` longs. Kept output (docs, frontier, metrics) is IDENTICAL
    * either way (CrawlLoopSpec pins the equality) — only shuffle/log
    * width changes; collision odds as documented on urlDedupAtScale.
    * NOTE: flip it only on a FRESH outDir — the fetched log's landed
    * schema differs between modes, so resuming a string-keyed crawl
    * hashed (or vice versa) fails on read.
    */
  final case class CrawlConfig(
      outDir: String,
      cycles: Int,
      runId: String = "crawl-1",
      userAgent: String = "*",
      defaultDelaySeconds: Double = 1.0,
      maxPerHost: Int = 86400,
      format: String = "parquet",
      hashedUrlKeys: Boolean = false,
      // drop crawl-trap URLs (Web.isUrlTrap: length/depth/loop
      // signature) from every cycle's frontier BEFORE the robots gate —
      // on by default because an unfiltered trap family (calendar
      // pages, session-id loops) otherwise eats the politeness budget
      // of its host forever; trap rows never enter the fetched log, so
      // flipping the flag later reconsiders them
      trapFilter: Boolean = true,
      // host-suffix blocklist (Web.domainBlocklist semantics: an entry
      // blocks the host and every subdomain) applied to every cycle's
      // frontier BEFORE the robots gate — consent/safety enforcement
      // belongs at FETCH time, not just curation time: a blocked host
      // never consumes politeness budget, robots fetches, or bandwidth.
      // Like trapFilter, blocked urls never enter the fetched log, so
      // editing the list later reconsiders them
      blocklist: Set[String] = Set.empty,
      // rank the frontier by link in-degree (WebPrep.frontierRanked's
      // OPIC-style signal): the landed frontier carries an `in_degree`
      // column (edge-row count, accumulated across cycles — a deferred
      // url KEEPS its count and new links add to it), and the
      // politeness plan passes priorityCol so the per-host horizon cap
      // keeps the most-referenced URLs instead of the
      // lexicographically-first. Off = the plain url-ordered frontier.
      // Like hashedUrlKeys this changes the landed frontier schema —
      // flip it only on a FRESH outDir
      priorityByInDegree: Boolean = false)

  /** Per-cycle lineage metrics (one row per completed cycle). */
  final case class CycleMetric(run_id: String, cycle: Int,
      frontier_in: Long, gated: Long, to_fetch: Long, fetched: Long,
      docs_kept: Long, frontier_out: Long, wall_ms: Long, status: String,
      ts: Long)

  private def docsDir(cfg: CrawlConfig) = s"${cfg.outDir}/docs"
  private def frontierDir(cfg: CrawlConfig) = s"${cfg.outDir}/frontier"
  // the fetch LOG is its own narrow table, distinct from the corpus: it
  // records every ATTEMPTED url (the politeness plan), so pages deduped
  // away by canonical collapse, dead urls, and extraction failures all
  // still count as fetched — any later re-link must not refetch them
  private def fetchedDir(cfg: CrawlConfig) = s"${cfg.outDir}/fetched"
  private def metricsPath(cfg: CrawlConfig) = s"${cfg.outDir}/metrics"

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Completed cycles of this run (+ whether the crawl already reported
    * exhaustion) — the resume state. An unreadable existing metrics
    * table is an error, never a silent restart-from-zero (the ExtractJob
    * rule).
    */
  def completedCycles(spark: SparkSession, cfg: CrawlConfig)
      : (Set[Int], Boolean) = {
    if (!exists(spark, metricsPath(cfg))) return (Set.empty, false)
    val all =
      try {
        spark.read.format(cfg.format).load(metricsPath(cfg))
          .select(col("run_id"), col("cycle"), col("status"))
          .collect()
      } catch {
        case scala.util.control.NonFatal(e) =>
          throw new IllegalStateException(
            s"crawl metrics ${metricsPath(cfg)} exists but is unreadable — " +
              "refusing to guess the resume state", e)
      }
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
    require(cfg.cycles > 0, "cycles must be positive")
    if (cfg.hashedUrlKeys) graft.functions.GraftFunctions.register(spark)
    val (done, exhausted) = completedCycles(spark, cfg)
    if (exhausted) return
    var cycle = if (done.isEmpty) 0 else done.max + 1
    var continue = true
    // the per-cycle landed writes (docs, fetched log, next frontier) are
    // independent given the persisted cycle frames — overlapping them
    // trims the measured fixed per-cycle barrier cost (each was a
    // driver-synchronous job launch + parquet commit in sequence); a
    // failure in any write still aborts the cycle BEFORE its metrics
    // row, so the cycle stays the idempotent Overwrite retry unit.
    // Pool sized for the single merged barrier below (3 lineage counts +
    // extraction count + 3 writes in flight at once — guide §2.6
    // back-fill: later jobs' tasks fill executors the earlier jobs'
    // stragglers free up)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    def awaitAll(fs: Seq[scala.concurrent.Future[_]]): Unit = {
      // wait for EVERY write before rethrowing, so a failed cycle never
      // leaves a concurrent write racing a retry's Overwrite
      val rs = fs.map(f => scala.util.Try(
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)))
      rs.foreach(_.get)
    }
    // frontier_in of cycle N is BY CONSTRUCTION the row count of the
    // frontier dir cycle N-1 landed — i.e. last cycle's frontier_out
    // metric. Carrying it in a driver var saves the per-cycle footer
    // count job; a resumed run has no in-memory value for its first
    // cycle and falls back to the footer read once.
    var prevFrontierOut: Option[Long] = None
    try {
    while (cycle < cfg.cycles && continue) graft.ops.Materialize.scoped { s =>
      val t0 = System.nanoTime()
      // the per-cycle rules (the static-overload caller sees one frame
      // every cycle; a refresh seam sees its cycle's)
      val robotsTxt = robotsOf(cycle)
      // the landed-table schemas are fully determined by cfg (the
      // scaladoc already requires a fresh outDir when a schema-changing
      // flag flips), so the per-cycle reads declare them explicitly —
      // schema inference re-read a parquet footer every cycle, pure
      // driver-side fixed cost in the per-cycle barrier
      val frontierSchema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("url",
          org.apache.spark.sql.types.StringType) +:
        (if (cfg.priorityByInDegree)
          Seq(org.apache.spark.sql.types.StructField("in_degree",
            org.apache.spark.sql.types.LongType))
        else Nil))
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
      // projection), not a data pass
      val trapFree =
        if (cfg.trapFilter)
          frontier.filter(!coalesce(
            graft.ops.Web.isUrlTrap(col("url")), lit(true)))
        else frontier
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
      // the fetched-set key: raw url strings, or the 8-byte md5_long
      // layout under cfg.hashedUrlKeys (both sides of the diff are
      // already canonical — seeds/frontier rows pass canonicalUrl before
      // landing, so hashing needs no re-canonicalization)
      val fetchedSchema = org.apache.spark.sql.types.StructType(Seq(
        if (cfg.hashedUrlKeys)
          org.apache.spark.sql.types.StructField("url_h",
            org.apache.spark.sql.types.LongType)
        else org.apache.spark.sql.types.StructField("url",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("cycle",
          org.apache.spark.sql.types.IntegerType)))
      val fetchedLog =
        if (exists(spark, fetchedDir(cfg)))
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
        else if (cfg.hashedUrlKeys) Seq.empty[Long].toDF("url_h")
        else Seq.empty[String].toDF("url")
      val toFetch = s.persisted(
        if (cfg.hashedUrlKeys)
          gated.filter(col("url").isNotNull)
            .withColumn("graft_url_h", expr("md5_long(url)"))
            .join(fetchedLog, col("graft_url_h") === col("url_h"),
              "left_anti")
            .drop("graft_url_h")
        else WebPrep.frontierNew(gated, fetchedLog)
          .filter(col("url").isNotNull))
      // the three lineage counts START here but are awaited at the
      // single merged barrier below (with the extraction count and the
      // three writes): every per-cycle action used to be its own
      // driver-synchronous barrier — counts, then fetchedN, then writes,
      // then footer re-counts — and at fixture scale the fixed job-launch
      // cost of those barriers WAS the crawl wall (x23/x31). The counts
      // race to fill the shared gated/toFetch caches with the downstream
      // jobs — Spark's block-level cache locking makes that safe
      var frontierIn = prevFrontierOut.getOrElse(0L)
      var gatedN = 0L
      var toFetchN = 0L
      val countFutures = (if (prevFrontierOut.isEmpty)
        Seq(scala.concurrent.Future { frontierIn = frontier.count() })
      else Nil) ++ Seq(
        // ONE job for both lineage counts (a tagged union over the two
        // cached frames) instead of two — same exact counts of the same
        // frames, one less per-cycle job launch; the scan fills the
        // shared gated/toFetch caches exactly like the two counts did
        scala.concurrent.Future {
          val cs = gated.select(lit(0).as("graft_k"))
            .unionByName(toFetch.select(lit(1).as("graft_k")))
            .groupBy(col("graft_k")).agg(count(lit(1)).as("n"))
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          gatedN = cs.getOrElse(0, 0L)
          toFetchN = cs.getOrElse(1, 0L)
        })
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
      // fetchedN joins the merged barrier too: its first materialization
      // races the corpus/frontier writes to fill the extracted cache,
      // which the cache locking already serializes per block
      var fetchedN = 0L
      val fetchedFuture =
        scala.concurrent.Future { fetchedN = extracted.count() }
      val corpus = WebPrep.prepareExtracted(extracted)
      // the log records ATTEMPTS (the politeness plan), not extraction
      // output: a dead url or a page whose extraction failed must not
      // pass the fetched-set diff again every time a later page re-links
      // it — permanent-skip is the crawl default; retries belong to the
      // fetch seam, which can re-inject urls via the seeds of a later run
      val fetchedOut =
        if (cfg.hashedUrlKeys) plan.select(expr("md5_long(url)").as("url_h"))
        else plan
      // frontier dedup: distinct on the url string, or the AtScale
      // shape (group on the 8-byte hash, keep min url — identical
      // output up to the documented collision odds). Under priority
      // ranking the merge SUMS in-degree: a rolled-over url keeps its
      // accumulated count and this cycle's fresh links add to it
      val frontierNext =
        if (cfg.priorityByInDegree) {
          val fresh = WebPrep.frontierRankedExtracted(extracted)
            .select(col("url"), col("in_degree"))
            .unionByName(rollover)
          if (cfg.hashedUrlKeys)
            fresh.groupBy(expr("md5_long(url)"))
              .agg(min(col("url")).as("url"),
                sum(col("in_degree")).as("in_degree"))
              .select(col("url"), col("in_degree"))
          else fresh.groupBy(col("url"))
            .agg(sum(col("in_degree")).as("in_degree"))
        } else if (cfg.hashedUrlKeys)
          WebPrep.frontierExtracted(extracted)
            .select(col("url")).union(rollover)
            .groupBy(expr("md5_long(url)")).agg(min(col("url")).as("url"))
            .select(col("url"))
        else WebPrep.frontierExtracted(extracted)
          .select(col("url")).union(rollover).distinct()
      // kept/frontier-out counts ride the writes as observe() metrics
      // (CollectMetrics counts exactly the rows the write lands — the
      // same value the old footer re-read returned, without two more
      // post-write jobs), and EVERYTHING — lineage counts, extraction
      // count, three writes — meets at ONE merged barrier: the cycle
      // pays one driver-synchronous wait instead of four
      val keptObs = org.apache.spark.sql.Observation(s"graft-kept-$cycle")
      val frontierObs =
        org.apache.spark.sql.Observation(s"graft-frontier-$cycle")
      awaitAll(countFutures ++ Seq(fetchedFuture,
        scala.concurrent.Future {
          corpus.observe(keptObs, count(lit(1)).as("n"))
            .write.mode(SaveMode.Overwrite).format(cfg.format)
            .save(s"${docsDir(cfg)}/cycle=$cycle")
        },
        scala.concurrent.Future {
          fetchedOut.write.mode(SaveMode.Overwrite).format(cfg.format)
            .save(s"${fetchedDir(cfg)}/cycle=$cycle")
        },
        scala.concurrent.Future {
          frontierNext.observe(frontierObs, count(lit(1)).as("n"))
            .write.mode(SaveMode.Overwrite).format(cfg.format)
            .save(s"${frontierDir(cfg)}/cycle=$cycle")
        }))
      val keptN = keptObs.get("n").asInstanceOf[Long]
      val frontierOutN = frontierObs.get("n").asInstanceOf[Long]
      prevFrontierOut = Some(frontierOutN)
      val status = if (toFetchN == 0) "exhausted" else "done"
      val wallMs = (System.nanoTime() - t0) / 1000000
      spark.createDataset(Seq(CycleMetric(cfg.runId, cycle, frontierIn,
          gatedN, toFetchN, fetchedN, keptN, frontierOutN, wallMs, status,
          System.currentTimeMillis())))
        .write.mode(SaveMode.Append).format(cfg.format).save(metricsPath(cfg))
      if (status == "exhausted") continue = false
      cycle += 1
    }
    } finally pool.shutdown()
  }
}
