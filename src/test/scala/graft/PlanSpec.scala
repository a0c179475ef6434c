package graft

import graft.ops.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan discipline: the scale claims the operators make —
  * pushdown, pruning, broadcast, zero-shuffle — pinned as assertions so a
  * refactor that silently de-optimizes a plan fails the suite, not a
  * 100 TB run. Uses the driver-provided sf0.001 tables (skipped when the
  * directory is absent).
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-planspec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"
  private def sfPresent = new java.io.File(sf).exists()
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** The physical plan (before adaptive re-planning) of the first `action`
    * that `run` executed, as a [[QueryExecutionListener]] reports it.
    */
  private def actionPlan(action: String)(run: => Any): String = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == action) seen.put(qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.initialPlan.toString
          case p => p.toString
        })
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      run
      Option(seen.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .getOrElse(fail(s"no $action action ran"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("q01: date filter pushed to the parquet scan, columns pruned") {
    assume(sfPresent)
    val p = plan(SparkEntry.queries("q01_pricing_agg")(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    // projection pruning: untouched wide columns never reach the scan
    assert(!p.contains("l_comment") && !p.contains("l_shipinstruct"), p)
  }

  test("q02: both dimension joins are broadcast, fact side never shuffled for the join") {
    assume(sfPresent)
    val p = plan(SparkEntry.queries("q02_revenue_by_nation")(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("tokenCounts / qualityScore / repetitionMetrics: zero shuffle, columnar scan") {
    assume(sfPresent)
    // the r8 kernel spread (Partitioning.spreadSmall) repartitions ONLY
    // when the upstream grants far fewer partitions than cores — give
    // the scan full parallelism first, so this pin still asserts the
    // at-scale contract: NO exchange enters the metric projections when
    // the input is already well-partitioned
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
    Seq(
      TextAnalysis.tokenCounts(docs),
      TextAnalysis.qualityScore(docs),
      TextAnalysis.repetitionMetrics(docs)).foreach { df =>
      val p = plan(df)
      // one projection over the input; no Exchange beyond the test's own
      // input repartition (the higher-order-function lambdas run outside
      // codegen by design — Spark has no codegen for them — but nothing
      // shuffles)
      assert(p.indexOf("Exchange") == p.lastIndexOf("Exchange"), p)
    }
  }

  test("spreadSmall: identity on well-partitioned input, spread on a tiny scan") {
    assume(sfPresent)
    val par = spark.sparkContext.defaultParallelism
    val wide = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").repartition(par)
    assert(graft.ops.Partitioning.spreadSmall(wide) eq wide,
      "spreadSmall must be the identity when partitions >= parallelism/2")
    val tiny = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text") // single row group -> 1 scan partition
    if (tiny.rdd.getNumPartitions * 2 < par) {
      val spread = graft.ops.Partitioning.spreadSmall(tiny)
      assert(spread.rdd.getNumPartitions == par)
      // same rows either way — the spread only changes placement
      assert(spread.count() == tiny.count())
    }
  }

  test("map-only extraction (ingest-bucketed layout) has zero Exchange") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("planspec").toString
    spark.createDataset(graft.fixtures.Fixtures.corpus(8, seed = 3L))
      .write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir).select("doc_id", "spans")
      .as[graft.model.DocRow]
    val out = graft.job.FastScan.extract(docs.toDF(), graft.reflow.ExtractConfig())
    val p = plan(out.toDF())
    assert(!p.contains("Exchange"), p)
  }

  test("Tungsten-direct FastScan == typed-encoder kernel path, span for span") {
    import spark.implicits._
    val docs = spark.createDataset(graft.fixtures.Fixtures.corpus(20, seed = 5L))
    val cfg = graft.reflow.ExtractConfig()
    val viaFast = graft.job.FastScan.extract(
      docs.toDF().select("doc_id", "spans"), cfg)
      .collect().map(d => d.doc_id -> d).toMap
    val viaTyped = docs.collect().flatMap { row =>
      try Some(graft.extract.Extractor.extractRow(row, cfg))
      catch { case _: graft.model.ExtractionException => None }
    }.map(d => d.doc_id -> d).toMap
    assert(viaFast.keySet == viaTyped.keySet)
    viaFast.foreach { case (id, f) =>
      val t = viaTyped(id)
      assert(f.spans == t.spans, s"spans diverge for $id")
      assert(f.text == t.text, s"text diverges for $id")
    }
  }

  test("exact-dedup groups shuffle the 16-byte fingerprint, not the text") {
    assume(sfPresent)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ops.Dedup.exactDuplicateGroups(docs))
    // partial (map-side) aggregation before the exchange
    assert(p.contains("HashAggregate"), p)
    // the exchange key is the fingerprint; text is projected away before it
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(fp")
    assert(exchangeIdx >= 0, p)
  }

  test("HtmlExtract: map-only, zero Exchange") {
    val sp = spark
    import sp.implicits._
    val pages = sp.createDataset(graft.fixtures.HtmlFixtures.corpus(4))
      .toDF("doc_id", "html")
    val p = plan(graft.html.HtmlExtract.extract(pages).toDF())
    assert(!p.contains("Exchange"), p)
    // the out-link / metadata / one-pass / markdown operators are the
    // same map-only shape
    val withUrl = pages.withColumn("url",
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("https://f.example/"),
        org.apache.spark.sql.functions.col("doc_id")))
    Seq(
      graft.html.HtmlExtract.extractLinks(pages),
      graft.html.HtmlExtract.extractPageMeta(withUrl, pageUrlCol = Some("url")),
      graft.html.HtmlExtract.extractAll(withUrl, pageUrlCol = Some("url")).toDF(),
      graft.assemble.SpanMarkdown.renderDocs(
        graft.html.HtmlExtract.extract(pages).toDF())
    ).foreach { df =>
      val p = plan(df)
      assert(!p.contains("Exchange"), p)
    }
  }

  test("byte-level ingest: extractBytes/extractAllBytes stay map-only (zero Exchange)") {
    val sp = spark
    import sp.implicits._
    val pages = sp.createDataset(graft.fixtures.HtmlFixtures.bytesCorpus(4))
      .toDF("doc_id", "html_bytes", "content_type")
      .withColumn("url", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("https://f.example/"),
        org.apache.spark.sql.functions.col("doc_id")))
    Seq(
      graft.html.HtmlExtract.extractBytes(pages, htmlCol = "html_bytes",
        contentTypeCol = Some("content_type")).toDF(),
      graft.html.HtmlExtract.extractAllBytes(pages, htmlCol = "html_bytes",
        contentTypeCol = Some("content_type"), pageUrlCol = Some("url")).toDF()
    ).foreach { df =>
      val p = plan(df)
      assert(!p.contains("Exchange"), p)
    }
  }

  test("frontierGated: rules side broadcast; the frontier never shuffles for the join") {
    val sp = spark
    import sp.implicits._
    val frontier = (1 to 100)
      .map(i => (s"https://h$i.example/p$i", s"d$i"))
      .toDF("url", "first_seen_doc")
    val robots = Seq(("h1.example", "User-Agent: *\nDisallow: /x\n"))
      .toDF("host", "robots_txt")
    val p = plan(graft.pipeline.WebPrep.frontierGated(frontier, robots))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the frontier side itself never repartitions: the only hash
    // Exchange is the one-row-per-host collapse of the tiny RULES table
    // (hosts ≪ URLs, pre-broadcast), keyed on the host — never the url
    val hashEx = "Exchange hashpartitioning\\(([a-zA-Z_0-9#, ]+)".r
      .findAllMatchIn(p).map(_.group(1)).toVector
    assert(hashEx.length == 1 && hashEx.head.contains("graft_host"),
      s"$hashEx\n$p")
    assert(!hashEx.exists(_.contains("url")), hashEx)
  }

  test("fetchSchedule: delays broadcast; window shuffles carry only narrow frontier keys") {
    val sp = spark
    import sp.implicits._
    val frontier = (1 to 100)
      .map(i => (s"https://h${i % 7}.example/p$i", s"d$i"))
      .toDF("url", "first_seen_doc")
    val robots = Seq(("h1.example", "User-Agent: *\nCrawl-delay: 2\n"))
      .toDF("host", "robots_txt")
    val p = plan(graft.pipeline.WebPrep.fetchSchedule(frontier, robots))
    // per-host delay table joins by broadcast, never sort-merge
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // exactly the two politeness windows' hash Exchanges (salted phase,
    // host phase) plus the one-row-per-host collapse of the tiny DELAYS
    // table (pre-broadcast) — nothing else repartitions, every key is
    // the derived host, never the url
    val hashEx = "Exchange hashpartitioning\\(([a-zA-Z_0-9#, ]+)".r
      .findAllMatchIn(p).map(_.group(1)).toVector
    assert(hashEx.length == 3, p)
    assert(hashEx.forall(_.contains("graft_host")), hashEx)
    assert(!hashEx.exists(_.contains("url")), hashEx)
  }

  test("capPerHost: exactly the two window Exchanges (salted phase, host phase), keyed on host, never the text") {
    val sp = spark
    import sp.implicits._
    val docs = (1 to 100)
      .map(i => (i.toLong, s"https://h${i % 7}.example/p$i", s"wort $i"))
      .toDF("doc_id", "url", "text")
    val p = plan(graft.ops.Corpus.capPerHost(docs,
      maxDocs = Some(5L), maxTokens = Some(50L)))
    // the two-phase top-k shape: phase 1 partitions on (host, salt),
    // phase 2 on host alone — nothing else repartitions (the
    // drop-point fence rides the SAME host partition as zero-weight
    // marker rows, no join, no second phase-1 subtree), and neither
    // shuffle keys on the text column (the rows it carries are narrow
    // by projection, the keys must be the derived host)
    val hashEx = "Exchange hashpartitioning\\(([a-zA-Z_0-9#, ]+)".r
      .findAllMatchIn(p).map(_.group(1)).toVector
    assert(hashEx.length == 2, p)
    assert(hashEx.forall(_.contains("host")), hashEx)
    assert(hashEx.count(_.contains("graft_salt")) == 1, hashEx)
    assert(!hashEx.exists(_.contains("text")), hashEx)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
  }

  test("expandSitemapIndex: child gate broadcast; only the tiny child-dedup and host-collapse shuffle") {
    val sp = spark
    import sp.implicits._
    val entries = (1 to 50).map(i =>
      ("idx", if (i % 5 == 0) "sitemap" else "url",
        s"https://h$i.example/s$i.xml", "", "", ""))
      .toDF("sitemap", "kind", "loc", "lastmod", "changefreq", "priority")
    val robots = Seq(("h5.example", "User-Agent: *\nDisallow: /x\n"))
      .toDF("host", "robots_txt")
    val fetch: String => Array[Byte] = _ => "<urlset></urlset>".getBytes("UTF-8")
    // the returned frame is a checkpoint (its own plan is a scan): read
    // the plan the checkpoint action executed
    val p = actionPlan("localCheckpoint")(graft.pipeline.WebPrep.expandSitemapIndex(
      entries, fetch, robotsTxt = Some(robots)))
    // the robots gate on child urls joins by broadcast, never sort-merge
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // hash Exchanges: the child-url dedup (distinct on the SMALL
    // sitemap-ref set) and the rules host collapse — the entries frame
    // itself never repartitions, and nothing keys on the page-url side
    val hashEx = "Exchange hashpartitioning\\(([a-zA-Z_0-9#, ]+)".r
      .findAllMatchIn(p).map(_.group(1)).toVector
    assert(hashEx.length == 2, s"$hashEx\n$p")
    assert(hashEx.exists(_.contains("graft_host")), hashEx)
  }

  test("urlDedupAtScale: aggregation + join keyed on md5_long, not URL strings") {
    val sp = spark
    import sp.implicits._
    val rows = (1L to 50L).map(i => (i, s"https://example${i % 7}.com/p/$i"))
      .toDF("doc_id", "url")
    val p = plan(graft.ops.Web.urlDedupAtScale(rows))
    // every hashpartitioning exchange on the dedup path keys on url_h
    // (the 8-byte hash) — never on the canonical string
    val exchanges = "Exchange hashpartitioning\\(([a-zA-Z_0-9#]+)"
      .r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty, p)
    assert(exchanges.forall(_.startsWith("url_h")), s"$exchanges\n$p")
  }

  test("dedupParagraphsGlobalAtScale: keeper shuffle keyed on the 8-byte hash, not paragraph strings") {
    val sp = spark
    import sp.implicits._
    val docs = (1L to 40L).map(i =>
      (i, s"absatz nummer ${i % 7} lang genug\nzeile zwei von $i"))
      .toDF("doc_id", "text")
    val p = plan(graft.ops.Corpus.dedupParagraphsGlobalAtScale(docs))
    // the keeper aggregation + join-back partition on graft_k (the
    // md5_long key); only the final per-doc reassembly keys on doc_id —
    // no exchange ever partitions on the raw line
    val exchanges = "Exchange hashpartitioning\\(([a-zA-Z_0-9#]+)"
      .r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(exchanges.nonEmpty, p)
    assert(exchanges.forall(e =>
      e.startsWith("graft_k") || e.startsWith("doc_id")),
      s"$exchanges\n$p")
    assert(!exchanges.exists(_.startsWith("line")), exchanges)
  }

  test("hostSummary: partial aggregation before ONE host-key exchange, text never shuffles") {
    val sp = spark
    import sp.implicits._
    val docs = (1 to 50).map(i =>
      (s"https://h${i % 5}.example/p$i", s"wort eins zwei $i"))
      .toDF("url", "text")
    val p = plan(graft.ops.Corpus.hostSummary(docs))
    // map-side combine (partial HashAggregate) then a single exchange
    // keyed on the derived host; the text column is projected to a
    // token COUNT before the shuffle — wide strings never move
    assert(p.contains("HashAggregate"), p)
    val hashEx = "Exchange hashpartitioning\\(([a-zA-Z_0-9#, ]+)".r
      .findAllMatchIn(p).map(_.group(1)).toVector
    assert(hashEx.length == 1 && hashEx.head.startsWith("host"), s"$hashEx\n$p")
    assert(!p.contains("Exchange hashpartitioning(text"), p)
  }

  test("packSequences: shard-partitioned window, no global sort") {
    assume(sfPresent)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ops.Corpus.packSequences(docs, seqLen = 512, nShards = 8))
    // the cumsum window shuffles on the shard key — nShards independent
    // windows — and nothing range-partitions (no single-partition global
    // window, the usual sequence-packing scale trap)
    assert(p.contains("Window"), p)
    assert(p.contains("hashpartitioning(shard"), p)
    assert(!p.contains("rangepartitioning"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("packDocsNextFit: one shard exchange, local sort only, text never shuffles") {
    assume(sfPresent)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ops.Corpus.packDocsNextFit(docs, seqLen = 64, nShards = 8))
    // the single repartition(shard) is the only exchange; the per-shard
    // sort is partition-LOCAL (no rangepartitioning = no global sort),
    // and only the 24-byte projection crosses it — text is pruned at the
    // scan, so the wide column never shuffles
    assert("Exchange".r.findAllIn(p).length == 1, p)
    assert(p.contains("hashpartitioning(shard"), p)
    assert(!p.contains("rangepartitioning") && !p.contains("SinglePartition"), p)
    val shuffleLine = p.linesIterator.find(_.contains("Exchange")).get
    assert(!shuffleLine.contains("text"), p)
  }

  test("corpusDelta: both sides collapse map-side before one exchange each, then a key join") {
    assume(sfPresent)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("string").as("url"), col("text"))
    val p = plan(graft.ops.Corpus.corpusDelta(docs, docs))
    // partial min-aggregate runs before each side's exchange (the text
    // reduces to a 32-char digest map-side); the join keys on the url,
    // never a single partition
    assert("partial_min".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("FullOuter"), p)
    assert(!p.linesIterator.filter(_.contains("Exchange"))
      .exists(_.contains("text")), p)
  }

  test("winnowOverlapPairsAtScale: hot-fingerprint cut is a broadcast anti-join") {
    assume(sfPresent)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // every purge goes through the one blocking core: the same plan shape
    // for the winnow, token-window and n-gram cuts
    Seq(graft.ops.Dedup.winnowOverlapPairsAtScale(docs, maxDocFreq = 100),
      graft.ops.SubstringDedup.sharedTokenRuns(docs, maxWindowDocFreq = 100,
        sortOutput = false),
      graft.ops.Dedup.ngramJaccardPairsAtScale(docs)).foreach { df =>
      val p = plan(df)
      // the hot (df > bound) set is the small side: broadcast LeftAnti, so
      // the full fingerprint index is never shuffled against its own
      // kept-majority just to apply the cut
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
      // prod config: no global output sort (a range-partitioned exchange is
      // exactly the needless full shuffle the AtScale wrapper turns off;
      // local SMJ sorts inside the self-join are fine)
      assert(!p.contains("rangepartitioning"), p)
    }
  }

  test("decontaminate: eval gram set broadcast; training grams never shuffled for the join") {
    assume(sfPresent)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ops.Corpus.decontaminate(
      train = docs.filter(org.apache.spark.sql.functions.expr("doc_id % 20 <> 0")),
      eval = docs.filter(org.apache.spark.sql.functions.expr("doc_id % 20 = 0")),
      n = 4))
    assert(p.contains("BroadcastHashJoin"), p)
    // the only hash exchanges are the small sides: eval-gram distinct and
    // the per-doc count/final join keys — never the exploded train grams
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("stratifiedSample: pure map-side filter, zero Exchange") {
    assume(sfPresent)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ops.Corpus.stratifiedSample(
      docs, org.apache.spark.sql.functions.col("lang"),
      rates = Map("en" -> 0.5), defaultRate = 0.1,
      keyCol = org.apache.spark.sql.functions.col("doc_id"), salt = "s"))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Batched: true"), p)
  }

  test("gopherQualityFilter: one projection, zero Exchange") {
    assume(sfPresent)
    // well-partitioned input (the at-scale case) — spreadSmall identity
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
    val p = plan(graft.ops.Corpus.gopherQualityFilter(docs))
    assert(p.indexOf("Exchange") == p.lastIndexOf("Exchange"), p)
  }

  test("corpusSummary: partial + final hash aggregate, one stratum exchange") {
    assume(sfPresent)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ops.Corpus.corpusSummary(docs,
      org.apache.spark.sql.functions.col("lang")))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p) // map-side partials
    assert(p.contains("Exchange hashpartitioning(stratum"), p)
  }

  test("removeBoilerplateLines: frequency shuffle keyed on the line hash, not the line") {
    assume(sfPresent)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ops.Corpus.removeBoilerplateLines(docs, maxDocFreq = 50))
    assert(p.contains("Exchange hashpartitioning(h#") ||
      p.contains("Exchange hashpartitioning(h,"), p)
    // reassembly is the only shuffle that carries the line text
    assert(p.contains("Exchange hashpartitioning(doc_id"), p)
  }

  test("piiScrub: zero shuffle, one projection over the columnar scan") {
    assume(sfPresent)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
    val p = plan(graft.ops.Pii.piiScrub(docs))
    assert(p.indexOf("Exchange") == p.lastIndexOf("Exchange"), p)
    assert(p.contains("Batched: true"), p)
  }

  test("normalizeText: zero shuffle, codegen'd projection over the columnar scan") {
    assume(sfPresent)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(TextAnalysis.normalizeText(docs))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Batched: true"), p)
    // the nfc expression stays inside whole-stage codegen (no UDF seam)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("splitAssign: zero shuffle — assignment is a pure map over the scan") {
    assume(sfPresent)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ops.Corpus.splitAssign(docs,
      Seq("train" -> 0.9, "test" -> 0.1), col("doc_id"), "pin"))
    assert(!p.contains("Exchange"), p)
  }

  test("semDedup: cluster assignment is map-side only (no Exchange)") {
    assume(sfPresent)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
    val p = plan(graft.ops.SemDedup.assignClusters(vecs, nClusters = 4))
    assert(p.indexOf("Exchange") == p.lastIndexOf("Exchange"), p)
  }

  test("sharedTokenRuns: self-join shuffles on the 8-byte window hash") {
    assume(sfPresent)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // disable auto-broadcast so the pinned key is visible even at toy scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(graft.ops.SubstringDedup.sharedTokenRuns(docs))
      assert(p.contains("Exchange hashpartitioning(h#"), p)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("ngramDocFreqTopK: TakeOrderedAndProject, not a global sort") {
    assume(sfPresent)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ops.Corpus.ngramDocFreqTopK(docs, n = 2, k = 50))
    // top-k folds into per-partition heaps + driver merge
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    // partial aggregation runs before the single hash exchange
    assert(p.contains("HashAggregate"), p)
  }

  test("anchorTextAgg: two hash aggregations with map-side combine, no window, no join") {
    val sp = spark
    import sp.implicits._
    val edges = (1 to 60).map(i =>
      (s"https://a.example/p${i % 6}", s"anker ${i % 4}"))
      .toDF("url", "anchor")
    val p = plan(graft.ops.LinkGraph.anchorTextAgg(edges))
    // per-(url,anchor) counts combine map-side, the roll-up rides a
    // second aggregate — the top pick is min(struct), never a Window
    // (a per-url window would re-sort every group at 100 TB)
    val hashEx = "Exchange hashpartitioning\\(([a-zA-Z_0-9#, ]+)".r
      .findAllMatchIn(p).map(_.group(1)).toVector
    assert(hashEx.length == 2, s"$hashEx\n$p")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Window"), p)
    assert(!"Join".r.findFirstIn(p).isDefined, p)
  }

  test("budgetLayout (tokenBudgetTake): one range exchange on the narrow projection, partition-local sort only") {
    assume(sfPresent)
    val q = TextAnalysis.qualityScore(spark.read.parquet(s"$sf/documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism))
    val p = plan(graft.ops.Corpus.budgetLayout(q, col("quality"),
      col("doc_id"), col("n_tokens"), parts = 4))
    // beyond the test's own input repartition, the only exchange is the
    // range partitioning of the ~24-byte (id, quality, n_tokens)
    // projection; the sort after it is partition-LOCAL (global=false) —
    // a true global sort would funnel the corpus through one task's
    // sort at 100 TB
    assert("Exchange".r.findAllIn(p).length == 2, p)
    assert(p.contains("rangepartitioning"), p)
    assert(!p.contains("hashpartitioning") && !p.contains("SinglePartition"), p)
    val sortLines = p.linesIterator.filter(_.contains("Sort [")).toVector
    assert(sortLines.nonEmpty && sortLines.forall(_.contains("], false, 0")), p)
  }

  test("scoreBuckets: only (stratum, score) histogram cells shuffle; cutoffs broadcast back") {
    assume(sfPresent)
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"),
        (col("doc_id") % 7).cast("double").as("score"))
    val p = plan(graft.ops.Corpus.scoreBuckets(d, stratum = col("lang"),
      score = col("score"), labels = Seq("t", "m", "h")))
    // histogram collapses map-side (partial_count before its exchange);
    // every hash exchange keys on the stratum — the per-row table itself
    // never shuffles because the one-row-per-stratum cutoffs broadcast
    assert(p.contains("partial_count"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("SinglePartition"), p)
    val hashEx = "Exchange hashpartitioning\\(([a-zA-Z_0-9#, ]+)".r
      .findAllMatchIn(p).map(_.group(1)).toVector
    assert(hashEx.nonEmpty && hashEx.forall(_.contains("stratum")), s"$hashEx\n$p")
    assert(hashEx.forall(k => !k.contains("doc_id")), s"$hashEx\n$p")
  }

  test("c4Filter: map-only, and the expensive line predicate is evaluated ONCE per row") {
    assume(sfPresent)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
    val p = plan(graft.ops.Corpus.c4Filter(docs))
    assert(p.indexOf("Exchange") == p.lastIndexOf("Exchange"), p)
    // higher-order array lambdas are CodegenFallback, so the line filter
    // must be STAGED into one projection, not inlined into text_clean,
    // lines_kept and n_sentences separately: the line-predicate lambda
    // (the one carrying the rlike) appears exactly once in the plan. The
    // inner word-count lambda rides inside it; the count is 2, not 6.
    assert("RLIKE".r.findAllIn(p).length == 1, p)
    assert("lambdafunction".r.findAllIn(p).length == 2, p)
  }

  test("dsir importanceWeights: the scoring pass is zero-shuffle over the (id, buckets) projection") {
    assume(sfPresent)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ops.Dsir.importanceWeights(
      docs.filter(col("doc_id") % 2 =!= 0), docs.filter(col("doc_id") % 2 === 0),
      buckets = 128))
    // the two fit passes already ran (histograms collapse map-side and
    // broadcast back as one Long array); what executes per-row at corpus
    // scale is this returned plan — a scan + gram/bucket projection +
    // mapPartitions lookup, no exchange, text never leaves the scan task
    assert(!p.contains("Exchange"), p)
    assert(p.contains("MapPartitions"), p)
  }

  test("kmeansMicro assignment: zero-shuffle mapPartitions with broadcast centroids") {
    assume(sfPresent)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
    val cents = graft.ops.Clustering.kmeansMicroFit(vecs, k = 4, iters = 1)
    val p = plan(graft.ops.Clustering.assignMicro(vecs, cents))
    // the fit already ran (per-round Long partial sums, k x dim to the
    // driver); the per-row plan at corpus scale is scan -> quantize
    // projection -> mapPartitions argmin. No exchange beyond the test's
    // own input repartition, no join.
    assert(p.indexOf("Exchange") == p.lastIndexOf("Exchange"), p)
    assert(p.contains("MapPartitions"), p)
    assert(!"Join".r.findFirstIn(p).isDefined, p)
  }

  test("prototypePrune: ONE hash exchange on the narrow assignment projection") {
    assume(sfPresent)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(graft.ops.Clustering.prototypePrune(vecs, k = 4,
      dropNearestFrac = 0.3, iters = 1))
    // rank and count share the (cluster) partition spec, so ONE exchange
    // of 20-byte (id, cluster, dist) rows feeds both Window passes;
    // vectors never shuffle (the assignment face is mapPartitions)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(p.contains("Window"), p)
    assert(!p.contains("Exchange rangepartitioning")
      && !p.contains("SinglePartition"), p)
  }

  test("optOutSignals: zero shuffle — per-row string parse, no join, no exchange") {
    assume(sfPresent)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("x_robots_tag",
        org.apache.spark.sql.functions.lit("noai"))
      .withColumn("robots", org.apache.spark.sql.functions.lit("none"))
      .withColumn("tdm_reservation",
        org.apache.spark.sql.functions.lit("1"))
      .withColumn("tdm_policy",
        org.apache.spark.sql.functions.lit("https://p.test/x"))
    val p = plan(graft.ops.Web.optOutSignals(docs, ua = "ccbot"))
    assert(!p.contains("Exchange"), p)
    assert(!"Join".r.findFirstIn(p).isDefined, p)
  }

  test("bpe encode: zero-shuffle — broadcast ranks, per-task cache, no exchange") {
    assume(sfPresent)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the fit already ran (ONE map-side-combinable aggregation + driver
    // merge loop over the bounded dict); the per-row encode plan at
    // corpus scale must be scan -> project, nothing else
    val p = plan(graft.ops.Bpe.encode(docs,
      Seq(("t", "h"), ("th", "e▁"))))
    assert(!p.contains("Exchange"), p)
    assert(!"Join".r.findFirstIn(p).isDefined, p)
  }

  test("chunkByTokens: map-only — generate, explode, slice, never shuffle") {
    assume(sfPresent)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .repartition(spark.sparkContext.defaultParallelism)
    val p = plan(graft.ops.Corpus.chunkByTokens(docs, maxTokens = 128,
      overlap = 16))
    assert(p.indexOf("Exchange") == p.lastIndexOf("Exchange"), p)
    assert(p.contains("Generate"), p) // posexplode
  }

  test("domainBlocklist: zero shuffle — broadcast set probe, no join, no explode") {
    assume(sfPresent)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("url", org.apache.spark.sql.functions.concat_ws("",
        org.apache.spark.sql.functions.lit("https://h"),
        col("doc_id") % 7, org.apache.spark.sql.functions.lit(".example/p")))
    val p = plan(graft.ops.Web.domainBlocklist(docs,
      Set("example", "bad.test"), "url"))
    assert(!p.contains("Exchange"), p)
    assert(!"Join".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("Generate"), p)
  }

  test("clusterBest: two map-side-combinable aggregates, no window, no sort") {
    val sp = spark
    import sp.implicits._
    val clusters = (1L to 100L).map(i => (i, i % 10)).toDF("doc_id", "cluster")
    val quality = (1L to 100L).map(i => (i, (i % 7).toDouble))
      .toDF("doc_id", "quality")
    val p = plan(graft.ops.Dedup.clusterBest(clusters, quality))
    // max-per-cluster and min-id-among-maximal both combine map-side; a
    // per-cluster Window would re-sort every group's members instead
    assert(p.contains("partial_max") && p.contains("partial_min"), p)
    assert(!p.contains("Window") && !p.contains("rangepartitioning")
      && !p.contains("SinglePartition"), p)
  }

  test("frontierNewBloom: exactly one join — bloom-negative rows bypass the shuffle") {
    val sp = spark
    import sp.implicits._
    val frontier = (1 to 80).map(i => s"https://bl.example/p$i").toDF("url")
    val fetched = (1 to 40).map(i => s"https://bl.example/p$i").toDF("url")
    val p = plan(graft.pipeline.WebPrep.frontierNewBloom(frontier, fetched))
    // the definitely-new branch is a pure filter; only the settle branch
    // carries the anti-join
    assert("Join".r.findAllIn(p).length >= 1, p)
    assert("LeftAnti".r.findAllIn(p).length == 1, p)
    assert(p.contains("Union"), p)
  }
}
