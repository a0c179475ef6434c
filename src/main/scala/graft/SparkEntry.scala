package graft

import graft.extract.Extractor
import graft.fixtures.Fixtures
import graft.model._
import graft.ops.{Clustering, Corpus, Dedup, Dsir, Materialize, Multimodal, Pii, SemDedup, Similarity, SubstringDedup, TextAnalysis, Web}
import graft.reflow.ExtractConfig
import graft.streaming.StreamingExtract
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Two query families:
  *  - `x*` extraction queries: run the pd3f-semantics pipeline over a
  *    deterministic synthetic docs corpus (BASELINE.json input_hint shape —
  *    the driver-provided TPC-H tables don't have that shape, FIXTURES.md
  *    §5) and expose observable facets. Not SQL-expressible -> rows-only
  *    checks (no oracle entries).
  *  - `q*` corpus/training-pipeline queries over the driver's parquet
  *    tables, each with a DuckDB oracle where the semantics are
  *    SQL-expressible.
  */
object SparkEntry {

  // ---------- helpers ----------

  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** q33's planted verbatim passages (15 and 20 tokens; vocabulary
    * disjoint from the driver corpus so every match is a planted one).
    */
  private val SharedS1 =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron"
  private val SharedS2 =
    "pi rho sigma tau upsilon phi chi psi omega uno dos tres cuatro cinco seis siete ocho nueve diez once"

  /** Deterministic synthetic docs corpus (seed fixed; size small enough
    * for the per-query budget, big enough to exercise every code path).
    */
  def docsCorpus(s: SparkSession, n: Int = 80): Dataset[DocRow] = {
    import s.implicits._
    s.createDataset(Fixtures.corpus(n, seed = 42L, tailPermille = 0))
  }

  def extracted(s: SparkSession, cfg: ExtractConfig = ExtractConfig()): DataFrame =
    StreamingExtract.transform(docsCorpus(s).toDF(), cfg).toDF()

  private def explodedSpans(df: DataFrame): DataFrame =
    df.select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "s")))
      .select(col("doc_id"), col("s.kind").as("kind"), col("s.text").as("text"),
        col("s.media_ref").as("media_ref"), col("s.offset").as("offset"))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val one = spark.createDataset(Seq(Fixtures.flagshipDoc))
    explodedSpans(one.map(Extractor.extractRow(_, ExtractConfig())).toDF())
  }

  // ---------- the query surface ----------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational / corpus-dimension operators (oracle-checked) ----
    "q01_pricing_agg" -> ((s, dir) => {
      val l = table(s, dir, "lineitem")
      l.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(24,6)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q02_revenue_by_nation" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val n = table(s, dir, "nation")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("n_name"))
    }),
    "q03_events_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = table(s, dir, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      e.select(col("event_id"), col("user_id"), col("event_type"),
        row_number().over(w).cast("long").as("seq"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
        .orderBy(col("user_id"), col("seq"))
    }),
    // anti-join against a date slice: every customer has SOME order in the
    // driver data, so the unfiltered formulation returned 0 rows forever —
    // a gate row that can only be 0==0 verifies nothing (round-1 verdict).
    "q04_customers_without_orders" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
    "q05_median_quantity" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(l_quantity, 0.5)"), 2).as("median_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),
    "q06_top_event_type_per_user" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = table(s, dir, "events")
      val counts = e.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("n").desc, col("event_type"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .orderBy(col("user_id"))
    }),
    // ---- dedup / text-analysis operators over `documents` ----
    // The driver corpus has no exact duplicates at verify scale (checked:
    // 0 groups at sf0.01), which made this gate row vacuous in round 1.
    // Plant whitespace-mangled copies of every 10th doc in-query so the
    // fingerprint normalization is actually exercised; the oracle plants
    // the identical copies in SQL.
    "q07_exact_dup_groups" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val planted = d.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          regexp_replace(col("text"), " ", "  ").as("text"))
      Dedup.exactDuplicateGroups(d.unionByName(planted)).orderBy(col("fp"))
    }),
    "q08_token_counts" -> ((s, dir) =>
      TextAnalysis.tokenCounts(table(s, dir, "documents"))
        .select(col("doc_id"),
          col("ws_tokens").cast("long").as("ws_tokens"),
          col("bpe_tokens").cast("long").as("bpe_tokens"),
          col("chars").cast("long").as("chars"))
        .orderBy(col("doc_id"))),
    "q09_quality_scores" -> ((s, dir) =>
      TextAnalysis.qualityScore(table(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    "q10_lang_id" -> ((s, dir) =>
      TextAnalysis.langId(table(s, dir, "documents"))
        .select(col("doc_id"), col("lang_pred"),
          col("lang_hits").cast("long").as("lang_hits"))
        .orderBy(col("doc_id"))),
    // 32 bands x 2 rows: P(candidate miss) <= (1 - J^2)^32, < 1e-14 at the
    // J >= 0.8 the driver's planted near-dups sit at — so the verified
    // output equals the exact all-pairs oracle (prod default 16x4 trades
    // that margin for smaller buckets).
    "q11_minhash_dup_pairs" -> ((s, dir) =>
      Dedup.minHashDuplicatePairs(table(s, dir, "documents"),
        Dedup.MinHashParams(bands = 32, jaccardThreshold = 0.5))),
    // radius 3 with DERIVED banding (4 x 15-bit bands) — recall 1.0 by
    // pigeonhole, so the exact all-pairs hamming oracle must match.
    // (Round 1 ran radius 16 over fixed 4x16 bands: guarantee violated.)
    "q12_simhash_dup_pairs" -> ((s, dir) =>
      Dedup.simHashDuplicatePairs(table(s, dir, "documents"), maxHamming = 3)),
    "q19_ngram_jaccard_pairs" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(table(s, dir, "documents"), n = 3, threshold = 0.2)),
    "q20_dup_clusters" -> ((s, dir) =>
      Dedup.duplicateClusters(
        // clustering consumes the pair SET; the global pair sort is the
        // q19 gate dump's, not part of this computation
        Dedup.ngramJaccardPairs(table(s, dir, "documents"), n = 3,
          threshold = 0.2, sortOutput = false))),
    "q21_repetition_metrics" -> ((s, dir) =>
      TextAnalysis.repetitionMetrics(table(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    "q13_ann_bruteforce_topk" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 10)
    }),
    // IVF with exact centroid-bound pruning: same answer as brute force by
    // construction (gate-checkable), inverted-file scan shape at scale.
    // The approximate LSH variant stays as Similarity.lshTopK with its
    // recall pinned in OpsSpec against brute force.
    "q14_ann_ivf_topk" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      Similarity.ivfTopK(e,
        e.filter(col("vec_id") >= 5 && col("vec_id") < 10), k = 10)
    }),
    // EXACT all-pairs verification layer. Threshold 0.45: the driver's
    // embeddings are near-uniform (max pairwise cosine 0.513 at sf0.01),
    // so the round-1 threshold of 0.9 could only ever return 0 rows —
    // vacuous. The LSH near-dup path (cosineNearDupPairs) is pinned in
    // OpsSpec on planted high-cosine duplicates where it belongs.
    "q15_cosine_neardup_pairs" -> ((s, dir) =>
      Similarity.cosineNearDupPairsExact(table(s, dir, "embeddings"),
        threshold = 0.45)),
    "q16_winnow_fingerprints" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      table(s, dir, "documents").select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .map { case (id, t) =>
          val sig = TextAnalysis.winnowSignature(t)
          (id, sig.length.toLong, sig.min, sig.max)
        }
        .toDF("doc_id", "sig_len", "sig_min", "sig_max")
        .orderBy(col("doc_id"))
    }),
    // ---- corpus-level pipeline operators (oracle-checked) ----
    // eval set = every 20th doc; n=4 chosen so the synthetic corpus has
    // BOTH contaminated and clean training docs (n=3 flags 84%, n=5 flags
    // 2 docs — production uses n≈13 on real text).
    "q22_decontaminate" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      Corpus.decontaminate(
        train = d.filter(pmod(col("doc_id"), lit(20)) =!= 0),
        eval = d.filter(pmod(col("doc_id"), lit(20)) === 0),
        n = 4).orderBy(col("doc_id"))
    }),
    "q23_stratified_sample" -> ((s, dir) =>
      Corpus.stratifiedSample(table(s, dir, "documents"), col("lang"),
        rates = Map("en" -> 0.5, "de" -> 0.3), defaultRate = 0.1,
        keyCol = col("doc_id"), salt = "graft-sample-v1")
        .select(col("doc_id"), col("stratum"), col("sample_key"))
        .orderBy(col("doc_id"))),
    // upsampling face of the mixing config: en gets 2.25 epochs (2
    // always + 1 more under the .25 fractional threshold), de exactly 1
    // (integer rate -> no fractional copies), everything else the 0.4
    // downsample; a fresh salt so the draw is independent of q23's
    "q53_replicated_sample" -> ((s, dir) =>
      Corpus.replicatedSample(table(s, dir, "documents"), col("lang"),
        rates = Map("en" -> 2.25, "de" -> 1.0), defaultRate = 0.4,
        keyCol = col("doc_id"), salt = "graft-epoch-v1")
        .select(col("doc_id"), col("stratum"), col("sample_key"),
          col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))),
    "q24_quality_filter" -> ((s, dir) =>
      Corpus.gopherQualityFilter(table(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    "q25_ngram_df_topk" -> ((s, dir) =>
      Corpus.ngramDocFreqTopK(table(s, dir, "documents"), n = 2, k = 50)),
    "q29_corpus_summary" -> ((s, dir) =>
      Corpus.corpusSummary(table(s, dir, "documents"), col("lang"))),
    // partial-containment pairs via shared winnow fingerprints (whole-doc
    // Jaccard misses a paragraph quoted inside a larger doc)
    "q30_winnow_overlap_pairs" -> ((s, dir) =>
      Dedup.winnowOverlapPairs(table(s, dir, "documents"), minShared = 10)),
    // PII scrub: driver texts are PII-free, so PII is planted in-query by
    // the same deterministic expression the oracle uses — staged counts
    // AND the fully redacted text are hash-compared.
    "q31_pii_scrub" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit(" Contact: user"), col("doc_id").cast("string"),
              lit("@example.com"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit(" see https://example.org/d/"),
              col("doc_id").cast("string"), lit("?ref=x"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(lit(" host 10.0."),
              pmod(col("doc_id"), lit(200)).cast("string"),
              lit(".25"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(13)) === 0,
            concat(lit(" tel +1 555 01"),
              (pmod(col("doc_id"), lit(100)) + 100).cast("string")))
            .otherwise(lit(""))).as("text"))
      Pii.piiScrub(d).orderBy(col("doc_id"))
    }),
    // SemDeDup (Abbas et al. 2023): deterministic seed centroids (the 8
    // smallest vec_ids), argmax-cosine assignment, within-cluster
    // lower-id near-dup marking; threshold 0.4 is corpus-tuned so the
    // gate row is differential at verify scale (19 of 500 marked dup).
    "q32_semdedup" -> ((s, dir) =>
      SemDedup.semDedup(table(s, dir, "embeddings"), nClusters = 8,
        threshold = 0.4)),
    // exact duplicated-token-sequence runs (Lee et al. 2021). Driver texts
    // are unique word soup, so verbatim passages are planted in-query: 20
    // docs share a 15-token passage, 13 docs a 20-token passage, 3 docs
    // both (their pairs merge into one 35-token run, passage boundary
    // included — maximality is part of what the oracle checks).
    "q33_shared_token_runs" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(25)) === 0, lit(" " + SharedS1))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(40)) === 0, lit(" " + SharedS2))
            .otherwise(lit(""))).as("text"))
      SubstringDedup.sharedTokenRuns(d, k = 8, minRunTokens = 12)
    }),
    // CCNet-style LM quality scores (rows-only gate: the char-LM lives in
    // the JVM — FunctionsSpec pins lm_score == the typed Scorer, and
    // CorpusSpec pins natural-vs-gibberish ordering). maxScore 4.53 sits
    // at the driver-corpus median so `kept` is differential at verify
    // scale (~half the docs each way).
    "q34_perplexity_scores" -> ((s, dir) =>
      Corpus.perplexityFilter(table(s, dir, "documents"), maxScore = 4.53)
        .orderBy(col("doc_id"))),
    // GPT-style sequence packing: 4 shards so the oracle certifies the
    // sharded (parallel) layout, not a single global window
    "q35_pack_sequences" -> ((s, dir) =>
      Corpus.packSequences(table(s, dir, "documents"), seqLen = 512,
        nShards = 4).orderBy(col("doc_id"))),
    // document-boundary packing: seqLen 64 sits INSIDE the corpus's
    // 10..99 ws-token range, so both faces of the rule fire — oversize
    // docs (> 64 tokens) isolate in their own bins, the rest pack
    // next-fit; the oracle replays the one-pass state machine with a
    // per-shard recursive CTE
    "q55_pack_boundary" -> ((s, dir) =>
      Corpus.packDocsNextFit(table(s, dir, "documents"), seqLen = 64,
        nShards = 4).orderBy(col("doc_id"))),
    // incremental snapshot delta: old = documents minus the 13-multiples
    // (those become `added`), new = documents minus the 11-multiples
    // (`removed`) with the 7-multiples' text edited (`changed`);
    // includeUnchanged so all four statuses pin
    "q54_corpus_delta" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val oldSnap = d.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"), col("text"))
      val newSnap = d.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      Corpus.corpusDelta(oldSnap, newSnap, keyCol = "doc_id",
        includeUnchanged = true).orderBy(col("doc_id"))
    }),
    // NFC + control-strip normalization: driver texts are ASCII, so a
    // decomposed/singleton/control tail is planted in-query — the
    // combining acute must compose (cafe+U+0301 -> café), ANGSTROM SIGN
    // must fold to Å, o+U+0308 -> ö, BEL must strip, tab must survive;
    // the oracle recomputes with DuckDB's identical nfc_normalize
    "q56_normalize_text" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" cafe\u0301 \u212Bngstro\u0308m \u0007bell\ttab")).as("text"))
      TextAnalysis.normalizeText(d)
        .select(col("doc_id"), col("text_norm"),
          length(col("text_norm")).as("n_chars"))
        .orderBy(col("doc_id"))
    }),
    // deterministic 80/10/10 train/val/test carve over the doc-id hash;
    // the oracle re-derives the bucket intervals from md5_number_upper
    "q57_split_assign" -> ((s, dir) =>
      Corpus.splitAssign(table(s, dir, "documents"),
        Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1),
        keyCol = col("doc_id"), salt = "graft-split-v1")
        .select(col("doc_id"), col("sample_key"), col("split"))
        .orderBy(col("doc_id"))),
    // incremental near-dup: the standing corpus is the doc_id%10<8 slice,
    // the "new snapshot batch" the %10>=8 slice; band keys are a pure
    // per-doc function, so the cross-side candidates equal q11's — the
    // exact-jaccard oracle re-derives the cross pairs directly
    "q58_incremental_dedup" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      Dedup.minHashIncrementalPairs(
        d.filter(pmod(col("doc_id"), lit(10)) < 8),
        d.filter(pmod(col("doc_id"), lit(10)) >= 8),
        Dedup.MinHashParams(bands = 32, jaccardThreshold = 0.5))
    }),
    // global token-budget curation: keep the best-quality prefix whose
    // running token sum fits 12000 (~44% of the sf0.01 corpus, so the
    // boundary bites mid-corpus); quality + token counts are the q09
    // values, so the oracle re-derives the identical ordering key and
    // replays the prefix rule as one ORDER-BY window
    "q59_token_budget" -> ((s, dir) => {
      val q = TextAnalysis.qualityScore(table(s, dir, "documents"))
      Corpus.tokenBudgetTake(q, budget = 12000L,
        quality = col("quality"), id = col("doc_id"),
        nTokens = col("n_tokens"))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),
    // CCNet-style per-language buckets over the q09 quality score by
    // EXACT order statistics (integer rank arithmetic, never quantile
    // interpolation — interpolation ULPs differ across engines exactly
    // at the straddling rows); quality ascends so labels read
    // tail/middle/head
    "q60_score_buckets" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val q = TextAnalysis.qualityScore(d)
        .select(col("doc_id"), col("quality"))
      // scoreBuckets traverses its input twice (the histogram pass and
      // the final bucket join) and Catalyst does not dedupe the shared
      // subtree — checkpoint the NARROW scored frame (~24 bytes/row, the
      // tokenBudgetTake materialization shape) so the quality regex pass
      // over the text pays once, not twice
      Corpus.scoreBuckets(Materialize.checkpoint(d.select(col("doc_id"), col("lang"))
          .join(q, Seq("doc_id"))),
        stratum = col("lang"), score = col("quality"),
        labels = Seq("tail", "middle", "head"))
        .withColumnRenamed("id", "doc_id")
        .withColumnRenamed("stratum", "lang")
        .orderBy(col("doc_id"))
    }),
    // quality-aware cluster representative: q20's exact near-dup
    // clusters, keeper = highest q09 quality (tie: smallest doc_id) —
    // the oracle replays both derivations and picks with one window
    "q61_cluster_best" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      Dedup.clusterBest(
        Dedup.duplicateClusters(
          Dedup.ngramJaccardPairs(d, n = 3, threshold = 0.2,
            sortOutput = false)),
        // clusterBest reads the quality frame twice (max-per-cluster agg
        // + the keeper rejoin); checkpoint the narrow (id, quality)
        // projection so the quality regex pass over the text pays once
        Materialize.checkpoint(TextAnalysis.qualityScore(d).select(col("doc_id"), col("quality"))))
        .orderBy(col("cluster"))
    }),
    // integer-exact k-means: 3 Lloyd rounds + final assignment, every
    // step integer arithmetic, so the oracle replays the ITERATION
    // itself (unrolled CTEs, q47-pagerank style) — the first
    // oracle-checkable clustering face (refineCentroids stays the
    // spherical production face)
    "q64_kmeans_micro" -> ((s, dir) =>
      Clustering.kmeansMicro(table(s, dir, "embeddings"), k = 8, iters = 3)
        .withColumnRenamed("id", "vec_id")
        .orderBy(col("vec_id"))),
    // cluster-balanced sampling: the k-means fit + per-cluster expected-
    // target hash draw — big semantic clusters downsample, small ones
    // keep everything; target 40 against sizes 51-73 bites every cluster
    "q65_cluster_balanced_sample" -> ((s, dir) =>
      Clustering.clusterBalancedSample(table(s, dir, "embeddings"),
        k = 8, perClusterTarget = 40L, iters = 3)
        .withColumnRenamed("id", "vec_id")
        .orderBy(col("vec_id"))),
    // prototypicality pruning (SSL-prototypes / D4): same integer
    // k-means fit, then each cluster's 30% nearest-to-centroid rows
    // drop by exact integer rank — the oracle replays the fit AND the
    // per-cluster rank cut
    "q68_prototype_prune" -> ((s, dir) =>
      Clustering.prototypePrune(table(s, dir, "embeddings"), k = 8,
        dropNearestFrac = 0.3, iters = 3)
        .withColumnRenamed("id", "vec_id")
        .orderBy(col("vec_id"))),
    // UT1-style domain blocklist with host-SUFFIX semantics: planted
    // host families exercise the label-boundary rule (nottracker.net
    // must NOT match entry tracker.net), the longest-match pick (deep
    // subdomains), a suffix-as-PREFIX decoy (spam.example.good.org), a
    // never-matching entry, mixed-case hosts, and null urls surviving
    "q66_domain_blocklist" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
      val m = pmod(col("doc_id"), lit(8))
      val host = when(m === 0, lit("ADS.Tracker.NET"))
        .when(m === 1, lit("tracker.net"))
        .when(m === 2, lit("nottracker.net"))
        .when(m === 3, lit("a.b.spam.example"))
        .when(m === 4, lit("ok.example"))
        .when(m === 5, lit("www.ok.example"))
        // trailing-dot FQDN: legal, resolves to the same host — must
        // still hit the list (the suffix walk normalizes it away)
        .when(m === 6, lit("deep.sub.ads.tracker.net."))
        .otherwise(lit("spam.example.good.org"))
      val withUrl = d.withColumn("url",
        when(pmod(col("doc_id"), lit(31)) === 30, lit(null).cast("string"))
          .otherwise(concat(lit("https://"), host, lit("/p/"),
            col("doc_id").cast("string"))))
      Web.domainBlocklist(withUrl,
        Set("tracker.net", "spam.example", "malware.test"), "url")
        .orderBy(col("doc_id"))
    }),
    // sliding-window chunking (the split side of sequence prep): 12-token
    // windows at stride 8 over ~25-40-token docs — every doc multi-chunk,
    // the final-window rule (no degenerate tail) exercised at both
    // boundary parities
    "q67_chunk_tokens" -> ((s, dir) =>
      Corpus.chunkByTokens(table(s, dir, "documents"), maxTokens = 12,
        overlap = 4)
        .orderBy(col("doc_id"), col("chunk_id"))),
    // the ALLOCATION pipeline end-to-end (the post-prepare half of
    // curation): blocklist -> per-host caps -> global quality budget ->
    // split carve, over 5 planted hosts with one blocklisted. Every
    // stage has its own green oracle (q66/q43/q59/q57); this one pins
    // the COMPOSITION — stage order, column handoffs, and that the
    // blocked host never consumes host or token budget
    "q71_allocation_pipeline" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val withUrl = d.withColumn("url",
        concat(lit("https://h"), pmod(col("doc_id"), lit(5)).cast("string"),
          lit(".example/p/"), col("doc_id").cast("string")))
      graft.pipeline.CorpusPrep.allocate(withUrl,
        blocklist = Set("h3.example"),
        maxDocsPerHost = Some(60L), maxTokensPerHost = Some(2500L),
        tokenBudget = 5000L,
        splits = Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1),
        salt = "graft-alloc-v1")
        .orderBy(col("doc_id"))
    }),
    // page-level opt-out consolidation (X-Robots-Tag + meta robots +
    // TDMRep) for ua=ccbot: planted families exercise the whole grammar
    // — global tokens, a foreign-ua scope extending over the REST of its
    // header line, a fresh-scope second header line, case-insensitive
    // scope match, the unavailable_after valued-directive exception, the
    // meta `none` shorthand, tdm-reservation trim + policy passthrough,
    // and all-null rows surviving
    "q69_opt_out" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
      val m = pmod(col("doc_id"), lit(10))
      val x = when(m === 0, lit("noai, noimageai"))
        .when(m === 1, concat(lit("googlebot: noindex, nofollow"),
          lit("\n"), lit("noai")))
        .when(m === 2, lit("CCBot: noai"))
        .when(m === 3, lit("noarchive, ccbot: noindex"))
        // two VALUED directives back to back: neither prefix may become
        // a scope, so the trailing noai stays global
        .when(m === 4, lit("max-image-preview: none, " +
          "unavailable_after: 25 Jun 2026 15:00:00 PST, noai"))
        .otherwise(lit(null).cast("string"))
      val meta = when(m === 5, lit("none"))
        .when(m === 6, lit("NOAI, nofollow"))
        .otherwise(lit(null).cast("string"))
      val tdmR = when(m === 7, lit(" 1 ")).when(m === 8, lit("0"))
        .otherwise(lit(null).cast("string"))
      val tdmP = when(m === 7, lit("https://example.com/tdmpolicy.json"))
        .otherwise(lit(null).cast("string"))
      Web.optOutSignals(
        d.withColumn("x_robots_tag", x).withColumn("robots", meta)
          .withColumn("tdm_reservation", tdmR).withColumn("tdm_policy", tdmP),
        ua = "ccbot")
        .orderBy(col("doc_id"))
    }),
    // C4 cleaning heuristics, filter-as-flag. The driver's documents are
    // single-line word salad with no punctuation — every rule would be
    // vacuously false — so the query PLANTS the line structure the rules
    // exist for (q07/q39/q56 precedent), identically in the oracle: a
    // valid long sentence (the doc text + '.'), a too-short line, a
    // javascript line, a cookie-policy line, an unterminated line, two
    // clean sentence lines, a parity line varying the count, and lorem /
    // '{' page poisons on doc_id % 5 / % 7
    "q62_c4_filter" -> ((s, dir) => {
      val planted = concat(
        col("text"), lit("."),
        lit("\nToo short line."),
        lit("\nThis line mentions javascript so it must go."),
        lit("\nThis site uses cookies to improve your experience."),
        lit("\nThis line has no terminal punctuation"),
        lit("\nHere is another perfectly fine sentence for the counter."),
        lit("\nThis one counts twice. Because it has two sentences!"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          lit("\nExtra even sentence to vary the count.")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit("\nLorem Ipsum dolor sit amet.")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          lit("\ncode { block }")).otherwise(lit("")))
      Corpus.c4Filter(table(s, dir, "documents")
          .select(col("doc_id"), planted.as("text")))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),
    // DSIR importance weights: target = every 7th doc, raw = the rest;
    // 4096 hash buckets — the oracle re-derives md5 buckets, both
    // smoothed histograms, the micro-log quantization and the integer sum
    "q63_dsir_weights" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      Dsir.importanceWeights(
        d.filter(pmod(col("doc_id"), lit(7)) =!= 0),
        d.filter(pmod(col("doc_id"), lit(7)) === 0),
        buckets = 4096)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),
    // URL canonicalization + dedup: six URL variants per page group
    // (tracking params / :443 / fragment / case+trailing-slash must
    // collapse; a real query param must NOT; a userinfo URL must strip
    // its default port too, without case-folding the credentials)
    // synthesized in-query; the oracle re-derives the canonical form
    // with DuckDB's regex engine
    // the politeness plan ANALYTICALLY: 500 urls over 7 hosts, two
    // hosts declaring Crawl-delays, horizon cap 40 biting on every host
    // (~71 urls each) — DuckDB re-derives host extraction, the per-host
    // fetch sequence window, the cap, and the not_before offset math;
    // the delay values re-derive as reviewed CASE literals (the parse
    // itself is pinned by OpsSpec vectors + the frozen x22)
    // per-host corpus summary (the domain-curation stage): synthetic
    // urls spread over 7 hosts with mixed case + an explicit :443 that
    // hostOf must normalize away; counts and the q29 token convention
    // re-derived per host in DuckDB with the identical regex chain
    "q42_host_summary" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val withUrl = d.withColumn("url",
        concat(lit("https://H"), pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".Example:443/pfad/"), col("doc_id").cast("string")))
      Corpus.hostSummary(withUrl).orderBy(col("host"))
    }),
    // per-host domain CAP (the curation stage q42's summary feeds):
    // 5 synthetic hosts x ~100 docs each, capped at 28 docs AND 1500
    // cumulative tokens per host — both caps bind (token mass varies by
    // host: two hosts cut on rank 28, three on tokens). The oracle
    // re-derives host extraction, the rank window,
    // and the cumulative-token prefix cut analytically; the salted
    // two-phase implementation must reproduce the single-window answer
    // bit for bit (the superset/prefix argument on capPerHost)
    "q43_host_cap" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val withUrl = d.withColumn("url",
        concat(lit("https://H"), pmod(col("doc_id"), lit(5)).cast("string"),
          lit(".Example:443/pfad/"), col("doc_id").cast("string")))
      Corpus.capPerHost(withUrl, maxDocs = Some(28L),
          maxTokens = Some(1500L))
        .select(col("doc_id"), col("host"), col("n_tok"),
          col("host_rank"), col("host_cum_tokens"))
        .orderBy(col("doc_id"))
    }),
    // crawl-trap URL detection over a synthetic frontier with planted
    // trap families (depth > 20, looping path segments, > 2048 chars)
    // plus two interplay cases: repeat('/ok',20) passes the depth rule
    // at exactly 20 but traps via REPETITION (20 identical segments IS
    // a loop signature), and /x/y/x/y sits one repeat short. The oracle
    // re-derives the whole predicate — path extract, segment split,
    // distinct-count loop measure — in DuckDB
    "q41_url_traps" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
      val m = pmod(col("doc_id"), lit(11))
      val u = concat(lit("https://t.example"),
        when(m === 0, concat(lit(""), expr("repeat('/tief', 25)")))
          .when(m === 1, concat(lit("/a/b"), expr("repeat('/kreis', 4)")))
          .when(m === 2, concat(lit("/seite?q="), expr("repeat('x', 2100)")))
          .when(m === 3, expr("repeat('/ok', 20)"))
          .when(m === 4, lit("/x/y/x/y"))
          .otherwise(concat(lit("/pfad/"), col("doc_id").cast("string"))))
      d.select(col("doc_id"), u.as("url"))
        .withColumn("is_trap", graft.ops.Web.isUrlTrap(col("url")))
        .orderBy(col("doc_id"))
    }),
    // in-degree-prioritized politeness plan: a synthetic link-edge frame
    // (every doc links to p(doc_id%37) and p(doc_id%11) on one host, so
    // the %11 targets are ~4x more referenced) -> frontierRanked ->
    // fetchSchedule with priorityCol, horizon-capped at 30 of 37 targets
    // — the cap must keep the TOP-in-degree URLs and sequence them
    // first. The oracle re-derives in-degree, the priority window and
    // the offset math analytically
    "q40_fetch_priority" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
      def edge(m: Int) = d.select(col("doc_id"),
        concat(lit("https://rank.example/p"),
          pmod(col("doc_id"), lit(m)).cast("string")).as("url"))
      val frontier = graft.pipeline.WebPrep
        .frontierRanked(edge(37).unionByName(edge(11)))
      val sp2 = s
      import sp2.implicits._
      val robots = Seq(("rank.example", "User-Agent: *\nCrawl-delay: 2.5\n"))
        .toDF("host", "robots_txt")
      graft.pipeline.WebPrep.fetchSchedule(frontier, robots,
          defaultDelaySeconds = 1.0, maxPerHost = 30,
          priorityCol = Some("in_degree"))
        .orderBy(col("host"), col("fetch_seq"))
    }),
    "q38_fetch_schedule" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
      val frontier = d.select(concat(lit("https://h"),
        pmod(col("doc_id"), lit(7)).cast("string"), lit(".example/p"),
        col("doc_id").cast("string")).as("url"))
      val sp2 = s
      import sp2.implicits._
      val robots = Seq(
        ("h0.example", "User-Agent: *\nCrawl-delay: 2.5\n"),
        ("h1.example", "User-Agent: *\nCrawl-delay: 10\n"))
        .toDF("host", "robots_txt")
      graft.pipeline.WebPrep.fetchSchedule(frontier, robots,
          defaultDelaySeconds = 1.0, maxPerHost = 40)
        .orderBy(col("host"), col("fetch_seq"))
    }),
    // sitemap-freshness recrawl: seeds (url, lastmod) vs a fetch log
    // whose urls arrive UN-canonicalized (scheme/host case, :80, utm)
    // and with superseded older captures — stale = lastmod newer than
    // the LATEST canonical fetch. The oracle re-derives the canonical
    // chain, the per-url max, the join and the string-datetime compare
    "q37_recrawl_stale" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
      val grp = floor(col("doc_id") / 10).cast("long").cast("string")
      val pg = pmod(col("doc_id"), lit(10)).cast("string")
      val canonicalSite =
        concat(lit("https://site"), grp, lit(".example/page/"), pg)
      val seeds = d.select(canonicalSite.as("url"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("2026-03-01T00:00:00Z"))
          .when(pmod(col("doc_id"), lit(3)) === 1, lit("2026-01-01T00:00:00Z"))
          .otherwise(lit("")).as("lastmod"))
      val variant = concat(lit("HTTP://Site"), grp,
        lit(".Example:80/page/"), pg, lit("?utm_source=x"))
      val fetched = d.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(variant.as("url"), lit("2026-02-01T00:00:00Z").as("fetch_ts"))
        .union(d.filter(pmod(col("doc_id"), lit(4)) === 0)
          .select(canonicalSite.as("url"),
            lit("2025-06-01T00:00:00Z").as("fetch_ts")))
      graft.pipeline.WebPrep.frontierStale(seeds, fetched)
        .orderBy(col("url"))
    }),
    "q36_url_dedup" -> ((s, dir) => {
      val grp = floor(col("doc_id") / 6).cast("long").cast("string")
      val k = pmod(col("doc_id"), lit(6))
      val url = when(k === 0, concat(lit("http://Example"), grp,
          lit(".com/Path/p?utm_source=x&utm_medium=y")))
        .when(k === 1, concat(lit("https://example"), grp, lit(".com:443/Path/p")))
        .when(k === 2, concat(lit("https://example"), grp, lit(".com/Path/p#section-2")))
        .when(k === 3, concat(lit("HTTPS://EXAMPLE"), grp, lit(".com/Path/p/")))
        .when(k === 4, concat(lit("https://User:Pw@example"), grp, lit(".com:443/Path/p")))
        .otherwise(concat(lit("https://example"), grp, lit(".com/Path/p?id=7")))
      Web.urlDedup(table(s, dir, "documents").select(col("doc_id"))
        .withColumn("url", url)).orderBy(col("doc_id"))
    }),
    // corpus-wide boilerplate-line removal. Driver texts are single-line,
    // so the boilerplate is planted in-query: every doc gains a banner
    // line (df=500) and every 3rd a copyright line (df~167), both over
    // the maxDocFreq=50 cut; original lines have df=1 (texts are unique
    // at verify scale). Stripping must therefore reproduce the original
    // table exactly — which is what the oracle checks.
    "q28_boilerplate_strip" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val withBp = d.select(col("doc_id"),
        concat(col("text"), lit("\nSUBSCRIBE NOW"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("\nCOPYRIGHT 2026 EXAMPLE")).otherwise(lit(""))).as("text"))
      Corpus.removeBoilerplateLines(withBp, maxDocFreq = 50)
        .orderBy(col("doc_id"))
    }),
    // CCNet-style global paragraph dedup, keep-first. Driver texts are
    // single-line and unique, so the duplicated paragraphs are planted
    // in-query: every doc gains one shared long paragraph (only the
    // smallest doc_id keeps it), every 4th doc a second shared one, and
    // a short "--" spacer UNDER minChars that must survive everywhere
    // (short lines are not dedup material). The original line has
    // corpus-wide multiplicity 1 and stays. The oracle re-derives the
    // keeper with a window over the raw paragraph text.
    "q39_paragraph_dedup" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = d.select(col("doc_id"),
        concat(col("text"),
          lit("\nGEMEINSAMER ABSATZ UEBER DIE MINDESTLAENGE HINAUS"),
          when(pmod(col("doc_id"), lit(4)) === 0,
            lit("\nZWEITER GETEILTER ABSATZ JEDES VIERTEN DOKUMENTS"))
            .otherwise(lit("")),
          lit("\n--")).as("text"))
      Corpus.dedupParagraphsGlobal(planted, minChars = 10)
        .orderBy(col("doc_id"))
    }),
    // the 100 TB face of q39 under its OWN analytic oracle (not just
    // the CorpusSpec equality pin): the AtScale twin keys the keeper
    // aggregation on md5_long(line), and DuckDB's md5_number_upper
    // recomputes the identical 8-byte value — so the oracle re-derives
    // the keeper window PARTITIONED BY THE HASH, proving the hashed
    // path itself, end to end, on the same planted corpus as q39
    "q44_paragraph_dedup_hashed" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = d.select(col("doc_id"),
        concat(col("text"),
          lit("\nGEMEINSAMER ABSATZ UEBER DIE MINDESTLAENGE HINAUS"),
          when(pmod(col("doc_id"), lit(4)) === 0,
            lit("\nZWEITER GETEILTER ABSATZ JEDES VIERTEN DOKUMENTS"))
            .otherwise(lit("")),
          lit("\n--")).as("text"))
      Corpus.dedupParagraphsGlobalAtScale(planted, minChars = 10)
        .orderBy(col("doc_id"))
    }),
    // multi-hop redirect resolution by pointer doubling, maxHops=4 so
    // the cap BITES: 50 chain families n0->n1->...->n7 (terminal), so
    // sources n0/n1/n2 sit 7/6/5 hops out (unresolved), n3 exactly 4
    // (resolved at the cap), n4..n6 inside it; every 5th family plants
    // an n8<->n9 two-cycle (unresolved — a cycle never reaches a
    // terminal, no cycle detection needed), the next a n8 self-loop
    // (DROPS from the output: a canonical self-edge means the source
    // already IS its chain end — the operator's documented treatment);
    // conflicting (n0->n5 vs n0->n1) and exact-duplicate edges exercise
    // the min(dst) functionalization. The oracle re-derives the walk
    // with a RECURSIVE CTE capped at the same hop budget, self-edges
    // filtered the same way (fixture urls are already canonical)
    "q45_redirect_chains" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
      val g = floor(col("doc_id") / 10).cast("long").cast("string")
      val i = pmod(col("doc_id"), lit(10))
      val g5 = pmod(floor(col("doc_id") / 10).cast("long"), lit(5))
      def node(n: Column) =
        concat(lit("https://r.example/g"), g, lit("/n"), n.cast("string"))
      val src = when(i <= 6, node(i))
        .when(i === 7 && (g5 === 0 || g5 === 1), node(lit(8)))
        .when(i === 7, node(lit(0)))
        .when(i === 8 && g5 === 0, node(lit(9)))
        .when(i === 8, node(lit(3)))
        .otherwise(node(lit(0)))
      val dst = when(i <= 6, node(i + 1))
        .when(i === 7 && g5 === 0, node(lit(9)))
        .when(i === 7 && g5 === 1, node(lit(8)))
        .when(i === 7, node(lit(5)))
        .when(i === 8 && g5 === 0, node(lit(8)))
        .when(i === 8, node(lit(4)))
        .otherwise(node(lit(1)))
      graft.ops.LinkGraph.resolveRedirectChains(
          d.select(src.as("url"), dst.as("redirect_url")), maxHops = 4)
        .orderBy(col("url"))
    }),
    // per-target anchor-text aggregation: 7 targets fetched under two
    // URL spellings (HTTP://...Example:80 vs canonical https) that must
    // merge, anchors from a 4-way class split incl. a NULL class (counts
    // as ""); the oracle re-derives the per-(url,anchor) counts, the
    // roll-up and the (count desc, anchor asc) top pick with a window
    "q46_anchor_agg" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
      val t = pmod(col("doc_id"), lit(7)).cast("string")
      val target = when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit("HTTP://Anchor.Example:80/p"), t))
        .otherwise(concat(lit("https://anchor.example/p"), t))
      val m5 = pmod(col("doc_id"), lit(5))
      val anchor = when(m5 < 2, lit("click here"))
        .when(m5 === 2, lit("mehr lesen"))
        .when(m5 === 3, lit(null).cast("string"))
        .otherwise(concat(lit("Seite "), t))
      graft.ops.LinkGraph.anchorTextAgg(
          d.select(target.as("url"), anchor.as("anchor")))
        .orderBy(col("url"))
    }),
    // 3-iteration PageRank over a 16-node graph (p0..p12 -> p0..p4 ->
    // q0..q2) whose q-sinks are DANGLING — the mass-redistribution term
    // is differential, not decorative; duplicate edges (every doc_id
    // maps onto one of 80 distinct edges) exercise the edge dedup. The
    // oracle unrolls the identical recurrence three times in SQL; both
    // sides round to 6dp (double sums agree far below that)
    "q47_pagerank" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
      def p(m: Int) = concat(lit("https://pr.example/p"),
        pmod(col("doc_id"), lit(m)).cast("string"))
      def qn(m: Int) = concat(lit("https://pr.example/q"),
        pmod(col("doc_id"), lit(m)).cast("string"))
      val e1 = d.select(p(13).as("url"), p(5).as("dst_url"))
      val e2 = d.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(p(5).as("url"), qn(3).as("dst_url"))
      graft.ops.LinkGraph.pageRank(e1.unionByName(e2), iterations = 3)
        .select(col("url"), round(col("rank"), 6).as("rank"))
        .orderBy(col("url"))
    }),
    // Bloom-prefiltered frontier diff: 500 frontier urls vs a fetch log
    // of the %3!=0 share under a variant spelling the canonical chain
    // must collapse; fpp=0.05 so false positives actually route rows
    // through the settle join — the result must still be EXACTLY the
    // unseen set, which the oracle states directly
    "q48_frontier_bloom" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
      val frontier = d.select(concat(lit("https://b.example/p"),
        col("doc_id").cast("string")).as("url"))
      val fetched = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
        .select(concat(lit("HTTP://B.Example:80/p"),
          col("doc_id").cast("string"), lit("?utm_source=x")).as("url"))
      graft.pipeline.WebPrep.frontierNewBloom(frontier, fetched, fpp = 0.05)
        .orderBy(col("url"))
    }),
    // page edges folded to the host tier: 7 src hosts (half spelled
    // with case + an explicit :443 that hostOf must normalize) x 3 dst
    // hosts, same-host edges (doc_id%7 == doc_id%3) must drop, an
    // unparseable src (hostOf -> '') must drop; the oracle re-derives
    // the host chain with the identical regex and the same filters
    "q50_host_graph" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
      val src = when(pmod(col("doc_id"), lit(11)) === 0, lit("kein url"))
        .when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit("HTTPS://H"), pmod(col("doc_id"), lit(7)).cast("string"),
            lit(".Example:443/p"), col("doc_id").cast("string")))
        .otherwise(concat(lit("https://h"),
          pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".example/p"), col("doc_id").cast("string")))
      val dst = concat(lit("https://h"),
        pmod(col("doc_id"), lit(3)).cast("string"),
        lit(".example/q"), col("doc_id").cast("string"))
      graft.ops.LinkGraph.hostGraph(d.select(src.as("url"),
          dst.as("dst_url")))
        .orderBy(col("src_host"), col("dst_host"))
    }),
    // mirror-host detection from duplicate pairs: 5 'ma' hosts x 4 'mb'
    // hosts connected by ~4-8 cross-host dup pairs each (i%7<3 thins
    // the grid so minShared=6 is DIFFERENTIAL — some host pairs pass,
    // some cut), pair orientation alternates so the least/greatest
    // normalization must pool both directions, and planted same-host
    // pairs must be excluded; the oracle re-derives the joins, the
    // normalization, the count and the threshold
    "q51_mirror_hosts" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
      val docs = d.select(col("doc_id"),
        concat(lit("https://"),
          when(col("doc_id") < 250,
            concat(lit("ma"), pmod(col("doc_id"), lit(5)).cast("string")))
          .otherwise(concat(lit("mb"),
            pmod(col("doc_id") - 250, lit(4)).cast("string"))),
          lit(".example/p"), col("doc_id").cast("string")).as("url"))
      val base = d.filter(col("doc_id") < 250 &&
        pmod(col("doc_id"), lit(7)) < 3)
      val pairs = base.filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id").as("doc_a"),
            (col("doc_id") + 250).as("doc_b"))
        .unionByName(base.filter(pmod(col("doc_id"), lit(2)) === 1)
          .select((col("doc_id") + 250).as("doc_a"),
            col("doc_id").as("doc_b")))
        .unionByName(d.filter(pmod(col("doc_id"), lit(50)) === 0 &&
            col("doc_id") < 245)
          .select(col("doc_id").as("doc_a"),
            (col("doc_id") + 5).as("doc_b")))
      graft.ops.LinkGraph.mirrorHosts(docs, pairs, minShared = 6L)
        .orderBy(col("host_a"), col("host_b"))
    }),
    // the composed mirror-GROUP story the mirrorHosts scaladoc promises:
    // the q51 kept pairs are edges, duplicateClusters over STRING host
    // ids labels each host with the lexicographically smallest host of
    // its mirror component; the oracle walks the same edges with a
    // recursive CTE (min-label fixpoint = connected components)
    "q52_mirror_groups" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
      val docs = d.select(col("doc_id"),
        concat(lit("https://"),
          when(col("doc_id") < 250,
            concat(lit("ma"), pmod(col("doc_id"), lit(5)).cast("string")))
          .otherwise(concat(lit("mb"),
            pmod(col("doc_id") - 250, lit(4)).cast("string"))),
          lit(".example/p"), col("doc_id").cast("string")).as("url"))
      val base = d.filter(col("doc_id") < 250 &&
        pmod(col("doc_id"), lit(7)) < 3)
      val pairs = base.filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id").as("doc_a"),
            (col("doc_id") + 250).as("doc_b"))
        .unionByName(base.filter(pmod(col("doc_id"), lit(2)) === 1)
          .select((col("doc_id") + 250).as("doc_a"),
            col("doc_id").as("doc_b")))
      val mirrors = graft.ops.LinkGraph.mirrorHosts(docs, pairs,
        minShared = 6L)
      Dedup.duplicateClusters(mirrors, idACol = "host_a",
          idBCol = "host_b")
        .select(col("doc_id").as("host"), col("cluster").as("mirror_group"))
        .orderBy(col("host"))
    }),
    // adaptive recrawl scheduling (Cho & Garcia-Molina): 125 urls x 4
    // captures (odd captures under a variant spelling the canonical
    // chain must merge), per-url cadence 3600+(u%7)*600 s, four change
    // classes — every-interval (clamps to minInterval for the fastest
    // cadences, floors mid-range for the slowest), one-change,
    // never-changed (slow lane), single-capture (no evidence). The
    // oracle re-derives the lag window, the smoothed Poisson estimator
    // and both clamps in DuckDB
    "q49_recrawl_schedule" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"))
      val u = floor(col("doc_id") / 4).cast("long")
      val i = pmod(col("doc_id"), lit(4))
      val c = pmod(u, lit(4))
      val url = when(i === 1 || i === 3,
          concat(lit("HTTP://Re.Example:80/u"), u.cast("string")))
        .otherwise(concat(lit("https://re.example/u"), u.cast("string")))
      val ts = lit(1760000000L) + i.cast("long") *
        (lit(3600L) + pmod(u, lit(7)) * lit(600L))
      val digest = when(c === 0, concat(lit("d"), col("doc_id").cast("string")))
        .when(c === 1, lit("same"))
        .when(c === 2, when(i < 2, lit("a")).otherwise(lit("b")))
        .otherwise(lit("solo"))
      val log = d.filter(!(c === 3 && i > 0))
        .select(url.as("url"), ts.as("fetch_ts"), digest.as("digest"))
      graft.pipeline.WebPrep.recrawlSchedule(log,
          minIntervalS = 3600L, maxIntervalS = 30L * 86400L)
        .orderBy(col("url"))
    }),
    // the COMPOSED pipeline: quality gate -> exact dedup -> minhash
    // near-dedup -> decontamination -> stratified sample, end-to-end
    // against one DuckDB query that re-derives all five stages.
    // Thresholds are corpus-tuned so every stage is differential at
    // verify scale (quality 475->338, near-dup drops from 17 pairs,
    // 40 contaminated, then ~9000/7000/5000-per-10k sampling).
    "q26_corpus_prep" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      graft.pipeline.CorpusPrep.prepare(
        docs = d.filter(pmod(col("doc_id"), lit(20)) =!= 0),
        evalCorpus = Some(d.filter(pmod(col("doc_id"), lit(20)) === 0)),
        cfg = graft.pipeline.CorpusPrep.PrepConfig(
          quality = Some(Corpus.GopherThresholds(minTokens = 20,
            maxDupWordRatio = 0.7, maxDup2GramRatio = 0.15,
            minStopwordRatio = 0.01, minAlphaRatio = 0.6)),
          nearDedup = Some(Dedup.MinHashParams(bands = 32,
            jaccardThreshold = 0.5)),
          decontaminateN = 4,
          sampleRates = Map("en" -> 0.9, "de" -> 0.7),
          sampleDefaultRate = 0.5))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    // ---- multimodal plumbing (real javax.imageio codec for the BMP
    // image payloads, GRFT stub for drawings — see ops.Multimodal) ----
    "q17_multimodal_meta" -> ((s, dir) => {
      val media = Multimodal.syntheticMediaFor(
        extractedWithMedia(s).select(col("doc_id"), col("spans")))
      Multimodal.extractMeta(media).orderBy(col("doc_id"), col("media_ref"))
    }),
    "q18_multimodal_frames" -> ((s, dir) => {
      val media = Multimodal.syntheticMediaFor(
        extractedWithMedia(s).select(col("doc_id"), col("spans")))
      Multimodal.sampleFrames(media, stride = 2)
        .orderBy(col("doc_id"), col("media_ref"), col("frame_idx"))
    }),
    // media near-dup: the feature extractor (real grid-luminance features
    // for BMP payloads, hash features for GRFT) composing with the exact
    // cosine layer (embeddings-table schema end to end). Payload
    // duplicates planted in-query (fixture media refs are unique per
    // doc), so every planted copy must pair with its original at cosine
    // 1.0. Gate-checked via the frozen XGolden oracle (features are not
    // SQL-recomputable; q13-q15 gate the cosine layer analytically).
    "q27_media_neardup" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val media = Multimodal.syntheticMediaFor(
        extractedWithMedia(s).select(col("doc_id"), col("spans")))
      val planted = media
        .filter(pmod(call_function("md5_long", col("media_ref")), lit(2)) === 0)
        .withColumn("doc_id", concat(lit("dup-"), col("doc_id")))
        .withColumn("media_ref", concat(lit("dup-"), col("media_ref")))
      val feats = Multimodal.extractFeatures(media.unionByName(planted))
        .withColumn("vec_id", call_function("md5_long",
          concat(col("doc_id"), lit(":"), col("media_ref"))))
      Similarity.cosineNearDupPairsExact(
        feats.select(col("vec_id"), col("embedding")), threshold = 0.999)
    }),
    // perceptual-hash image dedup (the LAION stage): same planted-dup
    // fixture as q27, but paired by 64-bit aHash + radius-2 hamming
    // banding instead of feature cosine — planted byte-identical dups
    // MUST land at hamming 0; the frozen rows also pin the aHash kernel
    // (grid luminance -> mean threshold -> MSB-first packing) end to end
    "q70_image_ahash_dedup" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val media = Multimodal.syntheticMediaFor(
        extractedWithMedia(s).select(col("doc_id"), col("spans")))
      val planted = media
        .filter(pmod(call_function("md5_long", col("media_ref")), lit(2)) === 0)
        .withColumn("doc_id", concat(lit("dup-"), col("doc_id")))
        .withColumn("media_ref", concat(lit("dup-"), col("media_ref")))
      Multimodal.imageNearDupByHash(media.unionByName(planted),
        maxHamming = 2)
    }),
    // ---- extraction pipeline facets (rows-only; SURVEY.md §2) ----
    "x01_extract_spans" -> ((s, dir) =>
      explodedSpans(extracted(s)).orderBy(col("doc_id"), col("offset"))),
    "x02_doc_stats" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      docsCorpus(s).map { row =>
        val tree = graft.codec.SpanCodec.decode(row.spans, fast = true)
        val info = new graft.stats.DocInfo(tree)
        (row.doc_id, info.bodyFont, info.medianLineWidth, info.medianLineHeight,
          info.medianLineSpace, info.medianLineLeft)
      }.toDF("doc_id", "body_font", "median_w", "median_h", "median_space", "median_left")
        .orderBy(col("doc_id"))
    }),
    "x03_header_dedup" -> ((s, dir) => {
      val cfg = ExtractConfig(pageNumberTypeBugCompat = false)
      explodedSpans(extracted(s, cfg)).filter(col("kind") === "header")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_headers"))
        .orderBy(col("doc_id"))
    }),
    "x04_footnotes" -> ((s, dir) =>
      explodedSpans(extracted(s)).filter(col("kind") === "footnotes")
        .orderBy(col("doc_id"), col("offset"))),
    "x05_dehyphen_bodies" -> ((s, dir) =>
      explodedSpans(extracted(s))
        .filter(col("kind") === "body" && col("text").contains("finanziellen"))
        .orderBy(col("doc_id"), col("offset"))),
    "x06_media_passthrough" -> ((s, dir) =>
      explodedSpans(extractedWithMedia(s))
        .filter(col("kind").isin("image", "drawing", "table"))
        .orderBy(col("doc_id"), col("offset"))),
    // differential fixture: half the docs carry a real (non-page-number)
    // footer that must SURVIVE the strip, every doc carries a "Seite N von
    // M" footer that must not — so the row count is non-zero and pins both
    // directions (round 1 used a corpus whose only footers were page
    // numbers: the count could never be anything but 0).
    "x07_page_number_strip" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val cfg = ExtractConfig(pageNumberTypeBugCompat = false)
      val out = StreamingExtract.transform(
        sp.createDataset(Fixtures.footerCorpus(40)).toDF(), cfg).toDF()
      explodedSpans(out).filter(col("kind") === "footer")
        .select(col("doc_id"), col("text"), col("offset"))
        .orderBy(col("doc_id"), col("offset"))
    }),
    // the final sink artifact (S5): the fully assembled per-document text
    // exactly as the production job writes it — reordered footnotes,
    // reverse page breaks, header/footer placement, newline collapse all
    // folded in. GoldenSpec pins a hand-checked subset; the frozen oracle
    // pins the whole 80-doc corpus under the driver's gate.
    "x09_rendered_output" -> ((s, dir) =>
      extracted(s).select(col("doc_id"), col("text")).orderBy(col("doc_id"))),
    // corpus-metrics surface (A7): per-kind span counts + text mass over
    // the extracted corpus — the aggregation the metrics table records
    // per partition, expressed as a gate-checkable corpus rollup.
    "x10_corpus_metrics" -> ((s, dir) =>
      explodedSpans(extracted(s))
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_spans"),
          sum(length(col("text"))).as("text_chars"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("kind"))),
    // the web-side extraction kernel (north_rule: HTML boilerplate strip
    // + DOM heuristics): synthetic pages with realistic boilerplate
    // anatomy -> main-content spans; frozen XGolden oracle pins nav/
    // sidebar/footer removal AND article survival for the whole corpus
    "x11_html_main_content" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val pages = sp.createDataset(graft.fixtures.HtmlFixtures.corpus(40))
        .toDF("doc_id", "html")
      explodedSpans(graft.html.HtmlExtract.extract(pages).toDF())
        .orderBy(col("doc_id"), col("offset"))
    }),
    // byte-level ingest (crawl-native input): the same extraction surface
    // as x11, but fed raw BYTES through the charset-sniffing ladder — a
    // mixed-encoding corpus (UTF-8 / 1252-mislabeled-as-latin1 / BOM'd /
    // meta-declared / undeclared); every variant must decode to spans
    // identical to the string path, which the frozen golden pins
    "x17_bytes_ingest" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val pages = sp.createDataset(graft.fixtures.HtmlFixtures.bytesCorpus(40))
        .toDF("doc_id", "html_bytes", "content_type")
      explodedSpans(graft.html.HtmlExtract.extractBytes(pages,
        htmlCol = "html_bytes", contentTypeCol = Some("content_type")).toDF())
        .orderBy(col("doc_id"), col("offset"))
    }),
    // LM scoring over the FIXTURE corpus (verdict r3 item 2): the same
    // Corpus.perplexityFilter as q34, but fixture-fed so the XGolden
    // freeze applies — retires the pipeline's last rows-only gate entry
    // (q34 itself stays rows-only: it reads the driver's regenerable
    // documents table, which the freeze contract excludes)
    "x12_lm_scores" -> ((s, dir) =>
      graft.ops.Corpus.perplexityFilter(
        extracted(s).select(col("doc_id"), col("text")), maxScore = 4.53)
        .orderBy(col("doc_id"))),
    // out-link extraction (crawl-frontier / URL-graph feed): every href +
    // anchor of the fixture pages in document order, RFC-3986-resolved
    // against the page URL (honoring a declared <base href>), then
    // canonicalized with the same chain urlDedup keys on — frozen oracle
    "x13_html_links" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val pages = sp.createDataset(graft.fixtures.HtmlFixtures.corpus(40))
        .toDF("doc_id", "html")
        .withColumn("fetch_url",
          concat(lit("https://fetch.example/seite/"), col("doc_id")))
      graft.html.HtmlExtract.extractLinks(pages, pageUrlCol = Some("fetch_url"))
        .withColumn("canonical_href",
          graft.ops.Web.canonicalUrl(col("resolved")))
        .orderBy(col("doc_id"), col("offset"))
    }),
    // markdown rendering of the unified span stream (SpanMarkdown): the
    // training-text shape — leveled headings, dashed lists, pipe tables
    // from the CSV captures, ![alt](ref) image placeholders — frozen
    // over the HTML fixture corpus (the kind-richest span streams)
    "x16_markdown" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val pages = sp.createDataset(graft.fixtures.HtmlFixtures.corpus(40))
        .toDF("doc_id", "html")
      val htmlMd = graft.assemble.SpanMarkdown.renderDocs(
        graft.html.HtmlExtract.extract(pages).toDF())
      // PDF face: leveled heading spans (media_ref "hN", the HTML
      // convention now carried by emitSpans) render as ##-leveled
      // markdown through the SAME renderer
      val pdfDocs = StreamingExtract.transform(
        sp.createDataset(graft.fixtures.Fixtures.headingCorpus(8)).toDF()).toDF()
      htmlMd.unionByName(graft.assemble.SpanMarkdown.renderDocs(pdfDocs))
        .orderBy(col("doc_id"))
    }),
    // the composed web-ingest pipeline (WebPrep): one-pass extraction ->
    // robots gate -> canonical-priority URL dedup; the input carries TWO
    // mirror fetches per page (desktop + amp-with-tracking). Pages with
    // an ABSOLUTE canonical collapse to one keeper; the seed%3 subset
    // declares its canonical RELATIVE, which resolves per-fetch-host and
    // therefore does NOT merge (faithfully pinning why real sites
    // declare canonicals absolute) — and the noindex seed subset
    // vanishes entirely
    "x15_web_prep" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val pages = sp.createDataset(
        graft.fixtures.HtmlFixtures.corpus(30).flatMap { case (id, html) =>
          Seq(
            (s"$id-a", html, s"https://fetch.example/seite/$id"),
            (s"$id-b", html, s"https://m.fetch.example/amp/$id?utm_source=amp"))
        }).toDF("doc_id", "html", "url")
      graft.pipeline.WebPrep.prepare(pages)
        .select(col("doc_id"), col("dedup_url"), col("title"), col("lang"),
          size(col("spans")).cast("int").as("n_spans"),
          size(col("links")).cast("int").as("n_links"))
        .orderBy(col("doc_id"))
    }),
    // WARC crawl-container ingest: the mixed-encoding fixture corpus
    // shipped through a REAL WARC file (warcinfo + HTTP-enveloped
    // response records, Content-Length framing) -> streaming record
    // parse -> charset ladder -> one-pass extraction; the frozen golden
    // pins record framing, HTTP split, URI carry and span equality with
    // the string path (ids are the WARC record ids, so rows key on url)
    "x19_warc_ingest" -> ((s, dir) => {
      val pages = graft.fixtures.HtmlFixtures.bytesCorpus(40)
      val warc = graft.sources.Warc.writeWarc(pages.map { case (id, bytes, ct) =>
        (s"https://fetch.example/$id", if (ct == null) "text/html" else ct, bytes)
      })
      val tmp = java.nio.file.Files.createTempDirectory("graft-x19")
      val p = tmp.resolve("fixture.warc")
      java.nio.file.Files.write(p, warc)
      val docs = graft.sources.Warc.extractAll(s, p.toString, minPartitions = 4)
      docs.select(col("doc_id"), col("url"),
          posexplode(col("spans")).as(Seq("pos", "sp")))
        .select(col("doc_id"), col("url"), col("sp.kind").as("kind"),
          col("sp.text").as("text"), col("sp.media_ref").as("media_ref"),
          col("sp.offset").as("offset"))
        .orderBy(col("url"), col("offset"))
    }),
    // redirect edges through the WARC path: 3xx records' Location
    // headers (relative and absolute, with the canonical chain's
    // scheme/port/tracking folds) resolved into frontier-ready
    // (url, redirect_url) rows; 3xx-without-Location and error statuses
    // contribute nothing, and the 200 page lands as a doc, not an edge
    "x24_redirect_edges" -> ((s, dir) => {
      val page = graft.fixtures.HtmlFixtures.page("redir-00", 7L)
      val warc = graft.sources.Warc.writeWarcWithStatus(Seq(
        ("https://fetch.example/alt", "text/html", Array.emptyByteArray,
          301, "/neu/ort"),
        ("https://fetch.example/tief/pfad", "text/html",
          Array.emptyByteArray, 308, "anders.html?utm_source=mail"),
        ("https://fetch.example/extern", "text/html", Array.emptyByteArray,
          302, "HTTP://Ziel.Example:80/Seite#frag"),
        ("https://fetch.example/ohne", "text/html", Array.emptyByteArray,
          303, ""),
        ("https://fetch.example/echt", "text/html; charset=utf-8",
          page.getBytes("UTF-8"), 200, "")))
      val tmp = java.nio.file.Files.createTempDirectory("graft-x24")
      val p = tmp.resolve("fixture.warc")
      java.nio.file.Files.write(p, warc)
      graft.sources.Warc.redirectEdges(
          graft.sources.Warc.responses(s, p.toString, minPartitions = 2))
        .orderBy(col("url"))
    }),
    // HTTP payload codings through the WARC path: the SAME page body
    // shipped identity, chunked, gzip'd, deflate'd and chunked+gzip'd —
    // all five must extract byte-identically (the de-framing/inflation
    // runs before the charset ladder); a brotli record (no JVM decoder)
    // is skipped on the failure seam, never mojibake. Pins RFC 9112
    // chunk reassembly (multi-chunk, extension, trailer), both deflate
    // wrappings' fallback order, and coding-chain reversal
    "x25_http_payload" -> ((s, dir) => {
      val body = ("<html><head><meta charset=\"utf-8\"><title>kodiert</title>" +
        "</head><body><article><p>Übertragungs-Kodierung: der gleiche " +
        "Inhalt, fünfmal verpackt — und einmal brotli, das niemals " +
        "stillschweigend als windows-1252 gelesen werden darf.</p>" +
        "</article></body></html>").getBytes("UTF-8")
      val mk = (n: String, te: String, ce: String) => graft.sources.Warc
        .HttpFixture(s"https://enc.example/$n",
          "text/html; charset=utf-8", body,
          transferEncoding = te, contentEncoding = ce)
      val warc = graft.sources.Warc.writeWarcRecords(Seq(
        mk("identity", "", ""),
        mk("chunked", "chunked", ""),
        mk("gzip", "", "gzip"),
        mk("deflate", "", "deflate"),
        mk("chunked-gzip", "chunked", "gzip"),
        mk("zstd", "", "zstd"), // RFC 8878, via Spark's own zstd-jni
        mk("brotli", "", "br")))
      val tmp = java.nio.file.Files.createTempDirectory("graft-x25")
      val p = tmp.resolve("enc.warc")
      java.nio.file.Files.write(p, warc)
      graft.sources.Warc.extractAll(s, p.toString, minPartitions = 2)
        .select(col("url"), col("title"), col("text"))
        .orderBy(col("url"))
    }),
    // revisit-aware recrawl staleness: a deduplicated crawl's refetch
    // EVENTS live in `revisit` records; fed into the fetched/staleness
    // chain they must suppress recrawl of a page whose latest capture
    // is a revisit. Pins revisit record parsing (WARC-Refers-To-Target-
    // URI), the responses∪revisits fetch-log union, and that fetched_ts
    // reflects the REVISIT date (2026-03-01) — not the original
    // response (2026-01-01) — in the surviving stale rows
    "x26_revisit_stale" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val page = "<p>inhalt</p>".getBytes("UTF-8")
      val warc = graft.sources.Warc.writeWarcRecords(Seq(
        graft.sources.Warc.HttpFixture("https://rev.example/eins",
          "text/html", page, date = "2026-01-01T00:00:00Z"),
        graft.sources.Warc.HttpFixture("https://rev.example/eins",
          "text/html", Array.emptyByteArray, warcType = "revisit",
          refersTo = "https://rev.example/eins",
          date = "2026-03-01T00:00:00Z"),
        graft.sources.Warc.HttpFixture("https://rev.example/zwei",
          "text/html", page, date = "2026-01-01T00:00:00Z"),
        graft.sources.Warc.HttpFixture("https://rev.example/drei",
          "text/html", page, date = "2026-05-01T00:00:00Z")))
      val tmp = java.nio.file.Files.createTempDirectory("graft-x26")
      val p = tmp.resolve("rev.warc")
      java.nio.file.Files.write(p, warc)
      val fetched = graft.sources.Warc
        .responses(s, p.toString, minPartitions = 2)
        .select(col("url"), col("fetch_ts"))
        .union(graft.sources.Warc
          .revisits(s, p.toString, minPartitions = 2)
          .select(col("url"), col("fetch_ts")))
      val seeds = Seq(
        // eins: lastmod newer than even the revisit -> stale, with the
        // revisit's ts as fetched_ts (the revisit visibility proof);
        // zwei: stale vs its one response; drei: fresh, absent
        ("https://rev.example/eins", "2026-04-01T00:00:00Z"),
        ("https://rev.example/zwei", "2026-02-01T00:00:00Z"),
        ("https://rev.example/drei", "2026-02-01T00:00:00Z"))
        .toDF("url", "lastmod")
      graft.pipeline.WebPrep.frontierStale(seeds, fetched)
        .orderBy(col("url"))
    }),
    // one-level sitemapindex expansion through the fetch seam: the
    // index's children are robots-gated, fetched, and parsed; a nested
    // index's children come back as kind=sitemap rows for the NEXT
    // cycle; a blocked child is never fetched; a missing child counts
    // on the seam. Pins the discover->expand->seed path end to end
    "x27_sitemap_index" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft-x27")
      val childA =
        """<urlset><url><loc>https://idx.example/seite-a</loc><lastmod>2026-01-03</lastmod></url>
          |<url><loc>HTTP://Idx.Example/seite-b?utm_source=x</loc></url></urlset>""".stripMargin
      val nested = "<sitemapindex><sitemap>" +
        "<loc>https://idx.example/tiefer.xml</loc></sitemap></sitemapindex>"
      java.nio.file.Files.write(tmp.resolve("kind-a.xml"),
        childA.getBytes("UTF-8"))
      java.nio.file.Files.write(tmp.resolve("kind-n.xml"),
        nested.getBytes("UTF-8"))
      java.nio.file.Files.write(tmp.resolve("index.xml"),
        ("<sitemapindex>" +
          "<sitemap><loc>https://idx.example/kind-a.xml</loc></sitemap>" +
          "<sitemap><loc>https://idx.example/kind-n.xml</loc></sitemap>" +
          "<sitemap><loc>https://idx.example/blocked/kind-x.xml</loc></sitemap>" +
          "</sitemapindex>").getBytes("UTF-8"))
      val entries = graft.sources.Sitemap.entries(
        s, tmp.toString + "/index.xml", minPartitions = 1)
      val base = tmp.toString
      val fetch: String => Array[Byte] = { url =>
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
          base, url.substring(url.lastIndexOf('/') + 1)))
      }
      val robots = Seq(("idx.example", "User-Agent: *\nDisallow: /blocked/\n"))
        .toDF("host", "robots_txt")
      graft.pipeline.WebPrep.expandSitemapIndex(
          entries, fetch, robotsTxt = Some(robots))
        .select(col("kind"), col("loc"), col("lastmod"))
        .orderBy(col("kind"), col("loc"))
    }),
    // conditional-refetch validators end to end: a WARC with two
    // captures of one url (etag v1 then v2 — the NEWER must win), one
    // validator-less page, one 301 (never a validator row), joined onto
    // a plan holding a never-fetched url (null validators = the
    // unconditional first fetch). Pins the HTTP-envelope validator
    // extraction, the latest-capture max, and the left-join shape
    "x28_conditional_fetch" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val body = "<p>inhalt</p>".getBytes("UTF-8")
      val warc = graft.sources.Warc.writeWarcRecords(Seq(
        graft.sources.Warc.HttpFixture("https://v.example/seite",
          "text/html", body, date = "2026-01-01T00:00:00Z",
          etag = "\"v1\"", lastModified = "Mon, 05 Jan 2026 00:00:00 GMT"),
        graft.sources.Warc.HttpFixture("https://v.example/seite",
          "text/html", body, date = "2026-02-01T00:00:00Z",
          etag = "\"v2\"", lastModified = "Thu, 29 Jan 2026 00:00:00 GMT"),
        graft.sources.Warc.HttpFixture("https://v.example/ohne",
          "text/html", body, date = "2026-01-01T00:00:00Z"),
        graft.sources.Warc.HttpFixture("https://v.example/weg",
          "text/html", Array.emptyByteArray, status = 301,
          location = "/neu")))
      val tmp = java.nio.file.Files.createTempDirectory("graft-x28")
      val p = tmp.resolve("valid.warc")
      java.nio.file.Files.write(p, warc)
      val fetched = graft.sources.Warc.responses(s, p.toString,
        minPartitions = 2)
      val plan = Seq("https://v.example/seite", "https://v.example/ohne",
        "https://v.example/neu").toDF("url")
      graft.pipeline.WebPrep.planWithValidators(plan, fetched)
        .orderBy(col("url"))
    }),
    // 304 revalidation END TO END (the response half of the
    // conditional-refetch story x28's request half started, RFC 9110
    // §15.4.5): /seite is captured 200@Jan (etag v1) then 304@Mar
    // (etag v2 — a 304 may refresh validators); the seed lastmod (Feb)
    // sits BETWEEN them, so /seite is stale only if the 304 is
    // invisible to the staleness clock. /anders has one 200@Jan and
    // the same Feb lastmod -> genuinely stale. Facets pin the three
    // contract points: 'attempt' = every capture lands in the fetch
    // log (the 304 with its own ts), 'stale' = frontierStale keeps
    // ONLY /anders, 'doc' = extraction yields the two 200 pages and
    // never a third row from the 304, 'plan' = planWithValidators
    // hands the NEWER capture's validators (v2) to the next fetch
    "x29_revalidation" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      def page(t: String) =
        (s"<html><head><title>$t</title></head><body><article>" +
          s"<p>inhalt von $t</p></article></body></html>").getBytes("UTF-8")
      val warc = graft.sources.Warc.writeWarcRecords(Seq(
        graft.sources.Warc.HttpFixture("https://reval.example/seite",
          "text/html; charset=utf-8", page("seite"),
          date = "2026-01-01T00:00:00Z", etag = "\"v1\"",
          lastModified = "Mon, 05 Jan 2026 00:00:00 GMT"),
        graft.sources.Warc.HttpFixture("https://reval.example/seite",
          "text/html", Array.emptyByteArray, status = 304,
          date = "2026-03-01T00:00:00Z", etag = "\"v2\"",
          lastModified = "Sun, 01 Mar 2026 00:00:00 GMT"),
        graft.sources.Warc.HttpFixture("https://reval.example/anders",
          "text/html; charset=utf-8", page("anders"),
          date = "2026-01-01T00:00:00Z")))
      val tmp = java.nio.file.Files.createTempDirectory("graft-x29")
      val p = tmp.resolve("reval.warc")
      java.nio.file.Files.write(p, warc)
      val responses = graft.sources.Warc.responses(s, p.toString,
        minPartitions = 2)
      val fetched = responses.select(col("url"), col("fetch_ts"))
      val seeds = Seq(
        ("https://reval.example/seite", "2026-02-01T00:00:00Z"),
        ("https://reval.example/anders", "2026-02-01T00:00:00Z"))
        .toDF("url", "lastmod")
      val attempts = responses.select(lit("attempt").as("facet"),
        col("url"), concat(col("http_status").cast("string"),
          lit(" @ "), col("fetch_ts")).as("info"))
      val stale = graft.pipeline.WebPrep.frontierStale(seeds, fetched)
        .select(lit("stale").as("facet"), col("url"),
          col("fetched_ts").as("info"))
      val docs = graft.sources.Warc.extractAll(s, p.toString,
          minPartitions = 2)
        .select(lit("doc").as("facet"), col("url"), col("title").as("info"))
      val plan = graft.pipeline.WebPrep.planWithValidators(
          Seq("https://reval.example/seite", "https://reval.example/anders")
            .toDF("url"), responses)
        .select(lit("plan").as("facet"), col("url"),
          concat_ws("|", col("etag"), col("last_modified")).as("info"))
      attempts.union(stale).union(docs).union(plan)
        .orderBy(col("facet"), col("url"), col("info"))
    }),
    // the brotli PERMANENT CONTRACT (decodeHttpPayload's scaladoc): a
    // `Content-Encoding: br` record fails COUNTED — record-level, the
    // payloadError seam names the coding and empties the body;
    // frame-level, the responses reader skips the row and increments
    // failedAcc — and the records AROUND it land untouched. Never
    // silent mojibake, never a dropped file. (The H.26x-precedent
    // contract: a bare JVM has no RFC 7932 static dictionary.)
    "x30_brotli_contract" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val body = "<p>echter inhalt</p>".getBytes("UTF-8")
      val warc = graft.sources.Warc.writeWarcRecords(Seq(
        graft.sources.Warc.HttpFixture("https://br.example/vorher",
          "text/html", body),
        graft.sources.Warc.HttpFixture("https://br.example/brotli",
          "text/html", body, contentEncoding = "br"),
        graft.sources.Warc.HttpFixture("https://br.example/nachher",
          "text/html", body)))
      // record level: the payloadError seam, one row per response record
      val recordRows = graft.sources.Warc
        .records(new java.io.ByteArrayInputStream(warc))
        .filter(_.warcType == "response")
        .map(r => ("record", r.targetUri,
          s"error=${r.payloadError} body_bytes=${r.body.length}"))
        .toSeq
      // frame level: responses skips the br row and counts it once
      val tmp = java.nio.file.Files.createTempDirectory("graft-x30")
      val p = tmp.resolve("br.warc")
      java.nio.file.Files.write(p, warc)
      val acc = s.sparkContext.longAccumulator("x30-payload-failed")
      val survivors = graft.sources.Warc.responses(s, p.toString,
          minPartitions = 1, failedAcc = Some(acc))
        .select(col("url")).collect().map(_.getString(0)).sorted
        .map(u => ("frame", u, "landed")).toSeq
      val counted = Seq(("count", "failed_records", acc.value.toString))
      (recordRows ++ survivors ++ counted)
        .toDF("facet", "url", "info")
        .orderBy(col("facet"), col("url"), col("info"))
    }),
    // in-degree priority ACROSS the crawl-cycle boundary (q40 proves it
    // inside one fetchSchedule call; this pins the loop wiring): two
    // seeds both link /zz, so under priorityByInDegree with
    // maxPerHost=2 cycle 1 must fetch {zz, aa} (top in-degree, url
    // tie-break) and defer /ab to cycle 2 — the unranked loop would
    // take the lexicographic {aa, ab}. The landed frontier's
    // accumulated in_degree is frozen too (zz=2 from two edge rows)
    "x31_crawl_priority" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val web = Seq(
        ("https://pri.example/s0",
          "<html><body><p>start null</p><a href=\"/zz\">z</a>" +
            "<a href=\"/aa\">a</a><a href=\"/ab\">b</a></body></html>"),
        ("https://pri.example/s1",
          "<html><body><p>start eins</p><a href=\"/zz\">z</a></body></html>"),
        ("https://pri.example/zz",
          "<html><body><p>zet inhalt</p></body></html>"),
        ("https://pri.example/aa",
          "<html><body><p>a inhalt</p></body></html>"),
        ("https://pri.example/ab",
          "<html><body><p>b inhalt</p></body></html>"))
        .toDF("url", "html")
      val seeds = Seq("https://pri.example/s0", "https://pri.example/s1")
        .toDF("url")
      val robots = Seq(("pri.example", "User-Agent: *\n"))
        .toDF("host", "robots_txt")
      val cfg = graft.pipeline.CrawlLoop.CrawlConfig(
        outDir = java.nio.file.Files.createTempDirectory("graft-x31")
          .toString,
        cycles = 6, maxPerHost = 2, priorityByInDegree = true)
      graft.pipeline.CrawlLoop.run(s, web, seeds, robots, cfg)
      val docs = graft.pipeline.CrawlLoop.readDocs(s, cfg)
        .select(concat(lit("doc cycle="), col("cycle").cast("string"))
          .as("facet"), col("url"))
      val frontier = s.read.parquet(cfg.outDir + "/frontier/cycle=0")
        .select(concat(lit("frontier0 deg="),
          col("in_degree").cast("string")).as("facet"), col("url"))
      docs.union(frontier).orderBy(col("facet"), col("url"))
    }),
    // header-level opt-out INGEST end-to-end: fixture WARC with planted
    // X-Robots-Tag / TDMRep headers -> responsesWithHeaders (repeated
    // instances newline-joined, absent headers null) -> optOutSignals
    // for ua=ccbot. Page 2's two SEPARATE X-Robots-Tag headers pin the
    // per-header scope reset at the ingest seam (a comma-join would
    // leak googlebot's scope over the second header's noai)
    "x33_optout_ingest" -> ((s, dir) => {
      val pages = Seq(
        graft.sources.Warc.HttpFixture("https://a.test/1", "text/html",
          "<html>one</html>".getBytes("UTF-8"),
          extraHttpHeaders = Seq("X-Robots-Tag" -> "noai")),
        graft.sources.Warc.HttpFixture("https://a.test/2", "text/html",
          "<html>two</html>".getBytes("UTF-8"),
          extraHttpHeaders = Seq(
            "X-Robots-Tag" -> "googlebot: noindex, nofollow",
            "X-Robots-Tag" -> "noai")),
        graft.sources.Warc.HttpFixture("https://a.test/3", "text/html",
          "<html>three</html>".getBytes("UTF-8"),
          extraHttpHeaders = Seq(
            "TDM-Reservation" -> "1",
            "TDM-Policy" -> "https://a.test/policy.json")),
        graft.sources.Warc.HttpFixture("https://a.test/4", "text/html",
          "<html>four</html>".getBytes("UTF-8")))
      val warc = graft.sources.Warc.writeWarcRecords(pages)
      val tmp = java.nio.file.Files.createTempDirectory("graft-x33")
      java.nio.file.Files.write(tmp.resolve("optout.warc"), warc)
      val resp = graft.sources.Warc.responsesWithHeaders(s, tmp.toString,
        Seq("x-robots-tag", "tdm-reservation", "tdm-policy"))
        .withColumn("robots", lit(null).cast("string"))
      Web.optOutSignals(resp, ua = "ccbot")
        .select(col("url"), col("x_robots_tag"), col("tdm_reservation"),
          col("noindex"), col("nofollow"), col("noai"),
          col("tdm_reserved"), col("tdm_policy_url"), col("train_ok"))
        .orderBy(col("url"))
    }),
    // BPE tokenizer train + encode end-to-end (XGolden contract: in-code
    // corpus only). The pool shares morphology (low/lower/lowest,
    // token/tokens/tokenizer) and 20 merges deliberately UNDER-shoot
    // full-word merging, so the golden shows real subword splits
    // (stems + suffix pieces) rather than one token per word; the
    // deterministic word schedule + punctuation parity exercise the
    // pre-tokenizer; the frozen rows pin the ENTIRE train->encode path —
    // the frequency cut, the tie-broken merge order, the greedy
    // rank-order replay and the cache
    "x32_bpe_tokens" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val pool = Vector("low", "lower", "lowest", "newer", "newest",
        "wide", "wider", "widest", "slow", "slower", "render", "renders",
        "rendering", "token", "tokens", "tokenizer", "42", "2024", "a",
        "the")
      val docs = (0L until 24L).map { i =>
        val words = (0 until 12).map { j =>
          pool((((i * 7 + j * 5 + (i * j) % 11) % pool.length).toInt))
        }
        val punct = if (i % 3 == 0) "." else if (i % 3 == 1) "," else "!"
        (i, words.mkString(" ") + punct)
      }.toDF("doc_id", "text")
      val merges = graft.ops.Bpe.fit(docs, numMerges = 20, minCount = 2)
      graft.ops.Bpe.encode(docs, merges).orderBy(col("doc_id"))
    }),
    // sitemap frontier seeding: robots.txt Sitemap advertisements name
    // the fixture files (urlset XML with entity-escaped locs + lastmod
    // variants, a text sitemap, a sitemapindex whose child refs must
    // NOT seed) -> distributed Sitemap.entries parse ->
    // frontierFromSitemaps (canonicalize, dedup, max-lastmod) -> the
    // RFC 9309 robots gate on the same rules — pinning the whole
    // discover-and-seed path a crawl starts from
    "x20_sitemap_frontier" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val robotsTxt = "User-Agent: *\nDisallow: /blocked/\n" +
        "Sitemap: https://seed.example/sitemap-a.xml\n" +
        "Sitemap: https://seed.example/sitemap-b.txt\n"
      // the advertisement drives which files the gate writes + reads
      val ads = graft.ops.RobotsTxt.sitemaps(robotsTxt)
        .map(_.substring("https://seed.example/".length))
      val urlset =
        """<?xml version="1.0" encoding="UTF-8"?>
          |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
          |<url><loc>HTTP://Seed.Example/katalog?item=7&amp;lang=de#frag</loc><lastmod>2026-01-05</lastmod><changefreq>weekly</changefreq><priority>0.8</priority></url>
          |<url><loc>http://seed.example/katalog?item=7&amp;lang=de</loc><lastmod>2026-03-01</lastmod></url>
          |<url><loc>https://seed.example/blocked/intern</loc><lastmod>2026-02-02</lastmod></url>
          |<url><loc>https://seed.example/artikel/&#252;ber-uns</loc></url>
          |</urlset>""".stripMargin
      val textmap = "https://seed.example/katalog?item=7&lang=de\n" +
        "https://seed.example/impressum\nkein-url\n"
      val index = "<sitemapindex><sitemap>" +
        "<loc>https://seed.example/sitemap-more.xml</loc>" +
        "</sitemap></sitemapindex>"
      val tmp = java.nio.file.Files.createTempDirectory("graft-x20")
      java.nio.file.Files.write(tmp.resolve(ads(0)),
        urlset.getBytes("UTF-8"))
      java.nio.file.Files.write(tmp.resolve(ads(1)),
        textmap.getBytes("UTF-8"))
      java.nio.file.Files.write(tmp.resolve("sitemap-c.xml"),
        index.getBytes("UTF-8"))
      val entries = graft.sources.Sitemap.entries(
        s, tmp.toString + "/*", minPartitions = 2)
      val seeds = graft.pipeline.WebPrep.frontierFromSitemaps(entries)
      val robots = Seq(("seed.example", robotsTxt)).toDF("host", "robots_txt")
      graft.pipeline.WebPrep.frontierGated(seeds, robots)
        .orderBy(col("url"))
    }),
    // WET round-trip: the composed WebPrep corpus written as sharded
    // Common Crawl-style WET files (warcinfo + conversion records,
    // Content-Length framing, per-record gzip members) through the
    // distributed sink, read back through the WET source — pinning the
    // sink/source pair as an identity on (url, text) and the
    // deterministic epoch date fallback
    "x21_wet_roundtrip" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val pages = sp.createDataset(graft.fixtures.HtmlFixtures.corpus(30))
        .toDF("doc_id", "html")
        .withColumn("url",
          concat(lit("https://fetch.example/seite/"), col("doc_id")))
      val corpus = graft.pipeline.WebPrep.prepare(pages)
        .select(col("dedup_url").as("url"), col("text"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-x21")
      graft.sources.Warc.writeWetShards(corpus.repartition(3),
        tmp.toString, gzipPerRecord = true)
      graft.sources.Warc.wetText(s, tmp.toString + "/*", minPartitions = 2)
        .orderBy(col("url"))
    }),
    // Crawl-delay politeness schedule: the fixture frontier split across
    // two hosts — one declaring a crawler-specific Crawl-delay, one with
    // no delay (default pacing) — through fetchSchedule. Pins group-
    // scoped delay selection (specific group's 2.5s, not *'s 60s), the
    // default-delay fallback, per-host fetch sequencing by url, and the
    // not_before offset math, frozen for the whole plan
    "x22_fetch_schedule" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val pages = sp.createDataset(graft.fixtures.HtmlFixtures.corpus(30))
        .toDF("doc_id", "html")
        .withColumn("url",
          concat(lit("https://fetch.example/seite/"), col("doc_id")))
      // spread the frontier over two politeness domains deterministically
      val frontier = graft.pipeline.WebPrep.frontier(pages)
        .withColumn("url", when(crc32(col("url")) % 2 === 0,
          regexp_replace(col("url"), "^https://fetch\\.example/",
            "https://mirror.example/")).otherwise(col("url")))
      val robots = Seq(
        ("fetch.example", "User-Agent: graftbot\nCrawl-delay: 2.5\n" +
          "Disallow: /nix\nUser-Agent: *\nCrawl-delay: 60\n"),
        ("mirror.example", "User-Agent: *\nDisallow: /nix\n"))
        .toDF("host", "robots_txt")
      graft.pipeline.WebPrep.fetchSchedule(frontier, robots,
          userAgent = "graftbot/1.0", defaultDelaySeconds = 1.0)
        .orderBy(col("host"), col("fetch_seq"))
    }),
    // The composed crawl loop end-to-end over the deterministic fixture
    // site: seeds -> robots gate -> fetched-set diff -> politeness plan
    // -> simulated fetch -> extraction -> corpus + next frontier, cycled
    // to exhaustion with landed checkpoints. Pins BFS layering (cycle
    // column), the noindex drop WITH link follow-through, in-loop
    // canonical collapse (hop1/1 keeps dedup_url hop1/0), the robots
    // subtree never fetched, and back-link refetch suppression
    "x23_crawl_loop" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val web = graft.fixtures.HtmlFixtures.site(depth = 2, fanout = 2)
        .toDF("url", "html")
      val seeds = Seq("https://crawl.example/start").toDF("url")
      val robots = Seq(graft.fixtures.HtmlFixtures.siteRobots())
        .toDF("host", "robots_txt")
      val cfg = graft.pipeline.CrawlLoop.CrawlConfig(
        outDir = java.nio.file.Files
          .createTempDirectory("graft-x23").toString,
        cycles = 10)
      graft.pipeline.CrawlLoop.run(s, web, seeds, robots, cfg)
      graft.pipeline.CrawlLoop.readDocs(s, cfg)
        .select(col("cycle"), col("url"), col("dedup_url"), col("title"))
        .orderBy(col("cycle"), col("url"))
    }),
    // RFC 9309 robots.txt frontier gate: the fixture frontier (out-links
    // of the synthetic corpus, canonicalized + first-seen-deduped) gated
    // by a per-host rules table for a version-suffixed crawler token —
    // pins group selection (specific group EXCLUDES the deny-all *
    // group), wildcard + longest-match-allow evaluation, and the
    // no-robots-row-passes contract, frozen for the whole frontier
    "x18_robots_frontier" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val pages = sp.createDataset(graft.fixtures.HtmlFixtures.corpus(30))
        .toDF("doc_id", "html")
        .withColumn("url",
          concat(lit("https://fetch.example/seite/"), col("doc_id")))
      val frontier = graft.pipeline.WebPrep.frontier(pages)
      val robots = Seq(
        ("fetch.example",
          "User-Agent: graftbot\nDisallow: /artikel/*\nAllow: /artikel/3\n" +
          "Disallow: /*impressum$\nUser-Agent: *\nDisallow: /\n"))
        .toDF("host", "robots_txt")
      graft.pipeline.WebPrep
        .frontierGated(frontier, robots, userAgent = "graftbot/1.0")
        .orderBy(col("url"))
    }),
    // page-level crawl metadata (title/lang/canonical/description/robots/
    // base; canonical RESOLVED against the fetch URL) + the canonical-
    // priority URL a frontier dedups on: the page's own rel=canonical
    // when declared, else the fetch URL
    "x14_html_meta" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val pages = sp.createDataset(graft.fixtures.HtmlFixtures.corpus(40))
        .toDF("doc_id", "html")
        .withColumn("fetch_url",
          concat(lit("https://fetch.example/"), col("doc_id")))
      graft.html.HtmlExtract.extractPageMeta(pages, pageUrlCol = Some("fetch_url"))
        .join(pages.select(col("doc_id"), col("fetch_url")), Seq("doc_id"))
        .withColumn("dedup_url", graft.ops.Web.canonicalUrl(
          when(col("canonical") =!= "", col("canonical"))
            .otherwise(col("fetch_url"))))
        .drop("fetch_url")
        .orderBy(col("doc_id"))
    }),
    "x08_failed_docs" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val bad = sp.createDataset(Seq(
        DocRow("bad-1", Seq(Span("page", "", "", 0))),
        Fixtures.flagshipDoc))
      StreamingExtract.transformWithStatus(bad.toDF())
        .select("doc_id", "status", "error").orderBy(col("doc_id"))
    }))

  private def extractedWithMedia(s: SparkSession): DataFrame =
    extracted(s, ExtractConfig(fast = false))

  /** Exact all-pairs trigram-Jaccard oracle, shared by q19 (threshold 0.2,
    * the inverted-index exact operator) and q11 (threshold 0.5, the
    * MinHash+verify operator whose candidate recall argument makes its
    * verified output equal the exact pair set).
    */
  private def ngramJaccardOracle(threshold: String): String =
    s"""WITH t AS (
       |  SELECT CAST(doc_id AS BIGINT) AS id,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
       |  FROM documents
       |), s AS (
       |  SELECT id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |    ELSE list_distinct(list_transform(range(1, len(toks) - 1),
       |      i -> array_to_string(toks[i:i+2], ' '))) END AS sh
       |  FROM t
       |), e AS (SELECT id, unnest(sh) AS g FROM s),
       |sz AS (SELECT id, len(sh) AS n FROM s),
       |p AS (
       |  SELECT a.id AS doc_a, b.id AS doc_b, CAST(count(*) AS DOUBLE) AS inter
       |  FROM e a JOIN e b ON a.g = b.g AND a.id < b.id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b,
       |  round(inter / (sa.n + sb.n - inter), 6) AS jaccard
       |FROM p JOIN sz sa ON sa.id = doc_a JOIN sz sb ON sb.id = doc_b
       |WHERE inter / (sa.n + sb.n - inter) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB oracle SQL (dialect: DuckDB) for every SQL-expressible query
    * above; same column names and ordering as the Spark results.
    */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_revenue_by_nation" ->
      """SELECT n_name,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q03_events_window" ->
      """SELECT event_id, user_id, event_type,
        |  row_number() OVER w AS seq,
        |  lag(event_type, 1) OVER w AS prev_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, seq""".stripMargin,
    "q04_customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate < TIMESTAMP '1996-01-01')
        |ORDER BY c_custkey""".stripMargin,
    "q05_median_quantity" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 2) AS median_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q06_top_event_type_per_user" ->
      """SELECT user_id, event_type, n FROM (
        |  SELECT user_id, event_type, count(*) AS n,
        |    row_number() OVER (PARTITION BY user_id ORDER BY count(*) DESC, event_type) AS rn
        |  FROM events GROUP BY user_id, event_type
        |) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q07_exact_dup_groups" ->
      """WITH all_docs AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id AS BIGINT) + 1000000, regexp_replace(text, ' ', '  ', 'g')
        |  FROM documents WHERE CAST(doc_id AS BIGINT) % 10 = 0
        |)
        |SELECT fp, count(*) AS n_docs, min(doc_id) AS keeper FROM (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM all_docs
        |) GROUP BY fp HAVING count(*) > 1 ORDER BY fp""".stripMargin,
    "q08_token_counts" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens,
        |  CAST(length(text) AS BIGINT) AS chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q19_ngram_jaccard_pairs" -> ngramJaccardOracle("0.2"),
    // exact all-pairs trigram Jaccard — the MinHash entry's verified output
    // must coincide with it (recall argument at the q11 query definition)
    "q11_minhash_dup_pairs" -> ngramJaccardOracle("0.5"),
    // exact all-pairs hamming over the recomputed 60-bit md5 SimHash
    "q12_simhash_dup_pairs" ->
      """WITH toks AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents
        |), th AS (
        |  SELECT id, CAST(CASE WHEN md5_number_upper(tok) >= 9223372036854775808
        |    THEN CAST(md5_number_upper(tok) AS HUGEINT) - 18446744073709551616
        |    ELSE CAST(md5_number_upper(tok) AS HUGEINT) END AS BIGINT) AS h
        |  FROM toks
        |), bits AS (
        |  SELECT id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th, (SELECT unnest(range(60)) AS b) bb GROUP BY id, b
        |), sig0 AS (
        |  SELECT id, sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS sig
        |  FROM bits GROUP BY id
        |), sig AS (
        |  SELECT d.id, coalesce(s.sig, 0) AS sig
        |  FROM (SELECT CAST(doc_id AS BIGINT) AS id FROM documents) d
        |  LEFT JOIN sig0 s ON d.id = s.id
        |)
        |SELECT a.id AS doc_a, b.id AS doc_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        |FROM sig a JOIN sig b ON a.id < b.id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // exact brute-force top-k — the IVF pruning must not change the answer
    "q14_ann_ivf_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |  WHERE vec_id >= 5 AND vec_id < 10),
        |s AS (
        |  SELECT q.qid AS query_id, e.vec_id,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])), 6) AS score
        |  FROM embeddings e CROSS JOIN q
        |)
        |SELECT query_id, vec_id, score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn FROM s
        |) WHERE rn <= 10 ORDER BY query_id, score DESC, vec_id""".stripMargin,
    "q15_cosine_neardup_pairs" ->
      """WITH p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |)
        |SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin,
    // recomputed winnowing signature: md5_number_upper k-gram hashes,
    // min per SLIDING 16-window, consecutive dups collapsed —
    // byte-identical to TextAnalysis.winnowSignature
    "q16_winnow_fingerprints" ->
      """WITH n AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    CASE WHEN length(nt) < 8 THEN [nt]
        |      ELSE list_transform(range(1, length(nt) - 8 + 2), i -> substr(nt, i, 8))
        |    END AS grams
        |  FROM n
        |), h AS (
        |  SELECT doc_id, list_transform(grams, g ->
        |    CAST(CASE WHEN md5_number_upper(g) >= 9223372036854775808
        |      THEN CAST(md5_number_upper(g) AS HUGEINT) - 18446744073709551616
        |      ELSE CAST(md5_number_upper(g) AS HUGEINT) END AS BIGINT)) AS hs
        |  FROM g
        |), w AS (
        |  SELECT doc_id, hs, greatest(len(hs) - 16 + 1, 1) AS nwin FROM h
        |), m AS (
        |  SELECT doc_id, list_transform(range(0, nwin),
        |    j -> list_min(hs[j+1 : least(j+16, len(hs))])) AS mins
        |  FROM w
        |), s AS (
        |  SELECT doc_id, list_filter(mins, (x, i) -> i = 1 OR x <> mins[i-1]) AS sig
        |  FROM m
        |)
        |SELECT doc_id, CAST(len(sig) AS BIGINT) AS sig_len,
        |  list_min(sig) AS sig_min, list_max(sig) AS sig_max
        |FROM s ORDER BY doc_id""".stripMargin,
    // the q16 winnow-signature re-derivation, exploded to an inverted
    // index and self-joined — exact shared-fingerprint counts
    "q30_winnow_overlap_pairs" ->
      """WITH n AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    CASE WHEN length(nt) < 8 THEN [nt]
        |      ELSE list_transform(range(1, length(nt) - 8 + 2), i -> substr(nt, i, 8))
        |    END AS grams
        |  FROM n
        |), h AS (
        |  SELECT doc_id, list_transform(grams, g ->
        |    CAST(CASE WHEN md5_number_upper(g) >= 9223372036854775808
        |      THEN CAST(md5_number_upper(g) AS HUGEINT) - 18446744073709551616
        |      ELSE CAST(md5_number_upper(g) AS HUGEINT) END AS BIGINT)) AS hs
        |  FROM g
        |), w AS (
        |  SELECT doc_id, hs, greatest(len(hs) - 16 + 1, 1) AS nwin FROM h
        |), m AS (
        |  SELECT doc_id, list_transform(range(0, nwin),
        |    j -> list_min(hs[j+1 : least(j+16, len(hs))])) AS mins
        |  FROM w
        |), s AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(mins, (x, i) -> i = 1 OR x <> mins[i-1])) AS sig
        |  FROM m
        |), e AS (SELECT doc_id, unnest(sig) AS f FROM s)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |FROM e a JOIN e b ON a.f = b.f AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 10
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q20_dup_clusters" -> ClustersOracle.sql,
    "q09_quality_scores" -> QualityOracle.sql,
    "q10_lang_id" -> LangIdOracle.sql,
    "q21_repetition_metrics" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    CASE WHEN len(toks) > 1
        |      THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        |      ELSE [] END AS grams
        |  FROM t
        |)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  round(CASE WHEN n > 0
        |    THEN CAST(n - len(list_distinct(toks)) AS DOUBLE) / n ELSE 0.0 END, 6)
        |    AS dup_word_ratio,
        |  round(CASE WHEN n > 1
        |    THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
        |    ELSE 0.0 END, 6) AS dup_2gram_ratio
        |FROM g ORDER BY doc_id""".stripMargin,
    // eval/train split + exact n-gram (n=4) overlap on gram STRINGS — the
    // Spark side joins on md5_long(gram) hashes, so equality here also
    // certifies the hash join introduced no collision at verify scale.
    "q22_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(toks) - 2),
        |      i -> array_to_string(toks[i:i+3], ' '))) END AS sh
        |  FROM t
        |), e AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 20 = 0),
        |tr AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 20 <> 0),
        |h AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
        |  FROM tr WHERE g IN (SELECT g FROM e) GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(h.n_overlap, 0) AS n_overlap,
        |  coalesce(h.n_overlap, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
        |LEFT JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin,
    // md5_number_upper == graft md5_long (same first-8-bytes-LE value), so
    // the sampling decision is recomputed exactly: mask to 60 bits, mod
    // 10000, compare to the per-stratum integer threshold.
    "q42_host_summary" ->
      """WITH u AS (
        |  SELECT doc_id, text,
        |    'https://H' || CAST(doc_id % 7 AS VARCHAR) || '.Example:443/pfad/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents
        |), h AS (
        |  SELECT regexp_replace(lower(regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/?#]+)', 1)),
        |      ':[0-9]+$', '') AS host,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM u
        |)
        |SELECT host, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  round(CAST(sum(n_tok) AS DOUBLE) / count(*), 6) AS avg_doc_tokens
        |FROM h GROUP BY host ORDER BY host""".stripMargin,
    // both caps as window prefix cuts over the smallest-doc_id-first
    // order — exactly capPerHost's contract; the salted two-phase
    // implementation must land on this single-window answer
    "q43_host_cap" ->
      """WITH u AS (
        |  SELECT doc_id, text,
        |    'https://H' || CAST(doc_id % 5 AS VARCHAR) || '.Example:443/pfad/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/?#]+)', 1)),
        |      ':[0-9]+$', '') AS host,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM u
        |), r AS (
        |  SELECT doc_id, host, n_tok,
        |    CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id) AS BIGINT) AS host_rank,
        |    CAST(sum(n_tok) OVER (PARTITION BY host ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS host_cum_tokens
        |  FROM h
        |)
        |SELECT doc_id, host, n_tok, host_rank, host_cum_tokens
        |FROM r WHERE host_rank <= 28 AND host_cum_tokens <= 1500
        |ORDER BY doc_id""".stripMargin,
    "q41_url_traps" ->
      """WITH u AS (
        |  SELECT doc_id, 'https://t.example' ||
        |    CASE CAST(doc_id % 11 AS INTEGER)
        |      WHEN 0 THEN repeat('/tief', 25)
        |      WHEN 1 THEN '/a/b' || repeat('/kreis', 4)
        |      WHEN 2 THEN '/seite?q=' || repeat('x', 2100)
        |      WHEN 3 THEN repeat('/ok', 20)
        |      WHEN 4 THEN '/x/y/x/y'
        |      ELSE '/pfad/' || CAST(doc_id AS VARCHAR) END AS url
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, url,
        |    list_filter(string_split(regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)?', 1), '/'),
        |      x -> x <> '') AS segs
        |  FROM u
        |)
        |SELECT doc_id, url,
        |  (length(url) > 2048 OR len(segs) > 20
        |    OR len(segs) - len(list_distinct(segs)) >= 3) AS is_trap
        |FROM s ORDER BY doc_id""".stripMargin,
    "q40_fetch_priority" ->
      """WITH e AS (
        |  SELECT doc_id, 'https://rank.example/p' || CAST(doc_id % 37 AS VARCHAR) AS url FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'https://rank.example/p' || CAST(doc_id % 11 AS VARCHAR) AS url FROM documents
        |), f AS (
        |  SELECT url, CAST(count(*) AS BIGINT) AS in_degree,
        |    min(doc_id) AS first_seen_doc
        |  FROM e GROUP BY url
        |), r AS (
        |  SELECT url, in_degree, first_seen_doc,
        |    'rank.example' AS host, CAST(2.5 AS DOUBLE) AS delay_s,
        |    CAST(row_number() OVER (ORDER BY in_degree DESC, url) AS INTEGER) AS fetch_seq
        |  FROM f
        |)
        |SELECT url, in_degree, first_seen_doc, host, delay_s, fetch_seq,
        |  CAST(fetch_seq - 1 AS DOUBLE) * delay_s AS not_before_s
        |FROM r WHERE fetch_seq <= 30
        |ORDER BY host, fetch_seq""".stripMargin,
    "q38_fetch_schedule" ->
      """WITH f AS (
        |  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example/p' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents
        |), h AS (
        |  SELECT url,
        |    regexp_replace(lower(regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/?#]+)', 1)),
        |      ':[0-9]+$', '') AS host
        |  FROM f
        |), d AS (
        |  SELECT url, host,
        |    CASE host WHEN 'h0.example' THEN 2.5
        |              WHEN 'h1.example' THEN 10.0
        |              ELSE 1.0 END AS delay_s
        |  FROM h
        |), r AS (
        |  SELECT url, host, delay_s,
        |    CAST(row_number() OVER (PARTITION BY host ORDER BY url) AS INTEGER) AS fetch_seq
        |  FROM d
        |)
        |SELECT host, url, delay_s, fetch_seq,
        |  CAST(fetch_seq - 1 AS DOUBLE) * delay_s AS not_before_s
        |FROM r WHERE fetch_seq <= 40
        |ORDER BY host, fetch_seq""".stripMargin,
    "q37_recrawl_stale" ->
      """WITH seeds AS (
        |  SELECT 'https://site' || CAST(doc_id // 10 AS VARCHAR) || '.example/page/' || CAST(doc_id % 10 AS VARCHAR) AS url,
        |    CASE CAST(doc_id % 3 AS INTEGER)
        |      WHEN 0 THEN '2026-03-01T00:00:00Z'
        |      WHEN 1 THEN '2026-01-01T00:00:00Z'
        |      ELSE '' END AS lastmod
        |  FROM documents
        |), f0 AS (
        |  SELECT 'HTTP://Site' || CAST(doc_id // 10 AS VARCHAR) || '.Example:80/page/' || CAST(doc_id % 10 AS VARCHAR) || '?utm_source=x' AS url,
        |    '2026-02-01T00:00:00Z' AS fetch_ts
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT 'https://site' || CAST(doc_id // 10 AS VARCHAR) || '.example/page/' || CAST(doc_id % 10 AS VARCHAR),
        |    '2025-06-01T00:00:00Z'
        |  FROM documents WHERE doc_id % 4 = 0
        |), c1 AS (
        |  SELECT fetch_ts,
        |    lower(regexp_extract(trim(url), '^([a-zA-Z][a-zA-Z0-9+.-]*://)([^/?#]*@)?([^/?#]*)', 1)) ||
        |    regexp_extract(trim(url), '^([a-zA-Z][a-zA-Z0-9+.-]*://)([^/?#]*@)?([^/?#]*)', 2) ||
        |    lower(regexp_extract(trim(url), '^([a-zA-Z][a-zA-Z0-9+.-]*://)([^/?#]*@)?([^/?#]*)', 3)) ||
        |    regexp_replace(trim(url), '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') AS u
        |  FROM f0
        |), c4 AS (
        |  SELECT fetch_ts,
        |    regexp_replace(
        |      regexp_replace(regexp_replace(u, '#.*$', ''), '^http://', 'https://'),
        |      '^(https://(?:[^/?#]*@)?[^/?#:@]+):(80|443)([/?#]|$)', '\1\3') AS u
        |  FROM c1
        |), c5 AS (
        |  SELECT fetch_ts,
        |    regexp_replace(regexp_replace(regexp_replace(u,
        |      '([?&])(utm_[a-zA-Z0-9]+|fbclid|gclid)=[^&#]*&?', '\1', 'g'),
        |      '([?&])(utm_[a-zA-Z0-9]+|fbclid|gclid)=[^&#]*&?', '\1', 'g'),
        |      '([?&])(utm_[a-zA-Z0-9]+|fbclid|gclid)=[^&#]*&?', '\1', 'g') AS u
        |  FROM c4
        |), lastf AS (
        |  SELECT regexp_replace(regexp_replace(u, '[?&]+$', ''), '/$', '') AS url,
        |    max(fetch_ts) AS fetched_ts
        |  FROM c5 GROUP BY 1
        |)
        |SELECT s.url, s.lastmod, l.fetched_ts
        |FROM seeds s JOIN lastf l USING (url)
        |WHERE s.lastmod <> '' AND s.lastmod > l.fetched_ts
        |ORDER BY s.url""".stripMargin,
    "q36_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 6 AS INTEGER)
        |      WHEN 0 THEN 'http://Example' || CAST(doc_id // 6 AS VARCHAR) || '.com/Path/p?utm_source=x&utm_medium=y'
        |      WHEN 1 THEN 'https://example' || CAST(doc_id // 6 AS VARCHAR) || '.com:443/Path/p'
        |      WHEN 2 THEN 'https://example' || CAST(doc_id // 6 AS VARCHAR) || '.com/Path/p#section-2'
        |      WHEN 3 THEN 'HTTPS://EXAMPLE' || CAST(doc_id // 6 AS VARCHAR) || '.com/Path/p/'
        |      WHEN 4 THEN 'https://User:Pw@example' || CAST(doc_id // 6 AS VARCHAR) || '.com:443/Path/p'
        |      ELSE 'https://example' || CAST(doc_id // 6 AS VARCHAR) || '.com/Path/p?id=7' END AS url
        |  FROM documents
        |), c1 AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(trim(url), '^([a-zA-Z][a-zA-Z0-9+.-]*://)([^/?#]*@)?([^/?#]*)', 1)) ||
        |    regexp_extract(trim(url), '^([a-zA-Z][a-zA-Z0-9+.-]*://)([^/?#]*@)?([^/?#]*)', 2) ||
        |    lower(regexp_extract(trim(url), '^([a-zA-Z][a-zA-Z0-9+.-]*://)([^/?#]*@)?([^/?#]*)', 3)) ||
        |    regexp_replace(trim(url), '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') AS u
        |  FROM u
        |), c4 AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(regexp_replace(u, '#.*$', ''), '^http://', 'https://'),
        |      '^(https://(?:[^/?#]*@)?[^/?#:@]+):(80|443)([/?#]|$)', '\1\3') AS u
        |  FROM c1
        |), c5 AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(u,
        |      '([?&])(utm_[a-zA-Z0-9]+|fbclid|gclid)=[^&#]*&?', '\1', 'g'),
        |      '([?&])(utm_[a-zA-Z0-9]+|fbclid|gclid)=[^&#]*&?', '\1', 'g'),
        |      '([?&])(utm_[a-zA-Z0-9]+|fbclid|gclid)=[^&#]*&?', '\1', 'g') AS u
        |  FROM c4
        |), c7 AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(u, '[?&]+$', ''), '/$', '') AS canonical_url
        |  FROM c5
        |)
        |SELECT doc_id, canonical_url,
        |  doc_id = min(doc_id) OVER (PARTITION BY canonical_url) AS keep
        |FROM c7 ORDER BY doc_id""".stripMargin,
    "q35_pack_sequences" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN md5_number_upper(CAST(doc_id AS VARCHAR) || 'pack-v1') >= 9223372036854775808
        |      THEN CAST(md5_number_upper(CAST(doc_id AS VARCHAR) || 'pack-v1') AS HUGEINT) - 18446744073709551616
        |      ELSE CAST(md5_number_upper(CAST(doc_id AS VARCHAR) || 'pack-v1') AS HUGEINT) END AS BIGINT)
        |      & 1152921504606846975 AS pkey,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, pkey, pkey % 4 AS shard, n_tokens FROM k WHERE n_tokens > 0
        |), c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY pkey, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
        |  FROM s
        |)
        |SELECT doc_id, shard, n_tokens,
        |  cum // 512 AS first_seq,
        |  (cum + n_tokens - 1) // 512 AS last_seq,
        |  cum % 512 AS seq_offset
        |FROM c ORDER BY doc_id""".stripMargin,
    // the next-fit state machine replayed sequentially: same hash order
    // as q35, then a per-shard recursive CTE carries (open bin, fill,
    // slot) from row rn to rn+1 — the open-bin state a row leaves behind
    // is (bin+1, 0, 0) after an oversize row and (bin, fill_after,
    // pos+1) otherwise, inlined below as the repeated CASE WHEN
    // r.oversize expressions
    "q55_pack_boundary" ->
      """WITH RECURSIVE k AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN md5_number_upper(CAST(doc_id AS VARCHAR) || 'pack-v1') >= 9223372036854775808
        |      THEN CAST(md5_number_upper(CAST(doc_id AS VARCHAR) || 'pack-v1') AS HUGEINT) - 18446744073709551616
        |      ELSE CAST(md5_number_upper(CAST(doc_id AS VARCHAR) || 'pack-v1') AS HUGEINT) END AS BIGINT)
        |      & 1152921504606846975 AS pkey,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
        |  FROM documents WHERE doc_id IS NOT NULL
        |), t AS (
        |  SELECT doc_id, pkey % 4 AS shard, n_tokens,
        |    row_number() OVER (PARTITION BY pkey % 4 ORDER BY pkey, doc_id) AS rn
        |  FROM k WHERE n_tokens > 0
        |), r AS (
        |  SELECT doc_id, shard, rn, n_tokens,
        |    CAST(0 AS BIGINT) AS bin,
        |    CAST(0 AS INTEGER) AS pos,
        |    n_tokens > 64 AS oversize,
        |    CAST(CASE WHEN n_tokens > 64 THEN 0 ELSE n_tokens END AS BIGINT) AS fill_after
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.doc_id, t.shard, t.rn, t.n_tokens,
        |    CAST(CASE
        |      WHEN t.n_tokens > 64 THEN
        |        (CASE WHEN r.oversize THEN r.bin + 1 ELSE r.bin END)
        |        + (CASE WHEN (CASE WHEN r.oversize THEN 0 ELSE r.fill_after END) > 0 THEN 1 ELSE 0 END)
        |      WHEN (CASE WHEN r.oversize THEN 0 ELSE r.fill_after END) + t.n_tokens > 64 THEN
        |        (CASE WHEN r.oversize THEN r.bin + 1 ELSE r.bin END) + 1
        |      ELSE (CASE WHEN r.oversize THEN r.bin + 1 ELSE r.bin END)
        |    END AS BIGINT) AS bin,
        |    CAST(CASE
        |      WHEN t.n_tokens > 64 OR (CASE WHEN r.oversize THEN 0 ELSE r.fill_after END) + t.n_tokens > 64 THEN 0
        |      ELSE (CASE WHEN r.oversize THEN 0 ELSE r.pos + 1 END)
        |    END AS INTEGER) AS pos,
        |    t.n_tokens > 64 AS oversize,
        |    CAST(CASE
        |      WHEN t.n_tokens > 64 THEN 0
        |      WHEN (CASE WHEN r.oversize THEN 0 ELSE r.fill_after END) + t.n_tokens > 64 THEN t.n_tokens
        |      ELSE (CASE WHEN r.oversize THEN 0 ELSE r.fill_after END) + t.n_tokens
        |    END AS BIGINT) AS fill_after
        |  FROM r JOIN t ON t.shard = r.shard AND t.rn = r.rn + 1
        |)
        |SELECT doc_id, shard, n_tokens, bin, pos, oversize
        |FROM r ORDER BY doc_id""".stripMargin,
    // snapshot delta re-derived with DuckDB's own md5 + a full outer
    // join; min(digest) per key mirrors the smallest-wins keeper, IS NOT
    // DISTINCT FROM mirrors the null-safe <=> compare
    "q54_corpus_delta" ->
      """WITH o0 AS (
        |  SELECT doc_id, md5(text) AS d FROM documents WHERE doc_id % 13 <> 0
        |), n0 AS (
        |  SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS d
        |  FROM documents WHERE doc_id % 11 <> 0
        |), o AS (
        |  SELECT doc_id, min(d) AS old_digest FROM o0 WHERE doc_id IS NOT NULL GROUP BY 1
        |), n AS (
        |  SELECT doc_id, min(d) AS new_digest FROM n0 WHERE doc_id IS NOT NULL GROUP BY 1
        |)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN old_digest IS NOT DISTINCT FROM new_digest THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  old_digest, new_digest
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q23_stratified_sample" ->
      """WITH k AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE WHEN md5_number_upper(CAST(doc_id AS VARCHAR) || 'graft-sample-v1') >= 9223372036854775808
        |      THEN CAST(md5_number_upper(CAST(doc_id AS VARCHAR) || 'graft-sample-v1') AS HUGEINT) - 18446744073709551616
        |      ELSE CAST(md5_number_upper(CAST(doc_id AS VARCHAR) || 'graft-sample-v1') AS HUGEINT) END AS BIGINT) AS h
        |  FROM documents
        |), sk AS (
        |  SELECT doc_id, lang AS stratum,
        |    (h & 1152921504606846975) % 10000 AS sample_key
        |  FROM k
        |)
        |SELECT doc_id, stratum, sample_key FROM sk
        |WHERE sample_key < CASE stratum WHEN 'en' THEN 5000 WHEN 'de' THEN 3000 ELSE 1000 END
        |ORDER BY doc_id""".stripMargin,
    // the replication rule re-derived: same md5 sample key under the
    // epoch salt, whole-part repeats by stratum, one extra copy under
    // the fractional threshold, epochs unrolled with range()
    "q53_replicated_sample" ->
      """WITH k AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE WHEN md5_number_upper(CAST(doc_id AS VARCHAR) || 'graft-epoch-v1') >= 9223372036854775808
        |      THEN CAST(md5_number_upper(CAST(doc_id AS VARCHAR) || 'graft-epoch-v1') AS HUGEINT) - 18446744073709551616
        |      ELSE CAST(md5_number_upper(CAST(doc_id AS VARCHAR) || 'graft-epoch-v1') AS HUGEINT) END AS BIGINT) AS h
        |  FROM documents
        |), sk AS (
        |  SELECT doc_id, lang AS stratum,
        |    (h & 1152921504606846975) % 10000 AS sample_key
        |  FROM k
        |), r AS (
        |  SELECT doc_id, stratum, sample_key,
        |    CASE stratum WHEN 'en' THEN 2 WHEN 'de' THEN 1 ELSE 0 END
        |    + CASE WHEN sample_key <
        |        CASE stratum WHEN 'en' THEN 2500 WHEN 'de' THEN 0 ELSE 4000 END
        |      THEN 1 ELSE 0 END AS repeats
        |  FROM sk
        |)
        |SELECT doc_id, stratum, sample_key,
        |  CAST(unnest(range(repeats)) AS BIGINT) AS epoch
        |FROM r WHERE repeats > 0
        |ORDER BY doc_id, epoch""".stripMargin,
    // NFC via DuckDB's identical built-in, control strip via the same
    // RE2 class; the planted tail is the decomposed/singleton vectors
    // (chr(769)=U+0301 combining acute, chr(8491)=U+212B ANGSTROM SIGN,
    // chr(776)=U+0308 combining diaeresis, chr(7)=BEL, chr(9)=tab)
    "q56_normalize_text" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      nfc_normalize(text || ' cafe' || chr(769) || ' ' || chr(8491)
        |        || 'ngstro' || chr(776) || 'm ' || chr(7) || 'bell'
        |        || chr(9) || 'tab'),
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') AS text_norm
        |  FROM documents
        |)
        |SELECT doc_id, text_norm, length(text_norm) AS n_chars
        |FROM n ORDER BY doc_id""".stripMargin,
    // 80/10/10 carve: same md5_number_upper sample key as q23/q53,
    // interval bounds 8000/9000/10000 in declaration order
    "q57_split_assign" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN md5_number_upper(CAST(doc_id AS VARCHAR) || 'graft-split-v1') >= 9223372036854775808
        |      THEN CAST(md5_number_upper(CAST(doc_id AS VARCHAR) || 'graft-split-v1') AS HUGEINT) - 18446744073709551616
        |      ELSE CAST(md5_number_upper(CAST(doc_id AS VARCHAR) || 'graft-split-v1') AS HUGEINT) END AS BIGINT) AS h
        |  FROM documents
        |), sk AS (
        |  SELECT doc_id, (h & 1152921504606846975) % 10000 AS sample_key
        |  FROM k
        |)
        |SELECT doc_id, sample_key,
        |  CASE WHEN sample_key < 8000 THEN 'train'
        |       WHEN sample_key < 9000 THEN 'validation'
        |       ELSE 'test' END AS split
        |FROM sk ORDER BY doc_id""".stripMargin,
    // exact cross-side jaccard pairs (old = %10<8, new = %10>=8) — the
    // incremental face must find exactly the full run's cross subset
    "q58_incremental_dedup" ->
      """WITH t AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |      i -> array_to_string(toks[i:i+2], ' '))) END AS sh
        |  FROM t
        |), e AS (SELECT id, unnest(sh) AS g FROM s),
        |sz AS (SELECT id, len(sh) AS n FROM s),
        |p AS (
        |  SELECT a.id AS doc_old, b.id AS doc_new, CAST(count(*) AS DOUBLE) AS inter
        |  FROM e a JOIN e b ON a.g = b.g AND a.id % 10 < 8 AND b.id % 10 >= 8
        |  GROUP BY 1, 2
        |)
        |SELECT doc_old, doc_new,
        |  round(inter / (sa.n + sb.n - inter), 6) AS jaccard
        |FROM p JOIN sz sa ON sa.id = doc_old JOIN sz sb ON sb.id = doc_new
        |WHERE inter / (sa.n + sb.n - inter) >= 0.5
        |ORDER BY doc_old, doc_new""".stripMargin,
    // the prefix rule replayed as ONE running-sum window over the
    // re-derived q09 quality/token columns: tokens are non-negative, so
    // the running sum is monotone and `cum <= budget` IS the prefix rule
    "q59_token_budget" ->
      (s"WITH q AS (\n${QualityOracle.sql}\n)" +
        """, r AS (
          |  SELECT doc_id, quality, CAST(n_tokens AS BIGINT) AS n_tokens,
          |    CAST(sum(CAST(n_tokens AS BIGINT)) OVER (
          |      ORDER BY quality DESC, doc_id ASC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS cum_tokens
          |  FROM q
          |)
          |SELECT doc_id, quality, n_tokens, cum_tokens
          |FROM r WHERE cum_tokens <= 12000 ORDER BY doc_id""".stripMargin),
    // exact order statistics re-derived: per-lang histogram over DISTINCT
    // quality values, running count, cutoff = smallest score whose
    // cumulative count reaches ceil(n*k/3) by integer rank arithmetic —
    // never quantile interpolation, so the straddling rows can't diverge
    "q60_score_buckets" ->
      (s"WITH q AS (\n${QualityOracle.sql}\n)" +
        """, b AS (
          |  SELECT d.doc_id, d.lang, q.quality AS score
          |  FROM documents d JOIN q ON d.doc_id = q.doc_id
          |), h AS (SELECT lang, score, count(*) AS cnt FROM b GROUP BY 1, 2),
          |c AS (
          |  SELECT lang, score,
          |    sum(cnt) OVER (PARTITION BY lang ORDER BY score
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          |    sum(cnt) OVER (PARTITION BY lang) AS n
          |  FROM h
          |), k AS (
          |  SELECT lang,
          |    min(CASE WHEN cum >= (n * 1 + 2) // 3 THEN score END) AS c0,
          |    min(CASE WHEN cum >= (n * 2 + 2) // 3 THEN score END) AS c1
          |  FROM c GROUP BY lang
          |)
          |SELECT b.doc_id, b.lang, b.score,
          |  CASE WHEN b.score <= k.c0 THEN 'tail'
          |       WHEN b.score <= k.c1 THEN 'middle'
          |       ELSE 'head' END AS bucket
          |FROM b JOIN k ON b.lang = k.lang
          |ORDER BY doc_id""".stripMargin),
    // q20's clusters + q09's quality both re-derived, keeper picked with
    // one window: quality DESC, id ASC — exactly max-quality-then-min-id
    "q61_cluster_best" ->
      (ClustersOracle.cte +
        s", q AS (\n${QualityOracle.sql}\n)" +
        """, best AS (
          |  SELECT c.cluster, c.doc_id, q.quality,
          |    row_number() OVER (PARTITION BY c.cluster
          |      ORDER BY q.quality DESC, c.doc_id ASC) AS rn
          |  FROM clusters c JOIN q ON c.doc_id = q.doc_id
          |)
          |SELECT cluster, doc_id, quality FROM best WHERE rn = 1
          |ORDER BY cluster""".stripMargin),
    // the whole Lloyd iteration re-derived: quantization, 3 unrolled
    // assign+update rounds (exact integer L2 argmin with (d, c) ties,
    // HUGEINT-safe sums, truncating //, empty clusters keep their
    // centroid) and the final assignment — generated by KmeansOracle
    "q64_kmeans_micro" -> KmeansOracle.sql(k = 8, iters = 3),
    // the iteration prelude again + recomputed sizes, the
    // floor(rate*10000+0.5) thresholds and the shared md5 sample rule
    "q65_cluster_balanced_sample" -> KmeansOracle.balancedSampleSql(
      k = 8, iters = 3, target = 40L, salt = "graft-cluster-sample-v1"),
    // the iteration prelude a third time + the per-cluster
    // (dist, id)-rank window and the n * floor(frac*10000+0.5) // 10000
    // integer drop count
    "q68_prototype_prune" -> KmeansOracle.prototypePruneSql(
      k = 8, iters = 3, dropThresh = 3000L),
    // host re-derived by the q42 regex chain, every label-boundary
    // suffix generated, matches filtered against the literal entry list;
    // suffixes are generated longest-first so ms[1] IS the most specific
    // matching entry, exactly the operator's walk
    "q66_domain_blocklist" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 31 = 30 THEN NULL
        |      ELSE 'https://' || CASE doc_id % 8
        |        WHEN 0 THEN 'ADS.Tracker.NET'
        |        WHEN 1 THEN 'tracker.net'
        |        WHEN 2 THEN 'nottracker.net'
        |        WHEN 3 THEN 'a.b.spam.example'
        |        WHEN 4 THEN 'ok.example'
        |        WHEN 5 THEN 'www.ok.example'
        |        WHEN 6 THEN 'deep.sub.ads.tracker.net.'
        |        ELSE 'spam.example.good.org' END
        |        || '/p/' || CAST(doc_id AS VARCHAR)
        |    END AS url
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, url,
        |    CASE WHEN url IS NULL THEN NULL
        |      ELSE regexp_replace(lower(regexp_extract(url,
        |        '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/?#]+)', 1)),
        |        ':[0-9]+$', '')
        |    END AS host
        |  FROM u
        |), n AS (
        |  SELECT doc_id, url, host,
        |    regexp_replace(host, '\.+$', '') AS probed
        |  FROM h
        |), m AS (
        |  SELECT doc_id, url, host,
        |    list_filter(
        |      list_transform(range(1, len(string_split(probed, '.')) + 1),
        |        i -> array_to_string(string_split(probed, '.')[i:], '.')),
        |      s -> list_contains(
        |        ['tracker.net', 'spam.example', 'malware.test'], s)) AS ms
        |  FROM n
        |)
        |SELECT doc_id, url, host,
        |  CASE WHEN ms IS NULL OR len(ms) = 0 THEN NULL ELSE ms[1] END
        |    AS blocked_by,
        |  coalesce(len(ms) > 0, false) AS blocked
        |FROM m ORDER BY doc_id""".stripMargin,
    // the four allocation stages re-derived as one CTE chain: hosts are
    // exactly 'h{m}.example' (two labels) and the only entry is
    // 'h3.example', so the generic label-suffix rule reduces to host
    // equality (no entry can be a proper suffix of another planted
    // host); then q43's prefix-cut windows, q59's quality running sum
    // (quality computed for ALL docs — it's row-local — and joined to
    // the survivors), and q57's md5 split rule with 8000/9000 pinned-
    // last thresholds
    "q71_allocation_pipeline" ->
      (s"WITH q AS (\n${QualityOracle.sql}\n)" +
        """, u AS (
          |  SELECT doc_id, text,
          |    'h' || CAST(doc_id % 5 AS VARCHAR) || '.example' AS host
          |  FROM documents
          |), b AS (
          |  SELECT doc_id, text, host,
          |    CAST(len(list_filter(string_split_regex(text, '\s+'),
          |      x -> x <> '')) AS BIGINT) AS n_tok
          |  FROM u WHERE host <> 'h3.example'
          |), c AS (
          |  SELECT doc_id FROM (
          |    SELECT doc_id,
          |      row_number() OVER (PARTITION BY host ORDER BY doc_id) AS r,
          |      sum(n_tok) OVER (PARTITION BY host ORDER BY doc_id
          |        ROWS UNBOUNDED PRECEDING) AS cum
          |    FROM b)
          |  WHERE r <= 60 AND cum <= 2500
          |), r AS (
          |  SELECT q.doc_id, q.quality,
          |    CAST(q.n_tokens AS BIGINT) AS n_tokens,
          |    CAST(sum(CAST(q.n_tokens AS BIGINT)) OVER (
          |      ORDER BY q.quality DESC, q.doc_id ASC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS BIGINT) AS cum_tokens
          |  FROM q JOIN c ON c.doc_id = q.doc_id
          |), t AS (
          |  SELECT * FROM r WHERE cum_tokens <= 5000
          |), sk AS (
          |  SELECT doc_id, quality, n_tokens, cum_tokens,
          |    (CAST(CASE WHEN md5_number_upper(CAST(doc_id AS VARCHAR) || 'graft-alloc-v1') >= 9223372036854775808
          |      THEN CAST(md5_number_upper(CAST(doc_id AS VARCHAR) || 'graft-alloc-v1') AS HUGEINT) - 18446744073709551616
          |      ELSE CAST(md5_number_upper(CAST(doc_id AS VARCHAR) || 'graft-alloc-v1') AS HUGEINT) END AS BIGINT)
          |     & 1152921504606846975) % 10000 AS sample_key
          |  FROM t
          |)
          |SELECT doc_id, quality, n_tokens, cum_tokens, sample_key,
          |  CASE WHEN sample_key < 8000 THEN 'train'
          |       WHEN sample_key < 9000 THEN 'validation'
          |       ELSE 'test' END AS split
          |FROM sk ORDER BY doc_id""".stripMargin),
    // the X-Robots-Tag grammar re-derived structurally: explode header
    // lines, then indexed segments; a segment's scope = the last
    // non-null ua-prefix at or before it IN ITS LINE (last_value IGNORE
    // NULLS window — scope extends rightward, resets per line), with
    // unavailable_after excluded from scopehood; tokens kept when
    // global or ccbot-scoped; meta tokens by the [,\s]+ rule; `none`
    // shorthand, tdm trim rule and the reserved-qualified policy url
    "q69_opt_out" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE doc_id % 10
        |      WHEN 0 THEN 'noai, noimageai'
        |      WHEN 1 THEN 'googlebot: noindex, nofollow' || chr(10) || 'noai'
        |      WHEN 2 THEN 'CCBot: noai'
        |      WHEN 3 THEN 'noarchive, ccbot: noindex'
        |      WHEN 4 THEN 'max-image-preview: none, unavailable_after: 25 Jun 2026 15:00:00 PST, noai'
        |    END AS x_robots_tag,
        |    CASE doc_id % 10 WHEN 5 THEN 'none' WHEN 6 THEN 'NOAI, nofollow'
        |    END AS robots,
        |    CASE doc_id % 10 WHEN 7 THEN ' 1 ' WHEN 8 THEN '0'
        |    END AS tdm_reservation,
        |    CASE doc_id % 10 WHEN 7 THEN 'https://example.com/tdmpolicy.json'
        |    END AS tdm_policy
        |  FROM documents
        |), lx AS (
        |  SELECT doc_id, u.i AS li, u.v AS ln FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(
        |        range(1, len(string_split(x_robots_tag, chr(10))) + 1),
        |        i -> {'i': i, 'v': string_split(x_robots_tag, chr(10))[i]})) AS u
        |    FROM f WHERE x_robots_tag IS NOT NULL)
        |), sx AS (
        |  SELECT doc_id, li, u.i AS si, trim(u.v) AS seg FROM (
        |    SELECT doc_id, li,
        |      unnest(list_transform(range(1, len(string_split(ln, ',')) + 1),
        |        i -> {'i': i, 'v': string_split(ln, ',')[i]})) AS u
        |    FROM lx)
        |), px AS (
        |  SELECT doc_id, li, si,
        |    CASE WHEN regexp_matches(seg, '^[A-Za-z0-9_.*-]+\s*:')
        |          AND lower(regexp_extract(seg, '^([A-Za-z0-9_.*-]+)\s*:', 1))
        |            NOT IN ('unavailable_after', 'max-snippet',
        |              'max-image-preview', 'max-video-preview')
        |         THEN lower(regexp_extract(seg, '^([A-Za-z0-9_.*-]+)\s*:', 1))
        |    END AS pfx,
        |    lower(trim(CASE WHEN regexp_matches(seg, '^[A-Za-z0-9_.*-]+\s*:')
        |          AND lower(regexp_extract(seg, '^([A-Za-z0-9_.*-]+)\s*:', 1))
        |            NOT IN ('unavailable_after', 'max-snippet',
        |              'max-image-preview', 'max-video-preview')
        |         THEN regexp_replace(seg, '^[A-Za-z0-9_.*-]+\s*:\s*', '')
        |         ELSE seg END)) AS tok
        |  FROM sx
        |), scoped AS (
        |  SELECT doc_id, tok,
        |    last_value(pfx IGNORE NULLS) OVER (PARTITION BY doc_id, li
        |      ORDER BY si ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS scope
        |  FROM px
        |), agg AS (
        |  SELECT doc_id, list(DISTINCT tok) AS hts FROM scoped
        |  WHERE tok <> '' AND (scope IS NULL OR scope = 'ccbot')
        |  GROUP BY doc_id
        |), j AS (
        |  SELECT f.*, coalesce(agg.hts, []) AS ht,
        |    string_split_regex(lower(coalesce(f.robots, '')), '[,\s]+') AS mt,
        |    trim(coalesce(f.tdm_reservation, '')) = '1' AS rsv
        |  FROM f LEFT JOIN agg ON agg.doc_id = f.doc_id
        |)
        |SELECT doc_id, x_robots_tag, robots, tdm_reservation, tdm_policy,
        |  (list_contains(ht, 'noindex') OR list_contains(mt, 'noindex')
        |    OR list_contains(ht, 'none') OR list_contains(mt, 'none')) AS noindex,
        |  (list_contains(ht, 'nofollow') OR list_contains(mt, 'nofollow')
        |    OR list_contains(ht, 'none') OR list_contains(mt, 'none')) AS nofollow,
        |  (list_contains(ht, 'noarchive') OR list_contains(mt, 'noarchive')) AS noarchive,
        |  (list_contains(ht, 'noai') OR list_contains(mt, 'noai')) AS noai,
        |  (list_contains(ht, 'noimageai') OR list_contains(mt, 'noimageai')) AS noimageai,
        |  rsv AS tdm_reserved,
        |  CASE WHEN rsv AND trim(coalesce(tdm_policy, '')) <> ''
        |    THEN trim(tdm_policy) END AS tdm_policy_url,
        |  NOT (list_contains(ht, 'noai') OR list_contains(mt, 'noai') OR rsv)
        |    AS train_ok
        |FROM j ORDER BY doc_id""".stripMargin,
    // tokens by the shared \s+ rule, starts = multiples of the stride
    // kept while the PREDECESSOR window hasn't reached the end, window
    // text re-joined with single spaces; chunk_id = start // stride
    // because starts are exactly the stride multiples
    "q67_chunk_tokens" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    list_filter(range(0, greatest(len(toks), 1), 8),
        |      st -> len(toks) > 0 AND (st = 0 OR st + 4 < len(toks))) AS starts
        |  FROM t
        |), e AS (
        |  SELECT doc_id, toks, n, unnest(starts) AS st FROM s
        |)
        |SELECT doc_id,
        |  CAST(st // 8 AS INT) AS chunk_id,
        |  CAST(st AS INT) AS start_tok,
        |  CAST(least(n - st, 12) AS BIGINT) AS n_tok,
        |  array_to_string(toks[st + 1 : st + 12], ' ') AS chunk
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin,
    // every C4 rule re-derived: the line predicate (terminal punct after
    // rtrim, >=5 words, no javascript/policy phrase), the regex sentence
    // count over the CLEANED text, and the page rules over the ORIGINAL
    "q62_c4_filter" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || '.'
        |      || chr(10) || 'Too short line.'
        |      || chr(10) || 'This line mentions javascript so it must go.'
        |      || chr(10) || 'This site uses cookies to improve your experience.'
        |      || chr(10) || 'This line has no terminal punctuation'
        |      || chr(10) || 'Here is another perfectly fine sentence for the counter.'
        |      || chr(10) || 'This one counts twice. Because it has two sentences!'
        |      || CASE WHEN doc_id % 2 = 0
        |           THEN chr(10) || 'Extra even sentence to vary the count.'
        |           ELSE '' END
        |      || CASE WHEN doc_id % 5 = 0
        |           THEN chr(10) || 'Lorem Ipsum dolor sit amet.'
        |           ELSE '' END
        |      || CASE WHEN doc_id % 7 = 0
        |           THEN chr(10) || 'code { block }'
        |           ELSE '' END AS text
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, text, string_split(text, chr(10)) AS ls
        |  FROM p
        |), k AS (
        |  SELECT doc_id, text,
        |    list_filter(ls, l ->
        |      regexp_matches(rtrim(l), '[.!?]["'']?$')
        |      AND len(list_filter(string_split_regex(trim(l), '\s+'),
        |            w -> w <> '')) >= 5
        |      AND NOT contains(lower(l), 'javascript')
        |      AND NOT contains(lower(l), 'terms of use')
        |      AND NOT contains(lower(l), 'privacy policy')
        |      AND NOT contains(lower(l), 'cookie policy')
        |      AND NOT contains(lower(l), 'uses cookies')
        |      AND NOT contains(lower(l), 'use of cookies')
        |      AND NOT contains(lower(l), 'use cookies')) AS kl
        |  FROM t
        |), s AS (
        |  SELECT doc_id, text,
        |    coalesce(array_to_string(kl, chr(10)), '') AS text_clean,
        |    CAST(len(kl) AS BIGINT) AS lines_kept,
        |    CAST(len(regexp_extract_all(
        |      coalesce(array_to_string(kl, chr(10)), '') || chr(10),
        |      '[.!?]["'']?[ \t\n]')) AS BIGINT) AS n_sentences
        |  FROM k
        |)
        |SELECT doc_id, text_clean, lines_kept, n_sentences,
        |  (NOT contains(lower(text), 'lorem ipsum')
        |   AND NOT contains(text, '{')
        |   AND n_sentences >= 3) AS kept
        |FROM s ORDER BY doc_id""".stripMargin,
    // full DSIR re-derivation: md5 hash buckets, both add-one-smoothed
    // gram histograms, the floor(x*1e6 + 0.5) micro-log quantization and
    // the per-doc INTEGER sum — exact at every step, so the float ln is
    // the only cross-engine op and it never meets a reduction order
    "q63_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
        |      x -> x <> '') AS toks
        |  FROM documents
        |), gr AS (
        |  SELECT doc_id, toks || CASE WHEN len(toks) >= 2
        |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        |    ELSE [] END AS grams
        |  FROM tok
        |), g AS (SELECT doc_id, unnest(grams) AS g FROM gr),
        |h AS (
        |  SELECT doc_id,
        |    ((CAST(CASE WHEN md5_number_upper(g) >= 9223372036854775808
        |      THEN CAST(md5_number_upper(g) AS HUGEINT) - 18446744073709551616
        |      ELSE CAST(md5_number_upper(g) AS HUGEINT) END AS BIGINT)
        |      % 4096) + 4096) % 4096 AS b
        |  FROM g
        |), tc AS (SELECT b, count(*) AS c FROM h WHERE doc_id % 7 = 0 GROUP BY b),
        |rc AS (SELECT b, count(*) AS c FROM h WHERE doc_id % 7 <> 0 GROUP BY b),
        |tot AS (SELECT
        |  (SELECT count(*) FROM h WHERE doc_id % 7 = 0) AS tt,
        |  (SELECT count(*) FROM h WHERE doc_id % 7 <> 0) AS rt),
        |lq AS (
        |  SELECT bb.b,
        |    CAST(floor((ln((coalesce(tc.c, 0) + 1.0) / (tot.tt + 4096))
        |      - ln((coalesce(rc.c, 0) + 1.0) / (tot.rt + 4096))) * 1000000.0
        |      + 0.5) AS BIGINT) AS lq
        |  FROM (SELECT DISTINCT b FROM h) bb
        |  LEFT JOIN tc ON tc.b = bb.b LEFT JOIN rc ON rc.b = bb.b, tot
        |), sc AS (
        |  SELECT h.doc_id, CAST(sum(lq.lq) AS BIGINT) AS score_micro
        |  FROM h JOIN lq ON lq.b = h.b
        |  WHERE h.doc_id % 7 <> 0
        |  GROUP BY h.doc_id
        |)
        |SELECT d.doc_id AS doc_id, coalesce(sc.score_micro, 0) AS score_micro,
        |  coalesce(sc.score_micro, 0) / 1000000.0 AS logw
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) d
        |LEFT JOIN sc ON sc.doc_id = d.doc_id
        |ORDER BY doc_id""".stripMargin,
    // exact re-derivation of every Gopher rule input (token counts from
    // raw text, dup ratios from lowercased tokens, the all-language stop
    // list) — identical double arithmetic, so the booleans must agree.
    "q24_quality_filter" -> GopherOracle.sql,
    // the planted boilerplate (and nothing else) must come back out:
    // the stripped table equals the original documents table
    "q28_boilerplate_strip" ->
      "SELECT doc_id, text FROM documents ORDER BY doc_id",
    // keep-first paragraph dedup re-derived with a window over the raw
    // paragraph text: rank occurrences of each >=10-char line by
    // (doc_id, position), keep rank 1; short lines keep unconditionally;
    // docs reassemble in position order
    "q39_paragraph_dedup" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    text || chr(10) || 'GEMEINSAMER ABSATZ UEBER DIE MINDESTLAENGE HINAUS'
        |      || CASE WHEN doc_id % 4 = 0
        |           THEN chr(10) || 'ZWEITER GETEILTER ABSATZ JEDES VIERTEN DOKUMENTS'
        |           ELSE '' END
        |      || chr(10) || '--' AS text
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM src
        |), l AS (
        |  SELECT doc_id, i AS pos, ls[i] AS line
        |  FROM t, UNNEST(range(1, len(ls) + 1)) AS u(i)
        |), k AS (
        |  SELECT doc_id, pos, line FROM (
        |    SELECT doc_id, pos, line,
        |      CASE WHEN length(line) >= 10
        |        THEN ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos)
        |        ELSE 1 END AS rn
        |    FROM l) WHERE rn = 1
        |)
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q39's keeper window PARTITIONED BY THE 8-BYTE HASH the AtScale
    // path actually shuffles on: md5_number_upper == graft md5_long
    // (first 8 md5 bytes, little-endian, signed), so the hashed keeper
    // decision is recomputed exactly — not approximated via the string
    "q44_paragraph_dedup_hashed" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    text || chr(10) || 'GEMEINSAMER ABSATZ UEBER DIE MINDESTLAENGE HINAUS'
        |      || CASE WHEN doc_id % 4 = 0
        |           THEN chr(10) || 'ZWEITER GETEILTER ABSATZ JEDES VIERTEN DOKUMENTS'
        |           ELSE '' END
        |      || chr(10) || '--' AS text
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM src
        |), l AS (
        |  SELECT doc_id, i AS pos, ls[i] AS line
        |  FROM t, UNNEST(range(1, len(ls) + 1)) AS u(i)
        |), k AS (
        |  SELECT doc_id, pos, line FROM (
        |    SELECT doc_id, pos, line,
        |      CASE WHEN length(line) >= 10
        |        THEN ROW_NUMBER() OVER (PARTITION BY
        |          CAST(CASE WHEN md5_number_upper(line) >= 9223372036854775808
        |            THEN CAST(md5_number_upper(line) AS HUGEINT) - 18446744073709551616
        |            ELSE CAST(md5_number_upper(line) AS HUGEINT) END AS BIGINT)
        |          ORDER BY doc_id, pos)
        |        ELSE 1 END AS rn
        |    FROM l) WHERE rn = 1
        |)
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the doubling walk re-derived as a RECURSIVE CTE capped at the
    // same hop budget: per source, the row at max(hops) is where the
    // walk stands after <=4 hops — resolved iff that node has no
    // outgoing edge in the functionalized (min-dst) map. Cycles and
    // self-loops simply never leave the map, so they fall out
    // unresolved on both sides without any cycle bookkeeping
    "q45_redirect_chains" ->
      """WITH RECURSIVE base AS (
        |  SELECT CAST(doc_id % 10 AS BIGINT) AS i,
        |    CAST(doc_id // 10 AS VARCHAR) AS g,
        |    CAST((doc_id // 10) % 5 AS BIGINT) AS g5
        |  FROM documents
        |), raw AS (
        |  SELECT
        |    'https://r.example/g' || g || '/n' ||
        |      CASE WHEN i <= 6 THEN CAST(i AS VARCHAR)
        |           WHEN i = 7 AND g5 IN (0, 1) THEN '8'
        |           WHEN i = 7 THEN '0'
        |           WHEN i = 8 AND g5 = 0 THEN '9'
        |           WHEN i = 8 THEN '3'
        |           ELSE '0' END AS src,
        |    'https://r.example/g' || g || '/n' ||
        |      CASE WHEN i <= 6 THEN CAST(i + 1 AS VARCHAR)
        |           WHEN i = 7 AND g5 = 0 THEN '9'
        |           WHEN i = 7 AND g5 = 1 THEN '8'
        |           WHEN i = 7 THEN '5'
        |           WHEN i = 8 AND g5 = 0 THEN '8'
        |           WHEN i = 8 THEN '4'
        |           ELSE '1' END AS dst
        |  FROM base
        |), fm AS (SELECT src AS u, min(dst) AS v FROM raw
        |          WHERE src <> dst GROUP BY 1
        |), walk AS (
        |  SELECT u AS start, v AS cur, CAST(1 AS BIGINT) AS hops FROM fm
        |  UNION ALL
        |  SELECT w.start, f.v, w.hops + 1 FROM walk w
        |  JOIN fm f ON w.cur = f.u WHERE w.hops < 4
        |), lst AS (
        |  SELECT start, arg_max(cur, hops) AS cur, max(hops) AS hops
        |  FROM walk GROUP BY 1
        |)
        |SELECT l.start AS url,
        |  CASE WHEN t.u IS NULL THEN l.cur END AS final_url,
        |  CASE WHEN t.u IS NULL THEN l.hops END AS hops,
        |  (t.u IS NULL) AS resolved
        |FROM lst l LEFT JOIN fm t ON l.cur = t.u
        |ORDER BY url""".stripMargin,
    // per-(url,anchor) counts, per-url roll-up, top pick by
    // (count desc, anchor asc) as a window — the canonical target form
    // is stated directly (both planted spellings collapse to it; the
    // canonical chain itself is q36's gate)
    "q46_anchor_agg" ->
      """WITH e AS (
        |  SELECT 'https://anchor.example/p' || CAST(doc_id % 7 AS VARCHAR) AS url,
        |    CASE WHEN doc_id % 5 < 2 THEN 'click here'
        |         WHEN doc_id % 5 = 2 THEN 'mehr lesen'
        |         WHEN doc_id % 5 = 3 THEN ''
        |         ELSE 'Seite ' || CAST(doc_id % 7 AS VARCHAR) END AS anchor
        |  FROM documents
        |), pa AS (
        |  SELECT url, anchor, count(*) AS cnt FROM e GROUP BY 1, 2
        |), r AS (
        |  SELECT url, anchor, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY url ORDER BY cnt DESC, anchor ASC) AS rn,
        |    SUM(cnt) OVER (PARTITION BY url) AS inl,
        |    COUNT(*) OVER (PARTITION BY url) AS da
        |  FROM pa
        |)
        |SELECT url, CAST(inl AS BIGINT) AS in_links,
        |  CAST(da AS BIGINT) AS distinct_anchors,
        |  anchor AS top_anchor, CAST(cnt AS BIGINT) AS top_anchor_count
        |FROM r WHERE rn = 1 ORDER BY url""".stripMargin,
    // the PageRank recurrence unrolled three times: contributions per
    // edge from the previous ranks over outdegree, dangling mass as a
    // scalar CTE cross-joined back, teleport + damping exactly as the
    // operator computes them; 6dp rounding on both sides (double-sum
    // order differences sit ~1e-15, ten orders below the round)
    "q47_pagerank" ->
      """WITH e0 AS (
        |  SELECT 'https://pr.example/p' || CAST(doc_id % 13 AS VARCHAR) AS src,
        |    'https://pr.example/p' || CAST(doc_id % 5 AS VARCHAR) AS dst
        |  FROM documents
        |  UNION ALL
        |  SELECT 'https://pr.example/p' || CAST(doc_id % 5 AS VARCHAR),
        |    'https://pr.example/q' || CAST(doc_id % 3 AS VARCHAR)
        |  FROM documents WHERE doc_id % 2 = 0
        |), e AS (SELECT DISTINCT src, dst FROM e0
        |), nodes AS (SELECT src AS u FROM e UNION SELECT dst FROM e
        |), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
        |), od AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY 1
        |), r0 AS (SELECT u, 1.0 / nn.n AS pr FROM nodes, nn
        |), c1 AS (
        |  SELECT e.dst AS u, sum(r.pr / od.deg) AS m FROM e
        |  JOIN r0 r ON e.src = r.u JOIN od ON e.src = od.src GROUP BY 1
        |), d1 AS (
        |  SELECT coalesce(sum(r.pr), 0) AS dm FROM r0 r
        |  LEFT JOIN od ON r.u = od.src WHERE od.src IS NULL
        |), r1 AS (
        |  SELECT nodes.u, (1.0 - 0.85) / nn.n +
        |    0.85 * (coalesce(c1.m, 0) + d1.dm / nn.n) AS pr
        |  FROM nodes CROSS JOIN nn CROSS JOIN d1
        |  LEFT JOIN c1 ON nodes.u = c1.u
        |), c2 AS (
        |  SELECT e.dst AS u, sum(r.pr / od.deg) AS m FROM e
        |  JOIN r1 r ON e.src = r.u JOIN od ON e.src = od.src GROUP BY 1
        |), d2 AS (
        |  SELECT coalesce(sum(r.pr), 0) AS dm FROM r1 r
        |  LEFT JOIN od ON r.u = od.src WHERE od.src IS NULL
        |), r2 AS (
        |  SELECT nodes.u, (1.0 - 0.85) / nn.n +
        |    0.85 * (coalesce(c2.m, 0) + d2.dm / nn.n) AS pr
        |  FROM nodes CROSS JOIN nn CROSS JOIN d2
        |  LEFT JOIN c2 ON nodes.u = c2.u
        |), c3 AS (
        |  SELECT e.dst AS u, sum(r.pr / od.deg) AS m FROM e
        |  JOIN r2 r ON e.src = r.u JOIN od ON e.src = od.src GROUP BY 1
        |), d3 AS (
        |  SELECT coalesce(sum(r.pr), 0) AS dm FROM r2 r
        |  LEFT JOIN od ON r.u = od.src WHERE od.src IS NULL
        |), r3 AS (
        |  SELECT nodes.u, (1.0 - 0.85) / nn.n +
        |    0.85 * (coalesce(c3.m, 0) + d3.dm / nn.n) AS pr
        |  FROM nodes CROSS JOIN nn CROSS JOIN d3
        |  LEFT JOIN c3 ON nodes.u = c3.u
        |)
        |SELECT u AS url, round(pr, 6) AS rank FROM r3 ORDER BY url""".stripMargin,
    // the Bloom prefilter must not change the answer: the unseen set is
    // exactly the %3==0 share (the fetched variants canonicalize onto
    // the frontier spelling), stated directly
    "q48_frontier_bloom" ->
      """SELECT 'https://b.example/p' || CAST(doc_id AS VARCHAR) AS url
        |FROM documents WHERE doc_id % 3 = 0 ORDER BY url""".stripMargin,
    // the host chain (q42's regex, verbatim) over both endpoints, then
    // the same '' / same-host filters and the distinct
    "q50_host_graph" ->
      """WITH e AS (
        |  SELECT
        |    CASE WHEN doc_id % 11 = 0 THEN 'kein url'
        |         WHEN doc_id % 2 = 0 THEN 'HTTPS://H' || CAST(doc_id % 7 AS VARCHAR)
        |           || '.Example:443/p' || CAST(doc_id AS VARCHAR)
        |         ELSE 'https://h' || CAST(doc_id % 7 AS VARCHAR)
        |           || '.example/p' || CAST(doc_id AS VARCHAR) END AS src,
        |    'https://h' || CAST(doc_id % 3 AS VARCHAR)
        |      || '.example/q' || CAST(doc_id AS VARCHAR) AS dst
        |  FROM documents
        |), h AS (
        |  SELECT regexp_replace(lower(regexp_extract(src,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/?#]+)', 1)),
        |      ':[0-9]+$', '') AS src_host,
        |    regexp_replace(lower(regexp_extract(dst,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/?#]+)', 1)),
        |      ':[0-9]+$', '') AS dst_host
        |  FROM e
        |)
        |SELECT DISTINCT src_host, dst_host FROM h
        |WHERE src_host <> '' AND dst_host <> '' AND src_host <> dst_host
        |ORDER BY src_host, dst_host""".stripMargin,
    // the id->host joins, the least/greatest pair normalization, the
    // cross-host filter, the count and the threshold
    "q51_mirror_hosts" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id < 250 THEN 'ma' || CAST(doc_id % 5 AS VARCHAR)
        |         ELSE 'mb' || CAST((doc_id - 250) % 4 AS VARCHAR) END
        |      || '.example' AS host
        |  FROM documents
        |), base AS (
        |  SELECT doc_id FROM documents WHERE doc_id < 250 AND doc_id % 7 < 3
        |), pairs AS (
        |  SELECT doc_id AS a, doc_id + 250 AS b FROM base WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id + 250 AS a, doc_id AS b FROM base WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id AS a, doc_id + 5 AS b FROM documents
        |  WHERE doc_id % 50 = 0 AND doc_id < 245
        |), j AS (
        |  SELECT least(da.host, db.host) AS host_a,
        |    greatest(da.host, db.host) AS host_b
        |  FROM pairs
        |  JOIN docs da ON pairs.a = da.doc_id
        |  JOIN docs db ON pairs.b = db.doc_id
        |  WHERE da.host <> db.host
        |)
        |SELECT host_a, host_b, CAST(count(*) AS BIGINT) AS shared_docs
        |FROM j GROUP BY 1, 2 HAVING count(*) >= 6
        |ORDER BY host_a, host_b""".stripMargin,
    // the composed mirror-group walk: the q51 joins/threshold re-derived
    // (minus the same-host branch), then connected components as a
    // recursive min-label fixpoint over the kept host pairs
    "q52_mirror_groups" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id < 250 THEN 'ma' || CAST(doc_id % 5 AS VARCHAR)
        |         ELSE 'mb' || CAST((doc_id - 250) % 4 AS VARCHAR) END
        |      || '.example' AS host
        |  FROM documents
        |), base AS (
        |  SELECT doc_id FROM documents WHERE doc_id < 250 AND doc_id % 7 < 3
        |), pairs AS (
        |  SELECT doc_id AS a, doc_id + 250 AS b FROM base WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id + 250 AS a, doc_id AS b FROM base WHERE doc_id % 2 = 1
        |), j AS (
        |  SELECT least(da.host, db.host) AS host_a,
        |    greatest(da.host, db.host) AS host_b
        |  FROM pairs
        |  JOIN docs da ON pairs.a = da.doc_id
        |  JOIN docs db ON pairs.b = db.doc_id
        |  WHERE da.host <> db.host
        |), kept AS (
        |  SELECT host_a, host_b FROM j GROUP BY 1, 2 HAVING count(*) >= 6
        |), edges AS (
        |  SELECT host_a AS src, host_b AS dst FROM kept
        |  UNION SELECT host_b, host_a FROM kept
        |), walk(id, lbl) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, w.lbl FROM edges e JOIN walk w ON e.dst = w.id
        |)
        |SELECT id AS host, min(lbl) AS mirror_group FROM walk
        |GROUP BY id ORDER BY host""".stripMargin,
    // the lag window, the smoothed Poisson estimator and both clamps,
    // term for term: lambda = -ln((n-X+0.5)/(n+0.5)) * n / int_sum,
    // interval = clamp(floor(1/lambda)) with the never-changed /
    // single-capture slow lane and the zero-span fast lane ahead of it
    "q49_recrawl_schedule" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(doc_id // 4 AS BIGINT) AS u,
        |    CAST(doc_id % 4 AS BIGINT) AS i,
        |    CAST((doc_id // 4) % 4 AS BIGINT) AS c
        |  FROM documents
        |), lg AS (
        |  SELECT 'https://re.example/u' || CAST(u AS VARCHAR) AS url,
        |    1760000000 + i * (3600 + (u % 7) * 600) AS ts,
        |    CASE WHEN c = 0 THEN 'd' || CAST(doc_id AS VARCHAR)
        |         WHEN c = 1 THEN 'same'
        |         WHEN c = 2 THEN (CASE WHEN i < 2 THEN 'a' ELSE 'b' END)
        |         ELSE 'solo' END AS digest
        |  FROM base WHERE NOT (c = 3 AND i > 0)
        |), lagged AS (
        |  SELECT url, ts, digest,
        |    lag(ts) OVER (PARTITION BY url ORDER BY ts, digest) AS prev_ts,
        |    lag(digest) OVER (PARTITION BY url ORDER BY ts, digest) AS prev_digest
        |  FROM lg
        |), agg AS (
        |  SELECT url, count(*) AS n_captures,
        |    max(ts) AS last_ts,
        |    CAST(sum(CASE WHEN prev_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_int,
        |    CAST(sum(CASE WHEN prev_ts IS NOT NULL
        |      AND digest IS DISTINCT FROM prev_digest THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
        |    CAST(sum(CASE WHEN prev_ts IS NOT NULL THEN ts - prev_ts END) AS BIGINT) AS int_sum
        |  FROM lagged GROUP BY url
        |), est AS (
        |  SELECT url, n_captures, n_changes, n_int, int_sum, last_ts,
        |    -ln((n_int - n_changes + 0.5) / (n_int + 0.5))
        |      * CAST(n_int AS DOUBLE) / CAST(int_sum AS DOUBLE) AS lambda
        |  FROM agg
        |)
        |SELECT url, n_captures, n_changes,
        |  CASE WHEN n_int = 0 OR int_sum = 0 THEN NULL
        |       WHEN n_changes = 0 THEN 0.0
        |       ELSE round(lambda * 86400.0, 6) END AS change_rate_per_day,
        |  CASE WHEN n_int = 0 OR n_changes = 0 THEN 2592000
        |       WHEN int_sum = 0 THEN 3600
        |       ELSE greatest(3600, least(2592000,
        |         CAST(floor(1.0 / lambda) AS BIGINT))) END AS next_interval_s,
        |  last_ts + (CASE WHEN n_int = 0 OR n_changes = 0 THEN 2592000
        |       WHEN int_sum = 0 THEN 3600
        |       ELSE greatest(3600, least(2592000,
        |         CAST(floor(1.0 / lambda) AS BIGINT))) END) AS next_fetch_epoch
        |FROM est ORDER BY url""".stripMargin,
    // exact integer sums + one final division — order-independent, so
    // Spark partial aggregation and DuckDB agree bit for bit
    "q29_corpus_summary" ->
      """WITH t AS (
        |  SELECT lang AS stratum,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tok,
        |    CAST(length(text) AS BIGINT) AS n_char,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |      - len(list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''))) AS BIGINT) AS n_dup
        |  FROM documents
        |)
        |SELECT stratum, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_char) AS BIGINT) AS total_chars,
        |  round(CAST(sum(n_tok) AS DOUBLE) / count(*), 6) AS avg_tokens,
        |  round(CAST(sum(n_dup) AS DOUBLE) / greatest(CAST(sum(n_tok) AS BIGINT), 1), 6) AS dup_word_rate
        |FROM t GROUP BY stratum ORDER BY stratum""".stripMargin,
    // ALL FIVE pipeline stages re-derived in one query: quality rules,
    // md5-fingerprint exact dedup, exact trigram-Jaccard>=0.5 pairs (==
    // the minhash-verified pair set, q11 argument) + recursive-CTE
    // components, 4-gram decontamination, md5-keyed sampling.
    "q26_corpus_prep" -> CorpusPrepOracle.sql,
    "q25_ngram_df_topk" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct(list_transform(range(1, len(toks)),
        |      i -> array_to_string(toks[i:i+1], ' '))) END AS sh
        |  FROM t
        |)
        |SELECT gram, count(*) AS doc_freq FROM (SELECT unnest(sh) AS gram FROM s)
        |GROUP BY gram ORDER BY doc_freq DESC, gram LIMIT 50""".stripMargin,
    "q13_ann_bruteforce_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |s AS (
        |  SELECT q.qid AS query_id, e.vec_id,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])), 6) AS score
        |  FROM embeddings e CROSS JOIN q
        |)
        |SELECT query_id, vec_id, score FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn FROM s
        |) WHERE rn <= 10 ORDER BY query_id, score DESC, vec_id""".stripMargin,
    // staged PII redaction re-derived literally (same decoration, same
    // regexes — valid in both Java regex and RE2, see ops.Pii) — counts
    // at each stage plus the final redacted text
    "q31_pii_scrub" ->
      s"""WITH d AS (
         |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |    text
         |    || CASE WHEN doc_id % 5 = 0 THEN ' Contact: user' || doc_id || '@example.com' ELSE '' END
         |    || CASE WHEN doc_id % 7 = 0 THEN ' see https://example.org/d/' || doc_id || '?ref=x' ELSE '' END
         |    || CASE WHEN doc_id % 11 = 0 THEN ' host 10.0.' || (doc_id % 200) || '.25' ELSE '' END
         |    || CASE WHEN doc_id % 13 = 0 THEN ' tel +1 555 01' || (100 + doc_id % 100) ELSE '' END AS t0
         |  FROM documents
         |), s1 AS (SELECT doc_id, t0, regexp_replace(t0, '${Pii.UrlPattern}', '${Pii.UrlToken}', 'g') AS t1 FROM d
         |), s2 AS (SELECT *, regexp_replace(t1, '${Pii.EmailPattern}', '${Pii.EmailToken}', 'g') AS t2 FROM s1
         |), s3 AS (SELECT *, regexp_replace(t2, '${Pii.Ipv4Pattern}', '${Pii.IpToken}', 'g') AS t3 FROM s2
         |)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t0, '${Pii.UrlPattern}')) AS BIGINT) AS n_urls,
         |  CAST(len(regexp_extract_all(t1, '${Pii.EmailPattern}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t2, '${Pii.Ipv4Pattern}')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(t3, '${Pii.PhonePattern}')) AS BIGINT) AS n_phones,
         |  regexp_replace(t3, '${Pii.PhonePattern}', '${Pii.PhoneToken}', 'g') AS clean_text
         |FROM s3 ORDER BY doc_id""".stripMargin,
    // SemDeDup re-derived exactly: seed centroids = 8 smallest vec_ids,
    // argmax round6-cosine assignment (ties -> smallest centroid id),
    // within-cluster lower-id near-dup rule
    "q32_semdedup" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings ORDER BY vec_id LIMIT 8),
        |a AS (
        |  SELECT e.vec_id, c.cid,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.ce AS DOUBLE[])), 6) AS cos
        |  FROM embeddings e CROSS JOIN c
        |), asn AS (
        |  SELECT vec_id, cid AS cluster_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM a
        |  ) WHERE rn = 1
        |), p AS (
        |  SELECT x.vec_id AS v, min(y.vec_id) AS dup_of
        |  FROM asn x JOIN asn y ON x.cluster_id = y.cluster_id AND y.vec_id < x.vec_id
        |  JOIN embeddings ex ON ex.vec_id = x.vec_id
        |  JOIN embeddings ey ON ey.vec_id = y.vec_id
        |  WHERE round(list_cosine_similarity(CAST(ex.embedding AS DOUBLE[]), CAST(ey.embedding AS DOUBLE[])), 6) >= 0.4
        |  GROUP BY x.vec_id
        |)
        |SELECT asn.vec_id, CAST(asn.cluster_id AS BIGINT) AS cluster_id,
        |  p.dup_of IS NOT NULL AS is_dup, p.dup_of
        |FROM asn LEFT JOIN p ON asn.vec_id = p.v
        |ORDER BY asn.vec_id""".stripMargin,
    // same decoration, then the full window-hash + diagonal
    // gaps-and-islands derivation: every maximal shared run of >= 12
    // tokens at 8-token window granularity
    "q33_shared_token_runs" ->
      s"""WITH d AS (
         |  SELECT CAST(doc_id AS BIGINT) AS id,
         |    text
         |    || CASE WHEN doc_id % 25 = 0 THEN ' $SharedS1' ELSE '' END
         |    || CASE WHEN doc_id % 40 = 0 THEN ' $SharedS2' ELSE '' END AS text
         |  FROM documents
         |), tok AS (
         |  SELECT id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
         |  FROM d
         |), w AS (
         |  SELECT id, unnest(range(1, len(toks) - 8 + 2)) AS i, toks
         |  FROM tok WHERE len(toks) >= 8
         |), h0 AS (
         |  SELECT id, i - 1 AS pos,
         |    md5_number_upper(array_to_string(toks[i:i+7], ' ')) AS u
         |  FROM w
         |), h AS (
         |  SELECT id, pos, CAST(CASE WHEN u >= 9223372036854775808
         |    THEN CAST(u AS HUGEINT) - 18446744073709551616
         |    ELSE CAST(u AS HUGEINT) END AS BIGINT) AS hh
         |  FROM h0
         |), j AS (
         |  SELECT a.id AS doc_a, b.id AS doc_b, a.pos AS pa, b.pos AS pb,
         |    a.pos - b.pos AS diag
         |  FROM h a JOIN h b ON a.hh = b.hh AND a.id < b.id
         |), g AS (
         |  SELECT *, pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
         |  FROM j
         |)
         |SELECT doc_a, doc_b, min(pa) AS start_a, min(pb) AS start_b,
         |  CAST(count(*) + 7 AS BIGINT) AS run_tokens
         |FROM g GROUP BY doc_a, doc_b, diag, grp
         |HAVING count(*) + 7 >= 12
         |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin
  ) ++
    // frozen literal-VALUES oracles for the deterministic fixture-driven
    // queries (x01-x08, q17/q18, q27) — see XGolden for the mechanism and
    // the soundness argument; regenerate with graft.tools.XOracleGen
    XGolden.all
}

/** q64 oracle generator: the integer Lloyd loop of
  * graft.ops.Clustering.kmeansMicro unrolled into CTEs — one
  * (assignment, update) pair per iteration plus a final assignment, all
  * in exact integer arithmetic (the only float op is the one-time
  * quantization both engines compute identically). Generated by a Scala
  * loop because the rounds are mechanically identical; the q47 pagerank
  * oracle set the unrolled-iteration precedent by hand.
  */
private object KmeansOracle {
  private def assign(name: String, cents: String): String =
    s"""$name AS (
       |  SELECT id, c, d FROM (
       |    SELECT id, c, d, row_number() OVER (PARTITION BY id ORDER BY d, c) AS rn
       |    FROM (SELECT q.id AS id, $cents.c AS c,
       |      list_sum(list_transform(range(1, len(q.q) + 1),
       |        i -> (q.q[i] - $cents.q[i]) * (q.q[i] - $cents.q[i]))) AS d
       |      FROM q, $cents)) WHERE rn = 1)""".stripMargin

  private def update(n: Int): String =
    s"""u$n AS (
       |  SELECT a$n.c AS c, comp.pos AS pos,
       |    CAST(CAST(sum(comp.v) AS HUGEINT) // CAST(count(*) AS HUGEINT) AS BIGINT) AS cv
       |  FROM a$n JOIN comp ON comp.id = a$n.id GROUP BY 1, 2),
       |c$n AS (
       |  SELECT c${n - 1}.c AS c, coalesce(l.ql, c${n - 1}.q) AS q
       |  FROM c${n - 1} LEFT JOIN
       |    (SELECT c, list(cv ORDER BY pos) AS ql FROM u$n GROUP BY c) l
       |    ON l.c = c${n - 1}.c)""".stripMargin

  /** Everything through the final assignment CTE `afinal(id, c, d)`. */
  def prelude(k: Int, iters: Int): String = {
    val rounds = (1 to iters).map { n =>
      assign(s"a$n", s"c${n - 1}") + ",\n" + update(n)
    }.mkString(",\n")
    s"""WITH q AS (
       |  SELECT CAST(vec_id AS BIGINT) AS id,
       |    list_transform(embedding, x ->
       |      CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings
       |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
       |), comp AS (
       |  SELECT id, u.i AS pos, u.v AS v
       |  FROM (SELECT id, unnest(list_transform(range(1, len(q) + 1),
       |    i -> {'i': i, 'v': q[i]})) AS u FROM q)
       |), c0 AS (
       |  SELECT (row_number() OVER (ORDER BY id)) - 1 AS c, q
       |  FROM (SELECT id, q FROM q ORDER BY id LIMIT $k)
       |),
       |$rounds,
       |${assign("afinal", s"c$iters")}""".stripMargin
  }

  def sql(k: Int, iters: Int): String =
    prelude(k, iters) +
      """
        |SELECT id AS vec_id, CAST(c AS INT) AS cluster,
        |  CAST(d AS BIGINT) AS dist_micro2
        |FROM afinal ORDER BY vec_id""".stripMargin

  /** q68: the kmeans prelude + the per-cluster prototypicality rank
    * window (dist ASC, id ASC) and the integer drop count
    * n * dropThresh // 10000 — both engines in pure integer arithmetic.
    */
  def prototypePruneSql(k: Int, iters: Int, dropThresh: Long): String =
    prelude(k, iters) +
      s""",
         |ranked AS (
         |  SELECT id, c, d,
         |    CAST(row_number() OVER (PARTITION BY c ORDER BY d, id)
         |      AS BIGINT) AS proto_rank,
         |    count(*) OVER (PARTITION BY c) AS n
         |  FROM afinal
         |)
         |SELECT id AS vec_id, CAST(c AS INT) AS cluster,
         |  CAST(d AS BIGINT) AS dist_micro2, proto_rank,
         |  proto_rank > (n * $dropThresh // 10000) AS kept
         |FROM ranked ORDER BY vec_id""".stripMargin

  /** q65: the kmeans prelude + recomputed cluster sizes, the
    * floor(rate*10000 + 0.5) thresholds, and the md5 sample-key rule.
    */
  def balancedSampleSql(k: Int, iters: Int, target: Long,
      salt: String): String = {
    val h = s"md5_number_upper(CAST(afinal.id AS VARCHAR) || '$salt')"
    prelude(k, iters) +
      s""",
         |sizes AS (SELECT c, count(*) AS n FROM afinal GROUP BY c),
         |th AS (
         |  SELECT c, CAST(floor(least(1.0, CAST($target AS DOUBLE) / n)
         |    * 10000 + 0.5) AS BIGINT) AS t
         |  FROM sizes
         |), sk AS (
         |  SELECT afinal.id, afinal.c, afinal.d,
         |    (CAST(CASE WHEN $h >= 9223372036854775808
         |      THEN CAST($h AS HUGEINT) - 18446744073709551616
         |      ELSE CAST($h AS HUGEINT) END AS BIGINT)
         |     & 1152921504606846975) % 10000 AS sample_key
         |  FROM afinal
         |)
         |SELECT sk.id AS vec_id, CAST(sk.c AS INT) AS cluster,
         |  CAST(sk.d AS BIGINT) AS dist_micro2, sk.sample_key
         |FROM sk JOIN th ON th.c = sk.c
         |WHERE sk.sample_key < th.t
         |ORDER BY vec_id""".stripMargin
  }
}

/** q20/q61 oracle prelude: exact trigram-shingle jaccard >= 0.2 pairs,
  * symmetric edge closure, recursive min-label walk. `cte` ends with a
  * `clusters(doc_id, cluster)` CTE both consumers select from.
  */
private object ClustersOracle {
  val cte: String =
    """WITH RECURSIVE t AS (
      |  SELECT CAST(doc_id AS BIGINT) AS id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      |  FROM documents
      |), s AS (
      |  SELECT id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |    ELSE list_distinct(list_transform(range(1, len(toks) - 1),
      |      i -> array_to_string(toks[i:i+2], ' '))) END AS sh
      |  FROM t
      |), e AS (SELECT id, unnest(sh) AS g FROM s),
      |sz AS (SELECT id, len(sh) AS n FROM s),
      |p AS (
      |  SELECT a.id AS doc_a, b.id AS doc_b, CAST(count(*) AS DOUBLE) AS inter
      |  FROM e a JOIN e b ON a.g = b.g AND a.id < b.id
      |  GROUP BY 1, 2
      |), pairs AS (
      |  SELECT doc_a, doc_b
      |  FROM p JOIN sz sa ON sa.id = doc_a JOIN sz sb ON sb.id = doc_b
      |  WHERE inter / (sa.n + sb.n - inter) >= 0.2
      |), edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs
      |), walk(id, lbl) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, w.lbl FROM edges e JOIN walk w ON e.dst = w.id
      |), clusters AS (
      |  SELECT id AS doc_id, min(lbl) AS cluster FROM walk GROUP BY id
      |)""".stripMargin
  val sql: String =
    cte + "\nSELECT doc_id, cluster FROM clusters ORDER BY doc_id"
}

/** q09 oracle: the exact DuckDB rendition of TextAnalysis.qualityScore. */
private object QualityOracle {
  private val stops = TextAnalysis.Stopwords.values.flatten.toSeq.distinct
    .map(w => s"'$w'").mkString(", ")
  val sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS DOUBLE) AS n_tok,
       |    CAST(length(text) AS DOUBLE) AS n_char,
       |    CAST(length(regexp_replace(text, '[^A-Za-zÀ-ÿ]', '', 'g')) AS DOUBLE) AS alpha,
       |    CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE) AS punct,
       |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digit,
       |    CAST(len(list_filter(list_transform(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''), t -> lower(t)),
       |         t -> list_contains([$stops], t))) AS DOUBLE) AS stop_hits
       |  FROM documents
       |), r AS (
       |  SELECT doc_id, n_tok,
       |    greatest(n_tok, 1.0) AS safe_tok, greatest(n_char, 1.0) AS safe_char,
       |    alpha, punct, digit, stop_hits,
       |    (n_char - (n_tok - 1)) / greatest(n_tok, 1.0) AS mwl,
       |    CASE WHEN n_tok BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END AS len_band
       |  FROM t
       |)
       |SELECT doc_id, n_tok AS n_tokens,
       |  round(alpha / safe_char, 6) AS alpha_ratio,
       |  round(punct / safe_char, 6) AS punct_ratio,
       |  round(digit / safe_char, 6) AS digit_ratio,
       |  round(stop_hits / safe_tok, 6) AS stopword_ratio,
       |  round(len_band * 0.2
       |    + least(alpha / safe_char * 1.25, 1.0) * 0.3
       |    + least(stop_hits / safe_tok * 2.5, 1.0) * 0.3
       |    + (1.0 - least(punct / safe_char * 5.0, 1.0)) * 0.1
       |    + (CASE WHEN mwl BETWEEN 2.0 AND 14.0 THEN 1.0 ELSE 0.0 END) * 0.1, 6) AS quality
       |FROM r ORDER BY doc_id""".stripMargin
}

/** q24 oracle: exact DuckDB rendition of Corpus.gopherQualityFilter with
  * the default GopherThresholds. Token count / mean word length from RAW
  * text tokens, dup ratios from LOWERCASED tokens, stop list = all
  * languages distinct — mirroring the Spark column math term for term.
  */
private object GopherOracle {
  private val stops = TextAnalysis.Stopwords.values.flatten.toSeq.distinct
    .map(w => s"'$w'").mkString(", ")
  val sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS rtoks,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ltoks
       |  FROM documents
       |), m AS (
       |  SELECT doc_id,
       |    len(rtoks) AS n,
       |    CAST(len(rtoks) AS DOUBLE) AS nd,
       |    CAST(length(text) AS DOUBLE) AS nchar,
       |    CAST(length(regexp_replace(text, '[^A-Za-zÀ-ÿ]', '', 'g')) AS DOUBLE) AS alpha,
       |    CAST(len(list_filter(ltoks, x -> list_contains([$stops], x))) AS DOUBLE) AS stop_hits,
       |    len(list_distinct(ltoks)) AS ndist,
       |    CASE WHEN len(ltoks) > 1
       |      THEN list_transform(range(1, len(ltoks)), i -> ltoks[i] || ' ' || ltoks[i+1])
       |      ELSE [] END AS grams
       |  FROM t
       |), r AS (
       |  SELECT doc_id, n,
       |    (nchar - (nd - 1)) / greatest(nd, 1.0) AS mwl,
       |    alpha / greatest(nchar, 1.0) AS alpha_ratio,
       |    stop_hits / greatest(nd, 1.0) AS stop_ratio,
       |    CASE WHEN n > 0 THEN CAST(n - ndist AS DOUBLE) / nd ELSE 0.0 END AS dwr,
       |    CASE WHEN n > 1
       |      THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
       |      ELSE 0.0 END AS d2g
       |  FROM m
       |)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |  (n BETWEEN 50 AND 100000) AS word_count_ok,
       |  (mwl BETWEEN 3.0 AND 10.0) AS mean_word_len_ok,
       |  (dwr <= 0.5) AS dup_word_ok,
       |  (d2g <= 0.05) AS dup_2gram_ok,
       |  (stop_ratio >= 0.03) AS stopword_ok,
       |  (alpha_ratio >= 0.6) AS alpha_ok,
       |  ((n BETWEEN 50 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0)
       |    AND (dwr <= 0.5) AND (d2g <= 0.05)
       |    AND (stop_ratio >= 0.03) AND (alpha_ratio >= 0.6)) AS passes
       |FROM r ORDER BY doc_id""".stripMargin
}

/** q26 oracle: the five CorpusPrep stages re-derived in one DuckDB query
  * (quality thresholds 20/0.7/0.15/0.01/0.6 as configured in the q26
  * entry; near-dedup as exact trigram Jaccard >= 0.5 — equal to the
  * minhash-verified pair set by the q11 recall argument; sampling
  * thresholds 9000/7000/5000 per 10000).
  */
private object CorpusPrepOracle {
  private val stops = TextAnalysis.Stopwords.values.flatten.toSeq.distinct
    .map(w => s"'$w'").mkString(", ")
  val sql: String =
    s"""WITH RECURSIVE docs0 AS (
       |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 20 <> 0
       |), tq AS (
       |  SELECT doc_id, text, lang,
       |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS rtoks,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ltoks
       |  FROM docs0
       |), mq AS (
       |  SELECT doc_id, text, lang, len(rtoks) AS n, CAST(len(rtoks) AS DOUBLE) AS nd,
       |    CAST(length(text) AS DOUBLE) AS nchar,
       |    CAST(length(regexp_replace(text, '[^A-Za-zÀ-ÿ]', '', 'g')) AS DOUBLE) AS alpha,
       |    CAST(len(list_filter(ltoks, x -> list_contains([$stops], x))) AS DOUBLE) AS stop_hits,
       |    len(list_distinct(ltoks)) AS ndist,
       |    CASE WHEN len(ltoks) > 1
       |      THEN list_transform(range(1, len(ltoks)), i -> ltoks[i] || ' ' || ltoks[i+1])
       |      ELSE [] END AS grams
       |  FROM tq
       |), qpass AS (
       |  SELECT doc_id, text, lang FROM mq
       |  WHERE (n BETWEEN 20 AND 100000)
       |    AND ((nchar - (nd - 1)) / greatest(nd, 1.0) BETWEEN 3.0 AND 10.0)
       |    AND (CASE WHEN n > 0 THEN CAST(n - ndist AS DOUBLE) / nd ELSE 0.0 END <= 0.7)
       |    AND (CASE WHEN n > 1 THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams) ELSE 0.0 END <= 0.15)
       |    AND (stop_hits / greatest(nd, 1.0) >= 0.01)
       |    AND (alpha / greatest(nchar, 1.0) >= 0.6)
       |), ed AS (
       |  SELECT min(doc_id) AS doc_id FROM (
       |    SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
       |    FROM qpass
       |  ) GROUP BY fp
       |), base AS (SELECT q.doc_id, q.text, q.lang FROM qpass q JOIN ed USING (doc_id)),
       |sh3 AS (
       |  SELECT doc_id AS id,
       |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |      ELSE list_distinct(list_transform(range(1, len(toks) - 1),
       |        i -> array_to_string(toks[i:i+2], ' '))) END AS sh
       |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks FROM base)
       |), e3 AS (SELECT id, unnest(sh) AS g FROM sh3),
       |sz3 AS (SELECT id, len(sh) AS n FROM sh3),
       |p3 AS (
       |  SELECT a.id AS doc_a, b.id AS doc_b, CAST(count(*) AS DOUBLE) AS inter
       |  FROM e3 a JOIN e3 b ON a.g = b.g AND a.id < b.id GROUP BY 1, 2
       |), pairs AS (
       |  SELECT doc_a, doc_b
       |  FROM p3 JOIN sz3 sa ON sa.id = doc_a JOIN sz3 sb ON sb.id = doc_b
       |  WHERE inter / (sa.n + sb.n - inter) >= 0.5
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs
       |), walk(id, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, w.lbl FROM edges e JOIN walk w ON e.dst = w.id
       |), losers AS (
       |  SELECT id AS doc_id FROM walk GROUP BY id HAVING id <> min(lbl)
       |), nd2 AS (
       |  SELECT doc_id, text, lang FROM base
       |  WHERE doc_id NOT IN (SELECT doc_id FROM losers)
       |), s4 AS (
       |  SELECT doc_id, CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
       |    ELSE list_distinct(list_transform(range(1, len(toks) - 2),
       |      i -> array_to_string(toks[i:i+3], ' '))) END AS sh
       |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents)
       |), ev AS (SELECT DISTINCT unnest(sh) AS g FROM s4 WHERE doc_id % 20 = 0),
       |contaminated AS (
       |  SELECT DISTINCT u.doc_id
       |  FROM (SELECT s4.doc_id, unnest(s4.sh) AS g FROM s4 JOIN nd2 USING (doc_id)) u
       |  WHERE u.g IN (SELECT g FROM ev)
       |), dc AS (
       |  SELECT doc_id, lang FROM nd2
       |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
       |), sk AS (
       |  SELECT doc_id, lang,
       |    (CAST(CASE WHEN md5_number_upper(CAST(doc_id AS VARCHAR) || 'corpus-prep-v1') >= 9223372036854775808
       |      THEN CAST(md5_number_upper(CAST(doc_id AS VARCHAR) || 'corpus-prep-v1') AS HUGEINT) - 18446744073709551616
       |      ELSE CAST(md5_number_upper(CAST(doc_id AS VARCHAR) || 'corpus-prep-v1') AS HUGEINT) END AS BIGINT)
       |      & 1152921504606846975) % 10000 AS skey
       |  FROM dc
       |)
       |SELECT doc_id FROM sk
       |WHERE skey < CASE lang WHEN 'en' THEN 9000 WHEN 'de' THEN 7000 ELSE 5000 END
       |ORDER BY doc_id""".stripMargin
}

/** q10 oracle: stopword-hit language ID with the reverse-alphabetical
  * tie-break (equals Spark's greatest-over-structs).
  */
private object LangIdOracle {
  private def lst(l: String) =
    TextAnalysis.Stopwords(l).map(w => s"'$w'").mkString(", ")
  val sql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
       |  FROM documents
       |), h AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(toks, t -> list_contains([${lst("de")}], t))) AS BIGINT) AS h_de,
       |    CAST(len(list_filter(toks, t -> list_contains([${lst("en")}], t))) AS BIGINT) AS h_en,
       |    CAST(len(list_filter(toks, t -> list_contains([${lst("es")}], t))) AS BIGINT) AS h_es,
       |    CAST(len(list_filter(toks, t -> list_contains([${lst("fr")}], t))) AS BIGINT) AS h_fr
       |  FROM t
       |)
       |SELECT doc_id,
       |  CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
       |       WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
       |       WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
       |       WHEN h_en >= h_de THEN 'en'
       |       ELSE 'de' END AS lang_pred,
       |  greatest(h_de, h_en, h_es, h_fr) AS lang_hits
       |FROM h ORDER BY doc_id""".stripMargin
}
