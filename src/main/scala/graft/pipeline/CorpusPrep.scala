package graft.pipeline

import graft.ops.{Audit, Corpus, Dedup, Materialize, Pii, SubstringDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus preparation: the composed corpus-wide pass a user
  * runs between extraction and training — quality gate, exact dedup,
  * near-dedup, benchmark decontamination, stratified downsampling. Every
  * stage is an individually oracle-checked operator (q24, q07, q11+q20,
  * q22, q23); this object wires them with the staging and drop semantics,
  * and the COMPOSITION is itself gate-checked end-to-end (q26: one DuckDB
  * query re-derives all five stages and must produce the same survivors).
  *
  * Stage order is chosen for scale: the map-only quality gate runs first
  * and shrinks every later shuffle; exact dedup (cheap 16-byte-hash
  * shuffle) runs before the near-dedup bucket join; both dedups run
  * before decontamination so duplicate docs don't inflate the n-gram
  * join; sampling runs last so rates apply to the cleaned corpus.
  * Downstream of `prepare`, `Corpus.packSequences` turns the survivors
  * into the training-sequence index (concatenate-and-chunk, q35).
  *
  * Drop-lists (near-dup losers, contaminated docs) are applied with
  * left_anti joins WITHOUT a broadcast hint: they are usually tiny (AQE
  * converts to broadcast at runtime) but can be corpus-sized on a
  * pathological input, where a forced broadcast would OOM the driver.
  *
  * The dedup stages key on a NUMERIC 64-bit `doc_id` (pair symmetry and
  * cluster min-labels need a total order that shuffles as 8 bytes).
  * String-keyed corpora derive a surrogate first —
  * `withColumn("doc_id", call_function("md5_long", col("doc_id")))` —
  * with collision odds n^2 / 2^64 (PipelineSpec pins the pattern).
  */
object CorpusPrep {

  final case class PrepConfig(
      /** Redact PII in place BEFORE any metric sees the text, so quality
        * scores, fingerprints and n-grams are computed over what will
        * actually be trained on (map-only, zero extra shuffle).
        */
      piiRedact: Boolean = false,
      quality: Option[Corpus.GopherThresholds] = Some(Corpus.GopherThresholds()),
      exactDedup: Boolean = true,
      nearDedup: Option[Dedup.MinHashParams] = Some(Dedup.MinHashParams()),
      /** Partial-containment layer after whole-doc near-dedup: drop the
        * higher-id document of every pair sharing a verbatim token run
        * (the Lee et al. duplicated-passage class that survives
        * document-level Jaccard).
        */
      substringDedup: Option[SubstringDedup.RunParams] = None,
      decontaminateN: Int = 13,
      sampleRates: Map[String, Double] = Map.empty,
      sampleDefaultRate: Double = 1.0,
      sampleStratum: String = "lang",
      sampleSalt: String = "corpus-prep-v1",
      /** Edge-count bound under which duplicate clustering runs as a
        * driver-side union-find (16 bytes/edge — the default caps the
        * collect at ~16 MB) instead of the distributed pointer-jumping
        * loop; threaded to Dedup.duplicateClusters so deployments with
        * smaller driver heaps (or boilerplate-heavy corpora whose pair
        * graphs are huge) can tune the cutover from the pipeline config.
        */
      driverUnionFindMax: Long = 1000000L)

  /** The cumulative pipeline: (stage name, surviving rows AFTER that
    * stage), first entry is the input; `prepare` takes the last, `audit`
    * counts each. When a later stage re-reads the narrowed corpus, this
    * call checkpoints it, and the last narrowing stage's entry is that
    * checkpoint.
    */
  def stages(docs: DataFrame, evalCorpus: Option[DataFrame] = None,
      cfg: PrepConfig = PrepConfig()): Seq[(String, DataFrame)] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, DataFrame)]()
    // kernel spread at the pipeline entry (identity at scale): the
    // quality gate's regex/token expressions otherwise run serial on a
    // tiny input's single scan partition, and every later stage inherits
    // the spread layout
    var cur = graft.ops.Partitioning.spreadSmall(docs)
    out += ("input" -> cur)
    if (cfg.piiRedact) {
      cur = Pii.redactText(cur)
      out += ("pii_redact" -> cur)
    }
    cfg.quality.foreach { th =>
      cur = cur.filter(Corpus.gopherPasses(th))
      out += ("quality" -> cur)
    }
    if (cfg.exactDedup) {
      cur = Dedup.dedupExact(cur)
      out += ("exact_dedup" -> cur)
    }
    // near-dedup reads it three times, substring dedup and decontamination
    // twice each: the quality scan runs once
    if (cfg.nearDedup.nonEmpty || cfg.substringDedup.nonEmpty || evalCorpus.nonEmpty) {
      cur = Materialize.checkpoint(cur)
      out(out.length - 1) = out.last._1 -> cur
    }
    cfg.nearDedup.foreach { p =>
      val clusters = Dedup.duplicateClusters(
        // clustering only consumes the pair SET — skip the gate dump's
        // global (doc_a, doc_b) sort (one less range exchange + sort)
        Dedup.minHashDuplicatePairs(cur, p, sortOutput = false),
        driverUnionFindMax = cfg.driverUnionFindMax)
      val losers = clusters.filter(col("doc_id") =!= col("cluster"))
        .select("doc_id")
      cur = cur.join(losers, Seq("doc_id"), "left_anti")
      out += ("near_dedup" -> cur)
    }
    cfg.substringDedup.foreach { p =>
      val losers = SubstringDedup.sharedTokenRuns(cur, p.k, p.minRunTokens,
        p.maxWindowDocFreq, sortOutput = false)
        .select(col("doc_b").as("doc_id")).distinct()
      cur = cur.join(losers, Seq("doc_id"), "left_anti")
      out += ("substring_dedup" -> cur)
    }
    evalCorpus.foreach { ev0 =>
      // decontamination must compare LIKE WITH LIKE: with piiRedact on,
      // the training side is redacted, so redact the eval side too — an
      // eval passage containing an email/URL would otherwise never match
      // its redacted training copy (systematic recall loss on web text)
      val ev = if (cfg.piiRedact) Pii.redactText(ev0) else ev0
      val contaminated = Corpus.decontaminate(cur, ev, cfg.decontaminateN)
        .filter(col("contaminated")).select("doc_id")
      cur = cur.join(contaminated, Seq("doc_id"), "left_anti")
      out += ("decontaminate" -> cur)
    }
    if (cfg.sampleRates.nonEmpty || cfg.sampleDefaultRate < 1.0) {
      cur = Corpus.stratifiedSample(cur, col(cfg.sampleStratum),
        cfg.sampleRates, cfg.sampleDefaultRate, col("doc_id"), cfg.sampleSalt)
        .drop("stratum", "sample_key")
      out += ("sample" -> cur)
    }
    out.toSeq
  }

  /** Surviving rows (original schema preserved). */
  def prepare(docs: DataFrame, evalCorpus: Option[DataFrame] = None,
      cfg: PrepConfig = PrepConfig()): DataFrame =
    stages(docs, evalCorpus, cfg).last._2

  /** Per-stage survivor counts — an audit mode (one count() action per
    * stage), not the hot path.
    */
  def audit(docs: DataFrame, evalCorpus: Option[DataFrame] = None,
      cfg: PrepConfig = PrepConfig()): Seq[(String, Long)] =
    stages(docs, evalCorpus, cfg).map { case (n, df) => (n, df.count()) }

  /** `prepare` PLUS the sampled recall audit of the near-dedup layer
    * (the pipeline-contract home for Audit.pairRecall, round-2 verdict
    * item 10): on a deterministic hash-sample of the corpus the
    * near-dedup stage actually sees (post quality/exact-dedup), the
    * production MinHash candidate+verify operator is compared against the
    * exact all-pairs shingle-Jaccard formulation at the same threshold.
    * Returns (survivors, audit row (sampled_rows, exact_pairs,
    * found_pairs, recall)); if `minRecall` > 0 and the measured recall
    * falls below it the run FAILS loudly — a silently under-recalling
    * dedup config ships duplicates into training data.
    *
    * The audit is O(sample²) exact verification — size `auditSampleRate`
    * so sampled_rows² stays tractable (the point of hash-sampling: recall
    * on the sample is an unbiased estimate of recall on the corpus).
    * Requires cfg.nearDedup.
    */
  def prepareAudited(docs: DataFrame, evalCorpus: Option[DataFrame] = None,
      cfg: PrepConfig = PrepConfig(), auditSampleRate: Double = 0.1,
      auditSalt: String = "corpus-prep-audit-v1",
      minRecall: Double = 0.0): (DataFrame, DataFrame) = {
    val p = cfg.nearDedup.getOrElse(throw new IllegalArgumentException(
      "prepareAudited requires cfg.nearDedup — there is no near-dup layer to audit"))
    val st = stages(docs, evalCorpus, cfg)
    val nearIdx = st.indexWhere(_._1 == "near_dedup")
    val preNearDedup = st(nearIdx - 1)._2
    val auditRow = Audit.pairRecall(preNearDedup, col("doc_id"),
      auditSampleRate, auditSalt, aCol = "doc_a", bCol = "doc_b")(
      approx = Dedup.minHashDuplicatePairs(_, p),
      exact = Dedup.ngramJaccardPairs(_, n = p.shingleSize,
        threshold = p.jaccardThreshold, sortOutput = false))
    val recall = auditRow.select(col("recall")).head().getDouble(0)
    require(recall >= minRecall,
      f"near-dedup recall audit FAILED: measured $recall%.4f < required " +
        f"$minRecall%.4f on a $auditSampleRate%.2f hash-sample — raise " +
        "MinHashParams.numHashes/bands or lower the threshold")
    (st.last._2, auditRow)
  }

  /** The ALLOCATION half of corpus curation — what runs AFTER
    * [[prepare]]'s content filtering to turn a clean corpus into a
    * training allocation under explicit budgets, in the order every
    * published recipe applies them:
    *
    *  1. domain blocklist ([[graft.ops.Web.domainBlocklist]] — host-
    *     suffix semantics, the UT1 gate) — consent/safety cuts come
    *     before any budget math so a blocked host never consumes budget;
    *  2. per-host cap ([[Corpus.capPerHost]] — RefinedWeb-style doc and
    *     token budgets per host, deterministic smallest-doc_id prefix);
    *  3. global token budget ([[Corpus.tokenBudgetTake]] — keep the
    *     best-quality prefix by the q09 quality score until the budget
    *     is spent);
    *  4. split assignment ([[Corpus.splitAssign]] — the growth-stable
    *     md5 train/validation/test carve).
    *
    * Emits tokenBudgetTake's narrow allocation rows plus `sample_key`
    * and `split`: (doc_id, quality, n_tokens, cum_tokens, sample_key,
    * split). Every stage is individually oracle-checked (q66, q43, q59,
    * q57); the composed end-to-end contract is gate q71. Scale shape is
    * the stages' own: one broadcast-set map for the blocklist, the
    * salted two-phase host windows, the 24-byte range exchange + prefix
    * pass for the budget, a pure map for the split.
    */
  def allocate(docs: DataFrame, blocklist: Set[String],
      maxDocsPerHost: Option[Long] = None,
      maxTokensPerHost: Option[Long] = None,
      tokenBudget: Long = Long.MaxValue,
      splits: Seq[(String, Double)] = Seq(
        "train" -> 0.9, "validation" -> 0.05, "test" -> 0.05),
      salt: String = "graft-alloc-v1"): DataFrame = {
    val unblocked = graft.ops.Web
      .domainBlocklist(docs, blocklist, "url")
      .filter(!col("blocked"))
      .drop("blocked", "blocked_by", "host")
    val capped =
      if (maxDocsPerHost.isEmpty && maxTokensPerHost.isEmpty) unblocked
      else Corpus.capPerHost(unblocked, maxDocsPerHost, maxTokensPerHost)
    val scored = graft.ops.TextAnalysis.qualityScore(
      capped.select(col("doc_id"), col("text")))
    val taken = Corpus.tokenBudgetTake(scored, tokenBudget,
      quality = col("quality"), id = col("doc_id"),
      nTokens = col("n_tokens"))
    Corpus.splitAssign(taken.withColumnRenamed("id", "doc_id"), splits,
      col("doc_id"), salt)
  }
}
