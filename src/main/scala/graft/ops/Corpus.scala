package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level training-data-pipeline operators: benchmark
  * decontamination, deterministic stratified sampling, composite quality
  * filtering (Gopher-style rules, Rae et al. 2021, arXiv:2112.11446),
  * and corpus n-gram document-frequency statistics.
  *
  * All column logic is plain Catalyst expressions (whole-stage codegen);
  * the only custom piece is the codegen'd `md5_long` expression
  * (graft.functions.Md5Long), chosen because DuckDB's `md5_number_upper`
  * computes the identical value — every operator here is bit-for-bit
  * recomputable inside a SQL gate oracle.
  */
object Corpus {

  /** Distinct word n-grams per doc, as strings. Same construction as the
    * dedup oracles (Dedup.ngramJaccardPairs): a doc shorter than n tokens
    * contributes its whole token sequence as a single gram, so no document
    * silently drops out of gram-keyed operators.
    */
  def wordGrams(toks: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", slice(toks, i, lit(n))))
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(array_distinct(grams))
  }

  /** (doc_id, g) rows: one row per DISTINCT n-gram hash per doc. Grams are
    * deduped map-side (array_distinct) BEFORE the explode, and only an
    * 8-byte hash leaves the projection — at corpus scale nothing
    * wider than (int64, int64) ever crosses an exchange.
    */
  private def gramHashes(df: DataFrame, n: Int): DataFrame = {
    // still registered here: session-level md5_long consumers downstream
    // of decontaminate (Audit.pairRecall's sample keys) ride this call
    graft.functions.GraftFunctions.register(df.sparkSession)
    val toks = TextAnalysis.wsTokens(lower(col("text")))
    // xxhash64, not md5_long: the hash only keys the overlap join (the
    // oracle counts shared grams from gram TEXT), so any 64-bit hash
    // gives the identical result at the documented n^2/2^64 collision
    // odds — and xxhash64 is an order of magnitude cheaper per gram
    Partitioning.spreadSmall(df.select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(wordGrams(toks, n)).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("g"))
  }

  /** Benchmark decontamination (the published GPT-3 appendix-C shape:
    * a training document is contaminated when it shares any word n-gram
    * with the evaluation set; production uses n≈13, tests use smaller n so
    * synthetic corpora actually overlap).
    *
    * Returns one row per training doc: (doc_id, n_overlap, contaminated).
    *
    * Scale shape: the eval side is reduced to a DISTINCT set of 8-byte
    * hashes — for any real benchmark suite that is tiny relative to the
    * corpus, so it is broadcast and the training side never shuffles
    * (set `broadcastEval = false` to fall back to a hash-partitioned join
    * when the "eval" side is itself a corpus). The final left join keys on
    * doc_id only (count per doc, never gram rows).
    */
  def decontaminate(train: DataFrame, eval: DataFrame, n: Int = 13,
      broadcastEval: Boolean = true): DataFrame = {
    val evalGrams = gramHashes(eval, n).select("g").distinct()
    val evalSide = if (broadcastEval) broadcast(evalGrams) else evalGrams
    // per-doc grams are already distinct and the eval side is distinct,
    // so the inner join yields at most one row per (doc_id, g): count(*)
    // IS the distinct-overlap count (no countDistinct shuffle needed).
    val hits = gramHashes(train, n)
      .join(evalSide, "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    train.select(col("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) > 0).as("contaminated"))
  }

  /** Sampling keys are uniform in [0, SampleBuckets). */
  val SampleBuckets = 10000L
  private val Mask60 = 0x0FFFFFFFFFFFFFFFL // top 4 bits cleared -> non-negative

  /** Deterministic per-row sample key in [0, 10000): md5 of (id || salt),
    * masked to 60 bits (so the signed value is non-negative and `%` agrees
    * between JVM and SQL), mod 10000. Same row + same salt => same key on
    * every run, every cluster size, every engine — resumable sampling with
    * no RNG state, and a different salt draws an independent sample.
    */
  def sampleKey(id: Column, salt: String): Column =
    call_function("md5_long", concat(id.cast("string"), lit(salt)))
      .bitwiseAND(lit(Mask60)) % SampleBuckets

  /** Stratified sampling at a per-stratum rate (e.g. per language or per
    * source, for corpus rebalancing). `rates` maps stratum value -> keep
    * fraction; anything unlisted gets `defaultRate`. Purely map-side: a
    * filter on a codegen'd hash — zero shuffle, trivially parallel, and
    * the sample is a deterministic function of (keyCol, salt).
    *
    * Output carries the helper columns `stratum` and `sample_key` (the
    * q23 gate contract) — pre-existing columns of those names are
    * OVERWRITTEN; rename upstream if the input uses them.
    */
  def stratifiedSample(df: DataFrame, stratum: Column,
      rates: Map[String, Double], defaultRate: Double,
      keyCol: Column, salt: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    def thresh(r: Double): Long = {
      require(r >= 0.0 && r <= 1.0, s"rate $r out of [0,1]")
      math.round(r * SampleBuckets)
    }
    val keepBelow = rates.foldLeft(lit(thresh(defaultRate))) {
      case (acc, (s, r)) => when(stratum === s, lit(thresh(r))).otherwise(acc)
    }
    df.withColumn("stratum", stratum)
      .withColumn("sample_key", sampleKey(keyCol, salt))
      .filter(col("sample_key") < keepBelow)
  }

  /** Stratified sampling where rates may EXCEED 1: a document is kept
    * `floor(rate)` times always, plus one more copy iff its sample key
    * falls under the fractional remainder — the deterministic-hash
    * version of "epochs per dataset" that multilingual mixes use to
    * UPSAMPLE low-resource strata (mC4 / Xue et al. 2021 sample
    * languages at p^alpha, which implies rates > 1 for the smallest
    * ones; Llama-style mixes publish per-source epoch counts the same
    * way). Each copy carries a 0-based `epoch` column so downstream
    * shuffling/packing can salt on (keyCol, epoch) and the copies do
    * not co-locate. For rate <= 1 the kept set is IDENTICAL to
    * [[stratifiedSample]] at the same (keyCol, salt) — the two
    * operators compose into one mixing config. Rates above
    * `MaxReplication` fail loudly (a fat-fingered rate of 1000 would
    * silently explode the corpus).
    *
    * Scale shape: pure map-side — a codegen'd hash, a literal
    * when-chain, one explode; zero shuffle, and the output is a
    * deterministic function of (keyCol, salt) like every sampler here.
    * Output carries helper columns `stratum`, `sample_key`, `epoch`
    * (pre-existing columns of those names are overwritten).
    */
  def replicatedSample(df: DataFrame, stratum: Column,
      rates: Map[String, Double], defaultRate: Double,
      keyCol: Column, salt: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    def check(r: Double): Double = {
      require(r >= 0.0 && r <= MaxReplication,
        s"rate $r out of [0, $MaxReplication]")
      r
    }
    def whole(r: Double): Long = math.floor(check(r)).toLong
    def fracThresh(r: Double): Long =
      math.round((check(r) - math.floor(r)) * SampleBuckets)
    val base = rates.foldLeft(lit(whole(defaultRate))) {
      case (acc, (s, r)) => when(stratum === s, lit(whole(r))).otherwise(acc)
    }
    val extraBelow = rates.foldLeft(lit(fracThresh(defaultRate))) {
      case (acc, (s, r)) =>
        when(stratum === s, lit(fracThresh(r))).otherwise(acc)
    }
    df.withColumn("stratum", stratum)
      .withColumn("sample_key", sampleKey(keyCol, salt))
      // null keyCol -> null sample_key: drop the row entirely, matching
      // stratifiedSample's `sample_key < thresh` filter (null -> false) —
      // otherwise a null-id row would survive its floor(rate) base copies
      // and the "identical kept set at rate <= 1" contract would break
      .withColumn("graft_repeats",
        when(col("sample_key").isNull, lit(0L)).otherwise(
          base +
            when(col("sample_key") < extraBelow, lit(1L)).otherwise(lit(0L))))
      .filter(col("graft_repeats") > 0)
      .withColumn("epoch",
        explode(sequence(lit(0L), col("graft_repeats") - 1)))
      .drop("graft_repeats")
  }

  /** Upper bound on a replicatedSample rate — beyond ~a few epochs
    * upsampling is known to hurt (quality degrades well before 100
    * repeats), so a rate this large is a config bug, not a mix.
    */
  val MaxReplication = 100.0

  /** Deterministic train/validation/test split assignment: each row gets
    * the split whose cumulative weight interval its hash bucket falls in.
    * `splits` is ordered (name, weight) with weights summing to 1 — the
    * ORDER defines the bucket intervals, so the same config always carves
    * the same intervals and a row's split is a pure function of (keyCol,
    * salt), never of partitioning, row order or cluster size. That
    * determinism is the property that matters at scale: re-runs, resumes
    * and incremental additions never migrate a document across the
    * train/eval boundary (which would leak training data into eval), and
    * membership can be recomputed from the id alone without storing an
    * assignment table. Rows with a null key are dropped (same contract
    * as the samplers — no id, no reproducible draw).
    *
    * Scale shape: pure map-side, one codegen'd hash + a literal
    * when-chain; zero shuffle. Output appends `sample_key` and `split`
    * (pre-existing columns of those names are overwritten).
    */
  def splitAssign(df: DataFrame, splits: Seq[(String, Double)],
      keyCol: Column, salt: String): DataFrame = {
    require(splits.nonEmpty, "empty split list")
    require(splits.forall(_._2 > 0.0), s"non-positive split weight in $splits")
    require(splits.map(_._1).distinct.length == splits.length,
      s"duplicate split name in $splits")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9,
      s"split weights sum to $total, expected 1.0")
    graft.functions.GraftFunctions.register(df.sparkSession)
    // cumulative thresholds in declaration order; the last is pinned to
    // SampleBuckets so rounding never leaves an unassigned bucket
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    val threshes = cum.init.map(c => math.round(c * SampleBuckets)) :+
      SampleBuckets.toLong
    val chain = splits.zip(threshes).reverse.foldLeft(lit(null: String)) {
      case (acc, ((name, _), t)) =>
        when(col("sample_key") < t, lit(name)).otherwise(acc)
    }
    df.withColumn("sample_key", sampleKey(keyCol, salt))
      .filter(col("sample_key").isNotNull)
      .withColumn("split", chain)
  }

  /** Temperature-flattened sampling rates (the mC4 / multilingual-T5
    * mixing rule, Xue et al. 2021 §3.1): sample stratum s with mixture
    * probability q_s ∝ p_s^alpha, where p_s is the stratum's natural
    * share of `massByStratum` (token or doc counts). alpha < 1 flattens
    * the head and boosts the tail; alpha = 1 is the natural mix. The
    * mixture is realized as per-stratum rates ∝ q_s / p_s = p_s^(alpha-1):
    *  - with `targetMass` set, rate_s = targetMass * q_s / mass_s capped
    *    at `maxRate` (the realized mix then deviates from q wherever the
    *    cap binds — the standard budgeted compromise);
    *  - without, rates are normalized so the LARGEST is exactly
    *    `maxRate`: maxRate = 1 (default) gives the largest feasible
    *    downsample-only mix (the rarest stratum is kept whole, alpha < 1);
    *    maxRate > 1 allows that many epochs of the rarest stratum and
    *    feeds [[replicatedSample]].
    * Deterministic driver-side arithmetic over the tiny per-stratum
    * summary (pair with corpusSummary, like [[rebalanceRates]]); strata
    * with zero mass get rate 0 — sampling cannot create data.
    */
  def temperatureRates(massByStratum: Map[String, Long], alpha: Double,
      targetMass: Option[Long] = None,
      maxRate: Double = 1.0): Map[String, Double] = {
    require(alpha > 0.0, s"alpha $alpha must be > 0")
    require(maxRate > 0.0 && maxRate <= MaxReplication,
      s"maxRate $maxRate out of (0, $MaxReplication]")
    require(massByStratum.values.forall(_ >= 0L), "negative stratum mass")
    val active = massByStratum.filter(_._2 > 0L)
    if (active.isEmpty) return massByStratum.keys.map(_ -> 0.0).toMap
    val wSum = active.values.map(m => math.pow(m.toDouble, alpha)).sum
    // pow overflow (huge mass x large alpha) would turn Inf/Inf into NaN
    // rates that only surface as a confusing require() failure far
    // downstream — fail loudly at the bad input instead
    require(java.lang.Double.isFinite(wSum),
      s"p^alpha overflow: sum of mass^$alpha is not finite " +
        s"(largest mass ${active.values.max}); lower alpha or rescale mass")
    // q_s / mass_s, the per-row keep propensity (un-normalized rate)
    val propensity = active.map { case (s, m) =>
      s -> math.pow(m.toDouble, alpha) / wSum / m.toDouble
    }
    val c = targetMass match {
      case Some(t) =>
        require(t > 0L, s"targetMass $t must be > 0"); t.toDouble
      case None => maxRate / propensity.values.max
    }
    massByStratum.keys.map { s =>
      s -> propensity.get(s).fold(0.0)(p => math.min(maxRate, c * p))
    }.toMap
  }

  /** Gopher-style quality-rule thresholds (Rae et al. 2021 table A1 uses
    * 50..100k words, mean word length 3..10, plus symbol/stopword rules;
    * the repetition bounds here play the role of its dup-line/dup-ngram
    * fractions over our per-doc repetition metrics).
    */
  case class GopherThresholds(
      minTokens: Long = 50,
      maxTokens: Long = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxDupWordRatio: Double = 0.5,
      maxDup2GramRatio: Double = 0.05,
      minStopwordRatio: Double = 0.03,
      minAlphaRatio: Double = 0.6)

  /** The quality rules as (name, boolean Column) over a `text` column —
    * the shared core of gopherQualityFilter (audit projection) and
    * CorpusPrep (in-line filter with no join-back).
    */
  def gopherRules(t: GopherThresholds = GopherThresholds()): Seq[(String, Column)] = {
    val text = col("text")
    val rawToks = TextAnalysis.wsTokens(text)
    val loToks = TextAnalysis.wsTokens(lower(text))
    val nTok = size(rawToks)
    val nTokD = nTok.cast("double")
    val nChar = length(text).cast("double")
    val safeTok = greatest(nTokD, lit(1.0))
    val meanWordLen = (nChar - (nTokD - 1)) / safeTok
    val alphaRatio =
      length(regexp_replace(text, "[^A-Za-zÀ-ÿ]", "")).cast("double") /
        greatest(nChar, lit(1.0))
    // shared formulations (TextAnalysis.wordBigrams/allStopwordHits): the
    // SQL-oracle-checkability claim rests on these being the SAME Column
    // trees as repetitionMetrics/qualityScore, not lookalike copies
    val stopRatio = TextAnalysis.allStopwordHits(loToks).cast("double") / safeTok
    val dupWord = when(nTok > 0,
      (nTok - size(array_distinct(loToks))).cast("double") / nTokD)
      .otherwise(0.0)
    val grams = TextAnalysis.wordBigrams(loToks)
    val dup2Gram = when(nTok > 1,
      (size(grams) - size(array_distinct(grams))).cast("double") / size(grams))
      .otherwise(0.0)

    Seq(
      "word_count_ok" -> nTok.between(t.minTokens, t.maxTokens),
      "mean_word_len_ok" -> meanWordLen.between(t.minMeanWordLen, t.maxMeanWordLen),
      "dup_word_ok" -> (dupWord <= t.maxDupWordRatio),
      "dup_2gram_ok" -> (dup2Gram <= t.maxDup2GramRatio),
      "stopword_ok" -> (stopRatio >= t.minStopwordRatio),
      "alpha_ok" -> (alphaRatio >= t.minAlphaRatio))
  }

  /** Conjunction of all quality rules — usable directly as a filter
    * predicate (map-only, no join-back).
    */
  def gopherPasses(t: GopherThresholds = GopherThresholds()): Column =
    gopherRules(t).map(_._2).reduce(_ && _)

  /** Composite document quality filter: every rule as its own boolean
    * column plus the conjunction (`passes`), so downstream jobs can both
    * filter and audit WHICH rule killed a document. One projection over
    * the text column — whole-stage codegen, zero shuffle, linear per row.
    * Rule inputs reuse the exact formulations of TextAnalysis.qualityScore
    * / repetitionMetrics so the filter is SQL-oracle-checkable.
    */
  def gopherQualityFilter(df: DataFrame,
      t: GopherThresholds = GopherThresholds()): DataFrame = {
    val rules = gopherRules(t)
    Partitioning.spreadSmall(df.select(col("doc_id"), col("text"))).select(
      (Seq(col("doc_id"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tokens")) ++
        rules.map { case (name, c) => c.as(name) } :+
        rules.map(_._2).reduce(_ && _).as("passes")): _*)
  }

  /** Sampling rates that rebalance the corpus toward target token shares
    * (static data mixing, the knob behind "X% web, Y% code, Z% books"):
    * given per-stratum token masses (e.g. corpusSummary's total_tokens)
    * and target shares, the largest feasible downsample-only mix keeps
    * the binding stratum whole and downsamples the rest proportionally —
    * rate_s = c * share_s / tokens_s with c chosen so max rate = 1.
    * Deterministic driver-side arithmetic over the tiny per-stratum
    * summary; feed the result to stratifiedSample / CorpusPrep
    * sampleRates (hash-deterministic, so the realized mix is
    * reproducible on any cluster size). Strata without a target get
    * rate 0 (excluded). Targets keyed by strata ABSENT from
    * tokensByStratum fail loudly (a misspelled stratum name would
    * otherwise vanish silently and fall through to stratifiedSample's
    * defaultRate); a measured-but-empty stratum (0 tokens) is accepted
    * and gets rate 0 — sampling cannot create data.
    */
  def rebalanceRates(tokensByStratum: Map[String, Long],
      targetShares: Map[String, Double]): Map[String, Double] = {
    require(targetShares.values.forall(_ >= 0.0), "negative target share")
    // a target share keyed by a misspelled/absent stratum would otherwise
    // vanish silently AND that stratum would fall through to downstream
    // stratifiedSample's defaultRate (often 1.0) instead of the intended mix
    val unknown = targetShares.keySet -- tokensByStratum.keySet
    require(unknown.isEmpty,
      s"targetShares reference strata absent from tokensByStratum: " +
        s"${unknown.toSeq.sorted.mkString(", ")} — pass shares only for " +
        "measured strata (use corpusSummary to enumerate them)")
    val active = targetShares.filter { case (s, share) =>
      share > 0.0 && tokensByStratum.getOrElse(s, 0L) > 0L
    }
    if (active.isEmpty)
      return tokensByStratum.keys.map(_ -> 0.0).toMap
    val c = active.map { case (s, share) =>
      tokensByStratum(s).toDouble / share
    }.min
    tokensByStratum.keys.map { s =>
      s -> active.get(s).fold(0.0)(share =>
        math.min(1.0, c * share / tokensByStratum(s).toDouble))
    }.toMap
  }

  /** Training-sequence packing (GPT-style concatenate-and-chunk): lay the
    * documents out in a deterministic hash order, concatenate their token
    * streams, and cut at every `seqLen` tokens — a document may SPAN
    * sequences (the standard pretraining packing: zero padding waste,
    * unlike first-fit bin packing whose tail bins pad). Emits one row per
    * non-empty document:
    *   (doc_id, shard, n_tokens, first_seq, last_seq, seq_offset)
    * where sequence ids are shard-local and seq_offset is the document's
    * start position inside first_seq — exactly the index a sequence
    * loader needs to materialize any sequence by slicing its documents.
    * Rows with a null doc_id are dropped (shared [[packingLayout]]
    * contract with [[packDocsNextFit]]).
    *
    * Scale shape: packing runs per SHARD (shard = hash(doc_id, salt) mod
    * nShards), so the cumulative-sum window is `partitionBy(shard)` —
    * nShards independent windows, NO global sort / single-partition
    * window. At 100 TB pick nShards so one shard's (doc_id, pkey,
    * n_tokens) rows — 24 bytes/doc, not the text — fit an executor; the
    * layout is a pure function of (salt, nShards, seqLen), so it
    * reproduces bit-identically on any cluster size, and a resumed or
    * re-run job regenerates the identical index (same property as
    * stratifiedSample). Token count = whitespace tokens (the q08
    * `ws_tokens` definition); swap `tokenizer` for a BPE-count column to
    * pack by real tokenizer length.
    */
  /** Shared deterministic layout prelude of [[packSequences]] and
    * [[packDocsNextFit]] — the SINGLE definition of the packing hash
    * order both operators promise to agree on: 60-bit masked
    * md5_long(doc_id, salt) as `pkey`, `shard` = pkey mod nShards,
    * tokenized `n_tokens`, empty docs and null doc_ids dropped (a
    * packing index is meaningless without an id to load by, and a null
    * id would hash to a null shard). Keeping this in one place means an
    * edit to the key, mask, or null handling cannot desynchronize the
    * two packings' "same hash order" guarantee.
    */
  private def packingLayout(docs: DataFrame, nShards: Int, salt: String,
      tokenizer: Column => Column): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val key = call_function("md5_long",
      concat(col("doc_id").cast("string"), lit(salt))).bitwiseAND(lit(Mask60))
    docs
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), key.as("pkey"),
        tokenizer(col("text")).cast("long").as("n_tokens"))
      .withColumn("shard", col("pkey") % nShards)
      .filter(col("n_tokens") > 0)
  }

  def packSequences(docs: DataFrame, seqLen: Int, nShards: Int = 64,
      salt: String = "pack-v1",
      tokenizer: Column => Column = t => size(TextAnalysis.wsTokens(t)))
      : DataFrame = {
    require(seqLen > 0, s"seqLen $seqLen")
    require(nShards > 0, s"nShards $nShards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("pkey"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    packingLayout(docs, nShards, salt, tokenizer)
      .withColumn("cum", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        floor(col("cum") / seqLen).cast("long").as("first_seq"),
        floor((col("cum") + col("n_tokens") - lit(1)) / seqLen).cast("long")
          .as("last_seq"),
        (col("cum") % seqLen).as("seq_offset"))
  }

  /** Document-boundary sequence packing (next-fit): lay each shard's
    * documents out in the SAME deterministic hash order as
    * [[packSequences]], but close a bin whenever the next document would
    * not fit — no document ever spans two training sequences. This is
    * the packing discipline for runs that must avoid cross-document
    * attention contamination (Ding et al. 2024, "Fewer Truncations
    * Improve Language Modeling", arXiv:2404.10830, motivates
    * boundary-respecting packing; next-fit is its deterministic
    * ONE-PASS member — best-fit packs tighter but needs a mutable bin
    * index per shard, next-fit needs three registers). A document longer
    * than `seqLen` cannot fit any bin: it is emitted ALONE in its own
    * bin with `oversize = true` (the loader truncates or chunks it —
    * silently dropping it would bias the corpus against long documents).
    * Emits one row per non-empty document:
    *   (doc_id, shard, n_tokens, bin, pos, oversize)
    * where `bin` is shard-local, dense from 0 in layout order, and
    * `pos` is the document's 0-based slot inside its bin.
    *
    * Scale shape: ONE exchange (hash repartition on shard) + a
    * partition-local sort, then a STREAMING per-shard pass in
    * mapPartitions — next-fit state is three registers (open bin, fill,
    * slot), so memory is O(1) per task no matter how many documents a
    * shard holds, and only the 24-byte (doc_id, pkey, n_tokens)
    * projection ever shuffles — the text stays columnar in the scan.
    * All rows of a shard hash to one partition; the pass resets its
    * registers on every shard boundary, so multiple shards per
    * partition are fine (pick nShards >= cluster cores to keep every
    * core busy). The layout is a pure function of (salt, nShards,
    * seqLen) — bit-identical on any cluster size or re-run, like every
    * sampler here. Rows with a null doc_id are dropped (a packing index
    * is meaningless without an id to load by).
    */
  def packDocsNextFit(docs: DataFrame, seqLen: Int, nShards: Int = 64,
      salt: String = "pack-v1",
      tokenizer: Column => Column = t => size(TextAnalysis.wsTokens(t)))
      : DataFrame = {
    require(seqLen > 0, s"seqLen $seqLen")
    require(nShards > 0, s"nShards $nShards")
    val sorted = packingLayout(docs, nShards, salt, tokenizer)
      // fixed positional layout for the row pass below:
      // 0 doc_id, 1 pkey, 2 n_tokens, 3 shard
      .select(col("doc_id"), col("pkey"), col("n_tokens"), col("shard"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("pkey"), col("doc_id"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      sorted.schema.fields(0), // doc_id, whatever type the caller keys by
      org.apache.spark.sql.types.StructField("shard",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("bin",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("oversize",
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    val cap = seqLen.toLong
    sorted.mapPartitions { it =>
      // next-fit registers, reset on every shard boundary
      var curShard = Long.MinValue
      var bin = 0L // bin currently open for filling
      var fill = 0L // tokens already in the open bin
      var slot = 0 // documents already in the open bin
      it.map { r =>
        val shard = r.getLong(3)
        val n = r.getLong(2)
        if (shard != curShard) {
          curShard = shard; bin = 0L; fill = 0L; slot = 0
        }
        val row: org.apache.spark.sql.Row =
          if (n > cap) {
            // cannot fit any bin: close the open one, sit alone
            if (fill > 0L) bin += 1L
            val out = org.apache.spark.sql.Row(
              r.get(0), shard, n, bin, 0, true)
            bin += 1L; fill = 0L; slot = 0
            out
          } else {
            if (fill + n > cap) { bin += 1L; fill = 0L; slot = 0 }
            val out = org.apache.spark.sql.Row(
              r.get(0), shard, n, bin, slot, false)
            fill += n; slot += 1
            out
          }
        row
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Snapshot delta between two corpus builds (the incremental-crawl
    * consumption stage): classify every key as `added` (in the new
    * snapshot only), `removed` (old only), `changed` (both, digest
    * differs) or `unchanged` (both, digest equal — excluded unless
    * `includeUnchanged`, since at corpus scale the unchanged mass is
    * ~everything and the delta's whole point is to be small). Downstream
    * re-extraction / re-dedup then runs on `added ∪ changed` instead of
    * the full corpus — the batch analogue of what frontierStale does for
    * fetch planning. Emits (keyCol, status, old_digest, new_digest).
    *
    * A snapshot may hold several rows per key (re-captures): each side
    * is first reduced to one row per key with the MINIMUM digest as the
    * representative — deterministic and order-independent (the smallest-
    * wins keeper convention used across the dedup operators). Rows whose
    * key is null are dropped (an equality join cannot track them); rows
    * whose digest is null (null text) stay, compare null-safely, and two
    * all-null sides read `unchanged`.
    *
    * Scale shape: each side collapses map-side (partial min-aggregate)
    * to one ~50-byte (key, digest) row per key before its single
    * exchange — the text never shuffles because the digest is computed
    * in the scan projection — then one key-keyed full outer join (AQE
    * picks SMJ; both sides are narrow). Nothing here is quadratic and
    * nothing collects.
    */
  def corpusDelta(oldSnap: DataFrame, newSnap: DataFrame,
      keyCol: String = "url", digest: Column = md5(col("text")),
      includeUnchanged: Boolean = false): DataFrame = {
    def side(df: DataFrame, as: String): DataFrame = df
      .filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(min(digest).as(as))
    val o = side(oldSnap, "old_digest").withColumnRenamed(keyCol, "graft_ok")
    val n = side(newSnap, "new_digest").withColumnRenamed(keyCol, "graft_nk")
    val joined = o.join(n, col("graft_ok") === col("graft_nk"), "full_outer")
      .select(
        coalesce(col("graft_ok"), col("graft_nk")).as(keyCol),
        when(col("graft_ok").isNull, lit("added"))
          .when(col("graft_nk").isNull, lit("removed"))
          .when(col("old_digest") <=> col("new_digest"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("old_digest"), col("new_digest"))
    if (includeUnchanged) joined
    else joined.filter(col("status") =!= "unchanged")
  }

  /** CCNet-style language-model quality scoring: per-document score from
    * the embedded deterministic char-n-gram LM (the same model the
    * extraction kernel's dehyphenation uses), via the codegen'd
    * `lm_score` Catalyst expression — no UDF, no external service, zero
    * shuffle. Lower = more natural text; `kept` = score <= maxScore. The
    * score column is kept so callers can threshold-sweep without
    * recomputing. Not SQL-recomputable (the LM lives in the JVM), so the
    * gate covers it rows-only; FunctionsSpec pins lm_score == the typed
    * Scorer, and CorpusSpec pins the natural-vs-gibberish ordering.
    *
    * Scale note: the LM walk is O(chars) per row with a per-thread LRU —
    * linear and embarrassingly parallel, but ~10x the cost of the regex
    * quality rules; run gopherQualityFilter FIRST so the LM only scores
    * survivors (the reference makes the same observation about its
    * char-LM being the per-document hot spot).
    */
  def perplexityFilter(docs: DataFrame, maxScore: Double): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    Partitioning.spreadSmall(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        round(expr("lm_score(text)"), 6).as("lm_score"))
      .withColumn("kept", col("lm_score") <= maxScore)
  }

  /** Per-stratum corpus report (the dashboard/reporting query of a
    * training-data pipeline): doc counts, token mass, mean tokens and
    * mean dup-word ratio per stratum. One pass: every metric is a plain
    * column expression feeding a hash aggregate with map-side partials —
    * shuffle traffic is (strata x 5 numbers), independent of corpus size.
    */
  def corpusSummary(docs: DataFrame, stratum: Column): DataFrame = {
    val toks = TextAnalysis.wsTokens(col("text"))
    val loToks = TextAnalysis.wsTokens(lower(col("text")))
    val n = size(toks)
    // all aggregates are EXACT integer sums; ratios divide two longs at
    // the end — no order-dependent double summation, so the result is
    // bit-identical on any partitioning (and to the SQL oracle)
    Partitioning.spreadSmall(docs.toDF())
      .select(stratum.as("stratum"), n.cast("long").as("n_tok"),
      length(col("text")).cast("long").as("n_char"),
      (n - size(array_distinct(loToks))).cast("long").as("n_dup"))
      .groupBy(col("stratum"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        sum(col("n_char")).as("total_chars"),
        round(sum(col("n_tok")).cast("double") / count(lit(1)), 6)
          .as("avg_tokens"),
        round(sum(col("n_dup")).cast("double") /
          greatest(sum(col("n_tok")), lit(1L)), 6).as("dup_word_rate"))
      .orderBy(col("stratum"))
  }

  /** Corpus-level boilerplate-line removal (the RefinedWeb/CCNet line-dedup
    * shape): a line occurring in more than `maxDocFreq` distinct documents
    * is boilerplate (nav text, cookie banners, signatures) and is dropped
    * from every document; remaining lines are reassembled in order.
    *
    * Scale shape: lines are deduped per doc map-side and only the 8-byte
    * md5_long line hash crosses the frequency shuffle; the hot-line set is
    * tiny by construction (it's the boilerplate), so the drop is a
    * broadcast-able left_anti on the hash. Reassembly shuffles each doc's
    * surviving (pos, line) pairs once — the one unavoidable full-text
    * shuffle, keyed by doc_id. Exact-by-construction, so the gate oracle
    * re-derives it line for line.
    */
  def removeBoilerplateLines(docs: DataFrame, maxDocFreq: Long): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val lines = docs.select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .withColumn("h", call_function("md5_long", col("line")))
    val hot = lines.select(col("doc_id"), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("line_df"))
      .filter(col("line_df") > maxDocFreq)
      .select("h")
    val rebuilt = lines.join(hot, Seq("h"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), "\n").as("text"))
    // row-count preserving: a doc whose EVERY line is boilerplate has no
    // surviving line rows and would otherwise vanish from the corpus —
    // it must become an empty-text row instead (downstream joins key on
    // doc_id; silently losing documents is not line removal)
    docs.select(col("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
  }

  /** CCNet-style GLOBAL paragraph dedup, keep-first (Wenzek et al.,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data", 2020 — their dedup unit is the newline-separated
    * paragraph): every paragraph of at least `minChars` characters
    * keeps only its FIRST occurrence corpus-wide (first = smallest
    * `(doc_id, position)`, the deterministic winner), later copies are
    * removed from their documents; shorter paragraphs pass through
    * unconditionally (headers like "Home" or empty spacer lines are
    * not dedup material — removing every later empty line would mangle
    * documents). Complementary to [[removeBoilerplateLines]]: that
    * removes EVERY occurrence of a high-document-frequency line, this
    * keeps exactly one occurrence of ANY duplicated paragraph.
    *
    * This exact form is the gate/oracle surface (DuckDB re-derives the
    * keeper with a window over the raw paragraph text); the grouping
    * shuffle carries the paragraph strings. Row-count preserving the
    * same way as removeBoilerplateLines (a fully-deduplicated doc
    * becomes an empty-text row, never vanishes).
    */
  def dedupParagraphsGlobal(docs: DataFrame, minChars: Int = 10)
      : DataFrame =
    dedupParagraphsKeyed(docs, minChars, hashKey = false)

  /** 100 TB face of [[dedupParagraphsGlobal]]: the keeper aggregation
    * and join-back key `md5_long(line)` (8 bytes) instead of the
    * paragraph string — the [[graft.ops.Web.urlDedupAtScale]]
    * convention (mean web paragraph ~200+ bytes, so the wide shuffle
    * shrinks ~25x; collision odds as documented there). CorpusSpec
    * pins output equality against the exact operator.
    */
  def dedupParagraphsGlobalAtScale(docs: DataFrame, minChars: Int = 10)
      : DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    dedupParagraphsKeyed(docs, minChars, hashKey = true)
  }

  /** The one shared keep-first implementation; the two public faces
    * differ ONLY in the keeper join key (the paragraph itself, or its
    * 8-byte md5_long) so the keeper/rebuild semantics cannot diverge.
    * The exact face joins on `line` DIRECTLY — no aliased copy, so the
    * paragraph bytes cross the shuffle once, not twice.
    */
  private def dedupParagraphsKeyed(docs: DataFrame, minChars: Int,
      hashKey: Boolean): DataFrame = {
    val lines = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
    val candidates0 = lines.filter(length(col("line")) >= minChars)
    val (candidates, joinKey) =
      if (hashKey)
        (candidates0.withColumn("graft_k",
          call_function("md5_long", col("line"))), "graft_k")
      else (candidates0, "line")
    val keepers = candidates.groupBy(col(joinKey))
      .agg(min(struct(col("doc_id"), col("pos"))).as("keeper"))
    val kept = candidates.join(keepers, Seq(joinKey))
      .filter(struct(col("doc_id"), col("pos")) === col("keeper"))
      .select(col("doc_id"), col("pos"), col("line"))
      .unionByName(lines.filter(length(col("line")) < minChars))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), "\n").as("text"))
    docs.select(col("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
  }

  /** Per-HOST corpus summary — the domain-curation stage of a web
    * pipeline (RefinedWeb-style: host-level counts and token mass drive
    * manual blocklists, domain caps, and per-site quality review): one
    * row per politeness host ([[graft.ops.Web.hostOf]], the same
    * definition the robots gate and scheduler key on) with document
    * count, total whitespace tokens (the q29 convention) and mean
    * tokens per doc. Deliberately NO global-share column — that would
    * need a single-partition window; the output is one narrow row per
    * host, so callers derive shares driver-side. Map-side-combinable
    * count+sum on the host key; null/unparseable urls group under ""
    * (coalesced HERE — [[graft.ops.Web.hostOf]] itself null-propagates
    * for the gate path's null-survival convention).
    */
  def hostSummary(docs: DataFrame, urlCol: String = "url",
      textCol: String = "text"): DataFrame =
    Partitioning.spreadSmall(docs.select(col(urlCol), col(textCol))).select(
        coalesce(graft.ops.Web.hostOf(col(urlCol)), lit("")).as("host"),
        // a null text cell counts 0 tokens, matching the host side's
        // null handling — size() on a null array is -1 under legacy
        // sizeOfNull (null under ANSI), either of which would silently
        // skew total_tokens/avg_doc_tokens for hosts with null rows
        size(TextAnalysis.wsTokens(coalesce(col(textCol), lit(""))))
          .cast("long").as("n_tok"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        round(sum(col("n_tok")).cast("double") / count(lit(1)), 6)
          .as("avg_doc_tokens"))

  /** Per-host domain CAP — the curation stage [[hostSummary]] exists to
    * feed (RefinedWeb-style host budgets: no single domain may dominate
    * the corpus): keep at most `maxDocs` documents and at most
    * `maxTokens` whitespace tokens per politeness host
    * ([[graft.ops.Web.hostOf]], the shared definition), dropping the
    * rest. The keeper order is smallest `doc_id` first (the urlDedup
    * convention — deterministic for unique ids), and BOTH caps are
    * prefix cuts over that order: a document is kept iff its host rank
    * `<= maxDocs` AND the host's cumulative token count THROUGH it
    * `<= maxTokens` — cumulative over ALL prior docs of the host, so
    * the kept set is a clean prefix (an analytic window re-derives it
    * exactly; no greedy knapsack nondeterminism). Null/unparseable
    * urls group under host "" and are capped like any host; null text
    * counts 0 tokens (the [[hostSummary]] conventions).
    *
    * Output: the input columns plus `host`, `n_tok`, `host_rank`,
    * `host_cum_tokens` (the audit columns curation reviews want) —
    * pre-existing columns of those names are OVERWRITTEN (the
    * [[stratifiedSample]] convention); rename upstream if the input
    * uses them.
    *
    * Scale shape — the reason this is not one naive window: a window
    * partitioned on host alone puts one viral host's every document in
    * ONE task. Instead a salted two-phase cut with a DROP-POINT fence:
    * phase 1 ranks within (host, hash-salt of `saltParts` buckets)
    * under the SAME doc_id order and applies both caps per bucket,
    * passing each bucket's FIRST dropped row through as a zero-weight
    * MARKER (drops form a bucket suffix, so lag() finds the
    * transition in the same window pass). Phase 2's exact window over
    * the survivors then additionally cuts every row at or beyond the
    * host's smallest marker — the first drop point — computed as a
    * whole-partition min over the same host partitioning (no extra
    * exchange, no second evaluation of phase 1, ≤ `saltParts` marker
    * rows per host). Soundness: (a) a phase-1-dropped
    * row d exceeded a cap within its bucket, and bucket rank/cumsum
    * never exceeds the host-global one (bucket rows are a subset,
    * tokens non-negative), so d is globally cut — and the global kept
    * set is a PREFIX of doc_id order, so EVERY row after d is globally
    * cut too: the fence drops only rows the single-window answer
    * drops; (b) every row before the fence survived phase 1, so phase
    * 2's rank/cumsum are computed over ALL rows below the fence —
    * exact — and rows at/after the fence are gone regardless of their
    * (otherwise underestimated) phase-2 cumsum. Without the fence a
    * salt bucket could swallow a mid-host row's token mass and let a
    * later small row sneak under the budget — the classic partial-
    * prefix-sum trap. CorpusSpec cross-checks randomized corpora
    * against a brute-force single-window reference across salt counts.
    * Phase 2's per-host partition is bounded by `saltParts * maxDocs`
    * rows when `maxDocs` is set (and by the token budget when only
    * `maxTokens` is — zero-token docs are the one unbounded case, and
    * they cost the budget nothing by definition; set `maxDocs` too
    * when capping hostile hosts).
    */
  def capPerHost(docs: DataFrame, maxDocs: Option[Long] = None,
      maxTokens: Option[Long] = None, urlCol: String = "url",
      textCol: String = "text", saltParts: Int = 32): DataFrame = {
    require(maxDocs.nonEmpty || maxTokens.nonEmpty,
      "capPerHost needs maxDocs and/or maxTokens")
    require(maxDocs.forall(_ >= 0) && maxTokens.forall(_ >= 0),
      "caps must be non-negative")
    import org.apache.spark.sql.expressions.Window
    val base = docs
      .withColumn("host",
        coalesce(graft.ops.Web.hostOf(col(urlCol)), lit("")))
      .withColumn("n_tok",
        size(TextAnalysis.wsTokens(coalesce(col(textCol), lit(""))))
          .cast("long"))
    def cut(rank: Column, cum: Column): Column =
      maxDocs.map(m => rank <= m).getOrElse(lit(true)) &&
        maxTokens.map(m => cum <= m).getOrElse(lit(true))
    val w1 = Window
      .partitionBy(col("host"), col("graft_salt")).orderBy(col("doc_id"))
    // phase 1 in ONE window pass: keep-decision per bucket, plus a
    // MARKER on each bucket's first dropped row (drops form a bucket
    // SUFFIX — rank and cumsum are monotone — so the first drop is the
    // keep->drop transition lag() sees). The markers carry the fence
    // downstream without a second evaluation of this subtree.
    val marked = base
      .withColumn("graft_salt",
        pmod(xxhash64(col("doc_id")), lit(saltParts.toLong)))
      .withColumn("graft_r1", row_number().over(w1).cast("long"))
      .withColumn("graft_c1", sum(col("n_tok")).over(
        w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("graft_keep1", cut(col("graft_r1"), col("graft_c1")))
      .withColumn("graft_marker", !col("graft_keep1") &&
        coalesce(lag(col("graft_keep1"), 1).over(w1), lit(true)))
      .filter(col("graft_keep1") || col("graft_marker"))
      .drop("graft_salt", "graft_r1", "graft_c1", "graft_keep1")
    // phase 2: the fence = the host's smallest marker doc_id (a
    // whole-partition min over the SAME host partitioning — no extra
    // exchange); rank/cumsum count only real rows (markers add 0), so
    // below the fence they equal the single-window values exactly
    val w2 = Window.partitionBy(col("host")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wHost = Window.partitionBy(col("host"))
    marked
      .withColumn("graft_fence",
        min(when(col("graft_marker"), col("doc_id"))).over(wHost))
      .withColumn("host_rank",
        sum(when(col("graft_marker"), lit(0L)).otherwise(lit(1L))).over(w2))
      .withColumn("host_cum_tokens",
        sum(when(col("graft_marker"), lit(0L)).otherwise(col("n_tok")))
          .over(w2))
      .filter(!col("graft_marker") &&
        (col("graft_fence").isNull || col("doc_id") < col("graft_fence")) &&
        cut(col("host_rank"), col("host_cum_tokens")))
      .drop("graft_marker", "graft_fence")
  }

  /** [[capPerHost]] with the budget given as a SHARE of the corpus
    * token mass (the RefinedWeb phrasing: "no host may exceed x% of
    * tokens"): one scalar aggregation derives the total, the per-host
    * budget is `floor(share * total)`, and the cap itself is
    * [[capPerHost]]'s deterministic prefix cut. The total is computed
    * over the INPUT corpus (pre-cap — the reproducible definition: a
    * post-cap total would make the budget a fixpoint problem).
    */
  def capPerHostByTokenShare(docs: DataFrame, maxTokenShare: Double,
      maxDocs: Option[Long] = None, urlCol: String = "url",
      textCol: String = "text", saltParts: Int = 32): DataFrame = {
    require(maxTokenShare > 0.0 && maxTokenShare <= 1.0,
      s"share $maxTokenShare out of (0,1]")
    // coalesce: sum() over zero rows is SQL NULL — an empty (or
    // fully-pre-filtered) corpus must yield an empty result, not an NPE
    val total = docs.select(
      coalesce(sum(size(TextAnalysis.wsTokens(coalesce(col(textCol),
        lit("")))).cast("long")), lit(0L)).as("t"))
      .collect()(0).getLong(0)
    capPerHost(docs, maxDocs,
      Some(math.floor(maxTokenShare * total).toLong),
      urlCol, textCol, saltParts)
  }

  // ---------- global token-budget curation ----------

  /** Shared narrow layout of [[tokenBudgetTake]]: project the corpus down
    * to (id, quality, n_tokens) — ~24 bytes a row, never the text — and
    * lay it out in global (quality DESC, id ASC) order as a RANGE
    * exchange plus partition-LOCAL sorts (no single-partition global
    * sort ever materializes). Exposed package-private so the plan shape
    * is pinnable by PlanSpec: one `Exchange rangepartitioning` keyed on
    * (quality, id), zero hash exchanges, zero global Sort.
    *
    * Rows with a null or NaN quality or a null id are unrankable and
    * drop; token counts coalesce null to 0 and clamp negatives to 0
    * (they are counts — the clamp is also what makes the running sum
    * monotone, see [[tokenBudgetTake]]).
    */
  private[graft] def budgetLayout(docs: DataFrame, quality: Column,
      id: Column, nTokens: Column, parts: Int): DataFrame = {
    val p = if (parts > 0) parts
      else docs.sparkSession.sessionState.conf.numShufflePartitions
    docs
      .filter(id.isNotNull && quality.isNotNull &&
        !isnan(quality.cast("double")))
      .select(id.as("id"), quality.cast("double").as("quality"),
        greatest(coalesce(nTokens.cast("long"), lit(0L)), lit(0L))
          .as("n_tokens"))
      .repartitionByRange(p, col("quality").desc, col("id").asc)
      .sortWithinPartitions(col("quality").desc, col("id").asc)
  }

  /** Keep the highest-quality documents that fit a GLOBAL token budget:
    * order the corpus by (quality DESC, id ASC) and keep the maximal
    * prefix whose inclusive running token sum stays <= `budget` — the
    * "best N tokens" stage that turns a scored corpus into a fixed-size
    * training mix (the data-constrained regime of Muennighoff et al.
    * 2023, arXiv:2305.16264, selects by quality under a token budget).
    * Emits one row per KEPT document: (id, quality, n_tokens,
    * cum_tokens); the caller semi-joins ids back to the corpus for text,
    * so document bytes never enter this operator.
    *
    * The rule is exact, not approximate: the boundary tie inside an
    * equal-quality class is broken by id ASC, so the kept set is a pure
    * function of (scores, budget) and re-running on any cluster size
    * reproduces it bit-identically. Because token counts are clamped
    * non-negative the running sum is monotone, which (a) makes
    * `cum_tokens <= budget` equivalent to the prefix rule an ORDER-BY
    * window oracle re-derives, and (b) lets every task stop consuming
    * its partition the moment the budget is crossed — the over-budget
    * tail of the corpus is never even deserialized.
    *
    * Scale shape: the documents NEVER globally sort. Only the narrow
    * [[budgetLayout]] projection range-exchanges; per-partition token
    * sums (one long each) come to the driver, prefix offsets broadcast
    * back, and a streaming mapPartitions pass emits running sums — two
    * narrow jobs, O(partitions) driver state, O(1) task memory. The
    * layout is checkpointed between the two jobs because the
    * range partitioner SAMPLES to place boundaries: an uncached
    * recompute between jobs could re-sample different boundaries and
    * misalign the offsets. The checkpoint freezes the partitioning (an
    * executor loss fails the job loudly rather than silently recomputing
    * a different layout; swap in reliable checkpointing at cluster scale
    * if that tradeoff is wrong for the deployment).
    */
  def tokenBudgetTake(docs: DataFrame, budget: Long,
      quality: Column = col("quality"), id: Column = col("doc_id"),
      nTokens: Column =
        size(TextAnalysis.wsTokens(coalesce(col("text"), lit("")))),
      parts: Int = 0): DataFrame = {
    require(budget >= 0L, s"budget $budget")
    val spark = docs.sparkSession
    val narrow = Materialize.checkpoint(budgetLayout(docs, quality, id, nTokens, parts))
    val nParts = narrow.rdd.getNumPartitions
    val perPart = narrow
      .select(spark_partition_id().as("pid"), col("n_tokens"))
      .groupBy(col("pid")).agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = new Array[Long](math.max(nParts, 1))
    var acc = 0L
    var i = 0
    while (i < offsets.length) {
      offsets(i) = acc
      acc += perPart.getOrElse(i, 0L)
      i += 1
    }
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      narrow.schema.fields(0), // id, whatever type the caller keys by
      org.apache.spark.sql.types.StructField("quality",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cum_tokens",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val bc = spark.sparkContext.broadcast(offsets)
    val b = budget
    narrow.mapPartitions { it =>
      var cum = bc.value(org.apache.spark.TaskContext.getPartitionId())
      if (cum > b) Iterator.empty // whole partition is past the budget
      else it.map { r =>
        cum += r.getLong(2)
        org.apache.spark.sql.Row(r.get(0), r.getDouble(1), r.getLong(2), cum)
      }.takeWhile(_.getLong(3) <= b)
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  // ---------- per-stratum score buckets (CCNet head/middle/tail) ----------

  /** Per-stratum score buckets by EXACT order statistics — the CCNet
    * head/middle/tail split (Wenzek et al. 2020, arXiv:1911.00359 §4.3:
    * documents bin by LM perplexity per language; CCNet estimates the
    * cutoffs on a sample, this computes them exactly). For each cut
    * fraction num/den the cutoff is the smallest score whose cumulative
    * row count reaches ceil(n * num / den) of the stratum's n rows, and
    * a row's bucket is the first cut whose cutoff its score does not
    * exceed. Buckets read in ASCENDING score order: with score =
    * perplexity the default labels ("head","middle","tail") match CCNet
    * (lower perplexity = better = head); for a higher-is-better score
    * pass ascending labels, e.g. ("tail","middle","head").
    *
    * Cut fractions are exact RATIONALS (num, den) and every cutoff is an
    * ORDER STATISTIC — an actual score value picked by pure integer rank
    * arithmetic, never an interpolated quantile — so a SQL oracle on
    * another engine re-derives the assignment bit-for-bit (percentile
    * INTERPOLATION differs across engines in the last ULP at exactly the
    * rows that straddle a cutoff; rank arithmetic cannot). A tied score
    * class lands WHOLE in its lowest eligible bucket by construction, so
    * bucket sizes are n/3 only up to tie granularity — the documented
    * price of an exactly-reproducible rule.
    *
    * Rows with a null id, null stratum, or null/NaN score drop. Emits
    * (id, stratum, score, bucket).
    *
    * Scale shape: the corpus collapses map-side to (stratum, score)
    * HISTOGRAM cells before the only wide ops — the per-stratum running
    * count runs over distinct scores, not rows, so a 6-decimal score has
    * at most ~10^6 cells per stratum no matter the corpus size (pick the
    * score's precision with that in mind). Cutoffs collapse to one row
    * per stratum and BROADCAST back; assignment is map-only. The
    * document table itself never shuffles.
    */
  def scoreBuckets(docs: DataFrame, stratum: Column, score: Column,
      cuts: Seq[(Int, Int)] = Seq((1, 3), (2, 3)),
      labels: Seq[String] = Seq("head", "middle", "tail"),
      id: Column = col("doc_id")): DataFrame = {
    require(cuts.nonEmpty, "at least one cut")
    require(labels.size == cuts.size + 1,
      s"${cuts.size} cuts need ${cuts.size + 1} labels, got ${labels.size}")
    cuts.foreach { case (num, den) =>
      require(num > 0 && den > 0 && num < den, s"cut $num/$den not in (0,1)")
    }
    require(cuts.sliding(2).forall {
      case Seq((n1, d1), (n2, d2)) => n1.toLong * d2 < n2.toLong * d1
      case _ => true
    }, s"cuts $cuts must strictly ascend or a bucket interval is empty")

    val W = org.apache.spark.sql.expressions.Window
    val base = docs
      .filter(id.isNotNull && stratum.isNotNull && score.isNotNull &&
        !isnan(score.cast("double")))
      .select(id.as("id"), stratum.as("stratum"),
        score.cast("double").as("score"))
    val hist = base.groupBy(col("stratum"), col("score"))
      .agg(count(lit(1)).as("cnt"))
    // histogram cells are unique per (stratum, score), so the running
    // count has no within-frame ties to worry about
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(W.partitionBy(col("stratum"))
        .orderBy(col("score"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("n", sum(col("cnt")).over(W.partitionBy(col("stratum"))
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
    val cutAggs = cuts.zipWithIndex.map { case ((num, den), j) =>
      // rank threshold ceil(n*num/den) via integer `div` — exact at any n
      min(when(col("cum") >= expr(s"(n * $num + ${den - 1}) div $den"),
        col("score"))).as(s"c$j")
    }
    val cutoffs = cum.groupBy(col("stratum"))
      .agg(cutAggs.head, cutAggs.tail: _*)
    // first cut whose cutoff the score does not exceed; k_j is always in
    // [1, n] so every c_j is a real score value, never null
    val bucket = cuts.indices.foldRight(lit(labels.last): Column) {
      (j, acc) =>
        when(col("score") <= col(s"c$j"), lit(labels(j))).otherwise(acc)
    }
    base.join(broadcast(cutoffs), Seq("stratum"))
      .select(col("id"), col("stratum"), col("score"), bucket.as("bucket"))
  }

  // ---------- C4 cleaning heuristics ----------

  /** C4's Common-Crawl cleaning heuristics (Raffel et al. 2020,
    * arXiv:1910.10683 §2.2) as ONE map-only pass. Line level: keep only
    * lines that (a) end in terminal punctuation — `.` `!` `?`, optionally
    * followed by a closing quote — after right-trimming spaces, (b) have
    * at least `minWordsPerLine` whitespace words, and (c) mention neither
    * "javascript" nor any of the paper's cookie/policy boilerplate
    * phrases (case-insensitive). Page level: drop the page when the
    * ORIGINAL text contains "lorem ipsum" (case-insensitive) or a `{`
    * (code), or when fewer than `minSentences` sentences survive line
    * filtering. The paper's bad-words page rule is `pageDropWords`
    * (default empty — the list is deployment policy, not engine
    * semantics); its three-sentence-span dedup is the separate global
    * dedup stage ([[dedupParagraphsGlobal]] / Dedup), as in the paper.
    *
    * Sentences are COUNTED, not split: occurrences of terminal
    * punctuation (+ optional quote) followed by a space/tab/newline or
    * end-of-text in the CLEANED text — a deterministic regex count a SQL
    * oracle re-derives exactly, not an NLP sentence model.
    *
    * Emits every input row with (id, text_clean, lines_kept, n_sentences,
    * kept) — filter-as-flag like [[gopherQualityFilter]], so audits can
    * see WHY a page dropped; callers `.filter(col("kept"))` and swap
    * text_clean in. Scale shape: zero shuffle, zero UDF, plan-pinned
    * map-only. The higher-order array ops are interpreted (Spark's
    * lambda expressions are CodegenFallback), so the expensive line
    * predicate is STAGED into its own projection and evaluated once per
    * row — Catalyst's CollapseProject keeps multi-use non-cheap
    * expressions un-inlined, which the plan pin asserts by counting
    * `lambdafunction` occurrences.
    */
  def c4Filter(docs: DataFrame, minWordsPerLine: Int = 5,
      minSentences: Int = 3, pageDropWords: Seq[String] = Seq.empty,
      id: Column = col("doc_id"), text: Column = col("text")): DataFrame = {
    require(minWordsPerLine >= 0 && minSentences >= 0,
      s"negative threshold: $minWordsPerLine/$minSentences")
    val policyPhrases = Seq("javascript", "terms of use", "privacy policy",
      "cookie policy", "uses cookies", "use of cookies", "use cookies")
    val raw = coalesce(text, lit(""))
    val lineOk = (l: Column) => {
      val phraseHit = policyPhrases
        .map(p => lower(l).contains(p)).reduce(_ || _)
      rtrim(l).rlike("[.!?][\"']?$") &&
        size(filter(split(trim(l), "\\s+"), w => w =!= "")) >=
          minWordsPerLine && !phraseHit
    }
    val pageLower = lower(raw)
    val pageDrop = (Seq("lorem ipsum").map(pageLower.contains(_)) ++
      Seq(raw.contains("{")) ++
      pageDropWords.map(w => pageLower.contains(w.toLowerCase)))
      .reduce(_ || _)
    Partitioning.spreadSmall(docs.toDF())
      .select(id.as("id"), pageDrop.as("graft_page_drop"),
        filter(split(raw, "\n"), lineOk).as("graft_kl"))
      .select(col("id"), col("graft_page_drop"),
        array_join(col("graft_kl"), "\n").as("text_clean"),
        size(col("graft_kl")).cast("long").as("lines_kept"))
      .select(col("id"), col("graft_page_drop"), col("text_clean"),
        col("lines_kept"),
        size(regexp_extract_all(concat(col("text_clean"), lit("\n")),
          lit("[.!?][\"']?[ \t\n]"), lit(0))).cast("long").as("n_sentences"))
      .select(col("id"), col("text_clean"), col("lines_kept"),
        col("n_sentences"),
        (!col("graft_page_drop") &&
          col("n_sentences") >= minSentences).as("kept"))
  }

  /** Corpus-level n-gram document frequency, top k. Counting is DF (one
    * count per doc per distinct gram), the quantity dedup/decontamination
    * reason about. Shape at scale: map-side dedup (array_distinct) ->
    * partial count aggregation -> TakeOrderedAndProject for the top-k (a
    * per-partition k-heap + single k-row merge at the driver — NOT a
    * global sort). Ties break lexicographically so the result is total-
    * order deterministic.
    */
  def ngramDocFreqTopK(df: DataFrame, n: Int = 2, k: Int = 50): DataFrame = {
    val toks = TextAnalysis.wsTokens(lower(col("text")))
    Partitioning.spreadSmall(df.select(col("text")))
      .select(explode(wordGrams(toks, n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("gram"))
      .limit(k)
  }

  /** Sliding-window document chunking — the SPLIT side of sequence prep
    * ([[packSequences]] is the concat side): every doc longer than
    * `maxTokens` whitespace tokens becomes overlapping windows of
    * exactly `maxTokens` tokens at stride `maxTokens - overlap`, plus
    * one final window ending at the last token — the HF-tokenizers
    * `stride` convention, chosen over "emit every start < n" because
    * that rule's degenerate tail window (fully contained in its
    * predecessor) adds rows that carry no new tokens. Emits one row per
    * chunk: (id, chunk_id, start_tok, n_tok, chunk text) where chunk_id
    * counts from 0 in token order and the text is the token window
    * re-joined with single spaces (token-window chunking normalizes
    * intra-chunk whitespace BY DEFINITION — the window is a token
    * slice, not a byte slice). Docs with no tokens (empty/blank text)
    * emit nothing: there is no window to train on. Null text behaves
    * like empty (split of null is null; the guard filters it).
    *
    * Map-only: tokens, starts (an integer `sequence` + the
    * predecessor-coverage filter), `posexplode`, slice + join — zero
    * shuffle at any corpus size, and chunk rows inherit the input's
    * partitioning for the downstream tokenize/pack stages.
    */
  def chunkByTokens(docs: DataFrame, maxTokens: Int, overlap: Int = 0,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxTokens > 0 && overlap >= 0 && overlap < maxTokens,
      s"need 0 <= overlap < maxTokens, got maxTokens=$maxTokens overlap=$overlap")
    val stride = maxTokens - overlap
    val toks = TextAnalysis.wsTokens(col(textCol))
    // keep start s when it's the first window or its PREDECESSOR
    // (s - stride) did not already reach the end — so the last kept
    // window is the one that covers the final token
    val starts = filter(
      sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)), lit(stride)),
      s => (size(col("toks")) > 0) &&
        (s === 0 || s + lit(maxTokens - stride) < size(col("toks"))))
    Partitioning.spreadSmall(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), toks.as("toks"))
      .select(col(idCol), col("toks"),
        posexplode(starts).as(Seq("chunk_id", "start_tok")))
      .select(col(idCol), col("chunk_id"), col("start_tok"),
        least(size(col("toks")) - col("start_tok"), lit(maxTokens))
          .cast("long").as("n_tok"),
        array_join(slice(col("toks"), col("start_tok") + 1, lit(maxTokens)),
          " ").as("chunk"))
  }
}
