package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline, each designed
  * around its shuffle profile at 100 TB:
  *
  *  - exact: one shuffle on a 16-byte fingerprint (not the text);
  *  - MinHash+LSH: per-doc signatures computed map-side in one pass (no
  *    shingle explosion across the shuffle), then (band, bandHash)
  *    buckets, pair generation inside buckets only;
  *  - SimHash: one 60-bit signature per doc, candidate pairs from
  *    (maxHamming+1) bands (complete by pigeonhole for the requested
  *    radius), verified by exact hamming distance;
  *  - n-gram Jaccard and winnow overlap: inverted indexes whose postings
  *    are the blocks.
  *
  * Every candidate-pair operator here builds only its (key, id, payload)
  * index and its verification: pairs come from [[Blocking.selfPairs]],
  * which owns the purge, the hot-block split, the enumeration and the one
  * checkpoint of the index.
  */
object Dedup {

  // ---------- exact ----------

  /** Exact duplicate groups: normalize -> md5 -> groupBy fingerprint.
    * The shuffle key is the hash, so shuffled bytes ~ 50/row regardless of
    * document size.
    */
  def exactDuplicateGroups(docs: DataFrame): DataFrame =
    Partitioning.spreadSmall(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
      .filter(col("n_docs") > 1)

  /** Exact-dedup'd corpus: keep the min doc_id per fingerprint (window-free
    * formulation: aggregate keeper ids from a NARROW (fp, doc_id)
    * projection, then semi-join the corpus on doc_id — two narrow
    * shuffles on hash/id, no row_number over the full corpus, and the
    * normalize+md5 fingerprint pass runs ONCE (a (fp, doc_id)-keyed
    * semi-join would re-fingerprint every row on the probe side).
    * Assumes `doc_id` is the corpus key (unique) — the same contract
    * every dedup operator here states.
    */
  def dedupExact(docs: DataFrame): DataFrame = {
    val spread = Partitioning.spreadSmall(docs)
    val keepers = spread
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    spread.join(keepers, Seq("doc_id"), "left_semi")
  }

  // ---------- MinHash + LSH ----------

  /** `maxBucketSize` caps LSH bucket membership: a bucket with more docs
    * than this is skipped entirely before pairing (pair count in a
    * bucket is quadratic, and at corpus scale a mega-bucket means
    * corpus-wide boilerplate — which belongs to removeBoilerplateLines /
    * exact dedup, not pair enumeration). Int.MaxValue (default) keeps the
    * exact-vs-oracle behavior; production sets a bound.
    */
  final case class MinHashParams(
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      jaccardThreshold: Double = 0.8,
      maxBucketSize: Int = Int.MaxValue)

  /** Word shingles (n-grams) of the normalized text. */
  def shingles(text: String, n: Int): Set[String] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Set(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  /** MinHash signature: min over shingle hashes per seeded permutation —
    * computed in one pass per document (numHashes mins updated per
    * shingle), map-side only.
    */
  def minHashSignature(sh: Set[String], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val seeds = Hashing.mixedSeeds(numHashes)
    sh.foreach { s =>
      val base = Hashing.fnv1a(s)
      var i = 0
      while (i < numHashes) {
        // == Hashing.seeded(base, i) with the seed mix hoisted out of
        // the (shingle x hash) double loop
        val h = Hashing.mix(base ^ seeds(i))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** [[minHashSignature]] straight from text: bit-identical mins — a
    * duplicate shingle cannot change a min, so the distinct-set
    * materialization (sliding windows + mkString + toSet per document)
    * is skipped and each window hashes incrementally over its tokens
    * ([[Hashing.fnv1aWindow]] == fnv1a of the joined shingle string).
    */
  private[ops] def minHashSignatureFromText(text: String, n: Int,
      numHashes: Int): Array[Long] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val seeds = Hashing.mixedSeeds(numHashes)
    def update(base: Long): Unit = {
      var i = 0
      while (i < numHashes) {
        val h = Hashing.mix(base ^ seeds(i))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    if (toks.length < n) update(Hashing.fnv1a(toks.mkString(" ")))
    else {
      var s = 0
      while (s + n <= toks.length) {
        update(Hashing.fnv1aWindow(toks, s, n))
        s += 1
      }
    }
    sig
  }

  final case class BandKey(doc_id: Long, band: Int, band_hash: Long)

  /** (doc, band, bandHash) rows: numHashes/bands rows per doc — the only
    * thing that crosses the shuffle (no shingles, no text).
    */
  def minHashBands(docs: DataFrame, p: MinHashParams = MinHashParams()): Dataset[BandKey] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = p.numHashes / p.bands
    Partitioning.spreadSmall(
        docs.select(col("doc_id").cast("long"), col("text")))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val sig = minHashSignatureFromText(text, p.shingleSize, p.numHashes)
          (0 until p.bands).iterator.map { b =>
            var h = 0xcbf29ce484222325L
            var i = b * rows
            while (i < (b + 1) * rows) { h = Hashing.mix(h ^ sig(i)); i += 1 }
            BandKey(id, b, h)
          }
        }
      }
  }

  /** Candidate pairs from LSH buckets (distinct (a,b) with a<b), then
    * verified with exact shingle Jaccard by joining the texts back in.
    * Bucket sizes are bounded by real duplicate-cluster sizes, not corpus
    * size.
    */
  def minHashDuplicatePairs(docs: DataFrame, p: MinHashParams = MinHashParams(),
      sortOutput: Boolean = true): DataFrame = {
    val candidates = Blocking.selfPairs(
        minHashBands(docs, p).toDF("id", "band", "band_hash"),
        Seq("band", "band_hash"), p.maxBucketSize)
      .select("a", "b").distinct()
    val out = jaccardVerified(candidates, docs, docs, p)
      .toDF("doc_a", "doc_b", "jaccard")
    // global sort is for the deterministic gate dump; consumers that only
    // need the pair SET (duplicateClusters in CorpusPrep) skip it — a
    // total order over all pairs is a needless full-shuffle at scale
    if (sortOutput) out.orderBy(col("doc_a"), col("doc_b")) else out
  }

  /** Incremental near-dup: new documents checked against a STANDING
    * corpus' MinHash band index without re-banding (or re-reading the
    * text of) the old corpus — the dedup stage an incremental crawl runs
    * on [[graft.ops.Corpus.corpusDelta]]'s `added ∪ changed` set each
    * snapshot, instead of re-deduping the whole corpus. Candidates are
    * band-key matches between the new docs' bands and `index` (pass the
    * LANDED output of [[minHashBands]] over the old corpus — that frame
    * is the thing to persist between snapshots: 24 bytes x bands per
    * doc); each candidate is then verified with exact shingle Jaccard,
    * joining text back in by id — the old corpus is touched only for
    * the candidate ids (a semi-join-sized read, not a scan). When no
    * prebuilt index is passed, it is banded from `oldDocs` on the fly.
    *
    * Returns (doc_old, doc_new, jaccard) with jaccard >= threshold —
    * cross-side pairs only. New-vs-new duplicates are deliberately out
    * of scope (run [[minHashDuplicatePairs]] over the much smaller new
    * batch for those); same-id pairs are excluded (a re-captured id is
    * corpusDelta's `changed`, not a duplicate).
    *
    * Candidate recall equals the full-corpus run's on cross pairs: a
    * band key is a pure per-document function, so index(old) ⋈ bands(new)
    * sees exactly the cross-side subset of the full run's bucket
    * collisions. `maxBucketSize` caps INDEX-side bucket fan-out (the
    * standing corpus is where boilerplate mega-buckets live; the new
    * batch is bounded by construction).
    */
  def minHashIncrementalPairs(oldDocs: DataFrame, newDocs: DataFrame,
      p: MinHashParams = MinHashParams(),
      index: Option[DataFrame] = None): DataFrame = {
    // the cross-side join is the one two-sided enumeration; only the
    // standing index is purged (the new batch is bounded by construction)
    val idx = Blocking.purge(index.getOrElse(minHashBands(oldDocs, p).toDF())
      .select(col("doc_id").as("a"), col("band"), col("band_hash")),
      Seq("band", "band_hash"), p.maxBucketSize)
    val candidates = idx
      .join(minHashBands(newDocs, p).toDF("b", "band", "band_hash"),
        Seq("band", "band_hash"))
      .filter(col("a") =!= col("b"))
      .select("a", "b").distinct()
    jaccardVerified(candidates, oldDocs, newDocs, p)
      .toDF("doc_old", "doc_new", "jaccard")
      .orderBy(col("doc_old"), col("doc_new"))
  }

  /** Exact shingle Jaccard of (a, b) candidate pairs, a's text read from
    * `docsA` and b's from `docsB`; the (a, b, jaccard) rows at or over the
    * threshold, jaccard rounded to 6 decimals.
    */
  private def jaccardVerified(candidates: DataFrame, docsA: DataFrame,
      docsB: DataFrame, p: MinHashParams): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    def texts(docs: DataFrame, side: String) =
      docs.select(col("doc_id").cast("long").as(side), col("text").as(s"text_$side"))
    candidates.join(texts(docsA, "a"), "a").join(texts(docsB, "b"), "b")
      .select(col("a"), col("b"), col("text_a"), col("text_b"))
      .as[(Long, Long, String, String)]
      .map { case (a, b, ta, tb) =>
        val (sa, sb) = (shingles(ta, p.shingleSize), shingles(tb, p.shingleSize))
        val union = sa.union(sb).size.toDouble
        (a, b, if (union == 0) 0.0 else sa.intersect(sb).size.toDouble / union)
      }.toDF("a", "b", "jaccard")
      .filter(col("jaccard") >= p.jaccardThreshold)
      .withColumn("jaccard", round(col("jaccard"), 6))
  }

  // ---------- exact n-gram Jaccard ----------

  /** Exact n-gram-Jaccard near-duplicate pairs via an inverted index:
    *
    *  1. explode each doc to distinct shingle-hash rows (hash, not the
    *     shingle text, crosses the shuffle);
    *  2. pair the docs of each shingle's posting list and count per
    *     (a, b) — the count IS the intersection size, so pair texts are
    *     never materialized;
    *  3. jaccard = inter / (|A| + |B| - inter) from per-doc set sizes
    *     (broadcast-joined when small).
    *
    * `maxDocFreq` drops shingles present in more than that many documents
    * before pairing — stop-shingles ("of the", boilerplate) are what
    * makes the inverted-index join quadratic at corpus scale, and a shingle
    * shared by >F docs can only matter for pairs whose similarity is
    * carried by rarer shingles too (standard ppjoin-style frequency cut;
    * set it to Int.MaxValue for the exact-against-oracle configuration).
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.5, maxDocFreq: Int = Int.MaxValue,
      sortOutput: Boolean = true, minKeptShingles: Int = 0): DataFrame = {
    // The shingle set is built as Column expressions (split/transform/
    // array_distinct — the [[shingles]] semantics exactly: lowercase,
    // whitespace split, n-token windows, whole-text fallback under n
    // tokens) instead of a typed flatMap: no per-row object codec, and
    // the hash is the codegen'd xxhash64 — WHICH 64-bit hash keys the
    // index is free to vary (jaccard counts distinct shingles; the
    // oracle re-derives it from the shingle TEXT), collision odds are
    // the documented n^2/2^64 either way.
    val toksC = filter(split(lower(col("text")), "\\s+"), t => t =!= "")
    val shC = when(size(toksC) < n, array(concat_ws(" ", toksC)))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(toksC) - n),
        i => concat_ws(" ", slice(toksC, i + 1, lit(n))))))
    // checkpointed once for both Blocking calls
    val index = Materialize.checkpoint(Partitioning.spreadSmall(
        docs.select(col("doc_id").cast("long").as("id"), col("text")))
      .select(col("id"), explode(shC).as("graft_sh"))
      .select(col("id"), xxhash64(col("graft_sh")).as("g")))
    val inter = Blocking.selfPairs(index, Seq("g"), maxDocFreq)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    // sizes over the SAME purged universe as the intersection: with the
    // frequency cut on, jaccard is the similarity of the KEPT (rare)
    // shingle sets. Deriving sizes from the unfiltered index would divide
    // a kept-only intersection by full-set sizes — two exact duplicates
    // that are mostly boilerplate would then score near 0 and slip the
    // production near-dup net entirely.
    val sizes = Blocking.purge(index, Seq("g"), maxDocFreq)
      .groupBy(col("id")).agg(count(lit(1)).as("n"))
    val pairs = inter
      .join(broadcast(sizes.toDF("a", "na")), "a")
      .join(broadcast(sizes.toDF("b", "nb")), "b")
      .withColumn("jaccard",
        col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      // kept-set floor: a doc whose kept (rare) set shrank to a handful
      // of shingles makes the ratio high-variance — {X} vs {X, u} scores
      // 0.5 for genuinely different docs. Below the floor the evidence is
      // too thin to call a near-dup.
      .filter(col("na") >= minKeptShingles && col("nb") >= minKeptShingles)
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        round(col("jaccard"), 6).as("jaccard"))
    // global sort is for the deterministic gate dump; prod skips it (a
    // total order over all pairs is a needless full-shuffle at scale)
    if (sortOutput) pairs.orderBy(col("doc_a"), col("doc_b")) else pairs
  }

  /** PRODUCTION near-dup configuration: the frequency cut is ON. The gate
    * entry runs maxDocFreq=Int.MaxValue because its DuckDB oracle is the
    * exact pair set; at corpus scale that setting lets one boilerplate
    * shingle ("terms of service", a license header) shared by millions of
    * documents turn the posting-list pairing quadratic. The cut drops
    * shingles whose doc-frequency exceeds the bound BEFORE pairing —
    * pairs supported only by such stop-shingles are noise for near-dup
    * purposes (standard ppjoin-style prefix-frequency reasoning), and
    * everything that survives is still verified by exact Jaccard on the
    * kept shingles. No global sort.
    */
  def ngramJaccardPairsAtScale(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.8, maxDocFreq: Int = 5000,
      minKeptShingles: Int = 10): DataFrame =
    ngramJaccardPairs(docs, n, threshold, maxDocFreq, sortOutput = false,
      minKeptShingles = minKeptShingles)

  // ---------- duplicate clusters (connected components) ----------

  /** Assign every document touched by a near-dup pair to a duplicate
    * CLUSTER: connected components over the pair graph by min-label
    * propagation WITH pointer jumping — each round a node adopts the
    * smallest of (its label, its neighbors' labels, its label's label).
    * The label-of-label step halves pointer chains, so convergence is
    * O(log diameter) rounds, not O(diameter) (plain propagation moves one
    * hop per round and silently mislabels any chain longer than the round
    * cap — templated/boilerplate corpora produce exactly those chains).
    * Runs to FIXPOINT; `maxRounds` is a safety valve that raises instead
    * of returning wrong labels. Returns (doc_id, cluster) where cluster =
    * smallest doc_id in the component — the canonical keeper.
    *
    * `idACol`/`idBCol` default to the (`doc_a`, `doc_b`) convention every
    * pair operator in this file emits; any two-column edge frame works.
    * NUMERIC id columns are compared as longs (smallest doc_id wins, the
    * q20-pinned contract); non-numeric ids (e.g. [[LinkGraph.mirrorHosts]]
    * `host_a`/`host_b` strings) are compared as strings in Spark's order —
    * `min`/`least` over strings compares UTF8String BYTES, which differs
    * from Scala's UTF-16 code-unit `String` ordering for supplementary
    * characters (U+10000+ sort below U+E000..U+FFFF in UTF-16 but above
    * them in UTF-8), so the driver fast path uses an explicit UTF-8 byte
    * ordering to pick the SAME keeper as the distributed path.
    *
    * Scale shape: each round is two joins + one aggregate on the (small)
    * pair set, not the corpus; a checkpoint per round cuts the lineage so
    * the plan never grows.
    */
  def duplicateClusters(pairs: DataFrame, maxRounds: Int = 64,
      driverUnionFindMax: Long = 1000000L,
      idACol: String = "doc_a", idBCol: String = "doc_b"): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val numericIds =
      pairs.schema(idACol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType] &&
      pairs.schema(idBCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType]
    val (aCol, bCol) =
      if (numericIds) (col(idACol).cast("long"), col(idBCol).cast("long"))
      else (col(idACol).cast("string"), col(idBCol).cast("string"))
    // undirected edge list, both directions. NO distinct (r8): every
    // pair operator in this file emits unique (a, b) rows (they are
    // aggregation outputs), so the two-direction union is already
    // duplicate-free and the distinct was a pure extra exchange; for
    // arbitrary caller edge frames duplicates are harmless anyway —
    // union-find is idempotent per edge and the pointer-jumping
    // min-aggregations absorb repeats (they only made the
    // driverUnionFindMax gate count conservative).
    Materialize.scoped { s =>
      val edges = s.persisted(pairs.select(aCol.as("src"), bCol.as("dst"))
        .union(pairs.select(bCol.as("src"), aCol.as("dst"))))
      // Hybrid: the pair set is tiny relative to the corpus for any sane
      // near-dup threshold (it's the DUPLICATES, not the documents), so up
      // to `driverUnionFindMax` edges (16 bytes each — the cap is ~16 MB)
      // a driver-side union-find with path compression replaces the whole
      // iterative job: one collect instead of 2 joins + 1 agg + 1 count PER
      // ROUND. The distributed pointer-jumping loop below remains the path
      // for genuinely huge duplicate graphs (boilerplate-heavy corpora).
      if (edges.count() <= driverUnionFindMax) {
        val out =
          if (numericIds)
            spark.createDataset(unionFind(edges.as[(Long, Long)].collect()))
          else
            spark.createDataset(unionFind(
              edges.as[(String, String)].collect())(utf8ByteOrdering))
        out.toDF("doc_id", "cluster").orderBy(col("doc_id"))
      } else {
        // a checkpoint per round: the pointer-jumping round references
        // `labels` three times, so without a REAL lineage cut the logical plan
        // grows ~3^rounds and plan stringification alone OOMs the driver
        var labels = Materialize.checkpoint(
          edges.groupBy(col("src")).agg(min(col("dst")).as("m"))
            .select(col("src").as("id"), least(col("src"), col("m")).as("cluster")))
        var changed = 1L
        var round = 0
        while (changed > 0) {
          if (round >= maxRounds)
            throw new IllegalStateException(
              s"duplicateClusters did not converge in $maxRounds rounds " +
                "(pointer jumping needs ~log2(diameter); raise maxRounds)")
          // neighbor's current label, propagated across each edge
          val viaNeighbor = edges
            .join(labels.withColumnRenamed("id", "dst"), "dst")
            .select(col("src").as("id"), col("cluster"))
          // pointer jumping: the label of my label
          val viaPointer = labels.toDF("id", "lbl")
            .join(labels.toDF("lbl", "lbl2"), "lbl")
            .select(col("id"), col("lbl2").as("cluster"))
          val next = Materialize.checkpoint(labels.select(col("id"), col("cluster"))
            .union(viaNeighbor)
            .union(viaPointer)
            .groupBy(col("id")).agg(min(col("cluster")).as("cluster")))
          changed = next.join(labels.withColumnRenamed("cluster", "old"), "id")
            .filter(col("cluster") < col("old")).count()
          labels = next
          round += 1
        }
        labels.select(col("id").as("doc_id"), col("cluster"))
          .orderBy(col("doc_id"))
      }
    }
  }

  /** Pick each duplicate cluster's REPRESENTATIVE by quality instead of
    * by smallest id: keeper = the member with the highest quality score,
    * quality ties broken by smallest id — "keep the best copy, not the
    * first copy" (near-dup clusters routinely pair a clean original with
    * truncated or boilerplate-wrapped mirrors, and the smallest-id keeper
    * convention of [[duplicateClusters]] is arbitrary about which copy
    * survives). Takes the (doc_id, cluster) frame [[duplicateClusters]]
    * emits plus any per-id quality frame — e.g.
    * [[graft.ops.TextAnalysis.qualityScore]] output — and emits one
    * (cluster, doc_id, quality) keeper row per cluster that has at least
    * one scored member.
    *
    * Members with a null quality — or no quality row at all — never
    * contend, and a cluster whose every member is unscored emits nothing
    * (surface unscored docs upstream; crowning one "best" would be
    * fiction). On quality ties the smallest id wins: longs compare
    * numerically, strings in Spark's UTF8String BYTE order — there is no
    * driver-side path here, so the UTF-16 keeper divergence documented
    * on [[duplicateClusters]] cannot reappear.
    *
    * Scale shape: two map-side-combinable aggregates (max quality per
    * cluster, then min id among the maximal members) and two narrow
    * equi-joins keyed on id/cluster — no window, no sort, text never
    * enters. AQE broadcasts the one-row-per-cluster max frame when it is
    * small; at any size every shuffled row is (cluster, id, quality).
    */
  def clusterBest(clusters: DataFrame, quality: DataFrame,
      clusterCol: String = "cluster", idCol: String = "doc_id",
      qualityCol: String = "quality"): DataFrame = {
    val scored = clusters.select(col(idCol), col(clusterCol))
      .join(quality.select(col(idCol), col(qualityCol))
        .filter(col(qualityCol).isNotNull), Seq(idCol))
    val best = scored.groupBy(col(clusterCol))
      .agg(max(col(qualityCol)).as("graft_best_q"))
    scored.join(best, Seq(clusterCol))
      .filter(col(qualityCol) === col("graft_best_q"))
      .groupBy(col(clusterCol), col("graft_best_q"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(clusterCol), col(idCol),
        col("graft_best_q").as(qualityCol))
  }

  /** Driver-side union-find with path halving over a collected edge list —
    * the small-graph fast path of [[duplicateClusters]]. Generic in the id
    * type so numeric and string ids share one implementation; returns
    * (id, root) sorted by id, root = the Ordering-smallest member.
    */
  /** Spark's string `min`/`least` order: unsigned lexicographic over the
    * UTF-8 encoding (UTF8String.compareTo). Scala's default String ordering
    * (UTF-16 code units) disagrees on supplementary-plane characters, so
    * the string-id driver fast path must use THIS ordering to match the
    * distributed pointer-jumping path's keeper.
    */
  private val utf8ByteOrdering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val ba = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(ba.length, bb.length)
      var i = 0
      while (i < n) {
        val c = (ba(i) & 0xff) - (bb(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      ba.length - bb.length
    }
  }

  private def unionFind[T](edges: Array[(T, T)])(
      implicit ord: Ordering[T]): Seq[(T, T)] = {
    val parent = scala.collection.mutable.HashMap.empty[T, T]
    def find(x0: T): T = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // path halving
        x = parent(x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // min root wins -> cluster = smallest id
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
        val m = ord.min(ra, rb)
        parent.getOrElseUpdate(m, m)
      }
    }
    parent.keys.map(id => (id, find(id))).toSeq.sorted
  }

  // ---------- winnowing-fingerprint overlap (partial containment) ----------

  /** Document pairs sharing at least `minShared` winnowing fingerprints
    * (TextAnalysis.winnowSignature — MOSS-style, Schleimer et al. 2003).
    * Whole-doc Jaccard misses PARTIAL containment (a paragraph quoted
    * inside a larger doc); shared winnow fingerprints catch it, because
    * winnowing guarantees every sufficiently long shared substring
    * contributes at least one common fingerprint.
    *
    * Scale shape = the inverted-index n-gram join: signatures are bounded
    * (~chars/window per doc), deduped map-side, and only the 8-byte
    * fingerprint + doc id cross the shuffle. `maxDocFreq` cuts
    * corpus-wide fingerprints (boilerplate) before pairing, same
    * rationale as ngramJaccardPairs.
    */
  def winnowOverlapPairs(docs: DataFrame, minShared: Int = 2,
      maxDocFreq: Int = Int.MaxValue, sortOutput: Boolean = true): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sigs = Partitioning.spreadSmall(
        docs.select(col("doc_id").cast("long"), col("text")))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        TextAnalysis.winnowSignature(t).distinct.iterator.map(h => (id, h))
      }
      .toDF("id", "f")
    val pairs = Blocking.selfPairs(sigs, Seq("f"), maxDocFreq)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("shared"))
    if (sortOutput) pairs.orderBy(col("doc_a"), col("doc_b")) else pairs
  }

  /** PRODUCTION overlap configuration: the frequency cut is ON and the
    * global output sort is off — the gate entry (q30) runs unbounded
    * because its DuckDB oracle is the exact shared-fingerprint pair set,
    * but at corpus scale a single boilerplate fingerprint (a license
    * header, a template footer) present in millions of documents turns
    * fingerprint pairing quadratic. Dropping fingerprints with
    * doc-frequency > maxDocFreq before the join removes exactly the pairs
    * whose only evidence is corpus-wide boilerplate — which are not
    * meaningful containment hits — while every surviving pair still
    * carries >= minShared rare fingerprints. minShared is raised vs the
    * gate default for the same reason ngramJaccardPairsAtScale has a
    * kept-set floor: after the cut, thin evidence is noisy evidence.
    * Mirrors ngramJaccardPairsAtScale (round-2 verdict item 3).
    */
  def winnowOverlapPairsAtScale(docs: DataFrame, minShared: Int = 3,
      maxDocFreq: Int = 5000): DataFrame =
    winnowOverlapPairs(docs, minShared, maxDocFreq, sortOutput = false)

  // ---------- SimHash ----------

  /** Signature width. 60 (not 64) so every bit of the signature and every
    * shifted band key stays in the positive BIGINT range of the DuckDB
    * oracle that recomputes it (no sign-bit special cases on either side).
    */
  val SimHashBits = 60

  /** 60-bit SimHash over whitespace tokens (weight 1 each, multiplicity
    * kept). Token hash = Hashing.md5Long — bit-for-bit recomputable in SQL
    * (DuckDB md5_number_upper), which is what makes the q12 gate oracle an
    * exact all-pairs hamming check rather than a rows-only count.
    */
  def simHash(text: String): Long = {
    val v = new Array[Int](SimHashBits)
    text.toLowerCase(java.util.Locale.ROOT).split("\\s+").foreach { t =>
      if (t.nonEmpty) {
        val h = Hashing.md5Long(t)
        var i = 0
        while (i < SimHashBits) {
          if (((h >>> i) & 1L) == 1L) v(i) += 1 else v(i) -= 1
          i += 1
        }
      }
    }
    var out = 0L
    var i = 0
    while (i < SimHashBits) { if (v(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Near-duplicate pairs by SimHash with a banding scheme DERIVED from the
    * requested radius: (maxHamming + 1) bands, so by pigeonhole any pair
    * with hamming <= maxHamming is identical in at least one band — recall
    * is 1.0 by construction, then candidates are verified by exact hamming.
    * (Round-1 bug: fixed 4x16 banding only guarantees hamming <= 3 but was
    * called with maxHamming = 16 — pairs whose differing bits straddled all
    * four bands were silently missed.)
    *
    * Scale note: the band key width is SimHashBits/(maxHamming+1); a tight
    * radius (h <= 3, the near-dup regime) gives 15-bit bands whose buckets
    * stay small at corpus scale. Wide radii produce narrow bands with huge
    * buckets — the guarantee still holds but the candidate join degrades,
    * so prod configs should keep h small.
    */
  def simHashDuplicatePairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sigs = Partitioning.spreadSmall(
        docs.select(col("doc_id").cast("long"), col("text")))
      .as[(Long, String)]
      .map { case (id, t) => (id, simHash(t)) }
      .toDF("id", "sig")
    hammingNearDupPairs(sigs, maxHamming)
  }

  /** The SIGNATURE-GENERIC hamming pairing layer under
    * [[simHashDuplicatePairs]], exposed because any 64-bit
    * locality-preserving signature wants exactly it (text SimHash,
    * image aHash — [[Multimodal.imageNearDupByHash]]): radius-derived
    * banding (maxHamming + 1 bands → recall 1.0 by pigeonhole), band
    * blocks, exact popcount verify. `sigs` = (id: long, sig: long) rows;
    * output (doc_a, doc_b, hamming) with doc_a < doc_b.
    */
  def hammingNearDupPairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < SimHashBits, s"maxHamming=$maxHamming")
    val nBands = maxHamming + 1
    // near-even band widths covering all SimHashBits bits
    val widths = Array.tabulate(nBands)(b =>
      SimHashBits / nBands + (if (b < SimHashBits % nBands) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    val banded = sigs.select(col("id"), col("sig"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), starts(b))
            .bitwiseAND(lit((1L << widths(b)) - 1)).as("key"))): _*))
        .as("bk"))
      .select(col("id"), col("sig"), col("bk.band"), col("bk.key"))
    Blocking.selfPairs(banded, Seq("band", "key"))
      .select("a", "b", "sig_a", "sig_b").distinct()
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
