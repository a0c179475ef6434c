package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicated token sequences ACROSS documents (the defect class of
  * Lee et al. 2021, "Deduplicating Training Data Makes Language Models
  * Better": verbatim passages repeated between web pages survive
  * whole-document dedup). Finds every maximal run of >= minRunTokens
  * consecutive tokens shared between two documents — without a suffix
  * array, as three relational steps that parallelize trivially:
  *
  *  1. hash every k-token window -> (doc, pos, h) rows. Map-side; the
  *     hash is the codegen'd xxhash64, so only 24-byte rows ever shuffle
  *     (never token text). The oracle recomputes windows with its own
  *     hash — matches are window-TEXT equality either way (no hash
  *     reaches the output), so the engine hash is free to be the cheap
  *     one at the usual 2^-64 collision odds.
  *  2. pair the windows of each h with doc_a < doc_b
  *     ([[Blocking.selfPairs]]). A shared run of L tokens produces L-k+1
  *     hits on the SAME alignment diagonal (pos_a - pos_b).
  *  3. gaps-and-islands per (doc_a, doc_b, diag): consecutive pos_a
  *     values collapse to one island = one maximal run,
  *     run_tokens = hits + k - 1.
  *
  * Runs shorter than k are invisible — pick k <= minRunTokens (k is the
  * recall floor, minRunTokens the reporting threshold).
  *
  * Scale: windows are O(total tokens) fixed-width rows; the only
  * dangerous key is a corpus-hot window (boilerplate) — `maxWindowDocFreq`
  * drops windows present in more than that many documents before
  * pairing, the same cut ngramJaccardPairsAtScale applies (a stop-phrase
  * window otherwise makes the pairing quadratic; gate entries run it
  * unbounded because their oracle is the exact formulation).
  */
object SubstringDedup {

  /** Pipeline parameters (CorpusPrep's substring_dedup stage): production
    * defaults — 50-token runs are the Lee et al. reporting threshold, and
    * a bounded window doc-frequency keeps the pairing linear.
    */
  final case class RunParams(k: Int = 8, minRunTokens: Int = 50,
      maxWindowDocFreq: Int = 5000)

  def sharedTokenRuns(docs: DataFrame, k: Int = 8, minRunTokens: Int = 12,
      maxWindowDocFreq: Int = Int.MaxValue,
      sortOutput: Boolean = true): DataFrame = {
    require(k >= 1 && minRunTokens >= k, s"need 1 <= k <= minRunTokens")
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val toks = filter(split(lower(col("text")), "\\s+"), t => t =!= "")
    val w = Partitioning.spreadSmall(
        docs.select(col("doc_id").cast("long").as("id"), col("text")))
      .select(col("id"), toks.as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= k) // sequence(0, n-k) would run descending on n < k
      .select(col("id"), posexplode(
        // xxhash64, not md5_long: the hash only keys the alignment join
        // (matches ⇔ equal window text absent 2^-64 collisions; no hash
        // reaches the output), and it is ~10x cheaper per window
        transform(sequence(lit(0), col("n") - k),
          i => xxhash64(concat_ws(" ", slice(col("toks"), i + 1, lit(k))))))
        .as(Seq("pos", "h")))
    // a doc repeating a window holds several rows under its h
    val hits = Blocking.selfPairs(w, Seq("h"), maxWindowDocFreq,
        idsRepeat = true)
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("pos_a").as("pa"), col("pos_b").as("pb"),
        (col("pos_a") - col("pos_b")).as("diag"))
    val islands = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    val runs = hits.withColumn("grp", col("pa") - row_number().over(islands))
      .groupBy("doc_a", "doc_b", "diag", "grp")
      .agg(min(col("pa")).cast("long").as("start_a"),
        min(col("pb")).cast("long").as("start_b"),
        (count(lit(1)) + (k - 1)).as("run_tokens"))
      .filter(col("run_tokens") >= minRunTokens)
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"),
        col("run_tokens"))
    if (sortOutput)
      runs.orderBy(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"))
    else runs
  }
}
