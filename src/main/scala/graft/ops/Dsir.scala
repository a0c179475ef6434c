package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
  * arXiv:2302.03169): score every raw document by how much more likely its
  * hashed n-gram bag is under a small TARGET corpus' n-gram distribution
  * than under the raw corpus' own distribution, then keep the
  * highest-weight documents. This is the standard "make 100 TB of crawl
  * look like Wikipedia" selection stage; the scores compose directly with
  * [[Corpus.tokenBudgetTake]] (budgeted take by weight) or
  * [[Corpus.scoreBuckets]] (head/middle/tail splits by weight).
  */
object Dsir {

  /** Per-document DSIR importance log-weight over hashed unigram+bigram
    * features. Emits one row per raw document: (id, score_micro, logw)
    * where `logw = sum over the doc's gram INSTANCES of
    * log p_target(bucket) - log p_raw(bucket)` with add-one smoothing over
    * `buckets` hash cells (the paper's bag-of-hashed-ngrams generative
    * model, §3.2) and `score_micro` is the same sum in exact integer
    * micro-log units.
    *
    * Reproducibility contract: each bucket's log-ratio is quantized ONCE
    * to an integer micro-log value (floor(x*1e6 + 0.5) — explicitly not
    * banker's/half-even, so a SQL oracle applies the identical rule), and
    * a document's score is an INTEGER sum of those — order-independent
    * and bit-identical on any cluster size or partitioning, where a
    * floating sum over thousands of grams would depend on reduction
    * order. 1e-6 log-units is far below any meaningful weight difference.
    * Grams hash with md5_long, so DuckDB's md5_number_upper re-derives
    * the buckets and the whole score exactly (oracle q63).
    *
    * Features are instance counts, not distinct: unigrams always, bigrams
    * only for docs with >= 2 tokens — a document with no tokens has no
    * grams and scores exactly 0 (the smoothed model assigns it likelihood
    * 1 under both distributions).
    *
    * Scale shape: two fit passes (target, raw) each collapse map-side to
    * at most `buckets` (bucket, count) cells before one tiny exchange;
    * 2 x buckets longs come to the driver, the quantized log-ratio table
    * broadcasts back as one Long array, and scoring is a zero-shuffle
    * mapPartitions over the (id, buckets) projection — document text
    * never shuffles anywhere. The driver holds O(buckets) state; the
    * paper's 10k buckets is ~80 KB.
    */
  def importanceWeights(raw: DataFrame, target: DataFrame,
      buckets: Int = 8192, id: Column = col("doc_id"),
      text: Column = col("text")): DataFrame = {
    require(buckets > 0, s"buckets $buckets")
    val spark = raw.sparkSession
    graft.functions.GraftFunctions.register(spark)

    def gramBuckets(df: DataFrame): DataFrame = {
      val t0 = col("graft_text")
      val toks = filter(split(lower(coalesce(t0, lit(""))), "\\s+"),
        t => t =!= "")
      val bigrams = when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat_ws(" ", slice(toks, i, lit(2)))))
        .otherwise(array().cast("array<string>"))
      Partitioning.spreadSmall(df.select(id.as("id"), text.as("graft_text")))
        .select(col("id"),
          transform(concat(toks, bigrams),
            g => pmod(call_function("md5_long", g), lit(buckets)).cast("int"))
            .as("bs"))
    }

    // the raw side's gram split + md5 bucketing feeds BOTH the fit
    // histogram and the scoring pass — checkpoint it so that work
    // (the dominant cost: one md5 per gram instance) runs once, and the
    // int bucket arrays, not the text, are what's retained
    val narrow = Materialize.checkpoint(gramBuckets(raw))
    // ONE histogram job for both sides (r8): the target and raw
    // histograms used to be two separate collect actions; a side tag +
    // one groupBy halves the fit's job count and the result is the same
    // two bucket-count arrays (the agg is exact integer counting)
    val tc = new Array[Long](buckets)
    val rc = new Array[Long](buckets)
    gramBuckets(target).select(lit(0).as("side"), col("bs"))
      .unionByName(narrow.select(lit(1).as("side"), col("bs")))
      .select(col("side"), explode(col("bs")).as("b"))
      .groupBy(col("side"), col("b")).agg(count(lit(1)).as("c")).collect()
      .foreach { r =>
        (if (r.getInt(0) == 0) tc else rc)(r.getInt(1)) = r.getLong(2)
      }
    val tTot = tc.sum.toDouble + buckets
    val rTot = rc.sum.toDouble + buckets
    val lq = Array.tabulate(buckets) { b =>
      val x = math.log((tc(b) + 1.0) / tTot) - math.log((rc(b) + 1.0) / rTot)
      math.floor(x * 1e6 + 0.5).toLong
    }
    val bc = spark.sparkContext.broadcast(lq)
    val outSchema = StructType(Seq(
      narrow.schema.fields(0), // id, whatever type the caller keys by
      StructField("score_micro", LongType, nullable = false),
      StructField("logw", DoubleType, nullable = false)))
    narrow.mapPartitions { it =>
      val a = bc.value
      it.map { r =>
        val bs = r.getSeq[Int](1)
        var s = 0L
        bs.foreach(b => s += a(b))
        Row(r.get(0), s, s / 1e6)
      }
    }(Encoders.row(outSchema))
  }
}
