package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Production audit for approximate operators: exact verification is
  * quadratic, so at corpus scale it cannot run corpus-wide — but it CAN
  * run on a deterministic hash-sample. Recall measured on the sample is
  * an unbiased estimate of recall on the corpus (pair inclusion is
  * exchangeable under a uniform row sample), and the deterministic key
  * means the same audit re-runs bit-identically on any cluster size.
  */
object Audit {

  /** Recall of `approx` vs `exact` pair producers on a hash-sample of
    * `rows`. Both producers receive the SAME sampled DataFrame and must
    * return pair rows with columns (`aCol`, `bCol`); pair orientation is
    * normalized (least/greatest) before matching, and extra columns
    * (scores) are ignored. Returns one row:
    * (sampled_rows, exact_pairs, found_pairs, recall) — recall is 1.0 on
    * an empty exact set (nothing to miss).
    */
  def pairRecall(rows: DataFrame, idCol: Column, sampleRate: Double,
      salt: String, aCol: String = "a", bCol: String = "b")(
      approx: DataFrame => DataFrame, exact: DataFrame => DataFrame): DataFrame = {
    require(sampleRate > 0.0 && sampleRate <= 1.0, s"sampleRate $sampleRate")
    // sampleKey builds a call_function("md5_long") — register it here
    // instead of relying on an upstream operator having done so
    graft.functions.GraftFunctions.register(rows.sparkSession)
    def norm(df: DataFrame): DataFrame =
      df.select(
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("pa"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("pb"))
        .distinct()
    val (nSample, nExact, nFound) = Materialize.scoped { s =>
      val sample = s.persisted(rows.filter(Corpus.sampleKey(idCol, salt) <
        math.round(sampleRate * Corpus.SampleBuckets)))
      val exactPairs = s.persisted(norm(exact(sample)))
      val foundPairs = norm(approx(sample))
      (sample.count(), exactPairs.count(),
        exactPairs.join(foundPairs, Seq("pa", "pb"), "left_semi").count())
    }
    val spark = rows.sparkSession
    import spark.implicits._
    Seq((nSample, nExact, nFound,
      if (nExact == 0) 1.0 else nFound.toDouble / nExact))
      .toDF("sampled_rows", "exact_pairs", "found_pairs", "recall")
  }
}
