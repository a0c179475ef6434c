package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication over an embedding column
  * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
  * through semantic deduplication"): cluster the embedding space, then
  * mark within-cluster near-duplicates, keeping the lowest vec_id of each
  * near-dup group as the representative.
  *
  * Determinism contract (what makes this exactly SQL-oracle-checkable):
  *  - centroids are the embeddings of the `nClusters` SMALLEST vec_ids
  *    (no iterative refinement on the gate path — `Similarity.ivfTopK`
  *    holds the k-means machinery for quality-tuned centroids);
  *  - assignment is argmax of the 6-decimal-rounded cosine, ties to the
  *    smallest centroid id — identical to the oracle's
  *    row_number() OVER (ORDER BY cos DESC, cid);
  *  - a vector is a duplicate iff SOME same-cluster vector with a smaller
  *    vec_id has round6(cosine) >= threshold; `dup_of` is the smallest
  *    such id (pairwise rule, not greedy-chain — order-independent).
  *
  * Scale design:
  *  - centroid set is tiny and broadcast; assignment is one map-side pass
  *    (zero shuffle);
  *  - the only shuffle is the within-cluster pairing keyed on
  *    cluster_id; per-cluster work is quadratic BY SEMANTICS (that is
  *    SemDeDup), so the scale knob is `nClusters` ~ corpus/target-cluster
  *    -size (the paper runs 50k clusters over 1e9+ embeddings, keeping
  *    clusters at ~1e4-1e5 rows — [[Blocking.selfPairs]] splits a cluster
  *    that large into sub-block cells across tasks);
  *  - cosine verification runs through the codegen'd dot_product/vec_norm
  *    expressions with norms hoisted out of the pair loop — no UDF
  *    encoder round-trip of the arrays.
  */
object SemDedup {

  /** Deterministic seed centroids: the nClusters smallest vec_ids. */
  def seedCentroids(vecs: DataFrame, nClusters: Int): Array[(Long, Array[Float])] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .orderBy(col("vec_id")).limit(nClusters).collect()
      .map { case (id, e) => (id, e.toArray) }
  }

  /** (vec_id, cluster_id, embedding): each vector assigned to the centroid
    * with the highest round6 cosine (ties -> smallest centroid id).
    * Centroids broadcast; one map-side pass, zero shuffle.
    */
  def assignClusters(vecs: DataFrame, nClusters: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cents = seedCentroids(vecs, nClusters)
      .map { case (id, v) => (id, v, Similarity.norm(v)) }
    if (cents.isEmpty)
      return spark.emptyDataset[(Long, Long, Seq[Float])]
        .toDF("vec_id", "cluster_id", "embedding")
    val cb = spark.sparkContext.broadcast(cents)
    vecs.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cs = cb.value // sorted by centroid id (seedCentroids orderBy)
        it.map { case (id, e) =>
          val v = e.toArray
          val nv = Similarity.norm(v)
          var best = 0
          var bestCos = Double.NegativeInfinity
          var i = 0
          while (i < cs.length) {
            val (_, cv, cn) = cs(i)
            val denom = nv * cn
            val c = Similarity.round6(if (denom == 0) 0.0 else Similarity.dot(cv, v) / denom)
            if (c > bestCos) { bestCos = c; best = i } // strict: first (smallest id) wins ties
            i += 1
          }
          (id, cs(best)._1, e)
        }
      }
      .toDF("vec_id", "cluster_id", "embedding")
  }

  /** (vec_id, cluster_id, is_dup, dup_of): within-cluster near-duplicate
    * marking. `dup_of` = smallest same-cluster vec_id with round6 cosine
    * >= threshold (null when the vector is its group's representative).
    * Zero-norm embeddings are DEFINED as cosine 0.0 to everything (the
    * SQL oracle's list_cosine_similarity has no such guard — the gate
    * corpus contains none). `sortOutput=false` skips the gate-only global
    * sort on the production path.
    */
  def semDedup(vecs: DataFrame, nClusters: Int = 8,
      threshold: Double = 0.9, sortOutput: Boolean = true): DataFrame =
    markWithinClusterDups(assignClusters(vecs, nClusters), threshold, sortOutput)

  /** Production variant: same duplicate rule, but centroids refined by
    * deterministic spherical k-means (Lloyd rounds on the unit sphere,
    * seeded from the nClusters smallest vec_ids) — what the SemDeDup
    * paper actually clusters with. Not SQL-oracle-checkable (iterative),
    * so it is gate-checked indirectly: the spec pins that the dup rule
    * equals a brute-force recomputation GIVEN the refined assignment, and
    * the rule layer itself is the oracle-checked semDedup. `cluster_id`
    * here is the centroid INDEX (refined centroids are synthetic points).
    *
    * Scale note: assignment is brute-force argmax over k broadcast
    * centroids (O(k*dim) per row). Past k ~ 10^4, prune with the
    * centroid-angular-bound trick in `Similarity.ivfTopK` instead. The
    * refine loop scans the source once per Lloyd round (cached inside
    * refineCentroids) and the assignment pass scans it once more — at
    * 1e9-embedding scale persist `vecs` upstream; like
    * CorpusPrep.persistIntermediate, callers own cache lifetime.
    */
  def semDedupKmeans(vecs: DataFrame, nClusters: Int = 8, iters: Int = 3,
      threshold: Double = 0.9, sortOutput: Boolean = true): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cents = refineCentroids(vecs, nClusters, iters)
    if (cents.isEmpty)
      return spark.emptyDataset[(Long, Long, Boolean, Option[Long])]
        .toDF("vec_id", "cluster_id", "is_dup", "dup_of")
    val cb = spark.sparkContext.broadcast(cents)
    val asn = vecs.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cs = cb.value
        it.map { case (id, e) =>
          val v = e.toArray
          val n = Similarity.norm(v)
          var best = 0
          var bestDot = Double.NegativeInfinity
          var i = 0
          while (i < cs.length) {
            var d = 0.0
            var j = 0
            val c = cs(i)
            val m = math.min(c.length, v.length)
            while (j < m) { d += c(j) * v(j); j += 1 }
            val cos = if (n == 0) 0.0 else d / n // centroids are unit-norm
            if (cos > bestDot) { bestDot = cos; best = i }
            i += 1
          }
          (id, best.toLong, e)
        }
      }
      .toDF("vec_id", "cluster_id", "embedding")
    markWithinClusterDups(asn, threshold, sortOutput)
  }

  /** Fixed-point scale for centroid accumulation: unit-vector components
    * (<= 1 in magnitude) quantize to ~2^28, so Long sums stay exact up to
    * ~2^34 rows per cluster — and INTEGER addition is associative, which
    * is what makes the Lloyd update bit-identical regardless of shuffle
    * arrival order (double summation would drift in final ulps between
    * runs on a real cluster and could flip a near-tie assignment).
    */
  private val FixedPointScale = 1L << 28

  /** Deterministic spherical k-means: unit-normalized Lloyd rounds, init
    * from the k smallest vec_ids; empty clusters keep their previous
    * centroid. Returns unit-norm double centroids. Deterministic on ANY
    * cluster: per-partition fixed-point Long partial sums, merged with
    * order-insensitive integer addition (see FixedPointScale).
    */
  def refineCentroids(vecs: DataFrame, k: Int, iters: Int): Array[Array[Double]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    def unit(a: Array[Double]): Array[Double] = {
      val n = math.sqrt(a.map(x => x * x).sum)
      if (n == 0) a else a.map(_ / n)
    }
    // unit-normalized ONCE and persisted as doubles: every Lloyd round
    // reads the converted form instead of re-normalizing per iteration
    val corp = vecs.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .map { case (id, e) => (id, unit(e.map(_.toDouble).toArray)) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cents: Array[Array[Double]] = corp.orderBy(col("_1")).limit(k)
      .collect().map(_._2)
    (0 until iters).foreach { _ =>
      val cb = spark.sparkContext.broadcast(cents)
      // one pass: per-partition (cluster -> fixed-point component sums),
      // tiny k x dim output per partition, Long-exact merge driver-side
      val partials = corp.mapPartitions { it =>
        val cs = cb.value
        val sums = Array.ofDim[Long](cs.length,
          if (cs.isEmpty) 0 else cs(0).length)
        val seen = new Array[Boolean](cs.length)
        it.foreach { case (_, u) =>
          var best = 0; var bestDot = Double.NegativeInfinity; var i = 0
          while (i < cs.length) {
            var d = 0.0; var j = 0
            val m = math.min(cs(i).length, u.length)
            while (j < m) { d += cs(i)(j) * u(j); j += 1 }
            if (d > bestDot) { bestDot = d; best = i }
            i += 1
          }
          seen(best) = true
          val row = sums(best)
          var j = 0
          val m = math.min(row.length, u.length)
          while (j < m) { row(j) += math.round(u(j) * FixedPointScale); j += 1 }
        }
        (0 until cs.length).iterator.filter(seen)
          .map(c => (c, sums(c).toSeq))
      }
      // merge partials on executors: Long addition commutes/associates, so
      // ANY reduce order gives bit-identical sums; k x dim reaches the driver
      val sums = partials.groupByKey(_._1)
        .reduceGroups { (a, b) =>
          (a._1, a._2.zip(b._2).map { case (x, y) => x + y })
        }.map(_._2).collect()
      val next = cents.map(_.clone())
      sums.foreach { case (c, acc) =>
        next(c) = unit(acc.map(_.toDouble / FixedPointScale).toArray)
      }
      cents = next
      cb.destroy()
    }
    corp.unpersist()
    cents
  }

  /** The shared duplicate-marking layer over an assignment
    * (vec_id, cluster_id, embedding): within-cluster pairs, exact cosine
    * via the codegen'd dot_product/vec_norm with norms hoisted out of the
    * pair loop, then min-lower-id aggregation.
    */
  private def markWithinClusterDups(assignment: DataFrame,
      threshold: Double, sortOutput: Boolean): DataFrame = {
    val spark = assignment.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val index = assignment.select(col("cluster_id"), col("vec_id").as("id"),
      col("embedding").as("e"), expr("vec_norm(embedding)").as("n"))
    val dupOf = Blocking.selfPairs(index, Seq("cluster_id"))
      .withColumn("cosine", round(
        when(col("n_a") * col("n_b") === 0.0, lit(0.0))
          .otherwise(expr("dot_product(e_a, e_b)") / (col("n_a") * col("n_b"))), 6))
      .filter(col("cosine") >= threshold)
      .groupBy(col("b").as("vec_id")).agg(min(col("a")).as("dup_of"))
    // `index` reads from the cache selfPairs put it in
    val out = index.select(col("id").as("vec_id"), col("cluster_id"))
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
    if (sortOutput) out.orderBy(col("vec_id")) else out
  }
}
