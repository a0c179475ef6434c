package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Integer-exact k-means over embedding columns — the ORACLE-CHECKABLE
  * clustering face. [[SemDedup.refineCentroids]] is the spherical
  * production face (double dot products, sqrt normalization): its Lloyd
  * loop is deterministic on a cluster but NOT recomputable by another SQL
  * engine, because sqrt/double-sum ULPs could flip a near-tie assignment.
  * This operator removes every float from the loop instead: components
  * quantize once to integer micro-units, assignment is exact integer
  * squared-L2 argmin, and the centroid update is exact integer
  * sum-then-truncating-division — so a fixed number of Lloyd rounds is a
  * PURE FUNCTION of the input bits, and DuckDB re-derives the whole
  * iteration (unrolled CTEs, q47-pagerank style) for the gate.
  *
  * Why it earns its place beyond being checkable: cluster ids feed the
  * curation stages directly — cluster-balanced mixing
  * ([[Corpus.stratifiedSample]] / [[Corpus.rebalanceRates]] with
  * `stratum = col("cluster")`), per-cluster quality keepers
  * ([[Dedup.clusterBest]]), and SemDeDup-style within-cluster dedup.
  */
object Clustering {

  /** Quantization scale: 1e6 micro-units per 1.0. Exactness bounds, all
    * documented so a deployment can re-derive them for its own dims:
    * with unit-ish components (|x| <= ~1), |q| <= ~1e6 + 1, a squared
    * diff <= ~4e12, so squared-L2 stays Long-exact up to ~2.3e6
    * dimensions; per-cluster component sums stay Long-exact up to
    * ~9.2e12 assigned rows. Raise `scale` only with those bounds in
    * mind.
    */
  val MicroScale = 1000000L

  /** Quantize a float-vector column to integer micro-units:
    * floor(double(x) * scale + 0.5) — half always rounds UP (not
    * half-even, not half-away-from-zero), the one rounding rule that is
    * a single floor both engines implement identically.
    */
  def quantize(vec: Column, scale: Long = MicroScale): Column =
    transform(vec, x =>
      floor(x.cast("double") * lit(scale.toDouble) + lit(0.5)).cast("long"))

  /** Deterministic integer Lloyd fit: seeds are the k smallest ids'
    * quantized vectors (ids must be UNIQUE — the driver's vec_id is; a
    * duplicated id would make the seed pick among its duplicates
    * engine- and partitioning-dependent), each round assigns every
    * vector to the centroid
    * with the smallest exact integer squared-L2 distance (ties -> the
    * smallest centroid index) and recomputes each centroid component as
    * `sum / count` in Long arithmetic (truncation toward zero — the
    * semantics of both Scala `/` and DuckDB `//`, asserted by the q64
    * oracle). A cluster that captures nothing keeps its previous
    * centroid. Returns the k centroids in micro-units.
    *
    * Scale shape: the quantized (id, q) projection persists once; each
    * round is ONE pass — per-partition Long partial sums per (cluster,
    * component) merged by commutative integer addition, k x dim cells to
    * the driver, next centroids broadcast back. No shuffle of the
    * vectors themselves, ever; O(k * dim) driver state.
    */
  def kmeansMicroFit(vecs: DataFrame, k: Int, iters: Int = 3,
      scale: Long = MicroScale, id: Column = col("vec_id"),
      vec: Column = col("embedding")): Array[Array[Long]] = {
    require(k > 0 && iters >= 0, s"k=$k iters=$iters")
    val spark = vecs.sparkSession
    import spark.implicits._
    Materialize.scoped { s =>
      val quant = s.persisted(quantized(vecs, scale, id, vec))
      var cents: Array[Array[Long]] = quant.orderBy(col("id")).limit(k)
        .as[(Long, Seq[Long])].collect().map(_._2.toArray)
      require(cents.nonEmpty, "no input vectors to seed from")
      (0 until iters).foreach { _ =>
        val cb = spark.sparkContext.broadcast(cents)
        val partials = quant.as[(Long, Seq[Long])].mapPartitions { it =>
          val cs = cb.value
          val dim = cs(0).length
          val sums = Array.ofDim[Long](cs.length, dim)
          val counts = new Array[Long](cs.length)
          it.foreach { case (_, qSeq) =>
            val q = qSeq.toArray
            val best = argmin(cs, q)
            counts(best) += 1
            val row = sums(best)
            var j = 0
            // argmin already required q.length == dim; keep the sum loop
            // on the same guarantee rather than a silent prefix
            val m = dim
            while (j < m) { row(j) += q(j); j += 1 }
          }
          (0 until cs.length).iterator.filter(counts(_) > 0)
            .map(c => (c, counts(c), sums(c).toSeq))
        }
        // integer addition commutes and associates: ANY merge order gives
        // bit-identical sums, so the reduce can run wherever Spark likes
        val merged = partials.groupByKey(_._1).reduceGroups { (a, b) =>
          (a._1, a._2 + b._2, a._3.zip(b._3).map { case (x, y) => x + y })
        }.map(_._2).collect()
        val next = cents.map(_.clone())
        merged.foreach { case (c, n, acc) =>
          next(c) = acc.map(_ / n).toArray // truncates toward zero, as //
        }
        cents = next
        cb.destroy()
      }
      cents
    }
  }

  /** Assign every vector to its nearest centroid (exact integer squared
    * L2, ties to the smallest index): emits (id, cluster, dist_micro2)
    * where dist_micro2 is the exact squared distance in micro^2 units.
    * Zero shuffle — one mapPartitions over the quantized projection with
    * the k x dim centroid table broadcast.
    */
  def assignMicro(vecs: DataFrame, centroids: Array[Array[Long]],
      scale: Long = MicroScale, id: Column = col("vec_id"),
      vec: Column = col("embedding")): DataFrame = {
    require(centroids.nonEmpty, "no centroids")
    val spark = vecs.sparkSession
    val bc = spark.sparkContext.broadcast(centroids)
    val quant = quantized(vecs, scale, id, vec)
    val outSchema = StructType(Seq(
      quant.schema.fields(0).copy(name = "id"),
      StructField("cluster", IntegerType, nullable = false),
      StructField("dist_micro2", LongType, nullable = false)))
    quant.mapPartitions { it =>
      val cs = bc.value
      it.map { r =>
        val q = r.getSeq[Long](1).toArray
        val best = argmin(cs, q)
        Row(r.get(0), best, dist2(cs(best), q))
      }
    }(Encoders.row(outSchema))
  }

  /** Fit + assign in one call — the q64 gate face. */
  def kmeansMicro(vecs: DataFrame, k: Int, iters: Int = 3,
      scale: Long = MicroScale, id: Column = col("vec_id"),
      vec: Column = col("embedding")): DataFrame =
    assignMicro(vecs, kmeansMicroFit(vecs, k, iters, scale, id, vec),
      scale, id, vec)

  /** Cluster-BALANCED deterministic sampling: fit integer k-means, then
    * keep each cluster at an expected `perClusterTarget` rows by the
    * md5-hash sample rule — the embedding-space diversity draw (big
    * semantic clusters downsample hard, small ones keep everything), the
    * selection shape of cluster-balanced data curation. Emits the kept
    * assignment rows (id, cluster, dist_micro2, sample_key).
    *
    * Per-cluster keep rate = min(1, target / size); a row keeps when its
    * [[Corpus.sampleKey]] (md5 of id + salt, mod 10000) falls below
    * floor(rate * 10000 + 0.5) — the same key family as
    * [[Corpus.stratifiedSample]] / splitAssign, so the draw is a pure
    * function of (id, salt), independent of partitioning, and a fresh
    * salt draws an independent sample. Kept counts are EXPECTED sizes
    * (binomial around the target — negligible deviation at real targets,
    * ~±0.3% at 10^5): the exact-count alternative is a per-cluster
    * smallest-keys prefix cut, which needs capPerHost's salted two-phase
    * window at scale, while this stays MAP-ONLY after one k-row size
    * aggregate — the 100 TB-native tradeoff, chosen deliberately.
    *
    * The rate quantizes to 1/10000ths by floor(x*10000 + 0.5) — the same
    * everywhere-identical rounding rule as [[quantize]] — so the q65
    * oracle re-derives thresholds from its own recomputed cluster sizes.
    */
  def clusterBalancedSample(vecs: DataFrame, k: Int,
      perClusterTarget: Long, iters: Int = 3,
      salt: String = "graft-cluster-sample-v1", scale: Long = MicroScale,
      id: Column = col("vec_id"), vec: Column = col("embedding")): DataFrame = {
    require(perClusterTarget >= 0, s"target $perClusterTarget")
    val spark = vecs.sparkSession
    graft.functions.GraftFunctions.register(spark) // sampleKey -> md5_long
    import spark.implicits._
    // sizes + filter read it; assignment runs once
    val asn = Materialize.checkpoint(kmeansMicro(vecs, k, iters, scale, id, vec))
    val sizes = asn.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val threshOf = sizes.toSeq.map { case (c, n) =>
      val rate = math.min(1.0, perClusterTarget.toDouble / n)
      c -> math.floor(rate * Corpus.SampleBuckets + 0.5).toLong
    }
    // thresholds attach via a broadcast join on the k-row table — a
    // when()-chain would nest k CaseWhens deep and break Catalyst
    // (StackOverflow / 64KB codegen) at production k of 10^4+
    val thresh = broadcast(threshOf.toDF("cluster", "keep_below"))
    asn.join(thresh, Seq("cluster"))
      .withColumn("sample_key", Corpus.sampleKey(col("id"), salt))
      .filter(col("sample_key") < col("keep_below"))
      .select(col("id"), col("cluster"), col("dist_micro2"),
        col("sample_key"))
  }

  /** Prototypicality pruning (SSL-prototypes / D4): drop each cluster's
    * most PROTOTYPICAL members — the rows nearest their centroid — and
    * keep the informative tail. Sorscher et al. 2022 ("Beyond neural
    * scaling laws") showed easy/prototypical examples are the right ones
    * to prune when data is abundant; D4 (Tirumala et al. 2023) runs
    * exactly this after SemDeDup. Built on [[kmeansMicro]], so distances
    * are exact integers and the per-cluster cut is exactly replayable:
    * rank every member by (dist_micro2 ASC, id ASC), drop ranks <=
    * dropN where dropN = n * floor(dropNearestFrac * 10000 + 0.5) / 10000
    * in pure Long arithmetic (the [[quantize]] rounding rule again — no
    * float threshold ever compares against data). Filter-as-flag:
    * (id, cluster, dist_micro2, proto_rank, kept), callers filter.
    *
    * Scale shape: the rank window partitions by cluster. k-means
    * clusters are SIZE-BOUNDED by construction (corpus/k on average; a
    * production k of 10^4-10^5 keeps partitions in the tens of
    * millions), so the window is safe where capPerHost's host key was
    * not; a pathologically collapsed clustering (most rows in one
    * cluster) would need capPerHost's salted two-phase shape — documented
    * seam, deliberately not paid on the common path. Only the 20-byte
    * (id, cluster, dist) projection shuffles; text and vectors never do.
    */
  def prototypePrune(vecs: DataFrame, k: Int, dropNearestFrac: Double,
      iters: Int = 3, scale: Long = MicroScale, id: Column = col("vec_id"),
      vec: Column = col("embedding")): DataFrame = {
    require(dropNearestFrac >= 0.0 && dropNearestFrac <= 1.0,
      s"dropNearestFrac $dropNearestFrac")
    val dropThresh = math.floor(dropNearestFrac * 10000 + 0.5).toLong
    val asn = kmeansMicro(vecs, k, iters, scale, id, vec)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("dist_micro2"), col("id"))
    val sizes = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
    asn
      .withColumn("proto_rank", row_number().over(w).cast("long"))
      .withColumn("cluster_n", count(lit(1)).over(sizes))
      // SQL `div`, not `/`: Column./ on longs is DOUBLE division, and the
      // exactness contract wants the truncating integer quotient
      .withColumn("kept",
        col("proto_rank") > expr(s"cluster_n * ${dropThresh}L div 10000"))
      .drop("cluster_n")
  }

  private def quantized(vecs: DataFrame, scale: Long, id: Column,
      vec: Column): DataFrame =
    vecs.filter(id.isNotNull && vec.isNotNull)
      .select(id.cast("long").as("id"), quantize(vec, scale).as("q"))
      // post-cast guards: a non-castable id nulls under the long cast,
      // and a null ELEMENT nulls its quantized cell — either would NPE
      // the typed Lloyd loop instead of being excluded like null rows
      .filter(col("id").isNotNull && !exists(col("q"), _.isNull))

  private def dist2(c: Array[Long], q: Array[Long]): Long = {
    // fail loudly on dimension corruption (ADVICE r7): a ragged or
    // truncated embedding would otherwise silently cluster on a prefix
    // distance, unlike null elements, which the quantized filter drops
    require(q.length == c.length,
      s"embedding dimension ${q.length} != centroid dimension ${c.length}")
    var d = 0L
    var j = 0
    val m = c.length
    while (j < m) { val x = c(j) - q(j); d += x * x; j += 1 }
    d
  }

  private def argmin(cs: Array[Array[Long]], q: Array[Long]): Int = {
    var best = 0
    var bestD = Long.MaxValue
    var i = 0
    while (i < cs.length) {
      val d = dist2(cs(i), q)
      if (d < bestD) { bestD = d; best = i } // strict: ties keep smaller i
      i += 1
    }
    best
  }
}
