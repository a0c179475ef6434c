package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`embeddings(vec_id, embedding: array<float>, label)`).
  *
  * Scale design:
  *  - brute-force top-k: queries are broadcast (small side), the corpus is
  *    scanned once; each partition keeps a k-sized heap per query, then one
  *    tiny shuffle merges the per-partition top-ks. Shuffled volume is
  *    O(queries * k * partitions), never O(corpus).
  *  - LSH (random hyperplanes): one signature per vector map-side, one
  *    shuffle on the bucket key, search within buckets — the 100 TB path
  *    when the query set is large too.
  *  - cosine near-dup: LSH buckets + verified cosine >= threshold.
  */
object Similarity extends Serializable {

  final case class Scored(query_id: Long, vec_id: Long, score: Double)

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val d = norm(a) * norm(b)
    if (d == 0) 0.0 else dot(a, b) / d
  }

  /** HALF_UP 6-decimal rounding (= Spark round / DuckDB round); applied
    * BEFORE top-k comparisons so ties resolve identically to the SQL
    * oracle's (score DESC, vec_id) ordering.
    */
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def asArray(s: Seq[Float]): Array[Float] = s.toArray

  /** Brute-force cosine top-k of `queries` against `corpus` — the exact
    * baseline. Queries are collected + broadcast (must be the small side);
    * duplicate query rows are deduped (a duplicated row would get TWO
    * heaps whose merge doubles each pair and truncates the true top-k).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = queries.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])].collect().distinct
      .map { case (id, e) => (id, asArray(e), norm(asArray(e))) }
    val qb = spark.sparkContext.broadcast(q)

    val partial: Dataset[Scored] =
      Partitioning.spreadSmall(
          corpus.select(col("vec_id").cast("long"), col("embedding")))
        .as[(Long, Seq[Float])]
        .mapPartitions { it =>
          val qs = qb.value
          // one k-heap per query
          // head = worst kept element under (score DESC, vec_id ASC)
          val worstFirst: Ordering[Scored] = Ordering.by(s => (-s.score, s.vec_id))
          val heaps = qs.map(_ => new scala.collection.mutable.PriorityQueue[Scored]()(worstFirst))
          it.foreach { case (id, e) =>
            val v = asArray(e)
            val nv = norm(v)
            var i = 0
            while (i < qs.length) {
              val (qid, qv, qn) = qs(i)
              val denom = nv * qn
              val sc = round6(if (denom == 0) 0.0 else dot(qv, v) / denom)
              val h = heaps(i)
              if (h.size < k) h.enqueue(Scored(qid, id, sc))
              else {
                val w = h.head
                if (sc > w.score || (sc == w.score && id < w.vec_id)) {
                  h.dequeue(); h.enqueue(Scored(qid, id, sc))
                }
              }
              i += 1
            }
          }
          heaps.iterator.flatMap(_.iterator)
        }

    // merge partial top-ks: tiny shuffle on query_id
    partial.groupByKey(_.query_id)
      .flatMapGroups { (_, it) =>
        it.toSeq.sortBy(s => (-s.score, s.vec_id)).take(k)
      }
      .toDF("query_id", "vec_id", "score")
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("query_id"), col("score").desc, col("vec_id"))
  }

  /** Deterministic random hyperplanes for sign-LSH (seeded splitmix). */
  def hyperplanes(dim: Int, bits: Int, seed: Long): Array[Array[Float]] = {
    (0 until bits).map { b =>
      val rng = new graft.fixtures.Fixtures.Rng(seed + b)
      Array.fill(dim)((rng.nextDouble() * 2 - 1).toFloat)
    }.toArray
  }

  /** Per-task lazily-generated hyperplane sets: planes are a pure
    * deterministic function of (dim, bits, seed), so each task regenerates
    * them from the first embedding it sees instead of the driver running a
    * `limit(1).collect()` probe before the real job (round-2 advice). The
    * tables×bits×dim float cost is microseconds per task; every task
    * derives identical planes, so bucket keys stay globally consistent
    * (embeddings are uniform-dim by the table contract — mixed dims were
    * already undefined under the cosine kernels).
    */
  private final class LazyPlanes(bits: Int, seed: Long, tables: Int)
      extends Serializable {
    @transient private var cache: Array[Array[Array[Float]]] = _
    def get(dim: Int): Array[Array[Array[Float]]] = {
      if (cache == null || cache(0)(0).length != dim)
        cache = Array.tabulate(tables)(t => hyperplanes(dim, bits, seed + 7919L * t))
      cache
    }
  }

  def signSignature(v: Array[Float], planes: Array[Array[Float]]): Int = {
    var sig = 0
    var i = 0
    while (i < planes.length) {
      if (dot(v, planes(i)) >= 0) sig |= (1 << i)
      i += 1
    }
    sig
  }

  /** Multi-table LSH-bucketed ANN: `tables` independent hyperplane sets;
    * both sides bucket by (table, sign signature), queries additionally
    * probe `probes` single-bit flips per table, cosine within buckets,
    * top-k per query. One shuffle on the bucket key. Approximate — recall
    * grows with tables (OpsSpec pins recall against bruteForceTopK); the
    * EXACT scale path with the same inverted-file shape is `ivfTopK`.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      bits: Int = 12, seed: Long = 42L, probes: Int = 1,
      tables: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val nFlips = math.max(0, math.min(probes, bits))
    val lp = new LazyPlanes(bits, seed, tables)
    def buckets(e: Seq[Float], probe: Boolean): Iterator[Long] = {
      val v = asArray(e)
      val pl = lp.get(v.length)
      (0 until pl.length).iterator.flatMap { t =>
        val sig = signSignature(v, pl(t))
        val base = t.toLong << 32
        if (!probe) Iterator.single(base | sig.toLong)
        else Iterator.single(base | sig.toLong) ++
          (0 until nFlips).iterator.map(b => base | (sig ^ (1 << b)).toLong)
      }
    }

    val bucketed = corpus.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .flatMap { case (id, e) => buckets(e, probe = false).map(b => (b, id, e)) }
      .toDF("bucket", "vec_id", "embedding")

    val qBucketed = queries.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])]
      .flatMap { case (id, e) => buckets(e, probe = true).map(b => (b, id, e)) }
      .toDF("bucket", "query_id", "q_embedding")

    bucketed.join(qBucketed, "bucket")
      .select(col("query_id"), col("vec_id"), col("embedding"), col("q_embedding"))
      .as[(Long, Long, Seq[Float], Seq[Float])]
      .map { case (qid, id, e, qe) =>
        Scored(qid, id, round6(cosine(asArray(e), asArray(qe))))
      }
      .groupByKey(_.query_id)
      .flatMapGroups { (_, it) =>
        it.toSeq.distinct.sortBy(s => (-s.score, s.vec_id)).take(k)
      }
      .toDF("query_id", "vec_id", "score")
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("query_id"), col("score").desc, col("vec_id"))
  }

  // ---------- IVF (inverted file) exact top-k ----------

  /** IVF top-k that is EXACT by construction — the scale path whose output
    * still gate-checks against the brute-force SQL oracle.
    *
    * Index: deterministic spherical k-means (seeded init from the
    * nClusters smallest vec_ids, `kmeansIters` assign/update rounds), then
    * per-cluster angular radius r_c = max angle(member, centroid).
    *
    * Search: (1) scan the 2 most promising clusters per query to obtain a
    * candidate kth-best score s_k; (2) scan every other cluster whose
    * upper bound cos(max(0, angle(q,c) - r_c)) >= s_k - 1e-6 (triangle
    * inequality on the sphere: no member of a skipped cluster can enter
    * the top-k); merge. Both scans are one mapPartitions pass with
    * per-query k-heaps, exactly bruteForceTopK's shuffle profile —
    * O(queries * k * partitions), never O(corpus).
    *
    * At 100 TB the assignment column is materialized at ingest (table
    * bucketed by cluster id), so phase scans become partition pruning
    * instead of a filter; the centroid/radius table is tiny and broadcast.
    * Pruning effectiveness depends on how clustered the data is; on
    * uniform random vectors it degrades to brute force but NEVER returns
    * a wrong answer.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nClusters: Int = 16, kmeansIters: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._

    def unit(e: Seq[Float], n: Double): Array[Double] = {
      val a = new Array[Double](e.length)
      if (n > 0) { var i = 0; while (i < a.length) { a(i) = e(i) / n; i += 1 } }
      a
    }
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val m = math.min(a.length, b.length)
      while (i < m) { s += a(i) * b(i); i += 1 }
      s
    }
    def clampAcos(x: Double): Double = math.acos(math.max(-1.0, math.min(1.0, x)))
    def nearest(cents: Array[Array[Double]], u: Array[Double]): Int = {
      var best = 0; var bestDot = Double.NegativeInfinity; var j = 0
      while (j < cents.length) {
        val d = dotD(cents(j), u)
        if (d > bestDot) { bestDot = d; best = j }
        j += 1
      }
      best
    }

    val merged: Seq[Scored] = Materialize.scoped { s =>
      val corp = s.persisted(corpus.select(col("vec_id").cast("long"), col("embedding"))
        .as[(Long, Seq[Float])]
        .map { case (id, e) => (id, e, norm(asArray(e))) })

      // deterministic init: the nClusters smallest vec_ids (normalized)
      var centroids: Array[Array[Double]] = corp
        .orderBy(col("_1")).limit(nClusters).collect()
        .map { case (_, e, n) => unit(e, n) }
      if (centroids.isEmpty) Seq.empty[Scored]
      else {
        (0 until kmeansIters).foreach { _ =>
          val cb = spark.sparkContext.broadcast(centroids)
          val sums = corp.map { case (_, e, n) =>
            val u = unit(e, n)
            (nearest(cb.value, u), (u, 1L))
          }.groupByKey(_._1)
            .mapGroups { (c, it) =>
              var cnt = 0L
              var acc: Array[Double] = null
              it.foreach { case (_, (u, _)) =>
                if (acc == null) acc = u.clone()
                else {
                  // min-guard: a ragged (malformed shorter) embedding must
                  // degrade like every other Similarity path, not AIOOBE the
                  // task — the 'never returns a wrong answer' contract only
                  // holds if the job survives the row
                  var i = 0
                  val m = math.min(acc.length, u.length)
                  while (i < m) { acc(i) += u(i); i += 1 }
                }
                cnt += 1
              }
              (c, acc, cnt)
            }.collect()
          val next = centroids.map(_.clone())
          sums.foreach { case (c, acc, cnt) =>
            if (cnt > 0) {
              val nn = math.sqrt(dotD(acc, acc))
              if (nn > 0) { var i = 0; while (i < acc.length) { acc(i) /= nn; i += 1 } }
              next(c) = acc
            }
          }
          centroids = next
          cb.destroy()
        }

        val cb = spark.sparkContext.broadcast(centroids)
        // final assignment + per-cluster angular radius (zero-norm members
        // force radius = pi so their cluster is never pruned — conservative)
        val assigned = s.persisted(corp.map { case (id, e, n) =>
          val u = unit(e, n)
          val c = nearest(cb.value, u)
          val ang = if (n == 0) math.Pi else clampAcos(dotD(cb.value(c), u))
          (c, id, e, n, ang)
        })
        val radius: Map[Int, Double] = assigned
          .groupByKey(_._1).mapGroups((c, it) => (c, it.map(_._5).max))
          .collect().toMap

        val qs = {
          val raw = queries.select(col("vec_id").cast("long"), col("embedding"))
            .as[(Long, Seq[Float])].collect().distinct // see bruteForceTopK
          // qUnits below is keyed by vec_id: two surviving rows sharing a
          // vec_id with DIFFERENT embeddings would collapse to one unit
          // vector, silently mis-pruning clusters that hold true neighbors
          // of the other — the id is the result key, so conflicting
          // embeddings under one id is caller error; fail loudly
          val dup = raw.groupBy(_._1).filter(_._2.length > 1).keys
          require(dup.isEmpty,
            s"ivfTopK: query vec_id(s) ${dup.toSeq.sorted.take(5).mkString(", ")} " +
              "carry conflicting embeddings — vec_id must uniquely identify a query vector")
          raw.map { case (id, e) => (id, asArray(e), norm(asArray(e))) }
        }

        // unit query vectors hoisted out of the per-cluster bound loop
        // (phase 1 + phase 2 evaluate the bound ~2*Q*C times; the conversion
        // is invariant per query)
        val qUnits: Map[Long, Array[Double]] =
          qs.map(q => q._1 -> unit(q._2.toSeq, q._3)).toMap

        /** upper bound on cos(q, any member of cluster c) */
        def bound(q: (Long, Array[Float], Double), c: Int): Double = {
          if (q._3 == 0) return 1.0 // zero-norm query: scan everything
          val theta = clampAcos(dotD(cb.value(c), qUnits(q._1)))
          math.cos(math.max(0.0, theta - radius.getOrElse(c, math.Pi)))
        }

        /** one heap pass over `assigned`, each query restricted to its cluster
          * set; merged driver-side (queries x k x partitions rows — small).
          */
        def scanTopK(allowed: Map[Long, Set[Int]]): Map[Long, Seq[Scored]] = {
          val act = allowed.filter(_._2.nonEmpty)
          if (act.isEmpty) return Map.empty
          val qb = spark.sparkContext.broadcast(
            qs.filter(q => act.contains(q._1)).map(q => (q._1, q._2, q._3, act(q._1))))
          val partial = assigned.mapPartitions { it =>
            val qss = qb.value
            val worstFirst: Ordering[Scored] = Ordering.by(s => (-s.score, s.vec_id))
            val heaps = qss.map(_ => new scala.collection.mutable.PriorityQueue[Scored]()(worstFirst))
            it.foreach { case (c, id, e, nv, _) =>
              val v = asArray(e)
              var i = 0
              while (i < qss.length) {
                val (qid, qv, qn, set) = qss(i)
                if (set.contains(c)) {
                  val denom = nv * qn
                  val sc = round6(if (denom == 0) 0.0 else dot(qv, v) / denom)
                  val h = heaps(i)
                  if (h.size < k) h.enqueue(Scored(qid, id, sc))
                  else {
                    val w = h.head
                    if (sc > w.score || (sc == w.score && id < w.vec_id)) {
                      h.dequeue(); h.enqueue(Scored(qid, id, sc))
                    }
                  }
                }
                i += 1
              }
            }
            heaps.iterator.flatMap(_.iterator)
          }.collect()
          partial.groupBy(_.query_id).map { case (q, arr) =>
            q -> arr.toSeq.sortBy(s => (-s.score, s.vec_id)).take(k)
          }
        }

        val allClusters = radius.keySet
        // phase 1: the 2 most promising clusters per query
        val p1: Map[Long, Set[Int]] = qs.map { q =>
          q._1 -> allClusters.toSeq.sortBy(c => -bound(q, c)).take(2).toSet
        }.toMap
        val r1 = scanTopK(p1)
        // phase 2: every unscanned cluster that could still beat the kth best
        val p2: Map[Long, Set[Int]] = qs.map { q =>
          val got = r1.getOrElse(q._1, Seq.empty)
          val sk = if (got.length >= k) got.last.score else -2.0
          q._1 -> (allClusters -- p1(q._1)).filter(c => bound(q, c) >= sk - 1e-6)
        }.toMap
        val r2 = scanTopK(p2)

        cb.destroy()
        qs.flatMap { q =>
          (r1.getOrElse(q._1, Seq.empty) ++ r2.getOrElse(q._1, Seq.empty))
            .sortBy(s => (-s.score, s.vec_id)).take(k)
        }.toSeq
      }
    }
    spark.createDataset(merged)
      .toDF("query_id", "vec_id", "score")
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("query_id"), col("score").desc, col("vec_id"))
  }

  /** Embedding-cosine near-duplicate pairs: multi-table sign-LSH bucket
    * pairs + exact cosine verification. Approximate (recall < 1 when a
    * true pair collides in no table); recall grows with `tables` and is
    * pinned by OpsSpec against the exact formulation. The 100 TB path for
    * genuine near-dups (threshold >= ~0.9, where per-bit collision
    * probability is high).
    */
  def cosineNearDupPairs(vecs: DataFrame, threshold: Double = 0.95,
      bits: Int = 8, seed: Long = 42L, tables: Int = 4): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val lp = new LazyPlanes(bits, seed, tables)
    val bucketed = Partitioning.spreadSmall(
        vecs.select(col("vec_id").cast("long"), col("embedding")))
      .as[(Long, Seq[Float])]
      .flatMap { case (id, e) =>
        val v = asArray(e)
        val pl = lp.get(v.length)
        (0 until pl.length).iterator.map { t =>
          ((t.toLong << 32) | signSignature(v, pl(t)).toLong, id, e)
        }
      }
      .toDF("bucket", "id", "e")
    // exact verification via the native cosine_sim expression — stays in
    // whole-stage codegen, no encoder round-trip of the embedding arrays
    graft.functions.GraftFunctions.register(spark)
    Blocking.selfPairs(bucketed, Seq("bucket"))
      .select(col("a"), col("b"), col("e_a"), col("e_b")).distinct()
      .withColumn("cosine", round(expr("cosine_sim(e_a, e_b)"), 6))
      .filter(col("cosine") >= threshold)
      .select(col("a").as("vec_a"), col("b").as("vec_b"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** EXACT cosine near-duplicate pairs: broadcast block-nested self-join
    * over all pairs, verified by the codegen'd cosine_sim expression. The
    * threshold applies to the 6-decimal-rounded cosine so the decision is
    * identical to the SQL oracle's. Quadratic in the corpus — this is the
    * verification/gate layer; at corpus scale use cosineNearDupPairs (LSH)
    * and sample-audit its recall with this.
    */
  def cosineNearDupPairsExact(vecs: DataFrame, threshold: Double): DataFrame = {
    val spark = vecs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    // norms hoisted OUT of the O(n^2) pair loop: vec_norm is FP-identical
    // to the per-side factors inside cosine_sim, so dot/(na*nb) returns
    // bit-equal cosines at a third of the array traversals per pair
    // the stream side of the broadcast nested-loop join inherits the
    // scan's partitioning — spread a tiny input so the O(n^2) pair loop
    // uses every core instead of one task (identity at scale)
    val l = Partitioning.spreadSmall(
        vecs.select(col("vec_id").cast("long").as("a"), col("embedding").as("ea")))
      .withColumn("na", expr("vec_norm(ea)"))
    val r = vecs.select(col("vec_id").cast("long").as("b"), col("embedding").as("eb"))
      .withColumn("nb", expr("vec_norm(eb)"))
    l.join(org.apache.spark.sql.functions.broadcast(r), col("a") < col("b"))
      .withColumn("cosine", round(
        when(col("na") * col("nb") === 0.0, lit(0.0))
          .otherwise(expr("dot_product(ea, eb)") / (col("na") * col("nb"))), 6))
      .filter(col("cosine") >= threshold)
      .select(col("a").as("vec_a"), col("b").as("vec_b"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }
}
