package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** corpus_ops: one session running a fixed slice of `SparkEntry.queries`
  * (the dedup, pair-enumeration, clustering, prep and crawl operators)
  * over a seeded `documents` table, in `BenchSurface` order.
  *
  * Pass 0 is the cold pass (part of set-up); warm passes follow until
  * `--seconds` have passed (at least one). Every pass writes each query's
  * result as parquet under `ops/pass<k>/<query>`; run.py checks pass 0
  * against the DuckDB `oracleSql` and every later pass against pass 0.
  */
object OpsBench {

  val Queries: Seq[String] = Seq("q07_exact_dup_groups", "q11_minhash_dup_pairs",
    "q19_ngram_jaccard_pairs", "q20_dup_clusters", "q26_corpus_prep",
    "q33_shared_token_runs", "q36_url_dedup", "q58_incremental_dedup",
    "q61_cluster_best", "x31_crawl_priority")

  val Docs = 500

  def short(q: String): String = q.takeWhile(_ != '_')

  /** Per-query counters gathered from listener events, keyed by the job
    * group `pass/query` each query runs under.
    */
  final class Recorder extends SparkListener {
    final class Q {
      var jobs = 0; var shuffleBytes = 0L; var spillBytes = 0L
      val tasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
    }
    val byGroup = mutable.Map[String, Q]()
    private val stageGroup = mutable.Map[Int, String]()
    private def group(p: java.util.Properties): Option[String] =
      Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      group(e.properties).foreach { g =>
        byGroup.getOrElseUpdate(g, new Q).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
        val q = byGroup.getOrElseUpdate(g, new Q)
        q.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        q.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        q.tasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
      }
    }
    /** Worst max/median task time over the stages with at least 4 tasks. */
    def skew(q: Q): Double = {
      val s = q.tasks.values.filter(_.length >= 4)
        .map(ts => ts.max.toDouble / math.max(1.0, Stats.median(ts.map(_.toDouble).toSeq)))
      if (s.isEmpty) 1.0 else s.max
    }
  }

  private def codegenSeconds(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean / 1000.0
  }

  def run(seed: Long, seconds: Double, trace: Boolean, work: String, corpora: String,
      r: Main.Result): Unit = {
    val order = graft.BenchSurface.ordered.map(_._1).filter(Queries.contains)
    val spark = Main.session(4, work)
    val sessionS = Main.sinceJvmStart()
    val rec = new Recorder
    if (trace) spark.sparkContext.addSparkListener(rec)
    val dir = Corpora.opsInput(spark, seed, Docs, s"$corpora/corpus_ops-s$seed-n$Docs")
    val outRoot = s"$work/ops"
    Files.deleteTree(new java.io.File(outRoot))
    new java.io.File(outRoot).mkdirs()
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
      .map { case (k, v) => "\"" + k + "\": " + Main.jsonString(v) }.mkString("{", ", ", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outRoot/oracle_sql.json"),
      oracle.getBytes("UTF-8"))
    Stats.resetHeapPeak()
    val gc0 = Stats.gcSeconds()
    val cg0 = codegenSeconds()

    val passWalls = mutable.ArrayBuffer[Double]()
    val qWalls = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val planS = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    var persistedLeft = 0
    var coldPass = Double.NaN
    var end = Long.MaxValue
    var pass = 0
    while (pass < 2 || System.nanoTime() < end) {
      val persisted0 = spark.sparkContext.getPersistentRDDs.size
      var total = 0.0
      var ok = true
      order.foreach { q =>
        spark.sparkContext.setJobGroup(s"$pass/$q", q)
        r.attempted += 1
        try {
          // building the frame runs the operator's eager stages (crawl
          // cycles, checkpoints), so the wall starts before it
          val t0 = System.nanoTime()
          val df = graft.SparkEntry.queries(q)(spark, dir)
          val built = System.nanoTime()
          if (trace) {
            df.queryExecution.executedPlan
            planS.getOrElseUpdate(q, mutable.ArrayBuffer[Double]()) += (System.nanoTime() - built) / 1e9
          }
          val w0 = System.nanoTime()
          df.write.mode("overwrite").parquet(s"$outRoot/pass$pass/$q")
          val t = (built - t0 + System.nanoTime() - w0) / 1e9
          total += t
          if (pass > 0) qWalls.getOrElseUpdate(q, mutable.ArrayBuffer[Double]()) += t
        } catch {
          case scala.util.control.NonFatal(e) =>
            ok = false; r.failed += 1
            r.problems += s"pass $pass $q threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
        spark.sparkContext.clearJobGroup()
      }
      persistedLeft = spark.sparkContext.getPersistentRDDs.size - persisted0
      if (pass == 0) {
        coldPass = total
        end = System.nanoTime() + (seconds * 1e9).toLong
      } else if (ok) passWalls += total
      Main.log(f"pass $pass: $total%.2f s")
      pass += 1
    }
    r.put("setup_s", sessionS + coldPass, "s")
    if (passWalls.nonEmpty) r.put("ops_wall_s", Stats.median(passWalls.toSeq), "s", passWalls.length)
    r.put("ops.passes", pass.toDouble, "count")
    if (trace) {
      r.put("ops.codegen_s", codegenSeconds() - cg0, "s")
      r.put("ops.persisted_rdds_left", persistedLeft.toDouble, "count")
      r.put("jvm.gc_s", Stats.gcSeconds() - gc0, "s")
      r.put("jvm.heap_peak_mb", Stats.heapPeakMb(), "MB")
    }
    spark.stop() // drains the listener bus before the counters are read
    if (trace) order.foreach { q =>
      val s = short(q)
      val warm = (1 until pass).flatMap(p => rec.byGroup.get(s"$p/$q"))
      def med(f: rec.Q => Double) = if (warm.isEmpty) 0.0 else Stats.median(warm.map(f))
      qWalls.get(q).foreach(ws => r.put(s"ops.$s.wall_s", Stats.median(ws.toSeq), "s", ws.length))
      planS.get(q).foreach(ps => r.put(s"ops.$s.plan_s", Stats.median(ps.toSeq.drop(1)), "s", ps.length - 1))
      r.put(s"ops.$s.jobs", med(_.jobs.toDouble), "count", warm.length)
      r.put(s"ops.$s.shuffle_mb", med(_.shuffleBytes / 1048576.0), "MB", warm.length)
      r.put(s"ops.$s.spill_mb", med(_.spillBytes / 1048576.0), "MB", warm.length)
      r.put(s"ops.$s.task_skew", med(rec.skew), "ratio", warm.length)
    }
  }
}
