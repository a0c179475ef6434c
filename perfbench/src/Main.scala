package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark JVM entry point (launched by perfbench/run.py).
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --corpora DIR --out FILE [--corrupt]
  *
  * Measures one workload and writes its metrics, operation counts and
  * check problems to FILE as JSON.
  */
object Main {

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    log(s"session local[$cores] ready")
    s
  }

  /** Progress line (with seconds since JVM start) for the run log. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${sinceJvmStart()}%8.2f] $msg")

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  final class Result {
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    val samples = mutable.LinkedHashMap[String, Int]()
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer[String]()
    def put(name: String, v: Double, unit: String, n: Int = 1): Unit = {
      metrics(name) = (v, unit); samples(name) = n
    }
    def count(c: PassCheck, what: String): Unit = {
      attempted += c.attempted; failed += c.failed
      problems ++= c.problems.map(p => s"$what: $p")
    }
    private def q(s: String) = jsonString(s)
    private def num(d: Double) =
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    def json: String = {
      val ms = metrics.map { case (k, (v, u)) =>
        s"${q(k)}: {${q("value")}: ${num(v)}, ${q("unit")}: ${q(u)}, ${q("samples")}: ${samples(k)}}"
      }.mkString("{", ", ", "}")
      s"""{"attempted": $attempted, "failed": $failed, "problems": ${problems.map(q).mkString("[", ", ", "]")}, "metrics": $ms}"""
    }
  }

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c if c < ' ' => " "
    case c => c.toString
  } + "\""

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = kv("work")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val trace = kv("trace") == "1"
    val corpora = kv("corpora")
    val r = new Result
    if (kv("workload") == "corpus_ops") OpsBench.run(seed, seconds, trace, work, corpora, r)
    else {
      val w = Workloads(kv("workload"))
      val bench = new ExtractBench(w, seed, work, corpora, argv.contains("--corrupt"))
      if (!bench.setupReady) {
        // the fixed set-up corpus is generated once per checkout; a JVM
        // that generated it is no longer cold, so it stops here and
        // run.py starts a fresh one
        val spark = session(4, work)
        bench.input(spark, Workloads.SetupSeed, w.nSetup)
        spark.stop()
        r.put("setup.cold_s", Double.NaN, "s")
      } else if (trace) traced(bench, w, seed, seconds, work, r)
      else untraced(bench, w, seed, seconds, work, r)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(kv("out")), r.json.getBytes("UTF-8"))
  }

  /** Session start + the first ExtractJob pass over the (cached) set-up
    * corpus: the seconds since JVM start. Also records the process CPU
    * seconds spent by then (`setup.cpu_s`), which CPU time taken by other
    * tenants of the machine does not inflate.
    */
  private def coldSetup(bench: ExtractBench, w: Workload, spark: SparkSession,
      r: Result): Double = {
    val in = bench.input(spark, Workloads.SetupSeed, w.nSetup)
    val (_, cfg) = bench.runPass(spark, in, "setup")
    val t = sinceJvmStart()
    r.put("setup.cpu_s", Stats.processCpuSeconds(), "s")
    log(s"set-up pass done")
    r.count(bench.check(spark, cfg, Workloads.SetupSeed, w.nSetup), "setup pass")
    bench.cleanup(cfg)
    t
  }

  /** Closed loop: back-to-back ExtractJob.run passes over `in`. The
    * first `warmup` passes let the JIT settle and are not returned; timed
    * passes follow until `seconds` have passed (at least `minPasses`).
    * Every pass, warm-up included, is checked after the loop, outside the
    * timed region.
    */
  private def window(bench: ExtractBench, spark: SparkSession, in: String, seed: Long,
      n: Int, seconds: Double, minPasses: Int, label: String, r: Result, warmup: Int = 0,
      each: (Double, graft.job.JobConfig) => Unit = (_, _) => ()): Seq[Double] = {
    val walls = mutable.ArrayBuffer[Double]()
    val cfgs = mutable.ArrayBuffer[graft.job.JobConfig]()
    var end = Long.MaxValue
    while (walls.length < warmup + minPasses || System.nanoTime() < end) {
      if (walls.length == warmup) end = System.nanoTime() + (seconds * 1e9).toLong
      val (t, cfg) = bench.runPass(spark, in, label)
      walls += t; cfgs += cfg
      each(t, cfg)
    }
    cfgs.foreach { cfg =>
      r.count(bench.check(spark, cfg, seed, n), s"$label ${cfg.runId}")
      bench.cleanup(cfg)
    }
    log(s"$label: checked ${cfgs.length} passes: ${walls.mkString(" ")}")
    walls.drop(warmup).toSeq
  }

  /** Emitted spans of one pass, from its metrics table. */
  private def spansOut(spark: SparkSession, cfg: graft.job.JobConfig): Long =
    spark.read.parquet(cfg.metricsPath).agg(org.apache.spark.sql.functions.sum("n_spans_out"))
      .first().getLong(0)

  /** Items per pass behind `extract_spans_per_s`: input spans for the
    * span workloads, emitted spans (metrics table) for html.
    */
  private def spanCount(bench: ExtractBench, w: Workload, spark: SparkSession,
      in: String, cfg: graft.job.JobConfig): Long =
    if (w.spansInput) bench.inputSpans(spark, in) else spansOut(spark, cfg)

  private def untraced(bench: ExtractBench, w: Workload, seed: Long, seconds: Double,
      work: String, r: Result): Unit = {
    val spark = session(4, work)
    r.put("setup.cold_s", coldSetup(bench, w, spark, r), "s")
    val in4 = bench.input(spark, seed, w.n4)
    log("input ready")
    var spans = 0L
    val walls4 = window(bench, spark, in4, seed, w.n4, seconds, 3, "l4", r, warmup = 4,
      each = (_, cfg) => if (spans == 0) spans = spanCount(bench, w, spark, in4, cfg))
    spark.stop()
    val m4 = Stats.median(walls4)
    r.put("extract_docs_per_s", w.n4 / m4, "1/s", walls4.length)
    r.put("extract_spans_per_s", spans / m4, "1/s", walls4.length)
  }

  private def traced(bench: ExtractBench, w: Workload, seed: Long, seconds: Double,
      work: String, r: Result): Unit = {
    var spark = session(4, work)
    val tasks = new TaskRecorder
    spark.sparkContext.addSparkListener(tasks)
    r.put("setup.cold_s", coldSetup(bench, w, spark, r), "s")
    val in4 = bench.input(spark, seed, w.n4)
    val in1 = bench.input(spark, seed, w.n1)
    bench.properties(spark, in4).foreach { case (k, v) =>
      r.put(k, v, if (k.endsWith("_share")) "ratio" else if (k.endsWith("_doc")) "count" else "B")
    }
    tasks.drain()
    Stats.resetHeapPeak()
    val gc0 = Stats.gcSeconds()

    // job level, local[4]: run / scan-only / kernel-only passes
    val runs, scans, kernels, skews, nTasks = mutable.ArrayBuffer[Double]()
    var outMb, failedM, rejected = 0.0
    repeatFor(seconds * 0.5) { () =>
      val (t, cfg) = bench.runPass(spark, in4, "trace")
      runs += t
      val ts = tasks.drain().map(_.toDouble)
      if (ts.nonEmpty) { skews += ts.max / Stats.median(ts); nTasks += ts.length }
      if (runs.length == 1) {
        outMb = dirBytes(new java.io.File(cfg.outputPath)) / 1048576.0
        val ms = spark.read.parquet(cfg.metricsPath)
          .agg(org.apache.spark.sql.functions.sum("n_failed")).first().getLong(0)
        val outRows = spark.read.parquet(s"${cfg.outputPath}/chunk=*").count()
        failedM = ms; rejected = w.n4 - outRows
      }
      r.count(bench.check(spark, cfg, seed, w.n4), s"trace ${cfg.runId}")
      bench.cleanup(cfg)
      scans += bench.scanPass(spark, in4)
      kernels += bench.kernelPass(spark, in4)
    }
    log("job-level passes done")
    val runS = Stats.median(runs.toSeq)
    r.put("extract_docs_per_s_4t", w.n4 / runS, "1/s", runs.length)
    val kernelS = Stats.median(kernels.toSeq)
    r.put("job.run_s", runS, "s", runs.length)
    r.put("job.scan_s", Stats.median(scans.toSeq), "s", scans.length)
    r.put("job.kernel_pass_s", kernelS, "s", kernels.length)
    r.put("job.sink_s", runS - kernelS, "s", runs.length)
    r.put("job.output_mb", outMb, "MB")
    r.put("job.docs_failed", failedM, "count")
    r.put("job.docs_rejected", rejected, "count")
    // listener events arrive asynchronously; a pass whose task events
    // were not delivered yet is left out of the skew
    if (skews.nonEmpty) {
      r.put("job.task_skew", Stats.median(skews.toSeq), "ratio", skews.length)
      r.put("job.tasks", Stats.median(nTasks.toSeq), "count", nTasks.length)
    }
    spark.stop()

    // scaling pass: the same job at local[1] over the first n1 docs
    spark = session(1, work)
    val walls1 = window(bench, spark, in1, seed, w.n1, seconds * 0.25, 2, "l1", r, warmup = 1)
    val dps4 = w.n4 / runS
    val dps1 = w.n1 / Stats.median(walls1)
    r.put("extract_docs_per_s_1t", dps1, "1/s", walls1.length)
    r.put("scaling_eff_1to4", dps4 / (4 * dps1), "ratio", walls1.length)

    // kernel layers, local[1]: untraced and traced replays of the row loop
    val plain = mutable.ArrayBuffer[Double]()
    val replays = mutable.ArrayBuffer[(Double, Map[String, Double])]() // traced wall, self times
    var recs = Vector.empty[Trace.Rec]
    var lmEvals = 0L
    val planted = (0L until w.n1).count(Corpora.planted)
    def replay(traced: Boolean): Double = {
      val (t, failed) = bench.kernelLoop(spark, in1, traced)
      r.count(PassCheck(w.n1, math.max(0L, failed - planted),
        if (failed == planted) Nil else Seq(s"$failed docs failed, $planted planted")),
        if (traced) "traced replay" else "replay")
      t
    }
    def tracedReplay(): Unit = {
      Trace.clear()
      val lm0 = graft.lm.Scorer.lmCallCount
      val wall = replay(traced = true)
      lmEvals = graft.lm.Scorer.lmCallCount - lm0
      recs = Trace.snapshot()
      replays += ((wall, Trace.selfTimes(recs)))
    }
    // alternate which replay goes first, so that what the first one warms
    // (JIT, page cache) does not favour the second in trace.overhead_share
    repeatFor(seconds * 0.25) { () =>
      if (plain.length % 2 == 0) { plain += replay(traced = false); tracedReplay() }
      else { tracedReplay(); plain += replay(traced = false) }
    }
    spark.stop()
    r.put("jvm.gc_s", Stats.gcSeconds() - gc0, "s")
    r.put("jvm.heap_peak_mb", Stats.heapPeakMb(), "MB")

    // The probe calls (docinfo, fix) repeat work extractTree does inside,
    // so they are taken out of the traced wall. What remains is the loop
    // the job runs: the layer calls plus what no span covers (parquet
    // scan, row iteration, task overhead), reported as kernel.loop_s.
    val n = replays.length
    def t(tot: Map[String, Double], k: String) = tot.getOrElse(k, 0.0)
    def probes(tot: Map[String, Double]) = t(tot, "stats.docinfo") + t(tot, "classify.fix")
    def layers(tot: Map[String, Double]) = Seq("codec.decode", "extract.tree", "extract.emit",
      "assemble.text", "html.charset", "html.kernel").map(t(tot, _)).sum
    // per replay: kernel wall (traced wall - probes) and its self times
    val loops = replays.map { case (wall, tot) => (wall - probes(tot), tot) }.toSeq
    def med(f: (Double, Map[String, Double]) => Double) = Stats.median(loops.map(f.tupled))
    val kernelWall = med((k, _) => k)
    val layerS = Map(
      "codec.decode_s" -> med((_, tot) => t(tot, "codec.decode")),
      "stats.docinfo_s" -> med((_, tot) => t(tot, "stats.docinfo")),
      "classify.fix_s" -> med((_, tot) => t(tot, "classify.fix")),
      "reflow.self_s" -> med((_, tot) => t(tot, "extract.tree") - probes(tot)),
      "extract.emit_s" -> med((_, tot) => t(tot, "extract.emit")),
      "assemble.text_s" -> med((_, tot) => t(tot, "assemble.text")),
      "html.charset_s" -> med((_, tot) => t(tot, "html.charset")),
      "html.kernel_s" -> med((_, tot) => t(tot, "html.kernel")))
    layerS.toSeq.sortBy(_._1).foreach { case (k, v) => r.put(k, v, "s", n) }
    r.put("codec.share", layerS("codec.decode_s") / kernelWall, "ratio", n)
    r.put("kernel.wall_s", kernelWall, "s", n)
    r.put("kernel.loop_s", med((k, tot) => k - layers(tot)), "s", n)
    r.put("kernel.accounted_share", med((k, tot) => layers(tot) / k), "ratio", n)
    r.put("kernel.untraced_s", Stats.median(plain.toSeq), "s", plain.length)
    r.put("kernel.traced_s", Stats.median(replays.map(_._1).toSeq), "s", n)
    r.put("trace.overhead_share", kernelWall / Stats.median(plain.toSeq) - 1.0, "ratio", n)
    r.put("lm.evals", lmEvals.toDouble, "count")
    r.put("lm.evals_per_doc", lmEvals.toDouble / w.n1, "count")
    new java.io.File(s"$work/trace").mkdirs()
    Trace.write(s"$work/trace/${w.name}-s$seed.tsv", recs)
  }

  /** Repeat `body` until `seconds` have passed; at least twice. */
  private def repeatFor(seconds: Double)(body: () => Unit): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (n < 2 || System.nanoTime() < end) { body(); n += 1 }
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length() else 0L
}
