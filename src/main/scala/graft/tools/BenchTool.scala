package graft.tools

import graft.extract.Extractor
import graft.fixtures.Fixtures
import graft.obs.QueryProfile
import graft.reflow.ExtractConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bench-methodology diagnostics, one main with subcommands.
  *
  *   sbt "runMain graft.tools.BenchTool <cmd> [args]"
  *
  * Commands (override thread/core levels via PROBE_LEVELS):
  *  - kernel      raw extraction-kernel thread scaling, no Spark
  *  - htmlkernel  web-kernel (extractAllRow) thread scaling, no Spark
  *  - profile [name...]  per-query cost profile (graft.obs.QueryProfile)
  *                on SPARK_GRAFT_SF_DIR: one cold and 3 warm runs of the
  *                full BenchSurface, or of the named SparkEntry queries
  *                and production twins; prints one JSON line
  *  - scaleup [src dst factor]  replicate the sf tables key-shifted to a
  *                larger scale factor (default sf0.1 -> target/sf1, 10x)
  *  - plandump  <q...>  formatted physical plans + entry() smoke
  *  - crawlio     WARC extract / WET round-trip scaling
  *  - crawlloop   composed CrawlLoop scaling over a multi-host web
  *
  * Findings are summarized in BENCH/BASELINE.md; the round's bench
  * artifact itself is measured by graft.Bench.
  */
object BenchTool {

  private def session(level: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$level]")
      .config("spark.sql.shuffle.partitions", level)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4194304")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val repoRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_REPO", System.getProperty("user.dir"))

  private def levels(default: String): Seq[Int] =
    sys.env.getOrElse("PROBE_LEVELS", default).split(",").map(_.trim.toInt).toSeq

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "kernel" :: _ => kernel()
    case "htmlkernel" :: _ => htmlKernel()
    case "profile" :: names => profile(names)
    case "scaleup" :: rest => scaleUp(rest)
    case "plandump" :: qs => planDump(qs)
    case "crawlio" :: _ => crawlIo()
    case "crawlloop" :: _ => crawlLoopProbe()
    case other => sys.error(s"unknown BenchTool command: $other (see scaladoc)")
  }

  /** Shared thread-scaling harness for the no-Spark kernel probes: a
    * fixed pool work-steals item indices via one AtomicInteger; best-of-2
    * per level; the pool always shuts down (even when a task throws).
    * Returns docs-or-pages/sec per level and prints one line each.
    */
  private def threadScale(tag: String, n: Int, defaultLevels: String)(
      work: Int => Unit): Unit =
    levels(defaultLevels).foreach { threads =>
      def once(): Double = {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
        try {
          val idx = new java.util.concurrent.atomic.AtomicInteger(0)
          val wall = timed {
            (0 until threads).map { _ =>
              pool.submit(new Runnable {
                def run(): Unit = {
                  var i = idx.getAndIncrement()
                  while (i < n) { work(i); i = idx.getAndIncrement() }
                }
              })
            }.foreach(_.get())
          }
          n / wall
        } finally pool.shutdown()
      }
      val best = Seq(once(), once()).max
      println(f"[$tag] threads=$threads%2d best items/sec=$best%.0f")
    }

  /** Raw extraction-kernel thread-scaling without Spark. */
  private def kernel(): Unit = {
    val n = 20000
    val docs = (0 until n).map { i =>
      val rng = new Fixtures.Rng(42L + i)
      Fixtures.compositeDoc(f"doc-$i%08d", 1 + rng.nextInt(3), rng, withMedia = i % 5 == 0)
    }.toArray
    val cfg = ExtractConfig()
    docs.take(4000).foreach(d => Extractor.extractRow(d, cfg)) // warmup
    threadScale("kernel", n, "1,4,16,32")(i => Extractor.extractRow(docs(i), cfg))
  }

  /** HTML-kernel (extractAllRow: tokenize + classify + links + meta)
    * thread scaling without Spark — the web-side twin of `kernel`,
    * backing the map-only scaling claim for the HTML path.
    */
  private def htmlKernel(): Unit = {
    val pages = graft.fixtures.HtmlFixtures.corpus(60000).toArray
    val n = pages.length
    pages.take(4000).foreach { case (id, html) =>
      graft.html.HtmlExtract.extractAllRow(id, html, s"https://f.example/$id")
    } // JIT warmup
    threadScale("htmlkernel", n, "1,4,16,32") { i =>
      val (id, html) = pages(i)
      graft.html.HtmlExtract.extractAllRow(id, html, s"https://f.example/$id"): Unit
    }
  }

  /** Bounded production twins of the two gate queries that are quadratic
    * by contract (q30's exact winnow overlap, q15's exact cosine pairs),
    * profiled by name only.
    */
  private val prodTwins: Map[String, (SparkSession, String) => DataFrame] = Map(
    "winnow_overlap_atScale" -> ((s, dir) => graft.ops.Dedup.winnowOverlapPairsAtScale(
      s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text")))),
    "cosine_neardup_lsh_prod" -> ((s, dir) => graft.ops.Similarity.cosineNearDupPairs(
      s.read.parquet(s"$dir/embeddings.parquet"), threshold = 0.95)))

  /** Query profile on SPARK_GRAFT_SF_DIR at SPARK_GRAFT_CPUS cores, shaped
    * like graft.Bench's query section (neutral warm-up first). Every name is
    * checked before a session is built.
    */
  private def profile(names: Seq[String]): Unit = {
    val known = graft.SparkEntry.queries ++ prodTwins
    val unknown = names.filterNot(known.contains)
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown profile entries: ${unknown.mkString(", ")}; " +
        s"accepted: ${known.keys.toSeq.sorted.mkString(" ")}")
    val entries =
      if (names.isEmpty) graft.BenchSurface.ordered else names.distinct.map(n => n -> known(n))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft-warm").toString
      spark.range(0, 100000).selectExpr("id", "cast(id as string) AS s")
        .write.mode("overwrite").parquet(tmp)
      spark.read.parquet(tmp).selectExpr("count(distinct s)", "sum(id)").collect()
      println(QueryProfile.run(spark, sfDir, entries))
    } finally spark.stop()
  }

  /** Key-shifted replication of the driver's sf tables to a larger scale
    * factor (the r04 verdict's scale-proof input: "run the full surface
    * at sf1"). Replica k shifts every join/group key by k x (max+1) of
    * its source table, so referential integrity, key-group sizes and
    * selectivities are preserved while distinct-key counts scale
    * linearly — the same scaling law the TPC-H generator follows.
    * Content columns vary per replica where sameness would distort an
    * operator's work profile rather than scale it: document texts get a
    * per-replica suffix (otherwise exact/near-dup groups grow 10x denser
    * instead of 10x more numerous) and embedding vectors get
    * deterministic per-dim noise (otherwise the cosine layers see every
    * replica as a perfect duplicate). Replica 0 is the untouched source.
    * Dimension tables (region, nation) keep their fixed size, like
    * TPC-H.
    */
  private def scaleUp(args: Seq[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse(s"$repoRoot/target/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = session(32)
    spark.sparkContext.setLogLevel("ERROR")
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def keyMod(t: String, c: String): Long =
      read(t).agg(max(col(c))).head.getLong(0) + 1L
    val rep = spark.range(factor).select(col("id").as("graft_rep"))
    def emit(t: String, df: org.apache.spark.sql.DataFrame, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    def scaled(t: String, shifts: (String, Long)*) : org.apache.spark.sql.DataFrame =
      shifts.foldLeft(read(t).crossJoin(rep)) { case (d, (c, m)) =>
        d.withColumn(c, col(c) + col("graft_rep") * m)
      }
    Seq("region", "nation").foreach(t => emit(t, read(t), 1))
    val (mC, mS, mP, mO) = (keyMod("customer", "c_custkey"),
      keyMod("supplier", "s_suppkey"), keyMod("part", "p_partkey"),
      keyMod("orders", "o_orderkey"))
    emit("customer", scaled("customer", "c_custkey" -> mC).drop("graft_rep"), 4)
    emit("supplier", scaled("supplier", "s_suppkey" -> mS).drop("graft_rep"), 1)
    emit("part", scaled("part", "p_partkey" -> mP).drop("graft_rep"), 2)
    emit("orders", scaled("orders", "o_orderkey" -> mO, "o_custkey" -> mC)
      .drop("graft_rep"), 8)
    emit("lineitem", scaled("lineitem", "l_orderkey" -> mO,
      "l_partkey" -> mP, "l_suppkey" -> mS).drop("graft_rep"), 32)
    val mE = keyMod("events", "event_id")
    val mU = keyMod("events", "user_id")
    emit("events", scaled("events", "event_id" -> mE, "user_id" -> mU)
      .drop("graft_rep"), 8)
    val mD = keyMod("documents", "doc_id")
    // replica texts must not stay NEAR-duplicates of their source (a
    // trailing suffix leaves Jaccard ~1, so minhash/winnow/cluster pair
    // counts grow quadratically in the FACTOR instead of linearly in the
    // data — measured: q30 46x, q20 32x at 10x before this fix). A
    // position-INDEPENDENT word perturbation — every word with
    // hash(word)%3==0 gains a per-replica suffix — pushes cross-replica
    // shingle Jaccard to ~0.2 (below every near-dup threshold) while
    // planted dup/near-dup pairs WITHIN a replica transform identically
    // word-for-word (offset-shifted shared runs included), so group
    // sizes stay constant and group counts scale with the factor.
    emit("documents", scaled("documents", "doc_id" -> mD)
      .withColumn("text", when(col("graft_rep") === 0, col("text"))
        .otherwise(expr("concat_ws(' ', transform(split(text, ' '), " +
          "w -> CASE WHEN pmod(hash(w), 3) = 0 " +
          "THEN concat(w, 'r', graft_rep) ELSE w END))")))
      .drop("graft_rep"), 8)
    val mV = keyMod("embeddings", "vec_id")
    emit("embeddings", scaled("embeddings", "vec_id" -> mV)
      .withColumn("embedding", when(col("graft_rep") === 0, col("embedding"))
        .otherwise(expr("transform(embedding, (x, i) -> cast(x + " +
          "(pmod(hash(vec_id, i), 1000) / 1000.0 - 0.5) * 0.4 as float))")))
      .drop("graft_rep"), 4)
    spark.stop()
  }

  /** Formatted physical plans for the query surface + entry() smoke. */
  private def planDump(args: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args else Seq("q01_pricing_agg",
      "q02_revenue_by_nation", "q07_exact_dup_groups", "q11_minhash_dup_pairs",
      "q19_ngram_jaccard_pairs", "q13_ann_bruteforce_topk")
    val spark = session(4)
    spark.sparkContext.setLogLevel("ERROR")
    println(s"[plan] entry() rows=${graft.SparkEntry.entry(spark).count()} " +
      "(driver smoke-checks >0)")
    names.foreach { n =>
      println(s"\n================ $n ================")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }

  /** Crawl-container loop scaling: the round-5 surfaces end to end.
    *
    * Leg 1 `warc_extract`: fixture WARC shards (per-record gzip, the
    * Common Crawl shape) -> `Warc.responses` -> charset ladder ->
    * one-pass `extractAll` -> noop sink. Leg 2 `wet_roundtrip`:
    * doc-level (url, text) rows -> `writeWetShards` -> `wetText` ->
    * count. Both legs are map-only end to end (binaryFiles partitions,
    * no Exchange), the shape where in-process local[N] thread scaling is
    * meaningful (cf. htmlkernel 0.93-0.95 vs e2e's shared-heap 0.4-0.7).
    * Shard counts (96 WARC / 64 WET) keep both levels fully parallel.
    */
  private def crawlIo(): Unit = {
    // big enough that the slow level runs ~20s — at probe sizes where a
    // run is a few seconds, job-fixed overheads flatten the curve and
    // the efficiency number measures Spark startup, not the operators
    val nPages = 96000
    val shards = 192
    val dir = new java.io.File(s"$repoRoot/target/bench/crawl_$nPages")
    if (!new java.io.File(dir, "done").exists) {
      dir.mkdirs()
      val pages = graft.fixtures.HtmlFixtures.corpus(nPages)
      val per = (nPages + shards - 1) / shards
      pages.grouped(per).zipWithIndex.foreach { case (grp, s) =>
        val bytes = graft.sources.Warc.writeWarc(
          grp.map { case (id, html) =>
            (s"https://bench.example/$id", "text/html; charset=utf-8",
              html.getBytes("UTF-8"))
          }, gzipPerRecord = true)
        java.nio.file.Files.write(
          new java.io.File(dir, f"crawl-$s%05d.warc.gz").toPath, bytes)
      }
      new java.io.File(dir, "done").createNewFile(): Unit
    }
    // WET fixture shards once (for the wetio leg): doc-level rows out
    // through the sink, then the measured leg round-trips them
    // 4x the WARC page count: WET rows are cheaper per row than
    // extraction, and the 16-core leg must run several seconds or
    // fixed job overhead masquerades as lost efficiency
    val nWet = nPages * 4
    val wetDir = new java.io.File(s"$repoRoot/target/bench/wet_$nWet")
    if (!new java.io.File(wetDir, "done").exists) {
      val spark = session(8)
      import spark.implicits._
      val one = spark.createDataset(
          graft.fixtures.HtmlFixtures.corpus(nPages))
        .toDF("doc_id", "text")
      graft.sources.Warc.writeWetShards(
        spark.range(4).toDF("rep").crossJoin(one)
          .selectExpr(
            "concat('https://bench.example/', rep, '/', doc_id) AS url",
            "text")
          .repartition(256),
        wetDir.getPath, gzipPerRecord = true)
      spark.stop()
      new java.io.File(wetDir, "done").createNewFile(): Unit
    }
    // preferred mode: REAL separate executor JVMs (1x4 vs 4x4 cores) via
    // spark-submit local-cluster — thread-mode local[N] shares one
    // heap/GC and reads ~0.3-0.5 even for this map-only path. Thread
    // fallback only when /opt/spark is absent.
    val useCluster = new java.io.File("/opt/spark/bin/spark-submit").canExecute
    if (useCluster) {
      report("warc_extract[cluster]", Seq(1, 4).flatMap { ex =>
        clusterRun(ex, dir.getPath, "crawlio").map(ex * 4 -> _)
      })
      report("wet_roundtrip[cluster]", Seq(1, 4).flatMap { ex =>
        clusterRun(ex, wetDir.getPath, "wetio").map(ex * 4 -> _)
      })
    } else {
      report("warc_extract[threads]", levels("4,16").map { level =>
        val spark = session(level)
        def once(): Double = timed {
          graft.sources.Warc.extractAll(
              spark, dir.getPath + "/crawl-*.warc.gz", minPartitions = level)
            .write.mode("overwrite").format("noop").save()
        }
        once() // warm: JIT + gzip + codegen
        val best = nPages / Seq(once(), once()).min
        spark.stop()
        level -> best
      })
      report("wet_roundtrip[threads]", levels("4,16").map { level =>
        val spark = session(level)
        def once(): Double = timed {
          val out = java.nio.file.Files
            .createTempDirectory("graft-crawlio-wet").toString
          graft.sources.Warc.writeWetShards(
            graft.sources.Warc.wetText(spark, wetDir.getPath + "/part-*",
              minPartitions = level), out, gzipPerRecord = true)
        }
        once()
        val best = nPages / Seq(once(), once()).min
        spark.stop()
        level -> best
      })
    }
  }

  /** Probe report: per-level throughput + N->4N efficiency. */
  private def report(tag: String, tps: Seq[(Int, Double)]): Unit = {
    tps.foreach { case (cores, tp) =>
      println(f"[crawlio] $tag cores=$cores%2d best pages/sec=$tp%.0f")
    }
    if (tps.length >= 2) {
      val (l0, t0) = tps.head; val (l1, t1) = tps.last
      val eff = (t1 / t0) / (l1.toDouble / l0)
      println(f"[crawlio] $tag scaling $l0->$l1 efficiency=$eff%.3f")
    }
  }

  /** One ClusterBench child run (REAL separate executor JVMs via
    * spark-submit local-cluster); parses the docs/s line.
    */
  private def clusterRun(executors: Int, corpusDir: String,
      mode: String): Option[Double] = {
    val submit = new java.io.File("/opt/spark/bin/spark-submit")
    if (!submit.canExecute) return None
    graft.Bench.ensureAppJar().flatMap { jar =>
      val cmd = java.util.Arrays.asList(
        submit.getAbsolutePath,
        "--master", s"local-cluster[$executors,4,12288]",
        "--conf", "spark.ui.enabled=false",
        // size shuffles to the actual cores: the default 200 turns the
        // crawl loop's ~8 small shuffles per cycle into 1,600 tiny tasks
        // of pure scheduling overhead per cycle
        "--conf", s"spark.sql.shuffle.partitions=${executors * 4 * 2}",
        "--conf", "spark.sql.adaptive.enabled=true",
        "--conf", "spark.sql.adaptive.coalescePartitions.enabled=true",
        // local-cluster[N,c,MEM] sizes the WORKER; the executor JVM still
        // launches at the 1g default and the 1-executor leg OOMs caching
        // the crawl cycle's extracted set — give executors the worker's
        // memory (total heap is then equal at both levels: 1x10g vs 4x2.5g)
        "--conf", s"spark.executor.memory=${10240 / executors}m",
        "--class", "graft.tools.ClusterBench",
        jar, corpusDir, (executors * 4).toString, mode)
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_HOME", "/opt/spark")
      pb.redirectErrorStream(true)
      val p = pb.start()
      val outLines = new String(p.getInputStream.readAllBytes(), "UTF-8")
      p.waitFor()
      val parsed = "\\((\\d+) docs/s\\)".r
        .findFirstMatchIn(outLines).map(_.group(1).toDouble)
      if (parsed.isEmpty)
        // a dropped level silently skews the efficiency pair — say why
        println(s"[crawlio] WARN child failed (executors=$executors, " +
          s"mode=$mode); tail:\n" +
          outLines.linesIterator.toSeq.takeRight(8).mkString("\n"))
      parsed
    }
  }

  /** Composed crawl-loop scaling: the FULL CrawlLoop (politeness plan,
    * fetched-set diff, extraction, per-cycle landed tables) run to
    * exhaustion over a multi-host fixture web — 8 hosts so the per-host
    * politeness windows parallelize, the real crawl shape (a one-host
    * web serializes on its own politeness by construction). Fixture web
    * landed once as parquet; each measured run is a fresh full crawl in
    * a fresh tmpfs outDir (see ClusterBench "crawlloop"). Cluster mode
    * = real separate executor JVMs, 1x4 vs 4x4 cores.
    */
  private def crawlLoopProbe(): Unit = {
    val nHosts = 8
    // 8 x (3 + 300 + 300^2) = 722,424 pages: the fixture pages are light
    // (~1 KB), so the web must be this big before operator compute
    // dominates the ~0.5s/job local-cluster scheduling floor
    val fanout = 300
    val dir = new java.io.File(s"$repoRoot/target/bench/site_${nHosts}x$fanout")
    val webDir = new java.io.File(dir, "web")
    if (!new java.io.File(dir, "done").exists) {
      dir.mkdirs()
      val spark = session(8)
      import spark.implicits._
      (0 until nHosts).foreach { i =>
        spark.createDataset(graft.fixtures.HtmlFixtures
            .site(2, fanout, host = s"crawl$i.example"))
          .toDF("url", "html")
          .repartition(8).write.mode("append").parquet(webDir.getPath)
      }
      spark.stop()
      new java.io.File(dir, "done").createNewFile(): Unit
    }
    if (new java.io.File("/opt/spark/bin/spark-submit").canExecute) {
      report("crawl_loop[cluster]", Seq(1, 4).flatMap { ex =>
        clusterRun(ex, webDir.getPath, "crawlloop").map(ex * 4 -> _)
      })
      // single-big-cycle leg: all urls seeded at once — the operator
      // path without the BFS barrier count (see ClusterBench)
      report("crawl_seed[cluster]", Seq(1, 4).flatMap { ex =>
        clusterRun(ex, webDir.getPath, "crawlseed").map(ex * 4 -> _)
      })
    } else {
      report("crawl_loop[threads]", levels("4,16").map { level =>
        val spark = session(level)
        import spark.implicits._
        val web = spark.read.parquet(webDir.getPath)
        val seeds = (0 until nHosts)
          .map(i => s"https://crawl$i.example/start").toDF("url")
        val robots = (0 until nHosts)
          .map(i => graft.fixtures.HtmlFixtures
            .siteRobots(s"crawl$i.example")).toDF("host", "robots_txt")
        def once(): (Double, Long) = {
          val outd = java.nio.file.Files
            .createTempDirectory("graft-crawlloop").toString
          val cfg = graft.pipeline.CrawlLoop.CrawlConfig(outd, cycles = 10)
          val w = timed(graft.pipeline.CrawlLoop
            .run(spark, web, seeds, robots, cfg))
          val n = spark.read.parquet(outd + "/metrics")
            .agg(org.apache.spark.sql.functions.sum("fetched"))
            .collect()(0).getLong(0)
          // a full 722k-page crawl output per measured run — reclaim it
          // (the cluster leg rm's its /dev/shm sink the same way)
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete(): Unit
          }
          rm(new java.io.File(outd))
          (w, n)
        }
        once()
        val rs = Seq(once(), once())
        val best = rs.map { case (w, n) => n / w }.max
        spark.stop()
        level -> best
      })
    }
  }
}
