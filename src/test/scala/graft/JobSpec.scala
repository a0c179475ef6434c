package graft

import graft.fixtures.Fixtures
import graft.job.{ExtractJob, JobConfig}
import graft.model._
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-dimension tests: the Spark job around the kernel — distribution,
  * checkpointed resume, oracle diff (FIXTURES.md §4 properties).
  */
class JobSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-jobspec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private lazy val dir: String =
    java.nio.file.Files.createTempDirectory("graft-jobspec").toString

  override def afterAll(): Unit = spark.stop()

  private def corpus(n: Int): Seq[DocRow] = Fixtures.corpus(n, seed = 7L)

  test("end-to-end: all docs extracted once, output deterministic") {
    import spark.implicits._
    val docs = corpus(60)
    spark.createDataset(docs).write.mode("overwrite").parquet(s"$dir/in1")
    val cfg = JobConfig(s"$dir/in1", s"$dir/out1", s"$dir/m1",
      runId = "r1", numPartitions = 4, chunks = 1)
    ExtractJob.run(spark, cfg)
    val out = ExtractJob.readOutput(spark, cfg).collect()
    assert(out.length == docs.length)
    assert(out.map(_.doc_id).distinct.length == docs.length)
    // offsets strictly increasing per row (order preservation property)
    out.foreach { d =>
      assert(d.spans.map(_.offset) == d.spans.indices.map(identity))
    }
    // footnotes reordered last within the rendered element kinds
    out.foreach { d =>
      val kinds = d.spans.map(_.kind)
      val lastBody = kinds.lastIndexOf("body")
      val firstFn = kinds.indexOf("footnotes")
      if (firstFn >= 0 && lastBody >= 0) assert(firstFn > lastBody)
    }
  }

  test("html job: web kernel through the chunked/resumable machinery") {
    import spark.implicits._
    val good = graft.fixtures.HtmlFixtures.corpus(30)
    // a null html and a null doc_id with a VALID page: both fail as docs
    val pages = good :+ ("web-broken", null) :+ (null, good(3)._2)
    pages.toDF("doc_id", "html").write.mode("overwrite").parquet(s"$dir/hin")
    val cfg = JobConfig(s"$dir/hin", s"$dir/hout", s"$dir/hm",
      runId = "rh", numPartitions = 4, chunks = 2, inputKind = "html",
      bigDocHtmlChars = 2000) // fixture pages are ~3-4k chars: salting engages
    ExtractJob.run(spark, cfg)
    val out = ExtractJob.readOutput(spark, cfg).collect()
    assert(out.length == 30) // null-html and null-id pages failed, not emitted
    assert(out.forall(_.spans.nonEmpty))
    // null page is a lineage metric, not a task failure
    val metrics = spark.read.parquet(s"$dir/hm")
    assert(metrics.filter(
      org.apache.spark.sql.functions.col("status") === "done_with_failures" &&
        org.apache.spark.sql.functions.col("error").contains("web-broken"))
      .count() >= 1)
    assert(metrics.agg(org.apache.spark.sql.functions.sum("n_failed"))
      .head.getLong(0) == 2L)
    // rerun of the completed job is a no-op
    ExtractJob.run(spark, cfg)
    assert(ExtractJob.readOutput(spark, cfg).count() == 30)
    // the kernel through the job equals the kernel called directly
    val direct = graft.html.HtmlExtract
      .extractRow("web-00003", pages.toMap.apply("web-00003"))
    assert(out.find(_.doc_id == "web-00003").get == direct)
  }

  test("html_bytes job: crawl-native bytes through the chunked machinery (charset ladder inside)") {
    import spark.implicits._
    // mixed encodings + a poison row; the ladder runs inside the chunk map
    val pages = graft.fixtures.HtmlFixtures.bytesCorpus(20) :+
      (("bytes-broken", null.asInstanceOf[Array[Byte]], "text/html"))
    pages.toDF("doc_id", "html_bytes", "content_type")
      .write.mode("overwrite").parquet(s"$dir/bin")
    val cfg = JobConfig(s"$dir/bin", s"$dir/bout", s"$dir/bm",
      runId = "rb", numPartitions = 4, chunks = 2, inputKind = "html_bytes",
      bigDocHtmlChars = 2000)
    ExtractJob.run(spark, cfg)
    val out = ExtractJob.readOutput(spark, cfg).collect()
    assert(out.length == 20)
    // byte path through the JOB == string kernel called directly, for
    // every mixed-encoding variant
    val want = graft.fixtures.HtmlFixtures.corpus(20).map { case (id, html) =>
      id -> graft.html.HtmlExtract.extractRow(id, html)
    }.toMap
    out.foreach(d => assert(d == want(d.doc_id), d.doc_id))
    val metrics = spark.read.parquet(s"$dir/bm")
    assert(metrics.filter(
      org.apache.spark.sql.functions.col("status") === "done_with_failures" &&
        org.apache.spark.sql.functions.col("error").contains("bytes-broken"))
      .count() >= 1)
    // a content_type-less input table still runs (ladder continues)
    pages.toDF("doc_id", "html_bytes", "content_type").drop("content_type")
      .write.mode("overwrite").parquet(s"$dir/bin2")
    val cfg2 = cfg.copy(inputPath = s"$dir/bin2", outputPath = s"$dir/bout2",
      metricsPath = s"$dir/bm2", runId = "rb2")
    ExtractJob.run(spark, cfg2)
    assert(ExtractJob.readOutput(spark, cfg2).count() == 20)
  }

  test("chunked run produces identical output to single-chunk run") {
    import spark.implicits._
    val docs = corpus(60)
    spark.createDataset(docs).write.mode("overwrite").parquet(s"$dir/in2")
    val cfg1 = JobConfig(s"$dir/in2", s"$dir/out2a", s"$dir/m2a",
      runId = "r2a", numPartitions = 4, chunks = 1)
    val cfg4 = JobConfig(s"$dir/in2", s"$dir/out2b", s"$dir/m2b",
      runId = "r2b", numPartitions = 4, chunks = 4)
    ExtractJob.run(spark, cfg1)
    ExtractJob.run(spark, cfg4)
    val a = ExtractJob.readOutput(spark, cfg1).collect().sortBy(_.doc_id)
    val b = ExtractJob.readOutput(spark, cfg4).collect().sortBy(_.doc_id)
    assert(a.toSeq == b.toSeq)
    // one metrics file per chunk append (16 partition rows each), and the
    // rows account for every input document
    for ((cfg, k) <- Seq(cfg1 -> 1, cfg4 -> 4)) {
      val files = new java.io.File(cfg.metricsPath).listFiles().map(_.getName)
      assert(files.count(_.endsWith(".parquet")) == k, files.mkString(", "))
      assert(spark.read.parquet(cfg.metricsPath)
        .agg(org.apache.spark.sql.functions.sum("n_docs")).head.getLong(0) == docs.length)
    }
  }

  test("resume-equivalence: kill-after-half + resume == full run") {
    import spark.implicits._
    val docs = corpus(50)
    spark.createDataset(docs).write.mode("overwrite").parquet(s"$dir/in3")
    val full = JobConfig(s"$dir/in3", s"$dir/out3a", s"$dir/m3a",
      runId = "r3", numPartitions = 4, chunks = 2)
    ExtractJob.run(spark, full)

    // interrupted run: process only chunk 0, "crash", then resume
    val half = JobConfig(s"$dir/in3", s"$dir/out3b", s"$dir/m3b",
      runId = "r3", numPartitions = 4, chunks = 2)
    val docsDs = ExtractJob.readDocs(spark, half)
    import org.apache.spark.sql.functions._
    val chunk0 = docsDs.filter(pmod(xxhash64(col("doc_id")), lit(2)) === 0)
    val part = ExtractJob.repartitionSkewAware(chunk0, 4, half.bigDocSpanThreshold)
    val acc = spark.sparkContext.collectionAccumulator[PartitionMetric]("m")
    ExtractJob.extractChunk(part, half, 0, acc)
      .write.parquet(s"${half.outputPath}/chunk=0")
    spark.createDataset(
      scala.jdk.CollectionConverters.ListHasAsScala(acc.value).asScala.toSeq)
      .write.mode("append").parquet(half.metricsPath)
    // resume: run() must skip chunk 0 and complete chunk 1 only
    ExtractJob.run(spark, half)

    val a = ExtractJob.readOutput(spark, full).collect().sortBy(_.doc_id)
    val b = ExtractJob.readOutput(spark, half).collect().sortBy(_.doc_id)
    assert(a.toSeq == b.toSeq)
    // chunk 0 was not reprocessed: exactly one metrics batch for chunk 0
    val m = spark.read.parquet(half.metricsPath)
    val perChunkPartitions = m.filter(col("chunk_id") === 0).count()
    // one pass worth of partition rows (reprocessing would double it)
    assert(perChunkPartitions <= 4 * ExtractJob.SaltFactor)
  }

  test("rerun of a completed job is a no-op — even with chunks=1") {
    import spark.implicits._
    val docs = corpus(20)
    spark.createDataset(docs).write.mode("overwrite").parquet(s"$dir/in5")
    val cfg = JobConfig(s"$dir/in5", s"$dir/out5", s"$dir/m5",
      runId = "r5", numPartitions = 2, chunks = 1)
    ExtractJob.run(spark, cfg)
    val n1 = ExtractJob.readOutput(spark, cfg).count()
    val m1 = spark.read.parquet(cfg.metricsPath).count()
    ExtractJob.run(spark, cfg) // round-1 bug: this silently doubled output
    assert(ExtractJob.readOutput(spark, cfg).count() == n1)
    assert(spark.read.parquet(cfg.metricsPath).count() == m1)
  }

  test("crash between chunk write and metrics row: resume overwrites, no dup") {
    import spark.implicits._
    val docs = corpus(30)
    spark.createDataset(docs).write.mode("overwrite").parquet(s"$dir/in6")
    val cfg = JobConfig(s"$dir/in6", s"$dir/out6", s"$dir/m6",
      runId = "r6", numPartitions = 2, chunks = 2)
    // simulate the crash window: chunk 0's output committed but the 'done'
    // metrics row never written
    import org.apache.spark.sql.functions._
    val chunk0 = ExtractJob.readDocs(spark, cfg)
      .filter(pmod(xxhash64(col("doc_id")), lit(2)) === 0)
    val acc = spark.sparkContext.collectionAccumulator[PartitionMetric]("m6a")
    ExtractJob.extractChunk(
      ExtractJob.repartitionSkewAware(chunk0, 2, cfg.bigDocSpanThreshold),
      cfg, 0, acc)
      .write.parquet(s"${cfg.outputPath}/chunk=0")
    // resume: chunk 0 is NOT in the done set, so it reprocesses — the
    // per-chunk Overwrite makes that idempotent instead of doubling rows
    ExtractJob.run(spark, cfg)
    val out = ExtractJob.readOutput(spark, cfg).collect()
    assert(out.length == docs.length)
    assert(out.map(_.doc_id).distinct.length == docs.length)
  }

  test("bucketed input: chunk = partition pruning, output unchanged") {
    import spark.implicits._
    val docs = corpus(40)
    spark.createDataset(docs).write.mode("overwrite").parquet(s"$dir/in7raw")
    ExtractJob.bucketizeInput(spark, s"$dir/in7raw", s"$dir/in7", chunks = 4)
    val plain = JobConfig(s"$dir/in7raw", s"$dir/out7a", s"$dir/m7a",
      runId = "r7a", numPartitions = 2, chunks = 4)
    val bucketed = JobConfig(s"$dir/in7", s"$dir/out7b", s"$dir/m7b",
      runId = "r7b", numPartitions = 2, chunks = 4, bucketedInput = true)
    ExtractJob.run(spark, plain)
    ExtractJob.run(spark, bucketed)
    val a = ExtractJob.readOutput(spark, plain).collect().sortBy(_.doc_id)
    val b = ExtractJob.readOutput(spark, bucketed).collect().sortBy(_.doc_id)
    assert(a.toSeq == b.toSeq)
    // the chunk filter reaches the scan as a PARTITION filter (pruning):
    // a k-chunk run reads each input byte once, not k full scans
    import org.apache.spark.sql.functions.col
    val slice = spark.read.parquet(s"$dir/in7").filter(col("bucket") === 2)
      .select("doc_id", "spans")
    val plan = slice.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)
    assert(!plan.contains("PushedFilters: [IsNotNull(bucket"), plan)
  }

  test("doc-level resume works for the html kernel too (shared machinery)") {
    import spark.implicits._
    val pages = graft.fixtures.HtmlFixtures.corpus(20)
    pages.toDF("doc_id", "html").write.mode("overwrite").parquet(s"$dir/hin2")
    val cfg = JobConfig(s"$dir/hin2", s"$dir/hout2", s"$dir/hm2",
      runId = "rh2", numPartitions = 2, chunks = 1, inputKind = "html",
      resumeGranularity = "doc")
    // a crashed attempt committed the first 8 pages
    val committed = pages.take(8)
      .map { case (id, html) => graft.html.HtmlExtract.extractRow(id, html) }
    spark.createDataset(committed).write.parquet(s"${cfg.outputPath}/chunk=0")
    ExtractJob.run(spark, cfg)
    val out = ExtractJob.readOutput(spark, cfg).collect()
    assert(out.length == 20 && out.map(_.doc_id).distinct.length == 20)
    // only the 12 missing pages were re-extracted
    import org.apache.spark.sql.functions.sum
    val m = spark.read.parquet(cfg.metricsPath)
    assert(m.agg(sum("n_docs")).head.getLong(0) == 12L)
  }

  test("doc-level resume (J4): anti-join keeps survivors, extracts the rest") {
    import spark.implicits._
    val docs = corpus(30)
    spark.createDataset(docs).write.mode("overwrite").parquet(s"$dir/in9")
    val cfg = JobConfig(s"$dir/in9", s"$dir/out9", s"$dir/m9",
      runId = "r9", numPartitions = 2, chunks = 1, resumeGranularity = "doc")
    // a crashed attempt committed the first 15 docs
    val half = docs.take(15).map(d =>
      graft.extract.Extractor.extractRow(d, graft.reflow.ExtractConfig()))
    spark.createDataset(half).write.parquet(s"${cfg.outputPath}/chunk=0")
    ExtractJob.run(spark, cfg)
    val out = ExtractJob.readOutput(spark, cfg).collect()
    assert(out.length == docs.length)
    assert(out.map(_.doc_id).distinct.length == docs.length)
    // the resume pass extracted ONLY the 15 missing docs (survivors kept)
    import org.apache.spark.sql.functions.sum
    val m = spark.read.parquet(cfg.metricsPath)
    assert(m.agg(sum("n_docs")).head.getLong(0) == 15L)
    // output matches a from-scratch run row-for-row
    val cleanCfg = cfg.copy(outputPath = s"$dir/out9c", metricsPath = s"$dir/m9c",
      runId = "r9c")
    ExtractJob.run(spark, cleanCfg)
    val clean = ExtractJob.readOutput(spark, cleanCfg).collect().sortBy(_.doc_id)
    assert(out.sortBy(_.doc_id).toSeq == clean.toSeq)
  }

  test("unreadable metrics table fails loudly instead of resetting resume") {
    import spark.implicits._
    val docs = corpus(5)
    spark.createDataset(docs).write.mode("overwrite").parquet(s"$dir/in8")
    val cfg = JobConfig(s"$dir/in8", s"$dir/out8", s"$dir/m8",
      runId = "r8", numPartitions = 2, chunks = 2)
    // metrics path exists but holds garbage (not the metrics schema)
    new java.io.File(s"$dir/m8").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/m8/part-00000.parquet"), "not parquet")
    intercept[IllegalStateException] {
      ExtractJob.completedChunks(spark, cfg)
    }
  }

  test("failed docs go to metrics, not output") {
    import spark.implicits._
    val docs = corpus(10) :+ DocRow("bad-doc", Seq(Span("page", "", "", 0)))
    spark.createDataset(docs).write.mode("overwrite").parquet(s"$dir/in4")
    val cfg = JobConfig(s"$dir/in4", s"$dir/out4", s"$dir/m4",
      runId = "r4", numPartitions = 2, chunks = 1)
    ExtractJob.run(spark, cfg)
    assert(ExtractJob.readOutput(spark, cfg).count() == 10)
    val m = spark.read.parquet(s"$dir/m4")
    import org.apache.spark.sql.functions._
    assert(m.agg(sum("n_failed")).head.getLong(0) == 1L)
    assert(m.filter(col("error").contains("bad-doc")).count() == 1)
  }

  test("null doc_id / null spans rows become failed-doc metrics, not task failures") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spanType = org.apache.spark.sql.Encoders.product[Span].schema
    val schema = StructType(Seq(
      StructField("doc_id", StringType, nullable = true),
      StructField("spans", ArrayType(spanType), nullable = true)))
    val good = corpus(3)
    def spanRows(d: DocRow) = d.spans.map(s => Row(s.kind, s.text, s.media_ref, s.offset))
    val rows = good.map(d => Row(d.doc_id, spanRows(d))) ++
      Seq(Row(null, Seq(Row("page", "", "", 0))), // null doc_id
        Row(null, spanRows(good.head)), // null doc_id, VALID spans
        Row("doc-null-spans", null)) // null spans
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/in-null")
    val cfg = JobConfig(s"$dir/in-null", s"$dir/out-null", s"$dir/m-null",
      runId = "rn", numPartitions = 2, chunks = 1)
    ExtractJob.run(spark, cfg) // must not throw
    val out = ExtractJob.readOutput(spark, cfg).collect()
    assert(out.length == good.length) // the 3 dirty rows failed as DOCS
    assert(out.map(_.doc_id).sorted.toSeq == good.map(_.doc_id).sorted)
    val m = spark.read.parquet(s"$dir/m-null")
    assert(m.agg(org.apache.spark.sql.functions.sum("n_failed"))
      .collect()(0).getLong(0) == 3L)
    // the error text names the row that has no id to name it by
    val acc = spark.sparkContext.collectionAccumulator[PartitionMetric]("m-null-1")
    val oneRow = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(rows(good.length + 1)), 1), schema)
    assert(ExtractJob.extractChunk(oneRow, cfg, 0, acc).count() == 0)
    assert(acc.value.get(0).error == "row 0 of partition 0: null doc_id")
    // the FastScan delegate runs the same loop: it drops the same rows
    val viaFast = graft.job.FastScan.extract(
      spark.read.parquet(s"$dir/in-null"), graft.reflow.ExtractConfig()).collect()
    assert(viaFast.map(_.doc_id).sorted.toSeq == good.map(_.doc_id).sorted)
  }

  test("unknown inputKind fails loudly, listing the accepted kinds") {
    import spark.implicits._
    spark.createDataset(corpus(3)).write.mode("overwrite").parquet(s"$dir/in-kind")
    for (k <- Seq("pdf", "html-bytes")) {
      val cfg = JobConfig(s"$dir/in-kind", s"$dir/out-kind", s"$dir/m-kind",
        runId = "rk", numPartitions = 2, inputKind = k)
      val e = intercept[IllegalArgumentException](ExtractJob.run(spark, cfg))
      assert(e.getMessage.contains(s"'$k'") &&
        e.getMessage.contains("spans, html, html_bytes"), e.getMessage)
      val acc = spark.sparkContext.collectionAccumulator[PartitionMetric]("m-kind")
      intercept[IllegalArgumentException](ExtractJob.extractChunk(
        spark.read.parquet(s"$dir/in-kind"), cfg, 0, acc))
    }
    assert(!new java.io.File(s"$dir/out-kind").exists())
  }

  test("ExtractJob.main rejects an unknown flag before building a session") {
    val before = SparkSession.getDefaultSession
    val e = intercept[IllegalArgumentException](ExtractJob.main(Array(
      "--input", s"$dir/no-such-input", "--output", s"$dir/out-main",
      "--metrics", s"$dir/m-main", "--input_kind", "html")))
    assert(e.getMessage.contains("--input_kind") &&
      e.getMessage.contains("--input-kind"), e.getMessage)
    // a trailing flag without its value is rejected the same way
    intercept[IllegalArgumentException](ExtractJob.main(Array(
      "--input", s"$dir/no-such-input", "--chunks")))
    assert(SparkSession.getDefaultSession == before)
    assert(!new java.io.File(s"$dir/out-main").exists())
  }

  test("FastScan reads span struct fields by NAME: reordered struct decodes identically") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val docs = corpus(12)
    val df = spark.createDataset(docs).toDF()
    // same data, struct fields physically reordered (offset first)
    val reordered = df.selectExpr("doc_id",
      "transform(spans, s -> struct(s.offset as offset, s.kind as kind, " +
        "s.text as text, s.media_ref as media_ref)) as spans")
    val viaDefault = graft.job.FastScan.extract(df, graft.reflow.ExtractConfig())
      .collect().map(d => d.doc_id -> d).toMap
    val viaReordered = graft.job.FastScan.extract(reordered, graft.reflow.ExtractConfig())
      .collect().map(d => d.doc_id -> d).toMap
    assert(viaReordered.keySet == viaDefault.keySet && viaDefault.nonEmpty)
    viaDefault.foreach { case (id, d) =>
      assert(viaReordered(id).spans == d.spans, s"spans diverge for $id")
      assert(viaReordered(id).text == d.text, s"text diverges for $id")
    }
  }

  test("bucketed input with fewer chunks than buckets fails loudly") {
    import spark.implicits._
    spark.createDataset(corpus(20)).write.mode("overwrite").parquet(s"$dir/in-bk-raw")
    ExtractJob.bucketizeInput(spark, s"$dir/in-bk-raw", s"$dir/in-bk", chunks = 4)
    val bad = JobConfig(s"$dir/in-bk", s"$dir/out-bk", s"$dir/m-bk",
      runId = "rb", numPartitions = 2, chunks = 2, bucketedInput = true)
    val e = intercept[IllegalArgumentException](ExtractJob.run(spark, bad))
    assert(e.getMessage.contains("bucket"), e.getMessage)
  }

  test("a failing chunk: run rethrows its error, no job left running, resume completes") {
    import spark.implicits._
    spark.createDataset(corpus(45)).write.mode("overwrite").parquet(s"$dir/in-fail-raw")
    ExtractJob.bucketizeInput(spark, s"$dir/in-fail-raw", s"$dir/in-fail", chunks = 3)
    val cfg = JobConfig(s"$dir/in-fail", s"$dir/out-fail", s"$dir/m-fail",
      runId = "rf", numPartitions = 2, chunks = 3, bucketedInput = true)
    val part = new java.io.File(s"$dir/in-fail/bucket=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    val bytes = java.nio.file.Files.readAllBytes(part)
    java.nio.file.Files.write(part, bytes.take(bytes.length / 2)) // no footer
    val e = intercept[org.apache.spark.SparkException](ExtractJob.run(spark, cfg))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage))
    assert(messages.exists(_.contains(part.getFileName.toString)), e)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(!ExtractJob.completedChunks(spark, cfg).contains(1))
    java.nio.file.Files.write(part, bytes)
    ExtractJob.run(spark, cfg)
    assert(ExtractJob.completedChunks(spark, cfg) == Set(0, 1, 2))
    val clean = cfg.copy(outputPath = s"$dir/out-fail-clean", metricsPath = s"$dir/m-fail-clean")
    ExtractJob.run(spark, clean)
    assert(ExtractJob.readOutput(spark, cfg).collect().sortBy(_.doc_id).toSeq ==
      ExtractJob.readOutput(spark, clean).collect().sortBy(_.doc_id).toSeq)
  }

  test("every job of a run carries the caller's job group") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    spark.createDataset(corpus(30)).write.mode("overwrite").parquet(s"$dir/in-grp")
    val cfg = JobConfig(s"$dir/in-grp", s"$dir/out-grp", s"$dir/m-grp",
      runId = "rg", numPartitions = 2, chunks = 3)
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("jobspec-group", "chunks in flight")
    try ExtractJob.run(spark, cfg)
    finally sc.clearJobGroup()
    // deliver every event posted so far (waitUntilEmpty is Spark-internal)
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE).invoke(bus, Long.box(60000L))
    sc.removeSparkListener(listener)
    val seen = scala.jdk.CollectionConverters.CollectionHasAsScala(groups).asScala.toSeq
    assert(seen.length >= 6 && seen.forall(_ == "jobspec-group"), seen) // 3 writes + 3 appends
  }

  test("oracle diff join: output equals itself; detects a mutation") {
    import spark.implicits._
    val docs = corpus(10)
    val out = spark.createDataset(docs.map(d =>
      graft.extract.Extractor.extractRow(d, graft.reflow.ExtractConfig())))
    assert(ExtractJob.diffAgainstExpected(out.toDF, out.toDF).count() == 0)
    val mutated = out.map(d =>
      d.copy(spans = d.spans.map(s => s.copy(text = s.text + "!"))))
    assert(ExtractJob.diffAgainstExpected(out.toDF, mutated.toDF).count() == 10)
  }

  test("skew-aware repartition: single shuffle, salted spread, deterministic") {
    import spark.implicits._
    val small = corpus(40)
    val bigs = (0 until 5).map(i =>
      Fixtures.compositeDoc(s"big-doc-$i", 40, new Fixtures.Rng(100 + i), 4))
    bigs.foreach(b => assert(b.spans.length > 5000))
    val ds = spark.createDataset(small ++ bigs)
    val part = ExtractJob.repartitionSkewAware(ds, 4, bigThreshold = 5000)
    assert(part.rdd.getNumPartitions == 4 * ExtractJob.SaltFactor)
    def layout = part.mapPartitions { it =>
      Iterator.single(it.map(_.doc_id).toVector.sorted)
    }.collect().toVector
    val l1 = layout
    // all docs exactly once
    assert(l1.flatten.sorted == (small ++ bigs).map(_.doc_id).sorted.toVector)
    // the 5 long docs don't pile into one partition (size-salted keys)
    val bigParts = l1.zipWithIndex.filter(_._1.exists(_.startsWith("big-doc")))
    assert(bigParts.map(_._2).distinct.length >= 2)
    // deterministic placement (resume requirement)
    assert(layout == l1)
    // single scan of the input: exactly one Scan node in the physical plan
    val plan = part.queryExecution.executedPlan.toString
    assert("Scan ".r.findAllIn(plan).length == 1, plan)
  }

  test("chunks or partitions below 1 fail before any Spark work") {
    import spark.implicits._
    spark.createDataset(corpus(3)).write.mode("overwrite").parquet(s"$dir/in-zero")
    // unbucketed: 0 chunks would loop over nothing and report success
    for ((chunks, parts) <- Seq((0, 2), (-1, 2), (1, 0))) {
      val e = intercept[IllegalArgumentException](ExtractJob.run(spark,
        JobConfig(s"$dir/in-zero", s"$dir/out-zero", s"$dir/m-zero",
          runId = "rz", numPartitions = parts, chunks = chunks)))
      assert(e.getMessage.contains(if (chunks < 1) "chunks" else "numPartitions"), e.getMessage)
    }
    val before = SparkSession.getDefaultSession
    val e = intercept[IllegalArgumentException](ExtractJob.main(Array(
      "--input", s"$dir/in-zero", "--output", s"$dir/out-zero",
      "--metrics", s"$dir/m-zero", "--chunks", "0")))
    assert(e.getMessage.contains("chunks"), e.getMessage)
    assert(SparkSession.getDefaultSession == before)
    assert(!new java.io.File(s"$dir/out-zero").exists())
    assert(!new java.io.File(s"$dir/m-zero").exists())
  }
}
