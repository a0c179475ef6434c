package graft

import graft.extract.Extractor
import graft.fixtures.Fixtures
import graft.model._
import graft.streaming.StreamingExtract
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Structured-Streaming surface: incremental extraction equals batch
  * extraction; the checkpoint makes repeated AvailableNow runs process
  * only new files (streaming resume).
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-streamingspec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def writeBatch(docs: Seq[DocRow], dir: String): Unit = {
    import spark.implicits._
    spark.createDataset(docs).coalesce(1).write.mode("append").parquet(dir)
  }

  test("streaming extraction == batch extraction; checkpoint resumes incrementally") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val in = s"$root/in"; val out = s"$root/out"; val cp = s"$root/cp"

    val first = Fixtures.corpus(30, seed = 11L)
    writeBatch(first, in)
    StreamingExtract.runAvailableNow(spark, in, out, cp)
    val afterFirst = spark.read.parquet(out).as[ExtractedDoc].collect()
    assert(afterFirst.length == first.length)

    // second increment: only the new file is processed (offsets checkpointed)
    val second = Fixtures.corpus(45, seed = 12L).drop(30) // 15 distinct new docs
    writeBatch(second, in)
    StreamingExtract.runAvailableNow(spark, in, out, cp)
    val afterSecond = spark.read.parquet(out).as[ExtractedDoc].collect()
    assert(afterSecond.length == first.length + second.length)
    // no doc processed twice
    assert(afterSecond.map(_.doc_id).distinct.length == afterSecond.length)

    // equivalence with the batch path on the same input
    val batch = spark.read.parquet(in).select("doc_id", "spans").as[DocRow]
      .collect().map(r => Extractor.extractRow(r, graft.reflow.ExtractConfig()))
    val streamMap = afterSecond.map(d => d.doc_id -> d).toMap
    batch.foreach { b =>
      val s = streamMap(b.doc_id)
      assert(s.spans == b.spans && s.text == b.text, s"mismatch for ${b.doc_id}")
    }
  }

  test("streaming exact dedup: duplicates dropped across micro-batches, state on the fingerprint") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val src = mem.toDF.toDF("doc_id", "text", "ts")
    val q = StreamingExtract.dedupExactStream(src, "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 00:$m%02d:00")
    // batch 1: docs 1 and 2 are whitespace/case variants (same fingerprint)
    mem.addData((1L, "hello world", ts(0)), (2L, "Hello  WORLD", ts(1)),
      (3L, "unique alpha", ts(1)))
    q.processAllAvailable()
    // batch 2: doc 4 repeats the batch-1 fingerprint -> dropped via state
    mem.addData((4L, "hello world", ts(2)), (5L, "unique beta", ts(3)))
    q.processAllAvailable()
    q.stop()
    val ids = spark.sql("SELECT doc_id FROM dedup_out")
      .collect().map(_.getLong(0)).toSet
    assert(ids.contains(3L) && ids.contains(5L), ids)
    assert(!ids.contains(4L), s"cross-batch duplicate survived: $ids")
    assert(Set(1L, 2L).intersect(ids).size == 1,
      s"exactly one of the in-batch duplicates should survive: $ids")
    assert(ids.size == 3, ids)
  }

  test("streaming minhash near-dup: cross-batch candidate pairs, estimator 1.0 on identical text") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val src = mem.toDF.toDF("doc_id", "text", "ts")
    val q = graft.streaming.StreamingExtract
      .nearDupPairsStream(src, "ts", "10 minutes",
        graft.ops.Dedup.MinHashParams(jaccardThreshold = 0.5))
      .writeStream.format("memory").queryName("neardup_pairs")
      .outputMode("append").start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 00:$m%02d:00")
    val shared = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (100 to 140).map(i => s"word$i").mkString(" ")
    mem.addData((1L, shared, ts(0)), (3L, other, ts(0)))
    q.processAllAvailable()
    // batch 2: doc 2 repeats doc 1's text — the pair must surface ACROSS
    // micro-batches via bucket state
    mem.addData((2L, shared, ts(1)))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.sql(
      "SELECT DISTINCT doc_a, doc_b, est_jaccard FROM neardup_pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs == Seq((1L, 2L, 1.0)), pairs.mkString(","))
  }

  test("streaming minhash near-dup: null rows dropped; mega-bucket cap stops pairing") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 00:$m%02d:00")
    val shared = (1 to 40).map(i => s"cap$i").mkString(" ")
    // maxBucketSize = 1: the bucket saturates at one member, so even an
    // exact duplicate produces no pair (boilerplate guard semantics)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val skips = spark.sparkContext.longAccumulator("test.neardup.saturatedSkips")
    val q = graft.streaming.StreamingExtract
      .nearDupPairsStream(mem.toDF.toDF("doc_id", "text", "ts"), "ts", "10 minutes",
        graft.ops.Dedup.MinHashParams(jaccardThreshold = 0.5, maxBucketSize = 1),
        saturatedSkips = Some(skips))
      .writeStream.format("memory").queryName("neardup_cap")
      .outputMode("append").start()
    // a poison row with null text must be dropped, not kill the query
    mem.addData((1L, shared, ts(0)), (7L, null, ts(0)))
    q.processAllAvailable()
    val skipsAfterFirst = skips.value
    mem.addData((2L, shared, ts(1)))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("neardup_cap").count() == 0)
    // the recall loss is VISIBLE: doc 1 filled the bucket without skips,
    // doc 2's arrival was dropped by the cap in every one of its bands
    assert(skipsAfterFirst == 0L, s"unexpected skips on first arrival: $skipsAfterFirst")
    assert(skips.value >= 1L, "cap-dropped arrival not counted")
  }

  test("streaming minhash near-dup: bucket state evicted past the watermark horizon") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val src = mem.toDF.toDF("doc_id", "text", "ts")
    val q = graft.streaming.StreamingExtract
      .nearDupPairsStream(src, "ts", "5 minutes",
        graft.ops.Dedup.MinHashParams(jaccardThreshold = 0.5))
      .writeStream.format("memory").queryName("neardup_evict")
      .outputMode("append").start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 ${m / 60}%02d:${m % 60}%02d:00")
    val shared = (1 to 40).map(i => s"evt$i").mkString(" ")
    mem.addData((1L, shared, ts(0)))
    q.processAllAvailable()
    // advance the watermark far past doc 1's horizon with unrelated data
    mem.addData((9L, (200 to 240).map(i => s"w$i").mkString(" "), ts(60)))
    q.processAllAvailable()
    // doc 2 repeats doc 1's text — but doc 1's state is evicted, no pair
    mem.addData((2L, shared, ts(61)))
    q.processAllAvailable()
    // doc 3 repeats within the horizon of doc 2 — pair (2,3) must emit
    mem.addData((3L, shared, ts(62)))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.sql("SELECT DISTINCT doc_a, doc_b FROM neardup_evict")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.contains((1L, 2L)), s"evicted doc paired: $pairs")
    assert(pairs.contains((2L, 3L)), s"in-horizon pair missing: $pairs")
  }

  test("transformWithStatus: failed docs are visible rows, not silent drops") {
    import spark.implicits._
    val bad = DocRow("doc-degenerate", Seq(Span("page", "", "", 0)))
    val docs = spark.createDataset(Fixtures.corpus(5, seed = 21L) :+ bad).toDF()
    val out = StreamingExtract.transformWithStatus(docs).collect()
    assert(out.length == 6) // EVERY input doc produces exactly one row
    val failed = out.filter(_.status == "failed")
    assert(failed.map(_.doc_id).toSeq == Seq("doc-degenerate"))
    assert(failed.head.spans.isEmpty)
    // ok rows == the silent-drop transform's output
    val ok = out.filter(_.status == "ok")
      .map(d => ExtractedDoc(d.doc_id, d.spans, d.text)).sortBy(_.doc_id)
    val legacy = StreamingExtract.transform(docs).collect().sortBy(_.doc_id)
    assert(ok.toSeq == legacy.toSeq)
  }

  test("a null doc_id fails the row: transform drops it, transformWithStatus reports it") {
    import spark.implicits._
    val good = Fixtures.corpus(2, seed = 23L)
    val docs = spark.createDataset(good :+ DocRow(null, good.head.spans)).toDF()
    assert(StreamingExtract.transform(docs).collect().map(_.doc_id).sorted.toSeq ==
      good.map(_.doc_id).sorted)
    val out = StreamingExtract.transformWithStatus(docs).collect()
    assert(out.length == 3)
    val failed = out.filter(_.doc_id == null)
    assert(failed.map(d => (d.status, d.error, d.spans.isEmpty)).toSeq ==
      Seq(("failed", "null doc_id", true)))
    assert(out.count(_.status == "ok") == 2)
  }

  test("HTML extraction runs unchanged on a stream (web ingest-on-arrival)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val q = graft.html.HtmlExtract
      .extract(mem.toDF.toDF("doc_id", "html"))
      .toDF()
      .writeStream.format("memory").queryName("html_stream")
      .outputMode("append").start()
    val pages = graft.fixtures.HtmlFixtures.corpus(3)
    mem.addData(pages: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("html_stream").collect()
      .map(r => r.getAs[String]("doc_id") -> r.getAs[String]("text")).toMap
    // batch == stream, page for page (the kernel is a pure row function)
    pages.foreach { case (id, html) =>
      assert(got(id) == graft.html.HtmlExtract.extractRow(id, html).text)
    }
  }

  test("responsesStream: WARC shards land incrementally, rows == batch, redirects carried") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-warcstream")
    val in = root.resolve("in"); val cp = root.resolve("cp")
    val outDir = root.resolve("out")
    java.nio.file.Files.createDirectories(in)
    def shard(name: String, pages: Seq[(String, String, Array[Byte], Int, String)]): Unit =
      java.nio.file.Files.write(in.resolve(name),
        graft.sources.Warc.writeWarcWithStatus(pages, gzipPerRecord = true))
    val p1 = ("https://s.example/a", "text/html; charset=utf-8",
      "<p>eins</p>".getBytes("UTF-8"), 200, "")
    val p2 = ("https://s.example/alt", "text/html",
      Array.emptyByteArray, 301, "/neu")
    shard("w1.warc.gz", Seq(p1, p2))
    def drain(): Unit = {
      val q = graft.sources.Warc.responsesStream(spark, in.toString)
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", cp.toString)
        .outputMode("append").trigger(
          org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    def landed() = spark.read.parquet(outDir.toString)
    assert(landed().count() == 2)
    // second shard: only the NEW file is parsed (file-source checkpoint)
    val p3 = ("https://s.example/b", "text/html; charset=utf-8",
      "<p>zwei</p>".getBytes("UTF-8"), 200, "")
    shard("w2.warc.gz", Seq(p3))
    drain()
    val rows = landed().collect()
      .map(r => (r.getAs[String]("url"), r.getAs[Int]("http_status"),
        r.getAs[String]("redirect"),
        new String(r.getAs[Array[Byte]]("html_bytes"), "UTF-8")))
      .sortBy(_._1).toSeq
    assert(rows == Seq(
      ("https://s.example/a", 200, "", "<p>eins</p>"),
      ("https://s.example/alt", 301, "/neu", ""),
      ("https://s.example/b", 200, "", "<p>zwei</p>")), rows)
    // event_time present (the shard arrival clock for watermarking)
    assert(landed()
      .filter(org.apache.spark.sql.functions.col("event_time").isNull)
      .count() == 0)
    // stream rows == the batch reader on the same dir (modulo event_time)
    val batch = graft.sources.Warc.responses(spark, in.toString + "/*")
      .collect().map(r => (r.getAs[String]("url"), r.getAs[Int]("http_status")))
      .sorted.toSeq
    assert(batch == rows.map(t => (t._1, t._2)))
  }

  test("revisitsStream: refetch events land incrementally, rows == the batch revisits reader") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-revstream")
    val in = root.resolve("in"); val cp = root.resolve("cp")
    val outDir = root.resolve("out")
    java.nio.file.Files.createDirectories(in)
    def shard(name: String, recs: Seq[graft.sources.Warc.HttpFixture]): Unit =
      java.nio.file.Files.write(in.resolve(name),
        graft.sources.Warc.writeWarcRecords(recs, gzipPerRecord = true))
    shard("w1.warc.gz", Seq(
      graft.sources.Warc.HttpFixture("https://r.example/a", "text/html",
        "<p>a</p>".getBytes("UTF-8"), date = "2026-01-01T00:00:00Z"),
      graft.sources.Warc.HttpFixture("https://r.example/a", "text/html",
        Array.emptyByteArray, warcType = "revisit",
        refersTo = "https://r.example/a", date = "2026-02-01T00:00:00Z")))
    def drain(): Unit = {
      val q = graft.sources.Warc.revisitsStream(spark, in.toString)
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", cp.toString)
        .outputMode("append").trigger(
          org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    def landed() = spark.read.parquet(outDir.toString)
    assert(landed().count() == 1) // the response row never appears here
    shard("w2.warc.gz", Seq(
      graft.sources.Warc.HttpFixture("https://r.example/a", "text/html",
        Array.emptyByteArray, warcType = "revisit",
        refersTo = "https://r.example/a", date = "2026-03-01T00:00:00Z")))
    drain()
    val rows = landed().collect()
      .map(r => (r.getAs[String]("url"), r.getAs[String]("fetch_ts"),
        r.getAs[String]("refers_to"))).sortBy(_._2).toSeq
    assert(rows == Seq(
      ("https://r.example/a", "2026-02-01T00:00:00Z", "https://r.example/a"),
      ("https://r.example/a", "2026-03-01T00:00:00Z", "https://r.example/a")),
      rows)
    // event_time = the WARC-Date capture clock (parses for these rows)
    assert(landed().filter(
      org.apache.spark.sql.functions.col("event_time").isNull).count() == 0)
    // stream rows == batch reader on the same dir
    val batch = graft.sources.Warc.revisits(spark, in.toString + "/*")
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(batch == rows.map(t => (t._1, t._2)).sorted)
  }

  test("prepareBytesStream: WARC shards -> streamed corpus (charset ladder, mirror suppressed, redirects out)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-bytestream")
    val in = root.resolve("in"); val cp = root.resolve("cp")
    val outDir = root.resolve("out")
    java.nio.file.Files.createDirectories(in)
    // seed 4: no noindex (4 % 5 != 0), declares an absolute
    // rel=canonical (4 % 3 == 1) -> the dedup key is the canonical
    val page = graft.fixtures.HtmlFixtures.page("bs-00", 4L)
    // windows-1252 bytes with transport charset: the ladder must decode
    val w1252 = graft.html.HtmlCharset.encodeW1252(page)
    java.nio.file.Files.write(in.resolve("w1.warc.gz"),
      graft.sources.Warc.writeWarcWithStatus(Seq(
        ("https://b.example/seite", "text/html; charset=windows-1252",
          w1252, 200, ""),
        // mirror fetch of the SAME logical page (utm variant): the
        // canonical-priority dedup must suppress the second arrival
        ("https://b.example/seite?utm_source=x", "text/html; charset=windows-1252",
          w1252, 200, ""),
        ("https://b.example/alt", "text/html", Array.emptyByteArray,
          301, "/seite")), gzipPerRecord = true))
    val q = graft.pipeline.WebPrep.prepareBytesStream(
        graft.sources.Warc.responsesStream(spark, in.toString))
      .writeStream.format("parquet")
      .option("path", outDir.toString)
      .option("checkpointLocation", cp.toString)
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.read.parquet(outDir.toString)
      .select("url", "dedup_url", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    // exactly ONE corpus row: redirect excluded, mirror suppressed
    assert(rows.length == 1, rows.map(t => (t._1, t._2)))
    assert(rows(0)._2 == "https://example.org/artikel/bs-00")
    // page carries rel=canonical (fixture), so dedup keyed on it; text
    // equals the string-path extraction (the ladder decoded correctly)
    assert(rows(0)._3 == graft.html.HtmlExtract.extractRow("bs-00", page).text)
  }

  test("streaming url dedup: canonical variants suppressed on arrival") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 00:$m%02d:00")
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = graft.ops.Web
      .urlDedupStream(mem.toDF.toDF("doc_id", "url", "ts"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("url_stream")
      .outputMode("append").start()
    mem.addData(
      (1L, "http://Example.com/a?utm_source=x", ts(0)),
      (2L, "https://example.com/a", ts(1)),    // canonical dup of 1
      (3L, "https://example.com/b", ts(1)))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("url_stream").collect().map(_.getAs[Long]("doc_id")).sorted
    assert(kept.toSeq == Seq(1L, 3L), kept.mkString(","))
  }

  test("WebPrep.prepareStream: extract + robots gate + url dedup on arrival, two micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 00:$m%02d:00")
    val canonical = """<link rel="canonical" href="https://site.example/artikel/a1">"""
    val body = "<p>" + ("inhalt mit vielen langen worten immer weiter so " * 4) + "</p>"
    val acc = spark.sparkContext.longAccumulator("webprep_failed")
    val mem = MemoryStream[(String, String, String, java.sql.Timestamp)]
    val q = graft.pipeline.WebPrep
      .prepareStream(mem.toDF.toDF("doc_id", "html", "url", "ts"),
        "ts", "10 minutes", failedAcc = Some(acc))
      .writeStream.format("memory").queryName("webprep_stream")
      .outputMode("append").start()
    // batch 1: the desktop fetch + a noindex page + a poison row
    mem.addData(
      ("a-desktop", s"<head>$canonical</head><body>$body</body>",
        "https://site.example/artikel/a1", ts(0)),
      ("c-noindex", "<head><meta name=\"robots\" content=\"noindex\">" +
        s"</head><body>$body</body>", "https://other.example/x", ts(0)),
      ("broken", null, "https://x.example/", ts(0)))
    q.processAllAvailable()
    // batch 2: the mirror fetch of the SAME logical page (amp + tracking,
    // same declared canonical) must be suppressed by state; a new page
    // passes
    mem.addData(
      ("b-mirror", s"<head>$canonical</head><body>$body</body>",
        "https://m.site.example/amp/a1?utm_source=amp", ts(2)),
      ("d-plain", s"<body>$body</body>", "http://Plain.example/P?utm_medium=m", ts(2)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("webprep_stream").collect()
      .map(r => r.getAs[String]("doc_id") -> r.getAs[String]("dedup_url")).toMap
    assert(rows == Map(
      "a-desktop" -> "https://site.example/artikel/a1",
      "d-plain" -> "https://plain.example/P"), rows)
    assert(acc.value == 1L) // the poison row is counted, not fatal
  }

  test("stateless corpus ops (pii scrub, quality filter) run unchanged on a stream") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      (1L, "mail a@b.co or visit https://x.org/1 from 10.0.0.1"),
      (2L, "the quick brown fox jumps over the lazy dog and more"),
      (3L, "call +1 555 0100 now"))
    val mem = MemoryStream[(Long, String)]
    val src = mem.toDF.toDF("doc_id", "text")
    // pure-projection ops compose with readStream with no code changes —
    // that IS the claim this test pins (no stateful operator sneaks in)
    val q1 = graft.ops.Pii.piiScrub(src).writeStream.format("memory")
      .queryName("pii_stream").outputMode("append").start()
    val q2 = graft.ops.Corpus.gopherQualityFilter(src).writeStream
      .format("memory").queryName("gopher_stream").outputMode("append").start()
    mem.addData(rows: _*)
    q1.processAllAvailable(); q2.processAllAvailable()
    q1.stop(); q2.stop()
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(sortedRows(spark.table("pii_stream")) ==
      sortedRows(graft.ops.Pii.piiScrub(rows.toDF("doc_id", "text"))))
    assert(sortedRows(spark.table("gopher_stream")) ==
      sortedRows(graft.ops.Corpus.gopherQualityFilter(rows.toDF("doc_id", "text"))))
  }

  test("consent ops are streaming-safe: blocklist + optOutSignals gate a stream == the batch gate") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // (url, x_robots_tag) rows: a blocked subdomain, an AI opt-out, a
    // clean page — both gates are stateless per-row work, so they must
    // run unchanged on an unbounded stream (no watermark, no state)
    val rows = Seq(
      (1L, "https://ads.tracker.test/x", null),
      (2L, "https://ok.test/a", "noai"),
      (3L, "https://ok.test/b", null),
      (4L, "https://sub.ads.tracker.test/y", null))
    def gate(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Web.optOutSignals(
        graft.ops.Web.domainBlocklist(df, Set("tracker.test"), "url")
          .withColumn("robots", org.apache.spark.sql.functions.lit(null)
            .cast("string"))
          .withColumn("tdm_reservation",
            org.apache.spark.sql.functions.lit(null).cast("string"))
          .withColumn("tdm_policy",
            org.apache.spark.sql.functions.lit(null).cast("string")),
        ua = "ccbot")
        .filter(!col("blocked") && col("train_ok"))
        .select("doc_id", "url")
    val mem = MemoryStream[(Long, String, String)]
    val q = gate(mem.toDF.toDF("doc_id", "url", "x_robots_tag"))
      .writeStream.format("memory").queryName("consent_stream")
      .outputMode("append").start()
    mem.addData(rows.take(2): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("consent_stream")
      .collect().map(_.getLong(0)).toSet
    val batch = gate(rows.toDF("doc_id", "url", "x_robots_tag"))
      .collect().map(_.getLong(0)).toSet
    assert(got == batch, s"stream $got vs batch $batch")
    assert(got == Set(3L), got)
  }
}
