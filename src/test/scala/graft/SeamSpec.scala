package graft

import graft.fixtures.{Fixtures, HtmlFixtures}
import graft.html.HtmlExtract
import graft.job.{ExtractJob, JobConfig}
import graft.model._
import graft.ops.Multimodal
import graft.pipeline.WebPrep
import graft.streaming.StreamingExtract
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every operator routed through [[graft.job.RowSeam]], one table: each
  * gets a good row, a null-key row and a row whose kernel throws (a
  * degenerate span stream, a binary payload under a text label, an
  * unknown-magic media payload; the string HTML tokenizer is total, so
  * its kernels throw on a null html cell). The good row comes out, the
  * task survives, the failure count goes up by exactly 2 wherever the
  * operator exposes one, and 1 and 3 input partitions give equal output.
  */
class SeamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-seamspec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def frame(rows: Seq[Row], schema: StructType)(parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  private val spanSchema = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("spans", ArrayType(org.apache.spark.sql.Encoders.product[Span].schema))))
  private def spanRow(id: String, spans: Seq[Span]) =
    Row(id, spans.map(s => Row(s.kind, s.text, s.media_ref, s.offset)))
  private val goodSpans = Fixtures.corpus(1, seed = 5L).head.spans
  private val spans = frame(Seq(
    spanRow("good", goodSpans),
    spanRow(null, goodSpans),
    spanRow("bad", Seq(Span("page", "", "", 0)))), spanSchema) _

  private val page = HtmlFixtures.corpus(2)(1)._2 // page 0 is noindex
  private val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  private val html = frame(Seq(
    Row("good", page, "https://example.org/good", ts),
    Row(null, page, "https://example.org/null", ts),
    Row("bad", null, "https://example.org/bad", ts)),
    StructType(Seq(StructField("doc_id", StringType), StructField("html", StringType),
      StructField("url", StringType), StructField("ts", TimestampType)))) _

  /** A gzip body: binary magic, which the text decode refuses. */
  private def gzip(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(out)
    g.write(b)
    g.close()
    out.toByteArray
  }

  private val bytes = frame(Seq(
    Row("good", page.getBytes("UTF-8"), "text/html; charset=utf-8", "https://example.org/good", ts),
    Row(null, page.getBytes("UTF-8"), "text/html", "https://example.org/null", ts),
    Row("bad", gzip(page.getBytes("UTF-8")), "text/html", "https://example.org/bad", ts)),
    StructType(Seq(StructField("doc_id", StringType), StructField("html_bytes", BinaryType),
      StructField("content_type", StringType), StructField("url", StringType),
      StructField("ts", TimestampType)))) _

  private val bmp = Multimodal.bmpPayload(seed = 3L, w = 20, h = 10)
  private val media = frame(Seq(
    Row("good", "m0", "image", bmp),
    Row(null, "m1", "image", bmp),
    Row("bad", "m2", "image", Array.fill[Byte](64)(0x55))),
    StructType(Seq(StructField("doc_id", StringType), StructField("media_ref", StringType),
      StructField("kind", StringType), StructField("bytes", BinaryType)))) _

  /** One run of an operator: the doc_ids it emitted as good rows, every
    * output row (canonical text), and its failure count if it has one.
    */
  private final case class Outcome(ids: Seq[String], rows: Seq[String], failures: Option[Long])

  private def canon(r: Row): String = r.toSeq.map {
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case x => String.valueOf(x)
  }.mkString("|")

  private def outcome(out: DataFrame, failures: => Option[Long]): Outcome = {
    val rows = out.collect()
    val ok = if (out.columns.contains("status")) rows.filter(_.getAs[String]("status") == "ok") else rows
    Outcome(ok.map(_.getAs[String]("doc_id")).distinct.sorted.toSeq,
      rows.map(canon).sorted.toSeq, failures)
  }

  /** An operator that counts on a caller's `failedAcc`. */
  private def counted(op: (DataFrame, Option[LongAccumulator]) => DataFrame)(in: DataFrame): Outcome = {
    val acc = spark.sparkContext.longAccumulator
    outcome(op(in, Some(acc)), Some(acc.value))
  }

  private var queries = 0

  /** A streaming operator with a `failedAcc`: the input rows arrive as
    * one micro-batch of as many partitions as `in` has.
    */
  private def streamed(op: (DataFrame, Option[LongAccumulator]) => DataFrame)(in: DataFrame): Outcome = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val acc = spark.sparkContext.longAccumulator
    val mem = MemoryStream[Row](in.rdd.getNumPartitions)(
      org.apache.spark.sql.Encoders.row(in.schema), spark.sqlContext)
    mem.addData(in.collect().toSeq)
    queries += 1
    val name = s"seam_stream_$queries"
    val q = op(mem.toDF(), Some(acc)).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    outcome(spark.table(name), Some(acc.value))
  }

  /** A chunk of the extraction job: failures are its n_failed. */
  private def job(kind: String)(in: DataFrame): Outcome = {
    val metrics = spark.sparkContext.collectionAccumulator[PartitionMetric]
    val cfg = JobConfig("unused", "unused", "unused", inputKind = kind)
    val out = ExtractJob.extractChunk(in, cfg, 0, metrics).toDF()
    val rows = outcome(out, None)
    rows.copy(failures = Some(
      scala.jdk.CollectionConverters.ListHasAsScala(metrics.value).asScala.map(_.n_failed).sum))
  }

  private final case class Case(name: String, input: Int => DataFrame,
      run: DataFrame => Outcome, emitted: Seq[String] = Seq("good"))

  private val cases = Seq(
    Case("ExtractJob spans", spans, job("spans")),
    Case("ExtractJob html", html, job("html")),
    Case("ExtractJob html_bytes", bytes, job("html_bytes")),
    Case("StreamingExtract.transform", spans,
      in => outcome(StreamingExtract.transform(in).toDF(), None)),
    Case("StreamingExtract.transformWithStatus", spans, { in =>
      val out = StreamingExtract.transformWithStatus(in).toDF()
      outcome(out, Some(out.filter(out("status") === "failed").count()))
    }),
    Case("HtmlExtract.extract", html,
      counted((in, acc) => HtmlExtract.extract(in, failedAcc = acc).toDF())),
    Case("HtmlExtract.extractAll", html, counted((in, acc) =>
      HtmlExtract.extractAll(in, pageUrlCol = Some("url"), failedAcc = acc).toDF())),
    Case("HtmlExtract.extractLinks", html,
      counted((in, acc) => HtmlExtract.extractLinks(in, failedAcc = acc))),
    Case("HtmlExtract.extractLinks resolved", html, counted((in, acc) =>
      HtmlExtract.extractLinks(in, pageUrlCol = Some("url"), failedAcc = acc))),
    Case("HtmlExtract.extractPageMeta", html, counted((in, acc) =>
      HtmlExtract.extractPageMeta(in, pageUrlCol = Some("url"), failedAcc = acc))),
    Case("HtmlExtract.extractBytes", bytes, counted((in, acc) =>
      HtmlExtract.extractBytes(in, contentTypeCol = Some("content_type"), failedAcc = acc).toDF())),
    Case("HtmlExtract.extractAllBytes", bytes, counted((in, acc) =>
      HtmlExtract.extractAllBytes(in, contentTypeCol = Some("content_type"),
        pageUrlCol = Some("url"), failedAcc = acc).toDF())),
    Case("WebPrep.prepareStream", html, streamed((in, acc) =>
      WebPrep.prepareStream(in, "ts", "1 hour", failedAcc = acc))),
    Case("WebPrep.prepareBytesStream", bytes, streamed((in, acc) =>
      WebPrep.prepareBytesStream(in, "ts", failedAcc = acc))),
    Case("Multimodal.extractMeta", media,
      counted((in, acc) => Multimodal.extractMeta(in, acc))),
    Case("Multimodal.sampleFrames", media,
      counted((in, acc) => Multimodal.sampleFrames(in, 1, acc))),
    Case("Multimodal.resize", media,
      counted((in, acc) => Multimodal.resize(in, 8, acc))),
    // a failed row degrades to hash features instead of dropping
    Case("Multimodal.extractFeatures", media,
      counted((in, acc) => Multimodal.extractFeatures(in, 16, acc)),
      emitted = Seq("bad", "good")))

  cases.foreach { c =>
    test(s"row seam: ${c.name} keeps the good row, fails the other two, 1 == 3 partitions") {
      val one = c.run(c.input(1)) // a throw here is a task failure
      val three = c.run(c.input(3))
      assert(one.ids == c.emitted, one.rows.mkString("\n"))
      assert(one.failures.forall(_ == 2L), s"failures ${one.failures}")
      assert(three.failures == one.failures)
      assert(three.rows == one.rows)
    }
  }

  test("row seam: the first error names the row, by id or by position") {
    val metrics = spark.sparkContext.collectionAccumulator[PartitionMetric]
    ExtractJob.extractChunk(spans(1), JobConfig("unused", "unused", "unused"), 0, metrics)
      .count()
    assert(metrics.value.get(0).error == "row 1 of partition 0: null doc_id")
    val bad = spans(1).filter("doc_id = 'bad'")
    ExtractJob.extractChunk(bad, JobConfig("unused", "unused", "unused"), 1, metrics).count()
    assert(metrics.value.get(1).error.startsWith("bad: Something is wrong with the document"),
      metrics.value.get(1).error)
  }
}
