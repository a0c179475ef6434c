package perfbench

import graft.extract.Extractor
import graft.job.{ExtractJob, FastScan, JobConfig}
import graft.model._
import graft.reflow.ExtractConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One extract workload: its input kind and corpus sizes. `n4` docs are
  * run at local[4], `n1` (the first n1 docs of the same generator) at
  * local[1], `nSetup` (seed-independent) by every set-up pass.
  */
final case class Workload(name: String, inputKind: String, n4: Int, n1: Int, nSetup: Int) {
  def spansInput: Boolean = inputKind == "spans"
}

object Workloads {
  val Chunks = 3
  val SetupSeed = 0L

  def apply(name: String): Workload = name match {
    case "extract_pdf" => Workload(name, "spans", 2000, 700, 100)
    case "extract_lm" => Workload(name, "spans", 1000, 300, 100)
    case "extract_html" => Workload(name, "html_bytes", 9000, 3000, 300)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** Outcome of checking one job pass against the reference path. */
final case class PassCheck(attempted: Long, failed: Long, problems: Seq[String])

/** `corpora` is the corpus cache directory of the current source state
  * (see `Corpora`).
  */
final class ExtractBench(w: Workload, seed: Long, work: String, corpora: String,
    corrupt: Boolean) {

  // per-process: two runs in one checkout must not share job directories
  private val passRoot = s"$work/passes/${w.name}-s$seed-${ProcessHandle.current().pid()}"
  private var passNo = 0

  def corpusDir(s: Long, n: Int): String = s"$corpora/${w.name}-s$s-n$n"

  def input(spark: SparkSession, s: Long, n: Int): String =
    Corpora.extractInput(spark, w.name, s, n, Workloads.Chunks, corpusDir(s, n))

  def setupReady: Boolean =
    new java.io.File(corpusDir(Workloads.SetupSeed, w.nSetup), "_READY").exists()

  def jobConfig(in: String, tag: String): JobConfig = {
    val out = s"$passRoot/$tag"
    JobConfig(inputPath = in, outputPath = s"$out/output", metricsPath = s"$out/metrics",
      runId = tag, chunks = Workloads.Chunks, bucketedInput = true,
      repartitionInput = false, inputKind = w.inputKind)
  }

  def nextTag(prefix: String): String = { passNo += 1; f"$prefix-$passNo%03d" }

  /** One timed `ExtractJob.run`; returns (seconds, config). */
  def runPass(spark: SparkSession, in: String, prefix: String): (Double, JobConfig) = {
    val cfg = jobConfig(in, nextTag(prefix))
    val t0 = System.nanoTime()
    ExtractJob.run(spark, cfg)
    ((System.nanoTime() - t0) / 1e9, cfg)
  }

  def docId(i: Long): String = w.name match {
    case "extract_html" => f"web-$i%08d"
    case "extract_lm" => f"lm-$i%08d"
    case _ => f"doc-$i%08d"
  }

  /** The reference result for doc `i`: `Extractor.extractRow` on the
    * generated row, or the string-path HTML kernel on the generated page.
    */
  def reference(s: Long, i: Long): ExtractedDoc = w.name match {
    case "extract_html" => graft.html.HtmlExtract.extractRow(docId(i), Corpora.htmlPage(s, i))
    case "extract_lm" => Extractor.extractRow(Corpora.lmDoc(s, i), ExtractConfig())
    case _ => Extractor.extractRow(Corpora.pdfDoc(s, i), ExtractConfig())
  }

  private def key(d: Seq[Span]): Seq[(String, String, String)] =
    d.sortBy(_.offset).map(x => (x.kind, x.text, x.media_ref))

  /** Rewrite the output chunk holding `id` with that document's span
    * texts altered (the self-test's planted corruption).
    */
  private def corruptOutput(spark: SparkSession, cfg: JobConfig, id: String): Unit = {
    (0 until cfg.chunks).map(c => s"${cfg.outputPath}/chunk=$c").find { dir =>
      spark.read.parquet(dir).filter(col("doc_id") === id).count() > 0
    }.foreach { dir =>
      val bad = spark.read.parquet(dir).withColumn("spans",
        when(col("doc_id") === id, expr("transform(spans, s -> named_struct(" +
          "'kind', s.kind, 'text', concat(s.text, '#'), 'media_ref', s.media_ref, " +
          "'offset', s.offset))")).otherwise(col("spans")))
      bad.write.parquet(dir + ".tmp")
      Files.deleteTree(new java.io.File(dir))
      new java.io.File(dir + ".tmp").renameTo(new java.io.File(dir))
    }
  }

  /** Check one pass over docs 0..n-1 of seed `s`:
    *  - docs out + planted rejects = docs in (metrics table and output);
    *  - planted rows appear only as `n_failed`, never in the output;
    *  - sampled rows equal the reference path under
    *    (kind, text, media_ref, order).
    * Any mismatch counts every document of the pass as failed.
    */
  def check(spark: SparkSession, cfg: JobConfig, s: Long, n: Int): PassCheck = {
    import spark.implicits._
    val problems = Seq.newBuilder[String]
    val planted = (0L until n).filter(Corpora.planted).map(docId).toSet
    val metrics = spark.read.parquet(cfg.metricsPath).as[PartitionMetric].collect()
    val docsIn = metrics.map(_.n_docs).sum
    val failedM = metrics.map(_.n_failed).sum
    if (docsIn != n) problems += s"metrics n_docs $docsIn != $n docs in"
    if (failedM != planted.size) problems += s"metrics n_failed $failedM != ${planted.size} planted"
    val rng = new graft.fixtures.Fixtures.Rng(s * 31L + passNo)
    val sample = Iterator.continually(rng.nextInt(n).toLong)
      .filterNot(Corpora.planted).take(12).toSeq.distinct
    if (corrupt) corruptOutput(spark, cfg, docId(sample.head))
    val sampleIds = sample.map(docId)
    val rows = spark.read.parquet(s"${cfg.outputPath}/chunk=*")
      .select(col("doc_id"), when(col("doc_id").isin(sampleIds: _*), col("spans")).as("spans"))
      .as[(String, Seq[Span])].collect()
    val ids = rows.map(_._1)
    val idSet = ids.toSet
    val leaked = idSet.intersect(planted)
    if (leaked.nonEmpty) problems += s"${leaked.size} planted docs in the output"
    if (ids.length != idSet.size) problems += s"${ids.length - idSet.size} duplicate output rows"
    val dropped = (0L until n).map(docId).count(d => !planted(d) && !idSet(d))
    if (ids.length + planted.size != n) problems += s"docs out ${ids.length} + planted ${planted.size} != $n"
    val got = rows.filter(_._2 != null).toMap
    sample.foreach { i =>
      val want = reference(s, i)
      got.get(want.doc_id) match {
        case None => problems += s"${want.doc_id} missing from the output"
        case Some(d) if key(d) != key(want.spans) => problems += s"${want.doc_id} differs from the reference"
        case _ =>
      }
    }
    val ps = problems.result()
    PassCheck(n, if (ps.nonEmpty) n.toLong else dropped.toLong, ps)
  }

  def cleanup(cfg: JobConfig): Unit = {
    Files.deleteTree(new java.io.File(cfg.outputPath).getParentFile)
    new java.io.File(passRoot).delete() // once empty
  }

  // ---------------- traced layers ----------------

  private def slice(spark: SparkSession, in: String, chunk: Int): DataFrame = {
    val df = spark.read.parquet(in).filter(col("bucket") === chunk)
    if (w.spansInput) df.select("doc_id", "spans")
    else df.select("doc_id", "html_bytes", "content_type")
  }

  /** Scan-only pass: every chunk's slice into a no-op sink. */
  def scanPass(spark: SparkSession, in: String): Double = {
    val t0 = System.nanoTime()
    (0 until Workloads.Chunks).foreach(c => slice(spark, in, c).write.format("noop").mode("overwrite").save())
    (System.nanoTime() - t0) / 1e9
  }

  /** Kernel pass: `ExtractJob.extractChunk*` per chunk into a no-op sink. */
  def kernelPass(spark: SparkSession, in: String): Double = {
    import spark.implicits._
    val cfg = jobConfig(in, nextTag("kernel"))
    val t0 = System.nanoTime()
    (0 until Workloads.Chunks).foreach { c =>
      val acc = spark.sparkContext.collectionAccumulator[PartitionMetric]
      val ds =
        if (w.spansInput) ExtractJob.extractChunk(slice(spark, in, c).as[DocRow], cfg, c, acc)
        else ExtractJob.extractChunkHtmlBytes(slice(spark, in, c), cfg, c, acc)
      ds.write.format("noop").mode("overwrite").save()
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** The job's per-row loop, replayed single-threaded with a span around
    * each layer call. `DocInfo` and `fixHeadersFooters` are probed as
    * separate calls (extractTree repeats them internally), so
    * reflow self time = extractTree - docinfo - fix. Untraced, the loop
    * makes exactly the job's calls. Returns the pass wall in seconds and
    * the number of documents that failed.
    */
  def kernelLoop(spark: SparkSession, in: String, traced: Boolean): (Double, Long) = {
    val ecfg = ExtractConfig()
    val cols = if (w.spansInput) Seq("doc_id", "spans") else Seq("doc_id", "html_bytes", "content_type")
    val df = spark.read.parquet(in).select(cols.map(col): _*)
    val spans = w.spansInput
    val ord = if (spans) FastScan.SpanOrdinals.from(df.schema) else FastScan.SpanOrdinals.Default
    Trace.on = traced
    val t0 = System.nanoTime()
    val ok = df.queryExecution.toRdd.mapPartitions { it =>
      it.flatMap { row =>
        Trace.span("doc") {
          try {
            val id = row.getUTF8String(0).toString
            if (spans) {
              val tree = Trace.span("codec.decode")(FastScan.decodeSpans(row.getArray(1), ecfg.fast, ord))
              if (traced) {
                val info = Trace.span("stats.docinfo")(new graft.stats.DocInfo(tree))
                Trace.span("classify.fix")(graft.classify.Classify.fixHeadersFooters(tree, info))
              }
              val out = Trace.span("extract.tree")(Extractor.extractTree(tree, ecfg))
              val emitted = Trace.span("extract.emit")(Extractor.emitSpans(out))
              Some(ExtractedDoc(id, emitted, Trace.span("assemble.text")(out.text())))
            } else {
              val ct = if (row.isNullAt(2)) null else row.getUTF8String(2).toString
              val html = Trace.span("html.charset")(graft.html.HtmlCharset.decode(row.getBinary(1), ct))
              if (html == null) throw new IllegalArgumentException("binary payload")
              Some(Trace.span("html.kernel")(graft.html.HtmlExtract.extractRow(id, html)))
            }
          } catch {
            case scala.util.control.NonFatal(_) => None
          }
        }
      }
    }.count()
    Trace.on = false
    ((System.nanoTime() - t0) / 1e9, df.count() - ok)
  }

  // ---------------- corpus properties ----------------

  /** Measured properties of the generated corpus at `in`. */
  def properties(spark: SparkSession, in: String): Map[String, Double] = {
    import spark.implicits._
    if (!w.spansInput) {
      val r = spark.read.parquet(in).filter(col("html_bytes").isNotNull)
        .agg(avg(length(col("html_bytes")))).first()
      Map("corpus.spans_per_doc" -> 0.0, "corpus.tail_share" -> 0.0,
        "corpus.short_line_share" -> 0.0, "corpus.bytes_per_page" -> r.getDouble(0))
    } else {
      val agg = spark.read.parquet(in).select("doc_id", "spans").as[DocRow]
        .filter(_.spans != null).mapPartitions { it =>
          var docs, spans, tail, lines, short = 0L
          it.foreach { d =>
            docs += 1; spans += d.spans.length
            if (d.spans.count(_.kind == "page") >= 60) tail += 1
            var words = -1
            d.spans.foreach { s =>
              if (s.kind == "word") { if (words >= 0) words += 1 }
              else {
                if (words >= 0) { lines += 1; if (words <= 5) short += 1 }
                words = if (s.kind == "line") 0 else -1
              }
            }
            if (words >= 0) { lines += 1; if (words <= 5) short += 1 }
          }
          Iterator((docs, spans, tail, lines, short))
        }.collect().foldLeft((0L, 0L, 0L, 0L, 0L)) { (a, b) =>
          (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4, a._5 + b._5)
        }
      Map("corpus.spans_per_doc" -> agg._2.toDouble / agg._1,
        "corpus.tail_share" -> agg._3.toDouble / agg._1,
        "corpus.short_line_share" -> agg._5.toDouble / agg._4, "corpus.bytes_per_page" -> 0.0)
    }
  }

  /** Total input spans (span workloads) of the corpus at `in`. */
  def inputSpans(spark: SparkSession, in: String): Long =
    spark.read.parquet(in).filter(col("spans").isNotNull)
      .agg(sum(size(col("spans")))).first().getLong(0)
}
