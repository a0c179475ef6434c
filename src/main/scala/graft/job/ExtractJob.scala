package graft.job

import graft.extract.Extractor
import graft.html.HtmlExtract
import graft.model._
import graft.reflow.ExtractConfig
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.CollectionAccumulator
import scala.util.control.NonFatal

/** The corpus-dimension driver (SURVEY.md §2.11 C1, §4): Iceberg/parquet
  * scan -> resume anti-join -> skew-aware repartition -> batched
  * mapPartitions extraction -> output + metrics sinks.
  *
  * Scale design (north_rule):
  *  - the unit of parallelism is the document row; extraction is
  *    embarrassingly parallel, so the only shuffles are the explicit
  *    repartition and (on resume) the anti-join;
  *  - skew: documents with span counts >= `bigDocSpanThreshold` are split
  *    into their own partition set sized one-doc-per-partition, so a
  *    handful of pathological documents never serialize a task (the
  *    reference has the same hot spot: per-PDF runtime dominated by LM
  *    calls, development/notes/03_notes.md);
  *  - resume: the corpus is processed in `chunks` deterministic slices
  *    (pmod(xxhash64(doc_id), chunks)); each completed chunk OVERWRITES its
  *    own chunk= directory (the retry unit — idempotent on any crash/retry
  *    interleaving) and then appends a metrics row; on restart, chunks with
  *    a 'done' metrics row are skipped — exact resume, verified by the
  *    resume-equivalence test (FIXTURES.md §4). With `bucketedInput` the
  *    input is laid out as bucket= partition dirs (bucketizeInput), so
  *    chunk selection is partition pruning and a k-chunk run scans the
  *    input ONCE total, not k times. On Iceberg the same flow maps to a
  *    bucket partition transform + replacePartitions snapshots + the
  *    metrics table.
  */
final case class JobConfig(
    inputPath: String,
    outputPath: String,
    metricsPath: String,
    runId: String = "run-0",
    numPartitions: Int = 32,
    chunks: Int = 1,
    bigDocSpanThreshold: Int = 20000,
    /** web-kernel skew threshold in CHARS (inputKind "html"/"html_bytes"). A
      * separate knob from bigDocSpanThreshold: a 20k-span layout doc is
      * pathological, but a 20k-char page is ordinary — reusing the span
      * threshold would send most real pages down the big-doc salt branch
      * and stop the knob from isolating skew.
      */
    bigDocHtmlChars: Int = 500000,
    format: String = "parquet",
    /** input laid out as bucket=N partition dirs (ExtractJob.bucketizeInput):
      * chunk selection becomes partition PRUNING — a k-chunk run reads each
      * input byte once, instead of k full scans of a pmod filter.
      */
    bucketedInput: Boolean = false,
    /** set false when the input layout already distributes documents
      * (ingest-time hash bucketing): extraction runs map-only, zero
      * shuffle. Default true = explicit skew-aware repartition.
      */
    repartitionInput: Boolean = true,
    /** "chunk" (default): a crashed chunk is re-extracted whole and its
      * directory atomically Overwritten — exactly-once under any retry
      * interleaving. "doc": SURVEY §2.3 J4's doc-granular resume — an
      * incomplete chunk's surviving output rows are left-anti-joined
      * against the input by doc_id and only the missing documents are
      * re-extracted and Appended (requires job-level output commit,
      * parquet committer v1 / Iceberg snapshot, so a crashed append is
      * invisible; with task-level commits use "chunk").
      */
    resumeGranularity: String = "chunk",
    /** Which [[InputKind]] the job reads: "spans" (default, the
      * layout-token PDF kernel over (doc_id, spans)), "html" (the web
      * kernel over (doc_id, html)) or "html_bytes" (the same web kernel
      * over crawl-native (doc_id, html_bytes[, content_type]) rows, the
      * charset ladder inside the same map pass). Every kind shares the
      * chunking, bucketed pruning, skew salting, doc/chunk resume and
      * per-partition metrics; any other value fails the run.
      */
    inputKind: String = "spans",
    extract: ExtractConfig = ExtractConfig())

/** The input-kind table of [[ExtractJob]]: the one place `JobConfig.inputKind`
  * is interpreted. Each kind names the columns its kernel reads (doc_id
  * first), its skew measure with the threshold that applies, and the
  * per-row kernel the shared extraction loop calls.
  */
private[job] sealed abstract class InputKind(val name: String) {
  /** Project a raw input table onto (doc_id, kernel columns...); idempotent. */
  def columns(df: DataFrame): DataFrame
  /** Skew measure and big-doc threshold for `repartitionSkewAwareDf`. */
  def skew(cfg: JobConfig): (Column, Int)
  /** The per-row kernel over rows of the projected `schema`, built once
    * per chunk on the driver.
    */
  def kernel(schema: StructType, ecfg: ExtractConfig): InputKind.RowKernel
}

private[job] object InputKind {
  /** (non-null doc_id, row, partition loop) => output document; throws
    * on a malformed row. The loop is passed so the span kernel can count
    * its input spans without a second array read.
    */
  type RowKernel =
    (String, InternalRow, ExtractJob.PartitionInstrumentation) => ExtractedDoc

  case object Spans extends InputKind("spans") {
    def columns(df: DataFrame): DataFrame = df.select("doc_id", "spans")
    def skew(cfg: JobConfig): (Column, Int) = (size(col("spans")), cfg.bigDocSpanThreshold)
    def kernel(schema: StructType, ecfg: ExtractConfig): RowKernel = {
      val ord = FastScan.SpanOrdinals.from(schema)
      (docId, row, m) => {
        require(!row.isNullAt(1), "null spans")
        val arr = row.getArray(1)
        m.spansIn += arr.numElements()
        val out = Extractor.extractTree(FastScan.decodeSpans(arr, ecfg.fast, ord), ecfg)
        ExtractedDoc(docId, Extractor.emitSpans(out), out.text())
      }
    }
  }

  case object Html extends InputKind("html") {
    def columns(df: DataFrame): DataFrame = df.select("doc_id", "html")
    // chars, not spans: a 20k-char page is ordinary (see bigDocHtmlChars)
    def skew(cfg: JobConfig): (Column, Int) = (length(col("html")), cfg.bigDocHtmlChars)
    def kernel(schema: StructType, ecfg: ExtractConfig): RowKernel =
      (docId, row, _) => {
        require(!row.isNullAt(1), "null html")
        HtmlExtract.extractRow(docId, row.getUTF8String(1).toString)
      }
  }

  case object HtmlBytes extends InputKind("html_bytes") {
    def columns(df: DataFrame): DataFrame = {
      // a WARC landing (Warc.ingestToTable) carries 3xx redirect rows —
      // crawl EDGES with empty bodies; only HTTP-200 captures are
      // documents (mirrors Warc.extractAll's filter). A table without
      // content_type still runs: the charset ladder continues past the
      // absent transport layer.
      val content =
        if (df.columns.contains("http_status")) df.filter(col("http_status") === 200)
        else df
      if (content.columns.contains("content_type"))
        content.select("doc_id", "html_bytes", "content_type")
      else content.select(col("doc_id"), col("html_bytes"),
        lit(null).cast("string").as("content_type"))
    }
    // length(binary) = octet count; ~1 byte per char for the dominant
    // encodings, so the char threshold applies
    def skew(cfg: JobConfig): (Column, Int) = (length(col("html_bytes")), cfg.bigDocHtmlChars)
    def kernel(schema: StructType, ecfg: ExtractConfig): RowKernel =
      (docId, row, _) => {
        require(!row.isNullAt(1), "null html_bytes")
        HtmlExtract.extractRowBytes(docId, row.getBinary(1),
          if (row.isNullAt(2)) null else row.getUTF8String(2).toString)
      }
  }

  private val All: Seq[InputKind] = Seq(Spans, Html, HtmlBytes)

  def parse(name: String): InputKind = All.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown inputKind '$name'; accepted: ${All.map(_.name).mkString(", ")}"))
}

object ExtractJob {

  /** Read the docs table as a typed Dataset. Column pruning to
    * (doc_id, spans) is explicit so the scan never reads extra columns.
    */
  def readDocs(spark: SparkSession, cfg: JobConfig): Dataset[DocRow] = {
    import spark.implicits._
    spark.read.format(cfg.format).load(cfg.inputPath)
      .select("doc_id", "spans")
      .as[DocRow]
  }

  /** Partition granularity multiplier: more, smaller tasks smooth residual
    * skew after salting (cheap at task-scheduling level, no extra shuffle).
    */
  val SaltFactor = 4

  /** Skew-aware repartition (north_star requirement: "explicit
    * repartitioning on doc_id hash, salting for skewed long-document
    * partitions") in a SINGLE scan + single shuffle:
    *  - normal docs key on xxhash64(doc_id) — deterministic placement;
    *  - long docs (size(spans) >= bigThreshold) key on a size-salted hash,
    *    so a cluster of pathological documents spreads independently of
    *    its doc_id neighborhood;
    *  - SaltFactor x numPartitions output partitions so one long doc plus
    *    its co-residents never serializes a whole core's worth of work.
    * (An earlier two-branch filter+union formulation scanned the input
    * twice — at 100 TB that doubles the scan; this one doesn't.)
    */
  def repartitionSkewAware(
      docs: Dataset[DocRow],
      numPartitions: Int,
      bigThreshold: Int): Dataset[DocRow] = {
    import docs.sparkSession.implicits._
    repartitionSkewAwareDf(docs.toDF(), numPartitions, bigThreshold,
      size(col("spans"))).as[DocRow]
  }

  /** DataFrame-generic variant: `docSize` is the skew measure (span count
    * for the layout kernel, html length for the web kernel).
    */
  def repartitionSkewAwareDf(docs: DataFrame, numPartitions: Int,
      bigThreshold: Int, docSize: Column): DataFrame = {
    val key = when(docSize >= bigThreshold,
      xxhash64(col("doc_id"), lit("bigdoc-salt"), docSize))
      .otherwise(xxhash64(col("doc_id")))
    docs.repartition(numPartitions * SaltFactor, key)
  }

  /** The one extraction loop of a partition, for every [[InputKind]]: it
    * owns the per-partition counters, emits exactly one PartitionMetric
    * when the rows run out, and is the per-row failure seam — a null
    * doc_id or a kernel exception fails the DOCUMENT (counted in
    * n_failed, first error kept), never the task. The kind's kernel is
    * resolved once per chunk on the driver; per row the loop allocates
    * only the doc_id string. Constructed inside mapPartitions (task thread).
    * UnsafeRows from `queryExecution.toRdd` are reused by the scanner, so
    * each row is fully consumed by the kernel before the next is read.
    */
  private[job] final class PartitionInstrumentation(
      rows: Iterator[InternalRow], kernel: InputKind.RowKernel,
      acc: CollectionAccumulator[PartitionMetric], runId: String, chunkId: Int)
      extends Iterator[ExtractedDoc] {
    private val t0 = System.currentTimeMillis()
    private val lm0 = graft.lm.Scorer.threadLmCallCount // task = one thread
    private val pid = org.apache.spark.TaskContext.getPartitionId()
    private var nDocs, nFailed, spansOut = 0L
    /** Input spans read; the span kernel adds to it, so it stays 0 for
      * the web kinds, which have no span column.
      */
    var spansIn = 0L
    private var firstError = ""
    private var pending: ExtractedDoc = null
    private var metricEmitted = false

    def hasNext: Boolean = {
      while (pending == null && rows.hasNext) pending = extractRow(rows.next())
      if (pending == null && !metricEmitted) {
        metricEmitted = true
        acc.add(PartitionMetric(
          runId, chunkId, pid, nDocs, nFailed, spansIn, spansOut,
          graft.lm.Scorer.threadLmCallCount - lm0,
          System.currentTimeMillis() - t0,
          if (nFailed == 0) "done" else "done_with_failures",
          firstError, System.currentTimeMillis()))
      }
      pending != null
    }

    def next(): ExtractedDoc = {
      if (!hasNext) throw new NoSuchElementException("partition exhausted")
      val r = pending
      pending = null
      r
    }

    /** One row through the kernel; null when the document failed. */
    private def extractRow(row: InternalRow): ExtractedDoc = {
      nDocs += 1
      var docId: String = null
      try {
        if (row.isNullAt(0)) throw new IllegalArgumentException("null doc_id")
        docId = row.getUTF8String(0).toString
        val r = kernel(docId, row, this)
        spansOut += r.spans.length
        r
      } catch {
        case NonFatal(e) =>
          nFailed += 1
          if (firstError.isEmpty) {
            val who = if (docId == null) s"row ${nDocs - 1} of partition $pid" else docId
            firstError = s"$who: ${e.getMessage}"
          }
          null
      }
    }
  }

  /** Extract one chunk of `docs` with the kernel of `cfg.inputKind`:
    * returns the output Dataset; metrics arrive through `metricsAcc`, one
    * row per partition (per-partition lineage). Rows are consumed on the
    * Tungsten-direct path — no encoder deserialization of the input.
    */
  def extractChunk(
      docs: Dataset[_],
      cfg: JobConfig,
      chunkId: Int,
      metricsAcc: CollectionAccumulator[PartitionMetric]): Dataset[ExtractedDoc] =
    extractKind(InputKind.parse(cfg.inputKind), docs, cfg, chunkId, metricsAcc)

  /** [[extractChunk]] with the `html_bytes` kernel, whatever `cfg.inputKind`. */
  def extractChunkHtmlBytes(
      docs: DataFrame,
      cfg: JobConfig,
      chunkId: Int,
      metricsAcc: CollectionAccumulator[PartitionMetric]): Dataset[ExtractedDoc] =
    extractKind(InputKind.HtmlBytes, docs, cfg, chunkId, metricsAcc)

  private def extractKind(kind: InputKind, docs: Dataset[_], cfg: JobConfig,
      chunkId: Int, acc: CollectionAccumulator[PartitionMetric]): Dataset[ExtractedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val input = kind.columns(docs.toDF())
    val kernel = kind.kernel(input.schema, cfg.extract)
    val runId = cfg.runId
    spark.createDataset(input.queryExecution.toRdd.mapPartitions(rows =>
      new PartitionInstrumentation(rows, kernel, acc, runId, chunkId)))
  }

  /** Chunk ids already recorded complete in the metrics table (resume).
    * A MISSING metrics table means a fresh run (empty set); an EXISTING
    * table that cannot be read fails loudly — silently returning empty
    * would reprocess every chunk and (pre-Overwrite) duplicate output.
    */
  def completedChunks(spark: SparkSession, cfg: JobConfig): Set[Int] = {
    val p = new org.apache.hadoop.fs.Path(cfg.metricsPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else try {
      val df = spark.read.format(cfg.format).load(cfg.metricsPath)
      df.filter(col("run_id") === cfg.runId && col("status").startsWith("done"))
        .select("chunk_id").distinct()
        .collect().map(_.getInt(0)).toSet
    } catch {
      case NonFatal(e) =>
        throw new IllegalStateException(
          s"metrics table ${cfg.metricsPath} exists but is unreadable — " +
            "refusing to guess the resume state", e)
    }
  }

  /** Lay the input out as `bucket=N` partition directories keyed on
    * pmod(xxhash64(doc_id), chunks) — one pass over the raw table. A
    * chunked/resumed ExtractJob over this layout selects each chunk by
    * partition PRUNING, so a k-chunk run scans each input byte exactly
    * once (the unbucketed fallback filters the full input per chunk: k
    * scans of a 100 TB table). On Iceberg this is the table's bucket
    * partition transform, written once at ingest.
    */
  def bucketizeInput(spark: SparkSession, rawPath: String, bucketedPath: String,
      chunks: Int, format: String = "parquet"): Unit = {
    spark.read.format(format).load(rawPath)
      .withColumn("bucket", pmod(xxhash64(col("doc_id")), lit(chunks)))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket")
      .format(format).save(bucketedPath)
  }

  /** Run the job end-to-end with checkpointed resume. */
  def run(spark: SparkSession, cfg: JobConfig): Unit = {
    import spark.implicits._
    val kind = InputKind.parse(cfg.inputKind)
    // consulted regardless of cfg.chunks: a rerun of an already-complete
    // job (chunks=1 included) must be a no-op, not a second copy
    val done = completedChunks(spark, cfg)

    if (cfg.bucketedInput) {
      // the loop only visits buckets 0..chunks-1: a layout written with
      // MORE buckets than cfg.chunks would silently never extract the
      // excess buckets and still report success — fail loudly instead
      val p = new org.apache.hadoop.fs.Path(cfg.inputPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bucketDirs = fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("bucket="))
      val unparseable = bucketDirs.filter(_.stripPrefix("bucket=").toIntOption.isEmpty)
      require(unparseable.isEmpty,
        s"input has non-numeric bucket partition dirs ${unparseable.mkString(", ")} " +
          "(e.g. a null bucket value at write time) — the bucketed layout contract " +
          "requires integer buckets 0..chunks-1")
      val buckets = bucketDirs.map(_.stripPrefix("bucket=").toInt)
      require(buckets.nonEmpty,
        s"bucketedInput=true but ${cfg.inputPath} has no bucket= directories")
      val over = buckets.filter(_ >= cfg.chunks)
      require(over.isEmpty,
        s"input has bucket=${over.max} but chunks=${cfg.chunks} — " +
          "a smaller chunk count would silently drop those buckets")
    }

    (0 until cfg.chunks).foreach { chunk =>
      if (!done.contains(chunk)) {
        val slice =
          if (cfg.bucketedInput) {
            // partition pruning on the bucket= layout: only this chunk's
            // files are scanned (JobSpec asserts the pushed filter)
            kind.columns(spark.read.format(cfg.format).load(cfg.inputPath)
              .filter(col("bucket") === chunk))
          } else {
            val docs = kind.columns(spark.read.format(cfg.format).load(cfg.inputPath))
            if (cfg.chunks == 1) docs
            else docs.filter(pmod(xxhash64(col("doc_id")), lit(cfg.chunks)) === chunk)
          }
        val chunkDir = s"${cfg.outputPath}/chunk=$chunk"
        // doc-granular resume (J4): keep the docs a crashed attempt already
        // committed, re-extract only the missing ones (left-anti on doc_id)
        val docLevel = cfg.resumeGranularity == "doc"
        val survivors: Option[DataFrame] =
          if (!docLevel) None
          else {
            val p = new org.apache.hadoop.fs.Path(chunkDir)
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            if (fs.exists(p))
              scala.util.Try(spark.read.format(cfg.format).load(chunkDir)
                .select("doc_id")).toOption
            else None
          }
        val sliceTodo = survivors match {
          case Some(done) =>
            // broadcast when small; AQE/sort-merge otherwise — doc_id is
            // the join key on both sides, no wide rows cross the shuffle
            slice.join(done, Seq("doc_id"), "left_anti")
          case None => slice
        }
        val part =
          if (cfg.repartitionInput) {
            val (sizeCol, threshold) = kind.skew(cfg)
            repartitionSkewAwareDf(sliceTodo, cfg.numPartitions,
              threshold, sizeCol)
          } else sliceTodo // ingest-time layout already distributes: map-only
        val acc = spark.sparkContext.collectionAccumulator[PartitionMetric](s"metrics-$chunk")
        val out = extractKind(kind, part, cfg, chunk, acc)
        // chunk mode: Overwrite — the chunk directory is the retry unit, so
        // a crashed-after-partial-commit attempt (committer v2, speculative
        // tasks) is simply replaced on resume — idempotent by construction.
        // doc mode: Append of exactly the anti-joined remainder.
        val mode = if (survivors.isDefined) SaveMode.Append else SaveMode.Overwrite
        out.write.mode(mode).format(cfg.format).save(chunkDir)
        // chunk committed -> record completion (exact resume boundary);
        // dedupe on partition id: task retries/speculation can fire an
        // accumulator update more than once per partition
        val rows = scala.jdk.CollectionConverters.ListHasAsScala(acc.value).asScala
          .groupBy(_.partition_id).map(_._2.head).toSeq
        val metricRows =
          if (rows.nonEmpty) rows
          else Seq(PartitionMetric(cfg.runId, chunk, -1, 0, 0, 0, 0, 0, 0,
            "done", "", System.currentTimeMillis()))
        spark.createDataset(metricRows).write.mode(SaveMode.Append)
          .format(cfg.format).save(cfg.metricsPath)
      }
    }
  }

  /** Read the combined output of all chunks. */
  def readOutput(spark: SparkSession, cfg: JobConfig): Dataset[ExtractedDoc] = {
    import spark.implicits._
    spark.read.format(cfg.format).load(s"${cfg.outputPath}/chunk=*")
      .select("doc_id", "spans", "text").as[ExtractedDoc]
  }

  /** Oracle comparison join (J5): rows whose span sequence differs from
    * the expected table under (kind, text, media_ref, order) — plain
    * Catalyst array-of-struct equality, broadcast-friendly.
    */
  def diffAgainstExpected(out: DataFrame, expected: DataFrame): DataFrame = {
    out.alias("o")
      .join(expected.alias("e"), Seq("doc_id"), "inner")
      .filter(!(col("o.spans") === col("e.spans")))
      .select(col("doc_id"), col("o.spans").as("actual"), col("e.spans").as("expected"))
  }

  /** spark-submit entrypoint (north_rule: "run via spark-submit"):
    *
    *   spark-submit --class graft.job.ExtractJob <jar> \
    *     --input <path> --output <path> --metrics <path> \
    *     [--run-id r] [--partitions n] [--chunks k] [--format parquet] \
    *     [--big-doc-spans n] [--big-doc-html-chars n] [--fast true|false] \
    *     [--bucketed-input true|false] [--repartition true|false] \
    *     [--input-kind spans|html|html_bytes] [--master url]
    *
    * The session is taken from spark-submit's conf (master, executors,
    * AQE, shuffle partitions come from the cluster submit, not the code);
    * `--master` only applies to a local/dev run outside spark-submit. An
    * unknown flag or a flag without a value fails before any session is
    * built, so a typo never runs the job on defaults.
    */
  def main(args: Array[String]): Unit = {
    val flags = Seq("input", "output", "metrics", "run-id", "partitions",
      "chunks", "big-doc-spans", "big-doc-html-chars", "fast", "format",
      "bucketed-input", "repartition", "input-kind", "master")
    val pairs = args.grouped(2).toSeq
    val bad = pairs.collect {
      case Array(k, _) if !(k.startsWith("--") && flags.contains(k.drop(2))) => k
      case Array(k) => s"$k (no value)"
    }
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"unknown ExtractJob arguments: ${bad.mkString(", ")}; " +
        s"accepted flags: ${flags.map("--" + _).mkString(" ")}")
    val kv = pairs.map(p => p(0).drop(2) -> p(1)).toMap
    def req(k: String): String =
      kv.getOrElse(k, sys.error(s"missing required --$k <value>"))
    val cfg = JobConfig(
      inputPath = req("input"),
      outputPath = req("output"),
      metricsPath = req("metrics"),
      runId = kv.getOrElse("run-id", "run-0"),
      numPartitions = kv.getOrElse("partitions", "32").toInt,
      chunks = kv.getOrElse("chunks", "1").toInt,
      bigDocSpanThreshold = kv.getOrElse("big-doc-spans", "20000").toInt,
      bigDocHtmlChars = kv.getOrElse("big-doc-html-chars", "500000").toInt,
      format = kv.getOrElse("format", "parquet"),
      bucketedInput = kv.getOrElse("bucketed-input", "false").toBoolean,
      repartitionInput = kv.getOrElse("repartition", "true").toBoolean,
      inputKind = kv.getOrElse("input-kind", "spans"),
      extract = graft.reflow.ExtractConfig(
        fast = kv.getOrElse("fast", "true").toBoolean))
    val builder = SparkSession.builder()
      .appName(s"graft-extract-${cfg.runId}")
      .config("spark.sql.adaptive.enabled", "true")
    // on a cluster, spark-submit provides the master; fall back for
    // local/dev invocation
    val withMaster =
      if (sys.props.contains("spark.master")) builder
      else builder.master(kv.getOrElse("master", "local[32]"))
        .config("spark.sql.shuffle.partitions", kv.getOrElse("partitions", "32"))
    val spark = withMaster.getOrCreate()
    run(spark, cfg)
    spark.stop()
  }
}
