package perfbench

import graft.codec.SpanCodec
import graft.fixtures.{Fixtures, HtmlFixtures}
import graft.model._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every corpus is a pure function of
  * (workload, seed, size) and of the code that writes it (the fixture
  * generators, `SpanCodec` and `ExtractJob.bucketizeInput`). Generation
  * runs before any timed region; its parquet output is cached on disk
  * under that key, inside a directory named after a hash of the sources
  * (`--corpora`, set by run.py), so a source change never reads a corpus
  * written by other code.
  *
  * Planted malformed rows (the job must count them as failed documents,
  * never fail a task) sit at fixed positions: `i % 100 == 37` and
  * `i % 100 == 73`.
  */
object Corpora {

  /** Seed-derived base for the per-document generators: distinct seeds
    * give disjoint Rng streams.
    */
  def base(seed: Long): Long = seed * 1000003L + 17L

  def planted(i: Long): Boolean = i % 100 == 37 || i % 100 == 73

  /** A word span whose box no longer parses: decode throws. */
  private def breakBox(spans: Vector[Span]): Vector[Span] = {
    val k = spans.indexWhere(_.kind == "word")
    spans.updated(k, spans(k).copy(media_ref = "font=font1;box=1.0,2.0,x,4.0"))
  }

  private def plant(row: DocRow, i: Long): DocRow =
    if (i % 100 == 37) DocRow(row.doc_id, null)
    else if (i % 100 == 73) DocRow(row.doc_id, breakBox(row.spans.toVector))
    else row

  /** extract_pdf: the compositeDoc shape — 4-8 pages, a 1 per mille tail
    * of 60-page documents, media on every fifth document.
    */
  def pdfDoc(seed: Long, i: Long): DocRow = {
    val rng = new Fixtures.Rng(base(seed) + i)
    val pages = if (i % 1000 == 500) 60 else 4 + rng.nextInt(5)
    plant(Fixtures.compositeDoc(f"doc-$i%08d", pages, rng,
      withMedia = i % 5 == 0), i)
  }

  private val Syllables = Vector("ka", "mo", "ri", "tu", "len", "bar", "si",
    "dor", "fe", "gun", "pa", "ve", "no", "zel", "hi", "wa", "ost", "lu",
    "mer", "tan")

  /** Word of Zipf rank `r`: its base-20 digits spelled as syllables. No
    * such word is in the dehyphenation dictionary.
    */
  def lmWord(r: Int): String = {
    val sb = new StringBuilder
    var x = r + 20
    while (x > 0) { sb ++= Syllables(x % 20); x /= 20 }
    sb.toString
  }

  val LmVocab = 200000
  private val ZipfS = 1.07

  /** Continuous inverse-CDF Zipf sample over ranks 1..LmVocab. */
  private def zipf(rng: Fixtures.Rng): Int = {
    val a = 1.0 - ZipfS
    val hi = math.pow(LmVocab.toDouble, a)
    val r = math.pow((hi - 1.0) * rng.nextDouble() + 1.0, 1.0 / a).toInt
    math.min(math.max(r, 1), LmVocab)
  }

  /** extract_lm: short justified lines (at most 5 words, no trailing
    * punctuation) from a Zipf vocabulary far larger than the scorer's
    * per-thread LRU, so line breaks fall through to the char-LM; every
    * third paragraph has a hyphen break whose join is not a known word.
    */
  def lmDoc(seed: Long, i: Long): DocRow = {
    val rng = new Fixtures.Rng(base(seed) + i)
    val id = f"lm-$i%08d"
    val nPages = 2 + rng.nextInt(3)
    val pages = (0 until nPages).map { p =>
      val elems = Vector.newBuilder[Elem]
      elems += Fixtures.paragraph(s"$id-p$p-hdr", Seq(Seq("Bericht", "der", "Kommission")),
        "font3", t0 = 20.0, w = 200.0, h = 10.0, isHeader = true)
      var t = 100.0
      (0 until 4).foreach { k =>
        val nLines = 3 + rng.nextInt(4)
        val lines = (0 until nLines).map(_ => (0 until 3 + rng.nextInt(3)).map(_ => lmWord(zipf(rng))))
        val lines2 =
          if (k % 3 == 0) lines.updated(0, lines(0).init :+ (lines(0).last + "-"))
          else lines
        elems += Fixtures.paragraph(s"$id-p$p-e$k", lines2, "font1", t0 = t)
        t += nLines * 15.0 + 10.0
      }
      elems += Fixtures.paragraph(s"$id-p$p-ftr", Seq(Seq("Seite", s"${p + 1}", "von", s"$nPages")),
        "font3", t0 = 800.0, w = 120.0, h = 10.0, isFooter = true)
      Page(elems.result())
    }.toVector
    plant(DocRow(id, SpanCodec.encode(DocTree(Fixtures.fonts, pages))), i)
  }

  /** extract_html: HtmlFixtures pages with the five charset labellings of
    * HtmlFixtures.bytesCorpus (variant = i % 5); planted rows carry null
    * bytes or a gzip payload.
    */
  def htmlRow(seed: Long, i: Long): (String, Array[Byte], String) = {
    val id = f"web-$i%08d"
    if (i % 100 == 37) (id, null, "text/html")
    else if (i % 100 == 73)
      (id, Array(0x1f, 0x8b, 0x08, 0x00, 0x41, 0x42).map(_.toByte), "text/html")
    else {
      val html = HtmlFixtures.page(id, base(seed) + i)
      (i % 5).toInt match {
        case 0 => (id, html.getBytes("UTF-8"), "text/html; charset=utf-8")
        case 1 => (id, html.getBytes("windows-1252"), "text/html; charset=iso-8859-1")
        case 2 => (id, Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ html.getBytes("UTF-8"),
          "text/html; charset=iso-8859-1")
        case 3 => (id, html.replaceFirst(
          "<head>", "<head><meta charset=\"windows-1252\">").getBytes("windows-1252"), null)
        case _ => (id, html.getBytes("UTF-8"), "text/html")
      }
    }
  }

  /** The reference string for a generated page (what the byte path must
    * decode to, up to the invisible injected meta of variant 3).
    */
  def htmlPage(seed: Long, i: Long): String =
    HtmlFixtures.page(f"web-$i%08d", base(seed) + i)

  private val OpsVocab = ("key agg row scan slow fast table value part hash " +
    "window spark order data column join small line customer query big " +
    "stream vector group sort filter merge batch a the").split(" ")
  private val Langs = Vector("en", "en", "en", "en", "en", "en", "en", "en",
    "fr", "fr", "fr", "de", "de", "de", "es", "es", "es", "zh", "zh", "zh")

  /** corpus_ops: the `documents` test table shape — word soup of 10-100
    * tokens over a 30-word vocabulary, 20 sources, five languages, and
    * the last 5 % of rows near-duplicates (an earlier row plus " dup").
    */
  def opsDocuments(seed: Long, n: Int): Seq[(Long, String, String, String, Long)] = {
    val nDup = n / 20
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val rng = new Fixtures.Rng(base(seed) + i)
      val text =
        if (i >= n - nDup) texts(rng.nextInt(n - nDup)) + " dup"
        else (0 until 10 + rng.nextInt(91)).map(_ => OpsVocab(rng.nextInt(OpsVocab.length))).mkString(" ")
      texts(i) = text
      (i.toLong, text, Langs(rng.nextInt(Langs.length)), s"src${i % 20}", text.length.toLong)
    }
  }

  /** Run `write` once per directory; `_READY` marks a complete write. */
  def cached(dir: String)(write: String => Unit): String = {
    val ready = new java.io.File(dir, "_READY")
    if (!ready.exists()) {
      Files.deleteTree(new java.io.File(dir))
      write(dir)
      new java.io.File(dir).mkdirs()
      ready.createNewFile()
    }
    dir
  }

  /** Raw parquet for an extract workload, then the ingest-time bucketed
    * layout (`ExtractJob.bucketizeInput`) the job reads.
    */
  def extractInput(spark: SparkSession, workload: String, seed: Long, n: Int,
      chunks: Int, dir: String): String =
    cached(dir) { d =>
      import spark.implicits._
      val raw = s"$d/raw"
      val parts = 8
      val ids = spark.range(0, n, 1, parts)
      val df: DataFrame = workload match {
        case "extract_html" =>
          ids.map(i => htmlRow(seed, i)).toDF("doc_id", "html_bytes", "content_type")
        case "extract_lm" => ids.map(i => lmDoc(seed, i)).toDF()
        case _ => ids.map(i => pdfDoc(seed, i)).toDF()
      }
      df.write.mode(SaveMode.Overwrite).parquet(raw)
      graft.job.ExtractJob.bucketizeInput(spark, raw, s"$d/bucketed", chunks)
    } + "/bucketed"

  def opsInput(spark: SparkSession, seed: Long, n: Int, dir: String): String =
    cached(dir) { d =>
      import spark.implicits._
      opsDocuments(seed, n).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    }
}

object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
