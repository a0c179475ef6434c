package graft.job

import graft.codec.{SpanCodec, SpanField, TreeBuilder}
import graft.model._
import graft.reflow.ExtractConfig
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.util.ArrayData

/** Tungsten-direct span decode for the `spans` kind of [[ExtractJob]]'s
  * one extraction loop ([[InputKind.Spans]]): builds the per-document tree
  * straight from `InternalRow`/`ArrayData`, bypassing the Dataset encoder.
  *
  * Why: the generic `as[DocRow]` deserializer materializes 4 Strings + a
  * Span + a Seq cell per span (~10M objects per 40k docs) and measurably
  * saturates around 8 threads on allocation. This path points one
  * [[SpanField]] per struct field at the row's UTF-8 bytes, span after
  * span, and hands them to [[SpanCodec.feed]], the span reader the typed
  * decoder also uses: kinds are compared as bytes, and the `box=` texts
  * and `font=…;box=…` word refs are parsed from the bytes
  * ([[graft.codec.SpanAttrs]]). A number `-?digits(.digits)?` of at most
  * 15 digits is computed exactly as m / 10^k, bit-identical to
  * `toDouble`; any other value falls back to the String parse, so results
  * and exceptions match it. Font ids are interned per document; only word
  * texts and element/line ids become Strings.
  *
  * Safety: UnsafeRows from `queryExecution.toRdd` are reused by the
  * scanner — each row is fully consumed (tree built) before `next()`, and
  * the interned font ids are copies.
  */
object FastScan {

  /** Struct-field positions of the spans element, resolved BY NAME from
    * the actual schema: the Tungsten path reads by ordinal, and a parquet
    * file written with the same fields in a different struct order (or
    * with extra fields) would otherwise be silently misread — while the
    * typed `.as[DocRow]` path resolves names correctly, making the two
    * paths disagree on identical input.
    */
  final case class SpanOrdinals(kind: Int, text: Int, mediaRef: Int,
      offset: Int, arity: Int)

  object SpanOrdinals {
    /** The canonical (kind, text, media_ref, offset) layout. */
    val Default: SpanOrdinals = SpanOrdinals(0, 1, 2, 3, 4)

    def from(schema: org.apache.spark.sql.types.StructType): SpanOrdinals = {
      val st = schema("spans").dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
      SpanOrdinals(st.fieldIndex("kind"), st.fieldIndex("text"),
        st.fieldIndex("media_ref"), st.fieldIndex("offset"), st.size)
    }
  }

  /** Decode one spans ArrayData (struct fields located by `ord`) into a
    * DocTree, in offset order; a null offset reads as the span's index.
    */
  def decodeSpans(arr: ArrayData, fast: Boolean,
      ord: SpanOrdinals = SpanOrdinals.Default): DocTree = {
    val n = arr.numElements()
    def offset(s: InternalRow, i: Int): Int =
      if (s.isNullAt(ord.offset)) i else s.getInt(ord.offset)
    val b = new TreeBuilder(fast)
    val f = new Fields(ord)
    var unsorted = false
    var prev = Int.MinValue
    var i = 0
    while (i < n && !unsorted) {
      val s = arr.getStruct(i, ord.arity)
      val off = offset(s, i)
      if (off < prev) unsorted = true
      else {
        prev = off
        f.feed(b, s, off)
        i += 1
      }
    }
    if (!unsorted) b.result()
    else {
      // rare path: restart in (stable) offset order
      val sorted = new TreeBuilder(fast)
      (0 until n).map(j => (offset(arr.getStruct(j, ord.arity), j), j)).sortBy(_._1)
        .foreach { case (off, j) => f.feed(sorted, arr.getStruct(j, ord.arity), off) }
      sorted.result()
    }
  }

  /** The kind, text and media_ref fields of the span being fed. */
  private final class Fields(o: SpanOrdinals) {
    private val kind, text, ref = new SpanField

    def feed(b: TreeBuilder, s: InternalRow, off: Int): Unit =
      SpanCodec.feed(b, set(kind, s, o.kind), set(text, s, o.text), set(ref, s, o.mediaRef), off)

    private def set(f: SpanField, s: InternalRow, ord: Int): SpanField =
      if (s.isNullAt(ord)) f.setNull()
      else s match {
        case u: UnsafeRow => // UnsafeRow.getUTF8String's layout, without the object
          val offsetAndSize = u.getLong(ord)
          f.point(u.getBaseObject, u.getBaseOffset + (offsetAndSize >> 32), offsetAndSize.toInt)
        case _ => f.set(s.getUTF8String(ord))
      }
  }

  /** [[ExtractJob.extractChunk]] over a (doc_id, spans) DataFrame with the
    * default spans kind and no metrics reader: the same extraction loop
    * the job runs, so a failed document is dropped exactly as in a job.
    */
  def extract(df: DataFrame, cfg: ExtractConfig): Dataset[ExtractedDoc] =
    ExtractJob.extractChunk(df, JobConfig("", "", "", extract = cfg), 0,
      df.sparkSession.sparkContext.collectionAccumulator[PartitionMetric])
}
