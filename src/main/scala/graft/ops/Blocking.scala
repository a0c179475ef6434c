package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** The one candidate-pair core of every blocking operator (MinHash
  * buckets, n-gram and winnow postings, SimHash bands, token windows,
  * SemDeDup clusters, sign-LSH buckets), after SparkER's block building →
  * purging → comparison generation (EDBT 2019), with heavy blocks split as
  * in "CPU and GPU Hash Joins on Skewed Data" (ICDE 2024). An index holds
  * the block key columns, a long `id` and payload columns; one
  * map-side-combined count of distinct ids per key sizes the blocks:
  *
  *  - purge: blocks over the caller's bound go by one broadcast anti-join;
  *  - split: a block of m > cap ids becomes s = ceil(m / cap) sub-blocks
  *    (hash(id) pmod s) whose sub-block × sub-block cells (i ≤ j) each hold
  *    ~2·cap rows, so no join group buffers a hot block and no task emits
  *    its O(m²) pairs alone. Smaller blocks are one cell.
  *
  * Pairs come from one self-join of the cells on (keys, cell) with a < b,
  * broadcast while the index is small and sort-merged past that.
  * [[selfPairs]] builds the index once ([[Materialize.checkpoint]]) and
  * reads it for the bound, the purge, the sizes and both join sides.
  */
private[ops] object Blocking {

  /** Block-size bound for one cell: blocks above it are split. */
  private[ops] val BlockCap = 4096

  private val Size = "graft_block_ids"

  /** Distinct ids per block key; `idsRepeat` marks an index that may hold
    * several rows of one id under one key (else a row count suffices).
    */
  private def blockSizes(index: DataFrame, keys: Seq[String],
      idsRepeat: Boolean): DataFrame =
    index.groupBy(keys.map(col): _*).agg(
      (if (idsRepeat) countDistinct(col("id")) else count(lit(1))).as(Size))

  /** `index` without the blocks of more than `maxBlock` distinct ids;
    * `index` itself when there is no bound.
    */
  def purge(index: DataFrame, keys: Seq[String], maxBlock: Int,
      idsRepeat: Boolean = false): DataFrame =
    if (maxBlock == Int.MaxValue) index
    else {
      val hot = blockSizes(index, keys, idsRepeat)
        .filter(col(Size) > maxBlock).select(keys.map(col): _*)
      // the join moves the keys first; restore the index's column order
      index.join(broadcast(hot), keys, "left_anti")
        .select(index.columns.map(col): _*)
    }

  /** An upper bound on any block's rows: the sum over partitions of each
    * one's largest key count, or over the cap past `TrackedKeys` keys in a
    * partition. Map-only: no shuffle.
    */
  private def rowsPerKeyBound(index: DataFrame, keys: Seq[String], cap: Int): Long =
    index.select(keys.map(col): _*).queryExecution.toRdd.mapPartitions { rows =>
      val counts = new java.util.HashMap[InternalRow, java.lang.Long]()
      while (rows.hasNext && counts.size < TrackedKeys)
        counts.merge(rows.next().copy(), 1L, (a, b) => a + b)
      Iterator(if (rows.hasNext) cap + 1L
        else counts.values.stream.mapToLong(_.longValue).max.orElse(0L))
    }.collect().sum

  private val TrackedKeys = 1 << 16

  /** Every pair of index rows that share a block key and have different
    * ids, once per key: `a` < `b` (the ids), then each payload column `p`
    * as `p_a` and `p_b` — the row multiset of the self-join on the keys
    * with `a < b`. `cap` is [[BlockCap]] everywhere but in the specs.
    */
  def selfPairs(index: DataFrame, keys: Seq[String],
      maxBlock: Int = Int.MaxValue, idsRepeat: Boolean = false,
      cap: Int = BlockCap): DataFrame = {
    val payloads = index.columns.toSeq.filterNot(c => c == "id" || keys.contains(c))
    val built = Materialize.checkpoint(index)
    val kept = purge(built, keys, maxBlock, idsRepeat)
    val cells =
      if (rowsPerKeyBound(built, keys, cap) <= cap) // every block is one cell
        kept.select(col("*"), lit(0L).as("graft_sub"), lit(0L).as("graft_i"),
          lit(0L).as("graft_j"))
      else {
        val sizes = blockSizes(built, keys, idsRepeat)
        val s = when(col(Size).isNull, lit(1L)).otherwise(ceil(col(Size) / cap))
        // each row joins the s cells (min(sub, u), max(sub, u)) of its block
        kept.join(broadcast(sizes.filter(col(Size) > cap)), keys, "left_outer")
          .withColumn("graft_sub", pmod(xxhash64(col("id")), s))
          .withColumn("graft_u", explode(sequence(lit(0L), s - 1)))
          .withColumn("graft_i", least(col("graft_sub"), col("graft_u")))
          .withColumn("graft_j", greatest(col("graft_sub"), col("graft_u")))
          .drop(Size, "graft_u")
      }
    // a diagonal cell pairs its rows among themselves, an off-diagonal one
    // pairs its two sub-blocks with each other
    def x(c: String) = col(s"graft_x.$c")
    def y(c: String) = col(s"graft_y.$c")
    val sameCell = (keys ++ Seq("graft_i", "graft_j")).map(c => x(c) === y(c)).reduce(_ && _)
    cells.as("graft_x").join(cells.as("graft_y"), sameCell && x("id") < y("id") &&
        (x("graft_i") === x("graft_j") || x("graft_sub") =!= y("graft_sub")))
      .select(Seq(x("id").as("a"), y("id").as("b")) ++
        payloads.map(c => x(c).as(s"${c}_a")) ++ payloads.map(c => y(c).as(s"${c}_b")): _*)
  }
}
