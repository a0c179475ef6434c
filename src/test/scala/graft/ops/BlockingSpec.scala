package graft.ops

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** The candidate-pair core: its pairs equal a brute-force self-join with
  * `a < b` for every cap, and a block over the cap is enumerated in
  * sub-block cells spread over tasks instead of in one task.
  */
class BlockingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-blockingspec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private type Row4 = (Long, Long, Long, Long)

  /** (key, id, p) rows. */
  private def index(rows: Seq[(Long, Long, Long)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("k", "id", "p")
  }

  /** The self-join on k with a < b, as (a, b, p_a, p_b) counts. */
  private def bruteForce(rows: Seq[(Long, Long, Long)]): Map[Row4, Int] =
    (for {
      (_, block) <- rows.groupBy(_._1).toSeq
      x <- block
      y <- block if x._2 < y._2
    } yield (x._2, y._2, x._3, y._3)).groupBy(identity).map { case (r, v) => r -> v.size }

  private def pairs(df: DataFrame): Map[Row4, Int] =
    df.select("a", "b", "p_a", "p_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(identity).map { case (r, v) => r -> v.length }

  test("selfPairs == brute-force self-join for every cap, purge bound and repeated ids") {
    val rng = new scala.util.Random(17L)
    // 12 keys of up to 40 rows over 30 ids: ids repeat inside a block
    val rows = Seq.fill(300)((rng.nextInt(12).toLong, rng.nextInt(30).toLong,
      rng.nextInt(1000).toLong))
    def ids(k: Long) = rows.filter(_._1 == k).map(_._2).distinct.size
    for (cap <- Seq(1, 3, 8, Blocking.BlockCap); maxBlock <- Seq(Int.MaxValue, 15)) {
      val kept = rows.filter(r => ids(r._1) <= maxBlock)
      val got = pairs(Blocking.selfPairs(index(rows), Seq("k"), maxBlock,
        idsRepeat = true, cap = cap))
      assert(got == bruteForce(kept), s"cap=$cap maxBlock=$maxBlock")
    }
    val sizes = rows.map(_._1).distinct.map(ids)
    assert(sizes.exists(_ > 15) && sizes.exists(_ <= 15), s"vacuous purge: $sizes")
  }

  test("hot block: 1,000 ids under one key against cap 64 — exact pairs, spread over tasks") {
    val cap = 64
    val hot = (1L to 1000L).map(i => (0L, i, i * 7))
    // a few true near-dups: small blocks that share ids with each other
    val small = Seq((1L, 2001L, 1L), (1L, 2002L, 2L), (2L, 2002L, 3L),
      (2L, 2001L, 4L), (2L, 2003L, 5L), (3L, 2004L, 6L))
    val rows = hot ++ small
    val expected = bruteForce(rows)
    assert(expected.values.sum == 499500 + 1 + 3)
    val sc = spark.sparkContext
    // the at-scale plan: a sort-merge self-join, one task per shuffle
    // partition (a toy input would otherwise be broadcast or coalesced)
    val atScale = Seq("spark.sql.shuffle.partitions" -> "64",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = atScale.map { case (k, _) => k -> spark.conf.getOption(k) }
    atScale.foreach { case (k, v) => spark.conf.set(k, v) }
    val written = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = written.synchronized {
        written.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) +=
          e.taskMetrics.shuffleWriteMetrics.recordsWritten
      }
    }
    sc.addSparkListener(listener)
    val perTask = try {
      val out = Blocking.selfPairs(index(rows), Seq("k"), cap = cap)
      assert(pairs(out) == expected)
      // the enumerating tasks write their pairs into this exchange
      out.repartition(8, col("a")).write.format("noop").mode("overwrite").save()
      // task-end events reach the listener after the job returns
      eventually(timeout(Span(30, Seconds))) {
        written.synchronized(written.values.find(_.sum == expected.values.sum))
          .getOrElse(fail(s"no stage wrote the pairs: $written")).toSeq
      }
    } finally {
      sc.removeSparkListener(listener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    // 1,000 ids / cap 64 = 16 sub-blocks, 136 cells of at most ~cap ids
    // a side; hash placement stacks a few cells per task
    assert(perTask.count(_ > 0) >= 16, perTask)
    assert(perTask.max <= 16L * cap * cap, perTask)
  }
}
