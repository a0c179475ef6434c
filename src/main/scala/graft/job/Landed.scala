package graft.job

import java.util.concurrent.{Callable, ExecutionException, Future, LinkedBlockingQueue,
  ThreadPoolExecutor, TimeUnit}
import org.apache.spark.sql.{DataFrame, Encoder, SaveMode, SparkSession}
import scala.util.control.NonFatal

/** The landed-run contract of the checkpointed drivers ([[ExtractJob]]'s
  * chunks, [[graft.pipeline.CrawlLoop]]'s cycles), stated once:
  *
  *  - a unit Overwrites its own directories, and only after they commit
  *    does it append its metrics rows, one file per append; a crash
  *    between the two re-runs the unit into the same Overwrite;
  *  - resume reads the metrics table: a missing table means a fresh run,
  *    and an existing table that cannot be read fails the run, since a
  *    guess would redo or skip landed units;
  *  - the concurrent jobs of a run never outlive it ([[jobs]]).
  */
object Landed {

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** `read` over the metrics table at `path`; None when there is none. */
  def resume[A](spark: SparkSession, path: String, format: String)(
      read: DataFrame => A): Option[A] =
    if (!exists(spark, path)) None
    else try Some(read(spark.read.format(format).load(path)))
    catch {
      case NonFatal(e) => throw new IllegalStateException(
        s"metrics table $path exists but is unreadable — refusing to guess the resume state", e)
    }

  /** Appends `rows` to the metrics table as one file, on the calling thread. */
  def append[T: Encoder](spark: SparkSession, rows: Seq[T], path: String, format: String): Unit =
    spark.createDataset(rows).coalesce(1).write.mode(SaveMode.Append).format(format).save(path)

  /** The jobs in flight in one [[jobs]] block. */
  final class Jobs private[Landed] (pool: ThreadPoolExecutor) {
    def submit[A](job: => A): Future[A] = pool.submit(new Callable[A] { def call(): A = job })

    /** The job's result, or its own error (not an ExecutionException). */
    def await[A](f: Future[A]): A =
      try f.get() catch { case e: ExecutionException => throw e.getCause }

    /** Waits for every future, then rethrows the first error with the others suppressed. */
    def awaitAll(fs: Seq[Future[_]]): Unit = {
      var error: Throwable = null
      for (f <- fs) try await(f) catch {
        case NonFatal(e) => if (error == null) error = e else error.addSuppressed(e)
      }
      if (error != null) throw error
    }
  }

  /** Runs `body` over a pool of `width` daemon threads, started here by the
    * caller so they inherit its Spark local properties (job group,
    * description, scheduler pool). When the block exits, on success or on
    * a throw, every submitted job has ended.
    */
  def jobs[A](name: String, width: Int)(body: Jobs => A): A = {
    val pool = new ThreadPoolExecutor(width, width, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable], { r => val t = new Thread(r, name); t.setDaemon(true); t })
    pool.prestartAllCoreThreads()
    try body(new Jobs(pool))
    finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }
}
