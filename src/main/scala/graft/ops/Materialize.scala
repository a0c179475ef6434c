package graft.ops

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** The one way an operator materializes a frame, and the one statement of
  * the cache-lifetime rule: no operator leaves a `Dataset.persist`
  * registered after it returns. Both forms store at MEMORY_AND_DISK.
  *
  *  - [[scoped]] is for frames the operator reads to the end itself, by its
  *    own terminal actions. Every frame `s.persisted(ds)` persists is
  *    unpersisted when the block ends, on success and on a throw.
  *  - [[checkpoint]] is for frames that a returned lazy plan reads more
  *    than once, and for every lineage cut. It is an eager
  *    `localCheckpoint`, and the frame owns its blocks: Spark frees them
  *    once the frame and every plan built on it are unreachable
  *    (`getPersistentRDDs` holds weak values and the ContextCleaner tracks
  *    the RDD), so the caller releases nothing. A frame that already is a
  *    checkpoint comes back unchanged, so a caller that reads one frame
  *    through several operators checkpoints it once itself.
  */
object Materialize {

  /** The frames persisted inside one [[scoped]] block. */
  final class Scope private[Materialize] {
    private[Materialize] var held = List.empty[Dataset[_]]
    def persisted[T](ds: Dataset[T]): Dataset[T] = { held ::= ds; ds.persist(MEMORY_AND_DISK) }
  }

  def scoped[A](body: Scope => A): A = {
    val s = new Scope
    try body(s) finally s.held.foreach(_.unpersist())
  }

  def checkpoint[T](ds: Dataset[T]): Dataset[T] = ds.queryExecution.logical match {
    case r: LogicalRDD if r.rdd.isCheckpointed => ds
    case _ => ds.localCheckpoint(eager = true, storageLevel = MEMORY_AND_DISK)
  }
}
