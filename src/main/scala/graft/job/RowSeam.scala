package graft.job

import org.apache.spark.TaskContext
import org.apache.spark.util.LongAccumulator
import scala.util.control.NonFatal

/** The per-row failure seam of every map-only row kernel: the chunked
  * job's loop ([[ExtractJob.PartitionInstrumentation]]), the standalone
  * HTML, web-prep, streaming and media operators all run their kernel
  * through it, inside `mapPartitions`. The failure policy, stated once:
  *
  *  - per row, `kernel(row)` runs once; any `NonFatal` throw fails that
  *    row, a null key or input cell included ([[RowSeam.nonNull]]);
  *  - a failed row never fails the task: it is dropped, or replaced by
  *    the caller's own `failureRow` (a status row, a degraded value);
  *  - each failure is counted once, in `nFailed` and on `failedAcc` when
  *    one is given;
  *  - the first error is kept as `<id>: <message>`, or as
  *    `row N of partition P: <message>` when the row has no id; the id
  *    is read only on failure, so a good row pays nothing for it;
  *  - one row in, one value or a failure out: an operator that emits
  *    several rows per input returns them as one value and flattens
  *    after the seam.
  *
  * A fatal error (out of memory, stack overflow) still fails the task.
  * The kernel reads each row before the next is pulled, so reused
  * (Unsafe) input rows are safe.
  */
abstract class RowSeam[I, O <: AnyRef](rows: Iterator[I],
    failedAcc: Option[LongAccumulator]) extends Iterator[O] {
  /** One output value; a throw fails the row. Never null. */
  protected def kernel(row: I): O
  /** The row's id for the first error, or null; called only on failure. */
  protected def idOf(row: I): String
  /** The row emitted in place of a failed one; null drops it. */
  protected def failureRow(row: I, e: Throwable): O = null.asInstanceOf[O]
  /** Called once, when the input runs out. */
  protected def exhausted(): Unit = ()

  protected val partition: Int = TaskContext.getPartitionId()
  protected var nRows, nFailed = 0L
  protected var firstError = ""
  private val acc = failedAcc.orNull
  private var pending: O = _
  private var ended = false

  final def hasNext: Boolean = {
    while (pending == null && rows.hasNext) pending = step(rows.next())
    if (pending == null && !ended) {
      ended = true
      exhausted()
    }
    pending != null
  }

  final def next(): O = {
    if (!hasNext) throw new NoSuchElementException("partition exhausted")
    val r = pending
    pending = null.asInstanceOf[O]
    r
  }

  private def step(row: I): O = {
    nRows += 1
    try kernel(row)
    catch {
      case NonFatal(e) =>
        nFailed += 1
        if (acc != null) acc.add(1L)
        if (firstError.isEmpty) {
          val id = idOf(row)
          val who = if (id == null) s"row ${nRows - 1} of partition $partition" else id
          firstError = s"$who: ${e.getMessage}"
        }
        failureRow(row, e)
    }
  }
}

object RowSeam {

  /** `rows` through the kernel `f` under the seam's policy; `id` names a
    * failed row, `onFailure` (default: drop) replaces it.
    */
  def apply[I, O <: AnyRef](rows: Iterator[I],
      failedAcc: Option[LongAccumulator] = None)(id: I => String)(
      f: I => O, onFailure: (I, Throwable) => O = null): Iterator[O] =
    new RowSeam[I, O](rows, failedAcc) {
      protected def kernel(row: I): O = f(row)
      protected def idOf(row: I): String = id(row)
      override protected def failureRow(row: I, e: Throwable): O =
        if (onFailure == null) null.asInstanceOf[O] else onFailure(row, e)
    }

  /** The row failure for a null `column` cell: `null <column>`. */
  def nullCell(column: String): IllegalArgumentException =
    new IllegalArgumentException(s"null $column")

  /** `v`, or a row failure when it is null. */
  def nonNull[T <: AnyRef](v: T, column: String): T =
    if (v == null) throw nullCell(column) else v
}
