package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. A span is (name, start,
  * end, parent); spans are kept in memory and written out when the run
  * ends. Self time = span duration minus the time its children cover.
  *
  * A Scala object on purpose: in local mode the task threads run in this
  * JVM, so kernel spans recorded inside tasks land here too.
  */
object Trace {
  final case class Rec(id: Int, parent: Int, name: String, start: Long, var end: Long)

  private val recs = new ArrayBuffer[Rec]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  @volatile var on = false

  private def open(name: String): Rec = recs.synchronized {
    val r = Rec(recs.length, stack.get().headOption.getOrElse(-1), name, System.nanoTime(), 0L)
    recs += r
    r
  }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val r = open(name)
      stack.set(r.id :: stack.get())
      try f
      finally {
        r.end = System.nanoTime()
        stack.set(stack.get().tail)
      }
    }

  def clear(): Unit = recs.synchronized(recs.clear())

  def snapshot(): Vector[Rec] = recs.synchronized(recs.toVector)

  /** Self seconds per span name: duration minus the children's. */
  def selfTimes(rs: Seq[Rec]): Map[String, Double] = {
    val child = rs.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
    rs.groupBy(_.name).map { case (k, v) =>
      k -> v.map(r => r.end - r.start - child.getOrElse(r.id, 0L)).sum / 1e9
    }
  }

  def write(path: String, rs: Seq[Rec]): Unit = {
    val t0 = if (rs.isEmpty) 0L else rs.map(_.start).min
    val lines = "id\tparent\tname\tstart_ns\tend_ns" +: rs.map(r =>
      s"${r.id}\t${r.parent}\t${r.name}\t${r.start - t0}\t${r.end - t0}")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Task durations of stages that both read input and write output: the
  * extraction stage of an `ExtractJob.run` chunk (the metrics append
  * reads no input; the resume probe writes nothing).
  */
final class TaskRecorder extends SparkListener {
  private val buf = new ArrayBuffer[Long]()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && m.inputMetrics.recordsRead > 0 && m.outputMetrics.recordsWritten > 0)
      buf.synchronized(buf += e.taskInfo.duration)
  }
  def drain(): Vector[Long] = buf.synchronized { val v = buf.toVector; buf.clear(); v }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** JVM-wide GC seconds so far. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }

  private def heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  }

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** CPU seconds this JVM has used so far, all threads. */
  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
}

