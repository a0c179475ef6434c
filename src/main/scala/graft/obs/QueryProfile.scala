package graft.obs

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

/** Per-query cost, layer by layer (the analysis / optimization / planning /
  * codegen / execution split of SparkSQL+): one cold pass over the
  * entries, then [[WarmPasses]] warm passes. Each run builds the entry's
  * frame and writes it to the noop sink under the job group
  * `<pass>/<name>`, after a GC settle.
  *
  * A run's record holds:
  *  - `wall_s`, driver wall of build + write;
  *  - `build_s`, driver wall of the build alone (a DataFrame-API frame is
  *    analyzed while it is built, and any eager action of the entry runs
  *    here too);
  *  - `analysis_s`, `optimization_s`, `planning_s`: `QueryPlanningTracker`
  *    phases summed over every SQL execution the run started. These cover
  *    only work inside an execution: analysis done while a DataFrame-API
  *    frame is built is not in `analysis_s` (it often reads 0), but in
  *    `build_s`;
  *  - `codegen_s`: Janino compile time (`CodeGenerator.compileTime`, the
  *    exact sum behind `CodegenMetrics`' compile-time histogram);
  *  - `jobs`, `stages` (that ran tasks) and `jobs_s`, the union of the job
  *    intervals, so `wall_s - jobs_s` is driver and barrier time;
  *  - `run_s`, `cpu_s`, `gc_s`: executor time summed over tasks;
  *  - `shuffle_read_mb`, `shuffle_write_mb`, `spill_mb` (memory + disk);
  *  - `task_skew`: the worst max/median task time over the stages of at
  *    least 4 tasks, 1 when there are none (perfbench's `ops.<q>.task_skew`);
  *  - `cached_mb_left`, `persisted_rdds_left`: what stays cached after the next settle;
  *  - `top_stages`: the 3 stages with the most executor run time, each
  *    with its call site and operator scopes (AQE stages are submitted
  *    from a pool thread, so their call site says little).
  * A run that throws is recorded as `failed` with its error and no wall;
  * the profile goes on with the next entry.
  */
object QueryProfile {

  type Entry = (String, (SparkSession, String) => DataFrame)

  val WarmPasses = 3

  private val Mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One run of one entry; `fields` and `top` are empty when it failed. */
  private final case class Run(error: Option[String], fields: ListMap[String, Double],
      top: Seq[ListMap[String, Any]])

  /** Profiles `entries` on the tables under `dir`; returns one JSON line:
    * per entry the cold record and the warm n/median/min/max of every field.
    */
  def run(spark: SparkSession, dir: String, entries: Seq[Entry]): String = {
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    graft.BenchSurface.settle()
    val passes = try (0 to WarmPasses).map { pass =>
      entries.map { case (name, fn) => once(spark, rec, s"$pass/$name", fn(_, dir)) }
    } finally {
      spark.listenerManager.unregister(rec)
      spark.sparkContext.removeSparkListener(rec)
    }
    val out = entries.indices.map { i =>
      val (cold, warm) = (passes.head(i), passes.tail.map(_(i)))
      val ok = warm.filter(_.error.isEmpty)
      entries(i)._1 -> ListMap(
        "cold" -> cold.error.fold(ListMap[String, Any]("status" -> "ok") ++ cold.fields +
          ("top_stages" -> cold.top))(e => ListMap("status" -> "failed", "error" -> e)),
        "warm" -> ListMap(ok.headOption.toSeq.flatMap(_.fields.keys).map { k =>
          val xs = ok.map(_.fields(k))
          k -> ListMap("n" -> xs.length, "median" -> median(xs), "min" -> xs.min, "max" -> xs.max)
        }: _*),
        "warm_top_stages" -> ok.lastOption.fold(Seq.empty[ListMap[String, Any]])(_.top),
        "warm_errors" -> warm.flatMap(_.error))
    }
    Mapper.writeValueAsString(ListMap("sf" -> dir,
      "cores" -> spark.sparkContext.defaultParallelism, "warm_passes" -> WarmPasses,
      "entries" -> ListMap(out: _*)))
  }

  private def once(spark: SparkSession, rec: Recorder, group: String,
      build: SparkSession => DataFrame): Run = {
    val sc = spark.sparkContext
    val (persisted0, cached0) = (sc.getPersistentRDDs.size, cachedBytes(sc))
    val compile0 = CodeGenerator.compileTime
    rec.current = group
    sc.setJobGroup(group, group)
    val t0 = System.nanoTime()
    var built = 0.0
    val failure =
      try {
        val df = build(spark)
        built = (System.nanoTime() - t0) / 1e9
        df.write.mode("overwrite").format("noop").save()
        None
      } catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[profile] $group ${failure.fold(f"$wall%.2f s")(e => s"failed: $e")}")
    drain(sc)
    val q = rec.take(group)
    graft.BenchSurface.settle() // the next run starts after this one too
    if (failure.isDefined) return Run(failure, ListMap.empty, Nil)
    def phase(p: String) = q.phaseMs(p) / 1e3
    val mb = 1048576.0
    val skews = q.stages.values.filter(_.tasks.length >= 4).map(s =>
      s.tasks.max / math.max(1.0, median(s.tasks.map(_.toDouble).toSeq)))
    val fields = ListMap("wall_s" -> wall, "build_s" -> built,
      "analysis_s" -> phase("analysis"),
      "optimization_s" -> phase("optimization"), "planning_s" -> phase("planning"),
      "codegen_s" -> (CodeGenerator.compileTime - compile0) / 1e9,
      "jobs" -> q.jobs.toDouble, "stages" -> q.stages.size.toDouble,
      "jobs_s" -> union(q.jobIntervals.toSeq) / 1e3,
      "run_s" -> q.runMs / 1e3, "cpu_s" -> q.cpuNs / 1e9, "gc_s" -> q.gcMs / 1e3,
      "shuffle_read_mb" -> q.readB / mb, "shuffle_write_mb" -> q.writeB / mb,
      "spill_mb" -> q.spillB / mb, "task_skew" -> (if (skews.isEmpty) 1.0 else skews.max),
      "cached_mb_left" -> (cachedBytes(sc) - cached0) / mb,
      "persisted_rdds_left" -> (sc.getPersistentRDDs.size - persisted0).toDouble)
    val top = q.stages.toSeq.sortBy(-_._2.runMs).take(3).map { case (id, s) =>
      ListMap[String, Any]("stage" -> id, "call_site" -> s.callSite, "ops" -> s.ops,
        "tasks" -> s.tasks.length, "run_s" -> round(s.runMs / 1e3))
    }
    Run(None, fields.map { case (k, v) => k -> round(v) }, top)
  }

  /** Listener side: task, stage and job events keyed by job group, and the
    * planning phases of each SQL execution, booked to the running group.
    */
  private final class Recorder extends SparkListener with QueryExecutionListener {
    /** A stage's call site and the operator scopes of its RDDs. */
    final class Stage(val callSite: String, val ops: String) {
      val tasks = mutable.ArrayBuffer[Long]()
      var runMs = 0L
    }
    final class Q {
      val phaseMs = mutable.Map[String, Long]().withDefaultValue(0L)
      var jobs = 0
      val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
      val stages = mutable.Map[Int, Stage]()
      var runMs, cpuNs, gcMs, readB, writeB, spillB = 0L
    }
    @volatile var current = ""
    private val byGroup = mutable.Map[String, Q]()
    private val jobOf = mutable.Map[Int, (String, Long)]()
    private val stageOf = mutable.Map[Int, (String, Stage)]()
    private def q(g: String) = byGroup.getOrElseUpdate(g, new Q)

    def take(g: String): Q = synchronized {
      stageOf.filterInPlace((_, v) => v._1 != g)
      byGroup.remove(g).getOrElse(new Q)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
        q(g).jobs += 1
        jobOf(e.jobId) = (g, e.time)
        e.stageInfos.foreach(s => stageOf(s.stageId) = (g, new Stage(s.name,
          s.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct.mkString(" > "))))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobOf.remove(e.jobId).foreach { case (g, t) => q(g).jobIntervals += ((t, e.time)) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for ((g, stage) <- stageOf.get(e.stageId); m <- Option(e.taskMetrics)) {
        val r = q(g)
        val s = r.stages.getOrElseUpdate(e.stageId, stage)
        s.tasks += e.taskInfo.duration
        s.runMs += m.executorRunTime
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.readB += m.shuffleReadMetrics.totalBytesRead
        r.writeB += m.shuffleWriteMetrics.bytesWritten
        r.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    private def book(qe: QueryExecution): Unit = synchronized {
      qe.tracker.phases.foreach { case (k, p) => q(current).phaseMs(k) += p.durationMs }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = book(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = book(qe)
  }

  /** Waits until the listener bus has delivered every event posted so far.
    * `LiveListenerBus.waitUntilEmpty` is Spark-internal in Scala (public in
    * bytecode), hence the reflection.
    */
  private def drain(sc: SparkContext): Unit = {
    val bus = classOf[SparkContext].getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE).invoke(bus, Long.box(60000L))
  }

  private def cachedBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Covered length of the intervals. */
  private def union(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, end), (s, e)) =>
      if (e <= end) (sum, end) else (sum + e - math.max(s, end), e)
    }._1

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def round(x: Double): Double = math.rint(x * 1e6) / 1e6
}
