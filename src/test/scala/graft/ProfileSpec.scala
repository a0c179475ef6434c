package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.obs.QueryProfile
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The query profiler: per-layer fields of a real query, a planted cache
  * leak and a planted failure, and the warm distribution of every field.
  * And a long-lived session leaks no cached blocks: every declared query
  * runs once, cold, to the noop sink; after each write the CacheManager
  * holds nothing, and once the query's frame is dropped a GC poll brings
  * `getPersistentRDDs` back to its size before the query (checkpointed
  * frames own their blocks, see `graft.ops.Materialize`). Uses the
  * driver-provided sf0.001 tables (skipped when absent).
  */
class ProfileSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-profilespec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  test("BenchTool profile rejects an unknown name before building a session") {
    val before = SparkSession.getDefaultSession
    val err = intercept[IllegalArgumentException](
      tools.BenchTool.main(Array("profile", "q07_exact_dup_groups", "q99_nope")))
    assert(err.getMessage.contains("q99_nope") && err.getMessage.contains("q07_exact_dup_groups") &&
      err.getMessage.contains("winnow_overlap_atScale"), err.getMessage)
    assert(!err.getMessage.contains("unknown profile entries: q07"), err.getMessage)
    assert(SparkSession.getDefaultSession == before)
  }

  test("profile: planning, shuffle and jobs of q07; a leak and a failure are recorded; warm n = 3") {
    assume(new java.io.File(sf).exists())
    val entries: Seq[QueryProfile.Entry] = Seq(
      "boom" -> ((s, _) => s.range(1).selectExpr("raise_error('planted failure')")),
      "q07_exact_dup_groups" -> SparkEntry.queries("q07_exact_dup_groups"),
      "leak" -> ((s, _) => {
        val df = s.range(20000).selectExpr("id", "cast(id as string) AS s").persist()
        df.count()
        df
      }))
    val line = QueryProfile.run(spark, sf, entries)
    assert(!line.contains("\n"))
    val e = new ObjectMapper().readTree(line).get("entries")
    assert(e.fieldNames.asScala.toSeq == entries.map(_._1))

    val boom = e.get("boom").get("cold")
    assert(boom.get("status").asText == "failed" && !boom.has("wall_s"), boom)
    assert(boom.get("error").asText.contains("planted failure"), boom)
    assert(e.get("boom").get("warm").size == 0 && e.get("boom").get("warm_errors").size == 3)

    val q07 = e.get("q07_exact_dup_groups").get("cold")
    def num(r: JsonNode, k: String) = r.get(k).asDouble
    assert(q07.get("status").asText == "ok", q07)
    Seq("analysis_s", "optimization_s", "planning_s", "wall_s", "jobs_s", "run_s")
      .foreach(k => assert(num(q07, k) > 0, s"$k: $q07"))
    assert(num(q07, "shuffle_write_mb") > 0 && num(q07, "jobs") >= 1, q07)
    assert(num(q07, "jobs_s") <= num(q07, "wall_s") && num(q07, "task_skew") >= 1, q07)
    assert(num(q07, "persisted_rdds_left") == 0, q07)
    val top = q07.get("top_stages")
    assert(top.size >= 1 && top.size <= 3 && top.get(0).get("call_site").asText.nonEmpty, q07)

    val leak = e.get("leak").get("cold")
    assert(num(leak, "persisted_rdds_left") >= 1 && num(leak, "cached_mb_left") > 0, leak)

    for (name <- Seq("q07_exact_dup_groups", "leak")) {
      val warm = e.get(name).get("warm")
      assert(warm.fieldNames.asScala.toSet == e.get(name).get("cold").fieldNames.asScala.toSet
        - "status" - "top_stages", warm)
      warm.fields.asScala.foreach { f =>
        val s = f.getValue
        assert(s.get("n").asInt == QueryProfile.WarmPasses, s"$name.${f.getKey}: $s")
        assert(num(s, "min") <= num(s, "median") && num(s, "median") <= num(s, "max"),
          s"$name.${f.getKey}: $s")
      }
      assert(e.get(name).get("warm_errors").size == 0)
    }
    spark.catalog.clearCache()
  }

  // declared after the profile case: one write per declared query warms
  // the analyzer enough that a later cold q07 analysis phase can read
  // under the tracker's 1 ms resolution
  test("leaks: every declared query leaves no persist behind and its checkpoints go with its frame") {
    assume(new java.io.File(sf).exists())
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val leaks = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val before = ProfileSpec.persistedAfterGc(sc, Int.MaxValue, 0L)
      // the frame lives only inside this call, so it is unreachable after
      def write(): Unit =
        SparkEntry.queries(name)(spark, sf).write.mode("overwrite").format("noop").save()
      write()
      val cached = !spark.sharedState.cacheManager.isEmpty
      spark.catalog.clearCache()
      val left = ProfileSpec.persistedAfterGc(sc, before, 10000L) - before
      if (cached || left > 0) Some(s"$name: cached=$cached persisted_rdds_left=$left") else None
    }
    assert(leaks.isEmpty, leaks.mkString("\n"))
  }
}

object ProfileSpec {

  /** `sc.getPersistentRDDs.size` after GC polls, stopping as soon as it is
    * at most `target` or after `timeoutMs`.
    */
  def persistedAfterGc(sc: SparkContext, target: Int, timeoutMs: Long): Int = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var n = Int.MaxValue
    while ({
      System.gc()
      Thread.sleep(50)
      n = sc.getPersistentRDDs.size
      n > target && System.nanoTime() < deadline
    }) ()
    n
  }
}
