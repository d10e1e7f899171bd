package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import graft.obs.Collector

/** The one session recipe (`Sessions.local`, its core-count parse) and the
  * one job/stage collector (`graft.obs.Collector`).
  */
class SessionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("SPARK_GRAFT_CPUS: unset means the host's processors, a bad value " +
    "throws naming the key and the value") {
    def cpus(v: Option[String]) = Sessions.positiveInt("SPARK_GRAFT_CPUS", v,
      Runtime.getRuntime.availableProcessors)
    assert(cpus(None) === Runtime.getRuntime.availableProcessors)
    assert(cpus(Some("6")) === 6)
    for (bad <- Seq("0", "-2", "four", "", "1.5")) {
      val e = intercept[IllegalArgumentException](cpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("SPARK_GRAFT_BENCH_PASSES: unset means one pass, a bad value " +
    "throws naming the key and the value") {
    def passes(v: Option[String]) =
      Sessions.positiveInt("SPARK_GRAFT_BENCH_PASSES", v, 1)
    assert(passes(None) === 1)
    assert(passes(Some(" 3 ")) === 3)
    for (bad <- Seq("0", "-1", "x", "")) {
      val e = intercept[IllegalArgumentException](passes(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_PASSES") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("SPARK_GRAFT_QUERIES: unset selects the registry sorted by name, a " +
    "list selects its rows, an unknown or empty list throws naming the key") {
    def select(v: Option[String]) =
      SparkEntry.selected("SPARK_GRAFT_QUERIES", v).map(_._1)
    assert(select(None) === SparkEntry.queries.keys.toSeq.sorted)
    assert(select(Some(" q_kbins, q_dedup_exact ,")) ===
      Seq("q_dedup_exact", "q_kbins"))
    val e = intercept[IllegalArgumentException](
      select(Some("q_kbins,q_kbnis,q_nope")))
    assert(e.getMessage.contains("SPARK_GRAFT_QUERIES") &&
      e.getMessage.contains("unknown: q_kbnis, q_nope") &&
      !e.getMessage.contains("unknown: q_kbins"), e.getMessage)
    for (empty <- Seq("", " , ")) {
      val e = intercept[IllegalArgumentException](select(Some(empty)))
      assert(e.getMessage.contains("SPARK_GRAFT_QUERIES"), e.getMessage)
    }
  }

  test("TestSpark is built from the session recipe") {
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master === "local[4]")
    assert(conf.get(Sessions.CodegenCacheKey) === Sessions.CodegenCacheEntries)
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") === "false")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
  }

  test("Collector.measure records every stage each job ran, the last " +
    "stage included") {
    val sc = spark.sparkContext
    val group = "graft-sessions-spec-collector"
    // a slow listener on the same bus queue keeps task and stage events
    // queued after the body returns: a collector detached before draining
    // the bus would miss the last stages
    val slow = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Thread.sleep(500)
    }
    sc.addSparkListener(slow)
    sc.setJobGroup(group, "collector", interruptOnCancel = false)
    val m = try Collector.measure(spark) {
      spark.range(0, 20000, 1, 4).groupBy((col("id") % 7).as("k")).count()
        .collect()
    } finally { sc.clearJobGroup(); sc.removeSparkListener(slow) }
    assert(m.result.length === 7)
    val tracker = sc.statusTracker
    val jobIds = tracker.getJobIdsForGroup(group).toSet
    assert(m.jobs.map(_.id).toSet === jobIds)
    // a stage the tracker lists for one of these jobs ran in the first job
    // that lists it; skipped re-listings have no completed task of their own
    val ran = jobIds.toSeq.flatMap(j => tracker.getJobInfo(j).get.stageIds)
      .distinct.flatMap(s => tracker.getStageInfo(s))
      .filter(_.numCompletedTasks > 0)
    val got = m.stages.map(s => s.id -> s).toMap
    assert(ran.size >= 2 && got.keySet === ran.map(_.stageId).toSet,
      s"tracker stages ${ran.map(_.stageId)} vs collected ${got.keys}")
    ran.foreach(si => assert(got(si.stageId).tasks === si.numCompletedTasks))
    val (map, result) = (got(ran.map(_.stageId).min), got(ran.map(_.stageId).max))
    assert(map.shuffleWrite > 0 && result.shuffleRead > 0)
    assert(result.maxTaskS >= result.medianTaskS && result.runS >= 0.0)
    assert(m.shuffleWrite === m.stages.map(_.shuffleWrite).sum)
  }
}
