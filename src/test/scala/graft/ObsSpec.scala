package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.obs.{Collector, phase}

/** `graft.obs.phase`: scoped job descriptions. */
class ObsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Key = "spark.job.description"

  private def descriptions(body: => Unit): Seq[String] =
    Collector.measure(spark)(body).jobs.map(_.description)

  test("phase names the jobs its body runs and restores the previous " +
    "description on exit, also when the body throws") {
    val sc = spark.sparkContext
    sc.setLocalProperty(Key, null)
    assert(descriptions(phase("outer")(spark.range(10).collect()))
      .forall(_ == "outer"))
    assert(sc.getLocalProperty(Key) == null, "an unset description stays unset")
    sc.setJobDescription("caller")
    try {
      val seen = descriptions(phase("outer") {
        spark.range(5).collect()
        phase("inner")(spark.range(5).collect())
        spark.range(5).collect()
      })
      assert(seen.nonEmpty && seen.toSet === Set("outer", "inner"))
      assert(seen.last === "outer", "the inner phase hands the outer name back")
      assert(sc.getLocalProperty(Key) === "caller")
      intercept[IllegalStateException] {
        phase("failing") {
          assert(sc.getLocalProperty(Key) === "failing")
          throw new IllegalStateException("boom")
        }
      }
      assert(sc.getLocalProperty(Key) === "caller")
    } finally sc.setLocalProperty(Key, null)
  }

  test("the BM25 append and probe run their jobs under their phase names") {
    import spark.implicits._
    import graft.operators.TextSearch
    val dir = java.nio.file.Files.createTempDirectory("graft_obs").toString
    val corpus = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    TextSearch.buildIndex(corpus, "text", "doc_id", "graft_obs_bm25", dir,
      numBuckets = 2)
    val appendJobs = descriptions(TextSearch.append(
      Seq((3L, "gamma delta")).toDF("doc_id", "text"), "text", "doc_id",
      "graft_obs_bm25"))
    assert(appendJobs.nonEmpty && appendJobs.forall(_ == "TextSearch.append"))
    // a non-local batch: resolving its terms is a job inside the probe
    val qs = spark.range(1).selectExpr("0L AS q_id", "'gamma' AS q_text")
    val probeJobs = descriptions(TextSearch.probe(spark, "graft_obs_bm25",
      qs, "q_text", "q_id", 2))
    assert(probeJobs.nonEmpty && probeJobs.forall(_ == "TextSearch.probe"))
  }
}
