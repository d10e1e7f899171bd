package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.sources.Bucketize

/** Physical-plan regression tests: the perf work of rounds 3-5 lives in
  * plan SHAPES (pushdown reaching the scan, bounded-buffer aggregates
  * keeping one exchange, broadcast joins for slim sides, TakeOrdered
  * instead of global sorts). These lock the shapes in — a change that
  * silently reintroduces a scan-wide read, an extra exchange, or a
  * sort-merge join on a driver-sized frame fails here, not in a bench
  * regression three rounds later.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Final adaptive plan after executing the frame. Executes THIS frame's
    * QueryExecution (collect) — a count() would build and run a SEPARATE
    * aggregate QueryExecution, leaving df's own AdaptiveSparkPlanExec
    * un-finalized and the returned "final" plan just the static estimate.
    */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p                        => p.toString
    }
  }

  private val sf = TestSpark.SfDir

  test("r8 operators keep their claimed plan shapes") {
    // GroupNormalize: moments via groupBy + join back — NO Window (a
    // window would sort every row), and no SinglePartition exchange
    val gz = planString(graft.operators.GroupNormalize.zscore(
      graft.ops.Kernel.table(spark, sf, "events")
        .select(col("event_id"), col("user_id"), col("value")),
      Seq("user_id"), "value"))
    assert(!gz.contains("Window"), s"zscore plans a window:\n$gz")
    assert(!gz.contains("SinglePartition"), s"zscore plans a global exchange:\n$gz")

    // TargetEncoder out-of-fold: no SinglePartition anywhere — the stats
    // frames aggregate distributed and join back
    val te = planString(graft.encoders.TargetEncoder.encodeOutOfFold(
      graft.ops.Kernel.table(spark, sf, "customer"),
      "c_mktsegment", "c_acctbal", "c_custkey"))
    assert(!te.contains("SinglePartition"),
      s"target encoder plans a global exchange:\n$te")

    // c4Filter: pure scan — zero exchanges of any kind
    val c4 = planString(graft.operators.TextAnalysis.c4Filter(
      graft.ops.Kernel.table(spark, sf, "documents"), "text", Seq("doc_id")))
    assert(!c4.contains("Exchange"), s"c4Filter shuffles:\n$c4")

    // KBins transform: literal comparison chain — zero exchanges, and the
    // fit edges are literals (no join against a stats frame)
    val kb = planString(graft.encoders.KBins
      .fit(graft.ops.Kernel.table(spark, sf, "customer"), "c_acctbal", k = 4)
      .transform(graft.ops.Kernel.table(spark, sf, "customer")))
    assert(!kb.contains("Exchange"), s"KBins transform shuffles:\n$kb")
  }

  test("row filters push down to the parquet scan") {
    val plan = planString(graft.ops.Kernel.table(spark, sf, "orders")
      .filter(col("o_orderkey") > 100L).select("o_orderkey"))
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), GreaterThan(o_orderkey,100)]"),
      s"filter did not reach the scan:\n$plan")
    // and column pruning: the read schema carries ONLY the selected column
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint>"),
      s"scan reads more than the projection needs:\n$plan")
  }

  test("subsample(random) plans as TakeOrderedAndProject, not a global sort") {
    import graft.plans._
    val out = Plan.makeLearner(
        Var("x").subsample(10, how = "random"))
      .preview(Map("x" -> graft.ops.Kernel.table(spark, sf, "orders")
        .select("o_orderkey", "o_orderpriority")))
    val plan = planString(out)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global sort exchange found:\n$plan")
  }

  test("aggregatePerCol with mode keeps ONE exchange and no join") {
    val li = graft.ops.Kernel.table(spark, sf, "lineitem")
    val agg = graft.operators.Joins.aggregatePerCol(li, Seq("l_orderkey"),
      Seq("l_quantity" -> Seq("count", "sum"), "l_returnflag" -> Seq("mode")))
    val plan = planString(agg)
    assert("Exchange".r.findAllIn(plan).length === 1,
      s"mode aggregation must not add exchanges:\n$plan")
    assert(!plan.contains("Join"), s"mode aggregation must not join:\n$plan")
  }

  test("globalSessionId fast path broadcasts the entity offsets") {
    val e = graft.ops.Kernel.table(spark, sf, "events")
    val out = graft.operators.SessionEncoder.globalSessionId(
      e, Seq("user_id"), "ts", 300.0)
    val plan = finalPlan(out)
    assert(plan.contains("BroadcastHashJoin"), s"offsets not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"session numbering fell back to a sort-merge join:\n$plan")
  }

  test("fuzzy join matches against a broadcast aux side, never shuffling pairs") {
    val main = Seq("france", "italy").toDF("country")
    val aux = Seq(("france", 1), ("italy", 2)).toDF("name", "aux_id")
    val out = graft.operators.FuzzyJoin.fuzzyJoin(main, aux,
      Seq("country" -> "name"))
    val plan = finalPlan(out)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"pair scoring should be a broadcast nested loop:\n$plan")
  }

  test("repetitionFeatures plans as a pure scan: zero exchanges") {
    val docs = graft.ops.Kernel.table(spark, sf, "documents")
    val plan = planString(graft.operators.TextAnalysis
      .repetitionFeatures(docs, "text")
      .select("doc_id", "repetition_ok"))
    assert(!plan.contains("Exchange"),
      s"repetition signals must not shuffle:\n$plan")
  }

  test("bloom decontamination's corpus side plans as a pure scan") {
    val docs = graft.ops.Kernel.table(spark, sf, "documents")
    val out = graft.operators.Decontaminate.flagBloom(
      docs.filter($"doc_id" % 17 =!= 0), docs.filter($"doc_id" % 17 === 0),
      "text", "doc_id", n = 4)
    val plan = planString(out)
    assert(!plan.contains("Exchange"),
      s"bloom flag must be shuffle-free on the corpus side:\n$plan")
    assert(!plan.contains("Join"), s"bloom flag must not join:\n$plan")
  }

  test("join-path decontamination broadcasts the gram set, one doc-keyed exchange") {
    val docs = graft.ops.Kernel.table(spark, sf, "documents")
    val out = graft.operators.Decontaminate.flag(
      docs.filter($"doc_id" % 17 =!= 0), docs.filter($"doc_id" % 17 === 0),
      "text", "doc_id", n = 4)
    // EXECUTED plan: the gram side carries no broadcast() hint (a forced
    // hint would die beyond the 8 GB cap instead of degrading to a shuffle
    // join), so the broadcast here is the planner/AQE choosing it for a
    // small side — which is exactly the claim worth pinning
    val plan = finalPlan(out)
    assert(plan.contains("BroadcastHashJoin"),
      s"gram set not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"gram probe fell back to a corpus shuffle join:\n$plan")
    // corpus-keyed exchanges: exactly ONE, the doc aggregate; the only
    // other hash exchange allowed is the BENCHMARK side's gram distinct
    // (bounded by the eval set, feeds the broadcast)
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(plan).length === 1,
      s"corpus must shuffle once (the doc aggregate):\n$plan")
    assert("Exchange hashpartitioning\\((?!doc_id|gram)".r.findAllIn(plan).isEmpty,
      s"unexpected exchange key:\n$plan")
  }

  test("span scrubbing broadcasts the window-hash set; corpus shuffles only " +
    "on doc keys") {
    val docs = graft.ops.Kernel.table(spark, sf, "documents")
    val out = graft.operators.Decontaminate.scrubSpans(
      docs.filter($"doc_id" % 17 =!= 0), docs.filter($"doc_id" % 17 === 0),
      "text", "doc_id", n = 8)
    // same no-forced-hint discipline as flagAgainst: the broadcast must be
    // the planner/AQE choosing it for the eval-sized hash set
    val plan = finalPlan(out)
    assert(plan.contains("BroadcastHashJoin"),
      s"window-hash set not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"hash probe fell back to a corpus shuffle join:\n$plan")
    // corpus-keyed exchanges: the contamination-bounded coverage aggregate
    // (__id) and the id-keyed rebuild join (doc_id); the only other hash
    // exchange allowed is the benchmark side's distinct (feeds broadcast)
    assert("Exchange hashpartitioning\\((?!doc_id|__id|__h)".r
      .findAllIn(plan).isEmpty, s"unexpected exchange key:\n$plan")
  }

  test("Pack.sequences windows per shard, never a single global partition") {
    val docs = graft.ops.Kernel.table(spark, sf, "documents")
      .withColumn("n_toks", lit(10L))
    val plan = planString(graft.operators.Pack.sequences(
      docs, "n_toks", 256L, "source", "doc_id"))
    assert(plan.contains("Window"), plan)
    assert(plan.contains("Exchange hashpartitioning(source"),
      s"pack window must partition by the shard key:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"packing must not serialize onto one partition:\n$plan")
  }

  /** Every all-pairs comparison in the registry must ride a BROADCAST of a
    * bounded side (ANN query sets, fuzzy-join aux tables, exact-verification
    * slices) — a shuffle CartesianProduct anywhere means an operator
    * regressed to an unbounded n^2 that no cluster survives at 100 TB. The
    * sweep plans every registered query against the tiny fixture, so a
    * scale-killer introduced in ANY operator fails here by name.
    */
  test("Chunk.split plans as a pure scan: zero exchanges") {
    val docs = TestSpark.table("documents")
    val plan = planString(graft.operators.Chunk.split(docs, "text",
      Seq("doc_id"), size = 16, overlap = 4))
    assert(!plan.contains("Exchange"),
      s"chunking must not shuffle:\n$plan")
  }

  test("Mix.temperatureFlag: rates broadcast, corpus side never shuffles") {
    val docs = TestSpark.table("documents").limit(200)
    val df = graft.operators.Mix.temperatureFlag(docs, "source",
      Seq("doc_id"), temperature = 2.0, targetFrac = 0.5)
    val plan = finalPlan(df)
    // the only exchanges feed the |sources|-row rate fit (groupBy source
    // + its window); the corpus joins the rates by BROADCAST, so no
    // corpus-sized key appears in any hashpartitioning
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"rates must broadcast:\n$plan")
    assert(!"Exchange hashpartitioning\\(doc_id".r.findAllIn(plan).hasNext,
      s"corpus must not shuffle by row key:\n$plan")
  }

  test("Boilerplate keeps its three corpus-keyed shuffle classes, no more") {
    val docs = TestSpark.table("documents").limit(200)
      .select(col("doc_id"), col("source"),
        regexp_replace(col("text"), " (?=(\\w+ ){3})", "\n").as("text"))
    val df = graft.operators.Boilerplate.removeFrequentLines(docs, "text",
      "doc_id", "source", minDocs = 3)
    val plan = finalPlan(df)
    // shuffle keys must be exactly the documented ones: (source, line[, id])
    // for the frequency side and doc_id for rebuild/align — anything else
    // (e.g. a whole-row or position key) is a regression
    val keys = "Exchange hashpartitioning\\(([a-zA-Z_#0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1).takeWhile(_ != '#')).toSet
    assert(keys.subsetOf(Set("source", "doc_id", "__line")),
      s"unexpected shuffle keys $keys:\n$plan")
  }

  test("keepBest clusters a small pair graph in a fixed number of Spark " +
    "jobs, with no per-iteration round trips") {
    // a 30-hop chain: the distributed min-label loop needs one checkpoint
    // and one convergence check per two hops, the driver path none
    val df = (1L to 40L).map(i => (i, i % 7)).toDF("id", "score")
    val pairs = (1L to 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def jobs(p: org.apache.spark.sql.DataFrame, bound: Int): Int =
      graft.obs.Collector.measure(spark) {
        graft.operators.Dedup.keepBest(df, p, "id", "score", bound).collect()
      }.jobs.size
    // one job collects the pairs (every partition's first bound + 1, then
    // one single-partition exchange); the verdict's collect runs five more:
    // its shuffle and broadcast stages, then the result stage. The
    // distributed loop ran 137 here.
    val driver = jobs(pairs, graft.operators.Dedup.DriverPairs)
    assert(driver === 6)
    assert(jobs(pairs, 0) > 10 * driver)
    // more partitions add no collect job: a cached 16-partition pair frame
    // (which keepBest reads as the caller's, without its own persist)
    val wide = pairs.repartition(16).persist()
    try {
      assert(wide.count() === 30L && wide.rdd.getNumPartitions === 16)
      assert(jobs(wide, graft.operators.Dedup.DriverPairs) === driver)
    } finally wide.unpersist()
  }

  /** Spark jobs `body` runs, through the same listener as the keepBest pin. */
  private def jobsOf(body: => Unit): Int =
    graft.obs.Collector.measure(spark)(body).jobs.size

  /** A BM25 index over the documents fixture plus serving-shaped local
    * frames: a query batch and an ingest batch built on the driver, as a
    * serving client sends them.
    */
  private def servingIndex(name: String): (DataFrame, DataFrame) = {
    import graft.operators.TextSearch
    val docs = TestSpark.table("documents").select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_serve").toString
    TextSearch.buildIndex(docs, "text", "doc_id", name, dir, numBuckets = 4)
    val texts = docs.orderBy("doc_id").limit(12).collect().map(_.getString(1))
    val qs = texts.take(4).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toSeq.toDF("q_id", "q_text")
    val batch = texts.drop(4).zipWithIndex
      .map { case (t, i) => (1000000L + i, t + " ingest") }.toSeq
      .toDF("doc_id", "text")
    (qs, batch)
  }

  test("a steady-state BM25 probe of a local query batch runs at most five " +
    "Spark jobs") {
    import graft.operators.TextSearch
    val (qs, _) = servingIndex("graft_jobs_probe")
    def probe(): Unit =
      TextSearch.probe(spark, "graft_jobs_probe", qs, "q_text", "q_id", 5)
        .collect()
    probe() // verifies the lens count once
    val n = jobsOf(probe())
    assert(n <= 5, s"steady-state probe ran $n jobs")
  }

  test("an append carries lens verification forward: the first probe " +
    "after it runs no lens-count job, and the append runs at most six jobs") {
    import graft.operators.TextSearch
    val (qs, batch) = servingIndex("graft_jobs_append")
    def probe(): Unit =
      TextSearch.probe(spark, "graft_jobs_append", qs, "q_text", "q_id", 5)
        .collect()
    probe()
    val steady = jobsOf(probe())
    val appendJobs = jobsOf(
      TextSearch.append(batch, "text", "doc_id", "graft_jobs_append"))
    assert(appendJobs <= 6, s"append ran $appendJobs jobs")
    assert(jobsOf(probe()) === steady,
      "the first probe after an append recounted the lens table")
  }

  test("Retrieval.rrf fuses two rank lists in two Spark jobs: one exchange " +
    "feeds both the (q_id, doc_id) sum and the per-query window") {
    val a = Seq((1L, 10L, 1L), (1L, 11L, 2L), (2L, 10L, 1L), (2L, 12L, 2L))
      .toDF("q_id", "doc_id", "rank")
    val b = Seq((1L, 11L, 1L), (1L, 13L, 2L), (2L, 12L, 1L), (2L, 10L, 2L))
      .toDF("q_id", "doc_id", "rank")
    val fused = graft.operators.Retrieval.rrf(Seq(a, b), 3)
    assert(jobsOf(fused.collect()) === 2)
    assert(Bucketize.shuffleExchanges(fused) === 1,
      fused.queryExecution.executedPlan.toString)
  }

  test("minhashLshPairs evaluates MinhashSig once per plan in every " +
    "bandPairs mode") {
    // the band postings sit behind one exchange that every candidate
    // consumer reuses; a consumer that plans its own band exchange over
    // the id-partitioned text recomputes the signatures on its side
    val docs = TestSpark.table("documents")
    for (mode <- Seq("all", "star", "auto")) {
      val plan = finalPlan(graft.operators.Dedup.minhashLshPairs(docs,
        "text", "doc_id", bandPairs = mode))
      val evals = "(?i)minhashsig\\(".r.findAllIn(plan).length
      assert(evals === 1,
        s"bandPairs=$mode evaluates MinhashSig $evals times:\n$plan")
    }
  }

  test("registry sweep: no shuffle cartesian product in any registered query") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = planString(fn(spark, sf))
        if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"queries planning a shuffle cartesian product: ${offenders.mkString(", ")}")
  }
}
