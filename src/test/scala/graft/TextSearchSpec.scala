package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TextSearch
import graft.sources.Bucketize

/** BM25 retrieval: ranking sanity, persisted-index parity with the
  * in-memory scorer, and the scale contract — a probe against the standing
  * index computes its df aggregate over the bucketed postings scan without
  * an Exchange (at 100 TB the absent corpus shuffle IS the feature).
  */
class TextSearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = TestSpark.table("documents")
    .select(col("doc_id"), col("text"))

  private lazy val queries = docs
    .orderBy(md5(col("doc_id").cast("string")), col("doc_id")).limit(4)
    .select(col("doc_id").as("q_id"), col("text").as("q_text"))

  test("a rare term outranks common ones: idf drives the ranking") {
    // (the parquet fixture is a random bag over a ~30-word vocabulary, so
    // "self-retrieval" is not a meaningful property there; the textbook
    // idf contract is, on a controlled corpus)
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilonrare"),
      (3L, "alpha beta gamma delta alpha beta"),
      (4L, "alpha beta gamma zeta")).toDF("doc_id", "text")
    val qs = Seq((10L, "epsilonrare alpha")).toDF("q_id", "q_text")
    val top = TextSearch.topk(corpus, "text", "doc_id",
        qs, "q_text", "q_id", k = 4).orderBy("rank")
      .collect().map(_.getLong(1))
    assert(top.head === 2L,
      s"the only doc holding the rare query term must rank first, got ${top.toSeq}")
    assert(top.length === 4, "every doc shares 'alpha' so all are candidates")
  }

  test("scores are positive and only for candidates sharing a term") {
    val qs = Seq((1L, "zzzzunseen wordnotincorpus")).toDF("q_id", "q_text")
    val sc = TextSearch.scores(docs, "text", "doc_id", qs, "q_text", "q_id")
    assert(sc.count() === 0L, "terms absent from the corpus must match nothing")
    val sc2 = TextSearch.scores(docs, "text", "doc_id",
      queries, "q_text", "q_id")
    assert(sc2.filter(col("score_micro") <= 0).count() === 0L,
      "BM25 idf/tfn are positive by construction")
  }

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  private def countIn(p: SparkPlan)(pf: PartialFunction[SparkPlan, Int]): Int = {
    def go(n: SparkPlan): Int = n.collect {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case q: QueryStageExec        => go(q.plan)
      case m if pf.isDefinedAt(m)   => pf(m)
    }.sum
    go(p)
  }

  private def corpusScans(p: SparkPlan): Int = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    countIn(p) {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("documents")) => 1
    }
  }

  /** Executed-plan count of exchanges that hash-partition RAW rows by BARE
    * `term` — the single-task hot-term funnel shape the r17 one-shot scorer
    * removed (a window by term moves a stopword-ish term's whole posting
    * list to one task; guide §2.2). Exchanges whose immediate child is a
    * partial aggregate are exempt: map-side combine means only one row per
    * (partition, term) moves, which no skew can inflate.
    */
  private def bareTermFunnels(p: SparkPlan): Int = {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    def unwrap(n: SparkPlan): SparkPlan = n match {
      case w: WholeStageCodegenExec => unwrap(w.child)
      case x => x
    }
    countIn(p) {
      case e: ShuffleExchangeExec
        if !unwrap(e.child).isInstanceOf[BaseAggregateExec] =>
        e.outputPartitioning match {
          case h: HashPartitioning if h.expressions.length == 1 &&
            h.expressions.head.references.toSeq.map(_.name) == Seq("term") => 1
          case _ => 0
        }
    }
  }

  test("one-shot scorer reads the corpus ONCE: df is a broadcast aggregate " +
    "sharing the postings exchange via stage reuse, not a second tokenize " +
    "pass (r16/r17)") {
    // literal query frame (real corpus tokens, else AQE collapses the whole
    // plan to EmptyRelation): the only parquet scans left are the corpus's
    // (the query terms enter the plan as literals; the corpus must be
    // scanned once)
    val someTerms = docs.select(graft.functions.Text.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .limit(1).collect()(0).getSeq[String](0).take(3).mkString(" ")
    val qs = Seq((1L, someTerms)).toDF("q_id", "q_text")
    val sc = TextSearch.scores(docs, "text", "doc_id", qs, "q_text", "q_id")
    sc.collect()
    // before r16 the df aggregate re-evaluated the whole postings lineage
    // (a second tokenize scan of the corpus); since r17 the df branch must
    // come back as a ReusedExchange of the (term, doc_id) aggregation —
    // if a future optimizer change differentiates the two exchange
    // subtrees (e.g. column pruning specializing the df branch), the scan
    // count doubles and this pin fails loudly
    assert(corpusScans(sc.queryExecution.executedPlan) === 1,
      sc.queryExecution.executedPlan.toString)
  }

  test("one-shot scorer has NO single-task term funnel: no exchange " +
    "partitions candidates by bare term, even under a hot stopword-ish " +
    "query term in 50% of docs (r17, guide §2.2)") {
    // deliberately skewed corpus: 'hotstop' appears in every even doc
    val n = 2000
    val skewed = spark.range(n).selectExpr("id AS doc_id",
      "concat(CASE WHEN id % 2 = 0 THEN 'hotstop ' ELSE '' END, " +
        "'tok', cast(id % 37 AS string), ' tok', cast(id % 11 AS string)) AS text")
    val qs = Seq((1L, "hotstop tok5")).toDF("q_id", "q_text")
    val sc = TextSearch.scores(skewed, "text", "doc_id", qs, "q_text", "q_id")
    val rows = sc.collect()
    assert(bareTermFunnels(sc.queryExecution.executedPlan) === 0,
      sc.queryExecution.executedPlan.toString)
    // and the df values stay exact under skew: hotstop hits n/2 docs, so
    // every doc carrying ONLY hotstop scores with df = n/2
    val hotOnly = rows.filter(_.getLong(1) % 2 == 0).map(_.getLong(2)).distinct
    val nDocs = n.toDouble
    val dfHot = n / 2.0
    val idf = math.log(1.0 + (nDocs - dfHot + 0.5) / (dfHot + 0.5))
    assert(hotOnly.nonEmpty)
    // docs 'hotstop tokX tokY' (even, X != 5): dl = 3, tf = 1, avgdl = 2.5
    val avgdl = (3.0 * (n / 2) + 2.0 * (n / 2)) / n
    val tfn = 1.0 * 2.2 / (1.0 + 1.2 * (1 - 0.75 + 0.75 * 3.0 / avgdl))
    val expected = math.round(
      BigDecimal(idf * tfn).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble * 1e6)
    assert(hotOnly.contains(expected),
      s"expected micro-score $expected among ${hotOnly.take(5).toSeq}")
  }

  test("persisted-index probe is bit-identical to the in-memory scorer " +
    "and its df aggregate reads the bucketed postings without an Exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25").toString
    TextSearch.buildIndex(docs, "text", "doc_id", "graft_bm25_idx", dir,
      numBuckets = 4)
    val got = TextSearch.probe(spark, "graft_bm25_idx",
      queries, "q_text", "q_id", k = 5)
    val want = TextSearch.topk(docs, "text", "doc_id",
      queries, "q_text", "q_id", k = 5)
    val g = got.orderBy("q_id", "rank").collect().map(_.toSeq)
    val w = want.orderBy("q_id", "rank").collect().map(_.toSeq)
    assert(g.toSeq === w.toSeq)

    // the standing postings are bucketed by term: the ACTUAL probe plan's
    // df window must be satisfied by the scan's bucket partitioning — no
    // exchange anywhere partitions the corpus side by term (r17: this
    // replaces a hand-built replica of the old aggregate shape that no
    // longer pinned the real plan), and both index tables read bucketed
    got.count()
    val executed = got.queryExecution.executedPlan
    assert(bareTermFunnels(executed) === 0,
      s"probe must not re-shuffle the bucketed postings by term:\n$executed")
    assert(countIn(executed) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.bucketedScan => 1
    } === 2, s"postings AND lens must be read as bucketed scans:\n$executed")
  }

  test("append updates stats and probes bit-identically to one-shot build; " +
    "compact preserves results") {
    val dir1 = java.nio.file.Files.createTempDirectory("graft_bm25a").toString
    val dir2 = java.nio.file.Files.createTempDirectory("graft_bm25b").toString
    TextSearch.buildIndex(docs.filter(col("doc_id") % 2 === 0),
      "text", "doc_id", "graft_bm25_half", dir1, numBuckets = 4)
    TextSearch.append(docs.filter(col("doc_id") % 2 === 1),
      "text", "doc_id", "graft_bm25_half")
    val viaAppend = TextSearch.probe(spark, "graft_bm25_half",
      queries, "q_text", "q_id", k = 5).orderBy("q_id", "rank")
      .collect().map(_.toSeq)
    val oneShot = TextSearch.topk(docs, "text", "doc_id",
      queries, "q_text", "q_id", k = 5).orderBy("q_id", "rank")
      .collect().map(_.toSeq)
    assert(viaAppend.toSeq === oneShot.toSeq,
      "split build+append must score exactly like the one-shot corpus")
    TextSearch.layout.compact(spark, "graft_bm25_half", dir2)
    val afterCompact = TextSearch.probe(spark, "graft_bm25_half",
      queries, "q_text", "q_id", k = 5).orderBy("q_id", "rank")
      .collect().map(_.toSeq)
    assert(afterCompact.toSeq === oneShot.toSeq)
  }

  test("a half-applied append is detected loudly; repair resyncs the stats") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25c").toString
    TextSearch.buildIndex(docs, "text", "doc_id", "graft_bm25_crash", dir,
      numBuckets = 4)
    val before = TextSearch.probe(spark, "graft_bm25_crash",
      queries, "q_text", "q_id", k = 5).orderBy("q_id", "rank")
      .collect().map(_.toSeq)
    // simulate the crash window: marker stamped, data appends never ran
    spark.sql("ALTER TABLE `graft_bm25_crash_postings` SET TBLPROPERTIES " +
      "('graft.bm25.pendingBatch' = 'deadbeef', " +
      "'graft.bm25.nDocs' = '999999')")
    // reads stay AVAILABLE under the window (a pending marker is also a
    // healthy in-flight append — search-as-you-ingest must not go dark);
    // scores are the documented monotone-degraded state, never an error
    val duringPending = TextSearch.probe(spark, "graft_bm25_crash",
      queries, "q_text", "q_id", k = 5)
    assert(duringPending.count() > 0,
      "probe must keep serving during a pending append window")
    // MUTATIONS refuse loudly: a blind append retry would double-count;
    // the refused append releases the batch's lens frame
    val sc = spark.sparkContext
    val pinned = sc.getPersistentRDDs.keySet
    val eAppend = intercept[IllegalStateException] {
      TextSearch.append(docs.limit(3), "text", "doc_id", "graft_bm25_crash")
    }
    assert(eAppend.getMessage.contains("deadbeef"),
      "the refusal must name the crashed batch")
    assert(sc.getPersistentRDDs.keySet === pinned,
      "a refused append must not pin its lens frame in storage")
    // repair recomputes nDocs/sumDl from the lens table and clears the
    // marker — probes resume with the pre-crash answers
    TextSearch.repair(spark, "graft_bm25_crash")
    val after = TextSearch.probe(spark, "graft_bm25_crash",
      queries, "q_text", "q_id", k = 5).orderBy("q_id", "rank")
      .collect().map(_.toSeq)
    assert(after.toSeq === before.toSeq,
      "repair must restore the committed-corpus stats exactly")
  }

  test("a torn append with a cleared marker is detected by probe after " +
    "the fact; repair restores service") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25t").toString
    TextSearch.buildIndex(docs, "text", "doc_id", "graft_bm25_torn", dir,
      numBuckets = 4)
    val before = TextSearch.probe(spark, "graft_bm25_torn",
      queries, "q_text", "q_id", k = 5).orderBy("q_id", "rank")
      .collect().map(_.toSeq)
    // simulate a torn append whose marker got cleared WITHOUT repair
    // (blind manual UNSET after a crash): stats no longer match the lens
    // table, and no pending marker excuses the mismatch
    spark.sql("ALTER TABLE `graft_bm25_torn_postings` SET TBLPROPERTIES " +
      "('graft.bm25.nDocs' = '424242')")
    val e = intercept[IllegalStateException] {
      TextSearch.probe(spark, "graft_bm25_torn",
        queries, "q_text", "q_id", k = 5)
    }
    assert(e.getMessage.contains("repair"),
      "the refusal must name the recovery path")
    TextSearch.repair(spark, "graft_bm25_torn")
    val after = TextSearch.probe(spark, "graft_bm25_torn",
      queries, "q_text", "q_id", k = 5).orderBy("q_id", "rank")
      .collect().map(_.toSeq)
    assert(after.toSeq === before.toSeq)
    // the verified tuple is MEMOIZED per JVM (r15: a standing index
    // probed per query batch pays the lens count once, not per probe —
    // at 100 TB that count is an O(files) footer pass); the corrupted
    // tuple above was never admitted, and any append/repair changes the
    // tuple so a mutation is always re-verified
    val props = spark.sql("SHOW TBLPROPERTIES `graft_bm25_torn_postings`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val key = s"graft_bm25_torn:${props("graft.bm25.nDocs")}:" +
      props("graft.bm25.sumDl")
    assert(TextSearch.verifiedStats.contains(key),
      "verified stats tuple must be memoized")
    assert(!TextSearch.verifiedStats.asScala.exists(_.contains("424242")),
      "the corrupted tuple must never have been admitted")
  }

  test("probe answers degenerate query batches like topk, without an " +
    "error: empty batch, no indexed term, null text, String ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25d").toString
    TextSearch.buildIndex(docs, "text", "doc_id", "graft_bm25_degen", dir,
      numBuckets = 4)
    def probeAndTopk(qs: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] = {
      val got = TextSearch.probe(spark, "graft_bm25_degen",
        qs, "q_text", "q_id", k = 3)
      val want = TextSearch.topk(docs, "text", "doc_id",
        qs, "q_text", "q_id", k = 3)
      assert(got.schema === want.schema)
      val g = got.orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      assert(g === want.orderBy("q_id", "rank").collect().map(_.toSeq).toSeq)
      g
    }
    val texts = queries.collect().map(_.getString(1))
    assert(probeAndTopk(Seq.empty[(Long, String)].toDF("q_id", "q_text"))
      .isEmpty)
    assert(probeAndTopk(Seq((1L, "zzzzunseen wordnotincorpus"))
      .toDF("q_id", "q_text")).isEmpty)
    val withNull = probeAndTopk(Seq((1L, null: String), (2L, texts(0)))
      .toDF("q_id", "q_text"))
    assert(withNull.nonEmpty && withNull.forall(_.head == 2L))
    val stringIds = probeAndTopk(texts.toSeq.zipWithIndex
      .map { case (t, i) => (s"q$i", t) }.toDF("q_id", "q_text"))
    assert(stringIds.map(_.head.asInstanceOf[String]).distinct.sorted ===
      texts.indices.map(i => s"q$i"))
  }

  test("one-shot scores/topk leave no persisted frame behind") {
    // the index builders own (and release) the lens cache; the one-shot
    // forms must not pin storage the caller has no handle to release
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    TextSearch.topk(docs, "text", "doc_id", queries, "q_text", "q_id", k = 3)
      .count()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"one-shot topk pinned ${leaked.size} RDD(s) in storage")
  }

  test("probeStream matches the batch probe per micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25s").toString
    TextSearch.buildIndex(docs, "text", "doc_id", "graft_bm25_stream", dir,
      numBuckets = 4)
    val qs = queries.collect().map(r => (r.getLong(0), r.getString(1)))
    val source = MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    val query = TextSearch.probeStream(
      source.toDF().toDF("q_id", "q_text"), "q_text", "q_id",
      "graft_bm25_stream", k = 3) { (topk, _) =>
      seen ++= topk.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    }
    try {
      val (first, second) = qs.splitAt(qs.length / 2)
      source.addData(first.toSeq)
      query.processAllAvailable()
      source.addData(second.toSeq)
      query.processAllAvailable()
    } finally query.stop()
    val direct = TextSearch.probe(spark, "graft_bm25_stream",
        queries, "q_text", "q_id", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(seen.nonEmpty)
    assert(seen.sorted.toSeq === direct.sorted.toSeq)
  }
}
