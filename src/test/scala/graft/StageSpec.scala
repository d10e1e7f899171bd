package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Stage

/** `graft.ops.Stage`, the one materialization primitive: each lifetime's
  * release and lost-block behaviour, the name of an owned fill, and every
  * staging operator's storage footprint.
  */
class StageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private def sc = spark.sparkContext
  private def cm = spark.sharedState.cacheManager

  /** A 97-key aggregate: a frame whose plan ends in an exchange. */
  private def aggregated: DataFrame =
    spark.range(0, 2000).select((col("id") % 97).as("k"), col("id"))
      .groupBy("k").agg(sum("id").as("s"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def added(before: Set[Int]): Set[Int] =
    sc.getPersistentRDDs.keySet.toSet -- before

  test("a scoped stage is released on exit, also when the body throws") {
    cm.clearCache()
    val before = sc.getPersistentRDDs.keySet.toSet
    Stage.scoped(aggregated) { s =>
      assert(s.count() === 97L)
      assert(s.storageLevel != org.apache.spark.storage.StorageLevel.NONE &&
        added(before).nonEmpty)
    }
    assert(cm.isEmpty && added(before).isEmpty)
    intercept[IllegalStateException] {
      Stage.scoped(aggregated) { s =>
        s.count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(cm.isEmpty && added(before).isEmpty)
  }

  test("a scoped stage reads a frame the caller cached, or a stage, as is") {
    cm.clearCache()
    val cached = aggregated.persist()
    try {
      Stage.scoped(cached)(s => assert(s eq cached))
      assert(cached.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally cached.unpersist()
    val owned = Stage.owned(aggregated, "StageSpec")
    try {
      Stage.scoped(owned)(s => assert((s eq owned) && cm.isEmpty))
      assert(Stage.rdds(owned).forall(_.getStorageLevel !=
        org.apache.spark.storage.StorageLevel.NONE))
    } finally Stage.release(owned)
    assert(Stage.rdds(owned).forall(_.getStorageLevel ==
      org.apache.spark.storage.StorageLevel.NONE))
  }

  test("lost blocks: scoped and owned stages recompute the same rows") {
    val expected = rows(aggregated)
    val before = sc.getPersistentRDDs.keySet.toSet
    Stage.scoped(aggregated) { s =>
      assert(rows(s) === expected)
      assert(added(before).nonEmpty)
      added(before).foreach(sc.getPersistentRDDs(_).unpersist(blocking = true))
      assert(rows(s) === expected)
    }
    val owned = Stage.owned(aggregated, "StageSpec")
    Stage.rdds(owned).foreach(_.unpersist(blocking = true))
    assert(rows(owned) === expected)
  }

  test("lost blocks: withGlobalRowNumber's pinned numbering fails loudly, " +
    "never shifts positions") {
    val df = (1 to 50).map(i => (i, s"v$i")).toDF("k", "v")
    val out = graft.ops.Kernel.withGlobalRowNumber(df, Seq("k"))
    assert(out.count() === 50L)
    val pinned = Stage.rdds(out)
    assert(pinned.size === 1 && pinned.head.isCheckpointed)
    pinned.foreach(_.unpersist(blocking = true))
    intercept[SparkException](out.collect())
  }

  test("an owned stage fills in jobs described as its site") {
    val m = graft.obs.Collector.measure(spark) {
      Stage.owned(aggregated, "StageSpec.fill")
    }
    assert(m.jobs.nonEmpty && m.jobs.forall(_.description == "StageSpec.fill"),
      m.jobs.map(_.description).mkString(", "))
    Stage.release(m.result)
  }

  test("crossValidate releases its staged X when a score throws") {
    import graft.plans.{Choices, Stages, Var}
    cm.clearCache()
    val before = sc.getPersistentRDDs.keySet.toSet
    val x = (1 to 60).map(i => (i, "c" + i % 3)).toDF("id", "cat")
    val e = intercept[IllegalStateException] {
      Choices.crossValidate(Map.empty, _ => Var("x").apply(Stages.tableVectorizer()),
        Map("x" -> x), "x", k = 3,
        score = _ => throw new IllegalStateException("score failed"))
    }
    assert(e.getMessage === "score failed")
    assert(cm.isEmpty, "crossValidate left a CacheManager entry")
    assert(added(before).isEmpty, s"crossValidate left RDDs ${added(before)}")
  }

  test("every staging operator leaves no CacheManager entry and no " +
    "persisted RDD behind") {
    import graft.operators._
    import graft.encoders.{HashEmbeddingProvider, StringEncoder, TextEncoder}
    val docs = TestSpark.table("documents")
    val emb = TestSpark.table("embeddings").limit(200)
    val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
      n = 3, rowsPerBand = 2, nBands = 8, minJaccard = 0.2)
    val joined = docs.select($"doc_id", $"text")
      .join(docs.select($"doc_id", $"source"), "doc_id")
    val train = joined.filter($"doc_id" % 17 =!= 0)
    val bench = joined.filter($"doc_id" % 17 === 0)
    val events = Seq(("u1", 0L), ("u1", 120L), ("u1", 3600L), ("u2", 0L))
      .toDF("user", "t").select($"user", timestamp_seconds($"t").as("ts"))
    val dir = java.nio.file.Files.createTempDirectory("graft_stage").toString
    // a scoped site returns nothing to release; an owned or pinned site
    // returns the frames that hold its stages, released after the call
    val sites: Seq[(String, () => Seq[DataFrame])] = Seq(
      "Dedup.components (driver route)" -> (() => {
        Dedup.components(pairs, Dedup.DriverPairs).count(); Nil }),
      "Dedup.minLabelLoop" -> (() => Seq(Dedup.connectedComponents(
        docs.select($"doc_id".as("id")), pairs))),
      "Dedup.deduplicate" -> (() => Seq(
        Dedup.deduplicate(docs, "text", 0.3, 3, "auto", 0))),
      "Dedup.semanticVerdicts" -> (() => Seq(
        Dedup.semanticDedup(emb, "embedding", "vec_id", minCosine = 0.9))),
      "Kernel.withGlobalRowNumber" -> (() => Seq(
        graft.ops.Kernel.withGlobalRowNumber(docs.select("doc_id"), Seq("doc_id")))),
      "TextSearch.buildIndex" -> (() => {
        TextSearch.buildIndex(docs, "text", "doc_id", "graft_stage_bm25",
          s"$dir/bm25", numBuckets = 4); Nil }),
      "Decontaminate.flagBloom" -> (() => {
        Decontaminate.flagBloom(train, bench, "text", "doc_id", n = 4).count(); Nil }),
      "NgramLm.fit" -> (() => {
        val m = NgramLm.fit(docs, "text", vocabSize = 20, maxBigrams = 300)
        Seq(m.vocab, m.bigrams) }),
      "Recipe.compose" -> (() => Seq(Recipe.compose(train, "text", "doc_id",
        "source", pos = train.filter($"source" === "src0"),
        neg = train.filter($"source" =!= "src0"),
        budgets = Map("src0" -> 150L), epochs = Map("src0" -> 2.45),
        minMeanMicro = -1300000L))),
      "Curation.sweepFull" -> (() => Seq(Curation.sweepFull(train, bench,
        "text", "doc_id", "source", decontaminateN = 4,
        lmVocabSize = 20, lmMaxBigrams = 300))),
      "Recipe.pipelineFull" -> (() => Seq(Recipe.pipelineFull(train, bench,
        "text", "doc_id", "source", budgets = Map("src0" -> 150L),
        epochs = Map("src0" -> 2.45), decontaminateN = 4,
        lmVocabSize = 20, lmMaxBigrams = 300,
        minMeanMicro = -1300000L))),
      "Choices.crossValidate" -> (() => {
        import graft.plans.{Choices, Stages, Var}
        Choices.crossValidate(Map.empty, _ => Var("x").apply(Stages.tableVectorizer()),
          Map("x" -> docs.select("doc_id", "source")), "x", k = 2,
          score = _.count().toDouble); Nil }),
      "Plan fan-out" -> (() => {
        import graft.plans.{Merge, Plan, Var}
        val shared = Var("x").transform(identity)
        Plan.makeLearner(Merge(Seq(shared.transform(_.select("doc_id")),
          shared.transform(_.select("source"))), _.head))
          .fitTransform(Map("x" -> joined)).count(); Nil }),
      "TextEncoder.fit" -> (() => {
        TextEncoder.fit(docs.limit(50), "text", HashEmbeddingProvider(4), None); Nil }),
      "StringEncoder.encode" -> (() => {
        StringEncoder.encode(docs.select("source"), "source", nComponents = 4)
          .count(); Nil }),
      "AnnIndex.writeKmeans" -> (() => {
        AnnIndex.writeKmeans(emb, "embedding", "vec_id", "graft_stage_km",
          s"$dir/km", kClusters = 4, iters = 2, numBuckets = 2); Nil }),
      "Drift.fitPsi" -> (() => Seq(
        Drift.fitPsi(docs, Seq("source"), nBins = 4, maxCats = 4).refCounts)),
      "SimilaritySearch.kmeansIvfTopK" -> (() => Seq(
        SimilaritySearch.kmeansIvfTopK(emb, emb.limit(5), "embedding",
          "vec_id", k = 3, kClusters = 4))),
      "SessionEncoder.globalSessionId (fallback)" -> (() => Seq(
        SessionEncoder.globalSessionId(events, Seq("user"), "ts", 300.0,
          maxDriverEntities = -1))))
    cm.clearCache()
    for ((site, call) <- sites) {
      val before = sc.getPersistentRDDs.keySet.toSet
      val held = call()
      held.foreach(_.count())
      Stage.release(held: _*)
      assert(cm.isEmpty, s"$site left a CacheManager entry")
      assert(added(before).isEmpty, s"$site left persisted RDDs ${added(before)}")
    }
  }
}
