package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Executable README quickstart (VERDICT r7 task 8): this suite IS the
  * "Quickstart: curating a training corpus" code block, call for call, on
  * the sf0.001 fixtures — if the advertised surface drifts from the code,
  * this fails. Only the data-size knobs (merge count, chunk size, pack
  * budget) are scaled down to fixture size; every call shape, argument
  * name, and output column is the README's.
  */
class QuickstartSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("README quickstart runs end-to-end on the fixtures") {
    import graft.operators._

    val docs = TestSpark.table("documents")  // doc_id, source, text
    val bench = TestSpark.table("documents").filter($"doc_id" % 17 === 0)

    // one auditable sweep: quality gate -> repetition gate -> exact dedup ->
    // benchmark decontamination; per-stage verdicts + final `kept` per doc
    val verdicts = Curation.sweep(docs, bench, "text", "doc_id")
    val curated = docs.join(verdicts.filter($"kept").select("doc_id"), "doc_id")
    val nCurated = curated.count()
    assert(nCurated > 0, "curation kept nothing on the fixture corpus")
    assert(Seq("quality_ok", "repetition_ok", "exact_unique", "contaminated",
      "kept").forall(verdicts.columns.contains))

    // the FULL sweep: + LM-perplexity gate and temperature source mixing
    val full = Curation.sweepFull(docs, bench, "text", "doc_id", "source",
      lmMaxNll = 7.0, mixTemperature = 2.0, mixTargetFrac = 0.5)
    assert(full.columns.contains("kept"))
    assert(full.count() > 0)

    // checkpointDir mode: verdicts materialize to parquet (lineage-free,
    // recoverable) and the result is ROW-IDENTICAL to block-manager mode
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val fullCkpt = Curation.sweepFull(docs, bench, "text", "doc_id", "source",
      lmMaxNll = 7.0, mixTemperature = 2.0, mixTargetFrac = 0.5,
      checkpointDir = ckptDir)
    // the leaf carries a per-run unique suffix (r11: concurrent sweeps
    // sharing a checkpointDir must not clobber each other)
    assert(new java.io.File(ckptDir).listFiles()
      .exists(_.getName.startsWith("curation_verdicts_")))
    assert(fullCkpt.orderBy("doc_id").collect().toSeq ===
      full.orderBy("doc_id").collect().toSeq)

    // dataset card: the release artifact, from ONE bounded aggregate
    val card = Curation.datasetCard(full, "source")
    assert(card.startsWith("# Dataset card"))
    val keptN = full.filter($"kept").count()
    assert(card.contains(s"kept: $keptN ("), card.take(200))
    Seq("| quality_ok |", "| repetition_ok |", "| lm_ok |",
      "| not_contaminated |", "## Sources").foreach(sec =>
      assert(card.contains(sec), s"card missing $sec"))
    // every source appears as a funnel row
    full.select($"source").distinct().collect().map(_.getString(0))
      .foreach(src => assert(card.contains(s"| $src |"), s"missing $src"))

    // near-dup pruning on embeddings (SemDeDup shape)
    val emb = TestSpark.table("embeddings")  // vec_id, embedding
    val dups = Dedup.semanticDedup(emb, "embedding", "vec_id", minCosine = 0.95)
    assert(dups.columns.contains("is_dup"))
    assert(dups.count() > 0)

    // surgical cleaning (README block): excise the offending SPANS, keep
    // the docs — cross-doc duplicated spans (keep-first), then
    // benchmark-leaking spans on the despanned text
    val despanned = DupSpans.remove(curated, "text", "doc_id", n = 16,
      keepFirst = true)
    assert(despanned.columns.toSeq ===
      Seq("doc_id", "n_tokens", "n_removed", "clean_text"))
    assert(despanned.agg(sum($"n_removed")).head().getLong(0) > 0,
      "fixture corpus has cross-doc duplication — removal must fire")
    val scrubbed = Decontaminate.scrubSpans(
      despanned.withColumnRenamed("clean_text", "text"), bench,
      "text", "doc_id", n = 8)
    assert(scrubbed.count() === despanned.count(),
      "span scrubbing is a census: every doc gets a verdict row")

    // quality-aware dedup: keep the BEST copy per group, not the smallest
    // id — exact groups in one aggregate; near-dup clusters via connected
    // components over any verified pair list
    val scoredDocs = docs.withColumn("score",
      size(graft.functions.Text.tokens($"text")).cast("long"))
    val bestExact = Dedup.exactKeepBest(scoredDocs, "text", "doc_id", "score")
    assert(bestExact.count() > 0)
    val pairGraph = Dedup.minhashLshPairs(docs, "text", "doc_id",
      n = 3, rowsPerBand = 2, nBands = 8, minJaccard = 0.2)
    val reps = Dedup.keepBest(scoredDocs.select($"doc_id", $"score"),
      pairGraph, "doc_id", "score")
    assert(reps.count() === docs.count(), "keepBest verdicts are a census")
    assert(reps.filter($"kept").count() < docs.count(),
      "fixture near-dups must lose their non-representative copies")
    // keep-best composed into the sweep + auto bucket pairs (README r13)
    val bestSweep = Curation.sweep(scoredDocs, bench, "text", "doc_id",
      scoreCol = "score")
    assert(bestSweep.filter($"kept").count() > 0)
    val nearPairs = Dedup.embeddingLshPairs(emb, "embedding", "vec_id",
      minCosine = 0.9, bucketPairs = "auto")
    assert(nearPairs.columns.toSeq === Seq("id_a", "id_b", "cosine"))
    nearPairs.count()

    // dataset versioning: doc-level snapshot diff against the curated
    // revision (removed = curation drops; unchanged = survivors)
    val diff = Curation.snapshotDiff(docs, curated, "doc_id", "text")
    assert(diff.filter($"status" === "removed").count() ===
      docs.count() - nCurated)
    assert(diff.filter($"status" === "unchanged").count() === nCurated)
    // retention (README r13): prune old verdict leaves, per family
    Curation.pruneCheckpoints(spark, ckptDir, keepLast = 1)
    assert(new java.io.File(ckptDir).listFiles()
      .count(_.getName.startsWith("curation_verdicts_")) === 1)

    // DSIR importance resampling toward a reference slice (README block)
    val reference = docs.filter($"source" ===
      docs.agg(min($"source")).head().getString(0))
    val dsir = Dsir.fit(raw = docs, target = reference, "text")
    val selected = Dsir.resample(docs, "text", "doc_id", dsir, k = 50)
    assert(selected.count() === 50)
    assert(Seq("doc_id", "weight_micro", "key_micro", "rank")
      .forall(selected.columns.contains))

    // quality classifier (README block; pos = reference seed, neg = raw)
    val quality = Dsir.classifierFlag(docs, "text", "doc_id",
      pos = reference, neg = docs)
    assert(Seq("doc_id", "score_micro", "n_grams", "quality_pred")
      .forall(quality.columns.contains))
    assert(quality.count() === docs.count())

    // budgeted selection (README block; fixture-sized budget/cap)
    val scored = TextAnalysis.qualityFeatures(curated, "text")
    val shipped = Budget.selectToBudget(scored, "n_words",
      "stopword_ratio", "doc_id", budget = 2000L)
    val nShipped = shipped.filter($"kept").count()
    assert(nShipped > 0 && nShipped < curated.count(),
      s"budget must bind on the fixture: kept $nShipped")
    val capped = Budget.capPerGroup(scored, "source", "stopword_ratio",
      "doc_id", k = 10)
    val perSource = capped.filter($"kept").groupBy($"source").count()
      .agg(max($"count")).head().getLong(0)
    assert(perSource <= 10, s"cap violated: $perSource per source")

    // epoch recipe + leakage-safe split (README block; fixture sources)
    val srcs = curated.select($"source").distinct().limit(2)
      .collect().map(_.getString(0))
    val epoched = Mix.repeatEpochs(curated, "source", Seq("doc_id"),
      Map(srcs(0) -> 2.45, srcs(1) -> 0.67))
    assert(epoched.filter($"source" === srcs(0)).count() >
      2 * curated.filter($"source" === srcs(0)).count())
    assert(epoched.select($"doc_id", $"repeat_idx").distinct().count() ===
      epoched.count())
    val (trainDocs, testDocs) = graft.plans.Splits.leakageSafeSplit(
      curated, "text", testFraction = 0.3)
    assert(trainDocs.count() + testDocs.count() === curated.count())

    // BM25 standing index via ensure + probe (README block; small bucket
    // knob): first ensure builds, the immediate re-ensure REUSES — the
    // content-keyed lifecycle the README advertises
    val bm25Dir = java.nio.file.Files.createTempDirectory("graft_qs_bm25").toString
    assert(TextSearch.ensureIndex(curated, "text", "doc_id", "corpus_bm25",
      bm25Dir, numBuckets = 4) === true)
    assert(TextSearch.ensureIndex(curated, "text", "doc_id", "corpus_bm25",
      bm25Dir, numBuckets = 4) === false)
    val userQueries = docs.limit(3)
      .select($"doc_id".as("q_id"), $"text".as("q_text"))
    val hits = TextSearch.probe(spark, "corpus_bm25", userQueries,
      "q_text", "q_id", k = 10)
    assert(hits.count() > 0)
    assert(Seq("q_id", "doc_id", "score_micro", "rank")
      .forall(hits.columns.contains))

    // BPE fit + chunk + pack, exactly the README pipeline (small knobs)
    val bpe = Bpe.fit(curated, "text", numMerges = 32)
    val chunks = Chunk.split(curated, "text", Seq("doc_id", "source"),
        size = 64, overlap = 8)
      .withColumn("cid", concat($"doc_id", lit(":"), $"chunk_id"))
    val packed = Pack.sequences(
      Bpe.tokenizeIds(chunks, "chunk_text", Seq("cid", "source"), bpe)
        .withColumn("n_toks", size($"token_ids").cast("long")),
      "n_toks", budget = 64L, groupCol = "source", idCol = "cid")
    assert(packed.count() > 0)
    assert(Seq("pack_id", "n_toks").forall(packed.columns.contains),
      s"pack surface changed: ${packed.columns.mkString(", ")}")
    val shards = Pack.toTrainingRows(packed, "token_ids", "source", "cid",
      budget = 64L)
    assert(shards.count() > 0)
    assert(Seq("input_ids", "doc_starts", "doc_ids", "n_tokens")
      .forall(shards.columns.contains),
      s"training-row surface changed: ${shards.columns.mkString(", ")}")
    // sequences are budget-clipped and offsets stay in range
    import org.apache.spark.sql.Row
    shards.select($"n_tokens", $"doc_starts").collect().foreach {
      case Row(n: Long, starts: scala.collection.Seq[_]) =>
        assert(n <= 64L)
        starts.foreach(st => assert(st.asInstanceOf[Long] < 64L))
    }

    // the whole-recipe form (README block; fixture-sized knobs): one plan,
    // per-stage verdicts, kept = shipped rows
    val recipe = graft.operators.Recipe.compose(docs, "text", "doc_id",
      "source",
      pos = docs.filter($"source" === srcs(0)),
      neg = docs.filter($"source" =!= srcs(0)),
      budgets = Map(srcs(1) -> 500L),
      epochs = Map(srcs(0) -> 2.45, srcs(1) -> 0.67),
      minMeanMicro = -1300000L)
    assert(Seq("quality_ok", "split", "budget_kept", "repeat_idx",
      "pack_id", "kept").forall(recipe.columns.contains),
      s"recipe surface changed: ${recipe.columns.mkString(", ")}")
    assert(recipe.filter($"kept").count() > 0)
    assert(recipe.filter(!$"kept").count() > 0)

    // TextEncoder offline-inference loop (README block): land a
    // (value, embedding) lookup parquet, encode through it — the
    // bit-parity assert lives in tools/table_provider_quickstart.sh
    val lookupPath = java.nio.file.Files
      .createTempDirectory("graft_qs_lookup").toString + "/lookup.parquet"
    val hashProv = graft.encoders.HashEmbeddingProvider(16)
    hashProv.embed(docs.select(
        coalesce($"text".cast("string"), lit("")).as("value")).distinct())
      .write.mode("overwrite").parquet(lookupPath)
    val encoded = graft.encoders.TextEncoder.encode(curated, "text",
      graft.encoders.TableEmbeddingProvider(
        spark.read.parquet(lookupPath), "value", "embedding", dim = 16),
      nComponents = Some(4))
    assert((0 until 4).forall(i => encoded.columns.contains(s"text_$i")))
    assert(encoded.count() === curated.count())

    // monitoring station: freeze distributions once, score future
    // snapshots against the frozen reference (README drift block)
    val nextCrawl = docs
      .withColumn("text", concat($"text", lit(" extra crawl token")))
      .withColumn("source", concat($"source", lit("-v2")))
    val monitorPath = java.nio.file.Files
      .createTempDirectory("graft_qs_drift").toString + "/corpus-drift.json"
    val monitor = Drift.fitPsi(
      TextAnalysis.qualityFeatures(curated, "text"),
      Seq("n_words", "mean_word_len", "punct_ratio"))
    Drift.savePsi(monitor, monitorPath)
    val psi = Drift.loadPsi(monitorPath, spark)
      .score(TextAnalysis.qualityFeatures(nextCrawl, "text"))
    assert(psi.columns.toSeq === Seq("column_name", "psi", "n_bins"))
    assert(psi.count() === 3)
    val alerts = Drift.fitNewCats(docs, Seq("source")).score(nextCrawl)
    assert(alerts.count() > 0, "every -v2 source is unseen — must alert")
    monitor.release()
  }

  test("README standing-index block drives the full lifecycle through " +
    "plain JVM types — the spark-shell / PySpark (spark._jvm) facade " +
    "(r14 verdict task 5)") {
    // every call below uses ONLY DataFrame/String/Int/Double/Boolean
    // arguments: exactly what py4j can pass. The same block, python-side,
    // runs in tools/pyspark_registry_check.py part 4 against a real
    // pyspark session.
    import graft.api.Standing
    val docs = TestSpark.table("documents")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_qs_standing").toString
    assert(Standing.ensureText(docs, "text", "doc_id",
      "qs_standing_bm25", dir, 4) === true)
    assert(Standing.ensureText(docs, "text", "doc_id",
      "qs_standing_bm25", dir, 4) === false)
    val qs = docs.orderBy("doc_id").limit(3)
      .selectExpr("doc_id AS q_id", "text AS q_text")
    val hits = Standing.probeText(spark, "qs_standing_bm25", qs,
      "q_text", "q_id", 5)
    assert(hits.count() > 0)
    assert(Seq("q_id", "doc_id", "score_micro", "rank")
      .forall(hits.columns.contains))
    // the ingest-loop path: staleness via a stored/precomputed key — one
    // property read, no corpus scan, no listing
    val k = Standing.storedKey(spark, "qs_standing_bm25_postings")
    assert(k.nonEmpty)
    assert(Standing.ensureTextKeyed(docs, "text", "doc_id",
      "qs_standing_bm25", dir, 4, k) === false)
    // dedup + both ANN families ride the same facade
    val dd = java.nio.file.Files
      .createTempDirectory("graft_qs_sdedup").toString
    assert(Standing.ensureDedup(docs, "text", "doc_id",
      "qs_standing_dd", dd, 3, 2, 8, 4) === true)
    assert(Standing.ensureDedup(docs, "text", "doc_id",
      "qs_standing_dd", dd, 3, 2, 8, 4) === false)
    val dupHits = Standing.probeDedup(docs.limit(5), "text", "doc_id",
      "qs_standing_dd", 0.5)
    assert(Seq("id", "match_id", "jaccard")
      .forall(dupHits.columns.contains), dupHits.columns.mkString(","))
    val emb = TestSpark.table("embeddings")
    val ad = java.nio.file.Files
      .createTempDirectory("graft_qs_sann").toString
    assert(Standing.ensureAnn(emb, "embedding", "vec_id",
      "qs_standing_ann", ad, 4, 8, 4, false) === true)
    assert(Standing.probeAnn(emb.limit(3), "embedding", "vec_id",
      "qs_standing_ann", 5).count() > 0)
    val kd = java.nio.file.Files
      .createTempDirectory("graft_qs_skm").toString
    assert(Standing.ensureAnnKmeans(emb, "embedding", "vec_id",
      "qs_standing_km", kd, 4, 2, 4) === true)
    assert(Standing.probeAnnKmeans(emb.limit(3), "embedding", "vec_id",
      "qs_standing_km", 5, 2).count() > 0)
    // key helpers: the comma-separated-cols string forms
    val fk = Standing.filesKey(spark,
      TestSpark.SfDir + "/documents.parquet", "bm25:b4", "text,doc_id")
    assert(fk.startsWith("F") && fk.endsWith("|bm25:b4"))
  }

  test("README SQL registry block runs against a registered session") {
    GraftFunctions.register(spark)
    TestSpark.table("documents").createOrReplaceTempView("qs_documents")
    val out = spark.sql(
      """SELECT doc_id,
        |       graft_minhash_sig(graft_token_shingles(text, 3), 16) AS sig,
        |       graft_simhash64(text)                                AS fp
        |FROM qs_documents""".stripMargin)
    assert(out.count() > 0)
    assert(out.schema("sig").dataType.typeName === "array")
  }
}
