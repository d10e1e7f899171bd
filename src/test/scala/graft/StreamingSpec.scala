package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import graft.streaming.StreamingSession

/** The streaming path proper: session_window aggregation over a MemoryStream
  * source, incrementally processed — the semantics the batch-mode oracle
  * (q_stream_sessionize) verifies must hold when fed as a stream.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("sessionizeStream aggregates sessions incrementally over a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Timestamp)]
    val df = source.toDF().toDF("user_id", "ts")
    val sessions = StreamingSession.sessionizeStream(
      df, Seq("user_id"), "ts", "300 seconds", watermark = "1 minute")
    val query = sessions.writeStream
      .format("memory").queryName("t_sessions").outputMode("complete").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      source.addData((1L, ts("2021-01-01 00:00:00")),
        (1L, ts("2021-01-01 00:02:00")),   // same session
        (1L, ts("2021-01-01 01:00:00")),   // new session
        (2L, ts("2021-01-01 00:00:00")))
      query.processAllAvailable()
      val out = spark.table("t_sessions").collect()
        .map(r => (r.getLong(0), r.getAs[Long]("n_events"))).toSeq.sorted
      assert(out === Seq((1L, 1L), (1L, 2L), (2L, 1L)))
    } finally query.stop()
  }

  test("dedupStream drops within-watermark duplicates on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String, Timestamp, Double)]
    val df = source.toDF().toDF("user_id", "event_type", "ts", "value")
    val deduped = graft.streaming.StreamingDedup.dedupStream(
      df, Seq("user_id", "event_type"), "ts", watermark = "1 minute")
    val query = deduped.writeStream
      .format("memory").queryName("t_dedup").outputMode("append").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      source.addData(
        (1L, "click", ts("2021-01-01 00:00:00"), 1.0),
        (1L, "click", ts("2021-01-01 00:00:30"), 2.0), // dup key, dropped
        (1L, "view", ts("2021-01-01 00:00:10"), 3.0),
        (2L, "click", ts("2021-01-01 00:00:05"), 4.0))
      query.processAllAvailable()
      source.addData(
        (1L, "click", ts("2021-01-01 00:00:45"), 5.0)) // still dup, dropped
      query.processAllAvailable()
      val out = spark.table("t_dedup").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      assert(out === Seq((1L, "click"), (1L, "view"), (2L, "click")))
    } finally query.stop()
  }

  test("streaming near-dup: custom state flags later near-identical docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val df = source.toDF().toDF("doc_id", "text")
    val verdicts = graft.streaming.StreamingNearDup.verdicts(df, "doc_id", "text")
    val query = verdicts.writeStream
      .format("memory").queryName("t_neardup").outputMode("append").start()
    try {
      source.addData(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "completely different text about spark streaming state"))
      query.processAllAvailable()
      // doc 3 arrives in a LATER batch, near-identical to doc 1 -> dup via
      // retained state; doc 4 is novel
      source.addData(
        (3L, "the quick brown fox jumps over the lazy dog"),
        (4L, "yet another unrelated document entirely"))
      query.processAllAvailable()
      // per-(doc, block) verdicts: a doc is a near-dup if ANY block says so
      val out = spark.table("t_neardup").collect()
        .map(r => r.getAs[Long]("docId") -> r.getAs[Boolean]("isDup"))
        .groupBy(_._1).map { case (id, vs) => id -> vs.exists(_._2) }
      assert(out(1L) === false)
      assert(out(2L) === false)
      assert(out(3L) === true)
      assert(out(4L) === false)
    } finally query.stop()
  }

  test("text-analysis expressions run unchanged on a stream with windowed aggregation") {
    // language-id + token counting are stateless codegen expressions, so the
    // same operators the batch oracles verify (q_langid, q_token_counts)
    // compose directly into a watermarked windowed aggregate on a stream —
    // the SURVEY §2.11 encoders-on-streams contract.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(String, Timestamp)]
    val df = source.toDF().toDF("text", "ts")
    val perLang = df
      .withColumn("lang", graft.operators.TextAnalysis.langId(col("text")))
      .withColumn("n_tokens", size(graft.functions.Text.tokens(col("text"))))
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "1 hour"), col("lang"))
      .agg(sum(col("n_tokens")).as("tokens"), count(lit(1)).as("docs"))
    val query = perLang.writeStream
      .format("memory").queryName("t_lang").outputMode("complete").start()
    try {
      def ts(s: String) = Timestamp.valueOf(s)
      source.addData(
        ("the quick brown fox jumps over the lazy dog", ts("2021-01-01 00:00:00")),
        ("it was the best of times it was the worst of times", ts("2021-01-01 00:10:00")))
      query.processAllAvailable()
      val out = spark.table("t_lang").collect()
        .map(r => r.getAs[String]("lang") -> r.getAs[Long]("tokens")).toMap
      assert(out.values.sum === 9L + 12L)
    } finally query.stop()
  }

  test("streaming packing continues shard totals across micro-batches == batch packing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (shard, docId, tokens): shard a fills packs across the batch split
    val docs = Seq(("a", 1L, 60L), ("a", 2L, 50L), ("b", 3L, 30L),
      ("a", 4L, 70L), ("a", 5L, 120L), ("b", 6L, 90L))
    val source = MemoryStream[(String, Long, Long)]
    val streamed = graft.streaming.StreamingPack.packStream(
      source.toDF().toDF("shard", "doc_id", "n_toks"),
      "n_toks", "shard", "doc_id", budget = 100L)
    val query = streamed.writeStream
      .format("memory").queryName("t_pack").outputMode("append").start()
    try {
      source.addData(docs.take(3): _*)
      query.processAllAvailable()
      source.addData(docs.drop(3): _*)
      query.processAllAvailable()
      val stream = spark.table("t_pack").collect()
        .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
      val batch = graft.operators.Pack.sequences(
        docs.toDF("shard", "doc_id", "n_toks"),
        "n_toks", budget = 100L, groupCol = "shard", idCol = "doc_id")
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("pack_tokens"), r.getAs[Long]("pack_id"))).toMap
      assert(stream === batch)
      // the split point straddled shard a's first pack: doc 4 must land in
      // pack 1 because state carried 110 tokens from the previous batch
      assert(stream(4L)._2 === 1L)
    } finally query.stop()
  }

  test("c4Filter + quality gates stream unchanged: batch and stream agree") {
    // the C4/quality cleaning gates are stateless codegen scans, so the
    // SAME operators the batch oracles verify (q_c4_filter, q_text_quality)
    // must produce identical verdicts per micro-batch on a stream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "A good long line with enough words here.\nshort one."),
      (2L, "this javascript line would otherwise be kept fine!"),
      (3L, "First keeper line with plenty of words here.\n" +
        "Second keeper line with plenty of words too.\n" +
        "Third keeper sentence with plenty of words also."))
    val source = MemoryStream[(Long, String)]
    val streamed = graft.operators.TextAnalysis.c4Filter(
      source.toDF().toDF("doc_id", "text"), "text", Seq("doc_id"))
    val query = streamed.writeStream
      .format("memory").queryName("t_c4").outputMode("append").start()
    try {
      source.addData(docs.take(2): _*)
      query.processAllAvailable()
      source.addData(docs.drop(2): _*)
      query.processAllAvailable()
      val stream = spark.table("t_c4").collect()
        .map(r => r.getLong(0) -> (r.getAs[Long]("n_lines_kept"),
          r.getAs[Boolean]("page_ok"))).toMap
      val batch = graft.operators.TextAnalysis.c4Filter(
        docs.toDF("doc_id", "text"), "text", Seq("doc_id")).collect()
        .map(r => r.getLong(0) -> (r.getAs[Long]("n_lines_kept"),
          r.getAs[Boolean]("page_ok"))).toMap
      assert(stream === batch)
      assert(stream(3L) === ((3L, true)))
    } finally query.stop()
  }

  test("GapEncoder partial_fit learns online from a stream via foreachBatch") {
    // the reference's only online-learning artifact (GapEncoder.partial_fit,
    // _gap_encoder.py:620-713) driven by Structured Streaming: each
    // micro-batch folds into the sufficient statistics; the fitted model
    // then transforms a batch frame with the frozen topics
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[String]
    var model = graft.encoders.GapEncoder.initOnline("city", 3, 64)
    val query = source.toDF().toDF("city").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        model = graft.encoders.GapEncoder.partialFit(model, batch)
      }
      .outputMode("append").start()
    try {
      source.addData("london", "london", "paris")
      query.processAllAvailable()
      source.addData("berlin", "paris", "madrid")
      query.processAllAvailable()
      assert(model.hDict.keySet ===
        Set("london", "paris", "berlin", "madrid"))
      val out = model.transform(Seq("london", "tokyo").toDF("city"))
      assert(out.count() === 2)
      // unseen value still gets activations via the frozen-W H-step
      val tokyo = out.filter(col("city") === "tokyo").head()
      assert((1 to 3).forall(i => !tokyo.isNullAt(i)))
    } finally query.stop()
  }

  test("decontamination probes streamed micro-batches against a static gram set") {
    // the incremental-ingestion shape: the benchmark gram set is computed
    // ONCE (static, persisted); each arriving micro-batch pays one scan +
    // the broadcast join, independent of stream history
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val grams = graft.operators.Decontaminate.gramSet(bench, "text", n = 4)
      .persist()
    try {
      val source = MemoryStream[(Long, String)]
      val verdicts = scala.collection.mutable.Map[Long, Boolean]()
      val query = source.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.operators.Decontaminate
            .flagAgainst(batch, grams, "text", "doc_id", n = 4)
            .collect().foreach(r =>
              verdicts.synchronized { verdicts(r.getLong(0)) = r.getBoolean(1) })
        }
        .outputMode("append").start()
      try {
        source.addData((1L, "here the quick brown fox appears"), (2L, "clean doc one"))
        query.processAllAvailable()
        source.addData((3L, "quick brown fox jumps again"), (4L, "another clean doc"))
        query.processAllAvailable()
        assert(verdicts.toMap ===
          Map(1L -> true, 2L -> false, 3L -> true, 4L -> false))
      } finally query.stop()
    } finally grams.unpersist()
  }

  test("span scrubbing of streamed micro-batches against a static window-hash set") {
    // same incremental contract as the flag test, but the verdict is the
    // REBUILT text: leaked spans excised per batch, batch == one-shot
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((100L, "quick brown fox jumps")).toDF("doc_id", "text")
    val hashes = graft.operators.Decontaminate
      .windowHashSet(bench, "text", n = 4).persist()
    try {
      val source = MemoryStream[(Long, String)]
      val out = scala.collection.mutable.Map[Long, (Long, String)]()
      val query = source.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.operators.Decontaminate
            .scrubSpansAgainst(batch, hashes, "text", "doc_id", n = 4)
            .collect().foreach(r => out.synchronized {
              out(r.getLong(0)) = (r.getLong(2), r.getString(3))
            })
        }
        .outputMode("append").start()
      try {
        source.addData((1L, "see the quick brown fox jumps high"), (2L, "clean doc"))
        query.processAllAvailable()
        source.addData((3L, "quick brown fox jumps"))
        query.processAllAvailable()
        assert(out.toMap === Map(
          1L -> (4L, "see the high"),
          2L -> (0L, "clean doc"),
          3L -> (4L, "")))
      } finally query.stop()
    } finally hashes.unpersist()
  }

  test("GapEncoder online hDict is LRU-capped: state stays flat past the cap") {
    // an unbounded stream must not grow driver state without bound — the
    // activation cache evicts least-recently-SEEN values at maxHDict, and an
    // evicted value re-derives its H from the frozen topics W on return
    import spark.implicits._
    var m = graft.encoders.GapEncoder.initOnline("city", 2, 32)
    m = graft.encoders.GapEncoder.partialFit(
      m, Seq("a1", "a2", "a3").toDF("city"), maxHDict = 4)
    assert(m.hDict.keySet === Set("a1", "a2", "a3"))
    // batch 2 pushes the count to 5 -> the two least-recently-seen evicted
    m = graft.encoders.GapEncoder.partialFit(
      m, Seq("b1", "b2").toDF("city"), maxHDict = 4)
    assert(m.hDict.size === 4)
    assert(m.hDict.contains("b1") && m.hDict.contains("b2"))
    assert(!m.hDict.contains("a1")) // oldest insertion evicted first
    // a re-seen value counts as recent again and survives the next eviction
    m = graft.encoders.GapEncoder.partialFit(
      m, Seq("a2", "c1").toDF("city"), maxHDict = 4)
    assert(m.hDict.size === 4)
    assert(m.hDict.contains("a2") && m.hDict.contains("c1"))
    // transform still handles evicted values (frozen-W H-step path)
    val out = m.transform(Seq("a1", "a2").toDF("city"))
    assert(out.count() === 2)
    assert((1 to 2).forall(i => !out.filter(col("city") === "a1").head().isNullAt(i)))
  }

  test("NgramLm scores streamed micro-batches against a statically fit model") {
    // same incremental-ingestion shape as the decontamination probe: the
    // LM is fit ONCE (bounded count tables, staged by fit);
    // each arriving micro-batch pays one scan + the broadcast model joins
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, "a b a b"), (2L, "a a")).toDF("doc_id", "text")
    val model = graft.operators.NgramLm.fit(corpus, "text",
      vocabSize = 10, minCount = 1L)
    val source = MemoryStream[(Long, String)]
    val scores = scala.collection.mutable.Map[Long, Double]()
    val query = source.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.NgramLm.score(model, batch, "text", Seq("doc_id"))
          .select("doc_id", "avg_nll").collect().foreach(r =>
            scores.synchronized { scores(r.getLong(0)) = r.getDouble(1) })
      }
      .outputMode("append").start()
    try {
      source.addData((10L, "a b a b"))
      query.processAllAvailable()
      source.addData((11L, "a b a b"), (12L, "a zzz"))
      query.processAllAvailable()
    } finally query.stop()
    // identical text scores identically across batches, and matches the
    // batch path's hand value (LmMixSpec): avg_nll("a b a b") = 0.666807
    assert(scores(10L) === 0.666807)
    assert(scores(11L) === 0.666807)
    assert(scores(12L) > scores(10L)) // OOV backoff is more surprising
  }

  test("incremental curation: micro-batches gated against static LM/grams/rates") {
    // the streaming form of the full sweep's model-driven stages: the LM,
    // the benchmark gram set, and the mixing thresholds are all fit ONCE
    // on reference data, then every arriving micro-batch pays one scan +
    // broadcast probes — per-batch cost independent of stream history
    // (exact dedup across batches is dedupStream/DedupIndex territory)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq((1L, "a b a b c d"), (2L, "a a b b"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    val lm = graft.operators.NgramLm.fit(ref, "text", vocabSize = 10,
      minCount = 1L)
    val grams = graft.operators.Decontaminate
      .gramSet(Seq((9L, "p q r s t")).toDF("doc_id", "text"), "text", n = 4)
      .persist()
    // fixed per-source thresholds from the reference mixture (rate 1.0
    // keeps all — the point here is the wiring, pinned deterministic)
    val sampled = graft.ops.Kernel.sampleStratifiedFraction(_: org.apache.spark.sql.DataFrame,
      "source", Map("s0" -> 1.0, "s1" -> 0.5), 42L, Seq("doc_id"))
    try {
      val source = MemoryStream[(Long, String, String)]
      val kept = scala.collection.mutable.Map[Long, Boolean]()
      val query = source.toDF().toDF("doc_id", "source", "text").writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val scored = graft.operators.NgramLm.score(lm, batch, "text",
            Seq("doc_id"))
          val flagged = graft.operators.Decontaminate.flagAgainst(
            scored, grams, "text", "doc_id", n = 4)
          val verdicts = scored.join(flagged, Seq("doc_id"))
            .withColumn("ok",
              coalesce(col("avg_nll") <= 3.0, lit(false)) && !col("contaminated"))
          verdicts.select("doc_id", "ok").collect().foreach(r =>
            kept.synchronized { kept(r.getLong(0)) = r.getBoolean(1) })
        }
        .outputMode("append").start()
      try {
        source.addData((10L, "s0", "a b a b"),      // in-distribution -> kept
          (11L, "s0", "p q r s t here"))             // contaminated
        query.processAllAvailable()
        source.addData((12L, "s1", "zz qq mm nn"))   // OOV-heavy -> high nll
        query.processAllAvailable()
      } finally query.stop()
      assert(kept(10L) === true)
      assert(kept(11L) === false)
      assert(kept(12L) === false)
      // the stateless fraction gate composes on a batch the same way
      val gated = sampled(Seq((10L, "s0"), (12L, "s1")).toDF("doc_id", "source"))
      assert(gated.filter($"source" === "s0").count() === 1)
    } finally grams.unpersist()
  }

  test("asof enrichment of streamed micro-batches against a static reference") {
    // stream-static as-of: each arriving batch is the LEFT side, the
    // reference table the static right — per-batch cost is one
    // union-window over (batch + reference), independent of stream history
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val ref = Seq(
      (100L, 1L, ts("2021-01-01 00:00:00"), 1.0),
      (101L, 1L, ts("2021-01-01 01:00:00"), 2.0)
    ).toDF("event_id", "user_id", "ts", "value").persist()
    try {
      val source = MemoryStream[(Long, Long, Timestamp)]
      val got = scala.collection.mutable.Map[Long, Option[Double]]()
      val query = source.toDF().toDF("event_id", "user_id", "ts").writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.operators.AsofJoin.asof(batch, ref, Seq("user_id"), "ts",
            Seq("value" -> "ref_value"), rightTie = Seq("event_id"))
            .select("event_id", "ref_value").collect().foreach(r =>
              got.synchronized {
                got(r.getLong(0)) =
                  if (r.isNullAt(1)) None else Some(r.getDouble(1))
              })
        }
        .outputMode("append").start()
      try {
        source.addData((1L, 1L, ts("2021-01-01 00:30:00"))) // after ref 100
        query.processAllAvailable()
        source.addData((2L, 1L, ts("2021-01-01 02:00:00")), // after ref 101
          (3L, 2L, ts("2021-01-01 02:00:00")))              // unknown key
        query.processAllAvailable()
      } finally query.stop()
      assert(got(1L) === Some(1.0))
      assert(got(2L) === Some(2.0))
      assert(got(3L) === None)
    } finally ref.unpersist()
  }

  test("dedupStream batch twin keeps the earliest event per key") {
    import spark.implicits._
    val df = Seq(
      (1L, "click", Timestamp.valueOf("2021-01-01 00:00:30"), 2.0),
      (1L, "click", Timestamp.valueOf("2021-01-01 00:00:00"), 1.0),
      (2L, "view", Timestamp.valueOf("2021-01-01 00:01:00"), 3.0)
    ).toDF("user_id", "event_type", "ts", "value")
    val out = graft.streaming.StreamingDedup
      .dedupStream(df, Seq("user_id", "event_type"), "ts")
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq.sorted
    assert(out === Seq((1L, 1.0), (2L, 3.0)))
  }

  test("quality classifier and epoch recipe run unchanged on a stream, " +
    "micro-batch results == batch results") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the ingest-gate shape: fit ONCE offline (bounded state), then score
    // each arriving micro-batch with the frozen model — classifierFlag's
    // scan is stateless, so it drops into foreachBatch untouched;
    // repeatEpochs (broadcast epoch table + explode) likewise
    val pos = (1L to 10L).map(i => (i, s"alpha beta gamma $i")).toDF("doc_id", "text")
    val neg = (11L to 20L).map(i => (i, s"zork quux blorp $i")).toDF("doc_id", "text")
    val batchDocs = (21L to 40L).map(i =>
      (i, if (i % 2 == 0) s"alpha beta extra $i" else s"zork quux extra $i",
        s"s${i % 2}")).toDF("doc_id", "text", "src")

    val source = MemoryStream[(Long, String, String)]
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Boolean, Long)]()
    val q = source.toDF().toDF("doc_id", "text", "src").writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val flagged = graft.operators.Dsir.classifierFlag(
          b, "text", "doc_id", pos, neg, nBuckets = 1024)
        val epoched = graft.operators.Mix.repeatEpochs(
          b, "src", Seq("doc_id"), Map("s0" -> 2.0, "s1" -> 0.5))
        val reps = epoched.groupBy($"doc_id").count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        seen ++= flagged.collect().map(r =>
          (r.getLong(0), r.getBoolean(3), reps.getOrElse(r.getLong(0), 0L)))
        ()
      }.start()
    try {
      val rows = batchDocs.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2)))
      val (a, b) = rows.splitAt(rows.length / 2)
      source.addData(a.toSeq); q.processAllAvailable()
      source.addData(b.toSeq); q.processAllAvailable()
    } finally q.stop()
    val batchFlag = graft.operators.Dsir.classifierFlag(
        batchDocs, "text", "doc_id", pos, neg, nBuckets = 1024)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val batchReps = graft.operators.Mix.repeatEpochs(
        batchDocs, "src", Seq("doc_id"), Map("s0" -> 2.0, "s1" -> 0.5))
      .groupBy($"doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(seen.nonEmpty && seen.size === 20)
    seen.foreach { case (id, pred, reps) =>
      assert(pred === batchFlag(id), s"doc $id: stream pred != batch")
      assert(reps === batchReps.getOrElse(id, 0L), s"doc $id: repeats differ")
    }
    // the alpha-vocabulary docs flag true, the zork ones false
    assert(seen.count(_._2) === 10)
  }
}
