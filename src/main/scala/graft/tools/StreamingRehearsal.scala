package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming ingestion rehearsal (VERDICT r9 task 6 — the round-8 pipeline
  * rehearsal's streaming twin): the persisted-index probes and
  * StreamingPack exist and are individually spec'd, but had never been
  * COMPOSED as one live micro-batch ingestion path. This runs it
  * end-to-end on the Nx corpus:
  *
  *   parquet file stream (maxFilesPerTrigger paces the micro-batches)
  *     → C4 page gate + heuristic quality gate  (pure projections,
  *       INSIDE the streaming plan — no foreachBatch needed for scans)
  *     → [query A] foreachBatch: DedupIndex.probe (persisted bucketed
  *       index, zero index-side Exchange) + AnnIndex.probe on the batch's
  *       embeddings — the "route dups away / attach neighbors" ingest path
  *     → [query B] StreamingPack.packStream: stateful per-shard
  *       token-budget packing (flatMapGroupsWithState) straight off the
  *       gated stream — state must stay |shards|-bounded forever
  *
  * Reported per micro-batch (from StreamingQueryListener — the numbers a
  * production monitor would watch): input rows, batch wall, and for the
  * stateful query the state row count and state memory. The claims under
  * test at Nx: (a) per-batch latency tracks BATCH size, not corpus size —
  * the probe's index side is a bucketed scan at any corpus scale; (b)
  * StreamingPack state stays |shards| rows regardless of how many batches
  * have flowed through.
  *
  * Usage: runMain graft.tools.StreamingRehearsal [corpusDir] [outDir]
  * (corpusDir holds `TenxFixture` documents and embeddings at
  * SPARK_GRAFT_REHEARSAL_COPIES copies, default 10; `TenxFixture.write`
  * keeps them when the copy count matches and rewrites them otherwise.)
  */
object StreamingRehearsal {

  def main(args: Array[String]): Unit = {
    val corpusDir = args.headOption.getOrElse("/tmp/graft-sf10")
    val outDir = args.lift(1).getOrElse("/tmp/graft-stream")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local(extra = Map(
      "spark.sql.warehouse.dir" -> s"$outDir/warehouse",
      "spark.sql.streaming.checkpointLocation" -> s"$outDir/ckpt"))
    import spark.implicits._

    // ---- offline phase: persisted indexes from the FIXED 1x corpus ----
    // (the shape of a nightly index build feeding a live ingest path)
    val docs1x = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb1x = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[stream] offline $label%-14s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    timed("dedup-index") {
      graft.operators.DedupIndex.write(docs1x, "text", "doc_id",
        "graft_sr_didx", s"$outDir/didx", numBuckets = 32)
    }
    timed("ann-index") {
      graft.operators.AnnIndex.write(emb1x, "embedding", "vec_id",
        "graft_sr_aidx", s"$outDir/aidx", nTables = 8, numBuckets = 32,
        quantize = true)
    }

    // ---- the live stream: Nx documents as a paced parquet file stream --
    // (TenxFixture tables; the stream paces on their files, one per core
    // and at least 8)
    val nCopies = sys.env.get("SPARK_GRAFT_REHEARSAL_COPIES")
      .map(_.toInt).getOrElse(10)
    TenxFixture.write(spark, sfDir, corpusDir, nCopies,
      Seq("documents", "embeddings"))
    val corpusPath = s"$corpusDir/documents.parquet"
    val schema = spark.read.parquet(corpusPath).schema
    val nFiles = new java.io.File(corpusPath).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val perTrigger = math.max(1, nFiles / 8) // ~8 micro-batches
    println(s"[stream] source $corpusPath: $nFiles files, " +
      s"$perTrigger per trigger, ${(nFiles + perTrigger - 1) / perTrigger} batches")
    def source(): DataFrame = spark.readStream
      .schema(schema).option("maxFilesPerTrigger", perTrigger)
      .parquet(corpusPath)

    // quality gate INSIDE the streaming plan — a pure codegen projection,
    // proving scan-shaped gates need no foreachBatch. (The C4 page gate is
    // the same plan shape — q_c4_filter proves it — but the synthetic
    // fixture corpus has no line/sentence structure, so C4 would zero the
    // stream and the rehearsal would measure nothing downstream.)
    def gated(st: DataFrame): DataFrame =
      graft.operators.TextAnalysis.qualityFeatures(
          st.select(col("doc_id"), col("text")), "text")
        .filter(col("quality_ok"))
        .select(col("doc_id"), col("text").as("clean_text"), col("n_words"))

    // listener: the per-batch numbers a production monitor would watch
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val state = Option(p.stateOperators).filter(_.nonEmpty)
            .map(ops => s" stateRows=${ops.map(_.numRowsTotal).sum} " +
              f"stateMB=${ops.map(_.memoryUsedBytes).sum / 1e6}%.2f")
            .getOrElse("")
          val line = f"[stream] batch name=${p.name}%-8s id=${p.batchId}%-3d " +
            f"rows=${p.numInputRows}%-7d wall=${p.batchDuration / 1000.0}%6.2f s$state"
          progress.add(line)
          println(line)
        }
      }
    })

    // ---- query A: gated stream -> probe, route, APPEND per batch ------
    // the FULL ingest loop (r9): probe the batch against the ACCUMULATED
    // index, route near-identical docs (jaccard >= 0.9) away, append the
    // survivors — so the index grows live and later micro-batches match
    // against earlier ones, not just the offline 1x build. The claims
    // under test: per-batch latency stays batch-shaped as the index
    // accumulates, and appended docs are immediately probe-visible
    // (cross-copy near-dups get routed once their first copy is in).
    val emb10 = spark.read.parquet(s"$corpusDir/embeddings.parquet")
    val ingest = gated(source()).writeStream.queryName("ingest")
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/ckpt/ingest")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // every persist is released in the finally, whichever step throws
        val b = batch.persist()
        var matches: DataFrame = null
        var newDocs: DataFrame = null
        try {
          matches = graft.operators.DedupIndex.probe(b, "clean_text",
            "doc_id", "graft_sr_didx", minJaccard = 0.4).persist()
          val survivors = b.count()
          val dups = matches.count()
          newDocs = b.join(
            matches.filter(col("jaccard") >= 0.9)
              .select(col("id").as("doc_id")),
            Seq("doc_id"), "left_anti").persist()
          val appended = newDocs.count()
          graft.operators.DedupIndex.append(newDocs, "clean_text", "doc_id",
            "graft_sr_didx")
          val ann = graft.operators.AnnIndex.probe(
            b.select(col("doc_id").as("vec_id"))
              .join(emb10, "vec_id"),
            "embedding", "vec_id", "graft_sr_aidx", k = 5).count()
          println(s"[stream] probe id=$batchId survivors=$survivors " +
            s"dupMatches=$dups appended=$appended annRows=$ann")
        } finally {
          if (newDocs != null) newDocs.unpersist()
          if (matches != null) matches.unpersist()
          b.unpersist()
        }
      }
      .start()

    // ---- query B: gated stream -> stateful per-shard packing ----------
    val packed = graft.streaming.StreamingPack.packStream(
        gated(source()).withColumn("shard", concat(lit("s"), col("doc_id") % 8)),
        "n_words", "shard", "doc_id", budget = 4096L)
      .writeStream.queryName("pack").outputMode("append")
      .option("checkpointLocation", s"$outDir/ckpt/pack")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingPack.PackedDoc],
         batchId: Long) =>
        val packs = b.agg(countDistinct(col("shard"), col("packId"))).head().getLong(0)
        println(s"[stream] pack  id=$batchId rows=${b.count()} openPacks>=$packs")
      }
      .start()

    // ---- query C: live drift monitor on the RAW incoming stream -------
    // (r9) the monitoring station wired into ingestion: PSI of each
    // micro-batch's quality-feature distributions against a FROZEN 1x
    // reference model — a moved crawl is detected BEFORE any gate touches
    // it. All cross-batch state is the model's bounded per-bin counts;
    // each batch costs ONE melted aggregate over the batch. The Nx copies
    // append a copy token, so n_words/mean_word_len genuinely shift —
    // per-batch psi must be nonzero and stable across batches.
    val psiModel = timed("drift-fit") {
      graft.operators.Drift.fitPsi(
        graft.operators.TextAnalysis.qualityFeatures(docs1x, "text"),
        Seq("n_words", "mean_word_len", "punct_ratio", "stopword_ratio"))
    }
    val drift = graft.operators.Drift.psiStream(psiModel,
      graft.operators.TextAnalysis.qualityFeatures(source(), "text"),
      queryName = Some("drift")) { (scores, batchId) =>
      val top = scores.head(2).map(r =>
        f"${r.getString(0)}=${r.getDouble(1)}%.4f").mkString(" ")
      println(s"[stream] drift id=$batchId top: $top")
    }

    ingest.processAllAvailable()
    packed.processAllAvailable()
    drift.processAllAvailable()
    ingest.stop(); packed.stop(); drift.stop()
    println(s"[stream] done: ${progress.size()} progress events recorded")
    spark.stop()
  }
}
