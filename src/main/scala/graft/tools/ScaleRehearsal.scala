package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, SimilaritySearch}

/** Scale rehearsal (VERDICT r5 task 6): run the dedup/ANN/CC family at 1x
  * and 10x the bench corpus and report wall time + shuffle bytes per query,
  * so the "constants collapse at scale" claims are MEASURED, not argued.
  *
  * The Nx tables come from `TenxFixture.write` (deterministic perturbed,
  * key-shifted copies of the sf0.1 tables), written to outDir parquet so
  * every timed query reads parquet exactly like the bench.
  *
  * Usage: java -cp ... graft.tools.ScaleRehearsal [outDir]
  */
object ScaleRehearsal {

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-sf1")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local()

    // Optional comma-separated name filter (same contract as Bench's
    // SPARK_GRAFT_QUERIES) for targeted re-timing of one family.
    val only = sys.env.get("SPARK_GRAFT_REHEARSAL_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val needDocsEmb = only.forall(_.exists(n =>
      !n.startsWith("fit_") && !n.startsWith("time_")))
    val needOrders = only.forall(_.exists(n => n.startsWith("fit_") &&
      !n.startsWith("fit_fuzzy") && n != "fit_interpolation" &&
      n != "fit_target_encoder"))
    val needEvents = only.forall(_.exists(_.startsWith("time_")))
    val needCustomer = only.forall(_.exists(n =>
      n.startsWith("fit_fuzzy") || n.startsWith("fit_join_discovery") ||
        n == "fit_interpolation" || n == "fit_target_encoder"))

    // ---- deterministic Nx corpus ------------------------------------
    // SPARK_GRAFT_REHEARSAL_COPIES widens the synthetic corpus (default
    // 10x) — e.g. 100 for crossover measurements on the cheap fit shapes.
    // Only the tables a selected query reads are written (kept when the
    // directory already holds them at this copy count). The Nx orders keep
    // the value distributions of every column but the two keys, whose key
    // spaces grow N-fold; o_custkey shifts with the Nx customer's
    // c_custkey, so the FK stays whole at every scale. The Nx customer
    // grows the MAIN side of the fuzzy-join / interpolation shapes while
    // the aux (nation / supplier) stays fixed, and its key shift rotates
    // c_custkey % 3, so every copy re-mixes the three mangling styles
    // deterministically.
    val nCopies = sys.env.get("SPARK_GRAFT_REHEARSAL_COPIES")
      .map(_.toInt).getOrElse(10)
    val tables = Seq("documents" -> needDocsEmb, "embeddings" -> needDocsEmb,
      "orders" -> needOrders, "customer" -> needCustomer,
      "events" -> needEvents).collect { case (t, true) => t }
    TenxFixture.write(spark, sfDir, outDir, nCopies, tables)
    def nx(table: String, at1x: DataFrame): DataFrame =
      if (tables.contains(table)) spark.read.parquet(s"$outDir/$table.parquet")
      else at1x
    val docs1 = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val ord1 = spark.read.parquet(s"$sfDir/orders.parquet")
    val cust1 = spark.read.parquet(s"$sfDir/customer.parquet")

    def queries(docs: DataFrame, emb: DataFrame, ord: DataFrame,
                ev: DataFrame, cust: DataFrame): Seq[(String, () => Long)] = Seq(
      // fuzzy-join fit family (r8: the last constant-job claim measured,
      // not argued — VERDICT r7 task 2). Main side = Nx mangled customer
      // guesses, aux = the FIXED 25-row nation table; bodies mirror
      // q_fuzzy_join / _second / _selfjoin exactly (FuzzyJoinQueries).
      // The accepted-filter consumes the distance pipeline so nothing can
      // be pruned from the timed plan.
      "fit_fuzzy_join" -> (() => {
        val nation = spark.read.parquet(s"$sfDir/nation.parquet")
        val guesses = graft.operators.Joins.leftJoin(cust, nation,
            Seq("c_nationkey"), Seq("n_nationkey"))
          .withColumn("nation_guess",
            when(col("c_custkey") % 3 === 0,
              regexp_replace(lower(col("n_name")), "[aeiou]", ""))
              .when(col("c_custkey") % 3 === 1,
                lower(col("n_name")).substr(lit(1), length(col("n_name")) - 1))
              .otherwise(lower(col("n_name"))))
          .select(col("c_custkey"), col("nation_guess"))
        graft.operators.FuzzyJoin.fuzzyJoin(guesses,
            nation.select(col("n_name"), col("n_regionkey")),
            Seq("nation_guess" -> "n_name"), maxDist = 1.0, nBuckets = 32)
          .filter(col(graft.operators.FuzzyJoin.MatchInfoAccepted)).count()
      }),
      "fit_fuzzy_join_second" -> (() => {
        val nation = spark.read.parquet(s"$sfDir/nation.parquet")
        val guesses = graft.operators.Joins.leftJoin(cust, nation,
            Seq("c_nationkey"), Seq("n_nationkey"))
          .withColumn("nation_guess",
            when(col("c_custkey") % 3 === 0,
              regexp_replace(lower(col("n_name")), "[aeiou]", ""))
              .when(col("c_custkey") % 3 === 1,
                lower(col("n_name")).substr(lit(1), length(col("n_name")) - 1))
              .otherwise(lower(col("n_name"))))
          .select(col("c_custkey"), col("nation_guess"))
        graft.operators.FuzzyJoin.fuzzyJoin(guesses,
            nation.select(col("n_name"), col("n_regionkey")),
            Seq("nation_guess" -> "n_name"), maxDist = 0.9, nBuckets = 32,
            refStrategy = Some(graft.operators.FuzzyJoin.RefDist.SecondNeighbor(1)))
          .filter(col(graft.operators.FuzzyJoin.MatchInfoAccepted)).count()
      }),
      "fit_fuzzy_join_selfjoin" -> (() => {
        val nation = spark.read.parquet(s"$sfDir/nation.parquet")
        val guesses = graft.operators.Joins.leftJoin(cust, nation,
            Seq("c_nationkey"), Seq("n_nationkey"))
          .withColumn("nation_guess",
            when(col("c_custkey") % 3 === 0,
              regexp_replace(lower(col("n_name")), "[aeiou]", ""))
              .when(col("c_custkey") % 3 === 1,
                lower(col("n_name")).substr(lit(1), length(col("n_name")) - 1))
              .otherwise(lower(col("n_name"))))
          .select(col("c_custkey"), col("nation_guess"))
        graft.operators.FuzzyJoin.fuzzyJoin(guesses,
            nation.select(col("n_name"), col("n_regionkey")),
            Seq("nation_guess" -> "n_name"), maxDist = 1.0, nBuckets = 32,
            refStrategy = Some(graft.operators.FuzzyJoin.RefDist.SelfJoinNeighbor(1)))
          .filter(col(graft.operators.FuzzyJoin.MatchInfoAccepted)).count()
      }),
      // out-of-fold target encoding (r8): one (cat, fold) aggregate + one
      // vocab-sized join back — wall must track the scan, shuffle the
      // (tiny) stats frames; the sum consumes the encoding
      "fit_target_encoder" -> (() =>
        graft.encoders.TargetEncoder.encodeOutOfFold(cust, "c_mktsegment",
          "c_acctbal", "c_custkey", k = 5, m = 10.0)
          .agg(sum(col("c_mktsegment_target_enc"))).head().getDouble(0).toLong),
      // interpolation join (r8: the one join family with no rehearsal row —
      // VERDICT r7 task 7): GBT fit cost is bounded by the FIXED aux
      // (supplier) while predict is a scan over the growing main side; the
      // sum consumes the prediction so the model application stays in the
      // timed plan
      "fit_interpolation" -> (() => {
        val supp = spark.read.parquet(s"$sfDir/supplier.parquet")
          .withColumn("payload_det",
            (col("s_nationkey") * 10 + 5).cast(org.apache.spark.sql.types.DoubleType))
        graft.operators.InterpolationJoiner.interpolationJoin(
            cust, supp, Seq("c_nationkey" -> "s_nationkey"), Seq("payload_det"),
            maxIter = 5, onError = graft.operators.InterpolationJoiner.Raise,
            maxDepth = 8)
          .agg(sum(col("payload_det_predicted"))).head().getDouble(0).toLong
      }),
      "dedup_exact" -> (() => Dedup.exact(docs, "text", "doc_id").count()),
      "dedup_jaccard" -> (() => Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        n = 3, minJaccard = 0.2, maxShingleDf = 25L).count()),
      "dedup_minhash_lsh" -> (() => Dedup.minhashLshPairs(docs, "text", "doc_id",
        n = 3, rowsPerBand = 2, nBands = 8, minJaccard = 0.2).count()),
      "dedup_simhash" -> (() => Dedup.simhashPairs(docs, "text", "doc_id",
        maxHamming = 3).count()),
      "dedup_canonical" -> (() => Dedup.deduplicate(docs, "text",
        minJaccard = 0.4).count()),
      "dedup_embedding_lsh" -> (() => Dedup.embeddingLshPairs(emb, "embedding",
        "vec_id", minCosine = 0.4, planesPerTable = 4, nTables = 16).count()),
      "dedup_embedding_star" -> (() => Dedup.embeddingLshPairs(emb,
        "embedding", "vec_id", minCosine = 0.4, planesPerTable = 4,
        nTables = 16, bucketPairs = "star").count()),
      // r13: the per-bucket auto-route at the production cap — on the
      // copies corpus every bucket floods past 256 members, so auto must
      // degrade to star's linear hub edges (while on sparse graphs it is
      // exact: recall 1.0, StarRecallSpec); the claim is wall/shuffle
      // within a small constant of dedup_embedding_star at 100x copies
      "dedup_embedding_auto" -> (() => Dedup.embeddingLshPairs(emb,
        "embedding", "vec_id", minCosine = 0.4, planesPerTable = 4,
        nTables = 16, bucketPairs = "auto").count()),
      "ann_ivf" -> (() => SimilaritySearch.ivfTopK(emb,
        emb.filter(col("vec_id") % lit(1000000L) < 10), "embedding", "vec_id",
        k = 5).count()),
      // trained k-means IVF (r7): auto cell count ~sqrt(corpus) keeps BOTH
      // the cell table and per-cell occupancy sublinear — candidate volume
      // per query grows ~sqrt(n) where a fixed cell count grows ~n
      "ann_kmeans" -> (() => SimilaritySearch.kmeansIvfTopK(emb,
        emb.filter(col("vec_id") % lit(1000000L) < 10), "embedding", "vec_id",
        k = 5, nProbe = 8).count()),
      "stream_neardup_twin" -> (() =>
        graft.streaming.StreamingNearDup.verdicts(docs, "doc_id", "text")
          .groupBy(col("docId")).agg(max(col("isDup"))).count()),
      // scale-aware knobs (the findings of the first rehearsal pass):
      // an absolute shingle-DF cutoff zeroes recall at 10x, the corpus-
      // relative cutoff keeps it; planesPerTable sized by log2(n) bounds
      // bucket occupancy where the 1x-tuned 16-bucket tables degenerate
      "dedup_jaccard_dfscaled" -> (() => Dedup.ngramJaccardPairs(docs, "text",
        "doc_id", n = 3, minJaccard = 0.2,
        maxShingleDf = Dedup.shingleDfCutoff(docs, fraction = 0.005,
          minDf = 25L)).count()),
      "dedup_embedding_planes" -> (() => Dedup.embeddingLshPairs(emb,
        "embedding", "vec_id", minCosine = 0.4,
        planesPerTable = Dedup.planesFor(emb.count()), nTables = 16).count()),
      // fuzzy join beyond broadcast-aux (r7): main = this corpus, aux = the
      // 1x corpus' first 2000 docs — at 10x the aux stays fixed while the
      // main side grows, the realistic "enrich a growing corpus against a
      // reference table" shape; LSH candidates + exact re-rank, no
      // broadcast of the vectorized aux
      "fuzzy_join_lsh" -> (() => {
        val aux = spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(col("doc_id") < 2000)
          .select(col("doc_id").as("ref_id"), col("text").as("ref_text"))
        graft.operators.FuzzyJoin.fuzzyJoin(
          docs.select(col("doc_id"), col("text")), aux,
          Seq(("text", "ref_text")), candidates = "lsh").count()
      }),
      // persisted dedup index (r7): build cost is O(corpus) ONCE; the probe
      // of a FIXED 500-doc batch must stay ~flat from 1x to 10x — that
      // flatness is the incremental-ingestion claim (probe cost independent
      // of corpus size). Keep both names in any REHEARSAL_QUERIES filter:
      // probe reads the index the build entry just wrote.
      "dedup_index_build" -> (() => {
        graft.operators.DedupIndex.write(docs, "text", "doc_id",
          "graft_rehearsal_idx", s"$outDir/dedup_index", numBuckets = 32)
        spark.table(graft.operators.DedupIndex.bandsTable(
          "graft_rehearsal_idx")).count()
      }),
      "dedup_index_probe" -> (() => {
        val batch = spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(col("doc_id") < 500)
        graft.operators.DedupIndex.probe(batch, "text", "doc_id",
          "graft_rehearsal_idx", minJaccard = 0.2).count()
      }),
      // same contract for the ANN postings index: corpus-linear build once,
      // fixed-batch probe flat across corpus scale
      "ann_index_build" -> (() => {
        graft.operators.AnnIndex.write(emb, "embedding", "vec_id",
          "graft_rehearsal_ann", s"$outDir/ann_index", numBuckets = 32)
        spark.table(graft.operators.AnnIndex.postingsTable(
          "graft_rehearsal_ann")).count()
      }),
      "ann_index_probe" -> (() => {
        val batch = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .filter(col("vec_id") < 500)
        graft.operators.AnnIndex.probe(batch, "embedding", "vec_id",
          "graft_rehearsal_ann", k = 5).count()
      }),
      // SQ8 postings: same contract, 8x fewer vector bytes per posting —
      // the probe reads int8 codes and scores by asymmetric distance;
      // reported rows include the postings dir byte size via println
      "ann_index_sq8_build" -> (() => {
        graft.operators.AnnIndex.write(emb, "embedding", "vec_id",
          "graft_rehearsal_ann8", s"$outDir/ann_index_sq8", numBuckets = 32,
          quantize = true)
        def bytes(p: String): Long = {
          val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
          try s.filter(java.nio.file.Files.isRegularFile(_))
            .mapToLong(java.nio.file.Files.size(_)).sum()
          finally s.close()
        }
        println(f"[scale]      ann_index_sq8 postings bytes: " +
          f"sq8=${bytes(s"$outDir/ann_index_sq8")}%d " +
          f"full=${bytes(s"$outDir/ann_index")}%d")
        spark.table(graft.operators.AnnIndex.postingsTable(
          "graft_rehearsal_ann8")).count()
      }),
      "ann_index_sq8_probe" -> (() => {
        val batch = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .filter(col("vec_id") < 500)
        graft.operators.AnnIndex.probe(batch, "embedding", "vec_id",
          "graft_rehearsal_ann8", k = 5).count()
      }),
      // C4 heuristic cleaning (r8): pure codegen scan like repetition —
      // wall ~linear, shufW must stay 0 (synthetic 8-token line structure
      // mirrors q_c4_filter's fixture)
      "c4_filter" -> (() => {
        val lines8 = transform(
          graft.functions.VecExprs.tokenChunks(col("text"), 8, 8),
          c => concat(c.getField("chunk_text"),
            when(c.getField("chunk_id") % 3 === 0, lit(".")).otherwise(lit(""))))
        graft.operators.TextAnalysis.c4Filter(
          docs.select(col("doc_id"),
            array_join(lines8, "\n").as("text2")), "text2", Seq("doc_id"))
          .filter(col("page_ok")).count()
      }),
      // repetition signals (r7 second half): pure codegen scan, zero
      // shuffle at every scale — wall must grow ~linearly, shufW stay 0
      "repetition" -> (() => graft.operators.TextAnalysis
        .repetitionFeatures(docs, "text")
        .filter(col("repetition_ok")).count()),
      // decontamination (r7 second half): the benchmark side is FIXED (the
      // 1x corpus' doc_id%17 slice) while the train side grows Nx — the
      // realistic shape (eval sets don't grow with the crawl). The bench
      // gram set broadcasts, the train side is one scan + map-side join +
      // one doc-keyed aggregate: wall ~linear, shufW ~linear in train rows
      "decontaminate" -> (() => {
        val bench1 = spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(col("doc_id") % 17 === 0)
        graft.operators.Decontaminate.flag(docs, bench1, "text", "doc_id",
          n = 4).filter(col("contaminated")).count()
      }),
      // bloom variant: the gram set rides as a ~3.6 B/gram filter probed
      // by a per-row loop — corpus side is a PURE SCAN; shufW must be ~0
      // at both scales (only the bloom build's tiny treeAggregate moves)
      "decontaminate_bloom" -> (() => {
        val bench1 = spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(col("doc_id") % 17 === 0)
        graft.operators.Decontaminate.flagBloom(docs, bench1, "text",
          "doc_id", n = 4).filter(col("contaminated")).count()
      }),
      // span scrub (r12): FIXED bench window-hash set (the 1x %17 slice),
      // train grows Nx — one corpus fingerprint scan + broadcast semi-join
      // + contamination-bounded coverage aggregate + id-keyed rebuild
      // join: wall ~linear, shufW bounded by contamination, never corpus
      // token count
      "scrub_spans" -> (() => {
        val bench1 = spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(col("doc_id") % 17 === 0)
        graft.operators.Decontaminate.scrubSpans(docs, bench1, "text",
          "doc_id", n = 8).agg(sum(col("n_removed"))).head().getLong(0)
      }),
      // span removal (r12): the dup-hash aggregate is skew-proof
      // (pre-collapsed) and coverage explodes only duplicated windows —
      // at Nx every original gains cross-copy duplicates, so removal
      // traffic grows with TRUE duplication (the honest worst case)
      "dup_spans_remove" -> (() => graft.operators.DupSpans
        .remove(docs, "text", "doc_id", n = 16)
        .agg(sum(col("n_removed"))).head().getLong(0)),
      // representative selection (r12): pair graph from the minhash
      // bands, CC label propagation bounded by edge-touched ids, verdict
      // window over tiny cluster partitions; singleton fast path
      "dedup_keep_best" -> (() => {
        val scored = docs.select(col("doc_id"),
          size(graft.functions.Text.tokens(col("text")))
            .cast("long").as("score"))
        val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
          n = 3, rowsPerBand = 2, nBands = 8, minJaccard = 0.2)
        Dedup.keepBest(scored, pairs, "doc_id", "score")
          .filter(col("kept")).count()
      }),
      // star-pair twin: the clustering-consumer scale knob — each band
      // bucket emits (min, other) instead of all pairs, so the pair list
      // (and everything downstream) is linear in duplication where the
      // all-pairs form is quadratic (12.5 GB shuffle at 100x copies)
      "dedup_keep_best_star" -> (() => {
        val scored = docs.select(col("doc_id"),
          size(graft.functions.Text.tokens(col("text")))
            .cast("long").as("score"))
        val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id",
          n = 3, rowsPerBand = 2, nBands = 8, minJaccard = 0.2,
          bandPairs = "star")
        Dedup.keepBest(scored, pairs, "doc_id", "score")
          .filter(col("kept")).count()
      }),
      // snapshot diff (r12): both sides Nx (the realistic shape — the
      // corpus verses its own next revision), fingerprint scans + ONE
      // id-keyed full outer join; shufW = two fingerprint columns
      "snapshot_diff" -> (() => graft.operators.Curation.snapshotDiff(
        docs, docs.filter(col("doc_id") % 17 =!= 0), "doc_id", "text")
        .filter(col("status") =!= "unchanged").count()),
      // semantic dedup (r7 second half): auto-sized ~sqrt(n) k-means cells
      // bound within-cell pair work to ~n^1.5 total — the measured check
      // is that wall grows ~sqrt(10)x-ish per unit row, NOT 10x (which is
      // what a fixed cell count or an all-pairs join would show)
      "dedup_semantic" -> (() => Dedup.semanticDedup(emb, "embedding",
        "vec_id", minCosine = 0.4, kClusters = 0, iters = 2)
        .filter(col("is_dup")).count()),
      // the recall/cost dial: nProbe=2 multiplies pair work <= 4x for the
      // measured 0.40 -> 0.83 recall lift (BASELINE) — rehearse that the
      // multiplier holds at 10x and stays inside the n^1.5 envelope
      "dedup_semantic_probe2" -> (() => Dedup.semanticDedupMultiProbe(emb,
        "embedding", "vec_id", minCosine = 0.4, kClusters = 0, iters = 2,
        nProbe = 2).filter(col("is_dup")).count()),
      // the composed curation sweep (gates ride one scan, fp-window dedup,
      // decontamination probe): wall must stay ~linear in the corpus with
      // the three corpus-keyed shuffles the docstring claims — no
      // composition-induced re-scans
      "curation" -> (() => {
        val bench1 = spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(col("doc_id") % 17 === 0)
        graft.operators.Curation.sweep(docs, bench1, "text", "doc_id",
          decontaminateN = 4).filter(col("kept")).count()
      }),
      // sequence packing: one shard-partitioned window — wall ~linear,
      // shuffle = one corpus exchange on the shard key (the rehearsal
      // corpus has no source column; a 64-way synthetic shard key gives
      // the window real per-shard work at every scale)
      // counted via packStats, which READS pack_id: a bare count() lets
      // the optimizer prune the (cardinality-preserving) window entirely
      // and times an empty plan
      "pack" -> (() => graft.operators.Pack.packStats(
        graft.operators.Pack.sequences(
          docs.withColumn("n_toks",
              org.apache.spark.sql.functions.size(
                graft.functions.Text.tokens(col("text")))
                .cast(org.apache.spark.sql.types.LongType))
            .withColumn("shard", col("doc_id") % 64),
          "n_toks", budget = 256L, groupCol = "shard", idCol = "doc_id"),
        "shard").count()),
      // constant-job fit shapes (the perf-weak-by-the-2x-letter family):
      // their job count is independent of row count, so wall time must
      // grow far slower than 10x while the DuckDB oracle grows ~linearly
      // — the measured "ratio collapses with data size" claim. Bodies
      // mirror the registered queries (CleanerQueries/KernelQueries/
      // EncoderQueries) exactly.
      "fit_cleaner" -> (() => {
        val messy = ord.select(
          col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("od_str"),
          col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(12, 2))
            .cast("string").as("price_str"),
          when(col("o_orderstatus") === "F", "N/A")
            .otherwise(col("o_orderstatus")).as("status_m"),
          lit("X").as("const_col"),
          lit(null).cast("string").as("null_col"))
        graft.operators.Cleaner.fitTransform(messy).count()
      }),
      "fit_drop_similar" -> (() => graft.encoders.DropSimilar.transform(
        ord.withColumn("status_copy", col("o_orderstatus")),
        threshold = 1.0).count()),
      "fit_column_assoc" -> (() =>
        graft.operators.ColumnAssociations.allPairs(ord).count()),
      // wide-frame variant (r8): 14 discretizable columns push the joint
      // code space past PackedSpaceCap, forcing the DIRECT flat-buffer
      // ContingencyAll path (91 pairs, one scan, zero row amplification) —
      // the packed-path rehearsal above must not be the only measured shape
      "fit_column_assoc_wide" -> (() => {
        val wide = ord
          .withColumn("ok2", col("o_orderkey") % 7919)
          .withColumn("ck2", col("o_custkey") % 6007)
          .withColumn("tp2", col("o_totalprice") * 1.7)
          .withColumn("tp3", col("o_totalprice") % 997.0)
          .withColumn("od2", date_add(col("o_orderdate"), 7))
          .withColumn("op2", concat(col("o_orderpriority"), lit("#"),
            col("o_orderkey") % 3))
          .withColumn("st2", concat(col("o_orderstatus"),
            col("o_orderkey") % 2))
          .withColumn("ok3", col("o_orderkey") % 104729)
          .drop("o_comment", "o_clerk", "o_shippriority")
        graft.operators.ColumnAssociations.allPairs(wide).count()
      }),
      // join-key discovery (r9): the exact path melts every distinct value
      // into a value-keyed equi-join — its shuffle must grow ~linearly in
      // the Nx key space; the sketch path moves k longs per column, so its
      // shufW must stay FLAT at any scale; auto must pick exact below
      // DefaultMaxExactDistinct and the sketch above it (orders plus
      // customer carry ~180k distinct pairs per copy, so the sum crosses 2M
      // at ~11x and 100x flips the route). The right side is the customer
      // dimension at the same scale, so o_custkey -> c_custkey inclusion
      // stays 1.0.
      "fit_join_discovery_exact" -> (() => {
        graft.operators.Discovery.joinKeys(
          ord.select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"), col("o_orderpriority")),
          cust.select(col("c_custkey"), col("c_nationkey"),
            col("c_mktsegment")), mode = "exact").count()
      }),
      "fit_join_discovery_sketch" -> (() => {
        graft.operators.Discovery.joinKeys(
          ord.select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"), col("o_orderpriority")),
          cust.select(col("c_custkey"), col("c_nationkey"),
            col("c_mktsegment")), mode = "sketch").count()
      }),
      // KBins fit (r9): exact percentile's aggregation state is a full
      // sorted copy of the column (wall superlinear-ish, one wide
      // aggregate); percentile_approx is one bounded GK-sketch aggregate —
      // wall must track the scan and shufW stay ~flat at any Nx
      "fit_kbins_exact" -> (() =>
        graft.encoders.KBins.fit(ord, "o_totalprice", k = 16,
          mode = "exact").edges.length.toLong),
      "fit_kbins_approx" -> (() =>
        graft.encoders.KBins.fit(ord, "o_totalprice", k = 16,
          mode = "approx").edges.length.toLong),
      // drift monitoring (r9): the product shape is a FROZEN 1x reference
      // model scoring an Nx current snapshot — fit cost is constant by
      // construction, scoring is ONE melted aggregate over cur (map-side
      // combined into Σ-bin-vocabulary rows), so wall must track the scan
      // and shufW stay ~flat at any Nx. ks shares the shape (finer bins,
      // window over the tiny per-bin frame); newCategories watches
      // bounded-cardinality columns, so its distinct melt + left-anti join
      // must also keep shufW flat while rows grow.
      "fit_drift_psi" -> (() => {
        val ref1x = spark.read.parquet(s"$sfDir/orders.parquet")
        val model = graft.operators.Drift.fitPsi(ref1x,
          Seq("o_totalprice", "o_orderdate", "o_orderpriority"))
        model.score(ord).count()
      }),
      "fit_drift_ks" -> (() => {
        val ref1x = spark.read.parquet(s"$sfDir/orders.parquet")
        graft.operators.Drift.ks(ref1x, ord,
          Seq("o_totalprice", "o_orderdate")).count()
      }),
      "fit_drift_newcats" -> (() => {
        val ref1x = spark.read.parquet(s"$sfDir/orders.parquet")
        // Nx copies preserve category values, so inject a deterministic
        // 1-in-1000 synthetic priority (keyed by orderkey → distinct new
        // values grow with the key space) — the alert feed must have
        // nonzero, scale-growing output or the anti-join is unmeasured
        val cur = ord.withColumn("o_orderpriority",
          when(col("o_orderkey") % 1000 === 0,
            concat(lit("9-NEW-"), (col("o_orderkey") / 1000).cast("long")))
            .otherwise(col("o_orderpriority")))
        graft.operators.Drift.newCategories(ref1x, cur,
          Seq("o_orderstatus", "o_orderpriority")).count()
      }),
      "fit_join_discovery_auto" -> (() => {
        graft.operators.Discovery.joinKeys(
          ord.select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"), col("o_orderpriority")),
          cust.select(col("c_custkey"), col("c_nationkey"),
            col("c_mktsegment")), mode = "auto").count()
      }),
      // stratified sampling (r7): the fraction path is one codegen'd scan
      // predicate — time must grow ~linearly with ZERO shuffle at both
      // scales; the exact path's MinKBy shuffle is O(strata*k) rows, so
      // its shufW must stay FLAT from 1x to 10x (the skew-proof claim)
      "fit_sample_stratified" -> (() =>
        graft.ops.Kernel.sampleStratifiedFraction(ord, "o_orderpriority",
          Map("1-URGENT" -> 0.30, "3-MEDIUM" -> 0.10, "5-LOW" -> 0.02),
          42, Seq("o_orderkey")).count()),
      "fit_sample_stratified_exact" -> (() =>
        graft.ops.Kernel.sampleStratifiedExact(ord, "o_orderpriority",
          50, 42, Seq("o_orderkey")).count()),
      // LM perplexity scoring (r7 fifth pass): fit = two corpus scans into
      // BOUNDED count tables (top-V vocab, top-M bigrams), score = one scan
      // + broadcast model joins + one doc-keyed shuffle whose partial
      // aggregation reduces token rows to doc rows map-side — wall ~linear,
      // shufW ~linear in DOCS (not tokens). The filter consumes avg_nll so
      // the scoring join cannot be pruned from the timed plan.
      "lm_score" -> (() => graft.operators.NgramLm.fitScore(docs, "text",
        Seq("doc_id"), vocabSize = 1000, minCount = 2L, maxBigrams = 100000)
        .filter(col("avg_nll") > 0.0).count()),
      // document chunking: one loop-codegen TokenChunks pass + explode —
      // zero shuffles, wall must grow ~linearly (count() cannot prune an
      // explode: the generator changes cardinality)
      "chunk" -> (() => graft.operators.Chunk.split(docs, "text",
        Seq("doc_id"), size = 128, overlap = 16).count()),
      // BPE: fit = ONE corpus scan into the capped word table + a driver
      // merge loop whose cost is corpus-independent; encode = one codegen
      // scan. The sum CONSUMES bpe_tokens (a bare count would prune the
      // whole expression out of the timed plan — the q_pack lesson)
      "bpe" -> (() => {
        val m = graft.operators.Bpe.fit(docs, "text", numMerges = 16,
          maxWords = 50000)
        graft.operators.Bpe.tokenize(docs, "text", Seq("doc_id"), m)
          .agg(sum(size(col("bpe_tokens")))).head().getLong(0)
      }),
      // time-series family: keys multiply with corpus size while per-key
      // stream length stays constant (the events synthesis contract), so
      // each op's ONE key-partitioned shuffle must grow linearly in ROWS
      // with flat per-key window work — no global ordering anywhere
      "time_asof" -> (() => graft.operators.AsofJoin.asof(
        ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts")),
        ev.filter(col("event_type") === "error"),
        on = Seq("user_id"), tsCol = "ts",
        payload = Seq("event_id" -> "ref_event_id"),
        rightTie = Seq("event_id"))
        .filter(col("ref_event_id").isNotNull).count()),
      "time_rolling" -> (() => graft.operators.TimeFeatures.rolling(
        ev, Seq("user_id"), "ts", windowUs = 21600000000L,
        aggs = Seq("roll_n" -> count(lit(1))))
        .filter(col("roll_n") > 1).count()),
      "time_resample" -> (() => graft.operators.TimeFeatures.resample(
        ev, Seq("user_id"), "ts", bucketUs = 86400000000L,
        valueCol = "value").count()),
      // EWMA (r8): same key-multiplying contract — ONE key shuffle + per-
      // key sort, O(rows) running-frame fold; the filter consumes the fold
      "time_ewma" -> (() => graft.operators.TimeFeatures.ewma(
        ev.filter(col("value").isNotNull), Seq("user_id"), "ts",
        Seq("event_id"), "value", alpha = 0.3)
        .filter(col("ewma") > 0.0).count()),
      // forward fill + lag block (r9): same contract — both ride the ONE
      // shared keyed sort; the filters consume the filled/lagged columns
      "time_ffill" -> (() => graft.operators.TimeFeatures.fillForward(
        ev.withColumn("value",
          when(col("event_type") === "click", lit(null))
            .otherwise(col("value"))),
        Seq("user_id"), "ts", Seq("event_id"), Seq("value"))
        .filter(col("value_ffill").isNotNull).count()),
      "time_lags" -> (() => graft.operators.TimeFeatures.lagFeatures(
        ev, Seq("user_id"), "ts", Seq("event_id"), "value", Seq(1, 3))
        .filter(col("value_lag_3").isNotNull).count()),
      // embedding PCA: fit = one melted mean aggregate + one Gram pass
      // (driver state = d x d, corpus-independent); transform = pure
      // CenterProject scan — wall ~linear, shufW ~flat (only the tiny
      // mean aggregate moves). The dot-sum consumes the projection.
      "embed_pca" -> (() => {
        val out = graft.operators.Embed.pca(emb, "embedding",
          Seq("vec_id"), k = 16)
        out.agg(sum(graft.functions.VecExprs.arrayDot(col("pca"), col("pca"))))
          .head().getDouble(0).toLong
      }),
      // duplicated-span signal: fingerprint scan + hash-keyed aggregate
      // (pre-collapsed per doc) + coverage explode on DUP windows only —
      // the 10x corpus has 10x more cross-copy duplication, so this one
      // legitimately grows superlinearly in FLAGGED rows while the
      // fingerprint/aggregate side stays linear; watch shufW vs rows
      "dup_spans" -> (() => graft.operators.DupSpans.stats(docs, "text",
        "doc_id", n = 16).filter(col("n_dup_windows") > 0).count()),
      // line-level boilerplate removal: 3 corpus-keyed shuffles with
      // map-side combine (line multiset, distinct-doc count, doc rebuild)
      // — wall and shufW must both grow ~linearly; the synthetic line
      // structure (8-token windows + per-shard header) mirrors q_boilerplate
      "boilerplate" -> (() => {
        val lines8 = transform(
          graft.functions.VecExprs.tokenChunks(col("text"), 8, 8),
          c => c.getField("chunk_text"))
        val multi = docs.select(col("doc_id"),
          concat(lit("s"), col("doc_id") % 8).as("src"),
          concat(lit("header of "), col("doc_id") % 8, lit("\n"),
            array_join(lines8, "\n")).as("text2"))
        graft.operators.Boilerplate.removeFrequentLines(multi, "text2",
          "doc_id", "src", minDocs = 5)
          .agg(sum(col("n_lines_removed"))).head().getLong(0)
      }),
      // semantic decontamination (r9): FIXED 200-vector benchmark
      // broadcast, Nx corpus side — wall must track the corpus scan and
      // shufW stay bounded by candidate hits (id-keyed best aggregate),
      // never corpus-sized. The count consumes the flag output.
      "decon_semantic" -> (() => {
        val bench1x = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .filter(col("vec_id") < 200)
        graft.operators.Decontaminate.semantic(
          emb, bench1x, "embedding", "vec_id", minCosine = 0.4)
          .filter(col("contaminated")).count()
      }),
      // tensor-ready pack rows (r9): the ONE corpus-shuffling hop of the
      // model-ready tail — collect_list moves the full token stream into
      // its packs (repartitioning into training shards IS a shuffle; no
      // way around it and no need for one). Wall and shufW must both grow
      // ~linearly in tokens, state stays pack-budget-bounded. The sum
      // consumes input_ids so the concat cannot be pruned.
      "pack_rows" -> (() => {
        val toked = docs
          .withColumn("toks", graft.functions.Text.tokens(col("text")))
          .withColumn("n_toks", size(col("toks")).cast(
            org.apache.spark.sql.types.LongType))
          .withColumn("src", concat(lit("s"), col("doc_id") % 64))
        val packed = graft.operators.Pack.sequences(toked, "n_toks",
          budget = 4096L, groupCol = "src", idCol = "doc_id")
        graft.operators.Pack.toTrainingRows(packed, "toks", "src",
            "doc_id", budget = 4096L)
          .agg(sum(size(col("input_ids")))).head().getLong(0)
      }),
      // persisted-index ingest rhythm (r9): build cost grows with the
      // corpus, but appending a FIXED 500-doc batch must be BATCH-shaped
      // at any index scale — didx_append runs right after didx_build in
      // the same suite and appends to the index it just laid out, so its
      // wall at 10x vs 1x is the claim under test (flat = append never
      // touches the accumulated corpus)
      "didx_build" -> (() => {
        val dir = java.nio.file.Files
          .createTempDirectory("graft_sr_didx").toString
        graft.operators.DedupIndex.write(docs, "text", "doc_id",
          "graft_sr_didx_scale", dir, numBuckets = 32)
        spark.table(graft.operators.DedupIndex
          .bandsTable("graft_sr_didx_scale")).count()
      }),
      "didx_append" -> (() => {
        val batch = spark.read.parquet(s"$sfDir/documents.parquet")
          .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
          .limit(500)
        graft.operators.DedupIndex.append(batch, "text", "doc_id",
          "graft_sr_didx_scale")
        500L
      }),
      // temperature mixing: one tiny per-source aggregate (the map-side
      // partial collapses to |sources| rows per partition), broadcast
      // rates, then a pure codegen'd filter scan — shufW must stay ~0 at
      // both scales (the rehearsal corpus gets a synthetic 8-way source)
      "mix_sources" -> (() => graft.operators.Mix.temperatureFlag(
        docs.withColumn("src", concat(lit("s"), col("doc_id") % 8)),
        "src", Seq("doc_id"), temperature = 2.0, targetFrac = 0.5)
        .filter(col("sampled")).count()),
      // BM25 standing index (r9): build = ONE corpus-token shuffle, once;
      // probing a FIXED 8-query workload costs ∝ postings of the query
      // terms (df grows with the corpus — candidate-linear, never a corpus
      // re-tokenize), and the df aggregate over the bucketed postings is
      // exchange-free (TextSearchSpec). Keep both names in any filter:
      // probe reads the index build just wrote.
      "bm25_index_build" -> (() => {
        val dir = java.nio.file.Files
          .createTempDirectory("graft_sr_bm25").toString
        graft.operators.TextSearch.buildIndex(docs, "text", "doc_id",
          "graft_sr_bm25", dir, numBuckets = 32)
        spark.table(graft.operators.TextSearch
          .postingsTable("graft_sr_bm25")).count()
      }),
      "bm25_probe" -> (() => {
        val qs = spark.read.parquet(s"$sfDir/documents.parquet")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id")).limit(8)
          .select(col("doc_id").as("q_id"),
            array_join(slice(graft.functions.Text.tokens(col("text")), 1, 6),
              " ").as("q_text"))
        graft.operators.TextSearch.probe(spark, "graft_sr_bm25",
          qs, "q_text", "q_id", k = 10).count()
      }),
      // RRF hybrid fusion (r10 task 6): both retrieval legs run against
      // the Nx corpus for a FIXED 8-query workload; fusion itself is
      // |queries|*k rows, so the cost must track the two legs (BM25
      // candidate postings + brute-force dots), never the fusion
      "rrf_fusion" -> (() => {
        val qs = spark.read.parquet(s"$sfDir/documents.parquet")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id")).limit(8)
          .select(col("doc_id").as("q_id"),
            array_join(slice(graft.functions.Text.tokens(col("text")), 1, 6),
              " ").as("q_text"))
        val lex = graft.operators.TextSearch.topk(docs, "text", "doc_id",
            qs, "q_text", "q_id", k = 10)
          .select(col("q_id"), col("doc_id"), col("rank"))
        val qVecs = emb.join(broadcast(qs.select(col("q_id"))),
          emb("vec_id") === col("q_id"), "left_semi")
        val sem = SimilaritySearch.bruteForceTopK(emb, qVecs,
            "embedding", "vec_id", k = 10)
          .select(col("query_id").as("q_id"),
            col("corpus_id").as("doc_id"), col("rank"))
        graft.operators.Retrieval.rrf(Seq(lex, sem), k = 10).count()
      }),
      // ranking eval (r10 task 6): metrics are computed on the k-bounded
      // result set joined to a FIXED 8-row truth frame — the eval stage's
      // own cost must stay constant while the retrieval leg scales
      "retrieval_eval" -> (() => {
        val qs = spark.read.parquet(s"$sfDir/documents.parquet")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id")).limit(8)
          .select(col("doc_id").as("q_id"),
            array_join(slice(graft.functions.Text.tokens(col("text")), 1, 6),
              " ").as("q_text"))
        val results = graft.operators.TextSearch.topk(docs, "text",
          "doc_id", qs, "q_text", "q_id", k = 10)
        graft.operators.Retrieval.evalRanking(results,
          qs.select(col("q_id"), col("q_id").as("doc_id")), k = 10).count()
      }),
      // quality classifier (r10): fit = two bounded-bucket aggregates on
      // FIXED 1x pos/neg slices, scoring = one zero-shuffle codegen scan
      // over the Nx corpus — the dsir_select shape with a verdict
      "quality_classifier" -> (() => {
        val base = spark.read.parquet(s"$sfDir/documents.parquet")
        graft.operators.Dsir.classifierFlag(docs, "text", "doc_id",
          pos = base.filter(col("doc_id") % 17 === 0),
          neg = base.filter(col("doc_id") % 17 =!= 0),
          nBuckets = 10000)
          .filter(col("quality_pred")).count()
      }),
      // epoch repetition (r10): one broadcast of the epoch table + one
      // explode scan — output-row-linear, zero shuffles at any scale
      "repeat_epochs" -> (() => {
        val d = docs.withColumn("src",
          concat(lit("s"), (col("doc_id") % 4).cast("string")))
        graft.operators.Mix.repeatEpochs(d, "src", Seq("doc_id"),
          Map("s0" -> 2.45, "s1" -> 0.6, "s2" -> 0.0)).count()
      }),
      // budgeted selection (r10): one range aggregate + one bins-bounded
      // histogram aggregate + a window over ONLY the boundary bin
      // (corpus/bins rows) — shufW must stay histogram-sized while the
      // corpus grows; the kept count consumes the verdict
      "token_budget" -> (() => {
        val toks = graft.functions.Text.tokens(coalesce(col("text"), lit("")))
        val scored = docs.select(col("doc_id"),
          size(toks).cast("long").as("cost"),
          (size(array_distinct(toks)).cast("double") /
            (size(toks).cast("double") + lit(1.0))).as("prio"))
        graft.operators.Budget.selectToBudget(scored, "cost", "prio",
          "doc_id", budget = 50000L).filter(col("kept")).count()
      }),
      // DSIR selection (r9): fit = two <=B-row hashed-bucket aggregates
      // against a FIXED 1x target slice (shufW flat in B while the raw
      // corpus grows), weights = zero-shuffle codegen scan over the array
      // literal, resample = TakeOrderedAndProject top-k — wall must track
      // the corpus scans, shufW stay ~flat. The count consumes the
      // selection so nothing prunes.
      "dsir_select" -> (() => {
        val target = spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(col("doc_id") % 17 === 0)
        val m = graft.operators.Dsir.fit(docs, target, "text",
          nBuckets = 10000)
        graft.operators.Dsir.resample(docs, "text", "doc_id", m,
          k = 1000).count()
      }),
      // budgeted selection under TIED priorities (r11): a binary flag
      // concentrates half the corpus in ONE histogram bin — the recursive
      // id-histogram descent must keep the exact-prefix window bounded
      // (maxBoundaryRows) and shufW histogram-sized at any corpus size;
      // before the r11 fix this shape was a single-task global-sort
      // window plus a corpus-sized broadcast
      "token_budget_tied" -> (() => {
        val toks = graft.functions.Text.tokens(coalesce(col("text"), lit("")))
        val scored = docs.select(col("doc_id"),
          size(toks).cast("long").as("cost"),
          (col("doc_id") % 3 === 0).cast("double").as("prio"))
        graft.operators.Budget.selectToBudget(scored, "cost", "prio",
            "doc_id", budget = 50000L, maxBoundaryRows = 4096L)
          .filter(col("kept")).count()
      }),
      // the full data recipe (r11): classifier gate -> leakage split ->
      // per-source budgets -> epoch repetition -> packing as ONE plan.
      // Stages 1/2/4 are scans (bounded broadcast state), stages 3/5 one
      // source-partitioned window each, plus one verdict checkpoint —
      // shufW must track the train-pool size (window inputs), never
      // explode, and wall must track the corpus scans
      "recipe_full" -> (() => {
        val base = spark.read.parquet(s"$sfDir/documents.parquet")
        val d = docs.withColumn("src",
          concat(lit("s"), (col("doc_id") % 4).cast("string")))
        graft.operators.Recipe.compose(d, "text", "doc_id", "src",
            pos = base.filter(col("doc_id") % 17 === 0),
            neg = base.filter(col("doc_id") % 17 =!= 0),
            budgets = Map("s0" -> 100000L, "s1" -> 50000L),
            epochs = Map("s0" -> 2.45, "s1" -> 0.6, "s3" -> 0.0),
            nBuckets = 10000, minMeanMicro = -1300000L)
          .filter(col("kept")).count()
      }),
      // nearest-centroid tagging (r9): fit on a FIXED 1x labeled seed
      // (|labels|*dim bounded state), classify = pure zero-shuffle scan —
      // wall ~linear, shufW only the tiny fit aggregate. The filter
      // consumes label_pred + cosine so the scan cannot be pruned.
      "classify_centroid" -> (() => {
        val seed = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .filter(col("vec_id") % 5 === 0)
        val m = graft.operators.Classify.fitCentroids(seed, "embedding",
          "label")
        graft.operators.Classify.classify(emb, "embedding", "vec_id", m)
          .filter(col("cosine") > -2.0 && col("label_pred").isNotNull)
          .count()
      }),
      // r12: per-group budget on a 90%-ONE-SOURCE pool — the dominant
      // web-crawl shape. The routed form (maxGroupRows=4096) MUST send the
      // mega-group through the histogram descent (require-asserted, with
      // the final exact window bounded); the _window twin runs the same
      // pool through the pure one-window plan for the measured contrast
      // (identical kept count by the spec-pinned equivalence — at
      // local[32] walls are similar, the difference is one task sorting
      // 90% of the pool vs bins-bounded scans, which is what matters at
      // 1000 executors)
      "budget_group_skew" -> (() => {
        val toks = graft.functions.Text.tokens(coalesce(col("text"), lit("")))
        val pool = docs.select(col("doc_id"),
          when(col("doc_id") % 10 < 9, lit("s0")).otherwise(lit("s1"))
            .as("src"),
          size(toks).cast("long").as("cost"),
          (size(array_distinct(toks)).cast("double") /
            (size(toks).cast("double") + lit(1.0))).as("prio"))
        val (res, diags) = graft.operators.Budget.selectToBudgetPerGroupDiag(
          pool, "src", "cost", "prio", "doc_id",
          Map("s0" -> 100000L, "s1" -> 20000L), maxGroupRows = 4096L)
        val n = res.filter(col("kept")).count()
        require(diags.contains("s0"),
          s"the 90% source must route through the descent, got $diags")
        require(diags.values.forall(_.windowRows <= (1L << 20)),
          s"descent window must stay bounded, got $diags")
        n
      }),
      "budget_group_skew_window" -> (() => {
        val toks = graft.functions.Text.tokens(coalesce(col("text"), lit("")))
        val pool = docs.select(col("doc_id"),
          when(col("doc_id") % 10 < 9, lit("s0")).otherwise(lit("s1"))
            .as("src"),
          size(toks).cast("long").as("cost"),
          (size(array_distinct(toks)).cast("double") /
            (size(toks).cast("double") + lit(1.0))).as("prio"))
        graft.operators.Budget.selectToBudgetPerGroup(
            pool, "src", "cost", "prio", "doc_id",
            Map("s0" -> 100000L, "s1" -> 20000L), maxGroupRows = Long.MaxValue)
          .filter(col("kept")).count()
      }),
      // r12: the full recipe on the same 90/10 skew with BOTH mega-source
      // defenses on (stage 3 auto-route at 4096, stage 5 packSubShards=8)
      // — shufW must track the train pool and wall the corpus scans, with
      // no single-task stage anywhere
      "recipe_skew" -> (() => {
        val base = spark.read.parquet(s"$sfDir/documents.parquet")
        val d = docs.withColumn("src",
          when(col("doc_id") % 10 < 9, lit("s0")).otherwise(lit("s1")))
        graft.operators.Recipe.compose(d, "text", "doc_id", "src",
            pos = base.filter(col("doc_id") % 17 === 0),
            neg = base.filter(col("doc_id") % 17 =!= 0),
            budgets = Map("s0" -> 100000L, "s1" -> 20000L),
            epochs = Map("s0" -> 1.45, "s1" -> 0.6),
            nBuckets = 10000, minMeanMicro = -1300000L,
            maxGroupRows = 4096L, packSubShards = 8)
          .filter(col("kept")).count()
      }),
      // r12: the ELEVEN-STAGE pipeline (sweepFull -> compose) as one run —
      // two checkpointed materializations, shufW = the curation shuffles
      // (fingerprint window, decon aggregate, id joins) + the train-pool
      // windows, never a corpus blowup
      "pipeline_full" -> (() => {
        val d = docs.withColumn("src",
          concat(lit("s"), (col("doc_id") % 4).cast("string")))
        // bench/corpus split on the ORIGINAL id (ids are orig + copy*1M
        // on the copies corpus; identical to doc_id at 1x): a split on
        // the raw id puts ~1/17 of every doc's COPIES into the bench, and
        // decontamination then CORRECTLY kills (16/17)^copies of the
        // corpus — at 100x that is 99.8%, the sweep keeps nothing, and
        // the run refuses (measured; the loud pipelineFull empty-sweep
        // guard fired). Real pipelines draw benchmarks from held-out
        // families, which is what the original-id split reproduces.
        val orig = pmod(col("doc_id"), lit(1000000L)) % 17
        graft.operators.Recipe.pipelineFull(
            d.filter(orig =!= 0),
            d.filter(orig === 0),
            "text", "doc_id", "src",
            budgets = Map("s0" -> 100000L, "s1" -> 50000L),
            epochs = Map("s0" -> 2.45, "s1" -> 0.6, "s3" -> 0.0),
            decontaminateN = 4, minMeanMicro = -1300000L)
          .filter(col("kept")).count()
      }),
      // r13: the per-stage verdict CENSUS of the same eleven-stage run —
      // one bounded aggregate over the output (sum of each stage flag),
      // printed so the funnel shape at Nx is a committed number; the
      // timed pipeline_full row above stays the perf claim
      "pipeline_census" -> (() => {
        val d = docs.withColumn("src",
          concat(lit("s"), (col("doc_id") % 4).cast("string")))
        val orig = pmod(col("doc_id"), lit(1000000L)) % 17
        val v = graft.operators.Recipe.pipelineFull(
          d.filter(orig =!= 0), d.filter(orig === 0),
          "text", "doc_id", "src",
          budgets = Map("s0" -> 100000L, "s1" -> 50000L),
          epochs = Map("s0" -> 2.45, "s1" -> 0.6, "s3" -> 0.0),
          decontaminateN = 4, minMeanMicro = -1300000L)
        val stages = Seq("quality_ok", "repetition_ok", "lm_ok",
          "exact_unique", "contaminated", "mix_sampled", "sweep_kept",
          "clf_ok", "budget_kept", "kept")
        val aggs = count(lit(1)).as("rows") +:
          stages.map(s => sum(col(s).cast("long")).as(s))
        val r = v.agg(aggs.head, aggs.tail: _*).head()
        println("[scale]      pipeline_census " +
          (("rows" +: stages).map(c => s"$c=${r.getAs[Any](c)}")
            .mkString(" ")))
        r.getLong(0)
      }),
      // r14: checkpoint RETENTION exercised at scale (r13 verdict task 5:
      // the rehearsal ran the census but never pruned, and a RECURRING
      // pipeline sharing a checkpointDir is the stated retention use
      // case). Two pipelineFull runs share one checkpointDir (one
      // curation + one recipe leaf each), prune to keepLast=1, assert
      // exactly the newest leaf PAIR survived (the families prune
      // independently, so the last run stays whole) and the older runs'
      // disk came back.
      "pipeline_prune" -> (() => {
        val ckpt = s"$outDir/pipeline_ckpt"
        def leafBytes(): Long = {
          val p = java.nio.file.Paths.get(ckpt)
          if (!java.nio.file.Files.exists(p)) 0L
          else {
            val s = java.nio.file.Files.walk(p)
            try s.filter(java.nio.file.Files.isRegularFile(_))
              .mapToLong(java.nio.file.Files.size(_)).sum()
            finally s.close()
          }
        }
        def run(): Long = {
          val d = docs.withColumn("src",
            concat(lit("s"), (col("doc_id") % 4).cast("string")))
          val orig = pmod(col("doc_id"), lit(1000000L)) % 17
          graft.operators.Recipe.pipelineFull(
              d.filter(orig =!= 0), d.filter(orig === 0),
              "text", "doc_id", "src",
              budgets = Map("s0" -> 100000L, "s1" -> 50000L),
              epochs = Map("s0" -> 2.45, "s1" -> 0.6, "s3" -> 0.0),
              decontaminateN = 4, minMeanMicro = -1300000L,
              checkpointDir = ckpt)
            .filter(col("kept")).count()
        }
        run()
        val n1 = run()
        def leaves(): Set[String] = new java.io.File(ckpt).listFiles()
          .map(_.getName).filter(_.contains("_verdicts_")).toSet
        val all = leaves()
        val before = leafBytes()
        val deleted = graft.operators.Curation.pruneCheckpoints(spark,
          ckpt, keepLast = 1)
        val after = leafBytes()
        // the embedded write stamp is zero-padded, so lexicographic max
        // per family IS the newest leaf — exactly what must survive
        val expect = all.groupBy(_.split("_verdicts_")(0))
          .values.map(_.max).toSet
        require(leaves() == expect && deleted.size == all.size - expect.size,
          s"prune mismatch: all=$all remain=${leaves()} deleted=$deleted")
        println(f"[scale]      pipeline_prune leaves=${all.size}%d " +
          f"deleted=${deleted.size}%d bytes ${before / 1e6}%.1f -> " +
          f"${after / 1e6}%.1f MB")
        n1
      })
    )

    def selected(docs: DataFrame, emb: DataFrame, ord: DataFrame,
                 ev: DataFrame, cust: DataFrame): Seq[(String, () => Long)] =
      queries(docs, emb, ord, ev, cust).filter { case (n, _) => only.forall(_.contains(n)) }

    def runSuite(label: String, docs: DataFrame, emb: DataFrame,
                 ord: DataFrame, ev: DataFrame, cust: DataFrame,
                 warm: Boolean): Unit = {
      // untimed warmup (codegen/JIT), same discipline as Bench — skipped at
      // 10x, where every query runs seconds-to-minutes and the one-off JIT
      // constant is noise (the 1x pass has already compiled the kernels)
      if (warm) selected(docs, emb, ord, ev, cust).foreach { case (_, f) =>
        f(); graft.Sessions.clearState(spark)
      }
      selected(docs, emb, ord, ev, cust).foreach { case (name, f) =>
        graft.Sessions.clearState(spark)
        val m = graft.obs.Collector.measure(spark)(f())
        println(f"[scale] $label%-4s $name%-22s ${m.wallS}%8.2f s  rows=${m.result}%-9d " +
          f"shufW=${m.shuffleWrite / 1e6}%9.1f MB shufR=${m.shuffleRead / 1e6}%9.1f MB")
      }
    }

    // families whose synthesis was skipped fall back to the 1x frames —
    // their queries are filtered out anyway
    val ev1 = graft.ops.Kernel.table(spark, sfDir, "events")
    val ev10 = if (needEvents) graft.ops.Kernel.table(spark, outDir, "events")
      else ev1
    runSuite("1x", docs1.select("doc_id", "text"),
      emb1.select("vec_id", "embedding"), ord1, ev1, cust1, warm = true)
    runSuite(s"${nCopies}x", nx("documents", docs1).select("doc_id", "text"),
      nx("embeddings", emb1).select("vec_id", "embedding"),
      nx("orders", ord1), ev10, nx("customer", cust1), warm = false)
    spark.stop()
  }
}
