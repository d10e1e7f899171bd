package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.ops.Stage

/** The end-to-end training-data curation sweep — the composition every
  * large-scale pipeline runs before training, as ONE declarative plan:
  *
  *   1. quality gate     (`TextAnalysis.qualityFeatures.quality_ok`)
  *   2. repetition gate  (`TextAnalysis.repetitionFeatures.repetition_ok`)
  *   3. exact dedup      (keep the minimum id per content fingerprint)
  *   4. decontamination  (drop docs sharing a word n-gram with `bench`)
  *
  * Each stage is individually hash-verified by its own registered query;
  * this operator proves they COMPOSE — the stages share one scan of the
  * corpus (both gates and the fingerprint are column expressions on the
  * same pass), the dedup verdict is ONE fingerprint-partitioned window
  * over that pass (keeper = min id among gate survivors in the
  * fingerprint group — a conditional min, so no second scan and no
  * survivor-aggregate-plus-join-back), and decontamination adds its one
  * gram probe + doc-keyed aggregate. Nothing quadratic, nothing
  * driver-side: two corpus scans (gates/fingerprint branch, gram probe)
  * and three corpus-keyed shuffles — the fingerprint window, the
  * decontamination doc aggregate, and the id equi-join that aligns the
  * two branches (AQE broadcasts it on small verdict frames; at full
  * scale it is an honest sort-merge join on the id).
  *
  * Output: one row per INPUT doc with the per-stage verdicts and the
  * final `kept` flag — the auditable form (a pipeline that only returns
  * survivors cannot answer "why did doc X disappear?"). Filter on `kept`
  * for the survivor frame.
  *
  * `decontaminateN` follows `Decontaminate.flag`'s default (8, the
  * published GPT-3/PaLM-style window) — one knob, one default; the
  * registered query passes 4 explicitly for this short-doc corpus.
  */
object Curation {

  /** `scoreCol` (r13): empty = keep the SMALLEST ID per content group
    * (the original policy); a column name = keep the BEST-SCORED copy
    * (ties → smallest id) — the FineWeb-standard quality-aware keeper,
    * composed into the sweep so byte-equal pages differing in sidecar
    * metadata (crawl freshness, source trust) keep the best copy. Same
    * ONE fingerprint window either way: `min_by` is declarative like
    * `min`, so the plan shape is unchanged — only the window's ordering
    * struct differs. Scores must be non-null (loud guard, the
    * `Dedup.exactKeepBest` contract).
    */
  def sweep(docs: DataFrame, bench: DataFrame, textCol: String,
            idCol: String, decontaminateN: Int = 8,
            scoreCol: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gateCols = Seq(col(idCol), col("quality_ok"), col("repetition_ok"),
      col("__fp")) ++ (if (scoreCol.isEmpty) Nil else Seq(col(scoreCol)))
    val gated = TextAnalysis.repetitionFeatures(
        TextAnalysis.qualityFeatures(docs, textCol), textCol)
      .withColumn("__fp", Text.contentFingerprint(col(textCol)))
      .select(gateCols: _*)
    // exact dedup among docs that survive both gates: min id (or best
    // score) per fingerprint wins; gated-out docs are not dedup candidates
    // (they are already gone) and must not claim a fingerprint from a kept
    // doc. Conditional min over the fingerprint window: groups whose every
    // doc failed a gate get a null keeper -> exact_unique false via
    // coalesce (min_by skips rows whose ordering struct is null, so the
    // gate condition rides the same window).
    val gatesOk = col("quality_ok") && col("repetition_ok")
    val w = Window.partitionBy(col("__fp"))
    val keeper =
      if (scoreCol.isEmpty) min(when(gatesOk, col(idCol))).over(w)
      else min_by(col(idCol), when(gatesOk,
        struct(negate(Dedup.guardedScore(col(scoreCol), "sweep")),
          col(idCol)))).over(w)
    val deduped = gated
      .withColumn("exact_unique", coalesce(col(idCol) === keeper, lit(false)))
      .select(col(idCol), col("quality_ok"), col("repetition_ok"),
        col("exact_unique"))
    val contaminated = Decontaminate.flag(docs, bench, textCol, idCol,
      n = decontaminateN)
    deduped.join(contaminated, Seq(idCol))
      .withColumn("kept",
        col("quality_ok") && col("repetition_ok") && col("exact_unique") &&
          !col("contaminated"))
  }

  /** Content-addressed corpus MANIFEST — the identity a training run
    * records next to its config so "which data was this, exactly?" has a
    * checkable answer: ONE bounded aggregate row
    * (n_docs, n_tokens, content_hash), where content_hash is the
    * order-independent 60-bit sum (mod 2^60, exact DECIMAL accumulation)
    * of per-doc content fingerprints (`Text.contentFingerprint` — case/
    * whitespace-normalized md5). Two corpora produce the same manifest
    * iff they hold the same MULTISET of contents and token mass,
    * regardless of row order, partitioning, or file layout; a single
    * changed/added/dropped document changes the hash. Zero-shuffle scan +
    * one aggregate at any corpus size.
    */
  def manifest(df: DataFrame, textCol: String): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    val fp60 = conv(substring(Text.contentFingerprint(text), 1, 15), 16, 10)
      .cast("long")
    df.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(size(Text.tokens(text))
          .cast(org.apache.spark.sql.types.LongType)), lit(0L)).as("n_tokens"),
        coalesce(pmod(sum(fp60.cast(
            org.apache.spark.sql.types.DecimalType(38, 0))),
          lit(1152921504606846976L)), lit(0L)).cast("long").as("__h"))
      .select(col("n_docs"), col("n_tokens"),
        lpad(lower(hex(col("__h"))), 15, "0").as("content_hash"))
  }

  /** Manifests are ADDITIVE over disjoint batches: the identity of an
    * append-accumulated corpus is the field-wise combination of its
    * ingests' manifests — so a streaming loop keeps a running manifest at
    * zero extra scans (combine each micro-batch's). Spec-pinned:
    * manifest(a ∪ b) == combine(manifest(a), manifest(b)).
    */
  def combineManifests(a: (Long, Long, String),
                       b: (Long, Long, String)): (Long, Long, String) = {
    val h = (java.lang.Long.parseLong(a._3, 16) +
      java.lang.Long.parseLong(b._3, 16)) % 1152921504606846976L
    (a._1 + b._1, a._2 + b._2, f"$h%015x")
  }

  /** Content-addressed diff of two corpus snapshots — the dataset-
    * versioning primitive next to `manifest`: which docs were added,
    * removed, or changed between yesterday's corpus and today's. Matching
    * is by `idCol`; change detection uses the same normalized content
    * fingerprint the manifest sums (`Text.contentFingerprint`), so
    * formatting-only edits that normalize away count as `unchanged` —
    * exactly the identity the dedup/decontamination stages key on. Null
    * text fingerprints as the empty string (the manifest's rule).
    *
    * CONTRACT: `idCol` must be unique within each snapshot — the diff is
    * keyed on it, and a duplicated id fans the full-outer join out into
    * multiple conflicting status rows for that id (the corpus-versioning
    * use case has unique doc ids by construction; run exact dedup first
    * if yours does not). Verify cheaply when unsure:
    * `df.groupBy(idCol).count.filter(col("count") > 1)`.
    *
    * Returns one row per id present in EITHER snapshot:
    * (idCol, status in {added, removed, changed, unchanged}, old_fp,
    * new_fp). Counts per status are one groupBy away; a per-source
    * breakdown rides along if the caller selects source into `idCol`'s
    * frame first.
    *
    * Scale shape: one fingerprint scan per side (nothing doc-text-sized
    * survives past the scan — the join carries 32-hex fingerprints), then
    * ONE id-keyed full outer join (AQE handles skew; ids are unique per
    * side so no fan-out). No windows, no driver state.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    def fp(df: DataFrame, out: String) = df.select(col(idCol).as("__id"),
      Text.contentFingerprint(coalesce(col(textCol), lit(""))).as(out))
    fp(oldDf, "old_fp").join(fp(newDf, "new_fp"), Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") === col("new_fp"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("old_fp"), col("new_fp"))
  }

  /** DATASET CARD (beyond reference — the release artifact a curation run
    * ships with its corpus): retention totals, per-stage pass rates, and
    * the per-source funnel (docs → curated → sampled, with mix rates),
    * rendered as self-contained markdown from ONE bounded aggregate over
    * the verdict frame (global + per-source rows — |sources|+1 rows ever
    * leave the executors). Feed it `sweepFull`'s output.
    */
  def datasetCard(verdicts: DataFrame, sourceCol: String,
                  title: String = "Dataset card"): String = {
    val stages = Seq("quality_ok", "repetition_ok", "lm_ok", "exact_unique",
      "mix_sampled", "kept")
    def aggs(prefix: String) =
      count(lit(1)).as(s"${prefix}n") +:
        (stages.map(s => sum(col(s).cast("long")).as(s"$prefix$s")) :+
          sum((!col("contaminated")).cast("long")).as(s"${prefix}clean") :+
          round(avg(col("rate")), 6).as(s"${prefix}rate"))
    val g = verdicts.agg(aggs("g_").head, aggs("g_").tail: _*).collect()(0)
    val perSource = verdicts.groupBy(col(sourceCol))
      .agg(aggs("s_").head, aggs("s_").tail: _*)
      .orderBy(col(sourceCol)).collect()
    val n = g.getAs[Long]("g_n").toDouble
    def pct(x: Long) = f"${100.0 * x / math.max(1.0, n)}%.1f%%"
    val sb = new StringBuilder
    sb ++= s"# $title\n\n"
    sb ++= f"Documents in: ${n.toLong}%d — kept: ${g.getAs[Long]("g_kept")}%d " +
      s"(${pct(g.getAs[Long]("g_kept"))})\n\n"
    sb ++= "## Stage pass rates\n\n| stage | passed | rate |\n|---|---|---|\n"
    (stages.filterNot(_ == "kept").map(s => s -> g.getAs[Long](s"g_$s")) :+
      ("not_contaminated" -> g.getAs[Long]("g_clean"))).foreach {
      case (s, v) => sb ++= s"| $s | $v | ${pct(v)} |\n"
    }
    sb ++= "\n## Sources\n\n| source | docs | curated survivors sampled | " +
      "kept | mean mix rate |\n|---|---|---|---|---|\n"
    perSource.foreach { r =>
      sb ++= s"| ${r.getAs[String](sourceCol)} | ${r.getAs[Long]("s_n")} | " +
        s"${r.getAs[Long]("s_mix_sampled")} | ${r.getAs[Long]("s_kept")} | " +
        s"${Option(r.getAs[Any]("s_rate")).getOrElse("—")} |\n"
    }
    sb.toString
  }

  /** Checkpoint-leaf RETENTION made real (r13; the retention scaladocs
    * used to end at "prune the directory between runs"): delete all but
    * the newest `keepLast` per-run verdict leaves under `checkpointDir`,
    * PER FAMILY — `curation_verdicts_*` and `recipe_verdicts_*` are
    * pruned independently, because one `Recipe.pipelineFull` run writes
    * one leaf of EACH and `keepLast = 1` must keep that run whole. A
    * recurring 100 TB pipeline sharing a checkpointDir otherwise
    * accumulates one narrow-row-per-doc parquet per run forever. (The
    * `recipe_input_verdicts_*` stage leaf `pipelineFull` writes is deleted
    * before it returns; one left by a crashed run prunes as its own family.)
    *
    * Only call between runs: a pruned leaf invalidates any STILL-LIVE
    * frame returned by the run that wrote it (reads are lazy — the
    * documented retention contract). Driver-side file-listing only
    * (Hadoop FileSystem, so HDFS/S3A paths work); returns the deleted
    * leaf paths, newest-first within each family.
    *
    * "Newest" is read from the SORTABLE WRITE TIMESTAMP embedded in the
    * leaf name (`*_verdicts_<millis13>_<uuid>.parquet` — stamped by
    * `sweepFull`/`Recipe.compose` at write time), NOT the directory
    * mtime: S3A directory statuses carry synthetic mtimes (0 or
    * listing-time), under which every leaf would tie and the UUID
    * tiebreak would delete an arbitrary one — possibly the leaf the
    * caller meant to keep (ADVICE r13). Legacy leaves without the stamp
    * fall back to mtime (fine on HDFS/local, where mtimes are real).
    */
  def pruneCheckpoints(spark: org.apache.spark.sql.SparkSession,
                       checkpointDir: String,
                       keepLast: Int = 1): Seq[String] = {
    require(keepLast >= 0, "keepLast must be non-negative")
    val root = new org.apache.hadoop.fs.Path(checkpointDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val leaves = fs.listStatus(root).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isDirectory && n.contains("_verdicts_") && n.endsWith(".parquet")
    }
    // the stamp is exactly 13 digits (zero-padded millis, good until
    // 2286) followed by '_'; an 8-char legacy uuid segment can never
    // parse as one, so legacy names unambiguously take the mtime path
    def writeTime(st: org.apache.hadoop.fs.FileStatus): Long = {
      val rest = st.getPath.getName.split("_verdicts_", 2)(1)
      val head = rest.takeWhile(_.isDigit)
      if (head.length == 13 && rest.lift(13).contains('_')) head.toLong
      else st.getModificationTime
    }
    leaves.groupBy(_.getPath.getName.split("_verdicts_")(0)).toSeq
      .flatMap { case (_, fam) =>
        // equal write stamps (same-millisecond concurrent runs — the case
        // the uuid suffix exists for) break ties by name DESCENDING, so
        // the kept leaf is the lexicographic max: deterministic, and the
        // same leaf a name-ordered listing calls newest (ADVICE r14)
        fam.sortBy(st => (-writeTime(st), st.getPath.getName))(
            Ordering.Tuple2(Ordering.Long, Ordering.String.reverse))
          .drop(keepLast)
      }
      .map { st => fs.delete(st.getPath, true); st.getPath.toString }
  }

  /** The FULL sweep: `sweep`'s four stages plus the two model-driven ones —
    * an LM-perplexity gate (`NgramLm` fit on the input corpus itself;
    * `lm_ok` = avg_nll <= `lmMaxNll`, the CCNet-style "drop the most
    * surprising tail" cut) and temperature source mixing over the curated
    * survivors (`Mix`; rates are computed from SURVIVOR counts per source —
    * mixing an uncurated census would misweight sources whose docs die in
    * the gates). Stage order is deliberate: the exact-dedup keeper is still
    * chosen among quality+repetition survivors (as in `sweep` — the LM
    * verdict is an independent per-doc gate like decontamination, so it
    * cannot reassign keepers), and mixing is last because its rates depend
    * on every earlier verdict.
    *
    * Cost over `sweep`: the LM fit's two bounded-output scans + one scoring
    * scan with a doc-keyed aggregate, the id joins aligning the verdict
    * branches, and mixing's per-source aggregate (tiny). The combined
    * verdict frame feeds mixing twice (rate fit + flag join), so it is
    * materialized once as an owned stage (`Stage.owned`) — to parquet under
    * `checkpointDir` when provided (the lineage-free phase discipline a
    * 100 TB run wants), else stored with its lineage — one narrow row per
    * doc, the same discipline as the semantic-dedup verdicts — instead of
    * re-running the whole sweep per consumer.
    *
    * Output: one row per input doc — idCol, sourceCol, the six stage
    * verdicts, the audit payloads (avg_nll, mix rate) and final `kept`.
    */
  def sweepFull(docs: DataFrame, bench: DataFrame, textCol: String,
                idCol: String, sourceCol: String, decontaminateN: Int = 8,
                lmVocabSize: Int = 20000, lmMinCount: Long = 2L,
                lmMaxBigrams: Int = 1000000, lmMaxNll: Double = 7.0,
                mixTemperature: Double = 2.0, mixTargetFrac: Double = 0.5,
                seed: Long = 42L, checkpointDir: String = "",
                dedupScoreCol: String = ""): DataFrame = {
    val base = sweep(docs, bench, textCol, idCol, decontaminateN,
        dedupScoreCol)
      .withColumnRenamed("kept", "__base_kept")
    val model = NgramLm.fit(docs, textCol, vocabSize = lmVocabSize,
      minCount = lmMinCount, maxBigrams = lmMaxBigrams)
    val lm = NgramLm.score(model, docs, textCol, Seq(idCol))
      .select(col(idCol), col("avg_nll"))
    // The verdict frame feeds mixing twice; materialize it once. With a
    // `checkpointDir` it goes to PARQUET (the phase discipline a 100 TB
    // pipeline wants: lineage-free, recoverable under executor loss, and
    // not held in executor storage memory); without one it is stored in
    // the block manager with its lineage, recomputed if a block is lost.
    //
    // RETENTION: the per-run leaf is NEVER auto-deleted — the returned
    // frame reads it lazily for its whole lifetime, so deleting after this
    // call would corrupt every downstream consumer. Repeated sweeps
    // sharing a checkpointDir therefore accumulate one verdict frame per
    // run; call `pruneCheckpoints(spark, dir, keepLast)` between runs
    // (each leaf is one narrow row per doc, and the per-run UUID naming
    // keeps concurrent or retried sweeps from clobbering each other's
    // verdict parquet mid-read and makes pruning safe while a run is live).
    val curated = Stage.owned(base
      .join(lm, Seq(idCol))
      .join(docs.select(col(idCol), col(sourceCol)), Seq(idCol))
      .withColumn("lm_ok", coalesce(col("avg_nll") <= lmMaxNll, lit(false)))
      .withColumn("curated", col("__base_kept") && col("lm_ok"))
      .drop("__base_kept"), "Curation.sweepFull", checkpointDir, "curation")
    // the LM model's two stages are read only by `lm`, which `curated`
    // has materialized: free them now rather than when the ContextCleaner
    // collects the model
    Stage.release(model.vocab, model.bigrams)
    val mixed = Mix.temperatureFlag(
        curated.filter(col("curated")).select(col(idCol), col(sourceCol)),
        sourceCol, Seq(idCol), mixTemperature, mixTargetFrac, seed)
      .select(col(idCol), col("rate"), col("sampled"))
    curated.join(mixed, Seq(idCol), "left")
      .withColumn("mix_sampled", coalesce(col("sampled"), lit(false)))
      .withColumn("kept", col("curated") && col("mix_sampled"))
      .select(col(idCol), col(sourceCol), col("quality_ok"),
        col("repetition_ok"), col("lm_ok"), col("exact_unique"),
        col("contaminated"), col("avg_nll"), col("rate"),
        col("mix_sampled"), col("kept"))
  }
}
