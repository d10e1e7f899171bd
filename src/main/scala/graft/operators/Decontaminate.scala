package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VecExprs
import graft.ops.Stage

/** Benchmark decontamination: flag (or drop) training documents that share
  * any word n-gram with a held-out benchmark/evaluation corpus — the
  * standard "test-set contamination" sweep every large-scale training-data
  * pipeline runs before training (GPT-3 appendix C / PaLM-style 8-13-gram
  * overlap rules; the reference library has no distributed analogue — this
  * is part of graft's beyond-reference training-data surface, like
  * `Dedup`/`SimilaritySearch`).
  *
  * Shape at 100 TB: the benchmark side is SMALL by construction (eval sets
  * are MBs, not TBs), so its distinct n-gram set broadcasts; the training
  * side is one shingle scan + a map-side broadcast-hash join (no shuffle of
  * the corpus) and ONE groupBy(doc) aggregation whose input is bounded by
  * the corpus' shingle count. Nothing in the plan is quadratic and the
  * only wide exchange is keyed by doc id. If the benchmark ever outgrew
  * the broadcast limit, the same plan degrades gracefully to a shuffled
  * equi-join on the gram key — semantics unchanged.
  *
  * N-gram semantics are `Text.shingleSet` / `VecExprs.TokenShingles`
  * (normalized tokens, per-doc distinct, whole-text shingle for docs
  * shorter than n tokens) so a short benchmark line still contaminates its
  * exact copies.
  */
object Decontaminate {

  /** The benchmark's distinct n-gram set — compute ONCE (and persist, in a
    * long-lived session or a streaming job) and probe many training
    * frames/micro-batches against it with `flagAgainst`.
    */
  def gramSet(bench: DataFrame, textCol: String, n: Int = 8): DataFrame =
    bench
      .select(explode(VecExprs.tokenShingles(col(textCol), n)).as("gram"))
      .distinct()

  /** `(idCol, contaminated)` for every training row, against a
    * pre-computed `gramSet` frame. Works identically on a micro-batch
    * inside `foreachBatch`: the gram set is STATIC there, so the per-batch
    * cost is one batch scan + the broadcast join — independent of how much
    * history has streamed by (the incremental-ingestion contract).
    */
  def flagAgainst(train: DataFrame, benchGrams: DataFrame, textCol: String,
                  idCol: String, n: Int = 8): DataFrame =
    // TokenShingles emits >= 1 shingle for every non-null text, so the
    // explode cannot drop docs; null text -> no shingles -> explode_outer
    // keeps the row with a null gram (joins to nothing, contaminated=false).
    // NO broadcast() hint on the gram side: a forced hint would override
    // the size threshold and DIE on a benchmark suite beyond the 8 GB
    // broadcast cap — letting the planner (and AQE's runtime join
    // re-selection) decide is what makes the documented degradation to a
    // shuffled equi-join actually reachable. Small gram sets still
    // broadcast (asserted in PlanShapeSpec on the executed plan).
    train
      .select(col(idCol),
        explode_outer(VecExprs.tokenShingles(col(textCol), n)).as("gram"))
      .join(benchGrams.withColumn("__hit", lit(true)), Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(max(coalesce(col("__hit"), lit(false))).as("contaminated"))

  /** `(idCol, contaminated)` for every training row: true iff the doc
    * shares >= 1 word n-gram with `bench`.
    */
  def flag(train: DataFrame, bench: DataFrame, textCol: String,
           idCol: String, n: Int = 8): DataFrame =
    flagAgainst(train, gramSet(bench, textCol, n), textCol, idCol, n)

  /** ATTRIBUTED decontamination: not just "is this doc contaminated" but
    * BY WHICH benchmarks — the audit a leakage report needs ("this shard
    * leaks GSM8K, that one MMLU"). `bench` carries a benchmark name per
    * row (`benchCol`); output per training row: `contaminated`,
    * `benchmarks` (sorted distinct names hit, empty when clean) and
    * `n_benchmarks`. Same plan as `flag` with the name riding the gram
    * set: one corpus shingle scan, one (AQE-decidable) join, one
    * doc-keyed aggregate whose per-group state is bounded by the number
    * of DISTINCT benchmark names — eval suites are dozens of names, so
    * the collect_set is a bounded buffer, never corpus-proportional.
    */
  def attribute(train: DataFrame, bench: DataFrame, textCol: String,
                idCol: String, benchCol: String, n: Int = 8): DataFrame = {
    val grams = bench
      .select(col(benchCol).as("__bench"),
        explode(VecExprs.tokenShingles(col(textCol), n)).as("gram"))
      .distinct()
    train
      .select(col(idCol),
        explode_outer(VecExprs.tokenShingles(col(textCol), n)).as("gram"))
      .join(grams, Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("__bench"))).as("benchmarks"))
      .withColumn("contaminated", size(col("benchmarks")) > 0)
      .withColumn("n_benchmarks", size(col("benchmarks")).cast(
        org.apache.spark.sql.types.LongType))
  }

  /** Bloom-filter flagging — the 100 TB shape. The join path broadcasts
    * the gram set as a hash-join table (~60-80 bytes/gram with strings and
    * join plumbing); a full benchmark *suite* can reach 10^8 distinct
    * grams, pushing that broadcast toward Spark's 8 GB hard cap. A Bloom
    * filter at the default fpp=1e-6 is ~3.6 bytes/gram — ~20x smaller —
    * and turns the corpus side into a PURE SCAN: per row one `AnyInBloom`
    * loop with early exit, no explode, no join, no shuffle AT ALL (the
    * join path still shuffles the doc-keyed aggregate).
    *
    * Error contract is one-sided: no false negatives (every truly
    * contaminated doc is flagged), false positives COMPOUND per probed
    * gram — a clean doc with g grams flips with probability ~ g*fpp, so
    * fpp must be sized against document gram counts, not row counts
    * (fpp=0.01 would wrongly flag ~1/3 of 40-gram docs; 1e-6 keeps even
    * 10k-gram documents at ~1% doc-level FP). Over-dropping a few clean
    * docs is the cheap direction for decontamination; run the exact
    * `flag` on the bloom-flagged subset to reclaim them when they matter.
    */
  def flagBloom(train: DataFrame, bench: DataFrame, textCol: String,
                idCol: String, n: Int = 8, fpp: Double = 1e-6): DataFrame = {
    // staged across the two benchmark-side passes (size job + bloom
    // aggregate) so the bench scan + distinct shuffle runs once, then
    // released — the filter bytes are the only state that outlives the fit
    val bytes = Stage.scoped(gramSet(bench, textCol, n)) { grams =>
      val expected = math.max(grams.count(), 1L)
      val bloom = grams.stat.bloomFilter("gram", expected, fpp)
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    train.select(col(idCol),
      coalesce(VecExprs.anyInBloom(
        VecExprs.tokenShingles(col(textCol), n), bytes), lit(false))
        .as("contaminated"))
  }

  /** Training rows with every contaminated doc removed. */
  def clean(train: DataFrame, bench: DataFrame, textCol: String,
            idCol: String, n: Int = 8): DataFrame =
    train.join(
      flag(train, bench, textCol, idCol, n).filter(col("contaminated"))
        .select(col(idCol)),
      Seq(idCol), "left_anti")

  /** SPAN-level decontamination (r12): excise the LEAKING SPANS instead of
    * dropping whole documents — the surgical policy for long training docs
    * that quote an eval item in passing (dropping a 50k-token page over
    * one leaked question wastes the page; keeping it verbatim leaks). A
    * corpus token is removed iff it sits inside an n-token window whose
    * exact normalized content also occurs in the benchmark; coverage is
    * the union over all matching windows, and `clean_text` is rebuilt from
    * the surviving tokens (the `DupSpans.remove` machinery — same
    * codegen merge-walk rebuild, same output contract:
    * (idCol, n_tokens, n_removed, clean_text)).
    *
    * Window-exact by construction: benchmark items SHORTER than n tokens
    * produce no n-token window and are invisible to the scrub — they
    * remain `flag`/`clean` territory (whole-doc policy). The two compose:
    * scrub first, then flag what still overlaps at the whole-doc rule.
    *
    * Scale shape: the benchmark window-hash set is eval-sized (AQE
    * broadcasts it — same no-forced-hint discipline as `flagAgainst`);
    * the corpus pays ONE window-fingerprint scan and a semi-join; the
    * coverage aggregate is contamination-bounded; the rebuild join is
    * id-keyed. Zero corpus-sized shuffles.
    */
  def scrubSpans(train: DataFrame, bench: DataFrame, textCol: String,
                 idCol: String, n: Int = 8): DataFrame =
    scrubSpansAgainst(train, windowHashSet(bench, textCol, n), textCol,
      idCol, n)

  /** The benchmark's distinct n-token-window fingerprint set — the
    * `gramSet` twin for span scrubbing: compute ONCE (persist in a
    * long-lived session or a streaming job) and scrub many training
    * frames/micro-batches against it with `scrubSpansAgainst`.
    */
  def windowHashSet(bench: DataFrame, textCol: String, n: Int): DataFrame =
    bench.select(explode(
      VecExprs.tokenWindowHashes(col(textCol), n)).as("__h")).distinct()

  /** `scrubSpans` against a pre-computed `windowHashSet` frame — the
    * micro-batch form (`flagAgainst`'s contract: the hash set is STATIC
    * inside `foreachBatch`, so per-batch cost is one batch scan + the
    * broadcast semi-join, independent of streamed history).
    */
  def scrubSpansAgainst(train: DataFrame, benchHashes: DataFrame,
                        textCol: String, idCol: String,
                        n: Int = 8): DataFrame = {
    val hits = train.select(col(idCol).as("__id"),
        posexplode(VecExprs.tokenWindowHashes(col(textCol), n))
          .as(Seq("__pos", "__h")))
      .join(benchHashes, Seq("__h"), "leftsemi")
      .select(col("__id"), col("__pos"))
    DupSpans.rebuildWithout(train, textCol, idCol, hits, n)
  }

  /** SEMANTIC decontamination (r9): flag corpus items whose EMBEDDING is
    * within `minCosine` of a benchmark embedding — the paraphrase-level
    * leakage the n-gram rule cannot see (a reworded eval question shares
    * no 8-gram with the original). Candidates come from the same
    * multi-table hyperplane LSH as the ANN family (a corpus item is only
    * compared against benchmarks sharing a bucket, so recall follows the
    * table/plane geometry — the measured ~0.9 at 16×4); the benchmark
    * side is broadcast (eval suites are small by construction), so the
    * corpus side is ONE pure scan + one id-keyed best aggregate — zero
    * corpus-sized shuffles at any scale.
    *
    * Output: one row per corpus item — (idCol, contaminated, bench_id,
    * cosine); bench_id/cosine are the best (highest-cosine, ties to the
    * smallest bench id) match, null when clean.
    */
  def semantic(corpus: DataFrame, bench: DataFrame, vecCol: String,
               idCol: String, minCosine: Double = 0.9,
               planesPerTable: Int = 4, nTables: Int = 16,
               maxBench: Long = 1000000L): DataFrame = {
    import graft.functions.VecExprs
    val c = corpus.select(col(idCol), col(vecCol))
      .filter(col(vecCol).isNotNull)
      .select(col(idCol), Dedup.normalized(col(vecCol)).as("__nv"))
    val b = bench.select(col(idCol).as("bench_id"), col(vecCol))
      .filter(col(vecCol).isNotNull)
      .select(col("bench_id"), Dedup.normalized(col(vecCol)).as("__bv"))
    // the benchmark side is broadcast ×nTables — guard it LOUDLY (the
    // gramSet discipline) instead of letting a mis-aimed "bench" frame
    // OOM executors; flip the arguments or raise the cap deliberately
    val nBench = b.limit(math.min(maxBench + 1, Int.MaxValue).toInt).count()
    require(nBench <= maxBench,
      s"bench side has more than $maxBench embeddings — semantic " +
        "decontamination broadcasts the benchmark; point the SMALL frame " +
        "at `bench` (or raise maxBench deliberately)")
    val bPost = b
      .select(col("bench_id"), col("__bv"),
        posexplode(VecExprs.hyperplaneBuckets(col("__bv"), nTables,
          planesPerTable)))
      .select(col("pos").as("tbl"), col("col").as("bkt"),
        col("bench_id"), col("__bv"))
    val cPost = c
      .select(col(idCol), col("__nv"),
        posexplode(VecExprs.hyperplaneBuckets(col("__nv"), nTables,
          planesPerTable)))
      .select(col(idCol), col("__nv"), col("pos").as("tbl"),
        col("col").as("bkt"))
    val best = cPost.join(broadcast(bPost), Seq("tbl", "bkt"))
      .withColumn("__cos",
        round(VecExprs.arrayDot(col("__nv"), col("__bv")), 6))
      .filter(col("__cos") >= minCosine)
      // best match as a bounded struct-min (no window): highest cosine,
      // ties to the smallest bench id; abs() normalizes -0.0
      .groupBy(col(idCol))
      .agg(min(struct((-col("__cos")).as("nj"),
        col("bench_id").as("b"))).as("best"))
      .select(col(idCol), col("best.b").as("bench_id"),
        abs(col("best.nj")).as("cosine"))
    corpus.select(col(idCol)).join(best, Seq(idCol), "left")
      .select(col(idCol), col("bench_id").isNotNull.as("contaminated"),
        col("bench_id"), col("cosine"))
  }
}
