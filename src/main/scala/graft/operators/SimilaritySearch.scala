package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Stage

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — the QUERY side is broadcast (queries
  * are few), the corpus is scanned once; per-partition the work is a dense
  * dot-product loop, and the global top-k is a single shuffle of k rows per
  * query. This shape survives 100 TB: no corpus self-join, no global sort.
  *
  * Scale path: `ivfTopK` — k-means-style coarse quantizer (here: deterministic
  * hyperplane buckets, same as Dedup.embeddingLshPairs) restricts each query
  * to matching buckets before the exact re-rank.
  */
object SimilaritySearch {

  /** Hard cap on the brute-force query side: beyond this the broadcast
    * cross product is a scale bug, not a baseline — `ivfTopK` is the path.
    */
  val MaxBruteForceQueries = 10000L

  /** Exact top-k by cosine for each query vector. `queries` must be small
    * (broadcast; enforced via `MaxBruteForceQueries` — one count job):
    * this is the quadratic VERIFICATION baseline, large query sides must
    * route to `ivfTopK`. Ties broken by corpus id ascending for
    * determinism.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
                     idCol: String, k: Int): DataFrame = {
    val nQ = queries.count()
    require(nQ <= MaxBruteForceQueries,
      s"bruteForceTopK: $nQ query rows > $MaxBruteForceQueries — the " +
        "broadcast cross product is quadratic; use ivfTopK for large query sides")
    // repartition with an explicit count so the scoring loop is spread over
    // every core — the corpus usually arrives as one parquet split, and the
    // whole O(corpus x queries) dot-product loop would otherwise run inside
    // the scan's single task
    val raw = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__v"))
    val c = raw.repartition(graft.ops.Partitions.cpuSpread(raw), col("corpus_id"))
      .select(col("corpus_id"), Dedup.normalized(col("__v")).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), Dedup.normalized(col(vecCol)).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine",
        round(graft.functions.VecExprs.arrayDot(col("cv"), col("qv")), 6))
    topK(scored, k)
  }

  /** Global top-k per query WITHOUT a window: the window form range-
    * shuffles EVERY candidate score to sort it, while minKBy keeps a
    * bounded k-element buffer per query with map-side partial aggregation,
    * so only k rows per (query, partition) ever reach the shuffle. Rank
    * order (cosine desc, corpus_id asc) matches the previous window
    * ordering exactly via the (negated-cosine, corpus_id) sort key.
    */
  private[operators] def topK(scored: DataFrame, k: Int): DataFrame =
    // null cosines (null corpus vectors) are dropped, never ranked: the
    // struct sort key would order null fields FIRST, so without the filter a
    // null-vector corpus row would occupy ranks 1..k instead of being
    // excluded (the replaced window form sorted cosine DESC = NULLS LAST)
    scored.filter(col("cosine").isNotNull)
      .groupBy(col("query_id"))
      .agg(graft.functions.AggExprs.minKBy(
        struct(negate(col("cosine")).as("nc"), col("corpus_id").as("corpus_id"),
          col("cosine").as("cosine")), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast(LongType).as("rank"),
        col("t.corpus_id").as("corpus_id"), col("t.cosine").as("cosine"))

  /** IVF/LSH ANN: corpus vectors are indexed under `nTables` independent
    * hyperplane-sign bucket keys (multi-table LSH — single-bucket probe=1
    * recall was ~0.2 on the fixture, banding amplifies it to ~0.9+,
    * measured by q_ann_recall); each query probes its own bucket in every
    * table, candidates are deduplicated and exactly re-ranked. Cost per
    * query ~ nTables * |corpus| / 2^planesPerTable candidate rows — the
    * scan reduction vs brute force survives because candidates, not the
    * corpus, are scored. Same output schema as brute force.
    */
  /** Query sides above this row count are never broadcast: a million-query
    * batch (the realistic training-data shape — query set ≈ corpus) blows
    * the broadcast limit, so the candidate join falls back to a shuffle
    * equi-join on (tbl, bkt), which scales to any query count.
    */
  val MaxBroadcastQueries = 100000L

  def ivfTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
              idCol: String, k: Int, planesPerTable: Int = 4,
              nTables: Int = 16,
              maxBroadcastQueries: Long = MaxBroadcastQueries): DataFrame = {
    import graft.functions.VecExprs
    // bucket ids via the custom loop-codegen expression (see VecExprs); no
    // persists — each posting frame has exactly ONE consumer (the scored
    // join / its broadcast build)
    val raw = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__v"))
    val c = raw
      // explicit-count repartition: spread the normalize + bucket hashing
      // over every core instead of the scan's single split (CPU, not
      // bytes); size-gated so small corpora don't pay full-width overhead
      .repartition(graft.ops.Partitions.cpuSpread(raw), col("corpus_id"))
      .select(col("corpus_id"), Dedup.normalized(col("__v")).as("cv"))
      .select(col("corpus_id"), col("cv"),
        posexplode(VecExprs.hyperplaneBuckets(col("cv"), nTables, planesPerTable)))
      .select(col("corpus_id"), col("cv"),
        col("pos").as("tbl"), col("col").as("bkt"))
    val q = queries.select(col(idCol).as("query_id"), Dedup.normalized(col(vecCol)).as("qv"))
      .select(col("query_id"), col("qv"),
        posexplode(VecExprs.hyperplaneBuckets(col("qv"), nTables, planesPerTable)))
      .select(col("query_id"), col("qv"),
        col("pos").as("tbl"), col("col").as("bkt"))
    // score BEFORE deduplicating the multi-table candidate hits: the dot
    // product is codegen'd and cheap, and once scored the vectors drop out
    // of the row — the dedup shuffle then carries (ids, cosine) instead of
    // two full vectors per row, with map-side combine collapsing the up-to-
    // nTables duplicate hits per pair before they ever hit the wire
    // (a distinct() here shuffled and hash-compared whole arrays)
    // small query sides broadcast (one count job to decide — honest row
    // count, not a plan-stats guess: filter estimates don't shrink
    // sizeInBytes without CBO); large ones shuffle-join on (tbl, bkt) —
    // both sides are already keyed by bucket, so the join stays an equi
    // shuffle with per-bucket locality and no driver-side materialization
    val nQ = queries.count()
    val qSide = if (nQ <= maxBroadcastQueries) broadcast(q) else q
    val scored = c.join(qSide, Seq("tbl", "bkt"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine", round(VecExprs.arrayDot(col("cv"), col("qv")), 6))
      .groupBy(col("query_id"), col("corpus_id"))
      .agg(first(col("cosine")).as("cosine"))
    topK(scored, k)
  }

  // ---------------------------------------------------------------------
  // Trained-centroid IVF: k-means coarse quantizer (the classic IVF-flat
  // shape — FAISS-style cell-probe, but trained on the data instead of
  // data-independent hyperplane signs). Data-adaptive cells track the
  // corpus' actual density, so recall per candidate scanned beats LSH
  // when the embedding distribution is clustered (the common case for
  // real encoder output).
  // ---------------------------------------------------------------------

  /** The centroid argmin/arg-top-nProbe as ONE codegen'd expression:
    * an array of (round(dist2, 6), cid) structs — struct ordering is
    * (distance, then cid), exactly `ORDER BY d2, cid` — sorted, sliced to
    * `nProbe`, projected to cid. Rounding the distance makes the argmin
    * reproducible in the DuckDB oracle despite float summation-order
    * differences. Everything stays inside whole-stage codegen
    * (ArrayDist2 is a loop-codegen expression, array_sort on a bounded
    * k-element array is cheap).
    */
  private[graft] def nearestCids(cents: Seq[(Int, Seq[Double])], v: Column,
                          nProbe: Int): Column =
    graft.functions.VecExprs.nearestCells(v, cents.map(_._1),
      cents.map(_._2), nProbe)

  /** The built-in compositional form of `nearestCids` — an array of
    * per-centroid (round(dist2, 6), cid) structs, sorted and sliced.
    * Kept ONLY as the semantic pin for the loop expression (DedupSpec
    * asserts equality on the fixture): it plans one literal subtree per
    * centroid, which falls out of codegen at auto-sized cell counts.
    */
  private[graft] def nearestCidsComposed(cents: Seq[(Int, Seq[Double])],
                                             v: Column, nProbe: Int): Column = {
    val dists = array(cents.map { case (cid, ctr) =>
      struct(round(graft.functions.VecExprs.arrayDist2(v, typedLit(ctr)), 6)
        .as("d"), lit(cid).as("cid"))
    }: _*)
    transform(slice(array_sort(dists), 1, nProbe),
      x => x.getField("cid").cast(IntegerType))
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** (corpus_id, cv): the non-null vectors, CPU-spread and normalized. */
  private[operators] def normalizedCorpus(corpus: DataFrame, vecCol: String,
                                          idCol: String): DataFrame = {
    val raw = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__v"))
      .filter(col("__v").isNotNull)
    raw.repartition(graft.ops.Partitions.cpuSpread(raw), col("corpus_id"))
      .select(col("corpus_id"), Dedup.normalized(col("__v")).as("cv"))
  }

  /** `kmeansCentroids` with `kClusters <= 0` auto-sized to ~sqrt(corpus)
    * cells, at least 16 (one count job). */
  private[operators] def kmeansAuto(c: DataFrame, kClusters: Int,
                                    iters: Int): Seq[(Int, Seq[Double])] =
    kmeansCentroids(c, if (kClusters > 0) kClusters
      else math.max(16, math.sqrt(c.count().toDouble).toInt), iters)

  /** Deterministic k-means over a (corpus_id, cv)-shaped frame of
    * normalized vectors: init = the `kClusters` vectors ranking first by
    * md5(id) (a seedless pseudo-random sample any engine reproduces),
    * then `iters` Lloyd steps. Every centroid coordinate is rounded to 6
    * decimals after init/averaging and every assignment distance to 6
    * before the argmin, so the trained quantizer is bit-reproducible in
    * the DuckDB oracle. Clusters that lose all members are dropped (not
    * re-seeded). Per iteration: one assignment scan + one (cid, dim)-
    * keyed avg — map-side combined to kClusters*dim partial rows per
    * task — and a kClusters*dim driver collect: linear in the corpus,
    * constant driver state.
    */
  def kmeansCentroids(c: DataFrame, kClusters: Int,
                      iters: Int): Seq[(Int, Seq[Double])] = {
    var cents: Seq[(Int, Seq[Double])] = c
      .orderBy(md5(col("corpus_id").cast(StringType)), col("corpus_id"))
      .limit(kClusters).select(col("cv")).collect().toSeq.zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Double](0).map(round6) }
    for (_ <- 1 to iters) {
      val assigned = c.withColumn("cid",
        element_at(nearestCids(cents, col("cv"), 1), 1))
      val rows = assigned
        .select(col("cid"), posexplode(col("cv")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("m"))
        .collect()
      cents = rows.groupBy(_.getInt(0)).map { case (cid, rs) =>
        cid -> rs.sortBy(_.getInt(1)).map(r => round6(r.getDouble(2))).toSeq
      }.toSeq.sortBy(_._1)
    }
    cents
  }

  /** IVF-flat ANN with a trained k-means quantizer: the corpus is
    * assigned to its nearest centroid cell, each query probes its
    * `nProbe` nearest cells, and candidates are exactly re-ranked — same
    * output schema and rank semantics as `ivfTopK`/`bruteForceTopK`.
    * `kClusters <= 0` auto-sizes cells to ~sqrt(corpus) (bounded below at
    * 16) so per-cell occupancy and the cell table BOTH stay ~sqrt(n) as
    * the corpus grows — the standard IVF scaling. The candidate join is
    * an equi-join on cid: small query sides broadcast, large ones
    * shuffle on cid (same guard as `ivfTopK`); the corpus is never
    * re-shuffled by the join when it is already cid-clustered.
    */
  def kmeansIvfTopK(corpus: DataFrame, queries: DataFrame, vecCol: String,
                    idCol: String, k: Int, kClusters: Int = 0,
                    nProbe: Int = 4, iters: Int = 2,
                    maxBroadcastQueries: Long = MaxBroadcastQueries): DataFrame = {
    // training + assignment + probe re-scan the normalized corpus
    // (iters + 2 passes); an owned stage fills it once. At true
    // 100 TB scale the persisted layout (AnnIndex) is the right home for
    // the assigned corpus — this one-shot path mirrors ivfTopK's contract.
    val c = Stage.owned(normalizedCorpus(corpus, vecCol, idCol),
      "SimilaritySearch.kmeansIvfTopK")
    val cents = kmeansAuto(c, kClusters, iters)
    val cAssigned = c.withColumn("cid",
      element_at(nearestCids(cents, col("cv"), 1), 1))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__v"))
      .filter(col("__v").isNotNull)
      .select(col("query_id"), Dedup.normalized(col("__v")).as("qv"))
      .select(col("query_id"), col("qv"),
        explode(nearestCids(cents, col("qv"), nProbe)).as("cid"))
    val nQ = queries.count()
    val qSide = if (nQ <= maxBroadcastQueries) broadcast(q) else q
    // each corpus row lives in exactly ONE cell and a query's probed cells
    // are distinct, so a (query, corpus) pair arises at most once — no
    // dedup aggregate needed, unlike the multi-table LSH join
    val scored = cAssigned.join(qSide, Seq("cid"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine",
        round(graft.functions.VecExprs.arrayDot(col("cv"), col("qv")), 6))
    topK(scored, k)
  }
}
