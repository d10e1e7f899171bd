package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ByteType
import graft.ops.Stage

/** Persisted IVF/LSH ANN index — the embedding-side twin of
  * `DedupIndex`: the corpus' normalized vectors are laid out ONCE under
  * their multi-table hyperplane bucket keys as a bucketed+sorted external
  * parquet table, so every subsequent query batch joins its probe buckets
  * against a bucketed scan with ZERO Exchange on the corpus side
  * (plan-asserted in AnnIndexSpec). `SimilaritySearch.ivfTopK` re-derives
  * the corpus postings — normalize + hash + explode ×nTables — on every
  * call; at 100 TB that recomputation, and the shuffle it feeds, dwarfs
  * the probe itself. Here it is paid once per layout.
  *
  * Bucket keys, normalization, scoring and rank semantics are shared with
  * `ivfTopK` (`VecExprs.hyperplaneBuckets`, `Dedup.normalized`,
  * `SimilaritySearch.topK`), so probe output is bit-identical to the
  * one-shot path on the same corpus (pinned in AnnIndexSpec) and the same
  * DuckDB oracle applies.
  */
object AnnIndex {

  /** The LSH layout: one postings part bucketed by (tbl, bkt), carrying
    * the hashing geometry and quantization flag as properties.
    */
  val layout: StandingIndex.Layout = StandingIndex.Layout("postings",
    StandingIndex.Part("postings", Seq("tbl", "bkt")))

  /** Postings rows (tbl, bkt, corpus_id, cv) — or (…, qscale, qv) when
    * `quantize` — for a corpus under the given hashing geometry; shared by
    * `write` and `append` so appended rows hash exactly like the build.
    */
  private def postingsOf(corpus: DataFrame, vecCol: String, idCol: String,
                         planes: Int, nTables: Int,
                         quantize: Boolean): DataFrame = {
    import graft.functions.VecExprs
    val raw = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__v"))
    val normed = raw
      .repartition(graft.ops.Partitions.cpuSpread(raw), col("corpus_id"))
      .select(col("corpus_id"), Dedup.normalized(col("__v")).as("cv"))
    val keyed = normed
      .select(col("corpus_id"), col("cv"),
        posexplode(VecExprs.hyperplaneBuckets(col("cv"), nTables, planes)))
      .select(col("pos").as("tbl"), col("col").as("bkt"),
        col("corpus_id"), col("cv"))
    if (!quantize) keyed
    else {
      val scale = aggregate(col("cv"), lit(0.0),
        (acc, x) => greatest(acc, abs(x)))
      keyed
        .withColumn("qscale", scale)
        .select(col("tbl"), col("bkt"), col("corpus_id"), col("qscale"),
          transform(col("cv"), x =>
            round(x * lit(127.0) / col("qscale")).cast(ByteType)).as("qv"))
    }
  }

  /** Build (or rebuild) the postings index: (tbl, bkt, corpus_id, cv)
    * bucketed by (tbl, bkt). `numBuckets` sizes buckets for the CORPUS —
    * probes shuffle only the query batch to match it.
    *
    * `planesPerTable` <= 0 (the default) sizes the plane count from the
    * corpus via `Dedup.planesFor`: with a FIXED plane count, per-bucket
    * occupancy — and therefore every probe's candidate volume — grows
    * linearly with the corpus (the 10x rehearsal read 18.5 -> 181 MB of
    * probe shuffle at planes=4). The chosen geometry is persisted as
    * table properties, and `probe` reads it from there — the caller
    * cannot desynchronize probe hashing from the layout.
    *
    * `quantize = true` stores SQ8 postings: each normalized vector as
    * int8 codes (`qv` = round(cv * 127 / scale), `qscale` = max|cv_i|)
    * instead of the float64 array — 8x fewer vector bytes per posting
    * row, THE lever at 100 TB where the postings (×nTables) dominate
    * index storage and probe-side scan bytes. Probes score by asymmetric
    * distance (stored codes × full-precision query, `ArrayDotBytes`), so
    * quantization error enters once, not twice.
    */
  def write(corpus: DataFrame, vecCol: String, idCol: String, name: String,
            path: String, planesPerTable: Int = 0, nTables: Int = 16,
            numBuckets: Int = 32, quantize: Boolean = false): Unit = {
    val planes =
      if (planesPerTable > 0) planesPerTable
      else Dedup.planesFor(corpus.count())
    val postings = postingsOf(corpus, vecCol, idCol, planes, nTables, quantize)
    layout.write(corpus.sparkSession, name, path, numBuckets,
      Map("postings" -> postings), Seq("graft.planesPerTable" -> planes,
        "graft.nTables" -> nTables, "graft.quantized" -> quantize))
  }

  /** The standing-index lifecycle in one call — `TextSearch.ensureIndex`
    * for the LSH postings index: build/rebuild only when the stamped
    * content key plus build geometry does not match the corpus; reuse
    * otherwise. Returns true when it (re)built. The reuse policy is
    * `StandingIndex.Layout.ensure`'s: dir-backed corpora key on the
    * O(files) LISTING (see `IndexManifest`); non-scan plans fall back to the
    * precise `IndexManifest.rowsKey` ((id, vector) xxhash64 aggregate, no
    * tokenize), which is also the `precomputedKey` opt-in for ingest
    * loops tracking their manifest additively.
    *
    * Out-of-band `append`s deliberately do NOT update the key (appends
    * here mutate no table properties — that property-free contract is
    * spec-pinned for concurrent-append safety), so the next `ensure`
    * over the accumulated corpus rebuilds: wasteful, never stale.
    * SINGLE-WRITER per index name, like all `ensure*`.
    */
  def ensure(corpus: DataFrame, vecCol: String, idCol: String, name: String,
             path: => String, planesPerTable: Int = 0, nTables: Int = 16,
             numBuckets: Int = 32, quantize: Boolean = false,
             precomputedKey: Option[String] = None): Boolean =
    layout.ensure(corpus, name,
      s"annlsh:p$planesPerTable:t$nTables:b$numBuckets:q$quantize",
      Seq(idCol, vecCol), precomputedKey,
      IndexManifest.rowsKey(corpus, Seq(idCol, vecCol), _))(
      write(corpus, vecCol, idCol, name, path, planesPerTable, nTables,
        numBuckets, quantize))

  /** Append a new embedding batch to an existing postings index — the
    * accumulate-over-months half (`DedupIndex.append`'s embedding twin).
    * Hashing geometry AND quantization mode come from the index's own
    * table properties, so appended postings are laid out exactly like the
    * original build; appended rows land in new per-bucket files and probes
    * stay exchange-free on the index side.
    *
    * Concurrency: an append mutates NO table properties (geometry and
    * quantization are static; no corpus-stat counters), so concurrent
    * appends of DISJOINT batches are data-appends only and cannot corrupt
    * the geometry — no `TextSearch.append`-style stamp is needed
    * (spec-pinned in AnnIndexSpec).
    */
  def append(corpus: DataFrame, vecCol: String, idCol: String,
             name: String): Unit = {
    val (planes, tables, quantized) = geometry(corpus.sparkSession, name)
    layout.append(name, Map("postings" ->
      postingsOf(corpus, vecCol, idCol, planes, tables, quantized)))
  }

  /** The (planesPerTable, nTables, quantized) geometry persisted with the
    * index; an absent quantization flag reads false (indexes laid out
    * before the flag existed).
    */
  def geometry(spark: SparkSession, name: String): (Int, Int, Boolean) = {
    val p = layout.props(spark, name)
    (p("graft.planesPerTable").toInt, p("graft.nTables").toInt,
      p.get("graft.quantized").exists(_.toBoolean))
  }

  /** Top-k per query against the persisted postings; the bucket geometry
    * comes from the index's own table properties. Output schema and rank
    * semantics are exactly `ivfTopK`'s (query_id, rank, corpus_id,
    * cosine). The candidate join never broadcasts and never reshuffles
    * the corpus: the query batch shuffles to the index's bucket count.
    *
    * `allowed` (optional): FILTERED search — restrict matches to the ids
    * in this one-column frame (semi-join on the candidate set BEFORE
    * top-k, so k survivors are returned from within the subset). Because
    * LSH bucket keys are per-vector, filtering candidates is EXACTLY
    * equivalent to probing an index built on the allowed subset (pinned
    * in AnnIndexSpec) — the layout serves every slice of the corpus
    * without per-slice rebuilds. The filter frame is BROADCAST: filtered
    * search is for bounded allow-lists, and a broadcast semi-join leaves
    * the bucketed postings scan untouched. For a corpus-scale filter,
    * materialize the filtered corpus as its own index instead.
    */
  def probe(queries: DataFrame, vecCol: String, idCol: String, name: String,
            k: Int, allowed: Option[DataFrame] = None): DataFrame = {
    import graft.functions.VecExprs
    val spark = queries.sparkSession
    val (planes, tables, quantized) = geometry(spark, name)
    val q = queries
      .select(col(idCol).as("query_id"), Dedup.normalized(col(vecCol)).as("qv"))
      .select(col("query_id"), col("qv"),
        posexplode(VecExprs.hyperplaneBuckets(col("qv"), tables, planes)))
      .select(col("query_id"), col("qv"),
        col("pos").as("tbl"), col("col").as("bkt"))
    val postings = restricted(layout.scan(spark, name), allowed, true)
    // score before deduplicating multi-table hits, same rationale as
    // ivfTopK: once scored, the vectors drop out of the dedup shuffle.
    // SQ8 postings score by asymmetric distance: stored int8 codes
    // against the full-precision query vector, cosine ≈ qscale/127 * dot
    val cosine =
      if (quantized)
        round(col("qscale") / lit(127.0) *
          VecExprs.arrayDotBytes(col("qv"), col("qv_q")), 6)
      else round(VecExprs.arrayDot(col("cv"), col("qv_q")), 6)
    val scored = postings.join(q.withColumnRenamed("qv", "qv_q"),
        Seq("tbl", "bkt"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine", cosine)
      .groupBy(col("query_id"), col("corpus_id"))
      .agg(first(col("cosine")).as("cosine"))
    SimilaritySearch.topK(scored, k)
  }

  /** `table` semi-joined to the ids of the one-column `allowed` frame —
    * both families' filtered search — broadcast when `bcast`.
    */
  private def restricted(table: DataFrame, allowed: Option[DataFrame],
                         bcast: Boolean): DataFrame =
    allowed.fold(table) { a =>
      require(a.columns.length == 1,
        s"allowed must be a one-column id frame, got ${a.columns.mkString(", ")}")
      val ids = a.select(col(a.columns.head).as("corpus_id")).distinct()
      table.join(if (bcast) broadcast(ids) else ids, Seq("corpus_id"),
        "left_semi")
    }

  // ---------------------------------------------------------------------
  // Persisted trained-centroid IVF: the k-means twin of the LSH postings
  // layout. `writeKmeans` trains the deterministic k-means quantizer ONCE
  // (SimilaritySearch.kmeansCentroids), lays the cid-assigned corpus out
  // bucketed by cell, and stores the centroid table alongside — probes
  // re-read the trained centroids (bounded: kClusters x dim) instead of
  // re-training, and join their probed cells against a bucketed scan.
  // ---------------------------------------------------------------------

  /** The k-means IVF layout: cells bucketed by cell id, and the trained
    * centroid table (bounded: kClusters x dim) at one bucket.
    */
  val kmeansLayout: StandingIndex.Layout = StandingIndex.Layout("cells",
    StandingIndex.Part("cells", Seq("cid")),
    StandingIndex.Part("centroids", Seq("cid"), buckets = 1))

  /** Train + lay out the k-means IVF index. `kClusters <= 0` auto-sizes
    * to ~sqrt(corpus) (the IVF scaling — cell table and occupancy both
    * ~sqrt(n)). Training geometry is pinned by the stored centroid table
    * itself; probes cannot desynchronize from the layout.
    */
  def writeKmeans(corpus: DataFrame, vecCol: String, idCol: String,
                  name: String, path: String, kClusters: Int = 0,
                  iters: Int = 2, numBuckets: Int = 32): Unit = {
    val spark = corpus.sparkSession
    // staged for the count, the training scans and the cell write; the
    // written cells no longer read it
    Stage.scoped(SimilaritySearch.normalizedCorpus(corpus, vecCol, idCol)) { c =>
      val cents = SimilaritySearch.kmeansAuto(c, kClusters, iters)
      import spark.implicits._
      kmeansLayout.write(spark, name, path, numBuckets, Map(
        "cells" -> assignedTo(cents, c), "centroids" -> cents.toDF("cid", "cv")))
    }
  }

  /** `ensure` for the k-means IVF layout: content key (listing-derived
    * by default for dir-backed corpora, `IndexManifest.rowsKey`
    * otherwise — see `ensure`) plus the training geometry, stamped on
    * the cell table. Returns true when it (re)trained+built.
    * `appendKmeans` does not update the key (property-free appends), so
    * ensure after out-of-band appends rebuilds — which for IVF doubles
    * as the quantizer-drift reset. SINGLE-WRITER per index name, like
    * all `ensure*`.
    */
  def ensureKmeans(corpus: DataFrame, vecCol: String, idCol: String,
                   name: String, path: => String, kClusters: Int = 0,
                   iters: Int = 2, numBuckets: Int = 32,
                   precomputedKey: Option[String] = None): Boolean =
    kmeansLayout.ensure(corpus, name,
      s"annkm:k$kClusters:i$iters:b$numBuckets", Seq(idCol, vecCol),
      precomputedKey, IndexManifest.rowsKey(corpus, Seq(idCol, vecCol), _))(
      writeKmeans(corpus, vecCol, idCol, name, path, kClusters, iters,
        numBuckets))

  /** (cid, corpus_id, cv): each normalized row in its nearest cell. */
  private def assignedTo(cents: Seq[(Int, Seq[Double])],
                         c: DataFrame): DataFrame =
    c.withColumn("cid",
      element_at(SimilaritySearch.nearestCids(cents, col("cv"), 1), 1))
      .select(col("cid"), col("corpus_id"), col("cv"))

  /** The trained centroid table, collected (bounded: kClusters x dim). */
  private def centroids(spark: SparkSession,
                        name: String): Seq[(Int, Seq[Double])] =
    kmeansLayout.scan(spark, name, "centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
      .toSeq.sortBy(_._1)

  /** Append a new embedding batch to a persisted k-means IVF index:
    * assign the batch to the index's STORED centroids (no retraining —
    * the classic IVF insert) and append the assigned rows to the bucketed
    * cell table. The quantizer drifts from the true corpus centroids as
    * the corpus grows; rebuild with `writeKmeans` when recall degrades —
    * that tradeoff is IVF's, not this implementation's.
    */
  def appendKmeans(corpus: DataFrame, vecCol: String, idCol: String,
                   name: String): Unit =
    kmeansLayout.append(name, Map("cells" -> assignedTo(
      centroids(corpus.sparkSession, name),
      SimilaritySearch.normalizedCorpus(corpus, vecCol, idCol))))

  /** Top-k per query against the persisted cells: assign each query to
    * its `nProbe` nearest STORED centroids (no re-training — the
    * centroid table is a bounded kClusters x dim collect) and join on
    * cid against the bucketed cell scan. Output schema and semantics are
    * exactly `SimilaritySearch.kmeansIvfTopK`'s on the same geometry.
    *
    * `allowed` (optional): FILTERED search over the cells, same contract
    * as `probe`'s — cell assignment is per-vector, so filtering candidates
    * before top-k equals probing an index built on the subset trained on
    * the SAME centroids.
    */
  def probeKmeans(queries: DataFrame, vecCol: String, idCol: String,
                  name: String, k: Int, nProbe: Int = 8,
                  allowed: Option[DataFrame] = None): DataFrame = {
    import graft.functions.VecExprs
    val spark = queries.sparkSession
    val cents = centroids(spark, name)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__v"))
      .filter(col("__v").isNotNull)
      .select(col("query_id"), Dedup.normalized(col("__v")).as("qv"))
      .select(col("query_id"), col("qv"),
        explode(SimilaritySearch.nearestCids(cents, col("qv"), nProbe)).as("cid"))
    val scored = restricted(kmeansLayout.scan(spark, name), allowed, false)
      .join(q, Seq("cid"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine",
        round(VecExprs.arrayDot(col("cv"), col("qv")), 6))
    SimilaritySearch.topK(scored, k)
  }

  /** Live query stream against the persisted postings: probe each
    * micro-batch and hand its top-k frame to `sink` — the embedding twin
    * of `DedupIndex.probeStream`. Each micro-batch is a static frame
    * inside foreachBatch, so the probe is EXACTLY the batch `probe`
    * (same plan, zero index-side Exchange); all state lives in the index
    * layout, not in stream memory (`StandingIndex.probeStream`).
    */
  def probeStream(stream: DataFrame, vecCol: String, idCol: String,
                  name: String, k: Int)(
      sink: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.StreamingQuery =
    StandingIndex.probeStream(stream, None,
      probe(_, vecCol, idCol, name, k))(sink)
}
