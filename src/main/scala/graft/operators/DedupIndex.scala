package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Persisted minhash-LSH dedup index — the incremental-ingestion half of
  * the 100 TB dedup story, beyond the reference (skrub's `deduplicate`,
  * skrub/_deduplicate.py:15-285, is a one-shot in-memory call over a
  * complete corpus). A training-data pipeline accumulates its corpus over
  * months and must answer "is anything in this NEW batch a near-duplicate
  * of anything already ingested?" per ingest, without rescanning — or
  * reshuffling — the accumulated corpus.
  *
  * `write` lays the corpus' banded minhash signatures and shingle sets out
  * ONCE as bucketed+sorted external parquet (`graft.sources.Bucketize`):
  * the bands table bucketed by band key, the docs table bucketed by doc id.
  * Every subsequent `probe` then joins batch bands to index bands and the
  * surviving candidates to the index shingle docs with ZERO Exchange on the
  * index side (asserted by plan in DedupIndexSpec) — only the batch moves,
  * so probe cost is O(batch · bands), independent of corpus size. Band
  * keys, signatures and the exact-jaccard verify reuse the same expressions
  * as `Dedup.minhashLshPairs` (`Dedup.bandExprs`, `VecExprs.minhashSig`,
  * `VecExprs.tokenShingles`), so the index is oracle-reproducible in SQL.
  */
object DedupIndex {

  /** The dedup layout: band keys bucketed by band (carrying the shingle /
    * band geometry as properties) and shingle sets bucketed by doc id.
    */
  val layout: StandingIndex.Layout = StandingIndex.Layout("bands",
    StandingIndex.Part("bands", Seq("band")),
    StandingIndex.Part("docs", Seq("id")))

  /** The layout's rows for a corpus side: `bands` (id, band) null-free and
    * `docs` (id, shingles). The raw text is CPU-spread before hashing for
    * the same reason as minhashLshPairs: signature cost is per-character,
    * not per-byte-split.
    */
  private def parts(df: DataFrame, textCol: String, idCol: String, n: Int,
                    rowsPerBand: Int, nBands: Int): Map[String, DataFrame] = {
    val raw = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(textCol).as("__text"))
    val spread = raw.repartition(graft.ops.Partitions.cpuSpread(raw), col("id"))
    val shingles = graft.functions.VecExprs.tokenShingles(col("__text"), n)
    val docs = spread.select(col("id"), shingles.as("shingles"))
    val sigs = spread.select(col("id"),
      graft.functions.VecExprs.minhashSig(shingles, rowsPerBand * nBands).as("sig"))
    val bands = sigs.select(col("id"),
        explode(array(Dedup.bandExprs(col("sig"), rowsPerBand, nBands): _*)).as("band"))
      .filter(col("band").isNotNull)
    Map("bands" -> bands, "docs" -> docs)
  }

  /** Build (or rebuild) the index for `df` under catalog name `name`,
    * storing external parquet below `path`. `numBuckets` sizes both tables'
    * bucket count — pick it for the CORPUS scale (buckets of a few hundred
    * MB), since probes shuffle only the batch to match it. The shingle /
    * band geometry is persisted as table properties and `probe` reads it
    * from there — the caller cannot desynchronize batch hashing from the
    * layout.
    */
  def write(df: DataFrame, textCol: String, idCol: String, name: String,
            path: String, n: Int = 3, rowsPerBand: Int = 2, nBands: Int = 8,
            numBuckets: Int = 32): Unit =
    layout.write(df.sparkSession, name, path, numBuckets,
      parts(df, textCol, idCol, n, rowsPerBand, nBands), Seq("graft.n" -> n,
        "graft.rowsPerBand" -> rowsPerBand, "graft.nBands" -> nBands))

  /** The standing-index lifecycle in one call — `TextSearch.ensureIndex`
    * for the minhash-band dedup index: build/rebuild only when the
    * stamped content key plus the shingle/band geometry does not match
    * the corpus; reuse otherwise. Returns true when it (re)built.
    * The reuse policy is `StandingIndex.Layout.ensure`'s: dir-backed
    * corpora key on the O(files) LISTING (see `IndexManifest`); non-scan
    * plans fall back to the precise manifest aggregate
    * (`IndexManifest.textKey`), which is also the `precomputedKey` opt-in
    * for in-place same-size mutations and for ingest loops tracking their
    * manifest additively.
    *
    * Out-of-band `append`s deliberately do NOT update the key (appends
    * here mutate no table properties — spec-pinned for concurrent-append
    * safety), so the next `ensure` over the accumulated corpus rebuilds:
    * wasteful, never stale.
    *
    * SINGLE-WRITER per index name, like all `ensure*`.
    */
  def ensure(df: DataFrame, textCol: String, idCol: String, name: String,
             path: => String, n: Int = 3, rowsPerBand: Int = 2, nBands: Int = 8,
             numBuckets: Int = 32,
             precomputedKey: Option[String] = None): Boolean =
    layout.ensure(df, name,
      s"mhband:n$n:r$rowsPerBand:nb$nBands:b$numBuckets", Seq(textCol, idCol),
      precomputedKey, IndexManifest.textKey(df, textCol, _))(
      write(df, textCol, idCol, name, path, n, rowsPerBand, nBands, numBuckets))

  /** Append a new ingest batch to an existing index — the accumulate-
    * over-months half of the story (`write` once, then per ingest: `probe`
    * the batch, route duplicates away, `append` the survivors). The
    * shingle/band geometry comes from the index's OWN table properties, so
    * appended rows hash exactly like the original layout — the caller
    * cannot desynchronize the index against itself. Appended rows land in
    * new per-bucket files: probes stay exchange-free on the index side.
    * The caller is responsible for id uniqueness across ingests (probe +
    * route-away gives it naturally).
    *
    * Concurrency: unlike `TextSearch.append`, an append here mutates NO
    * table properties — the shingle/band geometry is static and there are
    * no corpus-stat counters — so concurrent appends of DISJOINT batches
    * are data-appends only and cannot corrupt the geometry (spec-pinned
    * in DedupIndexSpec). Serializing appends is still the sane ingest
    * shape, but nothing here depends on it for correctness.
    */
  def append(df: DataFrame, textCol: String, idCol: String,
             name: String): Unit = {
    val (n, rowsPerBand, nBands) = geometry(df.sparkSession, name)
    layout.append(name, parts(df, textCol, idCol, n, rowsPerBand, nBands))
  }

  /** The (n, rowsPerBand, nBands) geometry persisted with the index. */
  def geometry(spark: SparkSession, name: String): (Int, Int, Int) = {
    val p = layout.props(spark, name)
    (p("graft.n").toInt, p("graft.rowsPerBand").toInt, p("graft.nBands").toInt)
  }

  /** Best near-duplicate already in the index for each batch doc:
    * (id, match_id, jaccard) — highest exact jaccard >= `minJaccard` among
    * band-collision candidates, ties to the smallest match_id; batch docs
    * with no match emit no row. The shingle / band geometry comes from the
    * index's own table properties. The two index joins read bucketed
    * scans — no Exchange on the index side; the aggregate is a bounded
    * per-id best, map-side combined.
    */
  def probe(batch: DataFrame, textCol: String, idCol: String, name: String,
            minJaccard: Double = 0.4): DataFrame = {
    val spark = batch.sparkSession
    val (n, rowsPerBand, nBands) = geometry(spark, name)
    val b = parts(batch, textCol, idCol, n, rowsPerBand, nBands)
    val iBands = layout.scan(spark, name)
      .select(col("band"), col("id").as("match_id"))
    val cand = b("bands").join(iBands, Seq("band"))
      .select(col("id"), col("match_id")).distinct()
    val iDocs = layout.scan(spark, name, "docs")
      .select(col("id").as("match_id"), col("shingles").as("sh_i"))
    val verified = cand
      .join(b("docs"), Seq("id"))
      .join(iDocs, Seq("match_id"))
      .withColumn("n_common", size(array_intersect(col("shingles"), col("sh_i"))))
      .withColumn("jaccard", col("n_common").cast(DoubleType) /
        (size(col("shingles")) + size(col("sh_i")) - col("n_common")).cast(DoubleType))
      .filter(col("jaccard") >= minJaccard)
    // best match as a bounded struct-min aggregate (no window sort): struct
    // ordering on (negated jaccard, match_id) gives highest-jaccard,
    // smallest-id; abs() normalizes the negated zero of a 0.0 jaccard
    verified.groupBy(col("id"))
      .agg(min(struct((-col("jaccard")).as("nj"), col("match_id").as("m"))).as("best"))
      .select(col("id"), col("best.m").as("match_id"),
        round(abs(col("best.nj")), 6).as("jaccard"))
  }

  /** Live incremental ingestion: probe each micro-batch of a stream
    * against the persisted index and hand the per-batch matches to `sink`
    * (write them, route dups away, alert — the caller's policy). Each
    * micro-batch is a static frame inside foreachBatch, so the probe is
    * EXACTLY the batch `probe` — same plan, same zero index-side Exchange,
    * and state lives in the index layout, not in stream memory
    * (`StandingIndex.probeStream`).
    */
  def probeStream(stream: DataFrame, textCol: String, idCol: String,
                  name: String, minJaccard: Double = 0.4)(
      sink: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.StreamingQuery =
    StandingIndex.probeStream(stream, None,
      probe(_, textCol, idCol, name, minJaccard))(sink)
}
