package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The ONE standing-index lifecycle shared by every persisted index
  * family — BM25 (`TextSearch`), minhash-band dedup (`DedupIndex`), LSH
  * ANN and k-means IVF (`AnnIndex`). Each family keeps only what really
  * differs: its build body, its probe scorer and its append policy; the
  * reuse policy (content key → freshness check → build → verified stamp),
  * the ingest → compact rewrite and the micro-batch stream wrapper live
  * here, so a change to any of them is made once.
  *
  * Table convention: a family's index `name` is a set of bucketed tables
  * `<name>_<part>` laid out under `<path>/<part>` (`postings`, `lens`,
  * `bands`, `docs`, `cells`, `centroids`); the staleness key
  * (`IndexManifest`) is stamped on the family's primary table.
  *
  * Reference: skrub's `deduplicate` and retrieval are one-shot in-memory
  * calls; the payoff of a standing index is reusing persisted state across
  * a session's probes.
  */
object StandingIndex {

  /** Make sure `table`'s index holds EXACTLY `df`'s content under build
    * geometry `params`, running `build` only when it does not. Returns
    * true when it (re)built, false when the standing index was reused.
    *
    * The key is `precomputedKey` when given (an ingest loop's additive
    * running manifest — no scan, no listing), else the O(files) listing
    * key when `df` is a plain file scan (`IndexManifest.filesKeyOf` over
    * `cols`), else `preciseKey(params)` — the content aggregate
    * (`textKey`/`rowsKey`). See `IndexManifest` for the contract.
    *
    * Concurrency: SINGLE-WRITER per index name — check-then-act over a
    * metastore with last-write-wins property updates and no CAS, so two
    * sessions ensuring the same name race the layout path and a concurrent
    * probe can observe a half-rebuilt index. The post-stamp read-back
    * (`IndexManifest.stampVerified`) fails the common interleaving loudly;
    * the hard guarantee is the contract: one ensuring driver per standing
    * index, probes quiesced across a rebuild.
    */
  def ensure(df: DataFrame, table: String, params: String, cols: Seq[String],
             precomputedKey: Option[String], preciseKey: String => String)(
      build: => Unit): Boolean = {
    val spark = df.sparkSession
    val key = precomputedKey.getOrElse(
      IndexManifest.filesKeyOf(df, params, cols).getOrElse(preciseKey(params)))
    val fresh = spark.catalog.tableExists(table) &&
      IndexManifest.stored(spark, table).contains(key)
    if (!fresh) {
      build
      IndexManifest.stampVerified(spark, table, key)
    }
    !fresh
  }

  /** Compact an append-accumulated index into a fresh layout at `newPath`:
    * each table `<name>_<part>` is rewritten to `<newPath>/<part>` with one
    * sorted file per bucket (`Bucketize.compact`), its bucket spec and
    * graft.* properties carried over, so probes are plan- and result-
    * identical. Run it on the cadence the append-file count dictates.
    */
  def compact(spark: SparkSession, name: String, newPath: String,
              parts: String*): Unit =
    parts.foreach(p =>
      graft.sources.Bucketize.compact(spark, s"${name}_$p", s"$newPath/$p"))

  /** Run `probe` on each micro-batch of `stream` and hand the result to
    * `sink` (write, route away, alert — the caller's policy). Each
    * micro-batch is a static frame inside foreachBatch, so the probe is
    * EXACTLY the batch call — same plan, same zero index-side Exchange —
    * and all state lives in the persisted layout (or fitted model), never
    * in stream memory. No default `queryName`: Spark auto-assigns unique
    * ids, so any number of concurrent streams coexist.
    */
  def probeStream(stream: DataFrame, queryName: Option[String],
                  probe: DataFrame => DataFrame)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = stream.writeStream.outputMode("append")
    queryName.fold(w)(w.queryName)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(probe(batch), batchId)
      }
      .start()
  }
}
