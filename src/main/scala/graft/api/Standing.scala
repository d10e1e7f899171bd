package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{AnnIndex, DedupIndex, IndexManifest, TextSearch}

/** Java-typed facade over the STANDING-INDEX lifecycle for non-Scala
  * bindings — PySpark via `spark._jvm.graft.api.Standing`, Java, and
  * copy-paste spark-shell blocks (VERDICT r14 task 5: ensure* and probe
  * were JVM-only Scala signatures; the expression registry was
  * SQL-reachable but the lifecycle was not).
  *
  * Every parameter here is a plain JVM type: no Scala default arguments
  * (py4j cannot elide them), no `Option` (py4j cannot construct one), no
  * by-name `path` (compiles to `Function0`, unconstructible from
  * Python). The `path` passed here is therefore EAGER — hand it a plain
  * directory string, not an expression with side effects; the underlying
  * ensure* still only touches it on a (re)build.
  *
  * The `*Keyed` variants take an explicit `precomputedKey` (see
  * `IndexManifest`) — the ingest-loop/100 TB path where the caller
  * tracks its corpus manifest additively and staleness validation costs
  * one table-property read. Keys for that path come from `filesKey` /
  * `textKey` / `rowsKey` / `combineKeys` below.
  *
  * Each family's storage is its `StandingIndex.Layout` (`TextSearch.layout`,
  * `DedupIndex.layout`, `AnnIndex.layout`, `AnnIndex.kmeansLayout`): the
  * `compact*` calls are the layout's compact, and the table `storedKey`
  * reads is the layout's primary table — `<name>_postings` for BM25 and
  * LSH ANN, `<name>_bands` for dedup, `<name>_cells` for k-means IVF.
  *
  * Executed end-to-end from a real pyspark process by
  * `tools/pyspark_registry_check.py` (part 4) against a Scala-driven
  * reference dump, and from Scala by QuickstartSpec — both drive exactly
  * this object.
  */
object Standing {

  // ---- BM25 text retrieval (TextSearch) ----

  def ensureText(df: DataFrame, textCol: String, idCol: String,
                 name: String, path: String, numBuckets: Int): Boolean =
    TextSearch.ensureIndex(df, textCol, idCol, name, path, numBuckets)

  def ensureTextKeyed(df: DataFrame, textCol: String, idCol: String,
                      name: String, path: String, numBuckets: Int,
                      precomputedKey: String): Boolean =
    TextSearch.ensureIndex(df, textCol, idCol, name, path, numBuckets,
      Some(precomputedKey))

  def probeText(spark: SparkSession, name: String, queries: DataFrame,
                qTextCol: String, qIdCol: String, k: Int): DataFrame =
    TextSearch.probe(spark, name, queries, qTextCol, qIdCol, k)

  def appendText(df: DataFrame, textCol: String, idCol: String,
                 name: String): Unit =
    TextSearch.append(df, textCol, idCol, name)

  def repairText(spark: SparkSession, name: String): Unit =
    TextSearch.repair(spark, name)

  def compactText(spark: SparkSession, name: String, newPath: String): Unit =
    TextSearch.layout.compact(spark, name, newPath)

  // ---- minhash-band near-dup index (DedupIndex) ----

  def ensureDedup(df: DataFrame, textCol: String, idCol: String,
                  name: String, path: String, n: Int, rowsPerBand: Int,
                  nBands: Int, numBuckets: Int): Boolean =
    DedupIndex.ensure(df, textCol, idCol, name, path, n, rowsPerBand,
      nBands, numBuckets)

  def ensureDedupKeyed(df: DataFrame, textCol: String, idCol: String,
                       name: String, path: String, n: Int, rowsPerBand: Int,
                       nBands: Int, numBuckets: Int,
                       precomputedKey: String): Boolean =
    DedupIndex.ensure(df, textCol, idCol, name, path, n, rowsPerBand,
      nBands, numBuckets, Some(precomputedKey))

  def probeDedup(batch: DataFrame, textCol: String, idCol: String,
                 name: String, minJaccard: Double): DataFrame =
    DedupIndex.probe(batch, textCol, idCol, name, minJaccard)

  def appendDedup(df: DataFrame, textCol: String, idCol: String,
                  name: String): Unit =
    DedupIndex.append(df, textCol, idCol, name)

  def compactDedup(spark: SparkSession, name: String,
                   newPath: String): Unit =
    DedupIndex.layout.compact(spark, name, newPath)

  // ---- LSH ANN postings index (AnnIndex) ----

  def ensureAnn(corpus: DataFrame, vecCol: String, idCol: String,
                name: String, path: String, planesPerTable: Int,
                nTables: Int, numBuckets: Int, quantize: Boolean): Boolean =
    AnnIndex.ensure(corpus, vecCol, idCol, name, path, planesPerTable,
      nTables, numBuckets, quantize)

  def ensureAnnKeyed(corpus: DataFrame, vecCol: String, idCol: String,
                     name: String, path: String, planesPerTable: Int,
                     nTables: Int, numBuckets: Int, quantize: Boolean,
                     precomputedKey: String): Boolean =
    AnnIndex.ensure(corpus, vecCol, idCol, name, path, planesPerTable,
      nTables, numBuckets, quantize, Some(precomputedKey))

  def probeAnn(queries: DataFrame, vecCol: String, idCol: String,
               name: String, k: Int): DataFrame =
    AnnIndex.probe(queries, vecCol, idCol, name, k)

  def appendAnn(corpus: DataFrame, vecCol: String, idCol: String,
                name: String): Unit =
    AnnIndex.append(corpus, vecCol, idCol, name)

  def compactAnn(spark: SparkSession, name: String, newPath: String): Unit =
    AnnIndex.layout.compact(spark, name, newPath)

  // ---- k-means IVF ANN index (AnnIndex.*Kmeans, AnnIndex.kmeansLayout) ----

  def ensureAnnKmeans(corpus: DataFrame, vecCol: String, idCol: String,
                      name: String, path: String, kClusters: Int,
                      iters: Int, numBuckets: Int): Boolean =
    AnnIndex.ensureKmeans(corpus, vecCol, idCol, name, path, kClusters,
      iters, numBuckets)

  def probeAnnKmeans(queries: DataFrame, vecCol: String, idCol: String,
                     name: String, k: Int, nProbe: Int): DataFrame =
    AnnIndex.probeKmeans(queries, vecCol, idCol, name, k, nProbe)

  def appendAnnKmeans(corpus: DataFrame, vecCol: String, idCol: String,
                      name: String): Unit =
    AnnIndex.appendKmeans(corpus, vecCol, idCol, name)

  def compactAnnKmeans(spark: SparkSession, name: String,
                       newPath: String): Unit =
    AnnIndex.kmeansLayout.compact(spark, name, newPath)

  // ---- staleness keys (IndexManifest) ----

  /** `cols` comma-separated (py4j passes strings, not Seq). */
  def filesKey(spark: SparkSession, dir: String, params: String,
               cols: String): String =
    IndexManifest.filesKey(spark, dir, params,
      cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

  def textKey(df: DataFrame, textCol: String, params: String): String =
    IndexManifest.textKey(df, textCol, params)

  def rowsKey(df: DataFrame, cols: String, params: String): String =
    IndexManifest.rowsKey(df,
      cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq, params)

  def combineKeys(a: String, b: String): String = IndexManifest.combine(a, b)

  /** Empty string when no key is stamped (py4j-friendly, no Option). */
  def storedKey(spark: SparkSession, table: String): String =
    IndexManifest.stored(spark, table).getOrElse("")
}
