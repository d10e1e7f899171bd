package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table layout for co-located joins — the storage-side half of
  * the 100 TB story (beyond the reference, which is single-node in-memory:
  * skrub/_joiner.py:96-104 holds the aux table in RAM).
  *
  * Writing both sides of a hot equi-join `bucketBy(n, keys)` + sorted lets
  * every subsequent SortMergeJoin on those keys read pre-partitioned,
  * pre-sorted buckets: ZERO Exchange on either side, at any scale — the
  * shuffle is paid once at layout time instead of once per query. This is
  * the standard Spark answer to "repeated 100 TB fact-to-fact joins".
  *
  * Tables are written as EXTERNAL parquet (explicit `path`) so callers
  * control the storage location; the catalog entry carries the bucket
  * spec. Both sides must use the same `numBuckets` and join on a prefix
  * of the bucket keys for the exchange-free plan to kick in.
  */
object Bucketize {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Session conf (default on): cluster bucketed writes to one task — and
    * therefore one sorted file — per bucket. The escape hatch exists for
    * pathological key distributions: clustering caps write parallelism at
    * numBuckets and places a bucket's ENTIRE data in one task, so a
    * heavily skewed bucket (one hot key) or a numBuckets chosen far too
    * small for the data volume turns into a straggler or OOM-prone task
    * that the unclustered M×B-files write does not have. Turn it off to
    * fall back to task-local bucket splitting (more, smaller files; full
    * write parallelism), or better, size numBuckets with `numBucketsFor`.
    */
  val ClusteredWriteKey = "graft.bucketize.clusteredWrite"

  /** Soft ceiling for the estimated bytes one clustered write task (= one
    * bucket) will hold; above it a warning names the fix. 4 GiB of
    * input-side bytes is well past the comfortable single-task/single-file
    * range (guide §6 targets 128 MB-1 GB files).
    */
  private val BucketBytesWarn: Long = 4L << 30

  /** Suggested numBuckets for writing `df` bucketed: one bucket per
    * `targetBytes` (default 512 MB) of the plan's ESTIMATED output size,
    * clamped to [1, 65536] and rounded up to a power of two so repeated
    * layouts of a growing corpus reuse familiar geometries. The estimate
    * is Catalyst's (column-pruned, post-filter when stats allow); for an
    * index build it is the INDEX rows' size, not the corpus's. Callers
    * with better knowledge (a measured layout, a co-bucketed join partner
    * that fixes the count) should pass their own numBuckets — this is the
    * data-derived default, not a contract (existing layouts keep whatever
    * geometry they were written with).
    */
  def numBucketsFor(df: DataFrame, targetBytes: Long = 512L << 20): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val raw = (est + targetBytes - 1) / targetBytes
    val clamped = raw.max(1).min(65536).toInt
    Integer.highestOneBit(clamped - 1) * 2 match {
      case 0 => 1
      case p => p
    }
  }

  /** Cluster `df` so every write task holds exactly ONE bucket's rows.
    *
    * A bucketed write is task-local: each task splits ITS rows by bucket id
    * and opens one file per bucket it sees, so M upstream partitions times
    * B buckets produce up to M*B output files — measured 256 parquet files
    * (+256 .crc) for an 8-bucket index written from 32 shuffle partitions,
    * and the per-file create/rename/fsync commit cost dominated every
    * index-build bench row. `repartition(numBuckets, keys)` uses the SAME
    * hash Spark's bucketing does (HashPartitioning's murmur3
    * partitionIdExpression IS the bucket-id expression), so after it each
    * task contains exactly one bucket and the write emits exactly
    * numBuckets files — one sorted file per bucket, which also preserves
    * the within-bucket sortedness single-file reads rely on. This is the
    * hash write-distribution mode table formats use for the same reason;
    * the one extra exchange of index rows is paid once at layout time and
    * is linear in index size at any scale (the explicit partition count
    * keeps AQE from re-coalescing it away from the bucket count).
    *
    * The trade (r17, guide §2.5/§6): write parallelism is capped at
    * numBuckets and one task sorts/writes one whole bucket. When the
    * ESTIMATED per-bucket volume is far past healthy file size the write
    * warns and names the fixes (size numBuckets from the data via
    * `numBucketsFor`, or disable clustering for this session); the
    * [[ClusteredWriteKey]] session conf is the escape hatch for skewed
    * keys, where the biggest bucket, not the average, is the straggler.
    *
    * A frame that is ALREADY hash-partitioned on exactly the bucket keys
    * at the bucket count (a producer that aggregates over
    * `repartition(numBuckets, keys)`, as the BM25 postings do) pays no
    * second exchange: the planner drops this repartition as redundant, so
    * each of its partitions is written as one bucket (BucketizeSpec pins
    * the single shuffle).
    */
  private def clusterByBucket(df: DataFrame, keys: Seq[String],
                              numBuckets: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    val clustered = df.sparkSession.conf.getOption(ClusteredWriteKey)
      .forall(v => v.toBooleanOption.getOrElse(
        throw new IllegalArgumentException(
          s"$ClusteredWriteKey must be true or false, got '$v'")))
    if (!clustered) return df
    val perBucket =
      df.queryExecution.optimizedPlan.stats.sizeInBytes / numBuckets
    if (perBucket > BucketBytesWarn)
      log.warn(
        s"Bucketize: clustered write of ~$perBucket estimated bytes per " +
          s"bucket into $numBuckets buckets — each bucket is ONE task and " +
          "ONE file. Size numBuckets from the data " +
          s"(Bucketize.numBucketsFor suggests ${numBucketsFor(df)}) or set " +
          s"$ClusteredWriteKey=false to trade file count for parallelism.")
    df.repartition(numBuckets, keys.map(col): _*)
  }

  /** Write `df` as an external bucketed+sorted parquet table. Replaces any
    * existing catalog entry of the same name.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    keys: Seq[String], numBuckets: Int): Unit = {
    require(keys.nonEmpty, "bucket keys must be non-empty")
    df.sparkSession.sql(s"DROP TABLE IF EXISTS `$table`")
    writer(df, keys, numBuckets, "overwrite").option("path", path)
      .saveAsTable(table)
  }

  /** Append `df` to an existing bucketed table under the bucket spec
    * recorded in the catalog — bucket columns and count both come from
    * there, so an append cannot mismatch the layout. Appended rows land in
    * new per-bucket files: bucket pruning and exchange-free joins keep
    * working — Spark just stops assuming within-bucket sortedness once a
    * bucket has several files, which trades a local re-sort, never a
    * shuffle. This is the accumulate-over-months half of the persisted-
    * index story.
    */
  def appendBucketed(df: DataFrame, table: String): Unit = {
    require(df.sparkSession.catalog.tableExists(table),
      s"table $table does not exist — write it with writeBucketed first")
    val spec = bucketSpecOf(df.sparkSession, table)
    writer(df, spec.bucketColumnNames, spec.numBuckets, "append")
      .saveAsTable(table)
  }

  private def writer(df: DataFrame, keys: Seq[String], numBuckets: Int,
                     mode: String) =
    clusterByBucket(df, keys, numBuckets)
      .write.format("parquet").mode(mode)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)

  private[graft] def bucketSpecOf(spark: SparkSession, table: String):
      org.apache.spark.sql.catalyst.catalog.BucketSpec =
    spark.sessionState.catalog.getTableMetadata(ident(table)).bucketSpec
      .getOrElse(throw new IllegalArgumentException(
        s"table $table is not bucketed"))

  /** Rewrite an append-accumulated bucketed table into a fresh layout at
    * `newPath`: months of `appendBucketed` calls leave many small files
    * per bucket (correct, exchange-free, but small-file-shaped scans and
    * no within-bucket sort guarantee); compaction restores one sorted
    * file per bucket-partition. Crash-safe ordering: the rewrite goes to
    * a NEW directory under a staging catalog name WITH its properties
    * already applied, and only then swaps (drop + rename) — a failed
    * write leaves the live table untouched, and the exposed table always
    * carries its geometry properties. The residual window is the two
    * metadata ops of the swap itself. Bucket spec and graft.* table
    * properties (index geometry!) carry over unchanged, so probes against
    * the compacted index are plan- and result-identical.
    */
  def compact(spark: SparkSession, table: String, newPath: String): Unit = {
    val spec = bucketSpecOf(spark, table)
    val props = tableProps(spark, table).filter(_._1.startsWith("graft."))
    val keys = spec.bucketColumnNames
    val staging = s"${table}__compacting"
    // Pin the rewrite's scan to BUCKETED reading. By default Spark's
    // auto-bucketed-scan heuristic plans the relation as bucket-partitioned
    // (which lets the planner drop clusterByBucket's exchange as redundant)
    // and then demotes the scan to plain file splits as "unnecessary" — the
    // write inherits split-shaped partitions that straddle buckets and emits
    // one file per (task, bucket) again, exactly what compaction exists to
    // undo (measured: a 4-bucket table compacted to 7 files instead of 4).
    // With the heuristic off the scan stays one-partition-per-bucket, the
    // exchange is legitimately elided, and compaction becomes the ideal
    // ZERO-shuffle rewrite: each task merges its own bucket's files into
    // one sorted file. Session conf is saved/restored; compact is
    // single-writer by contract so no concurrent planner reads the pin.
    val k = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    // getOption would return the REGISTERED DEFAULT even when the key was
    // never set, and restoring that materializes a session-level pin that
    // did not exist before compact ran; getAll lists only explicitly-set
    // entries, so an unset-with-default key is restored by unsetting.
    val prev = spark.conf.getAll.get(k)
    spark.conf.set(k, "false")
    try writeBucketed(spark.table(table), staging, newPath, keys,
      spec.numBuckets)
    finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    alterTableProps(spark, staging, props)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(s"ALTER TABLE `$staging` RENAME TO `$table`")
  }

  /** The table's properties — the one reader of a bucketed layout's
    * metadata (index geometry, corpus stats, staleness keys), read
    * straight from the session catalog: no SQL statement is parsed or
    * run, and values come back as written (no redaction).
    */
  def tableProps(spark: SparkSession, table: String): Map[String, String] =
    spark.sessionState.catalog.getTableRawMetadata(ident(table)).properties

  /** The one writer: SET `set`, then drop `unset` (a key that is not
    * there is skipped), as ONE catalog update — the steps `ALTER TABLE …
    * SET/UNSET TBLPROPERTIES` runs (`alterTable`, then
    * `invalidateCachedTable` so the next read of the table re-resolves
    * it), without building SQL: keys and values are stored verbatim.
    */
  def alterTableProps(spark: SparkSession, table: String,
                      set: Iterable[(String, Any)],
                      unset: Iterable[String] = Nil): Unit = {
    if (set.isEmpty && unset.isEmpty) return
    val catalog = spark.sessionState.catalog
    val meta = catalog.getTableRawMetadata(ident(table))
    catalog.alterTable(meta.copy(properties = meta.properties ++
      set.map { case (k, v) => k -> v.toString } -- unset))
    catalog.invalidateCachedTable(ident(table))
  }

  private def ident(table: String) =
    org.apache.spark.sql.catalyst.TableIdentifier(table)

  /** Number of shuffle exchanges in the (possibly adaptive) physical plan —
    * the assertion primitive for "this join is co-located". Descends into
    * AQE query stages: QueryStageExec is a LEAF node, so a plain `collect`
    * over an executed adaptive plan silently misses every exchange already
    * wrapped in a materialized stage.
    */
  def shuffleExchanges(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    walk(df) { case _: ShuffleExchangeLike => 1 }
  }

  /** Number of bucketed file scans in the executed plan — the assertion
    * primitive for "this side is read pre-partitioned from its layout". */
  def bucketedScans(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    walk(df) { case s: FileSourceScanExec if s.bucketedScan => 1 }
  }

  private def walk(df: DataFrame)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, Int]): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def count(p: SparkPlan): Int = p.collect {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case q: QueryStageExec        => count(q.plan) + pf.lift(q).getOrElse(0)
      case n if pf.isDefinedAt(n)   => pf(n)
    }.sum
    count(df.queryExecution.executedPlan)
  }
}
