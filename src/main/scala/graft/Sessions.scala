package graft

import org.apache.spark.sql.SparkSession

/** Recommended session configuration for graft workloads — the engine-
  * surface home of settings the bench harness validated, so a user
  * building their own session gets the same behavior the published
  * numbers were measured under (r16 verdict task: the insight must live
  * where users build sessions, not only in Bench/BenchOne).
  *
  * The one non-default today: `spark.sql.codegen.cache.maxEntries`.
  * Spark's generated-class cache holds 100 compiled whole-stage-codegen
  * units (a STATIC conf — it must be set before the session exists). A
  * workload that runs many distinct queries per JVM — a query registry, a
  * long-lived notebook, a multi-tenant driver — compiles far more units
  * than that, so classes are evicted and every re-planned query re-pays
  * Janino compilation plus an interpreted-until-C2 first execution.
  * Measured on the 187-query bench registry (controlled A/B, identical
  * code): 72.2 s → 58.4 s over the 33 heaviest queries, ~2x on the full
  * registry. The cache holds compiled CLASSES for plan fragments, never
  * data or results; cost is bounded metaspace (~10-100 KB per class). On
  * a cluster the same setting applies per executor JVM.
  *
  * `local` is the one session recipe every main and the test suite build
  * their local session from.
  */
object Sessions {

  /** Static conf: ignored (with a Spark warning) if set on a running
    * session — apply it at builder time.
    */
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Sized to hold every codegen unit of a ~200-query registry with room
    * to spare.
    */
  val CodegenCacheEntries = "8000"

  /** The recommended conf map, for callers assembling their own builder
    * or `--conf` flags.
    */
  def recommended: Map[String, String] = Map(
    CodegenCacheKey -> CodegenCacheEntries)

  /** Apply the recommended confs to a session builder:
    * {{{ graft.Sessions.tuned(SparkSession.builder().master(...)) }}}
    */
  def tuned(builder: SparkSession.Builder): SparkSession.Builder =
    recommended.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }

  /** Core count of a local session: `SPARK_GRAFT_CPUS`, else the host's
    * processors.
    */
  private def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(value: Option[String]): Int = value match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** The local session: `local[cores]` with as many shuffle partitions,
    * UTC, no UI, AQE, nanosecond parquet timestamps read as longs (the
    * events fixture), no TIMESTAMP_NTZ inference, and the recommended
    * confs; `extra` adds or overrides confs. Log level WARN.
    */
  def local(cores: Int = cpus,
            extra: Map[String, String] = Map.empty): SparkSession = {
    val confs = recommended ++ Map(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false") ++ extra
    val spark = confs.foldLeft(SparkSession.builder().master(s"local[$cores]")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every cached plan and persisted block, then let a GC cycle run:
    * the state one query or rep leaves behind must not be billed to the
    * next.
    */
  def clearState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }
}
