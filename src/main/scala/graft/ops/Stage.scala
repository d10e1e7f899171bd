package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one place the engine stores an intermediate frame.
  *
  * Three lifetimes, chosen by what the call site needs:
  *  - `scoped` / `scope`: a `Dataset.persist` (MEMORY_AND_DISK), lineage
  *    kept, unpersisted when the body exits (also on failure). The first
  *    action that reads the frame fills it, and once filled the optimizer
  *    sees its real size (the cached relation's statistics), which the
  *    joins of an iterative reader such as the min-label loop plan on. A
  *    frame the caller already cached or staged is read as is and left
  *    alone. A site that reads its frame only as an RDD stages that RDD
  *    instead, so its first job fills it with no fill job of its own.
  *  - `owned`: filled once eagerly (one job, named after the site) into an
  *    RDD of copied rows kept with its lineage (`GraftBridge.stageRows`,
  *    what `Dataset.localCheckpoint` builds before its lineage cut). No
  *    CacheManager entry holds it, so it is released with the returned
  *    frame by the ContextCleaner, or earlier by `release`.
  *  - `pinned`: as `owned`, with the lineage cut (`RDD.localCheckpoint`).
  *    Only for frames whose recompute could shift positions or grow the
  *    plan without limit: a lost block then fails the job loudly (a
  *    `SparkException`) instead.
  *
  * With a non-empty `dir` (an operator's public `checkpointDir`) a scope
  * or owned stage writes a parquet leaf
  * `<dir>/<family>_verdicts_<stamp>_<uuid>.parquet` instead: deleted when a
  * scope closes, retained for an owned frame (the returned frame reads it
  * lazily; `Curation.pruneCheckpoints` prunes old leaves per family).
  */
private[graft] object Stage {

  private val Tag = "graft.Stage:"

  /** The stages and leaves opened through one `scope`, released when it
    * closes. */
  final class Scope private[Stage] () {
    private[Stage] val releases = scala.collection.mutable.ListBuffer[() => Unit]()

    /** `df` persisted until the scope closes, filled by the first action
      * that reads it; a frame the caller cached or staged is returned as
      * is. */
    def apply(df: DataFrame): DataFrame =
      if (held(df)) df
      else {
        df.persist(StorageLevel.MEMORY_AND_DISK)
        releases += (() => df.unpersist(blocking = false))
        df
      }

    /** `rdd` persisted until the scope closes, filled by the first job
      * that reads it: for a site that reads the frame only as an RDD,
      * where a staged frame's adaptive plan would run a fill job of its
      * own first. */
    def apply[T](rdd: RDD[T]): RDD[T] = {
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      releases += (() => rdd.unpersist(blocking = false))
      rdd
    }

    /** With a non-empty `dir`, `df` written to a parquet leaf of `family`
      * that is deleted when the scope closes; else `apply(df)`. */
    def apply(df: DataFrame, dir: String, family: String): DataFrame =
      if (dir.isEmpty) apply(df)
      else {
        val path = writeLeaf(df, dir, family)
        releases += (() => path.getFileSystem(
          df.sparkSession.sparkContext.hadoopConfiguration).delete(path, true))
        df.sparkSession.read.parquet(path.toString)
      }
  }

  /** Run `body` with a scope; everything it staged is released on exit. */
  def scope[T](body: Scope => T): T = {
    val s = new Scope
    try body(s) finally s.releases.foreach(_())
  }

  /** Run `body` on `df` staged for the body's span (see `Scope.apply`). */
  def scoped[T](df: DataFrame)(body: DataFrame => T): T =
    scope(s => body(s(df)))

  /** `df` stored and filled now, in jobs described as `site`; the storage
    * lives as long as the returned frame (see `release`). */
  def owned(df: DataFrame, site: String): DataFrame = filled(df, site, pin = false)

  /** With a non-empty `dir`, `df` written now (jobs described as `site`) to
    * a retained parquet leaf of `family`, which the returned frame reads;
    * else `owned(df, site)`. */
  def owned(df: DataFrame, site: String, dir: String, family: String): DataFrame =
    if (dir.isEmpty) owned(df, site)
    else graft.obs.phase(site)(
      df.sparkSession.read.parquet(writeLeaf(df, dir, family).toString))

  /** `df` stored, filled now and cut from its lineage (see the object doc):
    * a lost block fails the reading job instead of recomputing. */
  def pinned(df: DataFrame, site: String): DataFrame = filled(df, site, pin = true)

  /** Free now every owned or pinned stage the plans of `frames` read
    * (otherwise freed when the ContextCleaner collects them). */
  def release(frames: DataFrame*): Unit =
    frames.flatMap(rdds).foreach(_.unpersist(blocking = false))

  /** The owned and pinned stage RDDs `df`'s plan reads (their ids are what
    * such a stage adds to `SparkContext.getPersistentRDDs`). */
  def rdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD if isStage(l.rdd) => l.rdd }

  /** The per-run leaf name a `dir` stage writes: family prefix +
    * zero-padded millis write stamp (what `Curation.pruneCheckpoints`
    * orders on — object stores have no trustworthy directory mtime) + a
    * uuid segment (concurrent same-millisecond runs must not clobber each
    * other's parquet mid-read). */
  def verdictLeaf(family: String): String =
    f"${family}_verdicts_${System.currentTimeMillis()}%013d_" +
      java.util.UUID.randomUUID().toString.take(8) + ".parquet"

  private def isStage(rdd: RDD[_]): Boolean =
    Option(rdd.name).exists(_.startsWith(Tag))

  /** Cached by the caller, or an owned or pinned stage itself. */
  private def held(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE ||
    df.queryExecution.analyzed.isInstanceOf[LogicalRDD] && rdds(df).nonEmpty

  private def filled(df: DataFrame, site: String, pin: Boolean): DataFrame =
    graft.obs.phase(site) {
      val (rdd, staged) = GraftBridge.stageRows(df)
      rdd.setName(Tag + site).persist(StorageLevel.MEMORY_AND_DISK)
      if (pin) rdd.localCheckpoint()
      rdd.count()
      staged
    }

  private def writeLeaf(df: DataFrame, dir: String, family: String): Path = {
    val path = new Path(s"${dir.stripSuffix("/")}/${verdictLeaf(family)}")
    df.write.mode("overwrite").parquet(path.toString)
    path
  }
}
