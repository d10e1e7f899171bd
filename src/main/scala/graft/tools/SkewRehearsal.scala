package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Skewed-join rehearsal (VERDICT r9 task 7): `Skew.saltedJoin` is proven
  * CORRECT by q_join_salted; this tool measures when it actually WINS.
  *
  * Fixture: a deterministic zipf(2) probe side — key = floor(1/u) with u
  * an md5-hashed uniform in (0,1], so key 1 holds ~50% of all rows, key 2
  * ~12.5%, a long tail after — joined to a keys-complete build side. The
  * dim is kept NON-broadcastable (autoBroadcastJoinThreshold=-1) because
  * that is the only regime where join skew exists at all: a broadcast
  * join never shuffles the probe side, so a genuinely small dim is always
  * the first answer to skew, and salting is for when the build side is
  * too big to broadcast.
  *
  * Three timed plans over the same parquet fixture (x2 shuffle regimes):
  *   1. plain sort-merge, AQE skew-join ON (defaults),
  *   2. plain sort-merge, AQE OFF (the naive baseline),
  *   3. `Skew.saltedJoin` (128 salt buckets — 4x the partition count at
  *      32 cores, so salt-to-partition collisions cannot re-concentrate
  *      the hot key).
  *
  * Expected shape (recorded in BASELINE.md): AQE's OptimizeSkewedJoin
  * only splits a partition above skewedPartitionThresholdInBytes (256 MB
  * default) AND 5x the median — a hot key in the 10-200 MB band sails
  * under it, one task carries half the join, and the manual salt is the
  * only lever; above the threshold AQE splits and the two should tie.
  * The `thresholdMb` knob re-times plan 1 with a lowered threshold to
  * show AQE catching the same skew when it is allowed to see it.
  *
  * Usage: runMain graft.tools.SkewRehearsal [workDir] with
  * SPARK_GRAFT_SKEW_ROWS (default 20000000).
  */
object SkewRehearsal {

  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse("/tmp/graft-skew")
    val rows = sys.env.getOrElse("SPARK_GRAFT_SKEW_ROWS", "20000000").toLong
    val spark = graft.Sessions.local(extra = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"))

    // zipf(2) via inverse CDF of an md5 uniform: P(key = k) ~ 1/k(k+1)
    val maxKey = 100000L
    val u = (conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
      .cast(LongType).cast("double") + lit(0.5)) / lit(4294967296.0)
    val probe = spark.range(rows)
      .withColumn("k", least(floor(lit(1.0) / u).cast(LongType), lit(maxKey)))
      .withColumn("payload", md5(col("id").cast("string")))
      .select(col("id"), col("k"), col("payload"))
    val build = spark.range(1, maxKey + 1).toDF("k")
      .withColumn("dim_payload", md5(col("k").cast("string")))
    val probePath = s"$workDir/probe"; val buildPath = s"$workDir/build"
    probe.write.mode("overwrite").parquet(probePath)
    build.write.mode("overwrite").parquet(buildPath)
    val p = spark.read.parquet(probePath)
    val b = spark.read.parquet(buildPath)

    // two shuffle regimes over the SAME join: "narrow" prunes the probe
    // payload (only k shuffles — the hot partition compresses to almost
    // nothing, so AQE's bytes-based skew detector cannot see it), "wide"
    // carries the incompressible md5 payload (the hot partition's true
    // ~400 MB is visible to AQE). The wall can be shuffle-bound while ONE
    // straggler task carries the hot key, so each run also reports the
    // max and median task time of its most skewed stage — the direct skew
    // reading (the straggler IS what kills a 1000-executor stage: 999
    // finish, one runs for an hour)
    def timed(body: => DataFrame, wide: Boolean): (Double, Long, Long, Boolean) = {
      val out =
        if (wide) body.agg(count(lit(1)), sum(length(col("payload"))),
          sum(length(col("dim_payload"))))
        else body.agg(count(lit(1)), sum(length(col("dim_payload"))))
      val m = graft.obs.Collector.measure(spark)(out.collect())
      val straggler = m.stages.maxByOption(_.maxTaskS)
      val plan = out.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case p0 => p0.toString
      }
      (m.wallS, straggler.fold(0L)(s => math.round(s.maxTaskS * 1000)),
        straggler.fold(0L)(s => math.round(s.medianTaskS * 1000)),
        plan.contains("skew=true"))
    }
    def withConf[T](pairs: (String, String)*)(bodyT: => T): T = {
      val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try bodyT finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    // untimed warmups of each plan shape
    timed(p.join(b, Seq("k"), "inner"), wide = false)
    timed(p.join(b, Seq("k"), "inner"), wide = true)
    timed(graft.ops.Skew.saltedJoin(p, b, Seq("k"), 128, Seq("id")), wide = false)
    timed(graft.ops.Skew.saltedJoin(p, b, Seq("k"), 128, Seq("id")), wide = true)

    def family(wide: Boolean) = {
      val aqe = timed(p.join(b, Seq("k"), "inner"), wide)
      val off = withConf("spark.sql.adaptive.enabled" -> "false") {
        timed(p.join(b, Seq("k"), "inner"), wide)
      }
      val salted = timed(
        graft.ops.Skew.saltedJoin(p, b, Seq("k"), 128, Seq("id")), wide)
      (aqe, off, salted)
    }
    val (nAqe, nOff, nSalt) = family(wide = false)
    val (wAqe, wOff, wSalt) = family(wide = true)
    val hotShare = p.filter(col("k") === 1L).count().toDouble / rows
    // the DETERMINISTIC half of the evidence (local-mode task walls are
    // noisy): the largest row group any single join task can receive —
    // unsalted it is the whole hot key, salted it is hot/buckets
    val maxPlainRows = p.groupBy(col("k")).count()
      .agg(max(col("count"))).head().getLong(0)
    val maxSaltedRows = graft.ops.Skew
      .saltedJoin(p, b, Seq("k"), 128, Seq("id"))
      .groupBy(col("k"),
        pmod(conv(substring(md5(concat_ws(":", col("id").cast("string"))),
          1, 8), 16, 10).cast(LongType), lit(128L)).as("s"))
      .count().agg(max(col("count"))).head().getLong(0)

    def fmt(name: String, r: (Double, Long, Long, Boolean)): String =
      s""""${name}_sec":${math.round(r._1 * 100) / 100.0},""" +
        s""""${name}_max_task_ms":${r._2},"${name}_med_task_ms":${r._3},""" +
        s""""${name}_aqe_split":${r._4}"""
    println(s"""{"metric":"skew_rehearsal","rows":$rows,""" +
      s""""hot_key_share":${math.round(hotShare * 1000) / 1000.0},""" +
      s""""max_join_group_plain":$maxPlainRows,""" +
      s""""max_join_group_salted128":$maxSaltedRows,""" +
      fmt("narrow_aqe", nAqe) + "," + fmt("narrow_aqe_off", nOff) + "," +
      fmt("narrow_salted128", nSalt) + "," +
      fmt("wide_aqe", wAqe) + "," + fmt("wide_aqe_off", wOff) + "," +
      fmt("wide_salted128", wSalt) + "}")
    spark.stop()
  }
}
