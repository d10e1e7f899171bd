package graft.tools

import java.nio.file.{Files, Paths}

/** Optimization-round evidence dumper: writes `explain("formatted")` for a
  * comma-separated list of registered queries to <outDir>/<name><suffix>.txt
  * in ONE session. Index-building queries execute their build as a side
  * effect of constructing the returned probe frame — exactly what the
  * bench times.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = graft.Sessions.local()
    Files.createDirectories(Paths.get(outDir))
    var failures = 0
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        // SPARK_GRAFT_PLANDUMP_EXEC=1: execute THIS frame's own plan first
        // (toRdd computes every row inside the same QueryExecution —
        // df.count() would plan a separate query), so the dump is the
        // FINAL adaptive plan (isFinalPlan=true) — the only place runtime
        // decisions like AQE stage reuse (ReusedExchange), coalescing and
        // join demotions are visible. The default stays the
        // pre-execution plan.
        if (sys.env.get("SPARK_GRAFT_PLANDUMP_EXEC").contains("1"))
          df.queryExecution.toRdd.count()
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"$name$suffix.txt"), plan)
        println(s"[plandump] wrote $name$suffix")
      } catch {
        case e: Throwable =>
          failures += 1
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
      graft.Sessions.clearState(spark)
    }
    spark.stop()
    // an evidence run where a dump failed must not look successful to a
    // script checking the exit code
    if (failures > 0) sys.exit(1)
  }
}
