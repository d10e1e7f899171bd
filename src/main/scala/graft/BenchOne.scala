package graft

/** Dev helper: time ONE query at a given SF dir, with an untimed warmup of
  * the same query (JVM/codegen/parquet-footer costs excluded — mirrors
  * Bench's warmup discipline). Usage:
  *   runMain graft.BenchOne <name> <sfDir> [reps]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.local()
    val fn = SparkEntry.queries(name)
    // warmup on the tiny SF so caches/codegen warm without masking the run
    try fn(spark, "/root/testdata/sf0.001").count() catch { case _: Throwable => () }
    val times = (1 to reps).map { _ =>
      // same per-query discipline as Bench: rep N must not be billed for
      // rep N-1's storage debt
      Sessions.clearState(spark)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"BENCHONE $name ${times.map(t => f"$t%.2f").mkString(" ")}")
    spark.stop()
  }
}
