package graft.tools

import graft.Sessions
import graft.obs.Collector

/** Per-job/per-stage wall attribution for registered queries (evidence
  * tool, not part of the driver contract): in one session, runs each query
  * once untimed (codegen/JIT warmup, same discipline as Bench), then once
  * instrumented through `graft.obs.Collector`, and prints one summary line
  * (wall, jobs, shuffle read/write, spill), then every Spark job of the
  * timed run with its wall time, stage count, task count and description,
  * and under it every stage it ran — the "where do the N seconds go" table
  * guide §1.1 starts from when there is no UI. On a `TenxFixture` dir this
  * is the Nx jobs/shuffle/spill evidence next to `graft.Bench`'s walls.
  *
  * Usage: runMain graft.tools.JobProf <q1,q2,...> [sfDir] [reps]
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val queries = graft.SparkEntry.selected("JobProf query list",
      Some(args.headOption.getOrElse("")))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = Sessions.positiveInt("JobProf reps", args.lift(2), 1)
    val spark = Sessions.local()
    var failures = 0
    queries.foreach { case (name, fn) =>
      try {
        // warmup (untimed): codegen + JIT + parquet footers
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
        (1 to reps).foreach { rep =>
          Sessions.clearState(spark)
          val m = Collector.measure(spark)(fn(spark, sfDir).count())
          println(f"JOBPROF $name rep=$rep wall=${m.wallS}%.2f s jobs=${m.jobs.size} " +
            f"shufR=${m.shuffleRead / 1e6}%.1f MB shufW=${m.shuffleWrite / 1e6}%.1f MB " +
            f"spill=${m.spill / 1e6}%.1f MB")
          m.jobs.foreach { j =>
            println(f"JOBPROF   job=${j.id}%-4d ${j.wallS}%7.2f s  stages=${j.stages.size}%-3d " +
              f"tasks=${j.tasks}%-5d ${j.description.take(90)}")
            j.stages.foreach { s =>
              println(f"JOBPROF     stage=${s.id}%-4d ${s.wallS}%7.2f s tasks=${s.tasks}%-5d " +
                f"taskRun=${s.runS}%.1f s taskCpu=${s.cpuS}%.1f s gc=${s.gcS}%.1f s " +
                f"shufR=${s.shuffleRead / 1e6}%.1f MB shufW=${s.shuffleWrite / 1e6}%.1f MB " +
                f"spill=${s.spill / 1e6}%.1f MB peakExec=${s.peakExecMem / 1e6}%.1f MB " +
                f"maxTask=${s.maxTaskS}%.2f s medTask=${s.medianTaskS}%.2f s ${s.name.take(60)}")
            }
          }
          println(f"JOBPROF   sum-of-jobs ${m.jobs.map(_.wallS).sum}%.2f s " +
            "(gaps to wall = driver/planning time)")
        }
      } catch {
        case e: Throwable =>
          failures += 1
          System.err.println(s"[jobprof] $name FAILED: ${e.getMessage}")
      }
      Sessions.clearState(spark)
    }
    spark.stop()
    // a profile run where a query failed must not look successful to a
    // script checking the exit code
    if (failures > 0) sys.exit(1)
  }
}
