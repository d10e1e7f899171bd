package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One workload's share of a process: its timed pass and its untimed
  * output checks. Set-up happens when the part is built.
  */
trait Part {
  def pass(): Unit
  def checks(): Unit
}

/** What a workload needs from the harness: the session, the recorder, the
  * per-run state directory and the checks/counters it reports.
  */
final class Ctx(val spark: SparkSession, val rec: Recorder,
                val runDir: String, val trace: Boolean, startTicks: CpuTicks) {
  val cores: Int = spark.sparkContext.defaultParallelism
  private val checks = mutable.ArrayBuffer[String]()
  private val extras = mutable.LinkedHashMap[String, Double]()
  private var readyAt = Double.NaN
  private var gc0 = 0.0
  private var readyTicks = startTicks
  /** Share of the host's runnable CPU time the hypervisor stole during
    * set-up and during the timed section (see `CpuTicks`).
    */
  var setupSteal = 0.0
  var timedSteal = 0.0
  var gcPauseS = 0.0
  var retainedHeapMb = 0.0

  /** A fresh directory under the run directory. */
  def freshDir(prefix: String): String =
    Files.createTempDirectory(Paths.get(runDir), prefix).toString

  /** Drop cached plans and persisted blocks and collect garbage, so every
    * pass starts from the same state; always outside a timed section.
    */
  def clearState(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** End of set-up: what follows is the timed section. */
  def ready(): Unit = {
    readyAt = System.currentTimeMillis() / 1000.0
    readyTicks = CpuTicks.read()
    setupSteal = readyTicks.stealShareSince(startTicks)
    gc0 = rec.gcSeconds()
    log("ready")
  }

  /** End of the timed section: JVM counters are read here. */
  def timedDone(): Unit = {
    timedSteal = CpuTicks.read().stealShareSince(readyTicks)
    gcPauseS = rec.gcSeconds() - gc0
    retainedHeapMb = rec.retainedHeapMb()
    log("timed section done")
  }

  def setupSeconds: Double = readyAt - jvmStart

  private def jvmStart: Double =
    ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${System.currentTimeMillis() / 1000.0 - jvmStart}%.1f s: $msg")

  /** An untimed output check. A failing check counts in `failed`. */
  def check(name: String, ok: Boolean, detail: String): Unit = {
    log(s"check $name: ${if (ok) "ok" else "FAILED"} ($detail)")
    checks += Js.obj("name" -> Js.str(name), "ok" -> Js.bool(ok),
      "detail" -> Js.str(detail))
  }

  /** A check whose evaluation itself may throw. */
  def checking(name: String)(body: => (Boolean, String)): Unit = {
    val (ok, detail) =
      try body
      catch { case e: Throwable => (false, s"error: ${e.getMessage}".take(300)) }
    check(name, ok, detail)
  }

  /** A counter a layer reports (per-layer metric measured by the harness). */
  def extra(name: String, value: Double): Unit = extras(name) = value

  /** The timed section of the batch workload: exactly one pass from
    * cleared state, the first of the process, so it is cold: it pays code
    * generation and JIT, as the first run of any fresh Spark application
    * does. The traced run traces this same pass.
    */
  def timedPass(pass: () => Unit): Unit = {
    clearState()
    ready()
    rec.setTracing(trace)
    pass()
    rec.setTracing(false)
    timedDone()
  }

  def toJson(workload: String): String = Js.obj(
    "workload" -> Js.str(workload),
    "setup_s" -> Js.num(setupSeconds),
    "steal" -> Js.obj("setup" -> Js.num(setupSteal), "timed" -> Js.num(timedSteal)),
    "cores" -> Js.num(cores),
    "trace" -> Js.bool(trace),
    "trace_cost_s" -> Js.num(rec.traceCostSeconds),
    "jvm" -> Js.obj("gc_pause_s" -> Js.num(gcPauseS),
      "retained_heap_mb" -> Js.num(retainedHeapMb)),
    "checks" -> Js.arr(checks.toSeq),
    "extras" -> Js.obj(extras.toSeq.map { case (k, v) => k -> Js.num(v) }: _*),
    "recorder" -> rec.toJson)
}

/** Busy and stolen CPU ticks of the whole host so far, summed over its
  * CPUs, from the first line of `/proc/stat`. Steal is time a runnable
  * virtual CPU waited while the hypervisor ran another guest; on a shared
  * host it stretches wall time by a share that changes from run to run.
  * Both counts are 0 where `/proc/stat` or its steal column is missing.
  */
final case class CpuTicks(busy: Long, steal: Long) {
  /** Stolen share of the runnable CPU time since `before`. */
  def stealShareSince(before: CpuTicks): Double = {
    val (b, s) = (busy - before.busy, steal - before.steal)
    if (b + s > 0) s.toDouble / (b + s) else 0.0
  }
}

object CpuTicks {
  def read(): CpuTicks =
    try {
      // user nice system idle iowait irq softirq steal ...
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
        .split("\\s+").drop(1).map(_.toLong)
      CpuTicks(f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
    } catch { case _: Exception => CpuTicks(0L, 0L) }
}

/** Harness entry point, launched by `perfbench/run.py` in a plain JVM:
  * `graftbench.Main <workload> <runDir> <trace 0|1> <inputDir>...`, one
  * input directory per part of the workload. Writes `<runDir>/result.json`;
  * the metric arithmetic happens in Python.
  */
object Main {
  def session(runDir: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    // the confs graft.Bench sets, on top of the engine's recommended ones;
    // all state lives under the per-run directory
    val spark = graft.Sessions.tuned(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$runDir/checkpoints")
    spark
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println("usage: graftbench.Main <workload> <runDir> <trace> <inputDir>...")
      sys.exit(2)
    }
    val startTicks = CpuTicks.read()
    val Array(workload, runDir, trace) = args.take(3)
    val inputs = args.drop(3).toSeq
    val spark = session(runDir)
    val ctx = new Ctx(spark, new Recorder(spark), runDir, trace == "1", startTicks)
    ctx.log("session up")
    workload match {
      case "curate_corpus" =>
        val curate = CurateCorpus.prepare(ctx, inputs(0))
        ctx.timedPass(() => curate.pass())
        curate.checks()
      case "index_serve" =>
        IndexServe.run(ctx, inputs(0))
        // the traced run then runs the tabular learner's pass, so the
        // tabular layers are measured on a gated workload; untraced runs
        // cannot carry it within the time budget (README, "Workloads")
        if (ctx.trace) {
          val tabular = TabularLearn.prepare(ctx, inputs(1))
          ctx.clearState()
          ctx.rec.setTracing(true)
          tabular.pass()
          ctx.rec.setTracing(false)
          tabular.checks()
        }
      case other =>
        System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    ctx.log("checks done")
    Files.writeString(Paths.get(runDir, "result.json"), ctx.toJson(workload))
    spark.stop()
  }
}
