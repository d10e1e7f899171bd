package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Timed operations, spans and listener counters of one harness process.
  *
  * Every op is timed with `System.nanoTime`. When tracing is on, each call
  * the harness makes into an engine layer is a span (name, start, end,
  * parent, op id) and sets a Spark job group naming the span, so jobs are
  * attributed to the innermost open span. A listener aggregates per-stage
  * task counters. Everything stays in memory until `toJson` at the end; the
  * metric arithmetic is done by `perfbench/metrics.py`.
  */
final class Recorder(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val epoch0 = System.currentTimeMillis() / 1000.0
  private val nano0 = System.nanoTime()

  /** Wall clock in epoch seconds with nanosecond resolution. Listener event
    * times (epoch ms) are comparable to it.
    */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9

  final case class Span(id: Int, name: String, parent: Int, op: Int,
                        start: Double, end: Double)
  final case class Op(id: Int, kind: String, seconds: Double,
                      cpuSeconds: Double, rows: Long, ok: Boolean,
                      traced: Boolean, start: Double, end: Double, error: String)
  final class Job(val id: Int, val group: String, val start: Double,
                  val stages: Seq[Int]) {
    var end: Double = start
    var ok: Boolean = true
  }
  final class Stage(val id: Int) {
    var tasks = 0L; var failedTasks = 0L; var attempts = 0L
    var runS = 0.0; var cpuS = 0.0; var gcS = 0.0
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var recordsRead = 0L
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private val ops = mutable.ArrayBuffer[Op]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.LinkedHashMap[Int, Stage]()
  private val names = mutable.Map[Int, String]()
  private var stack = List.empty[Int]
  private var nextId = 0
  private var curOp = -1
  @volatile private var tracing = false
  /** Wall time the tracer itself spent on the client thread: span
    * bookkeeping and bus drains. `trace.overhead` is derived from it.
    */
  var traceCostSeconds = 0.0

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = new Job(e.jobId, group, e.time / 1000.0, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time / 1000.0
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Recorder.this.synchronized {
        stages.getOrElseUpdate(e.stageInfo.stageId,
          new Stage(e.stageInfo.stageId)).attempts += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId))
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.runS += m.executorRunTime / 1000.0
        s.cpuS += m.executorCpuTime / 1e9
        s.gcS += m.jvmGCTime / 1000.0
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  /** Turn span recording and the listener on or off. Turning it off first
    * drains the bus so no event of a traced op is lost.
    */
  def setTracing(on: Boolean): Unit = if (on != tracing) {
    if (on) { sc.addSparkListener(Listener); tracing = true }
    else {
      drain()
      sc.removeSparkListener(Listener)
      tracing = false
    }
  }

  private def drain(): Unit = {
    val t0 = System.nanoTime()
    PerfbenchBus.drain(sc)
    traceCostSeconds += (System.nanoTime() - t0) / 1e9
  }

  /** A call into engine layer `name`. Untraced, this is just `body`. */
  def span[A](name: String)(body: => A): A =
    if (!tracing) body
    else {
      val c0 = System.nanoTime()
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      names(id) = name
      stack = id :: stack
      sc.setJobGroup(s"pb-$id", name, interruptOnCancel = false)
      val t0 = now()
      traceCostSeconds += (System.nanoTime() - c0) / 1e9
      try body
      finally {
        val t1 = now()
        val c1 = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb-$p", names(p), interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
        spans += Span(id, name, parent, curOp, t0, t1)
        traceCostSeconds += (System.nanoTime() - c1) / 1e9
      }
    }

  /** One timed operation of the closed-loop client. A failure is recorded,
    * never rethrown: it counts in `failed`, not as a fast time.
    */
  def op(kind: String, rows: Long)(body: => Unit): Boolean = {
    curOp = nextId; nextId += 1
    val start = now()
    val cpu0 = processCpuSeconds()
    val t0 = System.nanoTime()
    var err = ""
    try body catch {
      case e: Throwable =>
        err = Option(e.getMessage).getOrElse(e.getClass.getName)
          .replaceAll("\\s+", " ").take(300)
        System.err.println(s"[perfbench] $kind failed: $err")
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val cpu = processCpuSeconds() - cpu0
    System.err.println(f"[perfbench] $kind%s ${secs}%.3f s, cpu ${cpu}%.3f s${if (tracing) " (traced)" else ""}")
    if (tracing) drain()
    ops += Op(curOp, kind, secs, cpu, rows, err.isEmpty, tracing, start,
      start + secs, err)
    curOp = -1
    err.isEmpty
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (driver, executor threads, JIT, GC):
    * unlike wall time it does not grow when the host steals the CPU.
    */
  def processCpuSeconds(): Double = os.getProcessCpuTime / 1e9

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
  def gcSeconds(): Double = {
    var ms = 0L
    gcBeans.forEach(b => ms += math.max(0L, b.getCollectionTime))
    ms / 1000.0
  }

  def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def toJson: String = synchronized {
    import Js._
    obj(
      "ops" -> arr(ops.toSeq.map(o => obj("id" -> num(o.id), "kind" -> str(o.kind),
        "seconds" -> num(o.seconds), "cpu_s" -> num(o.cpuSeconds), "rows" -> num(o.rows), "ok" -> bool(o.ok),
        "traced" -> bool(o.traced), "start" -> num(o.start), "end" -> num(o.end),
        "error" -> str(o.error)))),
      "spans" -> arr(spans.toSeq.map(s => obj("id" -> num(s.id), "name" -> str(s.name),
        "parent" -> num(s.parent), "op" -> num(s.op), "start" -> num(s.start),
        "end" -> num(s.end)))),
      "jobs" -> arr(jobs.values.toSeq.map(j => obj("id" -> num(j.id),
        "group" -> str(j.group), "start" -> num(j.start), "end" -> num(j.end),
        "ok" -> bool(j.ok), "stages" -> arr(j.stages.map(i => num(i)))))),
      "stages" -> arr(stages.values.toSeq.map(s => obj("id" -> num(s.id),
        "tasks" -> num(s.tasks), "failed_tasks" -> num(s.failedTasks),
        "attempts" -> num(s.attempts), "run_s" -> num(s.runS),
        "cpu_s" -> num(s.cpuS), "gc_s" -> num(s.gcS),
        "shuffle_bytes" -> num(s.shuffleRead + s.shuffleWrite),
        "spill_bytes" -> num(s.spill), "records_read" -> num(s.recordsRead)))))
  }
}

/** Minimal JSON writer: the harness emits a handful of flat records. */
object Js {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
