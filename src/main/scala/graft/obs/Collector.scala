package graft.obs

import scala.collection.mutable
import org.apache.spark.GraftBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One stage a measured body ran. Times in seconds, sizes in bytes; the
  * run, CPU and GC times are summed over its tasks, peak execution memory
  * is the largest single task's.
  */
final case class StageStats(id: Int, name: String, wallS: Double, tasks: Int,
                            runS: Double, cpuS: Double, gcS: Double,
                            shuffleRead: Long, shuffleWrite: Long, spill: Long,
                            peakExecMem: Long, maxTaskS: Double,
                            medianTaskS: Double)

/** One job a measured body ran, with the stages that job executed (a stage
  * skipped because an earlier job computed it is listed under that job).
  */
final case class JobStats(id: Int, description: String, wallS: Double,
                          stages: Seq[StageStats]) {
  def tasks: Int = stages.map(_.tasks).sum
}

/** The body's result, its wall time and every job it ran, in start order. */
final case class Measured[A](result: A, wallS: Double, jobs: Seq[JobStats]) {
  def stages: Seq[StageStats] = jobs.flatMap(_.stages)
  def shuffleRead: Long = stages.map(_.shuffleRead).sum
  def shuffleWrite: Long = stages.map(_.shuffleWrite).sum
  def spill: Long = stages.map(_.spill).sum
}

/** The one job/stage metrics collector: `JobProf` and the tests read jobs,
  * shuffle bytes, spill and task skew from it.
  */
object Collector {

  /** Run `body` with a fresh listener attached. The listener bus is drained
    * before the listener is detached, so the last stage's events are kept.
    */
  def measure[A](spark: SparkSession)(body: => A): Measured[A] = {
    val sc = spark.sparkContext
    val listener = new Listener
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val result = body
      val wallS = (System.nanoTime() - t0) / 1e9
      GraftBus.drain(sc)
      Measured(result, wallS, listener.jobs())
    } finally sc.removeSparkListener(listener)
  }

  private final class Stage {
    var name = ""; var wallMs = 0L; var completed = false
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var read = 0L; var write = 0L; var spill = 0L; var peak = 0L
    val taskMs = mutable.ArrayBuffer[Long]()
  }

  private final class Job(val id: Int, val description: String,
                          val startMs: Long, val stageIds: Seq[Int]) {
    var endMs: Long = startMs
  }

  private final class Listener extends SparkListener {
    private val started = mutable.LinkedHashMap[Int, Job]()
    private val stages = mutable.HashMap[Int, Stage]()
    private val ranIn = mutable.HashMap[Int, Int]() // stage -> first job

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      started(e.jobId) = new Job(e.jobId, desc, e.time, e.stageIds)
      e.stageIds.foreach(s => ranIn.getOrElseUpdate(s, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.get(e.jobId).foreach(_.endMs = e.time)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new Stage)
      if (e.taskInfo != null) s.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.read += m.shuffleReadMetrics.totalBytesRead
        s.write += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peak = math.max(s.peak, m.peakExecutionMemory)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val s = stages.getOrElseUpdate(si.stageId, new Stage)
        s.name = si.name; s.completed = true
        s.wallMs += (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(0L)
      }

    def jobs(): Seq[JobStats] = synchronized {
      started.values.toSeq.map { j =>
        val ran = j.stageIds.filter(id => ranIn.get(id).contains(j.id))
          .flatMap(id => stages.get(id).filter(_.completed).map(id -> _))
        JobStats(j.id, j.description, (j.endMs - j.startMs) / 1e3,
          ran.map { case (id, s) =>
            val ts = s.taskMs.sorted
            StageStats(id, s.name, s.wallMs / 1e3, ts.length, s.runMs / 1e3,
              s.cpuNs / 1e9, s.gcMs / 1e3, s.read, s.write, s.spill, s.peak,
              ts.lastOption.getOrElse(0L) / 1e3,
              if (ts.isEmpty) 0.0 else ts(ts.length / 2) / 1e3)
          })
      }
    }
  }
}
