package perfbench

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** Cumulative counters of everything the scheduler reported so far. */
final case class Totals(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0, schedDelayMs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    spillBytes: Long = 0, inputBytes: Long = 0, inputRecords: Long = 0,
    outputRecords: Long = 0) {
  def -(o: Totals): Totals = Totals(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    schedDelayMs - o.schedDelayMs, shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleReadBytes - o.shuffleReadBytes, spillBytes - o.spillBytes,
    inputBytes - o.inputBytes, inputRecords - o.inputRecords,
    outputRecords - o.outputRecords)
}

/** A point in time plus the counters at that point. */
final case class Mark(wallMs: Long, totals: Totals, jobsSeen: Int)

/** What the scheduler did between two marks. */
final case class Interval(
    wallS: Double,
    delta: Totals,
    /** seconds from the first mark to the first job submitted after it
      * (the whole interval when no job ran): plan construction */
    constructS: Double,
    /** wall time not covered by any job */
    driverGapS: Double,
    /** seconds from the last task's end to the second mark: the
      * driver-side commit of a write */
    tailS: Double)

/** SparkListener the benchmark registers on its own session in traced
  * runs only. It keeps counters and job intervals in memory; callers read
  * them through [[mark]]/[[between]], which drain the listener bus first.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private var t = Totals()
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  // (submission, end) of every finished job, in submission order
  private val jobs = ArrayBuffer[(Long, Long)]()
  private val submissions = ArrayBuffer[Long]()
  private var lastTaskEnd = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    submissions += e.time
    t = t.copy(jobs = t.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { t = t.copy(stages = t.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    if (info != null) lastTaskEnd = math.max(lastTaskEnd, info.finishTime)
    val m = e.taskMetrics
    if (m != null) {
      val total = if (info != null) info.finishTime - info.launchTime else 0L
      val delay = math.max(0L, total - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      t = t.copy(
        tasks = t.tasks + 1,
        runMs = t.runMs + m.executorRunTime,
        cpuNs = t.cpuNs + m.executorCpuTime,
        gcMs = t.gcMs + m.jvmGCTime,
        schedDelayMs = t.schedDelayMs + delay,
        shuffleWriteBytes = t.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = t.shuffleReadBytes +
          m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        spillBytes = t.spillBytes + m.diskBytesSpilled + m.memoryBytesSpilled,
        inputBytes = t.inputBytes + m.inputMetrics.bytesRead,
        inputRecords = t.inputRecords + m.inputMetrics.recordsRead,
        outputRecords = t.outputRecords + m.outputMetrics.recordsWritten)
    } else t = t.copy(tasks = t.tasks + 1)
  }

  def mark(): Mark = {
    ListenerBusDrain(spark.sparkContext)
    synchronized(Mark(System.currentTimeMillis(), t, submissions.size))
  }

  def between(a: Mark, b: Mark): Interval = synchronized {
    val first = submissions.drop(a.jobsSeen).headOption
    val lo = a.wallMs
    val hi = b.wallMs
    // union of job intervals clipped to [lo, hi]
    val clipped = jobs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    val wall = (hi - lo).toDouble
    Interval(
      wallS = wall / 1000.0,
      delta = b.totals - a.totals,
      constructS = first.map(f => math.max(0L, f - lo)).getOrElse(hi - lo) / 1000.0,
      driverGapS = math.max(0.0, wall - covered) / 1000.0,
      tailS = (if (b.jobsSeen > a.jobsSeen) math.max(0L, hi - lastTaskEnd)
        else 0L) / 1000.0)
  }
}

object Tracer {
  def attach(spark: SparkSession): Tracer = {
    val tr = new Tracer(spark)
    spark.sparkContext.addSparkListener(tr)
    tr
  }
}
