package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark work attributed to one benchmark op: every job launched under
  * the op's job group, split by the phase that launched it. */
final class OpWork {
  var jobs = 0
  var eagerJobs = 0
  var tasks = 0
  var failedTasks = 0
  var idleTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var peakExecMem = 0L
}

/** A closed interval of wall time, in epoch milliseconds, under `parent`. */
final case class Span(id: String, name: String, layer: String, parent: String,
                      start: Long, end: Long)

/** Benchmark-owned listener: attributes jobs, stages and task metrics to
  * the op whose job group launched them, and records one span per job
  * under the op's phase (build or execute) that launched it.
  * Installed only for traced runs. Job groups are set by the benchmark
  * around each call into graft; `PhaseKey` tells build from execute. */
final class OpListener extends SparkListener {
  private val stageOp = mutable.Map.empty[Int, String]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val jobOp = mutable.Map.empty[Int, (String, Long)]  // parent, start
  val work = mutable.Map.empty[String, OpWork]
  val jobSpans = mutable.ArrayBuffer.empty[Span]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { op =>
        val w = work.getOrElseUpdate(op, new OpWork)
        val phase = props.flatMap(p => Option(p.getProperty(OpListener.PhaseKey)))
        w.jobs += 1
        if (phase.contains("build")) w.eagerJobs += 1
        e.stageIds.foreach(stageOp(_) = op)
        jobOp(e.jobId) = (phase.fold(op)(ph => s"$op/$ph"), e.time)
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (parent, start) =>
      jobSpans += Span(s"job-${e.jobId}", s"job ${e.jobId}", "spark", parent,
        start, e.time)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val w = work.getOrElseUpdate(op, new OpWork)
      val info = e.taskInfo
      w.tasks += 1
      if (!info.successful) w.failedTasks += 1
      val queued = stageSubmitted.get(e.stageId)
        .map(s => math.max(0L, info.launchTime - s)).getOrElse(0L)
      Option(e.taskMetrics).foreach { m =>
        val sr = m.shuffleReadMetrics
        val sw = m.shuffleWriteMetrics
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        // Spark UI's scheduler delay plus the time the task queued after
        // its stage was submitted: both are time work waited
        val overhead = m.executorDeserializeTime + m.resultSerializationTime +
          (if (info.gettingResult) info.finishTime - info.gettingResultTime
           else 0L)
        w.schedDelayMs += queued +
          math.max(0L, info.duration - m.executorRunTime - overhead)
        w.shuffleBytes += sr.remoteBytesRead + sr.localBytesRead +
          sw.bytesWritten
        w.spillBytes += m.diskBytesSpilled
        w.inputBytes += m.inputMetrics.bytesRead
        w.outputBytes += m.outputMetrics.bytesWritten
        w.peakExecMem = math.max(w.peakExecMem, m.peakExecutionMemory)
        val records = m.inputMetrics.recordsRead + sr.recordsRead +
          m.outputMetrics.recordsWritten + sw.recordsWritten
        if (records == 0) w.idleTasks += 1
      }
    }
  }
}

object OpListener {
  val PhaseKey = "perfbench.phase"
}
