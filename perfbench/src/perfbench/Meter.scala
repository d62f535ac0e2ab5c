package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-metric totals of one attribution bucket (the whole run, or one
  * Spark job group when tracing). */
final class Acc {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
  var shuffleWriteB = 0L; var fetchWaitMs = 0L; var spillB = 0L
  def cpuS: Double = cpuNs / 1e9
}

/** One completed stage attempt, kept only when tracing. */
final case class StageRec(stageId: Int, attempt: Int, group: String,
                          numTasks: Int, submitMs: Long, doneMs: Long,
                          taskMs: Seq[Long])

/** One job, kept only when tracing. */
final case class JobRec(jobId: Int, group: String, startMs: Long, var endMs: Long)

/** The benchmark's Spark listener, registered through the public
  * `SparkContext.addSparkListener` hook.
  *
  * Always on: run-wide task totals (cpu, run, GC, shuffle write, fetch
  * wait, spill) and the peak bytes of cached or checkpointed RDD blocks.
  * With `trace`, it also keeps job and stage spans, per-stage task
  * durations and per-job-group totals, so each timed operation (tagged
  * through `setJobGroup`) gets its own layer split. Callbacks arrive on
  * the listener-bus thread; readers call `Harness.drain` first. */
final class Meter(@volatile var trace: Boolean) extends SparkListener {
  val total = new Acc
  val byGroup = mutable.Map.empty[String, Acc]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stageRecs = mutable.ArrayBuffer.empty[StageRec]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val openJobs = mutable.Map.empty[Int, JobRec]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val blocks = mutable.Map.empty[String, Long]
  private var blockBytes = 0L
  var blockPeak = 0L
  var callbackNs = 0L

  private def timed[T](f: => T): T = synchronized {
    val t0 = System.nanoTime()
    try f finally callbackNs += System.nanoTime() - t0
  }

  private def accs(group: String): Seq[Acc] =
    if (trace && group != null) Seq(total, byGroup.getOrElseUpdate(group, new Acc))
    else Seq(total)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    accs(g).foreach(_.jobs += 1)
    if (trace) {
      e.stageIds.foreach(stageGroup(_) = g)
      val r = JobRec(e.jobId, g, e.time, -1L)
      openJobs(e.jobId) = r
      jobs += r
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    openJobs.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    val g = stageGroup.get(e.stageId).orNull
    accs(g).foreach { a =>
      a.tasks += 1
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    if (trace)
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val i = e.stageInfo
    val g = stageGroup.get(i.stageId).orNull
    accs(g).foreach(_.stages += 1)
    if (trace)
      stageRecs += StageRec(i.stageId, i.attemptNumber(), g, i.numTasks,
        i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L),
        taskMs.remove((i.stageId, i.attemptNumber())).map(_.toSeq).getOrElse(Nil))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = timed {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val id = b.blockId.name
      blockBytes -= blocks.remove(id).getOrElse(0L)
      if (b.storageLevel.isValid) {
        val sz = b.memSize + b.diskSize
        blocks(id) = sz
        blockBytes += sz
      }
      blockPeak = math.max(blockPeak, blockBytes)
    }
  }

  /** Restart the run-wide block peak at the current holding. */
  def resetBlockPeak(): Unit = synchronized { blockPeak = blockBytes }

  def cpuS(): Double = synchronized(total.cpuS)
}

/** Query-planning phases (`qe.tracker.phases`) of every successful
  * action, through the public `QueryExecutionListener` hook. Phases are
  * wall-clock intervals, attributed to timed operations by time. */
final class PlanListener extends QueryExecutionListener {
  val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  var callbackNs = 0L
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    synchronized {
      val t0 = System.nanoTime()
      qe.tracker.phases.foreach { case (name, p) =>
        phases += ((name, p.startTimeMs, p.endTimeMs)) }
      callbackNs += System.nanoTime() - t0
    }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Micro-batch progress of the ingest door, through the public
  * `StreamingQueryListener` hook. */
final class DoorListener extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[(Long, Long, Long)] // (batchId, rows, ms)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      if (p.numInputRows > 0 || p.batchDuration > 0)
        batches += ((p.batchId, p.numInputRows, p.batchDuration))
    }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
