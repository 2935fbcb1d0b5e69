package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One micro-batch as StreamingQueryProgress reports it. */
final case class BatchRec(pass: Int, batchMs: Long, durations: Map[String, Long], rows: Long)

/** Spark's public listeners, registered from the benchmark: they turn
  * scheduler, query and streaming events into plain records that the
  * metrics are computed from. */
final class Recorder extends SparkListener {
  private val lock = new Object
  private val jobStart = mutable.Map.empty[Int, (Option[String], Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  private var streamsStarted = 0
  private var streamsEnded = 0
  private var lastEvent = System.nanoTime()
  private val streamPass = mutable.Map.empty[java.util.UUID, Int]
  /** The pass a stream started now belongs to. */
  @volatile var pass: Int = -1

  private def touch[A](f: => A): A = lock.synchronized { lastEvent = System.nanoTime(); f }

  override def onJobStart(e: SparkListenerJobStart): Unit = touch {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobStart(e.jobId) = (g, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = touch {
    val (g, s) = jobStart.getOrElse(e.jobId, (None, e.time))
    jobs += JobRec(g, s)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = touch {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages += StageRec(s, c, i.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = touch {
    val m = e.taskMetrics
    val (g, js) = stageJob.get(e.stageId).flatMap(jobStart.get).getOrElse((None, e.taskInfo.launchTime))
    if (m != null)
      tasks += TaskRec(g, js, e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead)
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = touch {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        plans += PlanRec(ph.map(_.startTimeMs).min, ph.map(p => p.endTimeMs - p.startTimeMs).sum)
      else plans += PlanRec(System.currentTimeMillis(), 0L)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = rec(qe)
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = touch {
      streamsStarted += 1
      streamPass(e.runId) = pass
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = touch {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      batches += BatchRec(streamPass.getOrElse(p.runId, -1), p.batchDuration, d, p.numInputRows)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = touch {
      streamsEnded += 1
    }
  }

  /** Waits until every started job and stream has ended and no event has
    * arrived for a quiet period, so the records are complete. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 20000000000L
    def done = lock.synchronized {
      jobs.size == jobStart.size && streamsStarted == streamsEnded &&
        System.nanoTime() - lastEvent > 300000000L
    }
    while (!done && System.nanoTime() < deadline) Thread.sleep(50)
  }

  def snapshot[A](f: Recorder => A): A = lock.synchronized(f(this))
}
