package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Public-listener view of Spark's work: one record per job and per
  * stage attempt, with task metrics summed per stage. Jobs are tied to
  * benchmark spans later, by time window, because some verbs run jobs
  * on pooled threads where thread-local job properties are not set.
  */
final class JobListener(r: Recorder) extends SparkListener {
  private final class StageAcc {
    var tasks = 0; var failed = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleW = 0L; var shuffleR = 0L; var spill = 0L
    var inBytes = 0L; var inRows = 0L; var outRows = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
    val launches = mutable.ArrayBuffer.empty[Long]
  }
  private val stages = mutable.Map.empty[(Int, Int), StageAcc]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val drained = mutable.Set.empty[String]

  private val jobDesc = mutable.Map.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobDesc(e.jobId) = desc
    r.rec("job_start", "job" -> e.jobId, "t" -> e.time, "desc" -> desc)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    r.rec("job_end", "job" -> e.jobId, "t" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded))
    jobDesc.remove(e.jobId).foreach(drained += _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
    a.tasks += 1
    if (e.reason != TaskSuccess) a.failed += 1
    val info = e.taskInfo
    if (info != null) { a.durations += info.duration; a.launches += info.launchTime }
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleW += m.shuffleWriteMetrics.bytesWritten
      a.shuffleR += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.inRows += m.inputMetrics.recordsRead
      a.outRows += m.outputMetrics.recordsWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val a = stages.remove((i.stageId, i.attemptNumber())).getOrElse(new StageAcc)
    val submit = i.submissionTime.getOrElse(-1L)
    val sorted = a.durations.sorted
    r.rec("stage", "stage" -> i.stageId, "attempt" -> i.attemptNumber(),
      "job" -> stageJob.getOrElse(i.stageId, -1),
      "submit" -> submit, "complete" -> i.completionTime.getOrElse(-1L),
      "tasks" -> a.tasks, "failed_tasks" -> a.failed,
      "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
      "shuffle_write" -> a.shuffleW, "shuffle_read" -> a.shuffleR,
      "spill" -> a.spill, "in_bytes" -> a.inBytes, "in_rows" -> a.inRows,
      "out_rows" -> a.outRows,
      "task_max_ms" -> sorted.lastOption.getOrElse(0L),
      "task_median_ms" -> (if (sorted.isEmpty) 0L else sorted(sorted.length / 2)),
      "wait_ms" -> (if (submit < 0) 0L else a.launches.map(l => math.max(0L, l - submit)).sum))
  }

  /** Events reach listeners asynchronously, in order. Running a tagged
    * one-task job and waiting for its end event therefore guarantees
    * every earlier job, stage and task event has been recorded.
    */
  def drain(sc: org.apache.spark.SparkContext, tag: String): Unit = {
    sc.setJobDescription(tag)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    val t0 = System.nanoTime()
    while (!synchronized(drained(tag)) && System.nanoTime() - t0 < 30e9.toLong)
      Thread.sleep(5)
    synchronized(drained.clear())
  }
}

/** Micro-batch progress of every streaming query, with receipt times. */
final class StreamListener(r: Recorder) extends StreamingQueryListener {
  private val live = new AtomicLong(0)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    live.incrementAndGet()
    r.rec("stream_start", "query" -> e.runId.toString, "t" -> r.nowUs())
  }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    r.rec("stream_progress", "query" -> p.runId.toString, "t" -> r.nowUs(),
      "batch" -> p.batchId, "rows" -> p.numInputRows,
      "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    r.rec("stream_end", "query" -> e.runId.toString, "t" -> r.nowUs())
    live.decrementAndGet()
  }

  /** Wait until every started query has reported its termination. */
  def drain(): Unit = {
    val t0 = System.nanoTime()
    while (live.get() > 0 && System.nanoTime() - t0 < 10e9.toLong) Thread.sleep(5)
  }
}

/** Largest heap occupancy seen right after a full collection, in
  * bytes. Young collections are left out: what they leave behind still
  * holds old-generation garbage, so their peak says more about GC
  * timing than about the live set.
  */
object HeapPeak {
  private val peak = new AtomicLong(0)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: Any): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[CompositeData])
              if (info.getGcAction == "end of major GC") {
                val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                  .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
                peak.accumulateAndGet(used, (a, b) => math.max(a, b))
              }
            }
        }, null, null)
      case _ => ()
    }

  /** Heap in use now; called right after a forced collection, whose
    * notification may arrive only later.
    */
  def sample(): Unit = {
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak.accumulateAndGet(used, (a, b) => math.max(a, b))
  }

  def reset(): Unit = peak.set(0)
  def get: Long = peak.get()
}
