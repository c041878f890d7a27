package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Per-task processing metrics — the engine-native form of the
 * reference's `task_processing_time_*` CSV (one line per extraction
 * task: `taskCount, processingTime, threadId`, reference
 * `WorkerRunnable.java:152-155`, `CoordinatorRunnable.java:123-130`).
 * Spark's scheduler already measures every task; this listener just
 * surfaces it. One extraction task ≙ one input partition ≙ one Spark
 * task, so the granularity matches the reference exactly — without
 * the shared-Writer race the reference has (SURVEY §3.4).
 *
 * Beyond the reference's wall-time column, each sample carries the
 * task's shuffle and spill byte counters — the numbers that ATTRIBUTE
 * a scaling measurement (ScaleCheck's 100× sweeps) to a binding
 * resource instead of arguing it: wall growing faster than data while
 * shuffle bytes grow linearly names one-box shuffle bandwidth; spill
 * bytes appearing at the larger scale names memory pressure.
 */
final case class TaskSample(stageId: Int, taskId: Long, durationMs: Long,
                            recordsRead: Long, executorRunTimeMs: Long,
                            host: String,
                            shuffleReadBytes: Long, shuffleWriteBytes: Long,
                            memorySpilledBytes: Long,
                            diskSpilledBytes: Long, gcTimeMs: Long)

/** Totals over a listener window — one probe run's resource footprint. */
final case class ResourceSummary(tasks: Long, taskTimeMs: Long,
                                 peakTaskMs: Long, shuffleReadBytes: Long,
                                 shuffleWriteBytes: Long,
                                 memorySpilledBytes: Long,
                                 diskSpilledBytes: Long,
                                 gcTimeMs: Long) {
  private def gb(b: Long): String = f"${b / 1073741824.0}%.2f"
  /** Compact one-line rendering for sweep logs. */
  def render: String =
    f"shufR=${gb(shuffleReadBytes)}%sGB shufW=${gb(shuffleWriteBytes)}%sGB " +
      f"spillMem=${gb(memorySpilledBytes)}%sGB " +
      f"spillDisk=${gb(diskSpilledBytes)}%sGB " +
      f"peakTask=${peakTaskMs / 1000.0}%.1fs cpuTask=${taskTimeMs / 1000.0}%.0fs " +
      f"gc=${gcTimeMs / 1000.0}%.0fs"
}

class TaskMetricsListener extends SparkListener {
  private val buf = new ArrayBuffer[TaskSample]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null && e.taskMetrics != null) {
      val m = e.taskMetrics
      buf += TaskSample(e.stageId, e.taskInfo.taskId, e.taskInfo.duration,
        m.inputMetrics.recordsRead, m.executorRunTime, e.taskInfo.host,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled, m.diskBytesSpilled, m.jvmGCTime)
    }
  }

  def samples: Seq[TaskSample] = synchronized(buf.toVector)

  /** Drop accumulated samples (reuse one listener across probe runs). */
  def reset(): Unit = synchronized(buf.clear())

  /** Resource totals of the samples accumulated so far. */
  def summary: ResourceSummary = {
    val s = samples
    ResourceSummary(s.size.toLong, s.map(_.executorRunTimeMs).sum,
      if (s.isEmpty) 0L else s.map(_.durationMs).max,
      s.map(_.shuffleReadBytes).sum, s.map(_.shuffleWriteBytes).sum,
      s.map(_.memorySpilledBytes).sum, s.map(_.diskSpilledBytes).sum,
      s.map(_.gcTimeMs).sum)
  }

  /** [[summary]] once the sample stream has gone quiet: listener
    * delivery is async, so poll until the count holds for three 50 ms
    * ticks (10 s deadline) and a run's summary keeps its tail tasks. */
  def settledSummary(): ResourceSummary = {
    var n = -1; var same = 0; val deadline = System.currentTimeMillis + 10000
    while (same < 3 && System.currentTimeMillis < deadline) {
      val c = synchronized(buf.size)
      if (c == n) same += 1 else { same = 0; n = c }
      Thread.sleep(50)
    }
    summary
  }

  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    samples.toDF()
  }
}
