package freshbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for maps, sequences, numbers and strings. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case Raw(j) => j
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => quote(other.toString)
  }

  /** Already-serialised JSON, embedded verbatim. */
  final case class Raw(json: String)

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Every progress event of every query, with the wall time it arrived. */
final class ProgressRecorder extends StreamingQueryListener {
  private val buf = new ArrayBuffer[(Long, String, Long, String)]()
  @volatile var callbackNs = 0L

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val t = System.nanoTime()
    val p = event.progress
    synchronized {
      buf += ((System.currentTimeMillis(), p.id.toString, p.batchId, p.json))
    }
    callbackNs += System.nanoTime() - t
  }

  def has(id: String, batchId: Long): Boolean = synchronized {
    buf.exists(e => e._2 == id && e._3 == batchId)
  }

  def forQuery(id: String): Seq[Map[String, Any]] = synchronized {
    buf.filter(_._2 == id).map { case (at, _, _, json) =>
      Map("received_ms" -> at, "progress" -> Json.Raw(json))
    }.toVector
  }
}

/**
 * Process gauges sampled every 20 ms on a daemon thread: wall ms, process
 * CPU, cumulative GC and JIT time, the heap still in use after each
 * garbage collection (the live heap), and every 240 ms the host's
 * /proc/stat jiffies for steal and busy shares. Used heap between
 * collections is not kept: its peak depends on when the collector runs.
 */
final class Sampler extends Thread("freshbench-sampler") {
  setDaemon(true)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean
  private val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val lastGc = scala.collection.mutable.HashMap[String, Long]()
  private val rows = new ArrayBuffer[Seq[Long]]()
  private val host = new ArrayBuffer[Seq[Long]]()
  private val afterGc = new ArrayBuffer[Seq[Long]]()
  @volatile private var running = true

  private def sample(): Unit = {
    val row = Seq(System.currentTimeMillis(), os.getProcessCpuTime, gcs.map(_.getCollectionTime).sum,
      jit.getTotalCompilationTime)
    synchronized { rows += row }
    gcs.foreach {
      case g: com.sun.management.GarbageCollectorMXBean =>
        val info = g.getLastGcInfo
        if (info != null && !lastGc.get(g.getName).contains(info.getId)) {
          lastGc(g.getName) = info.getId
          val live = info.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          val endMs = startMs + info.getEndTime
          synchronized { afterGc += Seq(endMs, live) }
        }
      case _ =>
    }
  }

  private def sampleHost(): Unit =
    Sampler.procStat().foreach { j =>
      synchronized { host += (System.currentTimeMillis() +: j) }
    }

  override def run(): Unit = {
    var tick = 0
    while (running) {
      sample()
      if (tick % 12 == 0) sampleHost()
      tick += 1
      Thread.sleep(20)
    }
  }

  def finish(): Unit = { running = false; join(); sample(); sampleHost() }

  def toJson: Map[String, Any] = synchronized {
    Map("columns" -> Seq("t_ms", "cpu_ns", "gc_ms", "jit_ms"),
      "rows" -> rows.toVector,
      "host_columns" -> Seq("t_ms", "user", "nice", "system", "idle",
        "iowait", "irq", "softirq", "steal"),
      "host" -> host.toVector,
      "after_gc_columns" -> Seq("t_ms", "heap_live_b"),
      "after_gc" -> afterGc.toVector)
  }
}

object Sampler {
  /** Aggregate cpu jiffies from /proc/stat (first 8 fields), if readable. */
  def procStat(): Option[Seq[Long]] =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).asScala
        .find(_.startsWith("cpu ")).get
      Some(line.trim.split("\\s+").toSeq.slice(1, 9).map(_.toLong))
    } catch { case _: Exception => None }

  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case _: Exception => "" }
}

/**
 * Traced runs only: jobs, stages and tasks from the scheduler, and
 * Catalyst phase times of every executed plan. Jobs carry the micro-batch
 * id local property, which links them to their trigger.
 */
final class TraceRecorder extends SparkListener with QueryExecutionListener {
  private val jobs = new ArrayBuffer[Map[String, Any]]()
  private val jobStart = scala.collection.mutable.HashMap[Int, (Long, String, String, Seq[Int])]()
  private val stages = new ArrayBuffer[Map[String, Any]]()
  private val tasks = new ArrayBuffer[Seq[Any]]()
  private val plans = new ArrayBuffer[Map[String, Any]]()
  @volatile var callbackNs = 0L

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime()
    synchronized(f)
    callbackNs += System.nanoTime() - t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val props = Option(e.properties)
    jobStart(e.jobId) = (e.time,
      props.map(_.getProperty("streaming.sql.batchId")).orNull,
      props.map(_.getProperty("sql.streaming.queryId")).orNull,
      e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobStart.remove(e.jobId).foreach { case (start, batch, query, stageIds) =>
      jobs += Map("job" -> e.jobId, "start_ms" -> start, "end_ms" -> e.time,
        "batch_id" -> batch, "query_id" -> query, "stages" -> stageIds,
        "ok" -> (e.jobResult == JobSucceeded))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val s = e.stageInfo
    stages += Map("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "name" -> s.name, "tasks" -> s.numTasks,
      "start_ms" -> s.submissionTime.getOrElse(-1L),
      "end_ms" -> s.completionTime.getOrElse(-1L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) tasks += Seq(e.stageId, i.launchTime, i.finishTime,
      m.executorRunTime, m.executorCpuTime, m.executorDeserializeTime,
      m.resultSerializationTime, i.gettingResultTime,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled,
      m.diskBytesSpilled, m.inputMetrics.recordsRead)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    timed {
      // delivered late on the listener bus: keep the tracker's own clock
      plans += Map("func" -> funcName, "duration_ns" -> durationNs,
        "phases" -> qe.tracker.phases.map { case (k, v) =>
          k -> Seq(v.startTimeMs, v.endTimeMs) })
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def toJson: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toVector, "stages" -> stages.toVector,
      "task_columns" -> Seq("stage", "launch_ms", "finish_ms", "run_ms",
        "cpu_ns", "deser_ms", "ser_ms", "getting_result_ms",
        "shuffle_write_b", "mem_spill_b", "disk_spill_b", "records_read"),
      "tasks" -> tasks.toVector, "plans" -> plans.toVector)
  }
}
