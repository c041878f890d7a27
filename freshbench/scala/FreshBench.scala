package freshbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftSession
import graft.streaming.{ExtractionPipeline, FileChangeLogStream, StalenessListener}

/**
 * Freshness benchmark harness. Drives the extractor only through its
 * public entry points (`ExtractionPipeline.start` over
 * `FileChangeLogStream`) and observes it from outside through listeners.
 * Writes every raw observation to one JSON file; the metric arithmetic
 * lives in `metrics.py`.
 *
 *   FreshBench <workload> <seed> <seconds> <trace 0|1> <workDir> <outJson>
 */
object FreshBench {
  val SetupReps = 3

  /** A workload's shape: how its change log is landed and drained. */
  final case class Shape(segRows: Int, maxEventsPerTrigger: Long, triggerMs: Long)

  // each segment costs the trigger a file open per read; at 10 segments/s
  // of 200 rows the extractor is three quarters busy, near saturation,
  // where staleness swings with host load. 4 segments/s of 500 rows
  // leave it half busy.
  val Steady = Shape(segRows = 500, maxEventsPerTrigger = Long.MaxValue,
    triggerMs = 1000L)
  val SteadyRate = 2000          // events per second, open loop
  val SteadyWarmupS = 5
  val SteadyTailS = 1            // load continues past the window
  val Backlog = Shape(segRows = 5000, maxEventsPerTrigger = 100000L,
    triggerMs = 1000L)
  val BacklogRowsPerSecond = 80000 // backlog rows per measured second
  val WarmupRows = 250000
  // A timed section during which the hypervisor took more than this share
  // of the host's CPU is measured once more, when the run has time left;
  // the attempt with less steal is reported. Saturated triggers wait for
  // their slowest task, so a few % of steal cost the backlog 10-50%.
  val StealLimitPct = 4.0
  val RetryBeforeS = 75

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, outS) = argv
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val trace = traceS == "1"
    val work = Paths.get(workS)
    val raw = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "jvm_start_ms" ->
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "loadavg_start" -> Sampler.loadavg())

    val t0 = System.nanoTime()
    val spark = GraftSession.local()
    raw("session_s") = (System.nanoTime() - t0) / 1e9
    val sampler = new Sampler
    sampler.start()
    val progress = new ProgressRecorder
    spark.streams.addListener(progress)
    val tracer = if (trace) Some(new TraceRecorder) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }

    val codegen0 = codegen()
    raw("setup_s") = setups(spark, seed, work)
    raw("warmup_s") = warmup(spark, seed, work)

    // the extractor's own staleness listener, added after the set-up and
    // warm-up queries, whose progress it would otherwise average in
    val staleness = new StalenessListener()
    spark.streams.addListener(staleness)

    def attempt(name: String): Run = workload match {
      case "extract_steady" => steady(spark, seed, seconds, work.resolve(name))
      case "extract_backlog" => backlog(spark, seed, seconds, work.resolve(name))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val first = attempt("a0")
    val attempts = if (first.stealPct > StealLimitPct &&
        (System.nanoTime() - t0) / 1e9 < RetryBeforeS) Seq(first, attempt("a1"))
      else Seq(first)
    val run = attempts.minBy(_.stealPct)
    raw ++= run.info
    raw("attempts_steal_pct") = attempts.map(_.stealPct)
    raw("query_id") = run.queryId
    // codegen over the whole run: the measured query reuses the classes
    // set-up and warm-up compiled, so its own window would read zero
    raw("codegen") = Seq(codegen0, codegen())
    // progress events are delivered asynchronously: wait for the last batch
    val deadline = System.currentTimeMillis() + 10000
    while (!progress.has(run.queryId, run.lastBatch) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    sampler.finish()
    raw("progress") = progress.forQuery(run.queryId)
    raw("listener") = staleness.samples.filter(_.wallClockMs >= run.qstartMs)
      .map(s => Map("batch_id" -> s.batchId, "wall_ms" -> s.wallClockMs,
        "staleness_ms" -> s.stalenessMs, "avg_staleness_ms" -> s.avgStalenessMs,
        "rows" -> s.numInputRows))
    raw("sampler") = sampler.toJson
    // every attempt is checked: a failure in a discarded one still counts
    val checks = attempts.map(a => checkSink(a.outDir, a.model, a.landed))
    raw("checks") = checks
    raw("check") = checks(attempts.indexOf(run))
    raw("loadavg_end") = Sampler.loadavg()
    tracer.foreach { t =>
      raw("trace") = t.toJson
      raw("trace_callback_ms") = (t.callbackNs + progress.callbackNs) / 1e6
    }
    Files.writeString(Paths.get(outS), Json(raw.toMap))
    spark.stop()
    sys.exit(0)
  }

  /** Observations of one measured query. */
  final case class Run(queryId: String, qstartMs: Long, lastBatch: Long,
                       outDir: Path, model: EventModel, landed: Int,
                       stealPct: Double, info: Map[String, Any])

  /** Steal share of the host's CPU between two /proc/stat samples. */
  def stealPct(a: Option[Seq[Long]], b: Option[Seq[Long]]): Double =
    (for (x <- a; y <- b) yield {
      val d = x.zip(y).map { case (u, v) => v - u }
      if (d.sum > 0) 100.0 * d(7) / d.sum else 0.0
    }).getOrElse(0.0)

  def fileStream(spark: SparkSession, dir: Path, shape: Shape): DataFrame =
    spark.readStream.format(FileChangeLogStream.FormatName)
      .option("path", dir.toString)
      .option("maxEventsPerTrigger", shape.maxEventsPerTrigger)
      .load()

  def startExtraction(spark: SparkSession, in: Path, shape: Shape, work: Path,
                      name: String): (StreamingQuery, Path) = {
    val out = work.resolve(s"$name-out")
    val q = ExtractionPipeline.start(fileStream(spark, in, shape),
      out.toString, work.resolve(s"$name-ckpt").toString, shape.triggerMs)
    (q, out)
  }

  /**
   * Set-up time, several times over: a fresh extraction query over a
   * small landed log, from `start` until its first data is committed.
   */
  def setups(spark: SparkSession, seed: Long, work: Path): Seq[Double] = {
    val dir = Files.createDirectories(work.resolve("setup-in"))
    val rows = Steady.segRows
    val model = new EventModel(seed ^ 0x5E7L, 20 * rows, EventModel.nowUs(), 500L)
    (0 until 20).foreach(k => model.landSegment(dir, k, k * rows, (k + 1) * rows))
    (0 until SetupReps).map { r =>
      val t = System.nanoTime()
      val (q, _) = startExtraction(spark, dir, Steady, work, s"setup$r")
      q.processAllAvailable()
      val s = (System.nanoTime() - t) / 1e9
      q.stop()
      s
    }
  }

  /**
   * Untimed warm-up drain of [[WarmupRows]] rows through the same code
   * paths, so the JIT has compiled the hot loops before measuring: a
   * long-running extractor is warm, and its cold start is `setup_s`.
   */
  def warmup(spark: SparkSession, seed: Long, work: Path): Double = {
    val t = System.nanoTime()
    val dir = Files.createDirectories(work.resolve("warmup-in"))
    val segs = WarmupRows / Backlog.segRows
    val model = new EventModel(seed ^ 0x3A7L, WarmupRows, EventModel.nowUs(), 500L)
    (0 until segs).foreach(k => model.landSegment(dir, k, k * Backlog.segRows,
      (k + 1) * Backlog.segRows))
    val (q, _) = startExtraction(spark, dir, Backlog, work, "warmup")
    q.processAllAvailable()
    q.stop()
    (System.nanoTime() - t) / 1e9
  }

  private def codegen(): Map[String, Any] =
    Map("compile_ns" -> CodeGenerator.compileTime,
      "classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Open-loop live load at [[SteadyRate]]. */
  def steady(spark: SparkSession, seed: Long, seconds: Int, work: Path): Run = {
    val in = Files.createDirectories(work.resolve("in"))
    val n = SteadyRate * (SteadyWarmupS + seconds + SteadyTailS + 2)
    val stepUs = 1000000L / SteadyRate
    // phase-lock the load to the trigger clock (Spark fires processing-time
    // triggers at multiples of the interval since the epoch): segments land
    // 125 ms off the trigger grid, so the phase adds no run-to-run noise
    // and no segment races a trigger
    val gridUs = Steady.triggerMs * 1000L
    val base = ((EventModel.nowUs() + 300000L) / gridUs + 1) * gridUs + 125000L
    val model = new EventModel(seed, n, base, stepUs)
    val gen = new LiveGenerator(model, in, Steady.segRows)
    val qstart = System.currentTimeMillis()
    val (q, out) = startExtraction(spark, in, Steady, work, "steady")
    gen.start()
    val w0 = base / 1000 + SteadyWarmupS * 1000L
    val w1 = w0 + seconds * 1000L
    EventModel.sleepUntilUs(w0 * 1000)
    val stat0 = Sampler.procStat()
    EventModel.sleepUntilUs(w1 * 1000)
    val stat1 = Sampler.procStat()
    EventModel.sleepUntilUs((w1 + SteadyTailS * 1000L) * 1000)
    gen.finish()
    if (gen.failure != null) throw gen.failure
    q.processAllAvailable()
    q.stop()
    Run(q.id.toString, qstart, q.lastProgress.batchId, out, model, gen.landed,
      stealPct(stat0, stat1),
      Map("mode" -> "steady", "qstart_ms" -> qstart, "window_ms" -> Seq(w0, w1),
        "base_us" -> base, "step_us" -> stepUs, "seg_rows" -> Steady.segRows,
        "rate" -> SteadyRate, "landed" -> gen.landed,
        "trigger_ms" -> Steady.triggerMs,
        "gen_late_ms" -> gen.lateMs.synchronized(gen.lateMs.toVector)))
  }

  /**
   * Catch-up: a backlog landed before the query starts, drained with
   * `maxEventsPerTrigger`. Its events carry the event times a source
   * writing at [[SteadyRate]] would have given them while the extractor
   * was down, ending when the query starts.
   */
  def backlog(spark: SparkSession, seed: Long, seconds: Int, work: Path): Run = {
    val in = Files.createDirectories(work.resolve("in"))
    val segs = math.max(1, BacklogRowsPerSecond * seconds / Backlog.segRows)
    val n = segs * Backlog.segRows
    val stepUs = 1000000L / SteadyRate
    val model = new EventModel(seed, n, EventModel.nowUs() - n * stepUs, stepUs)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, Runtime.getRuntime.availableProcessors()))
    try {
      (0 until segs).map { k =>
        pool.submit(new Runnable {
          def run(): Unit = model.landSegment(in, k, k * Backlog.segRows,
            (k + 1) * Backlog.segRows)
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    val stat0 = Sampler.procStat()
    val qstart = System.currentTimeMillis()
    val (q, out) = startExtraction(spark, in, Backlog, work, "backlog")
    q.processAllAvailable()
    val drained = System.currentTimeMillis()
    val stat1 = Sampler.procStat()
    q.stop()
    Run(q.id.toString, qstart, q.lastProgress.batchId, out, model, n,
      stealPct(stat0, stat1),
      Map("mode" -> "backlog", "qstart_ms" -> qstart,
        "window_ms" -> Seq(qstart, qstart + seconds * 1000L),
        "drained_ms" -> drained, "base_us" -> model.baseUs, "step_us" -> stepUs,
        "seg_rows" -> Backlog.segRows, "rate" -> SteadyRate, "landed" -> n,
        "max_events_per_trigger" -> Backlog.maxEventsPerTrigger,
        "trigger_ms" -> Backlog.triggerMs,
        "gen_late_ms" -> Seq.empty[Double]))
  }

  /**
   * Read the sink back: every landed `event_id` must appear exactly once
   * with the generated fields. A `commit_ts` other than the transaction's
   * true commit ts is counted apart.
   */
  def checkSink(out: Path, model: EventModel, landed: Int): Map[String, Any] = {
    val seen = new Array[Int](landed)
    var lines, wrong, mismatch = 0L
    val walk = Files.walk(out)
    val files = try walk.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).toVector
    finally walk.close()
    files.foreach { f =>
      val text = Files.lines(f)
      try text.iterator().asScala.foreach { line =>
        lines += 1
        val cut = line.lastIndexOf('|')
        val id = scala.util.Try(line.substring(0, line.indexOf('|')).toInt).getOrElse(-1)
        if (id < 0 || id >= landed || cut < 0 ||
          line.substring(0, cut) != model.pipeFields(id)) wrong += 1
        else {
          seen(id) += 1
          if (line.substring(cut + 1) != model.commitTsUs(id).toString) mismatch += 1
        }
      } finally text.close()
    }
    val missing = seen.count(_ == 0).toLong
    val duplicated = seen.map(c => math.max(0, c - 1).toLong).sum
    Map("landed" -> landed, "lines" -> lines, "missing" -> missing,
      "duplicated" -> duplicated, "wrong" -> wrong,
      "commit_ts_mismatch" -> mismatch, "files" -> files.size)
  }
}
