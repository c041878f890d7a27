package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec
import graft.operators.CdcOps
import graft.streaming.TransitionTracker.{TEvent, TransitionCount}

/**
 * Randomized kill-point soak across the three live queries of
 * `app.Main` (r7 verdict item 5 — the TransitionRestartSpec /
 * ExactlyOnceSinkSpec crash pattern generalized to a property test):
 * per seed, the event log, batch sizing, AND the crashed batch id are
 * drawn from a seeded RNG; each query is killed mid-batch after
 * partial sink output reached disk, restarted from its checkpoint,
 * and the folded output must equal the batch oracle —
 *  - extraction: every enriched line exactly once
 *    (offset-ledger replay + idempotent per-batch overwrite),
 *  - gap monitor: the planted hole surfaces as exactly one gap and
 *    one late fill (flatMapGroupsWithState state restored),
 *  - transitions: summed counts equal [[CdcOps.transitionMatrix]]
 *    over the full sequence (carried last-event state restored).
 */
class StreamingSoakSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  private val CrashMsg = "injected soak crash"

  /** Run a streaming query to completion, tolerating ONLY the
    * injected crash. */
  private def drive(mk: () => org.apache.spark.sql.streaming.StreamingQuery)
      : Unit = {
    val q = mk()
    try {
      q.processAllAvailable()
      q.stop()
    } catch {
      case e: StreamingQueryException =>
        assert(e.toString.contains(CrashMsg) ||
          Option(e.getCause).exists(c => Option(c.getMessage)
            .exists(_.contains(CrashMsg))), e.toString)
        q.stop()
    }
  }

  private def crashOr(crashArmed: AtomicBoolean, crashBatch: Long,
                      id: Long, partial: => Unit)(write: => Unit): Unit = {
    if (id == crashBatch && crashArmed.getAndSet(false)) {
      partial // a PARTIAL batch output reaches disk, then we "die"
      throw new RuntimeException(CrashMsg)
    }
    write
  }

  private def extractionCycle(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val n = 80 + rnd.nextInt(120)
    val met = 20 + rnd.nextInt(40)
    val crashBatch = rnd.nextInt(2).toLong
    val log = tmp("soak-ex-log")
    ChangeLogSegments.land(spark, log, (1L to n.toLong).map(id =>
      (id, 1700000000000000L + id * 1000000L, id % 7, "click", id / 2.0, s"p$id")))
    val outDir = tmp("soak-ex-out"); val ckpt = tmp("soak-ex-ck")
    val crashArmed = new AtomicBoolean(true)
    def mk() = ExtractionPipeline
      .readChangeLog(spark, log, numPartitions = 2,
        maxEventsPerTrigger = met.toLong)
      .writeStream
      .trigger(Trigger.ProcessingTime(25L))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        crashOr(crashArmed, crashBatch, id,
          batch.limit(7).select(col("event_id").cast("string").as("line"))
            .write.mode("append").text(s"$outDir/batch=$id")) {
          ExtractionPipeline.writeBatch(batch, id, outDir)
        }
      }
      .start()
    drive(() => mk()) // dies on the drawn batch
    assert(!crashArmed.get(), s"seed $seed: extraction crash never fired")
    drive(() => mk()) // restart from checkpoint
    val ids = spark.read.text(outDir).select("value").as[String]
      .collect().map(_.split('|')(0).toLong).sorted
    assert(ids.toSeq == (1L to n.toLong),
      s"seed $seed: extraction lines diverge (n=${ids.length}, want $n)")
  }

  private def transitionsCycle(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed + 1000)
    val n = 12 + rnd.nextInt(12)
    val met = 4 + rnd.nextInt(4)
    val crashBatch = rnd.nextInt(2).toLong
    val types = Array("a", "b", "c")
    val rows = (1L to n.toLong).map(id =>
      (id, 1700000000000000L + id * 60000000L,
        rnd.nextInt(2).toLong, types(rnd.nextInt(3)), id.toDouble, s"p$id"))
    val log = tmp("soak-tr-log")
    ChangeLogSegments.land(spark, log, rows)
    val outDir = tmp("soak-tr-out"); val ckpt = tmp("soak-tr-ck")
    val crashArmed = new AtomicBoolean(true)
    def mk() = TransitionTracker.track(
        ExtractionPipeline.readChangeLog(spark, log, numPartitions = 2,
            maxEventsPerTrigger = met.toLong)
          .select(col("user_id").as("userId"), col("ts"),
            col("event_id").as("eventId"),
            col("event_type").as("eventType"))
          .withWatermark("ts", "0 seconds")
          .as[TEvent])
      .writeStream
      .trigger(Trigger.ProcessingTime(25L))
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[TransitionCount], id: Long) =>
        crashOr(crashArmed, crashBatch, id,
          batch.limit(1).write.mode(SaveMode.Overwrite)
            .parquet(s"$outDir/batch=$id")) {
          batch.write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch=$id")
        }
      }
      .start()
    drive(() => mk())
    assert(!crashArmed.get(), s"seed $seed: transition crash never fired")
    drive(() => mk())
    val got = spark.read.parquet(s"$outDir/batch=*")
      .groupBy(col("fromType"), col("toType"))
      .agg(sum(col("n")).as("n"))
      .as[(String, String, Long)].collect()
      .map { case (f, t, c) => (f, t) -> c }.toMap
    val want = CdcOps.transitionMatrix(
        rows.map { case (id, tsUs, user, kind, _, _) =>
          (id, user, new Timestamp(tsUs / 1000L), kind) }
          .toDF("event_id", "user_id", "ts", "event_type"))
      .as[(String, String, Long)].collect()
      .map { case (f, t, c) => (f, t) -> c }.toMap
    assert(got == want, s"seed $seed: transitions diverge: $got vs $want")
  }

  private def gapCycle(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed + 2000)
    val met = 10 + rnd.nextInt(10)
    val n = 40 + met + rnd.nextInt(40) // fill is always > met behind the hole
    val hole = 2L + rnd.nextInt(10)
    val crashBatch = rnd.nextInt(2).toLong
    // feed: offsets 1..n without the hole, hole arrives LAST (a late
    // fill); hole position and feed length guarantee the jump and the
    // fill land in different micro-batches, so the expectation is
    // batch-boundary-independent: one gap, one late fill
    val offs = ((1L to n.toLong).filterNot(_ == hole) :+ hole)
    // the log's event_id must be monotone (source contract); the
    // monitored OFFSET rides in `value`, so the late fill is just a
    // later event carrying a lower offset — the real CDC shape
    val log = tmp("soak-gap-log")
    ChangeLogSegments.land(spark, log, offs.zipWithIndex.map { case (o, i) =>
      (i + 1L, 1700000000000000L + i * 1000000L, 0L, "click", o.toDouble, s"p$o")
    })
    val outDir = tmp("soak-gap-out"); val ckpt = tmp("soak-gap-ck")
    val crashArmed = new AtomicBoolean(true)
    def mk() = GapMonitor.monitor(
        ExtractionPipeline.readChangeLog(spark, log, numPartitions = 1,
            maxEventsPerTrigger = met.toLong)
          .select(lit("t").as("source"),
            col("value").cast("long").as("offset"))
          .as[GapMonitor.Offset])
      .writeStream
      .trigger(Trigger.ProcessingTime(25L))
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[GapMonitor.GapEvent], id: Long) =>
        crashOr(crashArmed, crashBatch, id,
          batch.limit(1).write.mode(SaveMode.Overwrite)
            .parquet(s"$outDir/batch=$id")) {
          batch.write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch=$id")
        }
      }
      .start()
    drive(() => mk())
    assert(!crashArmed.get(), s"seed $seed: gap crash never fired")
    drive(() => mk())
    val got = spark.read.parquet(s"$outDir/batch=*")
      .as[GapMonitor.GapEvent].collect().toSeq.sortBy(_.kind)
    assert(got == Seq(
      GapMonitor.GapEvent("t", "fill", hole, hole),
      GapMonitor.GapEvent("t", "gap", hole, hole)),
      s"seed $seed: gap events diverge: $got")
  }

  test("randomized mid-batch kills: all three live queries fold to batch truth") {
    for (seed <- 1 to 5) {
      extractionCycle(seed)
      transitionsCycle(seed)
      gapCycle(seed)
    }
  }
}
