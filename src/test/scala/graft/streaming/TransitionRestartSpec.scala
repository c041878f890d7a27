package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{Dataset, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec
import graft.operators.CdcOps
import graft.streaming.TransitionTracker.{TEvent, TransitionCount}

/**
 * Mid-batch kill + checkpoint restart for the STATEFUL third live
 * query in `app.Main` (r6 verdict item 8 — the ExactlyOnceSinkSpec
 * pattern applied to [[TransitionTracker]]): the file-sink spec
 * proves offsets and output replay; this one proves the
 * `flatMapGroupsWithState` STATE does — the carried last-event that
 * links a boundary-spanning pair must be restored to its pre-crash
 * version on restart, so the crashed batch's transitions are emitted
 * exactly once and none are double-counted through replayed state.
 */
class TransitionRestartSpec extends SparkSpec {
  import spark.implicits._

  test("mid-batch kill + restart: transition counts equal the batch operator") {
    // two users, interleaved event types, ids 1..12 in ts order —
    // with maxEventsPerTrigger=4 the pairs (4,6), (8,10) etc. span
    // micro-batch boundaries through carried state
    val types = Array("a", "b", "c")
    val rows = (1L to 12L).map { id =>
      (id, 1700000000000000L + id * 60000000L, id % 2,
        types(((id - 1) / 2 % 3).toInt), id.toDouble, s"p$id")
    }
    val log = Files.createTempDirectory("graft-tr-log").toString
    ChangeLogSegments.land(spark, log, rows)
    val outDir = Files.createTempDirectory("graft-tr-out").toString
    val ckpt = Files.createTempDirectory("graft-tr-ck").toString
    val crashArmed = new AtomicBoolean(true)

    def runQuery(): Unit = {
      val tracked = TransitionTracker.track(
        ExtractionPipeline.readChangeLog(spark, log, numPartitions = 2,
            maxEventsPerTrigger = 4L) // 12 events -> >= 3 batches
          .select(col("user_id").as("userId"), col("ts"),
            col("event_id").as("eventId"),
            col("event_type").as("eventType"))
          .withWatermark("ts", "0 seconds")
          .as[TEvent])
      val q = tracked.writeStream
        .trigger(Trigger.ProcessingTime(50L))
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: Dataset[TransitionCount], id: Long) =>
          if (id == 1L && crashArmed.getAndSet(false)) {
            // a PARTIAL batch directory reaches disk, then the
            // "process" dies before the batch (and its state
            // version) commits
            batch.limit(1).write.mode(SaveMode.Overwrite)
              .parquet(s"$outDir/batch=$id")
            throw new RuntimeException("injected mid-batch crash")
          }
          // idempotent per-batch sink: replay overwrites whole
          batch.write.mode(SaveMode.Overwrite).parquet(s"$outDir/batch=$id")
        }
        .start()
      try {
        q.processAllAvailable()
        q.stop()
      } catch {
        case e: StreamingQueryException =>
          assert(e.toString.contains("injected mid-batch crash") ||
            Option(e.getCause).exists(c => Option(c.getMessage)
              .exists(_.contains("injected mid-batch crash"))), e.toString)
          q.stop()
      }
    }

    runQuery() // dies on batch 1, partial output + uncommitted state
    assert(!crashArmed.get(), "crash never fired — batch sizing changed?")
    runQuery() // restart: state restored to v0, batch 1 replays whole

    val got = spark.read.parquet(s"$outDir/batch=*")
      .groupBy(col("fromType"), col("toType"))
      .agg(sum(col("n")).as("n"))
      .as[(String, String, Long)].collect()
      .map { case (f, t, n) => (f, t) -> n }.toMap
    val want = CdcOps.transitionMatrix(
        rows.map { case (id, tsUs, user, kind, _, _) =>
          (id, user, new Timestamp(tsUs / 1000L), kind) }
          .toDF("event_id", "user_id", "ts", "event_type"))
      .as[(String, String, Long)].collect()
      .map { case (f, t, n) => (f, t) -> n }.toMap
    assert(got == want,
      s"streamed transitions diverge after replay: $got vs $want")
  }
}
