package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.CdcOps
import graft.sinks.Sinks
import graft.util.Cols

/**
 * The end-to-end extraction pipeline — the reference's `Client.main`
 * dataflow (SURVEY.md §3.1) as one Structured Streaming job:
 *
 *   changelog source → (watermark) → per-batch commit-ts enrichment
 *   (broadcast join, replacing the N+1 lookups) → pipe-delimited files.
 *
 * The coordinator thread, the bounded queue, N worker threads, and the
 * per-worker chunk files all disappear into the engine: trigger
 * interval ≙ `sleepDuration`, source partitions ≙ `numberOfThread`,
 * one output file per partition ≙ `chunk<i>`, checkpointed offsets ≙
 * the (previously unpersisted) `maxSeqID` ledger.
 */
object ExtractionPipeline {

  /** Open the streaming change log over the parquet segments in `dir`
    * (see [[FileChangeLogStream]] for the options). */
  def readChangeLog(spark: SparkSession, dir: String,
                    tables: Option[Seq[String]] = None,
                    numPartitions: Int = 1,
                    maxEventsPerTrigger: Long = Long.MaxValue,
                    startAt: String = "earliest"): DataFrame = {
    val r = spark.readStream.format(FileChangeLogStream.FormatName)
      .option("path", dir)
      .option("numPartitions", numPartitions)
      .option("maxEventsPerTrigger", maxEventsPerTrigger)
      .option("startAt", startAt)
    tables.foldLeft(r)((b, t) => b.option("tables", t.mkString(",")))
      .load()
  }

  /**
   * Start the extraction: every micro-batch is enriched with the
   * transaction commit timestamp (distinct txids → broadcast join —
   * the set-oriented replacement for `WorkerRunnable.java:130-144`)
   * and appended as pipe-delimited text, one file per partition.
   * Exactly-once comes from the checkpointed offsets + Spark's
   * transactional file sink.
   */
  def start(stream: DataFrame, outDir: String, checkpointDir: String,
            triggerMs: Long = 1000L): StreamingQuery =
    stream
      // only so progress reports eventTime.max, which StalenessListener reads
      .withWatermark("ts", "10 seconds")
      .writeStream
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, outDir)
      }
      .start()

  /**
   * One micro-batch of the extraction sink: enrich with the
   * transaction commit timestamp and land the pipe lines under
   * `batch=<id>`. batchId-keyed OVERWRITE is what makes a replayed
   * batch idempotent: after a mid-batch crash the restart re-runs the
   * same batch id over the same checkpointed offset range and the
   * overwrite replaces any partial output whole — no duplicate and no
   * missing line (the reference had no such story: a worker crash
   * mid-chunk lost or duplicated rows, SURVEY §3.4,
   * `CoordinatorRunnable.java:35-42`). [[ExactlyOnceSinkSpec]] kills a
   * batch after a partial write and proves the law.
   */
  def writeBatch(batch: DataFrame, batchId: Long, outDir: String): Unit =
    Sinks.writePipeChunks(CdcOps.enrichCommitTs(batch, CdcOps.commitTsDim(batch)),
      Seq(col("event_id"), Cols.epochUs(col("ts")), col("user_id"),
        col("event_type"), col("value").cast("decimal(18,2)"), col("props"),
        Cols.epochUs(col("commit_ts"))),
      s"$outDir/batch=$batchId")
}
