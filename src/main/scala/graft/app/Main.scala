package graft.app

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max, min}

import graft.model.EventGroups
import graft.sources.ChangeLogSource
import graft.sources.ChangeLogSource.{splitRange, OffsetRange}
import graft.streaming.{ChangeLogStream, ExtractionPipeline, FileChangeLogStream, StalenessListener}

/**
 * The reference `Client.main` (`Client.java:11-49`) re-expressed: same
 * four knobs, Spark semantics.
 *
 * | reference `-D` knob | here (arg or -D)   | maps to                    |
 * |---------------------|--------------------|----------------------------|
 * | numberOfThread      | graft.partitions   | source numPartitions       |
 * | sleepDuration (ms)  | graft.triggerMs    | Trigger.ProcessingTime     |
 * | runDuration (min)   | graft.runMs        | awaitTermination timeout   |
 * | tables (group name) | graft.tables       | source IN-list pushdown    |
 *
 * The change log is a directory of parquet segments read by
 * [[FileChangeLogStream]]: `-Dgraft.sourceDir` names an existing one.
 * Unset, a feeder thread (the TPC-C writer stand-in) lands the driver
 * `events` table under `$graft.outDir-source` as 8 segments, one
 * every `graft.triggerMs / 2`; nothing is collected into the driver.
 * The extraction query tails the log; the listener prints
 * staleness/throughput at the end (replacing the reference's three
 * CSV writers).
 */
object Main {
  def main(args: Array[String]): Unit = {
    val partitions = sys.props.getOrElse("graft.partitions", "4").toInt
    val triggerMs = sys.props.getOrElse("graft.triggerMs", "500").toLong
    val runMs = sys.props.getOrElse("graft.runMs", "15000").toLong
    val group = sys.props.getOrElse("graft.tables", "all")
    val sfDir = sys.props.getOrElse("graft.sfDir", "/root/testdata/sf0.001")
    val outDir = sys.props.getOrElse("graft.outDir", "target/extract_out")
    val tables = group match {
      case "all" => EventGroups.All
      case "first" => EventGroups.First
      case "second" => EventGroups.Second
      case "third" => EventGroups.Third
      case other => other.split(",").toSeq
    }
    val fed = !sys.props.contains("graft.sourceDir")
    val sourceDir = sys.props.getOrElse("graft.sourceDir", s"$outDir-source")

    val spark = graft.GraftSession.builder(partitions)
      .appName("graft-extractor").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val runTag = java.lang.Long.toHexString(System.nanoTime())

    val listener = new StalenessListener()
    spark.streams.addListener(listener)

    val events = ChangeLogSource.table(spark, sfDir, "events")
    val total = events.count()
    if (fed) startFeeder(events, sourceDir, triggerMs / 2)
    // `stream` is the (possibly table-filtered) extraction input;
    // `monitorStream` is a second, UNFILTERED reader of the same log —
    // a filtered stream legitimately has event_id holes, so feeding it
    // to the gap monitor would report spurious gaps for any subgroup
    // run. Each streaming query checkpoints its own offsets, so two
    // readers over one log are independent.
    val stream = ExtractionPipeline.readChangeLog(spark, sourceDir,
      Some(tables).filter(_ != EventGroups.All), partitions)
    val monitorStream = ExtractionPipeline.readChangeLog(spark, sourceDir,
      numPartitions = partitions)
    val query = ExtractionPipeline.start(stream, outDir,
      s"$outDir-checkpoint", triggerMs)

    // Live (min,max] integrity check alongside extraction: every
    // extracted offset feeds the gap monitor; gap/fill/lost events
    // surface in the gap_events table (the check the reference never
    // had — a crashed worker's range loss was silent, SURVEY §3.4).
    import spark.implicits._
    val gapQuery = graft.streaming.GapMonitor.monitor(
        monitorStream.select(org.apache.spark.sql.functions.lit("events").as("source"),
          org.apache.spark.sql.functions.col("event_id").as("offset"))
          .as[graft.streaming.GapMonitor.Offset])
      .writeStream.format("memory").queryName("gap_events")
      .outputMode("append")
      // memory-sink queries cannot recover from a checkpoint — a
      // stale dir from a killed run would fail the next one, so these
      // dev-harness sinks get a fresh location per run (the EXTRACTION
      // checkpoint stays stable: restartability there is the feature)
      .option("checkpointLocation", s"$outDir-gap-checkpoint-$runTag")
      .start()

    // Live behavior analytics on the same log: cross-batch event-type
    // transitions via per-user carried state (a per-batch lag would
    // drop every boundary-spanning pair).
    val fn = org.apache.spark.sql.functions
    val transQuery = graft.streaming.TransitionTracker.track(
        monitorStream.select(fn.col("user_id").as("userId"), fn.col("ts"),
            fn.col("event_id").as("eventId"),
            fn.col("event_type").as("eventType"))
          .withWatermark("ts", "10 minutes")
          .as[graft.streaming.TransitionTracker.TEvent])
      .writeStream.format("memory").queryName("transition_counts")
      .outputMode("append")
      .option("checkpointLocation", s"$outDir-trans-checkpoint-$runTag")
      .start()

    query.awaitTermination(runMs) // runDuration ≙ `Client.java:34-42`
    query.stop()
    gapQuery.processAllAvailable()
    gapQuery.stop()
    val gaps = spark.table("gap_events").count()
    println(s"GAP_EVENTS n=$gaps")
    transQuery.processAllAvailable()
    transQuery.stop()
    val transitions = spark.table("transition_counts")
      .agg(fn.coalesce(fn.sum(fn.col("n")), fn.lit(0L))).head().getLong(0)
    println(s"TRANSITIONS total=$transitions")

    val extracted = spark.read.text(outDir).count()
    println(s"EXTRACTED rows=$extracted of=$total tables=$group" +
      s" source=$sourceDir")
    listener.samples.takeRight(3).foreach(s => println(s"METRIC $s"))
    // S6: the staleness/throughput CSV the reference's sampler wrote
    graft.sinks.Sinks.writeMetricsCsv(listener, spark, s"$outDir-metrics")
    println(s"METRICS_CSV $outDir-metrics")
    spark.stop()
  }

  /** Land `events` into `dir` as 8 segments over its event_id span,
    * `pauseMs` apart, on a daemon thread. A previous run's segments are
    * removed first: a re-landed log must not overlap them. */
  private def startFeeder(events: DataFrame, dir: String, pauseMs: Long): Unit = {
    val spark = events.sparkSession
    val path = new Path(dir)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
    // cached once, so each landing is a small in-memory filter + write
    val rows = events.select(ChangeLogStream.Schema.fieldNames.map(col).toSeq: _*)
      .cache()
    val span = rows.agg(min("event_id"), max("event_id")).head()
    if (!span.isNullAt(0)) {
      val feeder = new Thread(() =>
        splitRange(OffsetRange(span.getLong(0) - 1, span.getLong(1)), 8).foreach { r =>
          FileChangeLogStream.writeSegment(
            rows.filter(col("event_id") > r.min && col("event_id") <= r.max), dir)
          Thread.sleep(pauseMs)
        }, "changelog-feeder")
      feeder.setDaemon(true)
      feeder.start()
    }
  }
}
