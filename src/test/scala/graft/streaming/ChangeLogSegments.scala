package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, timestamp_micros}

/** Spec fixture: lands change-log rows as one parquet segment of the
  * file source. A row is (event_id, ts in epoch micros, user_id,
  * event_type, value, props). */
object ChangeLogSegments {
  type Row = (Long, Long, Long, String, Double, String)

  def land(spark: SparkSession, dir: String, rows: Seq[Row]): Unit = {
    import spark.implicits._
    FileChangeLogStream.writeSegment(
      rows.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
        .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props")),
      dir)
  }
}
