package graft.streaming

import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.types._

/** The change-log record shape and offset shared by the micro-batch
  * source ([[FileChangeLogStream]]) and its readers. */
object ChangeLogStream {
  /** Change-log record schema (events stand-in, FIXTURES.md §B). */
  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = true)))
}

/** Checkpointable offset: the high-water `event_id`. */
final case class ChangeLogOffset(maxId: Long) extends Offset {
  override def json(): String = maxId.toString
}
