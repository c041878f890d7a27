package freshbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicBoolean
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/**
 * Seeded change-log content. Every field of event `i` is a pure function
 * of (seed, i) except the transaction layout, which is drawn once in id
 * order: transactions of 1–8 consecutive events with unique, increasing
 * txids in `user_id` (the column `CdcOps.commitTsDim` groups on).
 *
 * Event time is a timeline: `ts(i) = baseUs + i * stepUs`. A
 * transaction commits at the `ts` of its last event.
 */
final class EventModel(seed: Long, val n: Int, val baseUs: Long, val stepUs: Long) {
  private val txid = new Array[Long](n)
  private val txnLast = new Array[Int](n)

  locally {
    val rnd = new java.util.Random(seed)
    var i = 0
    var t = 0L
    while (i < n) {
      val last = math.min(n, i + 1 + rnd.nextInt(8)) - 1
      var j = i
      while (j <= last) { txid(j) = 1000000L + t; txnLast(j) = last; j += 1 }
      t += 1
      i = last + 1
    }
  }

  private def mix(i: Int, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i.toLong * 0xBF58476D1CE4E5B9L + salt
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def tsUs(i: Int): Long = baseUs + i * stepUs
  def userId(i: Int): Long = txid(i)
  def commitTsUs(i: Int): Long = tsUs(txnLast(i))
  def eventType(i: Int): String =
    EventModel.Types(((mix(i, 1) >>> 1) % EventModel.Types.length).toInt)
  def cents(i: Int): Long = 1 + ((mix(i, 2) >>> 1) % 999999L)
  // never null: FileChangeLogStream's reader fails on a null `props`
  def props(i: Int): String =
    s"""{"k":${(mix(i, 3) >>> 8) % 1000},"v":"${eventType(i)}"}"""

  /** The sink's pipe rendering of event `i` without its commit ts. */
  def pipeFields(i: Int): String =
    s"$i|${tsUs(i)}|${userId(i)}|${eventType(i)}|" +
      s"${java.math.BigDecimal.valueOf(cents(i), 2).toPlainString}|" +
      props(i)

  private val schema = MessageTypeParser.parseMessageType(
    """message changelog {
      |  required int64 event_id;
      |  required int64 ts (TIMESTAMP(MICROS,true));
      |  required int64 user_id;
      |  required binary event_type (STRING);
      |  required double value;
      |  optional binary props (STRING);
      |}""".stripMargin)

  /**
   * Write events `[lo, hi)` as one parquet segment under a temp name the
   * source ignores; [[publish]] renames it into place, so a half-written
   * file is never listed.
   */
  def writeSegment(dir: Path, segment: Int, lo: Int, hi: Int): Path = {
    val tmp = dir.resolve(f".seg-$segment%06d.inprogress")
    val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp))
      .withType(schema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val f = new SimpleGroupFactory(schema)
    try {
      var i = lo
      while (i < hi) {
        w.write(f.newGroup()
          .append("event_id", i.toLong)
          .append("ts", tsUs(i))
          .append("user_id", userId(i))
          .append("event_type", eventType(i))
          .append("value", cents(i) / 100.0)
          .append("props", props(i)))
        i += 1
      }
    } finally w.close()
    tmp
  }

  def publish(tmp: Path): Unit =
    Files.move(tmp, tmp.resolveSibling(
      tmp.getFileName.toString.stripPrefix(".").replace(".inprogress", ".parquet")),
      StandardCopyOption.ATOMIC_MOVE)

  def landSegment(dir: Path, segment: Int, lo: Int, hi: Int): Unit =
    publish(writeSegment(dir, segment, lo, hi))
}

object EventModel {
  val Types: Array[String] =
    Array("insert", "update", "delete", "page_view", "purchase", "signup")

  def nowUs(): Long = System.currentTimeMillis() * 1000L

  def sleepUntilUs(dueUs: Long): Unit = {
    var rest = dueUs - nowUs()
    while (rest > 0) { LockSupport.parkNanos(rest * 1000L); rest = dueUs - nowUs() }
  }
}

/**
 * Open-loop load generator: one thread, independent of the engine (plain
 * parquet writer, no Spark task slots). Segment `k` holds events
 * `[k*segRows, (k+1)*segRows)`, is written ahead and published when
 * its last event is due, so every event's `ts` is its scheduled due time
 * and a stall shows up as latency. Records how late each segment landed.
 */
final class LiveGenerator(model: EventModel, dir: Path, segRows: Int)
    extends Thread("freshbench-generator") {
  setDaemon(true)
  private val halt = new AtomicBoolean(false)
  @volatile var landed = 0
  val lateMs = new ArrayBuffer[Double]()
  @volatile var failure: Throwable = null

  def finish(): Unit = { halt.set(true); join() }

  override def run(): Unit =
    try {
      var k = 0
      while (!halt.get() && (k + 1) * segRows <= model.n) {
        val hi = (k + 1) * segRows
        val due = model.tsUs(hi - 1)
        val tmp = model.writeSegment(dir, k, k * segRows, hi)
        EventModel.sleepUntilUs(due)
        model.publish(tmp)
        lateMs.synchronized { lateMs += (EventModel.nowUs() - due) / 1000.0 }
        k += 1
        landed = hi
      }
    } catch { case t: Throwable => failure = t }
}
