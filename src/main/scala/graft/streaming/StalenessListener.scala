package graft.streaming

import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/**
 * Freshness/throughput metrics listener — the engine-native
 * replacement for the reference's sampler thread and ad-hoc CSV
 * writers (SURVEY.md §3.3):
 *
 *  - staleness (T5): `now − max event time seen` per progress event
 *    (`QueryRequestRunnable.java:35-37`), plus the running average the
 *    sampler kept (`:33,36`), time-weighted between progress events;
 *  - throughput (T6): rows and batch duration per trigger —
 *    `WorkerRunnable.java:158-179`'s per-minute counters, provided by
 *    `StreamingQueryProgress` instead of hand-rolled atomics.
 *
 * No polling thread, no shared mutable statics, no data race: the
 * engine pushes progress events.
 */
final case class StalenessSample(batchId: Long, wallClockMs: Long,
                                 eventTimeMaxMs: Option[Long],
                                 stalenessMs: Option[Long],
                                 avgStalenessMs: Option[Double],
                                 numInputRows: Long,
                                 batchDurationMs: Long)

class StalenessListener(clock: () => Long = () => System.currentTimeMillis())
    extends StreamingQueryListener {

  private val buf = new ArrayBuffer[StalenessSample]()
  // first and last (wall ms, staleness ms), and staleness integrated between
  private var first, last: Option[(Long, Long)] = None
  private var area = 0.0

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    observe(p.batchId, Option(p.eventTime.get("max"))
      .map(s => Instant.parse(s).toEpochMilli), p.numInputRows, p.batchDuration)
  }

  /**
   * Record one progress report at `clock()`. Staleness drops to its
   * sample when a batch completes and grows 1 ms per ms until the next,
   * so the mean over the interval between samples k−1 and k is
   * s(k−1) + Δt/2; the average is time-weighted over those intervals
   * (the first sample's average is the sample itself). Averaging the
   * samples alone would read the bottom of the sawtooth.
   */
  private[streaming] def observe(batchId: Long, eventTimeMaxMs: Option[Long],
      numInputRows: Long, batchDurationMs: Long): StalenessSample = synchronized {
    val now = clock()
    val staleness = eventTimeMaxMs.map(m => math.max(0L, now - m))
    staleness.foreach { s =>
      last.foreach { case (t, prev) =>
        val dt = (now - t).toDouble
        area += (prev + dt / 2) * dt
      }
      last = Some((now, s))
      if (first.isEmpty) first = last
    }
    val avg = for ((t0, s0) <- first; (t, _) <- last)
      yield if (t > t0) area / (t - t0) else s0.toDouble
    val sample = StalenessSample(batchId, now, eventTimeMaxMs, staleness, avg,
      numInputRows, batchDurationMs)
    buf += sample
    sample
  }

  def samples: Seq[StalenessSample] = synchronized(buf.toVector)

  /** Samples as a DataFrame — the queryable metric sink that replaces
    * the reference's three CSV files. */
  def toDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    samples.toDF()
  }
}
