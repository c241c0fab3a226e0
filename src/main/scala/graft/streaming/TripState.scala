package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.ctran.TripBoxAggregator.{Box, GpsPoint, TripBoxAgg}

/** T8 — per-key custom state (reserved in SURVEY §2.9 for
  * trip-segmentation features; this is that feature) on Spark 4's
  * `transformWithState`.
  *
  * Maintains a running per-trip spatial box + observation count across
  * micro-batches: each batch folds its new GPS points into the trip's
  * state with [[TripBoxAgg]]'s own `reduce` and emits the updated
  * summary (update output mode). State is one fixed-size buffer per live
  * trip — bounded by fleet size, not stream length. Over the older
  * `mapGroupsWithState` the gains are operational:
  *
  *   - state lives in named handles — adding a second state (say, a
  *     per-trip event list) is a new `getListState`, not a widened
  *     tuple re-encoded on every update;
  *   - `TTLConfig` evicts abandoned trips without a timeout dance;
  *   - RocksDB-backed state spills to disk — fleet-size state holds at
  *     orders of magnitude beyond the HDFS-backed in-memory store.
  *
  * Requires `spark.sql.streaming.stateStore.providerClass =
  * …RocksDBStateStoreProvider` (the specs set it per-query). */
object TripState {

  final case class TripRunning(
      trip_id: Int, n: Long,
      minLat: Double, maxLat: Double, minLon: Double, maxLon: Double,
      avgSpeed: Option[Double])

  class TripBoxProcessor extends StatefulProcessor[Int, GpsPoint, TripRunning] {
    @transient private var box: ValueState[Box] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      box = getHandle.getValueState[Box](
        "box", Encoders.product[Box], TTLConfig.NONE)

    override def handleInputRows(tripId: Int, rows: Iterator[GpsPoint],
        timerValues: TimerValues): Iterator[TripRunning] = {
      val folded = rows.foldLeft(Option(box.get()).getOrElse(TripBoxAgg.zero))(
        TripBoxAgg.reduce)
      box.update(folded)
      val t = TripBoxAgg.finish(folded)
      Iterator.single(TripRunning(tripId, t.n,
        t.minLat, t.maxLat, t.minLon, t.maxLon, t.avgSpeed))
    }
  }

  /** Streaming form: `OutputMode.Update`, processing-time semantics. */
  def runningTripStats(points: Dataset[GpsPoint]): Dataset[TripRunning] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.trip_id)
      .transformWithState(new TripBoxProcessor,
        TimeMode.None(), OutputMode.Update())
  }
}
