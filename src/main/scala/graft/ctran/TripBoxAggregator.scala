package graft.ctran

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed custom aggregate (the §2.10 `Aggregator[IN,BUF,OUT]` surface):
  * per-trip spatial bounding box + observation stats in one pass.
  *
  * Everything here is order-free and associative, so Spark can combine
  * partial buffers map-side — the shuffle carries one 6-double buffer per
  * (partition, trip), not the GPS points. That property is what makes a
  * custom aggregate scale: at 100 TB the reduction happens where the data
  * sits. (A sort-dependent metric like path length would instead need
  * `collect_list` + sort or a window — deliberately not this shape.)
  *
  * Usage: `bc.as[GpsPoint].groupByKey(_.trip_id).agg(TripBoxAgg.toColumn)`
  * or untyped via `udaf(TripBoxAgg)`.
  */
object TripBoxAggregator {

  final case class GpsPoint(trip_id: Int, latitude: Option[Double],
      longitude: Option[Double], speed: Option[Double])

  final case class Box(
      minLat: Double, maxLat: Double, minLon: Double, maxLon: Double,
      n: Long, speedSum: Double, nSpeed: Long)

  final case class TripBox(
      minLat: Double, maxLat: Double, minLon: Double, maxLon: Double,
      n: Long, avgSpeed: Option[Double])

  object TripBoxAgg extends Aggregator[GpsPoint, Box, TripBox] {
    override def zero: Box = Box(
      Double.PositiveInfinity, Double.NegativeInfinity,
      Double.PositiveInfinity, Double.NegativeInfinity, 0L, 0.0, 0L)

    override def reduce(b: Box, p: GpsPoint): Box = Box(
      math.min(b.minLat, p.latitude.getOrElse(Double.PositiveInfinity)),
      math.max(b.maxLat, p.latitude.getOrElse(Double.NegativeInfinity)),
      math.min(b.minLon, p.longitude.getOrElse(Double.PositiveInfinity)),
      math.max(b.maxLon, p.longitude.getOrElse(Double.NegativeInfinity)),
      b.n + 1,
      b.speedSum + p.speed.getOrElse(0.0),
      b.nSpeed + (if (p.speed.isDefined) 1L else 0L))

    override def merge(a: Box, b: Box): Box = Box(
      math.min(a.minLat, b.minLat), math.max(a.maxLat, b.maxLat),
      math.min(a.minLon, b.minLon), math.max(a.maxLon, b.maxLon),
      a.n + b.n, a.speedSum + b.speedSum, a.nSpeed + b.nSpeed)

    override def finish(b: Box): TripBox = TripBox(
      b.minLat, b.maxLat, b.minLon, b.maxLon, b.n,
      if (b.nSpeed > 0) Some(b.speedSum / b.nSpeed) else None)

    override def bufferEncoder: Encoder[Box] = Encoders.product[Box]
    override def outputEncoder: Encoder[TripBox] = Encoders.product[TripBox]
  }
}
