package graft.ctran

import graft.functions.Param
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's analytics surface (SURVEY §2.6, §3.3): the hotspot
  * query (tsvscript.py:29), table profile (PDF p.8), longest trip
  * (PDF p.10-12), day-of-week volumes (PDF p.7), and the GeoJSON sink
  * (tsvscript.py:45-60) — all as distributed DataFrame programs.
  */
object Analytics {

  /** The hotspot query: J1 (fact ⋈ dim, dim filtered) + F8 + A1.
    * The filtered Trip side is tiny ⇒ broadcast; the fact table never
    * shuffles for the join — only the final groupBy exchanges, on the
    * (lat, lon) group key. With the `opd_date` partition layout, the
    * month/day predicates prune to one service day's partitions when
    * expressed on the partition column (done here — SURVEY §7.4.5).
    *
    * Vehicle, route, month, day and hours are [[Param]]s, not literals:
    * a literal is inlined into the generated Java, so every new lookup
    * compiled its classes again (~3 Janino compiles per lookup), while
    * a `Param` is read at runtime and the code compiles once per plan
    * shape. Partition pruning still evaluates them; what they give up is
    * the parquet pushdown of the dim's `vehicle_id`/`route_id` filter,
    * which only takes literals — the Trip table is one small file.
    */
  def hotspot(bc: DataFrame, trip: DataFrame,
      vehicleId: Int = 4008, routeId: Int = 65,
      month_ : Int = 10, day: Int = 18,
      hourLo: Int = 9, hourHi: Int = 11): DataFrame = {
    val dim = trip.filter(col("vehicle_id") === Param.of(vehicleId) &&
        col("route_id") === Param.of(routeId) && col("direction") === "Out")
      .select(col("trip_id"))
    val (m, d) = (Param.of(month_), Param.of(day))
    bc
      .filter(month(col("opd_date")) === m &&
              dayofmonth(col("opd_date")) === d) // partition-prunable form
      .filter(month(col("tstamp")) === m &&
              dayofmonth(col("tstamp")) === d &&
              hour(col("tstamp")).between(Param.of(hourLo), Param.of(hourHi)))
      .join(broadcast(dim), Seq("trip_id"))
      .filter(col("speed").isNotNull) // F6
      .groupBy(col("latitude"), col("longitude"))
      .agg(avg(col("speed")).as("avg_speed"))
  }

  /** GeoJSON Feature per row (K5) — a distributed projection, not a
    * driver loop; collect only the final strings. */
  def geoJsonFeatures(hotspots: DataFrame): DataFrame =
    hotspots.select(to_json(struct(
      lit("Feature").as("type"),
      struct(
        lit("Point").as("type"),
        array(col("longitude"), col("latitude")).as("coordinates")).as("geometry"),
      struct(col("avg_speed").cast("int").as("speed")).as("properties")))
      .as("feature"))

  /** Assemble the FeatureCollection document (driver-side wrap of the
    * distributed features — the only collect in the pipeline, sized by
    * the aggregated hotspot count, not the corpus). */
  def geoJsonCollection(hotspots: DataFrame): String =
    geoJsonFeatures(hotspots).collect().map(_.getString(0))
      .mkString("""{"type": "FeatureCollection", "features": [""", ",", "]}")

  /** Table profile (A5-A7): counts, distincts, extremes. */
  def profile(bc: DataFrame): DataFrame =
    bc.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("trip_id")).as("n_trips"),
      min(col("tstamp")).as("min_ts"), max(col("tstamp")).as("max_ts"),
      min(col("latitude")).as("min_lat"), max(col("latitude")).as("max_lat"),
      max(col("speed")).as("max_speed"), avg(col("speed")).as("avg_speed"))

  /** Longest trip (A8): per-trip span, global top-1 (TakeOrderedAndProject
    * — no full sort). */
  def longestTrips(bc: DataFrame, topK: Int = 1): DataFrame =
    bc.groupBy(col("trip_id"))
      .agg(((unix_timestamp(max(col("tstamp"))) -
             unix_timestamp(min(col("tstamp"))))).as("dur_sec"),
        min(col("tstamp")).as("start_ts"), max(col("tstamp")).as("end_ts"))
      .orderBy(col("dur_sec").desc, col("trip_id"))
      .limit(topK)

  /** Day-of-week message volumes (A9): count per date, then average per
    * day-of-week — the PDF p.7 reconciliation table shape. */
  def dowVolumes(bc: DataFrame): DataFrame =
    bc.groupBy(to_date(col("tstamp")).as("d"))
      .agg(count(lit(1)).as("n"))
      .groupBy(date_format(col("d"), "EEEE").as("dow"))
      .agg(avg(col("n")).as("avg_daily_msgs"), count(lit(1)).as("n_days"))
      .orderBy(col("dow"))

  /** FK integrity audit (J4): breadcrumbs whose trip is missing. */
  def fkViolations(bc: DataFrame, trip: DataFrame): DataFrame =
    bc.join(trip.select("trip_id"), Seq("trip_id"), "left_anti")

  /** Register temp views so the reference's SQL text runs verbatim
    * through spark.sql (SURVEY §7.1/M3). */
  def registerViews(spark: SparkSession, bc: DataFrame, trip: DataFrame): Unit = {
    bc.createOrReplaceTempView("breadcrumb")
    trip.createOrReplaceTempView("trip")
  }
}
