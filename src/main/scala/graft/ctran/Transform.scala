package graft.ctran

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's `transform()` / `validate_row()` re-expressed as one
  * shared Column-expression library (SURVEY.md §2.3-§2.4) — used verbatim
  * by the batch loader, the streaming consumer, and the tests, fixing the
  * reference's copy-paste duplication (topic_consumer.py:106-165 ≡
  * load_inserts.py:63-122).
  *
  * Everything is built-in expressions: fully codegen'd, filters push to
  * the scan, no UDFs. Deviation recorded per SURVEY §2.3/P1: the reference
  * nulls every Python-falsy value (including legitimate `0`s); we null
  * empty strings only.
  */
object Transform {

  /** P1 — empty-string → null (on a string column). */
  def emptyToNull(c: Column): Column = when(c === "", lit(null)).otherwise(c)

  /** 'dd-MMM-yy' with the reference's case-insensitive month semantics:
    * Python's %b matches OCT/Oct/oct, Java's MMM is strict — normalize to
    * title case first. Two-digit years resolve 2000-2099 (Java) vs
    * Python's 1969 pivot; transit data is 2020s, divergence documented. */
  def parseOpdDate(c: Column): Column = {
    val parts = split(c, "-")
    // try_* variants throughout: the reference wraps parsing in
    // try/except (malformed → dropped+counted); ANSI-mode Spark would
    // abort the job on the first bad record instead.
    try_to_timestamp(concat_ws("-",
      try_element_at(parts, lit(1)), initcap(lower(try_element_at(parts, lit(2)))),
      try_element_at(parts, lit(3))), lit("dd-MMM-yy")).cast("date")
  }

  /** P2 — TIMESTAMP = OPD_DATE ('dd-MMM-yy', English month names) +
    * ACT_TIME seconds (seconds after midnight; may exceed 86400 —
    * service days run past midnight). (topic_consumer.py:115-116) */
  def synthesizeTimestamp(opdDate: Column, actTime: Column): Column =
    parseOpdDate(opdDate).cast("timestamp") +
      make_interval(lit(0), lit(0), lit(0), lit(0), lit(0), lit(0),
        tryCastInt(actTime).cast("decimal(18,6)"))

  /** ANSI-safe casts (see [[parseOpdDate]]). */
  private def tryCastInt(c: Column): Column = c.try_cast("int")
  private def tryCastDouble(c: Column): Column = c.try_cast("double")

  /** P4 — service key from the date. Python `weekday()` is 0=Mon..6=Sun;
    * Spark `dayofweek` is 1=Sun..7=Sat — remapped here
    * (topic_consumer.py:122-123, SURVEY §7.4.1). */
  def serviceKey(d: Column): Column =
    when(dayofweek(d).isin(2, 3, 4, 5, 6), "Weekday")
      .when(dayofweek(d) === 7, "Saturday")
      .otherwise("Sunday")

  /** P7 — stop-event direction decode: "0"→Out, "1"→Back, else Out
    * (stop_consumer.py:50-56 + the SQL-gen default at :76). */
  def decodeDirection(c: Column): Column =
    when(c === "0", "Out").when(c === "1", "Back").otherwise("Out")

  /** P8 — stop-event service-key decode (stop_consumer.py:57-63). */
  def decodeServiceKey(c: Column): Column =
    when(c === "W", "Weekday").when(c === "S", "Saturday").otherwise("Sunday")

  /** The enriched intermediate: raw breadcrumb frame + typed/derived
    * columns (the reference's post-`transform()` dict). One projection —
    * derived names must not collide case-insensitively with raw ALL-CAPS
    * names (`withColumn` would silently replace them), hence `svc_date`.
    */
  def enrich(raw: DataFrame): DataFrame = {
    val opd = emptyToNull(col("OPD_DATE"))
    // raw ALL-CAPS columns are dropped: keeping them would collide
    // case-insensitively with the derived names (DIRECTION vs direction)
    raw.select(
      parseOpdDate(opd).as("svc_date"),
      synthesizeTimestamp(opd, emptyToNull(col("ACT_TIME"))).as("tstamp"),
      serviceKey(parseOpdDate(opd)).as("service_key"),
      lit("Out").as("trip_direction"), // P5 stand-in, corrected by stop events
      lit(0).as("route_id"),           // P5 stand-in
      tryCastInt(emptyToNull(col("EVENT_NO_TRIP"))).as("trip_id"),
      tryCastInt(emptyToNull(col("VEHICLE_ID"))).as("vehicle_id"),
      tryCastDouble(emptyToNull(col("GPS_LATITUDE"))).as("latitude"),
      tryCastDouble(emptyToNull(col("GPS_LONGITUDE"))).as("longitude"),
      tryCastInt(emptyToNull(col("DIRECTION"))).as("direction"),
      tryCastDouble(emptyToNull(col("VELOCITY"))).as("speed"))
  }

  /** F1-F5 — the conjunctive validation predicate
    * (topic_consumer.py:136-165). Null-safe: range checks pass on null
    * (the reference treats missing as acceptable), existence checks don't.
    */
  def isValid: Column =
    col("trip_id").isNotNull &&                                      // F1
    col("tstamp").isNotNull &&                                       // F2
    (col("direction").isNull || col("direction").between(0, 359)) && // F3
    (col("speed").isNull || col("speed").between(0, 200)) &&         // F4
    col("tstamp") <= col("svc_date").cast("timestamp") + expr("INTERVAL 2 DAYS") // F5

  /** P6 — the BreadCrumb fact columns of an enriched row. */
  val breadcrumbColumns: Seq[Column] = Seq(
    col("tstamp"), col("latitude"), col("longitude"),
    col("direction"), col("speed"), col("trip_id"))

  /** P6 — project the enriched stream to the BreadCrumb fact schema. */
  def toBreadcrumbs(enriched: DataFrame): DataFrame =
    enriched.select(breadcrumbColumns: _*)

  /** P6 — the Trip dimension columns of an enriched row. */
  val tripColumns: Seq[Column] = Seq(
    col("trip_id"), col("route_id"), col("vehicle_id"),
    col("service_key"), col("trip_direction").as("direction"))

  /** The order of a trip's crumbs whose first row is the trip's row
    * ([[toTrips]]). */
  val firstCrumbOrder: Seq[Column] =
    Seq(col("tstamp").asc_nulls_last, col("service_key"))

  /** P6 — project to the Trip dimension (one row per distinct trip —
    * the reference's set-dedup, A2).
    *
    * The surviving row is the trip's EARLIEST breadcrumb (min tstamp,
    * service_key tiebreak), not an arbitrary partition-dependent pick:
    * ACT_TIME may exceed 86,400 (service days run past midnight), so one
    * trip can carry two distinct service_keys across its crumbs —
    * `dropDuplicates("trip_id")` let the partitioning decide which one
    * became the dimension row. First-crumb semantics match the reference,
    * whose consumer keys the trip dict on first arrival
    * (topic_consumer.py:185-193). */
  def toTrips(enriched: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("trip_id"))
      .orderBy(firstCrumbOrder: _*)
    enriched.select(tripColumns :+ col("tstamp"): _*)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "tstamp")
  }

  /** Typed stop-event updates from the raw (post-HTML) frame (P7-P9). */
  def stopEventUpdates(raw: DataFrame): DataFrame =
    raw.select(
      tryCastInt(col("trip_id")).as("trip_id"),
      tryCastInt(col("vehicle_number")).as("vehicle_id"),
      tryCastInt(col("route_number")).as("route_id"),
      decodeDirection(col("direction")).as("direction"),
      decodeServiceKey(col("service_key")).as("service_key"))
}
