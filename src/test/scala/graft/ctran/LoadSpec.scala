package graft.ctran

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Batch-load path: conservation counters, insert-if-absent idempotency
  * (the reference's ON CONFLICT semantics), and the stop-event merge. */
class LoadSpec extends SparkSpec {
  import spark.implicits._

  private def writeFixture(dir: String): String = {
    val json =
      """[
        |{"EVENT_NO_TRIP": "1", "OPD_DATE": "05-OCT-20", "ACT_TIME": "3600", "VEHICLE_ID": "4008", "GPS_LATITUDE": "45.52", "GPS_LONGITUDE": "-122.68", "DIRECTION": "117", "VELOCITY": "25"},
        |{"EVENT_NO_TRIP": "1", "OPD_DATE": "05-OCT-20", "ACT_TIME": "3605", "VEHICLE_ID": "4008", "GPS_LATITUDE": "45.53", "GPS_LONGITUDE": "-122.69", "DIRECTION": "118", "VELOCITY": "26"},
        |{"EVENT_NO_TRIP": "2", "OPD_DATE": "06-OCT-20", "ACT_TIME": "7200", "VEHICLE_ID": "4009", "GPS_LATITUDE": "45.54", "GPS_LONGITUDE": "-122.70", "DIRECTION": "", "VELOCITY": "30"},
        |{"EVENT_NO_TRIP": "", "OPD_DATE": "06-OCT-20", "ACT_TIME": "7200", "VEHICLE_ID": "4009", "GPS_LATITUDE": "45.54", "GPS_LONGITUDE": "-122.70", "DIRECTION": "10", "VELOCITY": "999"}
        |]""".stripMargin
    val p = s"$dir/crumbs.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json)
    p
  }

  test("loadFile: conservation (consumed = inserted + skipped) and typed tables") {
    val dir = tmpDir("load")
    val (bcDir, tripDir) = (s"$dir/bc", s"$dir/trip")
    val (consumed, inserted, skipped) =
      Load.loadFile(spark, writeFixture(dir), bcDir, tripDir)
    assert(consumed === 4)
    assert(inserted === 3)
    assert(skipped === 1)
    val bc = spark.read.parquet(bcDir)
    assert(bc.count() === 3)
    assert(bc.schema("tstamp").dataType.typeName === "timestamp")
    // partitioned by service date
    assert(bc.select($"opd_date").distinct().count() === 2)
    val trips = spark.read.parquet(tripDir)
    assert(trips.count() === 2)
  }

  test("loadFile twice: trips stay unique (ON CONFLICT DO NOTHING parity)") {
    val dir = tmpDir("load2")
    val (bcDir, tripDir) = (s"$dir/bc", s"$dir/trip")
    val f = writeFixture(dir)
    Load.loadFile(spark, f, bcDir, tripDir)
    Load.loadFile(spark, f, bcDir, tripDir)
    assert(spark.read.parquet(tripDir).count() === 2)
    assert(spark.read.parquet(tripDir).select($"trip_id").distinct().count() === 2)
  }

  test("mergeStopEvents: keyed update corrects route/direction, others untouched") {
    val dir = tmpDir("merge")
    val tripDir = s"$dir/trip"
    Seq((1, 0, 4008, "Weekday", "Out"), (2, 0, 4009, "Weekday", "Out"))
      .toDF("trip_id", "route_id", "vehicle_id", "service_key", "direction")
      .write.parquet(tripDir)
    val updates = Seq((1, 4008, 65, "Back", "Weekday"))
      .toDF("trip_id", "vehicle_id", "route_id", "direction", "service_key")
    Load.mergeStopEvents(spark, updates, tripDir)
    val t = spark.read.parquet(tripDir).orderBy($"trip_id").collect()
    assert(t(0).getAs[Int]("route_id") === 65)
    assert(t(0).getAs[String]("direction") === "Back")
    assert(t(1).getAs[Int]("route_id") === 0)
    assert(t(1).getAs[String]("direction") === "Out")
  }

  test("mergeStopEvents: replay order — first update by arrival offset wins (A3)") {
    val dir = tmpDir("merge3")
    val tripDir = s"$dir/trip"
    Seq((1, 0, 4008, "Weekday", "Out"))
      .toDF("trip_id", "route_id", "vehicle_id", "service_key", "direction")
      .write.parquet(tripDir)
    // conflicting updates for one trip; offsets say route 65 arrived first.
    // repartition(8) scrambles physical order — arrival order must still win.
    val updates = Seq(
        (1, 4008, 99, "Out", "Weekday", 7L),
        (1, 4008, 65, "Back", "Weekday", 3L),
        (1, 4008, 80, "Out", "Weekday", 5L))
      .toDF("trip_id", "vehicle_id", "route_id", "direction", "service_key", "offset")
      .repartition(8)
    Load.mergeStopEvents(spark, updates, tripDir, orderCol = Some("offset"))
    val t = spark.read.parquet(tripDir).head()
    assert(t.getAs[Int]("route_id") === 65)
    assert(t.getAs[String]("direction") === "Back")
  }

  test("mergeStopEvents: without an order column the pick is deterministic") {
    // no arrival order available -> full-row sort decides; same result
    // every run regardless of partitioning (sorted columns: direction
    // "Back" < "Out" -> route 65 wins)
    val updates = Seq((1, 4008, 99, "Out", "Weekday"), (1, 4008, 65, "Back", "Weekday"))
      .toDF("trip_id", "vehicle_id", "route_id", "direction", "service_key")
    for (_ <- 1 to 3) {
      val dir = tmpDir("merge4")
      val tripDir = s"$dir/trip"
      Seq((1, 0, 4008, "Weekday", "Out"))
        .toDF("trip_id", "route_id", "vehicle_id", "service_key", "direction")
        .write.parquet(tripDir)
      Load.mergeStopEvents(spark, updates.repartition(8), tripDir)
      assert(spark.read.parquet(tripDir).head().getAs[Int]("route_id") === 65)
    }
  }

  test("mergeStopEvents: source stays readable until the commit swap") {
    // the merged frame derives FROM tripDir; the staged write must leave
    // the live table untouched (the old cache+in-place-Overwrite protocol
    // destroyed it if a cached partition was recomputed)
    val dir = tmpDir("merge5")
    val tripDir = s"$dir/trip"
    Seq((1, 0, 4008, "Weekday", "Out"))
      .toDF("trip_id", "route_id", "vehicle_id", "service_key", "direction")
      .write.parquet(tripDir)
    val trip = spark.read.parquet(tripDir)
    val merged = trip.withColumn("route_id", lit(65))
    graft.ops.Layout.stageOverwrite(merged, tripDir)
    // crash point: staged exists, live table still serves the old rows
    assert(spark.read.parquet(tripDir).head().getAs[Int]("route_id") === 0)
    graft.ops.Layout.commitOverwrite(spark, tripDir)
    assert(spark.read.parquet(tripDir).head().getAs[Int]("route_id") === 65)
  }

  test("mergeStopEvents: no match on (trip, vehicle, service_key) leaves row unchanged") {
    val dir = tmpDir("merge2")
    val tripDir = s"$dir/trip"
    Seq((1, 0, 4008, "Weekday", "Out"))
      .toDF("trip_id", "route_id", "vehicle_id", "service_key", "direction")
      .write.parquet(tripDir)
    // wrong vehicle — the reference UPDATE matches on all three keys
    val updates = Seq((1, 9999, 65, "Back", "Weekday"))
      .toDF("trip_id", "vehicle_id", "route_id", "direction", "service_key")
    Load.mergeStopEvents(spark, updates, tripDir)
    val t = spark.read.parquet(tripDir).head()
    assert(t.getAs[Int]("route_id") === 0)
    assert(t.getAs[String]("direction") === "Out")
  }
}
