package graft.ctran

import graft.{SparkJobs, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** The hotspot lookup's parameters are runtime values ([[graft.functions.Param]]),
  * not source text: it answers exactly what the literal form answers,
  * compiles no new code for a new parameter set, and still reads only
  * the asked day's `opd_date` partition. */
class ParamSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The hotspot query with its parameters inlined as literals: the
    * reference answer, and the form that compiles once per parameter set. */
  private def literalHotspot(bc: DataFrame, trip: DataFrame, vehicleId: Int,
      routeId: Int, month_ : Int, day: Int, hourLo: Int, hourHi: Int): DataFrame = {
    val dim = trip.filter(col("vehicle_id") === vehicleId &&
        col("route_id") === routeId && col("direction") === "Out")
      .select(col("trip_id"))
    bc
      .filter(month(col("opd_date")) === month_ && dayofmonth(col("opd_date")) === day)
      .filter(month(col("tstamp")) === month_ && dayofmonth(col("tstamp")) === day &&
              hour(col("tstamp")).between(hourLo, hourHi))
      .join(broadcast(dim), Seq("trip_id"))
      .filter(col("speed").isNotNull)
      .groupBy(col("latitude"), col("longitude"))
      .agg(avg(col("speed")).as("avg_speed"))
  }

  /** Trips 10-13 (two vehicles, two routes, one running In), each with
    * two GPS points an hour from 07:00 to 12:00 on Oct 17 and 18; every
    * fifth speed is null. Breadcrumbs are partitioned by `opd_date`. */
  private lazy val (bcDir, tripDir) = {
    val root = tmpDir("param-spec")
    val trips = Seq((10, 65, 4008, "Out"), (11, 20, 4008, "Out"),
      (12, 65, 4010, "Out"), (13, 65, 4010, "In"))
    trips.map { case (t, r, v, d) => (t, r, v, "Weekday", d) }
      .toDF("trip_id", "route_id", "vehicle_id", "service_key", "direction")
      .write.parquet(s"$root/trip")
    val crumbs = for {
      (t, _, _, _) <- trips; day <- Seq(17, 18); h <- 7 to 12; p <- 0 to 1
    } yield {
      val i = t * 100 + h * 2 + p
      (java.sql.Timestamp.valueOf(f"2020-10-$day%02d $h%02d:${p * 20}%02d:00"),
        45.5 + (t % 2) * 0.01 + h * 0.001, -122.6 - p * 0.01,
        Option.when(i % 5 != 0)(i % 37 + day.toDouble), t)
    }
    crumbs.toDF("tstamp", "latitude", "longitude", "speed", "trip_id")
      .withColumn("opd_date", to_date($"tstamp"))
      .write.partitionBy("opd_date").parquet(s"$root/breadcrumb")
    (s"$root/breadcrumb", s"$root/trip")
  }
  private def bc = spark.read.parquet(bcDir)
  private def trip = spark.read.parquet(tripDir)

  private def features(doc: String): Seq[String] =
    """\{"type":"Feature",.*?"properties":\{[^}]*\}\}""".r
      .findAllIn(doc).toSeq.sorted

  test("hotspot and geoJsonCollection answer what the literal form answers") {
    val sets = Seq((4008, 65, 10, 18, 9, 11), (4008, 20, 10, 17, 7, 12),
      (4010, 65, 10, 18, 12, 12), (4010, 65, 10, 17, 8, 10),
      (4999, 65, 10, 18, 9, 11)) // no such vehicle: no rows
    sets.foreach { case (v, r, m, d, lo, hi) =>
      val got = Analytics.hotspot(bc, trip, v, r, m, d, lo, hi)
      val want = literalHotspot(bc, trip, v, r, m, d, lo, hi)
      val rows = got.collect().map(_.toString).sorted.toSeq
      assert(rows === want.collect().map(_.toString).sorted.toSeq, (v, r, d, lo, hi))
      assert(rows.nonEmpty === (v != 4999), (v, r, d, lo, hi))
      val doc = Analytics.geoJsonCollection(got)
      val wantDoc = Analytics.geoJsonCollection(want)
      assert(features(doc) === features(wantDoc))
      assert(doc.length === wantDoc.length && features(doc).size === rows.size)
    }
  }

  test("a lookup with new parameters compiles no code; the literal form does") {
    // parameter sets no other case issues, so the literal form cannot
    // hit code an earlier case compiled
    val sets = Seq((4008, 65, 10, 18, 8, 9), (4008, 20, 10, 17, 10, 11),
      (4010, 65, 10, 18, 7, 9), (4010, 65, 10, 17, 9, 12))
    def compiles(lookup: ((Int, Int, Int, Int, Int, Int)) => DataFrame): Seq[Long] = {
      def run(s: (Int, Int, Int, Int, Int, Int)): Long = SparkJobs.record(spark) {
        val h = lookup(s)
        assert(h.collect().nonEmpty)
        Analytics.geoJsonCollection(h)
      }.compiles
      run(sets.head) // warm-up: the plan shape's first compile
      sets.tail.map(run)
    }
    val param = compiles { case (v, r, m, d, lo, hi) =>
      Analytics.hotspot(bc, trip, v, r, m, d, lo, hi) }
    val literal = compiles { case (v, r, m, d, lo, hi) =>
      literalHotspot(bc, trip, v, r, m, d, lo, hi) }
    info(s"compiles per lookup after warm-up: param $param, literal $literal")
    assert(param.forall(_ == 0), param)
    assert(literal.forall(_ > 0), literal)
  }

  test("a parameterised day still reads only its opd_date partition") {
    val h = Analytics.hotspot(bc, trip, 4008, 65, 10, 18, 9, 11)
    assert(h.collect().nonEmpty)
    val scans = collect(h.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.partitionSchema.nonEmpty => s
    }
    assert(scans.size === 1)
    assert(scans.head.metrics("numPartitions").value === 1L)
    assert(scans.head.partitionFilters.exists(_.toString.contains("param(18)")),
      scans.head.partitionFilters)
  }
}
