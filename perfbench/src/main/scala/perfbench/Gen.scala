package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{DayOfWeek, LocalDate}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded C-Tran generator: raw breadcrumb JSON, stop-event HTML pages and
  * the answers the checks compare against.
  *
  * Shape (BASELINE.md): 104 vehicles, 24 routes, 5-second cadence, service
  * days that run past midnight (ACT_TIME > 86400), positions inside the
  * reference's lat/lon box, and the reference's day-of-week volumes.
  *
  * The fault mix is declared in [[FaultRates]]; each fault hits an exact,
  * seeded number of records, so the checks can assert the counts.
  */
object Gen {

  val Vehicles: IndexedSeq[Int] = (0 until 104).map(4001 + _)
  val Routes: IndexedSeq[Int] = IndexedSeq(2, 4, 6, 7, 9, 19, 25, 30, 32, 37,
    39, 41, 44, 47, 48, 50, 60, 65, 71, 72, 74, 76, 78, 80)
  /** Micro-degrees: south-most and north-most points of the reference. */
  val LatLo = 45494323; val LatHi = 45866877
  val LonLo = -122683057; val LonHi = -122408082

  def dayVolume(d: LocalDate): Int = d.getDayOfWeek match {
    case DayOfWeek.SATURDAY => 175313
    case DayOfWeek.SUNDAY   => 134574
    case _                  => 371000
  }

  /** Per-record fault codes. F1/F3/F4/F5 are dropped by validation; P1
    * (one empty string field) and Dup (a replayed copy) are loaded. */
  object Fault {
    val Clean: Byte = 0; val F1: Byte = 1; val F3: Byte = 3; val F4: Byte = 4
    val F5: Byte = 5; val P1: Byte = 6; val Dup: Byte = 7
    def invalid(f: Byte): Boolean = f >= F1 && f <= F5
  }
  /** Share of a day's records hit by each fault (FIXTURES.md). */
  val FaultRates: Seq[(String, Byte, Double)] = Seq(
    ("F1_missing_trip_id", Fault.F1, 0.002),
    ("F3_direction_out_of_range", Fault.F3, 0.002),
    ("F4_velocity_201", Fault.F4, 0.002),
    ("F5_act_time_over_48h", Fault.F5, 0.001),
    ("P1_empty_string", Fault.P1, 0.010),
    ("replayed_duplicate", Fault.Dup, 0.005))

  /** Differences between a day's realised fault counts and the declared
    * mix (a generator that drifts from its declared mix fails the run). */
  def mixFailures(d: Day): Seq[String] = {
    val base = d.size - d.count(Fault.Dup)
    FaultRates.flatMap { case (name, code, rate) =>
      val want = math.round(rate * base)
      Option.when(d.count(code) != want)(
        s"${d.date}: $name hit ${d.count(code)} records, declared $want")
    }
  }

  final case class Trip(id: Int, vehicle: Int, route: Int, start: Int, n: Int)
  /** One stop event as the page carries it; `dir` "0"/"1", `svc` W/S/U. */
  final case class Stop(trip: Int, vehicle: Int, route: Int, dir: String,
      svc: String)

  /** One service day, records in arrival (file) order. Coordinates are
    * micro-degrees; a P1 record blanks the field named by `blank`. */
  final class Day(val date: LocalDate, val trips: IndexedSeq[Trip],
      val trip: Array[Int], val act: Array[Int], val vehicle: Array[Int],
      val lat: Array[Int], val lon: Array[Int], val dir: Array[Int],
      val vel: Array[Int], val fault: Array[Byte], val blank: Array[Byte],
      val stops: IndexedSeq[Stop]) {
    def size: Int = trip.length
    val opd: String = {
      val m = date.getMonth.toString.take(3)
      f"${date.getDayOfMonth}%02d-$m-${date.getYear % 100}%02d"
    }
    val serviceKey: String = svcName(svcCode(date))
    def valid(i: Int): Boolean = !Fault.invalid(fault(i))
    def count(f: Byte): Int = fault.count(_ == f)
    def skipped: Int = fault.count(Fault.invalid)
    /** The first `n` records of the feed. */
    def prefix(n: Int): Day = new Day(date, trips, trip.take(n), act.take(n),
      vehicle.take(n), lat.take(n), lon.take(n), dir.take(n), vel.take(n),
      fault.take(n), blank.take(n), stops)
    /** Epoch seconds of record i's timestamp (OPD_DATE + ACT_TIME). */
    def epochSec(i: Int): Long = date.toEpochDay * 86400L + act(i)
  }

  def svcCode(d: LocalDate): String = d.getDayOfWeek match {
    case DayOfWeek.SATURDAY => "S"
    case DayOfWeek.SUNDAY   => "U"
    case _                  => "W"
  }
  def svcName(code: String): String = code match {
    case "W" => "Weekday"; case "S" => "Saturday"; case _ => "Sunday"
  }

  /** Generate one service day of about `rows` raw records. `tripBase`
    * keeps trip ids unique across the days of one data set. */
  def day(seed: Long, date: LocalDate, rows: Int, tripBase: Int): Day = {
    val rnd = new SplittableRandom(seed * 1000003L + date.toEpochDay)
    // trips: ~220 crumbs each, starting 05:00-24:30 so late trips cross
    // midnight
    val trips = mutable.ArrayBuffer[Trip]()
    var total = 0
    while (total < rows) {
      val n = math.min(120 + rnd.nextInt(201), rows - total)
      trips += Trip(tripBase + trips.size, Vehicles(rnd.nextInt(Vehicles.size)),
        Routes(rnd.nextInt(Routes.size)), 18000 + 5 * rnd.nextInt(12960), n)
      total += n
    }
    // crumbs, then arrival order = time order across the fleet
    val tTrip = new Array[Int](total); val tAct = new Array[Int](total)
    val tLat = new Array[Int](total); val tLon = new Array[Int](total)
    var k = 0
    for (t <- trips) {
      var la = LatLo + rnd.nextInt(LatHi - LatLo)
      var lo = LonLo + rnd.nextInt(LonHi - LonLo)
      for (i <- 0 until t.n) {
        tTrip(k) = t.id; tAct(k) = t.start + 5 * i
        la = clamp(la + rnd.nextInt(1001) - 500, LatLo, LatHi)
        lo = clamp(lo + rnd.nextInt(1001) - 500, LonLo, LonHi)
        tLat(k) = la; tLon(k) = lo; k += 1
      }
    }
    val order = (0 until total).sortBy(i => (tAct(i).toLong << 32) | tTrip(i))
    val byId = trips.map(t => t.id -> t).toMap
    // fault positions: disjoint, seeded; duplicates replay valid records
    val perm = shuffled(total, rnd)
    val fault = new Array[Byte](total)
    var p = 0
    for ((_, code, rate) <- FaultRates) {
      val n = math.round(rate * total).toInt
      for (_ <- 0 until n) { fault(perm(p)) = code; p += 1 }
    }
    val n = total + fault.count(_ == Fault.Dup)
    val trip = new Array[Int](n); val act = new Array[Int](n)
    val vehicle = new Array[Int](n); val lat = new Array[Int](n)
    val lon = new Array[Int](n); val dir = new Array[Int](n)
    val vel = new Array[Int](n); val fl = new Array[Byte](n)
    val blank = new Array[Byte](n)
    var o = 0
    for (pos <- 0 until total) {
      val s = order(pos)
      val f = fault(pos)
      def emit(code: Byte): Unit = {
        trip(o) = tTrip(s); act(o) = tAct(s); vehicle(o) = byId(tTrip(s)).vehicle
        lat(o) = tLat(s); lon(o) = tLon(s)
        dir(o) = (tAct(s) / 5 * 7 + tTrip(s)) % 360
        vel(o) = (tAct(s) / 5 + tTrip(s)) % 60
        fl(o) = code
        code match {
          case Fault.F3 => dir(o) = if (pos % 2 == 0) 360 else -1
          case Fault.F4 => vel(o) = 201
          case Fault.F5 => act(o) = 172800 + 5 + tAct(s)
          case Fault.P1 => blank(o) = (1 + pos % 4).toByte
          case _ =>
        }
        o += 1
      }
      if (f == Fault.Dup) { emit(Fault.Clean); emit(Fault.Dup) } else emit(f)
    }
    val stops = stopEvents(rnd, date, trips.toIndexedSeq)
    new Day(date, trips.toIndexedSeq, trip, act, vehicle, lat, lon, dir, vel,
      fl, blank, stops)
  }

  /** ~90% of trips publish a stop event, in trip-end order; 3% of them name
    * another vehicle (the keyed UPDATE must not apply those) and 2% are
    * replayed later in the feed. */
  private def stopEvents(rnd: SplittableRandom, date: LocalDate,
      trips: IndexedSeq[Trip]): IndexedSeq[Stop] = {
    val svc = svcCode(date)
    val firsts = trips.sortBy(t => (t.start + 5 * t.n, t.id)).flatMap { t =>
      if (rnd.nextInt(100) >= 90) None
      else {
        val v = if (rnd.nextInt(100) < 3) 4001 + (t.vehicle - 4001 + 1) % 104
          else t.vehicle
        Some(Stop(t.id, v, t.route, if (rnd.nextBoolean()) "0" else "1", svc))
      }
    }
    // a replay arrives 100 events after its original (so never in the same
    // slice of the trickle feed); replays still due at the end never arrive
    val out = mutable.ArrayBuffer[Stop]()
    val due = mutable.Queue[(Int, Stop)]()
    for ((s, i) <- firsts.zipWithIndex) {
      out += s
      while (due.nonEmpty && due.head._1 <= i) out += due.dequeue()._2
      if (rnd.nextInt(100) < 2) due.enqueue((i + 100, s))
    }
    out.toIndexedSeq
  }

  private def clamp(v: Int, lo: Int, hi: Int): Int = math.max(lo, math.min(hi, v))

  def shuffled(n: Int, rnd: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
    }
    a
  }

  // ---------------------------------------------------------------- files

  private def micro(v: Int): String = {
    val a = math.abs(v.toLong)
    val frac = (a % 1000000).toString
    (if (v < 0) "-" else "") + (a / 1000000) + "." + ("0" * (6 - frac.length)) + frac
  }

  /** One record as the upstream feed renders it (FIXTURES.md §1). */
  def recordJson(d: Day, i: Int): String = {
    val b = new java.lang.StringBuilder(200)
    def field(k: String, v: String): Unit = {
      if (b.length > 1) b.append(", ")
      b.append('"').append(k).append("\": \"").append(v).append('"')
    }
    b.append('{')
    if (d.fault(i) != Fault.F1) field("EVENT_NO_TRIP", d.trip(i).toString)
    field("OPD_DATE", d.opd)
    field("ACT_TIME", d.act(i).toString)
    field("VEHICLE_ID", d.vehicle(i).toString)
    val bl = d.blank(i)
    field("GPS_LATITUDE", if (bl == 1) "" else micro(d.lat(i)))
    field("GPS_LONGITUDE", if (bl == 2) "" else micro(d.lon(i)))
    field("DIRECTION", if (bl == 3) "" else d.dir(i).toString)
    field("VELOCITY", if (bl == 4) "" else d.vel(i).toString)
    b.append('}').toString
  }

  private def writer(f: File): BufferedWriter = {
    f.getParentFile.mkdirs()
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f),
      StandardCharsets.UTF_8), 1 << 16)
  }

  /** The archive file of one day: a JSON array, one object per line. */
  def writeArrayFile(d: Day, f: File): Long = {
    val w = writer(f)
    try {
      w.write("[\n")
      for (i <- 0 until d.size) {
        w.write(recordJson(d, i)); w.write(if (i + 1 < d.size) ",\n" else "\n")
      }
      w.write("]\n")
    } finally w.close()
    f.length()
  }

  /** Records [from, until) as JSON lines (the streaming source's framing). */
  def writeLinesFile(d: Day, from: Int, until: Int, f: File): Long = {
    val w = writer(f)
    try for (i <- from until until) { w.write(recordJson(d, i)); w.write('\n') }
    finally w.close()
    f.length()
  }

  private val Headers = Seq("vehicle_number", "leave_time", "train",
    "route_number", "direction", "service_key", "stop_time", "arrive_time",
    "dwell", "location_id", "door", "lift", "ons", "offs")

  /** A stop-event page: one `<h3>` + `<table>` block per event, header row
    * then a few stop rows; the first row carries the trip's values. */
  def writePage(stops: Seq[Stop], f: File): Long = {
    val w = writer(f)
    try {
      w.write("<html><body>\n")
      for (s <- stops) {
        w.write(s"<h3>Stop events for trip ${s.trip}</h3>\n<table>\n<tr>")
        Headers.foreach(h => w.write(s"<th>$h</th>"))
        w.write("</tr>\n")
        for (r <- 0 until 4) {
          val cells = Seq(s.vehicle.toString, (21000 + 300 * r).toString,
            (1000 + s.trip % 97).toString, s.route.toString, s.dir, s.svc,
            (21000 + 300 * r).toString, (20990 + 300 * r).toString, "10",
            (2000 + (s.trip + r) % 977).toString, "0", "0", (r % 3).toString,
            ((r + 1) % 3).toString)
          w.write("<tr>"); cells.foreach(c => w.write(s"<td>$c</td>")); w.write("</tr>\n")
        }
        w.write("</table>\n")
      }
      w.write("</body></html>\n")
    } finally w.close()
    f.length()
  }

  // -------------------------------------------------------------- answers

  /** Trip dimension row: (route_id, vehicle_id, service_key, direction). */
  type TripRow = (Int, Int, String, String)

  /** Trips the load inserts (ids with at least one valid record), as the
    * breadcrumb stream alone defines them: route 0, direction Out. */
  def loadedTrips(d: Day): Map[Int, TripRow] = {
    val vehicleOf = d.trips.map(t => t.id -> t.vehicle).toMap
    (0 until d.size).filter(d.valid).map(d.trip).distinct
      .map(id => id -> ((0, vehicleOf(id), d.serviceKey, "Out"))).toMap
  }

  /** The stop-event feed's decoded row for one event. */
  def decoded(s: Stop): TripRow =
    (s.route, s.vehicle, svcName(s.svc), if (s.dir == "1") "Back" else "Out")

  /** Trip after `Load.mergeStopEvents`: an event applies when its trip,
    * vehicle and service key match; only route and direction change. */
  def mergedTrips(d: Day): Map[Int, TripRow] = {
    val firstSeen = d.stops.groupBy(_.trip).map { case (k, v) => k -> v.head }
    loadedTrips(d).map { case (id, row @ (_, veh, svc, _)) =>
      firstSeen.get(id).map(decoded) match {
        case Some((r, v, s, dir)) if v == veh && s == svc => id -> ((r, veh, svc, dir))
        case _ => id -> row
      }
    }
  }
}
