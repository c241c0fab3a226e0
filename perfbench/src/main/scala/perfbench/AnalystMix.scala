package perfbench

import java.io.File
import java.time.LocalDate
import java.time.format.TextStyle
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.ctran.{Analytics, Load, StopEvents, Transform}

/** Read-only analyst traffic over two weeks that set-up loads in one batch
  * (`Load.loadFile` over the fourteen day archives, then the stop-event
  * merge; traced runs report that load's layers). One closed-loop client
  * issues a seeded mix of parameterised hotspot / GeoJSON lookups (skewed
  * toward a few hot vehicles, each hitting one day's partition) and
  * whole-table scans. One operation = one query, timed from issue to the
  * collected result. Every answer is checked against a computation over
  * the generator's records. */
final class AnalystMix(c: Ctx) extends Workload {
  /** Mon 2020-10-05 .. Sun 2020-10-18 (the reference's hotspot day). */
  private val dates = (0 until 14).map(LocalDate.of(2020, 10, 5).plusDays(_))
  /** Share of the reference's day-of-week volumes loaded per day. */
  private val volume = c.o.scale / 64
  /** Queries per cycle of 20: three quarters lookups. The client issues
    * whole cycles, each in a seeded order, so every run times the same mix. */
  private val Mix = Seq("hotspot" -> 8, "geojson" -> 7, "profile" -> 1,
    "longest_trips" -> 1, "dow_volumes" -> 1, "fk_violations" -> 1, "sql" -> 1)
  private val Cycle = Mix.flatMap { case (k, n) => Seq.fill(n)(k) }

  private var days: IndexedSeq[Gen.Day] = IndexedSeq.empty
  private var json, pages: File = _
  private var inputBytes = 0L
  private val done = mutable.ArrayBuffer[(Draw, Any)]()
  private def bcDir = c.dir("tables/breadcrumb").getPath
  private def tripDir = c.dir("tables/trip").getPath

  def generate(dir: File): Unit = {
    days = dates.zipWithIndex.map { case (d, i) =>
      Gen.day(c.o.seed, d, (Gen.dayVolume(d) * volume).toInt, 170000000 + 10000 * i) }
    inputBytes = days.map { d =>
      Gen.writeArrayFile(d, new File(dir, s"breadcrumbs/${d.date}.json")) +
        Gen.writePage(d.stops, new File(dir, s"stop-events/${d.date}.html"))
    }.sum
  }

  def setup(inputs: File): Unit = {
    generate(inputs)
    Util.deleteTree(c.dir("tables"))
    json = new File(inputs, "breadcrumbs"); pages = new File(inputs, "stop-events")
    c.span("load.load_file")(Load.loadFile(c.spark, json.getPath, bcDir, tripDir))
    val updates = Transform.stopEventUpdates(StopEvents.fromFiles(c.spark, pages.getPath))
    c.span("load.merge_stop_events")(Load.mergeStopEvents(c.spark, updates, tripDir))
    ref = new Reference(days)
    // warm-up: each kind of query once
    val rnd = new SplittableRandom(c.o.seed)
    Mix.foreach { case (k, _) => issue(draw(k, rnd)) }
  }

  // --------------------------------------------------------------- client

  /** Four hot vehicles, drawn among those with lookup targets. */
  private lazy val hot: Set[Int] = {
    val vs = ref.allTrips.map(_.vehicle).distinct.sorted
    Gen.shuffled(vs.size, new SplittableRandom(c.o.seed * 7 + 3)).take(4).map(vs).toSet
  }

  /** Three quarters of the lookups target one of four hot vehicles. */
  private def draw(kind: String, rnd: SplittableRandom): Draw = {
    val pool = if (rnd.nextInt(100) < 75) ref.allTrips.filter(t => hot(t.vehicle))
      else ref.allTrips
    val t = pool(rnd.nextInt(pool.size))
    val h = math.min(21, ref.startHour(t.id))
    Draw(kind, t.vehicle, ref.trips(t.id)._1, ref.dayOf(t.id), h, h + 2)
  }

  private def issue(d: Draw): Any = c.span(s"analytics.${d.kind}") {
    val spark = c.spark
    val bc = spark.read.parquet(bcDir)
    val trip = spark.read.parquet(tripDir)
    def hotspot = Analytics.hotspot(bc, trip, d.vehicle, d.route, 10, d.day, d.lo, d.hi)
    d.kind match {
      case "hotspot"       => hotspot.collect()
      case "geojson"       => Analytics.geoJsonCollection(hotspot)
      case "profile"       => Analytics.profile(bc).collect()
      case "longest_trips" => Analytics.longestTrips(bc).collect()
      case "dow_volumes"   => Analytics.dowVolumes(bc).collect()
      case "fk_violations" => Analytics.fkViolations(bc, trip).collect()
      case "sql" =>
        Analytics.registerViews(spark, bc, trip)
        spark.sql(AnalystMix.hotspotSql(d)).collect()
    }
  }

  def run(): Unit = {
    val rnd = new SplittableRandom(c.o.seed * 31 + 7)
    val start = System.nanoTime()
    var order = Seq.empty[String]
    while (order.nonEmpty || (System.nanoTime() - start) / 1e9 < c.o.seconds) {
      if (order.isEmpty) order = Gen.shuffled(Cycle.size, rnd).toSeq.map(Cycle)
      val d = draw(order.head, rnd)
      order = order.tail
      val (res, ms) = measure(
        try issue(d) catch { case e: Exception => e })
      opsMs += ms
      if (opsMs.size % 2 == 0) Speed.spark() // host speed, between operations
      done += d -> res
    }
  }

  /** Drop one row from the first day-of-week answer (every cycle has one). */
  def corrupt(): Unit = {
    val i = done.indexWhere(_._1.kind == "dow_volumes")
    done(i) = done(i)._1 -> done(i)._2.asInstanceOf[Array[Row]].tail
  }

  def check(): Checks = {
    val failures = done.toSeq.zipWithIndex.flatMap { case ((d, res), i) =>
      val ok = res match {
        case e: Exception => System.err.println(s"[perfbench] query $i: $e"); false
        case r: Array[Row] => ref.matches(d, r)
        case s: String     => ref.matchesGeoJson(d, s)
        case _             => false
      }
      Option.when(!ok)(s"query $i ($d): wrong answer")
    }
    val mix = days.flatMap(Gen.mixFailures)
    Checks(done.size, if (mix.nonEmpty) done.size else failures.size, mix ++ failures)
  }

  def storedBytesPerInputByte: Double = Util.bytes(c.dir("tables")).toDouble / inputBytes

  override def probe(): Unit = c.span("probe.stop_events") {
    stopEventRows = StopEvents.fromFiles(c.spark, pages.getPath).count()
  }
  private var stopEventRows = 0L

  def layers(t: Tracer): Map[String, Double] = {
    def ms(k: String) = Util.mean(t.timed(s"analytics.$k").map(_.ms.toDouble))
    val loads = t.named("load.load_file")
    val jsonRows = t.scansIn(loads, json.getPath).map(_.rows).sum.toDouble
    val lookups = t.timed("analytics.hotspot") ++ t.timed("analytics.geojson")
    val tableFiles = Util.parquetFiles(c.dir("tables/breadcrumb")).toDouble
    val read = t.scansIn(lookups, bcDir).map(_.files).sum.toDouble
    Map(
      "load.load_file_ms" -> Util.mean(loads.map(_.ms.toDouble)),
      "load.merge_stop_events_ms" ->
        Util.mean(t.named("load.merge_stop_events").map(_.ms.toDouble)),
      "load.input_reads_per_row" -> jsonRows / days.map(_.size).sum,
      "stop_events.rows" -> stopEventRows.toDouble,
      "stop_events.parse_cpu_ms" ->
        t.stagesIn(t.named("probe.stop_events")).map(_.cpuNs).sum / 1e6,
      "analytics.hotspot_ms" -> ms("hotspot"), "analytics.geojson_ms" -> ms("geojson"),
      "analytics.profile_ms" -> ms("profile"),
      "analytics.longest_trips_ms" -> ms("longest_trips"),
      "analytics.dow_volumes_ms" -> ms("dow_volumes"),
      "analytics.fk_violations_ms" -> ms("fk_violations"),
      "analytics.sql_ms" -> ms("sql"),
      "analytics.files_read_per_hotspot" ->
        read / math.max(1, lookups.size) / math.max(1.0, tableFiles))
  }

  private var ref: Reference = _
}

/** One analyst query: its kind and the lookup parameters. */
final case class Draw(kind: String, vehicle: Int, route: Int, day: Int,
    lo: Int, hi: Int)

object AnalystMix {
  /** The reference's hotspot SQL (tsvscript.py), parameterised. */
  def hotspotSql(d: Draw): String =
    s"""SELECT latitude || ' ' || longitude AS point, avg(speed) AS avg_speed
       |FROM breadcrumb b JOIN trip t ON b.trip_id = t.trip_id
       |WHERE t.vehicle_id = ${d.vehicle} AND t.route_id = ${d.route}
       |  AND t.direction = 'Out'
       |  AND date_part('month', b.tstamp) = 10 AND date_part('day', b.tstamp) = ${d.day}
       |  AND date_part('hour', b.tstamp) BETWEEN ${d.lo} AND ${d.hi}
       |GROUP BY latitude || ' ' || longitude""".stripMargin
}

/** One loaded breadcrumb; None is SQL NULL. */
final case class Crumb(trip: Int, sec: Long, lat: Option[Double],
    lon: Option[Double], speed: Option[Double])

/** Answers computed from the generator's records, independently of the
  * program: loaded breadcrumbs are the valid records, and Trip carries the
  * stop-event updates `Load.mergeStopEvents` applies. */
final class Reference(days: IndexedSeq[Gen.Day]) {
  /** trip id → (route, vehicle, service key, direction) after the merge. */
  val trips: Map[Int, Gen.TripRow] = days.flatMap(Gen.mergedTrips).toMap
  /** Lookup targets: loaded trips running Out (the hotspot query's filter). */
  val allTrips: IndexedSeq[Gen.Trip] =
    days.flatMap(_.trips).filter(t => trips.get(t.id).exists(_._4 == "Out"))
  private val dayOfTrip: Map[Int, Int] =
    days.flatMap(d => d.trips.map(_.id -> d.date.getDayOfMonth)).toMap
  def dayOf(trip: Int): Int = dayOfTrip(trip)
  private val startOf = days.flatMap(_.trips).map(t => t.id -> t.start).toMap
  def startHour(trip: Int): Int = startOf(trip) / 3600 % 24

  /** Built on first use, after the timed region and its heap reading. */
  lazy val crumbs: IndexedSeq[Crumb] = days.flatMap { d =>
    (0 until d.size).filter(d.valid).map { i =>
      val b = d.blank(i)
      Crumb(d.trip(i), d.epochSec(i),
        Option.when(b != 1)(d.lat(i) / 1e6), Option.when(b != 2)(d.lon(i) / 1e6),
        Option.when(b != 4)(d.vel(i).toDouble))
    }
  }
  private lazy val byTrip = crumbs.groupBy(_.trip)

  private def date(sec: Long) = LocalDate.ofEpochDay(Math.floorDiv(sec, 86400L))
  private def selected(d: Draw): Seq[Crumb] =
    trips.collect { case (id, (r, v, _, dir))
        if v == d.vehicle && r == d.route && dir == "Out" => id }
      .toSeq.flatMap(byTrip.getOrElse(_, Nil)).filter { c =>
        val dt = date(c.sec); val h = (c.sec % 86400 / 3600).toInt
        dt.getMonthValue == 10 && dt.getDayOfMonth == d.day && h >= d.lo && h <= d.hi
      }
  private def avg(xs: Seq[Double]): Option[Double] =
    Option.when(xs.nonEmpty)(xs.sum / xs.size)
  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
  private def closeOpt(a: Option[Double], b: Option[Double]) = (a, b) match {
    case (Some(x), Some(y)) => close(x, y)
    case (None, None)       => true
    case _                  => false
  }
  private def opt(r: Row, i: Int): Option[Double] = Option.when(!r.isNullAt(i))(r.getDouble(i))

  /** (lat, lon) → avg speed over crumbs with a speed (F6). */
  def hotspot(d: Draw): Map[(Option[Double], Option[Double]), Double] =
    selected(d).filter(_.speed.isDefined).groupBy(c => (c.lat, c.lon))
      .map { case (k, cs) => k -> avg(cs.flatMap(_.speed)).get }

  def matches(d: Draw, rows: Array[Row]): Boolean = d.kind match {
    case "hotspot" =>
      val want = hotspot(d)
      rows.length == want.size && rows.forall { r =>
        want.get((opt(r, 0), opt(r, 1))).exists(close(r.getDouble(2), _)) }
    case "sql" =>
      def key(c: Crumb) = for (a <- c.lat; o <- c.lon) yield s"$a $o"
      val want = selected(d).groupBy(key).map { case (k, cs) => k -> avg(cs.flatMap(_.speed)) }
      rows.length == want.size && rows.forall { r =>
        val k = Option.when(!r.isNullAt(0))(r.getString(0))
        want.get(k).exists(closeOpt(opt(r, 1), _)) }
    case "profile" =>
      lazy val r = rows.head
      val lats = crumbs.flatMap(_.lat); val speeds = crumbs.flatMap(_.speed)
      rows.length == 1 && r.getLong(0) == crumbs.size &&
        r.getLong(1) == crumbs.map(_.trip).distinct.size &&
        r.getTimestamp(2).getTime / 1000 == crumbs.map(_.sec).min &&
        r.getTimestamp(3).getTime / 1000 == crumbs.map(_.sec).max &&
        r.getDouble(4) == lats.min && r.getDouble(5) == lats.max &&
        r.getDouble(6) == speeds.max && close(r.getDouble(7), avg(speeds).get)
    case "longest_trips" =>
      val (id, dur) = byTrip.map { case (id, cs) =>
        id -> (cs.map(_.sec).max - cs.map(_.sec).min) }
        .toSeq.minBy { case (id, dur) => (-dur, id) }
      rows.length == 1 && rows.head.getInt(0) == id && rows.head.getLong(1) == dur
    case "dow_volumes" =>
      val perDate = crumbs.groupBy(c => date(c.sec)).map { case (dt, cs) => dt -> cs.size }
      val want = perDate.groupBy { case (dt, _) =>
        dt.getDayOfWeek.getDisplayName(TextStyle.FULL, Locale.US) }
        .map { case (dow, m) => dow -> ((m.values.sum.toDouble / m.size, m.size.toLong)) }
      rows.length == want.size && rows.map(_.getString(0)).toSeq == want.keys.toSeq.sorted &&
        rows.forall { r => want.get(r.getString(0)).exists { case (a, n) =>
          close(r.getDouble(1), a) && r.getLong(2) == n } }
    case "fk_violations" => rows.isEmpty
    case _ => false
  }

  /** Features of the hotspot answer: [lon, lat] and the integer speed. */
  def matchesGeoJson(d: Draw, doc: String): Boolean = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(doc)
    val feats = root.get("features")
    def num(n: com.fasterxml.jackson.databind.JsonNode) =
      Option.when(n != null && !n.isNull)(n.asDouble)
    val got = (0 until feats.size).map { i =>
      val f = feats.get(i)
      val xy = f.get("geometry").get("coordinates")
      ((num(xy.get(1)), num(xy.get(0))), f.get("properties").get("speed").asLong)
    }.sortBy(_.toString)
    val want = hotspot(d).toSeq.map { case (k, v) => (k, v.toLong) }.sortBy(_.toString)
    root.get("type").asText == "FeatureCollection" && got == want
  }
}
