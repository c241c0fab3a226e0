package perfbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.ctran.{Analytics, StopEvents, Transform}
import graft.streaming.{SnapshotSink, StreamEtl}

/** Reads and checks the tables a load wrote. */
object TableChecks {
  val TripCols = Seq("trip_id", "route_id", "vehicle_id", "service_key", "direction")

  def tripRows(df: DataFrame): Seq[(Int, Gen.TripRow)] =
    df.select(TripCols.head, TripCols.tail: _*).collect().toSeq.map(r =>
      r.getInt(0) -> ((r.getInt(1), r.getInt(2), r.getString(3), r.getString(4))))

  /** Differences between a Trip table and the expected rows: duplicate
    * keys, missing or extra trips, wrong values. */
  def tripDiff(what: String, got: Seq[(Int, Gen.TripRow)],
      want: Map[Int, Gen.TripRow]): Seq[String] = {
    val dups = got.size - got.map(_._1).distinct.size
    val g = got.toMap
    val missing = want.keySet.diff(g.keySet).size
    val extra = g.keySet.diff(want.keySet).size
    val wrong = want.count { case (k, v) => g.get(k).exists(_ != v) }
    Seq(dups -> "duplicate trip_id", missing -> "missing trips",
      extra -> "unexpected trips", wrong -> "trips with wrong values")
      .collect { case (n, msg) if n > 0 => s"$what: $n $msg" }
  }

  /** Reconciliation, breadcrumb count and FK integrity of one load. */
  def ingest(c: Ctx, d: Gen.Day, counters: (Long, Long, Long), bcDir: String,
      tripDir: String): Seq[String] = {
    val want = (d.size.toLong, (d.size - d.skipped).toLong, d.skipped.toLong)
    val spark = c.spark
    val bc = spark.read.parquet(bcDir); val trip = spark.read.parquet(tripDir)
    val bcRows = bc.count()
    Seq(
      Option.when(counters != want)(
        s"consumed/inserted/skipped $counters, expected $want"),
      Option.when(bcRows != want._2)(s"breadcrumb rows $bcRows, expected ${want._2}"),
      Option.when(!Analytics.fkViolations(bc, trip).isEmpty)(
        "breadcrumbs reference missing trips")).flatten
  }

  /** Append a copy of the largest data file: duplicated rows the checks
    * must see (a micro-batch that adds no rows writes an empty file). */
  def duplicateAFile(dir: String): Unit = {
    val f = Util.files(new File(dir)).filter(_.getName.endsWith(".parquet")).maxBy(_.length)
    java.nio.file.Files.copy(f.toPath,
      new File(f.getParentFile, "part-99999-corrupt.snappy.parquet").toPath)
    ()
  }
}

/** The same kind of day cut into 100 small slice files, of which the first
  * [[Slices]] are staged. One round runs them in two timed phases into
  * empty tables: the streaming ETL drains the staged backlog one slice per
  * micro-batch, then each slice's stop-event updates are upserted into a
  * Trip snapshot table, one `SnapshotSink.mergeOnce` call per slice. Rounds
  * repeat, each into fresh tables, until `--seconds` would be passed (at
  * least one). One operation = one slice: its micro-batch plus its upsert. */
final class Trickle(c: Ctx) extends Workload {
  val Cut = 100
  val Slices = 8
  private val date = LocalDate.of(2020, 10, 7)
  private val rows = (Gen.dayVolume(date) * c.o.scale).toInt
  private var full, day: Gen.Day = _
  private var slices, pages: File = _
  private var stopChunks: Seq[Seq[Gen.Stop]] = Nil
  private var inputBytes = 0L

  /** One round's output tables, ETL counters, micro-batches and upsert times. */
  private final case class Round(out: File, counters: (Long, Long, Long),
      batches: Seq[Batch], commitMs: Seq[Double]) {
    def tab(name: String): String = new File(out, name).getPath
  }
  private val rounds = mutable.ArrayBuffer[Round]()
  private val errors = mutable.ArrayBuffer[String]()

  /** Cut `d` into `cut` slices and write the first `n`, each with the
    * stop-event page of its share of the day's feed. */
  private def stage(d: Gen.Day, cut: Int, n: Int, dir: File): (Long, Seq[Seq[Gen.Stop]]) = {
    val per = (d.size + cut - 1) / cut
    val bytes = (0 until n).map(i => Gen.writeLinesFile(d, i * per,
      math.min(d.size, (i + 1) * per), new File(dir, f"slices/slice-$i%04d.json"))).sum
    val chunk = (d.stops.size + cut - 1) / cut
    val chunks = d.stops.grouped(chunk).toSeq.take(n)
    val pageBytes = chunks.zipWithIndex.map { case (s, i) =>
      Gen.writePage(s, new File(dir, f"pages/slice-$i%04d.html")) }.sum
    (bytes + pageBytes, chunks)
  }

  def generate(dir: File): Unit = {
    full = Gen.day(c.o.seed, date, rows, 169500000)
    val (b, chunks) = stage(full, Cut, Slices, dir)
    day = full.prefix(math.min(full.size, Slices * ((full.size + Cut - 1) / Cut)))
    inputBytes = b; stopChunks = chunks
    slices = new File(dir, "slices"); pages = new File(dir, "pages")
  }

  private def updates(page: File): DataFrame =
    Transform.stopEventUpdates(StopEvents.fromFiles(c.spark, page.getPath))
      .select(TableChecks.TripCols.head, TableChecks.TripCols.tail: _*)

  private def page(dir: File, i: Int) = new File(dir, f"slice-$i%04d.html")

  /** Drain `dir`'s slices through the streaming ETL into `tables`; returns
    * the counters. */
  private def stream(dir: File, tables: File) = {
    val t = tables.getPath
    val done = c.progress.terminated
    val r = measure(c.span("stream.run")(StreamEtl.run(c.spark, dir.getPath,
      s"$t/breadcrumb", s"$t/trip", s"$t/checkpoint", maxFilesPerTrigger = 1)))._1
    c.progress.awaitTerminated(done + 1)
    r
  }

  /** Bootstrap the Trip snapshot from the streamed Trip table, then upsert
    * each slice's stop events in order; returns each upsert's wall ms. In
    * the timed region the host speed probe runs twice after each upsert. */
  private def upserts(tables: File, pageDir: File, n: Int, timed: Boolean): Seq[Double] = {
    val t = tables.getPath
    val boot = c.spark.read.parquet(s"$t/trip")
      .select(TableChecks.TripCols.head, TableChecks.TripCols.tail: _*)
    measure(c.span("layout.bootstrap")(
      SnapshotSink.mergeOnce(boot, 0, s"$t/trip_snapshot", Seq("trip_id"))))
    (0 until n).map { i =>
      val u = updates(page(pageDir, i))
      val ms = measure(c.span("layout.merge_once")(
        SnapshotSink.mergeOnce(u, i + 1L, s"$t/trip_snapshot", Seq("trip_id"))))._2
      if (timed) Speed.spark(2)
      ms
    }
  }

  /** Both phases over the staged slices into empty tables under `out`. */
  private def round(slices: File, pages: File, n: Int, out: File, timed: Boolean): Round = {
    c.progress.clear()
    val cnt = stream(slices, out)
    val batches = c.progress.batches.toSeq
    if (timed) Speed.spark(2)
    Round(out, (cnt.consumed, cnt.inserted, cnt.skipped), batches,
      upserts(out, pages, n, timed))
  }

  def setup(inputs: File): Unit = {
    generate(inputs)
    // warm-up: both phases on one slice of another day, as large as a
    // timed slice
    val warm = Gen.day(c.o.seed + 1, date, math.max(1000, rows / Cut), 168500000)
    val wdir = new File(inputs, "warm")
    stage(warm, 1, 1, wdir)
    round(new File(wdir, "slices"), new File(wdir, "pages"), 1, new File(wdir, "out"), timed = false)
    resetMeasures()
  }

  def run(): Unit = {
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var last = 0.0
    try {
      while (rounds.isEmpty || elapsed + last <= c.o.seconds) {
        val t0 = elapsed
        rounds += round(slices, pages, Slices, c.dir(s"out/round-${rounds.size}"),
          timed = true)
        last = elapsed - t0
      }
    } catch { case e: Exception => errors += s"trickle aborted: $e" }
    for (r <- rounds) System.err.println("[perfbench] round batches=" +
      r.batches.map(_.durations.getOrElse("triggerExecution", 0L)).mkString(",") +
      " commits=" + r.commitMs.map(_.round).mkString(","))
    for (r <- rounds) opsMs ++= r.batches
      .map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
      .zip(r.commitMs).map { case (b, m) => b + m }
  }

  private def first = rounds.head

  def corrupt(): Unit = TableChecks.duplicateAFile(first.tab("trip"))

  /** Trip snapshot after every slice's upserts: last event per trip wins
    * and replaces the whole row. */
  private def expectedSnapshot: Map[Int, Gen.TripRow] =
    stopChunks.flatten.foldLeft(Gen.loadedTrips(day)) { (m, s) =>
      m.updated(s.trip, Gen.decoded(s)) }

  /** Each round's tables, against the generator's answers. */
  private def roundFailures(r: Round): Seq[String] =
    TableChecks.ingest(c, day, r.counters, r.tab("breadcrumb"), r.tab("trip")) ++
      TableChecks.tripDiff("streamed trip",
        TableChecks.tripRows(c.spark.read.parquet(r.tab("trip"))), Gen.loadedTrips(day)) ++
      Option.when(r.batches.size != Slices)(
        s"${r.batches.size} micro-batches for $Slices slices") ++
      TableChecks.tripDiff("trip snapshot", TableChecks.tripRows(
        graft.Tables.snapshot(c.spark, r.tab("trip_snapshot"))), expectedSnapshot)

  def check(): Checks = {
    val mix = Gen.mixFailures(full)
    val perRound = rounds.toSeq.map(r => roundFailures(r).map(f => s"${r.out.getName}: $f"))
    // a round's tables are the result of every slice, so a wrong table
    // fails them all
    val failedRounds = if (mix.nonEmpty || errors.nonEmpty) rounds.size
      else perRound.count(_.nonEmpty)
    Checks(Slices * math.max(1, rounds.size), Slices * math.max(failedRounds, errors.size),
      mix ++ errors ++ perRound.flatten)
  }

  def storedBytesPerInputByte: Double = if (rounds.isEmpty) 0.0 else
    (Util.bytes(first.out) - Util.bytes(new File(first.tab("checkpoint")))).toDouble /
      inputBytes

  override def probe(): Unit = c.span("probe.stop_events") {
    stopEventRows = StopEvents.fromFiles(c.spark, pages.getPath).count()
  }
  private var stopEventRows = 0L

  def layers(t: Tracer): Map[String, Double] = {
    val st = t.timed("stream.run")
    val batches = rounds.flatMap(_.batches)
    val tripRows = rounds.map(r => t.scansIn(st, r.tab("trip")).map(_.rows).sum).sum
    def dur(k: String) = Util.mean(batches.map(_.durations.getOrElse(k, 0L).toDouble))
    // first and last tenth of each round's upserts
    val tenth = math.max(1, Slices / 10)
    val early = rounds.flatMap(_.commitMs.take(tenth))
    val late = rounds.flatMap(_.commitMs.takeRight(tenth))
    val manifests = Util.files(new File(first.tab("trip_snapshot/_snapshots")))
      .filter(_.getName.endsWith(".manifest")).sortBy(_.getName)
    val manifest = manifests.lastOption
    val snapshotFiles = manifest.map(m => java.nio.file.Files.readAllLines(m.toPath)
      .toArray.count { case l: String => l.nonEmpty && !l.startsWith("#") }).getOrElse(0)
    Map(
      "stop_events.rows" -> stopEventRows.toDouble,
      "stop_events.parse_cpu_ms" ->
        t.stagesIn(t.named("probe.stop_events")).map(_.cpuNs).sum / 1e6,
      "stream.batches" -> batches.size.toDouble / rounds.size,
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.commit_offsets_ms" -> dur("commitOffsets"),
      "stream.query_planning_ms" -> dur("queryPlanning"),
      "stream.latest_offset_ms" -> dur("latestOffset"),
      // foreachBatch hands the batch over as an RDD, so its file scans are
      // not plan nodes: slice rows read = task input records minus the
      // Trip rows the anti-join scanned
      "stream.input_reads_per_row" ->
        (t.stagesIn(st).map(_.inRecords).sum - tripRows).toDouble /
          (day.size.toDouble * rounds.size),
      "stream.trip_rows_scanned_per_batch" ->
        tripRows.toDouble / math.max(1, batches.size),
      "layout.merge_once_ms" -> Util.mean(rounds.flatMap(_.commitMs)),
      "layout.commit_ms_late_over_early" -> Util.mean(late) / Util.mean(early),
      "layout.manifest_bytes" -> manifest.map(_.length.toDouble).getOrElse(0.0),
      "layout.files_total" -> snapshotFiles.toDouble,
      "io.output_files" -> Util.parquetFiles(first.out).toDouble / Slices)
  }
}
