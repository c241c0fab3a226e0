package graft.streaming

import graft.SparkSpec

/** Streaming ETL: drain-and-stop contract, conservation counters, and
  * effectively-once Trip inserts under replay (new checkpoint, same
  * data — the reference's at-least-once failure mode, fixed by the
  * anti-join). */
class StreamEtlSpec extends SparkSpec {
  import spark.implicits._

  test("dedupIdsWithinWatermark: a re-stamped retransmit is dropped, late state evicted") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[(Long, Timestamp)]
    val q = StreamEtl.dedupIdsWithinWatermark(
        input.toDF().toDF("event_id", "tstamp"), Seq("event_id"),
        lateness = "10 minutes")
      .writeStream.format("memory").queryName("dedup_ids")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // the retransmit carries a NEW event time — (id, tstamp) dedup
      // would pass it through; id-keyed within-watermark dedup must not
      input.addData((1L, ts("2024-01-01 10:03:00")),
        (2L, ts("2024-01-01 10:04:00")))
      q.processAllAvailable()
      val got = spark.table("dedup_ids")
        .select($"event_id").as[Long].collect().sorted
      assert(got.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("enrichAsOf in foreachBatch: batches stamped with the latest status row") {
    import java.sql.Timestamp
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    // static status series: vehicle 7's stop events through the day
    val status = Seq(
      (7L, ts("2024-01-01 08:00:00"), "stop_A"),
      (7L, ts("2024-01-01 09:00:00"), "stop_B"))
      .toDF("vehicle_id", "sts", "stop")
    val input = MemoryStream[(Long, Timestamp)]
    val collected =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Timestamp, Option[String])]
    val q = input.toDF().toDF("vehicle_id", "tstamp").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val out = StreamEtl.enrichAsOf(batch, status,
          Seq("vehicle_id"), "tstamp", "sts",
          toleranceUs = Some(2L * 3600 * 1000000)) // 2 h staleness bound
        collected.synchronized {
          collected ++= out.collect().map(r =>
            (r.getAs[Long]("vehicle_id"), r.getAs[Timestamp]("tstamp"),
              Option(r.getAs[String]("stop"))))
        }
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData((7L, ts("2024-01-01 08:30:00"))) // after A, before B
      q.processAllAvailable()
      input.addData(
        (7L, ts("2024-01-01 09:30:00")),  // after B
        (7L, ts("2024-01-01 12:00:00")),  // B is 3 h stale > 2 h bound
        (8L, ts("2024-01-01 09:30:00")))  // unknown vehicle
      q.processAllAvailable()
      val got = collected.synchronized { collected.toSet }
      assert(got === Set(
        (7L, ts("2024-01-01 08:30:00"), Some("stop_A")),
        (7L, ts("2024-01-01 09:30:00"), Some("stop_B")),
        (7L, ts("2024-01-01 12:00:00"), None),
        (8L, ts("2024-01-01 09:30:00"), None)))
    } finally q.stop()
  }

  private def writeBatch(dir: String, name: String, rows: Seq[String]): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/$name"), rows.mkString("\n"))

  private def crumb(trip: Int, act: Int, vel: String = "25"): String =
    s"""{"EVENT_NO_TRIP": "$trip", "OPD_DATE": "05-OCT-20", "ACT_TIME": "$act", "VEHICLE_ID": "4008", "GPS_LATITUDE": "45.52", "GPS_LONGITUDE": "-122.68", "DIRECTION": "117", "VELOCITY": "$vel"}"""

  test("AvailableNow drains the backlog, validates, and stops") {
    val dir = tmpDir("stream")
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    writeBatch(in, "b1.json", Seq(crumb(1, 3600), crumb(1, 3605), crumb(2, 100)))
    writeBatch(in, "b2.json", Seq(crumb(3, 200), crumb(3, 300, vel = "999")))
    val c = StreamEtl.run(spark, in, s"$dir/bc", s"$dir/trip", s"$dir/ckpt")
    assert(c.consumed === 5)
    assert(c.inserted === 4)   // the 999-velocity row fails F4
    assert(c.skipped === 1)
    assert(spark.read.parquet(s"$dir/bc").count() === 4)
    assert(spark.read.parquet(s"$dir/trip").count() === 3)
  }

  test("resume from checkpoint: already-committed files are not reprocessed") {
    val dir = tmpDir("stream2")
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    writeBatch(in, "b1.json", Seq(crumb(1, 3600)))
    val c1 = StreamEtl.run(spark, in, s"$dir/bc", s"$dir/trip", s"$dir/ckpt")
    assert(c1.consumed === 1)
    writeBatch(in, "b2.json", Seq(crumb(2, 3700)))
    val c2 = StreamEtl.run(spark, in, s"$dir/bc", s"$dir/trip", s"$dir/ckpt")
    assert(c2.consumed === 1) // only the new file
    assert(spark.read.parquet(s"$dir/bc").count() === 2)
  }

  test("runExactlyOnce: a replayed micro-batch cannot duplicate breadcrumbs") {
    val dir = tmpDir("stream4")
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    writeBatch(in, "b1.json", Seq(crumb(1, 3600), crumb(1, 3605)))
    val c = StreamEtl.runExactlyOnce(spark, in, s"$dir/bc", s"$dir/trip", s"$dir/ckpt")
    assert(c.consumed === 2 && c.inserted === 2)
    val bc = spark.read.parquet(s"$dir/bc")
    assert(bc.count() === 2)
    // the committed layout exposes the producing batch id
    assert(bc.columns.contains("ingest_batch"))
    // foreachBatch replaying batch 0 after a mid-write failure: the
    // batchId-keyed commit skips, leaving both tables unchanged
    def rows(t: String) = spark.read.parquet(s"$dir/$t").collect().map(_.toString).sorted.toSeq
    val (bcBefore, tripBefore) = (rows("bc"), rows("trip"))
    val replay = spark.read.schema(graft.ctran.Schemas.rawBreadcrumb).json(s"$in/b1.json")
    assert(graft.ctran.Load.ingest(spark, replay, s"$dir/trip", s"$dir/bc", Some(0L)) ===
      ((2L, 0L, 2L)))
    assert(rows("bc") === bcBefore && rows("trip") === tripBefore)
  }

  /** Ingests the JSON lines `crumbs` into `<dir>/bc` and `<dir>/trip` as
    * the exactly-once batch `id`. */
  private def ingestOnce(dir: String, id: Long, crumbs: String*): (Long, Long, Long) = {
    writeBatch(dir, s"b$id.json", crumbs)
    graft.ctran.Load.ingest(spark,
      spark.read.schema(graft.ctran.Schemas.rawBreadcrumb).json(s"$dir/b$id.json"),
      s"$dir/trip", s"$dir/bc", Some(id))
  }

  test("exactly-once ingest: a replayed batch id writes nothing twice") {
    val dir = tmpDir("exactly-once")
    val batch = Seq(crumb(1, 3600), crumb(1, 3605), crumb(2, 100))
    assert(ingestOnce(dir, 7L, batch: _*) === ((3L, 3L, 0L)))
    assert(ingestOnce(dir, 7L, batch: _*) === ((3L, 0L, 3L))) // replay
    assert(ingestOnce(dir, 8L, batch: _*) === ((3L, 3L, 0L)))
    val got = spark.read.parquet(s"$dir/bc")
    assert(got.count() === 6)
    // the committed layout IS a partition column, above opd_date
    assert(got.select("ingest_batch").distinct().as[Int].collect().sorted
      === Array(7, 8))
    assert(new java.io.File(s"$dir/bc/ingest_batch=7").list().toSeq
      === Seq("opd_date=2020-10-05"))
    assert(got.schema("opd_date").dataType === org.apache.spark.sql.types.DateType)
  }

  test("exactly-once ingest: a half-written staging dir is hidden, retried") {
    val dir = tmpDir("exactly-once-crash")
    ingestOnce(dir, 1L, crumb(1, 3600), crumb(1, 3605))
    // a crash mid-write of batch 2: its staging directory holds part of
    // the batch, and nothing is committed
    spark.read.parquet(s"$dir/bc").drop("ingest_batch", "opd_date").limit(1)
      .write.parquet(s"$dir/bc/.staging-ingest_batch-2/opd_date=2020-10-05")
    assert(spark.read.parquet(s"$dir/bc").count() === 2) // hidden from readers
    // the retry overwrites the junk and commits the whole batch
    assert(ingestOnce(dir, 2L, crumb(2, 100), crumb(3, 200), crumb(3, 205)) ===
      ((3L, 3L, 0L)))
    assert(spark.read.parquet(s"$dir/bc").count() === 5)
    assert(spark.read.parquet(s"$dir/bc/ingest_batch=2").count() === 3)
    assert(!new java.io.File(s"$dir/bc/.staging-ingest_batch-2").exists())
  }

  test("runExactlyOnce: an in-stream replay counts the batch consumed, inserts 0") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val dir = tmpDir("stream5")
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    writeBatch(in, "b1.json", Seq(crumb(1, 3600), crumb(1, 3605), crumb(2, 100)))
    val ckpt = s"$dir/ckpt"
    def drain() = StreamEtl.runExactlyOnce(spark, in, s"$dir/bc", s"$dir/trip", ckpt)
    assert(drain() === StreamEtl.Counters(3, 3, 0))
    // the crash window: batch 0's sinks committed, its commit-log entry
    // did not — the restarted query replays batch 0 itself
    Seq("0", ".0.crc").foreach(f => new java.io.File(s"$ckpt/commits/$f").delete())
    // a counter that waited on a write the replay skips would hang here
    assert(Await.result(Future(drain()), 2.minutes) === StreamEtl.Counters(3, 0, 3))
    assert(spark.read.parquet(s"$dir/bc").count() === 3)
    assert(spark.read.parquet(s"$dir/trip").count() === 2)
  }

  test("an all-invalid micro-batch: consumed n, inserted 0; an empty one counts 0") {
    val dir = tmpDir("stream6")
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    def drain() = StreamEtl.run(spark, in, s"$dir/bc", s"$dir/trip", s"$dir/ckpt")
    writeBatch(in, "b1.json",
      Seq(crumb(1, 3600, vel = "999"), crumb(2, 100, vel = "999"), crumb(2, 105, vel = "-1")))
    assert(drain() === StreamEtl.Counters(3, 0, 3))
    writeBatch(in, "b2.json", Nil)
    assert(drain() === StreamEtl.Counters(0, 0, 0))
  }

  test("a micro-batch whose trips all exist: breadcrumbs insert, no trip is added") {
    val dir = tmpDir("stream7")
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    writeBatch(in, "b1.json", Seq(crumb(1, 3600), crumb(2, 100)))
    StreamEtl.run(spark, in, s"$dir/bc", s"$dir/trip", s"$dir/ckpt")
    writeBatch(in, "b2.json", Seq(crumb(1, 3700), crumb(2, 200), crumb(2, 205)))
    val c = StreamEtl.run(spark, in, s"$dir/bc", s"$dir/trip", s"$dir/ckpt")
    assert(c === StreamEtl.Counters(3, 3, 0))
    assert(spark.read.parquet(s"$dir/trip").count() === 2)
    assert(spark.read.parquet(s"$dir/bc").count() === 5)
  }

  test("replay with a fresh checkpoint: trips stay unique (anti-join idempotency)") {
    val dir = tmpDir("stream3")
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    writeBatch(in, "b1.json", Seq(crumb(1, 3600), crumb(2, 100)))
    StreamEtl.run(spark, in, s"$dir/bc", s"$dir/trip", s"$dir/ckpt1")
    StreamEtl.run(spark, in, s"$dir/bc", s"$dir/trip", s"$dir/ckpt2")
    val trips = spark.read.parquet(s"$dir/trip")
    assert(trips.count() === 2)
    // breadcrumbs replayed (at-least-once fact parity with the reference)
    assert(spark.read.parquet(s"$dir/bc").count() === 4)
  }
}
