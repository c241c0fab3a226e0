package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.{SparkJobs, SparkSpec}
import graft.SparkJobs.Job

/** Job-count pins for the two calls one streamed slice runs: a
  * `StreamEtl.run` micro-batch and a `SnapshotSink.mergeOnce` upsert.
  * Their fixed cost is mostly Spark jobs, each a scheduling round trip,
  * so the bounds are the counts measured once the counters came from
  * observed metrics (9 jobs before) and a small batch's or change set's
  * rows and small candidate files stayed on the driver. A micro-batch
  * runs the cache-building collect and the Trip probe, the driver
  * writing the fresh trips and the breadcrumbs (5 jobs before), also
  * when it commits them exactly-once by a rename (3 before); one past
  * the driver's row bound keeps the Spark insert and append. An upsert
  * runs one analysis job and one probe collect, the driver writing the
  * rewrite and both change records (15, 10, then 5 jobs before); a
  * change that adds a job fails here first. Composite keys and tombstones take the same path; candidate
  * files past the driver's byte bound add one job, the Spark write of
  * the rewrite, while the driver still writes the change records.
  * Parquet schema-inference jobs (`parquet at …`, a one-task footer
  * read) must not come back at all. */
class JobCountSpec extends SparkSpec {
  import spark.implicits._

  private def assertBound(what: String, jobs: Seq[Job], bound: Int): Unit = {
    val labels = SparkJobs.labels(jobs)
    assert(jobs.size <= bound, s"$what ran ${jobs.size} jobs:$labels")
    assert(!jobs.exists(_.inference), s"$what ran a parquet schema-inference job:$labels")
  }

  private def crumb(trip: Int, act: Int): String =
    s"""{"EVENT_NO_TRIP": "$trip", "OPD_DATE": "05-OCT-20", "ACT_TIME": "$act", "VEHICLE_ID": "4008", "GPS_LATITUDE": "45.52", "GPS_LONGITUDE": "-122.68", "DIRECTION": "117", "VELOCITY": "25"}"""

  test("one StreamEtl.run micro-batch: at most 2 jobs, no schema inference") {
    val dir = tmpDir("jobs-etl")
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    def put(name: String, rows: Seq[String]) = java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/$name"), rows.mkString("\n"))
    // the first run creates the Trip table, so the measured batch pays
    // the probe of existing trips
    put("b1.json", Seq(crumb(1, 3600), crumb(2, 100)))
    StreamEtl.run(spark, in, s"$dir/bc", s"$dir/trip", s"$dir/ckpt")
    put("b2.json", Seq(crumb(2, 200), crumb(3, 300), crumb(3, 305)))
    val jobs = SparkJobs.jobsOf(spark) {
      val c = StreamEtl.run(spark, in, s"$dir/bc", s"$dir/trip", s"$dir/ckpt")
      assert(c === StreamEtl.Counters(3, 3, 0))
    }
    assertBound("one micro-batch", jobs, 2)
    assert(jobs.map(_.label) === Seq("graft:ingest:collect", "graft:ingest:probe"),
      SparkJobs.labels(jobs))
  }

  test("one runExactlyOnce micro-batch: at most 2 jobs, no write job") {
    val dir = tmpDir("jobs-etl-once")
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    def put(name: String, rows: Seq[String]) = java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/$name"), rows.mkString("\n"))
    put("b1.json", Seq(crumb(1, 3600), crumb(2, 100)))
    StreamEtl.runExactlyOnce(spark, in, s"$dir/bc", s"$dir/trip", s"$dir/ckpt")
    put("b2.json", Seq(crumb(2, 200), crumb(3, 300), crumb(3, 305)))
    val jobs = SparkJobs.jobsOf(spark) {
      val c = StreamEtl.runExactlyOnce(spark, in, s"$dir/bc", s"$dir/trip", s"$dir/ckpt")
      assert(c === StreamEtl.Counters(3, 3, 0))
    }
    assertBound("one exactly-once micro-batch", jobs, 2)
    assert(jobs.map(_.label) === Seq("graft:ingest:collect", "graft:ingest:probe"),
      SparkJobs.labels(jobs))
  }

  test("a micro-batch past the driver's row bound: at most 5 jobs, no schema inference") {
    val dir = tmpDir("jobs-etl-big")
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    def put(name: String, rows: Seq[String]) = java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/$name"), rows.mkString("\n"))
    put("b1.json", Seq(crumb(1, 3600), crumb(2, 100)))
    StreamEtl.run(spark, in, s"$dir/bc", s"$dir/trip", s"$dir/ckpt")
    val n = graft.ctran.Load.DriverIngestMaxRows + 1
    put("b2.json", (0 until n).map(i => crumb(2 + i / 500, i % 80000)))
    val jobs = SparkJobs.jobsOf(spark) {
      val c = StreamEtl.run(spark, in, s"$dir/bc", s"$dir/trip", s"$dir/ckpt")
      assert(c === StreamEtl.Counters(n, n, 0))
    }
    assertBound("one micro-batch past the bound", jobs, 5)
    assert(jobs.exists(_.label == "graft:ingest:trip-write") &&
      jobs.exists(_.label == "graft:ingest:bc-write"), SparkJobs.labels(jobs))
    assert(spark.read.parquet(s"$dir/trip").count() === 2L + (n - 1) / 500)
  }

  /** The jobs of one `mergeOnce` upsert of `ups` into a table bootstrapped
    * from `rows`. */
  private def upsertJobs(rows: DataFrame, ups: DataFrame, keyCols: Seq[String],
      deleteCol: Option[String] = None): Seq[Job] = {
    val dir = tmpDir("jobs-merge") + "/t"
    assert(SnapshotSink.mergeOnce(rows, 0L, dir, keyCols, deleteCol = deleteCol))
    SparkJobs.jobsOf(spark)(
      assert(SnapshotSink.mergeOnce(ups, 1L, dir, keyCols, deleteCol = deleteCol)))
  }

  test("one SnapshotSink.mergeOnce upsert: at most 2 jobs, no schema inference") {
    val jobs = upsertJobs((1 to 40).map(i => (i, s"r$i", i % 3)).toDF("k", "v", "d"),
      Seq((5, "x", 1), (41, "y", 2)).toDF("k", "v", "d"), Seq("k"))
    assertBound("one upsert", jobs, 2)
  }

  test("one composite-key mergeOnce upsert: at most 2 jobs, no schema inference") {
    val jobs = upsertJobs(
      (1 to 40).map(i => (s"g${i % 4}", i, s"r$i")).toDF("g", "k", "v"),
      Seq(("g1", 5, "x"), ("g0", 5, "y"), ("g3", 41, "z")).toDF("g", "k", "v"),
      Seq("g", "k"))
    assertBound("one composite-key upsert", jobs, 2)
  }

  test("one mergeOnce upsert with tombstones: at most 2 jobs, no schema inference") {
    val jobs = upsertJobs((1 to 40).map(i => (i, s"r$i", false)).toDF("k", "v", "del"),
      Seq((5, "x", false), (7, null, true), (41, "y", false)).toDF("k", "v", "del"),
      Seq("k"), deleteCol = Some("del"))
    assertBound("one upsert with tombstones", jobs, 2)
  }

  test("an upsert whose candidate files pass 1 MiB: 3 jobs (analysis, probe, rewrite)") {
    import org.apache.spark.sql.functions.{col, sha2}
    // 60k incompressible 64-char values: well past the driver's 1 MiB
    // bound on candidate bytes, so the probe collects only the hit rows
    // and the rewrite is a Spark write job; the change records are
    // written from the driver
    val rows = spark.range(1, 60001).select(col("id").cast("int").as("k"),
      sha2(col("id").cast("string"), 256).as("v"))
    val dir = tmpDir("jobs-merge-big") + "/t"
    assert(SnapshotSink.mergeOnce(rows, 0L, dir, Seq("k")))
    val onDisk = org.apache.commons.io.FileUtils.sizeOfDirectory(
      new java.io.File(s"$dir/data"))
    assert(onDisk > (2L << 20), s"table holds only $onDisk bytes")
    // the probe's scan schemas, seen by a listener on the bus the job
    // record drains
    val probes = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(name: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (name == "collect") probes.add(qe.executedPlan.toString)
      def onFailure(name: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val jobs = try SparkJobs.jobsOf(spark)(assert(SnapshotSink.mergeOnce(
      Seq((5, "x"), (60001, "y")).toDF("k", "v"), 1L, dir, Seq("k"))))
    finally spark.listenerManager.unregister(listener)
    assertBound("one upsert into large files", jobs, 3)
    assert(jobs.size === 3, "large candidate files took the driver rewrite:" +
      SparkJobs.labels(jobs))
    // without pre-images the probe decodes the key column only, not `v`
    assert(probes.size === 1)
    assert(probes.peek().contains("ReadSchema: struct<k:int>"), probes.peek())
    val got = graft.Tables.snapshot(spark, dir)
    assert(got.count() === 60001L)
    assert(got.filter(col("k").isin(5, 60001)).as[(Int, String)].collect()
      .sorted.toSeq === Seq((5, "x"), (60001, "y")))
    assert(got.filter(col("k") === 6).as[(Int, String)].head()._2.length === 64)
  }
}
