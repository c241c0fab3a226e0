package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.{SparkJobs, SparkSpec}
import graft.SparkJobs.Job

/** Job-count pins for the two calls one streamed slice runs: a
  * `StreamEtl.run` micro-batch and a `SnapshotSink.mergeOnce` upsert.
  * Their fixed cost is mostly Spark jobs, each a scheduling round trip,
  * so the bounds are the counts measured once the counters came from
  * observed metrics (9 jobs before) and a small change set's keys stayed
  * on the driver: one analysis job, one probe collect and the three
  * writes (15, then 10 jobs before); a change that adds a job fails here
  * first. Composite keys and tombstones take the same path. Parquet
  * schema-inference jobs (`parquet at …`, a one-task footer read) must
  * not come back at all. */
class JobCountSpec extends SparkSpec {
  import spark.implicits._

  private def assertBound(what: String, jobs: Seq[Job], bound: Int): Unit = {
    val labels = SparkJobs.labels(jobs)
    assert(jobs.size <= bound, s"$what ran ${jobs.size} jobs:$labels")
    assert(!jobs.exists(_.inference), s"$what ran a parquet schema-inference job:$labels")
  }

  private def crumb(trip: Int, act: Int): String =
    s"""{"EVENT_NO_TRIP": "$trip", "OPD_DATE": "05-OCT-20", "ACT_TIME": "$act", "VEHICLE_ID": "4008", "GPS_LATITUDE": "45.52", "GPS_LONGITUDE": "-122.68", "DIRECTION": "117", "VELOCITY": "25"}"""

  test("one StreamEtl.run micro-batch: at most 5 jobs, no schema inference") {
    val dir = tmpDir("jobs-etl")
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    def put(name: String, rows: Seq[String]) = java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/$name"), rows.mkString("\n"))
    // the first run creates the Trip table, so the measured batch pays
    // the anti-join against existing trips
    put("b1.json", Seq(crumb(1, 3600), crumb(2, 100)))
    StreamEtl.run(spark, in, s"$dir/bc", s"$dir/trip", s"$dir/ckpt")
    put("b2.json", Seq(crumb(2, 200), crumb(3, 300), crumb(3, 305)))
    val jobs = SparkJobs.jobsOf(spark) {
      val c = StreamEtl.run(spark, in, s"$dir/bc", s"$dir/trip", s"$dir/ckpt")
      assert(c === StreamEtl.Counters(3, 3, 0))
    }
    assertBound("one micro-batch", jobs, 5)
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

  test("one SnapshotSink.mergeOnce upsert: at most 5 jobs, no schema inference") {
    val jobs = upsertJobs((1 to 40).map(i => (i, s"r$i", i % 3)).toDF("k", "v", "d"),
      Seq((5, "x", 1), (41, "y", 2)).toDF("k", "v", "d"), Seq("k"))
    assertBound("one upsert", jobs, 5)
  }

  test("one composite-key mergeOnce upsert: at most 5 jobs, no schema inference") {
    val jobs = upsertJobs(
      (1 to 40).map(i => (s"g${i % 4}", i, s"r$i")).toDF("g", "k", "v"),
      Seq(("g1", 5, "x"), ("g0", 5, "y"), ("g3", 41, "z")).toDF("g", "k", "v"),
      Seq("g", "k"))
    assertBound("one composite-key upsert", jobs, 5)
  }

  test("one mergeOnce upsert with tombstones: at most 5 jobs, no schema inference") {
    val jobs = upsertJobs((1 to 40).map(i => (i, s"r$i", false)).toDF("k", "v", "del"),
      Seq((5, "x", false), (7, null, true), (41, "y", false)).toDF("k", "v", "del"),
      Seq("k"), deleteCol = Some("del"))
    assertBound("one upsert with tombstones", jobs, 5)
  }
}
