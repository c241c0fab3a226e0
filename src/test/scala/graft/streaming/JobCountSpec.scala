package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** Job-count pins for the two calls one streamed slice runs: a
  * `StreamEtl.run` micro-batch and a `SnapshotSink.mergeOnce` upsert.
  * Their fixed cost is mostly Spark jobs, each a scheduling round trip,
  * so the bounds are the counts measured once the counters came from
  * observed metrics and the change set was analysed in one job (9 and 15
  * jobs before); a change that adds a job fails here first. Parquet
  * schema-inference jobs (`parquet at …`, a one-task footer read) must
  * not come back at all. */
class JobCountSpec extends SparkSpec {
  import spark.implicits._

  /** One Spark job: its description (else its call site) and whether it
    * is parquet schema inference — a bare `parallelize` → `mapPartitions`
    * footer read, with no SQL operator in its lineage. */
  private final case class Job(label: String, inference: Boolean)

  /** The jobs started while `body` ran. */
  private def jobsOf(body: => Unit): Seq[Job] = {
    val seen = new ConcurrentLinkedQueue[Job]
    val fence = s"job-count-fence-${java.util.UUID.randomUUID()}"
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val scopes = e.stageInfos.flatMap(_.rddInfos.map(_.scope.map(_.name)))
        seen.add(Job(
          Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description")))
            .getOrElse(e.stageInfos.maxBy(_.stageId).name),
          scopes.nonEmpty &&
            scopes.forall(s => s.contains("parallelize") || s.contains("mapPartitions"))))
        ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      // the bus delivers in order: once the fence job is seen, so is
      // every job `body` started
      sc.setJobDescription(fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_.label == fence) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.asScala.exists(_.label == fence), "listener bus did not drain")
      seen.asScala.toSeq.filterNot(_.label == fence)
    } finally sc.removeSparkListener(l)
  }

  private def assertBound(what: String, jobs: Seq[Job], bound: Int): Unit = {
    val labels = jobs.map(_.label.replace('\n', ' ')).mkString("\n  ", "\n  ", "")
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
    val jobs = jobsOf {
      val c = StreamEtl.run(spark, in, s"$dir/bc", s"$dir/trip", s"$dir/ckpt")
      assert(c === StreamEtl.Counters(3, 3, 0))
    }
    assertBound("one micro-batch", jobs, 5)
  }

  test("one SnapshotSink.mergeOnce upsert: at most 10 jobs, no schema inference") {
    val dir = tmpDir("jobs-merge") + "/t"
    val rows = (1 to 40).map(i => (i, s"r$i", i % 3))
    assert(SnapshotSink.mergeOnce(rows.toDF("k", "v", "d"), 0L, dir, Seq("k")))
    val ups = Seq((5, "x", 1), (41, "y", 2)).toDF("k", "v", "d")
    val jobs = jobsOf(assert(SnapshotSink.mergeOnce(ups, 1L, dir, Seq("k"))))
    assertBound("one upsert", jobs, 10)
  }
}
