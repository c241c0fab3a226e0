package graft.streaming

import graft.SparkSpec
import graft.ops.Layout

/** Library calls leave no cached data behind: a merge refused for its
  * change set, and a stream whose write throws, release every frame they
  * persisted. */
class CacheReleaseSpec extends SparkSpec {
  import spark.implicits._

  private def assertReleases(body: => Unit): Unit = {
    def cached = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = cached
    body
    assert(cached === before)
  }

  private def table(name: String): String = {
    val dir = tmpDir(name) + "/t"
    Layout.snapshotAppend((1 to 10).map(i => (i, s"a$i")).toDF("k", "s"), dir)
    dir
  }

  private def refused(dir: String, updates: org.apache.spark.sql.DataFrame,
      deletes: Option[org.apache.spark.sql.DataFrame] = None): String =
    intercept[IllegalArgumentException](Layout.snapshotMergeInto(spark, dir,
      updates, Seq("k"), deletes = deletes)).getMessage

  test("a merge refused for a duplicate key releases its cache") {
    val dir = table("release-dup")
    assertReleases(assert(refused(dir,
      Seq((1, "x"), (1, "y")).toDF("k", "s")).contains("duplicate key")))
  }

  test("a merge refused for a null key releases its cache") {
    val dir = table("release-null")
    assertReleases(assert(refused(dir,
      Seq((Some(1), "x"), (None, "y")).toDF("k", "s")).contains("NULL")))
  }

  test("a merge refused for an updates∩deletes overlap releases its cache") {
    val dir = table("release-both")
    assertReleases(assert(refused(dir, Seq((1, "x"), (2, "y")).toDF("k", "s"),
      Some(Seq(2, 3).toDF("k"))).contains("BOTH")))
  }

  test("a stream whose breadcrumb write throws releases the validated batch") {
    val dir = tmpDir("release-stream")
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b1.json"),
      """{"EVENT_NO_TRIP": "1", "OPD_DATE": "05-OCT-20", "ACT_TIME": "3600", "VEHICLE_ID": "4008", "GPS_LATITUDE": "45.52", "GPS_LONGITUDE": "-122.68", "DIRECTION": "117", "VELOCITY": "25"}""")
    // the breadcrumb table path is a plain file: its write fails after
    // the trip insert has read the batch into the cache
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/bc"), "")
    assertReleases(intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      StreamEtl.run(spark, in, s"$dir/bc", s"$dir/trip", s"$dir/ckpt")))
    assert(spark.read.parquet(s"$dir/trip").count() === 1)
  }
}
