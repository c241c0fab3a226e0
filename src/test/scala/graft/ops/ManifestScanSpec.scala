package graft.ops

import graft.{SparkJobs, SparkSpec}

/** A snapshot scan is built from the files its manifest names. Handed as
  * paths, Spark would list them again, and past
  * `parallelPartitionDiscovery.threshold` (32) paths it lists them in a
  * "Listing leaf files and directories" Spark job. A 36-file table reaches
  * that threshold in a plain read and in a merge whose probe reads every
  * file; neither may start a listing job. */
class ManifestScanSpec extends SparkSpec {
  import spark.implicits._

  private def listingJobs(body: => Unit): Seq[SparkJobs.Job] =
    SparkJobs.jobsOf(spark)(body).filter(_.label.startsWith("Listing leaf files"))

  /** A table of `k` = 0 until 360 hashed over 36 files. */
  private def table36(name: String): String = {
    val dir = tmpDir(name) + "/t"
    val v = Layout.snapshotAppend(
      (0 until 360).map(k => (k, s"v$k")).toDF("k", "v").repartition(36, $"k"), dir)
    assert(Layout.snapshotScanInputs(spark, dir, v)._1.size === 36)
    dir
  }

  test("snapshotRead of a 36-file table starts no listing job") {
    val dir = table36("scan-read")
    var n = 0L
    val listing = listingJobs { n = Layout.snapshotRead(spark, dir).count() }
    assert(n === 360)
    assert(listing.isEmpty, SparkJobs.labels(listing))
  }

  test("snapshotMergeInto probing all 36 files starts no listing job") {
    val dir = table36("scan-merge")
    // one key per file: the probe reads every file
    val hit = Layout.snapshotRead(spark, dir)
      .withColumn("f", org.apache.spark.sql.functions.input_file_name())
      .groupBy("f").agg(org.apache.spark.sql.functions.min("k").as("k"))
      .select("k").as[Int].collect().toSeq
    assert(hit.size === 36)
    val listing = listingJobs {
      Layout.snapshotMergeInto(spark, dir, hit.map(k => (k, "x")).toDF("k", "v"),
        Seq("k"))
    }
    assert(listing.isEmpty, SparkJobs.labels(listing))
    val after = Layout.snapshotRead(spark, dir).as[(Int, String)].collect().toMap
    assert(after.size === 360)
    assert(hit.forall(after(_) == "x"))
  }
}
