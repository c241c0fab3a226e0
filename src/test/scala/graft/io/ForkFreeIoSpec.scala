package graft.io

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import graft.SparkSpec
import graft.ctran.Load
import graft.streaming.{SnapshotSink, StreamEtl}

/** The pipeline's local writes start no helper processes. Without
  * `libhadoop`, Hadoop's stock local filesystem runs `chmod` for every
  * file and directory it creates and `readlink` on every `FileContext`
  * rename (three per streaming micro-batch), a process each. JFR's
  * `jdk.ProcessStart` event names every process the JVM starts, so each
  * test records it in-process around one pipeline call and asserts that
  * none of the file-metadata helpers ran. */
class ForkFreeIoSpec extends SparkSpec {
  import spark.implicits._

  private val Helpers = Set("chmod", "readlink", "ls", "stat")

  /** The command lines of the processes `body` started. */
  private def processesOf(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val f = Files.createTempFile("processes", ".jfr")
      try {
        rec.dump(f)
        RecordingFile.readAllEvents(f).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command"))
      } finally Files.deleteIfExists(f)
    } finally rec.close()
  }

  private def assertNoHelpers(what: String)(body: => Unit): Unit = {
    val cmds = processesOf(body)
    val helpers = cmds.filter(c =>
      Helpers(c.trim.takeWhile(!_.isWhitespace).split('/').last))
    if (helpers.nonEmpty)
      fail(s"$what started ${helpers.size} helper processes, e.g.\n" +
        helpers.take(5).mkString("\n"))
  }

  private def crumb(trip: Int, act: Int): String =
    s"""{"EVENT_NO_TRIP": "$trip", "OPD_DATE": "05-OCT-20", "ACT_TIME": "$act", "VEHICLE_ID": "4008", "GPS_LATITUDE": "45.52", "GPS_LONGITUDE": "-122.68", "DIRECTION": "117", "VELOCITY": "25"}"""

  test("a 2-slice StreamEtl.run starts no chmod/readlink/ls/stat process") {
    val dir = tmpDir("fork-free-etl")
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    Files.writeString(Paths.get(s"$in/s1.json"),
      Seq(crumb(1, 3600), crumb(2, 100)).mkString("\n"))
    Files.writeString(Paths.get(s"$in/s2.json"),
      Seq(crumb(2, 200), crumb(3, 300)).mkString("\n"))
    assertNoHelpers("StreamEtl.run") {
      val c = StreamEtl.run(spark, in, s"$dir/bc", s"$dir/trip", s"$dir/ckpt",
        maxFilesPerTrigger = 1)
      assert(c === StreamEtl.Counters(4, 4, 0))
    }
  }

  test("a 2-slice StreamEtl.runExactlyOnce starts no chmod/readlink/ls/stat process") {
    val dir = tmpDir("fork-free-etl-once")
    val in = s"$dir/in"; new java.io.File(in).mkdirs()
    Files.writeString(Paths.get(s"$in/s1.json"),
      Seq(crumb(1, 3600), crumb(2, 100)).mkString("\n"))
    Files.writeString(Paths.get(s"$in/s2.json"),
      Seq(crumb(2, 200), crumb(3, 300)).mkString("\n"))
    // each slice stages its breadcrumbs in new directories and commits
    // them by a directory rename
    assertNoHelpers("StreamEtl.runExactlyOnce") {
      val c = StreamEtl.runExactlyOnce(spark, in, s"$dir/bc", s"$dir/trip",
        s"$dir/ckpt", maxFilesPerTrigger = 1)
      assert(c === StreamEtl.Counters(4, 4, 0))
    }
    assert(new java.io.File(s"$dir/bc").list().toSeq.sorted ===
      Seq("ingest_batch=0", "ingest_batch=1"))
  }

  test("SnapshotSink.mergeOnce into a new table, then an upsert, starts no chmod/readlink/ls/stat process") {
    val dir = tmpDir("fork-free-merge") + "/t"
    assertNoHelpers("SnapshotSink.mergeOnce") {
      assert(SnapshotSink.mergeOnce((1 to 40).map(i => (i, s"r$i")).toDF("k", "v"),
        0L, dir, Seq("k")))
      assert(SnapshotSink.mergeOnce(
        Seq((5, "x"), (41, "y")).toDF("k", "v"), 1L, dir, Seq("k")))
    }
  }

  test("a Load.loadFile starts no chmod/readlink/ls/stat process") {
    val dir = tmpDir("fork-free-load")
    val json = s"$dir/crumbs.json"
    Files.writeString(Paths.get(json),
      Seq(crumb(1, 3600), crumb(1, 3605), crumb(2, 7200)).mkString("[\n", ",\n", "\n]"))
    assertNoHelpers("Load.loadFile") {
      assert(Load.loadFile(spark, json, s"$dir/bc", s"$dir/trip") === ((3L, 3L, 0L)))
    }
  }
}
