package graft.ctran

import java.io.{File, IOException}
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkSpec
import graft.streaming.StreamEtl

/** Faults [[FaultyLocalFileSystem]] injects: the close of a file created
  * at a path containing `close`, and a rename to a path containing
  * `rename`, throw. */
object Faults {
  @volatile var close: Option[String] = None
  @volatile var rename: Option[String] = None
}

/** The pipeline's local file system with [[Faults]] injected. */
class FaultyLocalFileSystem extends graft.io.NioLocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
    if (!Faults.close.exists(f.toString.contains)) out
    else new FSDataOutputStream(out, null) {
      override def close(): Unit = {
        super.close()
        throw new IOException(s"injected: closing $f")
      }
    }
  }

  override def rename(src: Path, dst: Path): Boolean =
    if (Faults.rename.exists(dst.toString.contains))
      throw new IOException(s"injected: renaming $src to $dst")
    else super.rename(src, dst)
}

/** A driver write of a small micro-batch that throws, on either table,
  * leaves no visible file and no `_`-staged file behind, an exactly-once
  * batch whose commit rename throws leaves no breadcrumb visible, and
  * rerunning the stream from its checkpoint converges: every trip once,
  * every breadcrumb once. */
class DriverIngestFailureSpec extends SparkSpec {

  private def crumb(trip: Int, act: Int): String =
    s"""{"EVENT_NO_TRIP": "$trip", "OPD_DATE": "05-OCT-20", "ACT_TIME": "$act", "VEHICLE_ID": "4008", "GPS_LATITUDE": "45.52", "GPS_LONGITUDE": "-122.68", "DIRECTION": "117", "VELOCITY": "25"}"""

  private def put(dir: String, name: String, rows: String*): Unit =
    Files.writeString(Paths.get(s"$dir/in/$name"), rows.mkString("\n"))

  /** Every file under `d`, recursively, by name. */
  private def files(d: String): Seq[String] = {
    def walk(f: File): Seq[File] =
      Option(f.listFiles()).toSeq.flatten.flatMap(c => if (c.isDirectory) walk(c) else Seq(c))
    walk(new File(d)).map(_.getName)
  }

  private def staged(d: String): Seq[String] =
    files(d).filter(n => n.startsWith("_part") || n.startsWith("._part"))

  private def visible(d: String): Seq[String] =
    files(d).filter(n => !n.startsWith("_") && !n.startsWith("."))

  /** `body` with the session's `file:` scheme served by
    * [[FaultyLocalFileSystem]]; the scheme's previous conf and no fault
    * are restored after it. */
  private def withFaults(body: => Unit): Unit = {
    graft.io.LocalFs.ensureInstalled(spark)
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("fs.file.impl", classOf[FaultyLocalFileSystem].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try body
    finally {
      Faults.close = None; Faults.rename = None
      before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** `run`'s failure, asserted to be the injected fault. */
  private def failed(run: => StreamEtl.Counters): Unit = {
    val e = intercept[StreamingQueryException](run)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected")), e)
  }

  private def run(dir: String): StreamEtl.Counters =
    StreamEtl.run(spark, s"$dir/in", s"$dir/bc", s"$dir/trip", s"$dir/ckpt")

  private def tripIds(dir: String): Seq[Int] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/trip").select("trip_id").as[Int].collect().toSeq.sorted
  }

  test("a Trip write that throws leaves no Trip file; a rerun converges") {
    val dir = tmpDir("ingest-fail-trip")
    new File(s"$dir/in").mkdirs()
    put(dir, "b1.json", crumb(1, 3600), crumb(1, 3605), crumb(2, 7200))
    withFaults {
      Faults.close = Some(s"$dir/trip/_part")
      failed(run(dir))
      assert(visible(s"$dir/trip").isEmpty && staged(s"$dir/trip").isEmpty,
        files(s"$dir/trip"))
      assert(files(s"$dir/bc").isEmpty)
      Faults.close = None
      assert(run(dir) === StreamEtl.Counters(3, 3, 0))
    }
    assert(tripIds(dir) === Seq(1, 2))
    assert(spark.read.parquet(s"$dir/bc").count() === 3L)
  }

  test("a breadcrumb rename that throws on its second partition leaves no breadcrumb file; a rerun converges") {
    val dir = tmpDir("ingest-fail-bc")
    new File(s"$dir/in").mkdirs()
    put(dir, "b1.json", crumb(1, 3600), crumb(2, 7200))
    assert(run(dir) === StreamEtl.Counters(2, 2, 0))
    val before = visible(s"$dir/bc").toSet
    // trip 2 again, and trip 3 across midnight: two opd_date partitions,
    // the second of which fails to rename into place
    put(dir, "b2.json", crumb(2, 7300), crumb(3, 86000), crumb(3, 86800))
    withFaults {
      Faults.rename = Some("opd_date=2020-10-06")
      failed(run(dir))
      assert(visible(s"$dir/bc").toSet === before)
      assert(staged(s"$dir/bc").isEmpty, files(s"$dir/bc"))
      // the Trip insert ran before the breadcrumb write
      assert(tripIds(dir) === Seq(1, 2, 3))
      Faults.rename = None
      assert(run(dir) === StreamEtl.Counters(3, 3, 0))
    }
    assert(tripIds(dir) === Seq(1, 2, 3))
    assert(spark.read.parquet(s"$dir/bc").count() === 5L)
    assert(staged(dir).isEmpty)
  }

  test("an exactly-once commit rename that throws shows no breadcrumb; a rerun converges") {
    val dir = tmpDir("ingest-fail-commit")
    new File(s"$dir/in").mkdirs()
    def once() = StreamEtl.runExactlyOnce(spark, s"$dir/in", s"$dir/bc", s"$dir/trip", s"$dir/ckpt")
    def crumbs() = spark.read.parquet(s"$dir/bc").collect().map(_.toString).toSeq.sorted
    put(dir, "b1.json", crumb(1, 3600), crumb(2, 7200))
    assert(once() === StreamEtl.Counters(2, 2, 0))
    val before = crumbs()
    put(dir, "b2.json", crumb(2, 7300), crumb(3, 86000), crumb(3, 86800))
    withFaults {
      Faults.rename = Some(s"$dir/bc/ingest_batch=1")
      failed(once())
      assert(crumbs() === before)
      assert(!new File(s"$dir/bc/ingest_batch=1").exists())
      Faults.rename = None
      assert(once() === StreamEtl.Counters(3, 3, 0))
    }
    assert(tripIds(dir) === Seq(1, 2, 3))
    val after = crumbs()
    assert(after.size === 5 && after.distinct.size === 5)
    assert(after.diff(before).size === 3)
    assert(new File(s"$dir/bc").list().toSeq.sorted === Seq("ingest_batch=0", "ingest_batch=1"))
  }
}
