package graft.ctran

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, Row}
import org.apache.spark.sql.functions.{col, to_date}
import org.apache.spark.sql.types.{DateType, IntegerType, NullType}

import graft.{SparkJobs, SparkSpec}

/** A small batch's driver path through `Load.ingest` against the Spark
  * path a batch past its bounds takes (a left-anti insert and a
  * partitioned append): the same Trip and breadcrumb rows in the same
  * partition directories, and data files whose footers are a Spark write
  * task's — schema and nullability, footer key-value metadata (Spark's
  * row schema included), codec — with `.crc` siblings. Each case runs
  * twice: as a plain append, and exactly-once (batch id i for the i-th
  * batch), where both paths put the breadcrumbs under
  * `ingest_batch=<i>/opd_date=<d>`. */
class DriverIngestSpec extends SparkSpec {

  private def crumb(trip: Int, date: String, act: Int, vehicle: Int = 4008,
      vel: String = "25"): String =
    s"""{"EVENT_NO_TRIP": "$trip", "OPD_DATE": "$date", "ACT_TIME": "$act", "VEHICLE_ID": "$vehicle", "GPS_LATITUDE": "45.52", "GPS_LONGITUDE": "-122.68", "DIRECTION": "117", "VELOCITY": "$vel"}"""

  /** The directory the null `opd_date` partition is written to, where an
    * exactly-once batch with no valid row commits an empty file. */
  private val NullDate = "opd_date=__HIVE_DEFAULT_PARTITION__"

  /** Ingests each batch in turn by the driver path into `<dir>/driver`
    * and, exactly-once, `<dir>/once/driver`, asserting each ingest ran at
    * most 2 jobs and no write job, and by the Spark path into
    * `<dir>/spark` and `<dir>/once/spark`, whose i-th batch appends its
    * breadcrumbs into `ingest_batch=<i>`, the directory the commit
    * renames; returns `dir`. */
  private def both(name: String, batches: Seq[String]*): String = {
    val dir = tmpDir(name)
    batches.zipWithIndex.foreach { case (rows, i) =>
      val f = s"$dir/in-$i.json"
      Files.writeString(Paths.get(f), rows.mkString("\n"))
      val raw = spark.read.schema(Schemas.rawBreadcrumb).json(f)
      val valid = Transform.enrich(raw).filter(Transform.isValid)
      Seq(("", None, ""), ("/once", Some(i.toLong), s"/ingest_batch=$i")).foreach {
        case (mode, batchId, batchDir) =>
          val jobs = SparkJobs.jobsOf(spark)(Load.ingest(spark, raw,
            s"$dir$mode/driver/trip", s"$dir$mode/driver/bc", batchId))
          assert(jobs.size <= 2 && jobs.forall(j => Set("graft:ingest:collect",
            "graft:ingest:probe")(j.label)), SparkJobs.labels(jobs))
          Load.insertTrips(spark, Transform.toTrips(valid), s"$dir$mode/spark/trip")
          Load.insertBreadcrumbs(Transform.toBreadcrumbs(valid)
            .withColumn("opd_date", to_date(col("tstamp"))), s"$dir$mode/spark/bc$batchDir")
      }
    }
    dir
  }

  private def parquetIn(d: String): Seq[File] =
    Option(new File(d).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).sortBy(_.getName)

  /** The directories under `bc` that hold a parquet file, relative to
    * it, with `/` between levels. */
  private def partitions(bc: String): Seq[String] = {
    def walk(f: File, rel: String): Seq[String] =
      Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory)
        .flatMap { d =>
          val p = rel + d.getName
          (if (parquetIn(d.getPath).nonEmpty) Seq(p) else Nil) ++ walk(d, p + "/")
        }
    walk(new File(bc), "").sorted
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def footer(f: File): ParquetMetadata = {
    val in = HadoopInputFile.fromPath(new Path(f.toURI),
      spark.sparkContext.hadoopConfiguration)
    val r = ParquetFileReader.open(in)
    try r.getFooter finally r.close()
  }

  /** `got` (driver-written) has the schema, footer key-value metadata
    * and codecs of a file among `written` (Spark-written) that, like it,
    * holds rows or holds none, and a `.crc` sibling. */
  private def assertSameFooter(got: File, written: Seq[File]): Unit = {
    assert(new File(got.getParentFile, s".${got.getName}.crc").isFile,
      s"no .crc sibling for $got")
    val g = footer(got)
    val want = written.find(f => footer(f).getBlocks.isEmpty == g.getBlocks.isEmpty)
      .getOrElse(fail(s"no Spark-written file like $got among $written"))
    assert(GraftPlanBridge.parquetSchemaOf(spark, got.getPath) ===
      GraftPlanBridge.parquetSchemaOf(spark, want.getPath))
    val w = footer(want)
    val kv = g.getFileMetaData.getKeyValueMetaData.asScala.toMap
    assert(kv === w.getFileMetaData.getKeyValueMetaData.asScala.toMap)
    assert(kv.contains("org.apache.spark.sql.parquet.row.metadata"))
    def codecs(m: ParquetMetadata) = m.getBlocks.asScala
      .flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
    assert(codecs(g) === codecs(w))
  }

  /** Both paths' tables hold the same rows in the same partition
    * directories (apart from the empty file of an exactly-once batch with
    * no valid row), the driver wrote no `_SUCCESS` marker, staged file or
    * staging directory, and its files' footers are a Spark write's. */
  private def assertEquivalent(dir: String): Unit = Seq(dir, s"$dir/once").foreach { m =>
    val (d, s) = (s"$m/driver", s"$m/spark")
    assert(rows(spark.read.parquet(s"$d/trip")) === rows(spark.read.parquet(s"$s/trip")))
    assert(rows(spark.read.parquet(s"$d/bc")) === rows(spark.read.parquet(s"$s/bc")))
    assert(partitions(s"$d/bc").filterNot(_.endsWith(NullDate)) === partitions(s"$s/bc"))
    partitions(s"$s/bc").foreach { p =>
      assert(rows(spark.read.parquet(s"$d/bc/$p")) === rows(spark.read.parquet(s"$s/bc/$p")), p)
      parquetIn(s"$d/bc/$p").foreach(assertSameFooter(_, parquetIn(s"$s/bc/$p")))
    }
    parquetIn(s"$d/trip").foreach(assertSameFooter(_, parquetIn(s"$s/trip")))
    val left = (new File(s"$d/trip") +: new File(s"$d/bc") +:
        partitions(s"$d/bc").map(p => new File(s"$d/bc/$p")))
      .flatMap(f => Option(f.listFiles()).toSeq.flatten).map(_.getName)
      .filter(n => n.startsWith("_") || n.startsWith("._") || n.startsWith(".staging"))
    assert(left.isEmpty, s"driver path left $left")
  }

  test("a trip's first crumb breaks tstamp ties by service_key") {
    // Fri 09-OCT-20 + 25 h and Sat 10-OCT-20 + 1 h are the same instant;
    // the Saturday crumb wins the tie ("Saturday" < "Weekday") although
    // it arrives second, with another vehicle
    val dir = both("ingest-ties", Seq(
      crumb(11, "09-OCT-20", 90000), crumb(11, "10-OCT-20", 3600, vehicle = 4009),
      crumb(11, "10-OCT-20", 3700), crumb(12, "10-OCT-20", 100)))
    assertEquivalent(dir)
    val t = spark.read.parquet(s"$dir/driver/trip").filter(col("trip_id") === 11).collect()
    assert(t.map(r => (r.getAs[String]("service_key"), r.getAs[Int]("vehicle_id"))).toSeq ===
      Seq(("Saturday", 4009)))
  }

  test("a trip across midnight appends to two opd_date partitions") {
    val dir = both("ingest-midnight", Seq(
      crumb(21, "05-OCT-20", 86000), crumb(21, "05-OCT-20", 86800),
      crumb(22, "05-OCT-20", 3600)))
    assertEquivalent(dir)
    assert(partitions(s"$dir/driver/bc") === Seq("opd_date=2020-10-05", "opd_date=2020-10-06"))
    assert(partitions(s"$dir/once/driver/bc") ===
      Seq("ingest_batch=0/opd_date=2020-10-05", "ingest_batch=0/opd_date=2020-10-06"))
    (partitions(s"$dir/driver/bc").map(s"$dir/driver/bc/" + _) ++
      partitions(s"$dir/once/driver/bc").map(s"$dir/once/driver/bc/" + _))
      .foreach(p => assert(parquetIn(p).size === 1, p))
  }

  test("a batch whose trips all exist writes no Trip file") {
    val dir = both("ingest-existing",
      Seq(crumb(31, "05-OCT-20", 3600), crumb(32, "05-OCT-20", 3700)),
      Seq(crumb(31, "05-OCT-20", 3605), crumb(32, "05-OCT-20", 3705)))
    assertEquivalent(dir)
    assert(parquetIn(s"$dir/driver/trip").size === 1)
    // the Spark path's second write is an empty file
    assert(parquetIn(s"$dir/spark/trip").size === 2)
    assert(spark.read.parquet(s"$dir/driver/bc").count() === 4L)
    assert(spark.read.parquet(s"$dir/once/driver/bc").count() === 4L)
  }

  test("an all-invalid first batch and an empty batch leave the tables as the Spark path does") {
    def readable(d: String) = Try(spark.read.parquet(d).collect().toSeq)
    def same(dir: String): Unit = Seq("trip", "bc").foreach { t =>
      val (d, s) = (readable(s"$dir/driver/$t"), readable(s"$dir/spark/$t"))
      assert(d.isSuccess === s.isSuccess, s"$t: driver $d, spark $s")
      if (s.isSuccess) assert(d.get.map(_.toString).sorted === s.get.map(_.toString).sorted)
    }
    val invalid = Seq(crumb(41, "05-OCT-20", 3600, vel = "999"))
    val dir = both("ingest-invalid-first", invalid, Nil)
    same(dir)
    // an empty Trip table: readable, no rows, the Trip schema
    assert(readable(s"$dir/driver/trip").get === Seq.empty[Row])
    assertSameFooter(parquetIn(s"$dir/driver/trip").head, parquetIn(s"$dir/spark/trip"))
    // an exactly-once table of batches with no valid row: readable, no
    // rows, an int `ingest_batch` per committed batch
    val once = spark.read.parquet(s"$dir/once/driver/bc")
    assert(once.collect().isEmpty)
    assert(once.schema("ingest_batch").dataType === IntegerType)
    // with no dated row yet, the null partition alone reads as NullType;
    // `later` below reads DateType once a batch holds a row
    assert(once.schema("opd_date").dataType === NullType)
    assert(partitions(s"$dir/once/driver/bc") ===
      Seq(s"ingest_batch=0/$NullDate", s"ingest_batch=1/$NullDate"))
    val later = both("ingest-empty",
      Seq(crumb(42, "05-OCT-20", 3600), crumb(43, "05-OCT-20", 3700)), Nil, invalid)
    same(later)
    assertEquivalent(later)
    // the partition columns keep their types among empty batches
    val mixed = spark.read.parquet(s"$later/once/driver/bc")
    assert(mixed.schema("ingest_batch").dataType === IntegerType)
    assert(mixed.schema("opd_date").dataType === DateType)
    assert(mixed.count() === 2L)
  }
}
