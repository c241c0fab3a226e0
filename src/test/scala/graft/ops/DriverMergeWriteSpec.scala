package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, Row}
import org.apache.spark.sql.functions.{col, sha2}
import org.apache.spark.sql.types._

import graft.{SparkJobs, SparkSpec}
import graft.ops.SnapshotManifest.CdcTag

/** The files an exact merge writes from the driver (the change records
  * `-cdcu`/`-cdcd`/`-cdcp`, and the rewrite when the candidate files are
  * small) must be what a Spark write task would have written: the
  * table's schema with its field metadata, Spark's footer key-value
  * metadata and codec, `.crc` siblings, and a change record the typed
  * feed replays. Each case runs on a small table and on one past the
  * driver's 1 MiB bound on candidate bytes, whose rewrite is a Spark
  * write job. */
class DriverMergeWriteSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", IntegerType),
    StructField("s", StringType, nullable = true,
      new MetadataBuilder().putString("comment", "payload").build())))

  private def frame(rows: (Int, String)*): DataFrame =
    spark.createDataFrame(rows.map { case (k, s) => Row(k, s) }.asJava, schema)

  private def footer(file: Path): ParquetMetadata = {
    val in = HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration)
    val r = ParquetFileReader.open(in)
    try r.getFooter finally r.close()
  }

  private def parquetIn(dir: Path): Seq[Path] =
    new java.io.File(dir.toUri.getPath).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet"))
      .map(f => new Path(f.toURI)).sortBy(_.getName)

  /** Keys 1..20 as `a<k>`; `big` adds 60k rows of incompressible 64-char
    * values (keys 1001..61000) in the same file, past the driver's 1 MiB
    * bound on candidate bytes. */
  private def table(big: Boolean): DataFrame = {
    val small = frame((1 to 20).map(i => i -> s"a$i"): _*)
    if (!big) small
    else small.unionByName(spark.range(1001, 61001).select(
      col("id").cast("int").as("k"),
      sha2(col("id").cast("string"), 256).as("s", schema("s").metadata)))
      .repartition(1)
  }

  /** `table(big)` and the exact merge `body` into it at v2 (asserted to
    * run two jobs, analysis and probe, plus the rewrite's write job when
    * `big`); returns the table dir and v2's rewrite dir and change-record
    * dirs by tag. */
  private def merged(name: String, big: Boolean)(body: String => Long)
      : (String, Path, Map[String, Path]) = {
    val dir = tmpDir(name) + "/t"
    Layout.snapshotAppend(table(big), dir)
    val jobs = SparkJobs.jobsOf(spark)(assert(body(dir) === 2L))
    assert(jobs.size === (if (big) 3 else 2),
      s"big = $big:" + SparkJobs.labels(jobs))
    val m = SnapshotManifest.read(spark, dir, 2L)
    val rewrite = m.files.filter(_.startsWith("data/v00000002-"))
      .map(r => new Path(dir, r).getParent).distinct
    assert(rewrite.size === 1, s"v2 files ${m.files}")
    val cdc = m.line(CdcTag).get.stripPrefix(CdcTag).split('|').toSeq
      .filter(_.startsWith("data/")).map(r => r.split('-').last -> new Path(dir, r))
      .toMap
    (dir, rewrite.head, cdc)
  }

  /** Each parquet file under `d`: one file, Spark's footer key-value
    * metadata and codecs for `expected`'s schema (against a Spark write
    * of the same rows), its `.crc` sibling, and the schema itself. */
  private def assertSparkWritten(d: Path, expected: StructType): Unit = {
    val files = parquetIn(d)
    assert(files.size === 1, s"$d holds ${files.map(_.getName)}")
    val f = files.head
    assert(new java.io.File(d.toUri.getPath, s".${f.getName}.crc").isFile,
      s"no .crc sibling for $f")
    assert(GraftPlanBridge.parquetSchemaOf(spark, f.toString) === expected)
    val ref = tmpDir("drivermerge-ref") + "/r"
    spark.read.parquet(f.toString).coalesce(1).write.parquet(ref)
    val (got, want) = (footer(f), footer(parquetIn(new Path(ref)).head))
    val kv = got.getFileMetaData.getKeyValueMetaData.asScala.toMap
    assert(kv === want.getFileMetaData.getKeyValueMetaData.asScala.toMap)
    assert(kv("org.apache.spark.sql.parquet.row.metadata") === expected.json)
    def codecs(m: ParquetMetadata) = m.getBlocks.asScala
      .flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
    assert(codecs(got).nonEmpty && codecs(got) === codecs(want))
  }

  /** The rewrite: the driver's one file on a small table, else a Spark
    * write job's files, each under the table's schema. */
  private def assertRewrite(d: Path, big: Boolean): Unit =
    if (!big) assertSparkWritten(d, schema)
    else {
      assert(parquetIn(d).nonEmpty, s"$d holds no rewrite")
      parquetIn(d).foreach(f =>
        assert(GraftPlanBridge.parquetSchemaOf(spark, f.toString) === schema))
    }

  private def feed(dir: String, images: Boolean): Set[(String, Int, Option[String])] =
    Layout.snapshotChangesTyped(spark, dir, 1L, updateImages = images)
      .select(col("_change_type"), col("k"), col("s"))
      .as[(String, Int, Option[String])].collect().toSet

  /** The table's rows below the padding keys. */
  private def headRows(dir: String): Map[Int, String] =
    Layout.snapshotRead(spark, dir).filter(col("k") < 1000).as[(Int, String)]
      .collect().toMap

  test("a preImages merge's driver-written rewrite and change records") {
    Seq(false, true).foreach { big =>
      val (dir, rewrite, cdc) = merged("drivermerge-pre", big)(dir =>
        Layout.snapshotMergeInto(spark, dir, frame(5 -> "NEW5", 30 -> "fresh"),
          Seq("k"), preImages = true))
      // the table's schema: of record, else its first file's footer
      assert(Layout.snapshotSchemaOf(spark, dir, 2L).getOrElse(
        GraftPlanBridge.parquetSchemaOf(spark,
          s"$dir/${SnapshotManifest.read(spark, dir, 1L).files.head}")) === schema)
      assert(cdc.keySet === Set("cdcu", "cdcd", "cdcp"))
      assertRewrite(rewrite, big)
      assertSparkWritten(cdc("cdcu"), schema)
      assertSparkWritten(cdc("cdcp"), schema)
      assertSparkWritten(cdc("cdcd"), StructType(schema.take(1)))
      assert(spark.read.parquet(cdc("cdcp").toString).as[(Int, String)]
        .collect().toSeq === Seq(5 -> "a5"))
      assert(feed(dir, images = true) === Set(("update_preimage", 5, Some("a5")),
        ("update_postimage", 5, Some("NEW5")), ("insert", 30, Some("fresh"))))
      assert(feed(dir, images = false) === Set(("delete", 5, None),
        ("insert", 5, Some("NEW5")), ("insert", 30, Some("fresh"))))
      assert(headRows(dir) ===
        ((1 to 20).map(i => i -> s"a$i") ++ Seq(5 -> "NEW5", 30 -> "fresh")).toMap)
    }
  }

  test("a merge with tombstones: driver-written rewrite and change records") {
    Seq(false, true).foreach { big =>
      val (dir, rewrite, cdc) = merged("drivermerge-del", big)(dir =>
        Layout.snapshotMergeInto(spark, dir, frame(5 -> "x", 41 -> "y"), Seq("k"),
          deletes = Some(Seq(7, 99).toDF("k"))))
      assert(cdc.keySet === Set("cdcu", "cdcd"))
      assertRewrite(rewrite, big)
      assertSparkWritten(cdc("cdcu"), schema)
      assertSparkWritten(cdc("cdcd"), StructType(schema.take(1)))
      assert(spark.read.parquet(cdc("cdcd").toString).as[Int].collect().sorted
        .toSeq === Seq(5, 7))
      // no pre-image record: image mode degrades to delete + insert
      val expected = Set(("delete", 5, None), ("delete", 7, None),
        ("insert", 5, Some("x")), ("insert", 41, Some("y")))
      assert(feed(dir, images = true) === expected)
      assert(feed(dir, images = false) === expected)
      assert(headRows(dir) ===
        ((1 to 20).filter(_ != 7).map(i => i -> s"a$i") ++
          Seq(5 -> "x", 41 -> "y")).toMap)
    }
  }
}
