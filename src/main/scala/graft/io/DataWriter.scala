package graft.io

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Rows to write as data files: a frame Spark writes in a write job, or
  * rows already on the driver, which the driver writes as ONE file with
  * no job. */
sealed trait StageRows
final case class FrameRows(df: DataFrame) extends StageRows
final case class DriverRows(schema: StructType, rows: Seq[InternalRow])
    extends StageRows

/** The writer of the data files that snapshot commits
  * ([[graft.ops.Layout]]) and the micro-batch ingest
  * ([[graft.ctran.Load]]) add. */
object DataWriter {

  /** Writes each `(dir, rows)` from the driver as ONE parquet file in
    * `dir`, with Spark's own parquet writer
    * ([[GraftPlanBridge.parquetOutput]]): codec, footer metadata and
    * `.crc` siblings are a write task's, and there is no job, committer,
    * `_temporary` directory or `_SUCCESS` marker. Every file is written
    * under a `_`-prefixed name, which Spark's listing skips, and renamed
    * into place once all are written, so a concurrent
    * `spark.read.parquet` never lists a torn file. A failed write or
    * rename deletes every file the call began, staged or renamed, and
    * rethrows. Returns the files' names, in order. */
  def writeFiles(spark: SparkSession, files: Seq[(Path, DriverRows)]): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val began = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      val staged = files.map { case (dir, DriverRows(schema, rows)) =>
        val (name, write) = GraftPlanBridge.parquetOutput(spark, conf, schema)
        val at = new Path(dir, s"_$name")
        began += at
        write(at.toString, rows.iterator)
        at -> new Path(dir, name)
      }
      staged.foreach { case (from, to) =>
        val fs = to.getFileSystem(conf)
        if (!fs.rename(from, to)) sys.error(s"rename $from -> $to failed")
        began += to
      }
      staged.map(_._2.getName)
    } catch {
      case t: Throwable =>
        began.foreach(p => try p.getFileSystem(conf).delete(p, false)
          catch { case s: Throwable => t.addSuppressed(s) })
        throw t
    }
  }

  /** Writes each `(dir, rows)` into its own NEW directory, concurrently:
    * serially, several write jobs would each pay a job's fixed cost back
    * to back. Driver rows become one file ([[writeFiles]]), a frame a
    * Spark write job. Once every write has settled, a failed one deletes
    * every directory the call wrote and rethrows. Returns each
    * directory's data file names. */
  def writeDirs(spark: SparkSession, dirs: Seq[(Path, StageRows)]): Seq[Seq[String]] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val written = dirs.map { case (dir, rows) => Future(rows match {
      case FrameRows(df) =>
        df.write.mode(SaveMode.Overwrite).parquet(dir.toString)
        dataFiles(spark, dir)
      case d: DriverRows => writeFiles(spark, Seq(dir -> d))
    }) }.map(f => Await.ready(f, Duration.Inf).value.get)
    written.collectFirst { case Failure(t) => t }.foreach { t =>
      dirs.foreach { case (dir, _) =>
        Try(dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true))
          .failed.foreach(t.addSuppressed)
      }
      throw t
    }
    written.collect { case Success(names) => names }
  }

  /** Whether a file named `name` is data: neither hidden (`.`) nor
    * metadata or staged (`_`), as Spark's listing keeps files. */
  def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** The names of `dir`'s data files, sorted. */
  def dataFiles(spark: SparkSession, dir: Path): Seq[String] =
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dir).map(_.getPath.getName).filter(isDataFile)
      .sorted.toSeq
}
