package graft.ctran

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ingestion-throughput benchmark against the reference's floor
  * (BASELINE.md: peak 375,773 breadcrumb messages drained per daily run).
  *
  * Synthesizes N raw breadcrumb JSON records (deterministic), lands them
  * as JSONL, then drains them through the full batch path — schema-on-read
  * parse → transform → validate → trip dedup + anti-join insert →
  * date-partitioned parquet append — and prints one JSON line with
  * records/sec. Usage: runMain graft.ctran.EtlBench [nRecords]
  */
object EtlBench {

  final case class Result(recordsPerSec: Double, consumed: Long,
      inserted: Long, skipped: Long, sec: Double)

  /** Stage `n` synthetic breadcrumbs and drain them through the full
    * batch path on an existing session. Reused by [[graft.Bench]] for
    * the per-round streaming-ingest line. */
  def drain(spark: SparkSession, n: Long): Result = {
    val dir = java.nio.file.Files.createTempDirectory("etlbench").toString
    try {
      val in = s"$dir/in"
      // deterministic synthetic day: ~n/2000 trips, 5-second samples,
      // ~0.5% invalid rows (speed over the 200 limit)
      spark.range(n).select(
          format_string("%d", expr("id div 2000")).as("EVENT_NO_TRIP"),
          lit("05-OCT-20").as("OPD_DATE"),
          format_string("%d", col("id") % 17280 * 5).as("ACT_TIME"),
          format_string("%d", col("id") % 104 + 4000).as("VEHICLE_ID"),
          format_string("%.6f", lit(45.5) + (col("id") % 1000) / 10000.0).as("GPS_LATITUDE"),
          format_string("%.6f", lit(-122.6) - (col("id") % 1000) / 10000.0).as("GPS_LONGITUDE"),
          format_string("%d", col("id") % 360).as("DIRECTION"),
          format_string("%d", col("id") % 220).as("VELOCITY"))
        .write.json(in)

      val t0 = System.nanoTime()
      val raw = spark.read.schema(Schemas.rawBreadcrumb).json(in)
      val (consumed, inserted, skipped) = Load.ingest(spark, raw, s"$dir/trip") {
        bc => Load.insertBreadcrumbs(bc, s"$dir/bc"); true
      }
      val sec = (System.nanoTime() - t0) / 1e9
      Result(consumed / sec, consumed, inserted, skipped, sec)
    } finally
      // staged JSON + written tables are sizable; don't leak them per run
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 400000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-etl-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // legacy ns-int64 events.ts generations decode as long (Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val r = drain(spark, n)
    println(f"""{"metric":"etl_records_per_sec","value":${r.recordsPerSec}%.0f,"unit":"rec/sec","consumed":${r.consumed},"inserted":${r.inserted},"skipped":${r.skipped},"sec":${r.sec}%.2f,"baseline_daily_msgs":375773}""")
    spark.stop()
  }
}
