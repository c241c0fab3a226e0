package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * Every query receives the scale-factor directory at call time, so the same
  * plan runs unchanged from sf0.001 smoke data to a 100 TB production layout —
  * only the path (and at scale, the partitioning of the underlying store)
  * changes. Scans stay declarative (`spark.read.parquet`) so Catalyst keeps
  * filter pushdown / column pruning / partition pruning.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // explicit schema from ONE footer read on the driver: a schemaless
    // read runs parquet schema inference as a one-task Spark job —
    // round 19's stage attribution (OPTIMIZATION_r19.md) showed every
    // headline query paying ~25-45 ms of scheduling for it ("parquet at
    // Tables.scala") on every rep. The
    // footer goes through Spark's own ParquetToSparkSchemaConverter
    // under the session conf, which is exactly what inference runs on
    // the file it picks (mergeSchema is off; these tables are
    // single-writer, footers agree), so the decoded types — including
    // events.ts's legacy-nanos/NTZ/timestamp generations — are
    // identical. Falls back to inference when no data file is found
    // (preserves the reader's own error paths).
    val path = s"$dir/$name.parquet"
    firstDataFile(spark, path) match {
      case Some(f) => spark.read
        .schema(org.apache.spark.sql.GraftPlanBridge.parquetSchemaOf(spark, f))
        .parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  private def firstDataFile(spark: SparkSession,
      path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val st = fs.getFileStatus(p)
      if (st.isFile) Some(path)
      else fs.listStatus(p).iterator
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString).toSeq.sorted.headOption
    } catch { case _: java.io.FileNotFoundException => None }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped in two physical generations: nanosecond-int64
    * parquet (which Spark 4 only reads via the legacy nanos-as-long mode) and
    * native microsecond `timestamp[us]`. Branch on the type Spark actually
    * decoded so the same reader survives either generation — and any future
    * regeneration — always surfacing a session-TZ `TimestampType` column:
    *
    *   - `LongType` (legacy nanos): floor-divide to µs, matching DuckDB's
    *     ns→µs epoch_us() truncation semantics. Decoding ns-int64 AS long
    *     requires `spark.sql.legacy.parquet.nanosAsLong=true`, which every
    *     entry point pins at session build next to the UTC pin (Verify,
    *     Bench, PlanDump, probes, SparkSpec) — a reader must not mutate
    *     shared session conf as a side effect.
    *   - `TimestampNTZType` (µs parquet with isAdjustedToUTC=false, the
    *     pandas/pyarrow default): reinterpret the wall-clock instant as UTC.
    *     All entry points pin `spark.sql.session.timeZone=UTC`, so the cast
    *     is a bitwise no-op and matches DuckDB's naive-TIMESTAMP reading.
    *   - `TimestampType`: already what downstream operators expect.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts decoded as unsupported type $other — testdata schema drift; " +
          "expected int64 nanos, timestamp_ntz, or timestamp")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Reader for a snapshot-committed table ([[graft.ops.Layout.snapshotCommit]]):
    * the latest committed version by default, or a pinned `asOfVersion`
    * (time travel). The file list is resolved from the version's manifest
    * at call time, so the returned frame keeps reading THAT snapshot's
    * files even while later versions commit concurrently — a long
    * analytics job is never torn across versions by a writer (files are
    * immutable until [[graft.ops.Layout.snapshotExpire]] drops the
    * version). */
  def snapshot(s: SparkSession, dir: String,
      asOfVersion: Long = -1L): DataFrame =
    graft.ops.Layout.snapshotRead(s, dir, asOfVersion)
}
