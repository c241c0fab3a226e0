package graft.ctran

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BindReferences, BoundReference, InterpretedOrdering, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.{DataWriter, DriverRows}

/** Batch load paths (reference load_inserts.py / update_inserts.py) onto
  * Parquet-backed tables.
  *
  * Layout decision (SURVEY §7.4.5): BreadCrumb is partitioned by
  * `opd_date` so the hotspot query's date predicates prune partitions —
  * at 100 TB this is the difference between scanning one service day and
  * scanning the fleet's history. Trip is a single small dimension table.
  * An exactly-once ingest ([[ingest]] with a batch id) nests the same
  * layout under `ingest_batch=<id>`, so the date predicates still prune.
  *
  * Idempotency: the reference's `ON CONFLICT DO NOTHING` becomes an
  * insert of only the trips the Trip table does not hold yet (J3): a
  * small batch probes the table for its own trip ids and the driver
  * writes the rest, a large one left-anti joins against the existing
  * keys ([[ingest]]). The stop-event path is the reference's keyed UPDATE
  * (J2) as a MERGE-shaped join + full dimension rewrite (fine at Trip
  * scale). Its O(batch) form is the snapshot table's file-granular MERGE:
  * [[graft.streaming.SnapshotSink.mergeOnce]] →
  * [[graft.ops.Layout.snapshotMergeInto]] rewrites only the files holding
  * updated keys.
  */
object Load {

  /** Read a raw breadcrumb JSON file (array-framed, as the reference's
    * file_consumer writes them — S4). */
  def readRawJson(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", value = true).schema(Schemas.rawBreadcrumb).json(path)

  /** Validated rows of a batch at or under which [[ingest]] inserts from
    * the driver. SCALE.md "Driver-written micro-batch inserts" gives the
    * crossover it comes from. */
  private[graft] val DriverIngestMaxRows = 1 << 15

  /** The one ingest body of [[loadFile]] and [[graft.streaming.StreamEtl]]:
    * transform → validate → idempotent trip insert → breadcrumb append to
    * the `opd_date`-partitioned table at `bcDir`. The validated rows are
    * persisted once (and released however the call ends), so every read
    * shares one read of `raw`. The counters come from one observation
    * ([[graft.streaming.Metrics.observed]]) before the validity filter,
    * collected when the first job builds the cache — no counting job.
    * Returns (consumed, inserted, skipped).
    *
    * A small batch runs at most two jobs. The first builds the cache and,
    * while the batch holds at most `DriverIngestMaxRows` validated rows,
    * brings them to the driver, which picks each trip's first crumb in
    * `Transform.toTrips`' order. When that leaves at most
    * [[graft.ops.Layout.InMax]] trips, the second probes the Trip table's
    * files for those trip ids (skipped while the table has none), and
    * the driver writes the fresh trips as one file and the breadcrumbs as
    * one file per `opd_date=` directory ([[DataWriter.writeFiles]]). A
    * larger batch takes the Spark path over the same cache: a left-anti
    * insert ([[insertTrips]]) and a partitioned append
    * ([[insertBreadcrumbs]]). Both paths insert trips against ONE listing
    * of the Trip table. Every job is described, and its stages named,
    * `graft:ingest:<phase>`.
    *
    * With `batchId = Some(id)` the append is exactly-once. Whichever
    * writer the batch takes writes its breadcrumbs into the hidden
    * directory `.staging-ingest_batch-<id>` (cleared first: a crashed try
    * may have left it), and one directory rename commits them as
    * `ingest_batch=<id>`, so readers get the batch id as a partition
    * column above `opd_date`. A crash before the rename leaves nothing
    * visible. When `ingest_batch=<id>` exists the batch is a replay: the
    * trip insert runs as on any batch, no breadcrumb is written, and it
    * inserts 0. A batch with no valid row commits one empty file under
    * the null `opd_date` partition, so the table reads even when every
    * batch so far was empty. */
  def ingest(spark: SparkSession, raw: DataFrame, tripDir: String,
      bcDir: String, batchId: Option[Long]): (Long, Long, Long) = {
    graft.io.LocalFs.ensureInstalled(spark)
    val valid = graft.streaming.Metrics
      .observed(Transform.enrich(raw), "ingest", Transform.isValid)
      .filter(Transform.isValid).persist()
    try {
      lazy val fs = new Path(bcDir).getFileSystem(spark.sessionState.newHadoopConf())
      val committed = batchId.map(id => new Path(bcDir, s"ingest_batch=$id"))
      val replay = committed.exists(fs.exists)
      val out = batchId.fold(new Path(bcDir))(id =>
        new Path(bcDir, s".staging-ingest_batch-$id"))
      if (committed.isDefined && !replay) fs.delete(out, true)
      val trips = tripFiles(spark, tripDir)
      phase(spark, "collect")(collectSmall(valid))
        .filter(_.trips.rows.size <= graft.ops.Layout.InMax) match {
        case Some(b) =>
          insertTripRows(spark, b.trips, tripDir, trips)
          val dirs = if (b.crumbs.isEmpty && committed.isDefined)
            Seq(ExternalCatalogUtils.getPartitionPathString("opd_date", null) -> Nil)
          else b.crumbs
          if (!replay) DataWriter.writeFiles(spark, dirs.map { case (part, rows) =>
            new Path(out, part) -> DriverRows(b.crumbSchema, rows) })
        case None =>
          phase(spark, "trip-write")(
            insertTrips(spark, Transform.toTrips(valid), tripDir, trips))
          if (!replay) phase(spark, "bc-write")(insertBreadcrumbs(
            Transform.toBreadcrumbs(valid).withColumn("opd_date", to_date(col("tstamp"))),
            out.toString))
      }
      if (!replay) committed.foreach(to =>
        if (!fs.rename(out, to)) sys.error(s"commit rename $out -> $to failed"))
      val m = GraftPlanBridge.cachedObservedMetrics(valid)("ingest")
      val consumed = m.getAs[Long]("consumed")
      val inserted = if (replay) 0L else m.getAs[Long]("kept")
      (consumed, inserted, consumed - inserted)
    } finally { valid.unpersist(); () }
  }

  /** A small batch on the driver: each trip's first crumb, and the
    * breadcrumb rows (of `crumbSchema`) by their `opd_date=` directory
    * name. */
  private final case class Collected(trips: DriverRows,
      crumbSchema: StructType, crumbs: Seq[(String, Seq[InternalRow])])

  /** The cache-building job: the validated rows while there are at most
    * `DriverIngestMaxRows`, as breadcrumb rows under Spark's
    * partition-path encoding of their `opd_date` and as trip rows, one
    * per trip: its first crumb by [[Transform.firstCrumbOrder]], bound
    * to the collected columns by Spark's analyzer. Both keep the
    * collected columns' types and nullability, which are what the
    * Spark path writes. */
  private def collectSmall(valid: DataFrame): Option[Collected] = {
    val frame = valid.select(Transform.breadcrumbColumns ++
      (to_date(col("tstamp")).cast("string").as("_opd_date") +:
        Transform.tripColumns): _*)
    GraftPlanBridge.collectBounded(frame, DriverIngestMaxRows).map { rows =>
      val part = Transform.breadcrumbColumns.size
      val crumbSchema = StructType(frame.schema.take(part))
      val tripSchema = StructType(frame.schema.drop(part + 1))
      def project(from: Int, s: StructType) = UnsafeProjection.create(
        s.zipWithIndex.map { case (f, i) =>
          BoundReference(from + i, f.dataType, f.nullable) })
      val (crumb, trip) = (project(0, crumbSchema), project(part + 1, tripSchema))
      val order = frame.orderBy(Transform.firstCrumbOrder: _*)
        .queryExecution.analyzed.collectFirst { case s: Sort =>
          new InterpretedOrdering(BindReferences.bindReferences(s.order, s.child.output))
        }.get
      val tripId = crumbSchema.fieldIndex("trip_id")
      val first = rows.groupBy(_.getInt(tripId)).toSeq.sortBy(_._1)
        .map(_._2.min(order))
      val dirs = rows.groupBy(r => ExternalCatalogUtils.getPartitionPathString(
          "opd_date", if (r.isNullAt(part)) null else r.getUTF8String(part).toString))
        .toSeq.sortBy(_._1)
      Collected(DriverRows(tripSchema, first.map(trip(_).copy())), crumbSchema,
        dirs.map { case (d, rs) => d -> rs.map(crumb(_).copy()) })
    }
  }

  /** The Trip table's data files, from ONE listing (none while the
    * directory does not exist): what both trip inserts probe. */
  private def tripFiles(spark: SparkSession, tripDir: String): Seq[FileStatus] = {
    val dir = new Path(tripDir)
    try dir.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(dir).toSeq
      .filter(s => s.isFile && DataWriter.isDataFile(s.getPath.getName))
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** The driver form of [[insertTrips]]: `trips` minus those the table's
    * data `files` already hold, found by ONE exact `trip_id IN (…)` probe
    * (row-group skipping applies; no probe while the table has no data
    * file), written as one file. Writes nothing when every trip exists,
    * except into a table with no data file: there an empty file makes
    * the table readable, as a Spark write would. */
  private def insertTripRows(spark: SparkSession, trips: DriverRows,
      tripDir: String, files: Seq[FileStatus]): Unit = {
    val id = trips.schema.fieldIndex("trip_id")
    val existing =
      if (files.isEmpty || trips.rows.isEmpty) Set.empty[Int]
      else phase(spark, "probe")(GraftPlanBridge.collectInternal(
        GraftPlanBridge.parquetStatuses(spark, files, StructType(Seq(trips.schema(id))))
          .filter(col("trip_id").isin(trips.rows.map(_.getInt(id)): _*)))
        .map(_.getInt(0)).toSet)
    val fresh = trips.rows.filterNot(r => existing(r.getInt(id)))
    if (fresh.nonEmpty || files.isEmpty)
      DataWriter.writeFiles(spark, Seq(new Path(tripDir) -> DriverRows(trips.schema, fresh)))
    ()
  }

  /** Runs `body` with the Spark jobs it starts described, and their
    * stages named, `graft:ingest:<name>` (the job description and the
    * short call site), then restores the caller's. */
  private def phase[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val caller = Seq("spark.job.description", "callSite.short")
      .map(k => k -> sc.getLocalProperty(k))
    caller.foreach { case (k, _) => sc.setLocalProperty(k, s"graft:ingest:$name") }
    try body finally caller.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** Idempotent append of new trips (insert-if-absent on the PK): a
    * left-anti join against the existing keys and a Spark write. */
  def insertTrips(spark: SparkSession, trips: DataFrame, tripDir: String): Unit =
    insertTrips(spark, trips, tripDir, tripFiles(spark, tripDir))

  /** [[insertTrips]] against the Trip table's data `files`. */
  private def insertTrips(spark: SparkSession, trips: DataFrame, tripDir: String,
      files: Seq[FileStatus]): Unit = {
    val fresh =
      if (files.isEmpty) trips
      else trips.join(GraftPlanBridge.parquetStatuses(spark, files,
        StructType(Seq(trips.schema("trip_id")))), Seq("trip_id"), "left_anti")
    fresh.write.mode(SaveMode.Append).parquet(tripDir)
  }

  /** Append breadcrumbs partitioned by service date. The streaming path is
    * at-least-once (reference parity, SURVEY §1.4); exactly-once is
    * [[ingest]] with a batch id ([[graft.streaming.StreamEtl.runExactlyOnce]]). */
  def insertBreadcrumbs(bc: DataFrame, bcDir: String): Unit =
    bc.write.mode(SaveMode.Append).partitionBy("opd_date").parquet(bcDir)

  /** End-to-end batch load (load_inserts.py parity) through [[ingest]]:
    * one JSON parse; returns the reference's reconciliation counters
    * (consumed = inserted + skipped) from observed metrics. */
  def loadFile(spark: SparkSession, jsonPath: String,
      bcDir: String, tripDir: String): (Long, Long, Long) =
    ingest(spark, readRawJson(spark, jsonPath), tripDir, bcDir, None)

  /** Keyed update of Trip from stop events (J2, stop_consumer.py:76-78):
    * match on (trip_id, vehicle_id, service_key), set route_id/direction.
    *
    * First-seen-per-trip dedup (A3): the reference processes updates in
    * arrival order and the first one wins — pass the arrival-order column
    * (kafka offset / file position) as `orderCol`. Without one, falls back
    * to a deterministic full-row sort, so the surviving update never
    * depends on partitioning (`dropDuplicates` did — judged nondeterministic).
    *
    * The full-dimension rewrite reads from `tripDir` and replaces it, so
    * the commit goes through [[graft.ops.Layout.atomicOverwrite]]: staged
    * to a temp directory, then swapped by rename. Caching the merged frame
    * before an in-place overwrite (the previous protocol) is NOT safe —
    * an evicted partition recomputes from the truncated source.
    */
  def mergeStopEvents(spark: SparkSession, updates: DataFrame, tripDir: String,
      orderCol: Option[String] = None): Unit = {
    graft.io.LocalFs.ensureInstalled(spark)
    val u = firstSeenPerTrip(updates, orderCol)
    val merged = applyTripUpdates(readTable(spark, tripDir), u)
    graft.ops.Layout.atomicOverwrite(merged, tripDir)
  }

  /** First-seen-per-trip dedup (A3): arrival order wins when `orderCol`
    * (kafka offset / file position) is given; otherwise a deterministic
    * full-row sort, so the surviving update never depends on partitioning. */
  private def firstSeenPerTrip(updates: DataFrame,
      orderCol: Option[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ordering = orderCol match {
      case Some(c) => Seq(col(c))
      case None    => updates.columns.sorted.map(col).toSeq
    }
    val w = Window.partitionBy(col("trip_id")).orderBy(ordering: _*)
    updates
      .withColumn("_arrival_rank", row_number().over(w))
      .filter(col("_arrival_rank") === 1)
      .drop("_arrival_rank" +: orderCol.toSeq: _*)
  }

  /** The reference UPDATE: match on (trip_id, vehicle_id, service_key),
    * set route_id/direction, leave unmatched rows untouched. */
  private def applyTripUpdates(trip: DataFrame, u: DataFrame): DataFrame = {
    val renamed = u
      .withColumnRenamed("route_id", "u_route_id")
      .withColumnRenamed("direction", "u_direction")
    trip.as("t")
      .join(renamed.as("u"), Seq("trip_id", "vehicle_id", "service_key"), "left_outer")
      .select(
        col("trip_id"),
        coalesce(col("u_route_id"), col("t.route_id")).as("route_id"),
        col("vehicle_id"),
        col("service_key"),
        coalesce(col("u_direction"), col("t.direction")).as("direction"))
  }

  /** A plain parquet table under its footer schema: no inference job. */
  private def readTable(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(GraftPlanBridge.parquetSchemaOf(spark, dir)).parquet(dir)
}
