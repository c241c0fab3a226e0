package graft.ctran

import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Batch load paths (reference load_inserts.py / update_inserts.py) onto
  * Parquet-backed tables.
  *
  * Layout decision (SURVEY §7.4.5): BreadCrumb is partitioned by
  * `opd_date` so the hotspot query's date predicates prune partitions —
  * at 100 TB this is the difference between scanning one service day and
  * scanning the fleet's history. Trip is a single small dimension table.
  *
  * Idempotency: the reference's `ON CONFLICT DO NOTHING` becomes a
  * left-anti join against existing keys (J3) — the Spark-native
  * insert-if-absent. The stop-event path is the reference's keyed UPDATE
  * (J2) as a MERGE-shaped join + full dimension rewrite (fine at Trip
  * scale; a transactional table format would make it a row-level MERGE).
  */
object Load {

  /** Read a raw breadcrumb JSON file (array-framed, as the reference's
    * file_consumer writes them — S4). */
  def readRawJson(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", value = true).schema(Schemas.rawBreadcrumb).json(path)

  /** The one ingest body of [[loadFile]] and [[graft.streaming.StreamEtl]]:
    * transform → validate → idempotent trip insert → breadcrumb `sink`.
    * The validated rows are persisted once (and released however the call
    * ends), so both writes share one read of `raw`. The counters come from
    * one observation ([[graft.streaming.Metrics.observed]]) before the
    * validity filter, collected when the trip insert every call runs
    * builds the cache — no counting job. `sink` returns false when it
    * wrote nothing (an exactly-once replay): consumed, not inserted. */
  def ingest(spark: SparkSession, raw: DataFrame, tripDir: String)(
      sink: DataFrame => Boolean): (Long, Long, Long) = {
    val valid = graft.streaming.Metrics
      .observed(Transform.enrich(raw), "ingest", Transform.isValid)
      .filter(Transform.isValid).persist()
    try {
      insertTrips(spark, Transform.toTrips(valid), tripDir)
      val wrote = sink(Transform.toBreadcrumbs(valid)
        .withColumn("opd_date", to_date(col("tstamp"))))
      val m = GraftPlanBridge.cachedObservedMetrics(valid)("ingest")
      val consumed = m.getAs[Long]("consumed")
      val inserted = if (wrote) m.getAs[Long]("kept") else 0L
      (consumed, inserted, consumed - inserted)
    } finally { valid.unpersist(); () }
  }

  /** Idempotent append of new trips (insert-if-absent on the PK). */
  def insertTrips(spark: SparkSession, trips: DataFrame, tripDir: String): Unit = {
    val fresh =
      if (tableExists(spark, tripDir)) {
        val existing = readTable(spark, tripDir).select("trip_id")
        trips.join(existing, Seq("trip_id"), "left_anti")
      } else trips
    fresh.write.mode(SaveMode.Append).parquet(tripDir)
  }

  /** Append breadcrumbs partitioned by service date. The streaming path is
    * at-least-once (reference parity, SURVEY §1.4); exact-once arrives via
    * the checkpointed stream + this same writer in foreachBatch. */
  def insertBreadcrumbs(bc: DataFrame, bcDir: String): Unit =
    bc.write.mode(SaveMode.Append).partitionBy("opd_date").parquet(bcDir)

  /** End-to-end batch load (load_inserts.py parity) through [[ingest]]:
    * one JSON parse; returns the reference's reconciliation counters
    * (consumed = inserted + skipped) from observed metrics. */
  def loadFile(spark: SparkSession, jsonPath: String,
      bcDir: String, tripDir: String): (Long, Long, Long) =
    ingest(spark, readRawJson(spark, jsonPath), tripDir) { bc =>
      insertBreadcrumbs(bc, bcDir); true
    }

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
    val u = firstSeenPerTrip(updates, orderCol)
    val merged = applyTripUpdates(readTable(spark, tripDir), u)
    graft.ops.Layout.atomicOverwrite(merged, tripDir)
  }

  /** The same keyed UPDATE against a key-bucketed dimension
    * ([[graft.ops.Layout.writeKeyBucketed]] on `trip_id`): only buckets
    * containing updated trips are read and rewritten. This removes the
    * full-dimension-rewrite cliff — a stop-event batch touches a bounded
    * set of trips, so the merge cost is O(batch), not O(dimension), no
    * matter how large Trip grows. */
  def mergeStopEventsBucketed(spark: SparkSession, updates: DataFrame,
      tripDir: String, orderCol: Option[String] = None,
      numBuckets: Int = 64): Unit = {
    val u = firstSeenPerTrip(updates, orderCol)
    graft.ops.Layout.partialOverwrite(spark, tripDir, "trip_id", numBuckets,
      u.select("trip_id"))(existing => applyTripUpdates(existing, u))
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

  private def tableExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }
}
