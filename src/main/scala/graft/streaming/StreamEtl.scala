package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ctran.{Load, Schemas}

/** Structured-Streaming form of the breadcrumb ETL (SURVEY §2.9, §3.1).
  *
  * The reference's consumer loop — poll, buffer 10k, flush, drain-and-exit
  * on idle (topic_consumer.py:234-277) — maps onto micro-batches +
  * `foreachBatch` + `Trigger.AvailableNow` (drain the backlog, then stop:
  * the same daily-cron contract, T2). Offsets + commit log live in the
  * checkpoint (T3): restarts resume exactly where they left off, and the
  * insert-if-absent of [[Load.ingest]] (only trip ids the Trip table
  * does not hold yet are written) keeps the Trip dimension idempotent
  * under replay (effectively-once, the upgrade over the reference's
  * at-least-once).
  *
  * Source here is a file stream (the hermetic stand-in the tests drive);
  * swapping `readStream.format("kafka").option("subscribe", …)` +
  * `from_json(col("value"))` yields the Kafka form (S3) with the same
  * downstream graph — the transform/validate core is shared with the
  * batch path by construction.
  */
object StreamEtl {

  /** Per-run counters, reproducing the reference's reconciliation log
    * (consumed = inserted + skipped, topic_consumer.py:286-289). */
  final case class Counters(consumed: Long, inserted: Long, skipped: Long)

  /** Shared pipeline body: each micro-batch runs [[Load.ingest]] (parse →
    * transform → validate → idempotent trip insert → breadcrumb append,
    * one read of the batch, counters from observed metrics rather than
    * counting jobs), given its batch id when `exactlyOnce` — [[run]] and
    * [[runExactlyOnce]] differ only there, so the transform/validation
    * graph cannot drift between the two delivery modes, nor from the
    * batch load. */
  private def runWith(spark: SparkSession, inputDir: String, bcDir: String,
      tripDir: String, checkpointDir: String, maxFilesPerTrigger: Int,
      exactlyOnce: Boolean): Counters = {
    @volatile var consumed = 0L
    @volatile var inserted = 0L
    // before start(): the stream runs on a clone of the session's conf
    graft.io.LocalFs.ensureInstalled(spark)
    val raw = spark.readStream
      .schema(Schemas.rawBreadcrumb)
      .option("maxFilesPerTrigger", maxFilesPerTrigger) // T1: bound batch size
      .json(inputDir)
    val query: StreamingQuery = raw.writeStream
      .option("checkpointLocation", checkpointDir)      // T3: offsets + commits
      .trigger(Trigger.AvailableNow())                  // T2: drain then stop
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (n, ins, _) = Load.ingest(spark, batch, tripDir, bcDir,
          Option.when(exactlyOnce)(batchId))
        consumed += n
        inserted += ins
        ()
      }
      .start()
    query.awaitTermination()
    Counters(consumed, inserted, consumed - inserted)
  }

  /** Run the streaming ETL over all JSON files in `inputDir`, draining
    * available input then stopping. Batch-local dedup + cross-batch
    * insert-if-absent parity with the reference (A2 + J3). */
  def run(spark: SparkSession, inputDir: String, bcDir: String,
      tripDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 10): Counters =
    runWith(spark, inputDir, bcDir, tripDir, checkpointDir, maxFilesPerTrigger,
      exactlyOnce = false)

  /** Exactly-once variant of [[run]]: each micro-batch's breadcrumbs
    * commit by one rename to `ingest_batch=<batchId>` ([[Load.ingest]]
    * with the batch id), so a micro-batch replayed after a mid-write
    * failure cannot duplicate rows — the at-least-once upgrade the
    * reference's consumer lacks. Trips were already replay-safe via the
    * insert-if-absent. The breadcrumb table gains the `ingest_batch`
    * partition column (the replay audit handle) above `opd_date`. A
    * replayed batch still counts as consumed but inserts 0 — its
    * counters come from the trip insert, which runs on replay too — so
    * the reconciliation invariant (consumed = inserted + skipped) keeps
    * holding under replay. */
  def runExactlyOnce(spark: SparkSession, inputDir: String, bcDir: String,
      tripDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 10): Counters =
    runWith(spark, inputDir, bcDir, tripDir, checkpointDir, maxFilesPerTrigger,
      exactlyOnce = true)

  /** Watermarked dedup variant (T6): drop replayed breadcrumbs within the
    * reference's 48 h lateness envelope before they reach the sink. */
  def dedupWithWatermark(bc: DataFrame): DataFrame =
    bc.withWatermark("tstamp", "48 hours")
      .dropDuplicates(Seq("trip_id", "tstamp"))

  /** T6, id-keyed form: dedup on the business id ALONE, for transports
    * that re-stamp event time on retransmit — `(id, tstamp)` dedup
    * misses those duplicates because the key differs. Spark's
    * `dropDuplicatesWithinWatermark` keeps per-id state only until the
    * watermark passes the first occurrence's event time + delay, so
    * state stays bounded by the lateness envelope (not the key
    * cardinality history) while catching every duplicate that can still
    * legally arrive. */
  def dedupIdsWithinWatermark(events: DataFrame, idCols: Seq[String],
      eventTimeCol: String = "tstamp", lateness: String = "48 hours"): DataFrame =
    events.withWatermark(eventTimeCol, lateness)
      .dropDuplicatesWithinWatermark(idCols)

  /** T5 — native event-time windowed aggregation: the reference computed
    * its per-day message volumes post-hoc in SQL (A9); in-stream this is a
    * watermarked tumbling-window count. State is bounded by the watermark
    * (old windows close and emit). */
  def dailyVolumes(enrichedStream: DataFrame): DataFrame =
    enrichedStream
      .withWatermark("tstamp", "48 hours")
      .groupBy(window(col("tstamp"), "1 day"))
      .agg(count(lit(1)).as("n_msgs"))
      .select(col("window.start").as("day"), col("n_msgs"))

  /** Native session windows (merge events within `gap` of each other):
    * the streaming twin of the batch q35 sessionization. Works unchanged
    * on batch frames; in a stream, add the watermark and closed sessions
    * emit in append mode. */
  def tripSessions(enriched: DataFrame, gap: String = "10 minutes"): DataFrame =
    enriched
      .groupBy(col("trip_id"), session_window(col("tstamp"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("trip_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  /** Stream-static as-of enrichment: stamp each breadcrumb micro-batch
    * with the latest status-series row at-or-before it for the same
    * vehicle (the shape the reference's data begs for — GPS readings vs
    * the most recent stop event). Runs INSIDE `foreachBatch`, where each
    * micro-batch is a plain DataFrame, so the native
    * [[graft.plans.AsOfJoin]] applies unchanged; the status table is
    * dimension-sized, so the Broadcast plan probes the batch in place —
    * no shuffle added to the streaming graph. The watermark-shaped
    * `tolerance` keeps matches honest: a status row older than the bound
    * explains nothing and is dropped rather than matched. */
  def enrichAsOf(batch: DataFrame, status: DataFrame,
      keyCols: Seq[String], batchTime: String, statusTime: String,
      toleranceUs: Option[Long] = None): DataFrame =
    graft.plans.AsOfJoin.backward(batch, status, keyCols,
      batchTime, statusTime, toleranceUs, graft.plans.AsOfJoin.Broadcast)
}
