package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (type 2) history: turn a change log into
  * validity intervals — the warehouse operator behind every "what was
  * this key's value AT time t" question, and the durable form of the
  * reference's keyed-update sink (an UPDATE overwrites history; SCD2
  * keeps it).
  *
  * Both forms are pure gaps-and-islands: consecutive equal values of the
  * tracked column collapse into one interval `[valid_from, valid_to)`,
  * open intervals carry a null `valid_to`. Everything partitions by the
  * business key, so the whole build is ONE exchange: the change-detect
  * lag, the segment-id running sum, the per-segment agg, and the
  * interval-close lead all reuse the same hash partitioning (the agg's
  * (key, seg) grouping is clustered by the key alone).
  */
object Scd {

  /** Build the full SCD2 history from a change log.
    *
    * @param log      change events: one row per observation
    * @param keyCol   business key
    * @param valueCol the tracked attribute
    * @param tsCol    event-time timestamp column
    * @param tieCol   deterministic order for equal timestamps (e.g. the
    *                 log's sequence/event id)
    * @return (key, value, valid_from_us, valid_to_us, n_events): one row
    *         per consecutive run, timestamps as epoch micros, open runs
    *         with null valid_to_us
    */
  def historize(log: DataFrame, keyCol: String, valueCol: String,
      tsCol: String, tieCol: String): DataFrame = {
    val ord = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val segmented = log
      .withColumn("_chg",
        when(lag(col(valueCol), 1).over(ord).isNull ||
          lag(col(valueCol), 1).over(ord) =!= col(valueCol), 1L)
          .otherwise(0L))
      .withColumn("_seg", sum(col("_chg")).over(run))
    val intervals = segmented
      .groupBy(col(keyCol), col("_seg"), col(valueCol))
      .agg(min(unix_micros(col(tsCol))).as("valid_from_us"),
        count(lit(1)).as("n_events"))
    // close over _seg, not valid_from_us: two adjacent segments can share
    // a start micro (equal-ts events with different values), and the
    // segment id is the run order by construction
    val close = Window.partitionBy(col(keyCol)).orderBy(col("_seg"))
    intervals
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(close))
      .select(col(keyCol), col(valueCol), col("valid_from_us"),
        col("valid_to_us"), col("n_events"))
  }

  /** Incremental SCD2 MERGE: fold a new batch of change events into an
    * existing history (the steady-state form — at 100 TB the history is
    * never rebuilt from the full log).
    *
    * Correctness contract (property-tested):
    * `merge(historize(log₁), log₂) ≡ historize(log₁ ∪ log₂)` whenever
    * every batch event is at-or-after the key's open interval start —
    * the usual append-only log discipline. Closed intervals are carried
    * through UNTOUCHED (at scale only open rows join the batch — the
    * file-granular [[Layout.snapshotMergeInto]] rewrites just the files
    * holding them); only each key's open row and the batch rows are
    * re-segmented, so per-batch cost is O(batch + open rows), not
    * O(history).
    */
  def merge(history: DataFrame, batch: DataFrame, keyCol: String,
      valueCol: String, tsCol: String, tieCol: String): DataFrame = {
    val closed = history.filter(col("valid_to_us").isNotNull)
    // replay each open interval as a synthetic change event at its start;
    // a batch tie at the exact same micro sorts AFTER it (tie = -1 < any
    // real id is wrong — the open row is the incumbent, so it must sort
    // FIRST for equal-value runs to absorb)
    val openAsLog = history.filter(col("valid_to_us").isNull)
      .select(col(keyCol), col(valueCol),
        timestamp_micros(col("valid_from_us")).as(tsCol),
        lit(Long.MinValue).as(tieCol), col("n_events"))
    val batchAsLog = batch
      .select(col(keyCol), col(valueCol), col(tsCol),
        col(tieCol).cast("long").as(tieCol), lit(1L).as("n_events"))
    val ord = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val segmented = openAsLog.unionByName(batchAsLog)
      .withColumn("_chg",
        when(lag(col(valueCol), 1).over(ord).isNull ||
          lag(col(valueCol), 1).over(ord) =!= col(valueCol), 1L)
          .otherwise(0L))
      .withColumn("_seg", sum(col("_chg")).over(run))
    val intervals = segmented
      .groupBy(col(keyCol), col("_seg"), col(valueCol))
      .agg(min(unix_micros(col(tsCol))).as("valid_from_us"),
        sum(col("n_events")).as("n_events"))
    val close = Window.partitionBy(col(keyCol)).orderBy(col("_seg"))
    val reopened = intervals
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(close))
      .select(col(keyCol), col(valueCol), col("valid_from_us"),
        col("valid_to_us"), col("n_events"))
    closed.select(col(keyCol), col(valueCol), col("valid_from_us"),
        col("valid_to_us"), col("n_events"))
      .unionByName(reopened)
  }
}
