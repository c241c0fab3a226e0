package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** K6 — the reference's append-log counters (`msg.log`: produced /
  * consumed / inserted per run) as first-class observability:
  *
  *  - [[observed]] attaches an `observe` node so every micro-batch (or
  *    batch action) reports row/valid counts through the listener bus
  *    without a second pass over the data;
  *  - [[CountListener]] accumulates per-query input rows from the
  *    streaming progress events — the `numInputRows` the reference tallied
  *    by hand.
  */
object Metrics {

  /** Attach conservation counters to a frame (no extra scan). */
  def observed(df: DataFrame, name: String, validPredicate: org.apache.spark.sql.Column): DataFrame =
    df.observe(name,
      count(lit(1)).as("consumed"),
      count(when(validPredicate, 1L)).as("kept"))

  /** Accumulates input-row counts per streaming query (K6 / A4). */
  final class CountListener extends StreamingQueryListener {
    @volatile var totalInputRows: Long = 0L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      totalInputRows += e.progress.numInputRows
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
