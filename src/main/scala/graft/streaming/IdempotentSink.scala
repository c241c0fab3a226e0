package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}

/** Exactly-once streaming appends (K3 upgraded past the reference's
  * at-least-once).
  *
  * `foreachBatch` re-executes a micro-batch after any mid-write failure,
  * so a plain append sink duplicates rows under replay. The standard fix
  * is to make the batch write ATOMIC and KEYED BY batchId: stage the
  * batch to a hidden directory, then commit it with one metadata-only
  * rename to `ingest_batch=<id>`; a replayed batch sees the committed
  * directory and skips. Failure anywhere leaves either nothing visible
  * (crash before rename — the hidden staging dir is invisible to
  * readers and simply overwritten on retry) or the complete batch
  * (crash after) — never a partial append.
  *
  * The committed layout doubles as a partition column: readers get
  * `ingest_batch` for free, which is also the replay/debugging handle
  * (which batch produced these rows?).
  */
object IdempotentSink {

  /** Append `batch` under `tableDir/ingest_batch=<batchId>` exactly once.
    * Returns false iff the batch was already committed (a replay). Use
    * directly as a `foreachBatch` body:
    * {{{
    *   .foreachBatch((b: DataFrame, id: Long) =>
    *     IdempotentSink.appendOnce(b, id, dir): Unit)
    * }}} */
  def appendOnce(batch: DataFrame, batchId: Long, tableDir: String): Boolean = {
    val spark = batch.sparkSession
    graft.io.LocalFs.ensureInstalled(spark)
    val committed = new Path(tableDir, s"ingest_batch=$batchId")
    val fs = committed.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(committed)) return false
    val staged = new Path(tableDir, s".staging-ingest_batch-$batchId")
    if (fs.exists(staged)) fs.delete(staged, true) // half-written prior try
    batch.write.mode(SaveMode.Overwrite).parquet(staged.toString)
    if (!fs.rename(staged, committed))
      sys.error(s"commit rename $staged -> $committed failed")
    true
  }
}
