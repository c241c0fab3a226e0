package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Throughput probe for the streaming as-of join ([[StreamAsOf]]):
  * drives a synthetic two-sided event stream through one as-of operator
  * ([[StreamAsOfBench.backward]], `forward` or `nearest`) in microbatches
  * and reports end-to-end probe rows finalized per second — the
  * per-round tracked numbers for the stateful-streaming path (BENCH.json
  * `streaming.asof_rows_per_sec`, `asof_fwd_rows_per_sec` and
  * `asof_near_rows_per_sec`), alongside the batch-ETL drain rate.
  *
  * Shape: `batches` microbatches of `perBatch` probes + `perBatch`
  * builds over `keys` keys, event time advancing one second per row per
  * key so the watermark (5 s lateness) finalizes all but the last
  * batches' probes; a final far-future batch flushes the tail. Rows/sec
  * counts every probe emitted (each exactly once) over the wall-clock of
  * the whole run — state-store writes, timer churn and the union's
  * watermark bookkeeping included, so the number is the operator's real
  * microbatch cost, not a kernel best case.
  */
object StreamAsOfBench {

  final case class P(k: Long, pts: Timestamp, v: Long)
  final case class B(k: Long, bts: Timestamp, px: Double)

  final case class Result(rowsPerSec: Double, emitted: Long, sec: Double)

  /** A streaming as-of operator over the probe stream `(k, pts, v)` and
    * the build stream `(k, bts, px)`. */
  type AsOf = (DataFrame, DataFrame) => DataFrame

  val backward: AsOf = StreamAsOf.backward(_, _,
    key = "k", probeTs = "pts", buildTs = "bts", lateness = "5 seconds")

  /** [[StreamAsOf.forwardWithin]] — since the round-9 single-operator
    * rewrite the same machinery class as [[backward]] with finality
    * pushed out by the horizon; tracking it separately keeps the two
    * shapes' regressions distinguishable. Horizon = the lateness window. */
  val forward: AsOf = StreamAsOf.forwardWithin(_, _,
    key = "k", probeTs = "pts", buildKey = "k", buildTs = "bts",
    horizonSeconds = 5, lateness = "5 seconds")

  /** [[StreamAsOf.nearestWithin]]: [[forward]]'s plan shape with the
    * ±horizon match rule, under the same synthetic clock. */
  val nearest: AsOf = StreamAsOf.nearestWithin(_, _,
    key = "k", probeTs = "pts", buildKey = "k", buildTs = "bts",
    horizonSeconds = 5, lateness = "5 seconds")

  /** Synthetic clock starts a day above epoch 0: an event time EXACTLY
    * at epoch 0 equals the initial watermark and is dropped as late
    * (see [[StreamAsOf]]'s late-data note). */
  private val T0 = 86400L

  /** Drives `op` (default [[backward]]) and reports its throughput.
    *
    * `statePartitions` sizes the stateful operator's store count (it
    * pins `spark.sql.shuffle.partitions` on a derived session — the conf
    * a streaming query's state partitioning is frozen from at first
    * start). Default -1 = apply [[StreamAsOf.sizeStatePartitions]], the
    * executable form of the round-9 deployment rule: at this probe's
    * scale (1k keys × ~15 tiny held rows each) it sizes DOWN to the
    * 8-store parallelism floor — 32 near-empty RocksDB instances each
    * pay per-micro-batch open/commit overhead and run the operator ~3×
    * slower (measured A/B in SCALE.md; per-row marginal cost is ~4 µs,
    * the fixed per-partition-per-batch cost dominates). At production
    * rates the same rule sizes UP. */
  def probe(spark0: SparkSession, batches: Int = 10, perBatch: Int = 10000,
      keys: Int = 1000, statePartitions: Int = -1,
      op: AsOf = backward): Result = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.{Encoder, Encoders}
    val spark = spark0.newSession()
    val sp = if (statePartitions > 0) statePartitions
    else StreamAsOf.sizeStatePartitions(keys, heldRowsPerKey = 15)
    spark.conf.set("spark.sql.shuffle.partitions", sp.toString)
    implicit val sqlCtx = spark.sqlContext
    implicit val pe: Encoder[P] = Encoders.product[P]
    implicit val be: Encoder[B] = Encoders.product[B]
    // derived session: conf changes (partitions, provider) die with it
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files
      .createTempDirectory("asofbench").toString
    val probes = MemoryStream[P]
    val builds = MemoryStream[B]
    val out = op(probes.toDF(), builds.toDF())
    val name = s"asof_bench_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", s"$ckpt/q")
      .trigger(Trigger.ProcessingTime(0)).start()
    val t0 = System.nanoTime()
    try {
      var t = T0
      (1 to batches).foreach { _ =>
        val tt = t
        probes.addData((0 until perBatch).map(i =>
          P(i % keys, new Timestamp((tt + i / keys) * 1000L), tt + i)))
        builds.addData((0 until perBatch).map(i =>
          B(i % keys, new Timestamp((tt + i / keys) * 1000L), i.toDouble)))
        t += perBatch / keys
        q.processAllAvailable()
      }
      // flush the tail: advance both sides' watermarks far past every
      // held probe, then one more batch so the timers fire
      (1 to 2).foreach { i =>
        val far = new Timestamp((t + 100000L * i) * 1000L)
        probes.addData(P(-1L, far, -1L)); builds.addData(B(-1L, far, 0.0))
        q.processAllAvailable()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val emitted = spark.table(name).count()
      Result(emitted / sec, emitted, sec)
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $name")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }
}
