package graft.streaming

import graft.SparkSpec
import graft.ctran.TripBoxAggregator.GpsPoint
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** Custom per-key state across micro-batches: state survives batch
  * boundaries and folds new points into the running trip summary. */
class TripStateSpec extends SparkSpec {
  import spark.implicits._

  test("transformWithState (V2): same semantics on the RocksDB store") {
    implicit val sqlCtx = spark.sqlContext
    // transformWithState runs on the RocksDB state store provider
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[GpsPoint]
    val q = TripState.runningTripStats(input.toDS())
      .writeStream.format("memory").queryName("trip_state_v2")
      .outputMode("update")
      .option("checkpointLocation", tmpDir("tws-ckpt"))
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      input.addData(
        GpsPoint(1, Some(45.5), Some(-122.7), Some(10.0)),
        GpsPoint(1, Some(45.6), Some(-122.6), Some(20.0)))
      q.processAllAvailable()
      input.addData(GpsPoint(1, Some(45.4), Some(-122.8), None),
        GpsPoint(2, Some(45.0), Some(-122.0), Some(5.0)))
      q.processAllAvailable()
      val rows = spark.table("trip_state_v2").collect()
        .map(r => (r.getAs[Int]("trip_id"), r.getAs[Long]("n")))
      // V2 state survived the batch boundary exactly like V1's
      assert(rows.contains((1, 2L)))
      assert(rows.contains((1, 3L)))
      assert(rows.contains((2, 1L)))
      val last = spark.table("trip_state_v2")
        .filter($"trip_id" === 1 && $"n" === 3).head()
      assert(last.getAs[Double]("minLat") === 45.4)
      assert(last.getAs[Double]("maxLat") === 45.6)
      assert(last.getAs[Double]("avgSpeed") === 15.0)
    } finally {
      q.stop()
      prev.fold(spark.conf.unset(providerKey))(spark.conf.set(providerKey, _))
    }
  }
}
