package graft

/** The one session builder: its shared conf, and the suite's own session
  * built through it. */
class GraftSessionSpec extends SparkSpec {

  test("the shared conf: one shuffle partition per core, AQE, UTC, legacy nanos, no UI") {
    assert(GraftSession.conf(8) === Map(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false"))
  }

  test("SparkTestSession is built through GraftSession") {
    // the builder states every shared key, AQE included, so each one is
    // in the SparkConf: a hand-written builder left AQE at Spark's
    // default, absent from the conf
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.master") === "local[4]")
    assert(conf.get("spark.app.name") === "graft-test")
    GraftSession.conf(4).foreach { case (k, v) =>
      assert(conf.getOption(k) === Some(v), k)
    }
  }
}
