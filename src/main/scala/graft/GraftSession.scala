package graft

import org.apache.spark.sql.SparkSession

/** The one way the engine's mains and the test suite build a local
  * session. Each caller adds only the confs its own job needs on top of
  * the returned builder; no extensions are installed here (a session
  * that needs them adds `withExtensions(new GraftExtensions)`). */
object GraftSession {

  /** The conf every graft session shares:
    *  - one shuffle partition per local core (`local[cores]`);
    *  - AQE on (Spark's default, stated so no caller drifts from it);
    *  - UTC session time zone — the oracle's dates and timestamps are UTC;
    *  - legacy ns-int64 `events.ts` generations decode as long
    *    ([[Tables.events]] branches on the decoded type);
    *  - no web UI: nothing reads it in a local run. */
  def conf(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  def builder(cores: Int, app: String): SparkSession.Builder =
    SparkSession.builder().master(s"local[$cores]").appName(app)
      .config(conf(cores))

  /** `SPARK_GRAFT_CPUS`, else `default`: the core count a main runs on. */
  def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
}
