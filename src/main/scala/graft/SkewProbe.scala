package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew evidence probe — measures the claim SCALE.md makes about hot
  * keys instead of asserting it: a fact⋈dim equi-join where 90% of
  * the fact collapses onto one key, timed four ways on the same data:
  *
  *  - `uniform`: the undisturbed key distribution (baseline);
  *  - `hot_naive`: the hot key with AQE skew-split DISABLED — one
  *    reducer owns 90% of the fact; the cost being mitigated;
  *  - `hot_aqe`: AQE skew-split on (thresholds sized for this corpus —
  *    the 256 MB defaults are tuned for hundred-GB shuffles and would
  *    never fire at sf0.1);
  *  - `hot_salted`: [[graft.ops.Layout.saltedJoin]] with AQE skew-split
  *    off — the manual mitigation for engines/joins AQE can't reach.
  *
  * Broadcast is disabled throughout: the scenario is fact⋈fact-sized
  * work where broadcasting isn't an escape hatch. Row counts of all hot
  * variants are asserted equal (mitigations must not change results).
  * Writes `SKEW.json` and prints it as the last stdout line (same
  * min-of-reps discipline as [[Bench]]).
  *
  * Usage: `runMain graft.SkewProbe [sfDir] [reps]`
  */
object SkewProbe {
  private object Peek
      extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
    def skewJoins(p: org.apache.spark.sql.execution.SparkPlan) =
      collectWithSubqueries(p) {
        case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if s.isSkewJoin => s
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = GraftSession.builder(32, "graft-skew-probe")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      // thresholds sized for this corpus — the 256 MB production default
      // is tuned for hundred-GB shuffles and would never fire at sf0.1
      .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4m")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
      // many map tasks over the small staged files: AQE splits a skewed
      // reduce partition along MAP-OUTPUT boundaries, so a single-mapper
      // shuffle (what a 50 MB table scanned under the 128 MB default
      // split size produces) is UNSPLITTABLE no matter how skewed —
      // at real scale mappers are plentiful; these two confs recreate
      // that at probe scale
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val ev = Tables.events(spark, sfDir)
    // uniform fact: the natural user_id spread; hot fact: 90% of rows
    // collapse onto key 0 — the one-reducer-owns-the-table regime. The
    // ×16 replication (narrow explode) scales the row count; the md5
    // pad makes each row ~64 incompressible bytes (the natural columns
    // lz4 down to noise, which would leave the hot partition under every
    // size threshold). Both facts are STAGED to parquet (32 files) so
    // every timed run pays the same cheap parallel scan and the
    // measurement isolates shuffle+join — the phase skew distorts.
    val stage = java.nio.file.Files.createTempDirectory("skewprobe").toString
    def stageFact(hot: Boolean): DataFrame = {
      val k = if (hot) when(pmod(col("event_id"), lit(10)) < 9, lit(0L))
                         .otherwise(col("user_id"))
              else col("user_id")
      val dir = s"$stage/fact_${if (hot) "hot" else "uniform"}"
      ev.select(k.as("k"), col("event_id"), col("value"))
        .withColumn("rep", explode(array_repeat(lit(1), 16)))
        .withColumn("pad", concat(
          md5(concat_ws("|", col("event_id"), monotonically_increasing_id())),
          md5(concat_ws("/", col("event_id"), monotonically_increasing_id()))))
        .drop("rep")
        .repartition(32)
        .write.parquet(dir)
      spark.read.parquet(dir)
    }
    // dims from the RAW table (tiny, identical key sets) — computing them
    // from the exploded fact would add a constant cost to every variant
    // that buries the skew signal
    def dim(hot: Boolean): DataFrame = {
      val keys = ev.select(col("user_id").as("k")).distinct()
      val all = if (hot) keys.union(spark.range(1).select(lit(0L).as("k")))
                           .distinct()
                else keys
      val dir = s"$stage/dim_${if (hot) "hot" else "uniform"}"
      all.withColumn("w", pmod(xxhash64(col("k")), lit(1000L)))
        .write.parquet(dir)
      spark.read.parquet(dir)
    }

    def time(label: String)(build: => DataFrame): Double = {
      def once(): Double = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        build.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm-up
      val best = (1 to reps).map(_ => once()).min
      System.err.println(f"[skew] $label%-11s $best%.3f s (min of $reps)")
      best
    }
    def skewSplit(on: Boolean): Unit =
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", on.toString)

    val uniformF = stageFact(hot = false); val uniformD = dim(hot = false)
    val hotF = stageFact(hot = true); val hotD = dim(hot = true)

    // mitigations must not change the answer
    val nRows = hotF.join(hotD, "k").count()
    require(graft.ops.Layout.saltedJoin(hotF, hotD, "k", 32).count() == nRows,
      "saltedJoin changed the row count")

    skewSplit(true)
    // the measurement must be measuring what it claims: assert the hot
    // join's FINAL adaptive plan really carries the skew-split marker
    val marked = {
      val j = hotF.join(hotD, "k")
      j.queryExecution.toRdd.count()
      Peek.skewJoins(j.queryExecution.executedPlan)
    }
    System.err.println(s"[skew] aqe skew-split fired: ${marked.nonEmpty}")
    if (sys.env.contains("SPARK_GRAFT_SKEW_DEBUG")) {
      val j2 = hotF.join(hotD, "k"); j2.queryExecution.toRdd.count()
      System.err.println(j2.queryExecution.executedPlan.toString)
    }
    val uniform = time("uniform") { uniformF.join(uniformD, "k") }
    val hotAqe = time("hot_aqe") { hotF.join(hotD, "k") }
    skewSplit(false)
    val hotNaive = time("hot_naive") { hotF.join(hotD, "k") }
    val hotSalted = time("hot_salted") {
      graft.ops.Layout.saltedJoin(hotF, hotD, "k", 32)
    }
    skewSplit(true)

    val json =
      f"""{"metric":"skew","unit":"sec","rows":$nRows,"uniform":$uniform%.4f,"hot_naive":$hotNaive%.4f,"hot_aqe":$hotAqe%.4f,"hot_salted":$hotSalted%.4f,"naive_vs_uniform":${hotNaive / uniform}%.2f,"aqe_vs_uniform":${hotAqe / uniform}%.2f,"salted_vs_uniform":${hotSalted / uniform}%.2f,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("SKEW.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    // the staged fact/dim copies are hundreds of MB at sf0.1 — repeated
    // probe runs would otherwise fill /tmp
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
    println(json)
    System.err.println(json)
  }
}
