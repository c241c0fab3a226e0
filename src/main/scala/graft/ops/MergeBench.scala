package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Throughput probe for the snapshot table's CDC-apply write path
  * ([[Layout.snapshotMergeInto]]): builds a key-clustered orders table
  * (three ranged appends, key stats tracked), then applies a fixed
  * series of merge batches — updates spread across the whole key space
  * plus inserts past it plus tombstone deletes — and reports change
  * rows applied per second, end to end (probe scans, rewrite writes,
  * manifest commits). The per-round tracked number for the round-9
  * write path (BENCH.json `streaming.merge_apply_rows_per_sec`):
  * a regression here means the probe stopped pruning, the rewrite
  * widened past the touched files, or commit metadata I/O grew.
  *
  * Deterministic shape (modulo-derived change sets, no RNG): batch `b`
  * updates keys `% 97 == b` (hits every file group — the WORST case
  * for file granularity, so the number is honest), inserts re-keyed
  * `% 101 == b` rows past the corpus max, and deletes keys
  * `% 89 == b` not already updated. */
object MergeBench {

  final case class Result(rowsPerSec: Double, applied: Long, sec: Double)

  def probe(spark: SparkSession, sfDir: String, batches: Int = 3): Result = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_mergebench").toString
    val dir = s"$root/t"
    val o = graft.Tables.orders(spark, sfDir)
    val k = col("o_orderkey")
    val mx = o.agg(max(k)).head().getLong(0)
    Seq(
      o.filter(k <= mx / 3),
      o.filter(k > mx / 3 && k <= 2 * mx / 3),
      o.filter(k > 2 * mx / 3)
    ).foreach(b => Layout.snapshotAppend(b, dir,
      statsCols = Seq("o_orderkey")))
    // change sets + their row counts are prepared OUTSIDE the timed
    // window — the measured region is the ENGINE's apply cost (probe
    // scans, rewrites, change records, manifest commits), not the
    // bench's own bookkeeping jobs
    val work = (0 until batches).map { b =>
      val ups = o.filter(k % 97 === b)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
        .unionByName(o.filter(k % 101 === b)
          .withColumn("o_orderkey", k + lit(mx + 1L)))
      val dels = o.filter(k % 89 === b && k % 97 =!= b).select(k)
      (ups, dels, ups.count() + dels.count())
    }
    val applied = work.map(_._3).sum
    val t0 = System.nanoTime()
    work.foreach { case (ups, dels, _) =>
      Layout.snapshotMergeInto(spark, dir, ups, Seq("o_orderkey"),
        deletes = Some(dels))
    }
    val sec = (System.nanoTime() - t0) / 1e9
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    Result(applied / sec, applied, sec)
  }
}

/** Throughput probe for the BRANCH-staged CDC path
  * ([[Layout.snapshotBranchMerge]] × batches, then ONE
  * [[Layout.snapshotFastForward]]): the WAP-for-CDC shape — stage
  * audited upserts+tombstones on a branch, publish atomically.
  * Same deterministic modulo-derived change sets as [[MergeBench]]
  * (update and delete key sets are disjoint by construction — branch
  * MERGE refuses a key in both frames). The batches are FILE-BACKED
  * plans, so they take the scratch-pin path by design — the
  * branch-merge A/B (SCALE.md) measured pinning such a source once
  * FASTER than re-scanning it across the ~6 validation/commit jobs,
  * which is why the round-15 fast path covers in-memory batches
  * only. Tracked as BENCH.json
  * `streaming.branch_merge_rows_per_sec`. */
object BranchMergeBench {

  final case class Result(rowsPerSec: Double, applied: Long, sec: Double)

  def probe(spark: SparkSession, sfDir: String, batches: Int = 3): Result = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_brmergebench").toString
    val dir = s"$root/t"
    val o = graft.Tables.orders(spark, sfDir)
    val k = col("o_orderkey")
    val mx = o.agg(max(k)).head().getLong(0)
    Seq(
      o.filter(k <= mx / 3),
      o.filter(k > mx / 3 && k <= 2 * mx / 3),
      o.filter(k > 2 * mx / 3)
    ).foreach(b => Layout.snapshotAppend(b, dir,
      statsCols = Seq("o_orderkey")))
    Layout.snapshotBranch(spark, dir, "cdc")
    val work = (0 until batches).map { b =>
      val ups = o.filter(k % 97 === b)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
        .unionByName(o.filter(k % 101 === b)
          .withColumn("o_orderkey", k + lit(mx + 1L)))
      val dels = o.filter(k % 89 === b && k % 97 =!= b).select(k)
      (ups, dels, ups.count() + dels.count())
    }
    val applied = work.map(_._3).sum
    val t0 = System.nanoTime()
    work.foreach { case (ups, dels, _) =>
      Layout.snapshotBranchMerge(spark, dir, "cdc", ups,
        Seq("o_orderkey"), deletes = Some(dels))
    }
    Layout.snapshotFastForward(spark, dir, "cdc")
    val sec = (System.nanoTime() - t0) / 1e9
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    Result(applied / sec, applied, sec)
  }
}
