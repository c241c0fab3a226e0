package graft

import org.apache.spark.sql.SparkSession

/** Regenerates `PLANS.md`: the formatted physical plans of the flagship
  * queries, committed as reviewable evidence that the plans ARE the ones
  * the scale docs claim (broadcasts where stated, pruned scans, no
  * nested loops, the custom operators actually planned). PlanSpec
  * asserts these properties mechanically; this artifact makes them
  * readable.
  *
  * Usage: `sbt "runMain graft.PlanDump"` (writes PLANS.md at repo root).
  */
object PlanDump {

  private val Flagships = Seq(
    "q01_pricing_summary" -> "partial+final hash agg, one data shuffle",
    "q04_join_multiway"   -> "5-way star: dimensions broadcast, fact shuffles once",
    "q22_hotspot"         -> "filtered dim broadcast; fact never shuffles for the join",
    "q07_window_topk_per_group" -> "rank pushed into partial+final WindowGroupLimit",
    "q27_minhash_lsh"     -> "banded LSH candidate join — equi-join, no nested loop",
    "q52_range_join"      -> "interval containment as a binned hash join",
    "q75_bloom_join"      -> "dim-key Bloom sketch prunes fact rows before the exchange",
    "q90_asof_native"     -> "custom AsOfJoinExec: co-partitioned streaming merge",
    "q90b_asof_sql"       -> "the same native operator reached from pure SQL text (asof_join TVF)",
    "q90c_asof_syntax"    -> "literal ASOF LEFT JOIN syntax (parser extension) plans the same native exec",
    "q92_asof_broadcast"  -> "custom BroadcastAsOfJoinExec: BroadcastExchange build, zero-shuffle probe",
    "q98_corpus_build"    -> "five composed gates: LM broadcast-back, posting-list joins",
    "q103_vector_index"   -> "persisted IVF-PQ retrieval: dynamic cell-partition pruning on the coded scan",
    "q106_bloom_join_prune" -> "Catalyst-injected runtime bloom filter on the fact scan",
    "q107_quantile_sketch_merge" -> "per-partition KLL sketches merged into one quantile state; rank certificate in one corpus pass",
    "q109_snapshot_changes" -> "incremental snapshot scan: the file list is the manifest diff, never the table",
    "q110_incremental_pipeline" -> "sink-committed deltas through VectorIndex.append: retrieval plan identical to the one-shot index (q103)",
    "q115_snapshot_merge" -> "file-granular MERGE result: carried files + rewrite files in one scan, plain agg above",
    "q118_asof_nearest" -> "nearest direction rides the SAME single AsOfJoinExec plan as q90 (match rule inside the operator)",
    "q119_snapshot_mor_delete" -> "merge-on-read overlay: delete keys broadcast anti-join over the generation they apply to; newer files scan clean",
    "q128_sql_merge_into" -> "SQL MERGE round trip: the read-back rides the catalog's delegated vectorized parquet scan over the merged manifest",
    "q130_snapshot_retype" -> "widening retype: one stats-pruned scan spans narrow and wide file generations, decoding int32/float under the recorded bigint/double schema",
    "q132_sql_overlay_read" -> "SQL read rerouted mid-takedown: overlay keys broadcast anti-join + per-generation rename resolution replace the refused plain scan",
    "q133_snapshot_drop" -> "drop + same-name re-add: pre-drop generations null-fill the column (field-ID tombstone), post-drop files scan it clean",
    "q135_snapshot_restore" -> "read after CALL restore: the catalog's plain delegated scan over the RE-POINTED manifest — a metadata-only rollback leaves the serving plan identical to the tagged version's",
    "q136_incremental_agg_images" -> "aggregate maintained from the typed feed's pre/post-image pairs: O(batch) cdc-record scans joined to the v1 base agg — the v2 table is never rescanned",
    "q139_branch_wap_publish" -> "typed feed across a fast-forward publish: the published delta IS the staged files' scan (one collapsed insert step) — the metadata-only publish left no other trace in the plan",
    "q141_nested_struct_evolve" -> "nested ADD evolution: ONE parquet scan spans both struct generations under the widened schema (by-name null-fill, no per-generation union, no struct rebuild)",
    "q144_branch_rebase_publish" -> "typed feed across a REBASED publish: the same collapsed insert shape as q139 — the metadata-only rebase left no trace in the read plan, and main's carried delete overlay anti-joins only the file groups it version-covers",
    "q145_branch_staged_takedown" -> "publish replay with a staged takedown: the delete term semi-joins the masked base files against the O(keys) key file, the insert term scans staged files under the overlay — no corpus rescan in either term",
    "q146_sql_zorder_box_read" -> "2-D box read after CALL system.zorder: the catalog's delegated vectorized scan over the Morton-rewritten files — manifest stats pruned the file list before the plan was built",
    "q150_rebase_takedown" -> "typed feed across a rebased takedown publish: the delete term semi-joins masked base files against the RE-KEYED O(keys) key file, inserts scan staged files under the tip overlay — the re-key left zero trace beyond the key file's new dir version, no corpus rescan in either term",
    "q152_branch_merge_publish" -> "typed feed across a branch-MERGE publish: the staged upsert's takedown+append pair replays as one masked-base semi-join delete term + one staged-file insert term under the overlay — old and new values both O(delta), the base table never rescanned",
    "q154_rebase_merge_carry" -> "typed feed across a rebased MERGE publish under an intersecting live takedown: the unified re-key leaves only broadcast semi/anti-joins on O(keys) files — the merge's re-keyed append scans once under the overlay, masked base rows semi-join the re-keyed key file, no corpus rescan",
    "q155_merge_race_cas" -> "read after five raced same-key staged MERGEs: the CAS chain serialized the statements, so the published plan is the ordinary masked-base + surviving-append scan — no duplicate-key residue for the agg above to hide",
    "q156_takedown_cascade" -> "corpus + index audit after the crash-injected cascade: three O(artifact) scans with broadcast semi-joins against the O(keys) removed set — the invariant check never rescans an artifact twice",
    "q157_staged_evolve_publish" -> "read after a staged ALTER+backfill publish across a rebase: ONE scan spans the 3-column main files and the 4-column backfill files under the merged schema (by-name null-fill) — the staged evolution left no per-generation union behind",
    "q158_merge_crash_publish" -> "read after a crash-injected one-commit MERGE, publish, re-run, publish: the ordinary masked-base + surviving-data scan — the crashed attempt left zero residue in the plan (its files are unreferenced orphans, not manifest lines)",
    "q159_takedown_cascade_multi" -> "four-artifact audit after the multi-corpus cascade: O(artifact) scans with broadcast semi-joins against the ONE pinned O(keys) removed set — shared across both corpora and both indexes, no artifact rescanned twice",
    "q160_rebase_rename_ride" -> "typed feed across a rename-riding rebased publish: delete term semi-joins masked base files against the re-keyed RENAMED key file, inserts scan one log-resolved staged dir + one rewritten dir under the renamed schema — per-generation name resolution is a projection, invisible to the exchange structure",
    "q161_branch_rename_publish" -> "typed feed + final state across a BRANCH-staged rename publish (rename staged on the branch, load under the new name, main traffic under the old, rebase, one publish): the feed's insert term scans only the rewritten staged dirs under the renamed schema; the state read spans old-named base files (resolved through the re-emitted log line — a projection) and new-named files in ONE scan, no per-generation union",
    "q162_takedown_ledger" -> "takedown-ledger audit: the TVF's frame is a driver-side O(attempts x artifacts) metadata read (gov/ LIST + line parses) — ZERO data-plane scan; the agg above it is one tiny hash aggregate, proving GDPR evidence costs metadata, not a corpus pass")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.builder(4, "graft-plandump").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — flagship physical plans (generated by `graft.PlanDump`)\n\n")
    sb.append(s"`explain(\"formatted\")` at `$sfDir`, AQE initial plans. ")
    sb.append("Regenerate with `sbt \"runMain graft.PlanDump\"`; the same ")
    sb.append("properties are asserted mechanically in `PlanSpec`.\n")
    Flagships.foreach { case (name, why) =>
      val q = SparkEntry.allSpecs.find(_.name == name).getOrElse(
        sys.error(s"unknown flagship $name"))
      val plan = q.run(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name — $why\n\n```\n")
      // keep the operator tree (between the "== Physical Plan ==" header
      // and the first blank line); the per-node detail section below it
      // repeats every field at full width and triples the file
      val tree = plan.linesIterator.drop(1).takeWhile(_.trim.nonEmpty)
      sb.append(tree.mkString("\n"))
      sb.append("\n```\n")
    }
    sb.append(streamAsOfSection(spark))
    sb.append(forwardWithinSection(spark))
    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[plandump] wrote PLANS.md (${Flagships.size + 2} plans, " +
      s"sfDir=$sfDir)")
    spark.stop()
  }

  private case class DumpProbe(k: String, pts: java.sql.Timestamp, tid: Long)
  private case class DumpBuild(k: String, bts: java.sql.Timestamp, px: Double)
  private case class FwdProbe(pk: String, pts: java.sql.Timestamp, tid: Long)
  private case class FwdBuild(bk: String, bts: java.sql.Timestamp, px: Double)

  /** The streaming as-of join's executed microbatch plan — the
    * TransformWithStateExec the batch flagships can't show. State shape
    * (per key): held probes awaiting watermark finality + the
    * non-shadowed build horizon + one timer — O(rows within the
    * watermark horizon), independent of stream lifetime
    * (StreamAsOf.scala eviction proof; StreamAsOfSpec pins it). */
  private def streamAsOfSection(spark: SparkSession): String = try {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val sqlCtx = spark.sqlContext
    implicit val pe: Encoder[DumpProbe] = Encoders.product[DumpProbe]
    implicit val be: Encoder[DumpBuild] = Encoders.product[DumpBuild]
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val probes = MemoryStream[DumpProbe]
    val builds = MemoryStream[DumpBuild]
    val out = graft.streaming.StreamAsOf.backward(probes.toDF(),
      builds.toDF(), key = "k", probeTs = "pts", buildTs = "bts",
      lateness = "10 seconds")
    val ckpt = java.nio.file.Files
      .createTempDirectory("plandump_asof").toString
    val q = out.writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0)).start()
    val plan = try {
      probes.addData(DumpProbe("a", new java.sql.Timestamp(1000), 1L))
      builds.addData(DumpBuild("a", new java.sql.Timestamp(500), 1.0))
      q.processAllAvailable()
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf))(q.explain())
      buf.toString("UTF-8")
    } finally q.stop()
    // object operators print their full serializer expressions — keep the
    // tree shape readable, the detail lives in the code
    val tree = plan.linesIterator
      .dropWhile(!_.startsWith("== Physical Plan =="))
      .drop(1).takeWhile(_.trim.nonEmpty)
      .map(l => if (l.length > 140) l.take(137) + "..." else l)
    "\n## StreamAsOf.backward — watermark-finalized streaming as-of " +
      "(one microbatch)\n\nPer-key state: held probes + non-shadowed " +
      "build horizon + 1 timer — O(watermark horizon), see " +
      "`streaming/StreamAsOf.scala` eviction scaladoc; the stateless " +
      "null-probe branch unions around the stateful operator.\n\n```\n" +
      tree.mkString("\n") + "\n```\n"
  } catch { case e: Throwable =>
    s"\n## StreamAsOf.backward — plan dump unavailable (${e.getMessage})\n"
  }

  /** forwardWithin's chained-stateful microbatch plan: the interval
    * stream-stream join (Spark's own symmetric-hash state) feeding the
    * watermark-finalized argmin TransformWithStateExec. */
  private def forwardWithinSection(spark: SparkSession): String = try {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val sqlCtx = spark.sqlContext
    implicit val pe: Encoder[FwdProbe] = Encoders.product[FwdProbe]
    implicit val be: Encoder[FwdBuild] = Encoders.product[FwdBuild]
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val probes = MemoryStream[FwdProbe]
    val builds = MemoryStream[FwdBuild]
    val out = graft.streaming.StreamAsOf.forwardWithin(probes.toDF(),
      builds.toDF(), key = "pk", probeTs = "pts", buildKey = "bk",
      buildTs = "bts", horizonSeconds = 10, lateness = "10 seconds")
    val ckpt = java.nio.file.Files
      .createTempDirectory("plandump_fwd").toString
    val q = out.writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0)).start()
    val plan = try {
      probes.addData(FwdProbe("a", new java.sql.Timestamp(100000L), 1L))
      builds.addData(FwdBuild("a", new java.sql.Timestamp(105000L), 1.0))
      q.processAllAvailable()
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf))(q.explain())
      buf.toString("UTF-8")
    } finally q.stop()
    val tree = plan.linesIterator
      .dropWhile(!_.startsWith("== Physical Plan =="))
      .drop(1).takeWhile(_.trim.nonEmpty)
      .map(l => if (l.length > 140) l.take(137) + "..." else l)
    "\n## StreamAsOf.forwardWithin — horizon-bounded forward as-of " +
      "(one microbatch)\n\nONE stateful operator (round-9 rewrite; " +
      "`NearestProcessor` subclasses the same machinery for ±horizon " +
      "nearest): the backward processor's shape with finality pushed to " +
      "probeTs + horizon — one key exchange, one TransformWithState, " +
      "builds folded by a ceiling binary search at flush, plus the " +
      "stateless NULL-key passthrough branch unioned in. Per-key state " +
      "is O(rows within horizon + lateness).\n\n```\n" +
      tree.mkString("\n") + "\n```\n"
  } catch { case e: Throwable =>
    s"\n## StreamAsOf.forwardWithin — plan dump unavailable (${e.getMessage})\n"
  }
}
