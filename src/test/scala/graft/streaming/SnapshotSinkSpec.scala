package graft.streaming

import graft.SparkSpec
import graft.ops.Layout

class SnapshotSinkSpec extends SparkSpec {
  import spark.implicits._

  test("appendOnce: replayed batch ids commit nothing, versions accumulate") {
    val dir = tmpDir("snapsink") + "/t"
    assert(SnapshotSink.appendOnce((1 to 100).toDF("v"), 0L, dir) === true)
    assert(SnapshotSink.appendOnce((101 to 150).toDF("v"), 1L, dir) === true)
    // replays of both committed ids: skipped, no new version
    assert(SnapshotSink.appendOnce((1 to 100).toDF("v"), 0L, dir) === false)
    assert(SnapshotSink.appendOnce((101 to 150).toDF("v"), 1L, dir) === false)
    assert(Layout.snapshotVersions(spark, dir) === Seq(1L, 2L))
    assert(Layout.snapshotRead(spark, dir).as[Int].collect().sorted.toSeq
      === (1 to 150))
    // the next real batch commits
    assert(SnapshotSink.appendOnce((151 to 160).toDF("v"), 2L, dir) === true)
    assert(Layout.snapshotRead(spark, dir).count() === 160)
  }

  test("appendOnce with statsCols: a streamed table is born skippable") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("snapsink-stats") + "/t"
    assert(SnapshotSink.appendOnce((1 to 100).toDF("v"), 0L, dir,
      statsCols = Seq("v")))
    assert(SnapshotSink.appendOnce((101 to 200).toDF("v"), 1L, dir,
      statsCols = Seq("v")))
    val pruned = Layout.snapshotReadWhere(spark, dir, col("v") > 150)
    assert(pruned.as[Int].collect().sorted.toSeq === (151 to 200))
    assert(pruned.inputFiles.forall(_.contains("/v00000002-")),
      "batch 0's files should be pruned by the manifest stats")
  }

  test("appendOnce: crash before the manifest is invisible, replay re-commits") {
    val dir = tmpDir("snapsink2") + "/t"
    SnapshotSink.appendOnce((1 to 10).toDF("v"), 0L, dir)
    // simulate a crash mid-commit of batch 1: data written, no manifest
    (1 to 5).toDF("v").write.parquet(s"$dir/data/v00000002-deadbeef")
    assert(Layout.snapshotRead(spark, dir).count() === 10) // readers clean
    // the replay of batch 1 is NOT a duplicate (it never committed)
    assert(SnapshotSink.appendOnce((11 to 25).toDF("v"), 1L, dir) === true)
    assert(Layout.snapshotRead(spark, dir).as[Int].collect().sorted.toSeq
      === (1 to 25))
  }

  test("appendOnce: per-commit manifest reads stay O(1) as versions accumulate") {
    val dir = tmpDir("snapsink-o1") + "/t"
    (0 until 12).foreach { i =>
      assert(SnapshotSink.appendOnce(Seq(i).toDF("v"), i.toLong, dir))
    }
    // the 13th commit must not pay for the 12 historical manifests: one
    // GET resolves the newest batch marker (descending lazy probe), one
    // GET resolves the carried-forward file base inside snapshotAppend
    val before = Layout.manifestReads.get()
    assert(SnapshotSink.appendOnce(Seq(99).toDF("v"), 12L, dir))
    val reads = Layout.manifestReads.get() - before
    assert(reads <= 3,
      s"commit #13 read $reads manifests — the probe is walking history")
    // and a replay probe is O(1) too
    val before2 = Layout.manifestReads.get()
    assert(SnapshotSink.appendOnce(Seq(99).toDF("v"), 12L, dir) === false)
    assert(Layout.manifestReads.get() - before2 <= 2)
    // one keyed upsert on the same history: the replay probe, the
    // latest-version check and the merge commit stay O(1) too
    val before3 = Layout.manifestReads.get()
    assert(SnapshotSink.mergeOnce(Seq(5, 100).toDF("v"), 13L, dir,
      Seq("v")))
    val mergeReads = Layout.manifestReads.get() - before3
    assert(mergeReads <= 5,
      s"one mergeOnce upsert read $mergeReads manifests")
  }

  test("appendOnce: a batchId far below the newest marker fails loudly") {
    val dir = tmpDir("snapsink-reset") + "/t"
    (0 until 5).foreach { i =>
      SnapshotSink.appendOnce(Seq(i).toDF("v"), i.toLong, dir)
    }
    // engine recovery replays at most one batch: ids 4 and 3 are replays
    assert(SnapshotSink.appendOnce(Seq(4).toDF("v"), 4L, dir) === false)
    assert(SnapshotSink.appendOnce(Seq(3).toDF("v"), 3L, dir) === false)
    // a reset/forked checkpoint restarting at 0 must not silently drop
    // every future batch as a "replay"
    val e = intercept[IllegalStateException] {
      SnapshotSink.appendOnce(Seq(0).toDF("v"), 0L, dir)
    }
    assert(e.getMessage.contains("checkpoint"))
  }

  test("foreachBatch restart: batchIds continue, no rows dropped or doubled") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("snapsink-rs") + "/t"
    val ckpt = tmpDir("snapsink-rs-ckpt")
    val in = MemoryStream[Int]
    def start() = in.toDF().writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        SnapshotSink.appendOnce(b, id, dir): Unit)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    val q1 = start()
    try { in.addData(1 to 40: _*); q1.processAllAvailable() } finally q1.stop()
    // restart from the same checkpoint: the engine resumes numbering
    // where the commit log left off, so the marker sequence must stay
    // strictly increasing and nothing replays as a new version
    val q2 = start()
    try { in.addData(41 to 70: _*); q2.processAllAvailable() } finally q2.stop()
    assert(Layout.snapshotRead(spark, dir).as[Int].collect().sorted.toSeq
      === (1 to 70))
    val markers = Layout.snapshotVersions(spark, dir)
      .flatMap(v => Layout.snapshotMetaOf(spark, dir, v))
      .collect { case m if m.startsWith("batch=") =>
        m.stripPrefix("batch=").toLong }
    assert(markers === markers.sorted && markers.distinct === markers,
      s"batch markers not strictly increasing across restart: $markers")
  }

  test("a real stream through foreachBatch lands versioned + change-scannable") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("snapsink3") + "/t"
    val in = MemoryStream[Int]
    val q = in.toDF().writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        SnapshotSink.appendOnce(b, id, dir): Unit)
      .option("checkpointLocation", tmpDir("snapsink3-ckpt"))
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      in.addData(1 to 50: _*); q.processAllAvailable()
      in.addData(51 to 80: _*); q.processAllAvailable()
    } finally q.stop()
    val versions = Layout.snapshotVersions(spark, dir)
    assert(versions.nonEmpty)
    assert(Layout.snapshotRead(spark, dir).as[Int].collect().sorted.toSeq
      === (1 to 80))
    // each micro-batch is one version: the change feed between the first
    // and latest version is everything after the first batch
    if (versions.size > 1)
      assert(Layout.snapshotChanges(spark, dir, versions.head)
        .as[Int].collect().sorted.toSeq === (51 to 80))
  }

  test("mergeOnce: streaming upsert — replay no-ops, seqCol folds, bootstrap") {
    val dir = tmpDir("snapsink-merge") + "/t"
    val keys = Seq("k")
    // batch 0 bootstraps the table (pure insert, replay contract active)
    assert(SnapshotSink.mergeOnce(
      Seq((1, "a", 0L), (2, "b", 0L)).toDF("k", "s", "seq"),
      0L, dir, keys, seqCol = Some("seq")))
    // batch 1 updates k=2 and inserts k=3; its replay must no-op
    val b1 = Seq((2, "b2", 1L), (3, "c", 1L)).toDF("k", "s", "seq")
    assert(SnapshotSink.mergeOnce(b1, 1L, dir, keys, seqCol = Some("seq")))
    assert(!SnapshotSink.mergeOnce(b1, 1L, dir, keys, seqCol = Some("seq")))
    // batch 2 folds two upstream versions of k=3 (a drained backlog):
    // last-writer-wins by seq before the merge
    assert(SnapshotSink.mergeOnce(
      Seq((3, "c2", 2L), (3, "c3", 3L), (4, "d", 3L))
        .toDF("k", "s", "seq"),
      2L, dir, keys, seqCol = Some("seq")))
    val got = Layout.snapshotRead(spark, dir)
      .select("k", "s").as[(Int, String)].collect().toMap
    assert(got === Map(1 -> "a", 2 -> "b2", 3 -> "c3", 4 -> "d"))
    // a (key, seq) tie is ambiguous — refuse, never pick a winner
    val tie = intercept[IllegalArgumentException] {
      SnapshotSink.mergeOnce(
        Seq((5, "x", 9L), (5, "y", 9L)).toDF("k", "s", "seq"),
        3L, dir, keys, seqCol = Some("seq"))
    }
    assert(tie.getMessage.contains("tied"))
    // without seqCol, duplicate keys refuse (strict contract)...
    val dup = intercept[IllegalArgumentException] {
      SnapshotSink.mergeOnce(
        Seq((6, "x", 0L), (6, "y", 0L)).toDF("k", "s", "seq"),
        3L, dir, keys)
    }
    assert(dup.getMessage.contains("duplicate key"))
    // ...including on a bootstrap batch
    val dir2 = tmpDir("snapsink-merge2") + "/t"
    val dupBoot = intercept[IllegalArgumentException] {
      SnapshotSink.mergeOnce(
        Seq((1, "x", 0L), (1, "y", 0L)).toDF("k", "s", "seq"),
        0L, dir2, keys)
    }
    assert(dupBoot.getMessage.contains("duplicate"))
  }

  test("mergeOnce restart: upserts resume from the checkpoint, view converges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("snapsink-mrs") + "/t"
    val ckpt = tmpDir("snapsink-mrs-ckpt")
    val in = MemoryStream[(Int, String, Long)]
    def start() = in.toDF().toDF("k", "s", "seq").writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        SnapshotSink.mergeOnce(b, id, dir, Seq("k"),
          seqCol = Some("seq")): Unit)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    val q1 = start()
    try {
      in.addData((1, "a", 0L), (2, "b", 0L))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart: engine batchIds continue; the first post-restart batch
    // updates an existing key and inserts a new one — neither dropped
    // as a phantom replay nor applied twice
    val q2 = start()
    try {
      in.addData((2, "b2", 1L), (3, "c", 1L))
      q2.processAllAvailable()
      in.addData((1, "a2", 2L))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = Layout.snapshotRead(spark, dir)
      .select("k", "s").as[(Int, String)].collect().toMap
    assert(got === Map(1 -> "a2", 2 -> "b2", 3 -> "c"))
  }

  test("mergeOnce deleteCol: tombstones delete; fold resolves del-then-reinsert") {
    val dir = tmpDir("snapsink-cdc-del") + "/t"
    val keys = Seq("k")
    def b(rows: (Int, String, Long, Boolean)*) =
      rows.toDF("k", "s", "seq", "del")
    // bootstrap: one live row, one tombstone for a never-seen key (no-op),
    // one insert-then-tombstone pair folded to a delete (no-op on empty)
    assert(SnapshotSink.mergeOnce(
      b((1, "a", 0L, false), (9, "zzz", 0L, true),
        (2, "b", 0L, false), (2, "", 1L, true)),
      0L, dir, keys, seqCol = Some("seq"), deleteCol = Some("del")))
    val boot = Layout.snapshotRead(spark, dir)
    // the tombstone marker never reaches the table schema
    assert(boot.schema.fieldNames.toSeq === Seq("k", "s", "seq"))
    assert(boot.select("k").as[Int].collect().toSeq === Seq(1))
    // batch 1: delete k=1, insert k=3, and a tombstone-then-reinsert for
    // k=4 that folds to the INSERT
    assert(SnapshotSink.mergeOnce(
      b((1, "", 1L, true), (3, "c", 1L, false),
        (4, "", 1L, true), (4, "d2", 2L, false)),
      1L, dir, keys, seqCol = Some("seq"), deleteCol = Some("del")))
    val got = Layout.snapshotRead(spark, dir)
      .select("k", "s").as[(Int, String)].collect().toMap
    assert(got === Map(3 -> "c", 4 -> "d2"))
    // replay of the tombstone batch no-ops
    assert(!SnapshotSink.mergeOnce(
      b((1, "", 1L, true), (3, "c", 1L, false)),
      1L, dir, keys, seqCol = Some("seq"), deleteCol = Some("del")))
    assert(Layout.snapshotRead(spark, dir).count() === 2)
  }

  test("mergeOnce(preImages): the maintained table's feed serves image pairs") {
    val dir = tmpDir("sink_preimg") + "/t"
    assert(SnapshotSink.mergeOnce(
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "s"), 0L, dir,
      Seq("k"), preImages = true))                       // bootstrap = v1
    assert(SnapshotSink.mergeOnce(
      Seq((2, "B"), (4, "d")).toDF("k", "s"), 1L, dir,
      Seq("k"), preImages = true))                       // merge = v2
    val img = Layout.snapshotChangesTyped(spark, dir, 1L, 2L,
        updateImages = true)
      .select("_change_type", "k", "s")
      .as[(String, Int, String)].collect().toSet
    assert(img === Set(
      ("update_preimage", 2, "b"), ("update_postimage", 2, "B"),
      ("insert", 4, "d")), s"got $img")
    // a replayed micro-batch still no-ops with the option set
    assert(!SnapshotSink.mergeOnce(
      Seq((2, "B"), (4, "d")).toDF("k", "s"), 1L, dir,
      Seq("k"), preImages = true))
  }

  test("appendOnce onto a branch: staged exactly-once ingest, published " +
      "atomically; the base copy's inherited marker is main's lineage") {
    val dir = tmpDir("snapsinkbr") + "/t"
    // main is ITSELF sink-owned: batchIds 0..2 committed with markers
    (0 to 2).foreach(i => assert(SnapshotSink.appendOnce(
      (i * 10 + 1 to i * 10 + 10).toDF("v"), i.toLong, dir)))
    Layout.snapshotBranch(spark, dir, "staged")
    // the BRANCH query starts its own checkpoint lineage at 0 — main's
    // inherited batch=2 marker in the base copy must not read as a
    // deep regression
    assert(SnapshotSink.appendOnce((101 to 110).toDF("v"), 0L, dir,
      branch = Some("staged")))
    assert(SnapshotSink.appendOnce((111 to 120).toDF("v"), 1L, dir,
      branch = Some("staged")))
    // replay on the branch no-ops; main never saw a staged row
    assert(!SnapshotSink.appendOnce((101 to 110).toDF("v"), 0L, dir,
      branch = Some("staged")))
    assert(Layout.snapshotRead(spark, dir).count() === 30)
    assert(Layout.snapshotBranchRead(spark, dir, "staged").count() === 50)
    // a deep branch-side regression still fails loudly
    intercept[IllegalStateException] {
      SnapshotSink.appendOnce((1 to 5).toDF("v"), -5L, dir,
        branch = Some("staged"))
    }
    // publish the staged window atomically; the feed sees one delta
    val before = Layout.snapshotLatestVersion(spark, dir).get
    val pub = Layout.snapshotFastForward(spark, dir, "staged")
    assert(Layout.snapshotRead(spark, dir).count() === 50)
    assert(Layout.snapshotChanges(spark, dir, before, pub)
      .as[Int].collect().sorted.toSeq === (101 to 120))
    // main's OWN sink lineage is untouched by the publish (the
    // fastforward marker is per-commit, not a batch marker): the main
    // query's next batchId continues from 2
    assert(SnapshotSink.appendOnce((201 to 205).toDF("v"), 3L, dir))
    assert(Layout.snapshotRead(spark, dir).count() === 55)
  }

  test("appendOnce across a REBASE: the rebase manifest carries no " +
      "batch marker, so the replay probe walks past it and " +
      "exactly-once holds") {
    val dir = tmpDir("snapsinkrb") + "/t"
    Layout.snapshotAppend((1 to 10).toDF("v"), dir)                  // v1
    Layout.snapshotBranch(spark, dir, "staged")
    assert(SnapshotSink.appendOnce((101 to 110).toDF("v"), 0L, dir,
      branch = Some("staged")))
    // live main traffic, then the metadata-only re-target
    Layout.snapshotAppend((11 to 20).toDF("v"), dir)                 // v2
    Layout.snapshotRebase(spark, dir, "staged")
    // a replayed micro-batch after the rebase must still no-op: the
    // probe resolves the newest batch= marker THROUGH the marker-less
    // rebase manifest
    assert(!SnapshotSink.appendOnce((101 to 110).toDF("v"), 0L, dir,
      branch = Some("staged")))
    // the stream continues on the rebased branch and publishes whole
    assert(SnapshotSink.appendOnce((111 to 120).toDF("v"), 1L, dir,
      branch = Some("staged")))
    Layout.snapshotFastForward(spark, dir, "staged")
    assert(Layout.snapshotRead(spark, dir).count() === 40,
      "base + main traffic + both staged micro-batches, each once")
  }
}
