package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The DELETE-AWARE typed change feed ([[Layout.snapshotChangesTyped]]):
  * inserts from appends, delete rows from merge-on-read key files and
  * merge drop-sets, update = delete + insert at one version, rewrite
  * transparency, bootstrap across a live overlay, refusal only where no
  * change record exists, and cdc-dir lifetime under expiry. */
class SnapshotTypedFeedSpec extends SparkSpec {
  import spark.implicits._

  private def events(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, String, Int)] =
    df.select(col("_commit_version"), col("_change_type"), col("k"))
      .as[(Long, String, Int)].collect().toSeq.sorted

  /** k-keyed table: v1 appends 1-10, v2 appends 11-20. */
  private def twoAppends(dir: String): Unit = {
    Layout.snapshotAppend((1 to 10).map(k => (k, s"a$k")).toDF("k", "s"), dir)
    Layout.snapshotAppend((11 to 20).map(k => (k, s"a$k")).toDF("k", "s"), dir)
  }

  test("appends emit inserts with their commit version") {
    val dir = s"${tmpDir("typedfeed")}/t"
    twoAppends(dir)
    val ev = events(Layout.snapshotChangesTyped(spark, dir, 0L))
    assert(ev === (1 to 10).map(k => (1L, "insert", k)) ++
      (11 to 20).map(k => (2L, "insert", k)))
    // interval (1, 2] sees only the second append
    assert(events(Layout.snapshotChangesTyped(spark, dir, 1L)) ===
      (11 to 20).map(k => (2L, "insert", k)))
  }

  test("snapshotDeleteKeys emits key-only delete rows; non-key columns NULL") {
    val dir = s"${tmpDir("typedfeed_d")}/t"
    twoAppends(dir)
    Layout.snapshotDeleteKeys(spark, dir,
      Seq(3, 15).toDF("k"), Seq("k"))
    val typed = Layout.snapshotChangesTyped(spark, dir, 2L)
    assert(events(typed) === Seq((3L, "delete", 3), (3L, "delete", 15)))
    // delete rows carry NULL in every non-key column
    assert(typed.filter(col("_change_type") === "delete" &&
      col("s").isNotNull).isEmpty)
    // schema = table columns + the two meta columns
    assert(typed.columns.toSeq ===
      Seq("k", "s", "_change_type", "_commit_version"))
  }

  test("merge emits delete for dropped keys + insert for every update row") {
    val dir = s"${tmpDir("typedfeed_m")}/t"
    twoAppends(dir)
    // update k=5 (exists → delete+insert), insert k=99 (absent → insert
    // only), tombstone k=7 (exists → delete), tombstone k=888 (absent →
    // nothing: a no-op tombstone is not a change)
    Layout.snapshotMergeInto(spark, dir,
      Seq((5, "UPD"), (99, "NEW")).toDF("k", "s"), Seq("k"),
      deletes = Some(Seq(7, 888).toDF("k")))
    val ev = events(Layout.snapshotChangesTyped(spark, dir, 2L))
    assert(ev === Seq((3L, "delete", 5), (3L, "delete", 7),
      (3L, "insert", 5), (3L, "insert", 99)))
    // replaying the typed feed over the pre-merge state converges to the
    // merged table: deletes before inserts within a version
    val before = (1 to 20).map(k => (k, s"a$k")).toDF("k", "s")
    val typed = Layout.snapshotChangesTyped(spark, dir, 2L)
    val dels = typed.filter(col("_change_type") === "delete").select("k")
    val ins = typed.filter(col("_change_type") === "insert").select("k", "s")
    val replayed = before.join(dels, Seq("k"), "left_anti").unionByName(ins)
    val want = Layout.snapshotRead(spark, dir).select("k", "s")
    assert(replayed.except(want).isEmpty && want.except(replayed).isEmpty)
  }

  test("compaction (incl. one materializing a live overlay) emits nothing") {
    val dir = s"${tmpDir("typedfeed_c")}/t"
    twoAppends(dir)
    Layout.snapshotDeleteKeys(spark, dir, Seq(4).toDF("k"), Seq("k"))
    Layout.snapshotCompact(spark, dir) // materializes the overlay
    Layout.snapshotAppend(Seq((21, "a21")).toDF("k", "s"), dir)
    val ev = events(Layout.snapshotChangesTyped(spark, dir, 2L))
    // delete surfaced ONCE (at v3), the compaction contributed nothing
    assert(ev === Seq((3L, "delete", 4), (5L, "insert", 21)))
  }

  test("bootstrap (from=0) across a LIVE overlay replays history incl. the delete") {
    val dir = s"${tmpDir("typedfeed_b")}/t"
    twoAppends(dir)
    Layout.snapshotDeleteKeys(spark, dir, Seq(4, 18).toDF("k"), Seq("k"))
    // no compaction: the overlay is live. The file-granular feed refuses
    // this bootstrap outright; the typed feed replays the full history —
    // inserts at their append versions, the takedown as delete rows —
    // which folds to the overlay-applied state
    intercept[IllegalArgumentException] {
      Layout.snapshotChanges(spark, dir, 0L)
    }
    val ev = events(Layout.snapshotChangesTyped(spark, dir, 0L))
    assert(ev === (1 to 10).map(k => (1L, "insert", k)) ++
      (11 to 20).map(k => (2L, "insert", k)) ++
      Seq((3L, "delete", 4), (3L, "delete", 18)))
    // and once maintenance leaves the materializing compaction as the
    // first survivor, a new consumer bootstraps the overlay-applied STATE
    Layout.snapshotCompact(spark, dir)
    Layout.snapshotExpire(spark, dir, keep = 1, orphanGraceMs = 0)
    val boot = events(Layout.snapshotChangesTyped(spark, dir, 0L))
    assert(boot === (1 to 20).filterNot(k => k == 4 || k == 18)
      .map(k => (4L, "insert", k)))
  }

  test("update after a bootstrap interval replays in version order") {
    val dir = s"${tmpDir("typedfeed_o")}/t"
    twoAppends(dir)
    Layout.snapshotDeleteKeys(spark, dir, Seq(6).toDF("k"), Seq("k"))
    Layout.snapshotAppend(Seq((6, "reborn")).toDF("k", "s"), dir)
    // delete at v3, re-insert at v4 — both visible, ordered by version
    val ev = events(Layout.snapshotChangesTyped(spark, dir, 2L))
    assert(ev === Seq((3L, "delete", 6), (4L, "insert", 6)))
  }

  test("snapshotDeleteWhere still refuses (no change record to replay)") {
    val dir = s"${tmpDir("typedfeed_r")}/t"
    twoAppends(dir)
    Layout.snapshotDeleteWhere(spark, dir, col("k") > 15)
    val e = intercept[IllegalArgumentException] {
      Layout.snapshotChangesTyped(spark, dir, 1L).collect()
    }
    assert(e.getMessage.contains("not append-only"))
    // a bootstrap walks the same history, so it refuses too — until
    // maintenance expires the pre-delete versions, after which the first
    // survivor IS the post-delete state
    intercept[IllegalArgumentException] {
      Layout.snapshotChangesTyped(spark, dir, 0L).collect()
    }
    Layout.snapshotExpire(spark, dir, keep = 1, orphanGraceMs = 0)
    assert(events(Layout.snapshotChangesTyped(spark, dir, 0L))
      .map(_._3).toSet === (1 to 15).toSet)
  }

  test("KEYED snapshotDeleteWhere records cdc: the feed replays the delete") {
    val dir = s"${tmpDir("typedfeed_kd")}/t"
    twoAppends(dir)
    Layout.snapshotDeleteWhere(spark, dir, col("k") % 7 === 0,
      keyCols = Seq("k"))                                            // v3
    // delete rows carry the matched keys (7 and 14), non-keys NULL
    assert(events(Layout.snapshotChangesTyped(spark, dir, 2L)) ===
      Seq((3L, "delete", 7), (3L, "delete", 14)))
    // the full replay reconstructs the table state
    val ev = Layout.snapshotChangesTyped(spark, dir, 0L)
      .select(col("_change_type"), col("k")).as[(String, Int)]
      .collect()
    val replayed = ev.filter(_._1 == "insert").map(_._2).toSet --
      ev.filter(_._1 == "delete").map(_._2).toSet
    assert(replayed === Layout.snapshotRead(spark, dir)
      .select("k").as[Int].collect().toSet)
    // the FILE feed still refuses — replaced files have no file delta
    intercept[IllegalArgumentException] {
      Layout.snapshotChanges(spark, dir, 2L).collect()
    }
  }

  test("KEYED snapshotUpdateWhere records cdc: delete(key) + insert(new row)") {
    val dir = s"${tmpDir("typedfeed_ku")}/t"
    twoAppends(dir)
    Layout.snapshotUpdateWhere(spark, dir, col("k") % 9 === 0,
      Seq("s" -> lit("UP")), keyCols = Seq("k"))                     // v3
    val ev3 = Layout.snapshotChangesTyped(spark, dir, 2L)
      .select(col("_change_type"), col("k"), col("s"))
      .as[(String, Int, Option[String])].collect().toSet
    assert(ev3 === Set(("delete", 9, None), ("delete", 18, None),
      ("insert", 9, Some("UP")), ("insert", 18, Some("UP"))))
    // assigning the key column under keyCols refuses (re-keying)
    val e = intercept[Exception] {
      Layout.snapshotUpdateWhere(spark, dir, lit(true),
        Seq("k" -> lit(99)), keyCols = Seq("k"))
    }
    assert(e.getMessage.contains("re-key"), e.getMessage)
    // unkeyed update still refuses the feed (previous contract intact)
    Layout.snapshotUpdateWhere(spark, dir, col("k") === 1,
      Seq("s" -> lit("z")))                                          // v4
    intercept[IllegalArgumentException] {
      Layout.snapshotChangesTyped(spark, dir, 3L).collect()
    }
  }

  test("expire keeps cdc dirs exactly as long as their manifest survives") {
    val dir = s"${tmpDir("typedfeed_e")}/t"
    twoAppends(dir)
    Layout.snapshotMergeInto(spark, dir,
      Seq((5, "UPD")).toDF("k", "s"), Seq("k"))
    Layout.snapshotAppend(Seq((21, "a21")).toDF("k", "s"), dir)
    // v2 (the consumer's checkpoint), v3 (the merge, whose cdc dirs the
    // feed reads) and v4 survive → the typed interval must still replay
    Layout.snapshotExpire(spark, dir, keep = 3, orphanGraceMs = 0)
    val ev = events(Layout.snapshotChangesTyped(spark, dir, 2L))
    assert(ev === Seq((3L, "delete", 5), (3L, "insert", 5),
      (4L, "insert", 21)))
    // expire past v3 → cdc dirs for it are swept with the manifest
    Layout.snapshotExpire(spark, dir, keep = 1, orphanGraceMs = 0)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftover = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data"))
      .map(_.getPath.getName).filter(_.contains("-cdc"))
    assert(leftover.isEmpty, s"cdc dirs leaked past expiry: ${leftover.toSeq}")
  }

  test("typed feed across an add-column evolution null-fills old delta files") {
    val dir = s"${tmpDir("typedfeed_ev")}/t"
    Layout.snapshotAppend((1 to 5).map(k => (k, s"a$k")).toDF("k", "s"), dir)
    Layout.snapshotEvolve(
      (6 to 8).map(k => (k, s"a$k", k * 1.5)).toDF("k", "s", "q"), dir)
    val typed = Layout.snapshotChangesTyped(spark, dir, 0L)
    assert(typed.columns.toSeq ===
      Seq("k", "s", "q", "_change_type", "_commit_version"))
    assert(typed.filter(col("_commit_version") === 1 &&
      col("q").isNotNull).isEmpty)
    assert(typed.filter(col("_commit_version") === 2).count() === 3)
  }

  test("empty interval yields an empty, correctly-shaped frame") {
    val dir = s"${tmpDir("typedfeed_0")}/t"
    twoAppends(dir)
    val typed = Layout.snapshotChangesTyped(spark, dir, 2L, 2L)
    assert(typed.columns.toSeq ===
      Seq("k", "s", "_change_type", "_commit_version"))
    assert(typed.isEmpty)
  }

  test("updateImages: keyed UPDATE replays as pre/post image pairs") {
    val dir = s"${tmpDir("typedfeed_img")}/t"
    twoAppends(dir)
    Layout.snapshotUpdateWhere(spark, dir, col("k") % 9 === 0,
      Seq("s" -> lit("UP")), keyCols = Seq("k"))                     // v3
    // image mode: the same commit replays as preimage/postimage pairs
    val img = Layout.snapshotChangesTyped(spark, dir, 2L,
        updateImages = true)
      .select(col("_change_type"), col("k"), col("s"))
      .as[(String, Int, Option[String])].collect().toSet
    assert(img === Set(
      ("update_preimage", 9, Some("a9")),
      ("update_preimage", 18, Some("a18")),
      ("update_postimage", 9, Some("UP")),
      ("update_postimage", 18, Some("UP"))),
      s"got $img")
    // default mode over the SAME commit keeps the two-type contract
    val plain = Layout.snapshotChangesTyped(spark, dir, 2L)
      .select("_change_type").distinct().as[String].collect().toSet
    assert(plain === Set("delete", "insert"))
    // the incremental-aggregate use: old sum - pre + post == new sum,
    // no time travel needed
    val pre = img.collect { case ("update_preimage", k, _) => k }.sum
    val post = img.collect { case ("update_postimage", k, _) => k }.sum
    assert(pre === post, "keys never change across an update")
  }

  test("updateImages: merge with preImages splits updates / inserts / deletes") {
    val dir = s"${tmpDir("typedfeed_imgm")}/t"
    twoAppends(dir)
    Layout.snapshotMergeInto(spark, dir,
      Seq((5, "NEW5"), (30, "fresh")).toDF("k", "s"), Seq("k"),
      deletes = Some(Seq(11).toDF("k")),
      preImages = true)                                              // v3
    val ev = Layout.snapshotChangesTyped(spark, dir, 2L,
        updateImages = true)
      .select(col("_change_type"), col("k"), col("s"))
      .as[(String, Int, Option[String])].collect().toSet
    assert(ev === Set(
      ("update_preimage", 5, Some("a5")),   // matched: old row
      ("update_postimage", 5, Some("NEW5")), // matched: new row
      ("insert", 30, Some("fresh")),        // unmatched: plain insert
      ("delete", 11, None)),                // tombstone: plain delete
      s"got $ev")
  }

  test("a first-ever commit cannot conjure another table's update-image " +
      "policy; the declared create door keeps it") {
    // the batch's schema carries CdcImagesKey flags — the shape of a
    // DataFrame read from some OTHER graft table whose policy rides its
    // schema of record. An UNDECLARED first commit must strip them
    // (ADVICE r12: the declaration doors are the only writers)...
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean(Layout.CdcImagesKey, true).build()
    val flagged = (1 to 5).map(i => (i, s"a$i")).toDF("k", "s")
      .select(col("k").as("k", md), col("s").as("s", md))
    val plainDir = s"${tmpDir("typedfeed_conj")}/plain"
    Layout.snapshotEvolve(flagged, plainDir)
    assert(Layout.snapshotCdcUpdateImages(spark, plainDir).isEmpty,
      "an undeclared first commit must not adopt batch-riding policy")
    // ...while the catalog's CREATE TABLE route (snapshotCreate) is the
    // deliberate declaration and keeps them
    val declDir = s"${tmpDir("typedfeed_conj")}/decl"
    Layout.snapshotCreate(flagged, declDir)
    assert(Layout.snapshotCdcUpdateImages(spark, declDir) === Some(true),
      "the declared door's flags ARE the declaration")
  }

  test("stray key/cluster flags are stripped like the CDC flag — first " +
      "commit AND later evolve of an undeclared table") {
    // a batch read from another graft table carries that table's
    // graft.key / graft.cluster.pos flags in its field metadata — the
    // exact leak class ADVICE r12 closed for CdcImagesKey, which rides
    // parquet footers and the evolve inherit path the same way
    // (ADVICE r13). A wrongly adopted graft.key changes DELETE/MERGE
    // replay semantics, so all three strip everywhere but the doors.
    val kmd = new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean(Layout.KeyColKey, true).build()
    val cmd = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(Layout.ClusterPosKey, 0L).build()
    val flagged = (1 to 5).map(i => (i, s"a$i")).toDF("k", "s")
      .select(col("k").as("k", kmd), col("s").as("s", cmd))
    // undeclared FIRST commit: strip
    val plainDir = s"${tmpDir("typedfeed_kconj")}/plain"
    Layout.snapshotEvolve(flagged, plainDir)
    assert(Layout.snapshotKeyCols(spark, plainDir).isEmpty,
      "an undeclared first commit must not adopt a foreign graft.key")
    assert(Layout.snapshotClusterCols(spark, plainDir).isEmpty,
      "an undeclared first commit must not adopt a foreign clustering")
    // later EVOLVE of an existing undeclared table: strip too — the
    // table's (empty) declaration is authoritative over the batch's
    val widened = flagged.withColumn("extra", lit(1))
    Layout.snapshotEvolve(widened, plainDir)
    assert(Layout.snapshotKeyCols(spark, plainDir).isEmpty &&
      Layout.snapshotClusterCols(spark, plainDir).isEmpty,
      "an evolve must not adopt batch-riding key/cluster flags")
    // the declaration door keeps them…
    val declDir = s"${tmpDir("typedfeed_kconj")}/decl"
    Layout.snapshotCreate(flagged, declDir)
    assert(Layout.snapshotKeyCols(spark, declDir) === Seq("k"))
    assert(Layout.snapshotClusterCols(spark, declDir) === Seq("s"))
    // …and a declared table's flags survive an evolve with a PLAIN
    // batch (the inherit direction, unchanged)
    Layout.snapshotEvolve((6 to 8).map(i => (i, s"a$i")).toDF("k", "s")
      .withColumn("extra", lit(2)), declDir)
    assert(Layout.snapshotKeyCols(spark, declDir) === Seq("k") &&
      Layout.snapshotClusterCols(spark, declDir) === Seq("s"),
      "declared flags must survive an evolve with a metadata-less batch")
  }

  test("rename / drop / retype of a table with no schema line adopt no " +
      "flag or field ID from its file footers") {
    // a plain append records no schema line; its footers keep the
    // batch's field metadata — here a foreign table's key and
    // clustering flags, and one field ID on both columns (the shape of
    // a join of two renamed tables). The metadata-only evolutions fall
    // back to a footer for the schema of record they then write.
    def md(k: String, v: Long) = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(Layout.FieldIdKey, 1L).putLong(k, v).build()
    val kmd = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(md(Layout.ClusterPosKey, 0L))
      .putBoolean(Layout.KeyColKey, true).build()
    val flagged = (1 to 5).map(i => (i, s"a$i", i.toLong)).toDF("k", "s", "n")
      .select(col("k").as("k", kmd), col("s").as("s", md(Layout.ClusterPosKey, 1L)),
        col("n"))
    val ops: Seq[(String, String => Unit, Seq[String])] = Seq(
      ("rename", d => Layout.snapshotRename(spark, d, Map("s" -> "t")),
        Seq("k", "t", "n")),
      ("drop", d => Layout.snapshotDropColumns(spark, d, Seq("n")),
        Seq("k", "s")),
      ("retype", d => Layout.snapshotRetype(spark, d,
        Map("k" -> org.apache.spark.sql.types.LongType)), Seq("k", "s", "n")))
    ops.foreach { case (what, op, cols) =>
      val dir = s"${tmpDir("typedfeed_footer")}/$what"
      Layout.snapshotAppend(flagged, dir)
      op(dir)
      assert(Layout.snapshotKeyCols(spark, dir).isEmpty,
        s"$what must not adopt a footer's graft.key")
      assert(Layout.snapshotClusterCols(spark, dir).isEmpty,
        s"$what must not adopt a footer's clustering")
      val back = Layout.snapshotRead(spark, dir)
      assert(back.columns.toSeq === cols)
      assert(back.select(col("k").cast("int"), col(cols(1)))
        .as[(Int, String)].collect().sorted.toSeq ===
        (1 to 5).map(i => (i, s"a$i")), s"$what read-back")
    }
  }

  test("updateImages pairs a publish's same-key delete+insert on " +
      "declared keys; unpaired rows keep their plain types") {
    val dir = s"${tmpDir("typedfeed_pubimg")}/t"
    // declared-key table (the catalog's TBLPROPERTIES route)
    val kmd = new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean(Layout.KeyColKey, true).build()
    Layout.snapshotCreate((1 to 10).map(i => (i, s"a$i")).toDF("k", "s")
      .select(col("k").as("k", kmd), col("s")).repartition(1), dir)  // v1
    Layout.snapshotBranch(spark, dir, "audit")
    // staged CDC upsert (update k=5, insert k=11) + a pure takedown
    Layout.snapshotBranchMerge(spark, dir, "audit",
      Seq((5, "NEW5"), (11, "new11")).toDF("k", "s"), Seq("k"))
    Layout.snapshotBranchDeleteKeys(spark, dir, "audit",
      Seq(Tuple1(7)).toDF("k"), Seq("k"))
    Layout.snapshotFastForward(spark, dir, "audit")                  // v2
    def ev(images: Boolean): Set[(String, Int, String)] =
      Layout.snapshotChangesTyped(spark, dir, 1L, 2L,
          updateImages = images)
        .select(col("_change_type"), col("k"), col("s"))
        .as[(String, Int, String)].collect().toSet
    assert(ev(true) === Set(
      ("update_preimage", 5, "a5"),    // key on both sides: image pair
      ("update_postimage", 5, "NEW5"),
      ("insert", 11, "new11"),         // new key: plain insert
      ("delete", 7, "a7")),            // pure takedown: plain delete
      s"got ${ev(true)}")
    // without the option the same publish keeps the plain typing
    assert(ev(false) === Set(
      ("delete", 5, "a5"), ("insert", 5, "NEW5"),
      ("insert", 11, "new11"), ("delete", 7, "a7")))
  }

  test("updateImages degrades to delete+insert when no pre record exists") {
    val dir = s"${tmpDir("typedfeed_imgd")}/t"
    twoAppends(dir)
    // a merge WITHOUT preImages records the 3-field cdc line
    Layout.snapshotMergeInto(spark, dir,
      Seq((5, "NEW5")).toDF("k", "s"), Seq("k"))                     // v3
    val ev = Layout.snapshotChangesTyped(spark, dir, 2L,
        updateImages = true)
      .select(col("_change_type"), col("k"), col("s"))
      .as[(String, Int, Option[String])].collect().toSet
    assert(ev === Set(("delete", 5, None), ("insert", 5, Some("NEW5"))),
      s"got $ev")
    // the pre-image dir participates in the expiry reference sweep:
    // a keyed update's cdcp dir survives while its manifest does
    Layout.snapshotUpdateWhere(spark, dir, col("k") === 1,
      Seq("s" -> lit("U1")), keyCols = Seq("k"))                     // v4
    Layout.snapshotExpire(spark, dir, keep = 2, orphanGraceMs = 0)
    val img = Layout.snapshotChangesTyped(spark, dir, 3L,
        updateImages = true)
      .select(col("_change_type"), col("k"), col("s"))
      .as[(String, Int, Option[String])].collect().toSet
    assert(img === Set(("update_preimage", 1, Some("a1")),
      ("update_postimage", 1, Some("U1"))), s"got $img")
  }
}
