package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed join: no exchange, no sort in the physical plan") {
    val left = (1 to 1000).map(i => (i % 50, s"l$i")).toDF("k", "lv")
    val right = (1 to 1000).map(i => (i % 50, s"r$i")).toDF("k", "rv")
    Layout.writeBucketed(left, "bk_left", "k", 8)
    Layout.writeBucketed(right, "bk_right", "k", 8)
    val joined = spark.sql("SET spark.sql.autoBroadcastJoinThreshold=-1")
      .sparkSession.table("bk_left").join(spark.table("bk_right"), "k")
    try {
      val plan = joined.queryExecution.executedPlan
      def count[T](p: org.apache.spark.sql.execution.SparkPlan,
          pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, Unit]): Int =
        p.collect(pf).size + p.subqueries.map(count(_, pf)).sum
      assert(joined.count() === 20000) // 1000 × (1000/50)
      assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"expected no shuffle:\n$plan")
      assert(plan.collect { case s: SortExec => s }.isEmpty,
        s"expected no sort (bucket-sorted):\n$plan")
    } finally {
      spark.sql("SET spark.sql.autoBroadcastJoinThreshold=10485760")
      spark.sql("DROP TABLE IF EXISTS bk_left")
      spark.sql("DROP TABLE IF EXISTS bk_right")
    }
  }

  test("atomicOverwrite: self-referential rewrite without cache, correct result") {
    val dir = tmpDir("atomic") + "/t"
    (1 to 100).toDF("v").write.parquet(dir)
    // derived from the table it replaces — the exact shape that made the
    // old in-place Overwrite a data-loss hazard
    val doubled = spark.read.parquet(dir).withColumn("v", $"v" * 2)
    Layout.atomicOverwrite(doubled, dir)
    val vs = spark.read.parquet(dir).as[Int].collect().sorted
    assert(vs.length === 100)
    assert(vs.head === 2 && vs.last === 200)
  }

  test("atomicOverwrite: crash between stage and commit leaves the old table readable") {
    val dir = tmpDir("atomic2") + "/t"
    (1 to 10).toDF("v").write.parquet(dir)
    Layout.stageOverwrite(spark.read.parquet(dir).withColumn("v", $"v" + 100), dir)
    // "kill" here: no commit. The live table must be fully intact.
    assert(spark.read.parquet(dir).as[Int].collect().sorted.toSeq === (1 to 10))
    // recovery = just commit (or delete the staged dir); both halves exist
    Layout.commitOverwrite(spark, dir)
    assert(spark.read.parquet(dir).as[Int].collect().min === 101)
  }

  test("compact: merges small files without losing a row, crash-safe rewrite") {
    val dir = tmpDir("compact") + "/t"
    (1 to 10000).toDF("v").repartition(40).write.parquet(dir)
    def parquetFiles() = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles() === 40)
    val n = graft.ops.Layout.compact(spark, dir, targetBytes = 1L << 30)
    assert(n === 1)
    assert(parquetFiles() === 1)
    val vs = spark.read.parquet(dir).as[Int].collect().sorted
    assert(vs.length === 10000 && vs.head === 1 && vs.last === 10000)
  }

  test("compact on a partition directory leaves the parent table undisturbed") {
    val root = tmpDir("compactp") + "/table"
    (1 to 300).map(i => (i, i % 3)).toDF("v", "p")
      .repartition(10).write.partitionBy("p").parquet(root)
    graft.ops.Layout.compact(spark, s"$root/p=1", targetBytes = 1L << 30)
    // staging/old siblings are dot-prefixed, so the parent sees exactly
    // the original partitions — no duplicate rows, no widened partition
    // column, even mid-compaction of one partition dir
    val back = spark.read.parquet(root)
    assert(back.count() === 300)
    assert(back.select($"p").distinct().as[Int].collect().sorted === Array(0, 1, 2))
  }

  test("snapshotCommit: versioned reads, self-referential rewrite, time travel") {
    val dir = tmpDir("snap") + "/t"
    val v1 = Layout.snapshotCommit((1 to 50).toDF("v"), dir)
    assert(v1 === 1L)
    assert(Layout.snapshotRead(spark, dir).as[Int].collect().sorted.toSeq
      === (1 to 50))
    // derived FROM the snapshot it replaces — safe by construction: the
    // new version's files live in a fresh data/v2 directory
    val v2 = Layout.snapshotCommit(
      Layout.snapshotRead(spark, dir).withColumn("v", $"v" + 100), dir)
    assert(v2 === 2L)
    assert(Layout.snapshotRead(spark, dir).as[Int].collect().min === 101)
    // time travel: v1 still readable until expired
    assert(Layout.snapshotRead(spark, dir, version = 1).as[Int]
      .collect().sorted.toSeq === (1 to 50))
    assert(Layout.snapshotVersions(spark, dir) === Seq(1L, 2L))
  }

  test("Tables.snapshot: a pinned reader survives a concurrent commit") {
    val dir = tmpDir("snapc") + "/t"
    val v1 = Layout.snapshotCommit((1 to 40).toDF("v"), dir)
    // the reader resolves v1's file list NOW; a writer then commits v2
    // while the read is outstanding
    val pinned = graft.Tables.snapshot(spark, dir, asOfVersion = v1)
    val latestBefore = graft.Tables.snapshot(spark, dir)
    val writer = new Thread(() =>
      Layout.snapshotCommit((101 to 140).toDF("v"), dir))
    writer.start()
    val seen = pinned.as[Int].collect().sorted.toSeq
    writer.join()
    // the pinned read is v1 exactly — never torn across versions
    assert(seen === (1 to 40))
    // a latest-reader opened BEFORE the commit also stays on its version
    assert(latestBefore.as[Int].collect().sorted.toSeq === (1 to 40))
    // and a fresh latest-reader sees v2
    assert(graft.Tables.snapshot(spark, dir).as[Int].collect().min === 101)
    // re-reading the pinned version after the commit: still v1
    assert(graft.Tables.snapshot(spark, dir, asOfVersion = v1)
      .as[Int].collect().sorted.toSeq === (1 to 40))
  }

  test("snapshotAppend: carried-forward reads, file-granular change feed") {
    val dir = tmpDir("snapa") + "/t"
    val v1 = Layout.snapshotAppend((1 to 20).toDF("v"), dir)
    val v2 = Layout.snapshotAppend((21 to 30).toDF("v"), dir)
    val v3 = Layout.snapshotAppend((31 to 35).toDF("v"), dir)
    assert((v1, v2, v3) === (1L, 2L, 3L))
    // full reads see the union at each version (time travel included)
    assert(Layout.snapshotRead(spark, dir).as[Int].collect().sorted.toSeq
      === (1 to 35))
    assert(Layout.snapshotRead(spark, dir, version = 2).as[Int]
      .collect().sorted.toSeq === (1 to 30))
    // the change feed is exactly the appended rows, file-granular
    assert(Layout.snapshotChanges(spark, dir, fromVersion = 1).as[Int]
      .collect().sorted.toSeq === (21 to 35))
    assert(Layout.snapshotChanges(spark, dir, 1, 2).as[Int]
      .collect().sorted.toSeq === (21 to 30))
    // bootstrap (from 0) and empty (from == to) intervals
    assert(Layout.snapshotChanges(spark, dir, 0, 3).as[Int]
      .collect().sorted.toSeq === (1 to 35))
    assert(Layout.snapshotChanges(spark, dir, 3, 3).count() === 0L)
  }

  test("snapshotAppend: racing appenders both land, loser carries winner's files") {
    val dir = tmpDir("snaparace") + "/t"
    Layout.snapshotAppend((1 to 10).toDF("v"), dir)
    // two appenders race for v2; the loser must retry at v3 AND carry
    // the winner's files forward (the recompute-per-attempt path)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq((11 to 20), (21 to 30)).map { r =>
      new Thread(() =>
        try { Layout.snapshotAppend(r.toDF("v"), dir); () }
        catch { case t: Throwable => errs.add(t) })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"appender failed: ${Option(errs.peek())}")
    assert(Layout.snapshotVersions(spark, dir) === Seq(1L, 2L, 3L))
    // the FINAL version sees every row exactly once, whoever won
    assert(Layout.snapshotRead(spark, dir).as[Int].collect().sorted.toSeq
      === (1 to 30))
    // and the change feed across the race is both batches
    assert(Layout.snapshotChanges(spark, dir, 1).as[Int]
      .collect().sorted.toSeq === (11 to 30))
  }

  test("snapshotChanges: refuses an interval containing a full rewrite") {
    val dir = tmpDir("snapr") + "/t"
    Layout.snapshotAppend((1 to 10).toDF("v"), dir)
    // v2 is a COMPACTING rewrite: drops v1's files from the manifest
    Layout.snapshotCommit(Layout.snapshotRead(spark, dir), dir)
    Layout.snapshotAppend((11 to 15).toDF("v"), dir)
    val e = intercept[IllegalArgumentException] {
      Layout.snapshotChanges(spark, dir, fromVersion = 1)
    }
    assert(e.getMessage.contains("not append-only"),
      s"refusal should name the cause; got: ${e.getMessage}")
    // the append-only tail after the rewrite still diffs fine
    assert(Layout.snapshotChanges(spark, dir, 2, 3).as[Int]
      .collect().sorted.toSeq === (11 to 15))
  }

  test("snapshotCompact: changes skip the rewrite; full rewrite still refuses") {
    val dir = tmpDir("snapc") + "/t"
    Layout.snapshotAppend((1 to 10).toDF("v"), dir)          // v1
    Layout.snapshotAppend((11 to 20).toDF("v"), dir)         // v2
    val vr = Layout.snapshotCompact(spark, dir)              // v3: pure rewrite
    assert(vr === 3L)
    val v4 = Layout.snapshotAppend((21 to 25).toDF("v"), dir)
    assert(v4 === 4L)
    // the rewrite carries the lineage marker and the same rows
    assert(Layout.snapshotMetaOf(spark, dir, vr) === Seq("rewrite-of=2"))
    assert(Layout.snapshotRead(spark, dir, vr).as[Int].collect().sorted.toSeq
      === (1 to 20))
    // changes across the compaction: exactly the post-compaction append,
    // never the rewritten copies of v1/v2's rows
    assert(Layout.snapshotChanges(spark, dir, 2, 4).as[Int]
      .collect().sorted.toSeq === (21 to 25))
    // an interval ENDING at the rewrite is an empty delta
    assert(Layout.snapshotChanges(spark, dir, 2, 3).count() === 0L)
    // an append inside the interval BEFORE the rewrite still reads its
    // original delta files (v1→v4 = v2's rows + v4's rows)
    assert(Layout.snapshotChanges(spark, dir, 1, 4).as[Int]
      .collect().sorted.toSeq === (11 to 25))
    // a marker-less full rewrite in the interval still refuses
    Layout.snapshotCommit(Layout.snapshotRead(spark, dir), dir) // v5
    val e = intercept[IllegalArgumentException] {
      Layout.snapshotChanges(spark, dir, 4)
    }
    assert(e.getMessage.contains("not append-only"))
    // explicit toVersion=0 is a caller bug, not "latest"
    val e0 = intercept[IllegalArgumentException] {
      Layout.snapshotChanges(spark, dir, 1, 0)
    }
    assert(e0.getMessage.contains("sentinel"))
    // expire after the rewrite chain: only the newest version survives
    // and still reads every row (the rewrite's files are self-contained)
    Layout.snapshotExpire(spark, dir, keep = 1, orphanGraceMs = 0)
    assert(Layout.snapshotRead(spark, dir).as[Int].collect().sorted.toSeq
      === (1 to 25))
  }

  test("snapshotAppend refuses a schema-drifted batch; evolution via full rewrite") {
    val dir = tmpDir("snapschema") + "/t"
    Layout.snapshotAppend((1 to 10).toDF("v"), dir)
    // an extra column would commit fine and then make snapshotRead
    // return whichever file's schema the scan samples — refuse loudly
    val drifted = (11 to 15).toDF("v").withColumn("extra", lit("x"))
    val e = intercept[IllegalArgumentException](
      Layout.snapshotAppend(drifted, dir))
    assert(e.getMessage.contains("schema"))
    // a retyped column refuses too
    intercept[IllegalArgumentException](Layout.snapshotAppend(
      (11 to 15).toDF("v").select(col("v").cast("string").as("v")), dir))
    // the evolution door: a snapshotCommit full rewrite with the new
    // schema, after which same-schema appends flow again
    Layout.snapshotCommit(
      Layout.snapshotRead(spark, dir).withColumn("extra", lit("x")), dir)
    Layout.snapshotAppend(drifted, dir)
    assert(Layout.snapshotRead(spark, dir).columns.sorted.toSeq
      === Seq("extra", "v"))
    assert(Layout.snapshotRead(spark, dir).count() === 15)
  }

  test("snapshotDeleteWhere: copy-on-write delete; change feed refuses across it") {
    val dir = tmpDir("snapdel") + "/t"
    Layout.snapshotAppend((1 to 50).toDF("v"), dir)   // v1
    Layout.snapshotAppend((51 to 100).toDF("v"), dir) // v2
    val vd = Layout.snapshotDeleteWhere(spark, dir, col("v") <= 25) // v3
    assert(vd === 3L)
    assert(Layout.snapshotRead(spark, dir).as[Int].collect().sorted.toSeq
      === (26 to 100))
    // time travel still reaches the pre-delete rows until expiry
    assert(Layout.snapshotRead(spark, dir, version = 2).count() === 100)
    // a delete is a MARKER-LESS rewrite: the change feed must refuse to
    // diff across it (a file diff cannot represent removed rows)...
    val e = intercept[IllegalArgumentException](
      Layout.snapshotChanges(spark, dir, 1))
    assert(e.getMessage.contains("not append-only"))
    // ...and resumes cleanly from the post-delete base
    Layout.snapshotAppend((101 to 110).toDF("v"), dir) // v4
    assert(Layout.snapshotChanges(spark, dir, 3).as[Int]
      .collect().sorted.toSeq === (101 to 110))
    // delete-ALL is a legal state: the rewrite keeps a schema-bearing
    // empty file, reads return zero rows, and appends (schema-checked
    // against that empty file's footer) resume
    Layout.snapshotDeleteWhere(spark, dir, lit(true))
    assert(Layout.snapshotRead(spark, dir).count() === 0L)
    Layout.snapshotAppend((200 to 205).toDF("v"), dir)
    assert(Layout.snapshotRead(spark, dir).as[Int].collect().sorted.toSeq
      === (200 to 205))
  }

  test("snapshotCompact racing a concurrent append loses no rows either way") {
    // the optimistic-concurrency claim on snapshotCompact: whichever
    // side wins the version race, the final table carries every row —
    // the compactor re-reads the new base on a lost race, and an
    // appender that loses to the compactor carries the compacted
    // manifest forward on its retry
    val dir = tmpDir("snapcrace") + "/t"
    Layout.snapshotAppend((1 to 50).toDF("v"), dir)
    Layout.snapshotAppend((51 to 100).toDF("v"), dir)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(
      new Thread(() =>
        try { Layout.snapshotCompact(spark, dir); () }
        catch { case t: Throwable => errs.add(t) }),
      new Thread(() =>
        try { Layout.snapshotAppend((101 to 120).toDF("v"), dir); () }
        catch { case t: Throwable => errs.add(t) }))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"racer failed: ${Option(errs.peek())}")
    assert(Layout.snapshotRead(spark, dir).as[Int].collect().sorted.toSeq
      === (1 to 120))
    // and the incremental feed across the whole history still refuses
    // nothing: the only file-dropping version carries the rewrite marker
    assert(Layout.snapshotChanges(spark, dir, 0).as[Int]
      .collect().sorted.toSeq === (1 to 120))
  }

  test("snapshotMergeInto: crash before the manifest is invisible, retry clean") {
    val dir = tmpDir("snapmergecrash") + "/t"
    Layout.snapshotAppend((1 to 20).map(i => (i, s"a$i")).toDF("k", "s"), dir)
    // simulate a merge writer dying after its rewrite data landed but
    // before the manifest PUT: an orphan data dir at the next version
    Seq((5, "GHOST")).toDF("k", "s")
      .write.parquet(s"$dir/data/v00000002-deadbeef")
    // and a driver writer dying mid-file: a parquet body with no footer
    val torn = new java.io.File(s"$dir/data/v00000002-0badf00d",
      s"part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet")
    torn.getParentFile.mkdirs()
    java.nio.file.Files.write(torn.toPath,
      "PAR1".getBytes("US-ASCII") ++ Array.fill[Byte](64)(7))
    assert(Layout.snapshotRead(spark, dir).as[(Int, String)]
      .collect().toMap.apply(5) === "a5", "orphan rewrite leaked into a read")
    // a fresh merge attempt commits cleanly at the SAME version number
    // (data-only orphans consume nothing — only a manifest object does)
    // under its own writer-unique token dir, never sharing the orphan's
    val vm = Layout.snapshotMergeInto(spark, dir,
      Seq((5, "UPD")).toDF("k", "s"), Seq("k"))
    assert(vm === 2L)
    val got = Layout.snapshotRead(spark, dir).as[(Int, String)]
      .collect().toMap
    assert(got.size === 20 && got(5) === "UPD")
    // expiry sweeps the orphan (grace waived), live data intact
    Layout.snapshotExpire(spark, dir, keep = 1, orphanGraceMs = 0)
    assert(Layout.snapshotRead(spark, dir).count() === 20)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/data/v00000002-deadbeef")), "orphan merge data not swept")
    assert(!torn.getParentFile.exists(), "torn driver-written file not swept")
  }

  test("snapshotMergeInto: a failed driver write deletes every directory it began") {
    val dir = tmpDir("snapmergefail") + "/t"
    Layout.snapshotAppend((1 to 20).map(i => (i, s"a$i")).toDF("k", "s"), dir)
    val dataDirs = new java.io.File(s"$dir/data")
    val before = dataDirs.list().toSet
    // a codec with no class on the classpath: the parquet writer starts
    // the file, then fails to make its compressor
    val codec = "spark.sql.parquet.compression.codec"
    val was = spark.conf.getOption(codec)
    spark.conf.set(codec, "brotli")
    try intercept[Exception](Layout.snapshotMergeInto(spark, dir,
      Seq((5, "UPD"), (30, "new")).toDF("k", "s"), Seq("k")))
    finally was.fold(spark.conf.unset(codec))(spark.conf.set(codec, _))
    assert(dataDirs.list().toSet === before, "a failed write left data behind")
    assert(Layout.snapshotVersions(spark, dir) === Seq(1L))
    assert(Layout.snapshotMergeInto(spark, dir,
      Seq((5, "UPD"), (30, "new")).toDF("k", "s"), Seq("k")) === 2L)
    assert(Layout.snapshotRead(spark, dir).as[(Int, String)].collect().toMap ===
      ((1 to 20).map(i => i -> s"a$i") ++ Seq(5 -> "UPD", 30 -> "new")).toMap)
  }

  test("snapshotMergeInto racing a concurrent append loses no rows either way") {
    // same optimistic-concurrency claim as the compact race: whichever
    // side wins the version race, the final table carries the appended
    // rows AND the merged state — the merge re-probes against the new
    // base on a lost race, and an appender that loses carries the
    // merge's manifest forward on its retry
    val dir = tmpDir("snapmrace") + "/t"
    Layout.snapshotAppend((1 to 50).map(i => (i, s"a$i")).toDF("k", "s"), dir)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(
      new Thread(() =>
        try { Layout.snapshotMergeInto(spark, dir,
          Seq((10, "UPD"), (200, "NEW")).toDF("k", "s"), Seq("k")); () }
        catch { case t: Throwable => errs.add(t) }),
      new Thread(() =>
        try { Layout.snapshotAppend(
          (51 to 70).map(i => (i, s"a$i")).toDF("k", "s"), dir); () }
        catch { case t: Throwable => errs.add(t) }))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"racer failed: ${Option(errs.peek())}")
    val got = Layout.snapshotRead(spark, dir).as[(Int, String)]
      .collect().toMap
    assert(got.size === 71) // 50 base + 20 appended + 1 insert; 1 updated
    assert(got(10) === "UPD" && got(200) === "NEW" && got(60) === "a60")
  }

  test("snapshotAppend: expire keeps data files a surviving append references") {
    val dir = tmpDir("snape") + "/t"
    Layout.snapshotAppend((1 to 10).toDF("v"), dir)
    Layout.snapshotAppend((11 to 20).toDF("v"), dir)
    Layout.snapshotAppend((21 to 30).toDF("v"), dir)
    // drop v1 and v2 manifests; v3's manifest still references v1/v2 data
    assert(Layout.snapshotExpire(spark, dir, keep = 1, orphanGraceMs = 0) === 2)
    assert(Layout.snapshotVersions(spark, dir) === Seq(3L))
    assert(Layout.snapshotRead(spark, dir).as[Int].collect().sorted.toSeq
      === (1 to 30))
  }

  test("snapshotExpireOlderThan: wall-clock retention, newest always survives") {
    val dir = tmpDir("snapage") + "/t"
    (1 to 3).foreach(i =>
      Layout.snapshotAppend((i * 10 to i * 10 + 5).toDF("v"), dir))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // age v1 and v2 by two hours; v3 stays fresh
    val old = System.currentTimeMillis() - 2L * 3600 * 1000
    Seq(1, 2).foreach { v =>
      fs.setTimes(new org.apache.hadoop.fs.Path(
        dir, f"_snapshots/v$v%08d.manifest"), old, -1)
    }
    assert(Layout.snapshotExpireOlderThan(spark, dir,
      maxAgeMs = 3600 * 1000, orphanGraceMs = 0) === 2)
    assert(Layout.snapshotVersions(spark, dir) === Seq(3L))
    // carried files survive expiry: the newest manifest references them
    assert(Layout.snapshotRead(spark, dir).count() === 18)
    // everything aged out → the newest still survives (keep >= 1)
    fs.setTimes(new org.apache.hadoop.fs.Path(
      dir, "_snapshots/v00000003.manifest"), old, -1)
    assert(Layout.snapshotExpireOlderThan(spark, dir,
      maxAgeMs = 3600 * 1000, orphanGraceMs = 0) === 0)
    assert(Layout.snapshotVersions(spark, dir) === Seq(3L))
  }

  test("snapshotCommit: crash between data files and manifest is invisible") {
    val dir = tmpDir("snap2") + "/t"
    Layout.snapshotCommit((1 to 10).toDF("v"), dir)
    // "kill" after the data write, before the manifest: simulate by
    // writing the next version's data directory with no manifest object
    (100 to 120).toDF("v").write.parquet(s"$dir/data/v00000002")
    assert(Layout.snapshotRead(spark, dir).as[Int].collect().sorted.toSeq
      === (1 to 10), "orphan data directory leaked into a read")
    assert(Layout.snapshotVersions(spark, dir) === Seq(1L))
    // the next commit claims version 2 in its OWN writer-unique data
    // directory — the dead writer's orphan is never shared, never read
    val v = Layout.snapshotCommit((21 to 30).toDF("v"), dir)
    assert(v === 2L)
    assert(Layout.snapshotRead(spark, dir).as[Int].collect().sorted.toSeq
      === (21 to 30))
    // under the default orphan grace, a just-written unreferenced data
    // dir is NOT swept — it is indistinguishable from a live writer's
    // in-flight commit (data written, manifest not yet created)
    Layout.snapshotExpire(spark, dir, keep = 1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/data/v00000002")),
      "expire swept a fresh orphan inside the grace period")
    // with the grace waived (test-only), expire drops old snapshots AND
    // sweeps every unreferenced data dir (the crashed writer's included)
    Layout.snapshotExpire(spark, dir, keep = 1, orphanGraceMs = 0)
    assert(Layout.snapshotVersions(spark, dir) === Seq(2L))
    val dataDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/data"))
      .map(_.getPath.getName).toSeq
    assert(dataDirs.length === 1 && dataDirs.head.startsWith("v00000002-"),
      dataDirs.mkString(","))
  }

  test("snapshotCommit: a torn manifest is ignored and never re-contended") {
    val dir = tmpDir("snap3") + "/t"
    Layout.snapshotCommit((1 to 10).toDF("v"), dir)
    // "kill" mid-manifest: a manifest object missing the commit footer
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = new org.apache.hadoop.fs.Path(s"$dir/_snapshots/v00000002.manifest")
    val out = fs.create(torn, false)
    out.write("data/v00000002/part-zzz.parquet\n".getBytes("UTF-8"))
    out.close()
    // readers fall back to v1; the torn version is not a committed snapshot
    assert(Layout.snapshotVersions(spark, dir) === Seq(1L))
    assert(Layout.snapshotRead(spark, dir).as[Int].collect().sorted.toSeq
      === (1 to 10))
    // a new commit allocates v3 — it never fights the dead writer's v2
    assert(Layout.snapshotCommit((11 to 15).toDF("v"), dir) === 3L)
    assert(Layout.snapshotRead(spark, dir).as[Int].collect().sorted.toSeq
      === (11 to 15))
    // expire also sweeps the torn manifest once it is older than the
    // grace period AND behind a newer complete snapshot — torn objects
    // must not accumulate forever (v2 stays consumed: next commit is v4)
    Layout.snapshotExpire(spark, dir, keep = 1, orphanGraceMs = 0)
    assert(!fs.exists(torn), "torn manifest survived expiry")
    assert(Layout.snapshotVersions(spark, dir) === Seq(3L))
    assert(Layout.snapshotCommit((16 to 18).toDF("v"), dir) === 4L)
  }

  test("exists-conflict detection: multi-line EEXIST messages, no false positives") {
    // multi-line wrapper around the POSIX phrase — an anchored `.*` regex
    // would miss it because `.` does not cross newlines
    assert(Layout.existsConflictMessage(
      "rename failed:\n/path/v2.manifest: File exists\n(details)"))
    assert(Layout.existsConflictMessage("target already exists"))
    assert(Layout.existsConflictMessage("Files Already Exist on remote"))
    // a genuine write failure must NOT be classified as a lost race
    assert(!Layout.existsConflictMessage("/path does not exist"))
    assert(!Layout.existsConflictMessage("disk quota exceeded"))
    // word boundary: "file exists" embedded in another word is no conflict
    assert(!Layout.existsConflictMessage("user profile exists but is locked"))
  }

  /** Data-file entries of a version's manifest, read off disk directly —
    * the spec's independent view of what a commit recorded. */
  private def manifestDataLines(dir: String, v: Long): Set[String] = {
    val src = scala.io.Source.fromFile(
      f"$dir/_snapshots/v$v%08d.manifest", "UTF-8")
    try src.getLines().filterNot(_.startsWith("#")).toSet finally src.close()
  }
  private def manifestStatLines(dir: String, v: Long): Set[String] = {
    val src = scala.io.Source.fromFile(
      f"$dir/_snapshots/v$v%08d.manifest", "UTF-8")
    try src.getLines().filter(_.startsWith("#stats=")).toSet
    finally src.close()
  }

  test("snapshotMergeInto: upsert rewrites ONLY the files holding matched keys") {
    val dir = tmpDir("snapmerge") + "/t"
    // key-clustered appends, one file each, key stats tracked
    Layout.snapshotAppend((1 to 100).map(i => (i, s"a$i")).toDF("k", "s")
      .repartition(1), dir, statsCols = Seq("k"))                    // v1
    Layout.snapshotAppend((101 to 200).map(i => (i, s"a$i")).toDF("k", "s")
      .repartition(1), dir, statsCols = Seq("k"))                    // v2
    Layout.snapshotAppend((201 to 300).map(i => (i, s"a$i")).toDF("k", "s")
      .repartition(1), dir, statsCols = Seq("k"))                    // v3
    val v1Files = manifestDataLines(dir, 1)
    val v2Files = manifestDataLines(dir, 2) -- v1Files
    val v3Files = manifestDataLines(dir, 3) -- manifestDataLines(dir, 2)
    // two matched updates (both inside v2's key range) + two inserts
    val updates = Seq((150, "UPD150"), (160, "UPD160"),
      (400, "NEW400"), (401, "NEW401")).toDF("k", "s")
    val vm = Layout.snapshotMergeInto(spark, dir, updates, Seq("k"))
    assert(vm === 4L)
    // row-level semantics: replaced, inserted, everything else untouched
    val got = Layout.snapshotRead(spark, dir).as[(Int, String)]
      .collect().toMap
    assert(got.size === 302)
    assert(got(150) === "UPD150" && got(160) === "UPD160")
    assert(got(400) === "NEW400" && got(401) === "NEW401")
    assert(got(149) === "a149" && got(1) === "a1" && got(300) === "a300")
    // file granularity: v1's and v3's files carried VERBATIM, v2's
    // (the only files holding a matched key) replaced
    val v4Files = manifestDataLines(dir, 4)
    assert(v1Files.subsetOf(v4Files) && v3Files.subsetOf(v4Files),
      "untouched files must be carried forward, not rewritten")
    assert(v2Files.intersect(v4Files).isEmpty,
      "files holding matched keys must be replaced")
    // carried files keep their stats lines; replacement files get fresh
    // ones over the same tracked column set (the table stays skippable)
    val v3Stats = manifestStatLines(dir, 3)
    val v4Stats = manifestStatLines(dir, 4)
    val carriedStats = v3Stats.filter(l =>
      (v1Files ++ v3Files).exists(f => l.startsWith(s"#stats=$f|")))
    assert(carriedStats.subsetOf(v4Stats), "carried stats must survive")
    assert(v4Stats.size === v4Files.size, "every file keeps a stats line")
    // the informational marker names the rewrite's file counts
    assert(Layout.snapshotMetaOf(spark, dir, 4)
      .exists(_.startsWith("merge-into=")))
    // time travel below the merge still sees the pre-merge rows
    assert(Layout.snapshotRead(spark, dir, version = 3)
      .as[(Int, String)].collect().toMap.apply(150) === "a150")
    // a merge that rewrote files is NOT append-only: the change feed
    // refuses the interval (replaced rows aren't a file delta)...
    val e = intercept[IllegalArgumentException](
      Layout.snapshotChanges(spark, dir, 3))
    assert(e.getMessage.contains("not append-only"))
    // ...but a PURE-INSERT merge (no key matched) degrades to an
    // append-only commit and stays diffable
    val v5 = Layout.snapshotMergeInto(spark, dir,
      Seq((500, "NEW500")).toDF("k", "s"), Seq("k"))
    assert(v5 === 5L)
    assert(Layout.snapshotChanges(spark, dir, 4, 5).as[(Int, String)]
      .collect().toSeq === Seq((500, "NEW500")))
    assert(Layout.snapshotRead(spark, dir).count() === 303)
  }

  test("snapshotMergeInto: scattered keys rewrite only their files, not the span") {
    // keys at the corpus's two ENDS: a min/max range predicate would
    // cover every file — the small-change-set IN probe and the key
    // semi-join must still leave the untouched middle file carried
    val dir = tmpDir("snapmergescatter") + "/t"
    (1 to 3).foreach { i =>
      Layout.snapshotAppend(
        ((i - 1) * 100 + 1 to i * 100).map(j => (j, s"a$j")).toDF("k", "s")
          .repartition(1), dir, statsCols = Seq("k"))
    }
    val mid = manifestDataLines(dir, 2) -- manifestDataLines(dir, 1)
    Layout.snapshotMergeInto(spark, dir,
      Seq((5, "LOW"), (250, "HIGH")).toDF("k", "s"), Seq("k"))
    val after = manifestDataLines(dir, 4)
    assert(mid.subsetOf(after),
      "the middle file holds no updated key and must be carried verbatim")
    val got = Layout.snapshotRead(spark, dir).as[(Int, String)]
      .collect().toMap
    assert(got.size === 300 && got(5) === "LOW" && got(250) === "HIGH" &&
      got(150) === "a150")
  }

  test("snapshotMergeInto: composite keys — match on the full tuple only") {
    val dir = tmpDir("snapmergeck") + "/t"
    Layout.snapshotAppend(Seq(
      ("a", 1, "x1"), ("a", 2, "x2"), ("b", 1, "y1"), ("b", 2, "y2"))
      .toDF("g", "k", "s"), dir, statsCols = Seq("g", "k"))
    // (a,2) updates; (b,3) inserts; (a,1)/(b,1)/(b,2) untouched — a
    // single-column match on either key part would corrupt them
    val vm = Layout.snapshotMergeInto(spark, dir,
      Seq(("a", 2, "UPD"), ("b", 3, "NEW")).toDF("g", "k", "s"),
      Seq("g", "k"), deletes = Some(Seq(("b", 1)).toDF("g", "k")))
    assert(vm === 2L)
    val got = Layout.snapshotRead(spark, dir)
      .as[(String, Int, String)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got === Map(("a", 1) -> "x1", ("a", 2) -> "UPD",
      ("b", 2) -> "y2", ("b", 3) -> "NEW"))
    // composite-key MOR delete: only the exact tuple vanishes
    Layout.snapshotDeleteKeys(spark, dir,
      Seq(("a", 2)).toDF("g", "k"), Seq("g", "k"))
    val got2 = Layout.snapshotRead(spark, dir)
      .as[(String, Int, String)].collect().map(r => (r._1, r._2)).toSet
    assert(got2 === Set(("a", 1), ("b", 2), ("b", 3)))
  }

  test("snapshotMergeInto: refuses duplicate keys, null keys, schema drift") {
    val dir = tmpDir("snapmergeref") + "/t"
    Layout.snapshotAppend((1 to 10).map(i => (i, s"a$i")).toDF("k", "s"), dir)
    val dup = intercept[IllegalArgumentException] {
      Layout.snapshotMergeInto(spark, dir,
        Seq((1, "x"), (1, "y")).toDF("k", "s"), Seq("k"))
    }
    assert(dup.getMessage.contains("duplicate key"))
    val nul = intercept[IllegalArgumentException] {
      Layout.snapshotMergeInto(spark, dir,
        Seq((Some(1), "x"), (None, "y"))
          .toDF("k", "s"), Seq("k"))
    }
    assert(nul.getMessage.contains("NULL"))
    val drift = intercept[IllegalArgumentException] {
      Layout.snapshotMergeInto(spark, dir,
        Seq((1, 2.0)).toDF("k", "s"), Seq("k"))
    }
    assert(drift.getMessage.contains("schema"))
    val badKey = intercept[IllegalArgumentException] {
      Layout.snapshotMergeInto(spark, dir,
        Seq((1, "x")).toDF("k", "s"), Seq("nope"))
    }
    assert(badKey.getMessage.contains("absent"))
    // an empty updates frame is a no-op: no new version
    val before = Layout.snapshotLatestVersion(spark, dir).get
    val v = Layout.snapshotMergeInto(spark, dir,
      Seq.empty[(Int, String)].toDF("k", "s"), Seq("k"))
    assert(v === before)
  }

  test("snapshotMergeInto deletes: tombstoned keys removed in the same commit") {
    val dir = tmpDir("snapmergedel") + "/t"
    Layout.snapshotAppend((1 to 100).map(i => (i, s"a$i")).toDF("k", "s")
      .repartition(1), dir, statsCols = Seq("k"))                    // v1
    Layout.snapshotAppend((101 to 200).map(i => (i, s"a$i")).toDF("k", "s")
      .repartition(1), dir, statsCols = Seq("k"))                    // v2
    val v1Files = manifestDataLines(dir, 1)
    val v2Files = manifestDataLines(dir, 2) -- v1Files
    // update k=150, insert k=400, delete k=5 and k=7 — one commit;
    // a tombstone for an absent key (9999) no-ops; repeats dedupe
    val vm = Layout.snapshotMergeInto(spark, dir,
      Seq((150, "UPD"), (400, "NEW")).toDF("k", "s"), Seq("k"),
      deletes = Some(Seq(5, 7, 7, 9999).toDF("k")))
    assert(vm === 3L)
    val got = Layout.snapshotRead(spark, dir).as[(Int, String)]
      .collect().toMap
    assert(got.size === 199) // 200 - 2 deleted + 1 inserted
    assert(!got.contains(5) && !got.contains(7))
    assert(got(150) === "UPD" && got(400) === "NEW")
    assert(got(6) === "a6")
    // BOTH ranges probed file-granularly: v1 (deletes) and v2 (update)
    // were each touched, so nothing carries — now delete from one file
    // only and check the other carries
    val v3Files = manifestDataLines(dir, 3)
    assert(v1Files.intersect(v3Files).isEmpty &&
      v2Files.intersect(v3Files).isEmpty)
    val vd = Layout.snapshotMergeInto(spark, dir,
      spark.emptyDataset[(Int, String)].toDF("k", "s"), Seq("k"),
      deletes = Some(Seq(10).toDF("k")))
    assert(vd === 4L)
    assert(Layout.snapshotRead(spark, dir).count() === 198)
    // a delete-only merge touching nothing is a pure carry-forward
    val vn = Layout.snapshotMergeInto(spark, dir,
      spark.emptyDataset[(Int, String)].toDF("k", "s"), Seq("k"),
      deletes = Some(Seq(123456).toDF("k")))
    assert(manifestDataLines(dir, vn) === manifestDataLines(dir, 4))
    // a key in both updates and deletes is ambiguous — refuse
    val both = intercept[IllegalArgumentException] {
      Layout.snapshotMergeInto(spark, dir,
        Seq((20, "x")).toDF("k", "s"), Seq("k"),
        deletes = Some(Seq(20).toDF("k")))
    }
    assert(both.getMessage.contains("BOTH"))
  }

  test("snapshotDeleteKeys: merge-on-read delete — zero file churn, overlay on read") {
    val dir = tmpDir("snapmor") + "/t"
    Layout.snapshotAppend((1 to 100).map(i => (i, s"a$i")).toDF("k", "s")
      .repartition(1), dir, statsCols = Seq("k"))                    // v1
    Layout.snapshotAppend((101 to 200).map(i => (i, s"a$i")).toDF("k", "s")
      .repartition(1), dir, statsCols = Seq("k"))                    // v2
    val vd = Layout.snapshotDeleteKeys(spark, dir,
      Seq(5, 150, 150).toDF("k"), Seq("k"))                          // v3
    assert(vd === 3L)
    // ZERO data-file churn: the manifest's file list is v2's verbatim
    assert(manifestDataLines(dir, 3) === manifestDataLines(dir, 2))
    val got = Layout.snapshotRead(spark, dir).as[(Int, String)]
      .collect().toMap
    assert(got.size === 198 && !got.contains(5) && !got.contains(150) &&
      got(6) === "a6")
    // composes with stats pruning: the predicate prunes to v1's file and
    // the overlay still removes k=5
    val rw = Layout.snapshotReadWhere(spark, dir, col("k") <= 100)
      .select("k").as[Int].collect().toSet
    assert(rw.size === 99 && !rw.contains(5))
    // time travel below the delete still sees the rows
    assert(Layout.snapshotRead(spark, dir, version = 2).count() === 200)
    // manifest-only COUNT refuses under a live overlay (never overcounts)
    assert(Layout.snapshotRowCount(spark, dir).isEmpty)
    // the change feed refuses an interval where the delete line APPEARS
    val e = intercept[IllegalArgumentException](
      Layout.snapshotChanges(spark, dir, 2))
    assert(e.getMessage.contains("merge-on-read"))
    // a LATER append legitimately re-inserts a deleted key: the overlay
    // applies only to files at-or-below its version
    Layout.snapshotAppend(Seq((5, "re")).toDF("k", "s"), dir)        // v4
    val got2 = Layout.snapshotRead(spark, dir).as[(Int, String)]
      .collect().toMap
    assert(got2.size === 199 && got2(5) === "re")
    // ...and the feed resumes cleanly from the delete version onward
    assert(Layout.snapshotChanges(spark, dir, 3).count() === 1L)
    // file-granular rewrites refuse until the overlay is materialized
    val m = intercept[IllegalArgumentException] {
      Layout.snapshotMergeInto(spark, dir,
        Seq((1, "x")).toDF("k", "s"), Seq("k"))
    }
    assert(m.getMessage.contains("materialize"))
    // compaction MATERIALIZES: overlay applied, delete line dropped
    val vc = Layout.snapshotCompact(spark, dir)                      // v5
    assert(Layout.snapshotMetaOf(spark, dir, vc)
      .forall(!_.startsWith("delete=")))
    val got3 = Layout.snapshotRead(spark, dir).as[(Int, String)]
      .collect().toMap
    assert(got3.size === 199 && !got3.contains(150) && got3(5) === "re")
    // stats are recomputed by the compaction: manifest-only count returns
    assert(Layout.snapshotRowCount(spark, dir) === Some(199L))
    // and file-granular rewrites work again
    Layout.snapshotMergeInto(spark, dir,
      Seq((150, "back")).toDF("k", "s"), Seq("k"))                   // v6
    assert(Layout.snapshotRead(spark, dir).count() === 200)
    // expire across the whole chain: newest version self-contained
    Layout.snapshotExpire(spark, dir, keep = 1, orphanGraceMs = 0)
    assert(Layout.snapshotRead(spark, dir).count() === 200)
  }

  test("snapshotMaintain: compacts on small files or a live overlay, else no-op") {
    val dir = tmpDir("snapmaint") + "/t"
    // many small files → compaction triggers
    (1 to 4).foreach(i => Layout.snapshotAppend(
      ((i * 10) to (i * 10 + 5)).toDF("v").repartition(3), dir))
    val (c1, _) = Layout.snapshotMaintain(spark, dir, maxSmallFiles = 8,
      keepAgeMs = Long.MaxValue / 2)
    assert(c1, "12 small files must trigger compaction")
    val rows = Layout.snapshotRead(spark, dir).as[Int].collect().sorted
    assert(rows.length === 24)
    // already compact → nothing runs
    val (c2, e2) = Layout.snapshotMaintain(spark, dir, maxSmallFiles = 8,
      keepAgeMs = Long.MaxValue / 2)
    assert(!c2 && e2 === 0)
    // a live merge-on-read overlay forces compaction regardless of size
    Layout.snapshotDeleteKeys(spark, dir, Seq(10, 11).toDF("v"), Seq("v"))
    val (c3, _) = Layout.snapshotMaintain(spark, dir, maxSmallFiles = 8,
      keepAgeMs = Long.MaxValue / 2)
    assert(c3, "a live overlay must be materialized by maintenance")
    assert(Layout.snapshotMetaOf(spark, dir,
      Layout.snapshotLatestVersion(spark, dir).get)
      .forall(!_.startsWith("delete=")))
    assert(Layout.snapshotRead(spark, dir).count() === 22)
    // age-based expiry folds in: everything old goes, newest survives
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    Layout.snapshotVersions(spark, dir).dropRight(1).foreach(v =>
      fs.setTimes(new org.apache.hadoop.fs.Path(
        dir, f"_snapshots/v$v%08d.manifest"), old, -1))
    val (_, e4) = Layout.snapshotMaintain(spark, dir, maxSmallFiles = 8,
      orphanGraceMs = 0)
    assert(e4 > 0)
    assert(Layout.snapshotRead(spark, dir).count() === 22)
  }

  test("snapshotVersionAsOf: wall-clock time travel resolves the right version") {
    val dir = tmpDir("snapasof") + "/t"
    Layout.snapshotAppend((1 to 10).toDF("v"), dir)                  // v1
    Layout.snapshotAppend((11 to 20).toDF("v"), dir)                 // v2
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // pin distinct commit instants (local-fs mtime granularity is coarse)
    val t1 = 1700000000000L; val t2 = t1 + 60000L
    fs.setTimes(new org.apache.hadoop.fs.Path(
      dir, "_snapshots/v00000001.manifest"), t1, -1)
    fs.setTimes(new org.apache.hadoop.fs.Path(
      dir, "_snapshots/v00000002.manifest"), t2, -1)
    assert(Layout.snapshotVersionAsOf(spark, dir, t1 - 1).isEmpty)
    assert(Layout.snapshotVersionAsOf(spark, dir, t1) === Some(1L))
    assert(Layout.snapshotVersionAsOf(spark, dir, t2 - 1) === Some(1L))
    assert(Layout.snapshotVersionAsOf(spark, dir, t2 + 1) === Some(2L))
    val v = Layout.snapshotVersionAsOf(spark, dir, t1 + 1).get
    assert(Layout.snapshotRead(spark, dir, v).count() === 10)
  }

  test("snapshotDeleteKeys racing a concurrent append loses neither side") {
    val dir = tmpDir("snapmorrace") + "/t"
    Layout.snapshotAppend((1 to 50).toDF("v"), dir)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(
      new Thread(() =>
        try { Layout.snapshotDeleteKeys(spark, dir,
          Seq(5, 6).toDF("v"), Seq("v")); () }
        catch { case t: Throwable => errs.add(t) }),
      new Thread(() =>
        try { Layout.snapshotAppend((51 to 60).toDF("v"), dir); () }
        catch { case t: Throwable => errs.add(t) }))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"racer failed: ${Option(errs.peek())}")
    val got = Layout.snapshotRead(spark, dir).as[Int].collect().toSet
    // whichever side won the version race: the append's rows all landed
    // and the delete removed 5 and 6 IF its manifest is the newer one —
    // if the append won the LAST version it carried the delete line
    // forward, so 5/6 are gone either way (appends carry delete lines)
    assert((51 to 60).forall(got.contains), "appended rows lost")
    assert(!got.contains(5) && !got.contains(6), "delete overlay lost")
    assert(got.size === 58)
  }

  test("snapshotDeleteKeys right after a compaction: feed still refuses (no inherited rewrite marker)") {
    val dir = tmpDir("snapmorcompact") + "/t"
    Layout.snapshotAppend((1 to 30).toDF("v"), dir)                  // v1
    Layout.snapshotCompact(spark, dir)                               // v2 (rewrite-of=1)
    val vd = Layout.snapshotDeleteKeys(spark, dir,
      Seq(5).toDF("v"), Seq("v"))                                    // v3
    // the delete must NOT inherit the compaction's rewrite-of marker —
    // that would make the change feed skip it as a zero-delta rewrite
    // and leave the deleted row alive in every incremental consumer
    assert(!Layout.snapshotMetaOf(spark, dir, vd)
      .exists(_.startsWith("rewrite-of=")),
      "delete version inherited the compaction's lineage marker")
    val e = intercept[IllegalArgumentException](
      Layout.snapshotChanges(spark, dir, 2))
    assert(e.getMessage.contains("merge-on-read"))
    assert(Layout.snapshotRead(spark, dir).count() === 29)
    // nor a streaming sink's batch marker: a delete on a sink-owned
    // table must not claim to be a micro-batch commit
    val dir2 = tmpDir("snapmorsink") + "/t"
    require(graft.streaming.SnapshotSink.appendOnce(
      (1 to 10).toDF("v"), 0L, dir2))
    val vd2 = Layout.snapshotDeleteKeys(spark, dir2,
      Seq(3).toDF("v"), Seq("v"))
    assert(!Layout.snapshotMetaOf(spark, dir2, vd2)
      .exists(_.startsWith("batch=")),
      "delete version inherited the sink's batch marker")
    // the sink's newest-marker resolution still finds batch 0 and the
    // next real batch commits normally
    require(graft.streaming.SnapshotSink.appendOnce(
      (11 to 15).toDF("v"), 1L, dir2))
    assert(Layout.snapshotRead(spark, dir2).count() === 14)
  }

  test("snapshotDeleteKeys lifecycle: bootstrap refuses until maintain, then clean") {
    val dir = tmpDir("snapmorlife") + "/t"
    Layout.snapshotAppend((1 to 40).toDF("v").repartition(1), dir)   // v1
    Layout.snapshotDeleteKeys(spark, dir,
      Seq(7, 9).toDF("v"), Seq("v"))                                 // v2
    // a NEW consumer's file-granular bootstrap would union v1's raw
    // files and resurrect 7 and 9 — it must refuse while the overlay
    // (or any manifest carrying it) survives
    val e = intercept[IllegalArgumentException](
      Layout.snapshotChanges(spark, dir, 0))
    assert(e.getMessage.contains("merge-on-read"))
    // routine maintenance: compact materializes, expire drops the
    // pre-compaction manifests — bootstrap-ability returns
    val (compacted, _) = Layout.snapshotMaintain(spark, dir,
      maxSmallFiles = 0, keepAgeMs = 0, orphanGraceMs = 0)
    assert(compacted, "a live overlay must force the compaction")
    assert(Layout.snapshotChanges(spark, dir, 0).as[Int]
      .collect().sorted.toSeq === (1 to 40).filterNot(Set(7, 9)),
      "post-maintain bootstrap must deliver the reduced table")
    // and the feed tails new appends normally from here
    Layout.snapshotAppend(Seq(100).toDF("v"), dir)
    assert(Layout.snapshotChanges(spark, dir,
      Layout.snapshotVersions(spark, dir).head).as[Int]
      .collect().toSeq === Seq(100))
  }

  test("snapshotDeleteKeys: delete key dir survives expiry while referenced") {
    val dir = tmpDir("snapmor2") + "/t"
    Layout.snapshotAppend((1 to 50).toDF("v"), dir)                  // v1
    Layout.snapshotDeleteKeys(spark, dir, Seq(7, 9).toDF("v"), Seq("v")) // v2
    // v2's manifest references the key dir only via its delete line —
    // expiry must keep it alive or the overlay breaks
    assert(Layout.snapshotExpire(spark, dir, keep = 1,
      orphanGraceMs = 0) === 1)
    assert(Layout.snapshotRead(spark, dir).as[Int].collect().sorted.toSeq
      === ((1 to 50).filterNot(Set(7, 9))))
    // appends carry the overlay forward
    Layout.snapshotAppend((51 to 55).toDF("v"), dir)                 // v3
    assert(Layout.snapshotRead(spark, dir).count() === 53)
    // NULL key tuples refuse; unknown key columns refuse
    intercept[IllegalArgumentException] {
      Layout.snapshotDeleteKeys(spark, dir,
        Seq[Option[Int]](Some(1), None).toDF("v"), Seq("v"))
    }
    intercept[IllegalArgumentException] {
      Layout.snapshotDeleteKeys(spark, dir, Seq(1).toDF("nope"), Seq("nope"))
    }
  }

  test("snapshotDeleteKeys + snapshotEvolve: overlay survives an add-column evolution") {
    val dir = tmpDir("snapmorevo") + "/t"
    Layout.snapshotAppend((1 to 20).map(i => (i, s"a$i")).toDF("k", "s"), dir)
    Layout.snapshotDeleteKeys(spark, dir, Seq(3, 7).toDF("k"), Seq("k"))
    // widen the schema while the overlay is live (evolve is append-only
    // above the overlay — legal); the evolved batch re-uses key 3
    Layout.snapshotEvolve(
      Seq((3, "re3", 1.0), (21, "c21", 2.0)).toDF("k", "s", "score"), dir)
    val got = Layout.snapshotRead(spark, dir)
      .select("k", "s", "score").collect()
      .map(r => r.getInt(0) -> (r.getString(1), Option(r.get(2)))).toMap
    // deleted keys stay deleted in pre-evolution files, the re-insert is
    // visible with its score, old rows null-fill the new column
    assert(got.size === 20)
    assert(!got.contains(7))
    assert(got(3) === (("re3", Some(1.0))))
    assert(got(21) === (("c21", Some(2.0))))
    assert(got(5) === (("a5", None)))
  }

  test("snapshotDeleteWhere is file-granular; NULL-cond rows survive (SQL DELETE)") {
    val dir = tmpDir("snapdelfg") + "/t"
    Layout.snapshotAppend((1 to 100).map(i => (i, s"a$i")).toDF("k", "s")
      .repartition(1), dir, statsCols = Seq("k"))                    // v1
    Layout.snapshotAppend((101 to 200).map(i => (i, s"a$i")).toDF("k", "s")
      .repartition(1), dir, statsCols = Seq("k"))                    // v2
    val v1Files = manifestDataLines(dir, 1)
    val v2Files = manifestDataLines(dir, 2) -- v1Files
    // the predicate only matches v1's key range: v2's file must be carried
    Layout.snapshotDeleteWhere(spark, dir, col("k") <= 10)           // v3
    val v3Files = manifestDataLines(dir, 3)
    assert(v2Files.subsetOf(v3Files),
      "files with no matching row must be carried, not rewritten")
    assert(v1Files.intersect(v3Files).isEmpty)
    assert(Layout.snapshotRead(spark, dir).count() === 190)
    // a no-match delete rewrites NOTHING and stays append-only diffable
    Layout.snapshotDeleteWhere(spark, dir, col("k") > 100000)        // v4
    assert(manifestDataLines(dir, 4) === v3Files)
    assert(Layout.snapshotChanges(spark, dir, 3, 4).count() === 0L)
    // SQL DELETE semantics: a NULL-evaluating condition KEEPS the row
    Layout.snapshotAppend(
      Seq((300, Some("x")), (301, None), (302, Some("y")))
        .toDF("k", "s"), dir)                                        // v5
    Layout.snapshotDeleteWhere(spark, dir, col("s") === "x")         // v6
    val keys = Layout.snapshotRead(spark, dir)
      .filter(col("k") >= 300).select("k").as[Int].collect().sorted
    assert(keys.toSeq === Seq(301, 302),
      "row with NULL condition must survive a DELETE")
  }

  test("snapshotUpdateWhere is file-granular; assignments read the row; NULL cond keeps it") {
    val dir = tmpDir("snapupdfg") + "/t"
    Layout.snapshotAppend((1 to 100).map(i => (i, s"a$i", i * 1.0))
      .toDF("k", "s", "v").repartition(1), dir, statsCols = Seq("k")) // v1
    Layout.snapshotAppend((101 to 200).map(i => (i, s"a$i", i * 1.0))
      .toDF("k", "s", "v").repartition(1), dir, statsCols = Seq("k")) // v2
    val v1Files = manifestDataLines(dir, 1)
    val v2Files = manifestDataLines(dir, 2) -- v1Files
    // predicate inside v1's key range only: v2's file must carry
    Layout.snapshotUpdateWhere(spark, dir, col("k") <= 10,
      Seq("v" -> (col("v") + 1000), "s" -> upper(col("s"))))          // v3
    val v3Files = manifestDataLines(dir, 3)
    assert(v2Files.subsetOf(v3Files),
      "files with no matching row must be carried, not rewritten")
    assert(v1Files.intersect(v3Files).isEmpty)
    val got = Layout.snapshotRead(spark, dir)
      .select("k", "s", "v").as[(Int, String, Double)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got(5) === (("A5", 1005.0)))
    assert(got(11) === (("a11", 11.0)), "row outside the predicate unchanged")
    assert(got(150) === (("a150", 150.0)))
    // a no-match update rewrites NOTHING and stays append-only diffable
    Layout.snapshotUpdateWhere(spark, dir, col("k") > 100000,
      Seq("v" -> lit(0.0)))                                           // v4
    assert(manifestDataLines(dir, 4) === v3Files)
    assert(Layout.snapshotChanges(spark, dir, 3, 4).count() === 0L)
    // SQL UPDATE semantics: a NULL-evaluating condition keeps the row;
    // the assigned value casts to the column's existing type
    Layout.snapshotAppend(Seq((300, Some("x"), 1.0), (301, None, 2.0))
      .toDF("k", "s", "v"), dir)                                      // v5
    Layout.snapshotUpdateWhere(spark, dir, col("s") === "x",
      Seq("v" -> lit(9)))                                             // v6
    val tail = Layout.snapshotRead(spark, dir).filter(col("k") >= 300)
      .select("k", "v").as[(Int, Double)].collect().toMap
    assert(tail === Map(300 -> 9.0, 301 -> 2.0))
    // unknown column refuses
    val e = intercept[Exception] {
      Layout.snapshotUpdateWhere(spark, dir, lit(true),
        Seq("nope" -> lit(1)))
    }
    assert(e.getMessage.contains("no column"))
  }

  test("snapshot table model check: random op sequences match a keyed Map") {
    // model-based check of the write-path INTERACTIONS: appends, keyed
    // merges (upsert+insert+tombstone), merge-on-read deletes, predicate
    // deletes/updates (snapshotDeleteWhere/snapshotUpdateWhere),
    // compaction and expiry applied in a random but seeded order, with
    // the logical table compared against a driver-side Map after every
    // commit — the bugs this hunts (overlay applied to the wrong file
    // generation, a carried delete dropped by a later commit, a merge
    // resurrecting a deleted key, a predicate rewrite missing a
    // generation) live between operators, not inside one.
    val dir = tmpDir("snapmodel") + "/t"
    val rnd = new scala.util.Random(20260814L)
    val model = scala.collection.mutable.Map.empty[Int, String]
    var morLive = false
    // per-version model states, for the RESTORE op: rolling the table
    // back must roll the model (and the overlay-live flag) back too
    val states =
      scala.collection.mutable.Map.empty[Long, (Map[Int, String], Boolean)]
    def record(): Unit =
      states(Layout.snapshotVersions(spark, dir).last) =
        (model.toMap, morLive)
    // write-audit-publish: at most one live branch. Its staged work is
    // modeled as a FROZEN op log (put-rows / delete-keys — exactly the
    // physical grammar: staged files and key overlays), replayed onto
    // the branch's base model: appends, takedowns, and MERGEs
    // (takedown-of-present + put) all reduce to it, and a REBASE
    // re-bases the log onto main's CURRENT model verbatim — the
    // unified re-key's contract (round 14: staged bytes replay onto
    // the new HEAD exactly as re-staging them would, colliding dirs
    // re-keyed, nothing refused but schema drift). The publish must
    // swap in the replayed state exactly when un-diverged; any main
    // commit (RESTORE included) in between must turn it into a
    // refusal until a rebase re-targets.
    sealed trait StOp
    final case class StPut(rows: Seq[(Int, String)]) extends StOp
    final case class StDel(keys: Seq[Int]) extends StOp
    final case class BranchSt(name: String, var base: Long,
      var baseModel: Map[Int, String],
      opLog: scala.collection.mutable.ListBuffer[StOp],
      var morCarried: Boolean, var anyTakedown: Boolean)
    var branch: Option[BranchSt] = None
    def branchState(st: BranchSt): Map[Int, String] =
      st.opLog.foldLeft(st.baseModel) {
        case (m, StPut(rows)) => m ++ rows
        case (m, StDel(keys)) => m -- keys
      }
    def checkBranch(st: BranchSt, tag: String): Unit = {
      val got = Layout.snapshotBranchRead(spark, dir, st.name)
        .as[(Int, String)].collect().toMap
      assert(got === branchState(st), s"branch divergence after $tag")
    }
    var published = 0
    var walkedAway = 0
    var rebased = 0
    var nextVal = 0
    def fresh(): String = { nextVal += 1; s"v$nextVal" }
    // "fresh" excludes keys in the model, in the live branch's state,
    // AND in any RECORDED restore target: a main RESTORE can resurrect
    // a once-deleted key, and a branch that staged that key as fresh
    // would then legitimately hold it TWICE after a rebase (append
    // semantics) — a multiset this upsert-style model cannot represent
    def freshKeys(n: Int): Seq[Int] =
      rnd.shuffle((0 until 200).filterNot(k => model.contains(k) ||
        branch.exists(st => branchState(st).contains(k)) ||
        states.valuesIterator.exists(_._1.contains(k))).toList).take(n)
    def existing(n: Int): Seq[Int] =
      rnd.shuffle(model.keys.toList).take(n)
    // bootstrap
    val init = freshKeys(30).map(k => (k, fresh()))
    Layout.snapshotAppend(init.toDF("k", "s").repartition(2), dir,
      statsCols = Seq("k"))
    model ++= init
    record()
    def check(tag: String): Unit = {
      record()
      val got = Layout.snapshotRead(spark, dir).as[(Int, String)]
        .collect().toMap
      assert(got === model.toMap, s"divergence after $tag")
      Layout.snapshotRowCount(spark, dir).foreach(n =>
        assert(n === model.size.toLong, s"rowCount after $tag"))
    }
    // publish (or refuse): un-diverged + staged work → fast-forward
    // swaps the replayed branch state in atomically, and the published
    // overlay-live flag is the carried base overlay OR any staged
    // takedown line; a diverged main sometimes REBASES first (the
    // branch state must then read as the frozen log replayed onto
    // main's CURRENT model) and otherwise walks away after asserting
    // the refusal; an empty stage always refuses
    def publishOrWalkAway(step: Int): Unit = branch.foreach { st =>
      val mainHead = Layout.snapshotVersions(spark, dir).last
      if (st.opLog.nonEmpty && mainHead == st.base) {
        Layout.snapshotFastForward(spark, dir, st.name)
        val bs = branchState(st)
        model.clear(); model ++= bs
        morLive = st.morCarried || st.anyTakedown
        branch = None
        check(s"publish@$step")
        published += 1
      } else if (st.opLog.nonEmpty && mainHead != st.base &&
          rnd.nextBoolean()) {
        // re-target at the new HEAD: one metadata-only branch commit;
        // the frozen staged log now replays onto main's CURRENT state
        Layout.snapshotRebase(spark, dir, st.name)
        st.base = mainHead
        st.baseModel = model.toMap
        st.morCarried = morLive
        checkBranch(st, s"rebase@$step")
        check(s"rebaseMain@$step") // the rebase commits nothing on main
        rebased += 1
      } else {
        intercept[IllegalArgumentException] {
          Layout.snapshotFastForward(spark, dir, st.name)
        }
        assert(Layout.snapshotDropBranch(spark, dir, st.name))
        branch = None
        check(s"walkAway@$step") // refusal + drop committed nothing
        walkedAway += 1
      }
    }
    check("bootstrap")
    (1 to 34).foreach { step =>
      rnd.nextInt(11) match {
        case 0 => // append fresh keys
          val rows = freshKeys(1 + rnd.nextInt(5)).map(k => (k, fresh()))
          if (rows.nonEmpty) {
            Layout.snapshotAppend(rows.toDF("k", "s"), dir,
              statsCols = Seq("k"))
            model ++= rows
            check(s"append@$step")
          }
        case 1 | 2 => // keyed merge: updates + inserts + tombstones
          val ups = existing(rnd.nextInt(4)).map(k => (k, fresh()))
          val ins = freshKeys(rnd.nextInt(3)).map(k => (k, fresh()))
          val dels = existing(8).filterNot(ups.map(_._1).toSet)
            .take(rnd.nextInt(3))
          if (morLive) {
            // an empty change set no-ops before the overlay check — only
            // a real merge attempt must refuse
            if (ups.nonEmpty || ins.nonEmpty || dels.nonEmpty)
              intercept[IllegalArgumentException] {
                Layout.snapshotMergeInto(spark, dir,
                  (ups ++ ins).toDF("k", "s"), Seq("k"),
                  deletes = Some(dels.toDF("k")))
              }
          } else if (ups.nonEmpty || ins.nonEmpty || dels.nonEmpty) {
            Layout.snapshotMergeInto(spark, dir,
              (ups ++ ins).toDF("k", "s"), Seq("k"),
              deletes = if (dels.isEmpty) None else Some(dels.toDF("k")))
            model ++= ups; model ++= ins; dels.foreach(model.remove)
            check(s"merge@$step")
          }
        case 3 => // merge-on-read delete (sometimes of absent keys too)
          val keys = (existing(rnd.nextInt(4)) ++
            Seq(300 + rnd.nextInt(50))).distinct
          Layout.snapshotDeleteKeys(spark, dir, keys.toDF("k"), Seq("k"))
          keys.foreach(model.remove)
          morLive = true
          check(s"morDelete@$step")
        case 4 => // compact: materializes any overlay, rows unchanged
          Layout.snapshotCompact(spark, dir)
          morLive = false
          check(s"compact@$step")
        case 5 => // expire: history shrinks, the logical table must not
          Layout.snapshotExpire(spark, dir, keep = 2, orphanGraceMs = 0)
          check(s"expire@$step")
        case 6 => // predicate delete — file-granular; refuses on overlay
          val m = 2 + rnd.nextInt(4); val r = rnd.nextInt(m)
          if (morLive)
            intercept[IllegalArgumentException] {
              Layout.snapshotDeleteWhere(spark, dir, col("k") % m === r)
            }
          else {
            Layout.snapshotDeleteWhere(spark, dir, col("k") % m === r)
            model.keys.filter(_ % m == r).toList.foreach(model.remove)
            check(s"deleteWhere@$step")
          }
        case 7 => // predicate update — in-scan assignment; same contract
          val m = 2 + rnd.nextInt(4); val r = rnd.nextInt(m)
          val nv = fresh()
          if (morLive)
            intercept[IllegalArgumentException] {
              Layout.snapshotUpdateWhere(spark, dir, col("k") % m === r,
                Seq("s" -> lit(nv)))
            }
          else {
            Layout.snapshotUpdateWhere(spark, dir, col("k") % m === r,
              Seq("s" -> lit(nv)))
            model.keys.filter(_ % m == r).toList
              .foreach(k => model(k) = nv)
            check(s"updateWhere@$step")
          }
        case 8 => // RESTORE to a random surviving version: the table,
          // the overlay-live flag, and the model all roll back together
          val candidates = Layout.snapshotVersions(spark, dir)
            .filter(states.contains)
          val target = candidates(rnd.nextInt(candidates.size))
          Layout.snapshotRestore(spark, dir, target)
          val (m0, mor0) = states(target)
          model.clear(); model ++= m0; morLive = mor0
          check(s"restore@$step->v$target")
        case 9 => // branch lifecycle: create, or stage one op of the
          // grammar — append / takedown / MERGE — on the live one;
          // main (re-checked by check()) must never see staged work
          branch match {
            case None =>
              val name = s"b$step"
              Layout.snapshotBranch(spark, dir, name)
              branch = Some(BranchSt(name,
                Layout.snapshotVersions(spark, dir).last, model.toMap,
                scala.collection.mutable.ListBuffer.empty[StOp],
                morLive, false))
              check(s"branchCreate@$step") // commits nothing on main
            case Some(st) if st.opLog.isEmpty || rnd.nextBoolean() =>
              rnd.nextInt(3) match {
                case 0 => // staged append of fresh keys
                  val rows = freshKeys(1 + rnd.nextInt(4))
                    .map(k => (k, fresh()))
                  if (rows.nonEmpty) {
                    Layout.snapshotBranchAppend(rows.toDF("k", "s"),
                      dir, st.name, statsCols = Seq("k"))
                    st.opLog += StPut(rows)
                    checkBranch(st, s"stage@$step")
                    check(s"stageMain@$step")
                  }
                case 1 => // staged takedown: present keys + one absent
                  val bs = branchState(st)
                  val keys = (rnd.shuffle(bs.keys.toList)
                    .take(1 + rnd.nextInt(3)) ++
                    Seq(300 + rnd.nextInt(50))).distinct
                  Layout.snapshotBranchDeleteKeys(spark, dir, st.name,
                    keys.toDF("k"), Seq("k"))
                  st.opLog += StDel(keys); st.anyTakedown = true
                  checkBranch(st, s"takedown@$step")
                  check(s"takedownMain@$step")
                case 2 => // staged MERGE: update present + insert fresh
                  val bs = branchState(st)
                  val ups = rnd.shuffle(bs.keys.toList)
                    .take(rnd.nextInt(3)).map(k => (k, fresh()))
                  val ins = freshKeys(rnd.nextInt(3))
                    .map(k => (k, fresh()))
                  if (ups.nonEmpty || ins.nonEmpty) {
                    Layout.snapshotBranchMerge(spark, dir, st.name,
                      (ups ++ ins).toDF("k", "s"), Seq("k"))
                    if (ups.nonEmpty) {
                      st.opLog += StDel(ups.map(_._1))
                      st.anyTakedown = true
                    }
                    st.opLog += StPut(ups ++ ins)
                    checkBranch(st, s"merge@$step")
                    check(s"mergeMain@$step")
                  }
              }
            case _ => publishOrWalkAway(step)
          }
        case 10 => // publish (or refuse) a live branch
          branch.foreach(_ => publishOrWalkAway(step))
      }
    }
    assert(model.nonEmpty, "degenerate run: model drained completely")
    // epilogue: one DETERMINISTIC full cycle against whatever state the
    // random walk left (overlay live or not, post-restore or not) —
    // stage (append + takedown), diverge main, REBASE, publish — so a
    // successful rebase AND publish are exercised every run regardless
    // of how the seeded trajectory interleaved branch ops with main
    while (branch.isDefined) publishOrWalkAway(99)
    // deterministic walk-away: an empty stage always refuses ("nothing
    // to publish") and the drop commits nothing — exercised every run
    // now that the rebase option can rescue every diverged branch the
    // random walk produces
    Layout.snapshotBranch(spark, dir, "bdrop")
    branch = Some(BranchSt("bdrop",
      Layout.snapshotVersions(spark, dir).last, model.toMap,
      scala.collection.mutable.ListBuffer.empty[StOp], morLive, false))
    publishOrWalkAway(98)
    assert(branch.isEmpty, "an empty stage must resolve to a walk-away")
    Layout.snapshotBranch(spark, dir, "bfinal")
    val stF = BranchSt("bfinal",
      Layout.snapshotVersions(spark, dir).last, model.toMap,
      scala.collection.mutable.ListBuffer.empty[StOp], morLive, false)
    branch = Some(stF)
    val stagedRows = freshKeys(3).map(k => (k, fresh()))
    Layout.snapshotBranchAppend(stagedRows.toDF("k", "s"), dir, "bfinal",
      statsCols = Seq("k"))
    stF.opLog += StPut(stagedRows)
    val tdKey = stagedRows.head._1
    Layout.snapshotBranchDeleteKeys(spark, dir, "bfinal",
      Seq(tdKey).toDF("k"), Seq("k"))
    stF.opLog += StDel(Seq(tdKey)); stF.anyTakedown = true
    checkBranch(stF, "epilogue-staged")
    check("epilogue-staged-main") // main still matches its own model
    val divRows = freshKeys(2).map(k => (k, fresh()))
    Layout.snapshotAppend(divRows.toDF("k", "s"), dir,
      statsCols = Seq("k"))
    model ++= divRows
    check("epilogue-diverge")
    Layout.snapshotRebase(spark, dir, "bfinal")
    stF.base = Layout.snapshotVersions(spark, dir).last
    stF.baseModel = model.toMap
    stF.morCarried = morLive
    checkBranch(stF, "epilogue-rebase")
    rebased += 1
    publishOrWalkAway(100)   // un-diverged by construction → publishes
    assert(published >= 1 && walkedAway >= 1 && rebased >= 1,
      s"all three WAP paths must be exercised (published=$published, " +
        s"walkedAway=$walkedAway, rebased=$rebased)")
  }

  test("salted join: identical result to the plain join under skew") {
    // 90% of the big side carries one hot key
    val big = ((1 to 900).map(_ => (7, "hot")) ++ (1 to 100).map(i => (i % 5, s"v$i")))
      .toDF("k", "payload")
    val small = (0 to 9).map(i => (i, s"dim$i")).toDF("k", "attr")
    val plain = big.join(small, "k")
    val salted = Layout.saltedJoin(big, small, "k", salts = 8)
    assert(salted.count() === plain.count())
    assert(salted.select("k", "payload", "attr").except(
      plain.select("k", "payload", "attr")).isEmpty)
    assert(plain.select("k", "payload", "attr").except(
      salted.select("k", "payload", "attr")).isEmpty)
  }
}
