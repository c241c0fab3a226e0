package graft.sources

import graft.SparkSpec
import graft.ops.Layout

/** Whether a snapshot table exists, and which version was current at an
  * instant, is answered from one listing and the first complete manifest
  * a descending walk meets, not by reading every version's: a catalog
  * table resolution, a table listing, a procedure's table check and an
  * as-of read each read as many manifests at 4, 16 and 32 versions. */
class SnapshotExistsSpec extends SparkSpec {
  import spark.implicits._

  test("catalog SELECT, SHOW TABLES and CALL read O(1) manifests") {
    val reads = Seq(4, 16, 32).map { versions =>
      val cat = s"ex${System.nanoTime()}"
      val root = tmpDir("snapshot-exists")
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      (1 to versions).foreach(i =>
        Layout.snapshotAppend(Seq((i.toLong, s"r$i")).toDF("k", "s"), s"$root/db/t"))
      def readsOf(body: => Unit): Long = {
        val before = Layout.manifestReads.get()
        body
        Layout.manifestReads.get() - before
      }
      (readsOf(assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head().getLong(0)
          === versions)),
        readsOf(assert(spark.sql(s"SHOW TABLES IN $cat.db").count() === 1L)),
        readsOf(assert(spark.sql(s"CALL $cat.system.tag('db.t', 'pinned')")
          .head().getLong(0) === versions)))
    }
    assert(reads.distinct.size === 1, reads)
    info(s"manifest reads (SELECT, SHOW TABLES, CALL): ${reads.head}")
  }

  test("an as-of read reads O(1) manifests") {
    val reads = Seq(4, 16, 32).map { versions =>
      val dir = tmpDir("snapshot-asof") + "/t"
      (1 to versions).foreach(i =>
        Layout.snapshotAppend(Seq((i.toLong, s"r$i")).toDF("k", "s"), dir))
      val before = Layout.manifestReads.get()
      val v = Layout.snapshotVersionAsOf(spark, dir, System.currentTimeMillis() + 1000)
      assert(Layout.snapshotRead(spark, dir, v.get).count() === versions)
      Layout.manifestReads.get() - before
    }
    assert(reads.distinct.size === 1, reads)
    info(s"manifest reads (as-of version, pinned read): ${reads.head}")
  }

  test("as-of resolves past newer and torn manifests as a read of every version does") {
    val dir = tmpDir("snapshot-asof") + "/t"
    (1 to 4).foreach(i => Layout.snapshotAppend(Seq(i.toLong).toDF("k"), dir))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifest(v: Int) = new org.apache.hadoop.fs.Path(dir, f"_snapshots/v$v%08d.manifest")
    // a dead writer's torn v5 (no commit footer), newest of all
    val out = fs.create(manifest(5), false)
    out.write("data/v00000005/part-zzz.parquet\n".getBytes("UTF-8"))
    out.close()
    val t0 = 1700000000000L
    (1 to 5).foreach(v => fs.setTimes(manifest(v), t0 + v * 60000L, -1))
    def mtime(v: Long) = fs.getFileStatus(manifest(v.toInt)).getModificationTime
    // the reference: every complete version, newest at or before the instant
    def everyVersion(ts: Long) = Layout.snapshotVersions(spark, dir).reverse.find(mtime(_) <= ts)
    Seq(t0, t0 + 60000L, t0 + 150000L, t0 + 240000L, t0 + 300000L, Long.MaxValue)
      .foreach(ts => assert(Layout.snapshotVersionAsOf(spark, dir, ts) === everyVersion(ts), ts))
    assert(Layout.snapshotVersionAsOf(spark, dir, Long.MaxValue) === Some(4L))
    assert(Layout.snapshotVersionAsOf(spark, dir, t0).isEmpty)
  }
}
