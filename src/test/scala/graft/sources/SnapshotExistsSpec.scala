package graft.sources

import graft.SparkSpec
import graft.ops.Layout

/** Whether a snapshot table exists is answered from the newest complete
  * manifest (one listing and one GET), not by reading every version's:
  * a catalog table resolution, a table listing and a procedure's table
  * check each read as many manifests at 4, 16 and 32 versions. */
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
}
