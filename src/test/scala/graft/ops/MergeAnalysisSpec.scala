package graft.ops

import org.apache.spark.sql.functions.col

import graft.{SparkJobs, SparkSpec}

/** `snapshotMergeInto`'s change-set analysis and merge semantics: past the
  * 1024-key IN-list threshold the analysis falls back to the rollup (range
  * predicates, counts, refusals) and a refused merge still releases the
  * change set's cache; within it, one job analyses the change set however
  * many partitions it spans. The pins below hold the row-level semantics
  * every analysis and probe form must keep: NULL-key table rows survive,
  * floating-point keys compare with Spark's equality, and the matched-key
  * change record replays the merge. */
class MergeAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("change sets past the IN threshold: applied, refused, cache released") {
    val dir = tmpDir("merge-large") + "/t"
    Seq(1 to 1000, 1001 to 2000, 2001 to 3000).foreach(r =>
      Layout.snapshotAppend(r.map(i => (i, s"a$i")).toDF("k", "s"), dir,
        statsCols = Seq("k")))
    def cached = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = cached
    def refused(ups: Seq[Int], dels: Seq[Int]): String =
      intercept[IllegalArgumentException](Layout.snapshotMergeInto(spark, dir,
        ups.map(i => (i, "x")).toDF("k", "s"), Seq("k"),
        deletes = Some(dels.toDF("k")))).getMessage
    assert(refused((1001 to 2500) :+ 1500, Nil).contains("1 duplicate key"))
    assert(refused(1001 to 2500, Seq(7, 2400)).contains("BOTH"))
    assert(cached === before)
    // 1500 updates (1000 replace, 500 insert) past the threshold, 10
    // tombstones within it; then 1100 tombstones (with repeats) past it
    Layout.snapshotMergeInto(spark, dir,
      (2001 to 3500).map(i => (i, s"u$i")).toDF("k", "s"), Seq("k"),
      deletes = Some((1 to 10).toDF("k")))
    Layout.snapshotMergeInto(spark, dir, Seq((9999, "n")).toDF("k", "s"),
      Seq("k"), deletes = Some(((11 to 1100) ++ (11 to 20)).toDF("k")))
    val got = Layout.snapshotRead(spark, dir).as[(Int, String)].collect().toMap
    assert(got === ((1101 to 2000).map(i => i -> s"a$i") ++
      (2001 to 3500).map(i => i -> s"u$i") :+ (9999 -> "n")).toMap)
    assert(cached === before)
  }

  test("a NULL-key table row survives an upsert of its file") {
    val dir = tmpDir("merge-nullkey") + "/t"
    Layout.snapshotAppend(Seq((Some(1), "a1"), (None, "n"), (Some(2), "a2"))
      .toDF("k", "s").repartition(1), dir, statsCols = Seq("k"))
    Layout.snapshotMergeInto(spark, dir, Seq((Some(1), "U")).toDF("k", "s"),
      Seq("k"), deletes = Some(Seq(2).toDF("k")))
    assert(Layout.snapshotRead(spark, dir).as[(Option[Int], String)]
      .collect().toMap === Map(Some(1) -> "U", None -> "n"))
    // composite key: a row NULL in either key part matches no change key
    val ck = tmpDir("merge-nullkey-ck") + "/t"
    Layout.snapshotAppend(Seq[(Option[String], Option[Int], String)](
      (Some("a"), Some(1), "x"), (Some("a"), None, "n1"), (None, Some(1), "n2"))
      .toDF("g", "k", "s").repartition(1), ck)
    Layout.snapshotMergeInto(spark, ck,
      Seq[(Option[String], Option[Int], String)]((Some("a"), Some(1), "U"))
        .toDF("g", "k", "s"), Seq("g", "k"))
    assert(Layout.snapshotRead(spark, ck)
      .as[(Option[String], Option[Int], String)].collect().toSet === Set(
        (Some("a"), Some(1), "U"), (Some("a"), None, "n1"), (None, Some(1), "n2")))
  }

  test("a change set spread over 4 partitions is analysed in one job") {
    val dir = tmpDir("merge-4parts") + "/t"
    Layout.snapshotAppend((0 until 50).map(i => (i.toLong, s"a$i")).toDF("k", "s"), dir)
    // spark.range spreads over 4 partitions with no shuffle: each refusal
    // below is decided by the analysis alone, so its jobs are the analysis
    def ids = spark.range(0, 40, 1, 4)
    def refusal(ups: org.apache.spark.sql.DataFrame,
        dels: Option[org.apache.spark.sql.DataFrame]): (String, Int) = {
      assert(ups.rdd.getNumPartitions === 4)
      var msg = ""
      val jobs = SparkJobs.jobsOf(spark) {
        msg = intercept[IllegalArgumentException](Layout.snapshotMergeInto(
          spark, dir, ups, Seq("k"), deletes = dels)).getMessage
      }
      assert(jobs.size === 1, s"analysis ran ${jobs.size} jobs:${SparkJobs.labels(jobs)}")
      (msg, jobs.size)
    }
    def ups(k: org.apache.spark.sql.Column) =
      ids.select(k.as("k"), col("id").cast("string").as("s"))
    assert(refusal(ups(col("id") % 39), None)._1.contains("1 duplicate key"))
    assert(refusal(ups(col("id")), Some(spark.range(39, 45, 1, 4).toDF("k")))
      ._1.contains("BOTH"))
  }

  test("a double key: 0.0 and -0.0 are one key, as Spark's equality has it") {
    val dir = tmpDir("merge-double") + "/t"
    Layout.snapshotAppend(Seq((0.0, "zero"), (1.5, "x")).toDF("k", "s"), dir)
    def merge(ups: Seq[(Double, String)], dels: Seq[Double] = Nil): Long =
      Layout.snapshotMergeInto(spark, dir, ups.toDF("k", "s"), Seq("k"),
        deletes = Option.when(dels.nonEmpty)(dels.toDF("k")))
    // one change set holding both zeros holds a duplicate key...
    val dup = intercept[IllegalArgumentException](
      merge(Seq((0.0, "p"), (-0.0, "m"))))
    assert(dup.getMessage.contains("1 duplicate key"))
    // ...or the same key on both sides
    val both = intercept[IllegalArgumentException](
      merge(Seq((0.0, "p")), Seq(-0.0)))
    assert(both.getMessage.contains("BOTH"))
    // -0.0 replaces the table's 0.0 row
    merge(Seq((-0.0, "neg")))
    val got = Layout.snapshotRead(spark, dir).as[(Double, String)].collect()
    assert(got.map(_._2).sorted.toSeq === Seq("neg", "x"))
    assert(got.exists(r => r._2 == "neg" &&
      java.lang.Double.doubleToRawLongBits(r._1) ==
        java.lang.Double.doubleToRawLongBits(-0.0)))
    // and a -0.0 tombstone deletes the 0.0-equal row
    merge(Nil, Seq(0.0))
    assert(Layout.snapshotRead(spark, dir).as[(Double, String)].collect()
      .toSeq === Seq((1.5, "x")))
  }

  test("the matched-key change record is one file and replays the merge") {
    val dir = tmpDir("merge-cdcd") + "/t"
    (0 until 3).foreach(f => Layout.snapshotAppend(
      (f * 10 + 1 to f * 10 + 10).map(i => (i, s"a$i")).toDF("k", "s")
        .repartition(1), dir, statsCols = Seq("k")))
    // five matched keys across two files (two of them tombstones), one
    // insert, one tombstone for an absent key
    val v = Layout.snapshotMergeInto(spark, dir,
      Seq((2, "U2"), (5, "U5"), (23, "U23"), (99, "N99")).toDF("k", "s")
        .repartition(4), Seq("k"), deletes = Some(Seq(7, 28, 500).toDF("k")))
    val cdcd = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.endsWith("-cdcd"))
    assert(cdcd.length === 1)
    assert(cdcd.head.listFiles().count(_.getName.endsWith(".parquet")) === 1)
    val ev = Layout.snapshotChangesTyped(spark, dir, 3L)
      .select("_commit_version", "_change_type", "k", "s")
      .as[(Long, String, Int, Option[String])].collect().sorted.toSeq
    assert(ev === Seq(
      (v, "delete", 2, None), (v, "delete", 5, None), (v, "delete", 7, None),
      (v, "delete", 23, None), (v, "delete", 28, None),
      (v, "insert", 2, Some("U2")), (v, "insert", 5, Some("U5")),
      (v, "insert", 23, Some("U23")), (v, "insert", 99, Some("N99"))))
  }

  test("date/decimal composite keys and wider-typed tombstones match exactly") {
    val dir = tmpDir("merge-typed") + "/t"
    val d1 = java.sql.Date.valueOf("2020-10-05")
    val d2 = java.sql.Date.valueOf("2020-10-06")
    def dec(s: String) = new java.math.BigDecimal(s)
    Layout.snapshotAppend(Seq((d1, dec("1.50"), "a"), (d1, dec("2.00"), "b"),
      (d2, dec("1.50"), "c"), (d2, dec("2.00"), "d")).toDF("d", "m", "s")
      .repartition(1), dir, statsCols = Seq("d", "m"))
    // (d1, 2.00) updates and (d2, 1.50) is tombstoned; per-column INs
    // alone would also admit (d1, 1.50) and (d2, 2.00)
    Layout.snapshotMergeInto(spark, dir,
      Seq((d1, dec("2.00"), "U"), (d2, dec("3.00"), "N")).toDF("d", "m", "s"),
      Seq("d", "m"), deletes = Some(Seq((d2, dec("1.50"))).toDF("d", "m")))
    def rows(path: String) = Layout.snapshotRead(spark, path)
      .as[(java.sql.Date, java.math.BigDecimal, String)].collect()
      .map(r => (r._1.toString, r._2.setScale(2).toPlainString, r._3)).toSet
    assert(rows(dir) === Set(("2020-10-05", "1.50", "a"),
      ("2020-10-05", "2.00", "U"), ("2020-10-06", "2.00", "d"),
      ("2020-10-06", "3.00", "N")))
    // tombstones typed wider than the table's int key still delete
    val ik = tmpDir("merge-wide") + "/t"
    Layout.snapshotAppend((1 to 5).map(i => (i, s"a$i")).toDF("k", "s"), ik)
    Layout.snapshotMergeInto(spark, ik, spark.emptyDataset[(Int, String)]
      .toDF("k", "s"), Seq("k"), deletes = Some(Seq(2L, 4L).toDF("k")))
    assert(Layout.snapshotRead(spark, ik).as[(Int, String)].collect().toMap ===
      Map(1 -> "a1", 3 -> "a3", 5 -> "a5"))
  }
}

