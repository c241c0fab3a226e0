package graft.ops

import graft.SparkSpec

/** `snapshotMergeInto` past its 1024-key IN-list threshold: the change
  * set's analysis falls back to the rollup (range predicates, counts,
  * refusals), and a refused merge still releases the change set's cache. */
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
}
