package graft

/** Smoke case for the probe main: one query, one rep, its plan written
  * under an absolute tag, and the listener's view of the rep. */
class ProbeSpec extends SparkSpec {

  test("Probe: one rep of q04 at sf0.001 writes its plan and records jobs and stages") {
    val tag = tmpDir("probe-plans")
    val logs = Probe.run(spark, Seq("q04_join_multiway", "/root/testdata/sf0.001",
      "1", "--plans", tag, "smoke"))
    val plan = new java.io.File(s"$tag/q04_join_multiway_smoke.txt")
    assert(plan.isFile && plan.length() > 0)
    assert(logs.size === 1)
    assert(logs.head.jobs.nonEmpty, "the listener saw no job")
    assert(logs.head.stages.nonEmpty, "the listener saw no stage")
  }
}
