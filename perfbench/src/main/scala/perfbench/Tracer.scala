package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: a name, wall-clock bounds and the span that encloses it.
  * Spans of one run share `run`. */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startMs: Long, endMs: Long) {
  def contains(t: Long): Boolean = t >= startMs && t <= endMs
  def ms: Long = endMs - startMs
}

/** Counters of one Spark stage, from the task-end events of its tasks. */
final class StageCounters(val submitMs: Long, val name: String) {
  var endMs = 0L
  var tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  var inRecords, inBytes, outBytes = 0L
}

/** A finished SQL execution: when its analysis started and its Catalyst
  * phase times. */
final case class Execution(atMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long)

/** A file scan node, first seen in an execution that started at `atMs`.
  * Its metrics are read when the report is made: a cached plan's scan runs
  * once but shows up in every execution that reads the cache. */
final case class Scan(atMs: Long, node: FileSourceScanExec) {
  def path: String = node.relation.location.rootPaths.headOption
    .map(_.toUri.getPath).getOrElse("")
  private def metric(k: String) = node.metrics.get(k).map(_.value).getOrElse(0L)
  def rows: Long = metric("numOutputRows")
  def files: Long = metric("numFiles")
}

/** Outside-in tracer. Spans come from the benchmark's own calls into the
  * program; the counters come only from public Spark hooks the tracer
  * attaches (`SparkListener`, `QueryExecutionListener`). Everything stays in
  * memory and is written when the run ends. Events are attributed to spans
  * by time: the benchmark drives the program from one thread, so the
  * innermost span open when a job, stage or query started is its cause. */
final class Tracer(val run: String) {
  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[(Int, String, Long)]
  private var nextId = 1

  val jobs = mutable.ArrayBuffer[Long]()
  val stages = mutable.LinkedHashMap[Int, StageCounters]()
  val executions = mutable.ArrayBuffer[Execution]()
  private val scans = mutable.LinkedHashMap[Int, Scan]()

  @volatile private var active = false

  /** Record `body` as a span while the tracer is attached. */
  def span[T](name: String)(body: => T): T = if (!active) body else {
    val id = nextId; nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(0)
    open = (id, name, System.currentTimeMillis()) :: open
    try body
    finally {
      val (_, _, start) = open.head
      open = open.tail
      spans += Span(id, name, parent, run, start, System.currentTimeMillis())
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized { jobs += e.time }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stages.getOrElseUpdate(e.stageInfo.stageId, new StageCounters(
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()),
          e.stageInfo.name))
        ()
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stages.get(e.stageInfo.stageId).foreach(_.endMs =
          e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
          s.tasks += 1
          s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.diskBytesSpilled
          s.inRecords += m.inputMetrics.recordsRead
          s.inBytes += m.inputMetrics.bytesRead
          s.outBytes += m.outputMetrics.bytesWritten
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val at = phases.get("analysis").map(_.startTimeMs)
      .getOrElse(System.currentTimeMillis())
    val seen = mutable.Set[Int]()
    def walk(p: SparkPlan): Unit =
      if (seen.add(System.identityHashCode(p))) p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec        => walk(s.plan)
        case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
        case f: FileSourceScanExec =>
          synchronized(scans.getOrElseUpdate(System.identityHashCode(f), Scan(at, f)))
        case other =>
          other.children.foreach(walk); other.subqueries.foreach(walk)
      }
    walk(qe.executedPlan)
    synchronized {
      executions += Execution(at, ms("analysis"), ms("optimization"),
        ms("planning"))
    }
  }

  def attach(spark: SparkSession): Unit = {
    active = true
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }
  def detach(spark: SparkSession): Unit = {
    active = false
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  // -------------------------------------------------------------- queries

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  /** Spans of the timed region: top-level, not inside a set-up span. */
  def timed(name: String): Seq[Span] = named(name).filter(_.parent == 0)
  def within(ss: Seq[Span])(t: Long): Boolean = ss.exists(_.contains(t))

  def stagesIn(ss: Seq[Span]): Seq[StageCounters] = synchronized {
    stages.values.filter(s => within(ss)(s.submitMs)).toSeq
  }
  def jobsIn(ss: Seq[Span]): Int = synchronized(jobs.count(within(ss)))
  def executionsIn(ss: Seq[Span]): Seq[Execution] = synchronized {
    executions.filter(e => within(ss)(e.atMs)).toSeq
  }
  def scansIn(ss: Seq[Span], pathPrefix: String): Seq[Scan] = synchronized {
    scans.values.filter(s => within(ss)(s.atMs) && s.path.startsWith(pathPrefix)).toSeq
  }

  /** Span time covered by no running stage: driver-side planning,
    * metadata I/O and job set-up. */
  def uncoveredMs(ss: Seq[Span]): Long = ss.map { sp =>
    val iv = stagesIn(Seq(sp)).map(s => (s.submitMs, math.min(
      if (s.endMs > 0) s.endMs else sp.endMs, sp.endMs))).sortBy(_._1)
    var covered = 0L; var cur = sp.startMs
    for ((a, b) <- iv) {
      val lo = math.max(a, cur)
      if (b > lo) { covered += b - lo; cur = b }
    }
    sp.ms - covered
  }.sum

  def toJson: String = {
    val b = new StringBuilder("{\"run\": \"" + run + "\", \"spans\": [\n")
    b.append(spans.sortBy(_.id).map(s =>
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
        s""""run": "${s.run}", "start_ms": ${s.startMs}, "end_ms": ${s.endMs}}"""
    ).mkString(",\n"))
    b.append("\n], \"stages\": [\n")
    b.append(stages.map { case (id, s) =>
      s"""{"id": $id, "name": "${s.name}", "submit_ms": ${s.submitMs}, "end_ms": ${s.endMs}, """ +
        s""""tasks": ${s.tasks}, "run_ms": ${s.runMs}, "cpu_ms": ${s.cpuNs / 1000000}, """ +
        s""""gc_ms": ${s.gcMs}, "input_records": ${s.inRecords}, """ +
        s""""shuffle_write_bytes": ${s.shuffleWrite}}"""
    }.mkString(",\n"))
    b.append("\n]}\n").toString
  }
}

/** One micro-batch's `durationMs` phase times. */
final case class Batch(durations: Map[String, Long])

/** Collects `StreamingQueryProgress` of every streaming query of the
  * session. Always attached: micro-batch latency is an end-to-end metric. */
final class ProgressLog extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer[Batch]()
  @volatile var terminated = 0

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = mutable.Map[String, Long]()
        p.durationMs.forEach((k, v) => d(k) = v.longValue)
        batches += Batch(d.toMap)
      }
    }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated += 1

  /** Progress events arrive asynchronously; wait for the termination event
    * that follows the last of them. */
  def awaitTerminated(n: Int): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (terminated < n && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }
  def clear(): Unit = synchronized { batches.clear() }
}
