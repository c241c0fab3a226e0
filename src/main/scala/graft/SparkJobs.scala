package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Records the Spark jobs and completed stages a piece of library code
  * starts, and the generated classes it compiled: the per-stage execution
  * statistics [[Probe]] prints and the job counts the specs pin. */
object SparkJobs {

  /** One Spark job: its description (else its call site), whether it is
    * parquet schema inference — a bare `parallelize` → `mapPartitions`
    * footer read, with no SQL operator in its lineage — and its wall
    * time in ms (-1 if its end was not seen). */
  final case class Job(id: Int, label: String, inference: Boolean, ms: Long)

  /** One completed stage: wall ms, tasks, input and shuffle bytes, input
    * records and summed executor CPU ms. */
  final case class Stage(id: Int, name: String, ms: Long, tasks: Int,
      inputBytes: Long, inputRecords: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, cpuMs: Long)

  /** `compiles` and `compileMs` are the Janino compiles (codegen cache
    * misses) and their time while `body` ran, as deltas of Spark's
    * JVM-wide `CodegenMetrics` and `CodeGenerator.compileTime`: work
    * of another thread in the same JVM counts too. */
  final case class Log(jobs: Seq[Job], stages: Seq[Stage], compiles: Long,
      compileMs: Double)

  /** The jobs, stages and compiles `body` ran. */
  def record(spark: SparkSession)(body: => Unit): Log = {
    val started = new ConcurrentLinkedQueue[(SparkListenerJobStart, String)]
    val ended = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    val stages = new ConcurrentLinkedQueue[Stage]
    val fence = s"job-count-fence-${java.util.UUID.randomUUID()}"
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        started.add((e, Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description")))
          .getOrElse(e.stageInfos.maxBy(_.stageId).name)))
        ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        ended.put(e.jobId, e.time); ()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages.add(Stage(si.stageId, si.name.takeWhile(_ != '\n'),
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          si.numTasks, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.executorCpuTime / 1000000))
        ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      val (n0, ns0) = (compiles(), CodeGenerator.compileTime)
      body
      val (n, ns) = (compiles() - n0, CodeGenerator.compileTime - ns0)
      // the bus delivers in order: once the fence job is seen, so is
      // every job `body` started and every stage it completed
      sc.setJobDescription(fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      def fenceStart = started.asScala.find(_._2 == fence)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (fenceStart.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(10)
      val fenceStages = fenceStart.map(_._1.stageIds.toSet)
        .getOrElse(sys.error("listener bus did not drain"))
      Log(
        started.asScala.toSeq.filterNot(_._2 == fence).map { case (e, label) =>
          val scopes = e.stageInfos.flatMap(_.rddInfos.map(_.scope.map(_.name)))
          Job(e.jobId, label,
            scopes.nonEmpty && scopes.forall(s =>
              s.contains("parallelize") || s.contains("mapPartitions")),
            if (ended.containsKey(e.jobId)) ended.get(e.jobId) - e.time else -1L)
        },
        stages.asScala.toSeq.filterNot(s => fenceStages(s.id)),
        n, ns / 1e6)
    } finally sc.removeSparkListener(l)
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The jobs started while `body` ran. */
  def jobsOf(spark: SparkSession)(body: => Unit): Seq[Job] =
    record(spark)(body).jobs

  /** The jobs' labels, one per line, for assertion messages. */
  def labels(jobs: Seq[Job]): String =
    jobs.map(_.label.replace('\n', ' ')).mkString("\n  ", "\n  ", "")
}
