package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a piece of library code starts, for the specs
  * that pin per-call job counts. */
object SparkJobs {

  /** One Spark job: its description (else its call site) and whether it
    * is parquet schema inference — a bare `parallelize` → `mapPartitions`
    * footer read, with no SQL operator in its lineage. */
  final case class Job(label: String, inference: Boolean)

  /** The jobs started while `body` ran. */
  def jobsOf(spark: SparkSession)(body: => Unit): Seq[Job] = {
    val seen = new ConcurrentLinkedQueue[Job]
    val fence = s"job-count-fence-${java.util.UUID.randomUUID()}"
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val scopes = e.stageInfos.flatMap(_.rddInfos.map(_.scope.map(_.name)))
        seen.add(Job(
          Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description")))
            .getOrElse(e.stageInfos.maxBy(_.stageId).name),
          scopes.nonEmpty &&
            scopes.forall(s => s.contains("parallelize") || s.contains("mapPartitions"))))
        ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      // the bus delivers in order: once the fence job is seen, so is
      // every job `body` started
      sc.setJobDescription(fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_.label == fence) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.asScala.exists(_.label == fence), "listener bus did not drain")
      seen.asScala.toSeq.filterNot(_.label == fence)
    } finally sc.removeSparkListener(l)
  }

  /** The jobs' labels, one per line, for assertion messages. */
  def labels(jobs: Seq[Job]): String =
    jobs.map(_.label.replace('\n', ' ')).mkString("\n  ", "\n  ", "")
}
