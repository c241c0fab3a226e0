package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Where did a query's time go? A terminal stand-in for the Spark UI's
  * job and stage pages (guide §7.1): each target gets one un-timed
  * warm-up (codegen, fixture builds), then `reps` timed reps (default 3),
  * each forced end to end with a `noop` write. A rep's header names its
  * jobs, stages and codegen compiles (count and ms: a rep that still
  * compiles generates new Java per call); its table of completed stages
  * (wall ms, tasks, executor CPU, input and shuffle bytes) and its
  * slowest jobs follow, as [[SparkJobs]] recorded them.
  *
  * Usage: `runMain graft.Probe <q1,q2,…|headline|merge> [sfDir] [reps]
  * [--plans <tag> <suffix>] [--ab <k=v~k=v…>]`
  *  - `headline` names every headline query; `merge` runs
  *    [[graft.ops.MergeBench.probe]] (the CDC-apply path) instead of a
  *    query;
  *  - the query's formatted plan is printed first; `--plans` writes it
  *    to `plans/<tag>/<query>_<suffix>.txt` instead (an absolute `tag`
  *    is used as is) — the before/after plan files optimization rounds
  *    commit. Every plan is taken before any query runs; reps 0 runs
  *    nothing else;
  *  - `--ab` replaces the tables by an interleaved config A/B: the
  *    confs OFF (session defaults) and ON alternate rep by rep inside one
  *    JVM, so a one-sided host stall hits both arms, and the min per arm
  *    is printed (`~` separates confs: `;` would split the sbt command).
  * `sfDir` defaults to `SPARK_GRAFT_SF_DIR`, else sf0.1; the session runs
  * on `SPARK_GRAFT_CPUS` cores, else 32. */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(GraftSession.envCores(32), "graft-probe")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** Runs the probe on `spark`; returns the log of every timed rep. */
  def run(spark: SparkSession, args: Seq[String]): Seq[SparkJobs.Log] = {
    var plans = Option.empty[(String, String)]
    var ab = Option.empty[String]
    val pos = Seq.newBuilder[String]
    val it = args.iterator
    while (it.hasNext) it.next() match {
      case "--plans" => plans = Some((it.next(), it.next()))
      case "--ab"    => ab = Some(it.next())
      case a         => pos += a
    }
    val Seq(target, rest @ _*) = pos.result()
    val sfDir = rest.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val reps = rest.lift(1).fold(3)(_.toInt)

    val names = target.split(",").toSet
    val qs = SparkEntry.allSpecs.filter(q =>
      if (target == "headline") q.headline else names(q.name))
    require(target == "merge" || target == "headline" || qs.size == names.size,
      s"unknown query in $target")
    qs.foreach { q =>
      val plan = q.run(spark, sfDir).queryExecution.explainString(FormattedMode)
      plans match {
        case Some((tag, suffix)) =>
          val dir = Files.createDirectories(Paths.get("plans").resolve(tag))
          Files.write(dir.resolve(s"${q.name}_$suffix.txt"),
            plan.getBytes(StandardCharsets.UTF_8))
          System.err.println(s"[probe] wrote ${q.name}_$suffix.txt")
        case None => println(plan)
      }
    }

    // each target's body: one forced run, and a note for its rep line
    val work: Seq[(String, () => String)] =
      if (target == "merge") Seq("merge" -> { () =>
        val r = graft.ops.MergeBench.probe(spark, sfDir)
        f", ${r.rowsPerSec}%.0f rows/s (${r.applied} in ${r.sec}%.2f s)"
      })
      else qs.map(q => q.name -> { () =>
        q.run(spark, sfDir).write.mode("overwrite").format("noop").save(); ""
      })
    def timed(body: () => String): (Double, String) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val note = body()
      ((System.nanoTime() - t0) / 1e9, note)
    }

    ab match {
      case Some(spec) =>
        val confs = spec.split("~").toSeq.map { kv =>
          val Array(k, v) = kv.split("=", 2); (k, v) }
        val defaults = confs.map { case (k, _) => (k, spark.conf.getOption(k)) }
        def setArm(on: Boolean): Unit =
          if (on) confs.foreach { case (k, v) => spark.conf.set(k, v) }
          else defaults.foreach { case (k, d) =>
            d.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
        work.foreach { case (name, body) =>
          // warm both arms: codegen differs per plan shape
          Seq(false, true).foreach { on => setArm(on); body() }
          val arms = (1 to reps).map(_ =>
            Seq(false, true).map { on => setArm(on); timed(body)._1 })
          setArm(false)
          val Seq(off, on) = Seq(0, 1).map(i => arms.map(_(i)))
          def list(ts: Seq[Double]) = ts.map(t => f"$t%.2f").mkString(",")
          println(f"[ab] $name%-34s off=${off.min}%.3f on=${on.min}%.3f  " +
            f"ratio=${on.min / off.min}%.3f  offReps=${list(off)}  onReps=${list(on)}")
        }
        Nil
      case None =>
        work.flatMap { case (name, body) =>
          if (reps > 0) body()
          (1 to reps).map { i =>
            var secNote = (0.0, "")
            val log = SparkJobs.record(spark) { secNote = timed(body) }
            report(name, i, secNote._1, secNote._2, log)
            log
          }
        }
    }
  }

  private def report(name: String, rep: Int, sec: Double, note: String,
      log: SparkJobs.Log): Unit = {
    println(f"%n=== $name rep$rep: $sec%.3f s, ${log.jobs.size} jobs, " +
      f"${log.stages.size} stages, ${log.compiles} compiles " +
      f"(${log.compileMs}%.0f ms)$note ===")
    println(f"${"stage"}%6s ${"ms"}%7s ${"tasks"}%5s ${"cpuMs"}%7s " +
      f"${"inMB"}%8s ${"inRec"}%9s ${"shRdMB"}%7s ${"shWrMB"}%7s  name")
    log.stages.sortBy(_.id).foreach { s =>
      println(f"${s.id}%6d ${s.ms}%7d ${s.tasks}%5d ${s.cpuMs}%7d " +
        f"${s.inputBytes / 1e6}%8.2f ${s.inputRecords}%9d " +
        f"${s.shuffleReadBytes / 1e6}%7.2f ${s.shuffleWriteBytes / 1e6}%7.2f  " +
        s.name.take(60))
    }
    println(f"sum(stage ms)=${log.stages.map(_.ms).sum}  (wall $sec%.3f s; " +
      "the gap is driver, planning and scheduling)")
    println(f"job-time sum=${log.jobs.map(_.ms).filter(_ > 0).sum / 1e3}%.2f s; " +
      "slowest jobs:")
    log.jobs.sortBy(-_.ms).take(20).foreach { j =>
      println(f"  job ${j.id}%4d ${j.ms}%7d ms  ${j.label.replace('\n', ' ').take(90)}")
    }
  }
}
