package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Runs one workload in one JVM and prints, as the
  * last line of stdout, `{"correct", "attempted", "failed", "metrics"}`.
  *
  * {{{
  *   Main --workload trickle --seed 1 --seconds 10 --trace 0 --work DIR
  *        [--scale 1.0] [--corrupt 1] [--gen-only 1]
  * }}}
  *
  * `--trace 0` reports the end-to-end metrics; `--trace 1` attaches the
  * tracer and reports the per-layer metrics instead. `--corrupt 1` damages
  * the program's output before the checks run (the checks must catch it);
  * `--gen-only 1` writes the workload's inputs to DIR/inputs and exits.
  */
object Main {

  /** Set-up is repeated and its median reported, so that work moved into
    * set-up shows without one slow repetition deciding the number. */
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File, scale: Double, corrupt: Boolean,
      genOnly: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")).getAbsoluteFile,
      m.get("scale").map(_.toDouble).getOrElse(1.0),
      m.get("corrupt").contains("1"), m.get("gen-only").contains("1"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val make: Ctx => Workload = o.workload match {
      case "trickle"     => new Trickle(_)
      case "analyst_mix" => new AnalystMix(_)
      case w => sys.error(s"unknown workload $w")
    }
    o.work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the status store keeps this many finished jobs, stages and queries
      // in the heap (1000 by default); a small cap fills early in set-up,
      // so heap_after_gc_mb does not grow with the number of operations a
      // run happens to fit into its seconds
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.local.dir", new File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val tracer = if (o.trace) Some(new Tracer(s"${o.workload}-${o.seed}")) else None
    val ctx = new Ctx(spark, o, tracer, progress)
    val w = make(ctx)
    Speed.init(spark)
    try {
      if (o.genOnly) { w.generate(ctx.dir("inputs")); return }
      // a traced run also traces the last set-up, whose program calls
      // (e.g. the table load) have per-layer metrics of their own
      val setupS = (1 to SetupReps).map { rep =>
        Speed.cpu()
        if (rep == SetupReps) tracer.foreach(_.attach(spark))
        Util.deleteTree(ctx.dir("inputs"))
        Util.timeSec(ctx.span("setup")(w.setup(ctx.dir("inputs"))))
      }
      // warm the Spark probe up; only its samples from here on count
      Speed.cpu(); Speed.spark(5); Speed.sparkSamples.clear()
      val t0 = System.nanoTime()
      w.run()
      val timedS = (System.nanoTime() - t0) / 1e9
      Speed.cpu(); Speed.spark(3)
      val heapMb = Util.heapAfterGcMb()
      tracer.foreach { t => w.probe(); t.detach(spark) }
      if (o.corrupt) w.corrupt()
      val checks = w.check()
      checks.failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))
      val metrics: Seq[(String, Double, String)] = tracer match {
        case None =>
          val f = Speed.sparkFactor
          Seq(("setup_s", Util.median(setupS) * Speed.cpuFactor, "s"),
            ("op_p50_ms", Util.median(w.opsMs.toSeq) * f, "ms"),
            ("ops_per_s", w.opsMs.size / (w.busyMs / 1000) / f, "1/s"),
            ("stored_bytes_per_input_byte", w.storedBytesPerInputByte, "ratio"),
            ("heap_after_gc_mb", heapMb, "MB"))
        case Some(t) =>
          val l = Layers.of(t, w, ctx)
          tracer.foreach(t => Files.write(Paths.get(o.work.getPath, "trace.json"),
            t.toJson.getBytes("UTF-8")))
          l
      }
      System.err.println(f"[perfbench] ${o.workload}: ops=${w.opsMs.size} " +
        f"timed=$timedS%.2fs setup=${setupS.map(s => f"$s%.2f").mkString(",")} " +
        f"raw_p50=${Util.median(w.opsMs.toSeq)}%.1f " +
        f"raw_ops_per_s=${w.opsMs.size / (w.busyMs / 1000)}%.3f " +
        f"cpu_factor=${Speed.cpuFactor}%.3f spark_factor=${Speed.sparkFactor}%.3f " +
        f"spark_probes=${Speed.sparkSamples.size} " +
        f"samples=${Speed.sparkSamples.map(x => f"$x%.0f").mkString(",")}")
      println(Util.resultLine(checks.failures.isEmpty, checks.attempted,
        checks.failed, metrics))
    } finally {
      spark.stop()
    }
  }
}

/** What one workload run shares with its workload. */
final class Ctx(val spark: SparkSession, val o: Main.Opts,
    val tracer: Option[Tracer], val progress: ProgressLog) {
  def dir(name: String): File = new File(o.work, name)
  /** Wrap an eager call into the program in a span when tracing. */
  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None    => body
  }
}

final case class Checks(attempted: Int, failed: Int, failures: Seq[String])

/** One workload: set-up (repeated; inputs land under the given dir), a
  * timed region recording one latency per operation, and checks of every
  * output against the generator's answers. */
trait Workload {
  val opsMs = scala.collection.mutable.ArrayBuffer[Double]()
  /** Wall milliseconds spent in the timed operations. */
  var busyMs = 0.0
  /** Run `body` as (part of) the timed operations; returns its result and
    * its wall milliseconds. */
  def measure[T](body: => T): (T, Double) = {
    val r = Util.timeMs(body)
    busyMs += r._2
    r
  }
  def resetMeasures(): Unit = { opsMs.clear(); busyMs = 0.0 }
  def generate(dir: File): Unit
  def setup(inputs: File): Unit
  def run(): Unit
  def check(): Checks
  def corrupt(): Unit
  /** Bytes of the tables the workload's writes left on disk per input byte. */
  def storedBytesPerInputByte: Double
  /** Extra traced calls after the timed region (traced runs only). */
  def probe(): Unit = ()
  /** Per-layer metrics this workload knows how to read (traced runs). */
  def layers(t: Tracer): Map[String, Double]
}

/** Host speed probes. A shared VM's speed drifts by tens of percent within
  * minutes, for every process on it, so times are reported at a reference
  * speed: measured time × a factor = reference probe time / median probe
  * time. Two probes, each timed while the program is idle:
  *
  *  - `cpu`: a fixed single-threaded CPU kernel, run before each set-up and
  *    around the timed region; its factor scales `setup_s` (data generation
  *    and one batch load).
  *  - `spark`: a fixed Spark job on built-in operators only (range, hash,
  *    group-by over a shuffle, `local[nproc]` tasks), in a session of its
  *    own so no setting the program makes reaches it. Workloads run it
  *    between their timed operations; its factor scales operation times,
  *    which are mostly Spark scheduling and short multi-threaded stages
  *    that slow down with the host far more than the CPU kernel does. */
object Speed {
  /** Median probe times on the reference host (a quiet 4-core VM). */
  val CpuRefMs = 5.0
  val SparkRefMs = 100.0
  val cpuSamples = scala.collection.mutable.ArrayBuffer[Double]()
  val sparkSamples = scala.collection.mutable.ArrayBuffer[Double]()

  private val data = Array.tabulate(1 << 14)(i => i * 0x9E3779B1)
  @volatile private var sink = 0
  private var session: org.apache.spark.sql.SparkSession = _
  private val cores = Runtime.getRuntime.availableProcessors()

  def init(spark: org.apache.spark.sql.SparkSession): Unit = session = spark.newSession()

  def cpu(n: Int = 5): Unit = for (_ <- 1 to n) {
    val t0 = System.nanoTime()
    var h = 0; var r = 0
    while (r < 320) {
      var i = 0
      while (i < data.length) { h = h * 31 + data(i); i += 1 }
      r += 1
    }
    sink = h
    cpuSamples += (System.nanoTime() - t0) / 1e6
  }

  def spark(n: Int = 1): Unit = for (_ <- 1 to n) {
    val t0 = System.nanoTime()
    session.range(0, 1L << 20, 1, cores)
      .selectExpr("id % 4096 AS k", "pmod(xxhash64(id), 1000003) AS h")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("h")).collect()
    sparkSamples += (System.nanoTime() - t0) / 1e6
  }

  /** Multiply a set-up time by this to get it at the reference speed. */
  def cpuFactor: Double = CpuRefMs / Util.median(cpuSamples.toSeq)
  /** Multiply an operation time by this to get it at the reference speed. */
  def sparkFactor: Double = SparkRefMs / Util.median(sparkSamples.toSeq)
}

object Util {
  def timeSec(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }
  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e6)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Heap in use after full GCs. Spark frees broadcast and shuffle blocks
    * asynchronously once a GC has found them unreachable (ContextCleaner),
    * so the GC is repeated with pauses until that clean-up has run. */
  def heapAfterGcMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  /** Regular, non-hidden files under `f` (skips checksum and staging files). */
  def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith(".")).flatMap(files)
    else if (f.isFile) Seq(f) else Nil
  def bytes(f: File): Long = files(f).map(_.length).sum
  def parquetFiles(f: File): Int = files(f).count(_.getName.endsWith(".parquet"))

  def resultLine(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
    metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, """ +
        s""""failed": $failed, "metrics": {""", ", ", "}}")
  }
}
