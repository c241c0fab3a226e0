package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * startup is ~5 s, per-suite sessions would dominate test time). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4, "graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // graft natives (vec_dot, regex_count, …) available to every suite —
    // production sessions get this via graft.Tables; suites that build
    // Columns directly (Text.qualityScore → regex_count) need it too
    graft.functions.GraftFunctions.ensureRegistered(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
