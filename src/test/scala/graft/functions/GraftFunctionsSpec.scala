package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSession}

import graft.{GraftExtensions, SparkSpec}

/** The one function registry ([[GraftFunctions.registry]]) and the
  * analysis-time input checks of its members. */
class GraftFunctionsSpec extends SparkSpec {

  /** A fresh session on the shared SparkContext built ONLY with
    * [[GraftExtensions]] — never passed through
    * [[GraftFunctions.ensureRegistered]]. getOrCreate returns the
    * existing default session, so the default is cleared first and
    * restored after. */
  private def withExtensionsOnly[A](f: SparkSession => A): A = {
    val base = spark // force the shared session to exist
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s ne base, "expected a fresh session, got the shared one")
      f(s)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("an extensions-only session resolves every registry function") {
    withExtensionsOnly { s =>
      val missing = GraftFunctions.registry.map(_._1)
        .filterNot(s.catalog.functionExists)
      assert(missing.isEmpty, s"unresolved in an extensions-only session")
      // and they run: two of the names that were once ensureRegistered-only
      assert(s.sql("SELECT regex_count('a bb ccc', '\\\\S+')")
        .head().getLong(0) === 3L)
      assert(s.sql("SELECT vec_centroid(v) FROM VALUES " +
          "(array(CAST(1 AS FLOAT), CAST(3 AS FLOAT))) AS t(v)")
        .head().getSeq[Any](0).size === 2)
    }
  }

  test("vec_dot rejects non-float arrays at analysis (DATATYPE_MISMATCH)") {
    GraftFunctions.ensureRegistered(spark)
    val e = intercept[AnalysisException] {
      spark.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
        .collect()
    }
    assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    // the supported form still evaluates
    assert(spark.sql("SELECT vec_dot(array(CAST(1 AS FLOAT), " +
        "CAST(2 AS FLOAT)), array(CAST(3 AS FLOAT), CAST(4 AS FLOAT)))")
      .head().getDouble(0) === 11.0)
  }
}
