package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RegexCountSpec extends SparkSpec {
  import spark.implicits._

  private val texts = Seq(
    "contact a@b.co or x.y+z@mail.example.org, call 555-123-4567",
    "no matches here",
    "",
    "a,b,,c!! d?? 10.0.0.1 and 255.255.255.255 end",
    "   leading and trailing   ",
    "ünïcode tøkens 批处理 mixed with a@b.de")

  private val patterns = Seq(
    "\\S+",                                    // tokenizer
    "[^A-Za-z0-9\\s]",                         // punctuation class
    graft.ops.Text.EmailRe,
    graft.ops.Text.PhoneRe,
    graft.ops.Text.Ipv4Re,
    "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]+")        // bpe-ish classes

  test("regex_count equals size(regexp_extract_all) for every pattern") {
    GraftFunctions.ensureRegistered(spark)
    val df = texts.zipWithIndex.map(_.swap).toDF("id", "text")
    patterns.foreach { p =>
      val r = df.select(
          call_function("regex_count", $"text", lit(p)).as("fused"),
          size(regexp_extract_all($"text", lit(p), lit(0)))
            .cast("long").as("composable"))
        .collect()
      r.foreach(row => assert(row.getLong(0) === row.getLong(1),
        s"pattern $p on row $row"))
    }
  }

  test("null text yields null (oracle len(regexp_extract_all(NULL)) semantics)") {
    GraftFunctions.ensureRegistered(spark)
    val r = Seq((1L, Option.empty[String]), (2L, Some("a b")))
      .toDF("id", "text")
      .select($"id", call_function("regex_count", $"text", lit("\\S+")).as("c"))
      .collect().map(x => x.getLong(0) -> (if (x.isNullAt(1)) -999L else x.getLong(1))).toMap
    assert(r(1L) === -999L)
    assert(r(2L) === 2L)
  }

  test("a NULL literal pattern is rejected at analysis") {
    GraftFunctions.ensureRegistered(spark)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT regex_count(CAST(id AS STRING), " +
        "CAST(NULL AS STRING)) FROM range(3)").collect()
    }
  }
}
