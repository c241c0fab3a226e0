package graft

import org.apache.spark.sql.GraftPlanBridge
import org.apache.spark.sql.types.MetadataBuilder

/** `GraftPlanBridge.parquetSchemaOf` (the driver-side footer read that
  * stands in for a schema-inference job) decodes the footer as inference
  * does: Spark's own row schema first, so field metadata survives. */
class ParquetFooterSchemaSpec extends SparkSpec {

  test("parquetSchemaOf equals the inferred schema, field metadata and varchar included") {
    val dir = tmpDir("footer-schema")
    spark.sql("CREATE TABLE footer_schema_src (id BIGINT, name VARCHAR(8)) USING parquet")
    try {
      spark.sql("INSERT INTO footer_schema_src VALUES (1, 'a'), (2, 'b')")
      val idMeta = new MetadataBuilder()
        .putLong("parquet.field.id", 7L).putString("graft.key", "id").build()
      val f = s"$dir/t"
      spark.table("footer_schema_src").withMetadata("id", idMeta)
        .write.parquet(f)
      val inferred = spark.read.parquet(f).schema
      val footer = GraftPlanBridge.parquetSchemaOf(spark, f)
      assert(footer === inferred)
      // === on StructType compares metadata too; pin that it is there
      assert(footer("id").metadata === idMeta)
      assert(footer("name").metadata.json.contains("varchar(8)"))
      // one data file named directly reads the same footer
      val file = new java.io.File(f).listFiles().map(_.getPath)
        .filter(_.endsWith(".parquet")).min
      assert(GraftPlanBridge.parquetSchemaOf(spark, file) === inferred)
    } finally { spark.sql("DROP TABLE footer_schema_src"); () }
  }
}
