package graft

import org.apache.spark.sql.types._
import graft.operators.{ChTypes, SchemaEvolution}

/** The reference's exact evolution rules
  * (src/clickhouse-batch-client.class.ts:492-568). */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  test("ChTypes infers from value string form (reference utils.ts rules)") {
    val kv = Seq(
      ("i", "42"), ("i", "-7"),
      ("f", "1.5"), ("f", "2"),
      ("b", "true"), ("b", "false"),
      ("d", "2024-01-02"), ("d", "2024-01-02 10:11:12"),
      ("s", "1"), ("s", "x"),
      ("n", null.asInstanceOf[String]), ("n", "3")
    ).toDF("key", "value")
    val types = ChTypes.inferFromStrings(kv).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(types == Map("i" -> "Int64", "f" -> "Float64", "b" -> "UInt8",
      "d" -> "DateTime64(6)", "s" -> "String", "n" -> "Int64"))
  }

  test("StructType merge: new cols nullable, numeric+string widens to String") {
    val existing = StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("keep_ts", TimestampType)))
    val incoming = StructType(Seq(
      StructField("a", StringType), // int column now receiving strings
      StructField("fresh", DoubleType, nullable = false)))
    val merged = SchemaEvolution.merge(existing, incoming)
    assert(merged.fieldNames.toSeq == Seq("a", "keep_ts", "fresh"))
    assert(merged("a").dataType == StringType)    // widened
    assert(merged("keep_ts").dataType == TimestampType) // untouched
    assert(merged("fresh").nullable)              // ADD COLUMN Nullable
  }

  test("existing narrower timestamp type wins (DateTime64 vs DateTime corner)") {
    val existing = StructType(Seq(StructField("t", TimestampType)))
    val incoming = StructType(Seq(StructField("t", TimestampNTZType)))
    assert(SchemaEvolution.merge(existing, incoming)("t").dataType == TimestampType)
  }

  test("align null-pads and casts to the target schema in order") {
    val target = StructType(Seq(
      StructField("x", StringType), StructField("y", LongType)))
    val out = SchemaEvolution.align(Seq((1, "ignored")).toDF("x", "z"), target)
    assert(out.schema.fieldNames.toSeq == Seq("x", "y"))
    val r = out.collect()(0)
    assert(r.getString(0) == "1" && r.isNullAt(1))
  }
}
