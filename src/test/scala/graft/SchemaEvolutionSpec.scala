package graft

import org.apache.spark.sql.functions._
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

  test("evolveAppend: later batch adds a column; earlier rows surface null") {
    val path = tmpDir("evolve") + "/tbl"
    val b1 = Seq((1L, 10.0)).toDF("id", "amount")
    val b2 = Seq((2L, "usd_20", true)).toDF("id", "amount", "flag")
    SchemaEvolution.evolveAppend(spark, b1, path)
    val target = SchemaEvolution.evolveAppend(spark, b2, path)
    assert(target("amount").dataType == StringType) // widened double->string
    val out = SchemaEvolution.readEvolved(spark, path).orderBy("id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Any]("flag") == null) // old rows null-pad new col
    assert(out(1).getAs[String]("amount") == "usd_20")
  }

  test("evolveAppend: a widen keeps the columns only newer files carry") {
    // fresh tables each time: which footer a single-file schema read
    // picks varies from table to table
    (0 until 12).foreach { i =>
      val path = tmpDir("evolve_keep") + "/tbl"
      SchemaEvolution.evolveAppend(spark, Seq((1L, 10L)).toDF("id", "a"), path)
      SchemaEvolution.evolveAppend(spark, Seq((2L, 20L, "kept")).toDF("id", "a", "b"), path)
      SchemaEvolution.evolveAppend(spark, Seq((3L, "x")).toDF("id", "a"), path)
      val out = SchemaEvolution.readEvolved(spark, path).orderBy("id").collect()
      assert(out.map(_.getAs[String]("a")).toSeq == Seq("10", "20", "x"), s"table $i")
      assert(out.map(r => Option(r.getAs[String]("b"))).toSeq == Seq(None, Some("kept"), None),
        s"table $i lost the ADD COLUMN values in the widen rewrite")
      // the rewrite staged beside the table, under a name partition
      // discovery skips, and cleaned up after itself
      assert(new java.io.File(path).getParentFile.list().toSeq == Seq("tbl"))
    }
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
