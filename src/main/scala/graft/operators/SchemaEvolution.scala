package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ClickHouse-ish logical column typing from value *string form* —
  * the reference infers each column's type from how its values print
  * (reference: src/clickhouse-batch-client.class.ts:398-448 +
  * src/utils.ts isDateString/isFloat), and we keep those exact
  * semantics as aggregate rules over all values (the deterministic
  * version of its first-value peek).
  */
object ChTypes {
  val IntRe = "^-?\\d{1,18}$"
  val FloatRe = "^-?\\d+\\.\\d+([eE][-+]?\\d+)?$|^-?\\d+[eE][-+]?\\d+$"
  val BoolRe = "^(true|false)$"
  val DateRe: String = EventFlattener.DateRe

  val String_ = "String"
  val Int64 = "Int64"
  val Float64 = "Float64"
  val UInt8 = "UInt8" // reference maps booleans to UInt8
  val DateTime64 = "DateTime64(6)"
  val DateTime = "DateTime"

  /** (key, value-as-string) pairs → one (column_name, ch_type) row per
    * key. Null values don't vote (the reference skips undefined). */
  def inferFromStrings(kv: DataFrame, keyCol: String = "key",
                       valueCol: String = "value"): DataFrame = {
    val v = col(valueCol)
    kv.filter(v.isNotNull)
      .groupBy(col(keyCol).as("column_name"))
      .agg(
        bool_and(v.rlike(DateRe)).as("all_date"),
        bool_and(v.rlike(IntRe)).as("all_int"),
        bool_and(v.rlike(IntRe) || v.rlike(FloatRe)).as("all_num"),
        bool_and(v.rlike(BoolRe)).as("all_bool"))
      .select(col("column_name"),
        when(col("all_date"), DateTime64)
          .when(col("all_bool"), UInt8)
          .when(col("all_int"), Int64)
          .when(col("all_num"), Float64)
          .otherwise(String_).as("ch_type"))
  }
}

/** Table schema evolution with the reference's exact merge rules
  * (reference: src/clickhouse-batch-client.class.ts:492-568):
  *
  *  - column missing from the existing table → ADD COLUMN (nullable
  *    when configured, reference env CLICKHOUSE_ALTERED_COLUMN_NULLABLE);
  *  - existing numeric/boolean column receiving strings → widen the
  *    column to String (the only ALTER the reference risks);
  *  - incoming DateTime64 vs existing DateTime → keep the existing,
  *    narrower type;
  *  - everything else → keep the existing type.
  *
  * In Spark terms the "table" is a parquet directory; evolution is a
  * driver-side StructType merge + null-padded aligned append, with
  * `mergeSchema` on read. No data rewrite, exactly like ClickHouse's
  * metadata-only ALTER.
  */
object SchemaEvolution {

  private def widensToString(existing: DataType): Boolean = existing match {
    case LongType | IntegerType | DoubleType | FloatType | BooleanType => true
    case _ => false
  }

  def merge(existing: StructType, incoming: StructType,
            newColsNullable: Boolean = true): StructType = {
    val kept = existing.fields.map { ex =>
      incoming.fields.find(_.name == ex.name) match {
        case Some(in) if widensToString(ex.dataType) && in.dataType == StringType =>
          ex.copy(dataType = StringType)
        case _ => ex // incl. DateTime64→DateTime corner: existing wins
      }
    }
    val added = incoming.fields
      .filterNot(f => existing.fieldNames.contains(f.name))
      .map(f => f.copy(nullable = newColsNullable || f.nullable))
    StructType(kept ++ added)
  }

  /** ch_type-level merge, same rules, as a DataFrame operator:
    * both inputs are (column_name, ch_type). */
  def mergeChTypes(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val ex = existing.select(col("column_name"), col("ch_type").as("ex_type"))
    val in = incoming.select(col("column_name"), col("ch_type").as("in_type"))
    val numericish = Seq(ChTypes.Int64, ChTypes.Float64, ChTypes.UInt8)
    ex.join(in, Seq("column_name"), "full_outer")
      .select(col("column_name"),
        when(col("ex_type").isNull, col("in_type"))
          .when(col("in_type") === ChTypes.String_ && col("ex_type").isin(numericish: _*),
            ChTypes.String_)
          .otherwise(col("ex_type")).as("ch_type"))
  }

  /** Null-pad + cast `df` to exactly `target`'s columns, in order. */
  def align(df: DataFrame, target: StructType): DataFrame = {
    val cols = target.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Append with evolution: merge schemas, align, write.
    *
    * ADD COLUMN is metadata-only — older files simply lack the new
    * columns and surface nulls via mergeSchema, the parquet analogue
    * of ClickHouse's metadata-only ALTER ADD.
    *
    * Widen-to-String CHANGES an existing column's type, and parquet
    * (unlike a ClickHouse ALTER MODIFY mutation) cannot re-read old
    * DOUBLE pages as STRING — so a widen triggers the same thing the
    * ClickHouse mutation does: a one-time rewrite of the existing
    * table at the new type. Rare by construction (the reference only
    * risks this single ALTER) and explicit here. */
  def evolveAppend(spark: SparkSession, df: DataFrame, path: String,
                   newColsNullable: Boolean = true): StructType = {
    val existingDf: Option[DataFrame] =
      try { val d = spark.read.parquet(path); d.schema; Some(d) }
      catch { case _: Exception => None }
    existingDf match {
      case None =>
        df.write.mode("append").parquet(path)
        df.schema
      case Some(ex) =>
        val target = merge(ex.schema, df.schema, newColsNullable)
        val typeChanged = ex.schema.fields.exists(f => target(f.name).dataType != f.dataType)
        if (typeChanged) {
          // widen = rewrite: old + new data aligned to the widened type,
          // staged then swapped (can't overwrite a path being read).
          val combined = align(ex, target).unionByName(align(df, target))
          val fs = org.apache.hadoop.fs.FileSystem.get(
            new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
          val p = new org.apache.hadoop.fs.Path(path)
          val stage = new org.apache.hadoop.fs.Path(path + "__graft_stage")
          combined.write.mode("overwrite").parquet(stage.toString)
          fs.delete(p, true)
          fs.rename(stage, p)
        } else {
          align(df, target).write.mode("append").parquet(path)
        }
        target
    }
  }

  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
