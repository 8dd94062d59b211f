package graft.operators

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
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
  *  - column missing from the existing table → ADD COLUMN, always
  *    nullable: files written before it read the column as null;
  *  - existing numeric/boolean column receiving strings → widen the
  *    column to String (the only ALTER the reference risks); so does
  *    a timestamp column (a key whose values were all dates) receiving
  *    a non-date string, which no cast to the timestamp could land.
  *    Old values read back as Spark's cast text, as a widened number
  *    does;
  *  - incoming DateTime64 vs existing DateTime → keep the existing,
  *    narrower type;
  *  - everything else → keep the existing type.
  *
  * In Spark terms the "table" is a parquet directory; evolution is a
  * driver-side StructType merge + null-padded aligned append, with
  * `mergeSchema` on read. ADD COLUMN rewrites no data, exactly like
  * ClickHouse's metadata-only ALTER; a widen to String rewrites the
  * table once (see [[graft.streaming.EventPipeline.writeEvolvedBatch]]),
  * like ClickHouse's MODIFY COLUMN mutation.
  */
object SchemaEvolution {

  private def widensToString(existing: DataType): Boolean = existing match {
    case LongType | IntegerType | DoubleType | FloatType | BooleanType | TimestampType => true
    case _ => false
  }

  def merge(existing: StructType, incoming: StructType): StructType = {
    val kept = existing.fields.map { ex =>
      incoming.fields.find(_.name == ex.name) match {
        case Some(in) if widensToString(ex.dataType) && in.dataType == StringType =>
          ex.copy(dataType = StringType)
        case _ => ex // incl. DateTime64→DateTime corner: existing wins
      }
    }
    val added = incoming.fields
      .filterNot(f => existing.fieldNames.contains(f.name))
      .map(_.copy(nullable = true))
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

  /** True when `target` changes the type of one of `existing`'s
    * columns — a widen, which parquet can only apply by rewriting. */
  private[graft] def widens(existing: StructType, target: StructType): Boolean =
    existing.fields.exists(f => target(f.name).dataType != f.dataType)

  /** `schema` plus a STRING table-key column `keyCol`. */
  private[graft] def keyed(schema: StructType, keyCol: String): StructType =
    StructType(schema.fields :+ StructField(keyCol, StringType))

  /** The widen rewrite's rows, for one table or a group of them: every
    * `old` row of the tables and the `incoming` ones, both carrying the
    * table key in `keyCol`, aligned to `target` + the key. */
  private[graft] def widened(old: DataFrame, incoming: DataFrame, target: StructType,
                             keyCol: String): DataFrame =
    align(old, keyed(target, keyCol)).unionByName(align(incoming, keyed(target, keyCol)))

  /** Write the keyed `rows` by ONE `partitionBy(keyCol)` job to `stage`,
    * then land each table's staged partition in its dir (`tables`: key
    * → dir). An append (`replace = false`) moves the part files in; a
    * rewrite (`replace = true`) swaps the staged dir in for the table
    * by [[Compactor.swapIn]]: the old dir waits in `<stage>_old_<key>`
    * until the new one is in, so a failed swap keeps the table's rows.
    * Returns each key that failed, with its cause: every key when
    * building or writing `rows` fails, else the keys whose landing
    * failed. `stage` must be a `__`-prefixed name with no `=`, which
    * partition discovery skips, and every key must have rows. */
  private[graft] def land(spark: SparkSession, rows: => DataFrame, keyCol: String,
                          tables: Seq[(String, String)], stage: String,
                          replace: Boolean): Seq[(String, Throwable)] = {
    def attempt(keys: Seq[String])(body: => Unit): Seq[(String, Throwable)] =
      try { body; Nil } catch { case NonFatal(e) => keys.map(_ -> e) }
    val fs = new Path(stage).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def move(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"rename $from -> $to failed (destination unwritable?)")
    attempt(tables.map(_._1)) {
      rows.write.mode("overwrite").partitionBy(keyCol).parquet(stage)
    } match {
      case Nil =>
        val failed = tables.flatMap { case (key, dir) =>
          attempt(Seq(key)) {
            val escaped = ExternalCatalogUtils.escapePathName(key) // `=` is escaped
            val from = new Path(stage, s"$keyCol=$escaped")
            val to = new Path(dir)
            if (replace) Compactor.swapIn(fs, from, to, new Path(s"${stage}_old_$escaped"))
            else {
              if (!fs.exists(to) && !fs.mkdirs(to))
                throw new java.io.IOException(s"cannot create table dir $to")
              fs.listStatus(from).map(_.getPath).filter(_.getName.startsWith("part-"))
                .foreach(f => move(f, new Path(to, f.getName)))
            }
          }
        }
        fs.delete(new Path(stage), true)
        failed
      case failed => failed
    }
  }

  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
