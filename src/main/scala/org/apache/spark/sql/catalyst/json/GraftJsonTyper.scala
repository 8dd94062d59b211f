package org.apache.spark.sql.catalyst.json

import java.io.IOException

import scala.reflect.ClassTag

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Spark's own JSON schema inference, one record at a time, so a caller
  * can type bodies in its own pass and group the types as it likes.
  *
  * A record is read once, as `from_json` reads it ([[objectOf]]), and
  * that tree is typed with `JsonInferSchema.inferField` over its
  * traversal ([[typeOf]]); types merge with `compatibleRootType`; the
  * merged root is finished with `canonicalizeType`, as
  * `JsonInferSchema.infer` does. Over records that are each one JSON
  * object with no repeated key, `spark.read.json` gives the same
  * schema, save for a root key named as the corrupt-record column,
  * which `from_json` never reads from a body. Other records are typed
  * as `from_json` reads them: a repeated key at its last value, and a
  * record that does not parse
  * (a NUL-led one among them) or whose root is no object as its text in
  * the corrupt-record column. `canonicalizeType` is `private[json]`,
  * hence this shim in Spark's package. */
final class GraftJsonTyper private (options: JSONOptions) extends Serializable {
  private val inference = new JsonInferSchema(options)
  private val merger =
    JsonInferSchema.compatibleRootType(options.columnNameOfCorruptRecord, options.parseMode)
  @transient private lazy val mapper = new ObjectMapper(options.buildJsonFactory())

  /** The type of a record [[objectOf]] read, as `spark.read.json`
    * types the same value. */
  def typeOf(record: JsonNode): DataType = {
    val parser = record.traverse()
    try { parser.nextToken(); inference.inferField(parser) }
    finally parser.close()
  }

  def merge(a: DataType, b: DataType): DataType = merger(a, b)

  /** The record as `from_json` reads it against a struct schema: the
    * first JSON value of its UTF-8 text, a repeated key at its last
    * value. A root object is read without the corrupt-record column's
    * key, which `from_json` leaves to corrupt records; a record that
    * does not parse or whose root is no object reads as an object of
    * that column alone, holding the record's text; a record holding no
    * value reads as None. */
  def objectOf(record: UTF8String): Option[ObjectNode] = {
    val text = record.toString
    def corrupt = Some(mapper.createObjectNode().put(options.columnNameOfCorruptRecord, text))
    try mapper.readTree(text) match {
      case null => None
      case o: ObjectNode => o.remove(options.columnNameOfCorruptRecord); Some(o)
      case v if v.isMissingNode => None
      case _ => corrupt
    } catch { case _: IOException => corrupt }
  }

  /** The schema of records whose types merge to `types`, in any order. */
  def schemaOf(types: Iterable[DataType]): StructType =
    inference.canonicalizeType(types.foldLeft(StructType(Nil): DataType)(merge), options)
      // canonicalizeType erases every empty struct, the root one too
      .collect { case st: StructType => st }.getOrElse(StructType(Nil))
}

object GraftJsonTyper {
  /** The typer `spark.read.json` would use with no reader options. */
  def apply(spark: SparkSession): GraftJsonTyper = {
    val conf = spark.sessionState.conf
    new GraftJsonTyper(new JSONOptions(Map.empty[String, String],
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord))
  }

  /** `f` over each partition of `df`'s rows, in one job, with the
    * session's SQL conf visible to the tasks (as `spark.read.json` runs
    * its inference job). The rows are Catalyst's: no decode to `Row`. */
  def collectPartitions[T: ClassTag](df: DataFrame)(f: Iterator[InternalRow] => T): Array[T] =
    SQLExecution.withSQLConfPropagated(df.sparkSession) {
      df.queryExecution.toRdd.mapPartitions(rows => Iterator.single(f(rows))).collect()
    }
}
