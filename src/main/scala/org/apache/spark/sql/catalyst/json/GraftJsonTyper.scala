package org.apache.spark.sql.catalyst.json

import java.io.{CharConversionException, IOException}
import java.nio.charset.MalformedInputException

import scala.reflect.ClassTag

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Spark's own JSON schema inference, one record at a time, so a caller
  * can type bodies in its own pass and group the types as it likes.
  *
  * The steps are `JsonInferSchema.infer`'s: a record's type is
  * `inferField` over a parser of its raw bytes, or, when the record
  * does not parse or decode, the PERMISSIVE branch's one corrupt-record
  * field; types merge with `compatibleRootType`; the merged root is
  * finished with `canonicalizeType`. `spark.read.json` over the same
  * records gives the same schema. `canonicalizeType` is `private[json]`,
  * hence this shim in Spark's package. [[objectOf]] reads a record as
  * `from_json` does, for the flatten's facts. */
final class GraftJsonTyper private (options: JSONOptions) extends Serializable {
  private val inference = new JsonInferSchema(options)
  private val merger =
    JsonInferSchema.compatibleRootType(options.columnNameOfCorruptRecord, options.parseMode)
  @transient private lazy val factory = options.buildJsonFactory()
  @transient private lazy val mapper = new ObjectMapper(factory)

  /** One record's type, as `spark.read.json` types it. */
  def typeOf(record: UTF8String): DataType =
    try {
      // the raw bytes, as `spark.read.json` infers a Dataset[String]
      // (`CreateJacksonParser.internalRow`): Jackson guesses the
      // encoding, so a NUL-led body may read as UTF-16 or UTF-32
      val parser = factory.createParser(record.getBytes)
      try { parser.nextToken(); inference.inferField(parser) }
      finally parser.close()
    } catch {
      case _: JsonProcessingException | _: MalformedInputException =>
        corrupt
      case _: CharConversionException if options.encoding.isEmpty =>
        corrupt
    }

  private def corrupt: DataType =
    StructType(Seq(StructField(options.columnNameOfCorruptRecord, StringType)))

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
