package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark re-expression of the reference's event "preparation" pipeline
  * (reference: src/clickhouse-batch-client.class.ts:190-448).
  *
  * The reference walks every row in JS, building one flattened record
  * at a time: keys snake_cased, nested records split into
  * `parent_child` columns, arrays split into `key_0, key_1, …` indexed
  * columns, reserved bookkeeping keys dropped, and column types
  * inferred from the first value's string form.
  *
  * Here all of that is **plan-time work + one codegen'd projection**:
  *  - structure comes from Spark's distributed JSON schema inference
  *    (sampled at scale via [[Options.sampleFraction]]);
  *  - the flatten itself is a single `from_json` + `getField`/
  *    `element_at` projection — no per-row driver logic, fully
  *    columnar, works identically on 100 TB;
  *  - the column plan comes from ONE walk of the inferred schema, with
  *    16 item slots per split array; one aggregate then gives each
  *    array's longest length and each string column's date-likeness,
  *    and the slots no row reaches are dropped;
  *  - date-string detection (reference: src/utils.ts isDateString) is
  *    an aggregate over the column, not a peek at the first row, so it
  *    is deterministic under parallelism;
  *  - keys that snake-case to one name (`a_b` beside `a.b`, `fooBar`
  *    beside `foo_bar`) are ONE column: the first non-null value in
  *    schema order (JSON inference sorts keys by name), at their
  *    shared type or STRING when they differ. The reference lets the
  *    later key in body order win; the inferred schema does not keep
  *    body order.
  */
object EventFlattener {

  /** Mirrors the reference's env knobs SPLIT_RECORDS_AS_COLUMNS /
    * SPLIT_ARRAY_ITEMS_AS_COLUMNS (reference: src/main.ts:147-150). */
  case class Options(
      splitRecords: Boolean = true,
      splitArrays: Boolean = true,
      detectDates: Boolean = true,
      sampleFraction: Double = 1.0,
      reserved: Set[String] = defaultReserved)

  /** An array splits into at most this many `key_i` columns. */
  private val MaxArrayItems = 16

  /** reference: src/clickhouse-batch-client.class.ts:196-205 */
  val defaultReserved: Set[String] = Set(
    "event_type", "__is_single_retry", "__single_retry_attempts",
    "__is_from_old_queue", "__bulker_full_attempts", "__received_at")

  /** lodash.snakecase-ish: camelCase boundaries + non-alphanumeric
    * separators → lower snake_case. */
  def snakeCase(s: String): String =
    s.replaceAll("([a-z0-9])([A-Z])", "$1_$2")
      .replaceAll("([A-Z]+)([A-Z][a-z])", "$1_$2")
      .split("[^A-Za-z0-9]+").filter(_.nonEmpty).mkString("_").toLowerCase

  /** Date-string shapes the flattener promotes to timestamps:
    * ISO date / datetime (incl. the `...T...Z` / offset forms
    * JSON.stringify(new Date()) emits — the reference's own test
    * injects exactly that shape and its isDateString accepts it), or
    * US slash dates (dayjs-parseable forms the reference's regex
    * `^([0-9]{2}([0-9]{2})?(\/|-))+` accepts). */
  val DateRe: String =
    "^\\d{4}-\\d{2}-\\d{2}([T ]\\d{2}:\\d{2}(:\\d{2}(\\.\\d{1,6})?)?(Z|[+-]\\d{2}:\\d{2})?)?$" +
      "|^\\d{2}/\\d{2}/\\d{4}$"

  /** Distributed JSON structure inference over a string column. */
  def inferStructure(df: DataFrame, jsonCol: String, opts: Options = Options()): StructType = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(jsonCol)).na.drop().as[String]
    val sampled = if (opts.sampleFraction < 1.0) ds.sample(opts.sampleFraction, 42L) else ds
    spark.read.json(sampled).schema
  }

  /** Flatten `jsonCol` into typed top-level columns, keeping `keep`
    * passthrough columns. One inference pass + one stats pass (array
    * max-lengths, date-likeness) + one projection. */
  def flatten(df: DataFrame, jsonCol: String, keep: Seq[String] = Nil,
              opts: Options = Options()): DataFrame = {
    val schema = inferStructure(df, jsonCol, opts)
    flattenWithSchema(df, jsonCol, schema, keep, opts)
  }

  /** One output column of the plan. `slots` are the (array, item)
    * positions it reads, each array numbered by its place in the walk
    * (two arrays may snake-case to one path): the column is dropped
    * when no row's array reaches any of them. A column outside every
    * split array has none and is always kept. */
  private case class Leaf(name: String, col: Column, dtype: DataType,
                          slots: Seq[(Int, Int)] = Nil)

  def flattenWithSchema(df: DataFrame, jsonCol: String, schema: StructType,
                        keep: Seq[String] = Nil, opts: Options = Options()): DataFrame = {
    val withParsed = df.withColumn("__graft_json", from_json(col(jsonCol), schema))
    val reserved = opts.reserved.map(snakeCase)
    val arrays = mutable.ArrayBuffer.empty[Column]
    val leaves = merged(leafColumns("", col("__graft_json"), schema, opts, arrays)
      .filterNot(l => reserved(l.name)))
    // the data's facts, each split array's longest length and each
    // string column's date-likeness, in ONE aggregate over one scan
    // (each scan re-parses the JSON column; don't pay it twice)
    val strings = if (opts.detectDates) leaves.filter(_.dtype == StringType) else Nil
    val aggs = arrays.toSeq.map(a => max(size(a)).as("len")) ++ strings.map(l =>
      (bool_and(l.col.isNull || l.col.rlike(DateRe)) && max(l.col.isNotNull)).as("date"))
    val stats =
      if (aggs.isEmpty) Row.empty else withParsed.agg(aggs.head, aggs.tail: _*).collect()(0)
    def fact[T](i: Int, ifNull: T): T = if (stats.isNullAt(i)) ifNull else stats.getAs[T](i)
    val lens = arrays.indices.map(fact(_, 0))
    val dates = strings.indices.filter(i => fact(arrays.size + i, false)).map(strings(_).name).toSet
    val projected = leaves
      .filter(l => l.slots.isEmpty || l.slots.exists { case (a, i) => i < lens(a) })
      .map {
        case l if dates(l.name) =>
          coalesce(try_to_timestamp(l.col), try_to_timestamp(l.col, lit("MM/dd/yyyy"))).as(l.name)
        case l => l.col.as(l.name)
      }
    withParsed.select(keep.map(col) ++ projected: _*)
  }

  /** The one walk of the schema: every leaf column under `prefix`. A
    * split array is appended to `arrays` and yields [[MaxArrayItems]]
    * item slots; arrays of arrays, and of records holding a record or
    * an array, are JSON strings, as the reference stringifies anything
    * deeper than record-in-array. */
  private def leafColumns(prefix: String, c: Column, dt: DataType, opts: Options,
                          arrays: mutable.ArrayBuffer[Column]): Seq[Leaf] =
    dt match {
      case st: StructType if opts.splitRecords || prefix.isEmpty =>
        st.fields.toSeq.flatMap { f =>
          val p = if (prefix.isEmpty) snakeCase(f.name) else s"${prefix}_${snakeCase(f.name)}"
          leafColumns(p, c.getField(f.name), f.dataType, opts, arrays)
        }
      case ArrayType(et, _) if opts.splitArrays && isFlattenableElement(et) =>
        arrays += c
        val a = arrays.size - 1
        (0 until MaxArrayItems).flatMap { i =>
          leafColumns(s"${prefix}_$i", try_element_at(c, lit(i + 1)), et, opts, arrays)
            .map(_.copy(slots = Seq(a -> i)))
        }
      case _: StructType | _: ArrayType =>
        Seq(Leaf(prefix, to_json(c), StringType))
      case other =>
        Seq(Leaf(prefix, c, other))
    }

  /** Leaves that snake-case to one name become one column: its value
    * is the first non-null of theirs in schema order, its type their
    * shared type, or STRING when they differ (the sink's widen rule). */
  private def merged(leaves: Seq[Leaf]): Seq[Leaf] = {
    val byName = leaves.groupBy(_.name)
    leaves.map(_.name).distinct.map(byName).map {
      case Seq(one) => one
      case ls =>
        val t = if (ls.forall(_.dtype == ls.head.dtype)) ls.head.dtype else StringType
        Leaf(ls.head.name, coalesce(ls.map(_.col.cast(t)): _*), t,
          if (ls.exists(_.slots.isEmpty)) Nil else ls.flatMap(_.slots))
    }
  }

  /** Arrays of atomics or of flat records are split; deeper nesting is
    * stringified (reference behavior for anything it can't split). */
  private def isFlattenableElement(et: DataType): Boolean = et match {
    case st: StructType => st.fields.forall(f => f.dataType match {
      case _: StructType | _: ArrayType => false
      case _ => true
    })
    case _: ArrayType => false
    case _ => true
  }

  /** Metadata enrichment (reference: batch-client:280-288). The
    * reference stamps a random UUID `message_id`; at 100 TB a
    * content-derived md5 is strictly better — deterministic replays
    * dedup instead of double-inserting. */
  def withMetadata(df: DataFrame, receivedAt: Column, sentAt: Column,
                   idCols: Seq[Column]): DataFrame =
    df.withColumn("received_at", receivedAt)
      .withColumn("sent_at", sentAt)
      .withColumn("message_id", md5(concat_ws("#", idCols: _*)))

  /** The pluggable row transform hook (reference: src/transform.ts).
    * Default mirrors the reference: add `timestamp := received_at`. */
  type RowTransform = DataFrame => DataFrame
  val defaultTransform: RowTransform =
    df => df.withColumn("timestamp", col("received_at"))
}
