package graft.operators

import scala.collection.mutable

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.json.GraftJsonTyper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Spark re-expression of the reference's event "preparation" pipeline
  * (reference: src/clickhouse-batch-client.class.ts:190-448).
  *
  * The reference walks every row in JS, building one flattened record
  * at a time: keys snake_cased, nested records split into
  * `parent_child` columns, arrays split into `key_0, key_1, …` indexed
  * columns, reserved bookkeeping keys dropped, and column types
  * inferred from the first value's string form.
  *
  * Here all of that is **two light jobs + one codegen'd projection**:
  *  - structure comes from Spark's own JSON schema inference
  *    (`JsonInferSchema`, through the `GraftJsonTyper` shim), run
  *    per body in ONE pass ([[typedGroups]]) that can group the types
  *    (the evolving sinks group by event type and body verdict), so
  *    the schema equals `spark.read.json`'s over the same bodies
  *    (sampled at scale via [[Options.sampleFraction]]);
  *  - the flatten itself is a single `from_json` + `getField`/
  *    `element_at` projection — no per-row driver logic, fully
  *    columnar, works identically on 100 TB;
  *  - the column plan comes from ONE walk of the inferred schema, with
  *    16 item slots per split array; one walk of the parsed rows then
  *    gives each array's longest length and each string column's
  *    date-likeness, reading exactly the values the projection reads,
  *    and the slots no row reaches are dropped;
  *  - date-string detection (reference: src/utils.ts isDateString) is
  *    over the whole column, not a peek at the first row, so it is
  *    deterministic under parallelism;
  *  - keys snake-case with the letters and digits of every script as
  *    word characters; a key with no letter or digit is dropped;
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

  /** lodash.snakecase-ish: camelCase boundaries + separators → lower
    * snake_case. Letters and digits of every script are word characters
    * (`名前` stays `名前`, `ÄB` becomes `äb`), and the lowercasing is
    * locale-free; any other character separates words, so a key with no
    * letter or digit (`!!`) snake-cases to the empty string. */
  def snakeCase(s: String): String =
    s.replaceAll("([\\p{Ll}\\p{N}])(\\p{Lu})", "$1_$2")
      .replaceAll("(\\p{Lu}+)(\\p{Lu}\\p{Ll})", "$1_$2")
      .split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).mkString("_").toLowerCase(Locale.ROOT)

  /** Date-string shapes the flattener promotes to timestamps:
    * ISO date / datetime (incl. the `...T...Z` / offset forms
    * JSON.stringify(new Date()) emits — the reference's own test
    * injects exactly that shape and its isDateString accepts it), or
    * US slash dates (dayjs-parseable forms the reference's regex
    * `^([0-9]{2}([0-9]{2})?(\/|-))+` accepts). */
  val DateRe: String =
    "^\\d{4}-\\d{2}-\\d{2}([T ]\\d{2}:\\d{2}(:\\d{2}(\\.\\d{1,6})?)?(Z|[+-]\\d{2}:\\d{2})?)?$" +
      "|^\\d{2}/\\d{2}/\\d{4}$"

  /** The inference pre-pass: ONE job over `df` types each non-null body
    * of `jsonCol` with Spark's own JSON inference and merges the types
    * per group, the group of a row being `key` over its `by` columns
    * (ordinals 1.. of the row `key` sees; ordinal 0 is the body). A
    * group whose bodies are all null types to None. The driver merges
    * the groups' types, at most one per group and partition;
    * [[schemaOf]] turns any set of them into the schema
    * `spark.read.json` infers over those groups' bodies. */
  def typedGroups[K](df: DataFrame, jsonCol: String, by: Seq[String])(
      key: InternalRow => K): Map[K, Option[DataType]] = {
    val typer = GraftJsonTyper(df.sparkSession)
    def add(a: Option[DataType], b: Option[DataType]) = (a ++ b).reduceOption(typer.merge)
    GraftJsonTyper.collectPartitions(df.select((jsonCol +: by).map(col): _*)) { rows =>
      val acc = mutable.HashMap.empty[K, Option[DataType]]
      rows.foreach { r =>
        val t = Option.when(!r.isNullAt(0))(typer.typeOf(r.getUTF8String(0)))
        val k = key(r)
        acc(k) = acc.get(k).fold(t)(add(_, t))
      }
      acc.toMap
    }.flatten.groupMapReduce(_._1)(_._2)(add)
  }

  /** The schema `spark.read.json` infers over the bodies `groups` typed. */
  def schemaOf(spark: SparkSession, groups: Iterable[Option[DataType]]): StructType =
    GraftJsonTyper(spark).schemaOf(groups.flatten)

  /** Distributed JSON structure inference over a string column: equal
    * to `spark.read.json` over the (sampled) bodies, in one job. */
  def inferStructure(df: DataFrame, jsonCol: String, opts: Options = Options()): StructType = {
    val bodies = df.select(col(jsonCol)).na.drop()
    val sampled = if (opts.sampleFraction < 1.0) bodies.sample(opts.sampleFraction, 42L) else bodies
    schemaOf(df.sparkSession, typedGroups(sampled, jsonCol, Nil)(_ => ()).values)
  }

  /** Flatten `jsonCol` into typed top-level columns, keeping `keep`
    * passthrough columns. Cost: one inference job, one facts walk
    * (array max-lengths, date-likeness) and one projection. */
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
    val strings = if (opts.detectDates) leaves.filter(_.dtype == StringType) else Nil
    val (lens, dates) = facts(withParsed, arrays.toSeq, strings.map(_.col))
    val dateCols = strings.zip(dates).collect { case (l, true) => l.name }.toSet
    val projected = leaves
      .filter(l => l.slots.isEmpty || l.slots.exists { case (a, i) => i < lens(a) })
      .map(l => (if (dateCols(l.name)) asDate(l.col) else l.col).as(l.name))
    withParsed.select(keep.map(col) ++ projected: _*)
  }

  /** A date string's timestamp, as a promoted column lands it. */
  private def asDate(c: Column): Column =
    coalesce(try_to_timestamp(c), try_to_timestamp(c, lit("MM/dd/yyyy")))

  /** [[asDate]] as the analyzer resolves it, over the string at ordinal
    * 0 of a row, so the walk evaluates it on just the values it checks. */
  private def asDateOfRow(spark: SparkSession): Expression = {
    val marker = UTF8String.fromString("\u0000graft_date")
    spark.range(1).select(asDate(lit(marker.toString))).queryExecution.analyzed.expressions.head
      .transformUp {
        case Literal(`marker`, dt) => BoundReference(0, dt, nullable = true)
        case r: RuntimeReplaceable => r.replacement
      }
  }

  /** The data's facts in ONE walk of `parsed`'s rows, over the very
    * columns the projection reads: each split array's longest length,
    * and whether each string column holds a value and only date-like
    * values: each matches [[DateRe]] (by `rlike`'s `Pattern.find`) and
    * lands as a timestamp under [[asDate]], so `2024-02-30` is not
    * date-like. */
  private def facts(parsed: DataFrame, arrays: Seq[Column],
                    strings: Seq[Column]): (Seq[Int], Seq[Boolean]) =
    if (arrays.isEmpty && strings.isEmpty) (Nil, Nil)
    else {
      val (n, m) = (arrays.size, strings.size) // the closure ships no Column
      val toDate = asDateOfRow(parsed.sparkSession)
      val read = parsed.select(arrays.map(size) ++ strings: _*)
      val parts = GraftJsonTyper.collectPartitions(read) { rows =>
        val date = java.util.regex.Pattern.compile(DateRe)
        val lens = Array.fill(n)(0)
        val seen, undated = Array.fill(m)(false)
        rows.foreach { r =>
          (0 until n).filterNot(r.isNullAt).foreach(a => lens(a) = lens(a) max r.getInt(a))
          (0 until m).filterNot(s => undated(s) || r.isNullAt(n + s)).foreach { s =>
            seen(s) = true
            val v = r.getUTF8String(n + s)
            undated(s) = !date.matcher(v.toString).find() || toDate.eval(InternalRow(v)) == null
          }
        }
        (lens, seen, undated)
      }
      ((0 until n).map(a => parts.foldLeft(0)(_ max _._1(a))),
        (0 until m).map(s => parts.exists(_._2(s)) && !parts.exists(_._3(s))))
    }

  /** The one walk of the schema: every leaf column under `prefix`. A
    * key with no letter or digit snake-cases to nothing and is dropped
    * with its subtree. A split array is appended to `arrays` and yields
    * [[MaxArrayItems]] item slots; arrays of arrays, and of records
    * holding a record or an array, are JSON strings, as the reference
    * stringifies anything deeper than record-in-array. */
  private def leafColumns(prefix: String, c: Column, dt: DataType, opts: Options,
                          arrays: mutable.ArrayBuffer[Column]): Seq[Leaf] =
    dt match {
      case st: StructType if opts.splitRecords || prefix.isEmpty =>
        st.fields.toSeq.filter(f => snakeCase(f.name).nonEmpty).flatMap { f =>
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
