package graft.operators

import scala.collection.mutable

import java.util.Locale

import com.fasterxml.jackson.databind.JsonNode
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
  * Here all of that is **one light job + one codegen'd projection**:
  *  - each body is read once, as `from_json` reads it, in ONE pass
  *    ([[typedGroups]]) that can group what it finds (the evolving
  *    sinks group by event type and body verdict);
  *  - structure comes from Spark's own JSON schema inference
  *    (`JsonInferSchema`, through the `GraftJsonTyper` shim) over that
  *    reading, so over bodies that are each one object with no
  *    repeated key the schema equals `spark.read.json`'s (sampled at
  *    scale via [[Options.sampleFraction]]); a repeated key is typed
  *    at its last value, and any other body as its text in
  *    `corrupt_record`, as `from_json` fills them;
  *  - the same pass walks that reading into the flatten's [[Facts]],
  *    per JSON path: each array's longest length and each string's
  *    date-likeness;
  *  - the flatten itself is a single `from_json` + `getField`/
  *    `element_at` projection — no per-row driver logic, fully
  *    columnar, works identically on 100 TB;
  *  - the column plan comes from ONE walk of the inferred schema, with
  *    16 item slots per split array, each column finding its paths'
  *    facts: the slots no body reaches are dropped and the all-date
  *    string columns become timestamps;
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
  *    body order. Such a string column is date-like by the values its
  *    coalesce reads: its paths' facts settle that unless only a later
  *    path holds a non-date, and then, in that batch only, one more job
  *    reads each body's first valued path.
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

  /** What a set of bodies holds at one JSON path, as `from_json` reads
    * them: whether a non-null value is read there, whether one of those
    * is no date string, and the longest array there. A path's children
    * are its keys and its first [[MaxArrayItems]] items. The bodies'
    * facts are those of one walk of each body, wherever it runs: the
    * inference pre-pass ([[typedGroups]]) or the flatten's own job. */
  final class Facts extends Serializable {
    private[EventFlattener] var seen, undated = false
    private[EventFlattener] var longest = 0
    private var keys: mutable.HashMap[String, Facts] = _
    private var items: Array[Facts] = _

    /** The facts at a key, or at an item, that the walk grows. */
    private[EventFlattener] def key(k: String): Facts = {
      if (keys == null) keys = mutable.HashMap.empty
      keys.getOrElseUpdate(k, new Facts)
    }
    private[EventFlattener] def item(i: Int): Facts = {
      if (items == null) items = new Array(MaxArrayItems)
      if (items(i) == null) items(i) = new Facts
      items(i)
    }
    /** The facts at a key, or at an item; none when no body reached it. */
    private[EventFlattener] def child(k: String): Facts =
      if (keys == null) Facts.none else keys.getOrElse(k, Facts.none)
    private[EventFlattener] def slot(i: Int): Facts =
      if (items == null || items(i) == null) Facts.none else items(i)

    /** Adds `o`'s facts to these, path by path; `o` is left as it was. */
    private[EventFlattener] def merge(o: Facts): Facts = {
      seen ||= o.seen
      undated ||= o.undated
      longest = longest max o.longest
      if (o.keys != null) o.keys.foreach { case (k, f) => key(k).merge(f) }
      if (o.items != null) o.items.indices.filter(o.items(_) != null).foreach(i => item(i).merge(o.items(i)))
      this
    }
  }

  object Facts {
    private val none = new Facts
  }

  /** Walks bodies into [[Facts]] on the executors: `toDate` is
    * [[asDateOfRow]], so a string is date-like when it matches
    * [[DateRe]] (by `rlike`'s `Pattern.find`) and lands as a timestamp
    * under [[asDate]], the very column the projection writes; so
    * `2024-02-30` is not date-like. A number's, a boolean's, a record's
    * or an array's JSON text never matches [[DateRe]]. */
  private final class FactsReader(val typer: GraftJsonTyper, toDate: Expression) extends Serializable {
    @transient private lazy val date = java.util.regex.Pattern.compile(DateRe)

    private def dated(s: String): Boolean =
      date.matcher(s).find() && toDate.eval(InternalRow(UTF8String.fromString(s))) != null

    def add(body: UTF8String, into: Facts): Unit = typer.objectOf(body).foreach(walk(_, into))

    def walk(v: JsonNode, at: Facts): Unit = if (!v.isNull) {
      at.seen = true
      if (v.isTextual) at.undated ||= !dated(v.textValue)
      else {
        at.undated = true
        if (v.isObject) v.properties.forEach(e => walk(e.getValue, at.key(e.getKey)))
        else if (v.isArray) {
          at.longest = at.longest max v.size
          (0 until (v.size min MaxArrayItems)).foreach(i => walk(v.get(i), at.item(i)))
        }
      }
    }
  }

  private def reader(spark: SparkSession) = new FactsReader(GraftJsonTyper(spark), asDateOfRow(spark))

  /** One group's share of the inference pre-pass: the merged JSON type
    * of its bodies (None when no body holds a value) and their [[Facts]]. */
  final case class Typed(dtype: Option[DataType], facts: Facts)

  /** The inference pre-pass: ONE job over `df` reads each non-null body
    * of `jsonCol` once, as `from_json` reads it, types that reading with
    * Spark's own JSON inference and walks it into the flatten's
    * [[Facts]], merging both per group, the group of a row being `key`
    * over its `by` columns (ordinals 1.. of the row `key` sees; ordinal
    * 0 is the body). The driver merges the groups, at most one per group
    * and partition; [[schemaOf]] turns any set of them into the schema
    * of those groups' bodies (`spark.read.json`'s when each is one
    * object with no repeated key), and [[flattenTyped]] flattens their
    * bodies with no further job. */
  def typedGroups[K](df: DataFrame, jsonCol: String, by: Seq[String])(
      key: InternalRow => K): Map[K, Typed] = {
    val facts = reader(df.sparkSession)
    val typer = facts.typer
    def add(a: Option[DataType], b: Option[DataType]) = (a ++ b).reduceOption(typer.merge)
    GraftJsonTyper.collectPartitions(df.select((jsonCol +: by).map(col): _*)) { rows =>
      val acc = mutable.HashMap.empty[K, Typed]
      rows.foreach { r =>
        val k = key(r)
        val g = acc.getOrElseUpdate(k, Typed(None, new Facts))
        if (!r.isNullAt(0)) typer.objectOf(r.getUTF8String(0)).foreach { o =>
          facts.walk(o, g.facts)
          acc(k) = g.copy(dtype = add(g.dtype, Some(typer.typeOf(o))))
        }
      }
      acc.toMap
    }.flatten.groupMapReduce(_._1)(_._2)((a, b) => Typed(add(a.dtype, b.dtype), a.facts.merge(b.facts)))
  }

  /** The schema of the bodies `groups` typed: `spark.read.json`'s when
    * each is one object with no repeated key. */
  def schemaOf(spark: SparkSession, groups: Iterable[Typed]): StructType =
    GraftJsonTyper(spark).schemaOf(groups.flatMap(_.dtype))

  /** Distributed JSON structure inference over a string column, in one
    * job: the schema of the (sampled) bodies as `from_json` reads them,
    * equal to `spark.read.json`'s when each is one object with no
    * repeated key. */
  def inferStructure(df: DataFrame, jsonCol: String, opts: Options = Options()): StructType = {
    val bodies = df.select(col(jsonCol)).na.drop()
    val sampled = if (opts.sampleFraction < 1.0) bodies.sample(opts.sampleFraction, 42L) else bodies
    schemaOf(df.sparkSession, typedGroups(sampled, jsonCol, Nil)(_ => ()).values)
  }

  /** Flatten `jsonCol` into typed top-level columns, keeping `keep`
    * passthrough columns. Cost: one job, which infers the schema and
    * gathers the facts (array max-lengths, date-likeness), and the
    * projection. A sampled inference (see [[Options.sampleFraction]])
    * gathers the facts of every body in a job of their own, run only
    * when the plan needs them (see [[flattenWithSchema]]). */
  def flatten(df: DataFrame, jsonCol: String, keep: Seq[String] = Nil,
              opts: Options = Options()): DataFrame =
    if (opts.sampleFraction < 1.0)
      flattenWithSchema(df, jsonCol, inferStructure(df, jsonCol, opts), keep, opts)
    else flattenTyped(df, jsonCol, typedGroups(df, jsonCol, Nil)(_ => ()).values, keep, opts)

  /** One output column of the plan. `parts` are the facts of the paths
    * it reads, in schema order (more than one when keys collide); its
    * `slots` are the (array, item) positions it reads: the column is
    * dropped when no body's array reaches any of them. A column outside
    * every split array has none and is always kept. */
  private case class Leaf(name: String, col: Column, dtype: DataType,
                          parts: Seq[Facts => Facts], slots: Seq[(Facts => Facts, Int)] = Nil)

  /** Flatten `df`'s bodies by `schema`. When the plan needs the
    * bodies' [[Facts]] (a split array or, with date detection, a string
    * column), one job walks every body for them. */
  def flattenWithSchema(df: DataFrame, jsonCol: String, schema: StructType,
                        keep: Seq[String] = Nil, opts: Options = Options()): DataFrame =
    project(df, jsonCol, schema, keep, opts, factsOf(df, jsonCol))

  /** Flatten `df`'s bodies by the groups [[typedGroups]] gathered over
    * exactly those bodies: the schema and the facts merge from the
    * groups, so the plan runs no job, except in a batch with a collided
    * string column the facts cannot settle (see [[settled]]). */
  def flattenTyped(df: DataFrame, jsonCol: String, groups: Iterable[Typed],
                   keep: Seq[String] = Nil, opts: Options = Options()): DataFrame =
    project(df, jsonCol, schemaOf(df.sparkSession, groups), keep, opts,
      groups.foldLeft(new Facts)((f, g) => f.merge(g.facts)))

  /** The facts of every non-null body of `jsonCol`, in one job. */
  private def factsOf(df: DataFrame, jsonCol: String): Facts = {
    val facts = reader(df.sparkSession)
    GraftJsonTyper.collectPartitions(df.select(jsonCol)) { rows =>
      val f = new Facts
      rows.filterNot(_.isNullAt(0)).foreach(r => facts.add(r.getUTF8String(0), f))
      f
    }.foldLeft(new Facts)(_ merge _)
  }

  private def project(df: DataFrame, jsonCol: String, schema: StructType, keep: Seq[String],
                      opts: Options, facts: => Facts): DataFrame = {
    val reserved = opts.reserved.map(snakeCase)
    val leaves = merged(leafColumns("", col("__graft_json"), schema, opts, identity)
      .filterNot(l => reserved(l.name)))
    lazy val known = facts
    val strings = if (opts.detectDates) leaves.filter(_.dtype == StringType) else Nil
    val verdicts = strings.map(l => settled(l.parts.map(_(known))))
    val unsettled = strings.zip(verdicts).collect { case (l, None) => l.parts }
    val read = readOrder(df, jsonCol, unsettled).iterator
    val dateCols = strings.zip(verdicts.map(_.getOrElse(read.next()))).collect {
      case (l, true) => l.name
    }.toSet
    val projected = leaves
      .filter(l => l.slots.isEmpty || l.slots.exists { case (a, i) => i < a(known).longest })
      .map(l => (if (dateCols(l.name)) asDate(l.col) else l.col).as(l.name))
    df.withColumn("__graft_json", from_json(col(jsonCol), schema))
      .select(keep.map(col) ++ projected: _*)
  }

  /** A string column's date-likeness from the facts of the paths it
    * reads, when they settle it: it is when a value is read and none is
    * undated, it is not when none is read or its first path (which the
    * coalesce reads whenever it holds a value) holds an undated one.
    * Else only a later, collided path holds one, which the coalesce
    * reads only in a row where every earlier path is null. */
  private def settled(parts: Seq[Facts]): Option[Boolean] =
    if (!parts.exists(_.seen)) Some(false)
    else if (!parts.exists(_.undated)) Some(true)
    else Option.when(parts.head.undated)(false)

  /** The date-likeness of each unsettled collided column, by the value
    * its coalesce reads in each row: the first path, in schema order,
    * that holds a value in the row's own facts. One job, run only when
    * some column is unsettled. */
  private def readOrder(df: DataFrame, jsonCol: String,
                        columns: Seq[Seq[Facts => Facts]]): Seq[Boolean] =
    if (columns.isEmpty) Nil
    else {
      val facts = reader(df.sparkSession)
      val parts = GraftJsonTyper.collectPartitions(df.select(jsonCol)) { rows =>
        val seen, undated = Array.fill(columns.size)(false)
        rows.filterNot(_.isNullAt(0)).foreach { r =>
          val own = new Facts
          facts.add(r.getUTF8String(0), own)
          columns.indices.foreach { c =>
            columns(c).map(_(own)).find(_.seen).foreach { read =>
              seen(c) = true
              undated(c) ||= read.undated
            }
          }
        }
        (seen, undated)
      }
      columns.indices.map(c => parts.exists(_._1(c)) && !parts.exists(_._2(c)))
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

  /** The one walk of the schema: every leaf column under `prefix`, `at`
    * finding its path's facts. A key with no letter or digit
    * snake-cases to nothing and is dropped with its subtree. A split
    * array yields [[MaxArrayItems]] item slots; arrays of arrays, and of
    * records holding a record or an array, are JSON strings, as the
    * reference stringifies anything deeper than record-in-array. */
  private def leafColumns(prefix: String, c: Column, dt: DataType, opts: Options,
                          at: Facts => Facts): Seq[Leaf] =
    dt match {
      case st: StructType if opts.splitRecords || prefix.isEmpty =>
        st.fields.toSeq.filter(f => snakeCase(f.name).nonEmpty).flatMap { f =>
          val p = if (prefix.isEmpty) snakeCase(f.name) else s"${prefix}_${snakeCase(f.name)}"
          leafColumns(p, c.getField(f.name), f.dataType, opts, at.andThen(_.child(f.name)))
        }
      case ArrayType(et, _) if opts.splitArrays && isFlattenableElement(et) =>
        (0 until MaxArrayItems).flatMap { i =>
          leafColumns(s"${prefix}_$i", try_element_at(c, lit(i + 1)), et, opts,
            at.andThen(_.slot(i))).map(_.copy(slots = Seq(at -> i)))
        }
      case _: StructType | _: ArrayType =>
        Seq(Leaf(prefix, to_json(c), StringType, Seq(at)))
      case other =>
        Seq(Leaf(prefix, c, other, Seq(at)))
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
        Leaf(ls.head.name, coalesce(ls.map(_.col.cast(t)): _*), t, ls.flatMap(_.parts),
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
