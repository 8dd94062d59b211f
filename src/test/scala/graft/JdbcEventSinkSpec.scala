package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.JdbcEventSink

/** Evolve-path proof against a REAL SQL catalog: embedded Derby
  * (in-process, zero egress). What the parquet twin can't fully
  * exercise — that ADD COLUMN is the catalog's own metadata ALTER
  * (old rows surface NULL from the database, not from mergeSchema)
  * and that widen-to-String survives a catalog-level table swap —
  * is asserted here via plain JDBC metadata, not through Spark. */
class JdbcEventSinkSpec extends SparkSpec {
  import spark.implicits._

  // one in-memory database per test: Derby memory DBs live for the
  // JVM, so a shared one would leak tables across tests
  private val url = "jdbc:derby:memory:graftsink;create=true"
  private val url2 = "jdbc:derby:memory:graftsink2;create=true"

  private def jdbcColumns(table: String): Map[String, String] = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      // Spark's JDBC writer issues CREATE TABLE with the table name
      // unquoted, so Derby stores it upper-cased (columns stay exact:
      // Spark quotes those)
      val rs = c.getMetaData.getColumns(null, null, table.toUpperCase, null)
      Iterator.continually(rs)
        .takeWhile(_.next())
        .map(r => r.getString("COLUMN_NAME") -> r.getString("TYPE_NAME"))
        .toMap
    } finally c.close()
  }

  test("create, ADD COLUMN via real ALTER, widen-to-String via catalog swap") {
    val t = "ev_click"
    // batch 1: creates the table at batch schema
    val b1 = Seq((1L, 10.5, true), (2L, 20.0, false))
      .toDF("event_id", "amount", "ok")
    val s1 = JdbcEventSink.evolveAppend(spark, b1, url, t)
    assert(s1.fieldNames.toSeq === Seq("event_id", "amount", "ok"))

    // batch 2: new column -> a real metadata-only ALTER in the catalog
    val b2 = Seq((3L, 30.0, true, "web")).toDF("event_id", "amount", "ok", "channel")
    val s2 = JdbcEventSink.evolveAppend(spark, b2, url, t)
    assert(s2("channel").dataType === StringType)
    val colsAfterAdd = jdbcColumns(t)
    assert(colsAfterAdd.contains("channel"), s"catalog columns: $colsAfterAdd")
    assert(colsAfterAdd("channel").startsWith("VARCHAR"))
    // pre-ALTER rows surface NULL from the database itself
    val afterAdd = JdbcEventSink.readTable(spark, url, t)
    assert(afterAdd.filter(col("channel").isNull).count() === 2)
    assert(afterAdd.count() === 3)

    // batch 3: amount arrives as strings -> widen-to-String mutation
    // (staged rewrite + RENAME TABLE swap; Derby can't ALTER in place)
    val b3 = Seq((4L, "n/a", false, "app")).toDF("event_id", "amount", "ok", "channel")
    val s3 = JdbcEventSink.evolveAppend(spark, b3, url, t)
    assert(s3("amount").dataType === StringType)
    assert(s3("ok").dataType === BooleanType, "only the string-receiving column widens")
    val widened = JdbcEventSink.readTable(spark, url, t)
    assert(widened.schema("amount").dataType === StringType)
    assert(widened.count() === 4)
    // old numeric values survive as their string forms (Spark cast)
    val amounts = widened.select(col("event_id"), col("amount"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(amounts(1L) === "10.5" && amounts(4L) === "n/a")
    // the swap left no staging debris in the catalog
    assert(jdbcColumns(t + "__graft_stage").isEmpty)
    assert(jdbcColumns(t + "__graft_old").isEmpty)

    // batch 4: DateTime64->DateTime corner analogue: existing wins —
    // a long arriving on a now-String column stays String, appends cast
    val b4 = Seq((5L, 99L, true, "web")).toDF("event_id", "amount", "ok", "channel")
    val s4 = JdbcEventSink.evolveAppend(spark, b4, url, t)
    assert(s4("amount").dataType === StringType)
    val last = JdbcEventSink.readTable(spark, url, t)
      .filter(col("event_id") === 5L).select(col("amount")).as[String].head()
    assert(last === "99")
  }

  test("routeAndAppend: one evolved table per event type") {
    val batch = Seq(
      ("click", 1L, "a"), ("click", 2L, "b"), ("view", 3L, "c")
    ).toDF("event_type", "event_id", "payload")
    val schemas = JdbcEventSink.routeAndAppend(spark, batch, url2, Seq("click", "view"))
    assert(schemas.keySet === Set("click", "view"))
    assert(JdbcEventSink.readTable(spark, url2, "ev_click").count() === 2)
    assert(JdbcEventSink.readTable(spark, url2, "ev_view").count() === 1)
    // second batch evolves just its own table
    val batch2 = Seq(("view", 4L, "d", 1.5)).toDF("event_type", "event_id", "payload", "score")
    JdbcEventSink.routeAndAppend(spark, batch2, url2, Seq("view"))
    val view = JdbcEventSink.readTable(spark, url2, "ev_view")
    assert(view.schema.fieldNames.contains("score"))
    assert(view.count() === 2)
    assert(JdbcEventSink.readTable(spark, url2, "ev_click").schema
      .fieldNames.toSet === Set("event_id", "payload"))
  }

  test("a timestamp column widens to a string column when a batch sends a non-date string") {
    val url3 = "jdbc:derby:memory:graftsink3;create=true"
    val t = "ev_seen"
    val b1 = Seq((1L, "2024-01-01")).toDF("event_id", "seen_at")
      .withColumn("seen_at", to_timestamp(col("seen_at")))
    JdbcEventSink.evolveAppend(spark, b1, url3, t)
    val s2 = JdbcEventSink.evolveAppend(spark,
      Seq((2L, "x")).toDF("event_id", "seen_at"), url3, t)
    assert(s2("seen_at").dataType === StringType)
    val rows = JdbcEventSink.readTable(spark, url3, t).orderBy("event_id")
      .select(col("seen_at")).as[String].collect()
    assert(rows.toSeq === Seq("2024-01-01 00:00:00", "x"))
  }

  test("a15 replay is invocation-independent (bench runs queries twice)") {
    val dir = "/root/testdata/sf0.001"
    def run() = SparkEntry.queries("a15_jdbc_evolve")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val first = run()
    assert(first.nonEmpty)
    assert(run() === first, "re-running must drop and rebuild, not append")
  }

  test("tableName is injective: distinct event types never share a table") {
    // the old replaceAll("[^a-z0-9_]", "_") folded these three into ONE
    // table, silently unioning unrelated types' rows
    val types = Seq("page view", "Page-View", "page_view", "pageview",
      "click", "a%2Fb", "a/b", "中")
    val names = types.map(JdbcEventSink.tableName)
    assert(names.distinct.size == types.size,
      s"table-name collision: ${types.zip(names)}")
    // clean lowercase types keep their natural names
    assert(JdbcEventSink.tableName("click") == "ev_click")
    // every name is a plain SQL identifier
    assert(names.forall(_.matches("[a-z][a-z0-9_]*")), names.toString)
  }
}
