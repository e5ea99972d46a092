package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the catalog/introspection surface the reference enables via
  * `with_information_schema(true)` (reference examples/simple_query.rs:53,
  * which makes `SHOW TABLES` / schema queries work against registered
  * tables). Spark's equivalents — `SHOW TABLES`, `DESCRIBE`,
  * `spark.catalog.listTables/listColumns` — are built in; this spec proves
  * they resolve the same registered-view surface a reference user would
  * introspect.
  */
class CatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  test("SHOW TABLES lists every registered fixture view") {
    Tables.registerAll(spark, sfDir)
    val shown = spark.sql("SHOW TABLES")
      .collect().map(_.getAs[String]("tableName")).toSet
    assert(Tables.names.toSet.subsetOf(shown),
      s"missing from SHOW TABLES: ${Tables.names.toSet.diff(shown)}")
  }

  test("DESCRIBE reports the parquet schema for a registered view") {
    Tables.register(spark, sfDir, "nation")
    val desc = spark.sql("DESCRIBE nation")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc === Map(
      "n_nationkey" -> "int", "n_name" -> "string", "n_regionkey" -> "int"))
  }

  test("spark.catalog.listTables/listColumns resolve views programmatically") {
    Tables.register(spark, sfDir, "region", "events")
    val listed = spark.catalog.listTables()
      .collect().filter(_.isTemporary).map(_.name).toSet
    assert(Set("region", "events").subsetOf(listed))
    // events.ts must surface as a real timestamp (the nanos conversion in
    // Tables.load), not the raw parquet int64 — catalog metadata agrees
    // with what queries see.
    val cols = spark.catalog.listColumns("events")
      .collect().map(c => c.name -> c.dataType).toMap
    assert(cols("ts") === "timestamp")
    assert(cols.contains("user_id") && cols.contains("event_type"))
  }

  test("information_schema-style query: count columns per table via DESCRIBE") {
    Tables.register(spark, sfDir, "lineitem")
    val n = spark.sql("DESCRIBE lineitem").count()
    // The fixture is TPC-H-ish (TESTDATA.md), carrying the 11 columns the
    // queries use rather than full TPC-H's 16.
    assert(n === 11, s"lineitem fixture exposes 11 columns, got $n")
  }

  test("CREATE TABLE ... USING nats: the reference's register-then-SQL pattern, pure SQL end-to-end") {
    // The reference's canonical UX is ctx.register_table + `SELECT id,
    // name FROM nats_table LIMIT 3` (examples/simple_query.rs:53-63) —
    // no DataFrame API anywhere. Spark's equivalent is SQL DDL against
    // the v2 TableProvider: the declared schema is external metadata,
    // OPTIONS carry the connection, and the pushed LIMIT still
    // terminates the subscription.
    val url = "memory://catalog-" + java.util.UUID.randomUUID()
    graft.nats.NatsDemo.cyclicPublisher(url, "nats_table",
      Seq("1,apple", "2,banana", "3,orange"))
    spark.sql(
      s"""CREATE TABLE nats_sql_table (id INT, name STRING) USING nats
         |OPTIONS (url '$url', subject 'nats_table')""".stripMargin)
    try {
      val rows = spark.sql("SELECT id, name FROM nats_sql_table LIMIT 3")
        .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
      assert(rows === Seq((1, "apple"), (2, "banana"), (3, "orange")))
      // and the catalog surface sees it like any other table
      assert(spark.sql("DESCRIBE nats_sql_table").count() >= 2)
    } finally spark.sql("DROP TABLE nats_sql_table")
  }

  test("INSERT INTO a nats catalog table publishes codec-encoded rows (SQL-only write path)") {
    val url = "memory://catalog-ins-" + java.util.UUID.randomUUID()
    spark.sql(
      s"""CREATE TABLE nats_sql_sink (id INT, name STRING) USING nats
         |OPTIONS (url '$url', subject 'ins')""".stripMargin)
    try {
      val conn = graft.nats.NatsTransport.connect(url)
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val sub = conn.subscribe("ins")(m => seen.add(new String(m)))
      try {
        spark.sql("INSERT INTO nats_sql_sink VALUES (1, 'apple'), (2, 'banana')")
        val deadline = System.nanoTime() + 5000000000L
        while (seen.size < 2 && System.nanoTime() < deadline) Thread.sleep(20)
        assert(seen.toArray.map(_.toString).sorted.toSeq === Seq("1,apple", "2,banana"))
      } finally { sub.close(); conn.close() }
    } finally spark.sql("DROP TABLE nats_sql_sink")
  }

  test("CREATE TABLE USING nats without a column list surfaces the schema-or-infer guidance") {
    // A SQL-only user's first mistake: no column list, no inferSchema.
    // The DDL must fail with the SAME guided message the DataFrame path
    // gives, not a generic provider error — and CREATE with
    // inferSchema=true against retained payloads must succeed schema-free.
    val url = "memory://catalog-noschema-" + java.util.UUID.randomUUID() + "?retain=10"
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE nats_noschema USING nats OPTIONS (url '$url', subject 's')")
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("schema") && msg.contains("inferSchema"),
      s"error must guide to .schema(...) or inferSchema: $msg")
    // the fix the message names, applied in DDL form:
    val conn = graft.nats.NatsTransport.connect(url)
    try {
      conn.publish("s", "7,grape".getBytes)
      spark.sql(
        s"""CREATE TABLE nats_inferred USING nats
           |OPTIONS (url '$url', subject 's', inferSchema 'true', replay 'true')""".stripMargin)
      try {
        val rows = spark.sql("SELECT * FROM nats_inferred LIMIT 1")
          .collect().map(_.toSeq).toSeq
        assert(rows === Seq(Seq(7, "grape")), s"inferred read mismatch: $rows")
      } finally spark.sql("DROP TABLE nats_inferred")
    } finally conn.close()
  }

  test("readStream.table() streams from a nats catalog table (no format() anywhere)") {
    val url = "memory://catalog-rs-" + java.util.UUID.randomUUID()
    spark.sql(
      s"""CREATE TABLE nats_sql_stream (id INT, name STRING) USING nats
         |OPTIONS (url '$url', subject 'live', batchSize '3')""".stripMargin)
    try {
      val conn = graft.nats.NatsTransport.connect(url)
      val q = spark.readStream.table("nats_sql_stream")
        .writeStream.format("memory").queryName("catalog_stream").start()
      try {
        graft.nats.NatsDemo.awaitSubscriber(url, "live")
        conn.publish("live", "1,apple".getBytes)
        conn.publish("live", "2,banana".getBytes)
        conn.publish("live", "3,orange".getBytes)
        q.processAllAvailable()
        val rows = spark.sql("SELECT id, name FROM catalog_stream ORDER BY id")
          .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
        assert(rows === Seq((1, "apple"), (2, "banana"), (3, "orange")))
      } finally { q.stop(); conn.close() }
    } finally spark.sql("DROP TABLE nats_sql_stream")
  }
}
