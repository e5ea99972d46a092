package graft.nats

import java.util.UUID

import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Payload-driven schema inference (`option("inferSchema", "true")`) —
  * the feature the reference advertises (README.md:9) but left TODO
  * (README.md:17). Covers the live sampling paths (over real TCP, over
  * a wildcard family), both codecs' type rules and unification, every
  * defined failure mode, and the full DSv2 path:
  * `spark.read.format("nats")` with NO `.schema(...)`. Retention
  * sampling runs on every backend in NatsReplaySpec's contract.
  */
class SchemaInferenceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private def freshBus(): String = "memory://infer-" + UUID.randomUUID()

  private def publish(url: String, subject: String, payloads: Seq[String]): Unit = {
    val conn = NatsTransport.connect(url)
    try payloads.foreach(p => conn.publish(subject, p.getBytes("UTF-8")))
    finally conn.close()
  }

  private def fields(st: StructType): Seq[(String, DataType)] =
    st.fields.toSeq.map(f => (f.name, f.dataType))

  // ---- CSV type rules ------------------------------------------------------

  test("CSV: each of the six codec types is inferred at its most specific") {
    val st = SchemaInference.infer("csv", Seq(
      "1,1.5,true,2024-01-01 10:00:00,2024-01-01,hello",
      "-2,2.0,false,2024-06-30 23:59:59,2024-12-31,world"))
    assert(fields(st) === Seq(
      "_c0" -> IntegerType, "_c1" -> DoubleType, "_c2" -> BooleanType,
      "_c3" -> TimestampType, "_c4" -> DateType, "_c5" -> StringType))
    assert(st.fields.forall(!_.nullable))
  }

  test("CSV: Int unifies with Double to Double; digits+true unify to Boolean") {
    // col0: "1" parses as Int, "2.5" doesn't -> Double holds both.
    // col1: "true" kills Int32/Float64 first, Boolean accepts both
    //       ("1" is a legal CSV boolean, CsvCodec parity with the
    //       reference's csv.rs accept set).
    val st = SchemaInference.infer("csv", Seq("1,true", "2.5,1"))
    assert(fields(st) === Seq("_c0" -> DoubleType, "_c1" -> BooleanType))
  }

  test("CSV: timestamp + date strings unify to String (no common refined type)") {
    val st = SchemaInference.infer("csv", Seq("2024-01-01 10:00:00", "2024-01-01"))
    assert(fields(st) === Seq("_c0" -> StringType))
  }

  test("CSV: payloads with disagreeing arity or empty tokens are skipped") {
    val st = SchemaInference.infer("csv", Seq(
      "1,apple", "2,banana,EXTRA", ",empty", "3,orange"))
    assert(fields(st) === Seq("_c0" -> IntegerType, "_c1" -> StringType))
  }

  test("CSV: zero payloads and all-malformed both fail with guidance") {
    val e1 = intercept[IllegalArgumentException](SchemaInference.infer("csv", Nil))
    assert(e1.getMessage.contains("zero payloads"))
    // First payload fixes arity=2 but has an empty token; the second
    // disagrees on arity — no payload is usable under any schema.
    val e2 = intercept[IllegalArgumentException](
      SchemaInference.infer("csv", Seq(",apple", "too,many,fields")))
    assert(e2.getMessage.contains("consistent arity"))
  }

  // ---- JSON type rules -----------------------------------------------------

  test("JSON: six types inferred; key order of the first payload wins") {
    val st = SchemaInference.infer("json", Seq(
      """{"i":1,"d":1.5,"b":true,"t":"2024-01-01 10:00:00","dt":"2024-01-01","s":"x"}""",
      """{"i":2,"d":2.0,"b":false,"t":"2024-06-30 23:59:59","dt":"2024-12-31","s":"y"}"""))
    assert(fields(st) === Seq(
      "i" -> IntegerType, "d" -> DoubleType, "b" -> BooleanType,
      "t" -> TimestampType, "dt" -> DateType, "s" -> StringType))
  }

  test("JSON: Int/Double unify; long-range integer is Double from the start") {
    val st = SchemaInference.infer("json",
      Seq("""{"a":1,"big":4000000000}""", """{"a":2.5,"big":7}"""))
    assert(fields(st) === Seq("a" -> DoubleType, "big" -> DoubleType))
  }

  test("JSON: bool-vs-int on one key is an irreconcilable conflict") {
    val e = intercept[IllegalArgumentException](
      SchemaInference.infer("json", Seq("""{"a":true}""", """{"a":42}""")))
    assert(e.getMessage.contains("irreconcilable"))
  }

  test("JSON: field-set disagreement between valid payloads fails") {
    val e = intercept[IllegalArgumentException](
      SchemaInference.infer("json", Seq("""{"a":1}""", """{"b":2}""")))
    assert(e.getMessage.contains("disagree on the field set"))
  }

  test("JSON: nested / null / non-object payloads are skipped, not fatal") {
    val st = SchemaInference.infer("json", Seq(
      """{"a":{"nested":1}}""", """{"a":null}""", "[1,2]", "not json",
      """{"a":1,"s":"ok"}"""))
    assert(fields(st) === Seq("a" -> IntegerType, "s" -> StringType))
  }

  test("unsupported codec name is rejected") {
    val e = intercept[IllegalArgumentException](
      SchemaInference.infer("avro", Seq("x")))
    assert(e.getMessage.contains("Unsupported payload codec"))
  }

  // ---- sampling paths ------------------------------------------------------

  test("live sampling over nats:// TCP (no retention on core NATS)") {
    val server = new MiniNatsServer()
    try {
      val publisher = new Thread(() => {
        val deadline = System.currentTimeMillis() + 10000
        while (server.subscriptionCount("live.sub") == 0 &&
          System.currentTimeMillis() < deadline) Thread.sleep(5)
        publish(server.url, "live.sub", Seq("1,apple", "2,banana", "3,orange"))
      })
      publisher.setDaemon(true)
      publisher.start()
      val sampled = SchemaInference.sample(server.url, "live.sub", 3, timeoutMs = 10000)
      assert(sampled.toSet === Set("1,apple", "2,banana", "3,orange"))
      assert(fields(SchemaInference.infer("csv", sampled)) ===
        Seq("_c0" -> IntegerType, "_c1" -> StringType))
    } finally server.stop()
  }

  test("wildcard subjects always sample live: a family has no single sequence") {
    val url = freshBus()
    // Retained history on the concrete subjects must NOT satisfy the
    // wildcard sampler — it subscribes live instead.
    publish(url, "sensors.a", Seq("999,stale"))
    val publisher = new Thread(() => {
      val busId = url.stripPrefix("memory://")
      val deadline = System.currentTimeMillis() + 10000
      while (InMemoryBus.subscriberCount(busId, "sensors.a") == 0 &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
      publish(url, "sensors.a", Seq("1,1.5"))
      publish(url, "sensors.b", Seq("2,2.5"))
      publish(url, "sensors.a.deep", Seq("not,matched,by,star"))
      publish(url, "sensors.c", Seq("3,3.5"))
    })
    publisher.setDaemon(true)
    publisher.start()
    val sampled = SchemaInference.sample(url, "sensors.*", 3, timeoutMs = 10000)
    assert(sampled.toSet === Set("1,1.5", "2,2.5", "3,3.5"))
    assert(fields(SchemaInference.infer("csv", sampled)) ===
      Seq("_c0" -> IntegerType, "_c1" -> DoubleType))
  }

  test("live sampling times out to however many arrived; zero arrivals fail inference") {
    val url = freshBus()
    val e = intercept[IllegalArgumentException] {
      val none = SchemaInference.sample(url, "silent.subject", 3, timeoutMs = 100)
      SchemaInference.infer("csv", none)
    }
    assert(e.getMessage.contains("zero payloads"))
  }

  // ---- the DSv2 path: spark.read with NO .schema(...) ----------------------

  test("E2E CSV: inferSchema=true + replay reads retained rows with an inferred schema") {
    val url = freshBus()
    publish(url, "infer_csv", Seq("1,apple", "2,banana", "3,orange"))
    val df = spark.read.format("nats")
      .option("url", url).option("subject", "infer_csv")
      .option("inferSchema", "true")
      .option("replay", "true").option("startSequence", "0")
      .load()
    assert(fields(df.schema) === Seq("_c0" -> IntegerType, "_c1" -> StringType))
    assert(df.orderBy("_c0").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      === Seq((1, "apple"), (2, "banana"), (3, "orange")))
  }

  test("E2E JSON: inferred field names come from the payloads themselves") {
    val url = freshBus()
    publish(url, "infer_json", Seq(
      """{"id":1,"score":1.5,"ok":true}""",
      """{"id":2,"score":2.5,"ok":false}"""))
    val df = spark.read.format("nats")
      .option("url", url).option("subject", "infer_json")
      .option("codec", "json")
      .option("inferSchema", "true")
      .option("replay", "true").option("startSequence", "0")
      .load()
    assert(fields(df.schema) ===
      Seq("id" -> IntegerType, "score" -> DoubleType, "ok" -> BooleanType))
    assert(df.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getBoolean(2))).toSeq
      === Seq((1, 1.5, true), (2, 2.5, false)))
  }

  test("an inferred schema never rejects the payloads it was inferred from") {
    val url = freshBus()
    publish(url, "infer_self", Seq("1,true", "2.5,0")) // Double + Boolean after unify
    val df = spark.read.format("nats")
      .option("url", url).option("subject", "infer_self")
      .option("inferSchema", "true")
      .option("replay", "true").option("startSequence", "0")
      .load()
    assert(df.count() === 2) // none skipped as malformed
    assert(NatsMetrics.malformedCount(url, "infer_self") === 0)
  }

  test("inferSamples bounds the sample size through the DSv2 option") {
    val url = freshBus()
    // newest-2 window: both rows are pure digits -> Int; a larger sample
    // would see the "x" row and infer String instead.
    publish(url, "bounded", Seq("x", "1", "2"))
    val df = spark.read.format("nats")
      .option("url", url).option("subject", "bounded")
      .option("inferSchema", "true").option("inferSamples", "2")
      .option("replay", "true").option("startSequence", "0")
      .load()
    assert(fields(df.schema) === Seq("_c0" -> IntegerType))
  }

  test("streaming read with inferSchema: the inferred table streams like a declared one") {
    val url = freshBus()
    publish(url, "infer_stream", Seq("1,apple", "2,banana")) // inference sample
    val df = spark.readStream.format("nats")
      .option("url", url).option("subject", "infer_stream")
      .option("inferSchema", "true")
      .option("batchSize", "3")
      .load()
    assert(fields(df.schema) === Seq("_c0" -> IntegerType, "_c1" -> StringType))
    val q = df.writeStream.format("memory").queryName("infer_stream_sink").start()
    try {
      NatsDemo.awaitSubscriber(url, "infer_stream")
      publish(url, "infer_stream", Seq("3,orange", "4,kiwi", "5,mango"))
      q.processAllAvailable()
      assert(spark.sql("SELECT _c0 FROM infer_stream_sink ORDER BY _c0")
        .collect().map(_.getInt(0)).toSeq === Seq(3, 4, 5))
    } finally q.stop()
  }

  test("schema-free wildcard family: live sampling + partitionBySubject stream E2E") {
    val url = freshBus()
    // The family sampler subscribes live; a paced publisher covers both
    // the sampling window and the stream that follows.
    val stops = Seq(
      NatsDemo.cyclicPublisher(url, "fleet.a", Seq("1,7.5")),
      NatsDemo.cyclicPublisher(url, "fleet.b", Seq("2,9.25")))
    try {
      val df = spark.readStream.format("nats")
        .option("url", url).option("subject", "fleet.*")
        .option("inferSchema", "true").option("inferTimeoutMs", "10000")
        .option("batchSize", "50").option("flushTimeoutMs", "100")
        .option("partitionBySubject", "true").option("numPartitions", "2")
        .load()
      assert(fields(df.schema) === Seq("_c0" -> IntegerType, "_c1" -> DoubleType))
      val q = df.writeStream.format("memory").queryName("infer_family_sink").start()
      try {
        val deadline = System.currentTimeMillis() + 15000
        var distinct = 0L
        while (distinct < 2 && System.currentTimeMillis() < deadline) {
          q.processAllAvailable()
          distinct = spark.sql("SELECT DISTINCT _c0 FROM infer_family_sink").count()
          if (distinct < 2) Thread.sleep(50)
        }
        assert(spark.sql("SELECT DISTINCT _c0, _c1 FROM infer_family_sink ORDER BY _c0")
          .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
          === Seq((1, 7.5), (2, 9.25)))
      } finally q.stop()
    } finally stops.foreach(_.set(true))
  }

  test("capstone over nats://: auth + wire retention + inference + replay read compose") {
    val server = new MiniNatsServer(authToken = Some("tok"), retainCapacity = 64)
    try {
      val url = s"nats://tok@127.0.0.1:${server.port}"
      publish(url, "secure_events",
        Seq("""{"id":1,"name":"apple"}""", """{"id":2,"name":"banana"}"""))
      val df = spark.read.format("nats")
        .option("url", url).option("subject", "secure_events")
        .option("codec", "json")
        .option("inferSchema", "true")
        .option("replay", "true").option("startSequence", "0")
        .load()
      assert(fields(df.schema) === Seq("id" -> IntegerType, "name" -> StringType))
      assert(df.orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
        === Seq((1, "apple"), (2, "banana")))
    } finally server.stop()
  }

  test("without inferSchema, a schema-less read still fails with actionable guidance") {
    val url = freshBus()
    val e = intercept[IllegalArgumentException] {
      spark.read.format("nats")
        .option("url", url).option("subject", "nats_table").load()
    }
    assert(e.getMessage.contains("inferSchema"))
    assert(e.getMessage.contains(".schema("))
  }
}
