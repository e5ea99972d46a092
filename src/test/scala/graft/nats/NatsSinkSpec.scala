package graft.nats

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** The write side: df.write / writeStream format("nats") publishing
  * codec-encoded CSV to a subject — and the full NATS→Spark→NATS
  * pipeline (subscribe, transform, republish) the reference never had.
  */
class NatsSinkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false)))

  private def freshBus(): String = "memory://sink-" + UUID.randomUUID()

  private def collectSubject(url: String, subject: String): (ConcurrentLinkedQueue[String], NatsSubscription) = {
    val got = new ConcurrentLinkedQueue[String]()
    val conn = NatsTransport.connect(url)
    val sub = conn.subscribe(subject)(p => { got.add(new String(p, "UTF-8")); () })
    (got, sub)
  }

  test("batch write publishes every row as a codec round-trippable payload") {
    import spark.implicits._
    val url = freshBus()
    val (got, sub) = collectSubject(url, "out")
    try {
      Seq((1, "apple"), (2, "banana"), (3, "orange")).toDF("id", "name")
        .write.format("nats")
        .option("url", url).option("subject", "out")
        .mode("append").save()
      assert(got.toArray.map(_.toString).sorted.toSeq ===
        Seq("1,apple", "2,banana", "3,orange"))
    } finally sub.close()
  }

  test("msgIdColumn: a retried batch write retains once; the id column never enters the payload") {
    import spark.implicits._
    val url = freshBus()
    def writeOnce(): Unit =
      Seq((1, "apple", "m1"), (2, "banana", "m2"), (3, "orange", "m3"))
        .toDF("id", "name", "mid")
        .write.format("nats").mode("append")
        .option("url", url).option("subject", "idem")
        .option("msgIdColumn", "mid").save()
    writeOnce()
    writeOnce() // at-least-once retry: same rows, same Nats-Msg-Id values
    val conn = NatsTransport.connect(url)
    try {
      val r = conn.asInstanceOf[ReplayableNatsConnection]
      assert(r.currentSeq("idem") === 3L, "6 publishes must dedup to 3 stored")
      val stored = r.fetchRetainedWithHeaders("idem", 0L, 10)
      assert(stored.map(m => new String(m._2, "UTF-8")).sorted.toSeq ===
        Seq("1,apple", "2,banana", "3,orange"),
        "payload must be (id, name) only — mid is identity metadata")
      assert(stored.map(_._1.collectFirst { case ("Nats-Msg-Id", v) => v }.get).sorted.toSeq ===
        Seq("m1", "m2", "m3"))
    } finally conn.close()
  }

  test("pipelined publish over TCP: batched frames keep order, payload bytes, and headers") {
    // The sink buffers publishBatchRows rows and ships them as one
    // PUB/HPUB pipeline + one flush (TcpNatsClient.publishBatch).
    // 10 rows with publishBatchRows=4 exercises two full runs + the
    // commit-time flush of the remainder; the JetStream fetch carries
    // the headers back out.
    import spark.implicits._
    val server = new MiniNatsServer(retainCapacity = 64)
    try {
      (1 to 10).map(i => (i, s"name$i", s"id$i")).toDF("id", "name", "mid")
        .coalesce(1) // one writer task: retention order = row order
        .write.format("nats").mode("append")
        .option("url", server.url).option("subject", "pipe")
        .option("msgIdColumn", "mid")
        .option("publishBatchRows", "4").save()
      val conn = NatsTransport.connect(server.url)
      try {
        val r = conn.asInstanceOf[ReplayableNatsConnection]
        assert(r.currentSeq("pipe") === 10L)
        val stored = r.fetchRetainedWithHeaders("pipe", 0L, 20)
        assert(stored.map(m => new String(m._2, "UTF-8")).toSeq ===
          (1 to 10).map(i => s"$i,name$i"))
        assert(stored.map(_._1.collectFirst { case ("Nats-Msg-Id", v) => v }.get).toSeq ===
          (1 to 10).map(i => s"id$i"))
      } finally conn.close()
    } finally server.stop()
  }

  test("msgIdColumn misuse fails loudly: unknown column, non-string type, NULL id") {
    import spark.implicits._
    val url = freshBus()
    def write(df: org.apache.spark.sql.DataFrame, idCol: String): Unit =
      df.write.format("nats").mode("append")
        .option("url", url).option("subject", "idem_bad")
        .option("msgIdColumn", idCol).save()
    val base = Seq((1, "a", "m1")).toDF("id", "name", "mid")
    val unknown = intercept[Exception](write(base, "nope"))
    assert(unknown.getMessage.contains("msgIdColumn") ||
      unknown.getCause.getMessage.contains("msgIdColumn"))
    val wrongType = intercept[Exception](write(base, "id"))
    assert(wrongType.getMessage.contains("STRING") ||
      wrongType.getCause.getMessage.contains("STRING"))
    val withNull = Seq((1, "a", "m1"), (2, "b", null))
      .toDF("id", "name", "mid")
    val nullId = intercept[Exception](write(withNull, "mid"))
    assert(nullId.getMessage.contains("NULL") ||
      (nullId.getCause != null && nullId.getCause.getMessage.contains("NULL")))
  }

  test("subjectColumn: rows route to their own subjects; the column never enters the payload") {
    import spark.implicits._
    val url = freshBus()
    val (gotEn, subEn) = collectSubject(url, "docs.en")
    val (gotDe, subDe) = collectSubject(url, "docs.de")
    try {
      Seq((1, "hello", "docs.en"), (2, "hallo", "docs.de"), (3, "world", "docs.en"))
        .toDF("id", "text", "subj")
        .write.format("nats").mode("append")
        .option("url", url).option("subject", "docs.default")
        .option("subjectColumn", "subj").save()
      // routed correctly, subj not in payload (memory-bus delivery is
      // async — compare sorted, as the plain batch-write test does;
      // wire-order preservation is the TCP pipelining test's job)
      assert(gotEn.toArray.map(_.toString).sorted.toSeq ===
        Seq("1,hello", "3,world"))
      assert(gotDe.toArray.map(_.toString).toSeq === Seq("2,hallo"))
    } finally { subEn.close(); subDe.close() }
  }

  test("subjectColumn misuse fails loudly: unknown/non-string column, NULL or wildcard value") {
    import spark.implicits._
    val url = freshBus()
    def write(df: org.apache.spark.sql.DataFrame, c: String): Unit =
      df.write.format("nats").mode("append")
        .option("url", url).option("subject", "route_bad")
        .option("subjectColumn", c).save()
    def msg(e: Throwable): String =
      e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    val base = Seq((1, "a", "docs.en")).toDF("id", "name", "subj")
    assert(msg(intercept[Exception](write(base, "nope"))).contains("subjectColumn"))
    assert(msg(intercept[Exception](write(base, "id"))).contains("STRING"))
    val withNull = Seq((1, "a", "docs.en"), (2, "b", null)).toDF("id", "name", "subj")
    assert(msg(intercept[Exception](write(withNull, "subj"))).contains("NULL"))
    val wildcard = Seq((1, "a", "docs.*")).toDF("id", "name", "subj")
    assert(msg(intercept[Exception](write(wildcard, "subj"))).contains("literal"))
    // ADVICE r14 (medium): data-driven subjects ride on the transport's
    // 'PUB <subject> …' control line — CRLF in a row value would
    // terminate the line early and inject protocol verbs. Rejected at
    // write(), before anything reaches a connection.
    val crlf = Seq((1, "a", "docs.x\r\nPUB evil 0\r\n")).toDF("id", "name", "subj")
    assert(msg(intercept[Exception](write(crlf, "subj"))).contains("printable"))
    val tab = Seq((1, "a", "docs\ten")).toDF("id", "name", "subj")
    assert(msg(intercept[Exception](write(tab, "subj"))).contains("printable"))
    // ADVICE r14 (low): empty dot-tokens previously slipped past the
    // writer ('docs.' matched 'docs.*' on the memory bus via an empty
    // token); they now fail here with the subjectColumn-specific message.
    val dot = Seq((1, "a", "docs.")).toDF("id", "name", "subj")
    assert(msg(intercept[Exception](write(dot, "subj"))).contains("non-empty"))
    val dotdot = Seq((1, "a", "a..b")).toDF("id", "name", "subj")
    assert(msg(intercept[Exception](write(dotdot, "subj"))).contains("non-empty"))
  }

  test("subjectColumn routes from writeStream too (same writer both paths)") {
    import spark.implicits._
    val in = freshBus(); val out = freshBus()
    val connIn = NatsTransport.connect(in)
    val (gotA, subA) = collectSubject(out, "out.apple")
    val (gotB, subB) = collectSubject(out, "out.banana")
    val ckpt = java.nio.file.Files.createTempDirectory("nats-route-ckpt").toString
    val q = spark.readStream.format("nats").schema(schema)
      .option("url", in).option("subject", "raw")
      .option("batchSize", "2")
      .load()
      .withColumn("subj", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("out."), col("name")))
      .writeStream.format("nats")
      .option("url", out).option("subject", "out.default")
      .option("subjectColumn", "subj")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      NatsDemo.awaitSubscriber(in, "raw")
      connIn.publish("raw", "1,apple".getBytes)
      connIn.publish("raw", "2,banana".getBytes)
      q.processAllAvailable()
      assert(gotA.toArray.map(_.toString).toSeq === Seq("1,apple"))
      assert(gotB.toArray.map(_.toString).toSeq === Seq("2,banana"))
    } finally { q.stop(); subA.close(); subB.close(); connIn.close() }
  }

  test("batch write covers all six codec types and round-trips through parse") {
    import spark.implicits._
    val url = freshBus()
    val (got, sub) = collectSubject(url, "typed")
    val full = StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("f", DoubleType, nullable = false),
      StructField("b", BooleanType, nullable = false),
      StructField("s", StringType, nullable = false),
      StructField("t", TimestampType, nullable = false),
      StructField("d", DateType, nullable = false)))
    try {
      val df = Seq((7, 1.5, true, "hello",
        java.sql.Timestamp.valueOf("2024-01-15 10:30:00"),
        java.sql.Date.valueOf("2024-01-15"))).toDF("i", "f", "b", "s", "t", "d")
      df.write.format("nats").option("url", url).option("subject", "typed")
        .mode("append").save()
      val payloads = got.toArray.map(_.toString)
      assert(payloads.length === 1)
      val codec = CsvCodec.strict(full)
      assert(codec.parse(payloads(0)).isRight, s"not round-trippable: ${payloads(0)}")
    } finally sub.close()
  }

  test("streaming pipeline: NATS in, transform, NATS out") {
    val in = freshBus(); val out = freshBus()
    val connIn = NatsTransport.connect(in)
    val (got, sub) = collectSubject(out, "enriched")
    val ckpt = java.nio.file.Files.createTempDirectory("nats-sink-ckpt").toString
    val q = spark.readStream.format("nats").schema(schema)
      .option("url", in).option("subject", "raw")
      .option("batchSize", "3")
      .load()
      .filter(col("id") >= 2)                       // transform: drop id 1
      .writeStream.format("nats")
      .option("url", out).option("subject", "enriched")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      NatsDemo.awaitSubscriber(in, "raw")
      Seq("1,apple", "2,banana", "3,orange").foreach(m => connIn.publish("raw", m.getBytes))
      q.processAllAvailable()
      assert(got.toArray.map(_.toString).sorted.toSeq === Seq("2,banana", "3,orange"))
    } finally { q.stop(); sub.close(); connIn.close() }
  }

  test("codec=json: sink emits flat JSON objects and the source decodes them back (full loop)") {
    import spark.implicits._
    val url = freshBus()
    val (got, sub) = collectSubject(url, "json_out")
    try {
      // write side: one flat JSON object per row, schema field order
      Seq((1, "a,b\"c"), (2, "plain")).toDF("id", "name")
        .write.format("nats")
        .option("url", url).option("subject", "json_out").option("codec", "json")
        .mode("append").save()
      val payloads = got.toArray.map(_.toString).sorted
      assert(payloads.toSeq === Seq("""{"id":1,"name":"a,b\"c"}""", """{"id":2,"name":"plain"}"""))

      // read side: a streaming query with codec=json parses them back —
      // including the comma-and-quote string CSV framing cannot carry
      val q = spark.readStream.format("nats").schema(schema)
        .option("url", url).option("subject", "json_in").option("codec", "json")
        .option("batchSize", "2")
        .load()
        .writeStream.format("memory").queryName("nats_json_loop").start()
      val conn = NatsTransport.connect(url)
      try {
        NatsDemo.awaitSubscriber(url, "json_in")
        payloads.foreach(p => conn.publish("json_in", p.getBytes("UTF-8")))
        q.processAllAvailable()
        val rows = spark.sql("SELECT id, name FROM nats_json_loop ORDER BY id")
          .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
        assert(rows === Seq((1, "a,b\"c"), (2, "plain")))
      } finally { q.stop(); conn.close() }
    } finally sub.close()
  }

  test("codec=json: malformed and CSV-shaped payloads are skipped and counted, stream continues") {
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val q = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "json_bad").option("codec", "json")
      .option("batchSize", "4")
      .load()
      .writeStream.format("memory").queryName("nats_json_bad").start()
    try {
      NatsDemo.awaitSubscriber(url, "json_bad")
      val before = NatsMetrics.malformedCount(url, "json_bad")
      Seq("""{"id":1,"name":"ok"}""", "2,csv-not-json",
        """{"id":"3","name":"typed-wrong"}""", """{"id":4,"name":"ok2"}""")
        .foreach(m => conn.publish("json_bad", m.getBytes("UTF-8")))
      q.processAllAvailable()
      val rows = spark.sql("SELECT id FROM nats_json_bad ORDER BY id")
        .collect().map(_.getInt(0)).toSeq
      assert(rows === Seq(1, 4))
      assert(NatsMetrics.malformedCount(url, "json_bad") - before === 2)
    } finally { q.stop(); conn.close() }
  }

  test("rows the codec cannot represent fail loudly, not silently") {
    import spark.implicits._
    val url = freshBus()
    val ex = intercept[Exception] {
      Seq((1, "has,comma")).toDF("id", "name")
        .write.format("nats").option("url", url).option("subject", "bad")
        .mode("append").save()
    }
    assert(ex.toString.contains("nats") || ex.getMessage != null)
  }

  test("sink rejects sub-second timestamps instead of truncating, both codecs") {
    import spark.implicits._
    // 1 s wire granularity (CsvCodec/JsonCodec encode): a 10:30:00.500
    // value would not survive encode-then-parse — the write must FAIL,
    // never silently truncate.
    val subSec = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-15 10:30:00").getTime + 500L)
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    for (codec <- Seq("csv", "json")) {
      val url = freshBus()
      val ex = intercept[Exception] {
        Seq(Tuple1(subSec)).toDF("t")
          .write.format("nats").option("url", url).option("subject", "subsec")
          .option("codec", codec).mode("append").save()
      }
      assert(chain(ex).exists(_.contains("sub-second")),
        s"codec=$codec: expected a sub-second rejection, got $ex")
    }
  }

  test("parallel decode: numPartitions > 1 splits a streaming batch across tasks") {
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val df = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "wide")
      .option("batchSize", "8").option("numPartitions", "4")
      .load()
    val q = df.writeStream.format("memory").queryName("nats_parallel").start()
    try {
      NatsDemo.awaitSubscriber(url, "wide")
      (1 to 8).foreach(i => conn.publish("wide", s"$i,row$i".getBytes))
      q.processAllAvailable()
      val n = spark.sql("SELECT * FROM nats_parallel").count()
      assert(n === 8)
      // the last batch must have been planned as multiple partitions
      assert(q.recentProgress.exists(p => p.numInputRows == 8))
    } finally { q.stop(); conn.close() }
  }
}
