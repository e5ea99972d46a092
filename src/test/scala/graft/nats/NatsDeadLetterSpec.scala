package graft.nats

import java.util.UUID
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Dead-letter subject for malformed payloads (VERDICT r11 item 7 —
  * A10's design note made operational): `option("deadLetterSubject", …)`
  * keeps the skip-and-count error policy AND republishes every skipped
  * payload to the named subject, the parse error and source envelope
  * riding as NATS headers (`Graft-Error`, `Graft-Source-Subject`,
  * `Graft-Source-Seq`) on the payload bytes exactly as they were received
  * (a non-UTF-8 payload arrives with its original bytes) — the
  * NATS-native quarantine queue an operator drains with a plain
  * subscription.
  */
class NatsDeadLetterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false)))

  private def freshBus(): String = "memory://dlq-" + UUID.randomUUID()

  test("malformed payloads land on the dead-letter subject with the parse error as headers") {
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val dead = new LinkedBlockingQueue[(Seq[(String, String)], String)]()
    val dlSub = conn.subscribe("quarantine.ev", None) { (_, headers, payload) =>
      dead.put((headers, new String(payload))); ()
    }
    val q = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "ev").option("batchSize", "3")
      .option("deadLetterSubject", "quarantine.ev")
      .load()
      .writeStream.format("memory").queryName("dlq_stream").start()
    try {
      NatsDemo.awaitSubscriber(url, "ev")
      conn.publish("ev", "1,ok".getBytes)
      conn.publish("ev", "not-a-row".getBytes) // wrong arity -> dead letter
      conn.publish("ev", "2,ok".getBytes)
      q.processAllAvailable()
      // the stream stays green and delivers the well-formed rows
      assert(spark.sql("SELECT id FROM dlq_stream ORDER BY id")
        .collect().map(_.getInt(0)).toSeq === Seq(1, 2))
      // the malformed payload arrived on the quarantine subject, intact,
      // with the error and source envelope in its headers
      val (headers, payload) = dead.poll(10, TimeUnit.SECONDS)
      assert(payload === "not-a-row", "dead letter must carry the payload text unchanged")
      val h = headers.toMap
      assert(h.contains("Graft-Error") && h("Graft-Error").nonEmpty)
      assert(h("Graft-Source-Subject") === "ev")
      assert(h("Graft-Source-Seq") === "2", s"ledger offset of the bad message: $h")
      assert(dead.isEmpty, "well-formed rows must not be dead-lettered")
      // and the skip-and-count tally still counts
      assert(NatsMetrics.malformedCount(url, "ev") === 1)
    } finally { q.stop(); dlSub.close(); conn.close() }
  }

  test("dead-letter works executor-side on replay batch reads too") {
    val url = freshBus() + "?retain=100"
    val conn = NatsTransport.connect(url)
    val dead = new LinkedBlockingQueue[(Seq[(String, String)], String)]()
    val dlSub = conn.subscribe("quarantine.hist", None) { (_, headers, payload) =>
      dead.put((headers, new String(payload))); ()
    }
    try {
      conn.publish("hist", "1,ok".getBytes)
      conn.publish("hist", "bad".getBytes)
      conn.publish("hist", "2,ok".getBytes)
      val rows = spark.read.format("nats").schema(schema)
        .option("url", url).option("subject", "hist").option("replay", "true")
        .option("startSequence", "0").option("numPartitions", "2")
        .option("deadLetterSubject", "quarantine.hist")
        .load()
        .collect().map(_.getInt(0)).sorted.toSeq
      assert(rows === Seq(1, 2))
      val (headers, payload) = dead.poll(10, TimeUnit.SECONDS)
      assert(payload === "bad")
      assert(headers.toMap.apply("Graft-Source-Seq") === "2", "broker sequence under replay")
    } finally { dlSub.close(); conn.close() }
  }

  test("a dead-letter subject the source subscription matches is rejected (would loop)") {
    val url = freshBus()
    val e = intercept[Exception] {
      spark.readStream.format("nats").schema(schema)
        .option("url", url).option("subject", "ev.*")
        .option("deadLetterSubject", "ev.dead")
        .load()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(_.contains("loop")), s"got: ${messages(e)}")
  }

  test("wire transport: dead letters cross real TCP with their headers") {
    val server = new MiniNatsServer(retainCapacity = 100)
    try {
      val conn = NatsTransport.connect(server.url)
      val dead = new LinkedBlockingQueue[(Seq[(String, String)], String)]()
      val dlSub = conn.subscribe("dl.wire", None) { (_, headers, payload) =>
        dead.put((headers, new String(payload))); ()
      }
      try {
        conn.publish("wire.ev", "1,ok".getBytes)
        conn.publish("wire.ev", "nope".getBytes)
        val rows = spark.read.format("nats").schema(schema)
          .option("url", server.url).option("subject", "wire.ev")
          .option("replay", "true").option("startSequence", "0")
          .option("deadLetterSubject", "dl.wire")
          .load()
          .collect().map(_.getInt(0)).toSeq
        assert(rows === Seq(1))
        val (headers, payload) = dead.poll(10, TimeUnit.SECONDS)
        assert(payload === "nope")
        assert(headers.toMap.apply("Graft-Source-Subject") === "wire.ev")
      } finally { dlSub.close(); conn.close() }
    } finally server.stop()
  }
}
