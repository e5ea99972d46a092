package graft.nats

import java.util.UUID
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Every read path hands decode the message as the transport delivered
  * it: the concrete subject, the header pairs and the payload bytes. A
  * header value keeps every byte it arrived with, and a dead letter
  * carries the payload bytes it was received with. */
class NatsEnvelopeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false)))

  private def freshBus(): String = "memory://envelope-" + UUID.randomUUID()

  private val controlHeader = Seq("K" -> "a\u0001b")

  test("live stream: a header value with a control byte arrives verbatim in _headers") {
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val q = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "ctl").option("batchSize", "1").load()
      .select(col("id"), col("_headers"))
      .writeStream.format("memory").queryName("envelope_live").start()
    try {
      NatsDemo.awaitSubscriber(url, "ctl")
      conn.publish("ctl", controlHeader, "1,x".getBytes)
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, _headers FROM envelope_live")
        .collect().map(r => (r.getInt(0), r.getMap[String, String](1).toMap)).toSeq
      assert(rows === Seq((1, Map("K" -> "a\u0001b"))))
    } finally { q.stop(); conn.close() }
  }

  test("replay batch read: a header value with a control byte arrives verbatim in _headers") {
    val url = freshBus() + "?retain=10"
    val conn = NatsTransport.connect(url)
    try {
      conn.publish("ctl", controlHeader, "1,x".getBytes)
      val rows = spark.read.format("nats").schema(schema)
        .option("url", url).option("subject", "ctl").option("replay", "true")
        .option("startSequence", "0")
        .load()
        .select(col("id"), col("_headers"))
        .collect().map(r => (r.getInt(0), r.getMap[String, String](1).toMap)).toSeq
      assert(rows === Seq((1, Map("K" -> "a\u0001b"))))
    } finally conn.close()
  }

  test("one-shot batch read: a header value with a control byte arrives verbatim in _headers") {
    val url = freshBus()
    val stop = new AtomicBoolean(false)
    val publisher = new Thread(() => {
      val conn = NatsTransport.connect(url)
      try while (!stop.get()) { conn.publish("ctl", controlHeader, "1,x".getBytes); Thread.sleep(5) }
      finally conn.close()
    })
    publisher.setDaemon(true)
    publisher.start()
    try {
      val rows = spark.read.format("nats").schema(schema)
        .option("url", url).option("subject", "ctl").option("collectTimeoutMs", "20000")
        .load()
        .select(col("id"), col("_headers")).limit(1)
        .collect().map(r => (r.getInt(0), r.getMap[String, String](1).toMap)).toSeq
      assert(rows === Seq((1, Map("K" -> "a\u0001b"))))
    } finally { stop.set(true); publisher.join(5000) }
  }

  test("a dead letter carries the payload bytes as received, not a UTF-8 re-encoding") {
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val dead = new LinkedBlockingQueue[Array[Byte]]()
    val dlSub = conn.subscribe("quarantine.raw", None) { (_, _, payload) => dead.put(payload); () }
    val q = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "raw").option("batchSize", "1")
      .option("deadLetterSubject", "quarantine.raw")
      .load()
      .writeStream.format("memory").queryName("envelope_dead_letter").start()
    try {
      NatsDemo.awaitSubscriber(url, "raw")
      val original = Array(0xFF.toByte, ','.toByte, 'o'.toByte, 'k'.toByte)
      conn.publish("raw", original)
      q.processAllAvailable()
      val got = dead.poll(10, TimeUnit.SECONDS)
      assert(got != null, "no dead letter arrived")
      assert(got.toSeq === original.toSeq,
        s"dead letter bytes ${got.map(b => f"${b & 0xff}%02X").mkString(" ")}")
    } finally { q.stop(); dlSub.close(); conn.close() }
  }

  test("the NATS source carries no private message framing") {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft/nats"))
    val files =
      try walk.iterator.asScala.map(_.toFile).filter(_.getName.endsWith(".scala")).toList
      finally walk.close()
    val framing = "SubjectSep|decodeHeaderKeys|decodeHeaderValues".r
    val offenders = for {
      f <- files
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toList.zipWithIndex finally src.close()
      if framing.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1} ${line.trim}"
    assert(files.nonEmpty, "no sources scanned")
    assert(offenders.isEmpty, s"message framing in the NATS source:\n${offenders.mkString("\n")}")
  }
}
