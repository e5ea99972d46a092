package graft.nats

import java.util.UUID

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The source's message-envelope columns (`_subject`, `_seq` — the Kafka
  * topic/partition/offset analog; [[NatsMetadata]]). Two surfaces:
  * hidden DSv2 metadata columns (resolved by name, absent from the data
  * schema — pruned in on batch reads, served at fixed trailing ordinals
  * on streaming reads), and `includeMetadata=true` appending them to the
  * reported schema as ordinary columns for SELECT-star / DDL pipelines.
  */
class NatsMetadataSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("nats-metadata-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false)))

  private def freshBus(): String = "memory://meta-" + UUID.randomUUID()

  test("metadata columns are hidden from the data schema but resolve by name") {
    val url = freshBus()
    val df = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "t").load()
    assert(df.schema.fieldNames.toSeq === Seq("id", "name"),
      "_subject/_seq must not leak into the data schema")
    // resolves in a projection without error
    df.select(col("id"), col("_subject"), col("_seq"))
  }

  test("hidden metadata columns EXECUTE on a streaming read (not just resolve)") {
    // The micro-batch engine builds scans without pruneColumns, so the
    // stream always serves data + hidden envelope fields at trailing
    // ordinals — where AddMetadataColumns binds them when a projection
    // references the hidden surface (no includeMetadata needed).
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val q = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "t").option("batchSize", "2").load()
      .select(col("id"), col("_subject"), col("_seq"))
      .writeStream.format("memory").queryName("meta_hidden_exec").start()
    try {
      NatsDemo.awaitSubscriber(url, "t")
      conn.publish("t", "1,a".getBytes)
      conn.publish("t", "2,b".getBytes)
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, _subject, _seq FROM meta_hidden_exec ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      assert(rows === Seq((1, "t", 1L), (2, "t", 2L)))
    } finally { q.stop(); conn.close() }
  }

  test("a streaming read that never references metadata is unaffected by the widened scan") {
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val q = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "t").option("batchSize", "1").load()
      .writeStream.format("memory").queryName("meta_plain_exec").start()
    try {
      NatsDemo.awaitSubscriber(url, "t")
      conn.publish("t", "1,a".getBytes)
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM meta_plain_exec").collect()
      assert(rows.map(_.length).toSeq === Seq(2), "no envelope fields may leak into SELECT *")
      assert(rows.head.getInt(0) === 1 && rows.head.getString(1) === "a")
    } finally { q.stop(); conn.close() }
  }

  test("includeMetadata=true appends the envelope to the reported schema") {
    val url = freshBus()
    val df = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "t")
      .option("includeMetadata", "true").load()
    assert(df.schema.fieldNames.toSeq === Seq("id", "name", "_subject", "_seq", "_headers"))
    assert(df.schema("_seq").dataType === LongType)
    assert(df.schema("_headers").dataType ===
      MapType(StringType, StringType, valueContainsNull = false))
  }

  test("_headers: a headered publish surfaces as a string map, headerless rows get an empty map") {
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val q = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "h").option("batchSize", "2").load()
      .select(col("id"), col("_headers"))
      .writeStream.format("memory").queryName("meta_headers").start()
    try {
      NatsDemo.awaitSubscriber(url, "h")
      conn.publish("h",
        Seq("Trace-Id" -> "abc123", "Source" -> "ingest-7"), "1,x".getBytes)
      conn.publish("h", "2,y".getBytes)
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, _headers FROM meta_headers ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getMap[String, String](1).toMap)).toSeq
      assert(rows === Seq(
        (1, Map("Trace-Id" -> "abc123", "Source" -> "ingest-7")),
        (2, Map.empty[String, String])))
    } finally { q.stop(); conn.close() }
  }

  test("_headers over the WIRE transport: HPUB -> HMSG -> streaming map column") {
    val server = new MiniNatsServer()
    try {
      val conn = NatsTransport.connect(server.url)
      val q = spark.readStream.format("nats").schema(schema)
        .option("url", server.url).option("subject", "wire.h")
        .option("batchSize", "2").load()
        .select(col("id"), col("_headers"))
        .writeStream.format("memory").queryName("meta_headers_wire").start()
      try {
        val dl = System.currentTimeMillis() + 10000
        while (server.subscriptionCount("wire.h") == 0 && System.currentTimeMillis() < dl)
          Thread.sleep(20)
        conn.publish("wire.h", Seq("K" -> "v1", "K2" -> "v 2"), "1,x".getBytes)
        conn.publish("wire.h", "2,y".getBytes)
        q.processAllAvailable()
        val rows = spark.sql("SELECT id, _headers FROM meta_headers_wire ORDER BY id")
          .collect().map(r => (r.getInt(0), r.getMap[String, String](1).toMap)).toSeq
        assert(rows === Seq(
          (1, Map("K" -> "v1", "K2" -> "v 2")),
          (2, Map.empty[String, String])))
      } finally { q.stop(); conn.close() }
    } finally server.stop()
  }

  test("wildcard stream: _subject is the concrete family member, _seq the arrival offset") {
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val q = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "regions.*")
      .option("batchSize", "3").option("includeMetadata", "true")
      .load()
      .select(col("id"), col("name"), col("_subject"), col("_seq"))
      .writeStream.format("memory").queryName("meta_wild").start()
    try {
      NatsDemo.awaitSubscriber(url, "regions.us")
      conn.publish("regions.us", "1,us".getBytes)
      conn.publish("regions.eu", "2,eu".getBytes)
      conn.publish("regions.apac", "3,apac".getBytes)
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, _subject, _seq FROM meta_wild ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      assert(rows === Seq(
        (1, "regions.us", 1L), (2, "regions.eu", 2L), (3, "regions.apac", 3L)))
    } finally { q.stop(); conn.close() }
  }

  test("partitionBySubject fan-out preserves the envelope through subject grouping") {
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val q = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "fam.*")
      .option("batchSize", "4").option("partitionBySubject", "true")
      .option("includeMetadata", "true")
      .option("numPartitions", "2")
      .load()
      .select(col("id"), col("_subject"), col("_seq"))
      .writeStream.format("memory").queryName("meta_fanout").start()
    try {
      NatsDemo.awaitSubscriber(url, "fam.a")
      conn.publish("fam.a", "1,x".getBytes)
      conn.publish("fam.b", "2,y".getBytes)
      conn.publish("fam.a", "3,z".getBytes)
      conn.publish("fam.b", "4,w".getBytes)
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, _subject, _seq FROM meta_fanout ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      assert(rows === Seq(
        (1, "fam.a", 1L), (2, "fam.b", 2L), (3, "fam.a", 3L), (4, "fam.b", 4L)))
    } finally { q.stop(); conn.close() }
  }

  test("queue-group ingest still sees the concrete subject") {
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val q = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "jobs.*")
      .option("batchSize", "2").option("includeMetadata", "true")
      .option("queueGroup", "workers").option("queueSubscribers", "2")
      .load()
      .select(col("id"), col("_subject"))
      .writeStream.format("memory").queryName("meta_queue").start()
    try {
      NatsDemo.awaitSubscriber(url, "jobs.a")
      conn.publish("jobs.a", "1,x".getBytes)
      conn.publish("jobs.b", "2,y".getBytes)
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, _subject FROM meta_queue ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(rows === Seq((1, "jobs.a"), (2, "jobs.b")))
    } finally { q.stop(); conn.close() }
  }

  test("replay batch read: _seq is the broker sequence, stable across startSequence") {
    val url = freshBus() + "?retain=100"
    val conn = NatsTransport.connect(url)
    try {
      (1 to 5).foreach(i => conn.publish("audit", s"$i,row$i".getBytes))
      val all = spark.read.format("nats").schema(schema)
        .option("url", url).option("subject", "audit").option("replay", "true")
        .option("startSequence", "0")
        .load()
        .select(col("id"), col("_subject"), col("_seq"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
      assert(all === (1 to 5).map(i => (i, "audit", i.toLong)))
      // resuming after sequence 2 re-reads 3..5 with the SAME sequences
      val tail = spark.read.format("nats").schema(schema)
        .option("url", url).option("subject", "audit").option("replay", "true")
        .option("startSequence", "2")
        .load()
        .select(col("id"), col("_seq"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(tail === (3 to 5).map(i => (i, i.toLong)))
    } finally conn.close()
  }

  test("wire transport: envelope survives replay over real TCP sockets with broker sequences") {
    // Same contract as the memory-bus replay test above, spoken over the
    // JetStream API against MiniNatsServer: _seq must
    // be the server-side sequence, stable across startSequence re-reads.
    val server = new MiniNatsServer(retainCapacity = 100)
    try {
      val conn = NatsTransport.connect(server.url)
      try {
        (1 to 4).foreach(i => conn.publish("wire.audit", s"$i,row$i".getBytes))
        val all = spark.read.format("nats").schema(schema)
          .option("url", server.url).option("subject", "wire.audit")
          .option("replay", "true").option("startSequence", "0")
          .load()
          .select(col("id"), col("_subject"), col("_seq"))
          .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
        assert(all === (1 to 4).map(i => (i, "wire.audit", i.toLong)))
        val tail = spark.read.format("nats").schema(schema)
          .option("url", server.url).option("subject", "wire.audit")
          .option("replay", "true").option("startSequence", "2")
          .load()
          .select(col("id"), col("_seq"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
        assert(tail === (3 to 4).map(i => (i, i.toLong)))
      } finally conn.close()
    } finally server.stop()
  }

  test("_headers survives hostile values: control chars sanitized, duplicate keys last-wins, UTF-8 kept") {
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val q = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "hostile").option("batchSize", "1").load()
      .select(col("id"), col("_headers"))
      .writeStream.format("memory").queryName("meta_hostile").start()
    try {
      NatsDemo.awaitSubscriber(url, "hostile")
      // a foreign client can put any byte in a header value — the
      // envelope framing (NUL/SOH/STX) must survive, skip-and-continue
      // intact; duplicate keys are legal NATS, Spark maps need one
      conn.publish("hostile",
        Seq("K" -> "a\u0000b\u0001c\u0002d", "K" -> "wins", "Naïve" -> "café"),
        "1,x".getBytes)
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, _headers FROM meta_hostile")
        .collect().map(r => (r.getInt(0), r.getMap[String, String](1).toMap)).toSeq
      assert(rows === Seq((1, Map("K" -> "wins", "Naïve" -> "café"))),
        "control bytes must not mis-frame the envelope; last duplicate wins; UTF-8 intact")
    } finally { q.stop(); conn.close() }
  }

  test("a data column named _subject shadows the metadata column (Spark drops the conflict)") {
    val url = freshBus() + "?retain=10"
    val conn = NatsTransport.connect(url)
    try {
      val shadowed = StructType(Seq(
        StructField("id", IntegerType, nullable = false),
        StructField("_subject", StringType, nullable = false)))
      conn.publish("shadow", "1,payload-value".getBytes)
      val rows = spark.read.format("nats").schema(shadowed)
        .option("url", url).option("subject", "shadow").option("replay", "true")
        .option("startSequence", "0")
        .load()
        .select(col("id"), col("_subject"))
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(rows === Seq((1, "payload-value")),
        "_subject must resolve to the DATA column when the user schema declares one")
    } finally conn.close()
  }

  test("projecting ONLY metadata still decodes strictly (malformed rows stay excluded)") {
    val url = freshBus() + "?retain=10"
    val conn = NatsTransport.connect(url)
    try {
      conn.publish("strict", "1,ok".getBytes)
      conn.publish("strict", "not-a-row".getBytes) // malformed: wrong arity
      conn.publish("strict", "2,ok".getBytes)
      val seqs = spark.read.format("nats").schema(schema)
        .option("url", url).option("subject", "strict").option("replay", "true")
        .option("startSequence", "0")
        .load()
        .select(col("_seq"))
        .collect().map(_.getLong(0)).sorted.toSeq
      // seq 2 was malformed: skipped-and-counted, its sequence not re-used
      assert(seqs === Seq(1L, 3L))
    } finally conn.close()
  }
}
