package graft.nats

import java.util.UUID
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** E2E tests for the NATS DSv2 source — the ScalaTest port of the
  * reference's only executable test (tests/integration_test.rs:14-73:
  * publish `1,apple / 2,banana / 3,orange`, `SELECT id, name FROM
  * nats_table limit 3`, assert exact rows) plus the pushdown and
  * error-policy behavior the reference stubbed (SURVEY §2.A7-A10).
  */
class NatsSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false)))

  private def freshBus(): String = "memory://spec-" + UUID.randomUUID()

  private def awaitSubscriber(url: String, subject: String): Unit =
    NatsDemo.awaitSubscriber(url, subject)

  // ---- canonical workload (integration_test.rs parity) ----

  test("streaming E2E: 3 published rows arrive exactly once via micro-batch") {
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val df = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "events")
      .option("batchSize", "3") // full-batch admission: deterministic, no timer
      .load()
    val q = df.writeStream.format("memory").queryName("nats_e2e_3rows").start()
    try {
      awaitSubscriber(url, "events")
      Seq("1,apple", "2,banana", "3,orange")
        .foreach(m => conn.publish("events", m.getBytes))
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, name FROM nats_e2e_3rows ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(rows === Seq((1, "apple"), (2, "banana"), (3, "orange")))
    } finally { q.stop(); conn.close() }
  }

  test("wildcard subject: one source subscription aggregates all matching concrete subjects") {
    // format("nats").option("subject", "sensors.*") — the transport's
    // core-NATS wildcard matching surfaces directly as engine capability:
    // one streaming table over a subject family.
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val df = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "sensors.*")
      .option("batchSize", "3")
      .load()
    val q = df.writeStream.format("memory").queryName("nats_wild").start()
    try {
      awaitSubscriber(url, "sensors.temp") // wildcard sub matches the probe
      conn.publish("sensors.temp", "1,t1".getBytes)
      conn.publish("sensors.hum", "2,h1".getBytes)
      conn.publish("sensors.temp.raw", "3,deep".getBytes) // NOT matched by *
      conn.publish("sensors.co2", "4,c1".getBytes)
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, name FROM nats_wild ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(rows === Seq((1, "t1"), (2, "h1"), (4, "c1")),
        s"wildcard delivery wrong: $rows")
    } finally { q.stop(); conn.close() }
  }

  test("flush policy across triggers: backlog drains batchSize at a time, remainder by timeout") {
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val df = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "ev")
      .option("batchSize", "2").option("flushTimeoutMs", "50")
      .load()
    val q = df.writeStream.format("memory").queryName("nats_flush").start()
    try {
      awaitSubscriber(url, "ev")
      (1 to 5).foreach(i => conn.publish("ev", s"$i,row$i".getBytes))
      val deadline = System.currentTimeMillis() + 15000
      var n = 0L
      while (n < 5 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        n = spark.sql("SELECT * FROM nats_flush").count()
        if (n < 5) Thread.sleep(60) // let the flush timer mature the remainder
      }
      assert(n === 5)
      // batchSize=2 over 5 rows: the plan must have taken >= 3 micro-batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    } finally { q.stop(); conn.close() }
  }

  test("error policy: malformed rows are skipped and counted, stream continues (ref executor.rs:140-144)") {
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val df = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "mixed")
      .option("batchSize", "5")
      .load()
    val q = df.writeStream.format("memory").queryName("nats_malformed").start()
    try {
      awaitSubscriber(url, "mixed")
      Seq("1,apple", "not,even,close", "x,banana", "2,cherry", "3,")
        .foreach(m => conn.publish("mixed", m.getBytes))
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, name FROM nats_malformed ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(rows === Seq((1, "apple"), (2, "cherry")))
      assert(NatsMetrics.malformedCount(url, "mixed") === 3)
    } finally { q.stop(); conn.close() }
  }

  test("streaming semantics: watermarked event-time tumbling window over the source") {
    import org.apache.spark.sql.functions.{col, count, window}
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val tsSchema = StructType(Seq(
      StructField("ts", TimestampType, nullable = false),
      StructField("v", IntegerType, nullable = false)))
    val df = spark.readStream.format("nats").schema(tsSchema)
      .option("url", url).option("subject", "timed")
      .option("batchSize", "6")
      .load()
    val agg = df
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute").as("w"))
      .agg(count(col("v")).as("n"))
      .select(col("w.start").cast("long").as("start"), col("n"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("nats_windowed").start()
    try {
      awaitSubscriber(url, "timed")
      // two 1-minute windows: 4 events in :00, 2 in :01
      Seq("2024-01-01 10:00:05,1", "2024-01-01 10:00:20,2", "2024-01-01 10:00:40,3",
        "2024-01-01 10:00:59,4", "2024-01-01 10:01:10,5", "2024-01-01 10:01:30,6")
        .foreach(m => conn.publish("timed", m.getBytes))
      q.processAllAvailable()
      val rows = spark.sql("SELECT start, n FROM nats_windowed ORDER BY start")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val base = 1704103200L // 2024-01-01 10:00:00 UTC
      assert(rows === Seq((base, 4L), (base + 60, 2L)))
    } finally { q.stop(); conn.close() }
  }

  // ---- one-shot batch path: the reference's `SELECT ... LIMIT n` UX ----

  private def cyclicPublisher(url: String, subject: String, msgs: Seq[String]): AtomicBoolean =
    NatsDemo.cyclicPublisher(url, subject, msgs)

  test("batch read + pushed LIMIT: first 3 rows, early termination before timeout") {
    val url = freshBus()
    val stop = cyclicPublisher(url, "oneShot", Seq("1,apple", "2,banana", "3,orange"))
    try {
      val df = spark.read.format("nats").schema(schema)
        .option("url", url).option("subject", "oneShot")
        .option("collectTimeoutMs", "20000")
        .load().limit(3)
      val t0 = System.nanoTime()
      val rows = df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sorted
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(rows === Seq((1, "apple"), (2, "banana"), (3, "orange")))
      // Early stop proves the pushed limit terminated the subscription
      // (3 messages x 5ms pacing << 20s collect timeout).
      assert(elapsedMs < 15000, s"no early termination: ${elapsedMs}ms")
      val scan = df.queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r.scan
      }.getOrElse(fail("no DSv2 scan in plan"))
      assert(scan.description().contains("PushedLimit: 3"), scan.description())
    } finally stop.set(true)
  }

  test("batch read + pushed filter: source-side predicate eval reaches the scan") {
    val url = freshBus()
    val msgs = (1 to 8).map(i => s"$i,name$i")
    val stop = cyclicPublisher(url, "filtered", msgs)
    try {
      val df = spark.read.format("nats").schema(schema)
        .option("url", url).option("subject", "filtered")
        .option("collectTimeoutMs", "20000")
        .load().filter(col("id") >= 7).limit(2)
      val rows = df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sorted
      assert(rows === Seq((7, "name7"), (8, "name8")))
      val scan = df.queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r.scan
      }.getOrElse(fail("no DSv2 scan in plan"))
      assert(scan.description().contains("PushedFilters"), scan.description())
      assert(scan.description().contains("GreaterThanOrEqual(id,7)"), scan.description())
    } finally stop.set(true)
  }

  test("projection pruning: only required columns cross the scan boundary") {
    val url = freshBus()
    val stop = cyclicPublisher(url, "pruned", Seq("1,apple", "2,banana"))
    try {
      val df = spark.read.format("nats").schema(schema)
        .option("url", url).option("subject", "pruned")
        .option("collectTimeoutMs", "20000")
        .load().select("name").limit(2)
      val names = df.collect().map(_.getString(0)).toSeq.sorted
      assert(names === Seq("apple", "banana"))
      val scan = df.queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r.scan
      }.getOrElse(fail("no DSv2 scan in plan"))
      assert(scan.readSchema().fieldNames.toSeq === Seq("name"))
    } finally stop.set(true)
  }

  test("numPartitions > 1: a planned batch splits for parallel executor-side decode") {
    val url = freshBus()
    val stream = new NatsMicroBatchStream(schema, schema, Array.empty,
      NatsOptions(url, "chunks", batchSize = 8, flushTimeoutMs = 1000L,
        maxBufferSize = 10000, stopAtRows = None, collectTimeoutMs = 5000L,
        numPartitions = 4))
    val conn = NatsTransport.connect(url)
    try {
      (1 to 8).foreach(i => conn.publish("chunks", s"$i,r$i".getBytes))
      val deadline = System.currentTimeMillis() + 5000
      var end = stream.latestOffset().asInstanceOf[NatsOffset]
      while (end.count < 8 && System.currentTimeMillis() < deadline) {
        Thread.sleep(20)
        end = stream.latestOffset().asInstanceOf[NatsOffset]
      }
      assert(end.count === 8, "ledger did not absorb all 8 messages")
      val parts = stream.planInputPartitions(NatsOffset(0), end)
      assert(parts.length === 4, s"expected 4 slices, got ${parts.length}")
    } finally { stream.stop(); conn.close() }
  }

  test("numPartitions > 1 E2E: parallel decode delivers every row exactly once") {
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val df = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "par")
      .option("batchSize", "8").option("numPartitions", "4")
      .load()
    val q = df.writeStream.format("memory").queryName("nats_par").start()
    try {
      awaitSubscriber(url, "par")
      (1 to 8).foreach(i => conn.publish("par", s"$i,row$i".getBytes))
      q.processAllAvailable()
      val rows = spark.sql("SELECT id FROM nats_par ORDER BY id")
        .collect().map(_.getInt(0)).toSeq
      assert(rows === (1 to 8))
    } finally { q.stop(); conn.close() }
  }

  test("queueGroup ingest: N group members split the subject, ledger admits each row exactly once") {
    // Ingest scale-out (SURVEY §2.A1 note): with queueGroup set, the stream
    // opens N queue-group subscriptions instead of one — on a real broker
    // these spread load across consumers; semantics (exactly-once per
    // message into the ledger) must be identical to the single-sub path.
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val df = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "qg")
      .option("batchSize", "9")
      .option("queueGroup", "ingest").option("queueSubscribers", "3")
      .load()
    val q = df.writeStream.format("memory").queryName("nats_qg").start()
    try {
      awaitSubscriber(url, "qg")
      // all 3 members must be live before publishing (fire-and-forget bus)
      val deadline = System.currentTimeMillis() + 10000
      while (InMemoryBus.subscriberCount(url.stripPrefix("memory://"), "qg") < 3 &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
      (1 to 9).foreach(i => conn.publish("qg", s"$i,row$i".getBytes))
      q.processAllAvailable()
      val rows = spark.sql("SELECT id FROM nats_qg ORDER BY id")
        .collect().map(_.getInt(0)).toSeq
      assert(rows === (1 to 9), "each message must be admitted exactly once across members")
    } finally { q.stop(); conn.close() }
  }

  test("maxBatchesPerTrigger: a deep backlog drains multiple full batches per trigger, partial still by timeout") {
    // batchSize stays the batch granularity (reference RecordBatch size);
    // maxBatchesPerTrigger lifts the one-batch-per-poll parity default so
    // a backlog drains at transport speed (Kafka maxOffsetsPerTrigger
    // analog). 9 rows, batchSize=2, maxBatches=3: first admission takes
    // 3 full batches (6 rows), second the remaining full batch (2), and
    // the odd row only after flush-timeout silence.
    val url = freshBus()
    val stream = new NatsMicroBatchStream(schema, schema, Array.empty,
      NatsOptions(url, "deep", batchSize = 2, flushTimeoutMs = 60000L,
        maxBufferSize = 10000, stopAtRows = None, collectTimeoutMs = 5000L,
        numPartitions = 1, maxBatchesPerTrigger = 3))
    val conn = NatsTransport.connect(url)
    try {
      (1 to 9).foreach(i => conn.publish("deep", s"$i,r$i".getBytes))
      val o1 = stream.latestOffset().asInstanceOf[NatsOffset]
      assert(o1.count === 6, "3 full batches of 2 must admit together")
      val o2 = stream.latestOffset().asInstanceOf[NatsOffset]
      assert(o2.count === 8, "remaining full batch admits next")
      val o3 = stream.latestOffset().asInstanceOf[NatsOffset]
      assert(o3.count === 8, "partial row must wait for flush-timeout silence")
    } finally { stream.stop(); conn.close() }
  }

  test("partitionBySubject: N concrete subjects under a wildcard -> N input partitions, per-subject order kept") {
    val url = freshBus()
    val stream = new NatsMicroBatchStream(schema, schema, Array.empty,
      NatsOptions(url, "sensors.*", batchSize = 12, flushTimeoutMs = 1000L,
        maxBufferSize = 10000, stopAtRows = None, collectTimeoutMs = 5000L,
        numPartitions = 4, partitionBySubject = true))
    val conn = NatsTransport.connect(url)
    try {
      // 4 concrete subjects, 3 rows each, interleaved publish order
      val subjects = Seq("sensors.a", "sensors.b", "sensors.c", "sensors.d")
      for (i <- 1 to 3; (subj, j) <- subjects.zipWithIndex)
        conn.publish(subj, s"${i * 10 + j},${subj.stripPrefix("sensors.")}$i".getBytes)
      val deadline = System.currentTimeMillis() + 5000
      var end = stream.latestOffset().asInstanceOf[NatsOffset]
      while (end.count < 12 && System.currentTimeMillis() < deadline) {
        Thread.sleep(20)
        end = stream.latestOffset().asInstanceOf[NatsOffset]
      }
      assert(end.count === 12, "ledger did not absorb all 12 messages")
      val parts = stream.planInputPartitions(NatsOffset(0), end)
        .map(_.asInstanceOf[NatsStreamPartition])
      assert(parts.length === 4, s"4 subjects with numPartitions=4 must fan out 4-wide")
      // each partition holds exactly one subject's rows, in arrival order
      val byName = parts.map { p =>
        val names = p.messages.map(m => new String(m.payload).split(",")(1))
        val families = names.map(_.dropRight(1)).distinct
        assert(families.length === 1, s"partition mixes subjects: ${names.toSeq}")
        assert(names.map(_.last).toSeq === Seq('1', '2', '3'),
          s"per-subject arrival order lost: ${names.toSeq}")
        families.head
      }
      assert(byName.sorted.toSeq === Seq("a", "b", "c", "d"))
    } finally { stream.stop(); conn.close() }
  }

  test("partitionBySubject E2E: a wildcard family decodes in parallel with every row delivered once") {
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val df = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "fleet.*")
      .option("batchSize", "9")
      .option("numPartitions", "3").option("partitionBySubject", "true")
      .load()
    val q = df.writeStream.format("memory").queryName("nats_subj_fan").start()
    try {
      awaitSubscriber(url, "fleet.x")
      for (i <- 1 to 3; s <- Seq("x", "y", "z"))
        conn.publish(s"fleet.$s", s"${i * 3 + "xyz".indexOf(s)},$s$i".getBytes)
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, name FROM nats_subj_fan ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(rows.length === 9)
      assert(rows.map(_._2).sorted === Seq("x1", "x2", "x3", "y1", "y2", "y3", "z1", "z2", "z3").sorted)
    } finally { q.stop(); conn.close() }
  }

  test("restart from a foreign checkpoint fails fast instead of silently regressing offsets") {
    // A fresh stream whose ledger has seen nothing, handed a checkpointed
    // offset from a previous run: latestOffset must throw, not return an
    // offset below the committed one (this source is fire-and-forget —
    // SURVEY §7.4.1 — so the checkpoint is not resumable by design).
    val url = freshBus()
    val stream = new NatsMicroBatchStream(schema, schema, Array.empty,
      NatsOptions(url, "ckpt", 10, 1000L, 10000, None, 5000L, 1))
    try {
      stream.deserializeOffset("7") // what MicroBatchExecution restores on restart
      val e = intercept[IllegalStateException](stream.latestOffset())
      assert(e.getMessage.contains("checkpointLocation"))
      val e2 = intercept[IllegalStateException](
        stream.planInputPartitions(NatsOffset(7), NatsOffset(9)))
      assert(e2.getMessage.contains("fire-and-forget"))
    } finally stream.stop()
  }

  test("pushed string range filters compare in UTF8 binary order, not UTF-16 code-unit order") {
    // U+1F600 (emoji, surrogate pair D83D DE00) vs U+FFFF: UTF-16 code-unit
    // order says emoji < U+FFFF, code-point (UTF8String) order says emoji >
    // U+FFFF. Spark orders strings by UTF8String; source-side eval must
    // agree or a pushed GreaterThan over-drops rows the engine would keep
    // (and the residual re-check above cannot resurrect them).
    import org.apache.spark.unsafe.types.UTF8String
    val row: Array[Any] = Array(1, UTF8String.fromString("😀"))
    val gt = org.apache.spark.sql.sources.GreaterThan("name", "\uFFFF")
    assert(RowFilter.eval(schema, row, gt), "emoji must sort above U+FFFF (code-point order)")
    val lt = org.apache.spark.sql.sources.LessThan("name", "\uFFFF")
    assert(!RowFilter.eval(schema, row, lt))
    // sanity: agreement with Spark's own ordering
    assert(UTF8String.fromString("😀").compareTo(UTF8String.fromString("\uFFFF")) > 0)
  }

  test("streaming progress surfaces source metrics (malformed / dropped / backlog)") {
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val q = spark.readStream.format("nats").schema(schema)
      .option("url", url).option("subject", "metrics")
      .option("batchSize", "2")
      .load()
      .writeStream.format("memory").queryName("nats_metrics").start()
    try {
      NatsDemo.awaitSubscriber(url, "metrics")
      // 4 messages = two FULL batches at batchSize=2: everything admits
      // on size alone, so after processAllAvailable the backlog is
      // deterministically zero (a trailing partial would sit un-admitted
      // until the flush timeout and race the assertion).
      conn.publish("metrics", "1,ok".getBytes)
      conn.publish("metrics", "definitely,not,a,row".getBytes) // malformed
      conn.publish("metrics", "2,ok".getBytes)
      conn.publish("metrics", "3,ok".getBytes)
      q.processAllAvailable()
      val m = q.lastProgress.sources.head.metrics
      assert(m.get("malformedRows").toLong >= 1,
        s"skip-and-count tally missing from progress: $m")
      assert(m.get("droppedRows").toLong === 0)
      assert(m.get("backlogRows").toLong === 0, // fully drained
        s"drained stream must report no backlog: $m")
    } finally { q.stop(); conn.close() }
  }

  test("stream-static join broadcasts the dimension per micro-batch; the stream side never shuffles") {
    // The q97 scale claim, plan-asserted: enriching an unbounded feed
    // with reference data must ship the (kilobyte) static side to the
    // stream, not exchange the stream onto the join key.
    import org.apache.spark.sql.functions.{broadcast, col}
    val url = freshBus()
    val conn = NatsTransport.connect(url)
    val feedSchema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("nk", IntegerType, nullable = false)))
    val dim = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val q = spark.readStream.format("nats").schema(feedSchema)
      .option("url", url).option("subject", "enrich")
      .option("batchSize", "2")
      .load()
      .join(broadcast(dim), col("nk") === col("n_nationkey"))
      .select(col("id"), col("n_name"))
      .writeStream.format("memory").queryName("nats_enrich_plan").start()
    try {
      NatsDemo.awaitSubscriber(url, "enrich")
      conn.publish("enrich", "1,0".getBytes)
      conn.publish("enrich", "2,5".getBytes)
      q.processAllAvailable()
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"static dimension must broadcast:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"the unbounded side must not shuffle onto the join key:\n$plan")
      assert(spark.sql("SELECT id, n_name FROM nats_enrich_plan").count() === 2)
    } finally { q.stop(); conn.close() }
  }

  // ---- registration-time validation (ref codec-construction checks) ----

  test("schema is required and validated at load time") {
    intercept[Exception] {
      spark.read.format("nats")
        .option("url", "memory://x").option("subject", "s").load()
    }
    intercept[Exception] { // LongType not in the 6-type whitelist
      spark.read.format("nats")
        .schema(StructType(Seq(StructField("x", LongType))))
        .option("url", "memory://x").option("subject", "s").load().collect()
    }
    intercept[Exception] { // missing subject
      spark.read.format("nats").schema(schema)
        .option("url", "memory://x").load().collect()
    }
    // out-of-range numbers fail naming the option, not with a bare
    // "requirement failed" / NumberFormatException
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else String.valueOf(t.getMessage) +: messages(t.getCause)
    Seq("batchSize" -> "0", "maxBufferSize" -> "-1").foreach { case (k, v) =>
      val e = intercept[Exception] {
        spark.read.format("nats").schema(schema)
          .option("url", "memory://x").option("subject", "s").option(k, v).load().collect()
      }
      assert(messages(e).exists(_.contains(s"'$k' must be >= 1")), messages(e))
    }
    Seq("abc", "0").foreach { n =>
      val e = intercept[Exception] {
        spark.read.format("nats").schema(schema)
          .option("url", s"memory://x-retain-$n?retain=$n").option("subject", "s")
          .option("replay", "true").load().collect()
      }
      assert(messages(e).exists(_.contains("retain must be a positive integer")), messages(e))
    }
  }
}
