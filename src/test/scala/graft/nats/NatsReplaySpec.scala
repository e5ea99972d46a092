package graft.nats

import java.nio.file.Files
import java.util.UUID

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Replayable offsets (the JetStream analog): a retaining transport keeps
  * a bounded sequence-numbered window per literal subject, and
  * `replay=true` turns the source into a PULL consumer over it — offsets
  * are broker sequences, so a restart from checkpoint re-reads exactly
  * the rows published while the query was down, with fail-fast (never
  * silent loss) once the retention window has passed.
  *
  * The replay contract is table-driven: each contract body runs once per
  * retention backend — the in-memory bus (`memory://…?retain=N`) and a
  * retention-enabled [[MiniNatsServer]], which speaks the public
  * JetStream API over real TCP sockets.
  */
class NatsReplaySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("nats-replay-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false)))

  /** The retention backends of the contract, each run with the URL of a
    * fresh broker retaining `retain` messages per subject. */
  private def onMemory(retain: Int = InMemoryBus.DefaultRetain)(body: String => Unit): Unit =
    body(s"memory://replay-${UUID.randomUUID()}?retain=$retain")

  private def onJetStream(retain: Int = InMemoryBus.DefaultRetain)(body: String => Unit): Unit = {
    val server = new MiniNatsServer(retainCapacity = retain)
    try body(server.url) finally server.stop()
  }

  /** A retaining server that demands a token, reached through the
    * credentials of its nats:// URL. */
  private def onAuthorizedJetStream(retain: Int = InMemoryBus.DefaultRetain)(body: String => Unit): Unit = {
    val server = new MiniNatsServer(authToken = Some("tok"), retainCapacity = retain)
    try body(s"nats://tok@127.0.0.1:${server.port}") finally server.stop()
  }

  /** Run `body` over every backend in one test. Contract tests whose
    * backends had separate tests before the table keep one test per
    * backend instead, registered under those names. */
  private def forEachBackend(retain: Int = InMemoryBus.DefaultRetain)(body: String => Unit): Unit = {
    withClue("[memory] ")(onMemory(retain)(body))
    withClue("[JetStream] ")(onJetStream(retain)(body))
  }

  private def replayable(url: String): ReplayableNatsConnection =
    NatsTransport.connect(url).asInstanceOf[ReplayableNatsConnection]

  // ---- the replay contract: transport level ----

  private def orderedFetch(url: String): Unit = {
    val conn = replayable(url)
    try {
      assert(conn.currentSeq("s") === 0)
      assert(conn.earliestRetained("s") === 1)
      (1 to 5).foreach(i => conn.publish("s", s"m$i".getBytes))
      assert(conn.currentSeq("s") === 5)
      assert(conn.earliestRetained("s") === 1)
      assert(conn.fetchRetained("s", 0, 10).map(new String(_)).toSeq
        === Seq("m1", "m2", "m3", "m4", "m5"))
      assert(conn.fetchRetained("s", 3, 10).map(new String(_)).toSeq === Seq("m4", "m5"))
      assert(conn.fetchRetained("s", 3, 1).map(new String(_)).toSeq === Seq("m4"))
      assert(conn.fetchRetained("s", 5, 10).isEmpty)
      // a range-fetch session hands out consecutive chunks
      val session = conn.openRangeFetch("s", 1)
      try {
        assert(session.next(2).map(m => new String(m._2)).toSeq === Seq("m2", "m3"))
        assert(session.next(9).map(m => new String(m._2)).toSeq === Seq("m4", "m5"))
      } finally session.close()
    } finally conn.close()
  }

  private def evictionFailsFast(url: String): Unit = {
    val conn = replayable(url)
    try {
      (1 to 10).foreach(i => conn.publish("s", s"m$i".getBytes))
      assert(conn.currentSeq("s") === 10)
      assert(conn.earliestRetained("s") === 7) // 7,8,9,10 retained
      assert(conn.fetchRetained("s", 6, 10).map(new String(_)).toSeq
        === Seq("m7", "m8", "m9", "m10"))
      val e = intercept[IllegalStateException](conn.fetchRetained("s", 3, 10))
      assert(e.getMessage.contains("retention window"))
    } finally conn.close()
  }

  test("retention ring: publish is sequenced and retained with no subscriber; fetch ranges replay in order") {
    onMemory()(orderedFetch)
  }

  test("retention ring: bounded capacity evicts oldest; fetching an evicted range fails fast") {
    onMemory(retain = 4)(evictionFailsFast)
  }

  test("wire retention: sequenced with no subscriber; ranged fetch in order; eviction fails fast") {
    onJetStream()(orderedFetch)
    onJetStream(retain = 4)(evictionFailsFast)
  }

  test("Nats-Msg-Id dedup: a retried publish is retained once and the first publish wins") {
    forEachBackend() { url =>
      val conn = replayable(url)
      try {
        conn.publish("dedup", Seq("Nats-Msg-Id" -> "a"), "one".getBytes)
        conn.publish("dedup", Seq("Nats-Msg-Id" -> "a"), "one-retry".getBytes)
        conn.publish("dedup", Seq("Nats-Msg-Id" -> "b"), "two".getBytes)
        conn.publish("dedup", "plain".getBytes) // headerless: never deduped
        assert(conn.currentSeq("dedup") === 3)
        assert(conn.fetchRetained("dedup", 0, 10).map(new String(_)).toSeq
          === Seq("one", "two", "plain"))
      } finally conn.close()
    }
  }

  test("retained headers: replay returns each message's headers, read back as _headers") {
    import org.apache.spark.sql.functions.col
    forEachBackend() { url =>
      val conn = replayable(url)
      try {
        conn.publish("aud", Seq("Trace-Id" -> "t1", "K" -> "v 2"), "1,a".getBytes)
        conn.publish("aud", "2,b".getBytes)
        assert(conn.fetchRetainedWithHeaders("aud", 0, 10).map(_._1).toSeq
          === Seq(Seq("Trace-Id" -> "t1", "K" -> "v 2"), Seq.empty))
        val rows = spark.read.format("nats").schema(schema)
          .option("url", url).option("subject", "aud")
          .option("replay", "true").option("startSequence", "0")
          .load()
          .select(col("id"), col("_headers"))
          .collect().map(r => (r.getInt(0), r.getMap[String, String](1).toMap)).sortBy(_._1).toSeq
        assert(rows === Seq((1, Map("Trace-Id" -> "t1", "K" -> "v 2")), (2, Map.empty[String, String])))
      } finally conn.close()
    }
  }

  test("schema inference samples the newest retained payloads, only from the retained window") {
    forEachBackend(retain = 4) { url =>
      val conn = replayable(url)
      try {
        (1 to 10).foreach(i => conn.publish("infer", s"$i,row$i".getBytes)) // 1-6 evicted
        // retention is sampled, never waited on: a 1 ms live timeout
        // could not collect anything
        assert(SchemaInference.sample(url, "infer", 2, timeoutMs = 1) === Seq("9,row9", "10,row10"))
        assert(SchemaInference.sample(url, "infer", 10, timeoutMs = 1)
          === Seq("7,row7", "8,row8", "9,row9", "10,row10"))
      } finally conn.close()
    }
  }

  // ---- engine-level replay: checkpoint restart with zero loss ----

  private def checkpointRestart(url: String): Unit = {
    val conn = NatsTransport.connect(url)
    val ckpt = Files.createTempDirectory("nats-replay-ckpt").toString
    // a file sink: checkpoint-recoverable (the memory sink is not), and
    // ONE sink accumulating across both runs makes exactly-once visible
    val out = Files.createTempDirectory("nats-replay-out").toString
    try {
      // messages exist BEFORE any consumer — replay makes them readable
      (1 to 3).foreach(i => conn.publish("ev", s"$i,row$i".getBytes))

      def startQuery() =
        spark.readStream.format("nats").schema(schema)
          .option("url", url).option("subject", "ev")
          .option("batchSize", "2").option("flushTimeoutMs", "50")
          .option("replay", "true").option("startSequence", "0")
          .load()
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt).start()

      def sunkIds(): Seq[Int] =
        spark.read.schema(schema).parquet(out)
          .collect().map(_.getInt(0)).toSeq.sorted

      val q1 = startQuery()
      val deadline = System.currentTimeMillis() + 20000
      while (sunkIds().size < 3 && System.currentTimeMillis() < deadline) {
        q1.processAllAvailable()
        Thread.sleep(50)
      }
      assert(sunkIds() === Seq(1, 2, 3), "pre-subscription rows replayed from retention")
      q1.stop()

      // the query is down; the world keeps publishing
      (4 to 7).foreach(i => conn.publish("ev", s"$i,row$i".getBytes))

      // restart from the SAME checkpoint: the 4 missed rows arrive in the
      // same sink — total 7 distinct, zero lost, zero duplicated
      val q2 = startQuery()
      val deadline2 = System.currentTimeMillis() + 20000
      while (sunkIds().size < 7 && System.currentTimeMillis() < deadline2) {
        q2.processAllAvailable()
        Thread.sleep(50)
      }
      assert(sunkIds() === (1 to 7),
        "exactly the rows published during downtime appended, no loss, no dupes")
      q2.stop()
    } finally {
      conn.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("checkpoint restart: rows published while the query was DOWN are replayed exactly once") {
    onMemory()(checkpointRestart)
  }

  test("checkpoint restart over REAL JetStream: downtime rows replayed exactly once via $JS.API pull") {
    onJetStream()(checkpointRestart)
  }

  // the driver's offset reads and every executor range reader authenticate
  // with the credentials of the nats:// URL
  test("checkpoint restart over nats://: rows published while the query was DOWN are replayed exactly once") {
    onAuthorizedJetStream()(checkpointRestart)
  }

  test("default startSequence is latest-at-start: pre-existing rows are not replayed") {
    val url = "memory://replay-" + UUID.randomUUID()
    val conn = NatsTransport.connect(url)
    try {
      (1 to 3).foreach(i => conn.publish("ev", s"$i,old$i".getBytes))
      val q = spark.readStream.format("nats").schema(schema)
        .option("url", url).option("subject", "ev")
        .option("batchSize", "2").option("flushTimeoutMs", "50")
        .option("replay", "true")
        .load()
        .writeStream.format("memory").queryName("replay_latest").start()
      try {
        q.processAllAvailable() // first poll resolves "latest" = seq 3
        (4 to 5).foreach(i => conn.publish("ev", s"$i,new$i".getBytes))
        val deadline = System.currentTimeMillis() + 15000
        var n = 0L
        while (n < 2 && System.currentTimeMillis() < deadline) {
          q.processAllAvailable()
          n = spark.table("replay_latest").count()
          if (n < 2) Thread.sleep(50)
        }
        assert(spark.sql("SELECT id FROM replay_latest ORDER BY id")
          .collect().map(_.getInt(0)).toSeq === Seq(4, 5))
      } finally q.stop()
    } finally conn.close()
  }

  test("restart beyond the retention window fails fast instead of silently skipping rows") {
    val url = "memory://replay-" + UUID.randomUUID() + "?retain=4"
    val conn = NatsTransport.connect(url)
    try {
      (1 to 10).foreach(i => conn.publish("ev", s"$i,row$i".getBytes)) // 1-6 evicted
      val q = spark.readStream.format("nats").schema(schema)
        .option("url", url).option("subject", "ev")
        .option("batchSize", "2")
        .option("replay", "true").option("startSequence", "0")
        .load()
        .writeStream.format("memory").queryName("replay_evicted").start()
      val e = intercept[StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(10000)
      }
      assert(e.getCause.getMessage.contains("retention window"), e.getCause.getMessage)
      q.stop()
    } finally conn.close()
  }

  test("stateful window spanning a restart: replayed rows and restored state combine exactly once") {
    import org.apache.spark.sql.functions.{col, count, window}
    val url = "memory://replay-" + UUID.randomUUID()
    val conn = NatsTransport.connect(url)
    val ckpt = Files.createTempDirectory("nats-replay-state-ckpt").toString
    val out = Files.createTempDirectory("nats-replay-state-out").toString
    val tsSchema = StructType(Seq(
      StructField("ts", TimestampType, nullable = false),
      StructField("v", IntegerType, nullable = false)))
    try {
      // batchSize=1: every row is its own micro-batch, so the watermark
      // advances deterministically one event at a time
      def startQuery() =
        spark.readStream.format("nats").schema(tsSchema)
          .option("url", url).option("subject", "timed")
          .option("batchSize", "1").option("flushTimeoutMs", "50")
          .option("replay", "true").option("startSequence", "0")
          .load()
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 minute").as("w"))
          .agg(count(col("v")).as("n"))
          .select(col("w.start").cast("long").as("start"), col("n"))
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt).start()

      def closedWindows(): Map[Long, Long] =
        spark.read.schema(StructType(Seq(
            StructField("start", LongType), StructField("n", LongType))))
          .parquet(out).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      def pub(ts: String, v: Int): Unit =
        conn.publish("timed", s"2024-01-01 $ts,$v".getBytes)

      val base = 1704103200L // 2024-01-01 10:00:00 UTC

      // run 1: two rows in window [10:00, 10:01), one in [10:01, 10:02);
      // the extra 10:01:20 row pushes the watermark past 10:01 so the
      // first window CLOSES and is committed before the shutdown
      pub("10:00:10", 1); pub("10:00:30", 2); pub("10:01:10", 3); pub("10:01:20", 4)
      val q1 = startQuery()
      val dl1 = System.currentTimeMillis() + 20000
      while (!closedWindows().contains(base) && System.currentTimeMillis() < dl1) {
        q1.processAllAvailable(); Thread.sleep(50)
      }
      q1.stop()
      assert(closedWindows() === Map(base -> 2L), "first window closed before shutdown")

      // DOWNTIME: another row lands in the still-open [10:01, 10:02)
      // window, plus rows that will close it after restart
      pub("10:01:40", 5); pub("10:02:15", 6); pub("10:02:30", 7)

      // restart: restored state (2 rows) + replayed downtime row must
      // combine to n=3 for [10:01, 10:02) — no loss, no double count
      val q2 = startQuery()
      val dl2 = System.currentTimeMillis() + 20000
      while (!closedWindows().contains(base + 60) && System.currentTimeMillis() < dl2) {
        q2.processAllAvailable(); Thread.sleep(50)
      }
      q2.stop()
      assert(closedWindows() === Map(base -> 2L, (base + 60) -> 3L),
        s"window spanning the restart must count its pre- AND post-restart rows exactly once: ${closedWindows()}")
    } finally {
      conn.close()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("Trigger.AvailableNow over replay: drains the whole retained backlog batch-by-batch, then self-terminates") {
    import org.apache.spark.sql.streaming.Trigger
    val url = "memory://replay-" + UUID.randomUUID()
    val conn = NatsTransport.connect(url)
    try {
      (1 to 7).foreach(i => conn.publish("ev", s"$i,row$i".getBytes))
      val q = spark.readStream.format("nats").schema(schema)
        .option("url", url).option("subject", "ev")
        // flush timeout deliberately huge: a bounded run must flush the
        // final partial batch immediately, not wait out the timer
        .option("batchSize", "3").option("flushTimeoutMs", "60000")
        .option("replay", "true").option("startSequence", "0")
        .load()
        .writeStream.format("memory").queryName("replay_avail_now")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(30000), "AvailableNow query must self-terminate")
      assert(spark.sql("SELECT id FROM replay_avail_now ORDER BY id")
        .collect().map(_.getInt(0)).toSeq === (1 to 7))
      // the backlog drained at batch granularity: 3 + 3 + 1
      assert(q.recentProgress.count(_.numInputRows > 0) === 3,
        q.recentProgress.map(_.numInputRows).mkString(","))
    } finally conn.close()
  }

  test("Trigger.AvailableNow on the push source: the prepare-time snapshot bounds the run (unit)") {
    val url = "memory://replay-" + UUID.randomUUID()
    val stream = new NatsMicroBatchStream(schema, schema, Array.empty,
      NatsOptions(url, "ev", batchSize = 2, flushTimeoutMs = 60000L,
        maxBufferSize = 10000, stopAtRows = None, collectTimeoutMs = 5000L,
        numPartitions = 1))
    val conn = NatsTransport.connect(url)
    try {
      (1 to 5).foreach(i => conn.publish("ev", s"$i,row$i".getBytes))
      stream.prepareForTriggerAvailableNow() // snapshot: 5 rows
      conn.publish("ev", "6,late".getBytes)  // after the snapshot: excluded
      val ends = (1 to 4).map(_ => stream.latestOffset().asInstanceOf[NatsOffset].count)
      // 2, 4, then the final partial immediately (no 60 s flush wait),
      // then no further advance — the termination signal
      assert(ends === Seq(2L, 4L, 5L, 5L), ends.toString)
    } finally { stream.stop(); conn.close() }
  }

  // ---- batch reads over the retention window (Kafka batch-read analog) ----

  private def batchReplay(url: String): Unit = {
    val conn = NatsTransport.connect(url)
    try {
      (1 to 5).foreach(i => conn.publish("hist", s"$i,row$i".getBytes))
      val t0 = System.nanoTime()
      val df = spark.read.format("nats").schema(schema)
        .option("url", url).option("subject", "hist")
        .option("replay", "true").option("startSequence", "0")
        .option("numPartitions", "2")
        .load()
      val rows = df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sorted
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(rows === (1 to 5).map(i => (i, s"row$i")))
      assert(df.rdd.getNumPartitions === 2, "retained payloads slice for parallel decode")
      // deterministic and immediate: no collectTimeoutMs wait (default 5 s)
      assert(elapsedMs < 4000, s"replay batch read should not block on a timeout: ${elapsedMs}ms")
    } finally conn.close()
  }

  test("batch read with replay=true: the retained window is a bounded table — no live publisher, no timeout") {
    onMemory()(batchReplay)
  }

  test("batch read with replay=true over nats://: the retained window as a bounded table") {
    onJetStream()(batchReplay)
  }

  test("batch replay honors startSequence and pushed filter + limit stay exact") {
    import org.apache.spark.sql.functions.col
    val url = "memory://replay-" + UUID.randomUUID()
    val conn = NatsTransport.connect(url)
    try {
      (1 to 8).foreach(i => conn.publish("hist", s"$i,row$i".getBytes))
      val after3 = spark.read.format("nats").schema(schema)
        .option("url", url).option("subject", "hist")
        .option("replay", "true").option("startSequence", "3")
        .load()
      assert(after3.collect().map(_.getInt(0)).sorted.toSeq === Seq(4, 5, 6, 7, 8))

      val filtered = spark.read.format("nats").schema(schema)
        .option("url", url).option("subject", "hist")
        .option("replay", "true").option("startSequence", "0")
        .load().filter(col("id") >= 6).limit(2)
      assert(filtered.collect().map(_.getInt(0)).sorted.toSeq === Seq(6, 7))
    } finally conn.close()
  }

  // ---- replay over the wire: JetStream's public $JS.API subset, what
  // `nats-server -js` speaks; MiniNatsServer speaks it whenever it
  // retains ----

  test("wire retention: a vanilla server (no retention) still yields a fire-and-forget connection") {
    val server = new MiniNatsServer
    try {
      val conn = NatsTransport.connect(server.url)
      try assert(!conn.isInstanceOf[ReplayableNatsConnection])
      finally conn.close()
    } finally server.stop()
  }

  test("replay over an AUTHORIZED wire connection: retention and token auth compose") {
    val server = new MiniNatsServer(authToken = Some("tok"), retainCapacity = 64)
    try {
      val url = s"nats://tok@127.0.0.1:${server.port}"
      val conn = NatsTransport.connect(url)
      try {
        (1 to 4).foreach(i => conn.publish("sec", s"$i,row$i".getBytes))
        val df = spark.read.format("nats").schema(schema)
          .option("url", url).option("subject", "sec")
          .option("replay", "true").option("startSequence", "0")
          .load()
        assert(df.collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2, 3, 4))
      } finally conn.close()
    } finally server.stop()
  }

  test("JetStream transport: INFO jetstream selects the public $JS.API backend") {
    val server = new MiniNatsServer(retainCapacity = 4)
    try {
      val conn = NatsTransport.connect(server.url)
      try {
        assert(conn.isInstanceOf[JetStreamTcpConnection],
          "a jetstream-advertising server must select the public API backend")
        val r = conn.asInstanceOf[ReplayableNatsConnection]
        assert(r.currentSeq("s") === 0, "no stream captures the subject yet")
        assert(r.earliestRetained("s") === 1)
        assert(r.fetchRetained("s", 0, 10).isEmpty)
      } finally conn.close()
    } finally server.stop()
  }

  test("JetStream stream names are injective: a.b and a_b replay independently") {
    val server = new MiniNatsServer(retainCapacity = 16)
    try {
      val r = replayable(server.url)
      try {
        Seq("a.b", "a_b", "a-b", "a._b", "a_.b").foreach { subj =>
          (1 to 2).foreach(i => r.publish(subj, s"$subj-$i".getBytes))
        }
        Seq("a.b", "a_b", "a-b", "a._b", "a_.b").foreach { subj =>
          assert(r.currentSeq(subj) === 2, subj)
          assert(r.fetchRetained(subj, 0, 10).map(new String(_)).toSeq
            === Seq(s"$subj-1", s"$subj-2"), subj)
        }
      } finally r.close()
    } finally server.stop()
  }

  test("batch replay over REAL JetStream: executor readers pull their ranges via $JS.API") {
    val server = new MiniNatsServer(retainCapacity = 500)
    try {
      val conn = NatsTransport.connect(server.url)
      try {
        (1 to 30).foreach(i => conn.publish("js.hist", s"$i,row$i".getBytes))
        val before = NatsMetrics.replayReaderConnections.sum()
        val df = spark.read.format("nats").schema(schema)
          .option("url", server.url).option("subject", "js.hist")
          .option("replay", "true").option("startSequence", "0")
          .option("numPartitions", "3").option("batchSize", "4")
          .load()
        assert(df.collect().map(_.getInt(0)).sorted.toSeq === (1 to 30))
        assert(NatsMetrics.replayReaderConnections.sum() - before === 3L,
          "one JetStream fetch connection per partition, executor-side")
      } finally conn.close()
    } finally server.stop()
  }

  test("JetStream batch replay plans from ONE STREAM.INFO: both window ends in one round trip") {
    // Without startSequence the plan needs both ends of the retained
    // window (earliest for the start, current for the end); asking for
    // them one at a time costs a broker round trip each.
    val server = new MiniNatsServer(retainCapacity = 100)
    try {
      val conn = NatsTransport.connect(server.url)
      try {
        (1 to 12).foreach(i => conn.publish("js.win", s"$i,row$i".getBytes))
        val df = spark.read.format("nats").schema(schema)
          .option("url", server.url).option("subject", "js.win")
          .option("replay", "true").option("numPartitions", "2")
          .load()
        // executedPlan plans the scan and then a clone of the physical plan;
        // both copies must share one batch and its one window fetch.
        val before = server.streamInfoRequests
        val scans = df.queryExecution.executedPlan.collect { case s: BatchScanExec => s }
        assert(scans.size === 1)
        assert(scans.head.inputPartitions.length === 2)
        assert(server.streamInfoRequests - before === 1L,
          "planning a replay read must fetch the stream state once")
        assert(df.collect().map(_.getInt(0)).sorted.toSeq === (1 to 12))
      } finally conn.close()
    } finally server.stop()
  }

  test("JetStream chunked range fetch amortizes to ONE ephemeral consumer per session") {
    // The partition-reader contract: a 10M-row partition at batchSize
    // 1000 must not churn 10,000 consumers — openRangeFetch creates one
    // lazily and every next() chunk pulls through it. The stateless
    // fetchRetained path (one session per call) shows the cost it saves.
    val server = new MiniNatsServer(retainCapacity = 100)
    try {
      val conn = NatsTransport.connect(server.url)
      try {
        (1 to 20).foreach(i => conn.publish("ev", s"$i,row$i".getBytes))
        val r = conn.asInstanceOf[ReplayableNatsConnection]
        val session = r.openRangeFetch("ev", 0)
        try {
          val got = Iterator.continually(session.next(3)).takeWhile(_.nonEmpty)
            .map(_.length).sum
          assert(got === 20, "every retained row arrives through the session")
        } finally session.close()
        assert(server.consumersCreated === 1,
          s"7 chunks must share one consumer, saw ${server.consumersCreated}")
        // stateless calls pay one consumer each — the shape the reader avoids
        r.fetchRetained("ev", 0, 3); r.fetchRetained("ev", 3, 3)
        assert(server.consumersCreated === 3)
      } finally conn.close()
    } finally server.stop()
  }

  test("JetStream replay rejects multi-subject streams (positional offsets need dense sequences)") {
    // The common catch-all config (`ev.>` stream) interleaves subjects in
    // one sequence space — replay must fail with guidance, not silently
    // return other subjects' rows.
    val server = new MiniNatsServer(retainCapacity = 100,
      jsAdvertiseSubjects = Some(Seq("ev.>")))
    try {
      val conn = NatsTransport.connect(server.url)
      try {
        conn.publish("ev.a", "1,row1".getBytes)
        val r = conn.asInstanceOf[ReplayableNatsConnection]
        val e = intercept[UnsupportedOperationException](r.fetchRetained("ev.a", 0, 10))
        assert(e.getMessage.contains("exactly that one literal subject"), e.getMessage)
        assert(e.getMessage.contains("ev.>"), "must name the offending capture list")
      } finally conn.close()
    } finally server.stop()
  }

  test("replay=true on a fire-and-forget transport is rejected with guidance") {
    val server = new MiniNatsServer
    try {
      val e = intercept[Exception] {
        spark.readStream.format("nats").schema(schema)
          .option("url", server.url).option("subject", "ev")
          .option("replay", "true")
          .load()
          .writeStream.format("memory").queryName("replay_tcp").start()
          .processAllAvailable()
      }
      // the failure surfaces through the stream thread; the actionable
      // message must survive the wrapping
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else String.valueOf(t.getMessage) +: messages(t.getCause)
      assert(messages(e).exists(m => m.contains("JetStream")),
        s"expected transport guidance, got: ${messages(e)}")
    } finally server.stop()
  }

  test("replay requires a literal subject (wildcard families have no sequence order)") {
    val url = "memory://replay-" + UUID.randomUUID()
    val e = intercept[Exception] {
      spark.readStream.format("nats").schema(schema)
        .option("url", url).option("subject", "ev.*")
        .option("replay", "true")
        .load()
        .writeStream.format("memory").queryName("replay_wild").start()
        .processAllAvailable()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(m => m.contains("literal subject")), s"got: ${messages(e)}")
  }
}
